package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pins.release

/** Bounded-iteration graph analytics in pure integer arithmetic.
  *
  * PageRank's per-node update is a float sum over incoming contributions —
  * order-dependent, so a naive port can never hash-match across engines.
  * Here every rank is a scaled long (1e9 units) and each edge contributes
  * `(pr(u) * w) div outw(u)` — integral ops whose LONG sum is
  * order-independent — so the t-th iteration is bit-identical in any
  * engine and any partitioning (partition-invariance law in LawsSpec).
  * The deliberate cost is ≤1 unit/edge of truncation dust; mass
  * conservation is approximate (PageRank's ordering signal survives; the
  * law pins the exact total drift bound), determinism is exact.
  *
  * Scale shape: classic Pregel-style synchronous iteration — per round ONE
  * shuffle keyed on dst for the contribution sum plus an equi-join of the
  * node-sized rank frame onto edges; edges are never materialized to the
  * driver and iterations are a fixed small constant (monitoring/dedup-graph
  * uses want 3-5 rounds, not convergence-to-epsilon).
  */
object Graph {

  val SCALE: Long = 1000000000L // 1e9 fixed-point units

  /** `edges`: (src, dst, w) with w a positive long; directed (symmetrize
    * before calling for an undirected graph). Nodes are derived from edge
    * endpoints, so every node has outgoing mass (no dangling handling
    * needed). Returns (node, pr) with pr in SCALE units after `iters`
    * damped rounds from the uniform start; dampingPct is the integer
    * percentage (85 = the classic 0.85).
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int, dampingPct: Int): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters in [1,16], got $iters")
    require(dampingPct >= 1 && dampingPct <= 99, s"dampingPct in [1,99], got $dampingPct")
    // lineage truncation is what makes the iteration linear: without the
    // checkpoints, round t's plan re-derives edges/outw/nodes AND every
    // earlier round from the source (the first bench cut measured 50
    // shuffles for 3 rounds; checkpointed it is one dst-keyed shuffle per
    // round over frames that are read back, not recomputed). Checkpoints
    // are EAGER with previous-generation unpersist (r17: the lazy form
    // left every generation's blocks to GC — ~5 leaked block sets per
    // invocation, and a PPR probe measured 5–16 s walls on an idle box
    // from the resulting block-manager churn): once round t's blocks are
    // materialized, round t−1's are dead by construction, and once the
    // final round is materialized the e/nodes/outw inputs are too — only
    // the returned frame's own blocks outlive the call.
    // r19: the out-weight join is ROUND-INVARIANT — fold it into the
    // checkpointed edge frame once ((src, dst, w, ow); every src appears in
    // outw by construction so the inner join keeps all edges) instead of
    // re-joining outw inside every round. One join per round saved; pr
    // values unchanged ((pr·w) div ow is the same integer either way).
    // null-src edges are DELIBERATELY excluded up front: the r19 outw fold's
    // inner join on src already dropped them before `nodes` was derived
    // (a dst reachable only via a null src gets no rank row); the explicit
    // filter makes that contract loud instead of an artifact of join
    // semantics. Gate inputs have non-null src by construction.
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull)
    val outw = e0.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val e = e0.join(outw, Seq("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    // r20: the node count is ONE long — fetch it once from the checkpointed
    // node frame (the bounded-driver-fetch discipline of the centroid/
    // manifest reads) instead of re-deriving a count aggregate + 1-row
    // broadcast inside EVERY round's plan: the per-round base term becomes
    // a literal, so each round drops one aggregate job and one broadcast
    // exchange. `div` on positive longs is the same truncating division as
    // Scala `/`, so every pr value is bit-identical to the in-frame form.
    val n = nodes.count()
    if (n == 0L) {
      // empty graph: nothing to iterate. The returned frame reads the
      // `nodes` checkpoint, so only that one stays persisted
      release(e)
      nodes.select(col("node"), lit(0L).as("pr"))
    } else {
      var pr = nodes.select(col("node"), lit(SCALE / n).as("pr"))
      val damp = dampingPct.toLong
      val basePerNode = (100L - damp) * SCALE / (100L * n)
      var prevPr: DataFrame = null
      (1 to iters).foreach { _ =>
        val contrib = e
          .join(pr.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("(pr * w) div ow").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("s"))
        pr = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(basePerNode) +
              expr(s"($damp * coalesce(s, 0L)) div 100")).as("pr"))
          .localCheckpoint(true)
        if (prevPr != null) release(prevPr)
        prevPr = pr
      }
      Seq(e, nodes).foreach(release)
      pr
    }
  }

  /** PERSONALIZED PageRank — restart mass concentrated on a seed cohort
    * (trust/recommendation propagation FROM known-good nodes): identical
    * scaled-long damped rounds to [[pageRankFixedPoint]], but the start
    * vector and the (1−d) teleport term apply only to seeds (SCALE/|seeds|
    * each; non-seeds start at 0 and receive only propagated mass). Same
    * exactness and lineage-truncation discipline.
    */
  def personalizedPageRank(
      edges: DataFrame, seeds: DataFrame, iters: Int, dampingPct: Int): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters in [1,16], got $iters")
    require(dampingPct >= 1 && dampingPct <= 99, s"dampingPct in [1,99], got $dampingPct")
    // same eager-checkpoint + previous-generation-unpersist block hygiene
    // as pageRankFixedPoint (see the note there), the same r19
    // round-invariant out-weight fold into the edge checkpoint, and the
    // same explicit null-src exclusion contract
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull)
    val outw = e0.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val e = e0.join(outw, Seq("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seeded = nodes
      .join(seeds.select(col("node")).distinct().withColumn("is_seed", lit(1L)),
        Seq("node"), "left")
      .localCheckpoint(true)
    // an empty/graph-disjoint seed set would make the per-seed shares below
    // a division by zero — fail loudly instead (mirrors the iters/dampingPct
    // requires). r20: the eager check IS the seed count now (one bounded
    // long to the driver, same hoist as pageRankFixedPoint's node count —
    // the in-graph seed tally is round-invariant, so deriving it as a
    // 1-row aggregate + broadcast inside every round's plan only added an
    // aggregate job and a broadcast exchange per round).
    val nSeeds = seeded.filter(col("is_seed") === 1L).count()
    require(
      nSeeds >= 1L,
      "personalizedPageRank: no seed node is present in the graph " +
        "(seeds must intersect the edge endpoints)")
    var pr = seeded
      .select(col("node"),
        when(col("is_seed") === 1L, lit(SCALE / nSeeds)).otherwise(lit(0L)).as("pr"))
    val damp = dampingPct.toLong
    val basePerSeed = (100L - damp) * SCALE / (100L * nSeeds)
    var prevPr: DataFrame = null
    (1 to iters).foreach { _ =>
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("(pr * w) div ow").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      pr = seeded.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed") === 1L, lit(basePerSeed)).otherwise(lit(0L)) +
            expr(s"($damp * coalesce(s, 0L)) div 100")).as("pr"))
        .localCheckpoint(true)
      if (prevPr != null) release(prevPr)
      prevPr = pr
    }
    Seq(e, seeded).foreach(release)
    pr
  }

  /** k-CORE decomposition for a fixed k — the maximal subgraph where every
    * node keeps degree ≥ k (the standard graph-density filter: spam rings
    * and tight communities survive, tendrils peel away). Iterative peel:
    * drop sub-k nodes, restrict edges, repeat to the fixpoint. Each round
    * is one edge-sized degree aggregate + two semi-joins with per-round
    * `localCheckpoint` lineage truncation (the pageRank discipline); the
    * round count is bounded by the peeling depth, not the node count.
    * Input edges are undirected (src < dst once); returns each surviving
    * node with its degree INSIDE the core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var ee = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var prev = ee.count()
    var it = 0
    var done = prev == 0L
    while (!done && it < maxIter) {
      val keep = ee.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val ne = ee.join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(true)
      val n = ne.count()
      done = n == prev
      prev = n
      // ne is materialized: the previous generation's blocks are dead
      release(ee)
      ee = ne
      it += 1
    }
    require(done, s"kCore did not converge in $maxIter rounds")
    ee.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }
}
