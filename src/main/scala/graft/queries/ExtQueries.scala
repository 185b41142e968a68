package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, IvfCodec, Joins, Multimodal, Similarity, TextOps}
import graft.streaming.Streams

/** Similarity search, streaming, sessionization, multimodal plumbing —
  * the remaining extension families. Oracles are generated from the same
  * constants (LSH bits, dims, thresholds) as the Spark pipelines.
  */
object ExtQueries {

  /** A USER-side media decoder exercising [[Multimodal.MediaDecoder]]'s
    * injection seam (q_multimodal_custom): SHA-256 of the reversed bytes,
    * position-weighted byte sum (1-indexed), weighted mean. Deliberately
    * defined in query glue, not the library — the seam's whole point.
    */
  private object PositionWeightedDecoder extends Multimodal.MediaDecoder {
    def decode(id: Long, bytes: Array[Byte]): Multimodal.MediaFeature = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val rev = bytes.reverse
      val hex = md.digest(rev).map(b => f"$b%02x").mkString
      var sum = 0L
      var i = 0
      while (i < bytes.length) { sum += (i + 1).toLong * (bytes(i) & 0xFF); i += 1 }
      Multimodal.MediaFeature(id, bytes.length.toLong, hex, sum,
        if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length)
    }
  }

  private val DIM = 64
  private val PROJ_DIM = 8

  /** SQL for projected component j of `v` (the randomProject construction:
    * md5-derived matrix row, 'p' seed prefix, sqrt(3/outDim) scale, R6)
    */
  private def projCompSql(j: Int): String =
    s"""round(list_sum(list_transform(range(1, ${DIM + 1}), i -> v[i] *
         (list_transform(range(0, $DIM), d ->
           (CAST(('0x' || substring(md5('p${j}_' || d),1,8)) AS BIGINT)
             % 2001 - 1000)/1000.0))[i])) * ${math.sqrt(3.0 / PROJ_DIM)}, 6)"""
  private val BITS = 6       // hyperplane LSH bits → 64 buckets
  private val TOPK = 5
  private val LSH_TOPK = 3
  private val NEARDUP_COS = 0.35
  private val GAP_MIN = 30
  private val IVF_CENTS = 16
  private val IVF_NPROBE = 2
  private val IVF_TOPK = 3
  private val IVF_TRAIN_ITERS = 2
  private val DIVERSE_K = 5  // representatives per cluster (q_sample_diverse)
  private val SEMDEDUP_COS = 0.3  // in-cluster near-dup threshold (q_dedup_semantic)
  private val HYB_NQ = 3L    // persisted-hybrid queries: ids < 3
  private val HYB_K = 10     // fused results per query
  private val HYB_KLEX = 20  // lexical-leg shortlist (vector leg = IVF_TOPK)
  private val FILTER_LABEL = 7 // metadata predicate for filtered ANN
  private val PQ_M = 4       // PQ subspaces (64 dims -> 4 x 16)
  private val PQ_CODES = 16  // codebook size per subspace
  private val PQ_SUB = 16    // DIM / PQ_M
  private val PQ_TOPK = 5
  private val MMR_SHORT = 10 // MMR candidate shortlist per query
  private val MMR_K = 5      // MMR selections per query

  /** Build/search halves of the filtered-index gates, package-visible so
    * the bench can time each wall separately (r18 verdict ask #6: the
    * driver-box q_ann_pq_filtered outliers were unattributable because the
    * timed row mixed a disk-writing index build with the search). The gate
    * bodies compose exactly these two calls, so gate wall ≈ build + search
    * and the decomposed rows stay honest.
    */
  private[graft] def annFilteredBuild(s: SparkSession, dir: String): Unit = {
    val emb = Tables.embeddings(s, dir)
    val path = s"${Tables.scratchRoot}/graft_filtered_idx_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, IVF_CENTS,
      IvfCodec.Int8, attrCols = Seq("label"))
  }

  private[graft] def annFilteredSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val path = s"${Tables.scratchRoot}/graft_filtered_idx_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    Similarity.openIvfSearcher(s, path, "vec_id", "embedding", IVF_TOPK, IVF_NPROBE,
      listFilter = Some(col("label") === FILTER_LABEL))(emb.filter(col("vec_id") < 10))
      .orderBy(col("query_id"), col("rank"))
  }

  private[graft] def annPqFilteredBuild(s: SparkSession, dir: String): Unit = {
    val emb = Tables.embeddings(s, dir)
    val path = s"${Tables.scratchRoot}/graft_pq_filtered_idx_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path,
      IVF_CENTS, IvfCodec.Pq(PQ_M, PQ_CODES, DIM), attrCols = Seq("label"))
  }

  private[graft] def annPqFilteredSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val path = s"${Tables.scratchRoot}/graft_pq_filtered_idx_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    Similarity.openIvfSearcher(s, path, "vec_id", "embedding", PQ_TOPK, IVF_NPROBE,
      listFilter = Some(col("label") === FILTER_LABEL))(emb.filter(col("vec_id") < 10))
      .orderBy(col("query_id"), col("rank"))
  }

  /** cov/corr assembly over the five exact-long moment sums (n, sx, sy,
    * sxy, sxx, syy) keyed by (i, j) — numerators/denominators are exact
    * integers, cov and corr are each ONE final IEEE division/sqrt. Shared
    * by the batch outer-product aggregate (q_embed_cov) and the streaming
    * moment maintenance (q_stream_cov), which is what lets the two gates
    * share one oracle.
    */
  private def covAssemble(m: DataFrame): DataFrame = {
    // n*sxy etc. overflow BIGINT well before the sums do (1e6-scaled
    // components: ~2e3 vectors already reaches ~4e18 of the 9.2e18 long
    // range) — ExactProducts takes the BIGINT fast path when the actual
    // operands prove no wrap (runtime bounds check) and widens to
    // decimal(38,0) only past that, so integer arithmetic stays exact at
    // any corpus size WITHOUT paying decimal128 cost at small n. Both
    // paths are one correctly-rounded conversion of the same exact
    // integer, matching DuckDB's HUGEINT→DOUBLE bit-for-bit.
    import graft.functions.ExactProducts.prodDiffDouble
    val num = prodDiffDouble(col("n"), col("sxy"), col("sx"), col("sy"))
    val denx = prodDiffDouble(col("n"), col("sxx"), col("sx"), col("sx"))
    val deny = prodDiffDouble(col("n"), col("syy"), col("sy"), col("sy"))
    m.select(col("i").cast("long").as("i"), col("j").cast("long").as("j"), col("n"),
        round(num
          / (col("n").cast("double") * col("n").cast("double") * 1e12), 9).as("cov"),
        round(num / sqrt(denx * deny), 6).as("corr"))
      .orderBy(col("i"), col("j"))
  }

  /** The upper-triangle dim-pair moment sums (n, sx, sy, sxy, sxx, syy)
    * over 1e6-scaled longs — shared by q_embed_cov, q_embed_cov_dim256 and
    * the PCA family. r19: the batch side used to posexplode and SELF-JOIN
    * on vec_id (two corpus passes + a 4.2M-row join emit; ~17M rows at the
    * 256-dim gate); it now folds each vector once through the
    * CovMomentsAgg kernel — dim²/2 primitive multiply-adds per row into
    * per-partition long arrays, no intermediate rows at all, long sums
    * bit-unchanged so every shared oracle stays green. At 100 TB this is
    * also the right shape: the only exchange carries one ~dim²-slot buffer
    * per partition.
    */
  private def covMomentsScan(
      s: SparkSession, base: DataFrame, vec: Column, dim: Int): DataFrame =
    base.select(vec.as("__vec"))
      .agg(graft.functions.CovMomentsAgg.covMoments(col("__vec"), dim).as("__m"))
      .select(explode(col("__m")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.n").as("n"),
        col("p.sx").as("sx"), col("p.sy").as("sy"), col("p.sxy").as("sxy"),
        col("p.sxx").as("sxx"), col("p.syy").as("syy"))

  /** The PCA family's moment sums: the SAME dim-pair aggregate as
    * q_embed_cov (upper triangle, 1e6-scaled long sums), run once and
    * COLLECTED — dim²/2 rows (2,080 at 64 dims), bounded by the metric, not
    * the corpus, exactly like the centroid/manifest collects the ANN family
    * already does. r19: everything after this aggregate used to run as
    * ~20–45 metric-sized Spark jobs per gate (power rounds, norms, Rayleigh,
    * deflation — each a 1–4-task stage), and the lazy localCheckpoint let
    * two concurrent broadcast futures each recompute the full moment
    * aggregate (probe: the ~1.25 s cov stage appeared TWICE inside
    * q_embed_pca). One collect + driver-local arithmetic replaces all of it;
    * at 100 TB only this aggregate touches data.
    */
  private def pcaMoments(s: SparkSession, dir: String): Array[org.apache.spark.sql.Row] = {
    covMomentsScan(s, Tables.embeddings(s, dir), col("embedding"), DIM)
      .select(col("i"), col("j"), col("n"), col("sx"), col("sy"), col("sxy"))
      .collect()
  }

  /** Spark `round(x, s)` for doubles, verbatim (BigDecimal HALF_UP,
    * non-finite passthrough) — the same replication CentroidExprs/PqExprs
    * already pin by law.
    */
  private def roundAt(x: Double, s: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The symmetrized covariance matrix from the collected moments —
    * per-entry arithmetic bit-identical to the retired in-plan form:
    * exact-integer `n·sxy − sx·sy` (BigInt ≡ ExactProducts' long fast path
    * and its decimal fallback: one correctly-rounded conversion of the same
    * exact integer), divided by ((n·n)·1e12) in the plan's association,
    * rounded HALF_UP to 9.
    */
  private def pcaCovLocal(rows: Array[org.apache.spark.sql.Row], dim: Int): Array[Array[Double]] = {
    val c = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      // a dimension NULL in EVERY vector yields NULL moment sums (SQL sum
      // over zero non-null rows); the retired in-plan form propagated that
      // NULL through prodDiffDouble/round into a NULL cov cell, which the
      // downstream SQL sums then skipped — equivalent to the 0.0 this
      // Array.ofDim default leaves in place. Skip instead of NPE-ing in
      // getLong.
      if (!r.isNullAt(3) && !r.isNullAt(4) && !r.isNullAt(5)) {
        val n = r.getLong(2); val sx = r.getLong(3); val sy = r.getLong(4)
        val sxy = r.getLong(5)
        val num = (BigInt(n) * BigInt(sxy) - BigInt(sx) * BigInt(sy)).toDouble
        val cij = roundAt(num / (n.toDouble * n.toDouble * 1e12), 9)
        c(i)(j) = cij; c(j)(i) = cij
      }
    }
    c
  }

  /** `iters` engine-exact power rounds from e₀, driver-local: each
    * matrix-vector term rounds `((c·v)·1e9)` HALF_UP to a long (the plan's
    * `round(col("c") * col("v") * 1e9).cast("long")` — multiplication
    * association preserved), long sums are order-independent, the norm
    * folds `((w·w)·1e9)` the same way, and each iterate rounds to 6.
    */
  private def pcaPowerLocal(c: Array[Array[Double]], iters: Int): Array[Double] = {
    val dim = c.length
    var v = Array.tabulate(dim)(j => if (j == 0) 1.0 else 0.0)
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L
        var j = 0
        while (j < dim) {
          acc += roundAt((c(i)(j) * v(j)) * 1e9, 0).toLong
          j += 1
        }
        acc.toDouble / 1e9
      }
      var nacc = 0L
      var i = 0
      while (i < dim) {
        nacc += roundAt((w(i) * w(i)) * 1e9, 0).toLong
        i += 1
      }
      val nrm = math.sqrt(nacc.toDouble / 1e9)
      v = w.map(x => roundAt(x / nrm, 6))
      it += 1
    }
    v
  }

  /** Rayleigh vᵀCv, driver-local — the fold runs over ALL ordered (i, j)
    * entries with the plan's association `(((c·vi)·vj)·1e9)`: the (i, j)
    * and (j, i) terms of the symmetrized frame are NOT bit-interchangeable,
    * so both are summed explicitly, like the join form did.
    */
  private def pcaRayleighLocal(c: Array[Array[Double]], v: Array[Double]): Double = {
    val dim = c.length
    var acc = 0L
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        acc += roundAt(((c(i)(j) * v(i)) * v(j)) * 1e9, 0).toLong
        j += 1
      }
      i += 1
    }
    acc.toDouble / 1e9
  }

  /** Deflation `round9(c − ((λ·vi)·vj))` per ORDERED entry (the plan
    * applied it to each row of the symmetrized frame independently, and
    * `(λ·vi)·vj` vs `(λ·vj)·vi` may differ in the last ulp — so the
    * deflated matrix is rebuilt entry-by-entry, not mirrored).
    */
  private def pcaDeflateLocal(
      c: Array[Array[Double]], v: Array[Double], lambda: Double): Array[Array[Double]] = {
    val dim = c.length
    Array.tabulate(dim, dim)((i, j) => roundAt(c(i)(j) - ((lambda * v(i)) * v(j)), 9))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_bruteforce" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", TOPK)
        .orderBy(col("query_id"), col("rank"))
    },

    "q_ann_lsh" -> { (s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding", LSH_TOPK, BITS, DIM)
        .orderBy(col("query_id"), col("rank"))
    },

    "q_embed_neardup" -> { (s, dir) =>
      Similarity.nearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", NEARDUP_COS, BITS, DIM)
        .orderBy(col("id_a"), col("id_b"))
    },

    // per-dimension-pair covariance/correlation of the embedding space —
    // the whitening/PCA input artifact a feature store freezes before
    // training. The outer-product aggregate: each vector explodes to its
    // (dim, value) pairs once, the self-join per vec_id emits the j ≥ i
    // upper triangle, and all five moment sums fold as EXACT 1e6-scaled
    // longs — cov and corr are each ONE final IEEE division/sqrt over
    // exact integers, engine-deterministic (the q_trend_fit discipline on
    // the dim-pair grid). Frames after the aggregate are dim²-sized
    // (2080 rows at 64 dims) no matter the corpus row count.
    "q_embed_cov" -> { (s, dir) =>
      covAssemble(covMomentsScan(s, Tables.embeddings(s, dir), col("embedding"), DIM))
    },

    // the STREAMING covariance twin: the moment sums maintained live as
    // dim²/2 rows of complete-mode state (each vector expands scan-level
    // to its upper-triangle contributions — a stream can't self-join under
    // a complete aggregate), drained and assembled through the SAME
    // cov/corr tail. Long-additive sums ⇒ the snapshot equals the batch
    // outer-product aggregate exactly — shared oracle.
    "q_stream_cov" -> { (s, dir) =>
      covAssemble(Streams.streamingCovMoments(s, dir, DIM, 3))
    },

    // PRODUCTION-DIM covariance (dim 256 = 4× the table's 64): the vector
    // is four CIRCULARLY-SHIFTED copies of the stored embedding (shift
    // 16k — a pure permutation, exact in both engines, non-degenerate
    // cross-block correlations), over a fixed 512-vector slice. The full
    // 256²/2-entry upper triangle aggregates through the same scaled-long
    // moments + ExactProducts assembly as q_embed_cov — demonstrating the
    // BIGINT fast path keeps assembly cost linear in dim² at 16× the
    // entry count (the dim-64 gate pays decimal on none of its rows
    // either; past the runtime bound both would fall back loudly-exactly).
    // Output is the i < 4 band of the full matrix (4·256 − 6 rows) to keep
    // the gate artifact compact; the matrix is computed in full.
    "q_embed_cov_dim256" -> { (s, dir) =>
      val blocks = (0 until 4).map { k =>
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), 16 * k + 1, 64 - 16 * k),
          slice(col("embedding"), 1, 16 * k))
      }
      val m = covMomentsScan(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 512),
        flatten(array(blocks: _*)), 256)
      covAssemble(m.filter(col("i") < 4))
    },

    // PCA top component — 3 power-iteration rounds over the EXACT
    // covariance artifact (q_embed_cov's matrix, symmetrized): each
    // matrix-vector product folds its 64 terms as round9-scaled longs
    // (order-independent), the norm likewise, and each new iterate rounds
    // to 6 decimals — so the APPROXIMATE eigensolver is engine-exact and
    // the oracle unrolls the same rounds as CTEs. All frames are
    // dim²-sized; at 100 TB only the moment aggregate touches data, the
    // iteration is metric-sized. Output: per-dim loading + the Rayleigh
    // eigenvalue estimate.
    "q_embed_pca" -> { (s, dir) =>
      import s.implicits._
      val m = pcaMoments(s, dir)
      if (m.isEmpty) Seq.empty[(Long, Double, Double)].toDF("dim", "loading", "lambda")
      else {
        val c = pcaCovLocal(m, DIM)
        val v = pcaPowerLocal(c, 3)
        val lambda = pcaRayleighLocal(c, v)
        (0 until DIM).map(j => (j.toLong, v(j), lambda))
          .toDF("dim", "loading", "lambda")
          .orderBy(col("dim"))
      }
    },

    // SECOND principal component by DEFLATION: subtract λ₁·v₁v₁ᵀ from the
    // exact covariance artifact (per-entry IEEE formula over the already-
    // rounded λ₁/v₁ — deterministic in both engines — re-rounded to 9) and
    // run the same 3 engine-exact power rounds + Rayleigh on the deflated
    // matrix. Everything after the moment aggregate stays dim²-sized; the
    // oracle unrolls deflation + rounds as CTEs. Together with q_embed_pca
    // this is the top-2 PCA basis a whitening/visualisation pipeline
    // freezes.
    "q_embed_pca2" -> { (s, dir) =>
      import s.implicits._
      val m = pcaMoments(s, dir)
      if (m.isEmpty) Seq.empty[(Long, Double, Double)].toDF("dim", "loading2", "lambda2")
      else {
        val c = pcaCovLocal(m, DIM)
        val v1 = pcaPowerLocal(c, 3)
        val c2 = pcaDeflateLocal(c, v1, pcaRayleighLocal(c, v1))
        val v2 = pcaPowerLocal(c2, 3)
        val lambda2 = pcaRayleighLocal(c2, v2)
        (0 until DIM).map(j => (j.toLong, v2(j), lambda2))
          .toDF("dim", "loading2", "lambda2")
          .orderBy(col("dim"))
      }
    },

    // the learned component APPLIED — each vector's scalar projection onto
    // the trained loading (the dimensionality-reduction serving path):
    // loadings broadcast as a 64-row frame, the per-vector dot folds as
    // round9-scaled longs — scan-level over the corpus, zero shuffle past
    // the explode-join
    "q_embed_pca_apply" -> { (s, dir) =>
      // the trained loading is a 64-row LOCAL relation now (driver solve
      // above) — broadcast straight into the corpus-side projection join,
      // nothing to checkpoint
      val loadings = queries("q_embed_pca")(s, dir)
        .select(col("dim").cast("int").as("i"), col("loading"))
      Similarity.pcaProject(
        Tables.embeddings(s, dir).filter(col("vec_id") < 50),
        "vec_id", "embedding", loadings)
        .orderBy(col("vec_id"))
    },

    // the STREAMING PCA-apply twin — the drift-monitor serving shape: the
    // trained loading is PERSISTED as a parquet component artifact, the
    // vector stream projects each micro-batch against it statelessly
    // (stream-static, no state store — each vector needs only its own
    // batch), so the streamed union equals the batch apply exactly and the
    // gate shares q_embed_pca_apply's oracle. At 100 TB the artifact is
    // dim-sized and broadcast; the stream is whatever vectors arrived.
    "q_stream_pca" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      // fit-once per (session, dir): the power-iteration TRAIN is the
      // pay-once half (it dominated this gate's wall — ~5 of 7 s); every
      // invocation streams against the stored loading
      val artifactDir = PipelineQueries.artifact(s, dir, "pca_stream_artifact") {
        val path = s"${Tables.scratchRoot}/graft_pca_artifact_$tag"
        queries("q_embed_pca")(s, dir)
          .select(col("dim").cast("int").as("i"), col("loading"))
          .write.mode("overwrite").parquet(path)
        path
      }
      Streams.streamingPcaApply(s, dir, artifactDir, s"${Tables.scratchRoot}/graft_stream_pca_$tag")
        .orderBy(col("vec_id"))
    },

    // mutual-kNN graph clustering: every vector's LSH-bucketed top-k
    // (q_ann_lsh's graph — corpus IS the query set, never all-pairs), keep
    // only MUTUAL edges (a ∈ knn(b) AND b ∈ knn(a) — the standard
    // false-edge filter for density clustering), then connected components
    // over the mutual edge list. Labels = component-minimum id; isolated
    // vectors label themselves. Edge frames are (n·k)-sized, CC is the
    // O(log n)-round star contraction — the whole chain is corpus-shuffle-
    // free except the bucket join and the pair-sized CC rounds.
    "q_cluster_knn" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // r20: the LSH top-k chain (bucket join + ranking window) feeds BOTH
      // sides of the mutuality semi-join — pin one computation
      val knn = Similarity.lshTopK(emb, "vec_id", "embedding", LSH_TOPK, BITS, DIM)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false)
      val mutual = knn.join(
          knn.select(col("query_id").as("neighbor_id"), col("neighbor_id").as("query_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .filter(col("query_id") < col("neighbor_id"))
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      val labels = Dedup.connectedComponents(mutual)
      // corpus-sized but narrow (id, cluster): feeds the size aggregate AND
      // the final attach join
      val base = emb.select(col("vec_id"))
        .join(labels, col("vec_id") === col("id"), "left_outer")
        .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("cluster"))
        .localCheckpoint(false)
      val sizes = base.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      base.join(broadcast(sizes), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("cluster_size"))
        .orderBy(col("vec_id"))
    },

    // int8 embedding quantization: pure scan-level compression codes +
    // quality diagnostics; codes pinned bit-level via md5 digest
    "q_embed_quantize" -> { (s, dir) =>
      // narrow-output scan-kernel pin: the trailing sort's range-sampling
      // pass otherwise runs the quantize kernel a second time (the
      // q_text_stats idiom; codes are 64 B/row, far cheaper to copy)
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .localCheckpoint(false)
        .orderBy(col("vec_id"))
    },

    // JL-style random-projection dim reduction (64 -> 8) via a deterministic
    // md5-derived matrix — the pre-ANN compression step; pure scan-level
    // codegen'd expressions, zero shuffle
    "q_embed_project" -> { (s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir), "vec_id", "embedding",
        PROJ_DIM, DIM)
        .orderBy(col("vec_id"))
    },

    // product-quantization ANN (ADC): corpus encoded as 4 codes/vector
    // against per-subspace Lloyd codebooks (the 32x-compression sketch);
    // ranking by summed per-subspace rounded distances — deterministic
    // training makes the approximate path exactly oracle-able
    "q_ann_pq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        PQ_TOPK, PQ_M, PQ_CODES, DIM, trainIters = 1)
        .orderBy(col("query_id"), col("rank"))
    },

    // OPQ-lite: the same PQ/ADC machinery over a deterministic randomized-
    // Hadamard rotation (H x md5-derived sign diagonal — exactly orthogonal,
    // so the metric is unchanged): energy concentrated in a few dims is
    // spread across all subspaces, recovering the nCodes^m effective cells
    // anisotropic inputs waste. Rotation factors are exactly +/-2^-3, so the
    // oracle reproduces the rotation bit-for-bit.
    "q_ann_opq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.opqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        PQ_TOPK, PQ_M, PQ_CODES, DIM, trainIters = 1)
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF + PQ: the full production composition — coarse inverted-file
    // routing (nprobe/nCents of the index scanned) over PQ-coded lists
    // (32x compression); pruning and compression multiply
    "q_ann_ivf_pq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        PQ_TOPK, IVF_CENTS, IVF_NPROBE, PQ_M, PQ_CODES, DIM, trainIters = 1)
        .orderBy(col("query_id"), col("rank"))
    },

    // the PERSISTED IVF+PQ index (build + search round-trip): same crash-
    // safe manifest protocol as the int8 index, lists hold m int codes per
    // vector; search = partition-pruned probes + ADC. Results identical to
    // the in-memory q_ann_ivf_pq, so the oracle is shared
    "q_ann_pq_index" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = s"${Tables.scratchRoot}/graft_pq_index_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path,
        IVF_CENTS, IvfCodec.Pq(PQ_M, PQ_CODES, DIM))
      Similarity.openIvfSearcher(s, path, "vec_id", "embedding", PQ_TOPK, IVF_NPROBE)(
        emb.filter(col("vec_id") < 10))
        .orderBy(col("query_id"), col("rank"))
    },

    // exact re-rank over an approximate shortlist — the production tail of
    // every compressed-domain ANN path: PQ returns k' = 4k candidates per
    // query (ADC, 32x-compressed scan), then ONLY those k' rows are joined
    // back to the raw vectors for an exact cosine top-k. Cost of the exact
    // stage is queries x k' rows, never the corpus.
    "q_ann_rerank" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val shortlist = Similarity.pqTopK(emb, qs, "vec_id", "embedding",
        4 * PQ_TOPK, PQ_M, PQ_CODES, DIM, trainIters = 1)
      Similarity.rerankTopK(shortlist, emb, qs, "vec_id", "embedding", PQ_TOPK)
        .orderBy(col("query_id"), col("rank"))
    },

    // MATRYOSHKA progressive search: shortlist on the 16-dim PREFIX slice
    // (MRL-style truncation — no projection matrix, 4x cheaper candidate
    // pass), exact full-dim re-rank of the survivors
    "q_ann_matryoshka" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", TOPK, 4 * TOPK, 16)
        .orderBy(col("query_id"), col("rank"))
    },

    // MMR diversified re-rank: greedy relevant-AND-non-redundant selection
    // over the exact-cosine shortlist (lambda = 1/2 -> exact integer
    // ordering rel6 - maxsim6) — near-duplicate results collapse to one
    // representative instead of filling the page
    "q_ann_mmr" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val shortlist = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", MMR_SHORT)
      Similarity.mmrRerank(shortlist, emb, "vec_id", "embedding", MMR_K)
        .orderBy(col("query_id"), col("mmr_rank"))
    },

    // recall@k of the IVF approximate path against exact brute force on the
    // same query set — the evaluation op that closes the ANN loop: measure
    // what nprobe/nCents pruning costs in recall, at queries x k cost
    "q_ann_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val approx = Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
        IVF_TOPK, IVF_CENTS, IVF_NPROBE)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
        IVF_TOPK)
      Similarity.recallAtK(approx, exact, IVF_TOPK).orderBy(col("query_id"))
    },

    // coarse ANN over the projected space — the randomProject consumer: the
    // rank stage moves 8 doubles per vector instead of 64 (the 100 TB
    // pattern: project once at ingest, search the small vectors; re-rank the
    // shortlist in full precision only if needed). Same broadcast-query
    // zero-corpus-shuffle shape as q_ann_bruteforce.
    "q_ann_projected" -> { (s, dir) =>
      val proj = Similarity.randomProject(
        Tables.embeddings(s, dir), "vec_id", "embedding", PROJ_DIM, DIM)
        .select(col("vec_id"),
          array((0 until PROJ_DIM).map(j => col(s"p$j")): _*).as("pv"))
      Similarity.bruteForceTopK(
        proj, proj.filter(col("vec_id") < 10), "vec_id", "pv", TOPK)
        .orderBy(col("query_id"), col("rank"))
    },

    // quantized-domain ANN: ranking runs entirely over int8 codes through the
    // codegen'd integer-dot kernel (scales cancel for cosine) — the consumer
    // of q_embed_quantize's codes, searching 4x-smaller data
    "q_ann_int8" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", TOPK)
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF inverted-file ANN: scan-level centroid assignment (zero shuffle),
    // queries probe nprobe inverted lists via an equi-join on cent_id
    "q_ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // assignKernel = false DELIBERATELY: this row is the literal-struct
      // control for q_ann_ivf_kernel (same oracle, same semantics) — the
      // measured literal-vs-kernel delta stays visible in every bench
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        IVF_TOPK, IVF_CENTS, IVF_NPROBE, assignKernel = false)
        .orderBy(col("query_id"), col("rank"))
    },

    // the same IVF search with assignment + probe selection routed through
    // the broadcast-matrix TopCentroids kernel (the production-nCents path —
    // no per-centroid literals in the plan); results bit-identical to
    // q_ann_ivf, and the oracle IS q_ann_ivf's
    "q_ann_ivf_kernel" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        IVF_TOPK, IVF_CENTS, IVF_NPROBE, assignKernel = true)
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF + int8 composed (the production ANN architecture): float coarse
    // stage (assignment, probe selection), QUANTIZED inverted lists, in-list
    // ranking entirely in the integer domain
    "q_ann_ivf_int8" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfInt8TopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        IVF_TOPK, IVF_CENTS, IVF_NPROBE)
        .orderBy(col("query_id"), col("rank"))
    },

    // build once / search many: the PERSISTED quantized inverted-file index —
    // int8 lists partitioned by cent_id on disk, nCents-row centroid sidecar;
    // search reads only the probed list partitions. Results identical to
    // q_ann_ivf_int8 (same deterministic construction), so the oracle is its
    "q_ann_ivf_index" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = s"${Tables.scratchRoot}/graft_ivf_index_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, IVF_CENTS, IvfCodec.Int8)
      Similarity.openIvfSearcher(s, path, "vec_id", "embedding", IVF_TOPK, IVF_NPROBE)(
        emb.filter(col("vec_id") < 10))
        .orderBy(col("query_id"), col("rank"))
    },

    // the PRODUCTION hybrid: both legs serve from persisted artifacts —
    // the committed int8 index (partition-pruned, integer-domain ranking)
    // and the stored BM25 statistics — RRF-fused; nothing recomputed from
    // the corpus at query time
    "q_search_hybrid_stored" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      val ipath = Tables.scratch("hyb_idx", dir)
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", ipath, IVF_CENTS, IvfCodec.Int8)
      val statsDir = Tables.scratch("hyb_stats", dir)
      Streams.commitSnapshot(
        graft.ops.Retrieval.bm25StatsTable(docs, "doc_id", "text"), statsDir, 1L)
      graft.ops.Retrieval.hybridTopKStored(s, ipath,
        Streams.readSnapshot(s, statsDir),
        docs.filter(col("doc_id") < HYB_NQ), emb.filter(col("vec_id") < HYB_NQ),
        "doc_id", "text", "vec_id", "embedding",
        HYB_K, HYB_KLEX, IVF_TOPK, IVF_NPROBE)
        .orderBy(col("query_id"), col("rank"))
    },

    // list-balance statistics of the persisted index (the operational
    // "retrain or not" signal: IVF cost is nprobe/nCents only while lists
    // stay balanced); reads the committed lists through the manifest
    "q_ann_index_stats" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = s"${Tables.scratchRoot}/graft_ivf_index_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, IVF_CENTS, IvfCodec.Int8)
      Similarity.ivfIndexStats(s, path)
        .orderBy(col("cent_id"))
    },

    // FILTERED ANN over the persisted index: attribute payload columns ride
    // the lists (attrCols at build), the predicate pushes into the list
    // parquet scan (PushedFilters + cent_id partition pruning), and top-k is
    // taken among MATCHING rows — the vector-database `filter=` semantics
    "q_ann_filtered" -> { (s, dir) =>
      annFilteredBuild(s, dir)
      annFilteredSearch(s, dir)
    },

    // FILTERED ANN over the COMPRESSED stored index — the q_ann_filtered
    // semantics composed with the PQ family: attribute payloads ride the
    // 32x-compressed lists, the predicate prunes candidates BEFORE the ADC
    // distance-table expansion (matching rows only ever expand their m
    // codes), and top-k ranks among matching rows. The production shape for
    // "filter=, over the cheapest index tier".
    "q_ann_pq_filtered" -> { (s, dir) =>
      annPqFilteredBuild(s, dir)
      annPqFilteredSearch(s, dir)
    },

    // the 2-byte/dim rung of the storage ladder: int16 ("f16-class") codes
    // between int8 (1 B, coarser) and float64 (8 B, exact) — same layout,
    // same commit protocol, 256x finer resolution than int8; ranking stays
    // in the exact integer domain (scales cancel for cosine)
    "q_ann_f16_index" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = s"${Tables.scratchRoot}/graft_f16_index_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, IVF_CENTS, IvfCodec.Int16)
      Similarity.openIvfSearcher(s, path, "vec_id", "embedding", IVF_TOPK, IVF_NPROBE)(
        emb.filter(col("vec_id") < 10))
        .orderBy(col("query_id"), col("rank"))
    },

    // int16 quantization diagnostics — q_embed_quantize's columns at the
    // 2-byte resolution; max_err shrinks ~256x (what the extra byte buys)
    "q_embed_quantize16" -> { (s, dir) =>
      Similarity.quantizeInt16(Tables.embeddings(s, dir), "vec_id", "embedding")
        .localCheckpoint(false) // narrow-output scan-kernel pin (see q_embed_quantize)
        .orderBy(col("vec_id"))
    },

    // ONLINE retrieval: the same persisted-index search with the queries
    // arriving on a STREAM (foreachBatch per micro-batch, stateless — each
    // query ranks against the static index inside its own batch), results
    // appended to a parquet sink. Identical to the batch search over the
    // same query set, so the oracle is q_ann_ivf_index's
    "q_stream_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${Tables.scratchRoot}/graft_stream_ann_idx_$tag"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, IVF_CENTS, IvfCodec.Int8)
      graft.streaming.Streams.streamingAnnSearch(
        emb.filter(col("vec_id") < 10), path, s"${Tables.scratchRoot}/graft_stream_ann_out_$tag",
        "vec_id", "embedding", IVF_TOPK, IVF_NPROBE)
        .orderBy(col("query_id"), col("rank"))
    },

    // streaming AS-OF enrichment: clicks arrive on a stream, each batch is
    // joined to the latest earlier view per user from the static reference
    // through the custom AsOfJoin operator (stream-static SCD enrichment;
    // stateless per batch, so the union equals the batch as-of exactly and
    // the oracle is q_asof_custom's DuckDB ASOF JOIN)
    "q_stream_asof" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.Streams.streamingAsOfEnrich(
        s, dir, s"${Tables.scratchRoot}/graft_stream_asof_out_$tag")
        .orderBy(col("event_id"))
    },

    // online retrieval over the 2-byte stored index: the q_stream_ann cell
    // with the persisted int16 index — identical to the batch f16 search
    // over the same query set, so the oracle is q_ann_f16_index's
    "q_stream_f16" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${Tables.scratchRoot}/graft_stream_f16_idx_$tag"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, IVF_CENTS, IvfCodec.Int16)
      graft.streaming.Streams.streamingAnnSearch(
        emb.filter(col("vec_id") < 10), path, s"${Tables.scratchRoot}/graft_stream_f16_out_$tag",
        "vec_id", "embedding", IVF_TOPK, IVF_NPROBE)
        .orderBy(col("query_id"), col("rank"))
    },

    // online retrieval over the COMPRESSED stored index: the q_stream_ann
    // cell with the persisted IVF+PQ index — identical to the batch PQ
    // search over the same query set, so the oracle is q_ann_ivf_pq's
    "q_stream_pq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${Tables.scratchRoot}/graft_stream_pq_idx_$tag"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path,
        IVF_CENTS, IvfCodec.Pq(PQ_M, PQ_CODES, DIM))
      graft.streaming.Streams.streamingAnnSearch(
        emb.filter(col("vec_id") < 10), path, s"${Tables.scratchRoot}/graft_stream_pq_out_$tag",
        "vec_id", "embedding", PQ_TOPK, IVF_NPROBE)
        .orderBy(col("query_id"), col("rank"))
    },

    // incremental index maintenance: build the persisted index on a base
    // slice, APPEND the remaining vectors (assigned with the stored centroid
    // sidecar, dynamic overwrite of only the touched cent_id= partitions),
    // then search — the appended index is bit-identical to a full-corpus
    // build (same smallest-id centroids live in the base slice), so the
    // oracle is q_ann_ivf_index's
    "q_ann_ivf_append" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = s"${Tables.scratchRoot}/graft_ivf_append_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      Similarity.writeIvfIndex(
        emb.filter(col("vec_id") < 300), "vec_id", "embedding", path, IVF_CENTS, IvfCodec.Int8)
      Similarity.appendIvfIndex(
        s, emb.filter(col("vec_id") >= 300), "vec_id", "embedding", path)
      Similarity.openIvfSearcher(s, path, "vec_id", "embedding", IVF_TOPK, IVF_NPROBE)(
        emb.filter(col("vec_id") < 10))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF with TRAINED centroids: 2 deterministic Lloyd iterations (rounded
    // per-dim means) refine the sampled init before the same scan-level
    // assignment — the production-shaped index (balanced lists, real recall)
    "q_ann_ivf_trained" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        IVF_TOPK, IVF_CENTS, IVF_NPROBE, trainIters = IVF_TRAIN_ITERS)
        .orderBy(col("query_id"), col("rank"))
    },

    // diversity sample: k representatives per trained-centroid cluster —
    // coverage-preserving embedding downsample (dense regions don't dominate)
    "q_sample_diverse" -> { (s, dir) =>
      Similarity.diverseSampleK(Tables.embeddings(s, dir), "vec_id", "embedding",
        DIVERSE_K, IVF_CENTS, trainIters = IVF_TRAIN_ITERS)
        .orderBy(col("cent_id"), col("sample_rank"))
    },

    // SEMANTIC dedup (SemDeDup shape): drop every vector with an earlier
    // near-cosine member in its trained-centroid cluster; survivors are the
    // redundancy-free corpus (dense clumps collapse, sparse regions survive)
    "q_dedup_semantic" -> { (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        SEMDEDUP_COS, IVF_CENTS, trainIters = IVF_TRAIN_ITERS)
        .orderBy(col("vec_id"))
    },

    // streaming SEMANTIC dedup: the same SemDeDup semantics at ingest —
    // id-ordered micro-batches scored against the distributed capped owner
    // state; the admitted union equals batch semanticDedup (shared oracle)
    "q_stream_semantic" -> { (s, dir) =>
      Streams.streamingSemanticDedup(s, dir,
        Tables.scratch("stream_sem", dir),
        SEMDEDUP_COS, IVF_CENTS, IVF_TRAIN_ITERS)
        .orderBy(col("vec_id"))
    },

    "q_multimodal" -> { (s, dir) =>
      val withMedia = Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.extractFeatures(withMedia, "doc_id").toDF()
        .orderBy(col("doc_id"))
    },

    // the STREAMING multimodal twin: the stub decode runs per micro-batch
    // through the same mapPartitions plumbing (stateless ⇒ equals batch
    // extraction; shared oracle) — the ingest-time decode cell a real
    // pipeline drops its codec into
    "q_stream_multimodal" -> { (s, dir) =>
      Streams.streamingMultimodal(s, dir)
        .orderBy(col("doc_id"))
    },

    // video-style frame sampling: every 3rd 64-byte frame, max 5 per doc —
    // the 1→N fan-out batch shape of a real keyframe extractor
    "q_multimodal_frames" -> { (s, dir) =>
      val withMedia = Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.sampleFrames(withMedia, "doc_id", 64, 3, 5).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // CUSTOM-DECODER injection through the multimodal seam: a user-side
    // MediaDecoder (defined here in the query glue, not in the library)
    // rides the identical attachBinary → mapPartitions plumbing — digest of
    // the REVERSED bytes, position-weighted byte sum — and the oracle
    // recomputes the custom decode independently, proving the seam carries
    // arbitrary decode bodies without touching the Spark side
    "q_multimodal_custom" -> { (s, dir) =>
      val withMedia = Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.extractFeatures(withMedia, "doc_id", PositionWeightedDecoder).toDF()
        .orderBy(col("doc_id"))
    },

    "q_stream_tumbling" -> { (s, dir) =>
      Streams.tumblingAgg(s, dir, "5 minutes")
        .orderBy(col("window_start"), col("event_type"))
    },

    // streaming histogram: bin counts maintained on the stream (stateless
    // bucket map, complete-mode agg on <= nbins+2 keys)
    "q_stream_histo" -> { (s, dir) =>
      Streams.streamingHisto(s, dir, 8, 0.0, 400.0).orderBy(col("bin"))
    },

    // weighted streaming histogram: revenue by user cohort — cents-exact
    // scaled-long bins across micro-batch state merges
    "q_stream_histo_weighted" -> { (s, dir) =>
      Streams.streamingHistoWeighted(s, dir, "user_id", "value",
        10, 0.0, 150.0, wScale = 2).orderBy(col("bin"))
    },

    // the production FILE sink for the same aggregation: foreachBatch
    // replace-snapshot to parquet, result read back from the directory
    "q_stream_sink" -> { (s, dir) =>
      Streams.streamingHistoToParquet(s, dir, 8, 0.0, 400.0,
        Tables.scratch("stream_sink", dir))
        .orderBy(col("bin"))
    },

    // snapshot CDC: commit two versions of a per-(user, event_type) rollup
    // (v1 = first 4 days; v2 = everything minus simulated account deletions)
    // then diff them — inserts, deletes and updates all exercised
    "q_snapshot_diff" -> { (s, dir) =>
      val out = Tables.scratch("snap_diff", dir)
      val ev = Tables.events(s, dir)
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
      Streams.commitSnapshot(
        agg(ev.filter(col("ts") < lit("2024-01-05").cast("timestamp"))), out, 1, retain = 5)
      Streams.commitSnapshot(agg(ev.filter(col("user_id") % 10 =!= 3)), out, 2, retain = 5)
      Streams.diffSnapshots(s, out, 1, 2, Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("change_type"),
          coalesce(col("old_n_events"), lit(-1L)).as("old_n_events"),
          coalesce(col("new_n_events"), lit(-1L)).as("new_n_events"),
          coalesce(col("old_cents"), lit(-1L)).as("old_cents"),
          coalesce(col("new_cents"), lit(-1L)).as("new_cents"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // snapshot MERGE: apply a change batch (updates + inserts + deletes) to
    // the committed table and commit ONE new version — the write-side
    // complement of q_snapshot_diff. v0 = docs with doc_id % 3 != 0; the
    // merge doubles n_chars for evens (update present / insert missing),
    // deletes multiples of 7 (evens win the overlap: delete-then-reinsert)
    "q_snapshot_upsert" -> { (s, dir) =>
      val out = Tables.scratch("snap_upsert", dir)
      val docs = Tables.documents(s, dir)
      def proj(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
      Streams.upsertSnapshot(proj(docs.filter(col("doc_id") % 3 =!= 0)),
        out, Seq("doc_id"), retain = 5)
      Streams.upsertSnapshot(
        proj(docs.filter(col("doc_id") % 2 === 0))
          .withColumn("n_chars", col("n_chars") * 2),
        out, Seq("doc_id"),
        deletes = Some(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))),
        retain = 5)
      Streams.readSnapshot(s, out).orderBy(col("doc_id"))
    },

    // data skipping: commit a range-laid-out snapshot with a per-file
    // min/max stats sidecar, then range-read through it — only files whose
    // [min, max] intersects the range are opened (ScaleSpec pins the prune)
    "q_snapshot_skip" -> { (s, dir) =>
      val out = Tables.scratch("snap_skip", dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      Streams.commitSnapshotStats(docs, out, 0, Seq("doc_id"), layoutParts = 8)
      Streams.readSnapshotRange(s, out, "doc_id", 100L, 199L)
        .orderBy(col("doc_id"))
    },

    // point-lookup skipping: bloom sidecar over a high-cardinality column
    // UNCORRELATED with the range layout (md5 of the text) — min/max can't
    // prune an equality on it, the per-file bitmap can
    "q_snapshot_point" -> { (s, dir) =>
      val out = Tables.scratch("snap_point", dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        md5(col("text")).as("text_md5"), length(col("text")).cast("long").as("n_chars"))
      Streams.commitSnapshotStats(docs, out, 0, Seq("doc_id"), layoutParts = 8,
        bloomCols = Seq("text_md5"), bloomBits = 1 << 16)
      val key = docs.filter(col("doc_id") === 123).select(col("text_md5")).head.getString(0)
      Streams.readSnapshotPoint(s, out, "text_md5", key).orderBy(col("doc_id"))
    },

    // partition-pruned MERGE: manifest-owned partitioned table; the change
    // batch rewrites ONLY the partitions it touches (en + the new xx) —
    // de/es/fr/zh keep their v0 files (OpsSpec pins the single-dir write)
    "q_part_upsert" -> { (s, dir) =>
      val out = Tables.scratch("part_upsert", dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      graft.streaming.PartitionedSnapshot.upsert(docs, out, Seq("doc_id"), "lang")
      val batch = docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") * 2)
        .unionByName(Tables.documents(s, dir).filter(col("doc_id") < 5)
          .select((col("doc_id") + 10000).as("doc_id"), lit("xx").as("lang"),
            length(col("text")).cast("long").as("n_chars")))
      val dels = docs.filter(col("lang") === "en" && col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"))
      graft.streaming.PartitionedSnapshot.upsert(
        batch, out, Seq("doc_id"), "lang", Some(dels))
      graft.streaming.PartitionedSnapshot.read(s, out)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // RIGHT-TO-BE-FORGOTTEN: purge every row of a user cohort from the
    // versioned partitioned table through the delete leg of the MERGE —
    // the change set is (key, partition) pairs derived once from the
    // request (a delete must NAME its partition; that is what keeps the
    // touched set knowable without a table scan), the batch leg is empty,
    // and only partitions holding cohort rows rewrite. The read-back must
    // equal the source minus the cohort — deletion is verified by content,
    // not by trusting the op.
    "q_part_forget" -> { (s, dir) =>
      val out = Tables.scratch("part_forget", dir)
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      graft.streaming.PartitionedSnapshot.upsert(ev, out, Seq("event_id"), "event_type")
      // NULL-safe cohort predicate (schema allows NULL user_id): NULL % 97
      // is NULL — without the coalesce the engine would keep NULL-user
      // rows while the oracle's `<> 5` drops them
      val victims = ev.filter(coalesce(col("user_id"), lit(-1L)) % 97 === 5)
        .select(col("event_id"), col("event_type"))
      graft.streaming.PartitionedSnapshot.upsert(
        ev.limit(0), out, Seq("event_id"), "event_type", Some(victims))
      graft.streaming.PartitionedSnapshot.read(s, out)
        .select(col("event_id"), col("user_id"), col("event_type"), col("cents"))
        .orderBy(col("event_id"))
    },

    // CDC stream applied at ingest: op-tagged change rows (upsert/delete)
    // upsert the versioned snapshot per micro-batch; disjoint keys make the
    // final table batching-invariant — it equals q_snapshot_upsert's
    "q_stream_upsert" -> { (s, dir) =>
      Streams.streamingUpsert(s, dir,
        Tables.scratch("stream_upsert", dir))
        .orderBy(col("doc_id"))
    },

    // SCHEMA EVOLUTION on the partitioned table: metadata-only addColumn
    // with a default (no data file touched), then an upsert that rewrites
    // ONLY lang=en with real values — readers fill the default for every
    // untouched partition's pre-evolution files
    "q_part_evolve" -> { (s, dir) =>
      val out = Tables.scratch("part_evolve", dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      graft.streaming.PartitionedSnapshot.upsert(docs, out, Seq("doc_id"), "lang")
      graft.streaming.PartitionedSnapshot.addColumn(s, out, "quality", "double", "0.5")
      val batch = docs.filter(col("lang") === "en")
        .withColumn("quality", col("n_chars").cast("double") / 1000.0)
      graft.streaming.PartitionedSnapshot.upsert(batch, out, Seq("doc_id"), "lang")
      graft.streaming.PartitionedSnapshot.read(s, out)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // metadata-only COLUMN drop (addColumn's retirement twin): source
    // disappears from every read with no data I/O; the post-drop upsert
    // writes the narrow schema (and would be rejected if it carried src)
    "q_part_dropcol" -> { (s, dir) =>
      val out = Tables.scratch("part_dropcol", dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"), col("source"))
      graft.streaming.PartitionedSnapshot.upsert(docs, out, Seq("doc_id"), "lang")
      graft.streaming.PartitionedSnapshot.dropColumn(s, out, "source")
      graft.streaming.PartitionedSnapshot.upsert(
        docs.drop("source").filter(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") * 3),
        out, Seq("doc_id"), "lang")
      graft.streaming.PartitionedSnapshot.read(s, out)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // metadata-only partition drop (the O(1) daily retention op) + the
    // manifest-resolved per-partition stats that prove it: en vanishes
    // without touching a data file, every survivor still owned by v0
    "q_part_drop" -> { (s, dir) =>
      val out = Tables.scratch("part_drop", dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      graft.streaming.PartitionedSnapshot.upsert(docs, out, Seq("doc_id"), "lang")
      graft.streaming.PartitionedSnapshot.dropPartitions(s, out, Set("en"))
      graft.streaming.PartitionedSnapshot.partitionStats(s, out)
        .orderBy(col("lang"))
    },

    "q_sessionize" -> { (s, dir) =>
      Streams.sessionize(Tables.events(s, dir), GAP_MIN).toDF()
        .orderBy(col("user_id"), col("session_start"))
    },

    // per-user ordered action history, most-recent-32 — the sequence-model
    // data-prep op; rank-from-end window prunes map-side, one user_id shuffle
    "q_user_sequences" -> { (s, dir) =>
      graft.ops.Splits.userEventSequences(Tables.events(s, dir), 32)
        .orderBy(col("user_id"))
    },

    // declarative data-quality EXPECTATIONS — the promote-gate contract
    // check: all scalar rules ride ONE scan (fused conditional counts),
    // unique = its key shuffle, referential = a counted anti-join vs the
    // dim. The report (rule, violations, pass) is the auditable artifact;
    // two rules are EXPECTED to fail on this data (quantity range is
    // [1,50], a tighter [1,49] probe and a wrong-enum probe violate) so
    // the gate proves failures are REPORTED, not thrown.
    // QUARANTINE AT INGEST — the streaming enforcement twin: each event
    // tagged scan-level with the scalar rules it trips (the same
    // Expectations predicates as the batch quarantine, shared through
    // scalarFailedTag so the two can't drift), violators routed append-mode
    // to the side output. Stateless per-row ⇒ equals the batch filter
    // exactly. 'signup'/'error' trip the enum; value > 40 trips the range.
    "q_stream_quarantine" -> { (s, dir) =>
      import graft.ops.Expectations._
      Streams.streamingQuarantine(s, dir, Seq(
        InSet("event_type", Seq("view", "click", "purchase")),
        InRange("value", 0, 40)))
        .orderBy(col("event_id"))
    },

    // QUARANTINE REPLAY — the DQ loop's closure: strict rules route the
    // stream into promoted (snapshot v1) + quarantine; the rules are then
    // relaxed (signup admitted, range widened to 200) and the quarantine
    // re-validated in batch, newly-passing rows merged through the
    // versioned snapshot as v2. The oracle derives both admissions
    // independently; admitted_v proves WHICH pass admitted each row.
    "q_stream_readmit" -> { (s, dir) =>
      import graft.ops.Expectations._
      Streams.streamingReadmit(s, dir, Tables.scratch("stream_readmit", dir),
          strict = Seq(InSet("event_type", Seq("view", "click", "purchase")),
            InRange("value", 0, 40)),
          relaxed = Seq(InSet("event_type", Seq("view", "click", "purchase", "signup")),
            InRange("value", 0, 200)))
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"), col("admitted_v"))
        .orderBy(col("event_id"))
    },

    // snapshot small-file COMPACTION (the OPTIMIZE op): v1 committed as 8
    // files, compacted to a 2-file v2 holding the SAME rows through the
    // pointer-flip commit — the layout rewrite that keeps a streaming-
    // appended table's scan planning healthy. The gate returns the data
    // unchanged (the oracle proves no row was lost or altered) plus the
    // audited before/after file counts the oracle pins as literals.
    "q_snapshot_compact" -> { (s, dir) =>
      val out = s"${Tables.scratchRoot}/graft_compact_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      Streams.commitSnapshot(docs.repartition(8).toDF(), out, 1L)
      Streams.compactSnapshot(s, out, 2L, 2)
      Streams.readSnapshot(s, out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .withColumn("n_files_before", lit(Streams.snapshotFileCount(s, out, 1L)))
        .withColumn("n_files_after", lit(Streams.snapshotFileCount(s, out, 2L)))
        .orderBy(col("lang"))
    },

    // the ENFORCEMENT side of expectations: violating rows quarantined with
    // the `;`-joined names of exactly the rules they trip (scan-level
    // conditionals + the Unique rule's key-sized dup join) — production
    // writes these to the side sink while clean rows promote. The rule set
    // includes the fixture's genuine (orderkey, linenumber) duplicates and
    // a qty ≤ 49 probe that trips on the qty-50 rows.
    "q_expectations_quarantine" -> { (s, dir) =>
      import graft.ops.Expectations._
      quarantineRows(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber"),
        Seq(NotNull("l_orderkey"),
          InRange("l_quantity", 1, 49),
          Unique(Seq("l_orderkey", "l_linenumber"))))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("failed"))
    },

    "q_expectations" -> { (s, dir) =>
      import graft.ops.Expectations._
      validate(Tables.lineitem(s, dir), Seq(
        NotNull("l_orderkey"),
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 50),
        InRange("l_quantity", 1, 49),            // expected-fail probe
        InSet("l_returnflag", Seq("A", "N", "R")),
        InSet("l_linestatus", Seq("F")),         // expected-fail probe (O exists)
        Unique(Seq("l_orderkey", "l_linenumber")),
        Check("disc_bounds", col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
        RefIntegrity("l_orderkey", "orders", "o_orderkey")),
        dims = Map("orders" -> Tables.orders(s, dir)))
        .orderBy(col("rule_idx"))
    },

    // EXPECTATIONS AT INGEST: the scalar rule set accumulates over the
    // event stream (complete mode, one-row additive state); the drained
    // report equals batch validation of the same data. One rule is an
    // expected-fail probe ('error' events violate the enum).
    "q_stream_expectations" -> { (s, dir) =>
      import graft.ops.Expectations._
      graft.streaming.Streams.streamingExpectations(s, dir, Seq(
        NotNull("user_id"),
        InRange("value", 0.0, 500.0),
        InSet("event_type", Seq("click", "view", "purchase", "signup")),
        Check("props_json", get_json_object(col("props"), "$").isNotNull)))
        .orderBy(col("rule_idx"))
    },

    // calendar DENSIFICATION (day spine + zero-fill) — the reporting op
    // every sparse daily metric needs: generate the continuous day range
    // from the series' own bounds (sequence() on a 1-row aggregate — no
    // calendar table, no data-contract assumption), left-join the sparse
    // facts, fill gaps with zeros and audit them with a `filled` flag. The
    // spine is days-sized, so the join broadcasts at any fact volume.
    "q_day_spine" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("user_id") === 0)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        // days-sized pin: feeds the bounds aggregate AND the spine join
        .localCheckpoint(false)
      val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val spine = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("cents"), lit(0L)).as("cents"),
          when(col("n").isNull, 1L).otherwise(0L).as("filled"))
        .orderBy(col("day"))
    },

    // volume-anomaly detection — the ingest-monitoring op: daily event
    // counts z-scored against the series' own mean/σ (population, computed
    // from exact integer sums so both engines fold the identical doubles),
    // |z| > 2 flags the day. The per-day frame is days-sized, so the
    // stats aggregate and the flag join are metric-scale at any volume.
    "q_anomaly_days" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        // days-sized pin: feeds the moment aggregate AND the z-score attach
        .localCheckpoint(false)
      val stats = daily.agg(
        count(lit(1)).as("nd"),
        sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      daily.crossJoin(broadcast(stats))
        .withColumn("mean", col("s1").cast("double") / col("nd"))
        .withColumn("sd", sqrt(
          col("s2").cast("double") / col("nd") -
            (col("s1").cast("double") / col("nd")) * (col("s1").cast("double") / col("nd"))))
        // flag on the UNROUNDED z (the oracle does too — a z rounding
        // across the 2.0 boundary must not flip the flag between engines)
        .withColumn("__z", (col("n").cast("double") - col("mean")) / col("sd"))
        .select(col("day"), col("n"),
          round(col("mean"), 6).as("mean"), round(col("sd"), 6).as("sd"),
          round(col("__z"), 6).as("z"),
          when(abs(col("__z")) > 2.0, 1L).otherwise(0L).as("is_anomaly"))
        .orderBy(col("day"))
    },

    // cohort retention — the classic event-analytics matrix: users cohort
    // by first-active week (anchored to the in-query min date — no
    // calendar assumption baked in), each (cohort, week) cell counts the
    // cohort's users still active that week. (user, week) distinct first,
    // so every later frame is user-week-sized, not event-sized.
    "q_cohort_retention" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val dated = ev.select(col("user_id"), to_date(col("ts")).as("d"))
      val anchor = dated.agg(min(col("d")).as("d0"))
      val wk = dated.crossJoin(broadcast(anchor))
        .select(col("user_id"),
          floor(datediff(col("d"), col("d0")) / 7).cast("long").as("week"))
        .distinct()
        // (user, week)-sized pin: feeds the cohort aggregate AND the
        // activity join
        .localCheckpoint(false)
      val cohort = wk.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("n_cohort"))
      wk.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week")).agg(count(lit(1)).as("n_active"))
        .join(sizes, Seq("cohort_week"))
        .withColumn("retention",
          round(col("n_active").cast("double") / col("n_cohort"), 6))
        .select(col("cohort_week"), col("week"), col("n_active"),
          col("n_cohort"), col("retention"))
        .orderBy(col("cohort_week"), col("week"))
    },

    // interval-OVERLAP join (range x range): concurrent sessions across two
    // user groups — bucketized, each pair unique via its overlap-start bucket
    "q_interval_join" -> { (s, dir) =>
      val sess = Streams.sessionize(Tables.events(s, dir), GAP_MIN).toDF()
      def side(pfx: String, lo: Int, hi: Int) = sess
        .filter(col("user_id") >= lo && col("user_id") < hi)
        .select(col("user_id").as(s"${pfx}_user"),
          unix_micros(col("session_start")).as(s"${pfx}_lo"),
          unix_micros(col("session_end")).as(s"${pfx}_hi"))
      Joins.intervalOverlapBucketed(side("a", 0, 40), side("b", 40, 80),
        "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 1.8e9)
        .withColumn("overlap_us",
          least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")))
        .select(col("a_user"), col("b_user"), col("a_lo"), col("b_lo"), col("overlap_us"))
        .orderBy(col("a_user"), col("a_lo"), col("b_user"), col("b_lo"))
    },

    // native streaming session windows (session_window + watermark, append
    // mode, sentinel-flushed bounded replay)
    "q_stream_sessionize" -> { (s, dir) =>
      Streams.streamingSessionize(s, dir, GAP_MIN)
        .orderBy(col("user_id"), col("session_start"))
    },

    // stateful streaming: GroupState-backed running per-user totals
    "q_stream_stateful" -> { (s, dir) =>
      Streams.statefulUserStats(s, dir).orderBy(col("user_id"))
    },

    // streaming exact dedup: watermark-evicted key state, append-mode first
    // occurrences; delay > replay span, so the set equals batch DISTINCT
    "q_stream_dedup" -> { (s, dir) =>
      Streams.streamingDedup(s, dir, Seq("user_id", "event_type"), "3650 days")
        .orderBy(col("user_id"), col("event_type"))
    },

    // funnel: users who did view -> click -> purchase in strict ts order;
    // one shuffle on user_id, min-ts per stage then ordering predicate
    "q_funnel" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val stages = ev.filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      stages
        .withColumn("reached_click",
          (col("t_view").isNotNull && col("t_click") > col("t_view")).cast("int"))
        .withColumn("reached_purchase",
          (col("reached_click") === 1 && col("t_purchase") > col("t_click")).cast("int"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("t_view").isNotNull, 1).otherwise(0)).cast("long").as("n_view"),
          sum(col("reached_click")).cast("long").as("n_view_click"),
          sum(col("reached_purchase")).cast("long").as("n_full_funnel"))
    },

    // per-label embedding centroids: elementwise mean over the label group
    "q_embed_centroids" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v").cast("double")), 6).as("mean_v"))
        .orderBy(col("label"), col("dim"))
    },

    // corpus exploration: per-cluster top tokens — the "what IS in this
    // cluster" readout over the IVF coarse structure (embedding centroid
    // assignment is the scan-level IVF stage; token counts are
    // (cluster, token)-sized; top-5 per cluster via a WindowGroupLimit-
    // pruned rank). The docs↔embeddings join is an id equi-join.
    "q_cluster_topics" -> { (s, dir) =>
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("__v"))
      val assign = Similarity.assignExpr(
        Similarity.lloydCentroids(base, IVF_CENTS, 0), assignKernel = true)
      val asg = base.select(col("id"), assign(col("__v")).as("cent_id"))
      val sizes = asg.groupBy(col("cent_id")).agg(count(lit(1)).as("n_docs"))
      val counts = Tables.documents(s, dir)
        .join(asg, col("doc_id") === col("id"))
        .select(col("cent_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("cent_id"), col("tok")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cent_id")).orderBy(col("n").desc, col("tok"))
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .join(broadcast(sizes), Seq("cent_id"))
        .select(col("cent_id"), col("n_docs"), col("rank"), col("tok"), col("n"))
        .orderBy(col("cent_id"), col("rank"))
    },

    // stream-stream interval join (watermark-bounded state)
    "q_stream_join" -> { (s, dir) =>
      Streams.clickViewJoin(s, dir).orderBy(col("click_id"), col("view_id"))
    },

    // reference planned Tail: last 20 by total order
    "q_tail" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey").desc).limit(20)
    }
  )

  def oracles: Map[String, String] = {
    // shared final state of the batch MERGE and the streaming CDC apply
    val upsertFinalSql = """
        SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id % 3 <> 0 AND doc_id % 2 <> 0 AND doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id, lang, 2 * CAST(length(text) AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
        ORDER BY doc_id"""
    // hyperplane j, dim d: (hash32(j||'_'||d) % 2001 - 1000)/1000.0
    def planeSql(j: Int) =
      s"""list_transform(range(0, $DIM), d ->
          (CAST(('0x' || substring(md5($j || '_' || d),1,8)) AS BIGINT) % 2001 - 1000)/1000.0)"""
    val bucketSql = (0 until BITS).map { j =>
      s"""(CASE WHEN list_sum(list_transform(range(1, ${DIM + 1}),
           i -> v[i] * (${planeSql(j)})[i])) >= 0 THEN ${1L << j} ELSE 0 END)"""
    }.mkString(" + ")
    val embBase = s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e)"""
    // the power-iteration chain through v3 (0-based symmetrized cov →
    // 3 rounds of round9-long matrix-vector + norm + round6 iterate),
    // shared by the PCA train oracle and its projection-apply tail
    val pcaCtes = {
      val iters = (1 to 3).map { k =>
        s""",
        w$k AS (SELECT cv.i,
                  CAST(sum(CAST(round(cv.c * v${k - 1}.v * 1e9) AS BIGINT))
                    AS DOUBLE) / 1e9 AS w
                FROM cv JOIN v${k - 1} ON cv.j = v${k - 1}.j GROUP BY 1),
        n$k AS (SELECT sqrt(CAST(sum(CAST(round(w * w * 1e9) AS BIGINT))
                  AS DOUBLE) / 1e9) AS nrm FROM w$k),
        v$k AS (SELECT i AS j, round(w / (SELECT nrm FROM n$k), 6) AS v FROM w$k)"""
      }.mkString
      s"""WITH e AS (SELECT vec_id, CAST(i AS INTEGER) AS i,
                     CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS x6
                   FROM embeddings, unnest(range(1, ${DIM + 1})) AS u(i)),
        up AS (SELECT a.i - 1 AS i0, b.i - 1 AS j0,
                 round(CAST(count(*) * sum(a.x6 * b.x6)
                     - sum(a.x6) * sum(b.x6) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) * 1e12), 9)
                   AS c
               FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
               GROUP BY a.i, b.i),
        -- MATERIALIZED: cv is referenced once per unrolled round (and the
        -- deflation chain doubles that) — inlining re-opens the parquet
        -- self-join per reference and trips the fd limit
        cv AS MATERIALIZED (SELECT i0 AS i, j0 AS j, c FROM up
               UNION ALL SELECT j0, i0, c FROM up WHERE i0 <> j0),
        v0 AS (SELECT DISTINCT j, CASE WHEN j = 0 THEN 1.0 ELSE 0.0 END AS v
               FROM cv)$iters"""
    }
    // second component: deflate (c − λ₁·v₁v₁ᵀ, re-rounded to 9) then the
    // identical unrolled round structure over the deflated matrix
    val pca2Iters = (1 to 3).map { k =>
      val prev = if (k == 1) "vb0" else s"vb${k - 1}"
      s""",
        wb$k AS (SELECT cv2.i,
                   CAST(sum(CAST(round(cv2.c * $prev.v * 1e9) AS BIGINT))
                     AS DOUBLE) / 1e9 AS w
                 FROM cv2 JOIN $prev ON cv2.j = $prev.j GROUP BY 1),
        nb$k AS (SELECT sqrt(CAST(sum(CAST(round(w * w * 1e9) AS BIGINT))
                   AS DOUBLE) / 1e9) AS nrm FROM wb$k),
        vb$k AS (SELECT i AS j, round(w / (SELECT nrm FROM nb$k), 6) AS v
                 FROM wb$k)"""
    }.mkString
    val pca2Sql = s"""
        $pcaCtes,
        lamx AS (SELECT CAST(sum(CAST(round(cv.c * a.v * b.v * 1e9) AS BIGINT))
                   AS DOUBLE) / 1e9 AS lambda
                 FROM cv JOIN v3 a ON cv.i = a.j JOIN v3 b ON cv.j = b.j),
        cv2 AS MATERIALIZED (SELECT cv.i, cv.j,
                  round(cv.c - (SELECT lambda FROM lamx) * a.v * b.v, 9) AS c
                FROM cv JOIN v3 a ON cv.i = a.j JOIN v3 b ON cv.j = b.j),
        vb0 AS (SELECT DISTINCT j, CASE WHEN j = 0 THEN 1.0 ELSE 0.0 END AS v
                FROM cv2)$pca2Iters,
        lam2 AS (SELECT CAST(sum(CAST(round(cv2.c * a.v * b.v * 1e9) AS BIGINT))
                   AS DOUBLE) / 1e9 AS lambda
                 FROM cv2 JOIN vb3 a ON cv2.i = a.j JOIN vb3 b ON cv2.j = b.j)
        SELECT CAST(vb3.j AS BIGINT) AS dim, vb3.v AS loading2,
               lam2.lambda AS lambda2
        FROM vb3, lam2 ORDER BY dim"""
    // trained loadings applied to the vec_id < 50 slice: the scalar
    // projection through the same round9-scaled-long dot fold — shared by
    // the batch apply gate and the streaming artifact-serving twin
    val pcaApplySql = s"""
        $pcaCtes,
        ev AS (SELECT vec_id, CAST(i AS INTEGER) - 1 AS i0,
                 CAST(embedding[i] AS DOUBLE) AS x
               FROM embeddings, unnest(range(1, ${DIM + 1})) AS u(i)
               WHERE vec_id < 50)
        SELECT ev.vec_id,
               round(CAST(sum(CAST(round(ev.x * v3.v * 1e9) AS BIGINT))
                 AS DOUBLE) / 1e9, 6) AS projection
        FROM ev JOIN v3 ON ev.i0 = v3.j
        GROUP BY 1 ORDER BY ev.vec_id"""
    // stub-decoder features over the utf-8 media bytes — batch extraction
    // and the stateless streaming cell define the same relation
    val multimodalSql = """
        WITH b AS (SELECT doc_id, text,
          list_transform(range(1, length(text)+1), i -> ascii(substring(text, i, 1))) AS codes
          FROM documents)
        SELECT doc_id, length(text)::BIGINT AS n_bytes, sha256(text) AS sha256,
               list_sum(codes)::BIGINT AS sum_bytes,
               list_sum(codes)::DOUBLE / length(text) AS mean_byte
        FROM b ORDER BY doc_id"""
    // dim-pair covariance/correlation from exact 1e6-scaled-long moment
    // sums — the batch outer-product aggregate and the streaming moment
    // state define the same relation (q_embed_cov + q_stream_cov)
    val embedCovSql = s"""
        WITH e AS (SELECT vec_id, CAST(i AS INTEGER) AS i,
                     CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS x6
                   FROM embeddings, unnest(range(1, ${DIM + 1})) AS u(i)),
        m AS (SELECT a.i, b.i AS j, count(*) AS n,
                CAST(sum(a.x6) AS BIGINT) AS sx, CAST(sum(b.x6) AS BIGINT) AS sy,
                CAST(sum(a.x6 * b.x6) AS BIGINT) AS sxy,
                CAST(sum(a.x6 * a.x6) AS BIGINT) AS sxx,
                CAST(sum(b.x6 * b.x6) AS BIGINT) AS syy
              FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
              GROUP BY 1, 2)
        -- HUGEINT products mirror the Spark side's decimal(38,0) widening:
        -- n*sxy etc. overflow BIGINT at larger corpora (silent wrap in
        -- Spark, error here) — exact int128 keeps both engines identical
        SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j, n,
               round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 9) AS cov,
               round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS corr
        FROM m ORDER BY i, j"""
    def cosSql(a: String, b: String) =
      s"round(list_sum(list_transform(range(1, ${DIM + 1}), i -> $a.v[i]*$b.v[i]))/($a.nrm*$b.nrm), 6)"

    // trained-centroid chain shared by q_ann_ivf_trained and
    // q_sample_diverse: embBase → ct0 init (smallest-id vectors) → `iters`
    // Lloyd rounds (exact scaled-long means) → cnf (trained centroids +
    // norms) → ac (vector×centroid cosines) → asg0 (per-vector centroid
    // ranking; rn = 1 is the assignment, rn <= nprobe are the probes).
    // dotOverCent is alias-bound (x = vector row, c = centroid row from the
    // enclosing FROM), identical for every iteration — hence one val.
    val dotOverCent =
      s"round(list_sum(list_transform(range(1, ${DIM + 1}), i -> x.v[i]*c.cv[i]))/(x.nrm*c.cnrm), 6)"
    def trainedAsgCtes(iters: Int): String = {
      val chain = (0 until iters).map { t =>
        s"""
        cn$t AS (SELECT cent_id, cv,
                   sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm FROM ct$t),
        asn$t AS (SELECT x.vec_id, c.cent_id, $dotOverCent AS ccos
                  FROM n x CROSS JOIN cn$t c),
        bst$t AS (SELECT vec_id, cent_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY ccos DESC, cent_id) AS rn FROM asn$t)
                  WHERE rn = 1),
        mn$t AS (SELECT cent_id, dim,
                   CAST(CASE WHEN s6 >= 0 THEN (2*s6 + cnt) // (2*cnt)
                        ELSE -((-2*s6 + cnt) // (2*cnt)) END AS DOUBLE) / 1e6 AS m
                 FROM (
                   SELECT cent_id, dim,
                          sum(CAST(round(x*1e6) AS BIGINT)) AS s6,
                          count(*) AS cnt FROM (
                     SELECT b.cent_id, unnest(range(1, ${DIM + 1})) AS dim,
                            unnest(v.v) AS x
                     FROM bst$t b JOIN n v ON v.vec_id = b.vec_id)
                   GROUP BY cent_id, dim)),
        gl$t AS (SELECT cent_id, list(m ORDER BY dim) AS cv FROM mn$t GROUP BY cent_id),
        ct${t + 1} AS (SELECT c.cent_id, coalesce(g.cv, c.cv) AS cv
                       FROM ct$t c LEFT JOIN gl$t g USING (cent_id))"""
      }.mkString(",")
      s"""
        $embBase,
        ct0 AS (SELECT vec_id AS cent_id, v AS cv FROM n ORDER BY vec_id LIMIT $IVF_CENTS),
        $chain,
        cnf AS (SELECT cent_id, cv,
                  sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm
                FROM ct$iters),
        ac AS (SELECT x.vec_id, c.cent_id, $dotOverCent AS ccos
               FROM n x CROSS JOIN cnf c),
        asg0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, cent_id) AS rn FROM ac)"""
    }

    // semantic dedup: final assignment (rn = 1) -> within-cluster pairs
    // against the first maxBucket owners (anchor cap, rk) -> drop any
    // vector with an earlier near-cosine owner. The dropped set is a
    // join CTE (DuckDB can't correlate outer columns into list lambdas,
    // so NOT EXISTS with the cosine inside is unbindable); NOT IN over
    // never-null ids = the left_anti. Shared by the batch gate and the
    // streaming gate (id-ordered replay converges to the batch kept set).
    val semanticDedupSql = s"""
        ${trainedAsgCtes(IVF_TRAIN_ITERS)},
        asg AS (SELECT a.vec_id, a.cent_id, n.v, n.nrm,
                  row_number() OVER (PARTITION BY a.cent_id
                    ORDER BY a.vec_id) AS rk
                FROM (SELECT vec_id, cent_id FROM asg0 WHERE rn = 1) a
                JOIN n ON n.vec_id = a.vec_id),
        drp AS (SELECT DISTINCT b.vec_id
                FROM asg a JOIN asg b ON a.cent_id = b.cent_id
                  AND a.vec_id < b.vec_id
                  AND a.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
                WHERE ${cosSql("a", "b")} >= $SEMDEDUP_COS)
        SELECT vec_id, cent_id FROM asg
        WHERE vec_id NOT IN (SELECT vec_id FROM drp)
        ORDER BY vec_id"""

    // scalar-quantization code CTEs (the q_embed_quantize construction):
    // q = codes, qnrm = sqrt of the integer self-dot — shared by every
    // quantized-domain query; maxCode = 127 (int8) or 32767 (int16/"f16")
    def quantCtes(maxCode: Int) = s"""
        q0 AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        qc AS (SELECT vec_id, CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
                     ELSE list_transform(v, x -> CAST(round(x*$maxCode.0/mx) AS INT)) END AS q
               FROM q0),
        qn AS (SELECT vec_id, q,
                 sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS qnrm
               FROM qc)"""
    val int8Ctes = quantCtes(127)
    // int8 cosine between two qn-aliased rows: one integer dot, scales cancel
    def cosInt8Sql(a: String, b: String) =
      s"""round(CAST(list_sum(list_transform(range(1, ${DIM + 1}),
            i -> $a.q[i]*$b.q[i])) AS DOUBLE)/($a.qnrm*$b.qnrm), 6)"""
    // PQ: squared L2 via the same three-dot expansion the Spark kernel uses
    // (|a-b|^2 = a.a - 2 a.b + b.b, left-assoc sum), over one subspace
    def pqSqSql(a: String, b: String) =
      s"""(list_sum(list_transform(range(1, ${PQ_SUB + 1}), i -> $a[i]*$a[i]))
           - 2*list_sum(list_transform(range(1, ${PQ_SUB + 1}), i -> $a[i]*$b[i]))
           + list_sum(list_transform(range(1, ${PQ_SUB + 1}), i -> $b[i]*$b[i])))"""
    // per-subspace PQ block: slice -> smallest-id codebook init -> ONE Lloyd
    // iteration (R6 assignment, rounded means, empty cluster keeps previous)
    // -> dense positions -> encode. Mirrors Similarity.lloydL2/pqTopK exactly
    // (trainIters = 1 unrolled).
    def pqSubCtes(s: Int): String = {
      val lo = s * PQ_SUB + 1
      val hi = (s + 1) * PQ_SUB
      s"""
        ns$s AS (SELECT vec_id, v[$lo:$hi] AS v FROM n),
        ct${s}_0 AS (SELECT vec_id AS code, v AS cv FROM ns$s
                     ORDER BY vec_id LIMIT $PQ_CODES),
        asn$s AS (SELECT x.vec_id, c.code,
                    round(${pqSqSql("x.v", "c.cv")}, 6) AS d
                  FROM ns$s x CROSS JOIN ct${s}_0 c),
        bst$s AS (SELECT vec_id, code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY d, code) AS rn FROM asn$s) WHERE rn = 1),
        mn$s AS (SELECT code, dim,
                   CAST(CASE WHEN s6 >= 0 THEN (2*s6 + cnt) // (2*cnt)
                        ELSE -((-2*s6 + cnt) // (2*cnt)) END AS DOUBLE) / 1e6 AS m
                 FROM (
                   SELECT code, dim,
                          sum(CAST(round(x*1e6) AS BIGINT)) AS s6,
                          count(*) AS cnt FROM (
                     SELECT b.code, unnest(range(1, ${PQ_SUB + 1})) AS dim,
                            unnest(v.v) AS x
                     FROM bst$s b JOIN ns$s v ON v.vec_id = b.vec_id)
                   GROUP BY code, dim)),
        gl$s AS (SELECT code, list(m ORDER BY dim) AS cv FROM mn$s GROUP BY code),
        ct${s}_1 AS (SELECT c.code, coalesce(g.cv, c.cv) AS cv
                     FROM ct${s}_0 c LEFT JOIN gl$s g USING (code)),
        bk$s AS (SELECT row_number() OVER (ORDER BY code) - 1 AS pos, cv
                 FROM ct${s}_1),
        enc$s AS (SELECT vec_id, pos AS c$s FROM (
                    SELECT x.vec_id, b.pos,
                      row_number() OVER (PARTITION BY x.vec_id
                        ORDER BY round(${pqSqSql("x.v", "b.cv")}, 6), b.pos) AS rn
                    FROM ns$s x CROSS JOIN bk$s b) WHERE rn = 1)"""
    }

    // the in-memory PQ/ADC search tail (coded corpus, query subspaces, ADC
    // ranking) — shared verbatim by q_ann_pq (over raw vectors) and
    // q_ann_opq (over rotated vectors): only the `n` CTE feeding it differs
    val pqAdcTail = s"""
        cdd AS (SELECT e0.vec_id, e0.c0, e1.c1, e2.c2, e3.c3
                FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
                  JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
        qn AS (SELECT vec_id, ${(0 until PQ_M).map(s =>
                 s"v[${s * PQ_SUB + 1}:${(s + 1) * PQ_SUB}] AS s$s").mkString(", ")}
               FROM n WHERE vec_id < 10),
        p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                round(${(0 until PQ_M).map(s =>
                  s"round(${pqSqSql(s"q.s$s", s"b$s.cv")}, 6)").mkString(" + ")}, 6)
                  AS adist
              FROM qn q CROSS JOIN cdd x
                ${(0 until PQ_M).map(s =>
                  s"JOIN bk$s b$s ON b$s.pos = x.c$s").mkString(" ")}
              WHERE q.vec_id <> x.vec_id)
        SELECT query_id, neighbor_id, adist, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adist, neighbor_id) AS rank FROM p)
        WHERE rank <= $PQ_TOPK ORDER BY query_id, rank"""

    // the rotated twin of embBase: n carries H·D·P-rotated vectors. The
    // permutation CTEs regenerate opqPerm (indices ordered by md5 hash,
    // 'opqp_' prefix); `inv[k+1]` is coordinate k's Hadamard index, so the
    // fold runs over ORIGINAL coordinates k ascending — the same order the
    // Spark dot folds — with sign diagonal = md5('opq_'||i) parity and
    // Hadamard sign = bit_count(i&j) parity. Every factor is exactly
    // +/-0.125 for dim 64, so the rotation is bit-for-bit reproducible.
    val opqBase = s"""
      WITH ph AS (SELECT i, CAST(('0x' || substring(md5('opqp_' || i),1,8)) AS BIGINT) AS h
                  FROM range(0, $DIM) t(i)),
      pr AS (SELECT i, row_number() OVER (ORDER BY h, i) - 1 AS r FROM ph),
      ip AS (SELECT list(r ORDER BY i) AS inv FROM pr),
      e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
             FROM embeddings),
      e AS (SELECT vec_id, list_transform(range(0, $DIM), j ->
              round(list_sum(list_transform(range(0, $DIM), k ->
                v0[k+1] * (CASE WHEN ((CAST(('0x' || substring(md5('opq_' || inv[k+1]),1,8)) AS BIGINT) % 2)
                                  + bit_count(inv[k+1] & CAST(j AS BIGINT))) % 2 = 0
                            THEN 0.125 ELSE -0.125 END))), 6)) AS v
            FROM e0 CROSS JOIN ip),
      n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e)"""

    // IVF coarse stage (centroids, full assignment, inverted lists, probes) —
    // shared by every IVF query
    val ivfCoarseCtes = s"""
        cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                  ORDER BY vec_id LIMIT $IVF_CENTS),
        ac AS (SELECT x.vec_id, c.cent_id,
                      round(list_sum(list_transform(range(1, ${DIM + 1}),
                        i -> x.v[i]*c.cv[i]))/(x.nrm*c.cnrm), 6) AS ccos
               FROM n x CROSS JOIN cents c),
        asg0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, cent_id) AS rn FROM ac),
        inv AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY cent_id
                  ORDER BY vec_id) AS rk
                FROM asg0 WHERE rn = 1),
        qp AS (SELECT vec_id AS query_id, cent_id FROM asg0
               WHERE rn <= $IVF_NPROBE AND vec_id < 10)"""
    // shared by q_ann_ivf_int8 / q_ann_ivf_index (maxCode 127) and
    // q_ann_f16_index (maxCode 32767) — in-memory vs persisted vs 16-bit
    // candJoin filters the CANDIDATE rows (the stored lists) — the filtered-
    // ANN oracle hook: rk is computed on the unfiltered lists exactly like
    // the build-time cap, then matching candidates rank among themselves
    def ivfQuantSql(maxCode: Int, candJoin: String = "") = s"""
        $embBase,
        $ivfCoarseCtes,
        ${quantCtes(maxCode)},
        p AS (SELECT qp.query_id, inv.vec_id AS neighbor_id, qp.cent_id,
                ${cosInt8Sql("a", "b")} AS cos_q
              FROM qp JOIN inv ON qp.cent_id = inv.cent_id
                AND inv.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
              JOIN qn a ON a.vec_id = qp.query_id
              JOIN qn b ON b.vec_id = inv.vec_id
              $candJoin
              WHERE qp.query_id <> inv.vec_id)
        SELECT query_id, neighbor_id, cent_id, cos_q, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_q DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $IVF_TOPK ORDER BY query_id, rank"""
    val ivfInt8Sql = ivfQuantSql(127)

    // the q_embed_quantize construction at either code width (127 = int8,
    // 32767 = int16): codes, scale, digest, and the max dequantization error
    def quantizeSql(maxCode: Int) = s"""
        $embBase,
        q0 AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM n),
        q1 AS (SELECT vec_id, v, mx,
                 CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
                      ELSE list_transform(v, x -> CAST(round(x*$maxCode.0/mx) AS INT)) END AS q
               FROM q0)
        SELECT vec_id, len(v)::BIGINT AS n_dims, round(mx/$maxCode.0, 9) AS scale,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               md5(array_to_string(q, ',')) AS q_digest,
               round(list_max(list_transform(range(1, ${DIM + 1}),
                 i -> abs(v[i] - q[i]*mx/$maxCode.0))), 9) AS max_err
        FROM q1 ORDER BY vec_id"""

    // shared by q_ann_ivf and q_ann_ivf_kernel (same semantics, different
    // physical assignment expression on the Spark side)
    val ivfSql = s"""
        $embBase,
        $ivfCoarseCtes,
        p AS (SELECT qp.query_id, inv.vec_id AS neighbor_id, qp.cent_id,
                     ${cosSql("q", "c")} AS cos_sim
              FROM qp JOIN inv ON qp.cent_id = inv.cent_id
                AND inv.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
              JOIN n q ON q.vec_id = qp.query_id
              JOIN n c ON c.vec_id = inv.vec_id
              WHERE qp.query_id <> inv.vec_id)
        SELECT query_id, neighbor_id, cent_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $IVF_TOPK ORDER BY query_id, rank"""

    // shared by q_ann_ivf_pq (in-memory), q_ann_pq_index (persisted) and —
    // via candJoin, the ivfQuantSql filtered-ANN hook — q_ann_pq_filtered:
    // identical deterministic construction either way
    def ivfPqSqlWith(candJoin: String) = s"""
        $embBase,
        $ivfCoarseCtes,
        ${(0 until PQ_M).map(pqSubCtes).mkString(",")},
        cdd AS (SELECT e0.vec_id, e0.c0, e1.c1, e2.c2, e3.c3
                FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
                  JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
        qsub AS (SELECT vec_id, ${(0 until PQ_M).map(s =>
                   s"v[${s * PQ_SUB + 1}:${(s + 1) * PQ_SUB}] AS s$s").mkString(", ")}
                 FROM n WHERE vec_id < 10),
        p AS (SELECT qp.query_id, inv.vec_id AS neighbor_id, qp.cent_id,
                round(${(0 until PQ_M).map(s =>
                  s"round(${pqSqSql(s"q.s$s", s"b$s.cv")}, 6)").mkString(" + ")}, 6)
                  AS adist
              FROM qp JOIN inv ON qp.cent_id = inv.cent_id
                AND inv.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
                JOIN cdd x ON x.vec_id = inv.vec_id
                JOIN qsub q ON q.vec_id = qp.query_id
                ${(0 until PQ_M).map(s =>
                  s"JOIN bk$s b$s ON b$s.pos = x.c$s").mkString(" ")}
                $candJoin
              WHERE qp.query_id <> inv.vec_id)
        SELECT query_id, neighbor_id, cent_id, adist, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adist, neighbor_id) AS rank FROM p)
        WHERE rank <= $PQ_TOPK ORDER BY query_id, rank"""
    val ivfPqSql = ivfPqSqlWith("")

    Map(
      "q_ann_bruteforce" -> s"""
        $embBase,
        p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ${cosSql("q", "c")} AS cos_sim
              FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $TOPK ORDER BY query_id, rank""",
      "q_ann_lsh" -> s"""
        $embBase,
        b0 AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
        b AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
                AS rk FROM b0),
        p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
                     ${cosSql("q", "c")} AS cos_sim
              FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
               AND c.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET})
        SELECT query_id, neighbor_id, bucket, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $LSH_TOPK ORDER BY query_id, rank""",
      // q_stream_cov maintains the same moment sums as complete-mode state
      // and assembles through the same exact-integer tail — one relation,
      // one oracle
      "q_stream_cov" -> embedCovSql,
      "q_embed_cov" -> embedCovSql,
      // dim-256 band: the shifted-block index mapping is
      // src = ((i mod 64) + 16·(i div 64)) mod 64; the oracle prunes to
      // the a.i < 4 band up front — the band of the full matrix is
      // band-computable, so the relation matches the engine's
      // full-triangle-then-filter exactly
      "q_embed_cov_dim256" -> """
        WITH e AS (
          SELECT vec_id, CAST(i0 AS INTEGER) AS i,
            CAST(round(CAST(embedding[
                CAST(((i0 % 64) + 16 * (i0 // 64)) % 64 + 1 AS INTEGER)]
              AS DOUBLE) * 1e6) AS BIGINT) AS x6
          FROM embeddings, unnest(range(0, 256)) AS u(i0)
          WHERE vec_id < 512),
        m AS (SELECT a.i, b.i AS j, count(*) AS n,
                CAST(sum(a.x6) AS BIGINT) AS sx, CAST(sum(b.x6) AS BIGINT) AS sy,
                CAST(sum(a.x6 * b.x6) AS BIGINT) AS sxy,
                CAST(sum(a.x6 * a.x6) AS BIGINT) AS sxx,
                CAST(sum(b.x6 * b.x6) AS BIGINT) AS syy
              FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
              WHERE a.i < 4
              GROUP BY 1, 2)
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
               round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 9) AS cov,
               round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS corr
        FROM m ORDER BY i, j""",
      // the cov matrix (0-based, symmetrized) + 3 power-iteration rounds
      // unrolled: every matrix-vector/norm fold through round9-scaled
      // longs, iterates rounded to 6 — the trainer's exact arithmetic
      "q_embed_pca" -> s"""
        $pcaCtes,
        lam AS (SELECT CAST(sum(CAST(round(cv.c * a.v * b.v * 1e9) AS BIGINT))
                  AS DOUBLE) / 1e9 AS lambda
                FROM cv JOIN v3 a ON cv.i = a.j JOIN v3 b ON cv.j = b.j)
        SELECT CAST(v3.j AS BIGINT) AS dim, v3.v AS loading, lam.lambda
        FROM v3, lam ORDER BY dim""",
      // deflation + the same unrolled engine-exact rounds → component 2
      "q_embed_pca2" -> pca2Sql,
      // the trained loadings applied: per-vector scalar projection through
      // the same round9-scaled-long dot fold
      "q_embed_pca_apply" -> pcaApplySql,
      // streamed projection over the persisted artifact is stateless per
      // batch ⇒ equals the batch apply exactly (shared oracle)
      "q_stream_pca" -> pcaApplySql,
      // q_ann_lsh's ranked pairs → mutual-edge filter → recursive-CTE
      // reachability (the q_graph_components fixpoint) over the mutual
      // edges; isolated vectors label themselves
      "q_cluster_knn" -> s"""
        ${embBase.replaceFirst("WITH", "WITH RECURSIVE")},
        b0 AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
        b AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
                AS rk FROM b0),
        p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ${cosSql("q", "c")} AS cos_sim
              FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
               AND c.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}),
        knn AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p)
                WHERE rank <= $LSH_TOPK),
        mut AS (SELECT a.query_id AS src, a.neighbor_id AS dst
                FROM knn a JOIN knn b ON a.query_id = b.neighbor_id
                  AND a.neighbor_id = b.query_id
                WHERE a.query_id < a.neighbor_id),
        ee AS (SELECT src, dst FROM mut UNION ALL SELECT dst, src FROM mut),
        r AS (
          SELECT src AS node, src AS lbl FROM ee
          UNION
          SELECT e2.dst AS node, r.lbl FROM r JOIN ee e2 ON e2.src = r.node),
        comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY 1),
        lab AS (SELECT e.vec_id, coalesce(c.component, e.vec_id) AS cluster
                FROM n e LEFT JOIN comp c ON e.vec_id = c.node),
        sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY 1)
        SELECT l.vec_id, l.cluster, s.cluster_size
        FROM lab l JOIN sz s USING (cluster)
        ORDER BY l.vec_id""",
      // random projection: regenerate the md5-derived matrix rows inline
      // (the q_ann_lsh hyperplane construction with the 'p' seed prefix),
      // one scalar output column per projected dim
      "q_embed_project" -> s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings)
        SELECT vec_id,
               ${(0 until PROJ_DIM).map(j => s"${projCompSql(j)} AS p$j")
                 .mkString(",\n               ")}
        FROM e ORDER BY vec_id""",

      // PQ-ADC: 4 independent subspace Lloyd trainings + encodings, then
      // rank by the left-assoc sum of per-subspace rounded distances
      "q_ann_pq" -> s"""
        $embBase,
        ${(0 until PQ_M).map(pqSubCtes).mkString(",")},
        $pqAdcTail""",

      // OPQ-lite: identical PQ chain over the randomized-Hadamard-rotated
      // vectors — the rotation unrolled inline (sign diagonal from md5
      // parity, Hadamard sign from bit_count(i&j) parity, factor exactly
      // +/-0.125 for dim 64, R6-rounded components)
      "q_ann_opq" -> s"""
        $opqBase,
        ${(0 until PQ_M).map(pqSubCtes).mkString(",")},
        $pqAdcTail""",

      // matryoshka: prefix-slice cosine shortlist at k' = 4k, exact
      // full-vector re-rank — truncation IS the compression
      "q_ann_matryoshka" -> s"""
        $embBase,
        pp AS (SELECT vec_id, v[1:16] AS p,
                 sqrt(list_sum(list_transform(v[1:16], x -> x*x))) AS pnrm
               FROM n),
        sp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_sum(list_transform(range(1, 17),
                   i -> q.p[i]*c.p[i])) / (q.pnrm*c.pnrm), 6) AS pcos
               FROM pp q JOIN pp c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        sl AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY pcos DESC, neighbor_id) AS rk FROM sp)
               WHERE rk <= ${4 * TOPK}),
        rr AS (SELECT sl.query_id, sl.neighbor_id, ${cosSql("q", "c")} AS cos_sim
               FROM sl JOIN n q ON q.vec_id = sl.query_id
                 JOIN n c ON c.vec_id = sl.neighbor_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM rr)
        WHERE rank <= $TOPK ORDER BY query_id, rank""",

      // exact re-rank: the q_ann_pq chain kept as a shortlist CTE at
      // k' = 4k, then joined back to the raw vectors for an exact cosine
      // top-k — fully SQL-expressible end to end
      "q_ann_rerank" -> s"""
        $embBase,
        ${(0 until PQ_M).map(pqSubCtes).mkString(",")},
        cdd AS (SELECT e0.vec_id, e0.c0, e1.c1, e2.c2, e3.c3
                FROM enc0 e0 JOIN enc1 e1 USING (vec_id)
                  JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)),
        qsub AS (SELECT vec_id, ${(0 until PQ_M).map(s =>
                   s"v[${s * PQ_SUB + 1}:${(s + 1) * PQ_SUB}] AS s$s").mkString(", ")}
                 FROM n WHERE vec_id < 10),
        p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                round(${(0 until PQ_M).map(s =>
                  s"round(${pqSqSql(s"q.s$s", s"b$s.cv")}, 6)").mkString(" + ")}, 6)
                  AS adist
              FROM qsub q CROSS JOIN cdd x
                ${(0 until PQ_M).map(s =>
                  s"JOIN bk$s b$s ON b$s.pos = x.c$s").mkString(" ")}
              WHERE q.vec_id <> x.vec_id),
        sl AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY adist, neighbor_id) AS rk FROM p)
               WHERE rk <= ${4 * PQ_TOPK}),
        rr AS (SELECT sl.query_id, sl.neighbor_id, ${cosSql("q", "c")} AS cos_sim
               FROM sl JOIN n q ON q.vec_id = sl.query_id
                       JOIN n c ON c.vec_id = sl.neighbor_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM rr)
        WHERE rank <= $PQ_TOPK ORDER BY query_id, rank""",

      // MMR: brute-force shortlist -> candidate pairwise sims -> the greedy
      // selection UNROLLED one CTE trio per step (the trainedAsgCtes
      // pattern); lambda = 1/2 makes each step's ordering the exact long
      // key rel6 - maxsim6, so the sequential loop is bit-reproducible
      "q_ann_mmr" -> {
        val stages = (2 to MMR_K).map { t =>
          s"""
        ms$t AS (SELECT s.query_id, s.a, max(s.sim6) AS m FROM sims s
                 JOIN sel${t - 1} x ON x.query_id = s.query_id AND x.id = s.b
                 GROUP BY 1, 2),
        pk$t AS (SELECT query_id, id, $t AS mmr_rank FROM (
                   SELECT c.query_id, c.id,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY (c.rel6 - m.m) DESC, c.id) AS rn
                   FROM cand c
                   JOIN ms$t m ON m.query_id = c.query_id AND m.a = c.id
                   LEFT JOIN sel${t - 1} x
                     ON x.query_id = c.query_id AND x.id = c.id
                   WHERE x.id IS NULL) WHERE rn = 1),
        sel$t AS (SELECT query_id, id, mmr_rank FROM sel${t - 1}
                  UNION ALL SELECT query_id, id, mmr_rank FROM pk$t)"""
        }.mkString(",")
        s"""
        $embBase,
        bf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      ${cosSql("q", "c")} AS cos_sim
               FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        cand AS (SELECT query_id, neighbor_id AS id,
                        CAST(round(cos_sim * 1e6) AS BIGINT) AS rel6 FROM (
                   SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS rank FROM bf)
                 WHERE rank <= $MMR_SHORT),
        cv AS (SELECT s.query_id, s.id, n.v, n.nrm
               FROM cand s JOIN n ON n.vec_id = s.id),
        sims AS (SELECT x.query_id, x.id AS a, y.id AS b,
                        CAST(round(${cosSql("x", "y")} * 1e6) AS BIGINT) AS sim6
                 FROM cv x JOIN cv y
                   ON x.query_id = y.query_id AND x.id <> y.id),
        sel1 AS (SELECT query_id, id, 1 AS mmr_rank FROM (
                   SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY rel6 DESC, id) AS rn FROM cand) WHERE rn = 1),
        $stages
        SELECT s.query_id, s.id AS neighbor_id,
               round(CAST(c.rel6 AS DOUBLE) / 1e6, 6) AS cos_sim, s.mmr_rank
        FROM sel$MMR_K s JOIN cand c ON c.query_id = s.query_id AND c.id = s.id
        ORDER BY s.query_id, s.mmr_rank"""
      },

      // IVF+PQ: coarse stage CTEs (cents/inv/qp) + the PQ training/encode
      // blocks, ranked by ADC within the probed lists only
      "q_ann_ivf_pq" -> ivfPqSql,
      // the persisted index is the same deterministic construction
      // round-tripped through parquet, so the oracle is shared
      "q_ann_pq_index" -> ivfPqSql,
      // the PQ chain with the q_ann_filtered candidate-filter hook: matching
      // candidates rank among themselves (rk capped on unfiltered lists,
      // exactly like the build-time cap)
      "q_ann_pq_filtered" -> ivfPqSqlWith(
        s"JOIN embeddings el ON el.vec_id = inv.vec_id AND el.label = $FILTER_LABEL"),
      // streaming search unions per-batch results of the same search
      "q_stream_pq" -> ivfPqSql,
      // ANN over the projected space: the randomProject consumer — cosine
      // top-k over the 8-dim projections. The deterministic projection makes
      // even this APPROXIMATE path exactly SQL-reproducible.
      "q_ann_projected" -> s"""
        WITH e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        proj AS (SELECT vec_id,
                   list_value(${(0 until PROJ_DIM).map(projCompSql)
                     .mkString(",\n                     ")}) AS pv
                 FROM e),
        n AS (SELECT vec_id, pv,
                sqrt(list_sum(list_transform(pv, x -> x*x))) AS nrm
              FROM proj),
        p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_sum(list_transform(range(1, ${PROJ_DIM + 1}),
                       i -> q.pv[i] * c.pv[i])) / (q.nrm * c.nrm), 6) AS cos_sim
              FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $TOPK ORDER BY query_id, rank""",
      "q_embed_quantize" -> quantizeSql(127),
      "q_embed_quantize16" -> quantizeSql(32767),
      // quantized-domain search: the same code construction as
      // q_embed_quantize, then THREE exact integer dots per pair (scales
      // cancel for cosine) — only the final divide/round are float ops
      "q_ann_int8" -> s"""
        $embBase,
        $int8Ctes,
        p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ${cosInt8Sql("a", "b")} AS cos_q
              FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
        SELECT query_id, neighbor_id, cos_q, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_q DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $TOPK ORDER BY query_id, rank""",
      // IVF coarse stage on floats + in-list ranking over int8 codes
      "q_ann_ivf_int8" -> ivfInt8Sql,
      "q_ann_filtered" -> ivfQuantSql(127,
        s"JOIN embeddings el ON el.vec_id = inv.vec_id AND el.label = $FILTER_LABEL"),
      // the persisted-index search is the same deterministic computation
      // (build + search split across a parquet round-trip), so oracle shared
      "q_ann_ivf_index" -> ivfInt8Sql,
      // persisted hybrid: the int8-index chain (same CTEs as
      // q_ann_ivf_index, queries narrowed to < HYB_NQ after ranking —
      // per-query ranks are independent) fused with the shared BM25 chain
      // (PipelineQueries.bm25RankCtes — one definition, no drift) by RRF
      "q_search_hybrid_stored" -> s"""
        $embBase,
        $ivfCoarseCtes,
        ${quantCtes(127)},
        p AS (SELECT qp.query_id, inv.vec_id AS neighbor_id,
                ${cosInt8Sql("a", "b")} AS cos_q
              FROM qp JOIN inv ON qp.cent_id = inv.cent_id
                AND inv.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
              JOIN qn a ON a.vec_id = qp.query_id
              JOIN qn b ON b.vec_id = inv.vec_id
              WHERE qp.query_id <> inv.vec_id),
        ivr AS (SELECT query_id, neighbor_id AS doc_id, rank FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_q DESC, neighbor_id) AS rank FROM p)
                WHERE rank <= $IVF_TOPK AND query_id < $HYB_NQ),
        ${PipelineQueries.bm25RankCtes(HYB_NQ)},
        lr AS (SELECT query_id, doc_id, rank FROM br WHERE rank <= $HYB_KLEX),
        f AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
                     coalesce(l.doc_id, v.doc_id) AS doc_id,
                     (CASE WHEN l.rank IS NULL THEN 0.0
                           ELSE 1.0 / (CAST(60 AS DOUBLE) + CAST(l.rank AS DOUBLE)) END
                      + CASE WHEN v.rank IS NULL THEN 0.0
                             ELSE 1.0 / (CAST(60 AS DOUBLE) + CAST(v.rank AS DOUBLE)) END)
                       AS rrf
              FROM lr l FULL JOIN ivr v
                ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
        fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, doc_id) AS rank FROM f)
        SELECT query_id, doc_id, round(rrf, 6) AS rrf_score, rank
        FROM fr WHERE rank <= $HYB_K ORDER BY query_id, rank""",
      // stored list sizes == assignment group sizes (build is uncapped; the
      // anchor cap applies at search), so the coarse chain is the oracle
      "q_ann_index_stats" -> s"""
        $embBase,
        $ivfCoarseCtes,
        pc AS (SELECT cent_id, count(*)::BIGINT AS n_vectors
               FROM inv GROUP BY cent_id),
        t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS tot FROM pc)
        SELECT cent_id, n_vectors,
               round(CAST(n_vectors AS DOUBLE) / (SELECT tot FROM t), 6) AS share
        FROM pc ORDER BY cent_id""",
      // the 16-bit index is the identical construction at maxCode 32767
      "q_ann_f16_index" -> ivfQuantSql(32767),
      // streaming retrieval over the same persisted f16 index and query set
      "q_stream_f16" -> ivfQuantSql(32767),
      // streaming retrieval over the same persisted index and query set —
      // per-batch search unions to exactly the batch search's result
      "q_stream_ann" -> ivfInt8Sql,
      // base-build + append equals the full-corpus build exactly (stored
      // centroids = the same smallest-id init; re-capped union = full cap)
      "q_ann_ivf_append" -> ivfInt8Sql,
      "q_ann_ivf" -> ivfSql,
      // the IVF coarse assignment (asg0 rn=1) feeding token counts — the
      // tokenizer SQL is the raw-string twin of PipelineQueries' toksSql
      "q_cluster_topics" -> {
        val toksD = """string_split_regex(trim(d.text), '\s+')"""
        s"""
        $embBase,
        $ivfCoarseCtes,
        asg AS (SELECT vec_id, cent_id FROM asg0 WHERE rn = 1),
        sizes AS (SELECT cent_id, count(*) AS n_docs FROM asg GROUP BY 1),
        tk AS (SELECT a.cent_id, unnest($toksD) AS tok
               FROM documents d JOIN asg a ON d.doc_id = a.vec_id),
        cnt AS (SELECT cent_id, tok, count(*) AS n FROM tk GROUP BY 1, 2),
        top AS (SELECT *, row_number() OVER (PARTITION BY cent_id
                  ORDER BY n DESC, tok) AS rank FROM cnt)
        SELECT t.cent_id, s.n_docs, CAST(t.rank AS BIGINT) AS rank, t.tok, t.n
        FROM top t JOIN sizes s USING (cent_id)
        WHERE t.rank <= 5 ORDER BY t.cent_id, t.rank"""
      },
      // bit-identical by construction (the kernel variant changes only the
      // physical assignment expression), so the oracle is shared
      "q_ann_ivf_kernel" -> ivfSql,
      // recall@k: the q_ann_ivf chain as the approximate side (ap), brute
      // force as the exact side (xp), counted per query — k-ths never land
      // on a round-6 boundary, so the ratio is engine-exact
      "q_ann_recall" -> s"""
        $embBase,
        $ivfCoarseCtes,
        ap0 AS (SELECT qp.query_id, inv.vec_id AS neighbor_id,
                     ${cosSql("q", "c")} AS cos_sim
              FROM qp JOIN inv ON qp.cent_id = inv.cent_id
                AND inv.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
              JOIN n q ON q.vec_id = qp.query_id
              JOIN n c ON c.vec_id = inv.vec_id
              WHERE qp.query_id <> inv.vec_id),
        ap AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank FROM ap0)
               WHERE rank <= $IVF_TOPK),
        xp0 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ${cosSql("q", "c")} AS cos_sim
              FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        xp AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank FROM xp0)
               WHERE rank <= $IVF_TOPK),
        h AS (SELECT x.query_id, count(a.neighbor_id) AS n_hit
              FROM xp x LEFT JOIN ap a
                ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
              GROUP BY 1)
        SELECT query_id, n_hit,
               round(CAST(n_hit AS DOUBLE) / $IVF_TOPK, 6) AS recall
        FROM h ORDER BY query_id""",
      // trained IVF: the Lloyd loop unrolled as one CTE per iteration —
      // assignment (rounded cosine, cent_id tiebreak) → per-dim rounded means
      // → empty clusters keep the previous centroid (coalesce). Identical
      // rounding on both sides makes the whole training loop exact.
      "q_ann_ivf_trained" -> s"""
        ${trainedAsgCtes(IVF_TRAIN_ITERS)},
        inv AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY cent_id
                  ORDER BY vec_id) AS rk
                FROM asg0 WHERE rn = 1),
        qp AS (SELECT vec_id AS query_id, cent_id FROM asg0
               WHERE rn <= $IVF_NPROBE AND vec_id < 10),
        p AS (SELECT qp.query_id, inv.vec_id AS neighbor_id, qp.cent_id,
                     ${cosSql("q", "c")} AS cos_sim
              FROM qp JOIN inv ON qp.cent_id = inv.cent_id
                AND inv.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
              JOIN n q ON q.vec_id = qp.query_id
              JOIN n c ON c.vec_id = inv.vec_id
              WHERE qp.query_id <> inv.vec_id)
        SELECT query_id, neighbor_id, cent_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p)
        WHERE rank <= $IVF_TOPK ORDER BY query_id, rank""",
      // diversity sample: k per trained-centroid cluster in md5-hash order —
      // the final assignment (rn = 1) feeds the q_sample_group window shape
      "q_sample_diverse" -> s"""
        ${trainedAsgCtes(IVF_TRAIN_ITERS)},
        asg AS (SELECT vec_id, cent_id FROM asg0 WHERE rn = 1),
        sel AS (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY cent_id
                  ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)),1,8)) AS BIGINT),
                           vec_id) AS sample_rank
                FROM asg)
        SELECT vec_id, cent_id, sample_rank FROM sel
        WHERE sample_rank <= $DIVERSE_K ORDER BY cent_id, sample_rank""",
      // semantic dedup: final assignment (rn = 1) -> within-cluster pairs
      // against the first maxBucket owners (anchor cap, rk) -> drop any
      // vector with an earlier near-cosine owner. The dropped set is a
      // join CTE (DuckDB can't correlate outer columns into list lambdas,
      // so NOT EXISTS with the cosine inside is unbindable); NOT IN over
      // never-null ids = the left_anti
      "q_dedup_semantic" -> semanticDedupSql,
      // the streaming form converges to the same kept set by construction
      // (id-ordered batches against the capped owner state) — shared oracle
      "q_stream_semantic" -> semanticDedupSql,
      "q_embed_neardup" -> s"""
        $embBase,
        b0 AS (SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n),
        b AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
                AS rk FROM b0)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
               ${cosSql("a", "b")} AS cos_sim
        FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         AND a.rk <= ${graft.ops.Similarity.DEFAULT_MAX_BUCKET}
        WHERE ${cosSql("a", "b")} >= $NEARDUP_COS
        ORDER BY id_a, id_b""",
      "q_multimodal" -> multimodalSql,
      // the stateless streaming twin defines the same relation
      "q_stream_multimodal" -> multimodalSql,
      // the injected custom decoder, recomputed independently: digest of
      // the reversed text, 1-indexed position-weighted byte sum (ASCII
      // corpus ⇒ bytes == character codes)
      "q_multimodal_custom" -> """
        WITH b AS (SELECT doc_id, text,
          list_transform(range(1, length(text)+1),
                         i -> i * ascii(substring(text, i, 1))) AS w
          FROM documents)
        SELECT doc_id, length(text)::BIGINT AS n_bytes,
               sha256(reverse(text)) AS sha256,
               CAST(list_sum(w) AS BIGINT) AS sum_bytes,
               CAST(list_sum(w) AS DOUBLE) / length(text) AS mean_byte
        FROM b ORDER BY doc_id""",
      // frames = 64-byte slices of the utf-8 media bytes (ASCII text, so byte
      // slices == substrings); every 3rd frame, max 5 (idx < 3*5)
      "q_multimodal_frames" -> """
        WITH f AS (SELECT doc_id, text, length(text) // 64 AS n_frames
                   FROM documents),
        idx AS (SELECT doc_id, text, unnest(range(0, n_frames, 3)) AS frame_idx
                FROM f)
        SELECT doc_id, frame_idx,
               md5(substring(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
        FROM idx WHERE frame_idx < 15
        ORDER BY doc_id, frame_idx""",
      "q_stream_tumbling" -> """
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
      "q_stream_histo" -> """
        SELECT CASE WHEN value < 0.0 THEN -1 WHEN value >= 400.0 THEN 8
                    ELSE LEAST(CAST(floor((value - 0.0) / ((400.0 - 0.0) / 8)) AS INT), 7) END AS bin,
               count(*) AS n
        FROM events GROUP BY 1 ORDER BY bin""",
      "q_stream_histo_weighted" -> """
        SELECT CASE WHEN user_id < 0.0 THEN -1 WHEN user_id >= 150.0 THEN 10
                    ELSE LEAST(CAST(floor((user_id - 0.0) / ((150.0 - 0.0) / 10)) AS INT), 9) END AS bin,
               CAST(CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / CAST(100.0 AS DOUBLE) AS w,
               count(*) AS n_fills
        FROM events GROUP BY 1 ORDER BY bin""",
      "q_interval_join" -> s"""
        WITH l AS (SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                   FROM events),
        f AS (SELECT *, CASE WHEN prev IS NULL
                     OR ts - prev > INTERVAL '$GAP_MIN minutes' THEN 1 ELSE 0 END AS brk
              FROM l),
        g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        s AS (SELECT user_id, epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
              FROM g GROUP BY user_id, sid),
        a AS (SELECT user_id AS a_user, lo AS a_lo, hi AS a_hi FROM s
              WHERE user_id >= 0 AND user_id < 40),
        b AS (SELECT user_id AS b_user, lo AS b_lo, hi AS b_hi FROM s
              WHERE user_id >= 40 AND user_id < 80)
        SELECT a_user, b_user, a_lo, b_lo,
               least(a_hi, b_hi) - greatest(a_lo, b_lo) AS overlap_us
        FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
        ORDER BY a_user, a_lo, b_user, b_lo""",
      "q_snapshot_diff" -> """
        WITH a AS (SELECT user_id, event_type, count(*) AS n_events,
                     CAST(sum(round(value*100)::BIGINT) AS BIGINT) AS cents
                   FROM events WHERE ts < TIMESTAMP '2024-01-05' GROUP BY 1, 2),
        b AS (SELECT user_id, event_type, count(*) AS n_events,
                CAST(sum(round(value*100)::BIGINT) AS BIGINT) AS cents
              FROM events WHERE user_id % 10 <> 3 GROUP BY 1, 2),
        j AS (SELECT coalesce(a.user_id, b.user_id) AS user_id,
                     coalesce(a.event_type, b.event_type) AS event_type,
                     a.n_events AS o_n, b.n_events AS n_n,
                     a.cents AS o_c, b.cents AS n_c
              FROM a FULL JOIN b ON a.user_id = b.user_id
               AND a.event_type = b.event_type),
        c AS (SELECT *, CASE WHEN o_n IS NULL THEN 'insert'
                             WHEN n_n IS NULL THEN 'delete'
                             WHEN o_n <> n_n OR o_c <> n_c THEN 'update'
                             ELSE 'unchanged' END AS change_type FROM j)
        SELECT user_id, event_type, change_type,
               coalesce(o_n, -1) AS old_n_events, coalesce(n_n, -1) AS new_n_events,
               coalesce(o_c, -1) AS old_cents, coalesce(n_c, -1) AS new_cents
        FROM c WHERE change_type <> 'unchanged'
        ORDER BY user_id, event_type""",
      // upsert = carried (not upserted, not deleted) UNION the change batch;
      // evens survive the %7 delete because the batch re-inserts them.
      // The streaming CDC apply converges to the same final table
      // (disjoint keys -> batching-invariant), so it shares the oracle.
      "q_snapshot_upsert" -> upsertFinalSql,
      "q_stream_upsert" -> upsertFinalSql,
      // a metadata drop leaves survivors bit-identical under their original
      // owner version (0) — the oracle is just the partition rollup
      "q_part_drop" -> """
        SELECT lang, count(*) AS n_rows, CAST(0 AS BIGINT) AS owner_version
        FROM documents WHERE lang <> 'en'
        GROUP BY lang ORDER BY lang""",
      // partitioned merge: untouched langs carry over; en evens doubled and
      // re-inserted over the %7 delete, en odd %7 gone; xx is the new
      // partition (ids offset by 10000)
      // the table after the purge is simply the source minus the cohort
      "q_part_forget" -> """
        SELECT event_id, user_id, event_type,
               round(value*100)::BIGINT AS cents
        FROM events WHERE coalesce(user_id, -1) % 97 <> 5
        ORDER BY event_id""",
      "q_part_upsert" -> """
        SELECT doc_id, lang, n_chars FROM (
          SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
          FROM documents WHERE lang <> 'en'
          UNION ALL
          SELECT doc_id, lang, CAST(length(text) AS BIGINT)
          FROM documents
          WHERE lang = 'en' AND doc_id % 2 <> 0 AND doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id, lang, 2 * CAST(length(text) AS BIGINT)
          FROM documents WHERE lang = 'en' AND doc_id % 2 = 0
          UNION ALL
          SELECT doc_id + 10000, 'xx', CAST(length(text) AS BIGINT)
          FROM documents WHERE doc_id < 5)
        ORDER BY doc_id""",
      // schema evolution: pre-evolution partitions read the declared default
      // (0.5); the rewritten lang=en partition carries writer values — the
      // division is the same IEEE expression in both engines
      "q_part_evolve" -> """
        SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN lang = 'en'
                    THEN CAST(length(text) AS DOUBLE) / 1000.0
                    ELSE 0.5 END AS quality
        FROM documents ORDER BY doc_id""",
      // a metadata column drop is invisible to the surviving columns; the
      // post-drop upsert tripled en's n_chars
      "q_part_dropcol" -> """
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN 3 * CAST(length(text) AS BIGINT)
                    ELSE CAST(length(text) AS BIGINT) END AS n_chars
        FROM documents ORDER BY doc_id""",
      // bloom skipping must be invisible too: same rows as the plain equality
      "q_snapshot_point" -> """
        SELECT doc_id, lang, md5(text) AS text_md5,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 123)
        ORDER BY doc_id""",
      // skipping must be invisible in the result: same rows as a plain range
      "q_snapshot_skip" -> """
        SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
        FROM documents WHERE doc_id BETWEEN 100 AND 199
        ORDER BY doc_id""",
      "q_stream_sink" -> """
        SELECT CASE WHEN value < 0.0 THEN -1 WHEN value >= 400.0 THEN 8
                    ELSE LEAST(CAST(floor((value - 0.0) / ((400.0 - 0.0) / 8)) AS INT), 7) END AS bin,
               count(*) AS n
        FROM events GROUP BY 1 ORDER BY bin""",
      // each rule's count re-derived relationally; pass = (violations == 0)
      "q_stream_quarantine" -> """
        WITH tagged AS (
          SELECT event_id, concat_ws(';',
            CASE WHEN event_type IS NULL
                      OR event_type NOT IN ('view', 'click', 'purchase')
                 THEN 'in_set(event_type)' END,
            CASE WHEN value IS NULL OR value < 0.0 OR value > 40.0
                 THEN 'in_range(value, 0.0, 40.0)' END) AS failed
          FROM events)
        SELECT event_id, failed FROM tagged
        WHERE length(failed) > 0
        ORDER BY event_id""",
      // both admissions derived independently: strict-pass rows carry v1,
      // strict-fail-but-relaxed-pass rows carry v2, the rest stay out
      // (NULL event_type/value violate every rule, as in the engine)
      "q_stream_readmit" -> """
        WITH t AS (
          SELECT event_id, event_type, round(value*100)::BIGINT AS cents,
            coalesce(event_type IN ('view','click','purchase')
              AND value >= 0.0 AND value <= 40.0, FALSE) AS ok_strict,
            coalesce(event_type IN ('view','click','purchase','signup')
              AND value >= 0.0 AND value <= 200.0, FALSE) AS ok_relaxed
          FROM events)
        SELECT event_id, event_type, cents,
               CASE WHEN ok_strict THEN 1 ELSE 2 END::BIGINT AS admitted_v
        FROM t WHERE ok_strict OR ok_relaxed
        ORDER BY event_id""",
      "q_snapshot_compact" -> """
        SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(8 AS BIGINT) AS n_files_before, CAST(2 AS BIGINT) AS n_files_after
        FROM documents GROUP BY lang ORDER BY lang""",
      "q_expectations_quarantine" -> """
        WITH dup AS (SELECT l_orderkey, l_linenumber FROM lineitem
                     GROUP BY 1, 2 HAVING count(*) > 1),
        tagged AS (
          SELECT l.l_orderkey, l.l_linenumber,
                 concat_ws(';',
                   CASE WHEN l.l_orderkey IS NULL THEN 'not_null(l_orderkey)' END,
                   CASE WHEN l.l_quantity IS NULL OR l.l_quantity < 1
                             OR l.l_quantity > 49
                        THEN 'in_range(l_quantity, 1.0, 49.0)' END,
                   CASE WHEN d.l_orderkey IS NOT NULL
                        THEN 'unique(l_orderkey,l_linenumber)' END) AS failed
          FROM lineitem l
          LEFT JOIN dup d ON l.l_orderkey = d.l_orderkey
            AND l.l_linenumber = d.l_linenumber)
        SELECT l_orderkey, l_linenumber, failed FROM tagged
        WHERE length(failed) > 0
        ORDER BY l_orderkey, l_linenumber, failed""",
      "q_expectations" -> """
        WITH r AS (
          SELECT 0 AS rule_idx, 'not_null(l_orderkey)' AS rule,
                 count(*) FILTER (l_orderkey IS NULL) AS n_violations
          FROM lineitem
          UNION ALL
          SELECT 1, 'not_null(l_shipdate)',
                 count(*) FILTER (l_shipdate IS NULL) FROM lineitem
          UNION ALL
          SELECT 2, 'in_range(l_quantity, 1.0, 50.0)',
                 count(*) FILTER (l_quantity IS NULL OR l_quantity < 1.0
                   OR l_quantity > 50.0) FROM lineitem
          UNION ALL
          SELECT 3, 'in_range(l_quantity, 1.0, 49.0)',
                 count(*) FILTER (l_quantity IS NULL OR l_quantity < 1.0
                   OR l_quantity > 49.0) FROM lineitem
          UNION ALL
          SELECT 4, 'in_set(l_returnflag)',
                 count(*) FILTER (l_returnflag IS NULL
                   OR l_returnflag NOT IN ('A', 'N', 'R')) FROM lineitem
          UNION ALL
          SELECT 5, 'in_set(l_linestatus)',
                 count(*) FILTER (l_linestatus IS NULL
                   OR l_linestatus NOT IN ('F')) FROM lineitem
          UNION ALL
          SELECT 6, 'unique(l_orderkey,l_linenumber)',
                 CAST(coalesce(sum(n), 0) AS BIGINT) FROM (
                   SELECT count(*) AS n FROM lineitem
                   GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
          UNION ALL
          SELECT 7, 'check(disc_bounds)',
                 count(*) FILTER (NOT (l_discount >= 0.0 AND l_discount <= 0.1)
                   OR l_discount IS NULL) FROM lineitem
          UNION ALL
          SELECT 8, 'ref(l_orderkey -> orders.o_orderkey)',
                 count(*) FILTER (l_orderkey IS NOT NULL AND l_orderkey NOT IN (
                   SELECT o_orderkey FROM orders)) FROM lineitem)
        SELECT CAST(rule_idx AS BIGINT) AS rule_idx, rule,
               CAST(n_violations AS BIGINT) AS n_violations,
               CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        FROM r ORDER BY rule_idx""",
      "q_stream_expectations" -> """
        WITH r AS (
          SELECT 0 AS rule_idx, 'not_null(user_id)' AS rule,
                 count(*) FILTER (user_id IS NULL) AS n_violations FROM events
          UNION ALL
          SELECT 1, 'in_range(value, 0.0, 500.0)',
                 count(*) FILTER (value IS NULL OR value < 0.0 OR value > 500.0)
          FROM events
          UNION ALL
          SELECT 2, 'in_set(event_type)',
                 count(*) FILTER (event_type IS NULL OR event_type NOT IN
                   ('click', 'view', 'purchase', 'signup')) FROM events
          UNION ALL
          SELECT 3, 'check(props_json)',
                 count(*) FILTER (json_valid(props) IS NOT TRUE) FROM events)
        SELECT CAST(rule_idx AS BIGINT) AS rule_idx, rule,
               CAST(n_violations AS BIGINT) AS n_violations,
               CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        FROM r ORDER BY rule_idx""",
      "q_day_spine" -> """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                         CAST(sum(round(value*100)::BIGINT) AS BIGINT) AS cents
                       FROM events
                       WHERE event_type = 'purchase' AND user_id = 0
                       GROUP BY 1),
        b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                  FROM b)
        SELECT s.day, coalesce(d.n, 0) AS n, coalesce(d.cents, 0) AS cents,
               CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
        FROM spine s LEFT JOIN daily d USING (day)
        ORDER BY s.day""",
      // identical explicit formula both sides: mean = s1/nd,
      // sd = sqrt(s2/nd - (s1/nd)^2) over exact integer sums
      "q_anomaly_days" -> """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
                       FROM events GROUP BY 1),
        st AS (SELECT count(*) AS nd, sum(n) AS s1, sum(n*n) AS s2 FROM daily)
        SELECT day, n,
               round(CAST(s1 AS DOUBLE) / nd, 6) AS mean,
               round(sqrt(CAST(s2 AS DOUBLE) / nd
                 - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd)), 6) AS sd,
               round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / nd)
                 / sqrt(CAST(s2 AS DOUBLE) / nd
                   - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd)), 6) AS z,
               CAST(CASE WHEN abs((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / nd)
                 / sqrt(CAST(s2 AS DOUBLE) / nd
                   - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd))) > 2.0
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        FROM daily, st ORDER BY day""",
      "q_cohort_retention" -> """
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        wk AS (SELECT DISTINCT user_id,
                 CAST(floor(datediff('day', d0, CAST(ts AS DATE)) / 7) AS BIGINT) AS week
               FROM events, d0),
        cohort AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id),
        sizes AS (SELECT cohort_week, count(*) AS n_cohort FROM cohort GROUP BY 1),
        act AS (SELECT c.cohort_week, w.week, count(*) AS n_active
                FROM wk w JOIN cohort c USING (user_id) GROUP BY 1, 2)
        SELECT a.cohort_week, a.week, a.n_active, s.n_cohort,
               round(CAST(a.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
        FROM act a JOIN sizes s USING (cohort_week)
        ORDER BY a.cohort_week, a.week""",
      "q_user_sequences" -> """
        WITH r AS (SELECT user_id, ts, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
                   FROM events)
        SELECT user_id, count(*) AS seq_len,
               string_agg(event_type, ' ' ORDER BY ts, event_id) AS events_seq,
               min(ts) AS seq_start, max(ts) AS seq_end
        FROM r WHERE rn <= 32
        GROUP BY user_id ORDER BY user_id""",
      "q_sessionize" -> s"""
        WITH l AS (SELECT user_id, ts, event_id, round(value*100)::BIGINT AS cents,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                   FROM events),
        f AS (SELECT *, CASE WHEN prev IS NULL
                     OR ts - prev > INTERVAL '$GAP_MIN minutes' THEN 1 ELSE 0 END AS brk
              FROM l),
        g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",
      // session_window merges touching windows (MergingSessionsIterator uses
      // start <= currentEnd), so exactly-gap events merge — the same strict->
      // split as the batch twin
      "q_stream_sessionize" -> s"""
        WITH l AS (SELECT user_id, ts, event_id, round(value*100)::BIGINT AS cents,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                   FROM events),
        f AS (SELECT *, CASE WHEN prev IS NULL
                     OR ts - prev > INTERVAL '$GAP_MIN minutes' THEN 1 ELSE 0 END AS brk
              FROM l),
        g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",
      "q_stream_stateful" -> """
        SELECT user_id, count(*) AS n_events,
               CAST(sum(round(value*100)::BIGINT) AS BIGINT) AS sum_cents
        FROM events GROUP BY user_id ORDER BY user_id""",
      "q_stream_dedup" -> """
        SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""",
      "q_funnel" -> """
        WITH stages AS (
          SELECT user_id,
                 min(ts) FILTER (event_type = 'view') AS t_view,
                 min(ts) FILTER (event_type = 'click') AS t_click,
                 min(ts) FILTER (event_type = 'purchase') AS t_purchase
          FROM events WHERE event_type IN ('view', 'click', 'purchase')
          GROUP BY user_id),
        r AS (SELECT *,
                CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END AS rc,
                CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click THEN 1 ELSE 0 END AS rp
              FROM stages)
        SELECT count(*) AS n_users,
               sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_view,
               sum(rc)::BIGINT AS n_view_click,
               sum(rp)::BIGINT AS n_full_funnel
        FROM r""",
      "q_embed_centroids" -> """
        SELECT label, dim, round(avg(v), 6) AS mean_v FROM (
          SELECT label, unnest(range(1, len(embedding)+1)) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings)
        GROUP BY label, dim ORDER BY label, dim""",
      "q_stream_join" -> """
        SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id AND v.ts < c.ts
         AND v.ts >= c.ts - INTERVAL '10 minutes'
        ORDER BY click_id, view_id""",
      "q_tail" -> """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderkey DESC LIMIT 20"""
    )
  }
}
