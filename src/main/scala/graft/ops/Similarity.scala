package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.streaming.Commit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** How a persisted IVF index codes the vectors in its lists — the one
  * choice [[Similarity.writeIvfIndex]] takes. Every other index verb reads
  * it back from the committed index: a sidecar with a `kind` column is PQ,
  * and the lists' `q` element type tells int16 (`smallint`) from int8.
  */
sealed trait IvfCodec

object IvfCodec {
  /** [[Similarity.int8Codes]] per dimension (4× smaller than float32);
    * cosine ranking in the exact integer domain
    */
  case object Int8 extends IvfCodec

  /** [[Similarity.int16Codes]] per dimension, stored as `array<smallint>` —
    * the 2-byte rung, 256× finer than int8; same integer-domain ranking
    * (dot terms bounded by 32767²·dim, exact in the long accumulator)
    */
  case object Int16 extends IvfCodec

  /** `m` PQ codes per vector over `nCodes`-centroid codebooks of `dim/m`
    * dims ([[Similarity.pqCodebooks]], one Lloyd iteration) — the
    * [[Similarity.ivfPqTopK]] composition in stored form (~a dozen
    * bytes/vector); candidates are ranked by asymmetric distance
    */
  final case class Pq(m: Int, nCodes: Int, dim: Int) extends IvfCodec
}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k with the (small) query side broadcast —
  * the corpus streams through one scan, no shuffle of the corpus, final top-k
  * is a per-query window over candidate rows.
  *
  * Scale path: deterministic random-hyperplane LSH — vectors bucket by the
  * sign pattern of `nBits` pseudo-random hyperplane dots; candidate pairs come
  * from a keyed self-join on the bucket, never a cross join. Hyperplanes are
  * md5-derived, so a SQL oracle regenerates them exactly.
  *
  * All dot products fold left-to-right over doubles; ranking keys are rounded
  * to 6 decimals with id tiebreaks, so cross-engine float noise (~1e-15)
  * cannot reorder results.
  */
object Similarity {

  /** elementwise-double view of a float-array column */
  def asDouble(c: Column): Column = c.cast("array<double>")

  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine rounded to 6 decimals (comparison-stable across engines) */
  def cosineR6(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** hash32-compatible 32-bit value of a string, driver-side (same construction
    * as [[TextOps.hash32]]: first 8 hex chars of md5).
    */
  private def hash32Local(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  /** deterministic hyperplane j over `dim` dims: values in [-1, 1] */
  def plane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => (hash32Local(s"${j}_$d") % 2001 - 1000) / 1000.0)

  /** deterministic projection row j over `dim` dims — an independent family
    * from [[plane]] (distinct seed prefix), values in [-1, 1]
    */
  def projPlane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => (hash32Local(s"p${j}_$d") % 2001 - 1000) / 1000.0)

  /** Johnson–Lindenstrauss-style random projection of an embedding column to
    * `outDim` dims — the compression step a 100 TB pipeline runs BEFORE ANN
    * (a 768-dim corpus projected to 64 dims is 12× less data through every
    * downstream bucket/probe/rank stage, with pairwise distances preserved
    * to JL tolerance). The projection matrix rows are [[projPlane]]s —
    * md5-derived like the LSH hyperplanes, so a SQL oracle regenerates them
    * exactly — scaled by sqrt(3/outDim) (each lattice coordinate has
    * variance ~1/3, so projected squared norms are unbiased). Pure
    * scan-level codegen'd expressions: zero shuffle, no UDF; output
    * components are rounded to 6 decimals (cross-engine comparison-stable).
    * Emits `idCol` plus `p0..p{outDim-1}` scalar columns.
    */
  def randomProject(
      df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, dim: Int): DataFrame = {
    val scale = math.sqrt(3.0 / outDim)
    val v = asDouble(col(vecCol))
    // one kernel matvec (round6(dot·scale) per component — bit-identical),
    // bound to a column so the per-component extracts read an attribute
    val rows = (0 until outDim).map(j => projPlane(j, dim).toArray)
    df.select(col(idCol),
        graft.functions.PqExprs.matVecRound6(v, rows, scale).as("__pj"))
      .select(col(idCol) +: (0 until outDim).map(j =>
        element_at(col("__pj"), j + 1).as(s"p$j")): _*)
  }

  // ---- OPQ-lite rotation ---------------------------------------------------

  /** deterministic ±1 sign for the OPQ rotation's diagonal, md5-derived like
    * every other pseudo-random constant here (distinct `opq_` seed prefix)
    */
  private def opqSign(i: Int): Int =
    if (hash32Local(s"opq_$i") % 2 == 0) 1 else -1

  /** deterministic input permutation for the OPQ rotation: indices 0..dim-1
    * ordered by their md5 hash (`opqp_` seed prefix) — a SQL-regenerable
    * shuffle that scatters input coordinates across all index-bit positions
    */
  private[graft] def opqPerm(dim: Int): Seq[Int] =
    (0 until dim).sortBy(i => (hash32Local(s"opqp_$i"), i))

  /** Deterministic OPQ-lite rotation: R = H·D·P — an md5-derived input
    * permutation P, then an md5-derived ±1 diagonal D, then the dim×dim
    * Walsh–Hadamard matrix H (dim a power of two). All three factors are
    * orthogonal, so L2 distances and norms are preserved and PQ in the
    * rotated space approximates the SAME metric. This is the learning-free
    * rotation family FAISS uses to initialize OPQ: H·D spreads energy
    * concentrated in a few input dimensions across ALL output dimensions,
    * and P matters structurally — without it, a signal confined to input
    * dims whose indices share a zero bit (e.g. dims 0..3 of 8) maps
    * IDENTICALLY into Hadamard halves (rows j and j+dim/2 have equal parity
    * on those inputs), leaving every PQ subspace the same map of the signal
    * and recovering nothing; the permutation scatters the signal across the
    * index-bit space so distinct subspaces see genuinely different
    * projections and the nCodes^m effective cells come back. Rotated
    * component j folds v[perm(i)] · (±1/√dim) left-to-right — for the
    * gate's dim 64 every factor is exactly ±2^-3, so products are
    * IEEE-identical however an engine associates sign and scale, and the R6
    * rounding makes the whole rotation SQL-reproducible. Pure scan-level
    * codegen'd expressions: zero shuffle, no UDF. Emits `idCol` plus `rv`
    * (array<double>, the rotated vector).
    */
  def rotateHD(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    require((dim & (dim - 1)) == 0, s"Hadamard rotation needs a power-of-2 dim, got $dim")
    val inv = 1.0 / math.sqrt(dim.toDouble)
    val perm = opqPerm(dim)
    val v = asDouble(col(vecCol))
    val rows = (0 until dim).map { j =>
      // row for the dot against the UNPERMUTED vector: coefficient of
      // v[perm(i)] is s_i · had(i,j) · inv
      val coef = Array.ofDim[Double](dim)
      (0 until dim).foreach { i =>
        val had = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1 else -1
        coef(perm(i)) = opqSign(i) * had * inv
      }
      coef
    }
    // one MatVecRound6 kernel call instead of dim literal-array dots
    // (bit-identical round6 components; the literal form put dim² literal
    // doubles into every consuming stage's generated class — r19)
    df.select(col(idCol),
      graft.functions.PqExprs.matVecRound6(v, rows).as("rv"))
  }

  /** OPQ-lite ANN: [[pqTopK]] over [[rotateHD]]-rotated vectors — identical
    * training/encode/ADC machinery, better codebooks on anisotropic inputs
    * (LawsSpec pins recall ≥ plain PQ on an energy-concentrated fixture).
    */
  def opqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, nCodes: Int, dim: Int, trainIters: Int = 1): DataFrame =
    pqTopK(rotateHD(corpus, idCol, vecCol, dim),
      rotateHD(queries, idCol, vecCol, dim), idCol, "rv", k, m, nCodes, dim, trainIters)

  // ---- product quantization (PQ) -----------------------------------------

  /** squared L2 distance expanded through the codegen'd dot kernel
    * (|a−b|² = a·a − 2a·b + b·b) — the exact formula the SQL oracle mirrors,
    * so both engines fold the identical term sequence
    */
  def sqDist(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** nearest candidate under rounded squared L2 (R6, key tiebreak) as one
    * scan-level argmin expression — `array_min` over (d, key) structs, the
    * L2 twin of the IVF cosine argmax. `usePos` keys by dense position in
    * cent_id order (PQ codes) instead of the raw cent_id (Lloyd training).
    */
  // retained as the reference literal form: the PqCodes/PqDistTable kernel
  // parity laws (LawsSpec) compare the codegen kernels against THIS shape
  private[graft] def nearestL2(
      cands: Seq[(Long, Seq[Double])], v: Column, usePos: Boolean): Column = {
    val structs = cands.sortBy(_._1).zipWithIndex.map { case ((cid, cv), pos) =>
      struct(round(sqDist(v, array(cv.map(lit): _*)), 6).as("d"),
        lit(if (usePos) pos.toLong else cid).as("key"))
    }
    array_min(array(structs: _*)).getField("key")
  }

  /** Deterministic Lloyd under squared L2 for ALL `m` subspaces in ONE job
    * per iteration: the subspaces are independent column slices of the same
    * scan, so per-iteration training cost is one corpus pass + one
    * (subspace, centroid, dim) aggregation instead of m sequential
    * assignment+mean jobs — at production iters × m the m-fold scan
    * reduction is the whole training bill. Discipline matches
    * [[lloydCentroids]]: smallest-id init (ONE collect of full vectors,
    * sliced driver-side — bit-identical to per-subspace inits over the same
    * ids), R6 assignment keys, empty cluster keeps its previous centroid.
    * Means come from EXACT scaled-long sums (the
    * [[graft.ops.TextOps.unigramLogProb]] discipline): a double `avg`
    * accumulates in partition-dependent order, and a mean within float
    * noise of a .5e-6 rounding boundary could round differently across
    * partitionings/engines — integer sums cannot, making training
    * order-independent by construction rather than by measured luck.
    */
  private def lloydL2All(
      base: DataFrame, m: Int, sub: Int, nCodes: Int, iters: Int)
      : Seq[Seq[(Long, Seq[Double])]] = {
    val init = base.orderBy(col("id")).limit(nCodes)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    var books: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map(s =>
      init.map { case (id, v) => (id, v.slice(s * sub, (s + 1) * sub)) })
    var t = 0
    while (t < iters) {
      // one scan evaluates all m assignment argmins — as ONE codegen'd
      // kernel call (bit-identical to the literal array-of-argmins form;
      // see graft.functions.PqCodes for the r19 measurement that motivated
      // the kernel: 3 dot kernels + a slice allocation per candidate)
      val assigns = graft.functions.PqExprs.pqCodeIds(col("__v"), books, sub)
      val sIdx = (col("dim") / lit(sub)).cast("int")
      val means: Map[(Int, Long), Seq[Double]] = base
        .select(col("__v"), assigns.as("__a"))
        .select(posexplode(col("__v")).as(Seq("dim", "x")), col("__a"))
        .select(sIdx.as("s"), (col("dim") % sub).as("subdim"),
          element_at(col("__a"), sIdx + 1).as("cent_id"), col("x"))
        .groupBy(col("s"), col("cent_id"), col("subdim"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x") * 1e6).cast("long")).as("__s6"))
        .withColumn("m", meanR6FromScaled(col("__s6"), col("n")))
        .groupBy(col("s"), col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("subdim"), col("m")))),
          e => e.getField("m")).as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toSeq).toMap
      books = books.zipWithIndex.map { case (bk, s) =>
        bk.map { case (cid, prev) => (cid, means.getOrElse((s, cid), prev)) }
      }
      t += 1
    }
    books
  }

  /** PQ codebooks: the vector space split into `m` contiguous subspaces of
    * `dim/m` dims, each with `nCodes` centroids trained by [[lloydL2All]] —
    * all m subspaces in one job per Lloyd iteration (OpsSpec pins the job
    * count as independent of m). Codebook state is m × nCodes × (dim/m)
    * doubles — tiny, driver-side, the broadcast-build pattern; training
    * cost is `iters` corpus scans TOTAL (on a sample at 100 TB, the
    * [[ivfTopK]] `trainSample` pattern applies identically).
    */
  def pqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, nCodes: Int, dim: Int, iters: Int): Seq[Seq[(Long, Seq[Double])]] = {
    val sub = dim / m
    require(m * sub == dim, s"PQ needs m to divide dim, got m=$m dim=$dim")
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    lloydL2All(base, m, sub, nCodes, iters)
  }

  /** Product-quantization ANN top-k with asymmetric distance (ADC) — the
    * classic 32× ANN compression (Jégou et al.; reference's sketch-operator
    * family): each corpus vector is encoded as `m` small codes (nearest
    * codebook centroid per subspace — scan-level argmin expressions, zero
    * shuffle), and search ranks by the sum of per-subspace rounded squared
    * distances between the RAW query subvectors and the centroid each code
    * names. At 100 TB the coded table is what you store and scan
    * (m log₂(nCodes) bits per vector vs dim floats); queries broadcast, the
    * corpus is never shuffled — the [[bruteForceTopK]] shape over 32×
    * smaller data. The deterministic training (smallest-id init, R6
    * rounding) makes codes AND distances exactly SQL-reproducible, so even
    * this approximate path is oracle-gated, not rows-only.
    *
    * Ranking: `adist` asc (R6), neighbor_id tiebreak, self excluded.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, nCodes: Int, dim: Int, trainIters: Int = 1): DataFrame = {
    val books = pqCodebooks(corpus, idCol, vecCol, m, nCodes, dim, trainIters)
    val sub = dim / m
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
    // encode as ONE kernel call per row (bit-identical to the per-subspace
    // literal argmins — graft.functions.PqCodes), bound to a column so the
    // per-subspace extracts read an attribute
    val coded = c
      .select(col("neighbor_id"),
        graft.functions.PqExprs.pqCodePositions(col("__cv"), books, sub).as("__codes"))
      .select(col("neighbor_id") +: (0 until m).map(s =>
        element_at(col("__codes"), s + 1).as(s"c$s")): _*)
    // ADC distance tables are PRE-COMPUTED on the query side (m × nCodes
    // rounded distances per query, materialized once per query row and
    // carried through the broadcast) — candidates pay m array lookups + a
    // sum, not a table rebuild per row. This is the asymmetric-distance
    // trick that makes PQ search cheap: without it each candidate row would
    // re-evaluate every centroid distance.
    val q = adcTables(queries.select(
      col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv")), books, sub)
      .drop("__qv")
    adcRanked(
      broadcast(q).join(coded, col("query_id") =!= col("neighbor_id")),
      m, k, s => col(s"c$s"),
      Seq(col("query_id"), col("neighbor_id"), col("adist"), col("rank")))
  }

  /** append per-subspace ADC distance-table columns `__t0..__t{m-1}` (each
    * an array of the query's rounded squared distances to every codebook
    * centroid, in code order) to a frame carrying `__qv`
    */
  private def adcTables(
      q: DataFrame, books: Seq[Seq[(Long, Seq[Double])]], sub: Int): DataFrame =
    books.indices.foldLeft(q) { (acc, s) =>
      // one kernel call per subspace (bit-identical to the literal
      // round(sqDist(slice, lit))-per-candidate array — PqDistTable)
      acc.withColumn(s"__t$s",
        graft.functions.PqExprs.pqDistTable(col("__qv"), books, s, sub))
    }

  /** The query-side probe frame shared by BOTH routed PQ searches
    * (in-memory [[ivfPqTopK]] and the persisted PQ index): the
    * nprobe coarse routing (cosine desc, cent_id tiebreak — the IVF rule)
    * exploded per probe, plus the pre-computed ADC tables; the raw vector
    * is dropped before the broadcast. ONE definition keeps the stored and
    * in-memory paths in agreement by construction.
    */
  private def pqProbeSide(
      queries: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], books: Seq[Seq[(Long, Seq[Double])]],
      sub: Int, nprobe: Int): DataFrame = {
    adcTables(queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv")), books, sub)
      // nprobe routing through the broadcast-matrix kernel (bit-identical
      // to the literal (negcos, cid) struct sort — TopCentroids scaladoc)
      .withColumn("cent_id", explode(probeIds(cents, col("__qv"), nprobe, assignKernel = true)))
      .drop("__qv")
  }

  /** rank PQ candidates by the left-assoc sum of per-subspace ADC lookups —
    * the ONE ranking tail of all three PQ searches; `codeAt(s)` reads the
    * candidate row's code for subspace s (a column for in-memory coded
    * frames, an array element for stored lists)
    */
  private def adcRanked(
      cands: DataFrame, m: Int, k: Int, codeAt: Int => Column,
      out: Seq[Column]): DataFrame = {
    val terms = (0 until m).map(s => element_at(col(s"__t$s"), codeAt(s) + 1))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    cands.withColumn("adist", round(terms.reduce(_ + _), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(out: _*)
  }

  /** IVF + PQ — the full production ANN composition (the FAISS IVFPQ shape):
    * coarse inverted-file routing restricts each query to its `nprobe`
    * lists (cosine coarse stage, identical rules to [[ivfTopK]]), and
    * WITHIN the lists candidates are ranked by PQ asymmetric distance over
    * `m`-code compressed rows ([[pqTopK]]'s ADC). At 100 TB this is the
    * index you store: `(id, cent_id, m codes)` ≈ a dozen bytes/vector, and
    * each query scans `nprobe/nCents` of that — compression × pruning
    * multiply. Probes broadcast; the coded corpus is shuffled once at build
    * (list organization), never at search.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCents: Int, nprobe: Int, m: Int, nCodes: Int, dim: Int,
      maxBucket: Int = DEFAULT_MAX_BUCKET, trainIters: Int = 1): DataFrame = {
    val books = pqCodebooks(corpus, idCol, vecCol, m, nCodes, dim, trainIters)
    val sub = dim / m
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    val cents = lloydCentroids(base, nCents, 0)
    val assign = assignExpr(cents, assignKernel = true)
    val coded = Dedup.capBuckets(
      base.withColumn("cent_id", assign(col("__v"))), Seq("cent_id"), "id", maxBucket)
      .select(col("id").as("neighbor_id"), col("cent_id"),
        graft.functions.PqExprs.pqCodePositions(col("__v"), books, sub).as("__codes"))
      .select(col("neighbor_id") +: col("cent_id") +: (0 until m).map(s =>
        element_at(col("__codes"), s + 1).as(s"c$s")): _*)
    val probes = pqProbeSide(queries, idCol, vecCol, cents, books, sub, nprobe)
    adcRanked(
      broadcast(probes).join(coded, Seq("cent_id"))
        .filter(col("query_id") =!= col("neighbor_id")),
      m, k, s => col(s"c$s"),
      Seq(col("query_id"), col("neighbor_id"), col("cent_id"),
        col("adist"), col("rank")))
  }

  /** LSH bucket id: sign bits of `nBits` hyperplane dots. */
  def hyperplaneBucket(vec: Column, nBits: Int, dim: Int): Column =
    (0 until nBits).map { j =>
      val p = array(plane(j, dim).map(lit): _*)
      when(dot(vec, p) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Brute-force cosine top-k: for each query vector (small side, broadcast),
    * the k nearest corpus vectors by rounded cosine, id tiebreak, self
    * excluded.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineR6(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** Exact-cosine re-rank of an approximate shortlist — the standard
    * production tail of EVERY approximate ANN path here (projected-space,
    * PQ/ADC, IVF+PQ, and their persisted/streaming forms): the approximate
    * stage returns `k' > k` candidates per query cheaply in the compressed
    * domain, and only those rows are joined back to the raw vectors for an
    * exact ranking — recall of the exact top-k recovered up to whatever the
    * shortlist missed, at a cost proportional to queries × k', never the
    * corpus.
    *
    * `shortlist` carries (`query_id`, `neighbor_id`) — the output shape of
    * every ANN op in this file, so any of them composes directly. Scale
    * posture: the shortlist (queries × k' rows) is broadcast, so the
    * raw-vector fetch is one broadcast hash semi-join riding the corpus
    * scan — the corpus is never shuffled; the query side is broadcast like
    * every ANN op's. Ranking discipline identical to [[bruteForceTopK]]:
    * cosine rounded to 6 decimals, id tiebreak.
    */
  def rerankTopK(
      shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(shortlist.select(col("query_id"), col("neighbor_id")))
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_sim", cosineR6(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** MATRYOSHKA progressive search (MRL, Kusupati et al.): the candidate
    * stage ranks on the PREFIX of each vector (matryoshka-trained
    * embeddings pack the coarse signal into the leading dims, so a
    * `prefixDims`-slice is a dims/prefixDims-cheaper shortlist pass), the
    * exact [[rerankTopK]] tail re-scores the shortlist on full vectors.
    * The storage-side twin of [[randomProject]]'s project-at-ingest: no
    * projection matrix, no rotation — truncation IS the compression. At
    * 100 TB the prefix slice is what you'd store in the hot tier (the
    * [[openIvfSearcher]] attr machinery can carry it) and the full
    * vector stays in the cold fetch path. Ranking discipline identical to
    * every ANN op: rounded-6 cosine, id tiebreaks.
    */
  def matryoshkaTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, kShort: Int, prefixDims: Int): DataFrame = {
    require(kShort >= k, s"shortlist must cover k: kShort=$kShort < k=$k")
    require(prefixDims >= 1, s"prefixDims must be positive, got $prefixDims")
    def prefixed(df: DataFrame) = df.select(col(idCol),
      slice(asDouble(col(vecCol)), 1, prefixDims).as("__pref"))
    val shortlist =
      bruteForceTopK(prefixed(corpus), prefixed(queries), idCol, "__pref", kShort)
    rerankTopK(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** Maximal-marginal-relevance (MMR) DIVERSIFIED re-rank of a search
    * shortlist — the redundancy-aware tail of the retrieval family: where
    * [[rerankTopK]] re-orders by relevance alone, MMR greedily selects k
    * results that are relevant AND non-redundant (pick the most relevant
    * first; each next pick maximizes λ·rel − (1−λ)·max-sim-to-selected) —
    * the standard move when near-duplicate corpus entries would otherwise
    * fill the whole result page, and the selection rule behind diverse
    * few-shot example picking.
    *
    * λ is fixed at 1/2, which makes the greedy ordering EXACT integer
    * arithmetic: argmax(rel/2 − maxsim/2) = argmax(rel6 − maxsim6) over the
    * scaled-long keys, so the whole sequential loop carries a bit-exact
    * oracle (id tiebreaks; other λ would need rational weights to stay
    * exact — same construction, not needed here).
    *
    * `shortlist` carries (`query_id`, `neighbor_id`, `cos_sim`) — the
    * output shape of [[bruteForceTopK]]/[[rerankTopK]], whose exact cosine
    * is the relevance. Scale shape: every frame in the loop is
    * (queries × k′)-sized — candidates broadcast onto the corpus scan to
    * fetch vectors (the [[rerankTopK]] fetch), pairwise sims are k′² per
    * query, and the k−1 greedy steps are driver-sequenced jobs over those
    * metric-sized frames (`localCheckpoint`ed so each step's plan stays
    * flat) — the corpus is touched exactly once, k bounds the sequential
    * depth, and everything partitions by `query_id` so a million-query
    * batch parallelizes across the cluster.
    */
  def mmrRerank(
      shortlist: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // contract hardening (ADVICE r10): duplicate (query_id, neighbor_id)
    // shortlist rows would duplicate output rows through the final join, and
    // a candidate with no corpus vector could win rank 1 (relevance-only
    // argmax) yet never be picked later (it has no pairwise sims) — an
    // inconsistent hybrid. Dedup here; require full vector coverage below.
    val cand = shortlist.select(col("query_id"), col("neighbor_id").as("id"),
      round(col("cos_sim") * lit(1e6)).cast("long").as("__rel6"))
      .dropDuplicates("query_id", "id")
      .localCheckpoint(true)
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    val cv = broadcast(cand).join(vecs, Seq("id"))
      .select(col("query_id"), col("id"), col("__v"))
      .localCheckpoint(true)
    val missing = cand.count() - cv.count()
    require(missing == 0,
      s"mmrRerank: $missing shortlist candidate(s) have no vector in the " +
        "corpus - the shortlist must come from the same corpus being re-ranked")
    val x = cv.select(col("query_id"), col("id").as("a"), col("__v").as("__va"))
    val y = cv.select(col("query_id"), col("id").as("b"), col("__v").as("__vb"))
    val sims = x.join(y, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(cosineR6(col("__va"), col("__vb")) * lit(1e6)).cast("long").as("__sim6"))
      .localCheckpoint(true)

    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("__rel6").desc, col("id").asc)
    var selAll = cand.withColumn("__rn", row_number().over(wRel))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("id"), lit(1).as("mmr_rank"))
      .localCheckpoint(true)
    var t = 2
    while (t <= k) {
      val ms = sims
        .join(selAll.select(col("query_id"), col("id").as("b")), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a")).agg(max(col("__sim6")).as("__ms6"))
        .withColumnRenamed("a", "id")
      val wSc = Window.partitionBy(col("query_id"))
        .orderBy(col("__sc").desc, col("id").asc)
      val pick = cand
        .join(selAll.select(col("query_id"), col("id")), Seq("query_id", "id"), "left_anti")
        .join(ms, Seq("query_id", "id"))
        .withColumn("__sc", col("__rel6") - col("__ms6"))
        .withColumn("__rn", row_number().over(wSc))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("id"), lit(t).as("mmr_rank"))
      selAll = selAll.unionByName(pick).localCheckpoint(true)
      t += 1
    }
    selAll.join(cand, Seq("query_id", "id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(col("__rel6").cast("double") / lit(1e6), 6).as("cos_sim"),
        col("mmr_rank"))
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation op that closes the ANN family's loop: a pipeline that ships
    * an IVF/PQ/LSH index should measure, on a held-out query sample, how
    * much recall the pruning bought away. Both inputs are search RESULTS
    * (`query_id`, `neighbor_id`, rank ≤ k — the shape every `*TopK` here
    * emits), so cost is queries × k rows regardless of corpus size: the
    * semi-join and the per-query count shuffle metric-sized data only, never
    * the corpus. Emits one row per exact-side query: `n_hit` (approximate
    * neighbors that are true top-k neighbors) and `recall` = n_hit / k,
    * rounded to 6 (k-ths never land on a rounding boundary).
    */
  def recallAtK(
      approx: DataFrame, exact: DataFrame, k: Int,
      queryCol: String = "query_id", idCol: String = "neighbor_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val hits = exact.select(col(queryCol), col(idCol))
      .join(approx.select(col(queryCol), col(idCol)), Seq(queryCol, idCol),
        "left_semi")
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hit"))
    exact.select(col(queryCol)).distinct()
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** Per-bucket candidate cap (skew guard): a degenerate bucket holding a
    * large fraction of the corpus (near-constant embeddings) would otherwise
    * turn the bucket self-join quadratic. Candidates are capped to the
    * `maxBucket` smallest ids per bucket — deterministic, so oracles encode
    * the identical semantics; a no-op for healthy bucket sizes.
    */
  val DEFAULT_MAX_BUCKET = 1024

  /** Bucketed ANN top-k: candidates restricted to the query's LSH bucket
    * (approximate recall — the documented LSH tradeoff); same ranking rules.
    * Neighbor side anchor-capped per bucket (see [[DEFAULT_MAX_BUCKET]]).
    */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String, k: Int, nBits: Int,
      dim: Int, maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    val b = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("bucket", hyperplaneBucket(col("__v"), nBits, dim))
    val l = b.select(col("id").as("query_id"), col("__v").as("__qv"), col("bucket"))
    val r = Dedup.capBuckets(b, Seq("bucket"), "id", maxBucket)
      .select(col("id").as("neighbor_id"), col("__v").as("__cv"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    l.join(r, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineR6(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("cos_sim"), col("rank"))
  }

  /** Per-centroid (cos, -cent_id) structs: max/sort order = cos desc, then
    * smaller cent_id (negated id inverts the tiebreak under asc/max order).
    * The building block of centroid assignment and probe selection — a pure
    * scan-level expression over centroid LITERALS, so assignment never joins.
    */
  private def centStructs(cents: Seq[(Long, Seq[Double])], vec: Column): Seq[Column] =
    cents.map { case (cid, cvec) =>
      struct(cosineR6(vec, array(cvec.map(lit): _*)).as("cos"), lit(-cid).as("ncid"))
    }

  /** nearest-centroid id as a single scan-level argmax expression */
  private def nearestCent(cents: Seq[(Long, Seq[Double])], vec: Column): Column =
    (array_max(array(centStructs(cents, vec): _*)).getField("ncid") * -1).cast("long")

  /** round6(mean) of a scaled-long sum by PURE INTEGER HALF_UP division:
    * m6 = sign · ((2·|s6| + n) div (2n)), m = m6/10⁶. The double form
    * round(s6/(n·10⁶), 6) evaluates the quotient in floating point first,
    * so a mean landing exactly on a .5·10⁻⁶ boundary could round either way
    * depending on the quotient's last ulp — and differently from an oracle
    * engine. Integer division has no such boundary class; the final /10⁶ is
    * a correctly-rounded double of an exact 6-decimal rational, identical
    * to what round(·, 6) would emit. Shared by both Lloyd trainers.
    */
  private def meanR6FromScaled(s6: Column, n: Column): Column = {
    // exact long integral division (`div`); operands are positive
    val mag = call_function("div", abs(s6) * 2 + n, n * 2)
    (when(s6 >= 0, mag).otherwise(-mag).cast("double") / lit(1e6))
  }

  /** Deterministic Lloyd (k-means) training over the corpus, as DataFrame
    * ops. Init = the `nCents` smallest-id corpus vectors; each iteration
    * assigns every vector to its nearest centroid through the SAME scan-level
    * argmax expression the index build uses (zero shuffle), then recomputes
    * each centroid as the per-dimension mean of its members, ROUNDED to 6
    * decimals — fixed iteration count + rounded assignment keys and means are
    * what keep the whole training loop SQL-reproducible. Means come from
    * EXACT scaled-long sums (round(x·10⁶) summed as integers, divided and
    * re-rounded — the [[graft.ops.TextOps.unigramLogProb]] discipline): a
    * double `avg` accumulates in partition-dependent order, so a mean within
    * float noise of a .xxxxxx5 rounding boundary could round differently
    * across partitionings/engines and cascade through later iterations —
    * integer sums make training order-independent by construction.
    * An empty cluster keeps its previous centroid. Centroid state is nCents×dim
    * doubles fetched driver-side like any broadcast build; per-iteration
    * corpus work is one scan plus one (cent_id, dim) aggregation — at 100 TB
    * that is `iters` extra passes over the embedding column, the standard
    * IVF training cost (often run on a sample; here the corpus IS the
    * sample scale).
    *
    * `base` must carry (`id` long, `__v` array<double>).
    */
  def lloydCentroids(base: DataFrame, nCents: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    var cents: Seq[(Long, Seq[Double])] = base.orderBy(col("id")).limit(nCents)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    var t = 0
    while (t < iters) {
      val means: Map[Long, Seq[Double]] = base
        // kernel assignment (bit-identical to the literal argmax; r19 —
        // the literal form put nCents×dim literal doubles in every
        // training stage's generated class)
        .withColumn("cent_id", assignExpr(cents, assignKernel = true)(col("__v")))
        .select(col("cent_id"), posexplode(col("__v")).as(Seq("dim", "x")))
        .groupBy(col("cent_id"), col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x") * 1e6).cast("long")).as("__s6"))
        .withColumn("m", meanR6FromScaled(col("__s6"), col("n")))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.map { case (cid, prev) => (cid, means.getOrElse(cid, prev)) }
      t += 1
    }
    cents
  }

  /** IVF-style ANN top-k — the inverted-file scale path alongside [[lshTopK]]:
    *
    *  1. centroids: deterministic init from the `nCents` smallest-id corpus
    *     vectors, optionally refined by `trainIters` Lloyd iterations
    *     ([[lloydCentroids]] — rounded means keep training exactly
    *     SQL-reproducible). Fetched driver-side like a broadcast/bloom
    *     build: `nCents` rows, not data-scale.
    *  2. index build: every vector is assigned to its nearest centroid by a
    *     single scan-level argmax expression (`array_max` over per-centroid
    *     (cos, -cent_id) structs → C codegen'd dot products per row, ZERO
    *     shuffle, no row explosion). The one shuffle is organizing the
    *     inverted lists by `cent_id` (anchor-capped like every bucketed op) —
    *     at 100 TB this is the index you'd persist bucketed by `cent_id`.
    *  3. search: each query probes its `nprobe` nearest centroids
    *     (`array_sort` + `slice` over the same struct array) and meets ONLY
    *     those inverted lists through an equi-join on `cent_id` — never the
    *     full corpus. Recall is the documented IVF tradeoff; training is what
    *     balances the inverted lists (cap losses) and recovers recall on
    *     skewed corpora.
    *
    * Ranking rules identical to the other ANN ops: cosine rounded to 6
    * decimals, id tiebreaks.
    *
    * Scale knobs (both default to the small-corpus exact-gate behavior):
    *  - `trainSample`: fraction of the corpus Lloyd trains on, selected by a
    *    deterministic md5 hash of the id — at 100 TB you train centroids on a
    *    sample (assignment and search still cover the FULL corpus); 1.0
    *    trains on everything.
    *  - `assignKernel`: route centroid assignment AND probe selection through
    *    the broadcast-matrix [[graft.functions.TopCentroids]] kernel instead
    *    of per-centroid literal structs. Bit-identical results; mandatory at
    *    production centroid counts, where nCents×dim literals would blow past
    *    codegen constant-pool limits.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCents: Int, nprobe: Int,
      maxBucket: Int = DEFAULT_MAX_BUCKET, trainIters: Int = 0,
      trainSample: Double = 1.0, assignKernel: Boolean = true): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    val cents = lloydCentroids(sampleForTraining(base, trainSample), nCents, trainIters)

    val assign = assignExpr(cents, assignKernel)
    val inverted = Dedup.capBuckets(
      base.withColumn("cent_id", assign(col("__v"))), Seq("cent_id"), "id", maxBucket)
      .select(col("id").as("neighbor_id"), col("__v").as("__cv"), col("cent_id"))

    val probes = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("cent_id", explode(probeIds(cents, col("__qv"), nprobe, assignKernel)))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    probes.join(inverted, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", cosineR6(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cent_id"), col("cos_sim"), col("rank"))
  }

  /** the `nprobe` nearest centroid ids of each query vector `qv` — sort
    * (−cos, cent_id) asc, take nprobe: the broadcast-matrix
    * [[graft.functions.TopCentroids]] kernel, or the literal-struct sort it
    * is bit-identical to. One definition for every IVF probe stage.
    */
  private def probeIds(
      cents: Seq[(Long, Seq[Double])], qv: Column, nprobe: Int,
      assignKernel: Boolean): Column =
    if (assignKernel) graft.functions.CentroidExprs.topCentroids(qv, cents, nprobe)
    else transform(slice(array_sort(array(cents.map { case (cid, cvec) =>
      struct((cosineR6(qv, array(cvec.map(lit): _*)) * -1).as("negcos"), lit(cid).as("cid"))
    }: _*)), 1, nprobe), x => x.getField("cid"))

  /** nearest-centroid assignment expression: literal-struct argmax (optimal
    * at small nCents) or the broadcast-matrix [[graft.functions.TopCentroids]]
    * kernel (mandatory at production centroid counts) — one definition for
    * every index-building op
    */
  private[graft] def assignExpr(
      cents: Seq[(Long, Seq[Double])], assignKernel: Boolean): Column => Column =
    if (assignKernel)
      v => element_at(graft.functions.CentroidExprs.topCentroids(v, cents, 1), 1)
    else v => nearestCent(cents, v)

  /** deterministic md5-hash training sample of a (id, __v, …) base frame —
    * the ONE definition of the `trainSample` semantics, shared by every op
    * that trains centroids
    */
  private def sampleForTraining(base: DataFrame, trainSample: Double): DataFrame =
    if (trainSample < 1.0)
      base.filter(graft.ops.TextOps.hash32(
        concat(lit("ivf_ts_"), col("id").cast("string"))) % 1000
        < math.round(trainSample * 1000))
    else base

  /** Centroid-stratified DIVERSITY sample — k representatives per trained-
    * centroid cluster, the coverage-preserving downsample of an embedding
    * corpus (uniform hash sampling over-draws dense regions; sampling per
    * cluster keeps every region represented — the embedding-space analog of
    * [[graft.ops.Splits.sampleGroupK]]'s per-language balance, and exactly
    * that op applied to the cluster id).
    *
    * Shape at 100 TB: training is the usual sampled Lloyd sidecar
    * ([[lloydCentroids]] + `trainSample`); assignment is the same zero-
    * shuffle scan-level argmax every IVF op uses (`assignKernel = true` for
    * production centroid counts); the per-cluster pick is one shuffle whose
    * map-side `WindowGroupLimit` prunes to ~k rows per (cluster, partition)
    * before the exchange — the sample of a petabyte corpus moves
    * O(k × nCents × partitions), never the corpus.
    */
  def diverseSampleK(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCents: Int, trainIters: Int = 0,
      trainSample: Double = 1.0, assignKernel: Boolean = true): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    val cents = lloydCentroids(sampleForTraining(base, trainSample), nCents, trainIters)
    val assigned = base.withColumn("cent_id", assignExpr(cents, assignKernel)(col("__v")))
    graft.ops.Splits.sampleGroupK(assigned, "cent_id", "id", k)
      .select(col("id").as(idCol), col("cent_id"), col("sample_rank"))
  }

  /** SEMANTIC dedup (the SemDeDup shape: cluster, then drop in-cluster
    * near-duplicates, keeping the earliest copy): every vector whose cosine
    * to an EARLIER (lower-id) member of its trained-centroid cluster reaches
    * `minCos` is dropped; the survivors are the semantically-deduplicated
    * corpus. Unlike [[nearDupPairs]] (which reports candidate PAIRS) or
    * [[diverseSampleK]] (fixed k per cluster regardless of redundancy), this
    * keeps everything that is NOT redundant — dense duplicate clumps
    * collapse to one representative, sparse regions survive untouched.
    *
    * Keep-first is deterministic and single-pass: a vector is dropped iff
    * ANY earlier in-cluster member is near, whether or not that member was
    * itself dropped. Consequence (spec-pinned): the kept set is pairwise
    * sub-threshold within each cluster among capped owners.
    *
    * Shape at 100 TB: training is the sampled Lloyd sidecar; assignment is
    * the zero-shuffle scan-level argmax (`assignKernel = true` at production
    * centroid counts); the pairwise stage is the published SemDeDup cost
    * model — one shuffle on `cent_id`, Σ|cluster|·min(|cluster|, maxBucket)
    * comparisons. nCents is the knob: scale it with the corpus so the
    * expected cluster stays constant-sized, and the owner side is
    * anchor-capped (same [[DEFAULT_MAX_BUCKET]] discipline as every other
    * candidate generator) so one degenerate cluster cannot go quadratic.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String, minCos: Double,
      nCents: Int, trainIters: Int = 0, trainSample: Double = 1.0,
      assignKernel: Boolean = true,
      maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    val cents = lloydCentroids(sampleForTraining(base, trainSample), nCents, trainIters)
    val assigned = base.withColumn("cent_id", assignExpr(cents, assignKernel)(col("__v")))
    val owners = graft.ops.Dedup.capBuckets(assigned, Seq("cent_id"), "id", maxBucket)
      .select(col("cent_id"), col("id").as("__id_a"), col("__v").as("__va"))
    val dropped = assigned
      .select(col("cent_id"), col("id").as("__id_b"), col("__v").as("__vb"))
      .join(owners, Seq("cent_id"))
      .filter(col("__id_a") < col("__id_b") &&
        cosineR6(col("__va"), col("__vb")) >= minCos)
      .select(col("__id_b").as("id"))
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cent_id"))
  }

  /** One micro-batch step of STREAMING semantic dedup — the incremental
    * kernel under [[graft.streaming.Streams.streamingSemanticDedup]], factored
    * here so the batch/streaming equivalence is by construction (same
    * [[cosineR6]], same [[graft.ops.Dedup.capBuckets]] owner cap) and so the
    * spec can replay a step and assert retry-idempotence.
    *
    * Contract: ids arrive in GLOBALLY INCREASING order across steps (every id
    * in `batch` exceeds every id in `owners`). Under that contract the
    * streamed union of `kept` over all steps equals [[semanticDedup]] on the
    * concatenated corpus exactly: the owner cap keeps the `maxBucket`
    * smallest ids per cluster, and ids only grow, so the capped owner set
    * restricted to ids below any batch row is already final when that row is
    * scored — no later arrival can retroactively become its owner.
    *
    * State is the owner frame itself: ≤ nCents × maxBucket rows (the
    * SemDeDup state model — bounded by design, independent of stream
    * length), kept DISTRIBUTED as a DataFrame; the caller truncates lineage
    * per step (`localCheckpoint`) instead of collecting it to the driver.
    * Duplicate-id re-delivery (a replayed micro-batch) is absorbed by the
    * `dropDuplicates("id")` before the cap, so a retried step commits the
    * same owners and the same kept set.
    *
    * Both frames carry (`id` long, `__v` array<double>, `cent_id`).
    * Returns (kept batch rows, updated owner state).
    */
  def semanticDedupStep(
      owners: DataFrame, batch: DataFrame, minCos: Double,
      maxBucket: Int = DEFAULT_MAX_BUCKET): (DataFrame, DataFrame) = {
    val newOwners = graft.ops.Dedup.capBuckets(
      owners.unionByName(batch).dropDuplicates("id"), Seq("cent_id"), "id", maxBucket)
    val dropped = batch
      .select(col("cent_id"), col("id").as("__id_b"), col("__v").as("__vb"))
      .join(newOwners.select(
        col("cent_id"), col("id").as("__id_a"), col("__v").as("__va")), Seq("cent_id"))
      .filter(col("__id_a") < col("__id_b") &&
        cosineR6(col("__va"), col("__vb")) >= minCos)
      .select(col("__id_b").as("id")).distinct()
    (batch.join(dropped, Seq("id"), "left_anti"), newOwners)
  }

  /** IVF search over QUANTIZED inverted lists — IVF + int8 composed, i.e.
    * the actual 100 TB ANN architecture: the coarse stage (centroid
    * assignment + probe selection) runs on floats exactly like [[ivfTopK]],
    * while the inverted lists store int8 codes ([[int8Codes]], 4× smaller
    * than float32) and in-list ranking runs entirely in the integer domain
    * through [[graft.functions.DotProductInt]] (scales cancel for cosine,
    * see [[int8TopK]]). Candidate generation cost is IVF's (only nprobe
    * lists touched); candidate ranking cost is the quantized kernel's.
    * Same ranking discipline: rounded-6 keys, id tiebreaks. Scale knobs
    * identical to [[ivfTopK]].
    */
  def ivfInt8TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCents: Int, nprobe: Int,
      maxBucket: Int = DEFAULT_MAX_BUCKET, trainIters: Int = 0,
      trainSample: Double = 1.0, assignKernel: Boolean = true): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
    val cents = lloydCentroids(sampleForTraining(base, trainSample), nCents, trainIters)
    val inverted = cappedLists(base, assignExpr(cents, assignKernel), maxBucket, int8Codes)
      .withColumnRenamed("q", "__cq")
    quantProbeRank(inverted, queries, idCol, vecCol, cents, k, nprobe, assignKernel)
  }

  /** The anchor-capped inverted lists shared by [[ivfInt8TopK]] and
    * [[writeIvfIndex]]: `base` (`id`, `__v`, payload…) is assigned to its
    * nearest centroid, capped per list, and coded AFTER the cap, so only
    * surviving rows are encoded. Emits (`neighbor_id`, `q`, `cent_id`,
    * payload…) — the stored row shape of every persisted index.
    */
  private def cappedLists(
      base: DataFrame, assign: Column => Column, maxBucket: Int,
      code: Column => Column, payload: Seq[String] = Seq.empty): DataFrame =
    Dedup.capBuckets(
      base.withColumn("cent_id", assign(col("__v"))), Seq("cent_id"), "id", maxBucket)
      .select(Seq(col("id").as("neighbor_id"), code(col("__v")).as("q"), col("cent_id"))
        ++ payload.map(col): _*)

  /** shared probe + quantized ranking stage of every scalar-quantized IVF
    * search ([[ivfInt8TopK]] and the int8/int16 persisted indexes): probes
    * select nprobe centroids on floats, meet the quantized lists through
    * the cent_id equi-join, rank in the integer domain. `inverted` carries
    * (neighbor_id, __cq array<int>, cent_id); `mkCodes` quantizes the query
    * side with the SAME construction the lists were stored with.
    */
  private def quantProbeRank(
      inverted: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Seq[Double])], k: Int, nprobe: Int,
      assignKernel: Boolean = true,
      mkCodes: Column => Column = int8Codes): DataFrame = {
    val dotInt = graft.functions.VectorExprs.dotInt _
    def qnorm(c: Column) = sqrt(dotInt(c, c).cast("double"))
    // norms projected ONCE per side (a row's norm would otherwise be
    // recomputed for every candidate pair it joins into — 2 extra integer
    // dots per pair); same IEEE values, so ranking is unchanged
    val probes = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"),
      mkCodes(asDouble(col(vecCol))).as("__qq"))
      .withColumn("__qn", qnorm(col("__qq")))
      .withColumn("cent_id", explode(probeIds(cents, col("__qv"), nprobe, assignKernel)))
    val lists = inverted.withColumn("__cn", qnorm(col("__cq")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    probes.join(lists, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_q", round(
        dotInt(col("__qq"), col("__cq")).cast("double") / (col("__qn") * col("__cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cent_id"), col("cos_q"), col("rank"))
  }

  /** A codec with the geometry it was trained to: the coarse centroids and,
    * for PQ, the per-subspace codebooks (dense position order — the code
    * values). It holds everything that differs between codecs, so the
    * index verbs are written once.
    */
  private final case class IvfGeometry(
      codec: IvfCodec, cents: Seq[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Double])]] = Seq.empty) {

    /** the stored `q` of an `array<double>` vector */
    def code(v: Column): Column = codec match {
      case IvfCodec.Int8 => int8Codes(v)
      case IvfCodec.Int16 => int16Codes(v).cast("array<smallint>")
      case IvfCodec.Pq(m, _, dim) =>
        graft.functions.PqExprs.pqCodePositions(v, books, dim / m)
    }

    /** the one-file sidecar: (cent_id, cv) rows for the scalar codecs; for
      * PQ BOTH geometries in one frame (`kind` = coarse centroid rows and
      * per-subspace codebook rows), so a reader always resolves lists,
      * coarse centroids and codebooks from the same committed version
      */
    def sidecar(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      val frame =
        if (books.isEmpty) cents.toDF("cent_id", "cv")
        else (cents.map { case (cid, cv) => ("coarse", cid, -1L, cv) } ++
          books.zipWithIndex.flatMap { case (bk, s) =>
            bk.sortBy(_._1).zipWithIndex.map { case ((_, cv), pos) =>
              ("book", s.toLong, pos.toLong, cv)
            }
          }).toDF("kind", "k1", "k2", "cv")
      frame.coalesce(1)
    }

    /** rank the committed lists (`neighbor_id`, `__cq` array<int>,
      * `cent_id` long, payload…) against a query batch: the integer-domain
      * cosine of [[quantProbeRank]], or the ADC tail [[pqProbeSide]] +
      * [[adcRanked]] that [[ivfPqTopK]] ranks with
      */
    def rank(
        lists: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int): DataFrame = codec match {
      case IvfCodec.Int8 =>
        quantProbeRank(lists, queries, idCol, vecCol, cents, k, nprobe)
      case IvfCodec.Int16 =>
        quantProbeRank(lists, queries, idCol, vecCol, cents, k, nprobe,
          mkCodes = int16Codes)
      case IvfCodec.Pq(m, _, dim) =>
        val probes = pqProbeSide(queries, idCol, vecCol, cents, books, dim / m, nprobe)
        adcRanked(
          broadcast(probes).join(lists, Seq("cent_id"))
            .filter(col("query_id") =!= col("neighbor_id")),
          m, k, s => element_at(col("__cq"), s + 1),
          Seq(col("query_id"), col("neighbor_id"), col("cent_id"),
            col("adist"), col("rank")))
    }
  }

  /** Build and PERSIST an inverted-file index — the storage form of
    * [[ivfInt8TopK]] / [[ivfPqTopK]] and the layout a 100 TB deployment
    * actually keeps on disk (the in-memory ops rebuild the index per query;
    * a production index is built once, searched many times):
    *
    *   `path/lists/`     (neighbor_id, q, payload…) PARTITIONED BY cent_id —
    *                     `q` is the `codec`'s stored code, and a probe
    *                     touches only its nprobe directories (partition-
    *                     level pruning, so search I/O is `nprobe/nCents` of
    *                     the index, not a full scan)
    *   `path/centroids/` the codec's sidecar (`IvfGeometry.sidecar`) —
    *                     nCents rows (+ PQ codebooks), the driver-side
    *                     broadcast build for probe selection
    *   `path/_COMMIT`    [[IndexManifest]] pointer — the live file set,
    *                     flipped atomically by every append so readers never
    *                     see a half-updated index
    *
    * Same deterministic construction as the in-memory ops (smallest-id
    * centroids, kernel assignment, anchor-capped lists; PQ codebooks get one
    * Lloyd iteration), so a search over the persisted index returns exactly
    * what [[ivfInt8TopK]] / [[ivfPqTopK]] return for the same parameters.
    * `attrCols` ride the lists as plain payload columns: they cost their
    * storage width per row and buy FILTERED search — a metadata predicate
    * Catalyst pushes into the list parquet scan ([[openIvfSearcher]]'s
    * `listFilter`), composing with partition pruning. Writing over a
    * committed index is a crash-safe rebuild ([[publishIndexLists]]).
    */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCents: Int, codec: IvfCodec, attrCols: Seq[String] = Seq.empty): Unit = {
    val base = corpus.select(Seq(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      ++ attrCols.map(col): _*)
    val books = codec match {
      case IvfCodec.Pq(m, nCodes, dim) => pqCodebooks(corpus, idCol, vecCol, m, nCodes, dim, 1)
      case _ => Seq.empty
    }
    val cents = lloydCentroids(base.select(col("id"), col("__v")), nCents, 0)
    val geo = IvfGeometry(codec, cents, books)
    val lists = cappedLists(base, assignExpr(cents, assignKernel = true),
      DEFAULT_MAX_BUCKET, geo.code, attrCols)
    publishIndexLists(corpus.sparkSession, path, lists, geo.sidecar(corpus.sparkSession))
  }

  /** The fresh-build / rebuild half of the commit protocol: lists go under
    * `lists/` partitioned by `cent_id`, the sidecar frame under the
    * (versioned) `cdir`, and the `_COMMIT` flip publishes both atomically.
    */
  private def publishIndexLists(
      spark: org.apache.spark.sql.SparkSession, path: String,
      lists: DataFrame, sidecar: DataFrame): Unit = {
    val prior = readCommit(spark, path)
    prior.map(parseManifest) match {
      case None =>
        // fresh build: plain overwrite, then the first manifest
        lists.write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/lists")
        sidecar.write.mode("overwrite").parquet(s"$path/centroids")
        commitManifest(spark, path,
          IndexManifest(0L, listDataFiles(spark, path), Seq.empty), prior, "build")
      case Some(m) =>
        // REBUILD over a committed index: same crash-safe protocol as the
        // append — everything is written as NEW files/dirs, the flip is the
        // only visible transition, the whole previous version becomes the
        // grace window. A crash mid-rebuild leaves readers on the old index.
        val listsRoot = new org.apache.hadoop.fs.Path(s"$path/lists")
        val fs = listsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
        m.expired.foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(listsRoot, f), false))
        m.expiredDirs.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(path, d), true))
        // sweep every uncommitted orphan (a rebuild touches all partitions;
        // hygiene only — the rebuild's own files come from the staged
        // promote, never a listing diff)
        val live = m.files.toSet
        listDataFiles(spark, path).filterNot(live)
          .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(listsRoot, f), false))
        val version = m.version + 1
        val cdir = s"centroids_v$version"
        val newFiles = stageAndPromote(spark, path, lists)
        sidecar.write.mode("overwrite").parquet(s"$path/$cdir")
        commitManifest(spark, path, IndexManifest(
          version, newFiles, expired = m.files, cdir = cdir,
          expiredDirs = if (m.cdir == cdir) Seq.empty else Seq(m.cdir)),
          prior, "rebuild")
    }
  }

  /** Commit manifest of a persisted IVF index: `_COMMIT` at the index root
    * is the pointer [[Commit.flip]] replaces and the single source of truth
    * for which data files under `lists/` are live, so a reader resolves the
    * pre- or the post-commit file set, never a mix. `expired` carries the
    * files the latest commit replaced: they stay on disk for one commit (the
    * reader grace window) and are deleted by the next append. An index
    * written before this protocol (no `_COMMIT`) is adopted on first
    * read/append from its directory listing.
    *
    * `cdir` names the live centroid-sidecar directory: a REBUILD writes a
    * new `centroids_v<N>` and flips `cdir` with everything else, so the
    * centroid geometry and the lists a reader resolves always belong to the
    * same index version; the replaced sidecar rides `expiredDirs` through
    * the same one-commit grace window as replaced list files.
    *
    * On top of [[Commit]]'s single-writer fence (a loser's promoted files
    * become orphans the next append or vacuum sweeps) the index adds:
    *
    *  - POSITIVE file ownership: a writer's manifest lists exactly the files
    *    it staged and promoted under its own nonce ([[stageAndPromote]]) —
    *    never a listing diff, which under true concurrency would silently
    *    adopt another writer's uncommitted files into this writer's commit.
    *  - vacuum AS a commit: [[vacuumIvfIndex]] re-publishes the manifest at
    *    version + 1 after its sweep, so an append racing the sweep fails its
    *    own fence instead of committing partitions whose files vacuum
    *    deleted.
    */
  private case class IndexManifest(
      version: Long, files: Seq[String], expired: Seq[String],
      cdir: String = "centroids", expiredDirs: Seq[String] = Seq.empty)

  /** the raw `_COMMIT` pointer — writers keep it as their flip's prior */
  private def readCommit(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[String] =
    Commit.read(spark.sparkContext.hadoopConfiguration, path, "_COMMIT")

  private def parseManifest(body: String): IndexManifest = {
    val lines = body.linesIterator.toVector
    IndexManifest(
      lines.collectFirst { case l if l.startsWith("v ") => l.drop(2).toLong }.getOrElse(0L),
      lines.collect { case l if l.startsWith("f ") => l.drop(2) },
      lines.collect { case l if l.startsWith("x ") => l.drop(2) },
      lines.collectFirst { case l if l.startsWith("c ") => l.drop(2) }.getOrElse("centroids"),
      lines.collect { case l if l.startsWith("xd ") => l.drop(3) })
  }

  private def commitManifest(
      spark: org.apache.spark.sql.SparkSession, path: String, m: IndexManifest,
      prior: Option[String], op: String): Unit = {
    val body = (Seq(s"v ${m.version}", s"c ${m.cdir}") ++
      m.files.sorted.map("f " + _) ++ m.expired.sorted.map("x " + _) ++
      m.expiredDirs.sorted.map("xd " + _)).mkString("\n")
    Commit.flip(spark.sparkContext.hadoopConfiguration, path, "_COMMIT",
      m.version, body, prior, op)
  }

  /** `lists/`-relative paths of the data files currently on disk (recursive
    * over the `cent_id=` partition dirs; commit-protocol markers excluded)
    */
  private def listDataFiles(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/lists")
    dataFilesUnder(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** root-relative paths of the data files under `root` (recursive;
    * commit-protocol markers excluded)
    */
  private def dataFilesUnder(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else {
      val rootStr = fs.makeQualified(root).toString
      val it = fs.listFiles(root, true)
      val buf = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
          buf += f.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
      }
      buf.result()
    }

  /** Write `rows` (partitioned by `cent_id`) into a private `stage_<nonce>`
    * directory, then move each data file into `lists/` under a name carrying
    * the nonce, and return exactly the promoted relative paths — POSITIVE
    * file ownership. A post-write listing diff would silently ADOPT a
    * concurrent writer's uncommitted files into this writer's manifest
    * (duplicating rows no fence could catch, since the on-disk manifest is
    * still the expected version at flip time); a promoted set cannot contain
    * anything this writer did not stage. Staging also keeps half-written
    * files out of `lists/` entirely, so a concurrent vacuum never sees them
    * as sweepable orphans mid-write.
    *
    * The nonce is a UUID: collision-resistant across JVMs/hosts, so two
    * writers can never share a stage dir or promote colliding destination
    * names (a time-derived nonce could collide across machines and silently
    * mix the writers' files). And a promote that finds ZERO staged data
    * files for a non-empty input fails loudly: it means something external
    * (a concurrent vacuum's stage sweep, a manual cleanup) deleted the
    * staging directory between the write and the listing — committing would
    * publish touched partitions with NO files, silently dropping the
    * pre-existing rows merged into them.
    */
  private def stageAndPromote(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, afterStage: () => Unit = () => ()): Seq[String] = {
    val listsRoot = new org.apache.hadoop.fs.Path(s"$path/lists")
    val fs = listsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
    val stageDir = new org.apache.hadoop.fs.Path(path, s"stage_$nonce")
    rows.write.mode("overwrite").partitionBy("cent_id").parquet(stageDir.toString)
    afterStage() // test seam: the write-to-listing window a stage sweep hits
    val promoted = dataFilesUnder(fs, stageDir).map { rel =>
      val slash = rel.lastIndexOf('/')
      val (dir, name) = (rel.substring(0, slash), rel.substring(slash + 1))
      val destRel = s"$dir/$nonce-$name"
      fs.mkdirs(new org.apache.hadoop.fs.Path(listsRoot, dir))
      if (!fs.rename(new org.apache.hadoop.fs.Path(stageDir, rel),
        new org.apache.hadoop.fs.Path(listsRoot, destRel)))
        throw new java.io.IOException(s"failed to promote staged file $rel into $listsRoot")
      destRel
    }
    if (promoted.isEmpty && !rows.isEmpty)
      throw new java.io.IOException(
        s"staged write under $stageDir produced no data files for a " +
          "non-empty input: the staging directory was deleted externally " +
          "(concurrent vacuum or manual cleanup) — aborting the commit " +
          "instead of publishing an empty touched-partition set")
    fs.delete(stageDir, true)
    promoted
  }

  /** The live inverted lists of a persisted index: exactly the manifest's
    * file set (explicit paths + `basePath`, so `cent_id` stays a partition
    * column and partition/dynamic pruning still apply), with the `cent_id`
    * key restored to long (partition inference reads it as int) and any
    * attribute payload columns kept. Falls back to the raw directory for
    * pre-manifest indexes.
    */
  private def readIndexLists(
      spark: org.apache.spark.sql.SparkSession, path: String,
      manifest: Option[IndexManifest]): DataFrame = {
    val lists = manifest match {
      case Some(m) if m.files.nonEmpty =>
        spark.read.option("basePath", s"$path/lists")
          .parquet(m.files.map(f => s"$path/lists/$f"): _*)
      case Some(_) =>
        // a committed manifest with an EMPTY file list (e.g. an empty-corpus
        // build) still defines the live set: it is empty. Falling back to the
        // raw directory here would surface grace-window files and uncommitted
        // orphans — exactly what reader isolation forbids.
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("neighbor_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("q",
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
            org.apache.spark.sql.types.StructField("cent_id",
              org.apache.spark.sql.types.IntegerType))))
      case None => spark.read.parquet(s"$path/lists")
    }
    lists.withColumn("cent_id", col("cent_id").cast("long"))
  }

  /** A committed index as every verb but the build reads it, resolved from
    * ONE `_COMMIT` read: the raw pointer (an appender's flip prior), the
    * geometry with its codec, and the live lists ([[readIndexLists]]).
    */
  private final case class OpenIndex(
      prior: Option[String], geometry: IvfGeometry, lists: DataFrame)

  private def openIndex(spark: org.apache.spark.sql.SparkSession, path: String): OpenIndex = {
    val prior = readCommit(spark, path)
    val manifest = prior.map(parseManifest)
    val lists = readIndexLists(spark, path, manifest)
    val sidecar = spark.read.parquet(s"$path/${manifest.fold("centroids")(_.cdir)}")
    val rows = sidecar.collect()
    def keyed(rs: Seq[org.apache.spark.sql.Row], key: String) = rs.map(r =>
      (r.getAs[Long](key), r.getAs[scala.collection.Seq[Double]]("cv").toSeq)).sortBy(_._1)
    val geometry =
      if (sidecar.columns.contains("kind")) {
        val (coarse, book) = rows.toSeq.partition(_.getAs[String]("kind") == "coarse")
        val books = book.groupBy(_.getAs[Long]("k1")).toSeq.sortBy(_._1)
          .map { case (_, rs) => keyed(rs, "k2") }
        val (m, nCodes) = (books.length, books.head.length)
        IvfGeometry(IvfCodec.Pq(m, nCodes, m * books.head.head._2.length),
          keyed(coarse, "k1"), books)
      } else {
        val codec = lists.schema("q").dataType match {
          case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ShortType, _) =>
            IvfCodec.Int16
          case _ => IvfCodec.Int8
        }
        IvfGeometry(codec, keyed(rows.toSeq, "cent_id"))
      }
    OpenIndex(prior, geometry, lists)
  }

  /** Search a persisted [[writeIvfIndex]] index of any codec — the serving
    * FIT/SERVE split: resolve the manifest, construct the list frame, and
    * collect the sidecar ONCE, returning the per-query-batch search
    * function. Probes meet ONLY their nprobe list partitions through the
    * cent_id equi-join, so at 100 TB the scan reads `nprobe/nCents` of the
    * stored (already compressed) index; ranking is identical to
    * [[ivfInt8TopK]] (int8), its int16 twin, or [[ivfPqTopK]] (PQ) over the
    * same corpus. A one-shot search is `openIvfSearcher(...)(queries)`.
    *
    * The streaming searches open once so a static index's sidecar is not
    * re-collected (a driver job) and its manifest not re-read on EVERY
    * micro-batch — the same static-side fit-once discipline the
    * asof/bm25/scrub twins pin. The returned closure is only valid while
    * the index version it resolved is live (a static index for the
    * stream's lifetime, per the twins' contract).
    *
    * FILTERED ANN: `listFilter` lands before ranking, so top-k is taken
    * among MATCHING rows (the vector-database `filter=` semantics). It sits
    * directly over the parquet scan — Catalyst pushes it into the reader
    * (PushedFilters), composing with cent_id partition pruning: search I/O
    * is (nprobe/nCents) × selectivity of the index, and PQ rows that fail
    * it never expand their codes into distance lookups.
    */
  def openIvfSearcher(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      listFilter: Option[Column] = None): DataFrame => DataFrame = {
    val idx = openIndex(spark, path)
    val raw = idx.lists
      .withColumn("q", col("q").cast("array<int>"))
      .withColumnRenamed("q", "__cq")
    val lists = listFilter.map(raw.filter).getOrElse(raw)
    queries => idx.geometry.rank(lists, queries, idCol, vecCol, k, nprobe)
  }

  /** List-balance statistics of a persisted index of any codec — the
    * operational "retrain or not" signal: IVF search cost is `nprobe/nCents`
    * of the data ONLY while lists stay balanced, and drift (appends routed
    * through stale centroids) shows up here first as a rising share on a
    * few lists. One pass over the committed lists (reader-isolated via the
    * manifest, same as search), one `cent_id` group: per-list count plus its
    * share of the corpus. Counts are exact longs; the share is one division
    * rounded to 6 (engine-exact — same integers, same op).
    */
  def ivfIndexStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val perCent = readIndexLists(spark, path, readCommit(spark, path).map(parseManifest))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = perCent.agg(sum(col("n_vectors")).as("__tot"))
    perCent.crossJoin(broadcast(tot)) // 1-row scalar attach
      .select(col("cent_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("__tot"), 6).as("share"))
  }

  /** Append a batch of new vectors to a persisted [[writeIvfIndex]] index
    * of any codec — the maintenance op of the nightly-crawl pattern (the ANN
    * twin of [[Dedup.incrementalExact]]): a 100 TB index is never rebuilt
    * from scratch. Three steps, I/O proportional to the BATCH, not the
    * index:
    *
    *  1. encode: new vectors are coded and assigned with the STORED
    *     geometry (coarse centroids, and PQ codebooks) — immutable across
    *     appends, so probe routing and codes agree before and after. The
    *     batch carries the payload columns the build wrote, read from the
    *     committed lists' schema: a batch without them would merge as nulls
    *     that a `listFilter` silently stops matching;
    *  2. merge: only the TOUCHED `cent_id` lists are read back (exactly the
    *     manifest's files for those partitions, ≤ nCents of them), unioned
    *     with the new rows, and re-capped — capping the union of an
    *     already-capped list with the batch equals capping the uncapped
    *     union, because the anchor cap keeps smallest ids: any id surviving
    *     the union cap survived the base cap too;
    *  3. publish: the merged lists are written as NEW uniquely-named part
    *     files (no live file is ever mutated), then the [[IndexManifest]]
    *     `_COMMIT` pointer flips atomically to the new file set. A crash
    *     before the flip leaves only uncommitted orphan files that readers
    *     (manifest-driven) never see and the next append sweeps; a crash
    *     after the flip is a completed append. The files the flip replaced
    *     stay on disk for one commit as the reader grace window. Untouched
    *     partitions are never read or written.
    *
    * Result is bit-identical to [[writeIvfIndex]] over base ∪ batch with
    * the same centroids (OpsSpec pins it; the gate's oracle is the
    * full-corpus index search).
    */
  def appendIvfIndex(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    appendIvfIndexImpl(spark, batch, idCol, vecCol, path, afterStage = () => ())

  /** [[appendIvfIndex]] with a test seam: `afterStage` runs between the
    * staged write and the promote listing — the window a stage sweep hits.
    */
  private[graft] def appendIvfIndexImpl(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, path: String, afterStage: () => Unit): Unit = {
    val idx = openIndex(spark, path)
    val v = asDouble(col(vecCol))
    // the build's attrCols, from the committed lists: the batch must carry
    // each one (a missing column fails here, before anything is written)
    val payload = idx.lists.columns.filterNot(Set("neighbor_id", "q", "cent_id"))
    val newRows = batch.select(Seq(col(idCol).as("neighbor_id"), idx.geometry.code(v).as("q"),
      assignExpr(idx.geometry.cents, assignKernel = true)(v).as("cent_id"))
      ++ payload.map(col): _*)
    val touched = newRows.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)) // <= nCents values, a driver-side build
    if (touched.isEmpty) return
    val manifest = idx.prior.map(parseManifest).getOrElse(
      // pre-manifest index: adopt what is on disk as version -1
      IndexManifest(-1L, listDataFiles(spark, path), Seq.empty))
    val listsRoot = new org.apache.hadoop.fs.Path(s"$path/lists")
    val fs = listsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the previous commit's grace window closes now (single-writer contract)
    manifest.expired.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(listsRoot, f), false))
    manifest.expiredDirs.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(path, d), true))
    val touchedDirs = touched.map(c => s"cent_id=$c/").toSet
    def inTouched(rel: String) = touchedDirs.exists(rel.startsWith)
    // sweep uncommitted orphans a crashed append left in the touched dirs
    // (pure hygiene — this writer's own files are identified positively by
    // the staged promote below, never by a listing diff)
    val live = manifest.files.toSet
    listDataFiles(spark, path)
      .filter(f => inTouched(f) && !live.contains(f))
      .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(listsRoot, f), false))
    // the touched partitions of the live lists (partition-pruned to exactly
    // the manifest's files there), merged by NAME with the new rows
    val existing = idx.lists.filter(col("cent_id").isin(touched: _*))
    val merged = Dedup.capBuckets(
      existing.unionByName(newRows), Seq("cent_id"), "neighbor_id", DEFAULT_MAX_BUCKET)
      .localCheckpoint(true)
    val newFiles = stageAndPromote(spark, path, merged, afterStage)
    commitManifest(spark, path, IndexManifest(
      manifest.version + 1,
      manifest.files.filterNot(inTouched) ++ newFiles,
      manifest.files.filter(inTouched), cdir = manifest.cdir), idx.prior, "append")
  }

  /** Sweep unreferenced files from a persisted index of any codec — the
    * admin op that reclaims space after crashed writers. Deletes list files
    * neither live nor inside the current grace window, and stale
    * `centroids_v*` sidecars that no manifest entry references. Never
    * touches the grace window itself, so in-flight readers of the previous
    * commit stay safe; readers of the CURRENT commit are untouched by
    * construction.
    *
    * Vacuum is a WRITER under the single-writer contract: a promoted but
    * not-yet-committed part file is indistinguishable from a crash orphan,
    * so a vacuum racing an append could delete the appender's files in the
    * window between its promote and its flip. Three guards make the race
    * loud in BOTH directions: vacuum ends by re-publishing the manifest at
    * version + 1 (through the fenced [[commitManifest]]) — so an append
    * whose PROMOTED files the sweep may have eaten fails its own flip, and
    * a vacuum overlapped by a completed commit fails ITS flip with
    * [[Commit.ConcurrentWriteException]]; and a sweep that ate an append's
    * STAGING directory (before its promote — a window the appender's fence
    * cannot see, because vacuum commits its version bump only afterwards)
    * aborts the append inside [[stageAndPromote]], which refuses to promote
    * zero data files for a non-empty input. Defense in depth on top of
    * that: vacuum only sweeps `stage_*` dirs older than `STAGE_GRACE_MS`,
    * so a LIVE writer's in-flight staging is never deleted in the first
    * place — only genuine crash leftovers are.
    * Run vacuum only when no append/rebuild is in flight.
    */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    readCommit(spark, path).foreach { prior =>
      val m = parseManifest(prior)
      val listsRoot = new org.apache.hadoop.fs.Path(s"$path/lists")
      val fs = listsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val referenced = m.files.toSet ++ m.expired.toSet
      listDataFiles(spark, path).filterNot(referenced)
        .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(listsRoot, f), false))
      val keepDirs = Set(m.cdir) ++ m.expiredDirs.toSet
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroids"))
        .map(_.getPath)
        .filterNot(p => keepDirs.contains(p.getName))
        .foreach(p => fs.delete(p, true))
      // crashed writers' staging leftovers (committed writers delete theirs).
      // Only dirs older than the grace window: a younger stage_* may be a
      // LIVE writer mid-write — sweeping it would turn its append into a
      // loud failure (stageAndPromote aborts on an empty promote) where
      // leaving it costs only disk until the next vacuum.
      val cutoff = System.currentTimeMillis() - STAGE_GRACE_MS
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("stage_")
          && s.getModificationTime < cutoff)
        .foreach(s => fs.delete(s.getPath, true))
      // vacuum IS a commit: re-publishing the same manifest at version + 1
      // makes any writer whose files the sweep may have touched fail its
      // flip loudly (its prior no longer matches) instead of committing
      // partitions vacuum just swept — without the bump, a racing append's
      // fence would PASS even though its uncommitted files were deleted.
      commitManifest(spark, path, m.copy(version = m.version + 1), Some(prior), "vacuum")
    }

  /** how old a `stage_*` dir must be (1 h) before vacuum treats it as a
    * crash leftover rather than a possibly-live writer's in-flight staging
    */
  private val STAGE_GRACE_MS: Long = 60L * 60 * 1000

  /** int8 quantization codes of an `array<double>` view: per-vector scale
    * max|x|/127, q_i = round(x_i·127/max) ∈ [-127, 127]; zero vector → zeros.
    * The ONE definition of the code construction — [[quantizeInt8]]
    * (diagnostics) and [[int8TopK]] (quantized-domain search) both build on
    * it, so the stored codes and the searched codes cannot drift.
    */
  def int8Codes(v: Column): Column = scalarCodes(v, 127)

  /** Symmetric int16 quantization codes — the 2-byte/dim middle rung of the
    * storage ladder between int8 (1 byte, coarser) and float64 (8 bytes,
    * exact): per-vector scale max|x|/32767, q_i = round(x_i·32767/max)
    * ∈ [-32767, 32767]. 256× finer resolution than int8 at 2× the bytes —
    * the float16-class tradeoff, realized as integer codes so ranking stays
    * in the exact integer domain (scales cancel for cosine, dot terms
    * bounded by 32767²·dim ≪ 2⁶³) and the oracle stays bit-for-bit.
    */
  def int16Codes(v: Column): Column = scalarCodes(v, 32767)

  /** the ONE symmetric scalar-quantization construction behind int8Codes
    * and int16Codes: per-vector scale max|x|/maxCode, zero vector → zeros.
    * A codegen'd kernel since r18: the HOF form carried the per-vector max
    * inside the per-element lambda — O(d²) + d array allocations per row
    * (lambda trees get no CSE; see QuantKernels' scaladoc). Bit parity with
    * the old form is law-pinned (LawsSpec) and digest-oracle-pinned.
    */
  private def scalarCodes(v: Column, maxCode: Int): Column =
    graft.functions.VectorExprs.scalarCodes(v, maxCode)

  /** Quantized-domain brute-force cosine top-k — the consumer of the int8
    * codes: both sides are quantized ([[int8Codes]]) and ranking runs
    * ENTIRELY in the integer domain through the codegen'd
    * [[graft.functions.DotProductInt]] kernel. For cosine the two per-vector
    * scales cancel exactly, so cos_q = qa·qb / (√(qa·qa)·√(qb·qb)) — three
    * exact integer dots per pair, 4× less data scanned than float32 at
    * 100 TB, and integer dots make the DuckDB oracle bit-for-bit. Recall vs
    * the float ranking is the documented quantization tradeoff
    * (LawsSpec pins it ≥ 0.8 at the gate's dim=64).
    *
    * Same shape as [[bruteForceTopK]]: query side broadcast, corpus streams
    * once, per-query window top-k, rounded-6 keys + id tiebreaks.
    */
  def int8TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    def codes(df: DataFrame) =
      df.select(col(idCol), int8Codes(asDouble(col(vecCol))).as("__q"))
    val dotInt = graft.functions.VectorExprs.dotInt _
    def qnorm(c: Column) = sqrt(dotInt(c, c).cast("double"))
    // norms projected once per side, not recomputed per candidate pair
    val c = codes(corpus).select(col(idCol).as("neighbor_id"), col("__q").as("__cq"))
      .withColumn("__cn", qnorm(col("__cq")))
    val q = codes(queries).select(col(idCol).as("query_id"), col("__q").as("__qq"))
      .withColumn("__qn", qnorm(col("__qq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_q", round(
        dotInt(col("__qq"), col("__cq")).cast("double") / (col("__qn") * col("__cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_q"), col("rank"))
  }

  /** Symmetric int8 quantization of an embedding column — the vector-
    * compression step a 100 TB ANN index runs before storage (4× smaller than
    * float32). Per-vector scale = max|x|/127, stored q_i = round(x_i·127/max)
    * ∈ [-127, 127]; a zero vector quantizes to zeros. Pure scan-level
    * expressions (zero shuffle), exact-integer codes → SQL-reproducible.
    * Emits scalar diagnostics (dims, scale, code sum, md5 digest of the code
    * array, max dequantization error) — the quality-monitoring columns a
    * pipeline tracks, and a full bit-level pin of the codes via the digest.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeScalar(df, idCol, vecCol, 127)

  /** [[quantizeInt8]]'s diagnostics for the 2-byte [[int16Codes]] domain —
    * same columns; max_err shrinks ~256× (the resolution the extra byte buys)
    */
  def quantizeInt16(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeScalar(df, idCol, vecCol, 32767)

  private def quantizeScalar(
      df: DataFrame, idCol: String, vecCol: String, maxCode: Int): DataFrame = {
    val v = asDouble(col(vecCol))
    // every piece is a kernel or an O(d) fold over kernel outputs — the old
    // form recomputed the max (and under it the codes) per ELEMENT via
    // HOF-lambda splicing, O(d²)·3 per row (see QuantKernels)
    val mx = graft.functions.VectorExprs.absMax(v)
    val q = scalarCodes(v, maxCode)
    val mc = lit(maxCode.toDouble)
    df.select(
      col(idCol),
      size(v).cast("long").as("n_dims"),
      round(mx / mc, 9).as("scale"),
      aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
      md5(array_join(transform(q, x => x.cast("string")), ",")).as("q_digest"),
      round(graft.functions.VectorExprs.dequantMaxErr(v, q, mx, maxCode), 9)
        .as("max_err"))
  }

  /** Scalar projection of each vector onto a trained PCA loading — the
    * dimensionality-reduction SERVING path, shared by the batch apply gate
    * and the streaming drift monitor. `loadings` is the persisted component
    * artifact as (i: int dim index, loading: double); it is dim-sized, so
    * it broadcasts and the dot product folds per vector as round9-scaled
    * longs (order-independent ⇒ engine-exact) — scan-level over the corpus,
    * zero shuffle past the explode-join.
    */
  def pcaProject(
      df: DataFrame, idCol: String, vecCol: String,
      loadings: DataFrame): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .join(broadcast(loadings), Seq("i"))
      .groupBy(col(idCol))
      .agg((sum(round(col("x").cast("double") * col("loading") * 1e9).cast("long"))
        .cast("double") / 1e9).as("__proj"))
      .select(col(idCol), round(col("__proj"), 6).as("projection"))

  /** Embedding near-duplicate pairs above a cosine threshold, candidates from
    * the LSH bucket join (scale path; exact-over-bucket semantics).
    */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double, nBits: Int,
      dim: Int, maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    val b = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("bucket", hyperplaneBucket(col("__v"), nBits, dim))
    val l = Dedup.capBuckets(b, Seq("bucket"), "id", maxBucket)
      .select(col("id").as("id_a"), col("__v").as("__va"), col("bucket"))
    val r = b.select(col("id").as("id_b"), col("__v").as("__vb"), col("bucket"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosineR6(col("__va"), col("__vb")))
      .filter(col("cos_sim") >= minCos)
      .select(col("id_a"), col("id_b"), col("bucket"), col("cos_sim"))
  }
}
