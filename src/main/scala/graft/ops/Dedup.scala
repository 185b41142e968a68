package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps.{shingles, tokens}

/** Deduplication operators for training-data pipelines, designed shuffle-
  * conscious for the 100 TB case:
  *
  * - exact: one hash-shuffle on the digest, map-side partial agg;
  * - MinHash+LSH: shingle explosion → per-doc k-wide signature (map-side
  *   min-combine keeps the shuffle at k longs/doc) → band self-join (shuffle
  *   keyed on short band keys, never a cross join) → jaccard verify on the
  *   candidate pairs only;
  * - SimHash: one explode + one grouped sum per doc, pairs by hamming
  *   distance over candidates.
  *
  * Everything is md5-derived and integer-exact, so a SQL oracle reproduces
  * results bit-for-bit.
  */
object Dedup {

  /** Exact dedup: digest → keeper id + multiplicity. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the nightly-crawl ingestion pattern: admit
    * only new-batch docs whose content digest is absent from the existing
    * corpus. The corpus side is just its digest column (read it from a
    * persisted digest index — e.g. [[exact]]'s output snapshotted per
    * ingest — so the scan prunes to one 32-char column, not the corpus
    * text), the membership test is a `left_anti` join on the digest, and
    * the batch is first deduped WITHIN itself (min-id winner) so the
    * admitted set is digest-unique. Cost at 100 TB: one digest shuffle per
    * side — and only the 32-char digest column ever moves; the corpus text
    * never leaves its scan.
    */
  def incrementalExact(
      batch: DataFrame, idCol: String, textCol: String,
      corpusDigests: DataFrame): DataFrame = {
    val dig = corpusDigests.select(col("digest"))
    batch.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keeper"))
      .join(dig, Seq("digest"), "left_anti")
  }

  /** universal-hash modulus and per-function seeds, derived from hash32 so a
    * SQL oracle can inline the same literal constants
    */
  val MINHASH_P = 2147483647L // 2^31 - 1, prime
  def minhashSeeds(i: Int): (Long, Long) =
    (TextOps.hash32Local(s"a$i") % (MINHASH_P - 1) + 1, TextOps.hash32Local(s"b$i") % MINHASH_P)

  /** seed vectors for k minhash functions (see [[minhashSeeds]]) */
  def seedArrays(k: Int): (Seq[Long], Seq[Long]) = {
    val (as, bs) = (0 until k).map(minhashSeeds).unzip
    (as, bs)
  }

  /** Per-doc MinHash signature: columns mh_0..mh_{k-1}.
    * One md5-derived base hash per shingle, then k universal-hash mixes
    * h_i(x) = (a_i*x + b_i) mod P — 16× fewer md5 evaluations than hashing
    * per (i, shingle), with identical exact-integer portability.
    *
    * The whole signature is ONE codegen'd expression over the shingle array
    * ([[graft.functions.MinhashSignature]]): a pure map over the corpus scan,
    * no explode, no groupBy — the previous explode → md5-per-row →
    * k-min-aggregate shape paid a shuffle (k longs/doc after map-side
    * combine) plus the row-explosion; at 100 TB the signature stage is now
    * shuffle-free. Values are identical (min over the same mixes), so the
    * SQL oracle's groupBy formulation still reproduces them bit-for-bit.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, k: Int, shingleN: Int): DataFrame = {
    val (as, bs) = seedArrays(k)
    df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), shingles("__toks", shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0) // no shingles → no signature (as before)
      .withColumn("__mh", graft.functions.TextHashExprs.minhashSig(col("__sh"), as, bs))
      .select(col(idCol) +:
        (0 until k).map(i => element_at(col("__mh"), i + 1).as(s"mh_$i")): _*)
  }

  /** Skew guard for banded self-joins: the left (smaller-id) side of a pair
    * must be among the `maxBucket` smallest ids of its bucket. Exactly the
    * full pair set when a bucket has ≤ maxBucket members; for a pathological
    * bucket of m near-identical docs (boilerplate cluster, bot traffic) the
    * blowup drops from O(m²) to O(maxBucket·m) while every member still links
    * to the bucket's anchors — connected components still unifies the whole
    * cluster. The cap is deterministic (id order), so a SQL oracle reproduces
    * the exact same capped semantics. Documented recall tradeoff: anchor-to-
    * anchor pairs beyond the cap are dropped inside oversized buckets only.
    */
  val DEFAULT_MAX_BUCKET = 256

  /** The one implementation of the anchor cap (every banded/bucketed
    * self-join uses this, so the capped semantics cannot drift between call
    * sites): keep the `maxBucket` smallest `idCol` values per bucket.
    */
  def capBuckets(
      df: DataFrame, bucketCols: Seq[String], idCol: String,
      maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxBucket).drop("__rk")
  }

  /** LSH candidate pairs from a signature frame: k/bandSize bands, join docs
    * sharing any band key (id_a < id_b), distinct. Scales as a keyed
    * self-join on short band keys — no cross join anywhere; oversized buckets
    * are anchor-capped (see [[DEFAULT_MAX_BUCKET]]).
    */
  def lshCandidates(
      sig: DataFrame, idCol: String, k: Int, bandSize: Int,
      maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    val nBands = k / bandSize
    // ONE pass over sig: posexplode of the band-key array fans each doc into
    // its nBands (band, key) rows. The previous nBands-way union evaluated
    // the signature columns once PER BRANCH — with a computed signature
    // frame (the production path: mh_i = element_at(minhashSig(...), i+1))
    // that meant nBands full signature evaluations per doc per join side;
    // here each side evaluates it once (Catalyst CSE dedups the shared
    // minhash subexpression within the single projection).
    val keys = (0 until nBands).map { b =>
      concat_ws("_", (0 until bandSize).map(j => col(s"mh_${b * bandSize + j}")): _*)
    }
    val bands = sig.select(col(idCol).as("id"), posexplode(array(keys: _*)))
      .toDF("id", "band", "bkey")
    val l = capBuckets(bands, Seq("band", "bkey"), "id", maxBucket)
      .select(col("id").as("id_a"), col("band"), col("bkey"))
    val r = bands.select(col("id").as("id_b"), col("band"), col("bkey"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** (id, sh) shingle-set frame — the shared input of signature building and
    * jaccard verification.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("id"), shingles("__toks", shingleN).as("sh"))

  /** Full MinHash+LSH near-duplicate pipeline computing the shingle sets ONCE
    * (tokenize+shingle is the dominant map-side cost; the naive composition
    * recomputes it for signatures and again for verification). `persistSets`
    * caches the set frame across the two consumers — at cluster scale prefer
    * MEMORY_AND_DISK or recompute, depending on corpus size vs cluster RAM.
    */
  def nearDuplicatesLsh(
      df: DataFrame, idCol: String, textCol: String, k: Int, bandSize: Int,
      shingleN: Int, persistSets: Boolean = true,
      maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, shingleN)
    if (persistSets) sets.persist()
    val (as, bs) = seedArrays(k)
    val sig = sets.filter(size(col("sh")) > 0)
      .withColumn("__mh", graft.functions.TextHashExprs.minhashSig(col("sh"), as, bs))
      .select(col("id") +:
        (0 until k).map(i => element_at(col("__mh"), i + 1).as(s"mh_$i")): _*)
    val cands = lshCandidates(sig, "id", k, bandSize, maxBucket)
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        size(col("sh_a")).cast("long") + size(col("sh_b")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  /** PPJoin-style EXACT similarity join via prefix filtering (Xiao et al.,
    * "Efficient Similarity Joins for Near Duplicate Detection") — the
    * guaranteed-complete alternative to MinHash+LSH: finds EVERY pair with
    * Jaccard ≥ t, no probabilistic misses. Candidates come only from pairs
    * sharing a PREFIX token, where each set's prefix is its
    * `sz - ceil(t·sz) + 1` rarest tokens under one global (df, token)
    * order: J ≥ t forces |∩| ≥ ceil(t·max(sz_a, sz_b)), and the prefix
    * lemma then guarantees a shared prefix token — so the candidate join
    * keys on the rarest tokens by construction, which is what keeps
    * buckets small WITHOUT a completeness-breaking cap (the structural
    * answer to the LSH family's `capBuckets`).
    *
    * Shuffles: token df count, per-doc prefix rank, candidate equi-join on
    * prefix tokens + pair distinct, sz-keyed verification joins — all
    * token- or pair-sized. The threshold test is integer
    * cross-multiplication (`n_inter·100 ≥ tPct·n_union`), no float
    * boundary anywhere.
    */
  def ppJoin(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      tPct: Int): DataFrame = {
    require(tPct >= 1 && tPct <= 100, s"tPct in [1,100], got $tPct")
    // two consumers (prefix generation, verification) — pin one computation
    val sets = shingleSets(df, idCol, textCol, shingleN)
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")).cast("long"))
      .localCheckpoint(false)
    val tok = sets.select(col("id"), col("sz"), explode(col("sh")).as("t"))
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("t"))
    val prefix = tok.join(dfreq, Seq("t"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - expr(s"($tPct * sz + 99) div 100") + 1)
      .select(col("t"), col("id"))
      // r20: (t, id)-sized pin — both sides of the candidate self-join
      // consume it, and the aliased sides defeat exchange reuse, so
      // unpinned the dfreq join + prefix window ran twice
      .localCheckpoint(false)
    val cand = prefix.select(col("t"), col("id").as("id_a"))
      .join(prefix.select(col("t"), col("id").as("id_b")), Seq("t"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .filter(col("n_inter") * 100 >= lit(tPct.toLong) * col("n_union"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union"), 6).as("jaccard"))
  }

  /** The persisted CORPUS-SIDE INDEX of the incremental similarity joins —
    * what a deployment stores once so admission never rescans the history:
    * the sized shingle-set table (id, sh, sz), the token document
    * frequencies, and the join's corpus token table (`tokens` — the prefix
    * postings for the Jaccard form, the FULL postings for the containment
    * form). All three are (doc, token)-or-smaller, the
    * [[graft.ops.Retrieval.bm25StatsTable]] size class. Through r15's
    * streaming gates the per-batch forms re-derived all of this on EVERY
    * micro-batch — three corpus shuffles per trigger for a static corpus.
    */
  final case class IncrementalIndex(
      sets: DataFrame, dfreq: DataFrame, tokens: DataFrame)

  private def sizedSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    shingleSets(df, idCol, textCol, shingleN)
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")).cast("long"))
      .localCheckpoint(false)

  /** the shared prefix selector: each set's `sz − ceil(t·sz) + 1` rarest
    * tokens under the index's (df, token) order; tokens absent from the
    * index rank rarest (df = 0 — the batch-novel-token rule)
    */
  private def prefixUnder(sets: DataFrame, dfreq: DataFrame, tPct: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("t"))
    sets.select(col("id"), col("sz"), explode(col("sh")).as("t"))
      .join(dfreq, Seq("t"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - expr(s"($tPct * sz + 99) div 100") + 1)
      .select(col("t"), col("id"))
  }

  /** fit half of [[ppJoinIncremental]]: build + pin the corpus index once
    * (threshold is part of the fit — the prefix postings depend on it)
    */
  def ppCorpusIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tPct: Int): IncrementalIndex = {
    require(tPct >= 1 && tPct <= 100, s"tPct in [1,100], got $tPct")
    val cs = sizedSets(corpus, idCol, textCol, shingleN)
    val dfreq = cs.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val cPrefix = prefixUnder(cs, dfreq, tPct)
      .withColumnRenamed("id", "id_a")
      .localCheckpoint(false)
    IncrementalIndex(cs, dfreq, cPrefix)
  }

  /** serve half of [[ppJoinIncremental]]: admit one batch against the
    * stored index — only batch-sized work plus the candidate/verify joins
    */
  def ppJoinIncrementalStored(
      idx: IncrementalIndex, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tPct: Int): DataFrame = {
    require(tPct >= 1 && tPct <= 100, s"tPct in [1,100], got $tPct")
    val bs = sizedSets(batch, idCol, textCol, shingleN)
    val cand = idx.tokens
      .join(prefixUnder(bs, idx.dfreq, tPct).withColumnRenamed("id", "id_b"),
        Seq("t"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(idx.sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(bs.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .filter(col("n_inter") * 100 >= lit(tPct.toLong) * col("n_union"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union"), 6).as("jaccard"))
  }

  /** Incremental [[ppJoin]] — exact near-dup ADMISSION against a stored
    * corpus: every (corpus, batch) pair with Jaccard ≥ t, none within
    * either side (the nightly-crawl question is "which new docs duplicate
    * what we already have"). The global token order comes from the CORPUS
    * document frequencies (tokens unseen in the corpus count df = 0, i.e.
    * rarest); the prefix lemma holds under ANY fixed total order applied
    * to both sides, so completeness survives the batch's novel vocabulary
    * — which is what lets a deployment precompute the corpus prefix table
    * once and stream batches against it.
    */
  def ppJoinIncremental(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tPct: Int): DataFrame =
    ppJoinIncrementalStored(
      ppCorpusIndex(corpus, idCol, textCol, shingleN, tPct),
      batch, idCol, textCol, shingleN, tPct)

  /** Exact CONTAINMENT join — every ordered pair (a, b) with
    * |A∩B| / |A| ≥ t: the asymmetric sibling of [[ppJoin]], which Jaccard
    * misses when a short document is wholly contained in a much longer one
    * (J = |A|/|B| can be arbitrarily small while containment is 1.0 — the
    * quote/excerpt/boilerplate-inclusion case a crawl dedup must catch).
    *
    * Prefix filtering is ONE-SIDED here: |A∩B| ≥ o := ceil(t·|A|) depends
    * only on A, so A's `sz_a − o + 1` rarest tokens (same global (df,
    * token) order as ppJoin) must contain a token of A∩B — but B
    * contributes its FULL token postings, because no lower bound on the
    * overlap is expressible in |B| alone. Candidates are therefore
    * Σ_{t ∈ prefix(A)} df(t) pairs — keyed on A's rarest tokens by
    * construction, complete with no bucket cap. Verification is the
    * integer cross-multiplication `n_inter·100 ≥ tPct·sz_a`; the division
    * exists only in the reported score.
    */
  def containmentJoin(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      tPct: Int): DataFrame = {
    require(tPct >= 1 && tPct <= 100, s"tPct in [1,100], got $tPct")
    val sets = shingleSets(df, idCol, textCol, shingleN)
      .filter(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")).cast("long"))
      .localCheckpoint(false)
    val tok = sets.select(col("id"), col("sz"), explode(col("sh")).as("t"))
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("t"))
    // o = ceil(t·sz); prefix keeps ranks 1 .. sz − o + 1
    val prefixA = tok.join(dfreq, Seq("t"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - expr(s"($tPct * sz + 99) div 100") + 1)
      .select(col("t"), col("id").as("id_a"))
    val cand = prefixA
      .join(tok.select(col("t"), col("id").as("id_b")), Seq("t"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("n_inter") * 100 >= lit(tPct.toLong) * col("sz_a"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("sz_a"),
        round(col("n_inter").cast("double") / col("sz_a"), 6).as("containment"))
  }

  /** fit half of [[containmentJoinIncremental]]: the stored corpus index —
    * `tokens` holds the FULL postings (the one-sided prefix lemma puts the
    * prefix on the batch side, so the corpus contributes everything)
    */
  def containmentCorpusIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int): IncrementalIndex = {
    val cs = sizedSets(corpus, idCol, textCol, shingleN)
    val ctok = cs.select(col("id"), explode(col("sh")).as("t"))
      .localCheckpoint(false)
    val dfreq = ctok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    IncrementalIndex(cs, dfreq, ctok)
  }

  /** serve half of [[containmentJoinIncremental]] against a stored index */
  def containmentJoinIncrementalStored(
      idx: IncrementalIndex, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tPct: Int): DataFrame = {
    require(tPct >= 1 && tPct <= 100, s"tPct in [1,100], got $tPct")
    val bs = sizedSets(batch, idCol, textCol, shingleN)
    val prefixB = prefixUnder(bs, idx.dfreq, tPct)
      .withColumnRenamed("id", "id_b")
    val cand = prefixB
      .join(idx.tokens.select(col("t"), col("id").as("id_c")), Seq("t"))
      .select(col("id_b"), col("id_c")).distinct()
    cand
      .join(bs.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .join(idx.sets.select(col("id").as("id_c"), col("sh").as("sh_c")), Seq("id_c"))
      .withColumn("n_inter", size(array_intersect(col("sh_b"), col("sh_c"))).cast("long"))
      .filter(col("n_inter") * 100 >= lit(tPct.toLong) * col("sz_b"))
      .select(col("id_b"), col("id_c"), col("n_inter"), col("sz_b"),
        round(col("n_inter").cast("double") / col("sz_b"), 6).as("containment"))
  }

  /** Incremental [[containmentJoin]] — exact containment ADMISSION of a new
    * batch against a stored corpus: every (batch b, corpus c) pair with
    * |B∩C| / |B| ≥ t, i.e. "which new docs are mostly made of content we
    * already have" (the quote/boilerplate-inclusion admission question).
    * The prefix side is the BATCH (the bound ceil(t·|B|) depends only on
    * B); the corpus contributes its FULL token postings — which is exactly
    * the inverted index a deployment has already persisted, so admission
    * needs no corpus rescan. The token order comes from CORPUS dfs
    * (batch-novel tokens rank rarest, df = 0); the one-sided prefix lemma
    * holds under any fixed order applied to the batch side.
    */
  def containmentJoinIncremental(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tPct: Int): DataFrame =
    containmentJoinIncrementalStored(
      containmentCorpusIndex(corpus, idCol, textCol, shingleN),
      batch, idCol, textCol, shingleN, tPct)

  /** Exact jaccard over word-shingle sets for given candidate pairs. */
  def jaccardVerify(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    val sets = df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("id"), shingles("__toks", shingleN).as("sh"))
    pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        size(col("sh_a")).cast("long") + size(col("sh_b")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  /** Connected components over near-dup pairs: every doc labeled with the
    * smallest id reachable through the pair graph — the final step of a dedup
    * pipeline (keep one representative per duplicate cluster). Alternating
    * LARGE-STAR / SMALL-STAR rounds (the MapReduce CC algorithm of Kiveris
    * et al., "Connected Components in MapReduce and Beyond"): each round
    * contracts the graph toward a star forest rooted at the component
    * minima and converges in O(log n) rounds — min-label propagation needs
    * O(graph diameter) rounds, pathological for chain-shaped graphs (a
    * 1000-link chain = 1000 shuffles; this does it in ~10). The footprint
    * stays pairs-only: every phase is one groupBy + one join on the edge
    * frame (tiny relative to the corpus), `localCheckpoint`ed per round to
    * truncate iterative lineage.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** The deduplicated CORPUS from near-duplicate clustering — the
    * keep-one-per-component closure of the MinHash family (pairs →
    * components → canonical corpus; the lexical sibling of
    * [[graft.ops.Similarity.semanticDedup]]'s embedding-space form): LSH
    * candidates at `minJaccard`, connected components, keep each
    * component's canonical (minimum-id, = its component label) member plus
    * every singleton. Scale shape is the parts': banded candidate
    * generation (never all-pairs), pairs-only O(log n) clustering, and ONE
    * left_anti of the corpus against the dropped-id set (ids only — text
    * never joins back).
    */
  def canonicalCorpus(
      docs: DataFrame, idCol: String, textCol: String, k: Int, bandSize: Int,
      shingleN: Int, minJaccard: Double): DataFrame =
    canonicalCorpusFromPairs(docs, idCol,
      nearDuplicatesLsh(docs, idCol, textCol, k, bandSize, shingleN), minJaccard)

  /** [[canonicalCorpus]] consuming a PRECOMPUTED verified pair table (the
    * [[nearDuplicatesLsh]] output shape: id_a, id_b, jaccard) — the serving
    * form for a pipeline that builds the pair artifact once and feeds every
    * duplicate-graph consumer (canonical corpora, soft weights, clusters,
    * mining) from it instead of re-running shingle → signature → bands →
    * verify per consumer. Semantics identical by construction: the one-shot
    * forms above are now thin wrappers over these.
    */
  def canonicalCorpusFromPairs(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      minJaccard: Double): DataFrame = {
    val dropped =
      connectedComponents(pairs.filter(col("jaccard") >= minJaccard))
        .filter(col("id") =!= col("label")).select(col("id"))
    docs.join(dropped, docs(idCol) === dropped("id"), "left_anti")
  }

  /** SOFT deduplication — duplicate-aware DOWNWEIGHTING instead of
    * dropping (the SoftDeDup idea: near-duplicate content contributes ~once
    * in expectation by giving each member of an n-doc cluster sampling
    * weight 1/n, preserving diversity the hard keep-one loses). Output:
    * `doc_id, label, csize, weight` for EVERY corpus doc — singletons get
    * label = own id, csize 1, weight 1.0; cluster members share their
    * component's min-id label and weight round₆(1/csize). The weight column
    * feeds [[Splits]]' hash-rate samplers directly (accept iff md5-ppm <
    * weight·10⁶).
    *
    * Scale shape: identical to [[canonicalCorpus]] up to the component
    * frame (banded candidates, pairs-only clustering); the size count
    * shuffles label-keyed component members only; the corpus pays ONE
    * id-keyed left join against the member table (ids+sizes, no text).
    */
  def softDedupWeights(
      docs: DataFrame, idCol: String, textCol: String, k: Int, bandSize: Int,
      shingleN: Int, minJaccard: Double): DataFrame =
    softDedupWeightsFromPairs(docs, idCol,
      nearDuplicatesLsh(docs, idCol, textCol, k, bandSize, shingleN), minJaccard)

  /** [[softDedupWeights]] over a precomputed verified pair table — see
    * [[canonicalCorpusFromPairs]] for the artifact contract.
    */
  def softDedupWeightsFromPairs(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      minJaccard: Double): DataFrame = {
    val comp = connectedComponents(pairs.filter(col("jaccard") >= minJaccard))
    val sized = comp.join(
      comp.groupBy(col("label")).agg(count(lit(1)).as("csize")), Seq("label"))
    docs.select(col(idCol).as("doc_id"))
      .join(sized, col("doc_id") === sized("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("label"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      .withColumn("weight", round(lit(1.0) / col("csize"), 6))
  }

  /** [[canonicalCorpus]] with QUALITY-AWARE keeper selection: within each
    * near-duplicate component keep the member maximizing `score` (id
    * tiebreak) instead of the smallest id — what production dedup actually
    * does (keep the longest / cleanest / highest-classifier copy; Lee et
    * al. keep-one semantics with a chosen representative). `score` is any
    * deterministic Column over the doc row (e.g. `length(col("text"))`).
    *
    * Scale shape: the argmax window runs over COMPONENT MEMBERS ONLY
    * (duplicate docs are a small fraction of a deduped crawl), never the
    * corpus; the corpus pays the same single anti-join on the loser ids
    * that [[canonicalCorpus]] pays. Singletons never enter the window.
    */
  def canonicalCorpusByScore(
      docs: DataFrame, idCol: String, textCol: String, score: Column,
      k: Int, bandSize: Int, shingleN: Int, minJaccard: Double): DataFrame =
    canonicalCorpusByScoreFromPairs(docs, idCol, score,
      nearDuplicatesLsh(docs, idCol, textCol, k, bandSize, shingleN), minJaccard)

  /** [[canonicalCorpusByScore]] over a precomputed verified pair table — see
    * [[canonicalCorpusFromPairs]] for the artifact contract.
    */
  def canonicalCorpusByScoreFromPairs(
      docs: DataFrame, idCol: String, score: Column, pairs: DataFrame,
      minJaccard: Double): DataFrame = {
    val members =
      connectedComponents(pairs.filter(col("jaccard") >= minJaccard))
      .join(docs, col("id") === docs(idCol))
      .select(col("id"), col("label"), score.as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("__score").desc, col("id").asc)
    val losers = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** [[connectedComponents]] plus the number of alternating rounds it took —
    * the observable the log-convergence tests pin.
    */
  def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // The candidate DAG feeding `pairs` is typically the expensive part
    // (an LSH/prefix-filter join), and this function reads `pairs` TWICE —
    // the edge canonicalization here and the node inventory after the loop.
    // Without this pin the second read re-executes that whole upstream DAG
    // (r13 measured q_cluster_knn at 6.2 s vs 2.4 s for this one line); the
    // lazy checkpoint materializes inside the first round's eager edge
    // checkpoint job, so it costs no extra pass — just pair-sized storage.
    val src = pairs.localCheckpoint(false)
    // canonical (hi, lo): both phases only ever emit edges pointing a node
    // at a strictly smaller node, so the whole loop stays in this form
    var edges = src
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(true)
    // Convergence = the round's output is already a star forest rooted at
    // component minima: every hi appears in exactly ONE edge and never as a
    // lo. That is precisely the both-phase fixpoint (large-star and
    // small-star are the identity on a star forest and strictly redirect
    // otherwise — a doubly-parented hi is what small-star merges, a hi-as-lo
    // is a depth-2 path large-star shortcuts), read with ONE aggregate over
    // the round's own materialization instead of the count + anti-join
    // comparison per phase pair it replaces. The single count() action also
    // materializes the round's LAZY localCheckpoint in the same job, so a
    // round costs exactly two jobs: the large phase's checkpoint and this.
    def isStarForest(df: DataFrame): Boolean = {
      val sides = df.select(explode(array(
        struct(col("hi").as("n"), lit(1).as("h")),
        struct(col("lo").as("n"), lit(0).as("h")))).as("s"))
        .select(col("s.n").as("n"), col("s.h").as("h"))
      sides.groupBy(col("n"))
        .agg(sum(col("h")).as("nh"), count(lit(1)).as("nt"))
        .filter(col("nh") > 1 || (col("nh") >= 1 && col("nt") > col("nh")))
        .count() == 0L
    }
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      // LARGE-STAR: per node u over its FULL neighborhood, connect every
      // strictly larger neighbor to m = min(neighborhood ∪ {u})
      val dirAll = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lmin = dirAll.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = dirAll.join(lmin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
        .localCheckpoint(true)
      // large is materialized: the previous generation's blocks are dead
      // (r17 block hygiene — the loop otherwise leaks one block set per
      // phase per round until GC, and the block-manager churn is measurable
      // on iterative rows)
      graft.Pins.release(edges)
      // SMALL-STAR: orient each edge at its larger endpoint u; connect u and
      // all its smaller neighbors to the neighborhood minimum
      val smallDir = large.select(col("hi").as("u"), col("lo").as("v"))
      val smin = smallDir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = smallDir.join(smin, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .unionByName(smin.select(col("u").as("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct()
        .localCheckpoint(false) // lazy: the convergence read materializes it
      converged = isStarForest(small)
      // small is materialized (isStarForest's count ran over it): the
      // round's large-phase blocks are dead. The FINAL small and `src` stay
      // pinned — the returned labels frame reads them lazily.
      graft.Pins.release(large)
      edges = small
      rounds += 1
    }
    // edges is now (member, root); roots and self-pair isolates label self
    val nodes = src.select(col("id_a").as("id"))
      .unionByName(src.select(col("id_b").as("id"))).distinct()
    val labels = nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("__l")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__l"), col("id")).as("label"))
    (labels, rounds)
  }

  /** Substring-level duplicate candidates via winnowing fingerprints
    * ([[TextOps.winnowedFingerprints]]): documents sharing ≥ `minShared`
    * selected fingerprints share (with the winnowing guarantee) local
    * substrings of length ≥ k + w − 1 — the boilerplate/quotation/mirror
    * detector that whole-document signatures dilute (a shared paragraph in
    * two otherwise-different pages moves a MinHash estimate by its global
    * Jaccard share, but deterministically plants identical winnowed
    * fingerprints).
    *
    * Scale shape is the LSH one: fingerprint extraction is scan-level
    * (~2/(w+1) of gram count per doc); candidates come from a keyed
    * self-join on the fingerprint value with anchor-capped buckets
    * ([[capBuckets]]) — never all-pairs; one shuffle on `fp`, one on the
    * pair aggregate.
    */
  def substringDupCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long,
      maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    // Two-step binding (gram hashes projected to their own column first) so
    // the gram array is hashed once per row, not once per winnow window —
    // see the PERFORMANCE note on [[TextOps.winnowedFingerprints]].
    val fps = df
      .select(col(idCol).as("id"), TextOps.gramHashes(col(textCol), k).as("__hs"))
      .select(col("id"), explode(TextOps.winnowSelect(col("__hs"), w)).as("fp"))
    val capped = capBuckets(fps, Seq("fp"), "id", maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** PARAGRAPH-level exact dedup — the C4/Gopher block-dedup shape, adapted
    * to the unpunctuated synthetic corpus by defining a "paragraph" as a
    * fixed run of `chunkTokens` whitespace tokens (the final partial run
    * included). Every chunk instance whose content was already seen at an
    * earlier (doc, position) — in ANY document, the same one included — is
    * removed; the first instance corpus-wide survives. Complements the
    * winnowing substring family: block-aligned exact units instead of
    * fingerprint-approximated spans, so removal is a strict content
    * guarantee, not a sampling of one.
    *
    * Scale shape: only the 32-char digest + (id, idx) ride the ownership
    * shuffle; the per-doc keep-index arrays come back id-keyed, and text
    * moves exactly once — in the final id-join where the cleaned doc is
    * rebuilt scan-level from the original token array (inherent to a
    * rewrite). Output: (id, n_chunks, n_removed, cleaned).
    */
  def paragraphDedup(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val hashed = paragraphDigests(df, idCol, textCol, chunkTokens)
    val owner = hashed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("id"), col("chunk_idx"))))
      .filter(col("rn") === 1)
      .select(col("h"), col("id").as("o_id"), col("chunk_idx").as("o_idx"))
    val marked = hashed.join(owner, Seq("h"))
      .withColumn("keep",
        col("id") === col("o_id") && col("chunk_idx") === col("o_idx"))
    rebuildKeptBlocks(df, idCol, textCol, marked, chunkTokens)
  }

  /** (id, chunk_idx, h) digests of every `chunkTokens`-token block — the
    * paragraph family's shared front end AND the persistable block-digest
    * index (store `h` distinct for admission). Scan-level; text stays out.
    */
  def paragraphDigests(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val toks = split(col(textCol), " ")
    val nch = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    df.select(col(idCol).as("id"), toks.as("__t"), nch.as("__n"))
      .select(col("id"), posexplode(transform(
          sequence(lit(0), col("__n") - 1),
          i => md5(array_join(
            slice(col("__t"), i * chunkTokens + 1, lit(chunkTokens)), " "))))
        .as(Seq("chunk_idx", "h")))
  }

  /** Cut every block whose digest occurs in the STORED reference index
    * (`refDigests`, column `h` — built once by [[paragraphDigests]] and
    * persisted): the admission form of [[paragraphDedup]]. Per-doc against
    * a static reference ⇒ batching-invariant, so the streaming twin equals
    * this exactly. Digests-only join; text moves once in the rebuild.
    */
  def paragraphScrub(
      df: DataFrame, idCol: String, textCol: String,
      refDigests: DataFrame, chunkTokens: Int): DataFrame = {
    val hashed = paragraphDigests(df, idCol, textCol, chunkTokens)
    val marked = hashed.join(
        refDigests.select(col("h")).distinct().withColumn("__hit", lit(1)),
        Seq("h"), "left")
      .withColumn("keep", col("__hit").isNull)
    rebuildKeptBlocks(df, idCol, textCol, marked, chunkTokens)
  }

  /** shared tail: fold keep-flags per doc, rebuild cleaned text scan-level
    * from the original token array (text's only shuffle) →
    * (id, n_chunks, n_removed, cleaned)
    */
  private def rebuildKeptBlocks(
      df: DataFrame, idCol: String, textCol: String,
      marked: DataFrame, chunkTokens: Int): DataFrame = {
    val flags = marked.groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
        array_sort(collect_list(when(col("keep"), col("chunk_idx"))))
          .as("__keep_idx"))
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .join(flags, Seq("id"))
      .select(col("id"), col("n_chunks"), col("n_removed"),
        array_join(transform(col("__keep_idx"),
          i => array_join(
            slice(col("__t"), i * chunkTokens + 1, lit(chunkTokens)), " ")),
          " ").as("cleaned"))
  }

  /** Duplicate-substring REMOVAL (the step after
    * [[substringDupCandidates]]' detection): keep the FIRST copy of every
    * duplicated span, cut the others — the exact-substring-dedup semantic of
    * Lee et al.'s "Deduplicating Training Data Makes Language Models Better"
    * (their suffix-array pass; here winnowing-approximated so it stays
    * relational and distributed).
    *
    * Mechanics: winnow-selected fingerprints WITH positions
    * ([[TextOps.winnowSelectPos]], scan-level, ~2/(w+1) density); a
    * fingerprint's OWNER is the min doc id containing it; every selected
    * occurrence in a later doc marks its k-gram `[pos, pos+k)` for removal;
    * per-doc overlapping gram spans merge by gaps-and-islands (running
    * lag(e) window over the HANDFUL of marked positions per doc — never the
    * text); the kept text is rebuilt array-natively from the merged spans
    * (one projection, no per-char work).
    *
    * Returns every input row: (id, n_spans, n_removed, cleaned). Owners and
    * untouched docs come back verbatim (n_spans = 0).
    *
    * Approximate by construction, in the honest directions: winnowing only
    * SELECTS ~2/(w+1) of grams, so a duplicated substring shorter than
    * k+w−1 may survive (winnow guarantee is one-way), and only the selected
    * occurrences of a shared span are cut (removal is a subset of the true
    * duplicated chars — it never removes more than one winnowed gram-span
    * per island boundary beyond the overlap). A 2⁻³² hash collision can cut
    * a non-duplicated k-gram; at corpus scale that is dominated by the
    * benefit, and the removal is always a valid k-char-aligned cut.
    *
    * Scale shape: shuffle 1 on `fp`, where ownership is a WINDOW min over
    * the fp partition rather than a groupBy+self-join — the expensive
    * winnow extraction is computed once, not once per join branch; shuffle
    * 2 on `id` for the island window + span aggregation; shuffle 3 the
    * sort-merge join of sidecar-per-doc spans back to the text. Text never
    * rides the fp shuffle.
    */
  def removeDuplicateSubstrings(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val rem = winnowPosFps(df, idCol, textCol, k, w)
      .withColumn("owner", min(col("id")).over(Window.partitionBy(col("fp"))))
      .filter(col("id") > col("owner"))
      .select(col("id"), col("pos"), (col("pos") + lit((k - 1).toLong)).as("e"))
    cutMarkedSpans(df, idCol, textCol, rem)
  }

  /** (id, fp, pos) rows of winnow-selected fingerprints with positions —
    * the shared front end of the substring-removal family. Scan-level.
    */
  private def winnowPosFps(
      df: DataFrame, idCol: String, textCol: String, k: Int, w: Int): DataFrame =
    df.select(col(idCol).as("id"), TextOps.gramHashes(col(textCol), k).as("__hs"))
      .select(col("id"), explode(TextOps.winnowSelectPos(col("__hs"), w)).as("f"))
      .select(col("id"), col("f.fp").as("fp"), col("f.pos").as("pos"))

  /** Fit half of [[scrubSubstrings]]: the reference corpus's distinct
    * winnow-selected fingerprints — compute ONCE and reuse across serving
    * calls (r19: the streaming twin used to re-derive this whole frame —
    * winnow + distinct shuffle — on every micro-batch).
    */
  def scrubRefFps(ref: DataFrame, refTextCol: String, k: Int, w: Int): DataFrame =
    ref
      .select(TextOps.gramHashes(col(refTextCol), k).as("__hs"))
      .select(explode(TextOps.winnowSelect(col("__hs"), w)).as("fp"))
      .distinct()

  /** Serve half of [[scrubSubstrings]] against a fitted fingerprint set. */
  def scrubSubstringsWithFps(
      df: DataFrame, idCol: String, textCol: String,
      refFps: DataFrame, k: Int, w: Int): DataFrame = {
    val rem = winnowPosFps(df, idCol, textCol, k, w)
      .join(refFps, Seq("fp"), "left_semi")
      .select(col("id"), col("pos"), (col("pos") + lit((k - 1).toLong)).as("e"))
    cutMarkedSpans(df, idCol, textCol, rem)
  }

  /** SCRUB docs against a static REFERENCE corpus: cut every winnow-selected
    * k-gram span whose fingerprint occurs anywhere in the reference — the
    * span-level refinement of decontamination ([[graft.ops.Decontam]] FLAGS
    * contaminated docs; this removes the contaminated characters and keeps
    * the rest). The reference's fingerprint set stays a DataFrame joined
    * left-semi on `fp` (an eval-benchmark reference is usually broadcast-
    * sized, and Catalyst broadcasts it when it is — but nothing requires it
    * to fit in memory, unlike a hash-set probe).
    *
    * Same output contract and honest approximations as
    * [[removeDuplicateSubstrings]], with ownership replaced by reference
    * membership (every doc is scrubbed; the reference keeps nothing).
    */
  def scrubSubstrings(
      df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      k: Int, w: Int): DataFrame =
    scrubSubstringsWithFps(df, idCol, textCol,
      scrubRefFps(ref, refTextCol, k, w), k, w)

  /** Back end of the substring-removal family: merge marked k-gram spans
    * (id, pos, e) per doc by gaps-and-islands, rebuild the kept text
    * array-natively, return every input row (untouched docs verbatim).
    */
  private def cutMarkedSpans(
      df: DataFrame, idCol: String, textCol: String, rem: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val spans = rem
      .withColumn("prev_e", lag(col("e"), 1).over(wOrd))
      .withColumn("isl", sum(
        when(col("prev_e").isNull || col("pos") > col("prev_e"), 1L).otherwise(0L))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    val text = col("__text")
    val sp = col("spans")
    val prevEnd = (i: Column) =>
      when(i === 0, lit(0L)).otherwise(element_at(sp, i)("e"))
    val gaps = transform(sequence(lit(0), size(sp) - 1),
      i => text.substr((prevEnd(i) + 1L).cast("int"),
        greatest(element_at(sp, i + 1)("s") - prevEnd(i) - 1L, lit(0L)).cast("int")))
    val tail = text.substr((element_at(sp, size(sp))("e") + 1L).cast("int"),
      length(text).cast("int"))
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(spans, Seq("id"), "left")
      .withColumn("spans",
        coalesce(sp, array().cast("array<struct<s:long,e:long>>")))
      .select(col("id"),
        size(sp).cast("long").as("n_spans"),
        aggregate(sp, lit(0L), (acc, x) => acc + (x("e") - x("s") + 1L)).as("n_removed"),
        when(size(sp) === 0, text)
          .otherwise(concat(array_join(gaps, ""), tail)).as("cleaned"))
  }

  /** 32-bit SimHash over distinct whitespace tokens: bit j of the result is
    * set iff Σ_words (±1 by bit j of hash32(word)) >= 0. One codegen'd
    * expression per doc ([[graft.functions.Simhash32]]) — shuffle-free map,
    * replacing the explode → 32 conditional sums → groupBy shape.
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), array_distinct(tokens(col(textCol))).as("__w"))
      .filter(size(col("__w")) > 0) // no tokens → no simhash (as before)
      .select(col(idCol), graft.functions.TextHashExprs.simhash(col("__w")).as("simhash"))

  /** Hamming-distance pairs over simhash values; candidates restricted by a
    * 16-bit prefix band (both halves tried) so no full cross join at scale;
    * oversized bands anchor-capped like [[lshCandidates]].
    */
  def simhashPairs(
      sim: DataFrame, idCol: String, maxDist: Int,
      maxBucket: Int = DEFAULT_MAX_BUCKET): DataFrame = {
    // r20: pin the banded signature frame — it feeds the capped l side AND
    // the raw r side of the band join (whose different downstream shapes
    // defeat exchange reuse), and each union branch re-projects `sim`, so
    // unpinned the per-doc simhash computation ran up to four times
    val banded = Seq(
      sim.select(col(idCol).as("id"), lit(0).as("band"),
        shiftright(col("simhash"), 16).as("bkey"), col("simhash")),
      sim.select(col(idCol).as("id"), lit(1).as("band"),
        col("simhash").bitwiseAND(0xFFFFL).as("bkey"), col("simhash")))
      .reduce(_ unionByName _)
      .localCheckpoint(false)
    val l = capBuckets(banded, Seq("band", "bkey"), "id", maxBucket)
      .select(col("id").as("id_a"), col("band"), col("bkey"),
        col("simhash").as("sim_a"))
    val r = banded.select(col("id").as("id_b"), col("band"), col("bkey"),
      col("simhash").as("sim_b"))
    l.join(r, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
