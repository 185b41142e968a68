package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting — the reproducible train/val/test
  * assignment a training pipeline requires: each row lands in exactly one
  * split by its key's md5 bucket, stable across runs, machines, partitionings
  * and engines (no RNG, no partition sensitivity; the same convention as the
  * hash-sampling query family). A pure scan-level expression: splitting
  * 100 TB adds zero shuffles, and downstream per-split reads filter on the
  * label column (pair with `SnapshotPartitioned(Seq("split"))` to prune whole
  * directories per split).
  */
object Splits {

  /** md5 bucket in [0, 100) of a key column — percentage points. */
  def bucket100(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Assign each row a split label; `splits` are (name, percent) with
    * percents summing to 100, intervals taken in order.
    */
  def assign(
      df: DataFrame, keyCol: String, splits: Seq[(String, Int)],
      labelCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      s"split percents must sum to 100, got $splits")
    val b = bucket100(col(keyCol))
    val cuts = splits.scanLeft(0)(_ + _._2).tail
    val label = splits.zip(cuts).init.foldRight(lit(splits.last._1)) {
      case (((name, _), cut), rest) => when(b < cut, name).otherwise(rest)
    }
    df.withColumn(labelCol, label)
  }

  /** Sequence-packing offsets — the concat-then-chunk prep of LLM training
    * (documents are concatenated in a deterministic order and cut into
    * fixed-token-budget bins; a doc belongs to the bin where it STARTS).
    * Packing is per md5-hard SHARD, not global: a global concatenation
    * order would be one window partition = one task at any scale, while
    * shards pack independently and in parallel (each training worker later
    * reads its shard's bins). Emits `shard`, `start_off` (the document's
    * offset in its shard's concatenation, exclusive running sum of
    * `sizeCol`) and `bin` (= floor(start_off / budget)). One shuffle on the
    * shard key; deterministic — no RNG, stable across partitionings and
    * engines.
    */
  def packSequences(
      df: DataFrame, keyCol: String, sizeCol: String,
      budget: Long, nShards: Int): DataFrame = {
    require(budget > 0 && nShards > 0,
      s"budget and shard count must be positive, got $budget / $nShards")
    val shard = pmod(
      conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10).cast("long"),
      lit(nShards.toLong))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("shard", shard)
      .withColumn("start_off",
        coalesce(sum(col(sizeCol)).over(w), lit(0L)).cast("long"))
      .withColumn("bin", floor(col("start_off") / budget).cast("long"))
  }

  /** Length-bucketed micro-batch assembly — the padding-efficiency batching
    * of sequence training: rows group into coarse length buckets
    * (`sizeCol div bucketWidth`), order deterministically INSIDE each
    * bucket by the md5 hash of their key (a reproducible shuffle — no RNG,
    * the [[bucket100]] convention), and cut into `batchSize`-row batches.
    * Each batch later pads to ITS OWN max length, so per-batch waste is
    * bounded by the bucket width instead of the corpus max — the emitted
    * `padding_waste` (= n_rows·max_len − Σlen) makes that bound auditable.
    *
    * Scale shape: windows partition per bucket (never a global order), one
    * shuffle on the bucket key, batch-sized output. Deterministic across
    * engines and partitionings.
    */
  def batchByLength(
      df: DataFrame, keyCol: String, sizeCol: String,
      bucketWidth: Long, batchSize: Int): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0,
      s"bucketWidth and batchSize must be positive, got $bucketWidth / $batchSize")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("len_bucket"))
      .orderBy(
        conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10).cast("long"),
        col(keyCol))
    df.select(col(keyCol), col(sizeCol).cast("long").as("__len"))
      .withColumn("len_bucket", expr(s"__len div $bucketWidth"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_idx", expr(s"(__rn - 1) div $batchSize"))
      .groupBy(col("len_bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("__len")).as("max_len"),
        sum(col("__len")).as("sum_len"))
      .withColumn("padding_waste",
        col("n_rows") * col("max_len") - col("sum_len"))
  }

  /** Per-user EVENT-SEQUENCE assembly — the sequence-model data-prep op
    * (recommendation / behavioral-LM training consumes per-entity ordered
    * action histories, most-recent-N): each user's events rank from the
    * END (ts desc, id tiebreak), the newest `maxLen` survive, and the kept
    * window re-sorts ascending into one ordered action string per user.
    *
    * Scale shape: ONE shuffle on user_id; the rank-from-end window's
    * map-side `WindowGroupLimit` prunes each partition to ~maxLen rows per
    * user BEFORE the exchange, so a power user with millions of events
    * ships maxLen × partitions rows, never their whole history — the same
    * pruning discipline as the top-k family. The sequence re-sort is an
    * in-memory array_sort over ≤ maxLen elements per user.
    */
  def userEventSequences(events: DataFrame, maxLen: Int): DataFrame = {
    require(maxLen > 0, s"maxLen must be positive, got $maxLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLen)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("seq_len"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), " ").as("events_seq"),
        min(col("ts")).as("seq_start"), max(col("ts")).as("seq_end"))
  }

  /** Deterministic training-order shuffle — the LAST prep step: a training
    * run wants the corpus in pseudo-random order (no source/time runs), in
    * `nShards` shards a data loader can consume independently, and
    * REPRODUCIBLY (same seed ⇒ same order, across runs, machines and
    * engines — an RNG-based `orderBy(rand())` is none of these). Order key
    * is `hash32(seed ∥ key)`: shard = key mod nShards, `ord` ranks within
    * the shard (md5 tiebreak on the key itself for hash collisions, so the
    * order is total and engine-exact).
    *
    * Scale shape: the order key is scan-level; ranking is one shuffle on
    * `shard` + a per-shard sort window — shards pack independently, so
    * parallelism is nShards (size it ≥ cluster cores); no global sort
    * anywhere. Pair with `SnapshotPartitioned(Seq("shard"))` so each loader
    * reads exactly its shard's directory in `ord` order.
    */
  def trainingOrder(
      df: DataFrame, keyCol: String, nShards: Int, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"need nShards > 0, got $nShards")
    val h = graft.ops.TextOps.hash32(
      concat(lit(s"${seed}_"), col(keyCol).cast("string")))
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__h"), col(keyCol)))
        .cast("long"))
      .drop("__h")
  }

  /** Per-domain quantile filtering — the CCNet/RefinedWeb normalization
    * step: keep rows whose score sits at or above the `minPct` percent-rank
    * WITHIN their domain, so a lenient domain cannot flood the corpus and a
    * strict one is not wiped out (a single global threshold does both).
    * `percent_rank` is (rank−1)/(n−1) — pure integer arithmetic per group
    * divided once, so any engine reproduces the kept set exactly; ties
    * share a rank and cross the threshold together.
    *
    * Scale shape: one shuffle on the domain key, then a per-domain
    * SPILLABLE sort window. With few, huge domains that sort is the
    * bottleneck — there, trade exactness for shape: compute an
    * `approx_percentile` threshold per domain (tiny agg), broadcast it
    * back and filter scan-side. This op is the exact form the gate can
    * oracle; the approx variant is the same two lines with the join.
    */
  def quantileFilter(
      df: DataFrame, byCol: String, scoreCol: String, minPct: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("pct_rank", percent_rank().over(
        Window.partitionBy(col(byCol)).orderBy(col(scoreCol))))
      .filter(col("pct_rank") >= minPct)
  }

  /** The skew-safe sibling of [[quantileFilter]] for FEW, HUGE domains: the
    * per-domain threshold comes from `approx_percentile` (one tiny
    * aggregate — no per-domain sort window, so a single giant domain is a
    * map-side-combined agg, not one straggler sort task), broadcast back
    * and applied scan-side. Trades exactness at the boundary (rows within
    * the sketch's rank error of the cut may flip) for a shape that cannot
    * straggle; use [[quantileFilter]] when domains are plentiful or the
    * kept set must be engine-exact.
    */
  def quantileFilterApprox(
      df: DataFrame, byCol: String, scoreCol: String, minPct: Double,
      accuracy: Int = 10000): DataFrame = {
    val thresholds = df.groupBy(col(byCol))
      .agg(percentile_approx(col(scoreCol), lit(minPct), lit(accuracy))
        .as("__thr"))
    df.join(broadcast(thresholds), Seq(byCol))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Deterministic fixed-size per-group sample — the balanced training-mix
    * op (k documents per source/language/domain regardless of group skew):
    * rows rank within their group by the md5 hash of their key (a
    * reproducible shuffle — no RNG, no partition sensitivity, the
    * [[bucket100]] convention) and the first `k` survive. One shuffle on
    * the group column at any scale; groups larger than memory stream
    * through Spark's sort-based window (`WindowGroupLimit` prunes to k per
    * group map-side before the exchange). Emits the input columns plus
    * `sample_rank` (1-based position in the group's hash order).
    */
  def sampleGroupK(
      df: DataFrame, groupCol: String, keyCol: String, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
        .cast("long").asc, col(keyCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic mixture (down-)sampling — re-weight a multi-domain corpus
    * to TARGET proportions, the data-mixing step of every pretraining
    * pipeline ("30% web, 30% code, 40% books"). No domain is upsampled: the
    * achievable scale is set by the binding domain (the one whose actual
    * share falls shortest of its target), every other domain is hash-rate
    * downsampled to match, and rows from domains outside `weights` are
    * dropped.
    *
    * All arithmetic is EXACT integer math (BigInt cross-multiplication picks
    * the binding domain; thresholds are integer floor-divisions in parts per
    * million), so the row set is bit-reproducible across engines — no
    * double-rounding boundary for the oracle to disagree on. The expensive
    * part is scan-shaped for 100 TB: one map-side-combined count per domain
    * (a handful of rows to the driver — the broadcast-build pattern), then a
    * single pure scan-level filter `hash(key) % 1e6 < threshold(domain)`;
    * zero data-scale shuffles, no window, no skew sensitivity. Rates are
    * expectations, so realized counts carry binomial noise of O(sqrt(n)) —
    * negligible at the scales where mixing matters; use [[sampleGroupK]]
    * when exact per-group cardinalities are required.
    */
  def sampleMixture(
      df: DataFrame, domainCol: String, keyCol: String,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"mixture weights must be positive, got $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate domain in $weights")
    val wmap = weights.toMap
    // one tiny counting job: |domains| rows — sidecar-sized by construction
    val counts = df.filter(col(domainCol).isin(weights.map(_._1): _*))
      .groupBy(col(domainCol).cast("string").as(domainCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(weights.forall { case (d, _) => counts.getOrElse(d, 0L) > 0L },
      s"every target domain needs rows; missing: ${wmap.keySet -- counts.keySet}")
    // binding domain d*: argmin n_d/w_d, compared by exact cross-multiplication
    val (dStar, nStar) = weights
      .map { case (d, _) => d -> counts(d) }
      .minBy { case (d, n) => (BigInt(n) * wmap.values.map(BigInt(_)).product / wmap(d), d) }
    // threshold_d = floor(1e6 * (n* · w_d) / (w* · n_d)) — parts per million
    val thresholds = weights.map { case (d, w) =>
      d -> ((BigInt(1000000) * BigInt(nStar) * BigInt(w)) /
        (BigInt(wmap(dStar)) * BigInt(counts(d)))).toLong.min(1000000L)
    }
    applyPpmThresholds(
      df.filter(col(domainCol).isin(weights.map(_._1): _*)),
      domainCol, keyCol, thresholds)
  }

  /** TEMPERATURE-scaled domain sampling (the T5 α-sampling / UNIMAX
    * flattening recipe, Raffel et al. 2020 §3.4.3, arXiv:1910.10683;
    * Chung et al. 2023, arXiv:2304.09151): target share p_d ∝ n_d^α with
    * α ∈ [0, 1] — α = 1 keeps natural proportions, α → 0 flattens toward
    * uniform, lifting low-resource domains without hand-written weights.
    * The BINDING domain (largest target-to-size ratio) is kept whole;
    * every other domain hash-rate downsamples to match, so the kept corpus
    * realizes the tempered mixture with maximum data utilization and no
    * upsampling (compose with [[upsampleEpochs]] when a domain should
    * repeat instead).
    *
    * Determinism: n_d^α quantizes ONCE to a scaled long s6_d =
    * round(n_d^α·10⁶) — via the correctly-rounded IEEE sqrt when α = 0.5
    * (engine-exact everywhere) and libm pow otherwise (a documented ≤1-ulp
    * cross-engine caveat) — after which everything is exact BigInt
    * cross-multiplication and floor-division ([[sampleMixture]]'s
    * discipline): binding = argmax s6_d/n_d compared cross-multiplied
    * (name tiebreak), threshold_d = floor(10⁶·s6_d·n_b / (s6_b·n_d)).
    *
    * 100 TB: one |domains|-row counting job (broadcast-build pattern),
    * then a PURE SCAN-LEVEL ppm-threshold filter — zero data-scale
    * shuffles, no window, no skew sensitivity.
    */
  def temperatureMixture(
      df: DataFrame, domainCol: String, keyCol: String,
      alpha: Double): DataFrame =
    applyPpmThresholds(df, domainCol, keyCol,
      temperatureThresholds(df, domainCol, alpha))

  /** The FITTED artifact of [[temperatureMixture]]: domain → keep-ppm.
    * |domains|-sized (the model-literal convention) — persist it and serve
    * any later batch or stream through [[applyPpmThresholds]].
    */
  def temperatureThresholds(
      df: DataFrame, domainCol: String, alpha: Double): Seq[(String, Long)] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    // NULL domains carry no fittable identity: drop them here (they also
    // drop at serve time — applyPpmThresholds' fold bottoms out at 0)
    val counts = df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol).cast("string").as(domainCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperatureMixture needs at least one non-null domain")
    val s6 = counts.map { case (d, n) =>
      val p = if (alpha == 0.5) math.sqrt(n.toDouble)
              else math.pow(n.toDouble, alpha)
      d -> math.round(p * 1e6)
    }
    // binding domain: argmax s6_d/n_d by exact cross-multiplication; the
    // ascending-name fold keeps the FIRST maximum → smallest-name tiebreak
    val dims = counts.keys.toSeq.sorted
    val bStar = dims.reduceLeft { (best, d) =>
      if (BigInt(s6(d)) * BigInt(counts(best)) >
          BigInt(s6(best)) * BigInt(counts(d))) d else best
    }
    dims.map { d =>
      d -> ((BigInt(1000000) * BigInt(s6(d)) * BigInt(counts(bStar))) /
        (BigInt(s6(bStar)) * BigInt(counts(d)))).toLong.min(1000000L)
    }
  }

  /** SCAN-LEVEL hash-rate filter against a literal (domain → keep-ppm)
    * table — the serving form of the mixture/temperature samplers: no
    * join, no shuffle, no state, safe on an unbounded stream. Domains
    * absent from `thresholds` drop (threshold 0).
    */
  def applyPpmThresholds(
      df: DataFrame, domainCol: String, keyCol: String,
      thresholds: Seq[(String, Long)]): DataFrame = {
    val thresholdCol = thresholds.foldRight(lit(0L)) { case ((d, t), rest) =>
      when(col(domainCol) === d, lit(t)).otherwise(rest)
    }
    df.filter(pmod(
      conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10).cast("long"),
      lit(1000000L)) < thresholdCol)
  }

  /** Deterministic fractional-epoch UPSAMPLING — the other half of the
    * data-mixing recipe ([[sampleMixture]] only downsamples): repeat each
    * domain e_d times where e_d may be fractional ("books × 2.4, code × 1.0,
    * web × 0.5"), the multi-epoch weighting pretraining recipes use when a
    * high-quality domain is too small for its target share. Every row of
    * domain d appears floor(e_d) times (epoch 0..floor−1), plus once more at
    * epoch floor(e_d) iff its md5 hash lands in the fractional slice
    * (hash ppm < frac(e_d)·10⁶ — e_d quantized to ppm once, so the
    * arithmetic is integer end to end and the output MULTISET is a
    * deterministic function of (key, domain), bit-reproducible across
    * engines and partitionings). e_d < 1 degenerates to pure hash-rate
    * downsampling (a fractional epoch 0 — consistent with [[sampleMixture]]'s
    * ppm convention); domains outside `epochs` are dropped.
    *
    * 100 TB: ZERO shuffle — one scan-level sequence-explode of exactly
    * n_copies elements per row (rows with zero copies are filtered before
    * the explode, so the sequence bounds are always valid); output size is
    * Σ e_d·n_d by construction. Feed the result to [[trainingOrder]] with
    * the epoch column in the key to interleave copies far apart.
    */
  def upsampleEpochs(
      df: DataFrame, domainCol: String, keyCol: String,
      epochs: Seq[(String, Double)], epochCol: String = "epoch"): DataFrame = {
    require(epochs.nonEmpty && epochs.forall(e => e._2 > 0.0 && e._2 <= 1000.0),
      s"epoch weights must be in (0, 1000], got $epochs")
    require(epochs.map(_._1).distinct.size == epochs.size,
      s"duplicate domain in $epochs")
    // quantize once: e_d → (full epochs, fractional ppm)
    val parts = epochs.map { case (d, e) =>
      val ppm = math.round(e * 1e6)
      (d, ppm / 1000000L, ppm % 1000000L)
    }
    val full = parts.foldRight(lit(0L)) { case ((d, k, _), rest) =>
      when(col(domainCol) === d, lit(k)).otherwise(rest)
    }
    val fracPpm = parts.foldRight(lit(0L)) { case ((d, _, f), rest) =>
      when(col(domainCol) === d, lit(f)).otherwise(rest)
    }
    val hashPpm = pmod(
      conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10).cast("long"),
      lit(1000000L))
    df.filter(col(domainCol).isin(epochs.map(_._1): _*))
      .withColumn("__n_copies",
        full + when(hashPpm < fracPpm, lit(1L)).otherwise(lit(0L)))
      .filter(col("__n_copies") > 0)
      .withColumn(epochCol,
        explode(sequence(lit(0L), col("__n_copies") - 1, lit(1L))))
      .drop("__n_copies")
  }

  /** Deterministic token-budget fill — select documents per domain until a
    * token (or char) budget is reached, the "give me 50 B tokens of web and
    * 20 B of code" selection step. Documents are taken in md5-hash order (a
    * reproducible shuffle) and a document is included iff its domain-shard
    * budget is not yet exhausted WHEN IT STARTS (the same belongs-where-it-
    * starts convention as [[packSequences]]), so realized totals overshoot by
    * at most one document per shard.
    *
    * Sharded for scale exactly like [[packSequences]]: the budget is split
    * across `nShards` md5 shards (early shards get the remainder, one unit
    * each), and the running sum runs per (domain, shard) — a corpus with 3
    * domains still fills on nShards×3 parallel window partitions instead of
    * 3 straggler tasks. One shuffle on (domain, shard); no RNG; stable
    * across partitionings and engines. Emits `shard`, `start_off` (exclusive
    * running sum within the domain-shard) and only the selected rows.
    */
  def takeTokenBudget(
      df: DataFrame, domainCol: String, keyCol: String, sizeCol: String,
      budget: Long, nShards: Int): DataFrame = {
    require(budget > 0 && nShards > 0,
      s"budget and shard count must be positive, got $budget / $nShards")
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol), col("shard"))
      .orderBy(h.asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // shard s gets floor(budget/nShards) + (1 if s < budget mod nShards)
    val shardBudget = lit(budget / nShards) +
      when(col("shard") < lit(budget % nShards), lit(1L)).otherwise(lit(0L))
    df.withColumn("shard", pmod(h, lit(nShards.toLong)))
      .withColumn("start_off",
        coalesce(sum(col(sizeCol)).over(w), lit(0L)).cast("long"))
      .filter(col("start_off") < shardBudget)
  }

  /** Deterministic WEIGHTED priority sampling without replacement: per
    * group, the k rows with the smallest `u / weight`, where u is an
    * md5-derived integer jitter — rows with larger weights systematically
    * draw smaller keys, the uniform-jitter variant of Efraimidis–Spirakis
    * priority sampling. The exponential-jitter form (`-ln(u)/w`, exactly
    * weight-proportional inclusion) needs `ln()`, whose last-ulp behavior
    * is libm-specific; one IEEE division on integer-exact inputs is
    * bit-identical in every engine, so THIS construction is the one an
    * exact cross-engine oracle can gate. One shuffle on the group key; the
    * rank window prunes map-side (WindowGroupLimit).
    */
  def sampleWeighted(
      df: DataFrame, groupCol: String, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (conv(substring(md5(concat(lit("ws_"), col(idCol).cast("string"))),
      1, 8), 16, 10).cast("long") % 1000003L + 1L).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__prio"), col(idCol))
    df.withColumn("__prio", u / col(weightCol).cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("priority", round(col("__prio"), 9))
      .drop("__prio")
  }
}
