package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All pure native
  * `Column` expressions (whole-stage-codegen'd, no UDFs) so they run at scan
  * speed and push through Catalyst untouched. Deterministic and engine-
  * portable: the 32-bit hash is the first 8 hex chars of md5, so a SQL oracle
  * can replicate every result exactly.
  */
object TextOps {

  /** 32-bit unsigned hash as long: first 8 hex chars of md5. Portable across
    * engines (DuckDB: CAST('0x' || substr(md5(s),1,8) AS BIGINT)).
    */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** driver-side twin of [[hash32]] (same md5 construction) */
  def hash32Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  /** whitespace tokens of trimmed text */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE tokenizer TRAINING — the first `nMerges` byte-pair-encoding merge
    * rounds as DataFrame ops: count adjacent in-token character pairs,
    * merge the most frequent pair corpus-wide into a fresh unit symbol
    * (a private-use unicode char, so the 2-char-substring pair counting
    * keeps working on merged text), repeat. Returns one row per merge
    * (step, pair, n).
    *
    * The iterative-trainer discipline (the Lloyd/PageRank shape): each
    * round is one scan + one pair-sized aggregate; the driver holds ONE
    * (pair, count) row per round (the learned merge table — exactly what a
    * tokenizer trainer must centralize); `localCheckpoint` truncates the
    * per-round lineage so round k never replans rounds 1..k−1. The merge
    * apply is a scan-level literal `replace` (leftmost non-overlapping in
    * every engine — the tie-handling BPE specifies), so determinism holds:
    * count → argmax (count desc, pair asc) → replace is engine-exact, and
    * the DuckDB oracle unrolls the same rounds as CTEs.
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 16, s"nMerges in [1,16], got $nMerges")
    val spark = df.sparkSession
    var toks = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 1)
      .localCheckpoint(false)
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]
    var k = 0
    while (k < nMerges) {
      val top = toks.filter(length(col("tok")) >= 2)
        .select(explode(expr("sequence(1, length(tok) - 1)")).as("i"), col("tok"))
        .select(expr("substring(tok, i, 2)").as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect()(0)
      rows += ((k.toLong, top.getString(0), top.getLong(1)))
      // fresh unit symbol per merge: circled-digit block, absent from the
      // corpus alphabet — merged units stay single chars so substring-based
      // pair counting composes across rounds
      val unit = (0x2460 + k).toChar.toString
      toks = toks.select(call_function("replace",
          col("tok"), lit(top.getString(0)), lit(unit)).as("tok"))
        .localCheckpoint(false)
      k += 1
    }
    import spark.implicits._
    rows.toSeq.toDF("step", "pair", "n")
  }

  /** Apply a learned BPE merge table ([[bpeTrainMerges]] order) to the
    * corpus token stream — the SERVING side of tokenizer training: a pure
    * scan-level chain of literal replaces (one per merge, same unit
    * symbols the trainer minted), zero shuffle at any corpus size.
    */
  def applyBpeMerges(df: DataFrame, textCol: String, merges: Seq[String]): DataFrame = {
    var t = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 1)
    merges.zipWithIndex.foreach { case (p, k) =>
      t = t.select(call_function("replace", col("tok"), lit(p),
        lit((0x2460 + k).toChar.toString)).as("tok"))
    }
    t
  }

  /** BPE-ish subword segmentation: letter runs, digit runs, single symbols.
    * Column-native (no SQL-string splicing), so any composed expression works.
    */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))

  /** The in-repo subword vocabulary behind [[withVocabTokenCount]]: whole
    * high-frequency corpus words plus BPE-merge-style pieces (a real
    * tokenizer vocabulary is corpus-derived exactly like this, just larger).
    * The Spark expression AND the DuckDB oracle are both generated from
    * THIS list, so the two tokenizations cannot drift.
    */
  val tokenizerVocab: Seq[String] = Seq(
    // whole high-frequency words
    "join", "hash", "row", "batch", "scan", "small", "merge", "slow",
    "order", "line", "data", "table", "agg", "value", "key", "spark",
    "group", "part", "big", "sort", "fast", "the", "dup",
    // subword pieces (BPE-merge style)
    "cust", "omer", "col", "umn", "vec", "tor", "qu", "ery", "win", "dow",
    "str", "eam", "fil", "ter", "ing", "er", "in", "on", "an", "at",
    "or", "en", "es", "ed", "re", "de", "un", "st", "ar", "le")

  /** Tokenizer-exact token counts — the upgrade of the [[bpeishTokens]]
    * ESTIMATE to the real segmentation rule (greedy longest-match over a
    * fixed vocabulary, WordPiece/BPE-inference style) that a packing or
    * budgeting pipeline needs: `n_tokens_vocab` is what the documents cost
    * in vocabulary tokens, not a regex proxy. One scan-level codegen'd
    * kernel per row ([[graft.functions.VocabTokenCount]] — the vocabulary
    * rides as a reference object, no UDF, zero shuffle).
    */
  def withVocabTokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      graft.functions.VocabExprs.vocabTokenCount(col(textCol), tokenizerVocab)
        .as("n_tokens_vocab"))

  /** word n-gram shingles (distinct), joined with single spaces.
    *
    * Custom codegen'd expression ([[graft.functions.WordShingles]]), NOT the
    * `transform(sequence(...), i -> concat_ws(" ", slice(toks, i, n)))` HOF:
    * the HOF form references `toks` inside the lambda, so when Catalyst
    * splices the producing expression into a pushed-down predicate the
    * producer re-evaluates once PER WINDOW (filter pushdown inlines
    * unconditionally and lambda-bearing trees get no CSE) — measured as a
    * 5 k-doc probe-filter scan re-tokenizing every doc per shingle, 2.6 s
    * vs 0.3 s (r16 piece timing). The custom expression evaluates its child
    * exactly once per row wherever the plan puts it. Same output
    * bit-for-bit: single-space joins, `< n` and NULL inputs → empty array,
    * distinct keeps first occurrence.
    */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.ShingleExprs.wordShingles(toks, n, distinct = true)
  def shingles(toksCol: String, n: Int): Column = shingles(col(toksCol), n)

  /** char n-gram substrings (distinct) — rolling-window fingerprint source.
    * Codegen'd for the same splice-safety as [[shingles]]; `< n` and NULL
    * inputs yield the empty array (the CASE the SQL oracles encode).
    */
  def charShingles(c: Column, n: Int): Column =
    graft.functions.ShingleExprs.charShingles(c, n)
  def charShingles(c: String, n: Int): Column = charShingles(col(c), n)

  /** word n-gram shingles WITHOUT dedup — for repetition statistics */
  def shinglesAll(toks: Column, n: Int): Column =
    graft.functions.ShingleExprs.wordShingles(toks, n, distinct = false)
  def shinglesAll(toksCol: String, n: Int): Column = shinglesAll(col(toksCol), n)

  /** PII scrub patterns: email, international-ish phone, IPv4. Deterministic
    * regex rewrites (same PCRE subset in Spark and DuckDB), applied
    * longest-structure-first so a phone inside an email is not half-replaced.
    */
  val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PHONE_RE = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
  val IPV4_RE = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** text with PII spans replaced by typed placeholders, plus match counts —
    * pure native expressions, scan-speed at any corpus size
    */
  def withRedaction(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(t, lit(EMAIL_RE), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(PHONE_RE), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(t, lit(IPV4_RE), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>"),
          PHONE_RE, "<PHONE>"))
  }

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "for", "on", "with")

  /** Quality-scoring columns over a text column; all ratios are exact double
    * quotients of integer counts, so they hash-match any engine.
    */
  def withQuality(df: DataFrame, text: String): DataFrame = {
    val toks = tokens(col(text))
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_unique", size(array_distinct(toks)).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => t.isin(stopwords: _*))).cast("long"))
      .withColumn("mean_word_len",
        (length(regexp_replace(trim(col(text)), " ", "")).cast("double") /
          greatest(size(toks), lit(1)).cast("double")))
      .withColumn("stop_ratio", col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1L)))
      .withColumn("uniq_ratio", col("n_unique").cast("double") / greatest(col("n_tokens"), lit(1L)))
      .withColumn("quality_score",
        lit(0.4) * col("uniq_ratio") + lit(0.3) * col("stop_ratio") +
          lit(0.3) * least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)))
  }

  /** language markers for the n-gram-heuristic language ID */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht", "das"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "la", "et", "les", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3"))

  /** Heuristic language ID: argmax over per-language stopword-hit counts,
    * alphabetical tiebreak (deterministic). Pure expressions → one scan.
    */
  def withLangId(df: DataFrame, text: String): DataFrame = {
    val toks = tokens(col(text))
    val scored = langMarkers.foldLeft(df.withColumn("__toks", toks)) {
      case (d, (lang, markers)) =>
        d.withColumn(s"__s_$lang",
          size(filter(col("__toks"), t => t.isin(markers: _*))))
    }
    val best = langMarkers.map { case (lang, _) => col(s"__s_$lang") }
      .reduce((a, b) => greatest(a, b))
    // first language (alphabetical) achieving the max score
    val pred = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (lang, _)) =>
      when(col(s"__s_$lang") === best && best > 0, lit(lang)).otherwise(acc)
    }
    scored.withColumn("lang_pred", pred)
      .drop("__toks" +: langMarkers.map { case (l, _) => s"__s_$l" }: _*)
  }

  /** TF-IDF scores: one row per (doc, term) with tf (term count in doc),
    * df (docs containing term), and tf·idf where idf = ln(N/df). Two shuffles
    * (per-doc term counts, per-term doc frequencies) + a broadcast-size join
    * of the df table — the textbook scalable shape. The ln is rounded to 9
    * digits so cross-engine libm noise cannot flip comparisons.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val tf = words.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      // r20: (doc, term)-sized pin — feeds the df count AND the final join
      // (the bm25StatsTable tfm discipline); unpinned, the corpus tokenized
      // twice
      .localCheckpoint(false)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.count()
    tf.join(dfreq, Seq("term"))
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 9))
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Global token top-k (vocabulary audit — the stopword/vocab inspection
    * step of a curation pipeline): corpus-wide term frequencies with a
    * deterministic total order (count desc, then token asc). Map-side
    * partial counts collapse the explode before the single shuffle; the
    * top-k itself is `TakeOrderedAndProject` — per-partition heaps merged on
    * the driver, never a global sort.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)

  /** Corpus-relative unigram log-probability score — the language-model
    * quality signal a pretraining pipeline computes without a model: each
    * document scored by the mean (and min, i.e. rarest-token) log₁₀
    * probability of its tokens under the corpus's own unigram distribution.
    * Low mean = unusual vocabulary (often boilerplate, code, or noise); a
    * very low min flags one-off garbage tokens. Two shuffles at any scale:
    * the vocabulary count and the per-document aggregate; the token→logp
    * join is a plain equi-join that Spark sort-merges (the vocabulary of a
    * 100 TB crawl is itself large — do NOT assume broadcastable). The corpus
    * total is one driver-side scalar, the broadcast-build pattern. Token
    * probabilities are rounded to 6 decimals before averaging so the score
    * is SQL-reproducible. The corpus total is a 1-row aggregate broadcast
    * INSIDE the lazy plan (the oracle's `tot` CTE) — constructing the frame
    * launches no job and the corpus is not tokenized an extra time for a
    * driver-side count.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val tot = toks.agg(count(lit(1)).cast("double").as("__tot"))
    val lp = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .withColumn("logp",
        round(log10(col("n").cast("double") / col("__tot")), 6))
      .select(col("tok"), col("logp"))
    // the per-doc mean is computed from EXACT scaled-long sums (the weighted-
    // histogram discipline): a float avg over rounded logps summed in
    // partition-dependent order can land on a .5e-6 boundary and round
    // differently per engine — integer sums cannot
    toks.join(lp, Seq("tok"))
      .withColumn("lp6", round(col("logp") * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp6")).as("__s"),
        round(min(col("logp")), 6).as("min_logp"))
      .withColumn("avg_logp",
        round(col("__s").cast("double") / (col("n_tokens") * lit(1e6)), 6))
      .select(col("doc_id"), col("n_tokens"), col("avg_logp"), col("min_logp"))
  }

  /** Corpus-relative BIGRAM log-probability — the next rung above
    * [[unigramLogProb]]: each document scored by the mean (and min) log₁₀
    * CONDITIONAL probability p(w₂|w₁) = n(w₁w₂)/n(w₁) of its bigrams under
    * the corpus's own bigram statistics. A document can have perfectly
    * ordinary vocabulary (high unigram score) but implausible word ORDER —
    * shuffled-word spam, keyword-stuffed SEO, template soup — which only a
    * conditional score catches.
    *
    * Shape at 100 TB: bigram extraction is scan-level (an array transform
    * over the token array — no posexplode self-join); three aggregations
    * shuffle (bigram counts, unigram counts, the per-doc mean) and the two
    * probability joins are plain equi-joins Spark sort-merges — a crawl's
    * bigram vocabulary is far too large to assume broadcastable. Per-token
    * probabilities are rounded to 6 decimals and the per-doc mean uses exact
    * scaled-long sums (the [[unigramLogProb]] discipline), so the score is
    * SQL-reproducible. Documents with < 2 tokens drop (no bigrams — the
    * guard also keeps `sequence()` off its descending-step surprise).
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreWithBigramLm(docs, idCol, textCol,
      bigramLmTable(docs, textCol))

  /** Per-doc exploded bigrams (doc_id, w1, w2) — shared by LM training and
    * scoring. Scan-level array transform; docs with < 2 tokens drop (no
    * bigrams — the guard also keeps `sequence()` off its descending-step
    * surprise).
    */
  private def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i + 1).as("w1"),
          element_at(col("toks"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Top-k COLLOCATIONS by pointwise mutual information — the vocabulary-
    * analysis tool that surfaces multi-word units ("new york", template
    * phrases, boilerplate n-grams) a curation pipeline should treat as
    * single tokens or boilerplate markers. PMI = log₁₀(p(w₁w₂) / (p(w₁·)
    * p(·w₂))) with position-specific marginals taken from the bigram table
    * itself (self-consistent — no separate unigram pass); `minCount` keeps
    * the classic low-frequency PMI explosion out (a 1-occurrence pair of
    * rare words maxes the score).
    *
    * Shape at 100 TB: one corpus-scan bigram count (scan-level extraction,
    * one shuffle), two marginal re-aggregations over the BIGRAM-VOCAB-sized
    * table (not the corpus), a 1-row total broadcast inside the plan, and a
    * `TakeOrderedAndProject` top-k (per-partition heaps, no global sort).
    * Products are computed in doubles (counts can reach 10¹²; long products
    * would overflow), the PMI rounds to 6, ranking compares the exact
    * scaled long with (w1, w2) tiebreaks.
    */
  def pmiCollocations(
      docs: DataFrame, textCol: String, minCount: Long, k: Int): DataFrame = {
    val bg = docs.select(lit(0L).as("doc_id"), col(textCol))
      .transform(d => docBigrams(d, "doc_id", textCol))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      // r20: bigram-vocab-sized pin — feeds FOUR differently-keyed
      // consumers (left/right marginals, total, the filtered join);
      // unpinned, the corpus bigram explode + count ran per consumer
      .localCheckpoint(false)
    val left = bg.groupBy(col("w1")).agg(sum(col("n12")).as("n_left"))
    val right = bg.groupBy(col("w2")).agg(sum(col("n12")).as("n_right"))
    val tot = bg.agg(sum(col("n12")).cast("double").as("__tot"))
    bg.filter(col("n12") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log10(
        (col("n12").cast("double") * col("__tot")) /
          (col("n_left").cast("double") * col("n_right").cast("double"))), 6))
      .withColumn("__p6", round(col("pmi") * lit(1e6)).cast("long"))
      .orderBy(col("__p6").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("n12"), col("n_left"), col("n_right"),
        col("pmi"))
  }

  /** The bigram LM TABLE (w1, w2, n2, n1, logp) — the corpus statistics
    * [[bigramLogProb]] consumes, exposed so they can be computed ONCE and
    * persisted as a versioned artifact
    * ([[graft.streaming.Streams.commitSnapshot]]) instead of recomputed per
    * scoring run: at 100 TB the two counting shuffles dominate scoring, and
    * an indexed LM amortizes them across every downstream corpus. Counts
    * ride along (not just logp) so future increments can merge counts
    * rather than rebuild.
    */
  def bigramLmTable(docs: DataFrame, textCol: String): DataFrame = {
    val toksD = docs.select(tokens(col(textCol)).as("toks"))
    val uni = toksD.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val bg = docs.select(lit(0L).as("doc_id"), col(textCol))
      .transform(d => docBigrams(d, "doc_id", textCol))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
    lmFromCounts(uni, bg)
  }

  /** Assemble the LM table from its two count relations. LEFT join from the
    * unigrams: a word with no outgoing bigram in this corpus (trailing-only
    * or single-token-doc) keeps a MARKER row (w1, NULL, 0, n1, NULL) — the
    * inner scoring join can never match a NULL w2, but without the marker
    * the word's unigram count would be lost and [[mergeBigramLms]] could not
    * equal a full rebuild.
    */
  private def lmFromCounts(uni: DataFrame, bg: DataFrame): DataFrame =
    uni.join(bg, Seq("w1"), "left")
      .select(col("w1"), col("w2"), coalesce(col("n2"), lit(0L)).as("n2"),
        col("n1"),
        when(col("w2").isNotNull,
          round(log10(col("n2").cast("double") / col("n1").cast("double")), 6))
          .as("logp"))

  /** MERGE two bigram LM tables — the increment path for the persisted
    * artifact: unigram and bigram counts are additive across disjoint
    * corpora, so a nightly batch's LM folds into the stored one with two
    * count-summing full-outer joins and a logp recompute, instead of
    * re-scanning the whole history. `mergeBigramLms(lm(A), lm(B))` equals
    * `bigramLmTable(A ∪ B)` EXACTLY (law-tested), because every stored
    * field is an integer count and logp is a pure function of (n2, n1).
    *
    * The n1 column is denormalized per (w1, w2) row, so each side's per-w1
    * count is first collapsed back to one row per w1 (`first` over the
    * group is exact — all rows of a w1 carry the same n1).
    */
  def mergeBigramLms(a: DataFrame, b: DataFrame): DataFrame = {
    def uni(lm: DataFrame) =
      lm.groupBy(col("w1")).agg(first(col("n1")).as("n1"))
    def bg(lm: DataFrame) =
      lm.filter(col("w2").isNotNull).select(col("w1"), col("w2"), col("n2"))
    val uniM = uni(a).withColumnRenamed("n1", "n1a")
      .join(uni(b).withColumnRenamed("n1", "n1b"), Seq("w1"), "full_outer")
      .select(col("w1"),
        (coalesce(col("n1a"), lit(0L)) + coalesce(col("n1b"), lit(0L))).as("n1"))
    val bgM = bg(a).withColumnRenamed("n2", "n2a")
      .join(bg(b).withColumnRenamed("n2", "n2b"), Seq("w1", "w2"), "full_outer")
      .select(col("w1"), col("w2"),
        (coalesce(col("n2a"), lit(0L)) + coalesce(col("n2b"), lit(0L))).as("n2"))
    lmFromCounts(uniM, bgM)
  }

  /** Score docs against a (possibly persisted) bigram LM table — the
    * serving half of [[bigramLmTable]]. Sort-merge joins on the bigram key
    * (an LM over a crawl is far too large to assume broadcastable); exact
    * scaled-long mean, identical output schema to [[bigramLogProb]]. OOV
    * bigrams (absent from the LM) drop from the count — the scored corpus
    * is assumed ⊆ the LM corpus; smoothing is a caller-side extension of
    * the table.
    */
  def scoreWithBigramLm(
      docs: DataFrame, idCol: String, textCol: String, lm: DataFrame): DataFrame = {
    val bigs = docBigrams(docs, idCol, textCol)
    val lp = lm.select(col("w1"), col("w2"), col("logp"))
    bigs.join(lp, Seq("w1", "w2"))
      .withColumn("lp6", round(col("logp") * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp6")).as("__s"),
        round(min(col("logp")), 6).as("min_logp"))
      .withColumn("avg_logp",
        round(col("__s").cast("double") / (col("n_bigrams") * lit(1e6)), 6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"), col("min_logp"))
  }

  /** Unigram LM as a persistable TABLE — (tok, n, n_total, logp) — the
    * order-0 artifact [[bigramLmTable]]'s backoff needs: counts are
    * additive across shards like every count table here, and the logp is a
    * pure function of (n, n_total).
    */
  def unigramLmTable(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("logp",
        round(log10(col("n").cast("double") / col("n_total").cast("double")), 6))
      .select(col("tok"), col("n"), col("n_total"), col("logp"))
  }

  /** STUPID-BACKOFF LM scoring (Brants et al. 2007 — the web-scale LM
    * recipe): each transition scores the bigram logp when the LM saw the
    * bigram, else backs off to `penaltyLog10 + unigram logp(w2)` — so a
    * model trained on yesterday's corpus can score today's without the
    * zero-probability cliff [[scoreWithBigramLm]]'s inner join imposes
    * (there, unseen bigrams silently drop from the average; here they
    * contribute a penalized estimate, which is what quality-filtering new
    * data against a FROZEN artifact requires). Transitions whose w2 is
    * absent even from the unigram table (true OOV) still drop — backing
    * off to nothing is not a probability.
    *
    * `penaltyLog10` defaults to -0.39794 ≈ log10(0.4), Brants' constant,
    * given as an exact 5-decimal literal so both engines fold the identical
    * double (a runtime log10(0.4) could differ by an ulp across libms).
    * Aggregation discipline identical to [[scoreWithBigramLm]].
    */
  def scoreWithBackoffLm(
      docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, uni: DataFrame,
      penaltyLog10: Double = -0.39794): DataFrame = {
    val bigs = docBigrams(docs, idCol, textCol)
    val bg = lm.filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("logp").as("__bg"))
    val un = uni.select(col("tok").as("w2"), col("logp").as("__uni"))
    bigs.join(bg, Seq("w1", "w2"), "left")
      .join(un, Seq("w2"))
      .withColumn("logp",
        coalesce(col("__bg"), round(lit(penaltyLog10) + col("__uni"), 6)))
      .withColumn("lp6", round(col("logp") * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp6")).as("__s"),
        count(when(col("__bg").isNull, 1)).as("n_backoff"),
        round(min(col("logp")), 6).as("min_logp"))
      .withColumn("avg_logp",
        round(col("__s").cast("double") / (col("n_bigrams") * lit(1e6)), 6))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        col("avg_logp"), col("min_logp"))
  }

  /** Hashed-feature linear classifier inference — the fastText-shaped
    * quality-filter step of a pretraining pipeline (score every document
    * with a linear model over hashed word uni+bigrams; keep/drop on the
    * margin sign). The hashing trick (feature → `hash % nBuckets`, no
    * vocabulary table) is the production-relevant plumbing: inference is
    * ONE scan-level expression chain per row — no joins, no UDFs, no
    * broadcast model table — so it runs at scan speed on 100 TB and the
    * model "weights" ride inside the expression.
    *
    * Weights here are md5-derived from `seed` (the LSH-hyperplane
    * construction — a stand-in for shipped trained weights, which would
    * arrive as a bucket→weight lookup in the same expression). Weight
    * arithmetic is EXACT: per-bucket weights are integer thousandths in
    * [−1000, 1000] and the per-doc sum is a long, so the margin is
    * bit-reproducible in any engine regardless of summation order (the
    * scaled-long discipline; no float accumulation anywhere).
    */
  def withClassifierScore(
      df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, seed: String, narrow: Boolean = true): DataFrame = {
    val feats = clsFeatures(col(textCol))
    val wsum = aggregate(
      transform(feats, f =>
        pmod(hash32(concat(lit(s"${seed}_"), pmod(hash32(f), lit(nBuckets.toLong)))),
          lit(2001L)) - lit(1000L)),
      lit(0L), (acc, w) => acc + w)
    val scored = df.withColumn("n_feats", size(feats).cast("long"))
      .withColumn("margin", round(
        wsum.cast("double") / (lit(1000.0) * greatest(col("n_feats"), lit(1L))), 6))
      .withColumn("label", when(col("margin") >= 0, lit("keep")).otherwise(lit("drop")))
    // narrow = the standalone-gate shape; narrow=false keeps the input
    // columns so further scan-level signal chains compose on ONE scan
    if (narrow) scored.select(col(idCol), col("n_feats"), col("margin"), col("label"))
    else scored
  }

  /** Hashed uni+bigram feature array — the shared feature extractor of
    * [[withClassifierScore]] (seed-derived weights) and the trained pair
    * [[trainClassifierWeights]]/[[withTrainedClassifierScore]]. Token
    * occurrences count multiplicity (a repeated word contributes each time),
    * matching fastText's bag-of-features.
    */
  private def clsFeatures(c: Column): Column = {
    val toks = tokens(c)
    concat(toks, shinglesAll(toks, 2))
  }

  /** TRAIN per-bucket classifier weights from a labeled corpus — the other
    * half of [[withClassifierScore]]'s promise that "shipped trained weights
    * would arrive as a bucket→weight lookup in the same expression".
    *
    * Shape: explode hashed features, ONE groupBy over `nBuckets` keys
    * (sidecar-sized output: the model IS the (bucket, wt) table, ~nBuckets
    * rows regardless of corpus size — the IVF-centroid pattern). Weight is a
    * Laplace-smoothed calibrated probability in integer thousandths,
    * `(2000·(pos_b+1)) div (n_b+2) − 1000` ∈ (−1000, 1000) — PURE integer
    * arithmetic (no log, no float), so any engine reproduces it bit-for-bit
    * from the same counts; positive-heavy buckets score positive.
    *
    * Returns (bucket: long, wt: long). 100 TB posture: training cost is one
    * scan + one shuffle of (bucket, flag) pairs with map-side partial
    * aggregation; apply `trainSample` upstream for sampled training.
    */
  def trainClassifierWeights(
      df: DataFrame, textCol: String, posCol: Column, nBuckets: Int): DataFrame =
    df.select(posCol.as("__pos"), explode(clsFeatures(col(textCol))).as("__f"))
      .select(col("__pos"), pmod(hash32(col("__f")), lit(nBuckets.toLong)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__pos"), lit(1L)).otherwise(lit(0L))).as("np"),
        count(lit(1)).as("n"))
      .select(col("bucket"), col("np"), col("n"),
        expr("(2000 * (np + 1)) div (n + 2) - 1000").as("wt"))

  /** The trained model: dense bucket→weight array (unseen buckets weigh 0)
    * plus the BIAS — the same integer-thousandth construction applied to the
    * global positive rate of feature occurrences. The decision rule is
    * `Σ w_f > bias·n_feats` (mean feature weight above the class prior), an
    * EXACT integer comparison: without the bias, any label whose prior isn't
    * 50% pushes every bucket's weight to the same side of zero and a
    * margin≥0 threshold degenerates to the majority class.
    */
  final case class ClassifierModel(weights: Array[Long], bias: Long)

  /** Driver-side packaging of [[trainClassifierWeights]]' output into a
    * [[ClassifierModel]]. Sidecar-sized collect (nBuckets rows — the
    * broadcast-build pattern, not a data-scale collect); the bias needs no
    * extra corpus scan because the weight table keeps its counts.
    */
  def collectClassifierModel(weights: DataFrame, nBuckets: Int): ClassifierModel = {
    val rows = weights.select(col("bucket"), col("np"), col("n"), col("wt")).collect()
    val arr = Array.fill(nBuckets)(0L)
    var npTot = 0L; var nTot = 0L
    rows.foreach { r =>
      arr(r.getLong(0).toInt) = r.getLong(3)
      npTot += r.getLong(1); nTot += r.getLong(2)
    }
    ClassifierModel(arr, 2000L * (npTot + 1) / (nTot + 2) - 1000L)
  }

  /** SERVE a trained hashed-feature linear model: identical scan-level
    * expression chain to [[withClassifierScore]], but the per-bucket weight
    * comes from `element_at` on a literal array (the trained model rides the
    * plan as one ~nBuckets·8-byte constant — no join, no UDF, no broadcast
    * table; inference stays at scan speed on 100 TB). Margin arithmetic is
    * the same exact scaled-long discipline: integer-thousandth weights
    * summed as a long, one float division at the very end.
    */
  def withTrainedClassifierScore(
      df: DataFrame, idCol: String, textCol: String,
      model: ClassifierModel, nBuckets: Int): DataFrame = {
    require(model.weights.length == nBuckets,
      s"weights.length=${model.weights.length} must equal nBuckets=$nBuckets")
    val feats = clsFeatures(col(textCol))
    val wlit = lit(model.weights)
    val wsum = aggregate(
      transform(feats, f =>
        element_at(wlit, (pmod(hash32(f), lit(nBuckets.toLong)) + lit(1L)).cast("int"))),
      lit(0L), (acc, w) => acc + w)
    df.withColumn("n_feats", size(feats).cast("long"))
      .withColumn("__wsum", wsum)
      .withColumn("margin", round(
        col("__wsum").cast("double") / (lit(1000.0) * greatest(col("n_feats"), lit(1L))), 6))
      .withColumn("label",
        when(col("__wsum") > lit(model.bias) * col("n_feats"), lit("keep"))
          .otherwise(lit("drop")))
      .select(col(idCol), col("n_feats"), col("margin"), col("label"))
  }

  /** Chunk documents into fixed-size overlapping windows with offsets —
    * the step before embedding in a retrieval/pretraining pipeline (long
    * docs exceed encoder context; overlap keeps boundary-straddling
    * content findable). Entirely scan-level: one array transform + explode
    * per doc, zero shuffle; chunk count is
    * `(max(len−overlap, 0) + step − 1) div step` (step = size − overlap),
    * so the final chunk is the only short one and a doc shorter than
    * `size` yields exactly one chunk (empty text none). Offsets are
    * 1-based char positions, so `substr(start, size)` reconstructs every
    * chunk from the original — provenance for span-level citations.
    */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && size > overlap,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    // codegen'd window kernel (r16 verdict ask #3): the HOF form captured
    // col(textCol) inside the transform lambda — safe only while callers
    // never push a predicate through the chunk projection. The kernel
    // evaluates the text exactly once per row wherever the tree lands; its
    // count law (one-chunk floor for non-empty docs — without it a doc
    // shorter than `overlap` silently vanishes) is pinned by the LawsSpec
    // reassembly law.
    val chunks = graft.functions.WinnowExprs.chunkWindows(col(textCol), size, overlap)
    df.select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        col("c.start").as("start"), col("c.chunk").as("chunk"))
  }

  /** Evaluate a keep/drop classifier against ground truth — the op that
    * closes the train→serve→evaluate loop (the classifier's analog of
    * `Similarity.recallAtK`): confusion counts plus accuracy, ONE
    * equi-join of predictions to truth and one global aggregate. Inputs
    * are scored rows (metric-sized work: the join moves two small columns
    * per doc, the aggregate is a single partial-combined row). Counts are
    * exact longs; accuracy is one float division at the end (round 6).
    */
  def evaluateClassifier(
      scored: DataFrame, idCol: String, labelCol: String,
      truth: DataFrame, truthCol: String): DataFrame = {
    val keep = col(labelCol) === "keep"
    val t = col(truthCol)
    scored.join(truth, Seq(idCol))
      .agg(
        sum(when(keep && t, 1L).otherwise(0L)).as("tp"),
        sum(when(keep && !t, 1L).otherwise(0L)).as("fp"),
        sum(when(!keep && t, 1L).otherwise(0L)).as("fn"),
        sum(when(!keep && !t, 1L).otherwise(0L)).as("tn"))
      .withColumn("n", col("tp") + col("fp") + col("fn") + col("tn"))
      .withColumn("accuracy",
        round((col("tp") + col("tn")).cast("double") / col("n"), 6))
  }

  /** Winnowing fingerprint SET (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every char k-gram, then keep the minimum hash of each
    * sliding window of `w` consecutive positions. Guarantees every shared
    * substring of length ≥ k + w − 1 contributes at least one IDENTICAL
    * fingerprint to both documents — position-robust local fingerprints,
    * which is what substring-level duplicate detection needs (whole-doc
    * MinHash dilutes a shared paragraph; [[withFingerprint]]'s single min is
    * the degenerate w = ∞ case). Documents shorter than k + w − 1 chars
    * winnow their full gram list (one window); documents shorter than k
    * yield an empty set.
    *
    * Entirely scan-level (codegen'd [[graft.functions.WinnowKernels]]
    * kernels since r17, zero shuffle): the selected-set size is ~2/(w+1) of
    * the gram count, the published density bound. Being `UnaryExpression`s,
    * the kernels evaluate their input exactly once per row wherever the
    * tree lands — composing them directly under a pushed filter is safe
    * (the HOF forms they replace re-evaluated a lambda-captured producer
    * once per window; see ShingleExprs' scaladoc for the splice mechanism).
    */
  def gramHashes(c: Column, k: Int): Column =
    graft.functions.WinnowExprs.gramHashes(c, k)

  def winnowSelect(hs: Column, w: Int): Column =
    graft.functions.WinnowExprs.winnowSelect(hs, w)

  /** [[winnowSelect]] variant that keeps each selected fingerprint's GRAM
    * POSITION (1-based char offset of the k-gram it hashes): window j keeps
    * (min hash of grams j+1..j+w, position of that min). The positions are
    * what substring REMOVAL needs — a shared fingerprint certifies a
    * duplicated k-gram starting exactly there. Same density bound as
    * [[winnowSelect]].
    */
  def winnowSelectPos(hs: Column, w: Int): Column =
    graft.functions.WinnowExprs.winnowSelectPos(hs, w)

  /** Convenience composition of [[gramHashes]] + [[winnowSelect]].
    *
    * Since r17 this single-expression form is safe on real corpora: both
    * pieces are codegen'd kernels, so the gram array is computed once per
    * row and each window is a tight min loop (the retired HOF composition
    * re-hashed the ENTIRE gram array once per window — O(len²) md5 per row,
    * measured 300× slower at 300-char docs — which is why callers like
    * [[graft.ops.Dedup.substringDupCandidates]] bind `__hs` to a projected
    * column first; that shape remains fine and avoids recomputing the grams
    * across two consumers).
    */
  def winnowedFingerprints(c: Column, k: Int, w: Int): Column =
    winnowSelect(gramHashes(c, k), w)

  /** Document fingerprint: min 32-bit hash over distinct char n-grams (the
    * degenerate winnowing window = whole doc), plus the distinct-gram count.
    */
  def withFingerprint(df: DataFrame, text: String, n: Int = 8): DataFrame = {
    // r19: both outputs from ONE fused kernel pass (FingerprintStats —
    // md5 only on first gram occurrences, no gram array materialization;
    // bit-identical to the transform+hash32 / size(charShingles) pair,
    // probe-measured at ~half the per-doc cost). Bound through a select so
    // the two field extracts read an attribute, never re-run the kernel.
    df.withColumn("__fps", graft.functions.WinnowExprs.fingerprintStats(col(text), n))
      .select(df.columns.map(col) :+
        col("__fps").getField("fingerprint").as("fingerprint") :+
        col("__fps").getField("n_grams").as("n_grams"): _*)
  }

  /** COUNT-MIN SKETCH over the corpus token stream — bounded-state frequency
    * estimation (Cormode–Muthukrishnan): `depth` md5-derived hash rows of
    * `width` counters; a token's estimate is the MIN of its `depth` bucket
    * counts (always ≥ the true count; collisions only inflate). The sketch
    * table is depth × width rows REGARDLESS of vocabulary size — the state
    * you broadcast, persist, or merge (counter matrices are additive across
    * corpus shards, same law as every count artifact here), where an exact
    * vocabulary count at crawl scale is a billion-row shuffle with a heavy
    * tail.
    *
    * Determinism: the hash family is the same [[hash32]] md5 construction
    * every op here uses ("cms<row>_" salt), so the sketch — and therefore
    * even its approximation error — is bit-reproducible in any engine; the
    * DuckDB oracle recomputes the identical matrix.
    *
    * Scale shape: one corpus scan, rows explode ×depth (bounded small
    * constant), one map-side-combined aggregation onto ≤ depth·width keys —
    * no vocabulary-sized shuffle anywhere.
    */
  def cmsTokenSketch(
      docs: DataFrame, textCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth >= 1, width >= 2; got $depth x $width")
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(posexplode(array((0 until depth).map(i =>
        (hash32(concat(lit(s"cms${i}_"), col("tok"))) % width)): _*))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** Point-query the sketch for a set of tokens: estimate = min over the
    * depth rows of that token's bucket counter. `tokens` carries a `tok`
    * column; the sketch side is depth × width rows, so the lookup join
    * BROADCASTS the sketch onto the token frame — a million point queries
    * never shuffle.
    */
  def cmsEstimate(
      sketch: DataFrame, toks: DataFrame, depth: Int, width: Int): DataFrame = {
    val probes = toks.select(col("tok"))
      .select(col("tok"), posexplode(array((0 until depth).map(i =>
        (hash32(concat(lit(s"cms${i}_"), col("tok"))) % width)): _*))
        .as(Seq("row", "bucket")))
    probes.join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("tok")).agg(min(col("n")).as("cms_est"))
  }
}
