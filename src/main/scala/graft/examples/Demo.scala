package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tdf.TDF

/** Runnable example of the facade over the driver testdata — the reference's
  * canonical chain (README.md:10-16 / TDFGuide.md:124-131) transliterated:
  * Define z → Filter → many booked actions → ONE shared Spark job.
  *
  * sbt "runMain graft.examples.Demo /root/testdata/sf0.001"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val d = TDF(Tables.lineitem(spark, sfDir))
      .Define("z", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    val loose = d.Filter("z_cut", col("z") > 1000.0)
    val tight = loose.Filter("qty_cut", col("l_quantity") >= 25.0)

    // book everything, nothing runs yet
    val n = loose.Count()
    val mz = loose.Mean("z")
    val mn = tight.Min("z")
    val mx = tight.Max("z")
    val h = tight.Histo("z", 8, 0.0, 80000.0)
    val rep = tight.Report()
    println(s"booked; ready? ${n.isReady} ${h.isReady}")

    val t0 = System.nanoTime()
    val count = n() // first deref triggers the single shared run
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"shared run took $dt%.2fs")
    println(s"count(z>1000) = $count (ready after one trigger: " +
      s"${mz.isReady} ${mn.isReady} ${mx.isReady} ${h.isReady} ${rep.isReady})")
    println(f"mean(z)=${mz()}%.4f min=${mn()}%.4f max=${mx()}%.4f")
    println(s"histo: entries=${h().entries} bins=${h().counts.mkString(",")} " +
      s"under=${h().underflow} over=${h().overflow}")
    rep().foreach(c => println(f"cut ${c.name}%-8s pass=${c.pass}%6d / ${c.all}%6d " +
      f"(${100 * c.efficiency}%.1f%%)"))

    // typed-lambda surface (the reference's primary API shape): same chain
    // through Scala function values, and a general Accumulate fold
    val lam = TDF(Tables.lineitem(spark, sfDir))
      .Define("z", (p: Double, disc: Double) => p * (1.0 - disc),
        Seq("l_extendedprice", "l_discount"))
      .Filter((z: Double) => z > 1000.0, Seq("z"))
    println(s"typed-lambda count = ${lam.Count()()}")
    val (accN, accSum) = lam.Accumulate("z", (0L, 0.0)) {
      case ((c, s), v) => (c + 1, s + v)
    } { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) }
    println(f"Accumulate: n=$accN mean=${accSum / accN}%.4f")

    // pipeline ops at the same package boundary: dedup and the quantized
    // ANN family (in-memory and persisted, searched over int8 codes)
    val docs = Tables.documents(spark, sfDir)
    // audit family: reproducible split, one-pass column profile
    val splitCounts = graft.ops.Splits.assign(docs, "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .groupBy(col("split")).count().orderBy(col("split"))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"splits: $splitCounts")
    val prof = graft.ops.Profiling.columnStats(docs, Seq("doc_id", "n_chars"))
      .orderBy(col("col_name")).collect()
      .map(r => s"${r.getString(0)}(n=${r.getLong(1)},distinct=${r.getLong(3)})")
      .mkString(" ")
    println(s"profile: $prof")
    val nearDupPairs = graft.ops.Dedup.nearDuplicatesLsh(
      docs, "doc_id", "text", k = 16, bandSize = 4, shingleN = 3)
      .filter(col("jaccard") >= 0.4)
    println(s"near-duplicate pairs (jaccard>=0.4) = ${nearDupPairs.count()}")
    // duplicate clustering: large-star/small-star contracts the pair graph
    // in O(log n) alternating rounds — the round count is the observable
    val (clusters, ccRounds) = graft.ops.Dedup.connectedComponentsWithRounds(
      nearDupPairs.select(col("id_a"), col("id_b")))
    println(s"duplicate clusters = ${clusters.select(col("label")).distinct().count()} " +
      s"(converged in $ccRounds rounds)")
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter(col("vec_id") < 3)
    val i8 = graft.ops.Similarity.int8TopK(emb, qs, "vec_id", "embedding", 2)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => s"${r.getLong(0)}->${r.getLong(1)}").mkString(" ")
    println(s"int8 top-2: $i8")
    // layout lever: range-sorted snapshot (tight min/max stats per file)
    val sorted = loose.SnapshotSorted("/tmp/graft_demo_sorted", Seq("z"), numFiles = 4)
    println(s"sorted snapshot rows = ${sorted.Count()()}")
    val compacted = TDF.compact(spark, "/tmp/graft_demo_sorted", "/tmp/graft_demo_compacted")
    println(s"compacted rows = ${compacted.Count()()}")
    loose.SnapshotPartitioned("/tmp/graft_demo_parted", Seq("l_returnflag"))
    // per-partition narrow jobs overlap through a bounded pool (parallelism)
    val pcomp = TDF.compactPartitions(
      spark, "/tmp/graft_demo_parted", "/tmp/graft_demo_parted_c", parallelism = 4)
    println(s"partitioned-compact rows = ${pcomp.Count()()} (4 concurrent partition jobs)")

    val idx = "/tmp/graft_demo_ivf_index"
    graft.ops.Similarity.writeIvfIndex(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", idx, nCents = 8,
      graft.ops.IvfCodec.Int8)
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter(col("vec_id") >= 300), "vec_id", "embedding", idx)
    val hits = graft.ops.Similarity.openIvfSearcher(
      spark, idx, "vec_id", "embedding", k = 2, nprobe = 2)(qs).count()
    println(s"persisted-index (build+append) hits = $hits")
    // list-balance stats: the operational retrain signal for the index
    val istats = graft.ops.Similarity.ivfIndexStats(spark, idx)
      .agg(org.apache.spark.sql.functions.count(lit(1)), max(col("share"))).head()
    println(s"index stats: ${istats.getLong(0)} lists, max share ${istats.getDouble(1)}")
    // compressed-search family: JL projection, PQ-ADC, and the IVF+PQ
    // composition (pruning x compression)
    val pq = graft.ops.Similarity.pqTopK(
      emb, qs, "vec_id", "embedding", k = 2, m = 4, nCodes = 16, dim = 64)
    println(s"PQ-ADC hits = ${pq.count()}")
    val ivfpq = graft.ops.Similarity.ivfPqTopK(
      emb, qs, "vec_id", "embedding", k = 2, nCents = 8, nprobe = 2,
      m = 4, nCodes = 16, dim = 64)
    println(s"IVF+PQ hits = ${ivfpq.count()}")
    val projected = graft.ops.Similarity.randomProject(
      emb, "vec_id", "embedding", outDim = 8, dim = 64)
    println(s"projected vectors = ${projected.count()} (64 -> 8 dims)")
    // admin surface: sweep crashed-writer leftovers (fences loudly if a
    // writer commits mid-sweep — single-writer contract, enforced)
    graft.ops.Similarity.vacuumIvfIndex(spark, idx)
    println("index vacuumed: unreferenced files swept, grace window kept")
    // versioned snapshots: retention + time travel
    val snapDir = "/tmp/graft_demo_snapshots"
    val snapPath = new org.apache.hadoop.fs.Path(snapDir)
    snapPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(snapPath, true)
    val stats = loose.toDF.groupBy(col("l_returnflag")).count()
    (0L to 2L).foreach(v =>
      graft.streaming.Streams.commitSnapshot(stats, snapDir, v, retain = 2))
    println(s"snapshot latest rows = " +
      s"${graft.streaming.Streams.readSnapshot(spark, snapDir).count()}, " +
      s"time-travel v1 rows = " +
      s"${graft.streaming.Streams.readSnapshot(spark, snapDir, Some(1L)).count()}")
    // snapshot CDC: what changed between two committed versions
    val statsHalf = loose.toDF.filter(col("l_quantity") > 25)
      .groupBy(col("l_returnflag")).count()
    graft.streaming.Streams.commitSnapshot(statsHalf, snapDir, 3L, retain = 2)
    val changed = graft.streaming.Streams.diffSnapshots(
      spark, snapDir, 2L, 3L, Seq("l_returnflag"))
    println(s"snapshot diff v2->v3: ${changed.count()} changed keys")
    // chunking: the step before embedding (offsets give span provenance)
    val chunks = graft.ops.TextOps.chunkDocuments(docs, "doc_id", "text", 120, 20)
    println(s"chunking: ${chunks.count()} chunks from ${docs.count()} docs (size 120, overlap 20)")
    // persisted bigram LM: corpus statistics committed once as a versioned
    // artifact, scoring joins the stored table
    val lmDir = "/tmp/graft_demo_bigram_lm"
    graft.streaming.Streams.commitSnapshot(
      graft.ops.TextOps.bigramLmTable(docs, "text"), lmDir, 1L)
    val lmScored = graft.ops.TextOps.scoreWithBigramLm(docs, "doc_id", "text",
      graft.streaming.Streams.readSnapshot(spark, lmDir))
    println(s"persisted bigram LM: ${graft.streaming.Streams.readSnapshot(spark, lmDir).count()} " +
      s"bigrams, ${lmScored.count()} docs scored")
    // substring-level duplicate candidates via winnowing fingerprints
    val subDups = graft.ops.Dedup.substringDupCandidates(
      docs, "doc_id", "text", 16, 8, 4L)
    println(s"winnowing substring-dup candidate pairs = ${subDups.count()}")
    // and the removal step: first copy kept, later docs' duplicated spans cut
    val rmStats = graft.ops.Dedup.removeDuplicateSubstrings(docs, "doc_id", "text", 16, 8)
      .agg(sum(col("n_removed")), sum(when(col("n_spans") > 0, 1L).otherwise(0L))).head()
    println(s"substring removal: ${rmStats.getLong(0)} chars cut across ${rmStats.getLong(1)} docs")
    // span-level decontamination against a static reference corpus
    val scrubStats = graft.ops.Dedup.scrubSubstrings(
      docs.filter(col("doc_id") >= 50), "doc_id", "text",
      docs.filter(col("doc_id") < 50), "text", 16, 8)
      .agg(sum(col("n_removed")), sum(when(col("n_spans") > 0, 1L).otherwise(0L))).head()
    println(s"reference scrub: ${scrubStats.getLong(0)} contaminated chars cut " +
      s"from ${scrubStats.getLong(1)} docs")
    // quality classifier inference + the same scorer per micro-batch
    val scored = graft.ops.TextOps.withClassifierScore(docs, "doc_id", "text", 4096, "qf")
    val kept = scored.filter(col("label") === "keep").count()
    println(s"classifier keeps $kept/${scored.count()} docs (hashed-feature linear model)")
    // trained variant: learn bucket weights from the corpus's lang labels,
    // serve them scan-level as a literal array inside the same expression
    val model = graft.ops.TextOps.collectClassifierModel(
      graft.ops.TextOps.trainClassifierWeights(docs, "text", col("lang") === "en", 4096), 4096)
    val trained = graft.ops.TextOps.withTrainedClassifierScore(docs, "doc_id", "text", model, 4096)
    val tkept = trained.filter(col("label") === "keep").count()
    println(s"trained classifier keeps $tkept/${trained.count()} docs (lang=en weights, bias=${model.bias})")
    val ev = graft.ops.TextOps.evaluateClassifier(trained, "doc_id", "label",
      docs.select(col("doc_id"), (col("lang") === "en").as("truth")), "truth").head()
    println(s"classifier eval: accuracy=${ev.getAs[Double]("accuracy")} " +
      s"(tp=${ev.getAs[Long]("tp")} fp=${ev.getAs[Long]("fp")} " +
      s"fn=${ev.getAs[Long]("fn")} tn=${ev.getAs[Long]("tn")})")
    // filtered ANN: metadata predicate pushed into the persisted index scan
    val fidx = "/tmp/graft_demo_filtered_idx"
    new org.apache.hadoop.fs.Path(fidx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(fidx), true)
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", fidx, 8,
      graft.ops.IvfCodec.Int8, attrCols = Seq("label"))
    val fhits = graft.ops.Similarity.openIvfSearcher(spark, fidx, "vec_id", "embedding", 3, 2,
      listFilter = Some(col("label") === 7))(emb.filter(col("vec_id") < 5))
    println(s"filtered ANN (label=7) hits = ${fhits.count()}")
    // semantic dedup: collapse in-cluster near-duplicates, keep the earliest
    val sem = graft.ops.Similarity.semanticDedup(emb, "vec_id", "embedding",
      0.3, 4, trainIters = 1)
    println(s"semantic dedup keeps ${sem.count()}/${emb.count()} vectors (tau=0.3)")
    // the same SemDeDup semantics at ingest: id-ordered micro-batches
    // against the distributed capped owner state
    val ssem = graft.streaming.Streams.streamingSemanticDedup(spark, sfDir,
      s"/tmp/graft_demo_ssem_${java.util.UUID.randomUUID().toString.take(8)}",
      0.3, 4, trainIters = 1)
    println(s"streaming semantic dedup admits ${ssem.count()} vectors (3 batches)")
    // table maintenance: merge a change batch, then read through data skipping
    val tbl = s"/tmp/graft_demo_table_${java.util.UUID.randomUUID().toString.take(8)}"
    val snap = docs.select(col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("n_chars"))
    graft.streaming.Streams.commitSnapshotStats(snap, tbl, 0, Seq("doc_id"),
      layoutParts = 4, bloomCols = Seq("lang"), bloomBits = 1 << 12)
    val (keptFiles, totFiles) = graft.streaming.Streams.rangeFileSelection(
      spark, tbl, "doc_id", 0L, 9L)
    println(s"data skipping: doc_id in [0,9] touches ${keptFiles.size}/$totFiles files")
    val v = graft.streaming.Streams.upsertSnapshot(
      snap.filter(col("doc_id") < 10).withColumn("n_chars", col("n_chars") * 2),
      tbl, Seq("doc_id"), retain = 5)
    println(s"snapshot merge committed v$v, " +
      s"rows=${graft.streaming.Streams.readSnapshot(spark, tbl).count()}")
    // partitioned table: the change batch rewrites only its own partition
    val ptbl = s"/tmp/graft_demo_ptable_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.streaming.PartitionedSnapshot.upsert(snap, ptbl, Seq("doc_id"), "lang")
    val pv = graft.streaming.PartitionedSnapshot.upsert(
      snap.filter(col("lang") === "en").limit(5)
        .withColumn("n_chars", lit(0L)), ptbl, Seq("doc_id"), "lang")
    println(s"partitioned upsert v$pv touched only lang=en; table rows = " +
      s"${graft.streaming.PartitionedSnapshot.read(spark, ptbl).count()}")
    // schema evolution: metadata-only addColumn; old files read the default
    graft.streaming.PartitionedSnapshot.addColumn(spark, ptbl, "quality", "double", "0.5")
    val nDefault = graft.streaming.PartitionedSnapshot.read(spark, ptbl)
      .filter(col("quality") === 0.5).count()
    println(s"schema evolution: quality=0.5 default on $nDefault pre-evolution rows")
    // metadata-only retention: drop a partition without touching data files
    graft.streaming.PartitionedSnapshot.dropPartitions(spark, ptbl, Set("en"))
    println(s"after dropping lang=en: rows = " +
      s"${graft.streaming.PartitionedSnapshot.read(spark, ptbl).count()}")
    // hybrid retrieval: BM25 (text) x exact cosine (embeddings), RRF-fused
    val hybrid = graft.ops.Retrieval.hybridTopK(
      docs, "doc_id", "text", emb, "vec_id", "embedding",
      spark.range(0, 2).select(col("id").as("qid")), 5, 15)
    println(s"hybrid search (2 queries, top-5): ${hybrid.count()} fused hits")
    // PRF query expansion: mine terms from the top feedback docs, re-score
    val expanded = graft.ops.Retrieval.bm25ExpandedTopK(
      graft.ops.Retrieval.bm25StatsTable(docs, "doc_id", "text"),
      docs.filter(col("doc_id") < 2), "doc_id", "text",
      5, kFb = 3, nExp = 5, excludeSelf = true)
    println(s"PRF-expanded BM25 (2 queries, top-5): ${expanded.count()} hits")
    // MMR: diversify the ANN result page (skip near-duplicate neighbors)
    val mmr = graft.ops.Similarity.mmrRerank(
      graft.ops.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 2), "vec_id", "embedding", 10),
      emb, "vec_id", "embedding", 5)
    println(s"MMR diversified re-rank (2 queries): ${mmr.count()} picks")
    // incremental BM25 stats: fold a new batch in without re-tokenizing
    val incStats = graft.ops.Retrieval.mergeBm25Stats(
      graft.ops.Retrieval.bm25StatsTable(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
      graft.ops.Retrieval.bm25StatsTable(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    println(s"incremental BM25 stats merge: ${incStats.count()} (doc, term) rows")
    // quality-aware canonical dedup: keep each component's LONGEST member
    val best = graft.ops.Dedup.canonicalCorpusByScore(docs, "doc_id", "text",
      length(col("text")).cast("long"), 16, 4, 3, 0.2)
    println(s"keep-the-best canonical corpus: ${best.count()} docs")
    // streaming as-of: enrich a click stream against a static view reference
    val senr = graft.streaming.Streams.streamingAsOfEnrich(
      spark, sfDir, "/tmp/graft_demo_stream_asof")
    println(s"streaming as-of enrichment: ${senr.count()} clicks matched")
    // prefix-filtering exact similarity join: every pair at Jaccard >= 0.5
    val pp = graft.ops.Dedup.ppJoin(docs, "doc_id", "text", 3, 50)
    println(s"ppJoin exact similarity join: ${pp.count()} pairs at J >= 0.5")
    // incremental MV maintenance: view follows a CDC batch, never rescans
    val mvBase = graft.ops.Materialize.buildAggMv(
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Seq("lang"), Seq("n_chars"))
    val mvCdc = graft.streaming.Streams.diffFrames(
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      docs.select(col("doc_id"), col("lang"), col("n_chars")), Seq("doc_id"))
    val mv = graft.ops.Materialize.applyAggDelta(
      mvBase, mvCdc, Seq("lang"), Seq("n_chars"))
    println(s"incremental MV after CDC apply: ${mv.count()} groups")
    // fixed-point PageRank over a tiny similarity graph
    val prEdges = pp.select(col("id_a").as("src"), col("id_b").as("dst"),
        col("n_inter").as("w"))
      .union(pp.select(col("id_b").as("src"), col("id_a").as("dst"),
        col("n_inter").as("w")))
    val pr = graft.ops.Graph.pageRankFixedPoint(prEdges, 3, 85)
    println(s"pagerank over the near-dup graph: ${pr.count()} ranked nodes")
    // positional phrase search + the stateless scan-level twin
    val ph = graft.ops.Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq("value", "table"))
    println(s"phrase search 'value table': ${ph.count()} matching docs")
    // weighted priority sampling: 3 docs per lang, inclusion ∝ n_chars
    val wsamp = graft.ops.Splits.sampleWeighted(docs, "lang", "doc_id", "n_chars", 3)
    println(s"weighted sample (3 per lang): ${wsamp.count()} docs")
    // graded contamination measurement vs a held-out slice
    val cont = graft.ops.Decontam.overlapScores(
      docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 97 === 0), "text", 5, 0.1)
    println(s"contamination scores: ${cont.filter(col("contaminated") === 1).count()} " +
      s"docs over the 10% overlap threshold")
    // the selection cascade: gopher rules -> ccnet non-tail, with per-stage
    // retention attribution (the funnel table a pretraining pipeline ships)
    val rules = graft.ops.Selection.gopherRules(docs, "doc_id", "text",
      10, 1000, 3.0, 5.0, Seq("the", "a", "and"), 1, 0.8, 0.2)
    val terciles = graft.ops.Selection.ccnetBuckets(docs, "doc_id", "text", "lang")
    val funnel = graft.ops.Selection.cascadeReport(docs, "doc_id", Seq(
      "gopher" -> rules.filter(col("keep")).select(col("doc_id")),
      "ccnet" -> terciles.filter(col("bucket") =!= "tail").select(col("doc_id"))))
      .orderBy(col("stage_idx")).collect()
    println("selection funnel: " + funnel.map(r =>
      s"${r.getAs[String]("stage")} ${r.getAs[Long]("n_in")}->${r.getAs[Long]("n_out")}")
      .mkString(", "))
    // temperature-flattened mixture: √n target shares, binding domain whole
    val temp = graft.ops.Splits.temperatureMixture(docs, "lang", "doc_id", 0.5)
    println(s"temperature-sampled corpus (alpha=0.5): ${temp.count()} docs kept")
    spark.stop()
  }
}
