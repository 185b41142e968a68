package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics tests: typed Dataset surface, partition-pruned reads,
  * plan-shape assertions for the hot paths.
  */
case class Item(key: Long, grp: String, qty: Double)

class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  test("typed Dataset surface: case-class Encoder round trip with typed ops") {
    val ds = (0L until 100L).map(i => Item(i, s"g${i % 4}", (i % 10).toDouble)).toDS()
    val agg = ds.filter(_.qty > 4.0).groupByKey(_.grp)
      .mapValues(_.qty.toLong).reduceGroups(_ + _)
      .collect().toMap
    assert(agg.size == 4 && agg.values.sum == ds.filter(_.qty > 4.0).map(_.qty.toLong).reduce(_ + _))
  }

  test("partitioned write + read prunes partitions in the scan") {
    val dir = s"${SparkTest.scratchRoot}/graft_part_test"
    (0L until 1000L).map(i => (i, s"g${i % 5}", i % 7))
      .toDF("id", "grp", "v")
      .write.mode("overwrite").partitionBy("grp").parquet(dir)
    val pruned = spark.read.parquet(dir).filter($"grp" === "g3")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(grp"),
      s"expected partition filters in scan:\n$scan")
    assert(pruned.count() == 200L)
  }

  test("facade fused job reads only referenced columns (pruning)") {
    import graft.tdf.TDF
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val plans = SparkTest.executedPlans(spark) {
      val z = TDF(li).Define("z", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .Filter($"z" > 1000.0)
      val (n, h, t) = (z.Count(), z.Histo("z", 10, 0.0, 100000.0), z.Take("l_quantity"))
      assert(n() > 0L && h().entries == n() && t().size == n())
    }
    assert(plans.size == 1, s"one fused pass expected, got ${plans.size}")
    val scan = plans.head.toString
    val read = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(scan)
      .map(_.group(1).split(",").map(_.takeWhile(_ != ':')).toSet).toSet
    // Take must not widen the projection to every column
    assert(read == Set(Set("l_quantity", "l_extendedprice", "l_discount")),
      s"expected the 3 referenced columns in the fused scan:\n$scan")
  }

  test("decontamination probes broadcast; corpus never shuffles for the joins") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val held = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val f = graft.ops.Decontam.flags(corpus, "doc_id", "text", held, "text", 5)
    val plan = f.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"digest and n-gram probes must both broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not sort-merge against the tiny held-out set:\n$plan")
  }

  test("Bloom decontamination probe is codegen'd into the gram scan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val held = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val f = graft.ops.Decontam.flagsBloomed(
      corpus, "doc_id", "text", held, "text", 5, expectedGrams = 20000L)
    val plan = f.queryExecution.executedPlan.toString
    // the probe must ride the corpus gram scan as the native expression
    // (dropping non-candidates BEFORE the verify join's shuffle), not a UDF
    assert(plan.toLowerCase.contains("bloommightcontain"),
      s"gram prefilter must be the codegen'd Bloom expression:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"no UDF may carry the probe:\n$plan")
  }

  test("streaming decontamination gram probe is a hash-set probe, not a list scan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val held = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
      .withColumn("__toks", graft.ops.TextOps.tokens($"text"))
      .withColumn("__sh", graft.ops.TextOps.shingles("__toks", 5))
    // the EXACT production predicate streamingDecontaminate applies per row
    val gramHit = graft.streaming.Streams.gramHitFilter(spark, held, "text", 5, $"__sh")
    val filtered = corpus.filter(!gramHit).select($"doc_id")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("graft_any_in_set"),
      s"gram probe must be the broadcast hash-set expression:\n$plan")
    assert(!plan.toLowerCase.contains("arrays_overlap"),
      s"no per-row scan of the gram list may remain:\n$plan")
    // and it must mean exactly what the scan shape it replaced meant
    val heldGrams = held
      .withColumn("__toks", graft.ops.TextOps.tokens($"text"))
      .select(explode(graft.ops.TextOps.shingles("__toks", 5)).as("__g")).distinct()
      .agg(sort_array(collect_list($"__g")).as("__gl"))
    val viaOverlap = corpus.crossJoin(broadcast(heldGrams))
      .filter(!arrays_overlap($"__sh", $"__gl")).select($"doc_id")
    assert(filtered.as[Long].collect().toSet == viaOverlap.as[Long].collect().toSet)
  }

  test("100M-entry stress: exact count/min/max/mean/histo at 1 vs 32 partitions") {
    // reference tests/test_par.cxx:12-40 runs 100M entries with exact
    // printouts; here the same scale exercises real partial-buffer merges in
    // the fused aggregate and the native histogram. Values are integral
    // doubles (sum < 2^53), so every statistic is exact under ANY partition
    // split / merge order — the partition-invariance contract at a size where
    // per-task buffers actually matter.
    import graft.tdf.TDF
    val n = 100000000L
    def run(parts: Int) = {
      val df = spark.range(0, n, 1, parts)
        .withColumn("v", ($"id" % 1000).cast("double"))
      val d = TDF(df)
      val (c, mn, mx, me) = (d.Count(), d.Min("v"), d.Max("v"), d.Mean("v"))
      val h = d.Histo("v", 64, 0.0, 1000.0)
      (c(), mn(), mx(), me(), h())
    }
    val (c32, mn32, mx32, me32, h32) = run(32)
    val (c1, mn1, mx1, me1, h1) = run(1)
    assert(c1 == n && c32 == n)
    assert(mn1 == 0.0 && mx1 == 999.0 && mn32 == mn1 && mx32 == mx1)
    assert(me1 == 499.5 && me32 == 499.5) // exact: integral sum, same division
    assert(h1.counts.toSeq == h32.counts.toSeq && h1.entries == h32.entries)
    assert(h1.sumx == h32.sumx && h1.sumx2 == h32.sumx2) // integral → exact
  }

  test("dimension join broadcasts, fact side never shuffles before the join") {
    val dir = "/root/testdata/sf0.001"
    val joined = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name").agg(sum($"l_quantity"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    // the only hash-exchange allowed is the post-join groupBy aggregation
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"fact side must not shuffle before join:\n$plan")
  }

  test("audit ops keep their scale shape: heap top-k, one-scan profile, zero-shuffle split") {
    val dir = "/root/testdata/sf0.001"
    // token top-k: per-partition heaps merged on the driver, never a global sort
    val topk = graft.ops.TextOps.topTokens(Tables.documents(spark, dir), "text", 20)
    assert(topk.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "topTokens must plan TakeOrderedAndProject, not Sort+Limit")
    // column profiling: however many columns are audited, the table scans ONCE
    val prof = graft.ops.Profiling.columnStats(
      Tables.lineitem(spark, dir), Seq("l_quantity", "l_extendedprice", "l_discount"))
    val profScans = "Scan parquet".r.findAllIn(prof.queryExecution.executedPlan.toString).size
    assert(profScans == 1, s"columnStats must scan once, saw $profScans scans")
    // split assignment: a pure scan-level projection, no exchange at all
    val split = graft.ops.Splits.assign(Tables.documents(spark, dir), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"),
      "split assignment must not shuffle")
    // user-sequence assembly: the rank-from-end window must prune map-side
    // (partial WindowGroupLimit) so a power user never ships their whole
    // history, and user_id is shuffled exactly once (the groupBy reuses the
    // window's partitioning)
    val seqs = graft.ops.Splits.userEventSequences(Tables.events(spark, dir), 8)
    val seqPlan = seqs.queryExecution.executedPlan.toString
    assert(seqPlan.contains("WindowGroupLimit"),
      s"userEventSequences must prune via WindowGroupLimit:\n$seqPlan")
    assert("Exchange hashpartitioning".r.findAllIn(seqPlan).size == 1,
      s"userEventSequences must shuffle user_id exactly once:\n$seqPlan")
    // count-min sketch: ONE exchange, and it carries <= depth*width keys —
    // never a vocabulary-sized shuffle (the map-side partial agg collapses
    // the token stream to the counter matrix before the wire)
    val cms = graft.ops.TextOps.cmsTokenSketch(
      Tables.documents(spark, dir), "text", 4, 64)
    val cmsPlan = cms.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(cmsPlan).size == 1,
      s"cms sketch must shuffle exactly once:\n$cmsPlan")
    assert(cmsPlan.contains("partial_count") || cmsPlan.contains("partial"),
      s"cms sketch must map-side combine before the exchange:\n$cmsPlan")
    assert(cms.count() <= 4L * 64L, "sketch state must be bounded by depth*width")
    // fixed-size group sample: the partial WindowGroupLimit prunes each
    // partition to k rows per group BEFORE the single exchange — at scale
    // the shuffle moves ~k rows per (group, partition), not whole groups
    val samp = graft.ops.Splits.sampleGroupK(
      Tables.documents(spark, dir), "lang", "doc_id", 40)
    val sampPlan = samp.queryExecution.executedPlan.toString
    assert(sampPlan.contains("WindowGroupLimit") && sampPlan.contains("Partial"),
      s"group sample must plan a partial WindowGroupLimit:\n$sampPlan")
    assert("Exchange hashpartitioning".r.findAllIn(sampPlan).size == 1,
      s"group sample must shuffle exactly once:\n$sampPlan")
    // mixture sampling: after the tiny counts job, the selection itself is a
    // pure scan-level hash-rate filter — zero exchanges at any corpus size
    val mix = graft.ops.Splits.sampleMixture(
      Tables.documents(spark, dir), "lang", "doc_id",
      Seq("en" -> 40, "de" -> 20, "es" -> 20, "fr" -> 20))
    assert(!mix.queryExecution.executedPlan.toString.contains("Exchange"),
      "mixture sample must be scan-level (no shuffle)")
    // fractional-epoch upsampling: pure scan-level — the copy count and the
    // sequence-explode both ride the scan, zero exchanges at any corpus size
    val ups = graft.ops.Splits.upsampleEpochs(
      Tables.documents(spark, dir), "lang", "doc_id",
      Seq("en" -> 2.4, "de" -> 1.0, "fr" -> 0.5))
    assert(!ups.queryExecution.executedPlan.toString.contains("Exchange"),
      "epoch upsampling must be scan-level (no shuffle)")
    // token-budget fill: one shuffle on (domain, shard) — sharding keeps a
    // few-domain corpus parallel instead of one window task per domain
    val budg = graft.ops.Splits.takeTokenBudget(
      Tables.documents(spark, dir), "lang", "doc_id", "n_chars", 3002L, 4)
    val budgPlan = budg.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(budgPlan).size == 1,
      s"token-budget fill must shuffle exactly once:\n$budgPlan")
    assert(budgPlan.contains("lang") && budgPlan.contains("shard"),
      s"token-budget window must partition by (domain, shard):\n$budgPlan")
    // approx profile: no Expand (the exact multi-distinct's row inflation),
    // and the sketch stays within its error envelope on real data
    val approx = graft.ops.Profiling.columnStatsApprox(
      Tables.lineitem(spark, dir), Seq("l_quantity", "l_extendedprice", "l_discount"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profile must not plan Expand")
    val exactD = prof.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    approx.collect().foreach { r =>
      val (c, est) = (r.getString(0), r.getLong(3))
      assert(math.abs(est - exactD(c)).toDouble / exactD(c) < 0.15,
        s"approx distinct for $c: $est vs exact ${exactD(c)}")
    }
  }

  test("round-10 ops keep their scale shape: diff one join, winnow capped join, scan-level fingerprints") {
    val dir = "/root/testdata/sf0.001"
    // snapshot diff: ONE full-outer sort-merge join on the key — the whole plan
    val v1 = Tables.events(spark, dir).groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val v2 = Tables.events(spark, dir).filter($"user_id" % 2 === 0)
      .groupBy($"user_id").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val diffPlan = graft.streaming.Streams.diffFrames(v1, v2, Seq("user_id"))
      .queryExecution.executedPlan.toString
    assert("SortMergeJoin.*FullOuter".r.findFirstIn(diffPlan).isDefined,
      s"diff must plan one full-outer sort-merge join:\n$diffPlan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(diffPlan).isEmpty,
      "diff must never plan a nested-loop join")
    // winnowing fingerprints: a scan-level expression chain — extraction
    // itself adds no exchange; candidates then join keyed on fp
    val fps = Tables.documents(spark, dir).select(
      org.apache.spark.sql.functions.explode(
        graft.ops.TextOps.winnowedFingerprints($"text", 16, 8)).as("fp"))
    assert(!fps.queryExecution.executedPlan.toString.contains("Exchange"),
      "fingerprint extraction must not shuffle")
    val cand = graft.ops.Dedup.substringDupCandidates(
      Tables.documents(spark, dir), "doc_id", "text", 16, 8, 2L)
    val candPlan = cand.queryExecution.executedPlan.toString
    // tiny SF broadcasts the capped side; any KEYED join form is the claim
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(candPlan).isDefined &&
      !candPlan.contains("CartesianProduct") &&
      !candPlan.contains("BroadcastNestedLoopJoin"),
      s"winnow candidates must meet through a keyed join, never a product:\n$candPlan")
    // substring removal: keyed joins only, and the document TEXT must not
    // ride the fp-keyed shuffle — only (id, fp, pos) goes there; text joins
    // back by id at the end
    val rm = graft.ops.Dedup.removeDuplicateSubstrings(
      Tables.documents(spark, dir), "doc_id", "text", 16, 8)
    val rmPlan = rm.queryExecution.executedPlan.toString
    assert(!rmPlan.contains("CartesianProduct") &&
      !rmPlan.contains("BroadcastNestedLoopJoin"),
      s"substring removal must never plan a product join:\n$rmPlan")
    val fpExchanges = "Exchange hashpartitioning\\(fp[^)]*\\), [^\n]*".r
      .findAllIn(rmPlan).toList
    assert(fpExchanges.nonEmpty, s"expected an fp-keyed exchange:\n$rmPlan")
    assert(!fpExchanges.exists(_.contains("__text")),
      s"text must not ride the fp shuffle:\n${fpExchanges.mkString("\n")}")
  }

  test("IVF centroid assignment is a scan expression, never a join") {
    // the naive formulation (corpus × centroid-table cross join + argmin)
    // would plan a nested-loop join and explode every row C ways through a
    // shuffle; the operator must instead fold the centroids into a single
    // scan-level expression and meet the corpus only through the cent_id
    // equi-join on the capped inverted lists
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = graft.ops.Similarity.ivfTopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 3, 16, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment must not plan as a join:\n$plan")
    // trained centroids change only the literals inside the assignment
    // expression — the plan shape must stay join-free
    val trained = graft.ops.Similarity.ivfTopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 3, 16, 2, trainIters = 1)
      .queryExecution.executedPlan.toString
    assert(!trained.contains("CartesianProduct") && !trained.contains("BroadcastNestedLoopJoin"),
      s"trained centroid assignment must not plan as a join:\n$trained")
    // broadcast-matrix variant: still join-free, and the assignment must go
    // through the TopCentroids kernel (no per-centroid literals in the plan)
    val kernel = graft.ops.Similarity.ivfTopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 3, 16, 2,
      assignKernel = true)
      .queryExecution.executedPlan.toString
    assert(!kernel.contains("CartesianProduct") && !kernel.contains("BroadcastNestedLoopJoin"),
      s"kernel centroid assignment must not plan as a join:\n$kernel")
    assert(kernel.contains("graft_top_centroids"),
      s"broadcast-matrix kernel must appear in the plan:\n$kernel")
  }

  test("persisted IVF index search dynamically prunes list partitions") {
    // the lists are partitioned by cent_id on disk; the probe join must turn
    // into a dynamic partition-pruning filter on the scan, so search I/O is
    // nprobe/nCents of the stored index — the build-once/search-many contract
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_index_scalespec"
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    val search = graft.ops.Similarity.openIvfSearcher(
      spark, path, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"list scan must carry a dynamic partition-pruning filter on cent_id:\n$plan")
    // and the persisted round-trip returns exactly the in-memory results
    val inMem = graft.ops.Similarity.ivfInt8TopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 3, 8, 2)
      .collect().map(_.toString).sorted.toSeq
    assert(search.collect().map(_.toString).sorted.toSeq == inMem)
  }

  test("index append is crash-safe: manifest flip isolates readers, orphans are swept") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_commit_scalespec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 137), "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    def manifest(): Seq[String] =
      scala.io.Source.fromFile(s"$path/_COMMIT").getLines().toSeq
    def liveFiles(m: Seq[String]): Set[String] =
      m.collect { case l if l.startsWith("f ") => l.drop(2) }.toSet
    def search() = graft.ops.Similarity.openIvfSearcher(
      spark, path, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    val m0 = manifest()
    assert(liveFiles(m0).nonEmpty, "build must commit a manifest of its files")
    val before = search()
    // a CRASHED append leaves uncommitted part files behind: plant one per
    // partition dir (a byte copy under an unlisted name) — readers go through
    // the manifest, so the index must answer exactly as before
    val dirs = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cent_id=")).toSeq
    dirs.foreach { d =>
      val part = d.listFiles().filter(_.getName.contains("part-")).head
      java.nio.file.Files.copy(part.toPath,
        d.toPath.resolve(s"part-orphan-${d.getName.hashCode}.parquet"))
    }
    assert(search() == before, "uncommitted files must be invisible to readers")
    // the real append: flips the manifest, sweeps the orphans it found in the
    // partitions it touched, and keeps the files it replaced as grace
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" >= 137), "vec_id", "embedding", path)
    val m1 = manifest()
    val touched = dirs.map(_.getName).filter { d =>
      liveFiles(m1).exists(f => f.startsWith(d + "/") && !liveFiles(m0).contains(f))
    }
    assert(touched.nonEmpty)
    touched.foreach { d =>
      val orphans = new java.io.File(s"$path/lists/$d").listFiles()
        .filter(_.getName.startsWith("part-orphan-"))
      assert(orphans.isEmpty, s"append must sweep crashed-append orphans in $d")
    }
    // grace window: every file of the PREVIOUS commit is still on disk, so a
    // reader that resolved the old manifest right before the flip still reads
    // a complete, consistent index
    liveFiles(m0).foreach { f =>
      assert(new java.io.File(s"$path/lists/$f").exists(),
        s"replaced file $f must survive one commit for in-flight readers")
    }
    val expired = m1.collect { case l if l.startsWith("x ") => l.drop(2) }
    assert(expired.toSet == liveFiles(m0).filter(f => touched.exists(d => f.startsWith(d + "/"))),
      "the new manifest must record exactly the replaced files as expired")
    // the NEXT append closes the grace window
    val afterFirst = search()
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" >= 130 && $"vec_id" < 137), "vec_id", "embedding", path)
    expired.foreach { f =>
      assert(!new java.io.File(s"$path/lists/$f").exists(),
        s"expired file $f must be deleted by the following commit")
    }
    assert(search().nonEmpty && afterFirst.nonEmpty)
  }

  test("index rebuild rides the manifest protocol; vacuum sweeps only unreferenced files") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_rebuild_scalespec"
    val fresh = s"${SparkTest.scratchRoot}/graft_ivf_rebuild_fresh"
    Seq(path, fresh).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    def manifest(): Seq[String] =
      scala.io.Source.fromFile(s"$path/_COMMIT").getLines().toSeq
    def liveFiles(m: Seq[String]) = m.collect { case l if l.startsWith("f ") => l.drop(2) }
    def cdir(m: Seq[String]) =
      m.collectFirst { case l if l.startsWith("c ") => l.drop(2) }.get
    def search(p: String) = graft.ops.Similarity.openIvfSearcher(
      spark, p, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 137), "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" >= 137 && $"vec_id" < 300), "vec_id", "embedding", path)
    val m1 = manifest()
    assert(cdir(m1) == "centroids", "appends must not move the centroid sidecar")
    // REBUILD in place over the full corpus with a different geometry
    graft.ops.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", path, 16, graft.ops.IvfCodec.Int8)
    val m2 = manifest()
    assert(cdir(m2) == "centroids_v2", s"rebuild must version the sidecar, got ${cdir(m2)}")
    // the ENTIRE previous version is the grace window: old lists files and
    // the old sidecar are still on disk for a reader that resolved m1
    liveFiles(m1).foreach(f => assert(new java.io.File(s"$path/lists/$f").exists(),
      s"pre-rebuild file $f must survive one commit"))
    assert(new java.io.File(s"$path/${cdir(m1)}").exists())
    // and the rebuilt index answers exactly like a fresh build (same params)
    graft.ops.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", fresh, 16, graft.ops.IvfCodec.Int8)
    assert(search(path) == search(fresh) && search(path).nonEmpty)
    // the next commit closes the rebuild's grace window
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" === 0).withColumn("vec_id", lit(900000L)),
      "vec_id", "embedding", path)
    assert(!new java.io.File(s"$path/${cdir(m1)}").exists(),
      "the replaced sidecar must be deleted by the following commit")
    // vacuum: an unreferenced orphan goes, referenced files stay, answers too
    val dir = new java.io.File(s"$path/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cent_id=")).head
    val part = dir.listFiles().filter(_.getName.contains("part-")).head
    val orphan = dir.toPath.resolve("part-orphan-vacuum.parquet")
    java.nio.file.Files.copy(part.toPath, orphan)
    val s0 = search(path)
    graft.ops.Similarity.vacuumIvfIndex(spark, path)
    assert(!orphan.toFile.exists(), "vacuum must delete the unreferenced file")
    assert(search(path) == s0, "vacuum must not change answers")
  }

  test("index append equals full rebuild and rewrites only touched partitions") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = s"${SparkTest.scratchRoot}/graft_ivf_full_scalespec"
    val inc = s"${SparkTest.scratchRoot}/graft_ivf_inc_scalespec"
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", full, 8, graft.ops.IvfCodec.Int8)
    // base on an ODD split boundary (ids 0..7 still inside, so the stored
    // centroids equal the full build's smallest-id init)
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 137), "vec_id", "embedding", inc, 8, graft.ops.IvfCodec.Int8)
    // record per-partition file state before the append
    def fileState(dir: String): Map[String, Set[(String, Long)]] =
      new java.io.File(s"$dir/lists").listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.contains("part-"))
          .map(f => (f.getName, f.lastModified())).toSet)
        .toMap
    val before = fileState(inc)
    val batch = emb.filter($"vec_id" >= 137)
    graft.ops.Similarity.appendIvfIndex(
      spark, batch, "vec_id", "embedding", inc)
    val after = fileState(inc)
    val rewritten = after.keySet.filter(p => before.get(p) != Some(after(p)))
    assert(rewritten.nonEmpty, "the append must rewrite at least one partition")
    // appended index answers exactly like the full-corpus build
    val got = graft.ops.Similarity.openIvfSearcher(
      spark, inc, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    val expected = graft.ops.Similarity.openIvfSearcher(
      spark, full, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected && got.nonEmpty)
    // with 8 centroids and a 363-vector batch it is overwhelmingly likely
    // every list was touched — the untouched-kept check is meaningful when
    // the batch is small, so run one more tiny append and verify via the
    // manifest: exactly one partition may gain new data files (the raw dir
    // listing also shrinks where the grace-window prune deleted the PREVIOUS
    // append's replaced files — metadata deletes, not data I/O)
    def liveFiles(): Set[String] =
      scala.io.Source.fromFile(s"$inc/_COMMIT").getLines()
        .collect { case l if l.startsWith("f ") => l.drop(2) }.toSet
    val live2 = liveFiles()
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" === 0).withColumn("vec_id", lit(100000L)),
      "vec_id", "embedding", inc)
    val gained = (liveFiles() -- live2).map(_.takeWhile(_ != '/'))
    assert(gained.size == 1,
      s"a 1-vector append must write new files in exactly one partition, got $gained")
  }

  test("index writer fence: an interleaved second writer fails loudly, never clobbers") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_fence_scalespec"
    val twin = s"${SparkTest.scratchRoot}/graft_ivf_fence_twin"
    Seq(path, twin).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    def version(p: String): Long =
      scala.io.Source.fromFile(s"$p/_COMMIT").getLines()
        .collectFirst { case l if l.startsWith("v ") => l.drop(2).toLong }.get
    def search(p: String) = graft.ops.Similarity.openIvfSearcher(
      spark, p, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    val base = emb.filter($"vec_id" < 137)
    val batchA = emb.filter($"vec_id" >= 137 && $"vec_id" < 200)
    val batchB = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    graft.ops.Similarity.writeIvfIndex(
      base, "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    assert(version(path) == 0L)
    // writer A appends batchA, but a REAL second append (batchB) runs and
    // commits inside A's write-to-flip window: A's flip must trip the fence
    val ex = intercept[graft.streaming.Commit.ConcurrentWriteException] {
      graft.streaming.Commit.interleaved(graft.ops.Similarity.appendIvfIndex(
          spark, batchB, "vec_id", "embedding", path)) {
        graft.ops.Similarity.appendIvfIndex(spark, batchA, "vec_id", "embedding", path)
      }
    }
    assert(ex.getMessage.contains("concurrent writer"))
    assert(version(path) == 1L, "the interleaved winner's commit must stay live")
    // the surviving index answers exactly as base ∪ batchB appended cleanly
    graft.ops.Similarity.writeIvfIndex(
      base, "vec_id", "embedding", twin, 8, graft.ops.IvfCodec.Int8)
    graft.ops.Similarity.appendIvfIndex(spark, batchB, "vec_id", "embedding", twin)
    assert(search(path) == search(twin) && search(path).nonEmpty,
      "the loser's discarded work must not corrupt the winner's commit")
    // and the loser's orphans are invisible to readers + swept by the next
    // legitimate append (the crash-safety path already pinned above); a
    // fresh retry of A from a new manifest read succeeds
    graft.ops.Similarity.appendIvfIndex(spark, batchA, "vec_id", "embedding", path)
    assert(version(path) == 2L)
    graft.ops.Similarity.appendIvfIndex(spark, batchA, "vec_id", "embedding", twin)
    assert(search(path) == search(twin), "retried append must converge")
  }

  test("vacuum fences against a writer that commits mid-sweep") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_vacfence_scalespec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 137), "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    val ex = intercept[graft.streaming.Commit.ConcurrentWriteException] {
      graft.streaming.Commit.interleaved(graft.ops.Similarity.appendIvfIndex(
          spark, emb.filter($"vec_id" >= 137 && $"vec_id" < 200),
          "vec_id", "embedding", path)) {
        graft.ops.Similarity.vacuumIvfIndex(spark, path)
      }
    }
    assert(ex.getMessage.contains("vacuum"))
    // quiet vacuum still works
    graft.ops.Similarity.vacuumIvfIndex(spark, path)
  }

  test("vacuum stage sweep honors the grace window (live staging spared)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_vacgrace_scalespec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 137), "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    // a FRESH stage dir (a possibly-live writer mid-write) must survive a
    // default-grace vacuum; once older than the grace window it is a crash
    // leftover and is swept
    val stageRoot = new java.io.File(s"$path/stage_testgrace")
    val stageSub = new java.io.File(stageRoot, "cent_id=0")
    assert(stageSub.mkdirs())
    java.nio.file.Files.writeString(
      stageSub.toPath.resolve("part-x.parquet"), "stub")
    graft.ops.Similarity.vacuumIvfIndex(spark, path)
    assert(stageRoot.exists(), "a stage dir younger than the grace window must survive vacuum")
    assert(stageRoot.setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000))
    graft.ops.Similarity.vacuumIvfIndex(spark, path)
    assert(!stageRoot.exists(), "a stage dir older than the grace window must be swept")
  }

  test("a swept staging directory aborts the append instead of committing empty partitions") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_ivf_stagesweep_scalespec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    def version(): Long =
      scala.io.Source.fromFile(s"$path/_COMMIT").getLines()
        .collectFirst { case l if l.startsWith("v ") => l.drop(2).toLong }.get
    def search() = graft.ops.Similarity.openIvfSearcher(
      spark, path, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 137), "vec_id", "embedding", path, 8, graft.ops.IvfCodec.Int8)
    val before = search()
    // an external sweep (e.g. a zero-grace vacuum) eats the staging dir in
    // the window between the staged write and the promote listing: the
    // append must fail LOUDLY — the silent alternative is a manifest whose
    // touched partitions carry no files, dropping the merged-in base rows
    val ex = intercept[java.io.IOException] {
      graft.ops.Similarity.appendIvfIndexImpl(
        spark, emb.filter($"vec_id" >= 137 && $"vec_id" < 200),
        "vec_id", "embedding", path,
        afterStage = () => new java.io.File(path).listFiles()
          .filter(_.getName.startsWith("stage_"))
          .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d)))
    }
    assert(ex.getMessage.contains("aborting the commit"))
    assert(version() == 0L, "the aborted append must not have committed")
    assert(search() == before, "the index must be untouched by the aborted append")
  }

  test("flagship chain stays one fused SQL execution") {
    // the bench's headline shape (Define → Filter → Define → Histo + Count)
    // must keep riding the booking registry as ONE SQL execution — the
    // plan-shape regression guard behind BENCH's flagship rows
    val run = SparkTest.runs(spark) {
      val d = graft.tdf.TDF(Tables.lineitem(spark, "/root/testdata/sf0.001"))
        .Define("z", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .Filter($"z" > 1000.0)
        .Define("z2", $"z" * $"l_quantity")
      val h = d.Histo("z2", 128, 0.0, 6000000.0)
      val c = d.Count()
      h(); c()
      assert(c() > 0)
    }
    assert(run.executions == 1,
      s"flagship Histo+Count chain must be ONE SQL execution, got $run")
  }

  test("retrieval + semantic-dedup ops keep their scale shape") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // semantic dedup: the pairwise stage must be a KEYED join on cent_id —
    // never a cartesian/nested-loop pass over the corpus
    val sem = graft.ops.Similarity.semanticDedup(emb, "vec_id", "embedding",
      0.3, 4, trainIters = 1)
    val semPlan = sem.queryExecution.executedPlan.toString
    assert(!semPlan.contains("CartesianProduct"),
      s"semanticDedup pair stage must join on cent_id:\n$semPlan")
    // bm25: query-side joins broadcast (corpus side never reshuffles for
    // the query terms), no cartesian anywhere; top-k is a rank window
    val lex = graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text",
      docs.filter($"doc_id" < 3), "doc_id", "text", 10, excludeSelf = true)
    val lexPlan = lex.queryExecution.executedPlan.toString
    assert(lexPlan.contains("BroadcastHashJoin"),
      s"bm25 query joins must broadcast:\n$lexPlan")
    assert(!lexPlan.contains("CartesianProduct"),
      s"bm25 must not plan a cartesian:\n$lexPlan")
    // the corpus is tokenized ONCE: the only Generate/doc-scan in the
    // scoring plan is the query side; tf/dl/df all read the shared
    // checkpointed (doc, term) frame (r10 shape re-tokenized the corpus
    // per consumer — 3 scans + 3 token-stream shuffles)
    assert("Generate explode".r.findAllIn(lexPlan).size == 1,
      s"bm25 must tokenize the corpus once (checkpointed tf):\n$lexPlan")
    assert("documents.parquet".r.findAllIn(lexPlan).size <= 1,
      s"bm25 scoring must scan documents only for the query side:\n$lexPlan")
    // PMI top-k: per-partition heaps, never a global sort
    val pmi = graft.ops.TextOps.pmiCollocations(docs, "text", 2L, 20)
    assert(pmi.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "pmiCollocations must plan TakeOrderedAndProject")
  }

  test("dynamic partition pruning fires on the partitioned star join") {
    // the 100 TB fact-table pattern: facts laid out by a partition column,
    // dim-side filters reaching the fact SCAN at runtime through DPP — the
    // partitioned layout only pays off if Spark actually prunes
    val dir = s"${SparkTest.scratchRoot}/graft_dpp_test"
    (0L until 2000L).map(i => (i, s"g${i % 8}", i % 13))
      .toDF("id", "grp", "v")
      .write.mode("overwrite").partitionBy("grp").parquet(dir)
    val facts = spark.read.parquet(dir)
    // the dim must be a real source with a surviving Filter node — a local
    // relation constant-folds the predicate away and DPP's selective-
    // predicate heuristic never sees it
    val dimDir = s"${SparkTest.scratchRoot}/graft_dpp_dim"
    Seq(("g3", "keep"), ("g5", "keep"), ("g6", "drop"), ("g7", "drop"))
      .toDF("grp", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === "keep")
    val joined = facts.join(dim, Seq("grp")).agg(sum($"v").as("s"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$plan")
    assert(joined.as[Long].head() ==
      (0L until 2000L).filter(i => i % 8 == 3 || i % 8 == 5).map(_ % 13).sum)
  }

  test("round-11 ops keep their scale shape: weighted sample one shuffle, overlap score scan-level") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    // weighted priority sample: partial WindowGroupLimit prunes map-side,
    // exactly one group-keyed shuffle — the sampleGroupK discipline with a
    // weight-biased key
    val ws = graft.ops.Splits.sampleWeighted(docs, "source", "doc_id", "n_chars", 5)
    val wsPlan = ws.queryExecution.executedPlan.toString
    assert(wsPlan.contains("WindowGroupLimit"),
      s"sampleWeighted must prune via WindowGroupLimit:\n$wsPlan")
    assert("Exchange hashpartitioning".r.findAllIn(wsPlan).size == 1,
      s"sampleWeighted must shuffle the group key exactly once:\n$wsPlan")
    // contamination overlap (r19 shape): per-row work must not scale with
    // the held-out set — corpus grams explode and probe a BROADCAST hash of
    // the distinct held grams, then a doc-keyed count. Exactly two hash
    // exchanges: the (tiny) held-side gram distinct and the doc-keyed
    // count, which shuffles only post-partial-agg (doc_id, n_grams, sum)
    // rows — the corpus text never crosses an exchange.
    val held = docs.filter($"doc_id" % 97 === 0)
    val ov = graft.ops.Decontam.overlapScores(
      docs.filter($"doc_id" % 97 =!= 0), "doc_id", "text", held, "text", 5, 0.1)
    val ovPlan = ov.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ovPlan).size == 2,
      s"overlapScores must shuffle only the held gram distinct + the doc-keyed count:\n$ovPlan")
    assert(ovPlan.contains("BroadcastExchange"),
      s"overlapScores must broadcast the held gram set:\n$ovPlan")
    assert(ovPlan.contains("partial_sum"),
      s"overlapScores' doc-keyed count must partial-aggregate before its exchange:\n$ovPlan")
    assert(!ovPlan.contains("array_intersect"),
      s"overlapScores must probe the broadcast hash, not rebuild a set per row:\n$ovPlan")
    // ensemble filter: two signal chains, ONE corpus scan, no join
    val ens = graft.queries.PipelineQueries.queries("q_filter_ensemble")(
      spark, dir)
    val ensPlan = ens.queryExecution.executedPlan.toString
    assert("documents.parquet".r.findAllIn(ensPlan).size == 1,
      s"ensemble filter must scan the corpus once:\n$ensPlan")
    assert(!ensPlan.contains("Join"),
      s"ensemble filter must chain signals, not join them:\n$ensPlan")
  }

  test("wave-4 ops keep their scale shape: lag features one shuffle, triangles equi-joined") {
    val dir = "/root/testdata/sf0.001"
    // lag features: every window shares the (user_id; ts, event_id)
    // partitioning + ordering, so all lags and the rolling frame ride ONE
    // user_id exchange (the final presentation sort is a range exchange)
    val lf = graft.queries.FeatureQueries.queries("q_lag_features")(spark, dir)
    val lfPlan = lf.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(lfPlan).size == 1,
      s"lag features must shuffle user_id exactly once:\n$lfPlan")
    // triangles: the oriented forward algorithm is pure equi-joins on edge
    // endpoints — a cartesian/nested-loop anywhere means the orientation or
    // the join keys were lost
    val tri = graft.queries.FeatureQueries.queries("q_graph_triangles")(spark, dir)
    val triPlan = tri.queryExecution.executedPlan.toString
    assert(!triPlan.contains("CartesianProduct") &&
      !triPlan.contains("BroadcastNestedLoopJoin"),
      s"triangle counting must stay equi-joined:\n$triPlan")
    // per-dim scaling stats: one explode + one dim-keyed aggregate — the
    // only hash exchange is the 64-group agg
    val fs = graft.queries.FeatureQueries.queries("q_feature_scale")(spark, dir)
    val fsPlan = fs.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(fsPlan).size == 1,
      s"feature scaling must aggregate through one dim-keyed exchange:\n$fsPlan")
    // edit-distance near-dup: the Levenshtein DP must sit above the
    // pair-sized candidate join, never on a corpus x corpus product
    val ed = graft.queries.PipelineQueries.queries("q_dedup_edit")(spark, dir)
    val edPlan = ed.queryExecution.executedPlan.toString
    assert(!edPlan.contains("CartesianProduct") &&
      !edPlan.contains("BroadcastNestedLoopJoin"),
      s"edit-distance dedup must verify candidates only:\n$edPlan")
  }

  test("TPC-H shapes keep their scan discipline: Q19 implied conjuncts pushed, Q18 broadcast-back") {
    val dir = "/root/testdata/sf0.001"
    // Q19: the hand-derived implied conjuncts must reach BOTH scans as
    // PushedFilters — brand IN on part, the quantity bound on lineitem
    val dj = graft.queries.FeatureQueries.queries("q_tpch_disjunct")(spark, dir)
    val djPlan = dj.queryExecution.executedPlan.toString
    assert(djPlan.contains("PushedFilters") && djPlan.contains("p_brand") &&
      djPlan.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      s"Q19 implied conjuncts must reach the scans:\n$djPlan")
    // Q18: the HAVING-qualified keyset is tiny — it must come back onto
    // orders as a broadcast join, not a second fact-sized shuffle
    val bo = graft.queries.FeatureQueries.queries("q_tpch_bigorders")(spark, dir)
    val boPlan = bo.queryExecution.executedPlan.toString
    assert(boPlan.contains("BroadcastHashJoin"),
      s"Q18 keyset must broadcast back onto the detail side:\n$boPlan")
  }

  test("wave-9 ops keep their scale shape: Q5 dims broadcast, containment equi-joined, cov one agg exchange") {
    val dir = "/root/testdata/sf0.001"
    // Q5 (cyclic join graph): every dimension side must broadcast — the
    // only shuffle exchanges belong to the orders⋈lineitem equi-join and
    // the final aggregate; and both date filters must reach the orders scan
    val lv = graft.queries.OlapQueries.queries("q_tpch_localvol")(spark, dir)
    val lvPlan = lv.queryExecution.executedPlan.toString
    assert(lvPlan.contains("BroadcastHashJoin") &&
      !lvPlan.contains("CartesianProduct") &&
      !lvPlan.contains("BroadcastNestedLoopJoin"),
      s"Q5 dims must broadcast, no nested-loop anywhere:\n$lvPlan")
    assert(lvPlan.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"Q5 date filters must reach the orders scan:\n$lvPlan")
    // containment join: candidates must come from the token equi-join —
    // a cartesian/nested-loop means the one-sided prefix filter was lost
    val cj = graft.ops.Dedup.containmentJoin(
      graft.Tables.documents(spark, dir), "doc_id", "text", 3, 80)
    val cjPlan = cj.queryExecution.executedPlan.toString
    assert(!cjPlan.contains("CartesianProduct") &&
      !cjPlan.contains("BroadcastNestedLoopJoin"),
      s"containment join must stay equi-joined on prefix tokens:\n$cjPlan")
    // embedding covariance: the dim-pair moment fold is ONE hash aggregate
    // exchange on (i, j) — the self-join on vec_id rides the explode's
    // existing distribution (broadcast or co-partitioned), never a
    // corpus-sized extra shuffle chain
    val cov = graft.queries.ExtQueries.queries("q_embed_cov")(spark, dir)
    val covPlan = cov.queryExecution.executedPlan.toString
    assert(!covPlan.contains("CartesianProduct"),
      s"covariance self-join must stay keyed on vec_id:\n$covPlan")
    assert("Exchange hashpartitioning".r.findAllIn(covPlan).size <= 3,
      s"covariance must not grow an extra shuffle chain:\n$covPlan")
    // PCA power iteration: after the moment aggregate, the iteration is
    // METRIC-sized — its final plan must read checkpointed dim²-frames,
    // never rescan the embeddings source
    val pca = graft.queries.ExtQueries.queries("q_embed_pca")(spark, dir)
    val pcaPlan = pca.queryExecution.executedPlan.toString
    assert(!pcaPlan.contains("embeddings.parquet"),
      s"PCA iteration must not rescan the corpus (lineage not truncated):\n$pcaPlan")
  }

  test("PCA driver solve equals the retired in-plan power iteration bit-for-bit") {
    // r19 moved the power rounds / Rayleigh / deflation onto the driver
    // (the moment aggregate is the only thing that touches data). This
    // reproduces the retired DataFrame form verbatim on sf0.001 and
    // asserts both gates' rows are identical doubles.
    val dir = "/root/testdata/sf0.001"
    def covFrame: org.apache.spark.sql.DataFrame = {
      val e = graft.Tables.embeddings(spark, dir)
        .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
        .select($"vec_id", $"i", round($"x".cast("double") * 1e6).cast("long").as("x6"))
      val mUp = e.join(e.select($"vec_id", $"i".as("j"), $"x6".as("y6")), Seq("vec_id"))
        .filter($"j" >= $"i")
        .groupBy($"i", $"j")
        .agg(count(lit(1)).as("n"), sum($"x6").as("sx"), sum($"y6").as("sy"),
          sum($"x6" * $"y6").as("sxy"))
        .select($"i", $"j",
          round(graft.functions.ExactProducts.prodDiffDouble($"n", $"sxy", $"sx", $"sy")
            / ($"n".cast("double") * $"n".cast("double") * 1e12), 9).as("c"))
      mUp.unionByName(mUp.filter($"i" =!= $"j").select($"j".as("i"), $"i".as("j"), $"c"))
        .localCheckpoint(true)
    }
    def iterate(cov: org.apache.spark.sql.DataFrame, iters: Int): org.apache.spark.sql.DataFrame = {
      var v = cov.select($"j").distinct()
        .select($"j", when($"j" === 0, lit(1.0)).otherwise(lit(0.0)).as("v"))
      for (_ <- 0 until iters) {
        val w = cov.join(v, Seq("j")).groupBy($"i")
          .agg((sum(round($"c" * $"v" * 1e9).cast("long")).cast("double") / 1e9).as("w"))
        val nrm = w.agg(
          sqrt(sum(round($"w" * $"w" * 1e9).cast("long")).cast("double") / 1e9).as("nrm"))
        v = w.crossJoin(broadcast(nrm))
          .select($"i".as("j"), round($"w" / $"nrm", 6).as("v")).localCheckpoint(true)
      }
      v
    }
    def rayleigh(cov: org.apache.spark.sql.DataFrame, v: org.apache.spark.sql.DataFrame) =
      cov.join(v.select($"j".as("i"), $"v".as("vi")), Seq("i"))
        .join(v.select($"j", $"v".as("vj")), Seq("j"))
        .agg((sum(round($"c" * $"vi" * $"vj" * 1e9).cast("long")).cast("double") / 1e9)
          .as("lambda"))
    val cov = covFrame
    val v1 = iterate(cov, 3)
    val oldPca = v1.crossJoin(broadcast(rayleigh(cov, v1)))
      .select($"j".cast("long").as("dim"), $"v".as("loading"), $"lambda")
      .orderBy($"dim").collect().toSeq
    val newPca = graft.queries.ExtQueries.queries("q_embed_pca")(spark, dir)
      .collect().toSeq
    assert(oldPca == newPca, s"q_embed_pca diverged:\nold=$oldPca\nnew=$newPca")
    val l1 = rayleigh(cov, v1)
    val cov2 = cov
      .join(v1.select($"j".as("i"), $"v".as("__vi")), Seq("i"))
      .join(v1.select($"j", $"v".as("__vj")), Seq("j"))
      .crossJoin(broadcast(l1))
      .select($"i", $"j", round($"c" - $"lambda" * $"__vi" * $"__vj", 9).as("c"))
      .localCheckpoint(true)
    val v2 = iterate(cov2, 3)
    val oldPca2 = v2.crossJoin(broadcast(rayleigh(cov2, v2)))
      .select($"j".cast("long").as("dim"), $"v".as("loading2"), $"lambda".as("lambda2"))
      .orderBy($"dim").collect().toSeq
    val newPca2 = graft.queries.ExtQueries.queries("q_embed_pca2")(spark, dir)
      .collect().toSeq
    assert(oldPca2 == newPca2, s"q_embed_pca2 diverged:\nold=$oldPca2\nnew=$newPca2")
  }

  test("point-in-time feature gates execute through the custom as-of merge") {
    // the feature-store family must ride AsOfJoinExec (one co-partitioned
    // streaming merge, O(1) state), never degrade to a range/nested-loop
    // product — the failure mode a Catalyst change could silently introduce
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q_asof_features", "q_asof_features_window", "q_asof_multikey")) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"),
        s"$name must plan the custom as-of operator:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must never fall back to a per-point product:\n$plan")
    }
    // the last-k serving gate rides the k-deque merge variant: O(k) state
    // per task, never a rank-every-candidate window or a range product
    val lkPlan = graft.SparkEntry.queries("q_asof_lastk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(lkPlan.contains("AsOfLastK"),
      s"q_asof_lastk must plan the k-deque merge operator:\n$lkPlan")
    assert(!lkPlan.contains("WindowExec") && !lkPlan.contains("CartesianProduct") &&
      !lkPlan.contains("BroadcastNestedLoopJoin"),
      s"q_asof_lastk must never rank the full candidate set:\n$lkPlan")
  }

  test("sketch-quantile exact leg never ranks the whole fact table") {
    // the exact-rank lookup must be bucket-bracketed: any row_number window
    // over fact rows has to carry a partition spec (per-percentile, over
    // the ~n/64 bracketing-bucket rows). An unpartitioned row_number here
    // would move every fact row to ONE task — the failure mode this gate's
    // own sketch exists to avoid. The only unpartitioned windows allowed
    // are the cumulative sums over the ≤64-row histogram.
    val q = graft.queries.AnalyticsQueries.queries("q_sketch_quantile")(
      spark, "/root/testdata/sf0.001")
    val wins = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val rn = wins.filter(_.windowExpressions.exists(_.toString.contains("row_number")))
    assert(rn.nonEmpty, "expected the bracketed row_number window in the plan")
    rn.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"row_number over fact rows must be partitioned (bucket-bracketed):\n$w")
    }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.forall(!_.windowExpressions.exists(_.toString.contains("row_number"))),
      "unpartitioned windows must be histogram-sized cumulative sums only")
  }

  test("r13 selection ops keep their scale shape: Gopher + DSIR-stream scan-level, CCNet cuts broadcast") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    // Gopher rules: the whole filter is one scan-level expression chain —
    // no shuffle, no join, single corpus scan
    val gp = graft.ops.Selection.gopherRules(docs, "doc_id", "text",
      20, 1000, 3.0, 4.7, Seq("the", "a"), 2, 0.8, 0.06)
      .queryExecution.executedPlan.toString
    assert(!gp.contains("Exchange"),
      s"gopherRules must be scan-level (no shuffle):\n$gp")
    assert(!gp.contains("Join"), s"gopherRules must not join:\n$gp")
    // streaming DSIR serving: scoring against the literal lr6 artifact is
    // shuffle-free — safe on an unbounded stream by construction
    val lr6 = Array.fill(256)(1L)
    val ds = graft.ops.Selection.dsirScoreStream(docs, "doc_id", "text", lr6, 256)
      .queryExecution.executedPlan.toString
    assert(!ds.contains("Exchange"),
      s"dsirScoreStream must be scan-level (no shuffle):\n$ds")
    // batch serving against a fitted table shares the same scan-level body:
    // after the bounded buckets-row fetch the scoring plan has NO exchange —
    // the r13 explode→join→groupBy scorer is retired
    val bt = graft.ops.Selection.dsirBucketTable(
      docs, "doc_id", "text", org.apache.spark.sql.functions.expr("lang = 'en'"), 64)
    val bs = graft.ops.Selection.dsirScoresAgainst(docs, "doc_id", "text", bt, 64)
      .queryExecution.executedPlan.toString
    assert(!bs.contains("Exchange"),
      s"dsirScoresAgainst must score scan-level (no shuffle):\n$bs")
    // temperature mixture: after the |domains|-row counts job the kept-set
    // filter is pure scan-level (the sampleMixture discipline)
    val tm = graft.ops.Splits.temperatureMixture(docs, "lang", "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(!tm.contains("Exchange"),
      s"temperatureMixture must filter scan-level (no shuffle):\n$tm")
    // CCNet serving: the |langs|-row cutpoint table rides a broadcast, the
    // LM join is the only corpus-keyed exchange family
    val lp = graft.ops.Selection.ccnetLpTable(docs, "doc_id", "text", "lang")
    val cuts = graft.ops.Selection.ccnetCuts(
      graft.ops.Selection.ccnetScore(docs, "doc_id", "text", "lang", lp))
    val as = graft.ops.Selection.ccnetAssign(docs, "doc_id", "text", "lang",
      lp, cuts).queryExecution.executedPlan.toString
    assert(as.contains("BroadcastExchange"),
      s"ccnetAssign must broadcast the cutpoint table:\n$as")
  }
}
