package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, IvfCodec, Multimodal, Similarity, TextOps}
import graft.streaming.{PartitionedSnapshot, Streams}

/** Edge-case and invariance tests for the pipeline operator library. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  test("TextOps.hash32 matches the documented md5 construction") {
    val got = Seq("abc").toDF("s").select(TextOps.hash32($"s")).as[Long].head
    // first 8 hex chars of md5("abc") = "90015098" = 2416005272
    assert(got == 2416005272L)
  }

  test("shingles: short docs yield empty arrays, not garbage") {
    val df = Seq("one two", "a", "", "one two three four").toDF("text")
      .withColumn("toks", TextOps.tokens($"text"))
      .select(TextOps.shingles("toks", 3).as("sh"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got(0).isEmpty && got(1).isEmpty && got(2).isEmpty)
    assert(got(3) == Seq("one two three", "two three four"))
  }

  test("text helpers accept composed Columns and backtick-worthy names") {
    // the old SQL-string-spliced forms parse-errored on a column name with a
    // space and could not take composed expressions at all
    val df = Seq("One Two three four").toDF("weird name")
    val row = df.select(
      TextOps.shingles(TextOps.tokens(lower($"weird name")), 2).as("sh"),
      TextOps.shinglesAll(TextOps.tokens($"weird name"), 3).as("sa"),
      TextOps.charShingles(concat(lower($"weird name"), lit("!")), 17).as("cs"),
      TextOps.bpeishTokens(concat($"weird name", lit(" x9!"))).as("bt")).head
    assert(row.getSeq[String](0) == Seq("one two", "two three", "three four"))
    assert(row.getSeq[String](1) == Seq("One Two three", "Two three four"))
    assert(row.getSeq[String](2).contains("one two three fou"))
    assert(row.getSeq[String](3) == Seq(
      "One", "Two", "three", "four", "x", "9", "!"))
  }

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "dup text"), (2L, "dup text"), (3L, "unique")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text")
      .orderBy($"keeper").select($"keeper", $"n_copies").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("incremental dedup: corpus hit dropped, in-batch dup collapses to min id") {
    val corpus = Dedup.exact(
      Seq((1L, "old news")).toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq(
      (10L, "old news"),   // already in corpus → dropped
      (12L, "fresh"),      // in-batch duplicate pair → one row, keeper = 11
      (11L, "fresh"),
      (13L, "unique")      // admitted as-is
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, "doc_id", "text", corpus)
      .orderBy($"keeper").collect().map(r => r.getLong(1))
    assert(got.toSeq == Seq(11L, 13L))
  }

  test("splits: rejects bad percents, labels are exhaustive and reproducible") {
    val df = (0L until 200L).toDF("id")
    intercept[IllegalArgumentException] {
      graft.ops.Splits.assign(df, "id", Seq("a" -> 60, "b" -> 60))
    }
    val labels = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val a = graft.ops.Splits.assign(df, "id", labels)
    val b = graft.ops.Splits.assign(df.repartition(7), "id", labels)
    // every row gets exactly one of the declared labels, independent of
    // partitioning, and the two assignments agree row-for-row
    val byId = a.select($"id", $"split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.values.toSet.subsetOf(Set("train", "val", "test")) && byId.size == 200)
    b.select($"id", $"split").collect().foreach { r =>
      assert(byId(r.getLong(0)) == r.getString(1))
    }
  }

  test("mixture sampling: proportions track targets, binding domain kept whole") {
    // 400 a / 100 b / 100 c, targets 50/25/25: b and c are binding (n/w =
    // 4 = 4), a (n/w = 8) halves. Binding domains keep ~all rows.
    val df = ((0L until 400L).map(i => (i, "a")) ++
      (400L until 500L).map(i => (i, "b")) ++
      (500L until 600L).map(i => (i, "c"))).toDF("id", "dom")
    val out = graft.ops.Splits.sampleMixture(
      df, "dom", "id", Seq("a" -> 50, "b" -> 25, "c" -> 25))
    val n = out.groupBy($"dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ties on n/w: "b" < "c" lexicographically → b is d*, threshold 1e6 → all kept
    assert(n("b") == 100L, s"binding domain must keep every row, got $n")
    // a's threshold is exactly 500000 ppm; hash-rate realization is binomial
    // around 200 of 400
    assert(n("a") > 150L && n("a") < 250L, s"a should halve, got $n")
    // partition invariance: identical row set at any partitioning
    val ids1 = out.select($"id").collect().map(_.getLong(0)).toSet
    val ids2 = graft.ops.Splits.sampleMixture(
      df.repartition(7), "dom", "id", Seq("a" -> 50, "b" -> 25, "c" -> 25))
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // domains outside the target mix are dropped
    assert(!n.contains("z") && out.filter($"dom" === "z").count() == 0L)
    intercept[IllegalArgumentException] {
      graft.ops.Splits.sampleMixture(df, "dom", "id", Seq("a" -> 50, "zz" -> 50))
    }
  }

  test("token-budget fill: per-shard budgets respected, overshoot ≤ one doc") {
    val df = (0L until 300L).map(i => (i, if (i % 3 == 0) "x" else "y", 10L + i % 7))
      .toDF("id", "dom", "sz")
    val out = graft.ops.Splits.takeTokenBudget(df, "dom", "id", "sz", 103L, 4)
    val rows = out.select($"id", $"dom", $"shard", $"start_off")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // budget 103 over 4 shards: shards 0,1,2 get 26, shard 3 gets 25
    val shardBudget = Map(0L -> 26L, 1L -> 26L, 2L -> 26L, 3L -> 25L)
    rows.foreach { case (id, dom, sh, off) =>
      assert(off < shardBudget(sh), s"doc $id in $dom/$sh starts at $off")
    }
    // every selected doc's start is below budget AND the selection is the
    // complete hash-order prefix: re-derive and compare exactly
    val sizes = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def h(id: Long) = graft.ops.TextOps.hash32Local(id.toString)
    val expect = sizes.groupBy { case (id, dom, _) => (dom, h(id) % 4) }
      .flatMap { case ((dom, sh), docs) =>
        val sorted = docs.sortBy { case (id, _, _) => (h(id), id) }
        val offs = sorted.scanLeft(0L) { case (acc, (_, _, sz)) => acc + sz }
        sorted.zip(offs).collect {
          case ((id, d, _), off) if off < shardBudget(sh) => (id, d, sh, off)
        }
      }.toSet
    assert(rows.toSet == expect, "selection must equal the local re-derivation")
  }

  test("minhash: identical docs share full signature; jaccard 1.0 via LSH") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, "doc_id", "text", 8, 3)
    val cands = Dedup.lshCandidates(sig, "doc_id", 8, 4)
    val verified = Dedup.jaccardVerify(cands, df, "doc_id", "text", 3)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSeq
    assert(verified == Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical docs get distance 0; pairs found via banding") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sim = Dedup.simhash32(df, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sim, "doc_id", 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("cosine: orthogonal → 0, identical → 1") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .select($"neighbor_id", $"cos_sim").as[(Long, Double)].collect().toSeq
    assert(top == Seq((3L, 1.0), (2L, 0.0)))
  }

  test("hyperplane bucket is deterministic across sessions/partitions") {
    val df = Seq((1L, (0 until 64).map(_.toFloat)), (2L, (0 until 64).map(i => (63 - i).toFloat)))
      .toDF("vec_id", "embedding")
    val b1 = df.repartition(1).select(Similarity.hyperplaneBucket(
      Similarity.asDouble($"embedding"), 6, 64)).as[Long].collect().toSeq
    val b8 = df.repartition(8).select(Similarity.hyperplaneBucket(
      Similarity.asDouble($"embedding"), 6, 64)).as[Long].collect().toSeq
    assert(b1.sorted == b8.sorted)
  }

  test("IVF top-k: probed lists contain the true neighbor; partition-invariant") {
    // clusters around 3 well-separated directions in R^4; centroids = 4
    // smallest ids (one per cluster + one extra), nprobe=2
    def v(base: Seq[Double], eps: Double) = base.map(x => (x + eps).toFloat)
    val df = Seq(
      (0L, v(Seq(10, 0, 0, 0), 0)), (1L, v(Seq(0, 10, 0, 0), 0)),
      (2L, v(Seq(0, 0, 10, 0), 0)), (3L, v(Seq(10, 0, 0, 0), 0.2)),
      (10L, v(Seq(10, 0, 0, 0), 0.1)), (11L, v(Seq(0, 10, 0, 0), 0.1)),
      (12L, v(Seq(0, 0, 10, 0), 0.1))
    ).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(df, df.filter($"vec_id" >= 10), "vec_id", "embedding",
      k = 1, nCents = 4, nprobe = 2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    // each query's rank-1 must come from its own cluster's inverted list
    // (clusters are orthogonal, so any cross-cluster candidate has cos ≈ 0)
    assert(Set(0L, 3L).contains(got(10L)), s"query 10 got ${got(10L)}")
    assert(got(11L) == 1L && got(12L) == 2L)
    val p1 = Similarity.ivfTopK(df.repartition(1), df.filter($"vec_id" >= 10),
      "vec_id", "embedding", 1, 4, 2).collect().map(_.toString).sorted.toSeq
    val p8 = Similarity.ivfTopK(df.repartition(8), df.filter($"vec_id" >= 10),
      "vec_id", "embedding", 1, 4, 2).collect().map(_.toString).sorted.toSeq
    assert(p1 == p8)
  }

  test("Lloyd centroids: deterministic across partitioning, move toward cluster means") {
    def v(base: Seq[Double], eps: Double) = base.map(x => (x + eps).toFloat)
    val df = Seq(
      (0L, v(Seq(10, 0, 0, 0), 0)), (1L, v(Seq(0, 10, 0, 0), 0)),
      (3L, v(Seq(10, 0, 0, 0), 0.4)), (4L, v(Seq(10, 0, 0, 0), 0.8)),
      (11L, v(Seq(0, 10, 0, 0), 0.6)), (12L, v(Seq(0, 10, 0, 0), 0.2))
    ).toDF("vec_id", "embedding")
    def base(d: org.apache.spark.sql.DataFrame) =
      d.select($"vec_id".as("id"), Similarity.asDouble($"embedding").as("__v"))
    val c1 = Similarity.lloydCentroids(base(df.repartition(1)), 2, 2)
    val c8 = Similarity.lloydCentroids(base(df.repartition(8)), 2, 2)
    assert(c1 == c8, "training must be partition-invariant (rounded means)")
    // centroid 0 pulls toward the mean of the x-cluster {0,3,4}: first dim
    // becomes the rounded average of 10, 10.4, 10.8
    val cmap = c1.toMap
    assert(math.abs(cmap(0L).head - 10.4) < 1e-6, s"got ${cmap(0L)}")
    assert(math.abs(cmap(1L)(1) - 10.266667) < 1e-6, s"got ${cmap(1L)}")
  }

  test("TopCentroids kernel bit-identical to literal-struct IVF; trainSample samples") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 10)
    def run(kernel: Boolean, iters: Int) =
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", 3, 8, 2,
        trainIters = iters, assignKernel = kernel)
        .collect().map(_.toString).sorted.toSeq
    // same results whether assignment/probing is literal structs or the
    // broadcast-matrix kernel — rounded cosine + id tiebreaks on both paths
    assert(run(kernel = true, 0) == run(kernel = false, 0))
    assert(run(kernel = true, 1) == run(kernel = false, 1))
    // sampled training (the 100 TB pattern): centroids learned on a hash
    // sample, index + search still cover the FULL corpus
    val sampled = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 3, 4, 2,
      trainIters = 1, trainSample = 0.5, assignKernel = true)
    assert(sampled.select($"query_id").distinct().count() ==
      q.count(), "every query must still get results from the full-corpus index")
    // the quantized path carries the same knobs with the same guarantees
    def runI8(kernel: Boolean) =
      Similarity.ivfInt8TopK(emb, q, "vec_id", "embedding", 3, 8, 2,
        trainIters = 1, assignKernel = kernel)
        .collect().map(_.toString).sorted.toSeq
    assert(runI8(kernel = true) == runI8(kernel = false))
  }

  test("int8 quantization: codes in [-127,127], zero vector safe, err <= scale/2") {
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector must not divide by zero
      (3L, Seq(-3.0f, 3.0f, 1.5f, -1.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .orderBy($"vec_id").collect()
    // row 1: scale = 1/127; codes = (127, -64, 32, 0) -> sum 95
    assert(got(0).getAs[Long]("q_sum") == 95L)
    // zero vector: scale 0, all-zero codes, zero error
    assert(got(1).getAs[Double]("scale") == 0.0 &&
      got(1).getAs[Long]("q_sum") == 0L && got(1).getAs[Double]("max_err") == 0.0)
    // row 3: symmetric values hit the rails exactly -> sum 0, zero error
    assert(got(2).getAs[Long]("q_sum") == 0L)
    // quantization error bound: half a step
    got.foreach { r =>
      assert(r.getAs[Double]("max_err") <= r.getAs[Double]("scale") / 2 + 1e-9,
        s"vec ${r.getLong(0)}: err ${r.getAs[Double]("max_err")} > scale/2")
    }
  }

  test("streaming dedup equals batch DISTINCT (watermark-evicted key state)") {
    val got = Streams.streamingDedup(spark, "/root/testdata/sf0.001",
      Seq("user_id", "event_type"), "3650 days")
      .as[(Long, String)].collect().toSet
    val expected = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(got == expected)
  }

  test("streaming near-dup dedup equals batch signature-DISTINCT") {
    val dir = "/root/testdata/sf0.001"
    val got = Streams.streamingNearDupDedup(spark, dir, 16, 3, "3650 days")
      .as[String].collect().toSet
    val sig = graft.ops.Dedup.minhashSignatures(
      Tables.documents(spark, dir), "doc_id", "text", 16, 3)
    val expected = sig.select(concat_ws("_",
      (0 until 16).map(i => $"mh_$i"): _*).as("sig"))
      .distinct().as[String].collect().toSet
    assert(got == expected && got.nonEmpty)
    // band-keyed (aggressive) variant: first doc per band-1 bucket survives —
    // the emitted set is batch DISTINCT of that band's key
    val gotBand = Streams.streamingNearDupDedup(spark, dir, 16, 3, "3650 days",
      band = Some((1, 4))).as[String].collect().toSet
    val expBand = sig.select(concat_ws("_",
      (4 until 8).map(i => $"mh_$i"): _*).as("sig"))
      .distinct().as[String].collect().toSet
    assert(gotBand == expBand && gotBand.size <= got.size)
    // out-of-range band bounds are rejected up front (an empty slice would
    // key every doc on "" and silently collapse the stream to one row)
    intercept[IllegalArgumentException] {
      Streams.streamingNearDupDedup(spark, dir, 16, 3, "3650 days",
        band = Some((4, 4))) // (4+1)*4 = 20 > k = 16
    }
    intercept[IllegalArgumentException] {
      Streams.streamingNearDupDedup(spark, dir, 16, 3, "3650 days",
        band = Some((-1, 4)))
    }
  }

  test("streamingReadmit with an all-violating strict rule commits a zero-row v1") {
    // every event fails strict (value < -1 is impossible), so NO promoted
    // batch dir is ever written — v1 must be an empty snapshot with the
    // event schema, and v2 must hold exactly the relaxed-rule survivors as
    // readmissions (admitted_v = 2), not throw on the missing directory
    import graft.ops.Expectations._
    val dir = "/root/testdata/sf0.001"
    val out = graft.Tables.scratch("test_readmit_empty", dir)
    val got = Streams.streamingReadmit(spark, dir, out,
      strict = Seq(InRange("value", -10, -1)),
      relaxed = Seq(InRange("value", 0, 40)))
    assert(got.filter($"admitted_v" === 1L).count() == 0)
    val expected = graft.Tables.events(spark, dir)
      .filter($"value" >= 0.0 && $"value" <= 40.0).count()
    assert(got.filter($"admitted_v" === 2L).count() == expected)
  }

  test("streaming decontamination equals batch clean() (stream-static, stateless)") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val held = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val got = graft.streaming.Streams.streamingDecontaminate(
      spark, dir, held, "text", 5, docPredicate = $"doc_id" % 97 =!= 0)
      .as[Long].collect().toSet
    val expected = graft.ops.Decontam.clean(corpus, "doc_id", "text", held, "text", 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == expected && got.nonEmpty)
    assert(got.size < corpus.count(), "some docs must actually be filtered")
  }

  test("streaming ANN search equals the batch search over the same query set") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val idx = s"${SparkTest.scratchRoot}/graft_stream_ann_opsspec_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx, 8, IvfCodec.Int8)
    val qs = emb.filter($"vec_id" < 20)
    val streamed = Streams.streamingAnnSearch(
      qs, idx, s"${SparkTest.scratchRoot}/graft_stream_ann_opsspec_out", "vec_id", "embedding", 3, 2,
      batches = 4)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ops.Similarity.openIvfSearcher(
      spark, idx, "vec_id", "embedding", 3, 2)(qs)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("opened searcher (fit/serve split) serves repeated batches identically to the one-shot API") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val idx = s"${SparkTest.scratchRoot}/graft_open_searcher_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx, 8, IvfCodec.Int8)
    // the r20 serving split: the static side (manifest, list frame,
    // centroid sidecar) is resolved ONCE; the returned closure must give
    // a fresh opener's exact rows for EVERY batch it serves
    val serve = graft.ops.Similarity.openIvfSearcher(
      spark, idx, "vec_id", "embedding", 3, 2)
    Seq(emb.filter($"vec_id" < 10), emb.filter($"vec_id" >= 10 && $"vec_id" < 20))
      .foreach { batch =>
        val got = serve(batch).collect().map(_.toString).sorted.toSeq
        val expected = graft.ops.Similarity.openIvfSearcher(
          spark, idx, "vec_id", "embedding", 3, 2)(batch)
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected && got.nonEmpty)
      }
  }

  test("Transitions.foldBatch endpoint aggregation equals the retired window form") {
    import graft.ops.Transitions
    // a state row that carries (user 1), one that closes a boundary pair
    // (user 2), and a batch-only user (3); user 2's batch has 3 events so
    // first != last
    val state = Seq((2L, "view"), (1L, "click")).toDF("user_id", "attr")
    val batch = Seq(
      (2L, 100L, 1L, "click"), (2L, 50L, 2L, "purchase"), (2L, 100L, 3L, "view"),
      (3L, 10L, 4L, "view"))
      .toDF("user_id", "us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
    val (delta, ns) = Transitions.foldBatch(state, batch, "user_id", "ts",
      "event_id", "event_type")
    // retired model: row_number/max windows over (ts, event_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ranked = batch
      .withColumn("__rn", row_number().over(w))
      .withColumn("__mx", max($"__rn").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")))
    val firstsM = ranked.filter($"__rn" === 1)
      .select($"user_id", $"event_type".as("__first"))
    val boundaryM = state.join(firstsM, Seq("user_id"))
      .groupBy($"attr".as("from_event"), $"__first".as("to_event"))
      .agg(count(lit(1)).as("n"))
    val deltaM = Transitions.batchCounts(batch, "user_id", "ts", "event_id",
      "event_type").unionByName(boundaryM)
    val lastsM = ranked.filter($"__rn" === $"__mx")
      .select($"user_id", $"event_type".as("attr"))
    val nsM = state.join(ranked.select($"user_id").distinct(),
      Seq("user_id"), "left_anti").unionByName(lastsM)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(delta) == rows(deltaM) && rows(delta).nonEmpty)
    assert(rows(ns) == rows(nsM))
    // the carried row (user 1) and the batch-only last (user 3) both land
    assert(rows(ns).exists(_.contains("[1,click]")))
    assert(rows(ns).exists(_.contains("[3,view]")))
  }

  test("streaming ANN sink is retry-idempotent: replaying a batch id adds no rows") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val idx = s"${SparkTest.scratchRoot}/graft_sann_idem_idx"
    val out = s"${SparkTest.scratchRoot}/graft_sann_idem_out"
    Seq(idx, out).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx, 8, IvfCodec.Int8)
    val sink = Streams.annBatchSink(idx, out, "vec_id", "embedding", 3, 2) _
    val b0 = emb.filter($"vec_id" < 10).toDF()
    sink(b0, 0L)
    val once = spark.read.option("basePath", out).parquet(out).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(once.nonEmpty)
    // a failed micro-batch is re-executed with the SAME batch id: the retry
    // must replace its previous attempt, not append a duplicate
    sink(b0, 0L)
    val retried = spark.read.option("basePath", out).parquet(out).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(retried == once, "replayed batch id must not duplicate rows")
    // a NEW batch id still appends its own results
    sink(emb.filter($"vec_id" >= 10 && $"vec_id" < 15).toDF(), 1L)
    val two = spark.read.option("basePath", out).parquet(out).drop("batch")
    assert(two.count() > once.size)
    // and empty batches write nothing (trivially idempotent)
    sink(emb.filter($"vec_id" < 0).toDF(), 2L)
    assert(!new java.io.File(s"$out/batch=2").exists())
  }

  test("streaming ANN search over an empty query set returns the search schema, empty") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val idx = s"${SparkTest.scratchRoot}/graft_sann_empty_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx, 8, IvfCodec.Int8)
    val got = Streams.streamingAnnSearch(
      emb.filter($"vec_id" < 0), idx, s"${SparkTest.scratchRoot}/graft_sann_empty_out",
      "vec_id", "embedding", 3, 2, batches = 2)
    val expected = graft.ops.Similarity.openIvfSearcher(
      spark, idx, "vec_id", "embedding", 3, 2)(emb.limit(0))
    assert(got.schema.fieldNames.toSeq == expected.schema.fieldNames.toSeq)
    assert(got.count() == 0)
  }

  test("streaming semantic dedup equals batch semanticDedup; step is retry-idempotent") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val got = Streams.streamingSemanticDedup(
      spark, dir, s"${SparkTest.scratchRoot}/graft_ssem_spec", minCos = 0.3, nCents = 4,
      trainIters = 1, batches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = graft.ops.Similarity.semanticDedup(
      emb, "vec_id", "embedding", 0.3, 4, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty,
      s"streamed kept set must equal batch semanticDedup (${got.size} vs ${expected.size})")

    // retry-idempotence of the step: re-delivering a batch whose ids are
    // already in the owner state commits the same owners and the same kept
    val base = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("__v"))
      .withColumn("cent_id", $"id" % 2)
    val b1 = base.filter($"id" < 20)
    val (k1, o1) = graft.ops.Similarity.semanticDedupStep(
      base.limit(0), b1, 0.3, maxBucket = 8)
    val (k2, o2) = graft.ops.Similarity.semanticDedupStep(o1, b1, 0.3, maxBucket = 8)
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").collect().map(_.getLong(0)).toSet
    assert(setOf(o1) == setOf(o2), "replayed step must commit the same owners")
    assert(setOf(k1) == setOf(k2), "replayed step must keep the same rows")
  }

  test("random projection is scan-level, deterministic, matches a local dot") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val proj = graft.ops.Similarity.randomProject(emb, "vec_id", "embedding", 8, 64)
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"projection must be pure scan-level (zero shuffle):\n$plan")
    assert(!plan.contains("UDF"), "projection must stay codegen'd, no UDF")
    // golden pin: p0 of one vector equals the driver-side fold over the
    // same deterministic matrix row
    val row = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head.getSeq[Double](0)
    val p0row = graft.ops.Similarity.projPlane(0, 64)
    val expected = BigDecimal(
      row.zip(p0row).map { case (a, b) => a * b }.sum * math.sqrt(3.0 / 8))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = proj.filter($"vec_id" === 0).select($"p0").head.getDouble(0)
    assert(math.abs(got - expected) < 1e-9, s"got $got expected $expected")
    // distinct seed family: projection row 0 is not the LSH hyperplane 0
    assert(graft.ops.Similarity.projPlane(0, 64) != graft.ops.Similarity.plane(0, 64))
  }

  test("PQ-ADC search is partition-invariant; codes and distances well-formed") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(df: org.apache.spark.sql.DataFrame) = graft.ops.Similarity.pqTopK(
      df, df.filter($"vec_id" < 10), "vec_id", "embedding", 5, 4, 16, 64)
      .collect().map(_.toString).sorted.toSeq
    val a = run(emb)
    // training means are rounded to 6 decimals, so codebooks (and therefore
    // codes + rankings) survive a different partitioning
    val b = run(emb.repartition(7))
    assert(a == b && a.nonEmpty, "PQ ranking must be partition-invariant")
    val rows = graft.ops.Similarity.pqTopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 5, 4, 16, 64)
      .collect()
    assert(rows.forall(_.getAs[Double]("adist") >= -1e-9),
      "squared distances must be non-negative")
    assert(rows.map(r => (r.getLong(0), r.getInt(3))).distinct.length == rows.length,
      "one rank per (query, rank) slot")
    // the codebook is genuinely small: m * nCodes * sub doubles
    val books = graft.ops.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", 4, 16, 64, 1)
    assert(books.length == 4 && books.forall(_.length == 16) &&
      books.forall(_.forall(_._2.length == 16)))
  }

  test("vocab tokenizer: greedy longest-match, space-skipping, hand-pinned") {
    def count(vocab: Seq[String], texts: String*): Seq[Long] =
      texts.toDF("t").select(
        graft.functions.VocabExprs.vocabTokenCount($"t", vocab).as("n"))
        .as[Long].collect().toSeq
    // "aabcab": a | ab | c(fallback) | ab  -> 4 ("ab" wins over "a" at pos 1)
    // "a b": two tokens, space skipped; "": zero; "  ": zero
    assert(count(Seq("ab", "a", "bc"), "aabcab", "a b", "", "  ") ==
      Seq(4L, 2L, 0L, 0L))
    // longest match is not first match: "abc" must consume "abc", not "ab"+"c"
    assert(count(Seq("ab", "abc"), "abc") == Seq(1L))
    // the real vocabulary segments corpus words into subwords: "customer"
    // = cust|omer (2), "query" = qu|ery (2), "window" = win|dow (2)
    assert(count(graft.ops.TextOps.tokenizerVocab, "customer query window") ==
      Seq(6L))
    // and the gate shape: counts are positive and bounded by chars
    val got = graft.ops.TextOps.withVocabTokenCount(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .collect()
    assert(got.nonEmpty && got.forall { r =>
      val (c, t) = (r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens_vocab"))
      t > 0 && t <= c
    })
  }

  test("int16 quantization error is far below int8's; f16 index search is deterministic") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e8 = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select($"vec_id", $"max_err".as("e8"))
    val e16 = Similarity.quantizeInt16(emb, "vec_id", "embedding")
      .select($"vec_id", $"max_err".as("e16"))
    val j = e8.join(e16, "vec_id").collect()
    assert(j.nonEmpty && j.forall(r => r.getAs[Double]("e16") <= r.getAs[Double]("e8")),
      "the 2-byte codes must never dequantize worse than the 1-byte codes")
    val ratios = j.map(r =>
      r.getAs[Double]("e8") / math.max(r.getAs[Double]("e16"), 1e-12)).sorted
    assert(ratios(ratios.length / 2) > 50,
      s"median error ratio should reflect ~256x finer codes, got ${ratios(ratios.length / 2)}")
    // build/search round-trip is deterministic (the gate pins values; this
    // pins that two searches of the same stored index agree exactly)
    val path = s"${SparkTest.scratchRoot}/graft_f16_opsspec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, IvfCodec.Int16)
    def search() = Similarity.openIvfSearcher(
      spark, path, "vec_id", "embedding", 3, 2)(emb.filter($"vec_id" < 10))
      .collect().map(_.toString).sorted.toSeq
    val s1 = search()
    assert(s1 == search() && s1.nonEmpty)
    // appends ride the shared protocol and are searchable
    Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" === 0).withColumn("vec_id", lit(900000L)),
      "vec_id", "embedding", path)
    val all = Similarity.openIvfSearcher(
      spark, path, "vec_id", "embedding", 100000, 8)(emb.filter($"vec_id" < 10))
      .select($"neighbor_id").as[Long].collect().toSet
    assert(all.contains(900000L), "appended vector must be searchable")
  }

  test("PQ training costs one job per Lloyd iteration, independent of m") {
    // the m subspaces are independent column slices of one scan, so training
    // must run ONE assignment+means job per iteration for ALL subspaces —
    // not m sequential jobs (at production iters x m that is the whole
    // training bill). AQE off in a dedicated session (it splits one action
    // into per-stage jobs); a job group isolates the count from concurrent
    // suites; the one init collect happens in-group for both runs alike.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val emb = graft.Tables.embeddings(s2, "/root/testdata/sf0.001")
      .localCheckpoint(true)
    def jobsFor(m: Int): Int = {
      val group = s"graft_pq_jobs_${m}_${System.nanoTime()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (group == js.properties.getProperty("spark.jobGroup.id") &&
              !js.stageInfos.forall(_.name.contains("withThreadLocalCaptured"))) {
            jobs.incrementAndGet()
            ()
          }
      }
      s2.sparkContext.addSparkListener(listener)
      try {
        s2.sparkContext.setJobGroup(group, "pq training job count")
        graft.ops.Similarity.pqCodebooks(emb, "vec_id", "embedding", m, 16, 64, 2)
        s2.sparkContext.clearJobGroup()
        var last = -1
        var cur = jobs.get()
        while (cur != last) { Thread.sleep(200); last = cur; cur = jobs.get() }
        cur
      } finally s2.sparkContext.removeSparkListener(listener)
    }
    val j2 = jobsFor(2)
    val j4 = jobsFor(4)
    assert(j4 == j2,
      s"training job count must not grow with m: m=2 took $j2 jobs, m=4 took $j4")
    assert(j4 <= 1 + 2 + 1,
      s"expected <= init + one job per iteration (+1 slack), saw $j4")
  }

  test("IVF+PQ: candidates only from probed lists; partition-invariant") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(df: org.apache.spark.sql.DataFrame) = graft.ops.Similarity.ivfPqTopK(
      df, df.filter($"vec_id" < 10), "vec_id", "embedding", 5, 8, 2, 4, 16, 64)
      .collect().map(_.toString).sorted.toSeq
    val a = run(emb)
    assert(a == run(emb.repartition(5)) && a.nonEmpty)
    // the coarse stage must be the SAME routing as plain IVF: every IVF+PQ
    // result pair appears among the probed-list candidates the cosine IVF
    // search sees with identical geometry (huge k = the full candidate set)
    val ivfPairs = graft.ops.Similarity.ivfTopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 100000, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRows = graft.ops.Similarity.ivfPqTopK(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", 5, 8, 2, 4, 16, 64)
      .collect()
    assert(pqRows.forall(r => ivfPairs.contains((r.getLong(0), r.getLong(1)))),
      "IVF+PQ must rank within exactly the lists the coarse stage probes")
  }

  test("persisted PQ index: round-trip equals in-memory; appends searchable; DPP fires") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_pq_index_opsspec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    graft.ops.Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", path, 8, IvfCodec.Pq(4, 16, 64))
    val qs = emb.filter($"vec_id" < 10)
    val search = graft.ops.Similarity.openIvfSearcher(
      spark, path, "vec_id", "embedding", 5, 2)(qs)
    // the stored index answers exactly like the in-memory composition
    val inMem = graft.ops.Similarity.ivfPqTopK(
      emb, qs, "vec_id", "embedding", 5, 8, 2, 4, 16, 64, trainIters = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(search.collect().map(_.toString).sorted.toSeq == inMem && inMem.nonEmpty)
    // probes meet only their list partitions: dynamic pruning on cent_id
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"PQ list scan must carry dynamic partition pruning:\n$plan")
    // an appended batch is encoded with the STORED geometry and searchable
    val base = s"${SparkTest.scratchRoot}/graft_pq_append_opsspec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    graft.ops.Similarity.writeIvfIndex(
      emb.filter($"vec_id" < 300), "vec_id", "embedding", base, 8, IvfCodec.Pq(4, 16, 64))
    graft.ops.Similarity.appendIvfIndex(
      spark, emb.filter($"vec_id" >= 300), "vec_id", "embedding", base)
    val all = graft.ops.Similarity.openIvfSearcher(
      spark, base, "vec_id", "embedding", 100000, 8)(qs)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(all.exists(_ >= 300), "appended vectors must be searchable")
    assert(all.size == emb.count() - 1 ||
      all.size >= emb.count() - 10, // anchor caps can trim oversized lists
      s"full-probe search must see the merged corpus, got ${all.size}")
    // vacuum is index-type-agnostic: sweeping the PQ index changes nothing
    val before = graft.ops.Similarity.openIvfSearcher(
      spark, base, "vec_id", "embedding", 5, 2)(qs)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Similarity.vacuumIvfIndex(spark, base)
    val after = graft.ops.Similarity.openIvfSearcher(
      spark, base, "vec_id", "embedding", 5, 2)(qs)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "vacuum must not change PQ index answers")
    // consistency: with nprobe = nCents every list is probed, so the IVF+PQ
    // composition must rank exactly like flat PQ over the full corpus
    // (coarse routing only partitions the candidates, never reorders them)
    val flat = graft.ops.Similarity.pqTopK(
      emb, qs, "vec_id", "embedding", 5, 4, 16, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    val routed = graft.ops.Similarity.ivfPqTopK(
      emb, qs, "vec_id", "embedding", 5, 8, 8, 4, 16, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).sorted.toSeq
    assert(routed == flat,
      "full-probe IVF+PQ must equal flat PQ (routing partitions, never reorders)")
  }

  test("set-probe caches are LRU-bounded; one broadcast per distinct set content") {
    import graft.functions.{AnyInBroadcastSet, SetProbeExprs}
    val probe = Seq(("a", Seq("x", "y"))).toDF("id", "grams")
    // cycling many DISTINCT held-out sets must not retain them all: the
    // executor-side built sets and the driver-side broadcasts both stay
    // within the LRU bound instead of growing with every set ever seen
    (0 until 3 * AnyInBroadcastSet.MaxCachedSets).foreach { i =>
      val c = SetProbeExprs.anyInSet(spark, $"grams", Seq(s"g$i", s"h$i"))
      assert(probe.filter(c).count() == 0)
    }
    assert(AnyInBroadcastSet.cachedCount <= AnyInBroadcastSet.MaxCachedSets,
      s"executor set cache must stay bounded, got ${AnyInBroadcastSet.cachedCount}")
    assert(SetProbeExprs.broadcastCacheCount <= AnyInBroadcastSet.MaxCachedSets,
      s"driver broadcast cache must stay bounded, got ${SetProbeExprs.broadcastCacheCount}")
    // repeated probes of the SAME set reuse one broadcast: the cache count
    // is unchanged after many calls with identical content
    val before = SetProbeExprs.broadcastCacheCount
    (0 until 5).foreach { _ =>
      val c = SetProbeExprs.anyInSet(spark, $"grams", Seq("x", "zzz"))
      assert(probe.filter(c).count() == 1)
    }
    assert(SetProbeExprs.broadcastCacheCount <= before + 1,
      "identical set content must reuse its broadcast, not ship a new one per call")
  }

  test("snapshot retention keeps a configurable number of previous versions") {
    val out = s"${SparkTest.scratchRoot}/graft_snapshot_retain_test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    val a = Seq((0, 1L)).toDF("bin", "n")
    (0L to 2L).foreach(v => Streams.commitSnapshot(a, out, v, retain = 2))
    // a reader that resolved v_0 and then stalled through TWO commits still
    // reads a complete snapshot — the configured reader contract
    assert(spark.read.parquet(s"$out/v_0").count() == 1)
    Streams.commitSnapshot(a, out, 3L, retain = 2)
    assert(!new java.io.File(s"$out/v_0").exists(),
      "versions beyond the retention window must be pruned")
    assert(new java.io.File(s"$out/v_1").exists() && new java.io.File(s"$out/v_2").exists())
    intercept[IllegalArgumentException] {
      Streams.commitSnapshot(a, out, 4L, retain = 0)
    }
    // time travel: any retained version is addressable; pruned ones throw
    assert(Streams.readSnapshot(spark, out, Some(1L)).count() == 1)
    assert(Streams.readSnapshot(spark, out).count() == 1) // latest still default
    intercept[IllegalArgumentException] {
      Streams.readSnapshot(spark, out, Some(0L))
    }
  }

  test("snapshot sink: pointer flip keeps readers on complete versions only") {
    val out = s"${SparkTest.scratchRoot}/graft_snapshot_sink_test"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    def readSet() = Streams.readSnapshot(spark, out)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val a = Seq((0, 1L), (1, 2L)).toDF("bin", "n")
    val b = Seq((0, 5L), (1, 6L), (2, 7L)).toDF("bin", "n")
    Streams.commitSnapshot(a, out, 0L)
    assert(readSet() == Set((0, 1L), (1, 2L)))
    Streams.commitSnapshot(b, out, 1L)
    assert(readSet() == Set((0, 5L), (1, 6L), (2, 7L)))
    // previous version survives one commit as the reader grace window
    assert(new java.io.File(s"$out/v_0").exists())
    // a partially-written future version is invisible until its own flip —
    // the racing reader still resolves the committed v_1
    new java.io.File(s"$out/v_2").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/v_2/part-partial.parquet"), Array[Byte](1, 2, 3))
    assert(readSet() == Set((0, 5L), (1, 6L), (2, 7L)))
    // the next commit publishes v_2 and prunes v_0 (v_1 kept as grace)
    Streams.commitSnapshot(b.withColumn("n", $"n" + 1), out, 2L)
    assert(readSet() == Set((0, 6L), (1, 7L), (2, 8L)))
    assert(!new java.io.File(s"$out/v_0").exists())
    assert(new java.io.File(s"$out/v_1").exists())
  }

  test("TopCentroids equality is structural (canonicalization / CSE holds)") {
    import org.apache.spark.sql.graftbridge.{GraftSql => EU}
    val cents = Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.3, 0.4)))
    val v = col("v")
    // two instances built from distinct (but equal) collections: case-class
    // equality over Array fields would compare by reference and never match
    val e1 = EU.expression(graft.functions.CentroidExprs.topCentroids(v, cents, 1))
    val e2 = EU.expression(graft.functions.CentroidExprs.topCentroids(
      v, cents.map { case (c, vv) => (c, vv.map(identity)) }, 1))
    assert(e1 == e2, "structurally identical TopCentroids must be equal")
    assert(e1.hashCode == e2.hashCode)
    assert(e1.semanticEquals(e2))
    val e3 = EU.expression(graft.functions.CentroidExprs.topCentroids(
      v, Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.3, 0.5))), 1))
    assert(e1 != e3, "different matrices must not compare equal")
  }

  test("sessionize splits on gap and sums cents exactly") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val df = Seq(
      (7L, ts(0), 1.10, 1L), (7L, ts(10), 2.20, 2L), // session 1
      (7L, ts(41), 0.70, 3L),                        // > 30 min gap → session 2
      (8L, ts(5), 5.00, 4L)
    ).toDF("user_id", "ts", "value", "event_id")
    val got = Streams.sessionize(df, 30)
      .orderBy($"user_id", $"session_start")
      .select($"user_id", $"n_events", $"sum_cents").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 2L, 330L), (7L, 1L, 70L), (8L, 1L, 500L)))
  }

  test("sessionize boundary: exactly-gap is same session, gap+1µs splits") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val exact = new java.sql.Timestamp(t0.getTime + 30 * 60000L)
    val over = new java.sql.Timestamp(t0.getTime + 30 * 60000L)
    over.setNanos(1000) // +1µs
    val same = Seq((1L, t0, 1.0, 1L), (1L, exact, 1.0, 2L)).toDF("user_id", "ts", "value", "event_id")
    val split = Seq((1L, t0, 1.0, 1L), (1L, over, 1.0, 2L)).toDF("user_id", "ts", "value", "event_id")
    assert(Streams.sessionize(same, 30).count() == 1)
    assert(Streams.sessionize(split, 30).count() == 2)
  }

  test("bloom-prefiltered join: exact vs plain join, codegen'd probe in plan") {
    // parquet-backed inputs: over a LocalRelation the optimizer would
    // evaluate the bloom filter eagerly and leave nothing to assert on
    val dir = "/root/testdata/sf0.001"
    val probe = graft.Tables.lineitem(spark, dir)
    val build = graft.Tables.orders(spark, dir)
      .filter($"o_totalprice" > 400000.0).select($"o_orderkey")
    val plain = probe.join(build, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber").collect().map(_.toString).sorted.toSeq
    val bloomed = graft.ops.Joins.bloomPrefiltered(
      probe, build, "l_orderkey", "o_orderkey", 10000L, 0.03)
      .select($"l_orderkey", $"l_linenumber")
    assert(bloomed.collect().map(_.toString).sorted.toSeq == plain)
    val plan = bloomed.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("bloommightcontain") || plan.contains("graftbloom"),
      s"bloom probe must appear in the physical plan:\n$plan")
  }

  test("bucketized range join equals naive range join, no nested-loop plan") {
    val points = (0 until 1000).map(i => (i.toLong, i * 0.37)).toDF("pid", "p")
    val ranges = (0 until 50).map(i => (i.toLong, i * 5.0, i * 5.0 + 12.0))
      .toDF("rid", "lo", "hi")
    val naive = points.join(ranges, $"p" >= $"lo" && $"p" <= $"hi")
      .select($"pid", $"rid").collect().map(_.toString).sorted.toSeq
    val bucketed = graft.ops.Joins.rangeBucketed(points, ranges, "p", "lo", "hi", 5.0)
      .select($"pid", $"rid")
    assert(bucketed.collect().map(_.toString).sorted.toSeq == naive)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must be an equi-join on buckets:\n$plan")
    // and the naive formulation IS the nested-loop plan being avoided
    assert(points.join(ranges, $"p" >= $"lo" && $"p" <= $"hi")
      .queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("range join drops null-bounded ranges exactly like a plain range join") {
    val points = Seq((1L, 5.0), (2L, 25.0)).toDF("pid", "p")
    val ranges = Seq((1L, Some(0.0), Some(10.0)), (2L, None, Some(30.0)),
      (3L, Some(20.0), None)).toDF("rid", "lo", "hi")
    val naive = points.join(ranges, $"p" >= $"lo" && $"p" <= $"hi")
      .select($"pid", $"rid").collect().map(_.toString).sorted.toSeq
    val bucketed = graft.ops.Joins.rangeBucketed(points, ranges, "p", "lo", "hi", 5.0)
      .select($"pid", $"rid").collect().map(_.toString).sorted.toSeq
    assert(bucketed == naive && naive == Seq("[1,1]"))
  }

  test("bloom-prefiltered join resolves same-named key columns") {
    val dir = "/root/testdata/sf0.001"
    val probe = graft.Tables.lineitem(spark, dir)
      .select($"l_orderkey".as("k"), $"l_linenumber")
    val build = graft.Tables.orders(spark, dir)
      .filter($"o_totalprice" > 400000.0).select($"o_orderkey".as("k"))
    val got = graft.ops.Joins.bloomPrefiltered(probe, build, "k", "k", 10000L, 0.03)
    assert(got.count() ==
      probe.join(build.withColumnRenamed("k", "bk"), $"k" === $"bk").count())
    // duplicate build-side key is dropped, so a downstream select(key) is
    // unambiguous (it used to throw AnalysisException)
    assert(got.columns.count(_ == "k") == 1)
    assert(got.select($"k").distinct().count() ==
      probe.join(build.withColumnRenamed("k", "bk"), $"k" === $"bk")
        .select($"k").distinct().count())
  }

  test("minhash/simhash kernels skip null elements (public-API hardening)") {
    import graft.functions.TextHashExprs
    val df = Seq(
      (1L, Seq[String]("a", "b", "c")),
      (2L, Seq[String]("a", null, "b", "c", null)), // nulls interleaved
      (3L, Seq[String](null, null)),                // only nulls
      (4L, Seq.empty[String])                       // empty
    ).toDF("id", "toks")
    val a = Seq(3L, 5L); val b = Seq(7L, 11L)
    val out = df.select($"id",
      TextHashExprs.minhashSig($"toks", a, b).as("mh"),
      TextHashExprs.simhash($"toks").as("sh"))
      .orderBy($"id").collect()
    // nulls skipped → same signature as the null-free twin
    assert(out(0).getSeq[Long](1) == out(1).getSeq[Long](1))
    assert(out(0).getLong(2) == out(1).getLong(2))
    // all-null behaves like empty: null signature, null simhash
    Seq(2, 3).foreach { i =>
      assert(out(i).isNullAt(1) && out(i).isNullAt(2),
        s"row ${out(i).getLong(0)}: no non-null element must yield null")
    }
  }

  test("decontamination builds a lazy plan: no cached blocks, no InMemoryRelation") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val held = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val flags = graft.ops.Decontam.flags(corpus, "doc_id", "text", held, "text", 5)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "flags() must not persist at construction time")
    assert(flags.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "flags() must not leak cached blocks across materializations")
    assert(!flags.queryExecution.executedPlan.toString.contains("InMemoryRelation"))
  }

  test("typed Foreach coerces representable args even when a sibling arg is opaque") {
    // old behavior: ONE underivable argument type dropped the coercion for
    // EVERY column, so the Int column bound to the Double parameter CCE'd
    val acc = spark.sparkContext.doubleAccumulator("mixed-coerce")
    val df = Seq((1, "a"), (2, "b")).toDF("i", "s")
    graft.tdf.TDF(df).Foreach((x: Double, y: Any) => acc.add(x + y.toString.length),
      Seq("i", "s"))
    assert(acc.value == 5.0)
  }

  test("range join rejects runaway ranges; typed Foreach rejects lossy narrowing") {
    val points = Seq((1L, 5.0)).toDF("pid", "p")
    val bad = Seq((1L, 0.0, 1e12)).toDF("rid", "lo", "hi")
    val e = intercept[Exception] {
      graft.ops.Joins.rangeBucketed(points, bad, "p", "lo", "hi", 1.0).count()
    }
    assert(e.getMessage.contains("rangeBucketed") ||
      Option(e.getCause).exists(_.getMessage.contains("rangeBucketed")))
    // Double column into an Int lambda: analysis-time failure, not silent
    // per-row truncation
    val df = Seq((1.5, 1L)).toDF("d", "k")
    intercept[Exception] {
      graft.tdf.TDF(df).Foreach((x: Int) => { val _ = x }, Seq("d"))
    }
    // widening still coerces
    val acc = spark.sparkContext.doubleAccumulator("widen")
    graft.tdf.TDF(Seq((3, 1L)).toDF("i", "k")).Foreach((x: Double) => acc.add(x), Seq("i"))
    assert(acc.value == 3.0)
  }

  test("LSH band join is skew-guarded: identical-doc cluster stays O(cap·m)") {
    // 1000 identical docs land in ONE band bucket per band; unguarded pairs
    // would be m(m-1)/2 = 499500. With anchors capped at 8 smallest ids the
    // candidate set is exactly sum_{i=0..7} (999-i) = 7964, and every doc
    // still pairs with an anchor (cluster stays connected for CC).
    val m = 1000
    val docs = (0 until m).map(i => (i.toLong, "spark spark spark streams data"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
    val cands = Dedup.lshCandidates(sig, "doc_id", 16, 4, maxBucket = 8)
    assert(cands.count() == (0 until 8).map(i => m - 1 - i).sum)
    // every non-anchor doc is linked (reachable for connected components)
    assert(cands.select("id_b").distinct().count() == (m - 1).toLong)
    // uncapped semantics unchanged for healthy buckets: tiny corpus, cap huge
    val few = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val sigF = Dedup.minhashSignatures(few, "doc_id", "text", 16, 3)
    val full = Dedup.lshCandidates(sigF, "doc_id", 16, 4, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.lshCandidates(sigF, "doc_id", 16, 4, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == capped && full.contains((1L, 2L)))
  }

  test("streaming watermark drops late data: a too-late event neither merges nor reopens a session") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    val stage = SparkTest.tempDir("graft_late_test")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeFile(idx: Int, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val tmp = stage.resolve(s"_tmp$idx")
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.map(r => org.apache.spark.sql.Row(r._1, r._2))).asJava, schema)
        .coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dst = stage.resolve(f"f$idx%02d.parquet")
      java.nio.file.Files.move(part, dst)
      // strictly increasing mtimes → FileStreamSource processes in this order
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + idx * 60000L))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    // batch0: user 1's real session + a marker that advances the watermark
    writeFile(0, Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")),
      (88L, ts("2024-01-01 23:00:00"))))
    // batch1: marker only — user 1's session is emitted AND its state evicted
    // here. (Eviction is the load-bearing step: a late row arriving while the
    // session state is still live legally MERGES — Spark's watermark contract
    // only guarantees drops after eviction.)
    writeFile(1, Seq((88L, ts("2024-01-01 23:30:00"))))
    // batch2: the LATE user-1 event, far behind the watermark, state evicted
    // → must be dropped, not opened as a new session
    writeFile(2, Seq((1L, ts("2024-01-01 10:02:00")), (88L, ts("2024-01-02 00:30:00"))))
    // batch3+4: flush sentinels
    writeFile(3, Seq((99L, ts("2024-01-02 23:00:00"))))
    writeFile(4, Seq((99L, ts("2024-01-03 23:00:00"))))
    val nm = s"graft_late_${System.nanoTime()}"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("s"), $"n")
      .writeStream.outputMode("append").format("memory").queryName(nm).start()
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table(nm).filter($"user_id" === 1L).collect()
    // exactly ONE session of TWO events: the late event was dropped — had it
    // been admitted it would either merge (n=3) or open a second session
    assert(u1.length == 1 && u1(0).getAs[Long]("n") == 2L,
      s"late event must be dropped, got: ${u1.mkString(", ")}")
  }

  test("sessionize plan is fully declarative (no per-group materialization)") {
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, 1L))
      .toDF("user_id", "ts", "value", "event_id")
    val plan = Streams.sessionize(df, 30).queryExecution.optimizedPlan.toString
    assert(!plan.contains("MapGroups"), s"group materialization node in plan:\n$plan")
    assert(!plan.contains("DeserializeToObject"), "object fold in plan")
  }

  test("multimodal feature extraction: bytes, sha256, mean") {
    val df = Seq((5L, "ab", 2L)).toDF("doc_id", "text", "n_chars")
    val f = Multimodal.extractFeatures(
      Multimodal.attachBinary(df, "doc_id", "text"), "doc_id").collect()(0)
    assert(f.n_bytes == 2L && f.sum_bytes == ('a'.toInt + 'b'.toInt))
    assert(f.sha256 == "fb8e20fc2e4c3f248c60c39bd652f3c1347298bb977b8b4d5903b85055620603")
    assert(f.mean_byte == (97 + 98) / 2.0)
  }

  test("multimodal decoder seam: a custom decoder flows through unchanged") {
    // injection law: wrapping the stub must change ONLY what the wrapper
    // changes — same rows, same ids, plumbing untouched. open() must run
    // once per task (the codec-init contract).
    val opened = spark.sparkContext.longAccumulator("opened")
    val shifted = new Multimodal.MediaDecoder {
      override def open(): Unit = opened.add(1)
      def decode(id: Long, bytes: Array[Byte]): Multimodal.MediaFeature = {
        val f = Multimodal.StubDecoder.decode(id, bytes)
        f.copy(sum_bytes = f.sum_bytes + 1)
      }
    }
    val df = Seq((1L, "abc", 3L), (2L, "wxyz", 4L), (3L, "", 0L))
      .toDF("doc_id", "text", "n_chars").repartition(2)
    val media = Multimodal.attachBinary(df, "doc_id", "text")
    val stub = Multimodal.extractFeatures(media, "doc_id")
      .collect().map(f => f.doc_id -> f).toMap
    val custom = Multimodal.extractFeatures(media, "doc_id", shifted)
      .collect().map(f => f.doc_id -> f).toMap
    assert(custom.keySet == stub.keySet)
    custom.foreach { case (id, f) =>
      assert(f == stub(id).copy(sum_bytes = stub(id).sum_bytes + 1),
        s"doc $id: custom decode must differ from stub only in the wrapped field")
    }
    assert(opened.value >= 1 && opened.value <= 2,
      s"open() must run once per task with rows, got ${opened.value}")

    // frame seam: a custom frame digest rides the same fan-out — identical
    // (doc, frame_idx) set, only the digest column re-derived
    val defFrames = Multimodal.sampleFrames(media, "doc_id", 2, 1, 3)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f.frame_md5).toMap
    val hexLen = Multimodal.sampleFrames(media, "doc_id", 2, 1, 3,
        frameDigest = b => b.map(x => f"${x & 0xFF}%02x").mkString)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f.frame_md5).toMap
    assert(hexLen.keySet == defFrames.keySet)
    assert(hexLen((1L, 0L)) == "6162") // bytes "ab" hex-dumped, not hashed
  }

  test("connected components: chain collapses to one label, isolates keep own") {
    // chain 1-2-3-4 plus pair 10-11: components {1,2,3,4} and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components converge in O(log n) rounds on a chain graph") {
    // a 256-link chain has diameter 256: min-label propagation would need
    // ~256 shuffle rounds; large-star/small-star contracts it in ~log n
    val n = 256
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, maxIter = 20)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n + 1 && got.values.forall(_ == 0L),
      s"all ${n + 1} chain nodes must label 0, got ${got.filter(_._2 != 0L).take(5)}")
    assert(rounds <= 12, s"chain of ${n + 1} must converge in <= 12 rounds, took $rounds")
    // shuffled ids (descending chain) — min is at the far end
    val rev = (0 until n).map(i => ((n - i).toLong, (n - i - 1).toLong)).toDF("id_a", "id_b")
    val (labels2, rounds2) = Dedup.connectedComponentsWithRounds(rev, maxIter = 20)
    assert(labels2.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(rounds2 <= 12, s"reverse chain took $rounds2 rounds")
  }

  test("CC convergence detection costs two jobs per round") {
    // the star-forest convergence read must piggyback on the round's own
    // materialization: one job for the large phase's checkpoint, one job
    // that materializes the small phase AND aggregates convergence — not
    // the old count + anti-join comparisons (4+ extra jobs per round).
    // A dedicated session pins AQE off locally (AQE splits one action into
    // per-stage jobs, which would count planner mechanics, not actions);
    // a job group isolates the count from concurrently-running suites.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    val pairs = (0 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
      .localCheckpoint(true) // source materialization happens out-of-group
    val group = s"graft_cc_jobs_${System.nanoTime()}"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == js.properties.getProperty("spark.jobGroup.id") &&
            // broadcast-exchange builds are sub-steps of the phase joins
            // (they predate this change and scale with the plan, not with
            // convergence detection) — count ACTIONS, not their sub-jobs.
            // Builds surface as CompletableFuture jobs through
            // SQLExecution.withThreadLocalCaptured; real actions carry the
            // Dedup.scala call sites in their stage names.
            !js.stageInfos.forall(_.name.contains("withThreadLocalCaptured"))) {
          jobs.incrementAndGet()
          descs.add(s"${js.jobId}: ${js.stageInfos.map(_.name).mkString(";")}")
          ()
        }
    }
    s2.sparkContext.addSparkListener(listener)
    try {
      s2.sparkContext.setJobGroup(group, "cc job count")
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, maxIter = 20)
      s2.sparkContext.clearJobGroup()
      // listener delivery is async — poll until the count is stable
      var last = -1
      var cur = jobs.get()
      while (cur != last) { Thread.sleep(200); last = cur; cur = jobs.get() }
      assert(rounds >= 2, s"a 65-node chain should take several rounds, took $rounds")
      assert(cur <= 1 + 2 * rounds + 1,
        s"expected <= 2 jobs/round (+1 initial checkpoint, +1 slack), saw $cur jobs in $rounds rounds:\n" +
          descs.toArray.mkString("\n"))
      assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    } finally s2.sparkContext.removeSparkListener(listener)
  }

  test("recall@k: full overlap 1.0, disjoint 0.0, absent queries still emitted") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("query_id", "neighbor_id")
    // q1: perfect; q2: one of three; q3: approx found nothing (empty lists)
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 21L), (2L, 98L), (2L, 99L)).toDF("query_id", "neighbor_id")
    val got = graft.ops.Similarity.recallAtK(approx, exact, 3)
      .orderBy($"query_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 3L, 1.0), (2L, 1L, 0.333333), (3L, 0L, 0.0)))
  }

  test("bigramLogProb: conditional math exact, <2-token docs drop") {
    // corpus: "a b" ×2, "a c" ×1, "x" (no bigram) → n(a)=3, n(a b)=2, n(a c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLogProb(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def lp(n2: Long, n1: Long) =
      math.round(math.log10(n2.toDouble / n1.toDouble) * 1e6) / 1e6
    // doc 1,2: p(b|a)=2/3; doc 3: p(c|a)=1/3; doc 4 has no bigrams → absent
    assert(got == Seq((1L, 1L, lp(2, 3)), (2L, 1L, lp(2, 3)), (3L, 1L, lp(1, 3))))
  }

  test("filtered ANN: predicate pushed into the list scan, top-k among matching rows") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_test_filtered_idx"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, IvfCodec.Int8,
      attrCols = Seq("label"))
    val got = Similarity.openIvfSearcher(spark, path,
      "vec_id", "embedding", 3, 2, listFilter = Some($"label" === 7))(emb.filter($"vec_id" < 5))
    // every neighbor actually has the filtered label
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => labels(r.getLong(1)) == 7))
    // the predicate reaches the parquet reader, not a post-scan filter only
    val plan = got.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined, plan)
    // append takes the payload columns from the committed lists and merges
    // by NAME; the appended row is findable through the filter
    val extra = emb.filter($"vec_id" === 0)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", lit(7).as("label"))
    Similarity.appendIvfIndex(spark, extra, "vec_id", "embedding", path)
    val after = Similarity.openIvfSearcher(spark, path, "vec_id", "embedding", 1, 2,
      listFilter = Some($"label" === 7))(emb.filter($"vec_id" === 0))
    // vec 10000 is a copy of query vec 0 with label 7 → cosine 1.0, rank 1
    assert(after.collect().head.getLong(1) == 10000L)
  }

  test("filtered PQ ANN: predicate pushed into the compressed list scan too") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_test_pq_filtered_idx"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, IvfCodec.Pq(4, 16, 64),
      attrCols = Seq("label"))
    val got = Similarity.openIvfSearcher(spark, path,
      "vec_id", "embedding", 3, 2, listFilter = Some($"label" === 7))(emb.filter($"vec_id" < 5))
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => labels(r.getLong(1)) == 7))
    // the predicate reaches the parquet reader BEFORE ADC code expansion —
    // non-matching rows never expand their m codes into distance lookups
    val plan = got.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined, plan)
  }

  test("filtered ANN parity: the PQ index honors the same listFilter semantics") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_test_filtered_pq_idx"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, IvfCodec.Pq(4, 16, 64),
      attrCols = Seq("label"))
    val got = Similarity.openIvfSearcher(spark, path,
      "vec_id", "embedding", 3, 2, listFilter = Some($"label" === 7))(emb.filter($"vec_id" < 5))
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => labels(r.getLong(1)) == 7))
  }

  test("filtered PQ append takes the attribute columns from the index") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = s"${SparkTest.scratchRoot}/graft_test_pq_filtered_append_idx"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, IvfCodec.Pq(4, 16, 64),
      attrCols = Seq("label"))
    // the batch carries `label`; the append keeps it as the payload the
    // build wrote, so the filter matches the new row
    val extra = emb.filter($"vec_id" === 0)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", lit(7).as("label"))
    Similarity.appendIvfIndex(spark, extra, "vec_id", "embedding", path)
    val got = Similarity.openIvfSearcher(spark, path, "vec_id", "embedding", 100000, 2,
      listFilter = Some($"label" === 7))(emb.filter($"vec_id" === 0))
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // vec 10000 is a copy of query vec 0 with label 7: same codes, so its
    // ADC distance is the smallest any row can reach
    assert(got.contains(10000L), "the appended row must match the filter")
    assert(got(10000L) == got.values.min)
  }

  test("index stats and vacuum are codec-agnostic: int16 and PQ") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter($"vec_id" < 10)
    Seq("int16" -> IvfCodec.Int16, "pq" -> IvfCodec.Pq(4, 16, 64)).foreach { case (tag, codec) =>
      val path = s"${SparkTest.scratchRoot}/graft_test_stats_vacuum_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, 8, codec)
      // the per-list counts of the build, read straight from the fresh lists
      val built = spark.read.parquet(s"$path/lists").groupBy($"cent_id").count()
        .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
      def stats() = Similarity.ivfIndexStats(spark, path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def search() = Similarity.openIvfSearcher(spark, path, "vec_id", "embedding", 3, 2)(qs)
        .collect().map(_.toString).sorted.toSeq
      assert(stats() == built && built.values.sum == emb.count(), tag)
      val shares = Similarity.ivfIndexStats(spark, path).select($"share").as[Double].collect()
      assert(math.abs(shares.sum - 1.0) < 1e-5, s"$tag shares must sum to 1")
      // an uncommitted orphan: invisible to stats, swept by vacuum
      val dir = new java.io.File(s"$path/lists").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cent_id=")).head
      val part = dir.listFiles().filter(_.getName.contains("part-")).head
      val orphan = dir.toPath.resolve("part-orphan-vacuum.parquet")
      java.nio.file.Files.copy(part.toPath, orphan)
      val before = search()
      assert(before.nonEmpty && stats() == built, tag)
      Similarity.vacuumIvfIndex(spark, path)
      assert(!orphan.toFile.exists(), s"$tag vacuum must delete the unreferenced file")
      assert(search() == before, s"$tag vacuum must not change answers")
      assert(stats() == built, s"$tag vacuum must not change stats")
    }
  }

  test("pageRankFixedPoint keeps only the checkpoint its result reads persisted") {
    def added(edges: org.apache.spark.sql.DataFrame): (Int, Long) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val pr = graft.ops.Graph.pageRankFixedPoint(edges, 3, 85)
      ((spark.sparkContext.getPersistentRDDs.keySet -- before).size, pr.count())
    }
    // empty graph: the result reads the nodes checkpoint, the edge
    // checkpoint is released
    assert(added(Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")) == ((1, 0L)))
    // iterated graph: only the last round's rank checkpoint survives
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 2L)).toDF("src", "dst", "w")
    assert(added(edges) == ((1, 3L)))
  }

  test("connectedComponentsWithRounds keeps only the checkpoints its labels read persisted") {
    val pairs = (0 until 32).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, maxIter = 20)
    val added = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    assert(rounds >= 2, s"a 33-node chain must take several rounds, took $rounds")
    // `src` and the final round's small-star generation; every earlier
    // generation is released
    assert(added == 2, s"$added checkpoints stay persisted after $rounds rounds")
    assert(labels.as[(Long, Long)].collect().toMap == (0 to 32).map(_.toLong -> 0L).toMap)
  }

  test("interval overlap join: one row per overlapping pair even across many buckets") {
    val a = Seq((1L, 0.0, 100.0), (2L, 300.0, 310.0)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((10L, 50.0, 400.0), (11L, 150.0, 200.0), (12L, 500.0, 600.0))
      .toDF("b_id", "b_lo", "b_hi")
    // bucketWidth 10 → the (1,10) overlap spans buckets 5..10 on a's side and
    // the (2,10) overlap lives mid-interval; each pair must appear EXACTLY once
    val got = graft.ops.Joins.intervalOverlapBucketed(
      a, b, "a_lo", "a_hi", "b_lo", "b_hi", 10.0)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got == Seq((1L, 10L), (2L, 10L)))
    intercept[IllegalArgumentException] {
      graft.ops.Joins.intervalOverlapBucketed(
        a, b.withColumnRenamed("b_lo", "a_lo"), "a_lo", "a_hi", "a_lo", "b_hi", 10.0)
    }
  }

  test("classifier inference is scan-level: no joins or exchanges in the plan") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val df = TextOps.withClassifierScore(docs, "doc_id", "text", 4096, "qf")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
    // margins are symmetric-ish around 0: both labels must actually occur
    val labels = df.groupBy($"label").count().collect().map(_.getString(0)).toSet
    assert(labels == Set("keep", "drop"))
  }

  test("persisted bigram LM: scoring matches in-line compute; versions time-travel") {
    import graft.streaming.Streams
    val dir = SparkTest.tempDir("bigram_lm").toString
    val c1 = Seq((1L, "the cat sat on the mat"), (2L, "the cat ran"),
      (3L, "a dog sat on a log")).toDF("doc_id", "text")
    Streams.commitSnapshot(TextOps.bigramLmTable(c1, "text"), dir, 1L, retain = 2)
    val viaLm = TextOps.scoreWithBigramLm(c1, "doc_id", "text",
      Streams.readSnapshot(spark, dir)).orderBy($"doc_id")
      .collect().map(_.toSeq).toSeq
    val inline = TextOps.bigramLogProb(c1, "doc_id", "text").orderBy($"doc_id")
      .collect().map(_.toSeq).toSeq
    assert(viaLm == inline)
    // corpus grows, LM v2 committed: scores shift, but v1 is still readable
    // and reproduces the original scores exactly (time travel)
    val c2 = c1.union(Seq((4L, "the cat sat on the cat")).toDF("doc_id", "text"))
    Streams.commitSnapshot(TextOps.bigramLmTable(c2, "text"), dir, 2L, retain = 2)
    val v2Scores = TextOps.scoreWithBigramLm(c1, "doc_id", "text",
      Streams.readSnapshot(spark, dir)).orderBy($"doc_id")
      .collect().map(_.toSeq).toSeq
    assert(v2Scores != inline) // "the cat" got more probable
    val v1Again = TextOps.scoreWithBigramLm(c1, "doc_id", "text",
      Streams.readSnapshot(spark, dir, Some(1L))).orderBy($"doc_id")
      .collect().map(_.toSeq).toSeq
    assert(v1Again == inline)
    // the LM table carries counts for future increments, not just logp
    val lm = Streams.readSnapshot(spark, dir)
    assert(lm.columns.toSeq == Seq("w1", "w2", "n2", "n1", "logp"))
  }

  test("bigram LM merge law: merge of split-corpus LMs equals the full rebuild") {
    // "solo" appears only as a trailing token in c1 — its unigram count
    // survives only through the marker row; "xyz" is a single-token doc
    val c1 = Seq((1L, "the cat sat solo"), (2L, "xyz")).toDF("doc_id", "text")
    val c2 = Seq((3L, "solo runs fast"), (4L, "the cat ran")).toDF("doc_id", "text")
    val merged = TextOps.mergeBigramLms(
      TextOps.bigramLmTable(c1, "text"), TextOps.bigramLmTable(c2, "text"))
      .orderBy($"w1", $"w2").collect().map(_.toSeq).toSeq
    val full = TextOps.bigramLmTable(c1.union(c2), "text")
      .orderBy($"w1", $"w2").collect().map(_.toSeq).toSeq
    assert(merged == full)
    // and the marker mechanism is actually exercised: c1's LM must carry
    // bigram-less unigrams as (w1, NULL) rows that scoring can never match
    val markers = TextOps.bigramLmTable(c1, "text")
      .filter($"w2".isNull).select($"w1").as[String].collect().toSet
    assert(markers.contains("solo") && markers.contains("xyz"))
  }

  test("duplicate-substring removal: owner keeps text, later doc loses the shared span") {
    val shared = "0123456789abcdefghijklmnop" // 26 chars >= k+w-1 = 23
    val d1 = s"first unique prefix $shared and first tail"
    val d2 = s"second totally different opening $shared closing words here"
    val d3 = "no overlap at all in this one, completely distinct text body"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSubstrings(docs, "doc_id", "text", 16, 8)
      .orderBy($"id").collect()
    // owner and the distinct doc come back verbatim
    assert(got(0).getString(3) == d1 && got(0).getLong(1) == 0L)
    assert(got(2).getString(3) == d3 && got(2).getLong(1) == 0L)
    // doc 2: winnow guarantee => at least one shared-selected gram cut, the
    // cut stays inside the shared block, and lengths reconcile
    val r2 = got(1)
    assert(r2.getLong(1) >= 1L && r2.getLong(2) >= 16L)
    val cleaned = r2.getString(3)
    assert(cleaned.length == d2.length - r2.getLong(2))
    assert(!cleaned.contains(shared))
    assert(cleaned.startsWith("second totally different opening"))
    assert(cleaned.endsWith(" closing words here"))
    // removal is deterministic under repartitioning
    val again = Dedup.removeDuplicateSubstrings(docs.repartition(7), "doc_id", "text", 16, 8)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(again == got.map(_.toSeq).toSeq)
  }

  test("quantile filter normalizes per domain: each keeps its own top share") {
    // domain b's WORST score beats domain a's best — a global threshold
    // would keep all of b and none of a; the per-domain filter keeps the
    // top half of each (percent_rank over 4 rows: 0, 1/3, 2/3, 1)
    val df = ((1 to 4).map(i => ("a", i.toLong, i.toDouble)) ++
      (1 to 4).map(i => ("b", 10L + i, 100.0 + i))).toDF("src", "id", "score")
    val kept = graft.ops.Splits.quantileFilter(df, "src", "score", 0.5)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 13L, 14L))
  }

  test("training order: total, reproducible, partition-invariant, seed-sensitive") {
    val df = (0L until 120L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    def order(d: org.apache.spark.sql.DataFrame, seed: String) =
      graft.ops.Splits.trainingOrder(d, "doc_id", 4, seed)
        .select($"doc_id", $"shard", $"ord")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val a = order(df, "ep0")
    // reproducible across runs and partitionings
    assert(order(df.repartition(7), "ep0") == a)
    // total within each shard: ords are 1..n with no gaps
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq) }
    // a different seed (epoch) produces a different permutation
    assert(order(df, "ep1") != a)
    // order is decorrelated from the key order: the first 10 by ord in
    // shard 0 are not simply the 10 smallest ids
    val s0 = a.filter(_._2 == 0L).sortBy(_._3).take(10).map(_._1)
    assert(s0 != s0.sorted)
  }

  test("approx quantile filter: agrees with exact away from the boundary, no sort window") {
    val df = ((1 to 200).map(i => ("a", i.toLong, i.toDouble)) ++
      (1 to 100).map(i => ("b", 1000L + i, 50.0 + i))).toDF("src", "id", "score")
    val exact = graft.ops.Splits.quantileFilter(df, "src", "score", 0.25)
      .select($"id").as[Long].collect().toSet
    val approx = graft.ops.Splits.quantileFilterApprox(df, "src", "score", 0.25)
      .select($"id").as[Long].collect().toSet
    // high-accuracy sketch on small groups: boundary slack of a few ranks
    assert((exact diff approx).size + (approx diff exact).size <= 4,
      s"approx kept set drifted: ${(exact diff approx)} / ${(approx diff exact)}")
    // the scale claim: no per-domain sort window — threshold agg + broadcast join
    val plan = graft.ops.Splits.quantileFilterApprox(df, "src", "score", 0.25)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"approx variant must not sort per domain:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"threshold must broadcast:\n$plan")
  }

  test("chunking: coverage, overlap and offsets reconstruct; edge docs behave") {
    val docs = Seq(
      (1L, "abcdefghij"),   // len 10: size 4 ov 1 -> starts 1,4,7
      (2L, "abc"),          // shorter than size -> one chunk
      (3L, ""))             // empty -> no chunks
      .toDF("doc_id", "text")
    val got = TextOps.chunkDocuments(docs, "doc_id", "text", 4, 1)
      .orderBy($"doc_id", $"chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 1L, "abcd"), (1L, 2L, 4L, "defg"), (1L, 3L, 7L, "ghij"),
      (2L, 1L, 1L, "abc")))
    // every char of the original is covered by some chunk; consecutive
    // chunks overlap by exactly `overlap` (except the short tail)
    assert(got.filter(_._1 == 1L).sliding(2).forall {
      case Array(a, b) => b._3 == a._3 + 3; case _ => true })
    // plan is scan-level: a generate over the scan, no exchange
    val plan = TextOps.chunkDocuments(docs, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("substring scrub vs reference: contaminated span cut, reference not needed at serve") {
    val evalQ = "which regiment fought at the bridge of arnhem in 1944?"
    val ref = Seq((100L, s"benchmark question: $evalQ end")).toDF("rid", "rtext")
    val d1 = s"a crawl page quoting $evalQ plus commentary around it"
    val docs = Seq(
      (1L, d1),
      (2L, "a completely unrelated document with its own distinct content"))
      .toDF("doc_id", "text")
    val got = Dedup.scrubSubstrings(docs, "doc_id", "text", ref, "rtext", 16, 8)
      .orderBy($"id").collect()
    // contaminated doc: the eval question can no longer be found verbatim
    assert(got(0).getLong(1) >= 1L)
    assert(!got(0).getString(3).contains(evalQ))
    assert(got(0).getString(3).length == d1.length - got(0).getLong(2))
    // clean doc untouched; EVERY doc is scrubbed (no ownership exemption)
    assert(got(1).getLong(1) == 0L &&
      got(1).getString(3) == "a completely unrelated document with its own distinct content")
  }

  test("trained classifier: integer weight math pinned, serving scan-level, labels separate") {
    val B = 64
    // 4 docs, disjoint vocab per class: positives say "good", negatives "bad"
    val docs = Seq(
      (1L, "good good stuff", true), (2L, "good stuff here", true),
      (3L, "bad noise junk", false), (4L, "bad junk mess", false))
      .toDF("doc_id", "text", "pos")
    val w = TextOps.trainClassifierWeights(docs, "text", $"pos", B)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // weight of the bucket "good" hashes to: np=4 occurrences all positive…
    // unless another token collides in 64 buckets; recompute expected counts
    // from the same features driver-side to stay collision-proof
    val feats = docs.collect().map { r =>
      val toks = r.getString(1).trim.split("\\s+").toSeq
      val f = toks ++ toks.sliding(2).map(_.mkString(" "))
      (f.map(t => math.floorMod(TextOps.hash32Local(t), B.toLong)), r.getBoolean(2))
    }
    val byBucket = feats.flatMap { case (bs, p) => bs.map(_ -> p) }
      .groupBy(_._1).map { case (b, xs) =>
        val np = xs.count(_._2); val n = xs.size
        b -> ((2000L * (np + 1)) / (n + 2) - 1000L)
      }
    assert(w == byBucket)
    // bias = global prior in the same integer construction (6 of 12…
    // occurrences positive here, so near 0; recompute exactly)
    val model = TextOps.collectClassifierModel(
      TextOps.trainClassifierWeights(docs, "text", $"pos", B), B)
    val occ = feats.flatMap { case (bs, p) => bs.map(_ => p) }
    val expBias = 2000L * (occ.count(identity) + 1) / (occ.size + 2) - 1000L
    assert(model.bias == expBias)
    // serving: scan-level (no join/exchange), and the disjoint vocab separates
    val scored = TextOps.withTrainedClassifierScore(docs, "doc_id", "text", model, B)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"trained serving must be scan-level:\n$plan")
    val got = scored.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "keep", 2L -> "keep", 3L -> "drop", 4L -> "drop"))
  }

  test("diffFrames: insert/delete/update classified, unchanged dropped, schema mismatch rejected") {
    val v1 = Seq((1L, 10L, "x"), (2L, 20L, "y"), (3L, 30L, "z")).toDF("k", "n", "s")
    val v2 = Seq((2L, 20L, "y"), (3L, 31L, "z"), (4L, 40L, "w")).toDF("k", "n", "s")
    val got = Streams.diffFrames(v1, v2, Seq("k")).orderBy($"k")
      .select($"k", $"change_type").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "delete"), (3L, "update"), (4L, "insert")))
    intercept[IllegalArgumentException] {
      Streams.diffFrames(v1, v2.withColumnRenamed("s", "t"), Seq("k"))
    }
  }

  test("winnowing guarantee: docs sharing a >=k+w-1 substring share a fingerprint") {
    val shared = "the quick brown fox jumps over" // 30 chars >= 16+8-1
    val a = "AAAA " + shared + " 1111"
    val b = "zzzz a different prefix " + shared + " and tail"
    val docs = Seq((1L, a), (2L, b), (3L, "completely unrelated content qq"))
      .toDF("doc_id", "text")
    val fps = docs
      .select($"doc_id", TextOps.winnowedFingerprints($"text", 16, 8).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    // below-k docs yield empty sets, not nulls or errors
    val short = Seq((9L, "tiny")).toDF("doc_id", "text")
      .select(TextOps.winnowedFingerprints($"text", 16, 8)).as[Seq[Long]].head
    assert(short.isEmpty)
    // the pair surfaces as a candidate; the unrelated doc pairs with nobody
    val got = Dedup.substringDupCandidates(docs, "doc_id", "text", 16, 8, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("one-pass minhash/simhash expressions equal the explode+groupBy formulation, shuffle-free") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // reference formulation: explode → hash32 per shingle → k min-aggregates
    val sh = docs.withColumn("__toks", TextOps.tokens($"text"))
      .select($"doc_id", explode(TextOps.shingles("__toks", 3)).as("sh"))
      .withColumn("h0", TextOps.hash32($"sh"))
    val aggs = (0 until 8).map { i =>
      val (a, b) = Dedup.minhashSeeds(i)
      min((lit(a) * $"h0" + lit(b)) % lit(Dedup.MINHASH_P)).as(s"mh_$i")
    }
    val viaAgg = sh.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    val viaExpr = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    assert(viaExpr == viaAgg)
    // and the signature stage itself must be a pure map: no exchange at all
    val plan = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signatures must not shuffle:\n$plan")
    // simhash: one-pass expression vs the 32-bit-sum formulation
    val words = docs.withColumn("__toks", array_distinct(TextOps.tokens($"text")))
      .select($"doc_id", explode($"__toks").as("w"))
      .withColumn("h", TextOps.hash32($"w"))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val simAgg = words.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", (0 until 32).map { j =>
        when(col(s"b_$j") >= 0, lit(1L << j)).otherwise(0L)
      }.reduce(_ + _))
      .select($"doc_id", $"simhash").orderBy($"doc_id")
      .collect().map(_.toString).toSeq
    val simExpr = Dedup.simhash32(docs, "doc_id", "text")
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    assert(simExpr == simAgg)
  }

  test("partition invariance: minhash signatures identical at 1 vs 8 partitions") {
    val docs = (0L until 40L).map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 11} tok$i"))
      .toDF("doc_id", "text")
    def sig(p: Int) = Dedup.minhashSignatures(docs.repartition(p), "doc_id", "text", 8, 2)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(sig(1) == sig(8))
  }

  test("upsertSnapshot: merge semantics, version chain, time travel, schema guard") {
    val out = s"${SparkTest.scratchRoot}/graft_upsert_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "s", "n")
    assert(Streams.upsertSnapshot(base, out, Seq("k"), retain = 5) == 0L)
    // update k=2, insert k=4, delete k=1 and k=2 (batch wins the k=2 overlap)
    val batch = Seq((2L, "B", 99L), (4L, "d", 40L)).toDF("k", "s", "n")
    val dels = Seq(1L, 2L).toDF("k")
    assert(Streams.upsertSnapshot(batch, out, Seq("k"), Some(dels), retain = 5) == 1L)
    val got = Streams.readSnapshot(spark, out).orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, "B", 99L), (3L, "c", 30L), (4L, "d", 40L)))
    // time travel: v0 is the pre-merge state
    assert(Streams.readSnapshot(spark, out, Some(0L)).count() == 3)
    // schema mismatch fails loudly instead of committing garbage
    intercept[IllegalArgumentException] {
      Streams.upsertSnapshot(Seq((9L, "x")).toDF("k", "s"), out, Seq("k"))
    }
  }

  test("data skipping: range read equals full filter, prunes files, handles empty/null") {
    val out = s"${SparkTest.scratchRoot}/graft_skip_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val df = spark.range(0, 1000).select($"id",
      when($"id" % 13 === 0, lit(null).cast("long")).otherwise($"id" % 7).as("m"))
    Streams.commitSnapshotStats(df.toDF, out, 0, Seq("id"), layoutParts = 8)
    val (kept, total) = Streams.rangeFileSelection(spark, out, "id", 100L, 199L)
    assert(total == 8, s"expected 8 laid-out files, got $total")
    assert(kept.nonEmpty && kept.size <= 2, s"range should touch <=2 of 8 files, kept ${kept.size}")
    val got = Streams.readSnapshotRange(spark, out, "id", 100L, 199L)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val want = Streams.readSnapshot(spark, out)
      .filter($"id" >= 100L && $"id" <= 199L).orderBy($"id").collect().map(_.toSeq).toSeq
    assert(got == want && got.size == 100)
    // a range outside every file reads nothing but keeps the schema
    val none = Streams.readSnapshotRange(spark, out, "id", -50L, -10L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "m"))
  }

  test("bloom skipping: point read equals full filter, prunes files, never false-negative") {
    val out = s"${SparkTest.scratchRoot}/graft_bloom_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val df = spark.range(0, 1000).select($"id", md5($"id".cast("string")).as("k"))
    Streams.commitSnapshotStats(df.toDF, out, 0, Seq("id"), layoutParts = 8,
      bloomCols = Seq("k"), bloomBits = 1 << 16)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest("777".getBytes).map("%02x".format(_)).mkString // id 777's k
    val (kept, total) = Streams.pointFileSelection(spark, out, "k", key)
    assert(total == 8 && kept.nonEmpty && kept.size <= 2,
      s"point lookup should touch <=2 of 8 files, kept ${kept.size}")
    val got = Streams.readSnapshotPoint(spark, out, "k", key)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((777L, key)))
    // a key absent from the table: usually zero files survive, always zero rows
    assert(Streams.readSnapshotPoint(spark, out, "k", "no such key").count() == 0)
  }

  test("partitioned upsert: only touched partitions rewrite; reads prune; rewriteAll+vacuum") {
    val out = s"${SparkTest.scratchRoot}/graft_part_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = Seq((1L, "en", 10L), (2L, "en", 20L), (3L, "de", 30L), (4L, "fr", 40L))
      .toDF("k", "lang", "n")
    assert(PartitionedSnapshot.upsert(base, out, Seq("k"), "lang") == 0L)
    // v1 touches ONLY en: update k=2, insert k=5, delete k=1
    val batch = Seq((2L, "en", 99L), (5L, "en", 50L)).toDF("k", "lang", "n")
    val dels = Seq((1L, "en")).toDF("k", "lang")
    assert(PartitionedSnapshot.upsert(batch, out, Seq("k"), "lang", Some(dels)) == 1L)
    val d1 = new java.io.File(s"$out/d_1").list().filter(_.startsWith("lang=")).toSeq
    assert(d1 == Seq("lang=en"), s"v1 must rewrite only en, wrote $d1")
    def all() = PartitionedSnapshot.read(spark, out)
      .select($"k", $"lang", $"n").orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = Seq((2L, "en", 99L), (3L, "de", 30L), (4L, "fr", 40L), (5L, "en", 50L))
    assert(all() == want)
    // partition-restricted read resolves through the manifest only
    val de = PartitionedSnapshot.read(spark, out, Some(Set("de")))
      .select($"k").as[Long].collect().toSeq
    assert(de == Seq(3L))
    // re-base collapses the version chain; vacuum sweeps the orphans
    assert(PartitionedSnapshot.rewriteAll(spark, out, "lang") == 2L)
    PartitionedSnapshot.vacuum(spark, out, graceMs = 0L)
    assert(!new java.io.File(s"$out/d_0").exists && !new java.io.File(s"$out/d_1").exists)
    assert(all() == want)
    // single-writer guard: a leftover/concurrent next-version dir aborts
    // the commit loudly instead of being clobbered
    assert(new java.io.File(s"$out/d_3").mkdirs())
    intercept[graft.streaming.Commit.ConcurrentWriteException] {
      PartitionedSnapshot.upsert(batch, out, Seq("k"), "lang")
    }
  }

  test("dropPartitions: metadata-only, survivors untouched, cannot empty the table") {
    val out = s"${SparkTest.scratchRoot}/graft_drop_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L)).toDF("k", "lang", "n")
    PartitionedSnapshot.upsert(base, out, Seq("k"), "lang")
    assert(PartitionedSnapshot.dropPartitions(spark, out, Set("en")) == 1L)
    // no new data dir was written — the drop is pure manifest
    assert(!new java.io.File(s"$out/d_1").exists)
    val got = PartitionedSnapshot.read(spark, out).select($"k").as[Long]
      .collect().sorted.toSeq
    assert(got == Seq(2L, 3L))
    val stats = PartitionedSnapshot.partitionStats(spark, out)
      .orderBy($"lang").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stats.toSeq == Seq(("de", 1L, 0L), ("fr", 1L, 0L)))
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.dropPartitions(spark, out, Set("de", "fr"))
    }
  }

  test("addColumn: metadata-only; defaults fill old versions; rewriteAll materializes") {
    val out = s"${SparkTest.scratchRoot}/graft_evolve_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L)).toDF("k", "lang", "n")
    PartitionedSnapshot.upsert(base, out, Seq("k"), "lang")
    assert(PartitionedSnapshot.addColumn(spark, out, "q", "double", "0.5") == 1L)
    // pure metadata: no data dir for the evolution commit
    assert(!new java.io.File(s"$out/d_1").exists)
    def all() = PartitionedSnapshot.read(spark, out)
      .select($"k", $"q").orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all() == Seq((1L, 0.5), (2L, 0.5), (3L, 0.5)),
      "pre-evolution files must read the declared default")
    // a writer that ignores the evolved schema is rejected loudly
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.upsert(
        Seq((4L, "en", 40L)).toDF("k", "lang", "n"), out, Seq("k"), "lang")
    }
    // a post-evolution upsert carries real values; only en rewrites
    PartitionedSnapshot.upsert(
      Seq((1L, "en", 11L, 0.9)).toDF("k", "lang", "n", "q"), out, Seq("k"), "lang")
    assert(all() == Seq((1L, 0.9), (2L, 0.5), (3L, 0.5)))
    // duplicate adds are rejected (both metadata and physical columns)
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.addColumn(spark, out, "q", "double", "0.0")
    }
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.addColumn(spark, out, "n", "long", "0")
    }
    // non-constant defaults are rejected: they would make pre-evolution
    // reads nondeterministic and rewriteAll freeze one arbitrary sampling
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.addColumn(spark, out, "r", "double", "rand()")
    }
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.addColumn(spark, out, "t", "timestamp", "current_timestamp()")
    }
    // rewriteAll materializes the defaults into files and retires the
    // metadata: read-back is unchanged with NO addcol entries left
    PartitionedSnapshot.rewriteAll(spark, out, "lang")
    assert(all() == Seq((1L, 0.9), (2L, 0.5), (3L, 0.5)))
    val manifest = scala.io.Source.fromFile(
      new java.io.File(out).listFiles().filter(_.getName.startsWith("m_"))
        .maxBy(_.getName.stripPrefix("m_").stripSuffix(".json").toLong)).mkString
    assert(!manifest.contains("#addcol"), "rewriteAll must retire addcol metadata")
  }

  test("dropColumn: metadata-only; guards partition/last/resurrected columns") {
    val out = s"${SparkTest.scratchRoot}/graft_dropcol_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = Seq((1L, "en", 10L, "a"), (2L, "de", 20L, "b"))
      .toDF("k", "lang", "n", "src")
    PartitionedSnapshot.upsert(base, out, Seq("k"), "lang")
    assert(PartitionedSnapshot.dropColumn(spark, out, "src") == 1L)
    assert(!new java.io.File(s"$out/d_1").exists, "drop must write no data")
    assert(PartitionedSnapshot.read(spark, out).columns.toSeq == Seq("k", "n", "lang"))
    // a batch resurrecting the dropped column is rejected
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.upsert(base, out, Seq("k"), "lang")
    }
    // partition column and the last data column are protected
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.dropColumn(spark, out, "lang")
    }
    PartitionedSnapshot.dropColumn(spark, out, "n")
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.dropColumn(spark, out, "k")
    }
    // re-adding a dropped name needs a rewrite first (old files carry it)
    intercept[IllegalArgumentException] {
      PartitionedSnapshot.addColumn(spark, out, "src", "string", "'x'")
    }
    PartitionedSnapshot.rewriteAll(spark, out, "lang")
    assert(PartitionedSnapshot.addColumn(spark, out, "src", "string", "'x'") >= 0)
    val got = PartitionedSnapshot.read(spark, out).orderBy($"k")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("src"))).toSeq
    assert(got == Seq((1L, "x"), (2L, "x")))
  }

  test("upsertSnapshot: a leftover next-version dir aborts instead of clobbering") {
    val out = s"${SparkTest.scratchRoot}/graft_upguard_spec_${java.util.UUID.randomUUID().toString.take(8)}"
    val base = Seq((1L, 10L)).toDF("k", "n")
    Streams.upsertSnapshot(base, out, Seq("k"), retain = 5)
    assert(new java.io.File(s"$out/v_1").mkdirs())
    intercept[graft.streaming.Commit.ConcurrentWriteException] {
      Streams.upsertSnapshot(Seq((2L, 20L)).toDF("k", "n"), out, Seq("k"))
    }
  }

  test("bm25: tf raises the score of a positive-idf term; ranking deterministic") {
    val docs = Seq(
      (1L, "apple banana"), (2L, "apple apple cherry"), (3L, "banana cherry"),
      (4L, "durian fig grape"), (5L, "fig grape banana")).toDF("doc_id", "text")
    val q = Seq((9L, "apple")).toDF("doc_id", "text")
    val got = graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text", q, "doc_id", "text", 10)
      .orderBy($"rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // df(apple)=2 of N=5 -> idf = log10(3.5/2.5) > 0; doc 2 (tf=2) outranks doc 1
    assert(got.map(_._1) == Seq(2L, 1L))
    assert(got(0)._2 > got(1)._2 && got(1)._2 > 0.0)
  }

  test("PRF expansion recalls vocabulary-mismatched docs plain BM25 cannot") {
    // query says "apple"; docs 4/5 never say it but co-occur with apple-docs
    // via "cherry"/"banana" — the classic synonym-gap PRF closes
    val docs = Seq(
      (1L, "apple banana"), (2L, "apple cherry"), (3L, "banana cherry kiwi"),
      (4L, "cherry kiwi lemon"), (5L, "banana kiwi lemon"),
      (6L, "mango papaya"), (7L, "papaya lemon")).toDF("doc_id", "text")
    val q = Seq((9L, "apple")).toDF("doc_id", "text")
    val stats = graft.ops.Retrieval.bm25StatsTable(docs, "doc_id", "text")
    val plain = graft.ops.Retrieval.bm25TopKStored(stats, q, "doc_id", "text", 10)
      .collect().map(_.getLong(1)).toSet
    assert(plain == Set(1L, 2L), "plain BM25 sees only literal apple docs")
    val expanded = graft.ops.Retrieval.bm25ExpandedTopK(
      stats, q, "doc_id", "text", 10, kFb = 2, nExp = 3)
    val gotIds = expanded.collect().map(_.getLong(1)).toSet
    assert(plain.subsetOf(gotIds) && (gotIds -- plain).nonEmpty,
      s"expansion must add docs beyond the literal matches, got $gotIds")
    // expansion terms come from feedback docs 1/2 (banana, cherry), so the
    // new recalls are their co-occurrence neighbors — never the papaya pool
    assert(!gotIds.contains(6L), "unrelated docs must stay unrecalled")
    // and the literal matches keep scoring above pure-expansion recalls
    val ranked = expanded.orderBy($"rank").collect().map(_.getLong(1)).toSeq
    assert(ranked.take(2).toSet == plain,
      s"original-term docs must outrank expansion-only docs: $ranked")
  }

  test("MMR re-rank skips the near-duplicate a relevance-only top-k keeps") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.9)),   // most relevant (cos .99856 to the query)
      (2L, Seq(1.0, 0.88)),  // near-duplicate of 1 (sim .99993), second by rel
      (3L, Seq(0.0, 1.0)),   // diverse (sim .669 to 1), third by rel (.707)
      (100L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" === 100L)
    val shortlist = graft.ops.Similarity.bruteForceTopK(
      corpus.filter($"vec_id" < 100), qs, "vec_id", "embedding", 3)
    val plain = shortlist.filter($"rank" <= 2).collect().map(_.getLong(1)).toSet
    assert(plain == Set(1L, 2L), "relevance-only top-2 keeps the near-dup")
    val mmr = graft.ops.Similarity.mmrRerank(shortlist, corpus, "vec_id", "embedding", 2)
      .orderBy($"mmr_rank").collect()
    assert(mmr.map(_.getLong(1)).toSeq == Seq(1L, 3L),
      s"MMR must pick the diverse doc over the near-dup: ${mmr.mkString(",")}")
    // rank-1 is always the relevance argmax; ranks are 1..k once per query
    assert(mmr.head.getInt(3) == 1 && mmr.map(_.getInt(3)).toSeq == Seq(1, 2))
  }

  test("rrfFuse: both-list docs outrank single-list docs at comparable ranks") {
    val a = Seq((0L, 1L, 1), (0L, 2L, 2), (0L, 3L, 3)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 2L, 1), (0L, 4L, 2)).toDF("query_id", "doc_id", "rank")
    val got = graft.ops.Retrieval.rrfFuse(a, b, "doc_id", "doc_id", 10)
      .orderBy($"rank").collect().map(_.getLong(1)).toSeq
    // doc2 = 1/62+1/61, doc1 = 1/61, doc4 = 1/62, doc3 = 1/63
    assert(got == Seq(2L, 1L, 4L, 3L))
  }

  test("semanticDedup: kept pairwise sub-threshold in-cluster; dropped have earlier near owner") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.3
    def run(t: Double) =
      Similarity.semanticDedup(emb, "vec_id", "embedding", t, 4, trainIters = 1)
    // an unreachable threshold drops nothing -> the full deterministic
    // assignment (same training), from which the dropped set derives
    val all = run(2.0).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = run(tau).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet.subsetOf(all.keySet) && kept.size < all.size)
    kept.foreach { case (id, c) => assert(all(id) == c) }
    val vecs = emb.select($"vec_id", Similarity.asDouble($"embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cosR6(a: Seq[Double], b: Seq[Double]): Double = {
      def d(x: Seq[Double], y: Seq[Double]) = x.zip(y).map { case (p, q) => p * q }.sum
      BigDecimal(d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // law 1: keep-first leaves no near pair among the kept, per cluster
    for ((a, ca) <- kept; (b, cb) <- kept if ca == cb && a < b)
      assert(cosR6(vecs(a), vecs(b)) < tau, s"kept near pair ($a,$b)")
    // law 2: every dropped vector has an earlier in-cluster member at >= tau
    for ((b, cb) <- all if !kept.contains(b)) {
      val owners = all.filter { case (a, ca) => ca == cb && a < b }
      assert(owners.exists { case (a, _) => cosR6(vecs(a), vecs(b)) >= tau },
        s"dropped $b has no earlier near owner")
    }
  }

  test("expectations: report counts match example fetches; unknown dim is loud") {
    import graft.ops.Expectations._
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val ord = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    val report = validate(li, Seq(
      InRange("l_quantity", 1, 10),
      InSet("l_returnflag", Seq("A")),
      RefIntegrity("l_orderkey", "orders", "o_orderkey")),
      dims = Map("orders" -> ord))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    // the range probe must find real violations, and the example fetch
    // must return only genuinely violating rows
    val (nRange, passRange) = report("in_range(l_quantity, 1.0, 10.0)")
    assert(nRange > 0 && passRange == 0L)
    val ex = violations(li, InRange("l_quantity", 1, 10), limitN = 7)
      .select($"l_quantity").as[Double].collect()
    assert(ex.nonEmpty && ex.length <= 7 && ex.forall(q => q < 1 || q > 10))
    // referential integrity holds on the fixture (lineitem -> orders)
    assert(report("ref(l_orderkey -> orders.o_orderkey)") == ((0L, 1L)))
    intercept[IllegalArgumentException] {
      validate(li, Seq(RefIntegrity("l_orderkey", "nope", "x")))
    }
  }

  test("matryoshka with a full-corpus shortlist equals exact brute force") {
    // when kShort covers the whole corpus, the prefix stage filters nothing
    // and the exact re-rank must reproduce bruteForceTopK row-for-row —
    // the consistency anchor for the progressive path
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(80)
    val qs = emb.filter($"vec_id" < 4)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    val full = key(Similarity.matryoshkaTopK(emb, qs, "vec_id", "embedding",
      k = 5, kShort = 200, prefixDims = 16))
    val brute = key(Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5))
    assert(full == brute)
  }

  test("userEventSequences: maxLen=1 keeps exactly the newest event per user") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val got = graft.ops.Splits.userEventSequences(ev, 1)
      .select($"user_id", $"seq_len", $"events_seq", $"seq_start", $"seq_end")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4))).toMap
    val newest = ev.select($"user_id", $"ts", $"event_id", $"event_type")
      .collect().groupBy(_.getLong(0)).map { case (u, rows) =>
        val top = rows.maxBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
        u -> top
      }
    assert(got.keySet == newest.keySet)
    newest.foreach { case (u, top) =>
      val (len, seq, start, end) = got(u)
      assert(len == 1L && seq == top.getString(3) &&
        start == top.getTimestamp(1) && end == top.getTimestamp(1),
        s"user $u newest-event mismatch")
    }
  }

  test("DSIR: bucket table is bounded, target docs are upweighted, top-k plan") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val isTarget = $"lang" === "en"
    val B = 64
    // state bound: the fitted artifact never exceeds the bucket space
    val tbl = graft.ops.Selection.dsirBucketTable(docs, "doc_id", "text", isTarget, B)
    assert(tbl.count() <= B)
    // the selection signal points the right way: target-language docs score
    // a higher mean importance weight than the rest (that is the whole point
    // of importance resampling toward a target domain)
    val scored = graft.ops.Selection
      .dsirScores(docs, "doc_id", "text", isTarget, B)
      .join(docs.select($"doc_id", isTarget.as("is_t")), Seq("doc_id"))
    val Array(tMean, oMean) = scored.groupBy($"is_t")
      .agg(avg($"logw").as("m")).orderBy($"is_t".desc)
      .collect().map(_.getDouble(1))
    assert(tMean > oMean,
      s"target mean logw $tMean should exceed non-target $oMean")
    // resample: exactly k rows, ranks 1..k, and the global ordering step
    // plans as TakeOrderedAndProject (per-partition heaps), never a full
    // corpus sort — the unpartitioned rank window runs on k rows post-limit
    val sel = graft.ops.Selection
      .dsirResample(docs, "doc_id", "text", isTarget, B, 25)
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val ranks = sel.select($"rank").as[Int].collect().sorted.toSeq
    assert(ranks == (1 to 25))
    // deterministic: same inputs, same picks, twice
    val a = sel.select($"doc_id", $"key").collect().toSeq
    val b = graft.ops.Selection
      .dsirResample(docs, "doc_id", "text", isTarget, B, 25)
      .select($"doc_id", $"key").collect().toSeq
    assert(a == b)
  }

  test("DSIR law: scan-level scorer == explode→join→groupBy reference, bit-exact") {
    // the r13 shuffle scorer, preserved HERE as the independent reference
    // implementation: every gram occurrence joins the dense bucket table and
    // the per-doc exact lr6 longs sum. The production scorer (scoreLr6, one
    // codegen'd fold against the literal array) must match it bit-for-bit on
    // the same artifact — same doc set, same n_grams, same logw.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val B = 64
    val bt = graft.ops.Selection.dsirBucketTable(
      docs, "doc_id", "text", $"lang" === "en", B)
    val toks = when(length(trim($"text")) > 0, graft.ops.TextOps.tokens($"text"))
      .otherwise(array().cast("array<string>"))
    val reference = docs
      .select($"doc_id",
        explode(concat(toks, graft.ops.TextOps.shinglesAll(toks, 2))).as("gram"))
      .withColumn("bucket", graft.ops.TextOps.hash32($"gram") % B)
      .join(broadcast(bt.select($"bucket", $"logr")), Seq("bucket"))
      .withColumn("lr6", round($"logr" * 1e6).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), sum($"lr6").as("s6"))
      .withColumn("logw", round($"s6".cast("double") / 1e6, 6))
      .select($"doc_id", $"n_grams", $"logw")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val served = graft.ops.Selection
      .dsirScoresAgainst(docs, "doc_id", "text", bt, B)
    // the public serving schema carries ONLY the documented columns — the
    // internal exact total stays private (the r13 __s6 leak)
    assert(served.columns.toSeq == Seq("doc_id", "n_grams", "logw"))
    val got = served
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == reference)
    // and the streaming entry point shares the body verbatim — same schema,
    // same values (the two serving forms can never diverge)
    val lr6 = graft.ops.Selection.dsirLr6Array(bt, B)
    val stream = graft.ops.Selection
      .dsirScoreStream(docs, "doc_id", "text", lr6, B)
    assert(stream.columns.toSeq == Seq("doc_id", "n_grams", "logw"))
    assert(stream.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap == reference)
  }

  test("Gopher rules: keep is the rule conjunction; each rule fires on its violator") {
    val docs = Seq(
      (1L, "the cat sat on a mat and dog ran far away"), // clean: keep
      (2L, "the a"),                                     // too short
      (3L, "123 456 789 101 112 131 415 161"),           // no alpha, no stops
      (4L, "the a go go go go go go go go"),             // dominant bigram
      (5L, "the a honorificabilitudinitatibus pseudopseudohypoparathyroidism " +
        "antidisestablishmentarianism floccinaucinihilipilification")) // word len
      .toDF("doc_id", "text")
    val got = graft.ops.Selection.gopherRules(docs, "doc_id", "text",
        3, 100, 1.0, 10.0, Seq("the", "a", "and"), 2, 0.5, 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("r_words"), r.getAs[Boolean]("r_wordlen"),
          r.getAs[Boolean]("r_stop"), r.getAs[Boolean]("r_alpha"),
          r.getAs[Boolean]("r_rep"), r.getAs[Boolean]("keep"))).toMap
    assert(got(1L) == (true, true, true, true, true, true))
    assert(!got(2L)._1 && !got(2L)._6)              // r_words violated
    assert(!got(3L)._4 && !got(3L)._3 && !got(3L)._6) // alpha + stopwords
    assert(got(4L)._1 && got(4L)._3 && !got(4L)._5 && !got(4L)._6) // repetition
    assert(!got(5L)._2 && !got(5L)._6)              // mean word length
    // keep == conjunction on the real corpus too
    val corpus = graft.ops.Selection.gopherRules(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text",
      20, 1000, 3.0, 4.7, Seq("the", "a", "and", "of", "to", "in", "is", "that"),
      2, 0.8, 0.06)
    assert(corpus.filter($"keep" =!= ($"r_words" && $"r_wordlen" && $"r_stop" &&
      $"r_alpha" && $"r_rep")).count() == 0)
  }

  test("soft dedup: every doc keeps one row, weight = 1/cluster-size, singletons 1.0") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val got = Dedup.softDedupWeights(docs, "doc_id", "text", 16, 4, 3, 0.2)
    assert(got.count() == docs.count())
    assert(got.select($"doc_id").distinct().count() == docs.count())
    // cross-check sizes against the cluster chain itself
    val comp = Dedup.connectedComponents(
      Dedup.nearDuplicatesLsh(docs, "doc_id", "text", 16, 4, 3)
        .filter($"jaccard" >= 0.2))
    val sizes = comp.groupBy($"label").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.collect().foreach { r =>
      val (id, label, csize, w) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      members.get(id) match {
        case Some(l) =>
          assert(label == l && csize == sizes(l))
          assert(w == BigDecimal(1.0 / csize)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        case None => assert(label == id && csize == 1L && w == 1.0)
      }
    }
    // weight-mass law: each n-doc cluster contributes n·round6(1/n) ≈ 1, so
    // Σ weights == #distinct labels within n·5e-7 rounding slack
    val totalW = got.agg(sum($"weight")).head().getDouble(0)
    val nClusters = got.select($"label").distinct().count()
    assert(math.abs(totalW - nClusters) < 1e-3,
      s"weight mass $totalW must approximate cluster count $nClusters")
  }

  test("temperature sampling: alpha=1 is identity, alpha<1 keeps the smallest domain whole") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    assert(graft.ops.Splits.temperatureMixture(docs, "lang", "doc_id", 1.0)
      .count() == n)
    val byLang = docs.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val smallest = byLang.minBy { case (l, c) => (c, l) }
    val kept = graft.ops.Splits.temperatureMixture(docs, "lang", "doc_id", 0.5)
      .groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // binding domain (argmax n^(α-1) = the smallest) survives whole
    assert(kept(smallest._1) == smallest._2)
    // flattening: the fitted THRESHOLDS (exact, hash-noise-free — realized
    // rates wobble ~sqrt(p(1-p)/n) and near-equal domains could invert)
    // are non-increasing as domain size grows, ties allowed
    val thr = graft.ops.Splits.temperatureThresholds(docs, "lang", 0.5).toMap
    val bySize = byLang.toSeq.sortBy { case (l, c) => (c, l) }
    bySize.sliding(2).foreach {
      case Seq((la, _), (lb, _)) =>
        assert(thr(la) >= thr(lb),
          s"threshold must not rise with domain size: $la=${thr(la)} $lb=${thr(lb)}")
      case _ =>
    }
  }

  test("loud guards: sparse DSIR artifacts and malformed cascade stages are refused") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val bt = graft.ops.Selection.dsirBucketTable(
      docs, "doc_id", "text", expr("lang = 'en'"), 64)
    // a filtered (sparse) artifact must fail loudly, not score missing
    // buckets as 0
    intercept[IllegalArgumentException] {
      graft.ops.Selection.dsirLr6Array(bt.filter($"bucket" < 10), 64)
    }
    // the dense artifact passes and covers every bucket
    assert(graft.ops.Selection.dsirLr6Array(bt, 64).length == 64)
    // multi-column keep-set: would silently join on the wrong column
    intercept[IllegalArgumentException] {
      graft.ops.Selection.cascadeReport(docs, "doc_id",
        Seq("bad" -> docs.select($"doc_id", $"lang")))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Selection.cascadeReport(docs, "doc_id", Seq.empty)
    }
  }

  test("cascade report: stages chain (n_in = previous n_out), counts match direct filters") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val evens = docs.filter($"doc_id" % 2 === 0).select($"doc_id")
    val third = docs.filter($"doc_id" % 3 === 0).select($"doc_id")
    val got = graft.ops.Selection.cascadeReport(docs, "doc_id",
        Seq("even" -> evens, "third" -> third))
      .orderBy($"stage_idx").collect()
    assert(got.map(_.getAs[String]("stage")).toSeq == Seq("even", "third"))
    assert(got(0).getAs[Long]("n_in") == docs.count())
    assert(got(0).getAs[Long]("n_out") == evens.count())
    // sequential attribution: stage 2 counts only docs that survived stage 1
    assert(got(1).getAs[Long]("n_in") == got(0).getAs[Long]("n_out"))
    assert(got(1).getAs[Long]("n_out") ==
      docs.filter($"doc_id" % 2 === 0 && $"doc_id" % 3 === 0).count())
    // monotone non-increasing by construction
    got.foreach(r => assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n_in")))
  }

  test("cascade by dimension: per-dim funnels sum to the global funnel") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val stages = Seq(
      "even" -> docs.filter($"doc_id" % 2 === 0).select($"doc_id"),
      "third" -> docs.filter($"doc_id" % 3 === 0).select($"doc_id"))
    val global = graft.ops.Selection.cascadeReport(docs, "doc_id", stages)
      .collect().map(r => r.getAs[Int]("stage_idx") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_out"))).toMap
    val byLang = graft.ops.Selection.cascadeReportBy(docs, "doc_id", "lang", stages)
    val summed = byLang.groupBy($"stage_idx")
      .agg(sum($"n_in").as("n_in"), sum($"n_out").as("n_out"))
      .collect().map(r => r.getAs[Int]("stage_idx") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_out"))).toMap
    assert(summed == global)
    // and each per-dim funnel chains internally
    val n = byLang.filter($"n_in" < $"n_out").count()
    assert(n == 0)
  }

  test("artifact serving == one-shot fit, bit-exact (CCNet assign, DSIR resample)") {
    // the r14 gates serve from fit-once pinned artifacts; this law pins
    // that serving against a stored fit IS the one-shot op — same rows,
    // same values — so the artifact path can never drift from the
    // oracle-gated semantics
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val lp = graft.ops.Selection.ccnetLpTable(docs, "doc_id", "text", "lang")
    val cuts = graft.ops.Selection.ccnetCuts(
      graft.ops.Selection.ccnetScore(docs, "doc_id", "text", "lang", lp))
    val served = graft.ops.Selection
      .ccnetAssign(docs, "doc_id", "text", "lang", lp, cuts)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.ops.Selection
      .ccnetBuckets(docs, "doc_id", "text", "lang")
      .collect().map(_.toSeq).toSet
    assert(served == oneShot)
    val isTarget = $"lang" === "en"
    val lr6 = graft.ops.Selection.dsirLr6Array(
      graft.ops.Selection.dsirBucketTable(docs, "doc_id", "text", isTarget, 64), 64)
    val rServed = graft.ops.Selection
      .dsirResampleAgainst(docs, "doc_id", "text", lr6, 64, 25)
      .collect().map(_.toSeq).toSet
    val rOneShot = graft.ops.Selection
      .dsirResample(docs, "doc_id", "text", isTarget, 64, 25)
      .collect().map(_.toSeq).toSet
    assert(rServed == rOneShot)
    // r15: the LSH pair-table artifact — every duplicate-graph consumer
    // served from a precomputed nearDuplicatesLsh table equals its one-shot
    // form (the FromPairs contract), including the jaccard-reuse split the
    // multimodal gate does (cached jaccard for artifact pairs, fresh verify
    // only for pairs from other generators)
    val pairTable = graft.ops.Dedup
      .nearDuplicatesLsh(docs, "doc_id", "text", 32, 4, 3)
      .localCheckpoint(false)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(
      keyed(graft.ops.Dedup.canonicalCorpusFromPairs(docs, "doc_id", pairTable, 0.2)) ==
      keyed(graft.ops.Dedup.canonicalCorpus(docs, "doc_id", "text", 32, 4, 3, 0.2)))
    assert(
      keyed(graft.ops.Dedup.softDedupWeightsFromPairs(docs, "doc_id", pairTable, 0.2)) ==
      keyed(graft.ops.Dedup.softDedupWeights(docs, "doc_id", "text", 32, 4, 3, 0.2)))
    // jaccard-reuse split == verify-everything, over a mixed candidate set
    // (artifact pairs ∪ an id-adjacent synthetic generator)
    val extra = docs.select(($"doc_id").as("id_a"), ($"doc_id" + 1).as("id_b"))
      .filter($"id_b" % 7 === 0)
    val allCands = pairTable.select($"id_a", $"id_b")
      .unionByName(extra).distinct()
    val embOnly = allCands
      .join(pairTable.select($"id_a", $"id_b"), Seq("id_a", "id_b"), "left_anti")
    val split = pairTable
      .select($"id_a", $"id_b", $"n_inter", $"n_union", $"jaccard")
      .unionByName(graft.ops.Dedup.jaccardVerify(embOnly, docs, "doc_id", "text", 3))
    val full = graft.ops.Dedup.jaccardVerify(allCands, docs, "doc_id", "text", 3)
    assert(keyed(split) == keyed(full))
  }

  test("CCNet buckets: per-lang score-ordered partition into head/middle/tail") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = graft.ops.Selection.ccnetBuckets(docs, "doc_id", "text", "lang")
    // every multi-token doc lands in exactly one bucket
    val eligible = docs.filter(size(graft.ops.TextOps.tokens($"text")) >= 2).count()
    assert(got.count() == eligible)
    // buckets are ordered by score WITHIN each language: min(head) >=
    // max(middle) fails only on cutpoint ties, which share a bucket by
    // construction — so the strict check is max(lower) <= min(upper)
    val stats = got.groupBy($"lang", $"bucket")
      .agg(min($"avg_logp").as("lo"), max($"avg_logp").as("hi"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val langs = stats.keys.map(_._1).toSet
    langs.foreach { l =>
      for (Seq(lower, upper) <- Seq("tail", "middle", "head").sliding(2)) {
        (stats.get(l -> lower), stats.get(l -> upper)) match {
          case (Some((_, loHi)), Some((upLo, _))) =>
            assert(loHi <= upLo, s"$l: max($lower)=$loHi > min($upper)=$upLo")
          case _ => // a tiny language may have an empty middle band
        }
      }
      // head is never empty (the max score is always >= its tercile
      // cutpoint); tail CAN be empty for tiny/tied languages — with 3
      // distinct-scored docs a<b<c, percentile_disc puts {b,c} in head and
      // {a} in middle — so only head-existence is an invariant
      assert(stats.contains(l -> "head"))
    }
  }
}
