package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Histogram
import graft.tdf.{TDF, TestSeams}

/** Port of the reference's core e2e suite (tests/test_misc.cxx TESTs 1-13) and
  * regression files onto Spark fixtures (FIXTURES.md F1/F2/F4).
  */
class TDFSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  // F2-analog fixture: b1 = 0..19 double, b2 = i*i int, dv growing array
  def fixture = {
    val rows = (0 until 20).map { i =>
      (i.toDouble, i * i, Seq(-1.0, 2.0, 3.0, 4.0) ++ (0 to i).map(_.toDouble))
    }
    rows.toDF("b1", "b2", "dv")
  }

  test("TEST 1: no-op filter does not change count") {
    val d = TDF(fixture)
    assert(d.Filter(lit(true)).Count()() == 20L)
  }

  test("TEST 2: forked actions on a shared filter, one trigger") {
    val d = TDF(fixture)
    val f = d.Filter($"b1" % 2 === 0)
    val c1 = f.Count()
    val c2 = f.Filter($"b2" > 25).Count()
    assert(c1() == 10L)
    assert(c2.isReady, "sibling action must be filled by the same shared run")
    assert(c2() == 7L) // b1 even and b1*b1>25 → b1 in {6,8,10,12,14,16,18}
  }

  test("TEST 3: default columns") {
    val d = TDF(fixture, defaultColumns = Seq("b1"))
    assert(d.Min()() == 0.0 && d.Max()() == 19.0)
    intercept[IllegalArgumentException] { TDF(fixture).Min()() }
  }

  test("TEST 4: laziness — nothing runs until first deref, then all run") {
    val d = TDF(fixture)
    val c = d.Count()
    val m = d.Mean("b1")
    assert(!c.isReady && !m.isReady)
    assert(c() == 20L)
    assert(m.isReady)
  }

  test("TEST 7/8: Define, filter on derived column, Define after Filter") {
    val d = TDF(fixture)
    val z = d.Define("z", $"b1" * 2).Filter($"z" >= 20)
    assert(z.Count()() == 10L)
    val zz = z.Define("z2", $"z" * $"z")
    assert(zz.Min("z2")() == 400.0)
  }

  test("TEST 9: Min/Max/Mean on scalar and array columns (golden values)") {
    val d = TDF(fixture)
    assert(d.Min("b2")() == 0.0)
    assert(d.Max("b2")() == 361.0)
    assert(d.Mean("b2")() == 123.5)
    // array golden values from FIXTURES.md F2
    assert(d.Min("dv")() == -1.0)
    assert(d.Max("dv")() == 19.0)
    assert(math.abs(d.Mean("dv")() - 5.1379310344827589) < 1e-12)
  }

  test("TEST 10: Take") {
    val d = TDF(fixture)
    val t = d.Filter($"b1" < 3).Take("b2")
    assert(t().map(_.toString.toInt).sorted == Seq(0, 1, 4))
  }

  test("TEST 11: re-booking after a run starts a fresh batch") {
    val d = TDF(fixture)
    assert(d.Count()() == 20L)
    val again = d.Filter($"b1" > 15).Count()
    assert(!again.isReady)
    assert(again() == 4L)
  }

  test("Define name collision throws (test_branchoverwrite)") {
    intercept[IllegalArgumentException] { TDF(fixture).Define("b1", lit(1)) }
    intercept[IllegalArgumentException] {
      TDF(fixture).Define("x", lit(1)).Define("x", lit(2))
    }
  }

  test("empty-input identities (regression_zeroentries), compat sentinels") {
    val d = TDF(fixture, compat = true).Filter(lit(false))
    assert(d.Count()() == 0L)
    assert(d.Min("b1")() == Double.MaxValue)
    assert(d.Max("b1")() == java.lang.Double.MIN_NORMAL)
    assert(d.Mean("b1")() == 0.0)
    assert(d.Take("b1")().isEmpty)
    val h = d.Histo("b1", 10, 0.0, 10.0)()
    assert(h.entries == 0L && h.counts.forall(_ == 0L))
  }

  test("histogram fixed-range: bins, under/overflow, stats") {
    val d = TDF(fixture)
    val h = d.Histo("b1", 4, 0.0, 20.0)()
    assert(h.counts.toSeq == Seq(5L, 5L, 5L, 5L))
    assert(h.underflow == 0L && h.overflow == 0L && h.entries == 20L)
    assert(h.mean == 9.5)
    val h2 = d.Histo("b1", 2, 5.0, 15.0)()
    assert(h2.underflow == 5L && h2.overflow == 5L)
    assert(h2.counts.toSeq == Seq(5L, 5L))
  }

  test("histogram auto-range covers min..max; array fill is elementwise") {
    val d = TDF(fixture)
    val h = d.Histo("b1", 10)()
    assert(h.lo == 0.0 && h.entries == 20L)
    assert(h.underflow == 0L && h.overflow == 0L)
    assert(h.counts.sum == 20L)
    val ha = d.Histo("dv", 5)()
    assert(ha.entries == fixture.select(sum(size($"dv"))).as[Long].head)
  }

  test("Report cut-flow with named filters") {
    val d = TDF(fixture)
    val rep = d.Filter("even", $"b2" % 2 === 0)
      .Filter("big", $"b2" > 25).Report()()
    assert(rep.map(c => (c.name, c.pass, c.all)) ==
      Seq(("even", 10L, 20L), ("big", 7L, 10L)))
  }

  test("Foreach via accumulator; ForeachSlot slot ids") {
    val d = TDF(fixture)
    val acc = spark.sparkContext.longAccumulator("n")
    d.Filter($"b1" > 9).Foreach(Seq("b2"))(r => acc.add(r.getInt(0)))
    assert(acc.value == (10 until 20).map(i => i * i).sum)
  }

  test("Foreach shares the batch: pending aggregates fill in the same trigger") {
    val d = TDF(fixture)
    val c = d.Count()
    val m = d.Mean("b1")
    val acc = spark.sparkContext.longAccumulator("x")
    d.Filter($"b1" < 5).Foreach(Seq("b1"))(_ => acc.add(1))
    assert(c.isReady && m.isReady, "pending aggregates must fill with the Foreach trigger")
    assert(c() == 20L && m() == 9.5 && acc.value == 5L)
  }

  test("Sum and Reduce") {
    val d = TDF(fixture)
    assert(d.Sum("b1")() == 190.0)
    assert(d.Reduce("b1")(_ + _) == 190.0)
    assert(d.Filter(lit(false)).Sum("b1")() == 0.0)
  }

  test("Accumulate: general typed fold (planned op, TDFGuide.md:379-381)") {
    val d = TDF(fixture)
    // accumulate (count, sum) in one typed fold
    val (n, s) = d.Accumulate("b1", (0L, 0.0)) {
      case ((c, sm), v) => (c + 1, sm + v)
    } { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) }
    assert(n == 20L && s == 190.0)
    // respects upstream filters; empty input returns init
    assert(d.Filter($"b1" > 100).Accumulate("b1", 7.0)(_ + _)(_ + _) == 7.0)
  }

  test("partition invariance: 1 vs 8 partitions give identical results") {
    val one = TDF(fixture.repartition(1))
    val eight = TDF(fixture.repartition(8))
    assert(one.Mean("b2")() == eight.Mean("b2")())
    val h1 = one.Histo("b1", 7, 0.0, 20.0)()
    val h8 = eight.Histo("b1", 7, 0.0, 20.0)()
    assert(h1.counts.toSeq == h8.counts.toSeq && h1.sumx == h8.sumx)
  }

  test("one fused Spark job per batch; cached results re-deref without new jobs") {
    // count distinct SQL executions (AQE legitimately splits one query into a
    // job per stage, so job count is the wrong fidelity metric)
    var actions = Seq.empty[graft.tdf.Result[_]]
    val run = SparkTest.runs(spark) {
      val d = TDF(fixture).Define("z", $"b1" * 3)
      val f = d.Filter($"z" > 10)
      actions = Seq(f.Count(), f.Sum("z"), d.Mean("b2"), f.Min("z"), d.Max("b1"))
      actions.head() // trigger
    }
    assert(run.executions == 1,
      s"5 fused aggregating actions must run as ONE SQL execution, got $run")
    val again = SparkTest.runs(spark) { actions.foreach(_.apply()) } // all cached
    assert(again.executions == 0,
      s"re-dereferencing filled results must not launch executions, got $again")
  }

  test("sibling forks: same-named defines with DIFFERENT lambdas do not merge") {
    // Two typed lambdas both lower to ScalaUDFs that render identically
    // (`UDF(b1)`), so textual comparison would silently merge them and the
    // second fork would compute with the FIRST fork's function. Column
    // equality keeps the function object in the comparison → the second
    // fork's define gets its own column, each fork keeps its own lambda.
    val run = SparkTest.runs(spark) {
      val d = TDF(fixture)
      val f1 = d.Define("z", (x: Double) => x * 2.0, Seq("b1"))
      val f2 = d.Define("z", (x: Double) => x * 10.0, Seq("b1"))
      val s1 = f1.Sum("z")
      val s2 = f2.Sum("z")
      assert(s1() == 380.0) // sum(b1) = 190, lambda ×2
      assert(s2.isReady, "the batch fills both forks in one trigger")
      assert(s2() == 1900.0, "second fork must compute with ITS lambda (×10)")
    }
    assert(run.executions == 1,
      s"conflicting same-named defines must share ONE execution, got $run")
  }

  test("sibling forks: same-named semantically-equal native defines still fuse") {
    val run = SparkTest.runs(spark) {
      val d = TDF(fixture)
      // two distinct Column objects, same canonical expression → one batch
      val s1 = d.Define("z", $"b1" * 3).Sum("z")
      val s2 = d.Define("z", $"b1" * 3).Filter($"z" > 30).Sum("z")
      assert(s1() == 570.0)
      assert(s2.isReady && s2() == (11 until 20).map(_ * 3.0).sum)
    }
    assert(run.executions == 1,
      s"semantically equal defines must stay fused in ONE execution, got $run")
  }

  test("conflicting defines with a chained define on both forks: one execution, each fork's answers") {
    val d = TDF(fixture)
    // fork 1: z = 2 b1, w = 2 b1 + 1, so w > 10 keeps b1 in 5..19;
    // fork 2: z = 10 b1, w = 10 b1 + 1, so w > 10 keeps b1 in 1..19
    // u is the same on both forks, so they share its column
    val f1 = d.Define("z", $"b1" * 2).Define("w", $"z" + 1).Define("u", $"b2" * 2)
      .Filter("w_cut", $"w" > 10)
    val f2 = d.Define("z", (x: Double) => x * 10.0, Seq("b1")).Define("w", "z + 1")
      .Define("u", $"b2" * 2).Filter("w_cut", $"w" > 10)
    val acc = spark.sparkContext.doubleAccumulator("fork2_foreach_z")
    val run = SparkTest.runs(spark) {
      val (s1, s2, r1, r2) = (f1.Sum("w"), f2.Sum("w"), f1.Report(), f2.Report())
      val (t1, h2, m) = (f1.Take("z"), f2.Histo("w", 4, 0.0, 200.0), d.Sum("b1"))
      val (u1, u2) = (f1.Sum("u"), f2.Sum("u"))
      f2.Foreach(Seq("z"))(r => acc.add(r.getDouble(0)))
      assert(Seq(s1, s2, r1, r2, t1, h2, m).forall(_.isReady))
      assert(s1() == (5 until 20).map(b => 2.0 * b + 1).sum)
      assert(s2() == (1 until 20).map(b => 10.0 * b + 1).sum)
      assert(r1().map(c => (c.name, c.pass, c.all)) == Seq(("w_cut", 15L, 20L)))
      assert(r2().map(c => (c.name, c.pass, c.all)) == Seq(("w_cut", 19L, 20L)))
      assert(t1().map(_.asInstanceOf[Double]) == (5 until 20).map(2.0 * _))
      assert(h2().counts.toSeq == Seq(4L, 5L, 5L, 5L) && h2().entries == 19L)
      assert(m() == 190.0)
      assert(u1() == (5 until 20).map(b => 2.0 * b * b).sum)
      assert(u2() == (1 until 20).map(b => 2.0 * b * b).sum)
    }
    assert(acc.value == (1 until 20).map(10.0 * _).sum)
    assert(run == SparkTest.Runs(jobs = 1, executions = 1), s"one pass, one job: $run")
  }

  test("a Foreach rides the fused fold: Foreach + Count + auto Histo, one job per pass") {
    val d = TDF(spark.range(0, 20, 1, 4).select($"id".cast("double").as("b1"), $"id"))
    val (c, h) = (d.Count(), d.Histo("b1", 4))
    val acc = spark.sparkContext.longAccumulator("fold_foreach")
    val slots = spark.sparkContext.collectionAccumulator[(Int, Long)]("fold_slots")
    val run = SparkTest.runs(spark) {
      d.Filter($"b1" >= 10).ForeachSlot(Seq("id")) { (slot, r) =>
        acc.add(r.getLong(0)); slots.add((slot, r.getLong(0)))
      }
    }
    assert(c.isReady && h.isReady, "pending aggregates must fill with the Foreach trigger")
    assert(c() == 20L && acc.value == (10 until 20).sum)
    assert(h().lo == 0.0 && h().entries == 20L && h().counts.toSeq == Seq(5L, 5L, 5L, 5L))
    import scala.jdk.CollectionConverters._
    // range partition i holds ids 5i until 5i + 5
    assert(slots.value.asScala.toSeq.sortBy(_._2) == (10L until 20L).map(i => ((i / 5).toInt, i)))
    assert(run == SparkTest.Runs(jobs = 1, executions = 1), s"one pass, one job: $run")
  }

  test("Reduce and Accumulate are booked actions: pending actions fill in the same job") {
    val d = TDF(fixture)
    val (c, m) = (d.Count(), d.Filter($"b1" < 5).Mean("b1"))
    var sum = 0.0
    val run = SparkTest.runs(spark) { sum = d.Filter($"b1" >= 10).Reduce("b1")(_ + _) }
    assert(sum == (10 until 20).sum.toDouble)
    assert(c.isReady && m.isReady && c() == 20L && m() == 2.0)
    assert(run == SparkTest.Runs(jobs = 1, executions = 1), s"one pass, one job: $run")
    val t = d.Take("b2")
    var acc = (0L, 0.0)
    val run2 = SparkTest.runs(spark) {
      acc = d.Filter($"b1" < 4).Accumulate("b2", (0L, 0.0)) {
        case ((n, s), v) => (n + 1, s + v)
      } { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    }
    assert(acc == ((4L, 14.0)) && t.isReady && t().length == 20)
    assert(run2 == SparkTest.Runs(jobs = 1, executions = 1), s"one pass, one job: $run2")
  }

  test("Reduce on an empty node throws what Dataset.reduce throws on empty input") {
    val want = intercept[Exception] { spark.emptyDataset[Double].reduce(_ + _) }
    for (df <- Seq(fixture, spark.range(0, 30, 1, 3).select($"id".cast("double").as("b1")))) {
      val got = intercept[Exception] { TDF(df).Filter($"b1" > 100).Reduce("b1")(_ + _) }
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage, got)
      // Accumulate's answer on the same empty node is its init
      assert(TDF(df).Filter($"b1" > 100).Accumulate("b1", 7.0)(_ + _)(_ + _) == 7.0)
    }
  }

  test("a failed run leaves its cause on every result it did not fill") {
    val d = TDF(fixture)
    val (bad, c) = (d.Min("no_such_column"), d.Count())
    val first = intercept[Exception] { bad() }
    for (r <- Seq(bad, c)) {
      val again = intercept[IllegalStateException] { r() }
      assert(again.getCause eq first)
      assert(!r.isReady)
    }
    // a throwing Foreach fails its batch-mates the same way
    val m = d.Mean("b1")
    val boom = intercept[Exception] {
      d.Foreach(Seq("b1"))(_ => throw new ArithmeticException("boom"))
    }
    assert(intercept[IllegalStateException] { m() }.getCause eq boom)
    // the context stays usable
    assert(d.Count()() == 20L)
  }

  test("review fixes: filterless Report, invalid histo axis, type mismatches") {
    // Report with zero filters → empty cut-flow, not empty.head crash
    assert(TDF(fixture).Report()().isEmpty)
    // invalid histogram axes rejected at booking
    intercept[IllegalArgumentException] { TDF(fixture).Histo("b1", 0, 0.0, 1.0) }
    intercept[IllegalArgumentException] { TDF(fixture).Histo("b1", 10, 5.0, 1.0) }
    intercept[IllegalArgumentException] { TDF(fixture).Histo("b1", 0) }
    // lo == hi is NOT an error: TH1 auto-range convention (reference default
    // Histo(branch, 128, 0., 0.) means "axis from data")
    val auto = TDF(fixture).Histo("b1", 10, 0.0, 0.0)()
    assert(auto.entries == 20L && auto.lo == 0.0 && auto.counts.sum == 20L)
    // as-of key-type mismatch rejected on the driver
    val l = Seq((1L, 1L)).toDF("k", "t")
    val r = Seq((1, 1L)).toDF("rk", "rt") // Int key vs Long key
    intercept[IllegalArgumentException] {
      graft.plans.AsOfJoin.join(l, r, "k", "rk", "t", "rt")
    }
    // non-double histogram input → analysis error, not executor crash
    val ex = intercept[Exception] {
      fixture.agg(graft.functions.HistogramAggExpr.histo(
        org.apache.spark.sql.functions.col("b2"), 4, 0.0, 10.0)).collect()
    }
    assert(ex.getMessage.contains("graft_histogram"))
  }

  test("CSV, JSON and ORC sources round-trip through the facade") {
    val csvDir = s"${SparkTest.scratchRoot}/graft_src_csv"
    val jsonDir = s"${SparkTest.scratchRoot}/graft_src_json"
    fixture.select($"b1", $"b2").write.mode("overwrite")
      .option("header", "true").csv(csvDir)
    fixture.select($"b1", $"b2").write.mode("overwrite").json(jsonDir)
    val fromCsv = TDF.readCsv(spark, csvDir)
    assert(fromCsv.Count()() == 20L && fromCsv.Sum("b1")() == 190.0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b1",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("b2",
        org.apache.spark.sql.types.IntegerType)))
    val fromJson = TDF.readJson(spark, jsonDir, Some(schema))
    assert(fromJson.Filter($"b2" > 25).Count()() == 14L) // i*i > 25 → i in 6..19
    // ORC round-trip: snapshot the skim to ORC, reopen, identical results
    val orc = TDF(fixture).Filter($"b2" > 25).SnapshotOrc(s"${SparkTest.scratchRoot}/graft_snap_orc")
    assert(orc.Count()() == 14L && orc.Sum("b1")() ==
      (6 until 20).map(_.toDouble).sum)
  }

  test("SnapshotPartitioned prunes; SnapshotBucketed joins shuffle-free") {
    val dir = s"${SparkTest.scratchRoot}/graft_snap_part"
    val d = TDF(fixture).Define("par", ($"b2" % 2).cast("string"))
      .SnapshotPartitioned(dir, Seq("par"))
    assert(d.Count()() == 20L)
    val pruned = spark.read.parquet(dir).filter($"par" === "0")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(par"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = TDF(fixture).SnapshotBucketed("graft_snap_bucketed", "b2", 4)
      assert(t.Count()() == 20L)
      val self = spark.table("graft_snap_bucketed")
        .join(spark.table("graft_snap_bucketed").select($"b2", $"b1".as("b1r")), Seq("b2"))
      assert(!self.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"), "bucketed self-join must not shuffle")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_snap_bucketed")
    }
  }

  test("SnapshotSorted writes range-disjoint files; binaryFile source lists by glob") {
    val dir = s"${SparkTest.scratchRoot}/graft_snap_sorted"
    val d = TDF(fixture).SnapshotSorted(dir, Seq("b1"), numFiles = 4)
    assert(d.Count()() == 20L)
    // each part file must cover a disjoint b1 range (this is what makes the
    // parquet min/max stats actionable for file/row-group skipping)
    val ranges = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"b1"), max($"b1")).collect()(0)
        (r.getDouble(0), r.getDouble(1))
      }.sortBy(_._1)
    assert(ranges.length == 4)
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo },
      s"file ranges must be disjoint: ${ranges.mkString(",")}")

    // binaryFile ingest: two files on disk, glob selects one at the listing
    val binDir = new java.io.File(s"${SparkTest.scratchRoot}/graft_bin_src")
    binDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(binDir, "a.jpg").toPath, Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(
      new java.io.File(binDir, "b.txt").toPath, Array[Byte](9))
    val jpgs = TDF.readBinaryFiles(spark, binDir.getAbsolutePath, Some("*.jpg"))
    val row = jpgs.toDF.select($"path", $"length", $"content").collect()
    assert(row.length == 1 && row(0).getLong(1) == 4L &&
      row(0).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3, 4))
  }

  test("SnapshotZOrdered clusters both dimensions into z-range-disjoint files") {
    val dir = s"${SparkTest.scratchRoot}/graft_snap_zorder"
    val d = TDF(fixture).SnapshotZOrdered(dir, "b2", "b1", numFiles = 4)
    assert(d.Count()() == 20L)
    val ranges = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map { f =>
        val z = graft.functions.ZOrder.zorder2($"b2", $"b1")
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(z), max(z)).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length == 4)
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo },
      s"z ranges must be disjoint: ${ranges.mkString(",")}")
  }

  test("SnapshotZOrderedN clusters three dimensions into z-range-disjoint files") {
    val dir = s"${SparkTest.scratchRoot}/graft_snap_zorder3"
    val d = TDF(fixture.withColumn("b3", ($"b2" * 7) % 20))
      .SnapshotZOrderedN(dir, Seq("b2", "b1", "b3"), numFiles = 4)
    assert(d.Count()() == 20L)
    val ranges = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map { f =>
        val z = graft.functions.ZOrder.zorderN(Seq($"b2", $"b1", $"b3"), 16)
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(z), max(z)).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length == 4)
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo },
      s"z ranges must be disjoint: ${ranges.mkString(",")}")
  }

  test("SnapshotZOrderedN at 4 columns: 60-bit budget clusters, 64 bits rejected") {
    val dir = s"${SparkTest.scratchRoot}/graft_snap_zorder4"
    val src = fixture
      .withColumn("b3", ($"b2" * 7) % 20)
      .withColumn("b4", ($"b1" * 3) % 20)
    // 4 cols x 15 bits = 60 <= 63: fine, and files stay z-range-disjoint
    val d = TDF(src).SnapshotZOrderedN(dir, Seq("b2", "b1", "b3", "b4"),
      numFiles = 4, bits = 15)
    assert(d.Count()() == 20L)
    val ranges = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map { f =>
        val z = graft.functions.ZOrder.zorderN(Seq($"b2", $"b1", $"b3", $"b4"), 15)
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(z), max(z)).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length == 4)
    assert(ranges.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo },
      s"z ranges must be disjoint: ${ranges.mkString(",")}")
    // 4 cols x default 16 bits = 64 > 63: the sign bit would corrupt the
    // interleave order — must be rejected up front
    intercept[IllegalArgumentException] {
      TDF(src).SnapshotZOrderedN(s"${SparkTest.scratchRoot}/graft_snap_zorder4_bad",
        Seq("b2", "b1", "b3", "b4"), numFiles = 4)
    }
  }

  test("compact rewrites a many-small-files directory into few files, data intact") {
    val src = s"${SparkTest.scratchRoot}/graft_compact_src"
    val dst = s"${SparkTest.scratchRoot}/graft_compact_dst"
    fixture.repartition(13).write.mode("overwrite").parquet(src)
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(src) > 1) // exact count varies (AQE may coalesce the shuffle)
    val c = TDF.compact(spark, src, dst) // 20 rows << 128 MB target -> 1 file
    assert(parts(dst) == 1)
    assert(c.Count()() == 20L && c.Sum("b1")() == (0 until 20).map(_.toDouble).sum)
    // plan check: coalesce is narrow — no exchange in the rewrite
    val plan = spark.read.parquet(src).coalesce(1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "compaction must not shuffle")
  }

  test("compactPartitions compacts each partition dir independently") {
    val src = s"${SparkTest.scratchRoot}/graft_compactp_src"
    val dst = s"${SparkTest.scratchRoot}/graft_compactp_dst"
    fixture.withColumn("par", ($"b2" % 2).cast("string"))
      .repartition(6).write.mode("overwrite").partitionBy("par").parquet(src)
    val c = TDF.compactPartitions(spark, src, dst)
    assert(c.Count()() == 20L)
    // each partition dir collapses to one file; the partition column survives
    Seq("par=0", "par=1").foreach { d =>
      val n = new java.io.File(s"$dst/$d").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(n == 1, s"$d has $n files")
    }
    assert(c.toDF.filter($"par" === "0").count() ==
      fixture.filter(($"b2" % 2) === 0).count())
  }

  test("compactPartitions recurses nested layouts and overlaps job execution") {
    val src = s"${SparkTest.scratchRoot}/graft_compactn_src"
    val dst = s"${SparkTest.scratchRoot}/graft_compactn_dst"
    fixture
      .withColumn("pa", ($"b2" % 2).cast("string"))
      .withColumn("pb", ($"b2" % 3).cast("string"))
      .repartition(6).write.mode("overwrite").partitionBy("pa", "pb").parquet(src)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxRunning = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        val r = running.incrementAndGet()
        maxRunning.updateAndGet(m => math.max(m, r))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        running.decrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val c =
      try TDF.compactPartitions(spark, src, dst)
      finally {
        // drain the async listener bus before reading the counters
        val deadline = System.nanoTime() + 10_000_000_000L
        while ((running.get() != 0 || started.get() == 0) && System.nanoTime() < deadline)
          Thread.sleep(20)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(c.Count()() == 20L)
    // every LEAF dir (pa=?/pb=?) compacts to one file; inner dirs survive
    val leafDirs = for {
      a <- new java.io.File(dst).listFiles().toSeq if a.getName.startsWith("pa=")
      b <- a.listFiles().toSeq if b.getName.startsWith("pb=")
    } yield b
    assert(leafDirs.nonEmpty)
    leafDirs.foreach { d =>
      val n = d.listFiles().count(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getPath} has $n files")
    }
    // both partition columns restored by discovery, values intact
    assert(c.toDF.filter($"pb" === "1").count() ==
      fixture.filter(($"b2" % 3) === 1).count())
    assert(maxRunning.get() >= 2,
      s"per-directory compactions must overlap (max concurrent = ${maxRunning.get()})")
  }

  test("profile histogram survives |y| beyond the long-square bound") {
    // yu*yu at yScale=0: 1.6e19 and 3.6e19 both exceed Long.MaxValue
    // (~9.22e18) — a long product would wrap silently; the decimal path keeps
    // the per-row squares exact. mean = 5e9, rms = 1e9.
    val df = Seq((1.0, 4.0e9), (1.0, 6.0e9)).toDF("x", "y")
    val r = TDF(df).HistoProfile("x", "y", 4, 0.0, 8.0, yScale = 0)
      .filter($"bin" === 0).collect()(0)
    assert(r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 5.0e9) < 1.0, s"y_mean = ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 1.0e9) < 1.0, s"y_rms = ${r.getDouble(3)}")
  }

  test("TEST 6: Histo model overload and no-arg default Histo") {
    val d = TDF(fixture, defaultColumns = Seq("b1"))
    // h3 analog: model axis copied, result independent of the model
    val model = graft.functions.Histogram.model(64, -8.0, 8.0)
    val h3 = d.Histo("dv", model)()
    assert(h3.nbins == 64 && h3.lo == -8.0 && h3.hi == 8.0)
    val expectedInRange = fixture.select(explode($"dv").as("e"))
      .where($"e" >= -8.0 && $"e" < 8.0).count()
    assert(h3.counts.sum == expectedInRange)
    assert(h3.entries == fixture.select(sum(size($"dv"))).as[Long].head)
    assert(model.entries == 0L, "model histogram must stay untouched")
    // identical to the explicit-axis overload
    val direct = d.Histo("dv", 64, -8.0, 8.0)()
    assert(h3.counts.toSeq == direct.counts.toSeq && h3.overflow == direct.overflow)
    // h1 analog: Histo() = default column, 128 bins, auto-range
    val h1 = d.Histo()()
    assert(h1.nbins == 128 && h1.entries == 20L && h1.underflow == 0L && h1.overflow == 0L)
  }

  test("TakeIterator streams large collects partition-by-partition") {
    // a size where a single collect_list row would be unreasonable
    val big = spark.range(0, 500000, 1, 32).toDF("v")
    val it = TDF(big).Filter($"v" % 2 === 0).TakeIterator("v")
    var n = 0L
    var sum = 0L
    it.foreach { v => n += 1; sum += v.asInstanceOf[Long] }
    assert(n == 250000L)
    assert(sum == (0L until 500000L by 2).sum)
  }

  test("review fixes: HistoWeighted auto-range, typed Foreach coerces columns") {
    // lo == hi auto-ranges for the weighted overload too (was: silent
    // degenerate axis with everything in under/overflow)
    val hw = TDF(fixture).HistoWeighted("b1", "b2", 10, 0.0, 0.0)()
    assert(hw.underflow == 0L && hw.overflow == 0L)
    assert(hw.counts.sum == (0 until 20).map(i => i * i).sum)
    // Int column through a Double-typed Foreach lambda: coerced, not CCE
    val acc = spark.sparkContext.doubleAccumulator("coerce")
    TDF(fixture).Foreach((x: Double) => acc.add(x), Seq("b2"))
    assert(acc.value == (0 until 20).map(i => i * i).sum.toDouble)
  }

  test("HistoWeightedD: decimal-summed bins exact, partition-invariant") {
    // weights chosen binary-exact so quantization is unambiguous:
    // 0.125*100 = 12.5 rounds HALF_UP to 13 units -> two fills = 0.26 exactly
    val df = Seq((0.5, 0.125), (0.5, 0.125), (1.5, -0.25), (2.5, 1.0), (-1.0, 2.0))
      .toDF("x", "w")
    def run(p: Int) = TDF(df.repartition(p))
      .HistoWeightedD("x", "w", 2, 0.0, 2.0, wScale = 2)
      .orderBy($"bin").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
    val expected = Seq((-1, 2.0, 1L), (0, 0.26, 2L), (1, -0.25, 1L), (2, 1.0, 1L))
    assert(run(1) == expected)
    assert(run(7) == expected)
  }

  test("error paths: unknown column, multi-default ambiguity (TEST 12/13 analog)") {
    val d = TDF(fixture)
    val r = d.Min("no_such_column")
    intercept[Exception] { r() } // surfaces at the shared run, like the reference trigger
    intercept[IllegalArgumentException] {
      TDF(fixture, defaultColumns = Seq("b1", "b2")).Min()
    }
  }

  test("typed-lambda surface: every reference callable shape (test_functiontraits)") {
    val d = TDF(fixture)
    // lambda (reference lambda2 analog)
    assert(d.Filter((x: Double) => x >= 10.0, Seq("b1")).Count()() == 10L)
    // eta-expanded free function (reference freeFun1 analog)
    assert(d.Filter(TDFSpecFns.isBigSquare _, Seq("b2")).Count()() == 10L)
    // function object / functor class (reference Functor1 analog)
    assert(d.Filter(TDFSpecFns.LessThan5, Seq("b1")).Count()() == 5L)
    // function value in a val (reference std::function analog)
    val stdFun: (Double, Int) => Boolean = (b1, b2) => b2 > b1
    assert(d.Filter(stdFun, Seq("b1", "b2")).Count()() == 18L) // b1*b1>b1 fails for 0,1
    // 3-arg shape
    assert(d.Filter((a: Double, b: Int, dv: Seq[Double]) => dv.length > a + b / 100,
      Seq("b1", "b2", "dv")).Count()() == 20L)
  }

  test("typed-lambda Define equals native-Column Define; Foreach typed") {
    val d = TDF(fixture)
    val lam = d.Define("y", (a: Double, b: Int) => a * 2 + b, Seq("b1", "b2")).Sum("y")()
    val nat = TDF(fixture).Define("y", $"b1" * 2 + $"b2").Sum("y")()
    assert(lam == nat)
    // named typed cut feeds the cut-flow Report
    val rep = TDF(fixture).Filter("pos", (x: Double) => x > 0.0, Seq("b1")).Report()()
    assert(rep.head.name == "pos" && rep.head.pass == 19L && rep.head.all == 20L)
    // typed Foreach: values arrive unwrapped
    val acc = spark.sparkContext.doubleAccumulator("tdf_typed_foreach")
    d.Foreach((x: Double) => acc.add(x), Seq("b1"))
    assert(acc.value == (0 until 20).sum.toDouble)
  }

  test("typed-lambda arity errors and default-column fallback (PickBranchNames)") {
    val d = TDF(fixture, defaultColumns = Seq("b1"))
    // default list satisfies arity 1
    assert(d.Filter((x: Double) => x >= 10.0).Count()() == 10L)
    // wrong explicit arity throws
    val e1 = intercept[IllegalArgumentException] {
      d.Filter((x: Double) => x > 0.0, Seq("b1", "b2"))
    }
    assert(e1.getMessage.contains("1 column"))
    // default list can't satisfy arity 2
    val e2 = intercept[IllegalArgumentException] {
      d.Filter((a: Double, b: Int) => b > a, Nil)
    }
    assert(e2.getMessage.contains("default"))
  }

  test("concurrent bookings and derefs on one shared context are thread-safe") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val d = TDF(fixture)
    val futs = (0 until 8).map { i =>
      Future { d.Filter($"b1" >= i.toDouble).Count()() }
    }
    val got = futs.map(Await.result(_, Duration.Inf))
    assert(got == (0 until 8).map(i => (20 - i).toLong),
      s"racing book/run must not lose or double-fill results, got $got")
  }

  test("TChain analog: multi-path read concatenates files") {
    val n1 = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count()
    val n2 = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").count()
    val chained = spark.read.parquet(
      "/root/testdata/sf0.001/lineitem.parquet",
      "/root/testdata/sf0.01/lineitem.parquet")
    assert(TDF(chained).Count()() == n1 + n2)
  }

  test("histogram chi2 comparison: identical → 0, shifted → positive") {
    val d = TDF(fixture)
    val h1 = d.Histo("b1", 10, 0.0, 20.0)
    val h2 = d.Histo("b1", 10, 0.0, 20.0)
    val h3 = d.Define("b1s", $"b1" + 7.0).Histo("b1s", 10, 0.0, 20.0)
    assert(h1().chi2Test(h2())._1 == 0.0)
    assert(h1().chi2Test(h3())._1 > 0.0)
    intercept[IllegalArgumentException] {
      h1().chi2Test(d.Histo("b1", 5, 0.0, 20.0)())
    }
  }

  test("array Sum and Mean skip null elements and count only non-null ones") {
    val d = TDF(Seq((1, Seq[java.lang.Double](1.0, null, 3.0)), (2, Seq[java.lang.Double](4.0)))
      .toDF("id", "a"))
    val (s, m, h) = (d.Sum("a"), d.Mean("a"), d.Histo("a", 4, 0.0, 8.0))
    assert(s() == 8.0)
    assert(m() == 8.0 / 3)
    assert(h().sumx == 8.0 && h().entries == 3L)
    assert(d.Min("a")() == 1.0 && d.Max("a")() == 4.0)
  }

  // integral values with nulls, NaN, -0.0 / 0.0, null and empty arrays,
  // null array elements, null and zero weights
  private def fusedData: DataFrame = (0 until 40).map { i =>
    val x =
      if (i % 11 == 3) None else if (i % 13 == 5) Some(Double.NaN)
      else if (i % 7 == 0) Some(-0.0) else if (i % 7 == 1) Some(0.0)
      else Some((i % 17 - 8).toDouble)
    val y = if (i % 9 == 4) None else if (i % 10 == 6) Some(-0.0) else Some((i * 7 % 23 - 11).toDouble)
    val a = i % 8 match {
      case 0 => None
      case 1 => Some(Seq.empty[Option[Double]])
      case 2 => Some(Seq(None, Some(-0.0), Some(3.0)))
      case _ => Some(Seq(Some((i % 5).toDouble), None, Some(-(i % 3).toDouble), Some(0.0)))
    }
    val w = i % 6 match { case 0 => None; case 1 => Some(0L); case _ => Some((i % 4).toLong) }
    (i, x, y, i * i % 50, a, w)
  }.toDF("id", "x", "y", "n", "a", "w")
  // filter chains: shared root, a two-deep chain, the same predicate under
  // two different parents
  private def fusedChains: Seq[(String, Seq[(String, Column)])] = Seq(
    "root" -> Nil,
    "pos" -> Seq("pos" -> ($"x" > 0)),
    "pos/even" -> Seq("pos" -> ($"x" > 0), "even" -> ($"id" % 2 === 0)),
    "even" -> Seq("even" -> ($"id" % 2 === 0)),
    "low/y" -> Seq("low" -> ($"id" < 25), "y" -> ($"y" > -3.0)))
  /** a histogram's axis, under/overflow, moments and bins */
  private def canon(h: Histogram): Seq[Any] =
    Seq(h.lo, h.hi, h.underflow, h.overflow, h.entries, h.sumx, h.sumx2) ++ h.counts
  /** doubles as their bits, so -0.0 differs from 0.0 and NaN equals NaN */
  private def bits(v: Seq[Any]): Seq[Any] = v.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case o => o
  }

  test("fused aggregate: every action kind on overlapping nodes equals the action run alone") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.ArrayType
    import graft.functions.HistogramAggExpr
    val (data, chains) = (fusedData, fusedChains)
    val cols = Seq("x", "y", "n", "a")

    def booked(df: DataFrame, compat: Boolean): Seq[(String, () => Seq[Any])] = {
      val d = TDF(df, compat = compat)
      chains.flatMap { case (name, chain) =>
        val t = chain.foldLeft(d) { case (n, (cut, p)) => n.Filter(cut, p) }
        def one[T](key: String, r: graft.tdf.Result[T])(f: T => Seq[Any]) =
          s"$name/$key" -> (() => f(r()))
        Seq(one("count", t.Count())(Seq(_)), one("take", t.Take("x"))(_.map(_.asInstanceOf[Double])),
          one("report", t.Report())(_.flatMap(c => Seq(c.pass, c.all))),
          one("histo x", t.Histo("x", 5, -4.0, 4.0))(canon),
          one("histo a", t.Histo("a", 4, -1.0, 3.0))(canon),
          one("auto y", t.Histo("y", 6))(canon), one("auto a", t.Histo("a", 3))(canon),
          one("weighted y", t.HistoWeighted("y", "w", 4, -10.0, 10.0))(canon),
          one("weighted auto a", t.HistoWeighted("a", "w", 3, 0.0, 0.0))(canon)) ++
          cols.flatMap { c =>
            Seq(one(s"sum $c", t.Sum(c))(Seq(_)), one(s"mean $c", t.Mean(c))(Seq(_)),
              one(s"min $c", t.Min(c))(Seq(_)), one(s"max $c", t.Max(c))(Seq(_)))
          }
      }
    }
    // each action alone, as plain DataFrame aggregations; histograms through
    // the standalone graft_histogram aggregate on the filtered frame
    // (an empty Mean/Min/Max is None here: its value depends on compat)
    def alone(df: DataFrame): Map[String, Seq[Any]] = {
      def vals(f: DataFrame, c: String) =
        if (f.schema(c).dataType.isInstanceOf[ArrayType]) f.select(explode(col(c).cast("array<double>")).as("e"))
        else f.select(col(c).cast("double").as("e"))
      def orElse(r: Row, i: Int, empty: Double): Double = if (r.isNullAt(i)) empty else r.getDouble(i)
      def histo(f: DataFrame, c: String, n: Int, lo: Double, hi: Double, w: Option[String]) = {
        val in = col(c).cast(if (f.schema(c).dataType.isInstanceOf[ArrayType]) "array<double>" else "double")
        val r = f.agg(w.fold(HistogramAggExpr.histo(in, n, lo, hi))(
          wc => HistogramAggExpr.histoWeighted(in, col(wc).cast("long"), n, lo, hi))).head().getStruct(0)
        Seq(lo, hi, r.getAs[Long]("underflow"), r.getAs[Long]("overflow"), r.getAs[Long]("entries"),
          r.getAs[Double]("sumx"), r.getAs[Double]("sumx2")) ++ r.getSeq[Long](r.fieldIndex("counts"))
      }
      def auto(f: DataFrame, c: String, n: Int, w: Option[String]) = {
        val r = vals(f, c).agg(min("e"), max("e")).head()
        val (mn, mx) = (orElse(r, 0, 0.0), orElse(r, 1, 1.0))
        val (lo, hi) = if (mn == mx) (mn - 0.5, mx + 0.5) else (mn, mx + (mx - mn) * 1e-9)
        histo(f, c, n, lo, hi, w)
      }
      chains.flatMap { case (name, chain) =>
        val f = chain.foldLeft(df) { case (g, (_, p)) => g.where(p) }
        val prefixes = chain.indices.map(i => chain.take(i + 1).foldLeft(df) { case (g, (_, p)) => g.where(p) }.count())
        (Seq("count" -> Seq(f.count()),
          "take" -> f.select("x").collect().toSeq.filterNot(_.isNullAt(0)).map(_.getDouble(0)),
          "report" -> (df.count() +: prefixes).sliding(2).toSeq.filter(_.size == 2).flatMap(p => Seq(p(1), p(0))),
          "histo x" -> histo(f, "x", 5, -4.0, 4.0, None), "histo a" -> histo(f, "a", 4, -1.0, 3.0, None),
          "auto y" -> auto(f, "y", 6, None), "auto a" -> auto(f, "a", 3, None),
          "weighted y" -> histo(f, "y", 4, -10.0, 10.0, Some("w")),
          "weighted auto a" -> auto(f, "a", 3, Some("w"))) ++
          cols.flatMap { c =>
            val r = vals(f, c).agg(sum("e"), avg("e"), min("e"), max("e")).head()
            Seq(s"sum $c" -> Seq(orElse(r, 0, 0.0))) ++
              Seq("mean", "min", "max").zipWithIndex.map { case (s, i) =>
                s"$s $c" -> Seq(if (r.isNullAt(i + 1)) None else r.getDouble(i + 1))
              }
          }).map { case (k, v) => s"$name/$k" -> v }
      }.toMap
    }
    // longs exact, doubles bit-equal (the data is integral, so no sum depends
    // on the order of its terms); Take is compared as a multiset
    def empty(k: String, compat: Boolean): Double =
      if (!compat) Double.NaN
      else if (k.contains("/mean ")) 0.0
      else if (k.contains("/min ")) Double.MaxValue
      else java.lang.Double.MIN_NORMAL
    for (input <- Seq(data.repartition(1), data.repartition(8), data.where(lit(false)))) {
      input.cache()
      val want = alone(input)
      for (compat <- Seq(false, true); (k, r) <- booked(input, compat)) {
        val (got, exp) = (bits(r()), bits(want(k).map { case None => empty(k, compat); case v => v }))
        val same =
          if (k.endsWith("/take")) got.map(_.asInstanceOf[Long]).sorted == exp.map(_.asInstanceOf[Long]).sorted
          else got == exp
        assert(same, s"$k (partitions ${input.rdd.getNumPartitions}, compat $compat): " +
          s"fused ${r()} vs alone ${want(k)}")
      }
      input.unpersist()
    }
  }

  test("auto-ranged histograms are bit-equal whether some, all or no slots' value counts cap out") {
    import org.apache.spark.sql.Row
    val mid = 3
    def histos(d: TDF): Seq[(String, graft.tdf.Result[Histogram])] = fusedChains.flatMap {
      case (name, chain) =>
        val t = chain.foldLeft(d) { case (n, (cut, p)) => n.Filter(cut, p) }
        Seq(s"$name/auto y" -> t.Histo("y", 6), s"$name/auto a" -> t.Histo("a", 3),
          s"$name/weighted auto a" -> t.HistoWeighted("a", "w", 3, 0.0, 0.0))
    }
    // each histogram's distinct values per slot, as its fold counts them
    def perSlot(input: DataFrame): Seq[Seq[Int]] = fusedChains.flatMap { case (_, chain) =>
      val rows = chain.foldLeft(input) { case (g, (_, p)) => g.where(p) }
        .select(spark_partition_id(), $"y", $"a", $"w").collect().toSeq
      def elems(r: Row) =
        if (r.isNullAt(2)) Nil else r.getSeq[Any](2).filter(_ != null).map(_.asInstanceOf[Double])
      def distinct(vals: Row => Seq[Double]) = (0 until input.rdd.getNumPartitions).map { p =>
        rows.filter(_.getInt(0) == p).flatMap(vals).map(java.lang.Double.doubleToRawLongBits).distinct.size
      }
      Seq(distinct(r => if (r.isNullAt(1)) Nil else Seq(r.getDouble(1))), distinct(elems),
        distinct(r => if (r.isNullAt(3) || r.getLong(3) == 0L) Nil else elems(r)))
    }
    for (input <- Seq(fusedData.repartition(1), fusedData.repartition(8))) {
      input.cache()
      val slots = perSlot(input)
      assert(slots.exists(_.exists(_ > mid)) && slots.exists(_.forall(_ <= mid)),
        s"cap $mid must cap out only some histograms' slots: $slots")
      if (input.rdd.getNumPartitions > 1)
        assert(slots.exists(s => s.exists(_ > mid) && s.exists(n => n > 0 && n <= mid)),
          s"cap $mid must cap out only some slots of a histogram: $slots")
      for (compat <- Seq(false, true)) {
        def run(cap: Int) = histos(TestSeams.withValueCap(input, cap, compat))
          .map { case (k, r) => k -> bits(canon(r())) }
        val exact = run(TestSeams.valueCap)
        for (cap <- Seq(0, mid)) {
          val got = run(cap)
          for (((k, g), (_, e)) <- got.zip(exact))
            assert(g == e, s"$k (partitions ${input.rdd.getNumPartitions}, compat $compat, cap $cap)")
        }
      }
      input.unpersist()
    }
  }

  test("an auto-ranged Histo capped out in a slot still runs exactly one fallback pass") {
    val df = spark.range(0, 20, 1, 4)
      .select($"id".cast("double").as("b1"), ($"id" % 2).cast("double").as("k"))
    def book(cap: Int) = {
      val d = TestSeams.withValueCap(df, cap)
      (d.Count(), d.Histo("b1", 4), d.Histo("k", 2))
    }
    val (c0, h0, k0) = book(TestSeams.valueCap)
    assert(SparkTest.runs(spark)(h0()) == SparkTest.Runs(jobs = 1, executions = 1))
    // each slot holds 5 distinct b1 values and 2 distinct k values
    val (c, h, k) = book(2)
    val run = SparkTest.runs(spark)(h())
    assert(run == SparkTest.Runs(jobs = 2, executions = 2), s"pass 1 and the fallback pass: $run")
    assert(c() == 20L && c0() == 20L)
    assert(bits(canon(h())) == bits(canon(h0())) && h().counts.toSeq == Seq(5L, 5L, 5L, 5L))
    assert(bits(canon(k())) == bits(canon(k0())) && k().counts.toSeq == Seq(10L, 10L))
  }

  test("the value counts of a pass share one budget: many slots fall back before they ship counts") {
    // 2,000 distinct values in each of 128 slots; 8 auto-ranged histograms
    // cut each slot's cap to the budget / (128 * 8)
    val (slots, autos, perSlot) = (128, 8, 2000)
    assert(TestSeams.valueBudget / (slots * autos) < perSlot && perSlot < TestSeams.valueCap)
    val df = spark.range(0L, slots.toLong * perSlot, 1L, slots).select(($"id" * 1.5).as("x"))
    def book(d: TDF) = (0 until autos).map(i => d.Histo("x", 16 + i))
    def shipped(d: TDF): (Seq[Seq[Any]], SparkTest.Runs, Long) = {
      val hs = book(d)
      var run: SparkTest.Runs = null
      val bytes = SparkTest.resultBytes(spark) { run = SparkTest.runs(spark)(hs.head()) }
      (hs.map(h => bits(canon(h()))), run, bytes)
    }
    val (budgeted, run, bytes) = shipped(TDF(df))
    val (capped, run0, bytes0) = shipped(TestSeams.withValueCap(df, 0))
    assert(run == SparkTest.Runs(jobs = 2, executions = 2) && run0 == run, s"$run, cap 0: $run0")
    assert(budgeted == capped)
    // every slot dropped its counts, so the tasks ship what they ship with no
    // counts at all, not the 128 * 8 * 2,000 16-byte entries (32 MB) they met
    assert(bytes <= bytes0 + bytes0 / 10, s"$bytes bytes shipped, $bytes0 with cap 0")
    // the same slots' values, 4 slots of them, fit the budget: one job
    val few = spark.range(0L, 4L * perSlot, 1L, 4).select(($"id" * 1.5).as("x"))
    val (one, run4, _) = shipped(TDF(few))
    val (one0, _, _) = shipped(TestSeams.withValueCap(few, 0))
    assert(run4 == SparkTest.Runs(jobs = 1, executions = 1) && one == one0, s"$run4")
  }

  test("value counts resolve the axis and bins a second pass does: infinities, signed zeros, nulls, constants, NaN") {
    // two slots; w = 0, 1, 2, 0, …, so a zero weight skips a value but its
    // value still widens the axis
    def frame(xs: Option[Double]*): DataFrame =
      spark.sparkContext.parallelize(xs.zipWithIndex.map { case (x, i) => (x, (i % 3).toLong) }, 2)
        .toDF("x", "w")
    def both(df: DataFrame): Seq[Histogram] = {
      val Seq(exact, capped) = Seq(TestSeams.valueCap, 0).map { cap =>
        val d = TestSeams.withValueCap(df, cap)
        Seq(d.Histo("x", 4), d.HistoWeighted("x", "w", 3, 0.0, 0.0)).map(_())
      }
      assert(exact.map(h => bits(canon(h))) == capped.map(h => bits(canon(h))))
      exact
    }
    val inf = both(frame(Some(1.0), Some(2.0), Some(Double.PositiveInfinity), Some(2.0)))
    assert(inf.forall(h => h.hi == Double.PositiveInfinity && h.overflow > 0L), inf)
    val negInf = both(frame(Some(Double.NegativeInfinity), Some(1.0), Some(2.0)))
    assert(negInf.head.lo == Double.NegativeInfinity && negInf.head.entries == 3L)
    for (zeros <- Seq(Seq(-0.0, 0.0, 1.0, -0.0), Seq(0.0, -0.0, 1.0, 0.0))) {
      val Seq(h, _) = both(frame(zeros.map(Some(_)): _*))
      assert(bits(Seq(h.lo)) == bits(Seq(zeros.head)) && h.counts.head == 3L, h)
    }
    for (h <- both(frame(None, None)) ++ both(frame()))
      assert(h.lo == 0.0 && h.hi == 1.000000001 && h.entries == 0L && h.counts.forall(_ == 0L))
    val Seq(const, constW) = both(frame(Some(3.0), Some(3.0), Some(3.0)))
    assert(const.lo == 2.5 && const.hi == 3.5 && const.counts.toSeq == Seq(0L, 0L, 3L, 0L))
    assert(constW.counts.toSeq == Seq(0L, 3L, 0L) && constW.entries == 3L)
    val nan = frame(Some(1.0), Some(Double.NaN))
    val msgs = Seq(TestSeams.valueCap, 0).map { cap =>
      intercept[IllegalArgumentException](TestSeams.withValueCap(nan, cap).Histo("x", 4)()).getMessage
    }
    assert(msgs.distinct.size == 1 && msgs.head.contains("resolved axis") &&
      msgs.head.contains("of 'x' is empty"), msgs)
  }

  test("an auto-ranged Histo keeps its maximum in range when the range is tiny next to the values") {
    val h = TDF(Seq(1e10, 1e10 + 0.5, 1e10 + 1).toDF("x")).Histo("x", 4)()
    assert(h.hi == math.nextUp(1e10 + 1))
    assert(h.overflow == 0L && h.counts.toSeq == Seq(1L, 1L, 0L, 1L), h.counts.toSeq)
    val t = TDF(Seq(0.0, 0.25, 0.5).map(1.7e9 + _).toDF("ts")).Histo("ts", 2)()
    assert(t.overflow == 0L && t.counts.toSeq == Seq(2L, 1L), t.counts.toSeq)
  }

  test("a frame with zero partitions gives every action its empty answer") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", DoubleType), StructField("s", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(df.rdd.getNumPartitions == 0)
    for (compat <- Seq(false, true)) {
      val d = TDF(df, compat = compat)
      val f = d.Filter("pos", $"x" > 0)
      val (n, s, m, mn, mx) = (f.Count(), f.Sum("x"), f.Mean("x"), f.Min("x"), f.Max("x"))
      val (fixed, auto, rep, take) = (f.Histo("x", 4, 0.0, 4.0), d.Histo("x", 3), f.Report(), f.Take("s"))
      assert(n() == 0L && s() == 0.0)
      if (compat) {
        assert(m() == 0.0 && mn() == Double.MaxValue && mx() == java.lang.Double.MIN_NORMAL)
      } else assert(m().isNaN && mn().isNaN && mx().isNaN)
      for (h <- Seq(fixed(), auto()))
        assert(h.entries == 0L && h.underflow == 0L && h.overflow == 0L && h.counts.forall(_ == 0L))
      assert(auto().lo == 0.0 && auto().hi == 1.000000001)
      assert(rep() == Seq(graft.tdf.CutInfo("pos", 0L, 0L)))
      assert(take().isEmpty)
    }
  }

  test("Take keeps collect()'s values, order and external types for non-numeric columns") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType),
      StructField("dec", DecimalType(12, 2)), StructField("day", DateType),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("arr", ArrayType(StringType))))
    val rows = (0 until 200).map { i =>
      def orNull(skip: Int, v: Any): Any = if (i % skip == 0) null else v
      Row(i, orNull(5, s"s$i"), orNull(7, new java.math.BigDecimal(i * 37).movePointLeft(2)),
        orNull(3, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong))),
        orNull(4, Row(i, if (i % 6 == 1) null else s"b$i")),
        orNull(9, Seq(s"a$i", null, "z")))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    assert(df.rdd.getNumPartitions == 8)
    val pred = $"id" % 3 =!= 1
    val f = TDF(df).Filter(pred)
    val cs = Seq("s", "dec", "day", "st", "arr")
    val (n, takes) = (f.Count(), cs.map(c => c -> f.Take(c)))
    assert(n() == df.where(pred).count())
    for ((c, t) <- takes) {
      val want = df.where(pred).select(c).collect().toSeq.map(_.get(0)).filter(_ != null)
      val got = t()
      assert(got.nonEmpty && got == want, s"Take($c)")
      assert(got.map(_.getClass) == want.map(_.getClass), s"Take($c) external types")
    }
  }

  /** a result as comparable values: a histogram through [[canon]], a Seq as itself */
  private def flat(v: Any): Seq[Any] = v match {
    case h: Histogram => canon(h)
    case s: Seq[_] => s
    case o => Seq(o)
  }

  test("a repeated chain compiles its fold once: a second deref on a fresh TDF adds no Janino compile") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val df = spark.range(0, 100, 1, 4).select($"id", ($"id" % 9).cast("double").as("x"),
      array(($"id" % 5).cast("double"), lit(1.0)).as("a"))
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // every op kind of the fold; `hi` is a constant of the fold, not of its shape
    def deref(hi: Double): (Seq[Any], Long) = {
      val before = compiles
      val f = TDF(df).Define("z", $"x" * 2).Filter($"id" % 2 === 0)
      val rs = Seq(f.Count(), f.Sum("z"), f.Mean("a"), f.Min("x"), f.Max("a"), f.Histo("z", 5, 0.0, hi),
        f.Histo("a", 4), f.HistoWeighted("x", "id", 3, 0.0, hi), f.Take("id"), f.Report())
      var acc = 0.0
      f.Foreach(Seq("x"))(_ => ())
      acc = f.Accumulate("x", 0.0)(_ + _)(_ + _)
      (bits(rs.flatMap(r => flat(r())) :+ acc), compiles - before)
    }
    val (first, _) = deref(20.0)
    val (second, added) = deref(20.0)
    assert(added == 0L, s"the second deref compiled $added classes")
    assert(second == first)
    val (_, other) = deref(40.0)
    assert(other == 0L, s"a deref with other histogram axes compiled $other classes")
  }

  test("a wide batch, 272 filter nodes and over 3,000 ops, runs as one job and equals each action alone") {
    import graft.functions.HistBuffer
    import graft.tdf.Result
    val data = spark.range(0, 2000, 1, 4).select(($"id" % 16).as("r"),
      (($"id" / 16).cast("long") % 16).as("c"), ($"id" * 37 % 101).cast("double").as("x"),
      ($"id" % 13 - 6).cast("double").as("y"), ($"id" % 3).as("w"))
    def one[T](key: String)(book: TDF => Result[T])(f: T => Seq[Any]) =
      key -> ((t: TDF) => { val r = book(t); () => f(r()) })
    // twelve ops on each node (Count and Report share its counter), a
    // counter on each root node and one on every entry: unsplit, the fold's
    // code would pass the JVM's 64 KB method limit
    val kinds = Seq(one("count")(_.Count())(Seq(_)), one("sum x")(_.Sum("x"))(Seq(_)),
      one("sum y")(_.Sum("y"))(Seq(_)), one("mean x")(_.Mean("x"))(Seq(_)),
      one("mean y")(_.Mean("y"))(Seq(_)), one("min x")(_.Min("x"))(Seq(_)),
      one("min y")(_.Min("y"))(Seq(_)), one("max x")(_.Max("x"))(Seq(_)),
      one("max y")(_.Max("y"))(Seq(_)), one("histo x")(_.Histo("x", 10, 0.0, 100.0))(canon),
      one("histo y")(_.Histo("y", 12, -6.0, 6.0))(canon),
      one("weighted y")(_.HistoWeighted("y", "w", 6, -6.0, 6.0))(canon),
      one("report")(_.Report())(_.flatMap(c => Seq(c.pass, c.all))))
    val nodes = for (i <- 0 until 16; j <- 0 until 16) yield (i, j)
    def node(d: TDF, i: Int, j: Int) = d.Filter($"r" === i).Filter($"c" < j)

    // the data is integral, so no sum depends on the order of its terms
    val rows = data.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    def expect(i: Int, j: Int): Map[String, Seq[Any]] = {
      val root = rows.filter(_._1 == i)
      val in = root.filter(_._2 < j)
      val (xs, ys) = (in.map(_._3).toSeq, in.map(_._4).toSeq)
      def orNaN(f: Seq[Double] => Double, vs: Seq[Double]) = if (vs.isEmpty) Double.NaN else f(vs)
      def histo(n: Int, lo: Double, hi: Double, vs: Seq[(Double, Long)]) = {
        val h = HistBuffer.empty(n)
        vs.foreach { case (v, wt) => if (wt != 0L) h.fill(v, wt, lo, hi, (hi - lo) / n) }
        Seq(lo, hi, h.underflow, h.overflow, h.entries, h.sumx, h.sumx2) ++ h.counts
      }
      Map("count" -> Seq(in.length.toLong), "sum x" -> Seq(xs.sum), "sum y" -> Seq(ys.sum),
        "mean x" -> Seq(orNaN(_.sum / in.length, xs)), "mean y" -> Seq(orNaN(_.sum / in.length, ys)),
        "min x" -> Seq(orNaN(_.min, xs)), "min y" -> Seq(orNaN(_.min, ys)),
        "max x" -> Seq(orNaN(_.max, xs)), "max y" -> Seq(orNaN(_.max, ys)),
        "histo x" -> histo(10, 0.0, 100.0, xs.map(_ -> 1L)),
        "histo y" -> histo(12, -6.0, 6.0, ys.map(_ -> 1L)),
        "weighted y" -> histo(6, -6.0, 6.0, in.toSeq.map(r => r._4 -> r._5)),
        "report" -> Seq(root.length.toLong, rows.length.toLong, in.length.toLong, root.length.toLong))
    }

    val d = TDF(data)
    val booked = nodes.map { case (i, j) => (i, j, kinds.map { case (k, book) => k -> book(node(d, i, j)) }) }
    val run = SparkTest.runs(spark) { booked.head._3.head._2() }
    assert(run == SparkTest.Runs(jobs = 1, executions = 1), s"one pass, one job: $run")
    for ((i, j, rs) <- booked; (k, r) <- rs)
      assert(bits(r()) == bits(expect(i, j)(k)), s"node ($i, $j) $k: fused ${r()} vs ${expect(i, j)(k)}")
    // a few actions each booked alone on a fresh TDF
    val fused = booked.map { case (i, j, rs) => (i, j) -> rs.toMap }.toMap
    for ((i, j) <- Seq((0, 0), (5, 9), (15, 15)); (k, book) <- kinds) {
      val alone = book(node(TDF(data), i, j))()
      assert(bits(alone) == bits(fused((i, j))(k)()), s"node ($i, $j) $k alone")
    }
  }

  test("Take, Foreach and Accumulate ride the aggregates' pass: one job") {
    val d = TDF(spark.range(0, 40, 1, 4).select($"id", ($"id" % 7).cast("double").as("x")))
    val f = d.Filter($"id" % 3 === 0)
    val (t, c, s, h, rep, m) = (f.Take("id"), f.Count(), f.Sum("x"), f.Histo("x", 7), f.Report(), d.Max("x"))
    val acc = spark.sparkContext.longAccumulator("mixed_foreach")
    val each = graft.tdf.TestSeams.bookForeach(f, Seq("id"))(r => acc.add(r.getLong(0)))
    var total = 0.0
    val run = SparkTest.runs(spark) { total = f.Accumulate("x", 0.0)(_ + _)(_ + _) }
    assert(run == SparkTest.Runs(jobs = 1, executions = 1), s"one pass, one job: $run")
    assert(Seq(t, c, s, h, rep, m, each).forall(_.isReady), "every pending action fills in the pass")
    val ids = (0L until 40L).filter(_ % 3 == 0)
    val xs = ids.map(i => (i % 7).toDouble)
    assert(t() == ids && c() == ids.size.toLong && acc.value == ids.sum)
    assert(s() == xs.sum && total == xs.sum && m() == 6.0)
    assert(h().lo == 0.0 && h().entries == ids.size.toLong && h().counts.sum == ids.size.toLong)
    assert(rep() == Seq(graft.tdf.CutInfo("filter_0", ids.size.toLong, 40L)))
  }

  test("Snapshot writes a skim and reopens it") {
    val dir = SparkTest.tempDir("graft_snap").toString + "/skim"
    val d = TDF(fixture).Filter($"b1" < 5).Snapshot(dir, Seq("b1", "b2"))
    assert(d.Count()() == 5L)
    assert(d.columns == Seq("b1", "b2"))
  }
}

/** top-level free functions for the eta-expansion shape in the
  * functiontraits tests (reference freeFun1/freeFun2)
  */
object TDFSpecFns {
  def isBigSquare(b2: Int): Boolean = b2 >= 100

  /** standalone function object (reference Functor1): must be serializable on
    * its own, unlike an anonymous Function1 in a test class (outer capture)
    */
  object LessThan5 extends (Double => Boolean) with Serializable {
    def apply(x: Double): Boolean = x < 5.0
  }
}
