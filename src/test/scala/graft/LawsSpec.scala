package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.tdf.TDF

/** ScalaCheck laws replacing the reference's compile-time property tests
  * (SURVEY §5): partition invariance, fork-equivalence, histogram mass
  * conservation, salted-join equivalence.
  */
object LawsSpec extends Properties("graft") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark = SparkTest.session
  import spark.implicits._

  private def fixture(n: Int) =
    (0 until n).map(i => (i.toDouble, (i * 31 % 97).toDouble)).toDF("a", "b")

  val smallN = Gen.choose(1, 200)
  val parts = Gen.choose(1, 9)
  val cut = Gen.choose(0.0, 100.0)

  property("partition invariance of fused actions") =
    Prop.forAll(smallN, parts, cut) { (n, p, c) =>
      val d1 = TDF(fixture(n).repartition(1)).Filter(col("b") <= c)
      val dp = TDF(fixture(n).repartition(p)).Filter(col("b") <= c)
      val (c1, s1, m1) = (d1.Count()(), d1.Sum("a")(), d1.Mean("b")())
      val (cp, sp, mp) = (dp.Count()(), dp.Sum("a")(), dp.Mean("b")())
      c1 == cp && s1 == sp && (m1 == mp || (m1.isNaN && mp.isNaN))
    }

  property("forked actions equal independent runs") =
    Prop.forAll(smallN, cut) { (n, c) =>
      val shared = TDF(fixture(n))
      val f = shared.Filter(col("b") > c)
      val forkCount = f.Count()
      val forkSum = f.Sum("a")
      forkCount() // one fused trigger fills both
      val soloCount = TDF(fixture(n)).Filter(col("b") > c).Count()()
      val soloSum = TDF(fixture(n)).Filter(col("b") > c).Sum("a")()
      forkCount() == soloCount && forkSum() == soloSum
    }

  property("histogram conserves mass: bins + under + over == entries") =
    Prop.forAll(smallN, Gen.choose(1, 64), Gen.choose(10.0, 90.0)) { (n, bins, hi) =>
      val h = TDF(fixture(n)).Histo("b", bins, 5.0, hi)()
      h.counts.sum + h.underflow + h.overflow == h.entries && h.entries == n.toLong
    }

  property("auto-ranged histogram has no under/overflow") =
    Prop.forAll(smallN, Gen.choose(1, 32)) { (n, bins) =>
      val h = TDF(fixture(n)).Histo("b", bins)()
      h.underflow == 0L && h.overflow == 0L && h.counts.sum == n.toLong
    }

  property("typed-lambda Filter equals native twin; native plan stays UDF-free") =
    Prop.forAll(smallN, cut) { (n, c) =>
      // the typed-lambda surface (§2.6) is the documented SLOW path: it
      // lowers to a ScalaUDF, which blocks predicate pushdown and codegen
      // fusion. This law keeps the perf cliff visible: both forms must agree
      // on results, the lambda plan must actually carry the UDF (we are
      // really exercising the slow path), and the native plan must carry
      // none (nobody silently moved the fast path onto a UDF).
      val m = math.max(n, 1) // shrinker can step outside the Gen range
      val native = TDF(fixture(m)).Filter(col("b") <= c)
      val lambda = TDF(fixture(m)).Filter((b: Double) => b <= c, Seq("b"))
      val sameAnswer = native.Count()() == lambda.Count()() &&
        native.Sum("a")() == lambda.Sum("a")()
      // plan inspection needs a non-foldable source: over a LocalRelation,
      // ConvertToLocalRelation evaluates even the UDF filter at optimization
      // time (pushing through a repartition first), and no Filter node
      // survives into the physical plan at all — a Range source cannot fold
      val src = spark.range(0, m.toLong)
        .select(($"id" % 97).cast("double").as("b"), $"id".cast("double").as("a"))
      val nativePlan = src.filter(col("b") <= c)
        .queryExecution.executedPlan.toString
      val lambdaPlan = src
        .filter(udf((b: Double) => b <= c).apply(col("b")))
        .queryExecution.executedPlan.toString
      sameAnswer &&
        !nativePlan.contains("UDF") && !nativePlan.contains("BatchEvalPython") &&
        lambdaPlan.contains("UDF")
    }

  property("random projection is linear: scaling commutes up to rounding") =
    Prop.forAll(Gen.choose(1, 20), Gen.choose(-4.0, 4.0)) { (n0, c) =>
      val n = math.max(n0, 1)
      val dim = 16
      val rows = (0 until n).map { i =>
        (i.toLong, (0 until dim).map(d => ((i * 31 + d * 17) % 97 - 48) / 10.0))
      }
      val df = rows.toDF("vec_id", "embedding")
      val scaled = df.select($"vec_id",
        transform($"embedding", x => x * c).as("embedding"))
      def proj(d: org.apache.spark.sql.DataFrame) =
        graft.ops.Similarity.randomProject(d, "vec_id", "embedding", 4, dim)
          .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
      val base = proj(df)
      // p(c·v) = c·p(v) exactly, up to the R6 rounding on each side
      proj(scaled).forall { case (id, comps) =>
        comps.zip(base(id)).forall { case (a, b) =>
          math.abs(a - b * c) <= 1e-6 * (1 + math.abs(c))
        }
      }
    }

  property("salted join equals plain join") =
    Prop.forAll(Gen.choose(2, 12), Gen.choose(1, 50)) { (salt, keys) =>
      val big = (0 until 300).map(i => (i % keys, i.toDouble)).toDF("k", "v")
      val small = (0 until keys).map(i => (i, s"name_$i")).toDF("k", "name")
      val plain = big.join(small, Seq("k")).groupBy("name")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .orderBy("name").collect().map(_.toSeq).toSeq
      val salted = graft.ops.Joins.salted(big, small, "k", salt).groupBy("name")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .orderBy("name").collect().map(_.toSeq).toSeq
      plain == salted
    }

  property("bloom-prefiltered join equals plain join (any fpp)") =
    Prop.forAll(Gen.choose(1, 40), Gen.choose(0.005, 0.3)) { (step, fpp) =>
      val probe = (0L until 400L).map(i => (i, i % 7)).toDF("k", "v")
      val build = (0L until 400L by step.toLong).map(i => (i, i * 2)).toDF("bk", "w")
      val plain = probe.join(build, col("k") === col("bk"))
        .select("k", "v", "w").collect().map(_.toSeq).sortBy(_.toString).toSeq
      val bloomed = graft.ops.Joins.bloomPrefiltered(probe, build, "k", "bk", 500L, fpp)
        .select("k", "v", "w").collect().map(_.toSeq).sortBy(_.toString).toSeq
      plain == bloomed
    }

  property("sessionize conserves events and cents, invariant under partitioning") =
    Prop.forAll(Gen.choose(1, 120), Gen.choose(1, 8), Gen.choose(1, 60)) { (n, p, gapMin) =>
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val events = (0 until n).map { i =>
        (i.toLong % 5, new java.sql.Timestamp(t0 + (i * 731 % 7200) * 1000L),
          (i % 13).toDouble, i.toLong)
      }.toDF("user_id", "ts", "value", "event_id")
      val sess = graft.streaming.Streams.sessionize(events.repartition(p), gapMin).toDF()
      val agg = sess.agg(sum("n_events"), sum("sum_cents")).collect()(0)
      val expCents = (0 until n).map(i => math.round((i % 13).toDouble * 100)).sum
      agg.getLong(0) == n.toLong && agg.getLong(1) == expCents
    }

  property("bucketized range join equals naive range join for any bucket width") =
    Prop.forAll(Gen.choose(0.5, 40.0), Gen.choose(1.0, 25.0)) { (width, span) =>
      val points = (0 until 300).map(i => (i.toLong, i * 0.73 - 30.0)).toDF("pid", "p")
      val ranges = (0 until 40).map(i => (i.toLong, i * 4.0 - 25.0, i * 4.0 - 25.0 + span))
        .toDF("rid", "lo", "hi")
      val naive = points.join(ranges, col("p") >= col("lo") && col("p") <= col("hi"))
        .select("pid", "rid").collect().map(_.toString).sorted.toSeq
      val bucketed = graft.ops.Joins
        .rangeBucketed(points, ranges, "p", "lo", "hi", width)
        .select("pid", "rid").collect().map(_.toString).sorted.toSeq
      naive == bucketed
    }

  property("decontamination flags partition the corpus; clean = kept; both sides non-trivial") =
    Prop.forAll(Gen.choose(9, 60), Gen.choose(2, 10)) { (n, mod) =>
      // shared prefix is 3 tokens (< n-gram width 5) so it alone contaminates
      // nothing; docs with i % 3 == 0 carry a full shared 5-gram that the
      // held-out set (which always contains doc 0) also carries — those are
      // contaminated, the rest must be kept
      val docs = (0 until n).map { i =>
        val leak = if (i % 3 == 0) " one two three four five" else s" u$i v$i w$i x$i y$i"
        (i.toLong, s"alpha beta gamma$leak tail$i")
      }.toDF("doc_id", "text")
      val held = docs.filter(col("doc_id") % mod === 0)
      val corpus = docs.filter(col("doc_id") % mod =!= 0)
      val f = graft.ops.Decontam.flags(corpus, "doc_id", "text", held, "text", 5)
      val total = corpus.count()
      val kept = f.filter(col("kept") === 1).count()
      val contaminated = f.filter(col("kept") === 0).count()
      val expectedContaminated = corpus.filter(col("doc_id") % 3 === 0).count()
      val clean = graft.ops.Decontam.clean(corpus, "doc_id", "text", held, "text", 5)
      f.count() == total && kept + contaminated == total &&
        contaminated == expectedContaminated && kept > 0 &&
        clean.count() == kept
    }

  property("fractional-epoch upsampling emits exactly floor(e)+frac-indicator copies") =
    Prop.forAll(Gen.choose(5, 40), Gen.choose(1L, 3999L)) { (n, ppmK) =>
      // e in (0.001, 4.0) quantized to ppm — brute-compute each key's copy
      // count with the same md5-ppm convention and compare multisets
      val e = ppmK / 1000.0
      val docs = (0 until n).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "dom")
      val got = graft.ops.Splits.upsampleEpochs(docs, "dom", "id", Seq("a" -> e))
        .groupBy(col("id")).agg(
          count(lit(1)).as("copies"),
          min(col("epoch")).as("emin"),
          max(col("epoch")).as("emax"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val ppm = math.round(e * 1e6)
      val expected = (0 until n).collect { case i if i % 2 == 0 =>
        val h = java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString).take(8), 16)
        val copies = ppm / 1000000L + (if (h % 1000000L < ppm % 1000000L) 1L else 0L)
        (i.toLong, copies)
      }.filter(_._2 > 0)
        .map { case (id, c) => (id, c, 0L, c - 1) }.toSeq
      got == expected
    }

  property("Bloom-prefiltered decontamination equals the broadcast form at any fpp") =
    Prop.forAll(Gen.choose(9, 60), Gen.choose(2, 10),
      Gen.oneOf(0.01, 0.05, 0.3)) { (n, mod, fpp) =>
      // same corpus construction as the flags law; the Bloom pass may only
      // ADD candidates (its false positives), which the exact string verify
      // must remove — so the two forms must agree row-for-row even at a
      // deliberately terrible fpp. expectedGrams deliberately UNDERSIZED
      // (raising the real FP rate further) to stress the verify.
      val docs = (0 until n).map { i =>
        val leak = if (i % 3 == 0) " one two three four five" else s" u$i v$i w$i x$i y$i"
        (i.toLong, s"alpha beta gamma$leak tail$i")
      }.toDF("doc_id", "text")
      val held = docs.filter(col("doc_id") % mod === 0)
      val corpus = docs.filter(col("doc_id") % mod =!= 0)
      val exact = graft.ops.Decontam.flags(corpus, "doc_id", "text", held, "text", 5)
        .collect().map(_.toString).sorted.toSeq
      val bloomed = graft.ops.Decontam.flagsBloomed(
          corpus, "doc_id", "text", held, "text", 5,
          expectedGrams = 8L, fpp = fpp)
        .collect().map(_.toString).sorted.toSeq
      exact == bloomed
    }

  // The driver gate now checks the sketch LAWS exactly (q_approx_sketch
  // emits exact values + in-query pass flags DuckDB asserts). Keep the
  // deeper local pin on the RAW sketch values — true-rank verification the
  // in-query quantile band can't do — plus the gate flags themselves.
  // Computed once (lazy) — the sketches are deterministic for fixed input,
  // the 8 ScalaCheck trials just re-read the cached booleans.
  private lazy val sketchVsExact: (Boolean, Boolean) = {
    val dir = "/root/testdata/sf0.01"
    val li = graft.Tables.lineitem(spark, dir)
    val sk = li.agg(
      approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
      approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median"))
      .head
    val ex = graft.SparkEntry.queries("q_distinct")(spark, dir).head
    val apxParts = sk.getAs[Long]("approx_parts")
    val exactParts = ex.getAs[Long]("n_parts")
    // approx_count_distinct at rsd=0.01: allow 5× the target rsd
    val cdOk = math.abs(apxParts - exactParts).toDouble / exactParts <= 0.05
    // approx_percentile(accuracy=1000) guarantees rank error <= n/1000; check
    // the returned value's true rank with 4× slack (+1 for tie rounding)
    val amed = sk.getAs[Double]("approx_median")
    val n = li.count()
    val rank = li.filter(col("l_extendedprice") <= amed).count()
    val pctOk = math.abs(rank - n / 2.0) <= 4.0 * n / 1000.0 + 1
    val gate = graft.SparkEntry.queries("q_approx_sketch")(spark, dir).head
    val flagsOk = gate.getAs[Int]("approx_parts_ok") == 1 &&
      gate.getAs[Int]("approx_median_ok") == 1
    (cdOk && flagsOk, pctOk && flagsOk)
  }

  property("approx_count_distinct within 5x target rsd of exact twin") =
    Prop.secure(sketchVsExact._1)

  property("approx_percentile median within documented rank error") =
    Prop.secure(sketchVsExact._2)

  // quantized-domain search trades exactness of the float ranking for 4×
  // smaller data — recall@k vs the float brute force is the documented cost.
  // Pin it on the real gate corpus (computed once; deterministic).
  private lazy val int8Recall: Double = {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fl = pairs(graft.ops.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    val i8 = pairs(graft.ops.Similarity.int8TopK(emb, q, "vec_id", "embedding", 5))
    (fl intersect i8).size.toDouble / fl.size
  }

  property("int8 quantized top-k recall@5 >= 0.8 vs float ranking") =
    Prop.secure(int8Recall >= 0.8)

  // the exact re-rank tail must never LOSE recall vs the raw approximate
  // ranking it shortlists from: anything the PQ top-k got right is in the
  // k' = 4k shortlist too, and the exact cosine ranks it at least as well
  private lazy val rerankRecalls: (Double, Double) = {
    val dir = "/root/testdata/sf0.01"
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(graft.ops.Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    val pqRaw = pairs(graft.ops.Similarity.pqTopK(
      emb, q, "vec_id", "embedding", 5, 4, 16, 64, trainIters = 1))
    val shortlist = graft.ops.Similarity.pqTopK(
      emb, q, "vec_id", "embedding", 20, 4, 16, 64, trainIters = 1)
    val reranked = pairs(graft.ops.Similarity.rerankTopK(
      shortlist, emb, q, "vec_id", "embedding", 5))
    ((truth intersect reranked).size.toDouble / truth.size,
      (truth intersect pqRaw).size.toDouble / truth.size)
  }

  property("exact re-rank of PQ shortlist (k'=4k) recall@5 >= raw PQ recall@5") =
    Prop.secure(rerankRecalls._1 >= rerankRecalls._2)

  // OPQ's rotation earns its keep exactly where plain PQ wastes codes: when
  // the energy sits entirely in one subspace, that subspace's nCodes cells
  // are all the resolution PQ has (the other subspace's codes quantize a
  // constant). The Hadamard rotation spreads the signal across both
  // subspaces, recovering nCodes^2 effective cells. Deterministic fixture
  // (seeded grid signal in dims 0-3, zeros in dims 4-7) -> stable outcome.
  private lazy val opqRecalls: (Double, Double) = {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 300L).map { i =>
      val sig = Seq.fill(4)(math.rint(rnd.nextDouble() * 200 - 100) / 100)
      (i, (sig ++ Seq.fill(4)(0.0)).map(_.toFloat).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 10)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth in the metric PQ approximates — exact squared L2,
    // computed driver-side on the 300-row fixture (cosine truth would
    // compare against a DIFFERENT ranking and mask the rotation's effect)
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble).toSeq }.toMap
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = (0L until 10L).flatMap { qi =>
      rows.collect { case (id, _) if id != qi => (id, sq(vecs(qi), vecs(id))) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(p => (qi, p._1))
    }.toSet
    val plain = pairs(graft.ops.Similarity.pqTopK(
      df, q, "vec_id", "embedding", 5, 2, 8, 8, trainIters = 1))
    val opq = pairs(graft.ops.Similarity.opqTopK(
      df, q, "vec_id", "embedding", 5, 2, 8, 8, trainIters = 1))
    val r = ((truth intersect opq).size.toDouble / truth.size,
      (truth intersect plain).size.toDouble / truth.size)
    println(s"[laws] OPQ recall@5 = ${r._1}, plain PQ recall@5 = ${r._2}, " +
      s"opq==plain sets: ${opq == plain}, |opq∩plain| = ${(opq intersect plain).size}")
    r
  }

  property("OPQ rotation recall@5 >= plain PQ recall@5 on anisotropic vectors") =
    Prop.secure(opqRecalls._1 >= opqRecalls._2)

  // the broadcast-matrix kernel must reproduce the literal-struct ranking
  // bit-for-bit for ANY centroid set — including exact rounded-cosine ties
  // (2-decimal vectors collide often), where the smaller cent id must win
  property("TopCentroids kernel equals literal-struct ranking on random vectors") =
    Prop.forAll(Gen.choose(2, 6), Gen.choose(0L, 1000000L)) { (nc, seed) =>
      val rnd = new scala.util.Random(seed)
      val dim = 4
      def nz(v: Seq[Double]) = if (v.forall(_ == 0.0)) v.updated(0, 0.5) else v
      def vec() = nz(Seq.fill(dim)(math.rint(rnd.nextDouble() * 200 - 100) / 100))
      val cents = (0L until nc.toLong).map(c => (c, vec())).toSeq
      val df = (0 until 15).map(i => (i.toLong, vec())).toDF("id", "v")
      val n = 1 + (seed % nc).toInt
      val litArr = slice(array_sort(array(cents.map { case (cid, cv) =>
        struct((graft.ops.Similarity.cosineR6($"v", array(cv.map(lit): _*)) * -1).as("negcos"),
          lit(cid).as("cid"))
      }: _*)), 1, n)
      df.select(
        graft.functions.CentroidExprs.topCentroids($"v", cents, n).as("a"),
        transform(litArr, x => x.getField("cid")).as("b"))
        .collect().forall(r => r.getSeq[Long](0) == r.getSeq[Long](1))
    }

  // decimal-summed weighted bins: total mass = the sum of HALF_UP-quantized
  // weights exactly, for any partitioning and any wScale
  property("weighted histogram conserves quantized mass under any partitioning") =
    Prop.forAll(Gen.choose(1, 150), Gen.choose(1, 8), Gen.choose(0, 4)) { (n, p, s) =>
      val rows = (0 until n).map(i => ((i % 11 - 2).toDouble, (i * 37 % 19 - 9) / 8.0))
      val unit = math.pow(10.0, s)
      def q(w: Double): Long = // Spark round() semantics: HALF_UP away from zero
        java.math.BigDecimal.valueOf(w * unit)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      val got = TDF(rows.toDF("x", "w").repartition(p))
        .HistoWeightedD("x", "w", 4, 0.0, 8.0, wScale = s)
        .agg(sum(col("w")), sum(col("n_fills"))).collect()(0)
      val expMass = rows.map(r => q(r._2)).sum / unit
      math.abs(got.getDouble(0) - expMass) < 1e-6 && got.getLong(1) == n.toLong
    }

  // profile bins derive mean/rms from exact integer sums, so any partitioning
  // reproduces the same doubles bit-for-bit as a local fold of the same chain
  property("profile histogram mean/rms are partition-invariant and exact") =
    Prop.forAll(Gen.choose(1, 150), Gen.choose(1, 8), Gen.choose(0, 4)) { (n, p, s) =>
      val rows = (0 until n).map(i => ((i % 13 - 2).toDouble, (i * 29 % 23 - 11) / 4.0))
      val unit = math.pow(10.0, s)
      def q(y: Double): Long =
        java.math.BigDecimal.valueOf(y * unit)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      val got = TDF(rows.toDF("x", "y").repartition(p))
        .HistoProfile("x", "y", 4, 0.0, 8.0, yScale = s)
        .collect().map(r => r.getInt(0) -> r).toMap
      rows.groupBy { case (x, _) =>
        if (x < 0.0) -1 else if (x >= 8.0) 4 else math.min((x / 2.0).toInt, 3)
      }.forall { case (bin, grp) =>
        val sy = grp.map(g => q(g._2)).sum
        val syy = grp.map(g => { val u = q(g._2); (u * u).toDouble }).sum
        val nf = grp.size.toDouble
        val mean = sy.toDouble / nf / unit
        val rms = math.sqrt(math.max(syy / nf / unit / unit - mean * mean, 0.0))
        val r = got(bin)
        r.getLong(1) == grp.size.toLong && r.getDouble(2) == mean &&
          r.getDouble(3) == rms
      }
    }

  // the Morton layout key is an exact bijection on [0,2^bits)^2: de-interleave
  // recovers both inputs, so z-range file pruning can never conflate cells
  property("zorder2 interleaves exactly; de-interleave recovers both inputs") =
    Prop.forAll(Gen.listOfN(20, Gen.zip(Gen.choose(0, 65535), Gen.choose(0, 65535)))) { pairs =>
      val got = pairs.toDF("x", "y")
        .select(col("x"), col("y"),
          graft.functions.ZOrder.zorder2(col("x"), col("y"), 16).as("z"))
        .collect()
      def deinter(z: Long, off: Int): Int =
        (0 until 16).map(b => (((z >> (2 * b + off)) & 1L) << b).toInt).sum
      got.forall(r =>
        deinter(r.getLong(2), 0) == r.getInt(0) && deinter(r.getLong(2), 1) == r.getInt(1))
    }

  // same bijection law in N dims: bit b of column i sits at k*b+i, so the
  // stride-k de-interleave recovers every input column exactly
  property("zorderN interleaves exactly; stride-k de-interleave recovers all inputs") =
    Prop.forAll(Gen.choose(2, 5),
      Gen.listOfN(20, Gen.listOfN(5, Gen.choose(0, 4095)))) { (k, rows) =>
      val bits = 12 // 5 cols x 12 bits = 60 <= 63
      val df = rows.map(r => (r(0), r(1), r(2), r(3), r(4)))
        .toDF("c0", "c1", "c2", "c3", "c4")
      val cols = (0 until k).map(i => col(s"c$i"))
      val got = df.select(
        (0 until 5).map(i => col(s"c$i")) :+
          graft.functions.ZOrder.zorderN(cols, bits).as("z"): _*)
        .collect()
      def deinter(z: Long, i: Int): Int =
        (0 until bits).map(b => (((z >> (k * b + i)) & 1L) << b).toInt).sum
      got.forall(r => (0 until k).forall(i => deinter(r.getLong(5), i) == r.getInt(i)))
    }

  // chunking laws: (1) chunk count is (max(len-ov,0)+step-1) div step with a
  // floor of one for non-empty docs; (2) offsets reconstruct — every chunk
  // equals substring(start, size) of the original; (3) concatenating chunks
  // with the overlap dropped recovers the document exactly (full coverage,
  // no gaps) — the property an embedding pipeline's provenance relies on
  property("chunking covers exactly: counts, offset reconstruction, lossless reassembly") =
    Prop.forAll(Gen.choose(0, 300), Gen.choose(2, 40), Gen.choose(0, 20)) { (len, size0, ov0) =>
      val ov = math.min(ov0, size0 - 1)
      val text = (0 until len).map(i => ('a' + i % 26).toChar).mkString
      val doc = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = graft.ops.TextOps.chunkDocuments(doc, "doc_id", "text", size0, ov)
        .orderBy(col("chunk_idx"))
        .collect().map(r => (r.getLong(2), r.getString(3)))
      val step = size0 - ov
      val expectedN = if (len == 0) 0 else math.max((len - ov + step - 1) / step, 1)
      val countOk = chunks.length == expectedN
      val offsetsOk = chunks.forall { case (s, c) =>
        c == text.substring(s.toInt - 1, math.min(s.toInt - 1 + size0, len)) }
      val reassembled = chunks.zipWithIndex.map {
        case ((_, c), 0) => c
        case ((_, c), _) => c.drop(ov)
      }.mkString
      countOk && offsetsOk && reassembled == text
    }

  // LM merge is associative-with-rebuild: merging any doc-split's two LMs
  // equals the LM of the whole corpus, bit-for-bit — counts are additive
  // and logp is a pure function of them (marker rows carry bigram-less
  // unigrams across the merge)
  property("bigram LM merge equals full rebuild for any corpus split") =
    Prop.forAll(Gen.choose(2, 24), Gen.choose(1, 5)) { (n, mod) =>
      val docs = (0 until n).map { i =>
        (i.toLong, (0 to i % 4).map(j => s"w${(i + j) % 7}").mkString(" "))
      }.toDF("doc_id", "text")
      val a = docs.filter(col("doc_id") % mod === 0)
      val b = docs.filter(col("doc_id") % mod =!= 0)
      val merged = graft.ops.TextOps.mergeBigramLms(
        graft.ops.TextOps.bigramLmTable(a, "text"),
        graft.ops.TextOps.bigramLmTable(b, "text"))
        .orderBy(col("w1"), col("w2")).collect().map(_.toSeq).toSeq
      val full = graft.ops.TextOps.bigramLmTable(docs, "text")
        .orderBy(col("w1"), col("w2")).collect().map(_.toSeq).toSeq
      merged == full
    }

  // BM25 stats merge is exact: merging per-half stats equals the one-shot
  // full-corpus build field-for-field, for any disjoint split — the law
  // that licenses never re-tokenizing the history when new docs arrive
  property("incremental BM25 stats merge equals full rebuild") =
    Prop.forAll(Gen.choose(9, 60), Gen.choose(2, 10)) { (n, mod) =>
      val docs = (0 until n).map { i =>
        (i.toLong, (0 to i % 5).map(j => s"w${(i + j) % 9}").mkString(" "))
      }.toDF("doc_id", "text")
      val a = docs.filter(col("doc_id") % mod === 0)
      val b = docs.filter(col("doc_id") % mod =!= 0)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("tok"), col("doc_id")).collect().map(_.toSeq).toSeq
      val merged = key(graft.ops.Retrieval.mergeBm25Stats(
        graft.ops.Retrieval.bm25StatsTable(a, "doc_id", "text"),
        graft.ops.Retrieval.bm25StatsTable(b, "doc_id", "text")))
      val full = key(graft.ops.Retrieval.bm25StatsTable(docs, "doc_id", "text"))
      merged == full
    }

  // the 100× amplification's structural claims, pinned without Spark: every
  // shard's alphabet map is a PERMUTATION (translate stays a bijection, so
  // within-shard token relations are isomorphic), any two shards' maps
  // DIFFER (shards stay content-disjoint — the scale ratios measure the
  // operator, not manufactured cross-shard duplicates), and for k < 26 the
  // affine map IS the old rotation (prior rounds' curve points bit-compat).
  property("amplification shard maps: bijective, pairwise distinct, rotation-compatible") =
    Prop.forAll(Gen.choose(0, 99), Gen.choose(0, 99)) { (k1, k2) =>
      val m1 = graft.examples.ScaleCurves.shardLetterMap(k1)
      val m2 = graft.examples.ScaleCurves.shardLetterMap(k2)
      val bijective = m1.toSet.size == 26
      val distinctIffDifferent = (k1 == k2) == (m1 == m2)
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val rotCompat = k1 >= 26 ||
        m1 == (lower.drop(k1) + lower.take(k1))
      bijective && distinctIffDifferent && rotCompat
    }

  // the DIGIT maps carry the same three claims over the smaller alphabet
  // (r15 ADVICE: the plain affine family has only 40 digit bijections, so
  // shards k and k+40 shared one — on a digit-bearing corpus that would
  // manufacture exactly the cross-shard overlap the 100× disjointness pin
  // claims to exclude; the k/40-keyed transposition restores injectivity,
  // and this law now pins it for the full k < 100 range amplifyDocs allows)
  property("amplification digit maps: bijective, pairwise distinct, rotation-compatible") =
    Prop.forAll(Gen.choose(0, 99), Gen.choose(0, 99)) { (k1, k2) =>
      val m1 = graft.examples.ScaleCurves.shardDigitMap(k1)
      val m2 = graft.examples.ScaleCurves.shardDigitMap(k2)
      val digits = "0123456789"
      val bijective = m1.toSet.size == 10
      val distinctIffDifferent = (k1 == k2) == (m1 == m2)
      val rotCompat = k1 >= 10 ||
        m1 == (digits.drop(k1) + digits.take(k1))
      bijective && distinctIffDifferent && rotCompat
    }

  // the forward (pair-scan, sorted-merge) BM25 scorer is bit-for-bit the
  // postings (join + hash-agg) scorer for any corpus, query subset, k and
  // excludeSelf — scores, matched-term counts, ranks and tiebreaks all equal.
  // This is the law that licenses picking the scorer by COST (dense terms →
  // forward; selective terms → postings) without a semantics question.
  property("forward BM25 scorer equals postings scorer exactly") =
    Prop.forAll(Gen.choose(6, 40), Gen.choose(1, 6), Gen.choose(1, 8),
      Gen.oneOf(true, false)) { (n, qmod, k, exSelf) =>
      val docs = (0 until n).map { i =>
        // mix of dense (w0..w3) and rare (r<i>) terms so both cost regimes
        // appear in the same corpus; duplicate texts exercise score ties
        val rare = if (i % 5 == 0) s" r$i" else ""
        (i.toLong, (0 to i % 4).map(j => s"w${(i + j) % 4}").mkString(" ") + rare)
      }.toDF("doc_id", "text")
      val stats = graft.ops.Retrieval.bm25StatsTable(docs, "doc_id", "text")
      val queries = docs.filter(col("doc_id") % qmod === 0)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
      val post = key(graft.ops.Retrieval.bm25TopKStored(
        stats, queries, "doc_id", "text", k, excludeSelf = exSelf))
      val fwd = key(graft.ops.Retrieval.bm25TopKStoredForward(
        stats, queries, "doc_id", "text", k, excludeSelf = exSelf))
      post == fwd
    }

  // count-min guarantees: every estimate dominates the true count (hash
  // collisions only inflate), and the counter matrix is additive across
  // corpus shards — the merge law that makes the sketch a persistable,
  // incrementally-maintained artifact like every count table here
  property("count-min estimates dominate true counts; sketch is shard-additive") =
    Prop.forAll(Gen.choose(5, 60), Gen.choose(2, 4), Gen.choose(8, 64),
      Gen.choose(2, 6)) { (n, d, w, mod) =>
      val docs = (0 until n).map { i =>
        (i.toLong, (0 to i % 4).map(j => s"w${(i * 7 + j) % 13}").mkString(" "))
      }.toDF("doc_id", "text")
      val truth = graft.ops.TextOps.topTokens(docs, "text", 1000)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sketch = graft.ops.TextOps.cmsTokenSketch(docs, "text", d, w)
      val est = graft.ops.TextOps.cmsEstimate(sketch,
          truth.keys.toSeq.toDF("tok"), d, w)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val dominates = truth.forall { case (t, c) => est(t) >= c }
      def key(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("row"), col("bucket")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val a = docs.filter(col("doc_id") % mod === 0)
      val b = docs.filter(col("doc_id") % mod =!= 0)
      val merged = graft.ops.TextOps.cmsTokenSketch(a, "text", d, w)
        .unionByName(graft.ops.TextOps.cmsTokenSketch(b, "text", d, w))
        .groupBy(col("row"), col("bucket")).agg(sum(col("n")).as("n"))
      dominates && key(merged) == key(sketch)
    }

  property("frame sampling emits exactly min(ceil(frames/stride), cap) frames") =
    Prop.forAll(Gen.choose(0, 400), Gen.choose(1, 5), Gen.choose(1, 8)) { (len, stride, cap) =>
      val doc = Seq((1L, "x" * len, len.toLong)).toDF("doc_id", "text", "n_chars")
      val media = graft.ops.Multimodal.attachBinary(doc, "doc_id", "text")
      val got = graft.ops.Multimodal.sampleFrames(media, "doc_id", 64, stride, cap).count()
      val nFrames = len / 64
      val expected = math.min((nFrames + stride - 1) / stride, cap)
      got == expected.toLong
    }

  // the incremental variant orders tokens by CORPUS dfs only (batch-novel
  // tokens rank rarest) — completeness must survive that order choice
  property("ppJoinIncremental equals brute-force cross jaccard join") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 3), Gen.choose(20, 90)) {
      (seed, shingleN, tPct) =>
        import graft.ops.Dedup
        val rnd = new scala.util.Random(seed)
        val vocab = Vector("a", "b", "c", "d", "e", "f", "zz", "qq")
        def doc() = Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val docs = (0 until 24).map(i => (i.toLong, doc())).toDF("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 14)
        val batch = docs.filter(col("doc_id") >= 14)
        val got = Dedup.ppJoinIncremental(corpus, batch, "doc_id", "text", shingleN, tPct)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        def sets(df: org.apache.spark.sql.DataFrame) =
          Dedup.shingleSets(df, "doc_id", "text", shingleN).filter(size(col("sh")) > 0)
        val brute = sets(corpus).select(col("id").as("id_a"), col("sh").as("sh_a"),
            size(col("sh")).cast("long").as("sz_a"))
          .crossJoin(sets(batch).select(col("id").as("id_b"), col("sh").as("sh_b"),
            size(col("sh")).cast("long").as("sz_b")))
          .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .filter(col("ni") * 100 >= lit(tPct.toLong) * (col("sz_a") + col("sz_b") - col("ni")))
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val r = got == brute
        if (!r) println(s"seed=$seed n=$shingleN t=$tPct missing=${(brute -- got).toSeq.sorted}")
        r
    }

  // kCore's peel must land on the true k-core for any graph: compare
  // against an in-memory reference peel (remove sub-k nodes until stable)
  // on random undirected graphs
  property("kCore equals the reference iterative peel") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 40), Gen.choose(1, 4)) {
      (seed, nEdges, k) =>
        import graft.ops.Graph
        val rnd = new scala.util.Random(seed)
        val raw = (0 until nEdges).map { _ =>
          val a = rnd.nextInt(12).toLong; val b = rnd.nextInt(12).toLong
          (math.min(a, b), math.max(a, b))
        }.filter { case (a, b) => a != b }.distinct
        // reference: peel in plain Scala
        var edges = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
        var changed = true
        while (changed) {
          val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
          val keep = deg.filter(_._2 >= k).keySet
          val ne = edges.filter { case (a, b) => keep(a) && keep(b) }
          changed = ne.size != edges.size
          edges = ne
        }
        val expected = edges.groupBy(_._1)
          .map { case (n, es) => (n, es.size.toLong) }.toSet
        if (raw.isEmpty) true
        else {
          val got = Graph.kCore(raw.toDF("src", "dst"), k)
            .as[(Long, Long)].collect().toSet
          val r = got == expected
          if (!r) println(s"seed=$seed k=$k got=$got expected=$expected")
          r
        }
    }

  // incremental containment admission orders tokens by CORPUS dfs only and
  // prefixes the BATCH side against the corpus's full postings —
  // completeness must survive both choices
  property("containmentJoinIncremental equals brute-force cross containment join") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 3), Gen.choose(20, 90)) {
      (seed, shingleN, tPct) =>
        import graft.ops.Dedup
        val rnd = new scala.util.Random(seed)
        val vocab = Vector("a", "b", "c", "d", "e", "f", "zz", "qq")
        def doc() = Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val docs = (0 until 24).map(i => (i.toLong, doc())).toDF("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 14)
        val batch = docs.filter(col("doc_id") >= 14)
        val got = Dedup.containmentJoinIncremental(corpus, batch, "doc_id", "text",
            shingleN, tPct)
          .select("id_b", "id_c").as[(Long, Long)].collect().toSet
        def sets(df: org.apache.spark.sql.DataFrame) =
          Dedup.shingleSets(df, "doc_id", "text", shingleN).filter(size(col("sh")) > 0)
        val brute = sets(batch).select(col("id").as("id_b"), col("sh").as("sh_b"),
            size(col("sh")).cast("long").as("sz_b"))
          .crossJoin(sets(corpus).select(col("id").as("id_c"), col("sh").as("sh_c")))
          .withColumn("ni", size(array_intersect(col("sh_b"), col("sh_c"))).cast("long"))
          .filter(col("ni") * 100 >= lit(tPct.toLong) * col("sz_b"))
          .select("id_b", "id_c").as[(Long, Long)].collect().toSet
        val r = got == brute
        if (!r) println(s"seed=$seed n=$shingleN t=$tPct missing=${(brute -- got).toSeq.sorted}")
        r
    }

  // the streaming SCD2 fold must land exactly on the batch build for ANY
  // time-ordered chunking — open-row stitching across batch boundaries
  // (merge-same-segment, close-different, carry-untouched) is where the
  // bugs live, so the chunk cuts are random ranks over the global
  // (ts, ord) order, including empty chunks
  property("streaming SCD2 fold equals the batch build under any time-ordered chunking") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 6)) { (seed, nChunks) =>
      import graft.ops.Scd2
      val rnd = new scala.util.Random(seed)
      val n = 60
      val rows = (0 until n).map { i =>
        (rnd.nextInt(5).toLong, 1700000000L + rnd.nextInt(1000), i.toLong,
          s"s${rnd.nextInt(3)}")
      }
      val ev = rows.toDF("user_id", "sec", "event_id", "event_type")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("user_id", "version", "segment", "valid_from", "valid_to",
            "n_rows", "is_current")
          .as[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
          .collect().toSet
      val expected = canon(Scd2.batch(ev, "user_id", "ts", "event_id", "event_type"))
      // chunk by rank over the global (ts, event_id) order
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))
      val ranked = ev.withColumn("__r", row_number().over(w)).localCheckpoint(true)
      val cuts = (Seq(0, n) ++ Seq.fill(nChunks - 1)(rnd.nextInt(n + 1))).sorted
      val empty = ev.limit(0)
      var open = Scd2.islands(empty, "user_id", "ts", "event_id", "event_type")
        .withColumnRenamed("bver", "version")
      var closed = open.withColumn("valid_to", lit(null).cast("timestamp"))
      cuts.zip(cuts.tail).foreach { case (lo, hi) =>
        val b = ranked.filter(col("__r") > lo && col("__r") <= hi).drop("__r")
        if (b.head(1).nonEmpty) {
          val (cd, no) = Scd2.foldBatch(open, b, "user_id", "ts", "event_id", "event_type")
          closed = closed.unionByName(cd).localCheckpoint(true)
          open = no.localCheckpoint(true)
        }
      }
      val got = canon(Scd2.finish(closed, open, "user_id"))
      val r = got == expected
      if (!r) println(s"seed=$seed cuts=$cuts missing=${(expected -- got).size} " +
        s"extra=${(got -- expected).size}")
      r
    }

  // transition counts are additive over a time-ordered chunking ONLY if the
  // boundary pairs (state's last event → batch's first) are stitched in —
  // random cuts over the global (ts, ord) order, empty chunks allowed
  property("streaming transition fold equals the batch matrix under any chunking") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 6)) { (seed, nChunks) =>
      import graft.ops.Transitions
      val rnd = new scala.util.Random(seed)
      val n = 50
      val rows = (0 until n).map { i =>
        (rnd.nextInt(4).toLong, 1700000000L + rnd.nextInt(500), i.toLong,
          s"s${rnd.nextInt(3)}")
      }
      val ev = rows.toDF("user_id", "sec", "event_id", "event_type")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("from_event", "to_event", "n")
          .as[(String, String, Long)].collect().toSet
      val expected = canon(
        Transitions.batchCounts(ev, "user_id", "ts", "event_id", "event_type"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))
      val ranked = ev.withColumn("__r", row_number().over(w)).localCheckpoint(true)
      val cuts = (Seq(0, n) ++ Seq.fill(nChunks - 1)(rnd.nextInt(n + 1))).sorted
      val empty = ev.limit(0)
      var state = empty.select(col("user_id"), col("event_type").as("attr"))
      var deltas = Transitions.batchCounts(empty, "user_id", "ts", "event_id", "event_type")
      cuts.zip(cuts.tail).foreach { case (lo, hi) =>
        val b = ranked.filter(col("__r") > lo && col("__r") <= hi).drop("__r")
        if (b.head(1).nonEmpty) {
          val (d, ns) = Transitions.foldBatch(state, b, "user_id", "ts",
            "event_id", "event_type")
          deltas = deltas.unionByName(d).localCheckpoint(true)
          state = ns.localCheckpoint(true)
        }
      }
      val got = canon(Transitions.finish(deltas))
      val r = got == expected
      if (!r) println(s"seed=$seed cuts=$cuts missing=${(expected -- got).toSeq} " +
        s"extra=${(got -- expected).toSeq}")
      r
    }

  // prefix filtering's whole claim is COMPLETENESS: every pair at or above
  // the threshold must survive the candidate pruning, for any corpus,
  // shingle width and threshold — compare against the brute-force
  // all-pairs join on random corpora
  property("ppJoin equals brute-force jaccard join (no pair lost to prefix pruning)") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 3), Gen.choose(20, 90)) {
      (seed, shingleN, tPct) =>
        import graft.ops.Dedup
        val rnd = new scala.util.Random(seed)
        val vocab = Vector("a", "b", "c", "d", "e", "f")
        def doc() = Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val docs = (0 until 25).map(i => (i.toLong, doc())).toDF("doc_id", "text")
        val got = Dedup.ppJoin(docs, "doc_id", "text", shingleN, tPct)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val sets = Dedup.shingleSets(docs, "doc_id", "text", shingleN)
          .filter(size(col("sh")) > 0)
        val brute = sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
            size(col("sh")).cast("long").as("sz_a"))
          .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
            size(col("sh")).cast("long").as("sz_b")), col("id_a") < col("id_b"))
          .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .filter(col("ni") * 100 >= lit(tPct.toLong) * (col("sz_a") + col("sz_b") - col("ni")))
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val r = got == brute
        if (!r) println(s"seed=$seed n=$shingleN t=$tPct missing=${(brute -- got).toSeq.sorted} extra=${(got -- brute).toSeq.sorted}")
        r
    }

  // the containment join's one-sided prefix filter (A's rarest tokens vs
  // B's FULL postings) must lose no ordered pair at |A∩B|/|A| ≥ t, for any
  // corpus, shingle width and threshold — the asymmetric sibling of the
  // ppJoin completeness law
  property("containmentJoin equals brute-force containment join") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 3), Gen.choose(20, 90)) {
      (seed, shingleN, tPct) =>
        import graft.ops.Dedup
        val rnd = new scala.util.Random(seed)
        val vocab = Vector("a", "b", "c", "d", "e", "f")
        def doc() = Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val docs = (0 until 25).map(i => (i.toLong, doc())).toDF("doc_id", "text")
        val got = Dedup.containmentJoin(docs, "doc_id", "text", shingleN, tPct)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val sets = Dedup.shingleSets(docs, "doc_id", "text", shingleN)
          .filter(size(col("sh")) > 0)
        val brute = sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
            size(col("sh")).cast("long").as("sz_a"))
          .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")),
            col("id_a") =!= col("id_b"))
          .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .filter(col("ni") * 100 >= lit(tPct.toLong) * col("sz_a"))
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val r = got == brute
        if (!r) println(s"seed=$seed n=$shingleN t=$tPct missing=${(brute -- got).toSeq.sorted} extra=${(got -- brute).toSeq.sorted}")
        r
    }

  // fixed-point PageRank's whole value proposition is determinism: the
  // scaled-long updates must be partition-invariant (no float sum ever
  // sneaks in), and the truncation dust must stay within the documented
  // bound — each round loses < 1 unit per edge (contribution div) plus
  // < 2 per node (base div + damping div), on top of < 1/node at init.
  property("fixed-point PageRank is partition-invariant with bounded mass drift") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(2, 30), Gen.choose(1, 4)) {
      (seed, nEdges, iters) =>
        import graft.ops.Graph
        val rnd = new scala.util.Random(seed)
        val raw = (0 until nEdges).map { _ =>
          (rnd.nextInt(8).toLong, rnd.nextInt(8).toLong, (1 + rnd.nextInt(5)).toLong)
        }.filter { case (s, d, _) => s != d }
        if (raw.isEmpty) true
        else {
          val e = raw.toDF("src", "dst", "w")
          val edges = e.union(e.select(col("dst"), col("src"), col("w")))
          def run(df: org.apache.spark.sql.DataFrame) =
            Graph.pageRankFixedPoint(df, iters, 85)
              .as[(Long, Long)].collect().toMap
          val a = run(edges.repartition(1))
          val b = run(edges.repartition(7, col("dst")))
          val nN = a.size.toLong
          val nE = edges.count()
          val drift = math.abs(a.values.sum - Graph.SCALE)
          val bound = iters * (nE + 2 * nN) + nN
          val r = a == b && drift <= bound
          if (!r) println(s"seed=$seed drift=$drift bound=$bound eq=${a == b}")
          r
        }
    }

  // the personalized form inherits the same determinism contract: identical
  // results under any partitioning, and total mass stays within the same
  // truncation bound (teleport mass is seed-confined but bounded alike)
  property("personalized PageRank is partition-invariant with bounded mass drift") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(2, 30), Gen.choose(1, 4)) {
      (seed, nEdges, iters) =>
        import graft.ops.Graph
        val rnd = new scala.util.Random(seed)
        val raw = (0 until nEdges).map { _ =>
          (rnd.nextInt(8).toLong, rnd.nextInt(8).toLong, (1 + rnd.nextInt(5)).toLong)
        }.filter { case (s, d, _) => s != d }
        if (raw.isEmpty) true
        else {
          val e = raw.toDF("src", "dst", "w")
          val edges = e.union(e.select(col("dst"), col("src"), col("w")))
          // seeds: even-id nodes present in the graph (nonempty: node ids
          // 0..7 and at least one edge exists, so some endpoint is even or
          // we fall back to the smallest node)
          val nodeIds = raw.flatMap { case (s, d, _) => Seq(s, d) }.distinct
          val seedIds = {
            val evens = nodeIds.filter(_ % 2 == 0)
            if (evens.nonEmpty) evens else nodeIds.take(1)
          }
          val seeds = seedIds.toDF("node")
          def run(df: org.apache.spark.sql.DataFrame) =
            Graph.personalizedPageRank(df, seeds, iters, 85)
              .as[(Long, Long)].collect().toMap
          val a = run(edges.repartition(1))
          val b = run(edges.repartition(7, col("dst")))
          val nN = a.size.toLong
          val nE = edges.count()
          val drift = math.abs(a.values.sum - Graph.SCALE)
          val bound = iters * (nE + 2 * nN) + nN
          val r = a == b && drift <= bound
          if (!r) println(s"seed=$seed drift=$drift bound=$bound eq=${a == b}")
          r
        }
    }

  // incremental MV maintenance is EXACT and batching-invariant: random base
  // and target tables (overlapping keys -> updates, including group-moving
  // ones; disjoint keys -> inserts/deletes), the maintained view equals a
  // full rebuild, and folding the CDC in random key-disjoint slices lands on
  // the same view (additivity — the property that makes per-micro-batch
  // maintenance sound).
  property("incremental agg MV maintenance equals rebuild under any CDC slicing") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 4)) { (seed, nSlices) =>
      import graft.ops.Materialize
      val rnd = new scala.util.Random(seed)
      def rows(ids: Seq[Int]) = ids.map { i =>
        (i.toLong, (rnd.nextInt(5)).toLong, s"g${rnd.nextInt(3)}", rnd.nextInt(100).toLong)
      }
      val n = 60
      val baseIds = (0 until n).filter(_ => rnd.nextDouble() < 0.7)
      val newIds = (0 until n).filter(_ => rnd.nextDouble() < 0.7)
      val base = rows(baseIds).toDF("k", "dim_a", "dim_b", "m")
      val target = rows(newIds).toDF("k", "dim_a", "dim_b", "m")
      val dims = Seq("dim_a", "dim_b")
      val mv = Materialize.buildAggMv(base, dims, Seq("m"))
      val cdc = graft.streaming.Streams.diffFrames(base, target, Seq("k"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("dim_a", "dim_b", "n", "m").as[(Long, String, Long, Long)]
          .collect().toSet
      val rebuilt = canon(Materialize.buildAggMv(target, dims, Seq("m")))
      val oneShot = canon(Materialize.applyAggDelta(mv, cdc, dims, Seq("m")))
      // key-disjoint slices by key range; empty slices allowed
      val cuts = (Seq(0, n) ++ Seq.fill(nSlices - 1)(rnd.nextInt(n + 1))).sorted
      var acc = mv
      cuts.zip(cuts.tail).foreach { case (lo, hi) =>
        val slice = cdc.filter(col("k") >= lo && col("k") < hi)
        acc = Materialize.applyAggDelta(acc, slice, dims, Seq("m")).localCheckpoint(true)
      }
      val sliced = canon(acc)
      val r = oneShot == rebuilt && sliced == rebuilt
      if (!r) println(s"seed=$seed slices=$cuts oneShot==${oneShot == rebuilt} " +
        s"sliced-rebuilt=${(sliced -- rebuilt).toSeq}")
      r
    }

  // streaming semantic dedup's order contract, closed under ANY micro-batch
  // chunking: folding semanticDedupStep over random ascending-id slices must
  // reproduce batch semanticDedup's kept set EXACTLY — including when the
  // owner cap truncates clusters mid-stream and when a slice is empty. This
  // is the law the streaming gate's fixed 3-batch replay cannot witness.
  property("streaming semantic dedup kept set is micro-batch-boundary-invariant") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1, 6)) { (seed, nBatches) =>
      import graft.ops.Similarity
      val rnd = new scala.util.Random(seed)
      val dim = 4
      def nz(v: Seq[Double]) = if (v.forall(_ == 0.0)) v.updated(0, 0.5) else v
      def vec() = nz(Seq.fill(dim)(math.rint(rnd.nextDouble() * 20 - 10) / 10))
      val n = 40
      val df = (0 until n).map(i => (i.toLong, vec())).toDF("id", "v")
      val (minCos, nCents, maxBucket) = (0.5, 3, 5) // tiny cap: exercise truncation
      val batchKept = Similarity.semanticDedup(
          df, "id", "v", minCos, nCents, trainIters = 0, maxBucket = maxBucket)
        .select(col("id")).as[Long].collect().toSet
      // the step fold shares semanticDedup's exact centroid/assignment chain
      val base = df.select(col("id"), Similarity.asDouble(col("v")).as("__v"))
      val cents = Similarity.lloydCentroids(base, nCents, 0)
      val assign = Similarity.assignExpr(cents, assignKernel = false)
      // random ascending-id boundaries (duplicates allowed -> empty slices)
      val cuts = (Seq(0, n) ++ Seq.fill(nBatches - 1)(rnd.nextInt(n + 1))).sorted
      var owners = base.limit(0).withColumn("cent_id", lit(0L))
      var streamedKept = Set.empty[Long]
      cuts.zip(cuts.tail).foreach { case (lo, hi) =>
        val b = base.filter(col("id") >= lo && col("id") < hi)
          .withColumn("cent_id", assign(col("__v")))
        val (kept, newOwners) = Similarity.semanticDedupStep(owners, b, minCos, maxBucket)
        streamedKept ++= kept.select(col("id")).as[Long].collect()
        owners = newOwners.localCheckpoint(true)
      }
      val r = streamedKept == batchKept
      if (!r) println(s"seed=$seed nb=$nBatches cuts=$cuts " +
        s"streamed-batch=${(streamedKept -- batchKept).toSeq.sorted} " +
        s"batch-streamed=${(batchKept -- streamedKept).toSeq.sorted}")
      r
    }

  // The midrank identity behind q_classifier_auc: 2·rank + |ties| − 1 as
  // the integral 2×midrank, AUC = (Σ_pos mid2 − np(np+1)) / (2·np·nn) —
  // must equal the probabilistic definition (concordant + ½·tied pairs)
  // for ANY score multiset, ties included.
  property("rank-sum AUC equals brute pairwise concordance") =
    Prop.forAll(Gen.choose(2, 60), Gen.choose(2, 9), Gen.choose(1, 97)) { (n, dom, salt) =>
      import org.apache.spark.sql.expressions.Window
      val rows = (0 until n).map { i =>
        (i.toLong, ((i * 37 + salt) % dom).toDouble, (i * 13 + salt) % 3 == 0)
      }
      val np = rows.count(_._3).toLong
      val nn = n - np
      if (np == 0 || nn == 0) Prop.passed
      else {
        val df = rows.toDF("id", "score", "pos")
        val agg = df
          .withColumn("rk", rank().over(Window.orderBy(col("score"))))
          .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("score"))))
          .withColumn("mid2", lit(2L) * col("rk") + col("nt") - 1L)
          .agg(sum(when(col("pos"), col("mid2")).otherwise(0L)).as("s2"))
          .head.getLong(0)
        val aucRank = (agg - np * (np + 1)).toDouble / (2.0 * np * nn)
        val pos = rows.filter(_._3).map(_._2)
        val neg = rows.filter(!_._3).map(_._2)
        val conc = (for (p <- pos; q <- neg) yield
          if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
        val aucBrute = conc / (np * nn)
        Prop(math.abs(aucRank - aucBrute) < 1e-9) :| s"rank=$aucRank brute=$aucBrute"
      }
    }

  // The cross-multiplication behind q_ks_drift: max |cr·tc − cc·tr| over
  // the merged value points IS the exact KS numerator — equals the brute
  // max over every threshold, for any pair of integer samples.
  property("cross-multiplied KS equals brute max CDF gap") =
    Prop.forAll(Gen.choose(1, 50), Gen.choose(1, 50), Gen.choose(2, 15)) { (na, nb, dom) =>
      import org.apache.spark.sql.expressions.Window
      val as = (0 until na).map(i => ((i * 17 + 3) % dom).toLong)
      val bs = (0 until nb).map(i => ((i * 29 + 5) % dom).toLong)
      val df = (as.map((_, true)) ++ bs.map((_, false))).toDF("c", "is_ref")
      val pts = df.groupBy(col("c"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("nc"))
      val w = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val maxD = pts
        .withColumn("cr", sum(col("nr")).over(w))
        .withColumn("cc", sum(col("nc")).over(w))
        .agg(max(abs(col("cr") * nb - col("cc") * na)).as("d"))
        .head.getLong(0)
      val brute = (as ++ bs).distinct.map { t =>
        val cr = as.count(_ <= t).toLong
        val cc = bs.count(_ <= t).toLong
        math.abs(cr * nb - cc * na)
      }.max
      Prop(maxD == brute) :| s"frame=$maxD brute=$brute"
    }

  // the exact leg of the quantile sketch ranks ONLY the bracketing bucket's
  // rows — this law pins that the bracketed rank equals the naive global
  // (value, tiebreak) rank on arbitrary tie-heavy data, any partitioning,
  // any bucket count (boundary ranks, duplicate runs spanning buckets,
  // single-row and all-equal inputs included), and that the estimate always
  // lands within its one-bucket-width envelope
  property("bucket-bracketed exact quantile equals naive global rank") =
    Prop.forAll(Gen.choose(1, 250), Gen.choose(1, 9), Gen.choose(1, 16),
      Gen.choose(0, 999)) { (n, parts, b, seed) =>
      val rows = (0 until n).map(i =>
        (((seed * 31L + i * 17L) % 53L) - 26L, i.toLong))
      val df = rows.toDF("c", "tid").repartition(parts)
      val bounds = graft.ops.Quantiles.bounds(df, b).localCheckpoint(false)
      val hist = graft.ops.Quantiles.histogram(df, bounds)
      val ps = Seq(0.5, 0.9, 0.99)
      val got = graft.ops.Quantiles
        .estimateWithExact(df, Seq("tid"), bounds, hist, ps)
        .select(col("p"), col("exact_cents"), col("within_bound")).collect()
      val sorted = rows.map(_._1).sorted
      val ok = got.forall { r =>
        val target = math.ceil(r.getDouble(0) * n).toInt
        r.getLong(1) == sorted(target - 1) && r.getLong(2) == 1L
      }
      Prop(ok && got.length == ps.length) :|
        s"n=$n parts=$parts b=$b got=${got.mkString(";")}"
    }

  // paragraph dedup's contract: across the whole corpus exactly ONE
  // instance of each distinct block content survives (the corpus-wide
  // first), nothing else is touched — so kept == distinct contents and
  // chunk counts conserve, for any doc sizes, vocab density (tie-heavy),
  // chunk width, and partitioning
  property("paragraph dedup keeps exactly one instance per distinct block") =
    Prop.forAll(Gen.choose(1, 40), Gen.choose(1, 8), Gen.choose(2, 30),
      Gen.choose(1, 6), Gen.choose(0, 99)) { (nd, parts, vocab, ct, seed) =>
      val docs = (0 until nd).map { d =>
        val len = 1 + (seed + d * 7) % 40
        val words = (0 until len).map(i => s"w${(seed * 13 + d * 31 + i * 17) % vocab}")
        (d.toLong, words.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(parts)
      val out = graft.ops.Dedup.paragraphDedup(df, "doc_id", "text", ct).collect()
      val allChunks = docs.flatMap { case (_, t) =>
        t.split(" ").grouped(ct).map(_.mkString(" ")) }
      val kept = out.map(r => r.getLong(1) - r.getLong(2)).sum
      val total = out.map(_.getLong(1)).sum
      Prop(total == allChunks.size && kept == allChunks.distinct.size.toLong) :|
        s"total=$total vs ${allChunks.size}; kept=$kept vs ${allChunks.distinct.size}"
    }

  // the whole point-in-time composition — rolling lastK on the history
  // side, instant dedup, as-of attach — must equal the brute per-point
  // definition ("the last 3 history rows strictly before t") on arbitrary
  // tie-heavy event streams and partitionings. Ties both on (user, ts)
  // across history rows and between history and prediction instants are
  // the cases a naive implementation gets wrong.
  property("point-in-time last-3 features equal brute per-point scan") =
    Prop.forAll(Gen.choose(1, 120), Gen.choose(1, 8), Gen.choose(1, 5),
      Gen.choose(2, 12), Gen.choose(0, 99)) { (n, parts, users, tsDom, seed) =>
      val evs = (0 until n).map { i =>
        val u = (seed + i * 13) % users
        val t = ((seed * 7 + i * 31) % tsDom).toLong
        val isClick = (seed + i * 17) % 3 == 0
        (i.toLong, u.toLong, t, isClick, ((seed + i * 11) % 500).toLong)
      }
      val clicks = evs.filter(_._4)
        .map(e => (e._1, e._2, e._3)).toDF("click_id", "c_user", "c_ts")
        .repartition(parts)
      val hist = evs.filterNot(_._4)
        .map(e => (e._2, e._3, e._1, e._5))
        .toDF("p_user", "p_ts", "p_eid", "cents").repartition(parts)
      val got = graft.ops.Features.attachLast3(
          clicks, graft.ops.Features.lastK(hist, 3))
        .select(col("event_id"), col("n3"), col("cents3")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val histSeq = evs.filterNot(_._4)
      val expect = evs.filter(_._4).flatMap { c =>
        val before = histSeq.filter(h => h._2 == c._2 && h._3 < c._3)
          .sortBy(h => (h._3, h._1))
        if (before.isEmpty) None
        else {
          val last3 = before.takeRight(3)
          Some(c._1 -> (last3.size.toLong, last3.map(_._5).sum))
        }
      }.toMap
      Prop(got == expect) :| s"got=$got expect=$expect"
    }

  // the TIME-window twin of the last-3 law: the two-as-of cumulative
  // subtraction must equal the brute [t−W, t) range definition — the
  // boundary cases (history rows at exactly t−W must be INCLUDED, rows at
  // exactly t EXCLUDED) only bite under timestamp ties at the window
  // edges, which the small ts domain here produces constantly and the
  // fixture timestamps never do
  property("time-window features equal brute range scan at tie boundaries") =
    Prop.forAll(Gen.choose(1, 120), Gen.choose(1, 8), Gen.choose(1, 5),
      Gen.choose(2, 12), Gen.choose(1L, 6L), Gen.choose(0, 99)) {
      (n, parts, users, tsDom, win, seed) =>
      val evs = (0 until n).map { i =>
        val u = (seed + i * 13) % users
        val t = ((seed * 7 + i * 31) % tsDom).toLong
        val isClick = (seed + i * 17) % 3 == 0
        (i.toLong, u.toLong, t, isClick, ((seed + i * 11) % 500).toLong)
      }
      val points = evs.filter(_._4)
        .map(e => (e._1, e._2, e._3, e._3 - win))
        .toDF("click_id", "c_user", "c_ts", "c_ts_lo").repartition(parts)
      val hist = evs.filterNot(_._4)
        .map(e => (e._2, e._3, e._1, e._5))
        .toDF("p_user", "p_ts", "p_eid", "cents").repartition(parts)
      val got = graft.ops.Features.attachWindow(
          points, graft.ops.Features.cumulative(hist))
        .select(col("event_id"), col("n7"), col("cents7")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val histSeq = evs.filterNot(_._4)
      val expect = evs.filter(_._4).flatMap { c =>
        val inWin = histSeq.filter(h =>
          h._2 == c._2 && h._3 >= c._3 - win && h._3 < c._3)
        if (inWin.isEmpty) None
        else Some(c._1 -> (inWin.size.toLong, inWin.map(_._5).sum))
      }.toMap
      Prop(got == expect) :| s"got=$got expect=$expect"
    }

  // batch assembly invariants: rows conserve, every batch except possibly
  // the last of its bucket is exactly batchSize, lengths inside a batch
  // stay inside the bucket (max - min < bucketWidth), and padding waste is
  // strictly bounded by n_rows * bucketWidth
  property("length-bucketed batches conserve rows and bound padding waste") =
    Prop.forAll(Gen.choose(1, 200), Gen.choose(1, 8), Gen.choose(1L, 40L),
      Gen.choose(1, 7), Gen.choose(0, 99)) { (n, parts, bw, bs, seed) =>
      val rows = (0 until n).map(i =>
        (i.toLong, ((seed * 31 + i * 17) % 300).toLong))
      val df = rows.toDF("doc_id", "n_tokens").repartition(parts)
      val got = graft.ops.Splits.batchByLength(df, "doc_id", "n_tokens", bw, bs)
        .collect()
      val total = got.map(_.getAs[Long]("n_rows")).sum
      val lastPerBucket = got.groupBy(_.getAs[Long]("len_bucket"))
        .values.map(_.maxBy(_.getAs[Long]("batch_idx"))).toSet
      val fullOk = got.filterNot(lastPerBucket)
        .forall(_.getAs[Long]("n_rows") == bs.toLong)
      val wasteOk = got.forall { r =>
        r.getAs[Long]("padding_waste") < r.getAs[Long]("n_rows") * bw &&
          r.getAs[Long]("padding_waste") >= 0
      }
      Prop(total == n.toLong && fullOk && wasteOk) :|
        s"total=$total fullOk=$fullOk wasteOk=$wasteOk"
    }

  // ExactProducts: the guarded BIGINT fast path and the decimal(38,0)
  // reference produce the SAME double for a·b − c·d on moment sums that
  // straddle the overflow boundary in every combination (products from
  // ~1e9 up to ~8e18, both signs) — the law that lets the covariance/PCA
  // family take the fast path without an exactness caveat
  property("guarded product-difference equals the all-decimal reference") =
    Prop.forAll(
      Gen.choose(1L, 3L << 30), Gen.choose(1L, 3L << 30),
      Gen.choose(1L, 3L << 30), Gen.choose(1L, 3L << 30),
      Gen.oneOf(1L, -1L), Gen.oneOf(1L, -1L),
      Gen.choose(0, 3)) { (a0, b0, c0, d0, sa, sc, boost) =>
      // boost pushes one operand pair past the 2^62 product bound so the
      // decimal branch is genuinely exercised alongside the long branch
      val (a, b) = if (boost % 2 == 1) (a0 * sa * 7, b0 * 5) else (a0 * sa, b0)
      val (c, d) = if (boost >= 2) (c0 * sc * 7, d0 * 5) else (c0 * sc, d0)
      val df = Seq((a, b, c, d)).toDF("a", "b", "c", "d")
      val got = df.select(graft.functions.ExactProducts.prodDiffDouble(
        col("a"), col("b"), col("c"), col("d")).as("v")).head().getDouble(0)
      val want = df.select(
        (col("a").cast("decimal(38,0)") * col("b").cast("decimal(38,0)")
          - col("c").cast("decimal(38,0)") * col("d").cast("decimal(38,0)"))
          .cast("double").as("v")).head().getDouble(0)
      Prop(java.lang.Double.compare(got, want) == 0) :|
        s"a=$a b=$b c=$c d=$d got=$got want=$want"
    }

  property("gopher dominant-bigram = max multiplicity, on any token stream") =
    Prop.forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "go", "the"))) { toks =>
      // the op computes max-equal-run over the SORTED bigram array (the
      // O(L log L) predicate-safe form); the law checks it equals the naive
      // max multiplicity the count-per-distinct form (and the oracle's
      // list-expression) computes
      val text = toks.mkString(" ")
      val got = graft.ops.Selection.gopherRules(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text",
        1, 10000, 0.0, 100.0, Seq("the"), 0, 0.0, 1.0)
        .select(col("top2_frac")).head().getDouble(0)
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val want =
        if (bgs.isEmpty) 0.0
        else BigDecimal(bgs.groupBy(identity).values.map(_.size).max.toDouble /
          bgs.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Prop(got == want) :| s"toks=$toks got=$got want=$want"
    }

  // the codegen'd shingle kernels (r16: WordShingles/CharShingles replaced
  // the transform(sequence(...)) HOF forms, whose lambda-captured input
  // re-evaluates per window when a pushed predicate splices the producer
  // in) are BIT-IDENTICAL to the HOF semantics: single-space joins, < n and
  // empty inputs → empty array, distinct keeps first occurrence. Pinned
  // against an independent Scala model over arbitrary token lists / strings
  // (the DuckDB oracles pin the same thing end-to-end; this localizes a
  // break to the kernel).
  property("codegen'd word/char shingles equal the sliding-window model") =
    Prop.forAll(
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "a", "xy")), Gen.choose(1, 4)) {
      (toks, n) =>
      val df = Seq(Tuple1(toks)).toDF("toks")
      val all = df.select(graft.ops.TextOps.shinglesAll(col("toks"), n))
        .head().getSeq[String](0)
      val dis = df.select(graft.ops.TextOps.shingles(col("toks"), n))
        .head().getSeq[String](0)
      val wantAll = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      val wantDis = wantAll.distinct
      val s = toks.mkString("")
      val chars = df.select(graft.ops.TextOps.charShingles(lit(s), n))
        .head().getSeq[String](0)
      // model via code POINTS, not UTF-16 units (r16 ADVICE): the kernel
      // windows by numChars/substringSQL, so a String.sliding model would
      // spuriously diverge if this generator ever grows non-BMP characters
      val cps = s.codePoints().toArray
      val wantChars =
        if (cps.length < n) Seq.empty[String]
        else cps.sliding(n).map(w => new String(w, 0, w.length)).toSeq.distinct
      (Prop(all == wantAll) :| s"all: $all != $wantAll") &&
        (Prop(dis == wantDis) :| s"distinct: $dis != $wantDis") &&
        (Prop(chars == wantChars) :| s"chars: $chars != $wantChars")
    }

  // the codegen'd winnow kernels (r17: GramHashes/WinnowSelect[Pos] replaced
  // the transform(sequence(...)) HOF forms — same lambda-splice closure as
  // the shingle kernels, plus the composed form drops from O(len²) to
  // O(len) md5 per row) are BIT-IDENTICAL to the HOF semantics: hash32 =
  // first 4 md5 bytes big-endian per k-gram, window minima for j = 0..
  // max(len−w, 0) with slice-style truncation, array_position-style 1-based
  // first-occurrence min positions, array_distinct first-occurrence dedup,
  // < k chars → empty. Pinned against an independent Scala model (the
  // winnow gates' DuckDB oracles pin the same thing end-to-end; this
  // localizes a break to the kernel). A 3-letter alphabet forces hash ties
  // inside windows so the first-occurrence position rule is exercised.
  property("codegen'd winnow kernels equal the sliding-window model") =
    Prop.forAll(
      Gen.listOf(Gen.oneOf('a', 'b', 'c')), Gen.choose(1, 6), Gen.choose(1, 5)) {
      (cs, k, w) =>
      val text = cs.mkString
      val df = Seq((1L, text)).toDF("doc_id", "text")
      def h32(g: String): Long = {
        val b = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8"))
        ((b(0) & 0xFFL) << 24) | ((b(1) & 0xFFL) << 16) |
          ((b(2) & 0xFFL) << 8) | (b(3) & 0xFFL)
      }
      val grams =
        if (text.length < k) Seq.empty[Long]
        else text.sliding(k).map(h32).toSeq
      val wantSel =
        if (grams.isEmpty) Seq.empty[Long]
        else (0 to math.max(grams.size - w, 0))
          .map(j => grams.slice(j, j + w).min).distinct
      val wantPos =
        if (grams.isEmpty) Seq.empty[(Long, Long)]
        else (0 to math.max(grams.size - w, 0)).map { j =>
          val sl = grams.slice(j, j + w)
          val m = sl.min
          (m, (j + sl.indexOf(m) + 1).toLong)
        }.distinct
      // the COMPOSED forms on purpose: since r17 they are single codegen'd
      // kernels, so this law also certifies that composing them (no
      // two-step attribute binding) stays correct
      val row = df.select(
        graft.ops.TextOps.gramHashes(col("text"), k).as("g"),
        graft.ops.TextOps.winnowedFingerprints(col("text"), k, w).as("s"),
        graft.ops.TextOps.winnowSelectPos(
          graft.ops.TextOps.gramHashes(col("text"), k), w).as("p")).head()
      val gotG = row.getSeq[Long](0)
      val gotS = row.getSeq[Long](1)
      val gotP = row.getSeq[org.apache.spark.sql.Row](2)
        .map(r => (r.getLong(0), r.getLong(1)))
      (Prop(gotG == grams) :| s"grams: $gotG != $grams") &&
        (Prop(gotS == wantSel) :| s"select: $gotS != $wantSel") &&
        (Prop(gotP == wantPos) :| s"selectPos: $gotP != $wantPos")
    }

  // NULL tolerance of the kernel family (r16 ADVICE: the HOF forms returned
  // the empty array for lit(null); the kernels must keep that contract for
  // ad-hoc callers)
  property("shingle/winnow/chunk kernels map NULL input to the empty array") =
    Prop.forAll(Gen.choose(1, 4)) { n =>
      val df = Seq(Tuple1(1L)).toDF("x")
      val row = df.select(
        graft.functions.ShingleExprs.wordShingles(lit(null), n, distinct = true),
        graft.functions.ShingleExprs.charShingles(lit(null), n),
        graft.functions.WinnowExprs.gramHashes(lit(null), n),
        graft.functions.WinnowExprs.winnowSelect(lit(null), n),
        graft.functions.WinnowExprs.winnowSelectPos(lit(null), n),
        graft.functions.WinnowExprs.chunkWindows(lit(null), n + 1, 0)).head()
      Prop((0 until 6).forall(i => row.getSeq[Any](i) == Seq.empty)) :|
        s"row=$row"
    }

  // the phrase kernel (r19: PhraseHits replaced the streaming twin's HOF
  // matcher whose lambda re-evaluated the producing split per (position,
  // phrase token)) must equal the retired HOF form: same match count, same
  // 0-based first position, null tokens never match, short arrays → (0,
  // null-ish). Parquet-backed so the kernel's codegen path runs.
  property("phrase kernel equals the HOF matcher") =
    Prop.forAllNoShrink(Gen.choose(0L, 1000000L), Gen.choose(1, 3)) { (seed, l) =>
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("value", "table", "part", "row", null)
      val phrase = Seq.fill(l)(vocab(rnd.nextInt(4))) // phrase itself non-null
      val docs: Seq[(Long, Seq[String])] = (0L until 12L).map { id =>
        id -> Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      }
      val dir = SparkTest.tempDir("graft_phrase").toString
      try {
        docs.toDF("doc_id", "toks").write.mode("overwrite").parquet(dir)
        val df = spark.read.parquet(dir)
        // the retired HOF form, verbatim
        val starts = when(size(col("toks")) >= l,
          filter(sequence(lit(1), size(col("toks")) - (l - 1)), i =>
            phrase.zipWithIndex.map { case (t, j) =>
              element_at(col("toks"), i + j) === lit(t)
            }.reduce(_ && _)))
          .otherwise(typedLit(Seq.empty[Int]))
        val model = df.select(col("doc_id"), size(starts).cast("long").as("n"),
            when(size(starts) > 0, element_at(starts, 1) - 1).cast("long").as("fp"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.get(2))).toMap
        val kernel = df
          .withColumn("__p", graft.functions.PhraseExprs.phraseHits(col("toks"), phrase))
          .select(col("doc_id"), col("__p").getField("n_matches").as("n"),
            col("__p").getField("first_pos").as("fp"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.get(2))).toMap
        val bad = docs.map(_._1).filterNot(id =>
          model(id)._1 == kernel(id)._1 &&
            (model(id)._1 == 0L || model(id)._2 == kernel(id)._2))
        Prop(bad.isEmpty) :| s"phrase=$phrase bad=$bad model=${bad.map(model.get)} kernel=${bad.map(kernel.get)}"
      } finally Tables.deleteTree(dir)
    }

  // the covariance-moment aggregate (r19: CovMomentsAgg replaced the
  // posexplode + vec_id self-join that streamed dim²/2 rows per vector into
  // a hash aggregate) must equal the retired join form bit-for-bit:
  // same n (rows with a non-null vector), same long sums, SQL sum's
  // all-null → NULL groups. Parquet-backed and repartitioned so the
  // kernel's update/merge/serialize all run across real partitions.
  property("cov-moment aggregate equals the explode+self-join model") =
    Prop.forAllNoShrink(Gen.choose(0L, 1000000L), Gen.choose(1, 4)) { (seed, parts) =>
      val dim = 6
      val rnd = new scala.util.Random(seed)
      val vecs: Seq[(Long, Seq[Option[Double]])] =
        (0L until 9L).map { id =>
          id -> (0 until dim).map(i =>
            if (rnd.nextInt(5) == 0) None
            else Some((rnd.nextDouble() - 0.5) * 2.0))
        } :+ (9L -> (0 until dim).map(_ => Option.empty[Double])) // all-null elements
      val dir = SparkTest.tempDir("graft_covagg").toString
      try {
        vecs.toDF("vec_id", "embedding").repartition(parts)
          .write.mode("overwrite").parquet(dir)
        val df = spark.read.parquet(dir)
        // the pre-r19 join form, verbatim
        val e = df.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("vec_id"), col("i"),
            round(col("x").cast("double") * 1e6).cast("long").as("x6"))
        val model = e.join(
            e.select(col("vec_id"), col("i").as("j"), col("x6").as("y6")), Seq("vec_id"))
          .filter(col("j") >= col("i"))
          .groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("n"),
            sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
            sum(col("x6") * col("y6")).as("sxy"),
            sum(col("x6") * col("x6")).as("sxx"),
            sum(col("y6") * col("y6")).as("syy"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.toSeq.drop(2)).toMap
        val kernel = df
          .agg(graft.functions.CovMomentsAgg.covMoments(col("embedding"), dim).as("__m"))
          .select(explode(col("__m")).as("p")).select(col("p.*"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.toSeq.drop(2)).toMap
        val bad = (model.keySet ++ kernel.keySet).filter(k =>
          model.get(k) != kernel.get(k))
        Prop(bad.isEmpty) :| s"pairs=$bad model=${bad.map(model.get)} kernel=${bad.map(kernel.get)}"
      } finally Tables.deleteTree(dir)
    }

  // the scalar-quantization kernels (r18: AbsMax / ScalarCodes /
  // DequantMaxErr replaced the O(d²) HOF form that carried the per-vector
  // max inside the per-element lambda) must equal the old HOF construction
  // bit-for-bit on the library's domain — including the zero-vector branch,
  // empty vectors, negatives, and both quantization widths
  property("quant kernels equal the HOF model bit-for-bit") =
    Prop.forAll(
      Gen.choose(0, 24),
      Gen.oneOf(127, 32767),
      // "nulls" interleaves null elements (r18 ADVICE: the scaladoc claimed
      // null-element parity but no generated vector contained one)
      Gen.oneOf("rand", "zeros", "tiny", "nulls"),
      Gen.choose(0L, 1000000L)) { (n, maxCode, kind, seed) =>
      val rnd = new scala.util.Random(seed)
      val vec: Seq[Option[Float]] = kind match {
        case "zeros" => Seq.fill(n)(Some(0.0f))
        case "tiny"  => (0 until n).map(_ => Some((rnd.nextFloat() - 0.5f) * 1e-6f))
        case "nulls" => (0 until n).map(i =>
          if (rnd.nextInt(3) == 0) None
          else Some((rnd.nextFloat() - 0.5f) * 200.0f))
        case _       => (0 until n).map(_ => Some((rnd.nextFloat() - 0.5f) * 200.0f))
      }
      val df = Seq((1L, vec)).toDF("vec_id", "embedding")
      val model = quantHofModel(df, maxCode).head()
      val kernel = (if (maxCode == 127)
        graft.ops.Similarity.quantizeInt8(df, "vec_id", "embedding")
      else graft.ops.Similarity.quantizeInt16(df, "vec_id", "embedding")).head()
      Prop(kernel == model) :| s"kernel=$kernel model=$model"
    }

  /** the pre-r18 HOF construction, verbatim — the parity model both quant
    * properties compare the kernels against
    */
  private def quantHofModel(
      df: org.apache.spark.sql.DataFrame, maxCode: Int): org.apache.spark.sql.DataFrame = {
    val v = col("embedding").cast("array<double>")
    val mx = array_max(transform(v, x => abs(x)))
    val q = when(mx === 0.0, transform(v, _ => lit(0)))
      .otherwise(transform(v, x => round(x * maxCode.toDouble / mx).cast("int")))
    val mc = lit(maxCode.toDouble)
    df.select(
      col("vec_id"),
      size(v).cast("long").as("n_dims"),
      round(mx / mc, 9).as("scale"),
      aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
      md5(array_join(transform(q, x => x.cast("string")), ",")).as("q_digest"),
      round(array_max(zip_with(v, q, (x, qi) => abs(x - qi * mx / mc))), 9)
        .as("max_err"))
  }

  // the parity property above builds a literal LocalRelation, which the
  // optimizer constant-folds via INTERPRETED eval — the kernels' doGenCode
  // paths were never exercised (r18 ADVICE). This one writes the fixture
  // set to parquet and reads it back, so both sides run under whole-stage
  // codegen; the fixture includes null elements, an all-null vector, the
  // empty vector, and a zero vector. NO NaN vector here: under ANSI mode
  // (the Spark 4 default) the HOF model itself cannot evaluate one — its
  // `round(x·c/NaN).cast("int")` throws CAST_INVALID_INPUT — so codes
  // parity on NaN is ill-defined; the kernels' NaN-greatest MAX semantics
  // (the r18 ADVICE fix) are pinned by the dedicated property below, which
  // involves no integer casts. forAllNoShrink: shrinking a failing maxCode
  // toward 0 would mask the real counterexample behind a divide-by-zero.
  property("quant kernels equal the HOF model under whole-stage codegen") =
    Prop.forAllNoShrink(Gen.oneOf(127, 32767)) { maxCode =>
      val vecs: Seq[(Long, Seq[Option[Float]])] = Seq(
        1L -> (0 until 16).map(i => Some(((i * 37 % 19) - 9).toFloat * 3.7f)),
        2L -> Seq(Some(1.5f), None, Some(-2.5f), None, Some(0.25f)),
        3L -> Seq(None, None, None),
        4L -> Seq.empty,
        5L -> Seq.fill(6)(Some(0.0f)),
        7L -> (0 until 8).map(i => Some((if (i % 2 == 0) 1 else -1) * 1e-7f)))
      val dir = SparkTest.tempDir("graft_quant_cg").toString
      try {
        vecs.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
        val df = spark.read.parquet(dir)
        val model = quantHofModel(df, maxCode).collect()
          .map(r => r.getLong(0) -> r).toMap
        val kernel = (if (maxCode == 127)
          graft.ops.Similarity.quantizeInt8(df, "vec_id", "embedding")
        else graft.ops.Similarity.quantizeInt16(df, "vec_id", "embedding"))
          .collect().map(r => r.getLong(0) -> r).toMap
        // field-wise compare with NaN == NaN (Row equality unboxes doubles,
        // where NaN != NaN would fail the NaN-vector row spuriously)
        def eqv(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
          case _ => a == b
        }
        val bad = vecs.map(_._1).filterNot { id =>
          val (m, k) = (model(id), kernel(id))
          m.length == k.length && (0 until m.length).forall(i => eqv(m.get(i), k.get(i)))
        }
        Prop(bad.isEmpty) :| s"mismatched vec_ids=$bad " +
          s"model=${bad.map(model.get)} kernel=${bad.map(kernel.get)}"
      } finally Tables.deleteTree(dir)
    }

  // the r18 ADVICE NaN fix, pinned where parity IS well-defined: the max
  // kernels (AbsMax / DequantMaxErr) must order NaN GREATEST exactly like
  // Spark's array_max — the old `a > m` loop dropped a NaN unless it was
  // the first non-null element. No integer casts here, so this evaluates
  // fine under ANSI (unlike the codes model — see the codegen property).
  // Parquet-backed so both sides run the codegen path.
  property("absmax/dequant kernels order NaN greatest like array_max") =
    Prop.forAllNoShrink(Gen.choose(0, 5)) { nanPos =>
      val vec: Seq[Option[Float]] = (0 until 6).map(i =>
        if (i == nanPos) Some(Float.NaN)
        else if (i == (nanPos + 2) % 6) None
        else Some((i - 2).toFloat * 1.5f))
      val codes: Seq[Option[Int]] = (0 until 6).map(i =>
        if (i == (nanPos + 3) % 6) None else Some(i * 20 - 50))
      val dir = SparkTest.tempDir("graft_nan_max").toString
      try {
        Seq((1L, vec, codes)).toDF("vec_id", "embedding", "q")
          .write.mode("overwrite").parquet(dir)
        val df = spark.read.parquet(dir)
        val v = col("embedding").cast("array<double>")
        val mx = lit(7.5)
        val row = df.select(
          graft.functions.VectorExprs.absMax(v).as("k_max"),
          array_max(transform(v, x => abs(x))).as("m_max"),
          graft.functions.VectorExprs.dequantMaxErr(v, col("q"), mx, 127).as("k_err"),
          array_max(zip_with(v, col("q"),
            (x, qi) => abs(x - qi * mx / lit(127.0)))).as("m_err")).head()
        def nanEq(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
        Prop(nanEq(row.getDouble(0), row.getDouble(1)) &&
          nanEq(row.getDouble(2), row.getDouble(3))) :| s"row=$row"
      } finally Tables.deleteTree(dir)
    }

  // ---- r19 PQ / mat-vec kernels vs the literal expression forms ----------
  // PqCodes / PqDistTable / MatVecRound6 replace the per-candidate literal
  // trees (nearestL2-over-slice argmins, round(sqDist(slice, lit)) ADC
  // tables, per-component literal-row dots). Parity must be BIT-exact:
  // codebooks include an exact duplicate centroid pair (tie → smaller key,
  // the array_min struct order) and vectors include short / long / empty
  // shapes (slice/dot zip semantics). Parquet-backed so both sides run
  // whole-stage codegen, not constant folding.
  property("pq/matvec kernels equal the literal expression forms bit-for-bit") =
    Prop.forAllNoShrink(Gen.choose(0L, 1000000L)) { seed =>
      val rnd = new scala.util.Random(seed)
      val m = 2; val sub = 4; val nCodes = 5; val dim = m * sub
      // keys deliberately non-contiguous; centroid 2 duplicates centroid 0
      // exactly so every vector ties those two distances
      val baseCents = (0 until nCodes).map(_ =>
        Seq.fill(sub)(math.rint((rnd.nextDouble() - 0.5) * 2000) / 100.0))
      val books: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map { s =>
        (0 until nCodes).map { c =>
          val cv = if (c == 2) baseCents(0) else baseCents(c)
          ((c * 7 + s).toLong, cv)
        }
      }
      val vecs: Seq[(Long, Seq[Double])] = Seq(
        1L -> (0 until dim).map(_ => (rnd.nextDouble() - 0.5) * 20.0),
        2L -> (0 until 3).map(_ => rnd.nextDouble()), // shorter than one subspace
        3L -> (0 until dim + 4).map(_ => -rnd.nextDouble() * 5.0), // longer
        4L -> (baseCents(0) ++ baseCents(1)), // exact centroid hit per subspace
        5L -> Seq.empty)
      val dir = SparkTest.tempDir("graft_pq_kernel").toString
      try {
        vecs.toDF("vec_id", "v").write.mode("overwrite").parquet(dir)
        val df = spark.read.parquet(dir)
        import graft.functions.PqExprs
        val litCodesId = array((0 until m).map(s =>
          graft.ops.Similarity.nearestL2(
            books(s), slice(col("v"), s * sub + 1, sub), usePos = false)): _*)
        val litCodesPos = array((0 until m).map(s =>
          graft.ops.Similarity.nearestL2(
            books(s), slice(col("v"), s * sub + 1, sub), usePos = true)
            .cast("int")): _*)
        val litTable0 = array(books(0).sortBy(_._1).map { case (_, cv) =>
          round(graft.ops.Similarity.sqDist(
            slice(col("v"), 1, sub), array(cv.map(lit): _*)), 6)
        }: _*)
        val rows = (0 until 3).map(_ =>
          Array.fill(dim)(math.rint((rnd.nextDouble() - 0.5) * 600) / 100.0))
        val scale = 0.25 + rnd.nextDouble()
        val litMatVec = array(rows.map(r =>
          round(graft.ops.Similarity.dot(col("v"),
            array(r.toIndexedSeq.map(x => lit(x)): _*)) * scale, 6)): _*)
        val out = df.select(
          col("vec_id"),
          PqExprs.pqCodeIds(col("v"), books, sub).as("k_ids"),
          litCodesId.as("m_ids"),
          PqExprs.pqCodePositions(col("v"), books, sub).as("k_pos"),
          litCodesPos.as("m_pos"),
          PqExprs.pqDistTable(col("v"), books, 0, sub).as("k_t0"),
          litTable0.as("m_t0"),
          PqExprs.matVecRound6(col("v"), rows, scale).as("k_mv"),
          litMatVec.as("m_mv")).collect()
        def nanEqSeq(a: Seq[Double], b: Seq[Double]) =
          a.length == b.length && a.zip(b).forall { case (x, y) =>
            x == y || (x.isNaN && y.isNaN) }
        val bad = out.filterNot { r =>
          r.getSeq[Long](1) == r.getSeq[Long](2) &&
            r.getSeq[Int](3) == r.getSeq[Int](4) &&
            nanEqSeq(r.getSeq[Double](5).toSeq, r.getSeq[Double](6).toSeq) &&
            nanEqSeq(r.getSeq[Double](7).toSeq, r.getSeq[Double](8).toSeq)
        }
        Prop(bad.isEmpty) :| s"mismatches=${bad.mkString("; ")}"
      } finally Tables.deleteTree(dir)
    }
}
