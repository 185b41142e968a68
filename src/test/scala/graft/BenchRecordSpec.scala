package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.Harness.{num, obj}

/** The bench record is a Jackson tree: it parses, keeps its key order and
  * its decimals in any default locale, and needs no Spark job to build.
  */
class BenchRecordSpec extends AnyFunSuite {

  /** two batch rows (one over its pin), one stream row, and a plan row
    * whose error text holds a quote, a newline and a tab
    */
  private def art(): Bench.Art = {
    val a = new Bench.Art
    a.headlineNames = Seq("q_groupby_agg", "q_join_bcast")
    a.samples("q_groupby_agg") = Seq(2.5, 2.0)
    a.samples("q_join_bcast") = Seq(0.5)
    a.samples("q_stream_join") = Seq(1.25)
    a.sampleLoads("q_groupby_agg") = Seq(0.5, 3.25)
    a.sampleLoads("q_join_bcast") = Seq(0.5)
    a.sampleLoads("q_stream_join") = Seq(0.5)
    a.plans("q_groupby_agg") = obj("shuffles" -> 2, "broadcasts" -> 0)
    a.plans("q_join_bcast") =
      obj("shuffles" -> -1, "broadcasts" -> -1, "err" -> "bad \"plan\"\n\tat line 1")
    a.streamStats("q_stream_join") =
      obj("batches" -> 3, "state_rows" -> 10L, "batch_ms" -> Seq(100L, 50L))
    a.pins = Some(("QUIET_PINS.json",
      Map("q_groupby_agg" -> Bench.Pin(0.5, Some((2, 0)), None),
        "q_join_bcast" -> Bench.Pin(0.5, None, None))))
    a
  }

  private def line(a: Bench.Art, partial: Boolean = false): String =
    Harness.write(a.record(partial, "sf0.01", 0.5, 0.75))

  private val keys = Seq("metric", "value", "unit", "queries", "scale", "layout", "serving",
    "scale_curves", "budget", "stream_control_sec", "stream_shuffle_exempt",
    "stream_minus_control", "stream_stats", "plans", "load_avg_1m", "sample_load", "samples",
    "protocol", "sf", "anomalies")

  test("the record parses, keeps its key order with anomalies last, and its decimals") {
    val json = line(art())
    val root = Harness.read(json)
    assert(root.fieldNames().asScala.toSeq == keys)
    assert(root.get("plans").get("q_join_bcast").get("err").asText == "bad \"plan\"\n\tat line 1")
    assert(json.contains(""""value":2.500,"unit":"sec","queries":{"q_groupby_agg":2.000,""" +
      """"q_join_bcast":0.500,"q_stream_join":1.250}"""))
    assert(json.contains(""""scale":{"p1_sec":-1.000,"parallel_sec":-1.000,"speedup":-1.0}"""))
    assert(json.contains(""""stream_control_sec":-1.000"""))
    assert(json.contains(""""stream_minus_control":{"q_stream_join":-1.000}"""))
    assert(json.contains(
      """"stream_stats":{"q_stream_join":{"batches":3,"state_rows":10,"batch_ms":[100,50]}}"""))
    assert(json.contains(""""load_avg_1m":{"start":0.50,"end":0.75}"""))
    assert(json.contains(""""samples":{"q_groupby_agg":[2.500,2.000],"q_join_bcast":[0.500],""" +
      """"q_stream_join":[1.250]}"""))
    val anomalies = root.get("anomalies")
    assert(anomalies.get("count").asInt == 1)
    assert(json.endsWith(""""rows":{"q_groupby_agg":{"stat":2.000,"pin":0.500,"ratio":4.0,""" +
      """"samples":[2.500,2.000],"load":[0.50,3.25],""" +
      """"verdict":"load-episode max 3.3 (envelope 2.0)"}}}}"""))
  }

  test("the record is byte-identical under a comma-decimal default locale") {
    val before = line(art())
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(line(art()) == before)
    } finally Locale.setDefault(saved)
  }

  test("the shutdown hook's partial record says so right after its unit") {
    val root = Harness.read(line(art(), partial = true))
    assert(root.get("partial").asBoolean)
    assert(root.fieldNames().asScala.toSeq == keys.take(3) ++ ("partial" +: keys.drop(3)))
  }

  test("a plan change names the pin's and the run's counts; no pins reads absent") {
    val a = art()
    a.plans("q_groupby_agg") = obj("shuffles" -> 3, "broadcasts" -> 1)
    assert(a.anomalies().get("rows").get("q_groupby_agg").get("verdict").asText ==
      "plan-changed sh 2->3 bc 0->1")
    a.pins = None
    assert(Harness.write(a.anomalies()) == """{"pins":"absent"}""")
  }

  test("num writes exact decimals, and null for a value that is not finite") {
    assert(Harness.write(Harness.nums(Seq(0.5, -1.0, 12345.6789, 0.0))) ==
      "[0.500,-1.000,12345.679,0.000]")
    assert(Harness.write(obj("r" -> num(Double.NaN, 2), "s" -> num(2.0, 1))) ==
      """{"r":null,"s":2.0}""")
    intercept[IllegalArgumentException](obj("d" -> 0.5))
  }

  test("Verify's writer round-trips oracle text holding control characters") {
    val sql = "SELECT 1 AS \"a\"\tFROM t\r\n WHERE s = '\\x'\u0001"
    val back = Harness.read(Verify.json(Map("q_x" -> sql, "q_y" -> "SELECT 2")))
    assert(back.get("q_x").asText == sql && back.get("q_y").asText == "SELECT 2")
  }
}
