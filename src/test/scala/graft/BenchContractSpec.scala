package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The stdout contract line ([[Bench.contractLine]]): replayed from a
  * recorded full bench record it reproduces that record's contract
  * fields, it fits a ~1,870 B stdout tail capture at its worst case,
  * and every field keeps one JSON type. */
class BenchContractSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val record = mapper.readTree(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("bench-quiet-r18-run2-final.json")))
  private val flagNames = Seq("contended", "mem_contended",
    "bracket_contended", "bw_contended", "box_unusable")
  private val contractKeys =
    Seq("metric", "value", "unit", "queries", "contention_canary", "sf")

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)

  private def flagsOf(n: JsonNode): Bench.Flags = {
    val f = flagNames.map(k => n.get(k).asBoolean())
    Bench.Flags(f(0), f(1), f(2), f(3), f(4))
  }

  private def dp2(n: JsonNode): BigDecimal =
    BigDecimal(n.asText()).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  private def replayed: String = Bench.contractLine(
    record.get("value").asDouble(),
    fields(record.get("queries")).map { case (k, v) => k -> v.asDouble() },
    flagsOf(record.get("contention_canary")), record.get("sf").asText())

  private def worstCase: String = Bench.contractLine(9999.99 * Bench.headline.size,
    Bench.headline.map(_ -> 9999.99), Bench.Flags(true, true, true, true, true),
    record.get("sf").asText())

  test("a recorded full bench record replays to the same contract fields") {
    val line = mapper.readTree(replayed)
    assert(fields(line).map(_._1) == contractKeys)
    assert(line.get("metric").asText() == record.get("metric").asText())
    assert(line.get("unit").asText() == record.get("unit").asText())
    assert(BigDecimal(line.get("value").asText()) == dp2(record.get("value")))
    val q = fields(line.get("queries"))
    val rq = fields(record.get("queries"))
    assert(q.map(_._1) == rq.map(_._1))
    q.zip(rq).foreach { case ((k, v), (_, rv)) =>
      assert(BigDecimal(v.asText()) == dp2(rv), k)
    }
    assert(flagsOf(line.get("contention_canary")) ==
      flagsOf(record.get("contention_canary")))
    assert(fields(line.get("contention_canary")).map(_._1) == flagNames)
    assert(line.get("sf").asText() == record.get("sf").asText())
  }

  test("worst case (every flag set, every headline value 9999.99) fits " +
      "the 1,870 B stdout tail") {
    val bytes = worstCase.getBytes("UTF-8").length
    assert(bytes <= 1870, s"contract line is $bytes B")
  }

  test("the full record writes the recorded top-level fields, in order, " +
      "with the recorded JSON types") {
    val rig = new BenchRig(TestSpark.spark,
      new BenchBaselines("off", new java.util.Properties()))
    val gate = BenchRig.Gate(1, unusable = false, 1.5, 1.2, 0.3)
    def tier(name: String, keys: Seq[String]) = BenchRig.TierRun(name,
      5.0, gate, 1.5, 1.2, 0.4, keys.map(_ -> Seq(2.0, 1.0)),
      keys.map(_ -> ((1.1, 1.2))),
      Seq(Bench.Rerun(keys.head, 2.0, 1.0, 1.1, 1.2, "rerun")),
      Seq(keys.head), (0.4, 0.5), 0)
    val boards = Seq("mv_speedup", "skew_join", "ann_recall",
      "triangle_sketch", "lookup", "join_reorder").map(b =>
      b -> fields(record.get(b)).map { case (k, v) => k -> v.asDouble() })
    val full = mapper.readTree(BenchRecord(rig, "sf",
      Bench.headline.map(_ -> Seq(1.2, 1.0, 1.1)),
      tier("sf1", Bench.sf1Keys), tier("sf10", Bench.sf10Keys(full = false)),
      Bench.headline.map(_ -> 7), gate, (1.0, 1.1), 0.3, boards).fullJson)
    val keys = Seq("metric", "value", "unit", "queries", "queries_median",
      "queries_sf1", "queries_sf1_median", "queries_sf1_samples",
      "sf1_brackets", "queries_sf10", "queries_sf10_median",
      "queries_sf10_samples", "sf10_brackets", "tier_second_pass",
      "disk_busy", "cpu_busy", "cpu_steal", "cpu_ours", "reruns",
      "canary_gate", "drift", "drift_sf10", "board_drift", "baselines",
      "sf1_gen_sec", "sf10_gen_sec", "contention_canary", "plan_nodes",
      "mv_speedup", "skew_join", "ann_recall", "triangle_sketch", "lookup",
      "join_reorder", "sf")
    assert(fields(full).map { case (k, v) => k -> v.getNodeType } ==
      keys.map(k => k -> record.get(k).getNodeType))
    assert(full.get("reruns").get("sf1.graph_triangle_sketch").size == 5)
    assert(full.get("baselines").asText() == "off")
  }

  test("every contract field has one JSON type") {
    def types(line: String): Seq[(String, String)] =
      fields(mapper.readTree(line)).flatMap { case (k, v) =>
        (k -> v.getNodeType.toString) +:
          fields(v).map { case (k2, v2) => s"$k.*" -> v2.getNodeType.toString }
      }.distinct
    val quiet = Bench.contractLine(0.0, Bench.headline.map(_ -> 0.0),
      Bench.Flags(false, false, false, false, false), "")
    val expected = Seq("metric" -> "STRING", "value" -> "NUMBER",
      "unit" -> "STRING", "queries" -> "OBJECT", "queries.*" -> "NUMBER",
      "contention_canary" -> "OBJECT", "contention_canary.*" -> "BOOLEAN",
      "sf" -> "STRING")
    Seq(replayed, worstCase, quiet).foreach(l => assert(types(l) == expected, l))
  }
}
