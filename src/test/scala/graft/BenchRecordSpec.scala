package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ext.DedupOps.CcRunStats
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the one record line `graft.Bench` writes; `tools/bench_diff.py`
  * is its reader.
  */
class BenchRecordSpec extends AnyFunSuite {

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private def line(results: Seq[(String, Either[String, Double])],
                   cc: Seq[(String, CcRunStats)] = Nil): String =
    Bench.record(results, 1.5, 2.25, "8", cc, "/data/sf0.1")

  test("one JSON line with every field, in order") {
    val l = line(Seq("q01_a" -> Right(1.25), "q02_b" -> Right(0.5)))
    assert(!l.contains('\n'))
    val j = parse(l)
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "calibration", "calibration_shuffle", "cpus", "queries", "sf"))
    assert(j.get("metric").asText == "total")
    assert(j.get("value").asDouble == 1.75)
    assert(j.get("unit").asText == "sec")
    assert(j.get("calibration").asDouble == 1.5)
    assert(j.get("calibration_shuffle").asDouble == 2.25)
    assert(j.get("cpus").asInt == 8)
    assert(j.get("queries").fieldNames.asScala.toSeq == Seq("q01_a", "q02_b"))
    assert(j.get("queries").get("q01_a").asDouble == 1.25)
    assert(j.get("sf").asText == "/data/sf0.1")
  }

  test("an error holding a quote, a tab and a newline stays valid JSON") {
    val msg = "AnalysisException: bad \"col\"\there\nnext"
    val j = parse(line(Seq("q01_a" -> Left(msg))))
    assert(j.get("queries").get("q01_a").asText == "err: " + msg)
  }

  test("failed queries go under errors and stay out of value") {
    val j = parse(line(Seq("q01_a" -> Right(2.0), "q02_b" -> Left("boom"),
      "q03_c" -> Right(3.0), "q04_d" -> Left("bang"))))
    assert(j.get("value").asDouble == 5.0)
    assert(j.get("errors").elements.asScala.map(_.asText).toSeq ==
      Seq("q02_b", "q04_d"))
    assert(j.get("queries").get("q02_b").asText == "err: boom")
    // no errors: no errors field at all
    assert(!parse(line(Seq("q01_a" -> Right(2.0)))).has("errors"))
  }

  test("the cc map round-trips") {
    val cc = Seq("q56_neardup_dedup" -> CcRunStats(0, Nil),
      "q70_cc" -> CcRunStats(3, Seq(120L, 7L, 0L)))
    val j = parse(line(Seq("q56_neardup_dedup" -> Right(1.0),
      "q70_cc" -> Right(2.0)), cc))
    val back = j.get("cc").properties.asScala.map { e =>
      e.getKey -> CcRunStats(e.getValue.get("rounds").asInt,
        e.getValue.get("changed").elements.asScala.map(_.asLong).toSeq)
    }.toSeq
    assert(back == cc)
    assert(!parse(line(Seq("q01_a" -> Right(1.0)))).has("cc"))
  }
}
