package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver reads graft.Bench's per-key medians from a ~3.5 KB
  * stdout tail; the rendered tail must carry every key in that window
  * with the headline last.
  */
class BenchTailSpec extends AnyFunSuite {

  test("the rendered tail fits 3.5 KB and re-parses to every key") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 137)
    val failed = names.take(2)
    // sf0.1-like medians: mostly under 10 s, a few slow keys
    val med = names.drop(2).zipWithIndex.map { case (n, i) =>
      n -> (if (i % 10 == 0) 12.3 + i else 0.05 + (i % 40) * 0.21)
    }.toMap
    val tail = Bench.renderTail(names, med, failed,
      "testdata/sf0.1", 3, 0.4567, 0)
    val bytes = tail.map(_.length + 1).sum
    assert(bytes <= 3500, s"tail is $bytes bytes:\n${tail.mkString("\n")}")

    val json = new ObjectMapper()
    val docs = tail.map(json.readTree)
    val headline = docs.last
    assert(headline.get("metric").asText == "total")
    assert(headline.get("n_queries").asInt == 137)
    assert(headline.get("value").isNull, "a failed key nulls the total")
    assert(headline.get("slowest").size == 5)
    val parts = docs.init
    assert(parts.forall(_.get("metric").asText == "queries_part"))
    assert(parts.map(_.get("i").asInt) == parts.indices)
    assert(parts.forall(_.get("k").asInt == parts.size))
    val got = parts.flatMap(_.get("queries").properties().asScala
      .map(e => e.getKey -> e.getValue)).toMap
    assert(got.keySet == names.toSet)
    failed.foreach(n => assert(got(n).isNull, n))
    med.foreach { case (n, v) =>
      assert(math.abs(got(n).asDouble - v) <= 0.005, n)
    }
  }

  test("jsonString round-trips quotes, backslashes and control characters") {
    // e.g. a peer's `python3 -c` DuckDB replay command line
    val raw = "python3 -c \"import duckdb\tx\\y\nprint(1)\u0001\r\""
    val doc = s"""{"peers":[${Bench.jsonString(raw)}]}"""
    assert(new ObjectMapper().readTree(doc).get("peers").get(0).asText == raw)
  }
}
