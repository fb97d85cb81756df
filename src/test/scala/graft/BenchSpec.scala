package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `Bench`'s two stdout lines parse as JSON, and the final one, which
  * the bench runner parses from a ~2000-char stdout tail, keeps its keys,
  * their order and its 3-decimal numbers.
  */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val results = Seq("pipe_mart" -> 1.23456, "zz_not_headline" -> 0.5, "a1_pivot" -> 2.0)

  test("the detail line carries every query, the failures and the total") {
    val Seq(detail, _) = Bench.lines(results, Seq("bad \"q\""), "/sf")
    val j = mapper.readTree(detail)
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "queries", "failed", "sf"))
    assert(j.get("metric").asText == "total_detail")
    assert(j.get("value").asDouble == results.map(_._2).sum)
    assert(j.get("queries").fieldNames.asScala.toSeq == results.map(_._1))
    assert(j.get("queries").get("pipe_mart").asDouble == 1.23456)
    assert(j.get("failed").elements.asScala.map(_.asText).toSeq == Seq("bad \"q\""))
  }

  test("the final line keeps its keys, their order and 3-decimal numbers") {
    val Seq(_, last) = Bench.lines(results, Seq("bad"), "/sf")
    assert(last ==
      """{"metric":"total","value":3.735,"unit":"sec","n_queries":3,"n_failed":1,""" +
        """"queries":{"pipe_mart":1.235,"a1_pivot":2.000},"sf":"/sf"}""")
    val j = mapper.readTree(last)
    assert(j.get("value").isNumber && j.get("n_queries").asInt == 3)
  }

  test("the final line fits the runner's stdout tail with every headline query") {
    val Seq(_, last) = Bench.lines(Bench.headline.map(_ -> 12345.678), Nil,
      "/srv/graft/testdata/sf0.1")
    assert(mapper.readTree(last).get("queries").size == Bench.headline.size)
    assert(last.length < 2000, last.length)
  }
}
