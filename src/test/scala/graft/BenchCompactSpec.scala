package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Law for the round-14 driver-contract repair (VERDICT r13 item 1):
  * the driver recovers the bench result from a 2000-char stdout tail,
  * so the LAST printed line must (a) fit the budget with the observed
  * sbt epilogue still after it, (b) be one self-contained JSON object
  * with the contract keys, and (c) spend its budget on the slowest
  * queries — the ones whose round-over-round movement the judge needs. */
class BenchCompactSpec extends AnyFunSuite {

  /** A surface shaped like the real one: 238 queries, real-length names,
    * seconds over two orders of magnitude. */
  private val surface: Seq[(String, Double)] =
    (1 to 238).map { i =>
      f"p$i%02d_some_realistic_query_name" -> (0.05 + (i % 29) * 0.73)
    }
  private def head(nQ: Int) =
    s"""{"metric":"total","value":123.456,"unit":"sec","estimator":"min_of_passes","partial":false,"passes":3,"wall_s":900,"queries":"""
  private val tail =
    s""","queries_n":238,"failed":0,"spark_subset_secs":88.561,"duckdb_subset_secs":12.526,"degraded_n":2,"gates":"off","sf":"/root/testdata/sf0.1","sha":"0123456789abcdef0123456789abcdef01234567"}"""

  test("compact line fits the budget and parses as one JSON object") {
    val slowFirst = surface.sortBy(-_._2)
    val line = Bench.compactResultLine(head(238), tail, slowFirst, Bench.CompactMaxLen)
    assert(line.length <= Bench.CompactMaxLen,
      s"line is ${line.length} chars, budget ${Bench.CompactMaxLen}")
    val parsed = JsonMethods.parse(line)
    assert((parsed \ "metric") == JString("total"))
    assert((parsed \ "unit") == JString("sec"))
    val qs = (parsed \ "queries").asInstanceOf[JObject].obj
    assert(qs.nonEmpty, "budget must admit at least some queries")
    // budget spent slowest-first: the included set IS the top-k by time
    val included = qs.map(_._1).toSet
    val topK = slowFirst.take(qs.size).map(_._1).toSet
    assert(included == topK, "compact line must keep the slowest queries")
    assert((parsed \ "sf") == JString("/root/testdata/sf0.1"))
  }

  test("2000-char tail capture recovers the line whole after a 7KB full line") {
    val slowFirst = surface.sortBy(-_._2)
    val fullLine = "{\"metric\":\"total\"," + surface.map { case (k, v) =>
      "\"" + k + "\":" + v
    }.mkString("\"queries\":{", ",", "}") + "}"
    val compact = Bench.compactResultLine(head(238), tail, slowFirst, Bench.CompactMaxLen)
    val epilogue = "[success] Total time: 1217 s (20:17), completed Aug 18, 2026, 7:19:49 AM"
    val stream = fullLine + "\n" + compact + "\n" + epilogue + "\n"
    val window = stream.takeRight(2000)
    val recovered = window.split('\n').filter(_.startsWith("{\"metric\""))
    assert(recovered.length == 1, "exactly the compact line starts with {\"metric\" in the tail")
    val parsed = JsonMethods.parse(recovered.head)
    assert((parsed \ "partial") == JBool(false))
  }

  test("zero-budget degrades to an empty queries map, still valid JSON") {
    val line = Bench.compactResultLine(head(0), tail, surface, head(0).length + tail.length + 2)
    val parsed = JsonMethods.parse(line)
    assert((parsed \ "queries").asInstanceOf[JObject].obj.isEmpty)
  }
}
