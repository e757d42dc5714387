package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select` is the one query filter of Verify and Bench (and
  * through Bench, of `tools/sf1_sweep.py`'s chunks): prefixes select in
  * name order, a full name selects exactly its query, none selects all. */
class SparkEntrySelectSpec extends AnyFunSuite {
  private val all = SparkEntry.queries.keys.toSeq.sorted

  test("no prefixes selects all 238 queries in name order") {
    assert(SparkEntry.select(Nil).map(_._1) == all)
    assert(all.size == 238)
  }

  test("a full query name selects exactly that query") {
    all.foreach(n => assert(SparkEntry.select(Seq(n)).map(_._1) == Seq(n), n))
  }

  test("prefixes select the union of their matches, in name order") {
    val got = SparkEntry.select(Seq("q0", "c")).map(_._1)
    assert(got == all.filter(n => n.startsWith("q0") || n.startsWith("c")))
    assert(got.exists(_.startsWith("q0")) && got.exists(_.startsWith("c")))
    assert(SparkEntry.select(Seq("no_such_query")).isEmpty)
  }
}
