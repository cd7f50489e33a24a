package graft

import org.scalatest.funsuite.AnyFunSuite

/** The hand-maintained bench lists, pinned without a Spark session: a
  * renamed or dropped query must fail here, not only in Bench's
  * run-time `require` or perfbench's `family_head` slice.
  */
class BenchSharedSpec extends AnyFunSuite {

  test("every corpusFamily name is a declared query, listed once") {
    val family = BenchShared.corpusFamily
    val unknown = family.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val dups = family.diff(family.distinct)
    assert(dups.isEmpty, s"listed more than once: ${dups.mkString(", ")}")
  }

  // Not "every key is in corpusFamily": assoc_rules is the one
  // consumer of basket_items and releases it from the alphabetical
  // phase. A key that names no query would simply never release.
  test("every releaseAfter key is a declared query") {
    val stray = BenchShared.releaseAfter.keySet.filterNot(SparkEntry.queries.contains)
    assert(stray.isEmpty, s"release points that are not queries: ${stray.mkString(", ")}")
  }
}
