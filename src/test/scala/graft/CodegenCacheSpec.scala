package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.StaticSQLConf

/** Spark keeps generated classes in one JVM-wide cache whose size is
  * read once, when the first class is compiled. The query inventory's
  * working set is far above Spark's default of 100 entries, so the
  * build sizes it with a JVM flag. This pins that the size really
  * reaches the cache: after more than 100 distinct classes, the first
  * query's class is still cached and its re-run compiles nothing.
  */
class CodegenCacheSpec extends SparkSpecBase {

  private val distinct = 150

  private def run(i: Int): Unit =
    spark.range(3).select((col("id") * lit(1000003 + i)).as("v")).collect()

  test("the codegen class cache holds an inventory-sized working set") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    (0 until distinct).foreach(run)
    val c1 = compiles.getCount
    // each literal is inlined into its own generated class, so the
    // loop itself must have compiled more classes than the default
    // cache holds — otherwise the re-run below proves nothing
    assert(c1 - c0 > 100, s"only ${c1 - c0} classes compiled for $distinct distinct queries")
    run(0)
    assert(compiles.getCount == c1,
      s"re-running the first of $distinct queries compiled ${compiles.getCount - c1} " +
        "classes: its class was evicted from the codegen cache")
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt >= distinct)
  }
}
