package graft.tools

/** A/B measurement loop for individual queries: runs each named query
  * REPS times in one JVM through the shared [[graft.QueryMeter]] and
  * prints per-rep wall (-1 for a failed rep) plus the executor-task
  * cpu/gc deltas. Rep 1 carries
  * planning+codegen+JIT warmup; later reps isolate the data-path cost,
  * so a code change's effect is readable without the ordering /
  * ambient-writeback noise a single cold pass carries (the r15 gate
  * record's h–i contention band). Memoized caches are cleared between
  * queries but kept across reps of one query by default — pass
  * SPARK_GRAFT_COLD_CACHE=1 to clear between reps too (measures the
  * build+consume path every rep, the Bench family's first-consumer
  * shape).
  *
  * `sbt "runMain graft.tools.TimeQueries <sfDir> <reps> q1 q2 ..."`
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQueries <sfDir> <reps> q1 q2 ...")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such queries: ${unknown.mkString(", ")}")
    val coldCache = sys.env.contains("SPARK_GRAFT_COLD_CACHE")
    val spark = graft.GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()
    val meter = new graft.QueryMeter(spark, sfDir, "time")
    names.foreach { n =>
      graft.queries.LlmQueries.clearCaches(Some(spark))
      (1 to reps).foreach { r =>
        if (coldCache && r > 1) graft.queries.LlmQueries.clearCaches(Some(spark))
        val m = meter.measure(n, graft.SparkEntry.queries(n))
        println(f"[time] $n%-24s rep $r%2d  wall ${m.wallSec}%8.3f s  " +
          f"cpu ${m.cpuSec}%8.3f  gc ${m.gcSec}%6.2f")
      }
    }
    spark.stop()
  }
}
