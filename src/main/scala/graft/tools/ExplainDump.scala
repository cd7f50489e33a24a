package graft.tools

/** Full `explain("formatted")` dump for named queries, one file per
  * query — the evidence files behind plans/r{N}/<query>_{before,after}.txt
  * (the optimization-round judge checks plan claims against these).
  *
  * `sbt "runMain graft.tools.ExplainDump <outDir> <suffix> [sfDir] q1 q2 ..."`
  * — writes `<outDir>/<query>_<suffix>.txt`. With no query names, dumps
  * every declared query. The plan is captured AFTER one execution so
  * AQE's final plan (coalesced exchanges, runtime join rewrites) is
  * what lands in the file, not the pre-execution estimate.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <outDir> <suffix> [sfDir] q1 q2 ...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val names = if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such queries: ${unknown.mkString(", ")}")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.GraftSession.local()
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      // execute so AQE finalizes the plan; noop sink evaluates every column
      df.write.format("noop").mode("overwrite").save()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val header = s"== $n  (sf: $sfDir, captured: $suffix) ==\n"
      java.nio.file.Files.write(
        outDir.resolve(s"${n}_$suffix.txt"),
        (header + formatted).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[explain] wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
