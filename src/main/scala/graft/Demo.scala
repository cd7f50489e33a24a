package graft

import graft.operators.{DriftReport, SchemaDiff}
import graft.sources.Cricsheet
import org.apache.spark.sql.types.{StringType, StructType}

/** Runnable end-to-end demo of the domain flow: cricsheet ingest →
  * delivery relation → batting analytics → schema-drift report.
  * `sbt "runMain graft.Demo [matchesDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/src/test/resources/fixtures")
    val spark = GraftSession.local()

    val matches = Cricsheet.readMatches(spark, dir)
    val dels = Cricsheet.deliveries(matches)
    println(s"matches=${matches.count()} deliveries=${dels.count()}")
    Cricsheet.battingSummary(dels).show(10, truncate = false)

    val old = matches.select("info.*").schema
    val drifted = StructType(
      old.fields.filterNot(_.name == "gender")
        .map(f => if (f.name == "overs") f.copy(dataType = StringType) else f) :+
        org.apache.spark.sql.types.StructField("match_referee_note", StringType))
    val (_, report) = DriftReport.render(
      SchemaDiff.diff(spark, old, drifted), "ipl_matches")
    println(report)

    // full incremental pipeline: zip the fixtures into a landing dir,
    // run twice — second run must be a no-op (exactly-once per file)
    val landing = java.nio.file.Files.createTempDirectory("demo_landing").toString
    val work = java.nio.file.Files.createTempDirectory("demo_work").toString
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$landing/matches.zip"))
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      zout.putNextEntry(new java.util.zip.ZipEntry(f.getName))
      zout.write(java.nio.file.Files.readAllBytes(f.toPath))
      zout.closeEntry()
    }
    zout.close()
    val r1 = Pipeline.runOnce(spark, landing, work)
    println(s"pipeline run1: newFiles=${r1.newFiles} stagedRows=${r1.stagedRows}")
    val r2 = Pipeline.runOnce(spark, landing, work)
    println(s"pipeline run2: newFiles=${r2.newFiles} (exactly-once)")

    // warehouse step: bucketed managed tables + SQL analytics over them
    // (repeated joins on the bucket key plan with no shuffle)
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS demo_li"); spark.sql("DROP TABLE IF EXISTS demo_o")
    graft.sources.Sinks.bucketTable(Tables.lineitem(spark, sf), "demo_li", "l_orderkey", 8)
    graft.sources.Sinks.bucketTable(Tables.orders(spark, sf), "demo_o", "o_orderkey", 8)
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM demo_li JOIN demo_o ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      .show(truncate = false)
    spark.sql("DROP TABLE demo_li"); spark.sql("DROP TABLE demo_o")
    spark.stop()
  }
}
