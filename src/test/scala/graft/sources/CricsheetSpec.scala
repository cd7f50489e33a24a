package graft.sources

import graft.SparkSpecBase
import graft.operators.{DriftReport, Flatten, SchemaDiff}
import org.apache.spark.sql.functions._

class CricsheetSpec extends SparkSpecBase {
  import spark.implicits._

  private def matchesDir: String =
    new java.io.File(fixture("match_tiny.json")).getParent

  test("explicit-schema read parses both fixture matches") {
    val m = Cricsheet.readMatches(spark, matchesDir)
    assert(m.count() == 2)
    // no _corrupt_record: multiLine read handled pretty-printed files
    assert(!m.columns.contains("_corrupt_record"))
    assert(m.select($"info.venue").as[String].collect().toSet ==
      Set("Wankhede Stadium", "Chepauk"))
  }

  test("deliveries: one row per ball with innings/over context") {
    val dels = Cricsheet.deliveries(Cricsheet.readMatches(spark, matchesDir))
    // tiny: 2 deliveries; full: 12 deliveries
    assert(dels.count() == 14)
    assert(dels.filter($"is_wicket").count() == 1)
    val innings2 = dels.filter($"venue" === "Chepauk" && $"innings_idx" === 1)
    assert(innings2.select($"batting_team").distinct().as[String].head() == "Team D")
    // runs reconcile: tiny 5 + full (0+2+2 + 6+4+0 + 1+3+2 + 4+6+1)
    assert(dels.agg(sum($"runs_total")).head.getLong(0) == 5L + 31L)
  }

  test("battingSummary aggregates the warehouse query") {
    val dels = Cricsheet.deliveries(Cricsheet.readMatches(spark, matchesDir))
    val bat = Cricsheet.battingSummary(dels).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bat("B2") == (10L, 3L)) // 6+4+0 across over 1 (runs, balls)
    assert(bat("Player One") == (5L, 2L))
  }

  test("explicit schema and inference agree on the delivery relation") {
    val explicit = Cricsheet.deliveries(Cricsheet.readMatches(spark, matchesDir))
    val inferred = Cricsheet.deliveries(
      Cricsheet.readMatches(spark, matchesDir, inferSchema = true))
    assert(explicit.count() == inferred.count())
    assert(explicit.agg(sum($"runs_total")).head.getLong(0) ==
      inferred.agg(sum($"runs_total")).head.getLong(0))
  }

  test("full flatten of explicit-schema matches terminates flat") {
    val flat = Flatten.flatten(Cricsheet.readMatches(spark, matchesDir).drop("match_file"), outer = true)
    assert(nestedColumns(flat).isEmpty)
    assert(flat.count() > 0)
  }

  test("a corrupt match file degrades to a null row, not a job failure") {
    val dir = tmpDir("corrupt_matches")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixture("match_tiny.json")),
      java.nio.file.Paths.get(dir, "good.json"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "bad.json"), "{ this is not json !!")
    val all = Cricsheet.readMatches(spark, dir)
    assert(all.count() == 2) // corrupt file still yields a (null) row
    val valid = Cricsheet.validMatches(all)
    assert(valid.count() == 1)
    assert(Cricsheet.deliveries(valid).count() == 2)
  }

  test("drift report renders added/dropped/retyped sections") {
    val old = Cricsheet.readMatches(spark, matchesDir).select($"info.*").schema
    val neu = org.apache.spark.sql.types.StructType(
      old.fields.filterNot(_.name == "gender")
        .map(f => if (f.name == "overs")
          f.copy(dataType = org.apache.spark.sql.types.StringType) else f) :+
        org.apache.spark.sql.types.StructField("match_referee_note",
          org.apache.spark.sql.types.StringType))
    val (drift, msg) = DriftReport.render(
      SchemaDiff.diff(spark, old, neu), "ipl_matches")
    assert(drift)
    assert(msg.contains("+ match_referee_note: string"))
    assert(msg.contains("- gender: string"))
    assert(msg.contains("~ overs: bigint -> string"))
    val (noDrift, noMsg) = DriftReport.render(
      SchemaDiff.diff(spark, old, old), "ipl_matches")
    assert(!noDrift && noMsg.contains("no changes"))
  }
}
