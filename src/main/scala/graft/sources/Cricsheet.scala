package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's actual domain: cricsheet IPL match JSON
  * (one pretty-printed file per match, downloaded from the public
  * cricsheet archive —
  * /root/reference/airflow-setup/dags/src/data_ingestion_func.py:9).
  *
  * The reference infers schema on every read
  * (Scripts/transformation_job.py:38 — and with single-line read, a
  * latent bug, SURVEY.md §4.4). At scale, inference is a full extra
  * pass over the corpus; this module ships the explicit schema
  * (`matchSchema`) as the fast path with inference as the fallback.
  * `info.players`/`info.registry.people` have data-dependent keys and
  * are declared as maps — inference would instead produce an unbounded
  * wide struct (SURVEY.md §1.2).
  */
object Cricsheet {

  private val runsType = StructType(Seq(
    StructField("batter", LongType),
    StructField("extras", LongType),
    StructField("non_boundary", BooleanType),
    StructField("total", LongType)))

  private val extrasType = StructType(Seq(
    StructField("byes", LongType),
    StructField("legbyes", LongType),
    StructField("noballs", LongType),
    StructField("penalty", LongType),
    StructField("wides", LongType)))

  private val fielderType = StructType(Seq(
    StructField("name", StringType),
    StructField("substitute", BooleanType)))

  private val wicketType = StructType(Seq(
    StructField("kind", StringType),
    StructField("player_out", StringType),
    StructField("fielders", ArrayType(fielderType))))

  private val deliveryType = StructType(Seq(
    StructField("batter", StringType),
    StructField("bowler", StringType),
    StructField("non_striker", StringType),
    StructField("runs", runsType),
    StructField("extras", extrasType),
    StructField("replacements", StringType),
    StructField("review", StringType),
    StructField("wickets", ArrayType(wicketType))))

  private val overType = StructType(Seq(
    StructField("over", LongType),
    StructField("deliveries", ArrayType(deliveryType))))

  private val inningsType = StructType(Seq(
    StructField("team", StringType),
    StructField("target", StructType(Seq(
      StructField("overs", LongType), StructField("runs", LongType)))),
    StructField("powerplays", ArrayType(StructType(Seq(
      StructField("from", DoubleType), StructField("to", DoubleType),
      StructField("type", StringType))))),
    StructField("overs", ArrayType(overType))))

  val matchSchema: StructType = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("data_version", StringType),
      StructField("created", StringType),
      StructField("revision", LongType)))),
    StructField("info", StructType(Seq(
      StructField("balls_per_over", LongType),
      StructField("city", StringType),
      StructField("dates", ArrayType(StringType)),
      StructField("event", StructType(Seq(
        StructField("name", StringType), StructField("match_number", LongType)))),
      StructField("gender", StringType),
      StructField("match_type", StringType),
      StructField("officials", StructType(Seq(
        StructField("match_referees", ArrayType(StringType)),
        StructField("reserve_umpires", ArrayType(StringType)),
        StructField("tv_umpires", ArrayType(StringType)),
        StructField("umpires", ArrayType(StringType))))),
      StructField("outcome", StructType(Seq(
        StructField("winner", StringType),
        StructField("result", StringType),
        StructField("by", StructType(Seq(
          StructField("runs", LongType), StructField("wickets", LongType))))))),
      StructField("overs", LongType),
      StructField("player_of_match", ArrayType(StringType)),
      // data-dependent keys → maps (inference would yield wide structs)
      StructField("players", MapType(StringType, ArrayType(StringType))),
      StructField("registry", StructType(Seq(
        StructField("people", MapType(StringType, StringType))))),
      StructField("season", StringType),
      StructField("team_type", StringType),
      StructField("teams", ArrayType(StringType)),
      StructField("toss", StructType(Seq(
        StructField("decision", StringType), StructField("winner", StringType)))),
      StructField("venue", StringType)))),
    StructField("innings", ArrayType(inningsType))))

  /** Read a directory of match files. `multiLine=true` is required —
    * cricsheet files are pretty-printed (the reference's single-line
    * read is defect §4.4.3). Explicit schema skips the inference pass.
    */
  def readMatches(spark: SparkSession, dir: String, inferSchema: Boolean = false): DataFrame =
    readMatchFiles(spark, Seq(dir), inferSchema)

  /** Read specific match files/paths — the incremental pipeline scopes
    * each run to its new files only (the reference's crawler-on-new-
    * prefixes, final_DAG.py:144-159).
    *
    * Malformed files: Spark's default PERMISSIVE mode (pinned
    * explicitly here as documentation) makes a corrupt document a row
    * of nulls instead of a job failure; `validMatches` +
    * `Pipeline.runOnce`'s corrupt-row count turn that into filtered
    * staging plus a monitored drop count. At 100 TB a bad-record rate
    * of 1e-6 is a certainty, not an edge case.
    */
  def readMatchFiles(spark: SparkSession, paths: Seq[String], inferSchema: Boolean = false): DataFrame = {
    val r = spark.read
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE") // Spark default, pinned on purpose
    (if (inferSchema) r else r.schema(matchSchema))
      .json(paths: _*)
      .withColumn("match_file", input_file_name())
  }

  /** Rows with a parseable `innings` — the column every downstream
    * consumer (deliveries, flatten staging) actually needs. Written
    * against the schema actually present so the all-files-corrupt
    * inference case (schema = only `_corrupt_record`) returns empty
    * instead of throwing an unresolved-column error. Partial
    * corruption (valid JSON, mistyped innings) is also dropped here —
    * count `total - valid` for monitoring (Pipeline.runOnce does).
    */
  def validMatches(matches: DataFrame): DataFrame =
    if (matches.columns.contains("innings")) matches.filter(col("innings").isNotNull)
    else matches.limit(0)

  /** Ball-by-ball relation: one row per delivery, with match/innings/
    * over context — the staging table the reference's warehouse
    * analytics run against, derived via targeted explodes (cheaper
    * than full flatten: officials/players stay unexploded).
    */
  def deliveries(matches: DataFrame): DataFrame =
    matches.select(
        col("match_file"),
        col("info.event.match_number").as("match_number"),
        col("info.venue").as("venue"),
        col("info.season").as("season"),
        element_at(col("info.dates"), 1).cast("date").as("match_date"),
        posexplode(col("innings")).as(Seq("innings_idx", "inn")))
      .select(col("match_file"), col("match_number"), col("venue"),
        col("season"), col("match_date"), col("innings_idx"),
        col("inn.team").as("batting_team"),
        explode(col("inn.overs")).as("ov"))
      .select(col("match_file"), col("match_number"), col("venue"),
        col("season"), col("match_date"), col("innings_idx"),
        col("batting_team"), col("ov.over").as("over"),
        posexplode(col("ov.deliveries")).as(Seq("ball_idx", "del")))
      .select(
        col("match_file"), col("match_number"), col("venue"), col("season"),
        col("match_date"), col("innings_idx"), col("batting_team"),
        col("over"), col("ball_idx"),
        col("del.batter").as("batter"),
        col("del.bowler").as("bowler"),
        col("del.non_striker").as("non_striker"),
        col("del.runs.batter").as("runs_batter"),
        coalesce(col("del.runs.extras"), lit(0L)).as("runs_extras"),
        col("del.runs.total").as("runs_total"),
        (size(col("del.wickets")) > 0).as("is_wicket"))

  /** The warehouse analytics the pipeline exists to serve: batting
    * summary per batter (runs, balls, strike rate, dismissals).
    */
  def battingSummary(dels: DataFrame): DataFrame =
    dels.groupBy(col("batter"))
      .agg(
        sum(col("runs_batter")).as("runs"),
        count(lit(1)).as("balls"),
        round(sum(col("runs_batter")).cast("double") * 100.0 / count(lit(1)), 2)
          .as("strike_rate"),
        sum(when(col("is_wicket"), 1).otherwise(0)).as("times_out"))
      .orderBy(col("runs").desc, col("batter"))
}
