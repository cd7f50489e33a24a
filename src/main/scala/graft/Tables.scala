package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table loaders. One parquet file per table under the sf dir
  * (see /root/repo/TESTDATA.md). All queries read through here so the
  * scan path (vectorized parquet, pushdown, pruning) is uniform.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's reader rejects
    * outright — read nanos as long via the legacy flag and floor to
    * microseconds with integer DIV; a double division would lose
    * precision above 2^53 ns) and plain timestamp[us] without a
    * timezone (read as TIMESTAMP_NTZ). Normalize both to session-tz
    * TimestampType so every downstream query sees one type. Sessions
    * pin `spark.sql.session.timeZone=UTC`, so the NTZ→LTZ cast is the
    * identity on the epoch values, and DuckDB oracles flooring
    * epoch_us/epoch_ms match bit-for-bit in both encodings.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // The loader itself stays side-effect-free: graft's session
    // builders (Bench/Verify/tools/specs) set
    // spark.sql.legacy.parquet.nanosAsLong=true up front, because the
    // flag is read again at plan time (captured into the scan's
    // hadoopConf), so a set/restore around this lazy read would break
    // the later action. Only if a foreign session without the flag
    // meets a NANOS file — which Spark rejects at schema inference —
    // do we set it, and then it must stay set for execution.
    val raw =
      try t(s, d, "events")
      catch {
        case e: Throwable
            if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
              .exists(c => String.valueOf(c.getMessage).contains("NANOS")) =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          t(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already session-tz timestamp
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
