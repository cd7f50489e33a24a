package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: Bench, Verify, Demo, every tool and
  * the test suite start Spark through [[local]], so a session setting
  * changes in one place. The model is a single idempotent injection
  * point for the engine's Catalyst extensions (SNIPPETS [1]).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM may use. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events may ship TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftSparkExtensions) // vec_dot + optimizer rules
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.BoundedWindow.muteNoPartitionWarning()
    spark
  }
}
