package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM, built by
  * the production [[GraftSession]] (so the engine's Catalyst extensions
  * are wired the way every harness wires them — SqlSurfaceSpec asserts
  * the injected functions resolve from bare SQL). Pinned at 4 cores so
  * partition counts in plan assertions do not vary with the machine.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The AQE-final section of an executed plan string: everything
    * before the OUTER AdaptiveSparkPlan's "== Initial Plan ==" marker,
    * which prints at column 0 ("+- == Initial Plan =="). A naive split
    * on the bare marker truncates too early when a cached relation
    * (InMemoryTableScan) embeds its own already-executed
    * AdaptiveSparkPlan: its deep-indented Initial Plan marker appears
    * mid-tree, cutting the final section off before the assertions'
    * target operators (surfaced in round 15 when the memoized
    * term_rows relation gained a repartition Exchange and rrf_fusion's
    * NLJ pin started reading a truncated string).
    */
  def aqeFinalSection(p: String): String =
    p.split("(?m)^\\+- == Initial Plan ==").head
  /** Names of the columns of `df` that are still nested. */
  def nestedColumns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.filter(_.dataType match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _ => false
    }).map(_.name)
  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
