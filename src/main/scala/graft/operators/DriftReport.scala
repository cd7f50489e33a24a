package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}

/** Human-readable schema-drift report — the reference's SNS
  * notification body (`notifyChanges`,
  * /root/reference/airflow-setup/Scripts/compare_schema.py:106-124)
  * minus the AWS transport: the caller decides where the message
  * goes. Input is SchemaDiff.diffDf output, or its driver-side rows.
  */
object DriftReport {

  /** (hasDrift, message). Collects the diff — schema diffs are small
    * by construction (columns, not rows).
    */
  def render(diff: DataFrame, tableName: String): (Boolean, String) =
    render(diff.as(Encoders.product[ColumnChange]).collect().toSeq, tableName)

  /** (hasDrift, message) over diff rows already on the driver. */
  def render(diff: Seq[ColumnChange], tableName: String): (Boolean, String) = {
    val added = diff.collect { case ColumnChange(n, "added", _, Some(t)) => s"  + $n: $t" }
    val dropped = diff.collect { case ColumnChange(n, "dropped", Some(t), _) => s"  - $n: $t" }
    val retyped = diff.collect {
      case ColumnChange(n, "retyped", Some(o), Some(t)) => s"  ~ $n: $o -> $t"
    }
    val hasDrift = added.nonEmpty || dropped.nonEmpty || retyped.nonEmpty
    val msg =
      if (!hasDrift) s"Schema of '$tableName': no changes detected."
      else {
        val sections = Seq(
          if (added.nonEmpty) s"Added columns:\n${added.mkString("\n")}" else "",
          if (dropped.nonEmpty) s"Dropped columns:\n${dropped.mkString("\n")}" else "",
          if (retyped.nonEmpty) s"Retyped columns:\n${retyped.mkString("\n")}" else ""
        ).filter(_.nonEmpty)
        s"Schema drift detected in '$tableName':\n" + sections.mkString("\n")
      }
    (hasDrift, msg)
  }
}
