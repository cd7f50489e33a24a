package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One column of a schema version, compared nominally by (name, type)
  * — the same model as the reference's Glue-catalog diff
  * (/root/reference/airflow-setup/Scripts/compare_schema.py:107-116).
  */
case class ColumnMeta(name: String, dataType: String)

/** One row of a schema diff, in the shape [[SchemaDiff.diffDf]] emits:
  * change ∈ added|dropped|retyped|unchanged, a type absent on the side
  * that lacks the column.
  */
case class ColumnChange(
    name: String,
    change: String,
    old_type: Option[String],
    new_type: Option[String])

/** Schema-drift detection: classify columns of a new schema version
  * against the previous one as added / dropped / retyped / unchanged.
  *
  * The reference does this with two pandas loops over catalog versions
  * (`findAddedUpdated` compare_schema.py:29-43, `findDropped`
  * compare_schema.py:46-53). Spark-first restatement: a full-outer
  * equi-join on column name plus a `when/otherwise` classification —
  * one shuffle-free broadcastable join instead of O(n·m) loops, and it
  * works unchanged if the "schema" tables are millions of rows (e.g. a
  * column registry across a whole lake).
  */
object SchemaDiff {

  /** Top-level columns of a StructType as nominal (name, type) pairs. */
  def columns(st: StructType): Seq[ColumnMeta] =
    st.fields.toSeq.map(f => ColumnMeta(f.name, f.dataType.simpleString))

  /** Leaf columns of a (possibly nested) StructType as dotted paths —
    * `info.event.name: string`, `innings[].overs[].over: bigint`.
    * Nominal top-level comparison is useless for nested JSON: any new
    * leaf anywhere inside `info` changes the whole struct's type
    * string, reporting "retyped info" instead of "added
    * info.event.group". Drift over leaves pinpoints the actual change,
    * like the reference's crawler catalog does for flattened columns.
    * Maps are leaves (data-dependent keys are data, not schema).
    */
  def leafColumns(st: StructType): Seq[ColumnMeta] = {
    import org.apache.spark.sql.types.{ArrayType, DataType}
    def walk(prefix: String, dt: DataType): Seq[ColumnMeta] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(s"$prefix.${f.name}", f.dataType))
      case a: ArrayType => walk(s"$prefix[]", a.elementType)
      case other => Seq(ColumnMeta(prefix, other.simpleString))
    }
    st.fields.toSeq.flatMap(f => walk(f.name, f.dataType))
  }

  /** Relational diff of two column-metadata tables. Inputs must have
    * columns (name, dataType). Output: (name, change, old_type,
    * new_type) where change ∈ added|dropped|retyped|unchanged.
    */
  def diffDf(oldCols: DataFrame, newCols: DataFrame): DataFrame = {
    val o = oldCols.select(col("name"), col("dataType").as("old_type"))
    val n = newCols.select(col("name"), col("dataType").as("new_type"))
    o.join(n, Seq("name"), "full_outer")
      .select(
        col("name"),
        when(col("old_type").isNull, lit("added"))
          .when(col("new_type").isNull, lit("dropped"))
          .when(col("old_type") =!= col("new_type"), lit("retyped"))
          .otherwise(lit("unchanged"))
          .as("change"),
        col("old_type"),
        col("new_type"))
  }

  /** [[diffDf]] for column lists already on the driver (a pipeline's
    * inferred leaves against its collected schema log): the same
    * classification with no Spark job. Rows come in old-column order,
    * then the added columns in new-column order.
    */
  def diffCols(oldCols: Seq[ColumnMeta], newCols: Seq[ColumnMeta]): Seq[ColumnChange] = {
    val oldType = oldCols.map(c => c.name -> c.dataType).toMap
    val newType = newCols.map(c => c.name -> c.dataType).toMap
    (oldCols ++ newCols).map(_.name).distinct.map { n =>
      val (o, t) = (oldType.get(n), newType.get(n))
      val change =
        if (o.isEmpty) "added"
        else if (t.isEmpty) "dropped"
        else if (o != t) "retyped"
        else "unchanged"
      ColumnChange(n, change, o, t)
    }
  }

  /** Driver-side convenience over two StructTypes. */
  def diff(spark: SparkSession, oldSchema: StructType, newSchema: StructType): DataFrame = {
    import spark.implicits._
    diffDf(columns(oldSchema).toDF(), columns(newSchema).toDF())
  }
}
