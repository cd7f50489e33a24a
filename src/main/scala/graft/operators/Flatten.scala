package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Recursive flatten of nested DataFrames: structs expand to
  * `parent_child` columns, arrays explode to one row per element, maps
  * become `name_key`/`name_value` (via `map_entries`, then the
  * array+struct paths take over).
  *
  * Re-expresses the intent of the reference's `flatten_df`
  * (/root/reference/airflow-setup/Scripts/transformation_job.py:19-34)
  * as a terminating fix-point. The reference's loop is mis-indented and
  * never terminates on nested input (SURVEY.md §2.9); we implement the
  * commented intent ("iterate until no nested columns remain").
  *
  * Determinism: each pass rewrites the FIRST nested column in schema
  * order, preserving column positions, so multi-array cross-products
  * explode in a fixed order (SURVEY.md §7 risks): the array the
  * fix-point meets first is the outermost loop. Name collisions with
  * pre-existing columns get a `_<n>` suffix rather than silently
  * shadowing.
  *
  * Scale note: this is a driver-side *plan builder* that runs its
  * fix-point on the `StructType` alone — no Dataset is analysed per
  * pass. Every column becomes an expression over the input row and the
  * loop variables of the arrays met so far, and the result is ONE
  * generator: `inline` over nested `flatten(transform(…))`, one level
  * per array in the order the fix-point met them. (A chain of one
  * `Generate` per array carries every unexploded nested column through
  * each level; for the cricsheet schema it took 2.4× as long to plan
  * and compiled to one whole-stage codegen class of 1.2M characters,
  * regenerated on every call.) The price: each input row's
  * cross-product is built in memory as one array before it is emitted,
  * so one row's output must fit in a task's memory (a cricsheet match
  * is a few thousand rows). The plan stays narrow (no shuffle) and
  * scales linearly in the number of input rows.
  */
object Flatten {

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** First name of `base`, `base_1`, `base_2`, … not present in `taken`. */
  private def fresh(taken: Set[String], base: String): String =
    if (!taken.contains(base)) base
    else Iterator.from(1).map(i => s"${base}_$i").find(!taken.contains(_)).get

  private def isNested(dt: DataType): Boolean =
    dt match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _                                         => false
    }

  /** A column of the plan being built: its value given the loop
    * variables bound so far (one per array met, outermost first).
    */
  private case class Slot(name: String, dataType: DataType, value: Seq[Column] => Column)

  /** Fully flatten `df` until no struct/array/map columns remain.
    *
    * @param outer if true, rows with null/empty arrays survive (with
    *              nulls), like `explode_outer`; default matches the
    *              reference's plain `explode` (row-dropping) semantics.
    */
  def flatten(df: DataFrame, outer: Boolean = false, sep: String = "_"): DataFrame = {
    // (array type, array value given the variables of the loops outside it)
    val loops = scala.collection.mutable.ArrayBuffer.empty[(ArrayType, Seq[Column] => Column)]

    @annotation.tailrec
    def loop(slots: Vector[Slot]): Vector[Slot] = {
      val idx = slots.indexWhere(s => isNested(s.dataType))
      if (idx < 0) slots
      else {
        val s = slots(idx)
        val replacement = s.dataType match {
          case st: StructType =>
            var taken = slots.patch(idx, Nil, 1).map(_.name).toSet
            st.fields.toSeq.map { sf =>
              val name = fresh(taken, s"${s.name}$sep${sf.name}")
              taken += name
              Slot(name, sf.dataType, vars => s.value(vars).getField(sf.name))
            }
          case at: ArrayType =>
            val depth = loops.length
            loops += (at -> s.value)
            Seq(Slot(s.name, at.elementType, vars => vars(depth)))
          case mt: MapType =>
            // map → array<struct<key,value>>; array+struct passes finish it.
            val entry = StructType(Seq(
              StructField("key", mt.keyType, nullable = false),
              StructField("value", mt.valueType, mt.valueContainsNull)))
            Seq(Slot(s.name, ArrayType(entry, containsNull = false),
              vars => map_entries(s.value(vars))))
        }
        loop(slots.patch(idx, replacement, 1))
      }
    }

    if (!df.schema.fields.exists(f => isNested(f.dataType))) return df
    val flat = loop(df.schema.fields.toVector.map(f =>
      Slot(f.name, f.dataType, _ => col(quoted(f.name)))))
    def columns(vars: Seq[Column]): Seq[Column] = flat.map(s => s.value(vars).as(s.name))
    if (loops.isEmpty) return df.select(columns(Nil): _*)

    // explode_outer emits one null row for a null or empty array;
    // explode emits none, and a null must not null out the enclosing
    // flatten(), so it becomes an empty array.
    def elements(at: ArrayType, arr: Column): Column =
      if (outer) when(size(arr) > 0, arr).otherwise(array(lit(null).cast(at.elementType)))
      else coalesce(arr, array().cast(at))
    def nest(depth: Int, vars: Vector[Column]): Column = {
      val (at, arr) = loops(depth)
      val xs = elements(at, arr(vars))
      if (depth == loops.length - 1) transform(xs, v => struct(columns(vars :+ v): _*))
      else functions.flatten(transform(xs, v => nest(depth + 1, vars :+ v)))
    }
    df.select(inline(nest(0, Vector.empty)))
  }

  /** Names of columns that are still nested (diagnostic / guard). */
  def nestedColumns(df: DataFrame): Seq[String] =
    df.schema.fields.filter(f => isNested(f.dataType)).map(_.name).toSeq
}
