package graft.operators

import graft.plans.{FlattenProgram, FlattenRows}
import graft.plans.FlattenProgram.Path
import org.apache.spark.sql.{DataFrame, GraftOfRowsBridge}
import org.apache.spark.sql.catalyst.expressions.CreateStruct
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Recursive flatten of nested DataFrames: structs expand to
  * `parent_child` columns, arrays explode to one row per element, maps
  * explode to one row per entry with `name_key`/`name_value` columns
  * (each entry read as the struct `map_entries` makes).
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
  * pass. Every column becomes a field-ordinal path from the input row
  * or from the current element of one of the arrays met so far, and
  * the result is ONE generator, [[graft.plans.FlattenRows]], over that
  * precomputed program. It walks the arrays with an index stack and
  * streams the output rows one at a time, so one input row's output
  * never has to fit in memory: a `limit` over a row whose arrays cross
  * to 10^8 rows returns at once. The plan resolves in one Analyzer pass
  * (no lambda variables), stays narrow (no shuffle) and scales
  * linearly in the number of input rows. Output columns are all
  * declared nullable.
  */
object Flatten {

  /** First name of `base`, `base_1`, `base_2`, … not present in `taken`. */
  private def fresh(taken: Set[String], base: String): String =
    if (!taken.contains(base)) base
    else Iterator.from(1).map(i => s"${base}_$i").find(!taken.contains(_)).get

  private def isNested(dt: DataType): Boolean =
    dt match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _                                         => false
    }

  /** A column of the plan being built: where its value is read from. */
  private case class Slot(name: String, dataType: DataType, path: Path)

  /** Fully flatten `df` until no struct/array/map columns remain.
    *
    * @param outer if true, rows with null/empty arrays survive (with
    *              nulls), like `explode_outer`; default matches the
    *              reference's plain `explode` (row-dropping) semantics.
    */
  def flatten(df: DataFrame, outer: Boolean = false, sep: String = "_"): DataFrame = {
    val loops = scala.collection.mutable.ArrayBuffer.empty[FlattenProgram.Loop]

    @annotation.tailrec
    def loop(slots: Vector[Slot]): Vector[Slot] = {
      val idx = slots.indexWhere(s => isNested(s.dataType))
      if (idx < 0) slots
      else {
        val s = slots(idx)
        val replacement = s.dataType match {
          case st: StructType =>
            var taken = slots.patch(idx, Nil, 1).map(_.name).toSet
            st.fields.toSeq.zipWithIndex.map { case (sf, i) =>
              val name = fresh(taken, s"${s.name}$sep${sf.name}")
              taken += name
              Slot(name, sf.dataType, s.path.copy(steps = s.path.steps :+ (i -> sf.dataType)))
            }
          case at: ArrayType =>
            loops += FlattenProgram.Loop(s.path, at)
            Seq(Slot(s.name, at.elementType, Path(loops.length - 1, Vector.empty)))
          case mt: MapType =>
            // one loop over the entries, each a struct<key, value>
            // (the `map_entries` shape) that the struct rule expands
            loops += FlattenProgram.Loop(s.path, mt)
            val entry = StructType(Seq(
              StructField("key", mt.keyType, nullable = false),
              StructField("value", mt.valueType, mt.valueContainsNull)))
            Seq(Slot(s.name, entry, Path(loops.length - 1, Vector.empty)))
        }
        loop(slots.patch(idx, replacement, 1))
      }
    }

    if (!df.schema.fields.exists(f => isNested(f.dataType))) return df
    val flat = loop(df.schema.fields.toVector.zipWithIndex.map { case (f, i) =>
      Slot(f.name, f.dataType, Path(FlattenProgram.Input, Vector(i -> f.dataType)))
    })
    val program = FlattenProgram(
      StructType(flat.map(s => StructField(s.name, s.dataType))),
      loops.toSeq, flat.map(_.path))
    val input = df.queryExecution.analyzed
    val generate = Generate(
      FlattenRows(CreateStruct(input.output), program, outer),
      unrequiredChildIndex = input.output.indices, outer = false, qualifier = None,
      generatorOutput = DataTypeUtils.toAttributes(program.schema), child = input)
    GraftOfRowsBridge.ofRows(df.sparkSession, generate)
  }
}
