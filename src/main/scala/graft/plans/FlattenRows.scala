package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A flatten precomputed on the input schema (see
  * [[graft.operators.Flatten]]): the output schema, one [[FlattenProgram.Loop]]
  * per array or map in the order the fix-point met them (loop 0 is the
  * outermost), and one [[FlattenProgram.Path]] per output column. A
  * loop's source depends only on the input row and the loops before it.
  */
case class FlattenProgram(
    schema: StructType,
    loops: Seq[FlattenProgram.Loop],
    columns: Seq[FlattenProgram.Path])

object FlattenProgram {

  /** The input row's own fields are reached from this base. */
  val Input: Int = -1

  /** A value reached from `base` — [[Input]], or loop k's current
    * element — by struct field ordinals, each with the type of the field
    * it reads. From a map loop the first ordinal picks the entry's key
    * (0) or value (1).
    */
  case class Path(base: Int, steps: IndexedSeq[(Int, DataType)])

  /** One array or map iterated once per value of its `source`. */
  case class Loop(source: Path, dataType: DataType)
}

/** The flatten as one Catalyst generator: per input row it walks the
  * program's nested arrays and maps with an index stack, the way
  * nested `for` loops would, and streams one output row per combination
  * of elements. Nothing is copied per level and no row's cross-product
  * is built: each output row holds the values read straight from the
  * input, and the next one is made only when asked for.
  *
  * `child` is the input row as one (never null) struct. With `outer`, a null or
  * empty array or map yields one null element (like `explode_outer`);
  * without it, it yields none and so drops the row.
  */
case class FlattenRows(child: Expression, program: FlattenProgram, outer: Boolean)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = program.schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    new Rows(child.eval(input).asInstanceOf[InternalRow])

  override protected def withNewChildInternal(newChild: Expression): FlattenRows =
    copy(child = newChild)

  // the program as arrays, once per deserialised copy
  @transient private lazy val loopSources = program.loops.map(_.source).toArray
  @transient private lazy val loopIsMap = program.loops.map(_.dataType.isInstanceOf[MapType]).toArray
  @transient private lazy val elementTypes = program.loops.map(_.dataType match {
    case at: ArrayType => at.elementType
    case _             => null
  }).toArray
  @transient private lazy val columnPaths = program.columns.toArray

  /** The output rows of one input row. Loop k is positioned at `idx(k)`
    * of `len(k)` elements; `arrs(k)` is its array, or its map's keys
    * (with the values in `vals(k)`), null while it yields one null
    * element.
    */
  private final class Rows(root: InternalRow) extends Iterator[InternalRow] {
    private val n = loopSources.length
    private val arrs = new Array[ArrayData](n)
    private val vals = new Array[ArrayData](n)
    private val idx = new Array[Int](n)
    private val len = new Array[Int](n)
    private var pending = n == 0 || { open(0); settle(0) }

    private def open(k: Int): Unit = {
      arrs(k) = null
      vals(k) = null
      read(loopSources(k)) match {
        case m: MapData if m.numElements() > 0 => arrs(k) = m.keyArray(); vals(k) = m.valueArray()
        case a: ArrayData if a.numElements() > 0 => arrs(k) = a
        case _ => // null or empty
      }
      len(k) = if (arrs(k) != null) arrs(k).numElements() else if (outer) 1 else 0
      idx(k) = 0
    }

    /** Position every loop from `k` on at its first element, stepping
      * the loops outside an exhausted one; false when none is left.
      */
    private def settle(from: Int): Boolean = {
      var k = from
      while (k < n) {
        if (idx(k) < len(k)) {
          k += 1
          if (k < n) open(k)
        } else {
          k -= 1
          if (k < 0) return false
          idx(k) += 1
        }
      }
      true
    }

    private def read(p: FlattenProgram.Path): Any = {
      var v: Any = null
      var s = 0
      if (p.base == FlattenProgram.Input) v = root
      else {
        val k = p.base
        if (arrs(k) != null) {
          if (loopIsMap(k)) {
            val (ord, dt) = p.steps.head
            v = (if (ord == 0) arrs(k) else vals(k)).get(idx(k), dt)
            s = 1
          } else v = arrs(k).get(idx(k), elementTypes(k))
        }
      }
      val steps = p.steps
      while (v != null && s < steps.length) {
        val (ord, dt) = steps(s)
        v = v.asInstanceOf[InternalRow].get(ord, dt)
        s += 1
      }
      v
    }

    override def hasNext: Boolean = pending

    override def next(): InternalRow = {
      if (!pending) throw new NoSuchElementException("FlattenRows: no more rows")
      val row = new GenericInternalRow(columnPaths.map(read))
      pending = n > 0 && { idx(n - 1) += 1; settle(n - 1) }
      row
    }
  }
}
