package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests (SURVEY.md §5.3): flatten terminates on arbitrary
  * nested schemas and leaves no nested types (checked structurally —
  * flatten is a plan builder driven only by the schema), and on
  * generated nested data it equals [[FlattenModel]], the per-pass
  * fix-point. Uses ScalaCheck's own runner (no scalatestplus bridge in
  * the dependency set).
  */
class FlattenPropertySpec extends SparkSpecBase {

  private val atomicGen: Gen[DataType] =
    Gen.oneOf(LongType, StringType, DoubleType, BooleanType, IntegerType)

  private def dataTypeGen(depth: Int): Gen[DataType] =
    if (depth <= 0) atomicGen
    else Gen.frequency(
      3 -> atomicGen,
      2 -> Gen.lzy(structGen(depth - 1).map(s => s: DataType)),
      2 -> Gen.lzy(dataTypeGen(depth - 1).map(ArrayType(_, containsNull = true))),
      1 -> Gen.lzy(dataTypeGen(depth - 1).map(MapType(StringType, _))))

  private def structGen(depth: Int): Gen[StructType] =
    for {
      n <- Gen.choose(1, 4)
      names <- Gen.listOfN(n, Gen.identifier.map(_.take(6))).map(_.distinct)
      types <- Gen.listOfN(names.size, dataTypeGen(depth))
    } yield StructType(names.zip(types).map { case (nm, t) => StructField(nm, t) })

  /** Data for `dt`: about one value in six null, arrays and maps of
    * 0–3 elements, struct elements null like any other value.
    */
  private def valueGen(dt: DataType): Gen[Any] = {
    val present: Gen[Any] = dt match {
      case LongType    => Gen.choose(-3L, 3L)
      case IntegerType => Gen.choose(-3, 3)
      case DoubleType  => Gen.choose(-3, 3).map(_ / 2.0)
      case BooleanType => Gen.oneOf(true, false)
      case StringType  => Gen.oneOf("x", "y", "")
      case st: StructType => rowGen(st)
      case at: ArrayType =>
        Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, valueGen(at.elementType)))
      case mt: MapType =>
        Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.oneOf("k1", "k2", "k3"),
          valueGen(mt.valueType)))).map(_.toMap)
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
    Gen.frequency(1 -> Gen.const(null), 5 -> present)
  }

  private def rowGen(st: StructType): Gen[Row] =
    Gen.sequence[List[Any], Any](st.fields.toList.map(f => valueGen(f.dataType))).map(Row.fromSeq)

  /** Nested schemas whose names collide when flattened: `a`.`b` and a
    * top-level `a_b` both want `a_b`, `b_1` is what `b` then takes, and
    * `a.b` needs quoting.
    */
  private def collidingStructGen(depth: Int): Gen[StructType] =
    for {
      n <- Gen.choose(1, 4)
      names <- Gen.listOfN(n, Gen.oneOf("a", "b", "a_b", "b_1", "a.b", "c")).map(_.distinct)
      types <- Gen.listOfN(names.size, collidingTypeGen(depth))
    } yield StructType(names.zip(types).map { case (nm, t) => StructField(nm, t) })

  private def collidingTypeGen(depth: Int): Gen[DataType] =
    if (depth <= 0) atomicGen
    else Gen.frequency(
      3 -> atomicGen,
      3 -> Gen.lzy(collidingStructGen(depth - 1).map(s => s: DataType)),
      3 -> Gen.lzy(collidingTypeGen(depth - 1).map(ArrayType(_, containsNull = true))),
      1 -> Gen.lzy(collidingTypeGen(depth - 1).map(MapType(StringType, _))))

  private val tableGen: Gen[(StructType, List[Row])] =
    for {
      schema <- collidingStructGen(3)
      n <- Gen.choose(0, 4)
      rows <- Gen.listOfN(n, rowGen(schema))
    } yield (schema, rows)

  private def shape(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("flatten terminates and removes all nested types, names stay unique") {
    check(Prop.forAll(structGen(3)) { schema =>
      val df = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val flat = Flatten.flatten(df)
      nestedColumns(flat).isEmpty &&
        flat.columns.distinct.length == flat.columns.length
    }, 30)
  }

  test("flatten of an already-flat schema is identity") {
    check(Prop.forAll(structGen(0)) { schema =>
      val df = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      Flatten.flatten(df).schema == df.schema
    }, 20)
  }

  test("flatten equals the per-pass model: names, types and ordered rows, outer and inner") {
    check(Prop.forAllNoShrink(tableGen) { case (schema, rows) =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      Seq(true, false).forall { outer =>
        val got = Flatten.flatten(df, outer)
        val want = FlattenModel.flatten(df, outer)
        val same = shape(got) == shape(want) && got.collect().toSeq == want.collect().toSeq
        if (!same) println(s"flatten(outer=$outer) differs from the model on ${schema.simpleString}")
        same
      }
    }, 40)
  }
}
