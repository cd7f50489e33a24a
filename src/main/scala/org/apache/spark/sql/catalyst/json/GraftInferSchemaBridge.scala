package org.apache.spark.sql.catalyst.json

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.catalyst.util.PermissiveMode
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.util.AccumulatorV2

/** graft extension bridge. The schema `spark.read.json` infers over a
  * Dataset of JSON strings, gathered by an accumulator inside a scan
  * that reads the documents anyway, instead of by an inference job of
  * its own. Each added document is typed where it is read, by Spark's
  * own `JsonInferSchema.inferField` over the parser `spark.read.json`
  * opens on a string row (`CreateJacksonParser.internalRow`: Jackson's
  * over the UTF-8 bytes, which rejects invalid UTF-8); a document that
  * does not parse is the `_corrupt_record` struct, as PERMISSIVE
  * inference makes it. A task merges its documents' types with
  * `compatibleRootType`, as inference merges a partition's; the driver
  * keeps each task's type, and [[value]] folds them and canonicalizes
  * the result, as `infer` does. `canonicalizeType` is not reachable
  * from outside this package, so the accumulator lives here.
  *
  * The merge is a least upper bound, so a task's type merged twice (a
  * task run again) leaves the schema as it was. The accumulator has no
  * name, so Spark's status store keeps no copy of it per stage.
  */
final class GraftInferSchemaBridge private (options: JSONOptions)
    extends AccumulatorV2[Array[Byte], StructType] {

  /** In a task, the type of the documents it added so far (at most one
    * element); on the driver, the type of each task merged in.
    */
  private var types: List[DataType] = Nil

  @transient private lazy val inference = new JsonInferSchema(options)
  @transient private lazy val factory = options.buildJsonFactory()
  private def widen(a: DataType, b: DataType): DataType =
    JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, PermissiveMode)(a, b)

  private def typeOf(json: Array[Byte]): DataType =
    try {
      val parser = factory.createParser(json, 0, json.length)
      try { parser.nextToken(); inference.inferField(parser) }
      finally parser.close()
    } catch {
      case _: RuntimeException | _: JsonProcessingException | _: MalformedInputException |
          _: CharConversionException =>
        StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
    }

  override def isZero: Boolean = types.isEmpty

  override def copy(): GraftInferSchemaBridge = {
    val c = new GraftInferSchemaBridge(options)
    c.types = types
    c
  }

  override def reset(): Unit = types = Nil

  /** Adds one document: the bytes of the string `cast("string")` makes of an entry's content. */
  override def add(json: Array[Byte]): Unit = {
    val t = typeOf(json)
    types = List(types.headOption.fold(t)(widen(_, t)))
  }

  override def merge(other: AccumulatorV2[Array[Byte], StructType]): Unit = other match {
    case o: GraftInferSchemaBridge => types = o.types ++ types
    case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass.getName}")
  }

  /** The inferred schema, as `spark.read.json(...).schema` gives it. */
  override def value: StructType = {
    val root = types.foldLeft(StructType(Nil): DataType)((root, t) => widen(root, widen(StructType(Nil), t)))
    inference.canonicalizeType(root, options).collectFirst { case s: StructType => s }
      .getOrElse(StructType(Nil))
  }
}

object GraftInferSchemaBridge {

  /** An accumulator registered, without a name, with `spark`'s context,
    * under the options `spark.read.json` builds when given none.
    */
  def apply(spark: SparkSession): GraftInferSchemaBridge = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val acc = new GraftInferSchemaBridge(
      new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord))
    spark.sparkContext.register(acc)
    acc
  }
}
