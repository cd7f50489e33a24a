package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import org.apache.spark.sql.catalyst.json.GraftInferSchemaBridge
import org.apache.spark.sql.functions.col

/** The schema the staging scan infers into [[GraftInferSchemaBridge]]
  * is the one `spark.read.json` infers over the same documents: fields,
  * order, types and nullability.
  */
class InferSchemaBridgeSpec extends SparkSpecBase {
  import spark.implicits._

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private lazy val corpus: Seq[Array[Byte]] = {
    val fixtures = Seq("match_tiny.json", "match_full.json").map(f => Files.readAllBytes(Paths.get(fixture(f))))
    val drifted = fixtures.map(m => utf8(new String(m, "UTF-8").replace(
      "\"balls_per_over\": 6,", "\"balls_per_over\": 6, \"forfeited_overs\": 2, \"balls_per_over_x\": \"6\",")))
    fixtures ++ drifted ++ Seq(
      // conflicts on one key, and pairwise widenings
      """{"k": 1}""", """{"k": 3000000000}""", """{"k": 1.5}""", """{"k": "x"}""",
      """{"il": 1}""", """{"il": 3000000000}""", """{"id": 1}""", """{"id": 2.5}""",
      // bool-only and null-only fields
      """{"b": true}""", """{"b": false, "n": null}""", """{"n": null}""",
      // arrays of structs whose fields differ, nested
      """{"arr": [{"x": 1}, {"y": "s"}]}""",
      """{"arr": [{"x": 2.5, "z": [{"p": 1}, {"q": [true]}]}], "o": {"a": [1, 2]}}""",
      """{"o": {"a": [], "b": {}}}""",
      // empty object, empty array, a root array
      "{}", "[]", """[{"ra": 1}, {"rb": "t"}]""",
      // a truncated document
      """{"t": [1, 2""").map(utf8) ++ Seq(
      // invalid UTF-8 inside a string and as a whole document, and an empty entry
      utf8("""{"u": """") ++ Array(0xff, 0xfe).map(_.toByte) ++ utf8(""""}"""),
      Array(0xc3, 0x28, 0xff).map(_.toByte),
      Array.emptyByteArray)
  }

  /** The corpus as the pipeline's batch holds it: a binary column over
    * 4 partitions, each non-empty.
    */
  private lazy val batch = spark.sparkContext.parallelize(corpus, 4).toDF("content")

  private def sparkSchema = spark.read.json(batch.select(col("content").cast("string")).as[String]).schema

  test("the bridge infers what spark.read.json infers, over several partitions") {
    assert(batch.rdd.mapPartitions(it => Iterator(it.size)).collect().forall(_ > 0))
    val inferred = GraftInferSchemaBridge(spark)
    batch.as[Array[Byte]].foreachPartition((rows: Iterator[Array[Byte]]) => rows.foreach(inferred.add))
    val want = sparkSchema
    assert(Seq("_corrupt_record", "arr", "info", "k").forall(want.fieldNames.contains), want.treeString)
    assert(inferred.value.treeString == want.treeString)
    assert(inferred.value == want)
  }

  test("a partition's types merged twice leave the schema unchanged") {
    val base = GraftInferSchemaBridge(spark)
    val parts = batch.as[Array[Byte]].rdd.glom().collect().toSeq.map { rows =>
      val part = base.copyAndReset()
      rows.foreach(part.add)
      part
    }
    assert(parts.length >= 3)
    val once = base.copyAndReset()
    parts.foreach(once.merge)
    val again = base.copyAndReset()
    (parts :+ parts.head).foreach(again.merge)
    assert(once.value == sparkSchema)
    assert(again.value == once.value)
  }
}
