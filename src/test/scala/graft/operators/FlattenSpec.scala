package graft.operators

import graft.SparkSpecBase
import graft.sources.Cricsheet
import org.apache.spark.sql.Row
import graft.plans.FlattenRows
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FlattenSpec extends SparkSpecBase {
  import spark.implicits._

  test("flatten expands structs to parent_child columns") {
    val df = Seq((1L, (2.5, "x"))).toDF("id", "s")
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "s__1", "s__2"))
    assert(flat.collect().head.toSeq == Seq(1L, 2.5, "x"))
  }

  test("flatten explodes arrays one row per element") {
    val df = Seq((1L, Seq("a", "b", "c"))).toDF("id", "arr")
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "arr"))
    assert(flat.count() == 3)
  }

  test("flatten reaches fix-point on deep nesting (struct in array in struct)") {
    val df = Seq((1L, ("top", Seq((10, ("deep", 99)))))).toDF("id", "outer")
    val flat = Flatten.flatten(df)
    assert(nestedColumns(flat).isEmpty)
    assert(flat.count() == 1)
  }

  test("plain explode drops rows with empty arrays; outer keeps them") {
    val df = Seq((1L, Seq("a")), (2L, Seq.empty[String])).toDF("id", "arr")
    assert(Flatten.flatten(df).count() == 1)
    val outer = Flatten.flatten(df, outer = true)
    assert(outer.count() == 2)
    assert(outer.filter($"id" === 2 && $"arr".isNull).count() == 1)
  }

  test("name collisions get a fresh suffix instead of shadowing") {
    val df = Seq((1, 5, 7)).toDF("a_b", "x", "y")
      .withColumn("a", struct($"x".as("b")))
      .select($"a_b", $"a")
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("a_b", "a_b_1"))
    assert(flat.collect().head.toSeq == Seq(1, 5))
  }

  test("a suffixed name is taken for the struct's later fields too") {
    val df = Seq((1, 5, 7)).toDF("a_b", "x", "y")
      .withColumn("a", struct($"x".as("b"), $"y".as("b_1")))
      .select($"a_b", $"a")
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("a_b", "a_b_1", "a_b_1_1"))
    assert(flat.collect().head.toSeq == Seq(1, 5, 7))
    assert(FlattenModel.flatten(df).columns.toSeq == flat.columns.toSeq)
  }

  test("maps flatten to key/value rows") {
    val df = Seq((1L, Map("k1" -> 10, "k2" -> 20))).toDF("id", "m")
    val flat = Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "m_key", "m_value"))
    assert(flat.count() == 2)
  }

  test("cricsheet match_tiny: sibling-array cross product, expected columns") {
    val df = spark.read.option("multiLine", "true").json(fixture("match_tiny.json"))
    val flat = Flatten.flatten(df)
    // arrays multiply: teams(2) × innings(1) × overs(1) × deliveries(2)
    assert(flat.count() == 4)
    val cols = flat.columns.toSet
    assert(cols.contains("info_city"))
    assert(cols.contains("innings_overs_deliveries_runs_total"))
    // each delivery appears twice (teams explosion): (4+1) × 2
    assert(flat.agg(sum($"innings_overs_deliveries_runs_total")).head.getLong(0) == 10L)
  }

  test("cricsheet match_full: reference explode semantics vs outer") {
    val df = spark.read.option("multiLine", "true").json(fixture("match_full.json"))
    // plain explode: only the wicket-bearing delivery survives the
    // wickets explosion; dates(2) × teams(2) × fielders(2) = 8
    assert(Flatten.flatten(df).count() == 8)
    // outer explode: dates(2) × teams(2) × (11 wicketless + 1×2 fielders)
    assert(Flatten.flatten(df, outer = true).count() == 52)
  }

  test("empty input directory yields empty output (reference guard path)") {
    val dir = tmpDir("flatten_empty")
    val schema = StructType(Seq(StructField("a", StructType(Seq(StructField("b", LongType))))))
    val df = spark.read.schema(schema).option("multiLine", "true").json(dir)
    val flat = Flatten.flatten(df)
    assert(flat.isEmpty)
    assert(nestedColumns(flat).isEmpty)
  }

  test("null and empty arrays, null struct elements and arrays of arrays match the model") {
    val elem = StructType(Seq(
      StructField("v", LongType),
      StructField("tags", ArrayType(StringType))))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("xs", ArrayType(elem)),
      StructField("grid", ArrayType(ArrayType(LongType))),
      StructField("m", MapType(StringType, ArrayType(LongType)))))
    val rows = Seq(
      Row(1L, Seq(Row(1L, Seq("a", "b")), null, Row(2L, null), Row(3L, Seq.empty)),
        Seq(Seq(1L, 2L), null, Seq.empty, Seq(3L)), Map("k" -> Seq(7L, 8L), "e" -> null)),
      Row(2L, null, null, null),
      Row(3L, Seq.empty, Seq.empty, Map.empty[String, Seq[Long]]),
      Row(4L, Seq(null), Seq(Seq(null, 5L)), Map("k" -> Seq.empty[Long])))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    Seq(true, false).foreach { outer =>
      val got = Flatten.flatten(df, outer)
      val want = FlattenModel.flatten(df, outer)
      assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
      assert(got.collect().toSeq == want.collect().toSeq, s"outer=$outer")
    }
  }

  test("the cricsheet match schema flattens through exactly one generator") {
    val matches = Cricsheet.readMatchFiles(spark, Seq(fixture("match_full.json"))).drop("match_file")
    Seq(true, false).foreach { outer =>
      val qe = Flatten.flatten(matches, outer).queryExecution
      val plan = qe.optimizedPlan
      assert(plan.collect { case g: Generate => g }.size == 1, plan.treeString)
      val generators = qe.analyzed.collect { case g: Generate => g.generator }
      assert(generators.map(_.getClass) == Seq(classOf[FlattenRows]), qe.analyzed.treeString)
      val lambdas = qe.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: LambdaFunction | _: ArrayTransform) => e
      }))
      assert(lambdas.isEmpty, qe.analyzed.treeString)
    }
  }

  test("analysing the cricsheet flatten takes a bounded number of Resolution passes") {
    // ResolveReferences runs once per pass of the Analyzer's Resolution
    // batch; the lambda form took one pass per nested `transform` (19)
    val matches = Cricsheet.readMatchFiles(spark, Seq(fixture("match_full.json"))).drop("match_file")
    val rules = Flatten.flatten(matches, outer = true).queryExecution.tracker.rules
    val passes = rules.collect {
      case (name, summary) if name.endsWith("$ResolveReferences") => summary.numInvocations
    }.sum
    assert(passes >= 1 && passes <= 2, s"$passes Resolution passes")
  }

  test("a limit over a row whose arrays cross to 10^8 rows returns at once") {
    // four arrays of 100 elements: the output is streamed, never built
    val xs = sequence(lit(1), lit(100))
    val df = spark.range(1).select(xs.as("a"), xs.as("b"), xs.as("c"), xs.as("d"))
    val t0 = System.nanoTime()
    val got = Flatten.flatten(df).limit(10).collect()
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(got.toSeq == (1 to 10).map(d => Row(1, 1, 1, d)))
    assert(seconds < 30, s"limit(10) took $seconds s")
  }
}
