package graft

import graft.plans.VecFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The SQL front end: every table registered as a view, queries
  * written in `spark.sql(...)` agree with their DataFrame forms, and
  * the custom vec_dot expression is callable from SQL.
  */
class SqlSurfaceSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Every table of `d` as a temp view of `s`. */
  private def registerViews(s: SparkSession, d: String): Unit =
    Tables.all.foreach { n =>
      val df = if (n == "events") Tables.events(s, d) else Tables.t(s, d, n)
      df.createOrReplaceTempView(n)
    }

  test("SQL join+agg agrees with the DataFrame formulation") {
    registerViews(spark, sf)
    val sql = spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val df = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("q"))
      .orderBy($"o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sql == df)
  }

  test("window + session SQL over the events view") {
    registerViews(spark, sf)
    val n = spark.sql(
      """SELECT user_id, count(*) AS n,
        | rank() OVER (ORDER BY count(*) DESC, user_id) AS rnk
        |FROM events GROUP BY user_id""".stripMargin).count()
    assert(n == Tables.events(spark, sf).select($"user_id").distinct().count())
  }

  test("vec_dot is callable from SQL after registration") {
    VecFunctions.register(spark)
    registerViews(spark, sf)
    val d = spark.sql(
      "SELECT vec_dot(embedding, embedding) AS n2 FROM embeddings WHERE vec_id = 0")
      .head().getDouble(0)
    assert(d > 0.0)
  }

  test("GraftSparkExtensions injects vec_dot at session build (no register call)") {
    // the suite session is built .withExtensions(GraftSparkExtensions):
    // a FRESH child session (no temp-function state carried over) must
    // resolve vec_dot from bare SQL because injectFunction registered
    // it as a built-in at session build time
    val fresh = spark.newSession()
    registerViews(fresh, sf)
    val d = fresh.sql(
      "SELECT vec_dot(embedding, embedding) AS n2 FROM embeddings WHERE vec_id = 0")
      .head().getDouble(0)
    assert(d > 0.0)
  }

  test("bloom_might_contain is callable from bare SQL and actually prunes") {
    val fresh = spark.newSession()
    registerViews(fresh, sf)
    val sel = fresh.table("orders")
      .filter($"o_totalprice" > 450000.0).select($"o_orderkey")
    val bloom = graft.plans.BloomFunctions.serialize(
      sel.stat.bloomFilter("o_orderkey", math.max(1000L, sel.count()), 0.01))
    // the probe's bloom argument must be a CONSTANT in the expression
    // (not an attribute), so bare SQL ships it as a hex binary literal
    val hex = bloom.map("%02X".format(_)).mkString
    val survivors = fresh.sql(
      s"SELECT count(*) FROM lineitem WHERE bloom_might_contain(X'$hex', l_orderkey)")
      .head().getLong(0)
    val total = fresh.table("lineitem").count()
    val trueMatches = fresh.table("lineitem")
      .join(sel, $"l_orderkey" === $"o_orderkey", "left_semi").count()
    // no false negatives: every true match survives the probe
    assert(survivors >= trueMatches, "bloom probe dropped true matches")
    // and the probe genuinely prunes: with fpp = 1%, survivors should
    // be close to the true matches, far below the full table
    assert(survivors <= trueMatches + (total * 0.05).toLong,
      s"bloom probe barely pruned: $survivors of $total rows " +
        s"survived for $trueMatches true matches")
  }

  test("sql_recursive is the only writer of the session recursion row guard") {
    // sql_recursive raises spark.sql.cteRecursionRowLimit on the
    // shared session and deliberately never restores it (the conf is
    // read at execution time; see the ExtraQueries comment). That
    // bleed is safe ONLY while it is the engine's single Spark-side
    // recursive query — a second one would silently inherit the
    // weakened row backstop. Pin the invariant at the source level:
    // exactly one file under src/main sets the conf, and it is the
    // documented one.
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val writers = try {
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p)
          .contains("cteRecursionRowLimit"))
        .map(_.getFileName.toString).toList
    } finally walk.close()
    assert(writers == List("ExtraQueries.scala"),
      s"cteRecursionRowLimit is now touched by $writers — a second " +
        "recursive query must set its own row guard (and this pin must " +
        "be updated) rather than inherit sql_recursive's 2^30 bleed")
  }
}
