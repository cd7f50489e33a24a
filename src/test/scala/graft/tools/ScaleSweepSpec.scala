package graft.tools

import graft.{SparkSpecBase, Tables}

class ScaleSweepSpec extends SparkSpecBase {
  private val base = "/root/testdata/sf0.001"
  private val facts = Set("documents", "embeddings", "events", "orders", "lineitem")

  private def rows(dir: String, table: String): Long =
    if (table == "events") Tables.events(spark, dir).count()
    else Tables.t(spark, dir, table).count()

  test("a factor-2 corpus holds every table, facts doubled, dimensions copied, " +
    "and regenerates the same documents and embeddings") {
    val out = tmpDir("scale_a")
    assert(ScaleSweep.generate(spark, base, 2, out) ==
      (2 * rows(base, "documents"), 2 * rows(base, "embeddings")))
    Tables.all.foreach { t =>
      assert(new java.io.File(s"$out/$t.parquet").isDirectory, s"$t missing")
      val want = rows(base, t) * (if (facts(t)) 2 else 1)
      assert(rows(out, t) == want, s"$t rows")
    }
    val again = tmpDir("scale_b")
    ScaleSweep.generate(spark, base, 2, again)
    Seq("documents", "embeddings").foreach { t =>
      val (a, b) = (Tables.t(spark, out, t), Tables.t(spark, again, t))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t differs between runs")
    }
  }
}
