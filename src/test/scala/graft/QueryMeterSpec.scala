package graft

import graft.queries.LlmQueries

class QueryMeterSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  private def withMeter[A](body: QueryMeter => A): A = {
    val meter = new QueryMeter(spark, sf, "meter-spec")
    try body(meter)
    finally {
      meter.close()
      LlmQueries.clearCaches(Some(spark))
    }
  }

  test("a builder that throws, or a plan that fails at run time, records -1 and lands in failed") {
    withMeter { meter =>
      val atBuild = meter.measure("boom_build", (_, _) => throw new IllegalStateException("boom"))
      val atRun = meter.measure("boom_run", (s, _) => s.range(3).selectExpr("assert_true(id < 0)"))
      Seq(atBuild, atRun).foreach { r =>
        assert(r.wallSec == -1.0)
        assert(r.failed)
      }
      val ok = meter.measure("ok", (s, _) => s.range(10).selectExpr("id * 2 AS x"))
      assert(!ok.failed && ok.wallSec >= 0 && ok.cpuSec >= 0 && ok.cacheBuilds.isEmpty)
    }
  }

  test("the shared sweep step still runs a failed query's release") {
    withMeter { meter =>
      LlmQueries.clearCaches(Some(spark))
      assert(BenchShared.releaseAfter("dedup_incremental") == Seq("bands"))
      val stats = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val r = BenchShared.sweepStep(meter, "dedup_incremental", (s, d) => {
        LlmQueries.bandTable(s, d)
        throw new IllegalStateException("boom after the band build")
      }, stats)
      assert(r.failed)
      assert(r.cacheBuilds.contains("bands"))
      assert(!LlmQueries.memoizedTags(spark).contains("bands"))
      assert(stats.contains("lsh_max_band_bucket")) // the guard ran before the release
    }
  }

  test("minhash_dedup at sf0.001 reports the memo tags it built") {
    withMeter { meter =>
      LlmQueries.clearCaches(Some(spark))
      val r = meter.measure("minhash_dedup", SparkEntry.queries("minhash_dedup"))
      assert(!r.failed)
      assert(r.cacheBuilds.contains("bands"))
      assert(r.cacheBuilds == LlmQueries.memoizedTags(spark).toSeq.sorted)
      // a second run reuses every table: nothing new to attribute
      assert(meter.measure("minhash_dedup", SparkEntry.queries("minhash_dedup")).cacheBuilds.isEmpty)
    }
  }

  test("a subset sweep that never reaches a table's release point still guards and releases it") {
    withMeter { meter =>
      LlmQueries.clearCaches(Some(spark))
      val stats = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val rs = BenchShared.sweep(meter, Seq("minhash_dedup" -> SparkEntry.queries("minhash_dedup")), stats)
      assert(rs.map(_.name) == Seq("minhash_dedup") && !rs.head.failed)
      assert(rs.head.cacheBuilds.contains("bands"))
      assert(stats.contains("lsh_max_band_bucket"))
      assert(LlmQueries.memoizedTags(spark).isEmpty)
    }
  }
}
