package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the compact stdout record's two contract properties (the
  * driver keeps ~2000 chars of console tail and parses the last JSON
  * line in it — every round through r12 recorded `parsed: null`
  * because some line broke one of these):
  *
  *  1. it is valid JSON (checked with Spark's bundled Jackson — the
  *     same family of parser the recorder uses), and
  *  2. at the FULL current inventory size, with worst-case inputs
  *     (the longest real query names slowest, a mass failure, large
  *     values), it stays under [[BenchRecord.MaxLen]] — so growth of
  *     the inventory or of a field can never silently push the line
  *     back out of the tail window.
  */
class BenchRecordSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parse(s: String): com.fasterxml.jackson.databind.JsonNode = {
    val n = mapper.readTree(s)
    assert(n != null && n.isObject, s"not a JSON object: ${s.take(200)}")
    n
  }

  private def worstCaseResults(): Seq[(String, Double)] = {
    // real inventory, worst-case values: the 5 longest names get the
    // largest times (they land in slowest5 verbatim), 20 queries fail
    // (only 8 + a count survive into the compact line), everything
    // else carries a 4-digit-seconds value
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    names.zipWithIndex.map { case (n, i) =>
      if (i < 5) n -> (9999.999 - i)
      else if (i < 25) n -> -1.0
      else n -> 1234.567
    }
  }

  test("compact line parses as JSON and carries the gate arithmetic") {
    val line = BenchRecord.compactLine(
      Seq("agg_count" -> 1.5, "join_inner" -> 3.25, "bad_query" -> -1.0),
      cpuTotal = 4.0, gcTotal = 0.5, syncSec = 1.2,
      bucketStats = Seq("lsh_max_band_bucket" -> 12L),
      snapshotFile = "BENCH_LOCAL_LATEST.json", sfDir = "/tmp/sf")
    val n = parse(line)
    assert(n.get("metric").asText == "total")
    assert(math.abs(n.get("value").asDouble - 4.75) < 1e-9)
    assert(n.get("n_queries").asInt == 3)
    assert(n.get("worst_query").asText == "join_inner")
    assert(math.abs(n.get("mean_sec_per_query").asDouble - 2.375) < 1e-9)
    assert(n.get("failed").size == 1)
    assert(n.get("slowest5").size == 2)
    assert(n.get("bucket_stats").get("lsh_max_band_bucket").asLong == 12L)
  }

  test("compact line stays under the tail window at the full inventory, worst case") {
    // worst-case recheck too: a mass slowdown rechecks 30 queries with
    // long names — only 8 survive into the line, plus a count
    val results = worstCaseResults()
    val recheck = results.filter(_._2 > 0).take(30)
      .map { case (n, _) => n -> 9999.999 }
    val line = BenchRecord.compactLine(
      results, cpuTotal = 99999.999, gcTotal = 9999.999,
      syncSec = 999.9,
      bucketStats = Seq("simhash_max_band_bucket" -> 999999L,
        "lsh_max_band_bucket" -> 999999L, "lsh_capped_buckets" -> 999999L),
      snapshotFile = "BENCH_LOCAL_LATEST.json",
      sfDir = "/root/testdata/sf0.1",
      recheck = recheck)
    val n = parse(line)
    assert(n.get("recheck").size == 8)
    assert(n.get("recheck_more").asInt == 22)
    assert(line.length <= BenchRecord.MaxLen,
      s"compact line ${line.length} chars > ${BenchRecord.MaxLen}: it " +
        "would risk truncation in the recorder's tail capture")
    assert(!line.contains("\n"))
  }

  test("recheck self-clears a contention spike via worst_eff, keeps a real regression") {
    // histogram-ish contention case: first pass 18.3 s, recheck 2.1 s
    // → effective 2.1; the steady 7.2 s query becomes the effective
    // worst. A recheck that FAILS (-1) must not shrink the reading.
    val line = BenchRecord.compactLine(
      Seq("histogram_drift" -> 18.3, "hits_scores" -> 7.2, "agg_count" -> 1.0),
      cpuTotal = 20.0, gcTotal = 1.0, syncSec = -1.0, bucketStats = Nil,
      snapshotFile = "f.json", sfDir = "/tmp/sf",
      recheck = Seq("histogram_drift" -> 2.1, "hits_scores" -> -1.0))
    val n = parse(line)
    assert(n.get("worst_query").asText == "histogram_drift")
    assert(math.abs(n.get("worst_sec").asDouble - 18.3) < 1e-9)
    assert(n.get("worst_eff_query").asText == "hits_scores")
    assert(math.abs(n.get("worst_eff_sec").asDouble - 7.2) < 1e-9)
    assert(math.abs(n.get("recheck").get("histogram_drift").asDouble - 2.1) < 1e-9)
  }

  test("a mass failure caps the compact failed list at 8 + a count") {
    val results = (1 to 50).map(i => f"query_$i%02d" -> -1.0) :+ ("ok_one" -> 1.0)
    val line = BenchRecord.compactLine(results, 1.0, 0.0, -1.0, Nil,
      "BENCH_LOCAL_SUBSET.json", "/tmp/sf")
    val n = parse(line)
    assert(n.get("failed").size == 9)
    assert(n.get("failed").get(8).asText == "+42 more")
    assert(n.get("n_queries").asInt == 51)
  }

  test("full record's resident-state fields: code cache, metaspace, heap after GC, compiles") {
    val mb = 1L << 20
    val pools = Seq(
      BenchRecord.Pool("CodeHeap 'non-nmethods'", 5 * mb, 6 * mb, 7 * mb),
      BenchRecord.Pool("CodeHeap 'non-profiled nmethods'", 100 * mb, 120 * mb, 250 * mb),
      BenchRecord.Pool("Metaspace", 150 * mb, 160 * mb, -1L),
      BenchRecord.Pool("G1 Old Gen", 900 * mb, 1000 * mb, 4000 * mb))
    val n = parse("{" + BenchRecord.retainedJson(pools, 300 * mb, 9035L) + "}")
    assert(n.get("code_cache").size == 2)
    val np = n.get("code_cache").get("CodeHeap non-profiled nmethods")
    assert(np.get("used_mb").asLong == 100 && np.get("max_mb").asLong == 250)
    assert(n.get("metaspace").get("used_mb").asLong == 150)
    assert(n.get("metaspace").get("committed_mb").asLong == 160)
    assert(n.get("heap_after_gc_mb").asLong == 300)
    assert(n.get("codegen_compiles_total").asLong == 9035L)
    // this JVM's own pools carry the names the record looks for
    val live = parse("{" + BenchRecord.retainedJson(BenchRecord.livePools(), 0L, 0L) + "}")
    assert(live.get("code_cache").size > 0)
    assert(live.get("metaspace").get("used_mb").asLong > 0)
  }
}
