package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = GraftSession.local()
    val errors = dump(spark, sfDir, outDir, args.drop(2).toSet)
    // loud, but rc stays 0: the driver must still run its compare over
    // the partial dump — the green subset is evidence worth keeping
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED to dump " +
        s"(missing from the correctness record): ${errors.keys.mkString(", ")}")
    spark.stop()
    dropDumpFromPageCache(outDir)
  }

  /** Dump each `SparkEntry.queries` result (or only the named ones, for
    * dev iteration) to `outDir/<name>` as parquet, plus
    * `oracle_sql.json` and `verify_errors.json`. Returns the errors:
    * query name → message of each query that failed to dump.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String]): Map[String, String] = {
    // Unknown names fail loudly — a typo must not silently dump
    // nothing and surface later as an unrelated compare error.
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"no such queries: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    // A query that fails here silently vanishes from the driver's
    // correctness record (its row simply never appears) — round 7 lost
    // 37 queries to one loader regression with only stderr lines as
    // evidence. Persist every failure to a manifest next to the dumps
    // so the gap arrives WITH its diagnosis.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    errors.toMap
  }

  /** Writeback mitigation at the source (VERDICT r13 item 2): the
    * driver's gate sequence runs this dump and then Bench in the same
    * box without going through scripts/verify_all.sh, and two driver
    * rounds running the dump's page-cache footprint (dirty pages
    * written back mid-bench, then clean pages fueling reclaim
    * pressure) taxed disk-touching bench queries 12-130× in KERNEL
    * time. Fix it where the pages are created: after the dump is
    * complete, fdatasync each dump file (writeback happens HERE, on
    * Verify's clock) and drop it from the page cache
    * (posix_fadvise(DONTNEED) via GNU dd's documented
    * `oflag=nocache conv=notrunc,fdatasync count=0` idiom — the JDK
    * exposes no fadvise). The files themselves are untouched: the
    * DuckDB compare that follows reads them from disk as it would
    * have anyway. SPARK_GRAFT_KEEP_PAGECACHE=1 skips (A/B runs).
    */
  private def dropDumpFromPageCache(outDir: String): Unit = {
    if (sys.env.contains("SPARK_GRAFT_KEEP_PAGECACHE")) return
    val t0 = System.nanoTime()
    val dropped = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    val files: Seq[java.nio.file.Path] =
      try {
        val walk = Files.walk(Paths.get(outDir))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        } finally walk.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] page-cache drop walk failed: ${e.getMessage}")
          Nil
      }
    // one dd fork per file, but 8 in flight (ADVICE r14: a sequential
    // loop over a many-thousand-part dump made Verify's exit phase
    // slow — the forks are I/O-bound, so a small pool overlaps them)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      files.foreach { p =>
        pool.execute { () =>
          try {
            val rc = new ProcessBuilder("dd", s"of=$p", "oflag=nocache",
                "conv=notrunc,fdatasync", "count=0")
              .redirectOutput(ProcessBuilder.Redirect.DISCARD)
              .redirectError(ProcessBuilder.Redirect.DISCARD)
              .start().waitFor()
            if (rc == 0) dropped.incrementAndGet() else failed.incrementAndGet()
          } catch { case scala.util.control.NonFatal(_) => failed.incrementAndGet() }
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
    System.err.println(f"[verify] dump page-cache drop: ${dropped.get} files " +
      f"flushed+evicted, ${failed.get} failed, ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // every file failing is a different story than a few transient
    // ones: it means this dd doesn't support the nocache idiom (e.g.
    // busybox) and the writeback mitigation is silently OFF — say so
    // in one grep-able line (ADVICE r14)
    if (files.nonEmpty && failed.get == files.size)
      System.err.println("[verify] WARNING: page-cache drop ineffective — every dd " +
        "invocation failed; does this dd support oflag=nocache (GNU coreutils)?")
  }
}
