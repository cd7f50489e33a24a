package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{BenchShared, Pipeline, SparkEntry}
import graft.queries.LlmQueries

/** The benchmark's JVM side: runs one workload against the engine's
  * public entry points (`SparkEntry.queries`, `Pipeline.runOnce`) in a
  * closed loop and writes every timing, result and trace record to a
  * JSON file. It judges nothing: `run.py` made the inputs, knows the
  * expected outputs and computes the metrics.
  *
  * Usage: Main <spec.json> <result.json>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val h = new Harness(spec)
    try Json.write(h.run(), args(1))
    finally h.spark.stop()
  }
}

final class Harness(spec: JsonNode) {
  private def str(k: String) = spec.get(k).asText()
  private val workload = str("workload")
  private val seed = spec.get("seed").asLong()
  private val seconds = spec.get("seconds").asDouble()
  private val minIters = spec.get("min_iters").asInt()
  private val traced = spec.get("trace").asBoolean()
  private val cpus = spec.get("cpus").asInt()
  private val dataDir = str("data_dir")
  private val work = str("work_dir")

  // The session the engine's own harnesses build (graft.Bench).
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftSparkExtensions)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  graft.operators.BoundedWindow.muteNoPartitionWarning()

  private val trace = if (traced) Some(new Trace(spark)) else None
  private val ops = mutable.ArrayBuffer.empty[Json]
  /** Calls made during set-up to warm the JVM up: checked, not timed. */
  private val warmOps = mutable.ArrayBuffer.empty[Json]
  private var inLoop = false
  private var opSeq = 0
  private var harnessTraceNs = 0L

  private def nowMs(): Double = System.currentTimeMillis().toDouble

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs(): Long = osBean.getProcessCpuTime
  /** CPU time of every live Java thread: the caller, Spark's task
    * threads and its service threads, but not the JVM's own compiler and
    * collector threads, which the JVM hides from this view. */
  private def javaThreadsCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap
  /** Seconds of CPU the Java threads used since `before`; a thread that
    * started since counts from zero. */
  private def cpuSince(before: Map[Long, Long]): Double =
    javaThreadsCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection: what the engine keeps alive
    * between calls (cached tables, session state), independent of when
    * the collector happened to run during them. Spark's context cleaner
    * drops the broadcasts and shuffles the first collection found
    * unreachable, and a second one frees them. */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  private val retained = mutable.ArrayBuffer.empty[Double]
  private val iters = mutable.ArrayBuffer.empty[Json]
  private val cgHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** One timed call into the engine. `body` returns the output fields
    * the runner checks; a throw is recorded as a failed operation. */
  private def op(kind: String, name: String, iter: Int, watch: Option[String] = None)(
      body: => Seq[(String, Json)]): Unit = {
    opSeq += 1
    val id = s"op$opSeq"
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", id)
    sc.setLocalProperty("perfbench.phase", kind)
    trace.foreach(_.currentOp = id)
    val cg0 = cgHist.getCount
    val cgNs0 = compileNs()
    val gc0 = gcMs()
    val cpu0 = javaThreadsCpu()
    val start = nowMs()
    val t0 = System.nanoTime()
    val (ok, fields) =
      try (true, body)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          (false, Seq("error" -> Json.Str(String.valueOf(e.getMessage).take(500))))
      }
    val wallS = (System.nanoTime() - t0) / 1e9
    val end = nowMs()
    sc.setLocalProperty("perfbench.op", null)
    sc.setLocalProperty("perfbench.phase", null)
    val extra = mutable.ArrayBuffer[(String, Json)](
      "codegen_compiles" -> (cgHist.getCount - cg0),
      "codegen_ms" -> (compileNs() - cgNs0) / 1e6,
      "gc_ms" -> (gcMs() - gc0),
      "cpu_s" -> cpuSince(cpu0))
    if (traced) {
      val t1 = System.nanoTime()
      trace.foreach { t => t.drain(); t.currentOp = "" }
      watch.foreach(dir => extra += "files_written" -> filesSince(dir, start.toLong))
      harnessTraceNs += System.nanoTime() - t1
    }
    val record = Json.Obj(Seq[(String, Json)]("id" -> id, "kind" -> kind, "name" -> name,
      "iter" -> iter, "start_ms" -> start, "end_ms" -> end, "wall_s" -> wallS, "ok" -> ok) ++
      extra ++ fields: _*)
    if (inLoop) ops += record else warmOps += record
  }

  private var loopStart, loopEnd, refBefore, refAfter = 0.0

  def run(): Json = {
    val outputs = mutable.ArrayBuffer.empty[(String, Json)]
    workload match {
      case "query_sweep" => querySweep()
      case "etl_daily"   => daily(outputs)
    }
    val fields = Seq[(String, Json)](
      "loop_start_ms" -> loopStart,
      "loop_end_ms" -> loopEnd,
      "ref_job_s" -> Json.Arr(Seq(refBefore, refAfter).map(Json.Num)),
      "retained_heap_mb" -> Json.Arr(retained.toSeq.map(Json.Num)),
      "cpus" -> cpus,
      "ops" -> Json.Arr(ops.toSeq),
      "iters" -> Json.Arr(iters.toSeq),
      "warm_ops" -> Json.Arr(warmOps.toSeq)) ++ outputs ++
      trace.toSeq.flatMap { t =>
        t.drain()
        Seq[(String, Json)]("trace" -> t.toJson,
          "trace_overhead_ms" -> (t.callbackNs.get() + harnessTraceNs) / 1e6)
      }
    Json.Obj(fields: _*)
  }

  /** The timed loop: `minIters` iterations, then more while another one
    * of average length still fits in the run's seconds. The reference
    * job runs right before and after it, and the retained heap is read
    * after each iteration, outside the timed calls. */
  private def loop(iteration: Int => Unit, available: Int = Int.MaxValue): Unit = {
    refBefore = refJob()
    inLoop = true
    loopStart = nowMs()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < available && (i < minIters || elapsed * (i + 1) / i <= seconds)) {
      val w0 = System.nanoTime()
      val p0 = processCpuNs()
      val c0 = javaThreadsCpu()
      iteration(i)
      iters += Json.Obj("iter" -> i, "wall_s" -> (System.nanoTime() - w0) / 1e9,
        "cpu_s" -> cpuSince(c0), "process_cpu_s" -> (processCpuNs() - p0) / 1e9)
      retained += retainedHeapMb()
      i += 1
    }
    loopEnd = nowMs()
    inLoop = false
    refAfter = refJob()
  }

  /** A fixed Spark SQL job that calls no engine code: the machine's own
    * speed before and after the run. */
  private def refJob(): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(s"$dataDir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  // ---- query_sweep ------------------------------------------------------

  /** Forces every output column and folds the rows into an
    * order-insensitive fingerprint: row count and the sum of a 64-bit
    * hash of each row. Spark cannot hash maps, so map-bearing columns
    * hash as their JSON text. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType    => true
      case a: ArrayType  => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _             => false
    }
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Without `stride` (recording the expected fingerprints): the whole
    * inventory. With it: every stride-th cache-free query by name and the
    * first `family_head` queries of the memoized family, which build,
    * share and release its tables the way the full sweep does. */
  private def querySweep(): Unit = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val cacheFree = all.filterNot(BenchShared.corpusFamily.contains)
    val (free, family) =
      if (!spec.has("stride")) (cacheFree, BenchShared.corpusFamily.filter(all.contains))
      else {
        val stride = spec.get("stride").asInt()
        (cacheFree.indices.filter(_ % stride == 0).map(cacheFree),
          BenchShared.corpusFamily.take(spec.get("family_head").asInt()))
      }
    // java.util.Random starts consecutive seeds on nearly the same
    // numbers; SplittableRandom spreads them first
    val rng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
    def sweep(pass: Int): Unit = {
      LlmQueries.clearCaches(Some(spark))
      rng.shuffle(free).++(family).foreach { name =>
        val tags0 = LlmQueries.memoizedTags(spark)
        op("query", name, pass) {
          spark.sparkContext.setLocalProperty("perfbench.phase", "build")
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, dataDir)
          val buildS = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.setLocalProperty("perfbench.phase", "action")
          val (rows, hash) = fingerprint(df)
          Seq("build_s" -> buildS, "rows" -> rows, "hash" -> hash,
            "memo_built" -> Json.Arr((LlmQueries.memoizedTags(spark) -- tags0)
              .toSeq.sorted.map(Json.Str)))
        }
        BenchShared.releaseAfter.getOrElse(name, Nil)
          .foreach(tag => LlmQueries.release(spark, dataDir, tag))
      }
    }
    // set-up: untimed passes over the same queries warm the JVM up
    (0 until spec.get("warm_passes").asInt()).foreach(sweep)
    loop(sweep)
  }

  // ---- ETL ----------------------------------------------------------------

  private def runOnce(landing: String, workDir: String): Seq[(String, Json)] = {
    val r = Pipeline.runOnce(spark, landing, workDir, notifyDrift = _ => ())
    Seq("result" -> Json.Obj("newFiles" -> r.newFiles, "stagedRows" -> r.stagedRows,
      "corruptFiles" -> r.corruptFiles, "hadDrift" -> r.hadDrift))
  }

  /** Ledger key set and staging footprint of a work dir, read after the
    * timed calls. */
  private def inspect(workDir: String): Json = {
    val keys = spark.read.parquet(s"$workDir/state").select("file_key")
      .collect().map(_.getString(0)).sorted
    val staged = listFiles(Paths.get(s"$workDir/staging"))
    Json.Obj(
      "ledger_size" -> keys.length,
      "ledger_sha256" -> sha256(keys.mkString("\n")),
      "staged_bytes" -> staged.filter(_.toString.endsWith(".parquet")).map(Files.size).sum,
      "staged_files" -> staged.count(_.toString.endsWith(".parquet")))
  }

  private def listFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  private def filesSince(dir: String, sinceMs: Long): Long =
    listFiles(Paths.get(dir)).count(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private def daily(out: mutable.ArrayBuffer[(String, Json)]): Unit = {
    val landing = str("landing")
    val days = spec.get("days").elements().asScala.map(_.asText()).toVector
    val warmDays = spec.get("warm_days").asInt()
    val w = s"$work/history"
    def land(d: Int): String = {
      val zip = Paths.get(days(d))
      Files.copy(zip, Paths.get(landing).resolve(zip.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
      zip.getFileName.toString
    }
    // set-up: the history backfill, then days that warm the JVM up
    val setupResults = runOnce(landing, w) +: (0 until warmDays).flatMap { d =>
      land(d)
      Seq(runOnce(landing, w), runOnce(landing, w))
    }
    out += "setup_results" -> Json.Arr(setupResults.map(r => Json.Obj(r: _*)))
    loop({ i =>
      val d = warmDays + i
      val name = land(d)
      op("new", name, i, Some(w))(runOnce(landing, w))
      op("noop", name, i, Some(w))(runOnce(landing, w))
    }, available = days.size - warmDays)
    out += "inspect" -> inspect(w)
  }
}
