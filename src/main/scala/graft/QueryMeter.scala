package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query's reading from [[QueryMeter.measure]]. `wallSec` is -1
  * (the failure sentinel) when the query threw; the other deltas cover
  * the attempt either way. `procUserSec`/`procSysSec` are -1 off Linux,
  * `jitMs` is -1 when the JVM cannot time its JIT.
  */
final case class QueryReading(
    name: String,
    wallSec: Double,
    cpuSec: Double,
    gcSec: Double,
    codegenCompiles: Long,
    jitMs: Long,
    procUserSec: Double,
    procSysSec: Double,
    cacheBuilds: Seq[String]) {
  def failed: Boolean = wallSec < 0
}

/** The per-query instrument every harness shares: Bench's sweep and
  * recheck and TimeQueries measure through [[measure]].
  *
  * Each query is forced with a `noop`-format write, not `count()`:
  * under count(), ColumnPruning deletes every projection expression
  * and EliminateSorts drops ORDER BYs, so scalar-heavy queries would
  * measure only a parquet row count. A query that throws records -1
  * instead of its partial elapsed time, so a crash can neither
  * understate a total nor hide from the record.
  *
  * Beside wall time it reads, per query:
  *  - executor task cpu and JVM gc time, summed by the one task-end
  *    listener this meter registers. Real work moves both wall and
  *    cpu; external contention moves wall while cpu stays flat; GC
  *    pressure shows up in gc.
  *  - Catalyst codegen compilations (count delta of the public
  *    CodegenMetrics histogram) and JIT compiler time (ms). A session
  *    whose CodeCache filled shows JIT time collapsing to 0 while
  *    generated code runs interpreted.
  *  - whole-process user/sys cpu from /proc/self/stat. executorCpuTime
  *    conflates the two, so kernel time (page-cache writeback or
  *    reclaim under a dirty cache) is otherwise indistinguishable from
  *    recompute.
  *  - the memoized tables the query built (`cache_builds`): the family
  *    keeps shifting one-time build costs between members, and without
  *    the attribution per-query deltas are unreadable.
  *
  * The listener bus is drained before the snapshot and after the
  * query, outside the timed region: straggler events of the previous
  * query (or of a failed one) settle into the baseline instead of
  * being charged to this query.
  */
final class QueryMeter(val spark: SparkSession, val sfDir: String, val label: String) {

  private val cpuNs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private val cgHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
  private val jitSupported = jitBean != null && jitBean.isCompilationTimeMonitoringSupported

  /** Drain the listener bus so queued task-end events settle before a
    * snapshot. A timeout (the bus's internal 10 s bound) is a
    * bookkeeping lag, never a failure — log and continue.
    */
  private def drain(): Unit =
    try org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[$label] listener-bus drain timed out; cpu/gc attribution may lag")
    }

  /** Process utime/stime in USER_HZ ticks (100/s on Linux), or
    * (-1, -1) where /proc is absent.
    */
  private def procTicks(): (Long, Long) = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (rest(11).toLong, rest(12).toLong)
  } catch { case _: Throwable => (-1L, -1L) }

  def measure(name: String, build: (SparkSession, String) => DataFrame): QueryReading = {
    val tags0 = graft.queries.LlmQueries.memoizedTags(spark)
    drain()
    val cpu0 = cpuNs.get()
    val gc0 = gcMs.get()
    val cg0 = cgHist.getCount
    val jit0 = if (jitSupported) jitBean.getTotalCompilationTime else 0L
    val (pu0, ps0) = procTicks()
    val t0 = System.nanoTime()
    val wall = try {
      build(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[$label] $name failed: ${e.getMessage}")
        -1.0
    }
    drain()
    val cpu = (cpuNs.get() - cpu0) / 1e9
    val gc = (gcMs.get() - gc0) / 1e3
    val cg = cgHist.getCount - cg0
    val jit = if (jitSupported) jitBean.getTotalCompilationTime - jit0 else -1L
    val (pu1, ps1) = procTicks()
    def sec(a: Long, b: Long) = if (a < 0 || b < 0) -1.0 else (b - a) / 100.0
    val built = (graft.queries.LlmQueries.memoizedTags(spark) -- tags0).toSeq.sorted
    QueryReading(name, wall, cpu, gc, cg, jit, sec(pu0, pu1), sec(ps0, ps1), built)
  }

  /** Unregister the listener, for a meter on a session that outlives it. */
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
