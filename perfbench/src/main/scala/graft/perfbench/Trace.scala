package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports about the engine's work, without any hook
  * inside the engine: scheduler events (jobs, stages, tasks), SQL
  * executions with the file paths their plans touch, and the Catalyst
  * phase times of every action. Everything stays in memory and is
  * written out when the run ends.
  *
  * Records are tagged with the benchmark operation they belong to: the
  * harness sets the `perfbench.op` local property before each timed
  * call, and jobs inherit it; executions carry their id, which their
  * jobs carry too; Catalyst phase times take the current operation.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val executions = mutable.LinkedHashMap.empty[Long, Execution]
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
  /** The operation running now. The harness drains the listener bus
    * before it moves on, so every event reaches the listeners while the
    * operation that caused it is still current. */
  @volatile var currentOp = ""
  /** Nanoseconds the listener callbacks themselves took. */
  val callbackNs = new AtomicLong(0L)

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val j = new Job(e.jobId, e.time, prop("perfbench.op").getOrElse(""),
        prop("perfbench.phase").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("callSite.short").getOrElse(
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
      synchronized {
        jobs += j
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      synchronized(jobs.find(_.id == e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      synchronized(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      synchronized(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
        val i = e.taskInfo
        j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.delayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val x = new Execution(s.executionId, s.time, s.description,
            filePaths(s.physicalPlanDescription), writePaths(s.sparkPlanInfo))
          synchronized(executions(s.executionId) = x)
        case s: SparkListenerSQLExecutionEnd =>
          synchronized(executions.get(s.executionId)).foreach(_.end = s.time)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(record(qe))
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
      synchronized(phases += ((currentOp, ms("analysis"), ms("optimization"), ms("planning"))))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until every queued event has reached the listeners. */
  def drain(): Unit =
    try org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println("[perfbench] listener bus drain timed out")
    }

  def toJson: Json.Obj = synchronized {
    Json.Obj(
      "jobs" -> Json.Arr(jobs.toSeq.map(_.toJson)),
      "executions" -> Json.Arr(executions.values.toSeq.map(_.toJson)),
      "phases" -> Json.Arr(phases.toSeq.map { case (id, a, o, p) =>
        Json.Obj("op" -> id, "analysis_ms" -> a, "optimization_ms" -> o,
          "planning_ms" -> p)
      }))
  }
}

object Trace {

  final class Job(val id: Int, val start: Long, val op: String, val phase: String,
      val execution: Long, val callSite: String) {
    var end: Long = -1L
    var stages, tasks = 0L
    var runMs, cpuNs, delayMs, shuffleWrite, shuffleRead, fetchWaitMs, spill, input,
        output = 0L
    def toJson: Json.Obj = synchronized {
      Json.Obj("id" -> id, "start_ms" -> start, "end_ms" -> end, "op" -> op,
        "phase" -> phase, "execution" -> execution, "call_site" -> callSite,
        "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
        "delay_ms" -> delayMs, "shuffle_write" -> shuffleWrite,
        "shuffle_read" -> shuffleRead, "fetch_wait_ms" -> fetchWaitMs, "spill" -> spill,
        "input" -> input, "output" -> output)
    }
  }

  final class Execution(val id: Long, val start: Long, val description: String,
      val paths: Seq[String], val writes: Seq[String]) {
    var end: Long = -1L
    def toJson: Json.Obj = Json.Obj("id" -> id, "start_ms" -> start, "end_ms" -> end,
      "description" -> description, "paths" -> Json.Arr(paths.map(Json.Str)),
      "writes" -> Json.Arr(writes.map(Json.Str)))
  }

  private val PathRe = """file:(/[^\s,\]\)\}]*)""".r

  def filePaths(plan: String): Seq[String] =
    PathRe.findAllMatchIn(plan).map(_.group(1)).toSeq.distinct

  /** Output paths of the file writes in a plan. */
  def writePaths(plan: SparkPlanInfo): Seq[String] =
    (if (plan.nodeName.contains("InsertIntoHadoopFsRelationCommand")) filePaths(plan.simpleString)
     else Nil) ++ plan.children.flatMap(writePaths)
}
