package streambench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced runs: Spark job/stage/task rollups,
  * Catalyst phase times, scan-node metrics and job spans, each keyed by
  * the bucket the work belongs to.
  *
  * Attribution: a job carries the local property [[ExecProp]]
  * (`bucket/execution`) set by the thread that ran it; streaming jobs carry
  * their query id and batch id instead and land in bucket `stream`. Task
  * metrics follow their stage's job. Catalyst and scan metrics come from a
  * `QueryExecutionListener`, attributed to [[current]] — traced runs drain
  * the listener bus after each query, so the attribution is exact there. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, deserMs, gcMs = 0L
    var shuffleWrite, shuffleRead, inputBytes = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var filesRead, bytesRead, plans = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuNs / 1e6,
      "deserialize_ms" -> deserMs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "input_bytes" -> inputBytes, "analysis_ms" -> analysisMs,
      "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
      "files_read" -> filesRead, "bytes_read" -> bytesRead, "plans" -> plans)
  }

  private val aggs = mutable.Map.empty[String, Agg]
  private val stageExec = new ConcurrentHashMap[Int, String]()
  private val jobExec = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** execution key → job spans (start, end) in epoch ms. */
  private val spans = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]

  /** Execution key Catalyst events are charged to. */
  @volatile var current: String = "other/0"

  private def agg(exec: String): Agg = synchronized {
    aggs.getOrElseUpdate(exec.takeWhile(_ != '/'), new Agg)
  }

  private def execOf(props: java.util.Properties): String = {
    val p = Option(props)
    p.flatMap(x => Option(x.getProperty(ExecProp))).orElse(
      p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
        .map(q => s"stream/$q/" +
          p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse("-")))
      .getOrElse("other/0")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = execOf(e.properties)
    jobExec.put(e.jobId, exec)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageExec.put(_, exec))
    val a = agg(exec)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val exec = jobExec.getOrDefault(e.jobId, "other/0")
    val t0 = jobStart.getOrDefault(e.jobId, e.time)
    synchronized {
      spans.getOrElseUpdate(exec, mutable.ArrayBuffer.empty) += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageExec.getOrDefault(e.stageInfo.stageId, "other/0"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageExec.getOrDefault(e.stageId, "other/0"))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    var files, bytes = 0L
    try PlanWalk.foreach(qe.executedPlan) { node =>
      node.metrics.get("numFiles").foreach(files += _.value)
      node.metrics.get("filesSize").foreach(bytes += _.value)
    } catch { case _: Throwable => () }
    val a = agg(current)
    a.synchronized {
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
      a.filesRead += files
      a.bytesRead += bytes
      a.plans += 1
    }
  }

  def drain(): Unit = org.apache.spark.StreambenchBus.drain(spark.sparkContext)

  /** Union length (ms) of the job spans recorded for `exec`. */
  def jobUnionMs(exec: String): Long = synchronized {
    unionMs(spans.getOrElse(exec, mutable.ArrayBuffer.empty).toSeq)
  }

  /** Job-span unions of every streaming micro-batch, keyed `queryId/batchId`. */
  def streamBatchUnions(): Map[String, Long] = synchronized {
    spans.collect { case (k, v) if k.startsWith("stream/") =>
      k.stripPrefix("stream/") -> unionMs(v.toSeq)
    }.toMap
  }

  def summary(): Map[String, Any] = synchronized {
    aggs.map { case (k, a) => k -> a.synchronized(a.toMap) }.toMap
  }
}

/** Plan traversal that descends into adaptive query stages. */
private object PlanWalk
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

object Trace {
  /** Local property naming the execution a job belongs to. */
  val ExecProp = "streambench.exec"

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.qeListener)
    t
  }

  /** Total length of the union of closed intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }

  /** Run `body` with its jobs attributed to `exec`. */
  def within[T](spark: SparkSession, exec: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ExecProp)
    sc.setLocalProperty(ExecProp, exec)
    try body finally sc.setLocalProperty(ExecProp, prev)
  }
}
