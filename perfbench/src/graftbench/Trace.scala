package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: pass -> query -> {build, execute} -> job.
  * Times are epoch milliseconds (the unit Spark's listener events carry). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Per-job counters, summed over the job's tasks. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = -1L
  @volatile var succeeded = false
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
}

/** Planning phases and broadcast volume of one executed SQL statement, as
  * the `QueryExecutionListener` receives it. */
final case class ExecRec(startMs: Long, analysisMs: Double, optimizerMs: Double,
    physicalMs: Double, broadcastBytes: Long)

/** Listens while installed; the timed passes run with it removed. Jobs are
  * tied to spans through the job group the pass sets before each call. */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[ExecRec]()
  @volatile private var execsEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob.put(s, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.succeeded = e.jobResult == JobSucceeded
      j.end = e.time
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionEnd => execsEnded += 1
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String): Double =
      phases.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val bcast =
      try collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      catch { case _: Throwable => 0L }
    val start = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
    execs.add(ExecRec(start, phase("analysis"), phase("optimization"),
      phase("planning"), bcast))
  }

  /** The executed statements whose planning started in [lo, hi] (epoch ms).
    * The listener is not told the job group, but the passes are a closed
    * loop, so the time of the statement's first phase places it. */
  def execsIn(lo: Double, hi: Double): Seq[ExecRec] =
    execs.asScala.toSeq.filter(r => r.startMs >= lo && r.startMs <= hi)

  /** Waits until the asynchronous listener buses have delivered every
    * event of the work done so far. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    def settled = execs.size >= execsEnded &&
      jobs.values.asScala.forall(_.end >= 0)
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(spark: org.apache.spark.sql.SparkSession): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }
}

/** Span tree builder for one traced run; spans stay in memory and are
  * written as one JSON artifact at exit. */
final class Spans {
  val spans = ArrayBuffer.empty[Span]
  private def now: Double = System.nanoTime() / 1e6 - Spans.nanoOffsetMs

  def open(parent: Int, name: String): Int = synchronized {
    spans += Span(spans.length, parent, name, now, Double.NaN)
    spans.length - 1
  }

  def close(id: Int): Unit = synchronized {
    spans(id) = spans(id).copy(end = now)
  }

  def add(parent: Int, name: String, start: Double, end: Double): Int = synchronized {
    spans += Span(spans.length, parent, name, start, end)
    spans.length - 1
  }
}

object Spans {
  /** Offset that turns `System.nanoTime` into epoch milliseconds, so span
    * times line up with listener event times. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}
