package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A job as the scheduler reported it: its job group (the benchmark
  * sets one per call phase), wall interval in ms and its stages. */
final case class JobSpan(id: Int, group: String, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])

/** One completed stage attempt with its aggregated task metrics. */
final case class StageSpan(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    inputBytes: Long)

/** A finished query execution: its wall duration, when the listener saw
  * it finish, and a tag given by the first registered path its logical
  * plan mentions. */
final case class QeSpan(tag: String, durationNs: Long, endMs: Long)

/** The traced run's recorder. It registers Spark's public listeners —
  * SparkListener for jobs and stages, QueryExecutionListener for
  * finished queries, StreamingQueryListener for trigger progress —
  * keeps every event in memory and is read after the run, once the
  * listener bus is drained. Nothing is attributed while the run is
  * timed. */
final class Tracer(spark: SparkSession, pathTags: Seq[(String, String)] = Nil) {
  val jobs = new ConcurrentLinkedQueue[JobSpan]()
  val stages = new ConcurrentLinkedQueue[StageSpan]()
  val qes = new ConcurrentLinkedQueue[QeSpan]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(JobSpan(e.jobId, group, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageSpan(i.stageId, i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
      else stages.add(StageSpan(i.stageId, i.numTasks, 0, 0, 0, 0, 0, 0, 0))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(QeSpan(tagOf(qe), durationNs, System.currentTimeMillis()))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def tagOf(qe: QueryExecution): String =
    if (pathTags.isEmpty) ""
    else {
      val plan = qe.logical.toString
      pathTags.collectFirst { case (path, tag) if plan.contains(path) => tag }.getOrElse("")
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every posted event, then detaches the listeners. */
  def finish(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def jobsOf(group: String): Seq[JobSpan] = jobs.asScala.filter(_.group == group).toSeq

  def stagesOf(js: Seq[JobSpan]): Seq[StageSpan] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.filter(s => ids(s.id)).toSeq
  }
}

object Tracer {
  /** Length of the union of [lo, hi) intervals, clipped to [from, to). */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
