package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side half of the traced pass: job, stage and task records,
  * each job parented to the benchmark call that launched it through
  * the [[Tracer.SpanKey]] local property. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskRun = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs += JobRec(e.jobId, parent, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(e.taskInfo.duration)
    taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += run
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L)
    stages += StageRec(
      id = i.stageId, attempt = i.attemptNumber(), name = i.name,
      job = stageJob.getOrElse(i.stageId, -1),
      start = submit, end = i.completionTime.getOrElse(submit),
      tasks = taskRun.remove((i.stageId, i.attemptNumber())).map(_.toSeq).getOrElse(Nil),
      runMs = if (m == null) 0L else m.executorRunTime,
      cpuNs = if (m == null) 0L else m.executorCpuTime,
      gcMs = if (m == null) 0L else m.jvmGCTime,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      spill = if (m == null) 0L else m.diskBytesSpilled,
      bytesRead = if (m == null) 0L else m.inputMetrics.bytesRead,
      bytesWritten = if (m == null) 0L else m.outputMetrics.bytesWritten,
      recordsWritten = if (m == null) 0L else m.outputMetrics.recordsWritten)
  }

  /** Jobs parented to one of `spans`, and the stages those jobs ran. */
  def snapshot(spans: Set[Long]): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val js = jobs.filter(j => spans(j.parent)).map(_.copy()).toSeq
    val ids = js.map(_.id).toSet
    (js, stages.filter(s => ids(s.job)).toSeq)
  }
}

object LayerListener {
  final case class JobRec(id: Int, parent: Long, start: Long, var end: Long)
  final case class StageRec(
      id: Int, attempt: Int, name: String, job: Int, start: Long, end: Long,
      tasks: Seq[Long], runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      bytesRead: Long, bytesWritten: Long, recordsWritten: Long)
}

/** One benchmark call (a query, a pipeline stage, a run-log append). */
final case class CallSpan(id: Long, name: String, kind: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Benchmark-side spans. With no listener every method is a plain
  * pass-through, so untraced passes run the calls unwrapped. */
final class Tracer(spark: SparkSession, val listener: Option[LayerListener]) {
  import Tracer._

  private val calls = mutable.ArrayBuffer.empty[CallSpan]
  private var nextId = 1L

  def span[T](name: String, kind: String)(body: => T): T = listener match {
    case None => body
    case Some(_) =>
      val id = nextId
      nextId += 1
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        sc.setLocalProperty(SpanKey, null)
        calls += CallSpan(id, name, kind, t0, t1)
        drain(spark)
      }
  }

  def spans: Seq[CallSpan] = calls.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  // Wall clock with nanoTime resolution, aligned to the epoch millis
  // Spark stamps on listener events.
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** Blocks until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
