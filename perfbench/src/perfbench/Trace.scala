package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Span tracer for the traced run. A span is set around one call of the
  * benchmark into a module; the span id rides a `SparkContext` local
  * property, so every job, stage and task the call launches (including
  * jobs from pool threads, which inherit local properties) is attributed
  * to it by the listener below. Spans and task records stay in memory and
  * are aggregated once, after the run.
  *
  * Disabled (the untraced run), a span is just its body: no property, no
  * listener, no boundary materialization.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val rec = new Recorder
  if (enabled) {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId.toString
      nextId += 1
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id)
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, ms0, System.currentTimeMillis(), System.nanoTime() - ns0)
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** One layer of a chain. Traced, the layer's output is materialized at
    * the boundary inside its span, so the span's time is the layer's own
    * work. Untraced, the chain keeps its natural shape: `cut` marks the
    * boundaries where the chain itself materializes.
    */
  def layer(name: String, cut: Boolean = false)(df: => DataFrame): DataFrame =
    if (enabled) span(name)(df.localCheckpoint())
    else if (cut) df.localCheckpoint()
    else df

  /** Detach the listeners after waiting for every event to arrive. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
  }

  def spanSeconds: Double = spans.map(_.durNs).sum / 1e9
  def untaggedJobs: Int = rec.synchronized(rec.untagged)
  def tasks: Seq[TaskRec] = rec.synchronized(rec.tasks.toSeq)

  def calls(name: String): Int = spans.count(_.name == name)

  private def idsOf(name: String): Set[String] =
    spans.filter(_.name == name).map(_.id).toSet

  def tasksOf(name: String): Seq[TaskRec] = {
    val ids = idsOf(name)
    tasks.filter(t => ids(t.span))
  }

  /** The 8 per-call counters of every span named in `names`, as
    * `<span>.<counter>`; a span that never ran reports zeros.
    */
  def counters(names: Seq[String]): Seq[(String, Double, String)] = {
    val jobs = rec.synchronized(rec.jobs.toSeq)
    val qes = rec.synchronized(rec.qes.toSeq)
    names.flatMap { name =>
      val ss = spans.filter(_.name == name).toSeq
      val ids = ss.map(_.id).toSet
      val n = math.max(1, ss.size).toDouble
      val ts = tasks.filter(t => ids(t.span))
      val js = jobs.filter(j => ids(j.span))
      val gapMs = ss.map { s =>
        val own = js.filter(_.span == s.id)
          .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        (s.endMs - s.startMs) - unionLength(own)
      }.sum
      val planMs = qes.filter(q => ss.exists(s => q.atMs >= s.startMs && q.atMs <= s.endMs))
        .map(_.planMs).sum
      Seq(
        ("self_s", ss.map(_.durNs).sum / 1e9, "s"),
        ("jobs", js.size.toDouble, "count"),
        ("plan_ms", planMs.toDouble, "ms"),
        ("driver_gap_ms", gapMs.toDouble, "ms"),
        ("task_wait_ms", ts.map(_.waitMs).sum.toDouble, "ms"),
        ("cpu_ms", ts.map(_.cpuNs).sum / 1e6, "ms"),
        ("shuffle_bytes", ts.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
        ("spill_bytes", ts.map(_.spillBytes).sum.toDouble, "bytes"))
        .map { case (c, v, u) => (s"$name.$c", v / n, u) }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: String, name: String, startMs: Long, endMs: Long, durNs: Long)
  final case class JobRec(span: String, startMs: Long, endMs: Long)
  final case class QeRec(atMs: Long, planMs: Long)
  final case class TaskRec(span: String, stage: Int, waitMs: Long, runMs: Long,
                           cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                           shuffleWriteRecords: Long, shuffleReadRecords: Long,
                           inputRecords: Long, outputBytes: Long, spillBytes: Long)

  /** Total length of a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Scheduler and query-execution listener: tags every job, stage and
    * task with the span of the thread that submitted it.
    */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
    val qes = mutable.ArrayBuffer.empty[QeRec]
    var untagged = 0
    private val jobStart = mutable.Map.empty[Int, (String, Long)]
    private val stageSpan = mutable.Map.empty[Int, String]
    private val stageSubmit = mutable.Map.empty[Int, Long]

    private def spanOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties) match {
        case Some(s) => jobStart(e.jobId) = (s, e.time)
        case None    =>
          untagged += 1
          System.err.println(s"[perfbench] job ${e.jobId} has no span: " +
            e.stageInfos.map(_.name).mkString("; "))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) => jobs += JobRec(s, t0, e.time) }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      spanOf(e.properties).foreach(stageSpan(id) = _)
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { s =>
        tasks += TaskRec(s, e.stageId,
          math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.recordsRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        qes += QeRec(phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum)
    }
  }
}
