package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

/** A traced interval: name, kind, start and end in epoch milliseconds,
  * and the span that caused it (0 for an op, the root of its tree). */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Spans {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }
}

/** One Catalyst action seen by the QueryExecutionListener: its phases
  * (analysis, optimization, planning) as epoch-ms intervals. */
final case class QeRecord(func: String, phases: Map[String, (Long, Long)])

/** Collects Spark listener and query-execution events while registered.
  * With one client thread, every event that arrives between two drains
  * belongs to the op that ran in between — including jobs from pooled
  * threads that do not inherit the op's local properties. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[AnyRef]()

  override def onJobStart(e: SparkListenerJobStart): Unit = q.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = q.add(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = q.add(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = q.add(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = q.add(e)

  private def record(func: String, qe: QueryExecution): Unit =
    q.add(QeRecord(func, qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }))
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)

  def take(): Seq[AnyRef] = {
    val out = mutable.ArrayBuffer[AnyRef]()
    var e = q.poll()
    while (e != null) { out += e; e = q.poll() }
    out.toSeq
  }
}

/** The boundaries of one op as the client saw them (epoch ms) plus the
  * counters read at those boundaries. */
final case class OpWindow(t0: Double, t1: Double, t2: Double,
                          compiles: Long, compileMs: Double, analysisMs: Double,
                          leftoverBlocks: Int)

object Layers {
  private val MB = 1024.0 * 1024.0

  /** Per-layer figures and spans of one op from the events it caused. */
  def attribute(opId: Long, opName: String, w: OpWindow, events: Seq[AnyRef],
                cores: Int, nextId: () => Long): (Map[String, Double], Seq[Span]) = {
    val jobStarts = events.collect { case e: SparkListenerJobStart => e }
    val jobEnds = events.collect { case e: SparkListenerJobEnd => e.jobId -> e.time.toDouble }.toMap
    val stageSub = events.collect { case e: SparkListenerStageSubmitted => e.stageInfo }
    val stageDone = events.collect { case e: SparkListenerStageCompleted => e.stageInfo }
    val tasks = events.collect { case e: SparkListenerTaskEnd => e }
    val qes = events.collect { case e: QeRecord => e }

    val jobIv = jobStarts.map(j => (j.time.toDouble, jobEnds.getOrElse(j.jobId, w.t2)))
    val wall = (w.t2 - w.t0) / 1000.0
    val busy = Spans.covered(jobIv, w.t0, w.t2) / 1000.0
    val firstLaunch = tasks.groupBy(t => (t.stageId, t.stageAttemptId))
      .map { case (k, ts) => k -> ts.map(_.taskInfo.launchTime).min }
    val queue = stageSub.flatMap { s =>
      for (sub <- s.submissionTime; l <- firstLaunch.get((s.stageId, s.attemptNumber())))
        yield math.max(0L, l - sub) / 1000.0
    }.sum
    val m = tasks.flatMap(t => Option(t.taskMetrics))
    val taskS = tasks.map(_.taskInfo.duration).sum / 1000.0
    def phase(name: String) = qes.flatMap(_.phases.get(name)).map { case (a, b) => b - a }.sum / 1000.0

    val layers = Map(
      "queries.build_s" -> (w.t1 - w.t0) / 1000.0,
      "queries.materialize_s" -> (w.t2 - w.t1) / 1000.0,
      "operators.fit_jobs" -> jobStarts.count(_.time < w.t1).toDouble,
      "operators.leftover_blocks" -> w.leftoverBlocks.toDouble,
      "catalyst.analysis_s" -> (phase("analysis") + w.analysisMs / 1000.0),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.actions" -> qes.size.toDouble,
      "codegen.compiles" -> w.compiles.toDouble,
      "codegen.compile_s" -> w.compileMs / 1000.0,
      "scheduler.jobs" -> jobStarts.size.toDouble,
      "scheduler.stages" -> stageDone.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.busy_s" -> busy,
      "scheduler.gap_s" -> (wall - busy),
      "scheduler.queue_s" -> queue,
      "executor.task_s" -> taskS,
      "executor.cpu_s" -> m.map(_.executorCpuTime).sum / 1e9,
      "executor.util" -> (if (busy > 0) taskS / (busy * cores) else 0.0),
      "executor.gc_s" -> m.map(_.jvmGCTime).sum / 1000.0,
      "executor.shuffle_read_mb" -> m.map(_.shuffleReadMetrics.totalBytesRead).sum / MB,
      "executor.shuffle_write_mb" -> m.map(_.shuffleWriteMetrics.bytesWritten).sum / MB,
      "executor.spill_mb" -> m.map(_.diskBytesSpilled).sum / MB,
      "executor.result_mb" -> m.map(_.resultSize).sum / MB,
      "executor.task_failures" -> tasks.count(_.reason != Success).toDouble,
      "core.scan_rows" -> m.map(_.inputMetrics.recordsRead).sum.toDouble,
      "core.scan_mb" -> m.map(_.inputMetrics.bytesRead).sum / MB)

    // span tree: op -> build|materialize -> catalyst phases and jobs -> stages
    val build = Span(nextId(), opId, opId, "build", opName, w.t0, w.t1)
    val mat = Span(nextId(), opId, opId, "materialize", opName, w.t1, w.t2)
    def under(t: Double) = if (t < w.t1) build.id else mat.id
    val phaseSpans = qes.flatMap(qe => qe.phases.toSeq.sortBy(_._2._1).map { case (n, (a, b)) =>
      Span(nextId(), under(a.toDouble), opId, "catalyst", s"${qe.func}.$n", a.toDouble, b.toDouble)
    })
    val jobSpans = jobStarts.map(j => j.jobId -> Span(nextId(), under(j.time.toDouble), opId,
      "job", s"job ${j.jobId}", j.time.toDouble, jobEnds.getOrElse(j.jobId, w.t2))).toMap
    val stageJob = jobStarts.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val stageSpans = stageDone.flatMap { s =>
      for (sub <- s.submissionTime; end <- s.completionTime; job <- stageJob.get(s.stageId))
        yield Span(nextId(), jobSpans(job).id, opId, "stage",
          s"stage ${s.stageId}.${s.attemptNumber()} (${s.numTasks} tasks)", sub.toDouble, end.toDouble)
    }
    val root = Span(opId, 0L, opId, "op", opName, w.t0, w.t2)
    (layers, Seq(root, build, mat) ++ phaseSpans ++ jobSpans.values.toSeq.sortBy(_.start) ++ stageSpans)
  }
}
