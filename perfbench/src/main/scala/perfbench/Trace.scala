package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock instants in epoch nanoseconds: Spark's listener events carry
  * epoch milliseconds, the benchmark's own spans System.nanoTime; both
  * are mapped onto one axis so spans can nest. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def epochNs(nano: Long): Long = baseEpochNs + (nano - baseNano)
  def nowEpochNs(): Long = epochNs(System.nanoTime())
}

/** A span: one layer's work for one request, [start, end) in epoch ns. */
final case class Span(rid: Int, name: String, start: Long, end: Long,
    parent: String = "") {
  def durNs: Long = end - start
}

/** Spark-side recorder: jobs, the stages they ran, task metrics, cached
  * blocks — each kept with its timestamp so a sequential pass can
  * attribute it to the request whose window contains it. */
final class SparkRecorder extends SparkListener {
  final case class Job(id: Int, submitMs: Long, var endMs: Long)
  final case class StageAgg(var tasks: Long = 0, var runMs: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0,
      var recordsRead: Long = 0, var ran: Boolean = false)
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  val stages = scala.collection.mutable.Map.empty[Int, StageAgg]
  val cachedBlocks = ArrayBuffer.empty[Long] // epoch ms of each RDD block stored

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, StageAgg()).ran = true
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, StageAgg())
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid)
      cachedBlocks += System.currentTimeMillis()
  }
}

/** Catalyst phases of every executed query (`qe.tracker.phases`). */
final class CatalystRecorder extends QueryExecutionListener {
  final case class Phases(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, spans: Seq[(String, Long, Long)])
  val events = ArrayBuffer.empty[Phases]

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) synchronized {
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      events += Phases(ph.values.map(_.endTimeMs).max,
        d("analysis"), d("optimization"), d("planning"),
        ph.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) })
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Per-request attribution of the recorders' events over a sequential
  * pass: an event belongs to the last request that started at or before
  * it. Each pass gets fresh recorders, so nothing from another pass can
  * land here. */
final class Attribution(windows: IndexedSeq[(Int, Long, Long)]) {
  private val starts = windows.map(_._2).toArray

  /** Request id owning epoch-ns instant `t`, if inside the pass. */
  def owner(t: Long): Option[Int] = {
    if (windows.isEmpty || t < starts(0)) return None
    var lo = 0; var hi = starts.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (starts(mid) <= t) lo = mid else hi = mid - 1
    }
    Some(windows(lo)._1)
  }
}

/** Per-request Spark and Catalyst counts over one sequential pass. */
final case class ReqCounts(var jobs: Long = 0, var stages: Long = 0,
    var tasks: Long = 0, var taskMs: Long = 0, var jobWallMs: Long = 0,
    var shuffleWrite: Long = 0, var spill: Long = 0, var rowsRead: Long = 0,
    var cachedBlocks: Long = 0, var actions: Long = 0,
    var analysisMs: Long = 0, var optimizationMs: Long = 0,
    var planningMs: Long = 0)

object Trace {
  /** Counts per request id, plus the job and Catalyst-phase spans (as
    * children of whichever span in `parents` contains them, else of the
    * request's root span). */
  def attribute(windows: IndexedSeq[(Int, Long, Long)], rootName: String,
      parents: Seq[Span], sr: SparkRecorder, cr: CatalystRecorder)
      : (Map[Int, ReqCounts], Seq[Span]) = {
    val att = new Attribution(windows)
    val counts = windows.map(w => w._1 -> ReqCounts()).toMap
    val spans = ArrayBuffer.empty[Span]
    val byRid = parents.groupBy(_.rid)
    def parentOf(rid: Int, t: Long): String =
      byRid.getOrElse(rid, Nil).find(s => s.start <= t && t <= s.end)
        .map(_.name).getOrElse(rootName)
    val ms = 1000000L
    sr.synchronized {
      val jobOwner = scala.collection.mutable.Map.empty[Int, Int]
      for (j <- sr.jobs.values; rid <- att.owner(j.submitMs * ms)) {
        jobOwner(j.id) = rid
        val c = counts(rid)
        c.jobs += 1
        c.jobWallMs += j.endMs - j.submitMs
        spans += Span(rid, "spark.job", j.submitMs * ms, j.endMs * ms,
          parentOf(rid, j.submitMs * ms))
      }
      for ((sid, a) <- sr.stages; jid <- sr.stageJob.get(sid);
          rid <- jobOwner.get(jid)) {
        val c = counts(rid)
        if (a.ran) c.stages += 1
        c.tasks += a.tasks
        c.taskMs += a.runMs
        c.shuffleWrite += a.shuffleWrite
        c.spill += a.spill
        c.rowsRead += a.recordsRead
      }
      for (t <- sr.cachedBlocks; rid <- att.owner(t * ms)) counts(rid).cachedBlocks += 1
    }
    cr.synchronized {
      for (p <- cr.events; rid <- att.owner(p.atMs * ms)) {
        val c = counts(rid)
        c.actions += 1
        c.analysisMs += p.analysisMs
        c.optimizationMs += p.optimizationMs
        c.planningMs += p.planningMs
        for ((name, s, e) <- p.spans
            if Set("analysis", "optimization", "planning").contains(name))
          spans += Span(rid, s"catalyst.$name", s * ms, e * ms,
            parentOf(rid, s * ms))
      }
    }
    (counts, spans.toSeq)
  }

  /** Self time: a span's duration minus the part of it its children
    * cover (children of the same request naming it as parent). */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val kids = spans.groupBy(s => (s.rid, s.parent))
    spans.map { s =>
      val iv = kids.getOrElse((s.rid, s.name), Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      for ((a, b) <- iv) {
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s, math.max(0L, s.durNs - covered))
    }
  }
}
