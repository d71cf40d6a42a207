package graft

/** Dev timing harness for individual catalog queries — the quick A/B
  * loop [[Bench]] is too heavy for (it runs the full catalog, 3+
  * passes). Same measurement discipline as Bench: `toRdd.count()` so
  * the full plan executes without driver materialization, min over
  * `iters` back-to-back runs, caches released between runs.
  *
  * Usage: `runMain graft.TimeQ <sfDir> <q1,q2,...> [iters]`
  */
object TimeQ {
  /** Per-query orchestration counters: jobs, stages, tasks, and summed
    * task wall — wall ≫ taskTime/cores means scheduling/planning
    * overhead dominates; taskTime ≈ wall·1 means a single-threaded
    * stage is the bottleneck (guide §1/§7 triage without the UI). */
  private final class Meter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    val stageTimes = new java.util.concurrent.ConcurrentHashMap[String, Long]
    override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = e.stageInfo
      val ms = Option(si.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      stageTimes.merge(si.name.take(120), ms, (a, b) => a + b)
    }
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = {
      Seq(jobs, stages, tasks, taskMs, gcMs, shufRead,
        shufWrite).foreach(_.set(0))
      stageTimes.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val iters = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
      // dev A/B knob only (TimeQ is not the bench): TIMEQ_AQE=false
      // isolates AQE stage-materialization latency from DAG scheduling
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("TIMEQ_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    names.foreach { n =>
      val q = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      var last: (Long, Long, Long, Long, Long, Long, Long) = null
      val secs = (1 to iters).map { _ =>
        meter.reset()
        val t0 = System.nanoTime()
        q(spark, sfDir).queryExecution.toRdd.count()
        val s = (System.nanoTime() - t0) / 1e9
        graft.ops.Caches.releaseAll()
        // listener bus is async: poll until two consecutive reads agree
        // (r13 ADVICE — a fixed 80ms undercounted on slow runs), with a
        // 2s cap so a wedged bus cannot hang the harness
        def snap() = (meter.jobs.get, meter.stages.get, meter.tasks.get,
          meter.taskMs.get, meter.gcMs.get, meter.shufRead.get,
          meter.shufWrite.get)
        var prev = snap()
        var stable = false
        val deadline = System.nanoTime() + 2000000000L
        while (!stable && System.nanoTime() < deadline) {
          Thread.sleep(40)
          val now = snap()
          stable = now == prev
          prev = now
        }
        last = prev
        s
      }
      println(f"[timeq] $n%-28s min=${secs.min}%.3f  all=" +
        secs.map(s => f"$s%.2f").mkString(",") +
        f"  jobs=${last._1} stages=${last._2} tasks=${last._3} " +
        f"taskSec=${last._4 / 1000.0}%.2f gcSec=${last._5 / 1000.0}%.2f " +
        f"shufMB=${(last._6 + last._7) / 2097152.0}%.1f")
      if (sys.env.contains("TIMEQ_STAGES")) {
        import scala.jdk.CollectionConverters._
        meter.stageTimes.asScala.toSeq.sortBy(-_._2).take(8).foreach {
          case (nm, ms) =>
            println(f"[timeq-stage] ${ms / 1000.0}%8.2fs  $nm")
        }
      }
    }
    spark.stop()
  }
}
