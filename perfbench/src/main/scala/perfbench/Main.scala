package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.SlicerServer
import graft.tpch.TpchModel
import graft.workspace.Workspace

/** The benchmark's JVM side: set-up (repeated, median reported), the
  * closed-loop measurement over the slicer, and the traced run.
  *
  * {{{
  * perfbench.Main --workload olap_cold|olap_hot --stream <jsonl>
  *   --warmup <jsonl> --data <sf dir> --out <run dir> --seconds <s>
  *   --trace 0|1 --t0-ns <epoch ns the benchmark process started>
  * }}}
  *
  * Writes `<run dir>/result.json`; the Python runner checks it and prints
  * the summary line. */
object Main {
  val Cube = "sales"
  val Clients = 4
  val Setups = 3
  /** Response-cache TTL of the hot server: longer than any run. */
  val HotTtlSeconds = 3600

  final case class Opts(workload: String, stream: String, warmup: String,
      data: String, out: String, seconds: Double, trace: Boolean, t0Ns: Long)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("stream"), m("warmup"), m("data"), m("out"),
      m("seconds").toDouble, m("trace") == "1", m("t0-ns").toLong)
    require(Set("olap_cold", "olap_hot").contains(o.workload),
      s"unknown workload ${o.workload}")
    val result = run(o)
    Files.write(Paths.get(o.out, "result.json"),
      JsonMethods.pretty(JsonMethods.render(result)).getBytes(StandardCharsets.UTF_8))
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** The one session configuration every workload uses: the catalog
    * bench's tuning (sort-based shuffle writer for small reducer counts,
    * a codegen cache large enough for the request mix), UTC, and
    * shuffle partitions equal to the cores. */
  def session(out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toString)
      .config("spark.local.dir", Paths.get(out, "spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh slicer server on an ephemeral port for the duration of `f`. */
  def withServer[T](ws: Workspace, cacheTtlSeconds: Int)(f: Client => T): T = {
    val server = new SlicerServer(ws, cacheTtlSeconds = cacheTtlSeconds)
    try f(new Client(server.start())) finally server.stop()
  }

  def workspace(spark: SparkSession, data: String): Workspace =
    new Workspace(spark).registerCube(TpchModel.cube).registerTableDir(data)

  def run(o: Opts): JValue = {
    val stream = Req.load(o.stream)
    val warmup = Req.load(o.warmup)
    val hot = o.workload == "olap_hot"
    val load0 = loadavg()
    val gc0 = gcMillis()
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def tally(outs: Seq[Outcome]): Unit = {
      attempted += outs.size
      val bad = outs.filterNot(_.ok)
      failed += bad.size
      errors ++= bad.take(20 - errors.size.min(20)).map(b => s"${b.req.url}: ${b.error.get}")
    }

    // Set-up, repeated: session, workspace, a server, and a third of the
    // canary requests over HTTP as the fixed warm-up, the same third in
    // every run, so every canary is answered once per run. The first
    // set-up starts when the benchmark process started; each later one
    // stops the previous session first. The last session is measured.
    val canaryDir = Paths.get(o.out, "canary")
    Files.createDirectories(canaryDir)
    var spark: SparkSession = null
    var ws: Workspace = null
    val setupNs = (0 until Setups).map { k =>
      val start = if (k == 0) o.t0Ns else Clock.nowEpochNs()
      if (spark != null) spark.stop()
      spark = session(o.out)
      ws = workspace(spark, o.data)
      withServer(ws, 0) { client =>
        val (outs, _, _, _) = Load.closedLoop(client,
          warmup.filter(_.id % Setups == k), Clients, 600, wrap = false, new Checks)
        tally(outs)
        for (x <- outs if x.req.name.nonEmpty; r <- x.resp)
          Files.write(canaryDir.resolve(s"${x.req.name}.body"), r.body)
      }
      Clock.nowEpochNs() - start
    }
    val setupS = setupNs.map(_ / 1e9)

    val measured: Map[String, JValue] =
      if (o.trace) traced(o, ws, stream, hot, tally)
      else withServer(ws, if (hot) HotTtlSeconds else 0) { client =>
        val (outs, start, deadline, exhausted) = Load.closedLoop(client, stream,
          Clients, o.seconds, wrap = hot, new Checks)
        tally(outs)
        if (exhausted) {
          failed += 1; attempted += 1
          errors += "request stream exhausted before the window closed"
        }
        writeRequests(o.out, outs, start)
        val ok = outs.filter(_.ok)
        val lat = ok.map(_.resp.get.latencyNs / 1e6).sorted.toIndexedSeq
        // throughput counts what completed inside the window, so requests
        // in flight at the deadline do not stretch it
        val windowS = (deadline - start) / 1e9
        val inWindow = ok.count(_.resp.get.endNs <= deadline)
        // live heap after full collections, with the server (and its
        // response cache) still reachable; the pauses let Spark's context
        // cleaner drop broadcasts and shuffle blocks the first one freed
        for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
        val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        Map(
          "setup_s" -> metric(median(setupS), "s"),
          "throughput_rps" -> metric(inWindow / windowS, "1/s"),
          "latency_p50_ms" -> metric(pct(lat, 0.50), "ms"),
          "latency_p90_ms" -> metric(pct(lat, 0.90), "ms"),
          "heap_retained_mb" -> metric(retained / 1048576.0, "MB"),
          "_detail" -> JObject(
            "window_s" -> JDouble(windowS),
            "requests_ok" -> JInt(ok.size),
            "completed_in_window" -> JInt(inWindow),
            "latency_samples" -> JInt(lat.size),
            "samples_beyond_p90" -> JInt(lat.size - math.ceil(0.90 * lat.size).toInt),
            "latency_p95_ms" -> JDouble(pct(lat, 0.95)),
            "latency_p99_ms" -> JDouble(pct(lat, 0.99)),
            "cache_hits" -> JInt(outs.count(_.resp.exists(_.cacheHit))),
            "stream_exhausted" -> JBool(exhausted),
            "per_verb" -> perVerb(ok)))
      }

    val calibration = calibrate(spark)
    val res = JObject(
      "workload" -> JString(o.workload),
      "trace" -> JBool(o.trace),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "failed_share" -> JDouble(if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "errors" -> JArray(errors.take(20).map(JString(_)).toList),
      "setup_s_each" -> JArray(setupS.map(JDouble(_)).toList),
      "metrics" -> JObject(measured.filterNot(_._1.startsWith("_")).toList.sortBy(_._1)),
      "detail" -> measured.getOrElse("_detail", JObject()),
      "host" -> JObject(
        "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
        "spark_cores" -> JInt(cores),
        "loadavg_start" -> JString(load0),
        "loadavg_end" -> JString(loadavg()),
        "calibration_s" -> JDouble(calibration),
        "gc_ms" -> JInt(gcMillis() - gc0),
        "java" -> JString(System.getProperty("java.version")),
        "spark" -> JString(spark.version)))
    spark.stop()
    res
  }

  /** The traced run: sequential passes over one prefix of the stream.
    *   U:  untraced, over HTTP, for half the run (on `olap_hot` until the
    *       first cache hit, at most the whole run); fixes the prefix.
    *   T:  the prefix again over HTTP, with the listeners on.
    *   U2: the prefix again, untraced: trace overhead is T against U2,
    *       two replays of the same requests.
    *   I:  the requests T computed (cache misses), replayed in-process.
    * Each HTTP pass gets a fresh server, so each starts with an empty
    * response cache. */
  def traced(o: Opts, ws: Workspace, stream: IndexedSeq[Req], hot: Boolean,
      tally: Seq[Outcome] => Unit): Map[String, JValue] = {
    val spark = ws.spark
    val ttl = if (hot) HotTtlSeconds else 0
    // with a response cache, the prefix runs on to its first cache hit,
    // so the traced pass shows the cached path too
    val (outsU, _, _) = withServer(ws, ttl)(c =>
      Load.sequential(c, stream, o.seconds, new Checks, (outs, elapsedS) =>
        elapsedS >= o.seconds / 2 && (!hot || outs.exists(_.resp.exists(_.cacheHit)))))
    tally(outsU)
    val prefix = outsU.map(_.req)

    def recorded[T](f: => T): (T, SparkRecorder, CatalystRecorder) = {
      val sr = new SparkRecorder; val cr = new CatalystRecorder
      spark.sparkContext.addSparkListener(sr)
      spark.listenerManager.register(cr)
      try {
        val r = f
        org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
        (r, sr, cr)
      } finally {
        spark.sparkContext.removeSparkListener(sr)
        spark.listenerManager.unregister(cr)
      }
    }
    resetHeapPeaks()
    val gc0 = gcMillis()
    val ((outsT, t0, t1), srT, crT) = recorded(withServer(ws, ttl)(c =>
      Load.sequential(c, prefix, 0, new Checks)))
    tally(outsT)
    val gcMs = gcMillis() - gc0
    val heapPeak = heapPeakMb()
    val (outsU2, u0, u1) = withServer(ws, ttl)(c =>
      Load.sequential(c, prefix, 0, new Checks))
    tally(outsU2)
    val winT = outsT.flatMap(x => x.resp.map(r =>
      (x.req.id, Clock.epochNs(r.startNs), Clock.epochNs(r.endNs)))).toIndexedSeq
    val rootT = outsT.flatMap(x => x.resp.map(r =>
      Span(x.req.id, "server.request", Clock.epochNs(r.startNs), Clock.epochNs(r.endNs))))
    val (countsT, spansT) = Trace.attribute(winT, "server.request", Nil, srT, crT)

    val misses = outsT.filter(x => x.ok && !x.resp.get.cacheHit).map(_.req)
    val replayer = new InProcess(ws, Cube)
    val inSpans = ArrayBuffer.empty[Span]
    val inLatNs = scala.collection.mutable.Map.empty[Int, Long]
    val (_, srI, crI) = recorded(misses.foreach { r =>
      val s = Clock.nowEpochNs()
      val dt = replayer.replay(r, inSpans)
      inLatNs(r.id) = dt
      inSpans += Span(r.id, "inproc.request", s, s + dt)
    })
    val winI = inSpans.filter(_.name == "inproc.request")
      .map(s => (s.rid, s.start, s.end)).toIndexedSeq.sortBy(_._2)
    val (_, spansI) = Trace.attribute(winI, "inproc.request",
      inSpans.filter(_.parent == "inproc.request").toSeq, srI, crI)

    val allT = rootT ++ spansT
    val allI = inSpans.toSeq ++ spansI
    writeSpans(o.out, Seq("http" -> allT, "inproc" -> allI))

    val n = outsT.size.max(1).toDouble
    def perReq(f: ReqCounts => Long): Double = countsT.values.map(f).sum / n
    val selfI = Trace.selfTimes(allI)
    def medianOf(name: String, scale: Double): Double =
      median(inSpans.filter(_.name == name).map(_.durNs / scale).toSeq)
    val buildJobs = spansI.count(s => s.name == "spark.job" && s.parent == "browser.build")
    val renderSelf = selfI.collect { case (s, self) if s.name == "formats.render" => self / 1e6 }
    val computed = outsT.filter(x => x.resp.exists(r => !r.cacheHit))
    val rowsOut = computed.map(_.rowsOut).sum
    val rowsRead = computed.flatMap(x => countsT.get(x.req.id)).map(_.rowsRead).sum
    val overhead = outsT.flatMap(x => x.resp.map { r =>
      (r.latencyNs - (if (r.cacheHit) 0L else inLatNs.getOrElse(x.req.id, 0L))) / 1e6
    })
    val byVerb = outsT.groupBy(_.req.verb)
    val verbP50 = Seq("aggregate", "facts", "members", "cell", "report", "csv").map { v =>
      s"server.verb.$v.p50_ms" -> metric(median(byVerb.getOrElse(v, Nil)
        .flatMap(_.resp.map(_.latencyNs / 1e6))), "ms")
    }
    val mb = 1048576.0
    Map(
      "cells.parse_us" -> metric(medianOf("cells.parse", 1e3), "us"),
      "workspace.browser_for_us" -> metric(medianOf("workspace.browser_for", 1e3), "us"),
      "browser.build_ms" -> metric(medianOf("browser.build", 1e6), "ms"),
      "browser.build_jobs" -> metric(buildJobs / misses.size.max(1).toDouble, "count"),
      "catalyst.analysis_ms" -> metric(perReq(_.analysisMs), "ms"),
      "catalyst.optimization_ms" -> metric(perReq(_.optimizationMs), "ms"),
      "catalyst.planning_ms" -> metric(perReq(_.planningMs), "ms"),
      "catalyst.actions" -> metric(perReq(_.actions), "count"),
      "spark.jobs" -> metric(perReq(_.jobs), "count"),
      "spark.stages" -> metric(perReq(_.stages), "count"),
      "spark.tasks" -> metric(perReq(_.tasks), "count"),
      "spark.task_s" -> metric(perReq(_.taskMs) / 1e3, "s"),
      "spark.job_wall_ms" -> metric(perReq(_.jobWallMs), "ms"),
      "spark.shuffle_write_mb" -> metric(perReq(_.shuffleWrite) / mb, "MB"),
      "spark.spill_mb" -> metric(perReq(_.spill) / mb, "MB"),
      "spark.cached_blocks" -> metric(perReq(_.cachedBlocks), "count"),
      "spark.rows_read" -> metric(perReq(_.rowsRead), "count"),
      "spark.rows_read_per_row_out" ->
        metric(rowsRead.toDouble / rowsOut.max(1), "ratio"),
      "formats.render_ms" -> metric(median(renderSelf), "ms"),
      "formats.bytes_out" -> metric(outsT.flatMap(_.resp.map(_.body.length.toLong)).sum / n, "bytes"),
      "server.overhead_ms" -> metric(median(overhead), "ms"),
      "server.cache_hit_ratio" -> metric(outsT.count(_.resp.exists(_.cacheHit)) / n, "ratio"),
      "jvm.gc_ms" -> metric(gcMs.toDouble, "ms"),
      "jvm.heap_peak_mb" -> metric(heapPeak, "MB"),
      "trace.overhead_pct" -> metric(100.0 * ((t1 - t0) - (u1 - u0)) / (u1 - u0), "%"),
      "trace.requests" -> metric(outsT.size.toDouble, "count"),
    ) ++ verbP50 ++ Map("_detail" -> JObject(
      "untraced_replay_s" -> JDouble((u1 - u0) / 1e9),
      "traced_pass_s" -> JDouble((t1 - t0) / 1e9),
      "inproc_replays" -> JInt(misses.size),
      "layers" -> layerTable(Trace.selfTimes(allT) ++ selfI)))
  }

  /** One line per request of the window: when it was sent (seconds into
    * the window), latency, verb, cache hit, and the failed check if any. */
  def writeRequests(out: String, outs: Seq[Outcome], start: Long): Unit = {
    val w = Files.newBufferedWriter(Paths.get(out, "requests.jsonl"))
    try outs.sortBy(_.resp.map(_.startNs).getOrElse(Long.MaxValue)).foreach { x =>
      w.write(JsonMethods.compact(JsonMethods.render(JObject(
        "id" -> JInt(x.req.id), "verb" -> JString(x.req.verb),
        "sent_s" -> JDouble(x.resp.map(r => (r.startNs - start) / 1e9).getOrElse(-1.0)),
        "latency_ms" -> JDouble(x.resp.map(_.latencyNs / 1e6).getOrElse(-1.0)),
        "hit" -> JBool(x.resp.exists(_.cacheHit)),
        "error" -> JString(x.error.getOrElse(""))))))
      w.write('\n')
    } finally w.close()
  }

  /** Per verb: requests, median and p95 latency (ms). */
  def perVerb(outs: Seq[Outcome]): JValue =
    JObject(outs.groupBy(_.req.verb).toList.sortBy(_._1).map { case (v, xs) =>
      val lat = xs.flatMap(_.resp.map(_.latencyNs / 1e6)).sorted.toIndexedSeq
      v -> JObject("n" -> JInt(xs.size), "p50_ms" -> JDouble(pct(lat, 0.5)),
        "p95_ms" -> JDouble(pct(lat, 0.95)))
    })

  /** Per span name: count, total and self milliseconds, median duration. */
  def layerTable(withSelf: Seq[(Span, Long)]): JValue =
    JObject(withSelf.groupBy(_._1.name).toList.sortBy(_._1).map { case (name, xs) =>
      name -> JObject(
        "count" -> JInt(xs.size),
        "total_ms" -> JDouble(xs.map(_._1.durNs).sum / 1e6),
        "self_ms" -> JDouble(xs.map(_._2).sum / 1e6),
        "p50_ms" -> JDouble(median(xs.map(_._1.durNs / 1e6))))
    })

  def writeSpans(out: String, passes: Seq[(String, Seq[Span])]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(out, "spans.jsonl"))
    try for ((pass, spans) <- passes; (s, self) <- Trace.selfTimes(spans)) {
      w.write(JsonMethods.compact(JsonMethods.render(JObject(
        "pass" -> JString(pass), "rid" -> JInt(s.rid), "name" -> JString(s.name),
        "parent" -> JString(s.parent), "start_ns" -> JLong(s.start),
        "end_ns" -> JLong(s.end), "self_ns" -> JLong(self)))))
      w.write('\n')
    } finally w.close()
  }

  def metric(v: Double, unit: String): JValue =
    JObject("value" -> JDouble(v), "unit" -> JString(unit))

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toIndexedSeq, 0.5)

  /** Nearest-rank percentile of sorted samples; 0 when there are none. */
  def pct(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))

  /** Fixed CPU-bound probe, the same work as the catalog bench's
    * calibration: a noisy host shows up here, not in the queries. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 100000000L, 1, 8)
      .selectExpr("sum((id * 2654435761) % 1000000007) as s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: Throwable => "" }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    heapPools.flatMap(p => Option(p.getPeakUsage).map(_.getUsed)).sum / 1048576.0
}
