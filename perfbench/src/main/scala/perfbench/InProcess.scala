package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.browser.{Browser, ReportItem, TimeCuts}
import graft.cells.Cell
import graft.formats.Formats
import graft.workspace.Workspace

/** Replays one request without HTTP, timing each call into a layer's
  * public functions from outside: `Workspace.browserFor`, cut parsing
  * (`TimeCuts.parseCell` over `CutParser`), the `Browser` verb that builds
  * the plan, and `Formats` rendering. It makes the calls the slicer route
  * makes for the same URL, so HTTP latency minus this is the server's
  * own share. */
final class InProcess(ws: Workspace, cubeName: String) {
  private val cube = ws.cube(cubeName)

  /** Returns the replay's wall time (ns); spans go to `spans`. */
  def replay(r: Req, spans: ArrayBuffer[Span]): Long = {
    val (parts, q) = Urls.split(r.url)
    def span[T](name: String)(f: => T): T = {
      val s = System.nanoTime()
      try f
      finally spans += Span(r.id, name, Clock.epochNs(s),
        Clock.nowEpochNs(), "inproc.request")
    }
    val t0 = System.nanoTime()
    try {
      val b = span("workspace.browser_for")(ws.browserFor(None, cubeName))
      val cell = span("cells.parse")(
        q.get("cut").map(TimeCuts.parseCell(cube, _)).getOrElse(Cell.empty))
      val csv = q.get("format").contains("csv")
      def render(df: DataFrame): Unit = span("formats.render") {
        if (csv) df.limit(10001).collect().map(_.mkString(",")).mkString("\n")
        else Formats.toJsonArrayTruncated(df)
      }
      parts(2) match {
        case "aggregate" =>
          val result = span("browser.build")(aggregate(b, cell, q, csv))
          span("formats.render") {
            if (csv) result.cells.limit(10001).collect().map(_.mkString(","))
            else {
              result.summary.foreach(Formats.toJsonArray(_, 1))
              Formats.toJsonArrayTruncated(result.cells)
              result.totalCellCount
            }
          }
        case "facts" =>
          render(span("browser.build")(b.facts(cell, Urls.list(q, "fields", ","),
            Urls.order(q), Urls.int(q, "page"), Urls.int(q, "pagesize"))))
        case "members" =>
          render(span("browser.build")(b.members(cell, parts(3),
            Urls.int(q, "depth"), q.get("hierarchy"), q.get("level"),
            Urls.int(q, "page"), Urls.int(q, "pagesize"))))
        case "cell" =>
          val details = span("browser.build")(b.cellDetails(cell, q.get("dimension")))
          span("formats.render")(details.mkString)
        case "report" =>
          val frames = span("browser.build")(b.report(cell, reportItems(r.body)))
          span("formats.render")(frames.values.foreach(Formats.toJsonArrayTruncated(_)))
        case other => throw new IllegalArgumentException(s"no replay for $other")
      }
    } finally graft.ops.Caches.releaseAll()
    System.nanoTime() - t0
  }

  /** The route's aggregate path: the fused plan when eligible, otherwise
    * the two-pass plan with the unpaged frame persisted for the count. */
  private def aggregate(b: Browser, cell: Cell, q: Map[String, String],
      csv: Boolean): graft.browser.AggregationResult = {
    val drilldown = Urls.list(q, "drilldown", "|")
    val aggregates = Urls.list(q, "aggregates", "|")
    val split = q.get("split").map(TimeCuts.parseCell(b.cube, _))
    val resolved = aggregates.map(b.cube.aggregate)
    val fusible = drilldown.nonEmpty && split.isEmpty && aggregates.nonEmpty &&
      resolved.forall(_.function
        .forall(f => !graft.functions.WindowCalcs.isWindowFunction(f))) &&
      !Browser.mixesDistinctAndSketch(resolved)
    val page = Urls.int(q, "page"); val size = Urls.int(q, "pagesize")
    if (fusible)
      b.aggregateFused(cell, drilldown, aggregates, Urls.order(q), page, size)
    else {
      val r0 = b.aggregate(cell, drilldown, aggregates, split, Urls.order(q),
        page, size)
      if (csv || q.get("include_cell_count").contains("false")) r0
      else {
        val persisted = graft.ops.Caches.registerDf(
          r0.unpagedCells.getOrElse(r0.cells)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val paged = (page, size) match {
          case (Some(p), Some(n)) => persisted.offset(p * n).limit(n)
          case (None, Some(n))    => persisted.limit(n)
          case _                  => persisted
        }
        r0.copy(cells = paged, unpagedCells = Some(persisted))
      }
    }
  }

  private def reportItems(body: String): Map[String, ReportItem] =
    JsonMethods.parse(body) \ "queries" match {
      case JObject(fields) => fields.map { case (name, v) =>
        def s(k: String) = v \ k match { case JString(x) => Some(x); case _ => None }
        def sl(k: String) = v \ k match {
          case JArray(xs) => xs.collect { case JString(x) => x }
          case JString(x) => x.split("\\|").toSeq.filter(_.nonEmpty)
          case _          => Nil
        }
        name -> ReportItem(kind = s("query").getOrElse("aggregate"),
          cell = s("cut").map(TimeCuts.parseCell(cube, _)),
          rollup = s("rollup"), drilldown = sl("drilldown"),
          aggregates = sl("aggregates"), dim = s("dimension"),
          depth = v \ "depth" match { case JInt(i) => Some(i.toInt); case _ => None })
      }.toMap
      case _ => throw new IllegalArgumentException("report body needs 'queries'")
    }
}

object Urls {
  /** Path segments and decoded query parameters of a request URL. */
  def split(url: String): (IndexedSeq[String], Map[String, String]) = {
    val (path, query) = url.indexOf('?') match {
      case -1 => (url, "")
      case i  => (url.take(i), url.drop(i + 1))
    }
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    (path.stripPrefix("/").split("/").toIndexedSeq,
      query.split("&").filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => dec(k) -> dec(v)
          case Array(k)    => dec(k) -> ""
        }
      }.toMap)
  }
  def list(q: Map[String, String], k: String, sep: String): Seq[String] =
    q.get(k).toSeq.flatMap(_.split(java.util.regex.Pattern.quote(sep))).filter(_.nonEmpty)
  def int(q: Map[String, String], k: String): Option[Int] = q.get(k).map(_.toInt)
  def order(q: Map[String, String]): Seq[(String, Option[String])] =
    list(q, "order", ",").map(o => o.split(":", 2) match {
      case Array(a)    => (a, None)
      case Array(a, d) => (a, Some(d))
    })
}
