package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One generated request, as the generator wrote it (one JSON object per
  * line). `sumCheck` names the additive aggregates whose summary must
  * equal the sum of the cells; `pageSize` > 0 bounds a facts page. */
final case class Req(id: Int, logical: Int, verb: String, method: String,
    url: String, body: String, sumCheck: Seq[String], pageSize: Int,
    name: String)

object Req {
  def load(path: String): IndexedSeq[Req] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).zipWithIndex.map {
      case (line, i) =>
        val j = JsonMethods.parse(line)
        def str(k: String): String = j \ k match {
          case JString(s) => s
          case _          => ""
        }
        Req(i, (j \ "logical") match { case JInt(n) => n.toInt; case _ => i },
          str("verb"), str("method"), str("url"), str("body"),
          (j \ "sum_check") match {
            case JArray(xs) => xs.collect { case JString(s) => s }
            case _          => Nil
          },
          (j \ "pagesize") match { case JInt(n) => n.toInt; case _ => 0 },
          str("name"))
    }.toIndexedSeq
    finally src.close()
  }
}

/** One completed exchange: status, body, the two response headers the
  * checks read, and client-side send/receive instants (System.nanoTime). */
final case class Resp(status: Int, body: Array[Byte], cacheHit: Boolean,
    truncated: Boolean, startNs: Long, endNs: Long) {
  def latencyNs: Long = endNs - startNs
  def text: String = new String(body, StandardCharsets.UTF_8)
}

/** What one request of a pass produced: the response (None when the
  * transport failed) and the first failed check, if any. */
final case class Outcome(req: Req, resp: Option[Resp], error: Option[String],
    rowsOut: Long) {
  def ok: Boolean = error.isEmpty
}

final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def send(r: Req): Resp = {
    val b = HttpRequest.newBuilder(URI.create(base + r.url))
      .timeout(java.time.Duration.ofSeconds(60))
    val req =
      if (r.method == "POST")
        b.POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      else b.GET().build()
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val t1 = System.nanoTime()
    val h = resp.headers()
    Resp(resp.statusCode(), resp.body(),
      h.firstValue("X-Graft-Cache").orElse("") == "hit",
      h.firstValue("X-Graft-Truncated").orElse("") == "true", t0, t1)
  }
}

/** Output checks applied to every response. All spellings of one logical
  * request must return byte-identical bodies; the first body seen for a
  * logical id is the reference the others are compared with. */
final class Checks {
  private val bodies =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def digest(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  /** Returns (first failed check, result rows in the body). */
  def apply(r: Req, resp: Resp): (Option[String], Long) = {
    if (resp.status != 200)
      return (Some(s"status ${resp.status}: ${resp.text.take(200)}"), 0L)
    val (err, rows) =
      try {
        if (r.verb == "csv") checkCsv(resp.text)
        else checkJson(r, resp)
      } catch { case e: Throwable =>
        (Some(s"unparseable body: ${e.getMessage}"), 0L)
      }
    if (err.isDefined) return (err, rows)
    val d = digest(resp.body)
    val first = bodies.putIfAbsent(r.logical, d)
    if (first != null && first != d)
      (Some(s"body differs from another spelling of logical request ${r.logical}"), rows)
    else (None, rows)
  }

  private def checkCsv(text: String): (Option[String], Long) = {
    val rows = Csv.parse(text)
    if (rows.isEmpty) return (Some("empty csv"), 0L)
    val width = rows.head.size
    rows.find(_.size != width) match {
      case Some(bad) => (Some(s"csv row width ${bad.size} != header $width"), 0L)
      case None      => (None, (rows.size - 1).toLong)
    }
  }

  private def num(v: JValue): Option[BigDecimal] = v match {
    case JInt(n)     => Some(BigDecimal(n))
    case JLong(n)    => Some(BigDecimal(n))
    case JDecimal(d) => Some(d)
    case JDouble(d)  => Some(BigDecimal(d))
    case _           => None
  }

  private def checkJson(r: Req, resp: Resp): (Option[String], Long) = {
    val j = JsonMethods.parse(resp.text, useBigDecimalForDouble = true)
    r.verb match {
      case "aggregate" =>
        val cells = j \ "cells" match {
          case JArray(xs) => xs
          case _          => return (Some("aggregate without a cells array"), 0L)
        }
        if (r.sumCheck.nonEmpty && !resp.truncated) {
          for (agg <- r.sumCheck) {
            val total = cells.flatMap(c => num(c \ agg)).sum
            val summary = num(j \ "summary" \ agg).getOrElse(BigDecimal(0))
            val tol = BigDecimal(1e-9) * (summary.abs max BigDecimal(1))
            if ((summary - total).abs > tol)
              return (Some(s"summary $agg=$summary != sum of cells $total"),
                cells.size.toLong)
          }
        }
        (None, cells.size.toLong)
      case "facts" =>
        j match {
          case JArray(xs) =>
            if (r.pageSize > 0 && xs.size > r.pageSize)
              (Some(s"facts page of ${xs.size} rows exceeds pagesize ${r.pageSize}"),
                xs.size.toLong)
            else (None, xs.size.toLong)
          case _ => (Some("facts body is not an array"), 0L)
        }
      case "members" | "cell" =>
        j match {
          case JArray(xs) => (None, xs.size.toLong)
          case _          => (Some(s"${r.verb} body is not an array"), 0L)
        }
      case "report" =>
        j match {
          case JObject(fs) => (None, fs.map {
            case (_, JArray(xs)) => xs.size.toLong
            case _               => 1L
          }.sum)
          case _ => (Some("report body is not an object"), 0L)
        }
      case other => (Some(s"unknown verb $other"), 0L)
    }
  }
}

/** Quote-aware CSV splitter (RFC 4180 quoting, as the server writes it). */
object Csv {
  def parse(text: String): Seq[Seq[String]] = {
    val rows = ArrayBuffer.empty[Seq[String]]
    var row = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quoted) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else quoted = false
        } else cur.append(c)
      } else c match {
        case '"'  => quoted = true
        case ','  => row += cur.toString; cur.clear()
        case '\n' => row += cur.toString; cur.clear(); rows += row.toSeq; row = ArrayBuffer.empty
        case '\r' =>
        case _    => cur.append(c)
      }
      i += 1
    }
    if (cur.nonEmpty || row.nonEmpty) { row += cur.toString; rows += row.toSeq }
    rows.toSeq
  }
}

object Load {
  /** Closed loop: `clients` threads, each sending its next request only
    * after the previous one completed, until `seconds` have passed.
    * Requests are taken in stream order; `wrap` restarts the stream when
    * it runs out, otherwise the pass ends early and reports it. Returns
    * the outcomes (requests in flight at the deadline complete and are
    * included), the start and the deadline. */
  def closedLoop(client: Client, reqs: IndexedSeq[Req], clients: Int,
      seconds: Double, wrap: Boolean, checks: Checks)
      : (Seq[Outcome], Long, Long, Boolean) = {
    val next = new AtomicInteger(0)
    val exhausted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val perThread = Array.fill(clients)(ArrayBuffer.empty[Outcome])
    val threads = (0 until clients).map { t =>
      new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          if (i >= reqs.size && !wrap) { exhausted.set(true); go = false }
          else perThread(t) += exchange(client, reqs(i % reqs.size), checks)
        }
      }, s"perfbench-client-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (perThread.toSeq.flatten, start, deadline, exhausted.get)
  }

  /** Sequential pass over `reqs`, stopping early once `seconds` have
    * passed (seconds <= 0: no time limit) or once `enough` holds for the
    * outcomes so far and the seconds elapsed. */
  def sequential(client: Client, reqs: Seq[Req], seconds: Double,
      checks: Checks, enough: (Seq[Outcome], Double) => Boolean = (_, _) => false)
      : (Seq[Outcome], Long, Long) = {
    val start = System.nanoTime()
    val deadline = if (seconds > 0) start + (seconds * 1e9).toLong else Long.MaxValue
    val out = ArrayBuffer.empty[Outcome]
    val it = reqs.iterator
    while (it.hasNext && System.nanoTime() < deadline &&
        !enough(out.toSeq, (System.nanoTime() - start) / 1e9))
      out += exchange(client, it.next(), checks)
    (out.toSeq, start, System.nanoTime())
  }

  def exchange(client: Client, r: Req, checks: Checks): Outcome =
    try {
      val resp = client.send(r)
      val (err, rows) = checks(r, resp)
      Outcome(r, Some(resp), err, rows)
    } catch { case e: Throwable =>
      Outcome(r, None, Some(s"transport: $e"), 0L)
    }
}
