package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The bench's compact summary line must be recoverable from the last
  * 2000 characters of `sbt runMain graft.Bench` output, where sbt prefixes
  * every stdout line with `[info] ` and appends its own `[success]` line. */
class BenchSpec extends AnyFunSuite {

  test("compact summary line is extracted from a 2000-char sbt tail and parses") {
    // a heavy but realistic run: 378 queries, four passes (one dropped),
    // more failures than the ten-name head keeps
    val failed = (1 to 12).map(i => f"q$i%03d_catalog_query_with_a_long_name")
    val line = Bench.compactSummary(215.8123, "/data/tpch/sf0.1", 378, 3,
      "BENCH_local.json", "", Seq(1.9012, 2.0034, 2.1456),
      Seq(215.8123, 220.1, 230.4, 219.9), failed, Seq(4), 4,
      """{"prev_found":true,"same":370,"new_queries":0,"changed_n":8,"strict_changed_n":21}""")
    assert(line.length < 1500, s"compact line is ${line.length} chars")
    val noise = (1 to 300).map(i => s"[info] [bench] q$i%03d pass 3: 0.5120 s")
    val output = (noise :+ s"[info] $line" :+
      "[success] Total time: 231 s (03:51), completed Oct 17, 2026, 2:10:00 PM")
      .mkString("", "\n", "\n")
    val tail = output.takeRight(2000)
    // the raw tail line is not JSON: the sbt prefix must be stripped
    assert(tail.linesIterator.exists(_.startsWith("[info] {\"metric\"")))
    val json = parse(Bench.summaryLine(tail).getOrElse(fail("no summary line in the tail")))
    assert(json \ "metric" == JString("total"))
    assert(json \ "unit" == JString("sec"))
    assert(json \ "value" == JDouble(215.8123))
    assert(json \ "n_queries" == JInt(378))
    assert(json \ "n_failed" == JInt(12))
    assert((json \ "failed_head").asInstanceOf[JArray].arr.size == 10)
    assert(json \ "run_totals_sec" == JArray(List(215.8123, 220.1, 230.4, 219.9)
      .map(JDouble(_))))
    assert(json \ "plan_fp_diff" \ "changed_n" == JInt(8))
  }

  test("summaryLine takes the last summary and ignores other JSON lines") {
    val out = "[info] {\"metric\":\"total\",\"value\":1.0}\n" +
      "[info] {\"queries\":{}}\n[info] {\"metric\":\"total\",\"value\":2.0}\n[success] done\n"
    assert(Bench.summaryLine(out).contains("{\"metric\":\"total\",\"value\":2.0}"))
    assert(Bench.summaryLine("[info] no json here\n").isEmpty)
  }
}
