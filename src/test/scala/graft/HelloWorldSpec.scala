package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cells.{Cell, PointCut}
import graft.workspace.Workspace

/** The hello_world tutorial shape, end-to-end through graft: a
  * `model.json` with bare-column mappings, an expression measure and an
  * expression aggregate over a positional `data.csv`, running the
  * tutorial's queries — summary, drilldown by item, point-cut slice +
  * drilldown. The fixture (src/test/resources/hello_world) is a
  * hand-written 16-row balance sheet; the golden values below are its
  * sums, computed by hand from the CSV:
  *   - a Assets 6 rows 925, e Equity 6 rows 190, l Liabilities 4 rows 465
  *     — total 16 rows, 1580 (double 3160);
  *   - within e: cs 2 rows 80, oe 2 rows -20, re 2 rows 130. */
class HelloWorldSpec extends AnyFunSuite {

  private def resource(name: String): String =
    new java.io.File(getClass.getResource(s"/hello_world/$name").toURI).getPath

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** data.csv loaded the way the tutorial's prepare_data.py does it:
    * columns are renamed POSITIONALLY onto the model's physical names. */
  private lazy val fact = {
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(resource("data.csv"))
    val names = Seq("category", "category_label", "subcategory",
      "subcategory_label", "line_item", "year", "amount")
    raw.toDF(names: _*)
  }

  private lazy val browser = {
    val modelJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(resource("model.json"))), "UTF-8")
    val ws = new Workspace(spark).importModel(modelJson)
      .registerTable("irbd_balance", fact)
    ws.browser("irbd_balance")
  }

  // exact-decimal sums surface as BigDecimal; counts as Long
  private def num(r: org.apache.spark.sql.Row, c: String): Long =
    r.getAs[Number](c).longValue()

  test("summary: record count, amount sum, expression-aggregate double sum") {
    val row = browser.aggregate(includeSummary = true).summary.get.collect().head
    assert(num(row, "record_count") == 16L)
    assert(num(row, "amount_sum") == 1580L)
    assert(num(row, "double_amount_sum") == 3160L)
  }

  test("drilldown by item: the tutorial's category table") {
    val cells = browser.aggregate(drilldown = Seq("item")).cells
      .orderBy(col("`item.category`")).collect()
    val got = cells.map(r => (
      r.getAs[String]("item.category"),
      r.getAs[String]("item.category_label"),
      num(r, "record_count"), num(r, "amount_sum"),
      num(r, "double_amount_sum")))
    assert(got.toSeq == Seq(
      ("a", "Assets", 6L, 925L, 1850L),
      ("e", "Equity", 6L, 190L, 380L),
      ("l", "Liabilities", 4L, 465L, 930L)))
  }

  test("slice Category = Equity, drill to subcategory") {
    val cell = Cell(PointCut("item", Seq("e")))
    val cells = browser.aggregate(cell, drilldown = Seq("item")).cells
      .orderBy(col("`item.subcategory`")).collect()
    val got = cells.map(r => (
      r.getAs[String]("item.subcategory"),
      r.getAs[String]("item.subcategory_label"),
      num(r, "record_count"), num(r, "amount_sum")))
    assert(got.toSeq == Seq(
      ("cs", "Capital Stock", 2L, 80L),
      ("oe", "Other", 2L, -20L),
      ("re", "Retained Earnings", 2L, 130L)))
  }
}
