package graft.materialize

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.browser.Browser
import graft.cells.Cell

/** Materialization: denormalized star views and pre-aggregated cuboid
  * tables (reference `sql/store.py:294-371` denormalize, `:549-628`
  * pre-aggregation, `:422-500` conformed-dimension extraction; CLI
  * `slicer sql denormalize|aggregate`).
  *
  * On Spark the natural sinks are parquet tables (`saveAsTable` /
  * `parquet(path)`) or temp views. For the 100 TB case, write the
  * denormalized view partitioned by a coarse, low-cardinality, frequently
  * cut dimension (e.g. year) so later browses prune partitions at the
  * file-listing level — the Spark analogue of the reference's per-key
  * indexes on the materialized view. */
object Materialize {

  /** Denormalized view: every cube attribute as a flat column (S4). */
  def denormalized(browser: Browser): DataFrame =
    browser.projectedFrame(browser.cube.allAttributes.keys.toSeq.sorted,
      includeFactKey = true)

  /** Register the denormalized star as a (temp) view for join-free
    * browsing; `materialize=true` in the reference maps to writing
    * parquet instead. */
  def createView(browser: Browser, name: String): Unit =
    denormalized(browser).createOrReplaceTempView(name)

  def writeDenormalized(browser: Browser, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val df = denormalized(browser)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Pre-aggregated cuboid at the full drilldown grain of the chosen
    * dimensions (S5): the reference materializes exactly one cuboid; pass
    * `allCuboids=true` to materialize the whole lattice via CUBE in one
    * pass instead (Catalyst-native, one shuffle). */
  def preAggregate(
      browser: Browser,
      drilldown: Seq[String],
      aggregates: Seq[String],
      path: String,
      cell: Cell = Cell.empty,
      allCuboids: Boolean = false
  ): Unit = {
    val df =
      if (allCuboids)
        browser.aggregateCuboids(cell, drilldown, aggregates, kind = "cube")
      else
        browser.aggregate(cell, drilldown, aggregates).cells
    df.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Conformed rollup dimension extraction (S6 — unfinished in the
    * reference, `sql/store.py:422-500` raises NotImplementedError; here it
    * is just distinct level attributes). */
  def extractDimension(browser: Browser, dimName: String, path: String): Unit =
    browser.members(Cell.empty, dimName)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed table for co-located joins: two tables bucketed (and
    * sorted) on their join key by the same bucket count join with NO
    * exchange — the shuffle is paid once at write time, amortized over
    * every later browse. This is the 100 TB answer for repeated
    * fact-to-fact joins (e.g. lineitem⋈orders); star dimension joins
    * stay broadcast instead. */
  def bucketize(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
