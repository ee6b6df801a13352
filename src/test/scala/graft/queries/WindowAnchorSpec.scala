package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}
import graft.core.Tables

/** The five windowed event queries on crafted `events` tables: an empty one,
  * whose window anchor is `NULL`, one with a single row, whose windows hold
  * that row or nothing, and one with a part file that has no `ts`
  * statistics, whose anchor falls back to a scalar subquery.
  */
class WindowAnchorSpec extends SparkSpec {

  private val sf = new java.io.File(sfDir).getParent + "/sf0.01"

  /** Writes `rows` of sf0.01's events as `events.parquet` in a temp dir and
    * runs `body` on that dir.
    */
  private def withEvents(rows: DataFrame => DataFrame)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("window-anchor-spec")
    try {
      rows(Tables.events(spark, sf)).write.parquet(s"$dir/events.parquet")
      body(dir.toString)
    } finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }

  private def run(name: String, dir: String): Array[Row] = SparkEntry.queries(name)(spark, dir).collect()

  private val windowed = Seq("q10_recent_events", "q11_count_events_window", "q15_retention_cutoff", "q23_kde_density", "q24_kde_diff")

  /** The windowed queries whose analyzed plan on the events table in `dir`
    * holds a scalar subquery.
    */
  private def subqueried(dir: String): Seq[String] = windowed.filter { name =>
    SparkEntry.queries(name)(spark, dir).queryExecution.analyzed
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalarSubquery])))
  }

  test("an empty events table gives no rows in q10, q11, q15, q23 and q24") {
    withEvents(_.limit(0)) { dir =>
      for (name <- windowed)
        assert(run(name, dir).isEmpty, name)
    }
  }

  test("a one-row events table: q10, q11 and q15 give 1 row, q23 z = 0 on every cell, q24 no row") {
    // A click, so q10's type filter keeps it too.
    withEvents(_.filter(col("event_type") === "click").orderBy(col("event_id")).limit(1)) { dir =>
      for (name <- Seq("q10_recent_events", "q11_count_events_window", "q15_retention_cutoff"))
        assert(run(name, dir).length == 1, name)
      // One point has no covariance, so every cell of q23's 24 × 17 grid is 0.
      val q23 = run("q23_kde_density", dir)
      assert(q23.length == 24 * 17 && q23.forall(_.getAs[Double]("z_ppm") == 0.0))
      // The previous window is empty, so no cell has both densities.
      assert(run("q24_kde_diff", dir).isEmpty)
    }
  }

  test("a part file without ts statistics keeps the anchor's scalar subquery; with them no windowed query has one") {
    assert(subqueried(sf).isEmpty)
    withEvents(_.filter(col("event_id") % 2 === 0)) { dir =>
      assert(subqueried(dir).isEmpty)
      Tables.events(spark, sf).filter(col("event_id") % 2 === 1).write.mode("append")
        .option("parquet.column.statistics.enabled", "false").parquet(s"$dir/events.parquet")
      assert(subqueried(dir) == windowed)
      for (name <- Seq("q10_recent_events", "q11_count_events_window", "q15_retention_cutoff"))
        assert(run(name, dir).toSeq == run(name, sf).toSeq, name)
    }
  }
}
