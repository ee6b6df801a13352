package graft.core

import java.nio.file.{Files, Path}
import java.nio.file.StandardCopyOption.REPLACE_EXISTING
import java.util.Comparator

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr, lit, max, timestamp_micros}
import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec

/** The schema registry of [[Tables]]: one schema per session and path, equal
  * to the inferred one; a registered path builds handles with no job; the
  * file listing still runs per handle; and the nano-epoch `ts` branch of
  * [[Tables.events]] on the first and on a registered handle. The window
  * anchor read from the footers ([[Tables.newestTs]]) equals `max(ts)` as
  * files are appended and rewritten.
  */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  private val sf     = new java.io.File(sfDir).getParent + "/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  private def jobs(body: => Unit): Int = TestListenerBus.jobs(spark.sparkContext)(body)

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir.toString)
    finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }

  test("the registered schema of each table equals the inferred one") {
    for (t <- tables) {
      val path     = s"$sf/$t.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(Tables.schema(spark, path) == inferred, t)
      assert(Tables.table(spark, sf, t).schema == inferred, t)
    }
  }

  test("a registered table builds its handle with no job; a new session registers its own") {
    Tables.events(spark, sf)
    assert(jobs(Tables.events(spark, sf)) == 0)
    val other = spark.newSession()
    assert(jobs(Tables.events(other, sf)) == 1, "a new session infers the schema once")
    assert(jobs(Tables.events(other, sf)) == 0)
  }

  test("each handle lists the files, so an appended part file is read by the next handle") {
    withTempDir { dir =>
      val path = s"$dir/t.parquet"
      (1L to 10L).toDF("id").write.parquet(path)
      assert(Tables.table(spark, dir, "t").count() == 10)
      (11L to 15L).toDF("id").write.mode("append").parquet(path)
      assert(Tables.table(spark, dir, "t").count() == 15)
    }
  }

  test("events with a nano-epoch Long ts convert it to timestamp_micros(ts div 1000)") {
    withTempDir { dir =>
      val path = s"$dir/events.parquet"
      Seq((1L, 1700000000123456000L), (2L, 0L), (3L, -86400000001000L), (4L, 1650410002999999000L))
        .toDF("event_id", "ts").write.parquet(path)
      val expected = spark.read.parquet(path)
        .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"))
        .orderBy("event_id").collect().toSeq
      for (handle <- Seq("first", "registered")) {
        val ev = Tables.events(spark, dir)
        assert(ev.schema("ts").dataType == TimestampType, handle)
        assert(ev.select("event_id", "ts").orderBy("event_id").collect().toSeq == expected, handle)
      }
    }
  }

  /** The footer anchor of the events table in `dir`, which must be read from
    * the footers, as one row of the events handle's `ts` type.
    */
  private def footerAnchor(dir: String): Row = {
    val newest = Tables.newestTs(Tables.events(spark, dir))
    assert(newest.isDefined, s"no footer anchor in $dir")
    spark.range(1).select(newest.get.as("ts")).head()
  }

  private def assertAnchorIsMax(dir: String): Unit = {
    val newest = footerAnchor(dir)
    val scanned = Tables.events(spark, dir).agg(max(col("ts")).as("ts")).head()
    assert(newest == scanned)
    assert(newest.schema.head.dataType == scanned.schema.head.dataType)
  }

  test("the footer anchor equals max(ts) at sf0.01, after an appended part file and a part whose ts is all NULL") {
    assertAnchorIsMax(sf)
    withTempDir { dir =>
      val path   = s"$dir/events.parquet"
      val ev     = Tables.events(spark, sf)
      val middle = ev.orderBy(col("ts")).select(col("ts")).offset((ev.count() / 2).toInt).head().get(0)
      ev.filter(col("ts") < lit(middle)).write.parquet(path)
      assertAnchorIsMax(dir)
      val before = footerAnchor(dir)
      ev.filter(col("ts") >= lit(middle)).write.mode("append").parquet(path)
      assertAnchorIsMax(dir)
      assert(footerAnchor(dir) != before, "the appended part holds the newest rows")
      ev.limit(5).withColumn("ts", lit(null).cast(ev.schema("ts").dataType)).write.mode("append").parquet(path)
      assertAnchorIsMax(dir)
    }
  }

  test("the footer anchor of a nano-epoch Long ts equals max(timestamp_micros(ts div 1000))") {
    withTempDir { dir =>
      Seq((1L, 1700000000123456789L), (2L, 0L), (3L, -86400000001000L))
        .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
      assertAnchorIsMax(dir)
      assert(footerAnchor(dir).schema.head.dataType == TimestampType)
    }
  }

  test("a part file rewritten in place with a different length is read again") {
    withTempDir { dir =>
      val path = s"$dir/events.parquet"
      val ev   = Tables.events(spark, sf).orderBy(col("ts"))
      ev.limit(10).coalesce(1).write.parquet(path)
      val before = footerAnchor(dir)
      ev.coalesce(1).write.parquet(s"$dir/staged.parquet")
      val part   = Files.list(Path.of(path)).filter(_.getFileName.toString.startsWith("part-")).findFirst().get
      val staged = Files.list(Path.of(s"$dir/staged.parquet")).filter(_.getFileName.toString.startsWith("part-")).findFirst().get
      // Its checksum file would no longer match the new bytes.
      Files.delete(part.resolveSibling(s".${part.getFileName}.crc"))
      Files.copy(staged, part, REPLACE_EXISTING)
      assertAnchorIsMax(dir)
      assert(footerAnchor(dir) != before, "the rewritten part holds newer rows")
    }
  }

  test("a timestamp before the calendar switch is left to the scan") {
    withTempDir { dir =>
      val legacy = spark.newSession()
      legacy.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
      legacy.sql("SELECT 1L AS event_id, TIMESTAMP '1500-01-01 00:00:00' AS ts").write.parquet(s"$dir/events.parquet")
      assert(Tables.newestTs(Tables.events(spark, dir)).isEmpty)
    }
  }
}
