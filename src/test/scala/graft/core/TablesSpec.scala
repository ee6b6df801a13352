package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec

/** The schema registry of [[Tables]]: one schema per session and path, equal
  * to the inferred one; a registered path builds handles with no job; the
  * file listing still runs per handle; and the nano-epoch `ts` branch of
  * [[Tables.events]] on the first and on a registered handle.
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
}
