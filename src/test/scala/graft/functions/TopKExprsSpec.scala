package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, TopKFunctions, TopKIds}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.SparkSpec

/** Pins [[TopKIds]] — the bounded top-k aggregate that replaced q43's
  * sort + row_number + WindowGroupLimit shape — against the window-function
  * reference it must be indistinguishable from: `row_number() OVER
  * (PARTITION BY key ORDER BY score DESC, id ASC) <= k`, including exact
  * tie-breaks, NaN ordering (greater than everything, NaNs mutually equal),
  * and partial/merge equivalence across partitionings.
  */
class TopKExprsSpec extends SparkSpec {

  private val schema = StructType(
    Seq(
      StructField("key", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false),
    ),
  )

  /** Deterministic pseudo-random rows: 40 keys × 50 candidates, with forced
    * exact-tie scores sprinkled in (same score for ids 7/13/21 of each key).
    */
  private def rows: Seq[Row] = for {
    key <- 0L until 40L
    i   <- 0L until 50L
  } yield {
    val tied  = i == 7 || i == 13 || i == 21
    val score = if (tied) 0.5 else math.sin(key * 31.0 + i * 7.0)
    Row(key, score, i)
  }

  test("aggregate matches row_number window reference on ties and ordering") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, schema).repartition(4)

    val expected = df
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy(col("key")).orderBy(col("score").desc, col("id"))),
      )
      .filter(col("rank") <= 3)
      .select(col("key"), col("rank"), col("id"))
      .orderBy(col("key"), col("rank"))
      .collect()
      .toSeq

    val got = df
      .groupBy(col("key"))
      .agg(TopKFunctions.topKIds(col("score"), col("id"), 3).as("top"))
      .select(col("key"), posexplode(col("top")).as(Seq("pos", "id")))
      .select(col("key"), (col("pos") + lit(1)).as("rank"), col("id"))
      .orderBy(col("key"), col("rank"))
      .collect()
      .toSeq

    assert(got == expected)
  }

  test("aggregate equals the row_number window reference on random groups") {
    import scala.jdk.CollectionConverters._
    // Scores are drawn mostly from a few values, so ties are common, and
    // include NaN; a group may hold fewer rows than k, or none at all.
    val score = Gen.frequency(
      5 -> Gen.oneOf(-1.0, 0.0, 0.5, 1.0),
      3 -> Gen.choose(-2.0, 2.0),
      2 -> Gen.const(Double.NaN),
    )
    val cases = for {
      k      <- Gen.choose(1, 5)
      groups <- Gen.choose(1L, 12L)
      rows   <- Gen.choose(0, 80).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0L, groups - 1), score)))
    } yield (k, rows)
    val prop = Prop.forAllNoShrink(cases) { case (k, rows) =>
      // 7919 is prime, so i·7919 mod 1000 gives the rows distinct ids in a shuffled order.
      val data = rows.zipWithIndex.map { case ((g, s), i) => Row(g, s, i * 7919L % 1000L) }
      val df   = spark.createDataFrame(data.asJava, schema).repartition(3)
      val expected = df
        .withColumn("rank", row_number().over(Window.partitionBy(col("key")).orderBy(col("score").desc, col("id"))))
        .filter(col("rank") <= k)
        .select(col("key"), col("rank"), col("id"))
        .orderBy(col("key"), col("rank"))
        .collect()
        .toSeq
      val got = df
        .groupBy(col("key"))
        .agg(TopKFunctions.topKIds(col("score"), col("id"), k).as("top"))
        .select(col("key"), posexplode(col("top")).as(Seq("pos", "id")))
        .select(col("key"), (col("pos") + lit(1)).as("rank"), col("id"))
        .orderBy(col("key"), col("rank"))
        .collect()
        .toSeq
      got == expected
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), prop)
    assert(result.passed, result.status)
  }

  test("NaN scores rank first (Spark double sort order) and tie on id") {
    import scala.jdk.CollectionConverters._
    val nan = Double.NaN
    val data = Seq(
      Row(1L, 0.9, 10L),
      Row(1L, nan, 12L),
      Row(1L, nan, 11L),
      Row(1L, 2.0, 13L),
    )
    val df = spark.createDataFrame(data.asJava, schema)

    val viaWindow = df
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy(col("key")).orderBy(col("score").desc, col("id"))),
      )
      .filter(col("rank") <= 3)
      .orderBy(col("rank"))
      .select(col("id"))
      .collect()
      .map(_.getLong(0))
      .toSeq

    val viaAgg = df
      .groupBy(col("key"))
      .agg(TopKFunctions.topKIds(col("score"), col("id"), 3).as("top"))
      .select(explode(col("top")).as("id"))
      .collect()
      .map(_.getLong(0))
      .toSeq

    assert(viaWindow == Seq(11L, 12L, 13L))
    assert(viaAgg == viaWindow)
  }

  test("buffer insert/merge/serialize keep exactly the k best in rank order") {
    val agg = TopKIds(Bridge.expression(lit(0.0)), Bridge.expression(lit(0L)), 3)

    val b1 = agg.createAggregationBuffer()
    Seq((0.1, 1L), (0.9, 2L), (0.5, 3L), (0.9, 1L), (0.2, 9L)).foreach { case (s, i) =>
      b1.insert(s, i)
    }
    // (0.9,1) beats (0.9,2) on id; (0.5,3) third
    assert(b1.ids.take(b1.n).toSeq == Seq(1L, 2L, 3L))

    val b2 = agg.createAggregationBuffer()
    Seq((0.95, 7L), (0.05, 8L)).foreach { case (s, i) => b2.insert(s, i) }

    val roundTripped = agg.deserialize(agg.serialize(b2))
    assert(roundTripped.ids.take(roundTripped.n).toSeq == Seq(7L, 8L))
    assert(roundTripped.scores.take(roundTripped.n).toSeq == Seq(0.95, 0.05))

    val merged = agg.merge(b1, roundTripped)
    assert(merged.ids.take(merged.n).toSeq == Seq(7L, 1L, 2L))

    // fewer entries than k stays partial, in order
    val b3 = agg.createAggregationBuffer()
    b3.insert(Double.NaN, 5L)
    b3.insert(1.0, 4L)
    assert(b3.ids.take(b3.n).toSeq == Seq(5L, 4L)) // NaN ranks first
  }
}
