package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TopKFunctions.topKIds
import org.apache.spark.sql.graftbridge.VectorFunctions.vecDot

import graft.analytics.{DBSCAN, KDE}
import graft.core.Tables
import graft.functions.Geo

/** Timed direct calls into the layers below the queries: the table scans,
  * the KDE kernel, both DBSCAN paths and the custom column functions. Each
  * probe runs once untimed, then reports the median of its timed reps. The
  * two cross-checks compare layer entry points that must agree.
  */
final class Layers(spark: SparkSession, data: String, seed: Long) {

  private val Reps = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def medianMs(reps: Int)(f: => Unit): Double = {
    f
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(ts.size / 2)
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist()
    (c, c.count())
  }

  def all(): Map[String, Any] = {
    val out = scans() ++ kde() ++ dbscan() ++ functions()
    spark.catalog.clearCache()
    out
  }

  private def scans(): Map[String, Any] = Map(
    "scan.events_ms"     -> medianMs(5)(noop(Tables.events(spark, data))),
    "scan.lineitem_ms"   -> medianMs(5)(noop(Tables.lineitem(spark, data))),
    "scan.documents_ms"  -> medianMs(5)(noop(Tables.documents(spark, data))),
    "scan.embeddings_ms" -> medianMs(5)(noop(Tables.embeddings(spark, data))),
  )

  /** Both activity windows of q24, tagged `c`/`p` and decay-weighted per
    * (user, window), built as q24 builds its input.
    */
  private def taggedPoints(): DataFrame = {
    val ev     = Tables.events(spark, data)
    val anchor = ev.agg(max(col("ts")).as("anchor"))
    ev.crossJoin(broadcast(anchor))
      .filter(col("ts") > col("anchor") - expr("INTERVAL 48 HOURS") && col("ts") <= col("anchor"))
      .withColumn(
        "tag",
        when(col("ts") > col("anchor") - expr("INTERVAL 24 HOURS"), lit("c")).otherwise(lit("p")),
      )
      .withColumn("x", col("value") % 360.0 - 180.0)
      .withColumn("y", (col("user_id") % 180 - 90).cast("double"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("user_id"), col("tag")).orderBy(col("ts"), col("event_id"))),
      )
      .select(col("tag"), col("x"), col("y"), (lit(1.0) / exp((col("rn") - lit(1)) * lit(0.05))).as("w"))
  }

  private def kde(): Map[String, Any] = {
    val grid        = KDE.grid(spark, -180.0, 180.0, -90.0, 90.0, 24, 17)
    val cells       = 24 * 17
    val (pts, n)    = cached(taggedPoints())
    val ms          = medianMs(Reps)(noop(KDE.densityByTag(pts, grid, 0.3)))
    val (cur, _)    = cached(pts.filter(col("tag") === "c"))
    def z(df: DataFrame): Map[(Long, Long), Double] =
      df.select("cell_x", "cell_y", "z").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val one  = z(KDE.density(cur.select("x", "y", "w"), grid, 0.3))
    val byTag = z(KDE.densityByTag(cur, grid, 0.3))
    val diff = relDiff(one, byTag)
    Map(
      "kde.points" -> n, "kde.cells" -> cells, "kde.density_ms" -> ms,
      "kde.evals_per_s" -> n * cells / (ms / 1e3),
      "check.kde_one_tag_max_rel_diff" -> diff,
      "check.kde_one_tag_equals_density" -> (one.keySet == byTag.keySet && diff <= 1e-9),
    )
  }

  private def relDiff(a: Map[(Long, Long), Double], b: Map[(Long, Long), Double]): Double =
    a.keys.filter(b.contains).map { k =>
      val (x, y) = (a(k), b(k))
      if (x == y) 0.0 else math.abs(x - y) / math.max(math.abs(x), math.abs(y))
    }.maxOption.getOrElse(0.0)

  /** The bbox points of q25, decay-weighted per user, built as q25 builds them. */
  private def dbscanPoints(): DataFrame =
    Tables.events(spark, data)
      .withColumn("x", col("value") % 360.0 - 180.0)
      .withColumn("y", (col("user_id") % 180 - 90).cast("double"))
      .filter(col("x") >= -30.0 && col("x") <= 30.0 && col("y") >= -30.0 && col("y") <= 30.0)
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .select(col("event_id").as("id"), col("x"), col("y"), (lit(1.0) / exp((col("rn") - lit(1)) * lit(0.05))).as("w"))

  private def dbscan(): Map[String, Any] = {
    val (pts, n) = cached(dbscanPoints())
    def run(threshold: Int): DataFrame =
      DBSCAN.cluster(pts, epsKm = 300.0, minWeight = 3.0, cellDeg = 4.0, smallThreshold = threshold)
    def labels(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Number]("cluster_label").longValue)).sortBy(_._1).toSeq
    val localMs = medianMs(Reps)(noop(run(DBSCAN.SmallInputThreshold)))
    val local   = labels(run(DBSCAN.SmallInputThreshold))
    // One run of the distributed path (about 10 s here), timed and checked.
    val t0          = System.nanoTime()
    val distributed = labels(run(0))
    val distMs      = (System.nanoTime() - t0) / 1e6
    Map(
      "dbscan.points" -> n, "dbscan.local_ms" -> localMs, "dbscan.distributed_ms" -> distMs,
      "check.dbscan_distributed_equals_local" -> (local == distributed),
    )
  }

  private def functions(): Map[String, Any] = {
    val nVec = 2000
    val (vecs, _) = cached(
      spark.range(nVec).select(col("id"), array((0 until 64).map(j => randn(seed * 64 + j)): _*).as("v")),
    )
    val dotMs = medianMs(Reps) {
      vecs.as("a").crossJoin(vecs.as("b")).select(sum(vecDot(col("a.v"), col("b.v")))).collect()
    }
    val nRows = 2000000L
    val (scored, _) = cached(
      spark.range(nRows).select((col("id") % 1000).as("g"), rand(seed).as("s"), col("id")),
    )
    val topMs = medianMs(Reps)(noop(scored.groupBy(col("g")).agg(topKIds(col("s"), col("id"), 10).as("ids"))))
    val (lonLat, _) = cached(
      spark.range(nRows).select((rand(seed) * 360.0 - 180.0).as("lon"), (rand(seed + 1) * 180.0 - 90.0).as("lat")),
    )
    val geoMs = medianMs(Reps) {
      lonLat.select(sum(Geo.haversineKm(lit(0.0), lit(0.0), col("lon"), col("lat")))).collect()
    }
    Map(
      "vecdot.pairs_per_s" -> nVec.toDouble * nVec / (dotMs / 1e3),
      "topk.rows_per_s" -> nRows / (topMs / 1e3),
      "geo.haversine_rows_per_s" -> nRows / (geoMs / 1e3),
    )
  }
}
