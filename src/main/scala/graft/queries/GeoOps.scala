package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{QuerySpec, Tables}
import graft.functions.Geo

/** Geospatial query surface (SURVEY §2.9 F2/F4, §2.2 P5 bbox leg) over synthetic
  * coordinates derived deterministically from the events table: the driver's
  * testdata has no lon/lat, so both sides (Spark and the DuckDB oracle) derive
  * identical coordinates from `value` / `user_id` and the distance math is
  * verified end-to-end.
  */
object GeoOps {

  /** An event's derived longitude and latitude, lon ∈ [-180, 180) and
    * lat ∈ [-90, 60] — plain arithmetic, bit-identical in Spark and DuckDB
    * (both are IEEE fmod / integer mod on the same inputs). [[lonSql]] and
    * [[latSql]] are the oracle's copies.
    */
  private[graft] val lon: Column = col("value") % 360.0 - 180.0
  private[graft] val lat: Column = (col("user_id") % 180 - 90).cast("double")
  private[queries] val lonSql = "value % 360.0 - 180.0"
  private[queries] val latSql = "CAST(user_id % 180 - 90 AS DOUBLE)"

  /** F2/P5: closed-bbox containment filter (`data_utils.py:43-46`) + count per
    * type. The bbox predicate is pure column arithmetic → pushed into the scan.
    */
  val qInbounds: QuerySpec = QuerySpec(
    "q21_bbox_filter",
    (s, d) =>
      Tables
        .events(s, d)
        .filter(Geo.inbounds(lon, lat, -50.0, -30.0, 50.0, 30.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .transform(Tables.sortedInOne(_, col("event_type"))),
    Some(s"""
      SELECT event_type, count(*) AS n
      FROM (SELECT event_type,
                   $lonSql AS lon,
                   $latSql AS lat
            FROM events)
      WHERE lon >= -50.0 AND lon <= 50.0 AND lat >= -30.0 AND lat <= 30.0
      GROUP BY event_type
      ORDER BY event_type
    """.stripMargin.trim),
  )

  /** F4/C1 support: haversine distance from the origin for every point,
    * composed entirely from codegen'd trig builtins (no UDF).
    */
  val qHaversine: QuerySpec = QuerySpec(
    "q22_haversine_km",
    (s, d) =>
      Tables
        .events(s, d)
        .select(col("event_id"), round(Geo.haversineKm(lit(0.0), lit(0.0), lon, lat), 3).as("dist_km"))
        .orderBy(col("event_id"))
        .limit(2000),
    Some(s"""
      SELECT event_id,
             round(${Geo.haversineKmSql("0.0", "0.0", "lon", "lat")}, 3) AS dist_km
      FROM (SELECT event_id,
                   $lonSql AS lon,
                   $latSql AS lat
            FROM events)
      ORDER BY event_id
      LIMIT 2000
    """.stripMargin.trim),
  )

  val all: Seq[QuerySpec] = Seq(qInbounds, qHaversine)
}
