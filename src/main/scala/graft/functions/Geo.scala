package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial scalar functions (SURVEY §2.9 F2–F4, §2.10 support).
  *
  * All are composed from built-in codegen'd expressions — no UDFs — so they stay
  * inside WholeStageCodegen and parquet pushdown keeps working around them.
  *
  * Reference: `inbounds` `/root/reference/thisishappening/utils/data_utils.py:43-46`
  * (closed bbox on both edges); haversine is the distance DBSCAN uses
  * (`cluster_utils.py:24-42`, sklearn haversine on radians × earth radius).
  */
object Geo {

  /** Mean Earth radius (km), matching sklearn/reference usage
    * (`cluster_utils.py:30`: 6371.0088).
    */
  val EarthRadiusKm = 6371.0088

  /** Point-in-bbox, closed on all edges (`data_utils.py:43-46`). */
  def inbounds(lon: Column, lat: Column, west: Double, south: Double, east: Double, north: Double): Column =
    lon >= west && lon <= east && lat >= south && lat <= north

  /** Great-circle distance in km between two lon/lat (degrees) points.
    * 2R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))). [[haversineKmSql]] is
    * the oracle's copy, operation for operation.
    */
  def haversineKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }
  def haversineKmSql(lon1: String, lat1: String, lon2: String, lat2: String): String =
    s"2 * $EarthRadiusKm * asin(sqrt(pow(sin(radians($lat2 - $lat1) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians($lon2 - $lon1) / 2), 2)))"
}
