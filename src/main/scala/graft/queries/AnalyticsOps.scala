package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{DBSCAN, KDE}
import graft.core.{QuerySpec, Tables}
import graft.functions.Geo
import EventOps.{anchorSql, decayWeight, decayWeightSql, userRank, userRankSql}
import GeoOps.{lat, latSql, lon, lonSql}

/** The reference's analytical kernel re-expressed over the driver testdata:
  * weighted Gaussian KDE on a grid (A8/F5), current-vs-previous-window KDE
  * difference detection (A9) — `/root/reference/thisishappening/utils/
  * data_utils.py:148-227` + `app.py:593-636`.
  *
  * Points are the events table's derived lon/lat (same deterministic
  * derivation GeoOps uses), weighted with the reference's per-user exponential
  * decay (`data_utils.py:91-145`, factor 0.05 — the q16 shape, already
  * hash-verified). Both engines compute the identical closed-form KDE sum, so
  * the oracle is exact up to IEEE fold order — absorbed by ×1e6 scaling and
  * 4-digit rounding.
  */
object AnalyticsOps {

  private val NX = 24
  private val NY = 17
  private val BW = 0.3

  /** Activity points of the 48 h up to the anchor, tagged `c` (current,
    * (anchor−24 h, anchor]) or `p` (previous, (anchor−48 h, anchor−24 h]),
    * each weighted by per-user recency decay *within its own window* (the
    * reference weights each queried activity list independently,
    * `data_utils.py:129-138`): the decay rank partitions by (user_id, tag).
    * q24 takes both windows from this one scan and one window exchange (guide
    * §1.2: don't compute the same input twice). The three uses of the anchor
    * are one value: a literal, or one scalar subquery, run once. q23 filters
    * it to tag `c`; the filter is on a window partition key, so the optimizer
    * pushes it below the window into the time filter and only the 24 h rows
    * are ranked. `tag` is its own step so that it stays a plain partition key.
    */
  private def taggedPoints(s: SparkSession, d: String): DataFrame = {
    val ev     = Tables.events(s, d)
    val anchor = EventOps.anchor(ev)
    ev.filter(col("ts") > anchor - expr("INTERVAL 48 HOURS") && col("ts") <= anchor)
      .withColumn("tag", when(col("ts") > anchor - expr("INTERVAL 24 HOURS"), lit("c")).otherwise(lit("p")))
      .select(col("tag"), lon.as("x"), lat.as("y"), decayWeight(userRank(col("tag"))).as("w"))
  }

  private def pointsSqlCte(tag: String, loHours: Int, hiHours: Int): String =
    s"""pts_$tag AS (
       |  SELECT $lonSql AS x,
       |         $latSql AS y,
       |         ${decayWeightSql(userRankSql)} AS w
       |  FROM events
       |  WHERE ts > $anchorSql - INTERVAL $hiHours HOUR
       |    AND ts <= $anchorSql - INTERVAL $loHours HOUR)""".stripMargin

  /** The KDE of one tag in SQL: the same moments and the same per-cell sums
    * as [[KDE.densityByTag]], computed as a points ⨯ grid cross join grouped
    * by cell. `tag` suffixes the CTE names so two densities can coexist in one
    * oracle query.
    */
  private def densitySqlCtes(tag: String): String =
    s"""sw_$tag AS (SELECT sum(w) AS sw FROM pts_$tag),
       |pn_$tag AS (SELECT x, y, w / (SELECT sw FROM sw_$tag) AS wn FROM pts_$tag),
       |st_$tag AS (SELECT sum(wn*x) AS mx, sum(wn*y) AS my, sum(wn*wn) AS sw2,
       |                   sum(wn*x*x) AS sxx, sum(wn*x*y) AS sxy, sum(wn*y*y) AS syy,
       |                   count(*) AS n
       |            FROM pn_$tag),
       |cv_$tag AS (SELECT n, sw2,
       |                   (sxx - mx*mx) / (1.0 - sw2) * (0.3 * 0.3) AS kxx,
       |                   (sxy - mx*my) / (1.0 - sw2) * (0.3 * 0.3) AS kxy,
       |                   (syy - my*my) / (1.0 - sw2) * (0.3 * 0.3) AS kyy
       |            FROM st_$tag),
       |dt_$tag AS (SELECT n, sw2, kxx, kxy, kyy, kxx*kyy - kxy*kxy AS det FROM cv_$tag),
       |iv_$tag AS (SELECT n, sw2, det,
       |                   kyy/det AS ixx, kxx/det AS iyy, -kxy/det AS ixy,
       |                   1.0 / (2.0 * pi() * sqrt(det)) AS nc,
       |                   (n >= 2 AND sw2 < 1.0 AND det > 0.0) AS valid
       |            FROM dt_$tag),
       |z_$tag AS (
       |  SELECT g.cell_x, g.cell_y,
       |         CASE WHEN bool_and(iv.valid)
       |              THEN sum(p.wn * exp(-0.5 * (
       |                     (g.gx - p.x)*(g.gx - p.x)*iv.ixx +
       |                     2.0*(g.gx - p.x)*(g.gy - p.y)*iv.ixy +
       |                     (g.gy - p.y)*(g.gy - p.y)*iv.iyy))) * min(iv.nc)
       |              ELSE 0.0 END AS z
       |  FROM pn_$tag p CROSS JOIN grid g CROSS JOIN iv_$tag iv
       |  GROUP BY g.cell_x, g.cell_y)""".stripMargin

  private val gridSqlCte =
    s"""grid AS (SELECT gx.i AS cell_x, gy.j AS cell_y,
       |                -180.0 + gx.i * (360.0 / ${NX - 1}) AS gx,
       |                90.0 - gy.j * (180.0 / ${NY - 1}) AS gy
       |         FROM range(0, $NX) gx(i) CROSS JOIN range(0, $NY) gy(j))""".stripMargin

  private val grid = KDE.Grid(-180.0, 180.0, -90.0, 90.0, NX, NY)

  /** The density `z` in parts per million of probability density, rounded to
    * 4 digits, so the hash compare sees identical doubles despite fold-order
    * divergence. [[zPpmSql]] is the oracle's copy.
    */
  private val zPpm: Column = round(col("z") * lit(1000000.0), 4)
  private val zPpmSql      = "round(z * 1000000.0, 4)"

  /** A8/F5: weighted Gaussian KDE of the trailing-24 h activity on the grid,
    * in [[zPpm]].
    */
  val qKdeDensity: QuerySpec = QuerySpec(
    "q23_kde_density",
    (s, d) =>
      KDE
        .densityByTag(taggedPoints(s, d).filter(col("tag") === "c"), grid, BW)
        .select(col("cell_x"), col("cell_y"), zPpm.as("z_ppm"))
        .transform(Tables.sortedInOne(_, col("cell_x"), col("cell_y"))),
    Some(s"""
      WITH ${pointsSqlCte("c", 0, 24)},
      $gridSqlCte,
      ${densitySqlCtes("c")}
      SELECT cell_x, cell_y, $zPpmSql AS z_ppm
      FROM z_c
      ORDER BY cell_x, cell_y
    """.stripMargin.trim),
  )

  /** A9: KDE difference between the current (0,24] h and previous (24,48] h
    * windows; a cell "fires" where the density increase exceeds the threshold
    * (`data_utils.py:225-227`, `app.py:617-620`).
    *
    * Each density is rounded to [[zPpm]] FIRST (exactly the q23
    * contract, which hash-matches) and the diff is taken over the rounded
    * values — diffing the raw sums amplified fold-order ULP divergence between
    * engines into the last rounded digit in round 2 (hash_match=false). The
    * diff of two 4-digit decimals re-rounds once more to kill binary
    * representation noise of the subtraction itself.
    */
  val qKdeDiff: QuerySpec = QuerySpec(
    "q24_kde_diff",
    (s, d) => {
      // One fused pass over both windows (see taggedPoints/densityByTag),
      // pivoted back to (zc, zp) with a single-reference conditional
      // aggregate. NOT a tag-filtered self-join: filters on the groupBy key
      // push through the aggregates into the point pipeline, splitting the
      // shared subtree into per-tag copies and re-executing the scan + window
      // per branch (measured: a 188-node plan slower than the unfused
      // original). Each (tag, cell) exists at most once in `dens`, so
      // max(when(tag=…)) selects that tag's z exactly. The isNotNull guard
      // reproduces the old zc⋈zp INNER join: a tag produces rows (for all
      // cells at once) iff its window has ≥1 point, so "cell missing a tag"
      // ≡ "that window is empty" ≡ the join would have dropped every row.
      // At most 2·nx·ny (tag, cell) rows at any scale: sorted in one
      // partition, with no range exchange and no sampling job. The pivot
      // runs in that partition too, with no hash exchange.
      KDE
        .densityByTag(taggedPoints(s, d), grid, BW)
        .coalesce(1)
        .groupBy(col("cell_x"), col("cell_y"))
        .agg(
          max(when(col("tag") === "c", zPpm)).as("zc"),
          max(when(col("tag") === "p", zPpm)).as("zp"),
        )
        .filter(col("zc").isNotNull && col("zp").isNotNull)
        .select(
          col("cell_x"),
          col("cell_y"),
          round(col("zc") - col("zp"), 4).as("z_diff_ppm"),
        )
        .withColumn("fired", col("z_diff_ppm") > 5.0)
        .orderBy(col("cell_x"), col("cell_y"))
    },
    Some(s"""
      WITH ${pointsSqlCte("c", 0, 24)},
      ${pointsSqlCte("p", 24, 48)},
      $gridSqlCte,
      ${densitySqlCtes("c")},
      ${densitySqlCtes("p")},
      rc AS (SELECT cell_x, cell_y, $zPpmSql AS zc FROM z_c),
      rp AS (SELECT cell_x, cell_y, $zPpmSql AS zp FROM z_p)
      SELECT rc.cell_x, rc.cell_y,
             round(rc.zc - rp.zp, 4) AS z_diff_ppm,
             round(rc.zc - rp.zp, 4) > 5.0 AS fired
      FROM rc JOIN rp ON rc.cell_x = rp.cell_x AND rc.cell_y = rp.cell_y
      ORDER BY rc.cell_x, rc.cell_y
    """.stripMargin.trim),
  )

  /** C1/A10: weighted haversine DBSCAN over the bbox-restricted derived
    * points. eps = 300 km, weighted core threshold 3.0, cluster label = min
    * event_id in the component, −1 = noise. The oracle replays the identical
    * deterministic algorithm in SQL: same cell-bucketed eps graph, weighted
    * core filter, and a recursive min-label transitive closure for connected
    * components.
    */
  val qDbscan: QuerySpec = QuerySpec(
    "q25_dbscan_clusters",
    (s, d) => {
      val pts = Tables
        .events(s, d)
        .filter(Geo.inbounds(lon, lat, -30.0, -30.0, 30.0, 30.0))
        .select(col("event_id").as("id"), lon.as("x"), lat.as("y"), decayWeight(userRank()).as("w"))
      DBSCAN
        .cluster(pts, epsKm = 300.0, minWeight = 3.0, cellDeg = 4.0)
        .select(col("id").as("event_id"), col("cluster_label"))
        .orderBy(col("event_id"))
    },
    Some(s"""
      WITH RECURSIVE
      bpts AS (
        SELECT event_id AS id, x, y,
               ${decayWeightSql(userRankSql)} AS w,
               CAST(floor(x / 4.0) AS BIGINT) AS cx,
               CAST(floor(y / 4.0) AS BIGINT) AS cy
        FROM (SELECT event_id, user_id, ts,
                     $lonSql AS x,
                     $latSql AS y
              FROM events)
        WHERE x >= -30.0 AND x <= 30.0 AND y >= -30.0 AND y <= 30.0),
      edges AS (
        SELECT a.id AS a, b.id AS b, b.w AS bw
        FROM bpts a JOIN bpts b
          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         AND a.id <> b.id
         AND ${Geo.haversineKmSql("a.x", "a.y", "b.x", "b.y")} <= 300.0),
      nbrw AS (SELECT a AS id, sum(bw) AS nw FROM edges GROUP BY a),
      cores AS (
        SELECT p.id FROM bpts p LEFT JOIN nbrw n ON n.id = p.id
        WHERE p.w + COALESCE(n.nw, 0.0) >= 3.0),
      cedges AS (
        SELECT e.a, e.b FROM edges e
        WHERE e.a IN (SELECT id FROM cores) AND e.b IN (SELECT id FROM cores)),
      comp(id, lbl) AS (
        SELECT id, id AS lbl FROM cores
        UNION
        SELECT e.b AS id, c.lbl FROM comp c JOIN cedges e ON e.a = c.id),
      clab AS (SELECT id, min(lbl) AS lbl FROM comp GROUP BY id),
      border AS (
        SELECT e.a AS id, min(c.lbl) AS lbl
        FROM edges e JOIN clab c ON c.id = e.b
        WHERE e.a NOT IN (SELECT id FROM cores)
        GROUP BY e.a)
      SELECT p.id AS event_id,
             COALESCE(cl.lbl, bl.lbl, -1) AS cluster_label
      FROM bpts p
      LEFT JOIN clab cl ON cl.id = p.id
      LEFT JOIN border bl ON bl.id = p.id
      ORDER BY event_id
    """.stripMargin.trim),
  )

  val all: Seq[QuerySpec] = Seq(qKdeDensity, qKdeDiff, qDbscan)
}
