package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QuerySpec, Tables}

/** The reference's relational query surface (SURVEY §2.3, §2.5, §2.6) re-expressed
  * over the driver's `events` stream table.
  *
  * Reference semantics carried over:
  *  - time windows are anchored at the newest row's event time, not wall clock
  *    (`/root/reference/thisishappening/app.py:401-447`) — here the anchor is a
  *    literal read from the parquet footers, or a scalar subquery where they
  *    lack the statistics, never a driver-side collect;
  *  - `event_type IN (...) OR event_type IS NULL` filter shape
  *    (`data_base.py:109-113`);
  *  - keep-newest-N retention (`data_base.py:464-482`) becomes
  *    `TakeOrderedAndProject` (per-partition top-k + k-row merge) instead of the
  *    reference's fetch-all-ids scan — the shape that survives 100 TB;
  *  - per-user exponential decay weighting (`data_utils.py:91-145`): within a
  *    user, rows sorted by event time ascending, weight(i) = 1/exp(i·factor).
  */
object EventOps {

  /** The window anchor of the events handle `ev` (from [[Tables.events]]) —
    * the newest row's `ts`, `NULL` on an empty table. It is a literal read
    * from the footers of the files `ev` lists ([[Tables.newestTs]]), so it
    * runs no job; where a footer lacks the `ts` statistics it is a scalar
    * subquery over `ev`. [[anchorSql]] is the oracle's copy.
    */
  private[queries] def anchor(ev: DataFrame): Column =
    Tables.newestTs(ev).getOrElse(ev.agg(max(col("ts"))).scalar())
  private[queries] val anchorSql = "(SELECT max(ts) FROM events)"

  /** The events of the trailing `interval` (e.g. `"24 HOURS"`): one
    * [[Tables.events]] handle filtered on `ts >= anchor − interval`, with
    * the anchor read from that same handle, so it covers exactly the files
    * the query scans and a second handle's listing never enters the build.
    * [[trailingSql]] is the oracle's copy of the predicate.
    */
  private[queries] def trailing(s: SparkSession, d: String, interval: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.filter(col("ts") >= anchor(ev) - expr(s"INTERVAL $interval"))
  }
  private[queries] def trailingSql(interval: String): String = s"ts >= $anchorSql - INTERVAL $interval"

  /** Per-user recency rank: 1 for each user's earliest row, by (ts,
    * event_id), within every distinct (user_id, `keys`…) group.
    */
  private[queries] def userRank(keys: Column*): Column =
    row_number().over(Window.partitionBy(col("user_id") +: keys: _*).orderBy(col("ts"), col("event_id")))

  /** The oracle's [[userRank]] with no extra keys. */
  private[queries] val userRankSql = "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)"

  /** The reference's per-user decay weight of the row ranked `rank`
    * (`data_utils.py:91-145`, factor 0.05): 1/exp((rank−1)·0.05), so each
    * user's earliest row weighs 1.0. [[decayWeightSql]] is the oracle's copy.
    */
  private[queries] def decayWeight(rank: Column): Column = lit(1.0) / exp((rank - lit(1)) * lit(0.05))
  private[queries] def decayWeightSql(rank: String): String = s"1.0 / exp(($rank - 1) * 0.05)"

  /** Q1/Q5: time-range scan + type-or-null filter + ORDER BY ts DESC
    * (`data_base.py:307-382, 90-116`).
    */
  val qRecentEvents: QuerySpec = QuerySpec(
    "q10_recent_events",
    (s, d) => {
      // Hash materialization boundary BELOW the global sort (guide §2.4, the
      // q42-r21 pattern): the range partitioner's sampling pass executes the
      // sort's entire child once before the real shuffle executes it again,
      // and here that child is the full events scan + anchor filter —
      // the r21 repartitionByRange rewrite did NOT change that (its exchange
      // had the same child; flagged as cosmetic by the r21 audit). With the
      // filtered rows first hash-exchanged on event_id, the sampling pass
      // re-reads that (small, 24 h window) shuffle output instead of
      // re-scanning the table: one scan at any scale, and the extra exchange
      // carries only the filtered window.
      trailing(s, d, "24 HOURS")
        .filter(col("event_type").isin("click", "view") || col("event_type").isNull)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartition(Tables.shufflePartitions(s), col("event_id"))
        .orderBy(col("ts").desc, col("event_id"))
    },
    Some(s"""
      SELECT event_id, ts, user_id, event_type, value
      FROM events
      WHERE ${trailingSql("24 HOURS")}
        AND (event_type IN ('click', 'view') OR event_type IS NULL)
      ORDER BY ts DESC, event_id
    """.stripMargin.trim),
  )

  /** Q2: windowed count per type (`data_base.py:276-305`). */
  val qCountWindow: QuerySpec = QuerySpec(
    "q11_count_events_window",
    (s, d) =>
      trailing(s, d, "72 HOURS")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .transform(Tables.sortedInOne(_, col("event_type"))),
    Some(s"""
      SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events
      WHERE ${trailingSql("72 HOURS")}
      GROUP BY event_type
      ORDER BY event_type
    """.stripMargin.trim),
  )

  /** Q3: oldest row — `orderBy(asc).limit(1)` → TakeOrderedAndProject
    * (`data_base.py:384-399`).
    */
  val qOldest: QuerySpec = QuerySpec(
    "q12_oldest_event",
    (s, d) =>
      Tables
        .events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id"))
        .limit(1),
    Some("""
      SELECT event_id, ts, user_id, event_type, value
      FROM events ORDER BY ts, event_id LIMIT 1
    """.stripMargin.trim),
  )

  /** Q4/Q6: newest row (`data_base.py:401-416, 118-130`). */
  val qNewest: QuerySpec = QuerySpec(
    "q13_newest_event",
    (s, d) =>
      Tables
        .events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1),
    Some("""
      SELECT event_id, ts, user_id, event_type, value
      FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
    """.stripMargin.trim),
  )

  /** Q9/W2: keep-newest-N retention as scalable top-k
    * (`data_base.py:464-482`).
    */
  val qKeepN: QuerySpec = QuerySpec(
    "q14_keep_n_rows",
    (s, d) =>
      Tables
        .events(s, d)
        .select(col("event_id"), col("ts"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1000),
    Some("""
      SELECT event_id, ts
      FROM events ORDER BY ts DESC, event_id DESC LIMIT 1000
    """.stripMargin.trim),
  )

  /** Q8: age-based retention — rows that survive `ts >= anchor − 7 days`,
    * summarized per day (`data_base.py:430-462`).
    */
  val qRetention: QuerySpec = QuerySpec(
    "q15_retention_cutoff",
    (s, d) =>
      trailing(s, d, "7 DAYS")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_kept"))
        .transform(Tables.sortedInOne(_, col("day"))),
    Some(s"""
      SELECT date_trunc('day', ts) AS day, count(*) AS n_kept
      FROM events
      WHERE ${trailingSql("7 DAYS")}
      GROUP BY day
      ORDER BY day
    """.stripMargin.trim),
  )

  /** A11/W1: per-user exponential decay weight (`data_utils.py:91-145`):
    * rows ranked by event time ascending within each user;
    * weight = 1/exp((rank−1)·factor), earliest row = 1.0.
    * One shuffle on user_id; the window never crosses users so it scales
    * with the user-key cardinality, not data volume.
    */
  val qUserDecay: QuerySpec = QuerySpec(
    "q16_user_activity_decay",
    // One exchange: the range exchange on user_id clusters the window's
    // users, and the window's sort on (user_id, ts, event_id) is already the
    // declared order — (user_id, rn) ≡ (user_id, ts, event_id) — so the final
    // orderBy adds neither an exchange nor a sort. The count is pinned so AQE
    // cannot coalesce the exchange to one partition and serialize the window
    // (see Tables.shufflePartitions).
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("user_id"))
      Tables
        .rangeClustered(ev, col("user_id"))
        .withColumn("rn", userRank())
        .orderBy(col("user_id"), col("ts"), col("event_id"))
        .select(
          col("event_id"),
          col("user_id"),
          col("rn"),
          round(decayWeight(col("rn")), 6).as("weight"),
        )
    },
    Some(s"""
      SELECT event_id, user_id, rn,
             round(${decayWeightSql("rn")}, 6) AS weight
      FROM (SELECT event_id, user_id,
                   $userRankSql AS rn
            FROM events)
      ORDER BY user_id, rn
    """.stripMargin.trim),
  )

  /** A5: mode with deterministic first-wins tie-break
    * (`tweet_utils.py:564-583`; tie-break per SURVEY §7.4.4).
    * Explicit `asc_nulls_last` on the tie-break key: Spark's default asc puts
    * NULLs first while DuckDB puts them last, so a count tie involving the
    * NULL event_type would otherwise flip the winning row between engines.
    */
  val qMode: QuerySpec = QuerySpec(
    "q17_event_type_mode",
    (s, d) =>
      Tables
        .events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type").asc_nulls_last)
        .limit(1),
    Some("""
      SELECT event_type, count(*) AS n
      FROM events GROUP BY event_type
      ORDER BY n DESC, event_type ASC NULLS LAST LIMIT 1
    """.stripMargin.trim),
  )

  /** J1/Q7: correlated range lookup — for each anchor row, aggregate the rows
    * inside its trailing 1 h window (`data_base.py:132-155`). The anchor side
    * is tiny by construction → broadcast; Spark plans BroadcastNestedLoopJoin
    * for the theta condition, which is exactly right when one side is k rows.
    */
  val qRangeJoin: QuerySpec = QuerySpec(
    "q18_event_window_lookup",
    (s, d) => {
      val ev = Tables.events(s, d)
      val anchors = ev
        .filter(col("event_type") === "purchase")
        .orderBy(col("value").desc, col("event_id"))
        .limit(5)
        .select(col("event_id").as("anchor_id"), col("ts").as("anchor_ts"))
      ev.join(
          broadcast(anchors),
          col("ts") >= col("anchor_ts") - expr("INTERVAL 1 HOUR") &&
            col("ts") <= col("anchor_ts"),
        )
        .groupBy(col("anchor_id"))
        .agg(count(lit(1)).as("n_in_window"), round(sum(col("value")), 4).as("sum_value"))
        .transform(Tables.sortedInOne(_, col("anchor_id")))
    },
    Some("""
      WITH anchors AS (
        SELECT event_id AS anchor_id, ts AS anchor_ts
        FROM events WHERE event_type = 'purchase'
        ORDER BY value DESC, event_id LIMIT 5
      )
      SELECT anchor_id, count(*) AS n_in_window, round(sum(value), 4) AS sum_value
      FROM events JOIN anchors
        ON ts >= anchor_ts - INTERVAL 1 HOUR AND ts <= anchor_ts
      GROUP BY anchor_id
      ORDER BY anchor_id
    """.stripMargin.trim),
  )

  /** W3/ST2: tumbling hourly windows with previous-window comparison
    * (`app.py:401-447`) — the batch shape of the reference's curr-vs-prev
    * activity windows.
    */
  val qSlidingWindows: QuerySpec = QuerySpec(
    "q19_hourly_window_lag",
    (s, d) => {
      val hourly = Tables
        .events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      hourly
        .withColumn("prev_n", lag(col("n"), 1).over(Window.orderBy(col("window_start"))))
        .orderBy(col("window_start"))
    },
    Some("""
      SELECT window_start, n, sum_value,
             lag(n, 1) OVER (ORDER BY window_start) AS prev_n
      FROM (SELECT date_trunc('hour', ts) AS window_start,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1)
      ORDER BY window_start
    """.stripMargin.trim),
  )

  /** F18: JSON field navigation over the `props` payload
    * (`tweet_utils.py:95-178` defensive nested access → `get_json_object`).
    */
  val qJsonExtract: QuerySpec = QuerySpec(
    "q20_json_props",
    (s, d) =>
      Tables
        .events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("k")),
    Some("""
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
      FROM events GROUP BY k ORDER BY k
    """.stripMargin.trim),
  )

  val all: Seq[QuerySpec] = Seq(
    qRecentEvents,
    qCountWindow,
    qOldest,
    qNewest,
    qKeepN,
    qRetention,
    qUserDecay,
    qMode,
    qRangeJoin,
    qSlidingWindows,
    qJsonExtract,
  )
}
