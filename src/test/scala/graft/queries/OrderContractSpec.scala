package graft.queries

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.SparkSpec
import graft.SparkEntry

/** Order contracts. Every query whose oracle ends in `ORDER BY` declares
  * that order as a global Sort at the root of its plan, with only projections
  * and limits above it. The queries whose sort reuses a range exchange placed
  * below their heavy projections (q10, q16, q31–q33, q35, q39, q40, q42,
  * q43) are run on real testdata, through the same `coalesce(1)` funnel the
  * Verify dump uses, and their rows checked against the declared order, at
  * the shared session's partition count and at 1 and 7.
  *
  * Uses sf0.01 rather than the smallest SF so multi-row, multi-partition
  * shapes are actually exercised (sf0.001 leaves several outputs at 0–1
  * rows).
  *
  * It also pins the exchanges behind the order: the bounded outputs sorted
  * in one partition carry no range exchange, and a pinned range exchange
  * takes its partition count from the session conf. The windowed event
  * queries read their anchor with no join, and the warm job counts of the
  * windowed and detection queries are pinned.
  */
class OrderContractSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.01"

  /** query name → (projection of the row into its ORDER BY key, ascending
    * lexicographic on the projected seq). Descending keys are negated /
    * inverted inside the projection so one comparator covers all.
    */
  private def keyOf(name: String): Row => Seq[Long] = name match {
    case "q10_recent_events" =>
      // ORDER BY ts DESC, event_id ASC
      r => Seq(-r.getAs[java.time.LocalDateTime]("ts").toInstant(java.time.ZoneOffset.UTC).toEpochMilli, r.getAs[Long]("event_id"))
    case "q16_user_activity_decay" =>
      r => Seq(r.getAs[Long]("user_id"), r.getAs[Int]("rn").toLong)
    case "q31_doc_quality" | "q32_lang_id" | "q33_doc_fingerprint" | "q39_token_count" |
        "q35_minhash_signature" =>
      r => Seq(r.getAs[Long]("doc_id"))
    case "q40_embedding_norms" =>
      r => Seq(r.getAs[Long]("vec_id"))
    case "q42_cosine_pairs" =>
      r => Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))
    case "q43_cosine_topk" =>
      r => Seq(r.getAs[Long]("a_id"), r.getAs[Int]("rank").toLong)
    case other => fail(s"no order contract registered for $other")
  }

  private val guarded = Seq(
    "q10_recent_events",
    "q16_user_activity_decay",
    "q31_doc_quality",
    "q32_lang_id",
    "q33_doc_fingerprint",
    "q35_minhash_signature",
    "q39_token_count",
    "q40_embedding_norms",
    "q42_cosine_pairs",
    "q43_cosine_topk",
  )

  /** Asserts that `name`'s output, built and run in `session`, arrives in its
    * declared global order.
    */
  private def assertOrdered(session: SparkSession, name: String): Unit = {
    val key  = keyOf(name)
    // The exact funnel Verify uses: physical partition order concatenated.
    val rows = SparkEntry.queries(name)(session, sf).coalesce(1).collect()
    assert(rows.length > 1, s"$name returned ${rows.length} rows at sf0.01 — too few to check order")
    val keys = rows.toSeq.map(key)
    val violations = keys.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), i) if Ordering.Implicits.seqOrdering[Seq, Long].gt(a, b) => (i, a, b)
    }.take(3).toList
    assert(violations.isEmpty, s"$name order violations (index, prev, next): $violations")
  }

  for (name <- guarded)
    test(s"$name output arrives in its declared global order through coalesce(1)") {
      assertOrdered(spark, name)
    }

  // The range exchanges behind the order take the session's partition count,
  // so the contracts must hold at other counts too (q16's is pinned below).
  for (partitions <- Seq(1, 7))
    test(s"q10, q31–q33, q35, q39, q40, q42 and q43 arrive in their declared global order at spark.sql.shuffle.partitions=$partitions") {
      // A new session, so the conf shared by every suite stays as it is.
      val session = spark.newSession()
      session.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      guarded.filterNot(_ == "q16_user_activity_decay").foreach(assertOrdered(session, _))
    }

  /** The partitionings of the shuffle exchanges in `df`'s executed plan,
    * after it ran (the final adaptive plan).
    */
  private def exchanges(df: DataFrame): Seq[Partitioning] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.outputPartitioning }
  }

  /** The partition counts of the range exchanges in `df`'s executed plan. */
  private def rangeExchanges(df: DataFrame): Seq[Int] =
    exchanges(df).collect { case r: RangePartitioning => r.numPartitions }

  test("q1, q2, q4, q11, q15, q18, q21, q23, q24 and q25 sort their bounded outputs in one partition, with no range exchange") {
    // q24 also pivots its (tag, cell) rows per cell in that one partition.
    def byCell(h: HashPartitioning) = h.expressions.flatMap(_.references.map(_.name)).toSet == Set("cell_x", "cell_y")
    val bounded = Seq("q1_pricing_summary", "q2_revenue_by_nation", "q4_priority_with_late_items", "q11_count_events_window",
      "q15_retention_cutoff", "q18_event_window_lookup", "q21_bbox_filter", "q23_kde_density", "q24_kde_diff",
      "q25_dbscan_clusters")
    val offending = for (name <- bounded) yield
      name -> exchanges(SparkEntry.queries(name)(spark, sf)).filter {
        case _: RangePartitioning => true
        case h: HashPartitioning  => byCell(h)
        case _                    => false
      }
    assert(offending.forall(_._2.isEmpty), offending)
  }

  test("q10, q11 and q15 read the window anchor with no nested-loop join and no broadcast") {
    val offending = for (name <- Seq("q10_recent_events", "q11_count_events_window", "q15_retention_cutoff")) yield {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      name -> collectWithSubqueries(df.queryExecution.executedPlan) {
        case p @ (_: BroadcastNestedLoopJoinExec | _: BroadcastExchangeExec) => p.nodeName
      }
    }
    assert(offending.forall(_._2.isEmpty), offending)
  }

  test("the window and detection queries' warm job counts, build + execute: q10 0 + 4, q11 0 + 2, q15 0 + 2, q23 0 + 5, q24 0 + 5, q25 2 + 1") {
    val expected = Seq(
      "q10_recent_events"       -> (0, 4),
      "q11_count_events_window" -> (0, 2),
      "q15_retention_cutoff"    -> (0, 2),
      "q23_kde_density"         -> (0, 5),
      "q24_kde_diff"            -> (0, 5),
      "q25_dbscan_clusters"     -> (2, 1),
    )
    def jobs(body: => Unit): Int = TestListenerBus.jobs(spark.sparkContext)(body)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val counts = for ((name, _) <- expected) yield {
      // Warm: a first execution, so no count holds a table's one-off schema
      // registration. The window anchor is read from the parquet footers,
      // which is no job. q25's two build jobs are DBSCAN's placement probe.
      noop(SparkEntry.queries(name)(spark, sf))
      var df: DataFrame = null
      val build = jobs { df = SparkEntry.queries(name)(spark, sf) }
      name -> (build, jobs(noop(df)))
    }
    assert(counts == expected)
  }

  /** An oracle whose statement ends in `ORDER BY …`, perhaps with a `LIMIT`,
    * outside every parenthesis (so not a CTE's or a window's).
    */
  private val endsOrdered = """(?is).*\bORDER BY\s[^()]*""".r

  test("every query whose oracle ends in ORDER BY declares it: a global Sort at the root of its analyzed plan") {
    val ordered = SparkEntry.specs.filter(_.oracle.exists(endsOrdered.matches)).map(_.name)
    assert(SparkEntry.specs.map(_.name).diff(ordered) == Seq("q6_forecast_revenue"))
    // Only projections and limits may sit above the Sort: neither moves a row.
    def root(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c)     => root(c)
      case GlobalLimit(_, c) => root(c)
      case LocalLimit(_, c)  => root(c)
      case other             => other
    }
    val undeclared = ordered.filterNot { name =>
      root(SparkEntry.queries(name)(spark, sf).queryExecution.analyzed) match {
        case s: Sort => s.global
        case _       => false
      }
    }
    assert(undeclared.isEmpty, "have no global Sort at the root")
  }

  test("q16's pinned range exchange takes the session's shuffle partition count") {
    // A new session, so the conf shared by every suite stays as it is.
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    val df = SparkEntry.queries("q16_user_activity_decay")(s7, sf)
    assert(rangeExchanges(df) == Seq(7))
    assert(df.queryExecution.toRdd.getNumPartitions == 7)
  }
}
