package graft

import java.io.File
import java.util.{Map => JMap, TreeMap => JTreeMap}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Tables

/** The plan census of all queries at sf0.01, against the committed
  * `plan_census.json`: per query, the jobs its build and its execution to
  * the noop sink launch, and the operator counts of the final adaptive plan
  * of that execution (shuffle exchanges by partitioning, sorts, windows,
  * broadcasts, joins by kind, aggregates, coalesces). A change that adds a
  * shuffle, a job or a job at build time fails here with a per-query diff;
  * the census it measured is written to `target/plan_census.json`, so a change
  * that means to move a plan commits that file as its evidence.
  *
  * The census runs in a session of its own in which AQE does not replace a
  * join with an empty side by an empty relation: q5's and q45's outputs are
  * empty at sf0.01, and their joins and exchanges would leave the census.
  */
class PlanCensusSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf     = new File(sfDir).getParent + "/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  private val mapper = new ObjectMapper()
    .enable(SerializationFeature.INDENT_OUTPUT)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)

  /** The counted operators of `plan`, subqueries included, by name. */
  private def operators(plan: SparkPlan): Map[String, Int] =
    collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec =>
        val kind = e.outputPartitioning match {
          case _: HashPartitioning       => "hash"
          case _: RangePartitioning      => "range"
          case SinglePartition           => "single"
          case _: RoundRobinPartitioning => "roundrobin"
          case p                         => p.getClass.getSimpleName
        }
        s"Exchange($kind)"
      case p @ (_: SortExec | _: WindowExec | _: BroadcastExchangeExec | _: BaseJoinExec | _: HashAggregateExec |
          _: ObjectHashAggregateExec | _: CoalesceExec) =>
        p.nodeName
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** One query's census row in `session`: its jobs, then its operator
    * counts. `written` receives the query execution of the noop write.
    */
  private def census(session: SparkSession, name: String, written: AtomicReference[QueryExecution]): Map[String, Int] = {
    def jobs(body: => Unit): Int = TestListenerBus.jobs(spark.sparkContext)(body)
    var df: DataFrame = null
    val build   = jobs { df = SparkEntry.queries(name)(session, sf) }
    val execute = jobs(df.write.format("noop").mode("overwrite").save())
    val plan    = Option(written.getAndSet(null)).getOrElse(fail(s"$name: no plan of its noop write"))
    Map("jobs.build" -> build, "jobs.execute" -> execute) ++ operators(plan.executedPlan)
  }

  private def toJson(c: Map[String, Map[String, Int]]): String = {
    val m = new JTreeMap[String, JMap[String, Int]]()
    c.foreach { case (q, row) => m.put(q, new JTreeMap(row.asJava)) }
    mapper.writeValueAsString(m) + "\n"
  }

  private def fromJson(s: String): Map[String, Map[String, Int]] =
    mapper.readValue(s, classOf[JMap[String, JMap[String, Integer]]]).asScala.map { case (q, row) =>
      q -> row.asScala.map { case (k, v) => k -> v.intValue }.toMap
    }.toMap

  test("the census of jobs and final-plan operators of every query at sf0.01 equals plan_census.json") {
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.optimizer.excludedRules",
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    // Registered first, so no build counts a table's one-off schema inference.
    tables.foreach(Tables.table(session, sf, _))
    val last = new AtomicReference[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    val actual =
      try SparkEntry.queries.keys.toSeq.sorted.map(q => q -> census(session, q, last)).toMap
      finally session.listenerManager.unregister(listener)

    val golden = Option(getClass.getResourceAsStream("/plan_census.json"))
      .map(in => try fromJson(new String(in.readAllBytes(), "UTF-8")) finally in.close())
      .getOrElse(Map.empty)
    if (actual != golden) {
      val out = new File("target/plan_census.json")
      out.getParentFile.mkdirs()
      java.nio.file.Files.writeString(out.toPath, toJson(actual))
      val diff = (actual.keySet ++ golden.keySet).toSeq.sorted.flatMap { q =>
        val (a, g) = (actual.getOrElse(q, Map.empty), golden.getOrElse(q, Map.empty))
        (a.keySet ++ g.keySet).toSeq.sorted.collect {
          case k if a.get(k) != g.get(k) =>
            s"$q $k: expected ${g.get(k).fold("-")(_.toString)}, got ${a.get(k).fold("-")(_.toString)}"
        }
      }
      fail(s"the plan census differs from plan_census.json (actual in ${out.getAbsolutePath}):\n${diff.mkString("\n")}")
    }
  }
}
