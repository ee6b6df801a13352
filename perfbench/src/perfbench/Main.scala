package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One benchmark run in one JVM: a closed loop of one client thread over a
  * workload's query list on `local[k]`.
  *
  *  1. Setup: session, table handles, the check pass and `--warmup` untimed
  *     passes. The check pass is the first, cold pass over the list, one
  *     query at a time; it writes every query's result for the oracle
  *     compare. `setup_ms` runs from JVM start to the first timed query.
  *  2. `--passes` timed passes over the list. Each pass draws a fresh
  *     permutation of the list from the seed, unless the list is ordered. The
  *     timed action is the noop sink; a failed execution is recorded as
  *     failed and never as a time.
  *  3. With `--trace 1`, instead: `--pairs` pairs of one untraced and one
  *     traced pass (by [[Tracer]]) of the same order. Even pairs run the
  *     untraced pass first, odd pairs the traced one, so what the JIT gains
  *     between the two passes of a pair cancels out of the tracing overhead.
  *  4. With `--trace 1`: one traced execution of each `--census` query, and
  *     the [[Layers]] probes.
  *
  * Everything is written as one JSON record (`--out`/raw.json); the runner
  * turns it into metrics.
  */
object Main {

  final case class Args(
      workload: String,
      queries: Seq[String],
      ordered: Boolean,
      seed: Long,
      warmup: Int,
      passes: Int,
      pairs: Int,
      trace: Boolean,
      data: String,
      out: String,
      cores: Int,
      census: Seq[String],
      inject: Option[String],
      maxTimedS: Double,
  )

  final case class Exec(
      id: Int,
      query: String,
      phase: String,
      pass: Int,
      error: Option[String],
      wallNs: Long,
      buildNs: Long,
      startMs: Long,
      endMs: Long,
  ) {
    def record: Map[String, Any] = Map(
      "id" -> id, "query" -> query, "phase" -> phase, "pass" -> pass,
      "ok" -> error.isEmpty, "error" -> error, "wall_ms" -> wallNs / 1e6,
      "build_ms" -> buildNs / 1e6, "start_ms" -> startMs, "end_ms" -> endMs,
    )
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      queries = need("queries").split(",").toSeq,
      ordered = kv.get("ordered").contains("1"),
      seed = need("seed").toLong,
      warmup = need("warmup").toInt,
      passes = need("passes").toInt,
      pairs = kv.get("pairs").map(_.toInt).getOrElse(0),
      trace = kv.get("trace").contains("1"),
      data = need("data"),
      out = need("out"),
      cores = need("cores").toInt,
      census = kv.get("census").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      inject = kv.get("inject").filter(_.nonEmpty),
      maxTimedS = need("max-timed-s").toDouble,
    )
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val unknown = (a.queries ++ a.census).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val loadStart = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a, uptimeMs())
    val record = run.all()
    spark.stop()
    val full = record ++ Map("loadavg_start" -> loadStart, "loadavg_end" -> loadavg())
    Files.writeString(Paths.get(a.out, "raw.json"), Json(full))
  }

  def uptimeMs(): Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }

  /** Process CPU time of this JVM, all threads (tasks, GC, JIT, driver). */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Old-generation occupancy in MB after a full GC: what the run retains.
    * The second GC runs after Spark's cleaner has dropped the blocks of the
    * broadcasts and shuffles the first one found unreachable.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** The pass order: fixed for an ordered list, else a permutation drawn
    * from the seed and the pass number (the same for traced and untraced
    * passes, so the two phases compare like with like).
    */
  def order(queries: Seq[String], ordered: Boolean, seed: Long, pass: Int): Seq[String] =
    if (ordered) queries else new Random(seed * 1000003L + pass).shuffle(queries)
}

final class Run(spark: SparkSession, a: Main.Args, sessionMs: Double) {
  import Main._

  private val ids    = new java.util.concurrent.atomic.AtomicInteger()
  private val tracer = new Tracer(spark)

  private def build(q: String): DataFrame = {
    val df = SparkEntry.queries(q)(spark, a.data)
    if (a.inject.contains(q)) throw new IllegalStateException(s"injected failure in $q")
    df
  }

  private def execute(q: String, phase: String, pass: Int, traced: Boolean)(action: DataFrame => Unit): Exec = {
    val id = ids.getAndIncrement()
    if (traced) tracer.begin(id)
    spark.sparkContext.setJobDescription(s"perfbench:$phase:$q")
    val startMs = System.currentTimeMillis()
    val t0      = System.nanoTime()
    var buildNs = 0L
    val error =
      try {
        val df = build(q)
        buildNs = System.nanoTime() - t0
        action(df)
        None
      } catch { case e: Throwable => Some(e.toString.take(500)) }
    val wallNs = System.nanoTime() - t0
    val endMs  = System.currentTimeMillis()
    if (traced) tracer.end()
    spark.sparkContext.setJobDescription(null)
    error.foreach(e => System.err.println(s"[perfbench] $phase $q failed: $e"))
    Exec(id, q, phase, pass, error, wallNs, buildNs, startMs, endMs)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def passes(phase: String, n: Int, traced: Boolean): Seq[Map[String, Any]] =
    (0 until n).map(pass => timedPass(phase, pass, traced))

  /** The `--passes` timed passes, cut short on a host so slow that the next
    * pass, taking as long as the last, would end after `--max-timed-s`; at
    * least three run.
    */
  private def timedPasses(): Seq[Map[String, Any]] = {
    val t0   = System.nanoTime()
    val out  = Seq.newBuilder[Map[String, Any]]
    var n    = 0
    var last = 0.0
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (n < a.passes && (n < 3 || elapsedS + last <= a.maxTimedS)) {
      val start = elapsedS
      out += timedPass("untraced", n, traced = false)
      last = elapsedS - start
      n += 1
    }
    out.result()
  }

  private def timedPass(phase: String, pass: Int, traced: Boolean): Map[String, Any] = {
    val cpu0  = processCpuNs()
    val w0    = System.nanoTime()
    // Warm-up passes keep the listed order, so every run's JIT sees the same
    // profile before timing starts; timed passes are permuted by the seed.
    val queries = if (phase == "warmup") a.queries else order(a.queries, a.ordered, a.seed, pass)
    val execs   = queries.map(q => execute(q, phase, pass, traced)(noop))
    val wall  = System.nanoTime() - w0
    val cpu   = processCpuNs() - cpu0
    Map(
      "phase" -> phase, "pass" -> pass, "wall_ms" -> wall / 1e6, "cpu_ms" -> cpu / 1e6,
      "old_gen_mb" -> oldGenAfterGcMb(), "execs" -> execs.map(_.record),
    )
  }

  private def check(): Seq[Exec] = {
    Files.createDirectories(Paths.get(a.out, "results"))
    // coalesce(1) keeps the order of queries that carry their global order
    // physically (range partitions sorted within), as graft.Verify does.
    val checks = a.queries.map { q =>
      execute(q, "check", -1, traced = false) { df =>
        df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/results/$q")
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => a.queries.contains(k) }
    Files.writeString(Paths.get(a.out, "oracle_sql.json"), Json(oracle))
    checks
  }

  def all(): Map[String, Any] = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach(t => graft.core.Tables.table(spark, a.data, t).schema)
    val tablesMs = uptimeMs()
    val checks   = check()
    val checkMs  = uptimeMs()
    val warmup   = passes("warmup", a.warmup, traced = false)
    val setupMs  = uptimeMs()
    val timed =
      if (!a.trace) timedPasses()
      else
        (0 until a.pairs).flatMap { pass =>
          def plain() = timedPass("untraced", pass, traced = false)
          def traced() = {
            tracer.install()
            try timedPass("traced", pass, traced = true)
            finally tracer.uninstall()
          }
          if (pass % 2 == 0) { val u = plain(); Seq(u, traced()) }
          else { val t = traced(); Seq(t, plain()) }
        }
    val base = Map(
      "workload" -> a.workload, "queries" -> a.queries, "ordered" -> a.ordered,
      "seed" -> a.seed, "passes_per_phase" -> a.passes, "k" -> a.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")),
      "spark_version" -> spark.version, "setup_ms" -> setupMs,
      "setup_phases_ms" -> Map("session" -> sessionMs, "tables" -> tablesMs, "check" -> checkMs),
      "check" -> checks.map(_.record), "passes" -> (warmup ++ timed),
    )
    if (!a.trace) base
    else {
      tracer.install()
      // One traced execution of each census query (queries that other
      // workloads run), so every trace reports the same queries' spans; it is
      // the query's first, cold execution in this JVM.
      val census = a.census.map(q => execute(q, "census", -1, traced = true)(noop))
      val layers = new Layers(spark, a.data, a.seed).all()
      base ++ Map(
        "census" -> census.map(_.record),
        "spans" -> tracer.record,
        "layers" -> layers,
      )
    }
  }
}
