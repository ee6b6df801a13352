package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the generated synthetic tables (see TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time so the same plan
  * runs unchanged from sf0.001 smoke to a 100 TB lake — the parquet scan is the
  * only scale-dependent node and Catalyst handles pushdown/pruning per scan.
  *
  * Schemas are registered as in a metastore: one per session and path,
  * inferred by the first handle (one job over the parquet footers) and fixed
  * for the session's life, so later handles launch no job. The session is in
  * the key because inferred types follow its confs (`nanosAsLong`). The file
  * listing runs per handle, so appended files are read by the next one.
  */
object Tables {
  private val schemas = new ConcurrentHashMap[(SparkSession, String), StructType]()

  private[core] def schema(spark: SparkSession, path: String): StructType =
    schemas.computeIfAbsent((spark, path), _ => spark.read.parquet(path).schema)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  /** `ts` as a timestamp. The local sf dirs store TIMESTAMP_MICROS, returned
    * as is. FIXTURES.md's TIMESTAMP(NANOS) layout, which the vectorized reader
    * rejects, arrives under `nanosAsLong` as a nano-epoch Long (the registered
    * schema's type) and is converted losslessly for µs-clean data.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The session's shuffle parallelism, for EXPLICIT repartition counts.
    *
    * A `repartition`/`repartitionByRange` without a count lets AQE coalesce
    * the exchange by byte size — and on small inputs that is ONE partition,
    * which serializes every projection/computation sitting above the
    * exchange (measured in r22: q35's interpreted-HOF MinHash signature and
    * the O(n²)/kernel stages of q42/q43/q23/q24 all collapsed to a single
    * task this way). Pinning the session's configured parallelism is a
    * no-op at real scale — a large shuffle would not have been coalesced
    * below it anyway — and keeps compute-heavy stages wide at bench scale.
    * Scale-adaptive by construction: the bench contract sets this conf to
    * `$SPARK_GRAFT_CPUS`, production sets cluster parallelism (default 200).
    *
    * AQE neither coalesces nor skew-splits an exchange whose count is given,
    * so the pinned exchanges run exactly this many partitions. With the conf
    * unset that is the fallback of 200, and AQE skew splitting is off on them.
    */
  def shufflePartitions(s: SparkSession): Int =
    s.conf.getOption("spark.sql.shuffle.partitions").flatMap(_.toIntOption).getOrElse(200)

  /** Range exchange of `df` on `keys` into [[shufflePartitions]] partitions —
    * the one partition-and-order operator of every query that carries its
    * global output order physically. Range partitions are contiguous and
    * ordered by `keys`, so a `sortWithinPartitions` led by the same keys gives
    * the global order with no further exchange, and the projections above
    * keep it (OrderContractSpec pins each such query). The pinned count keeps
    * the compute-heavy stages above the exchange wide.
    */
  def rangeClustered(df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(shufflePartitions(df.sparkSession), keys: _*)
}

/** One externally-verifiable query: a Spark plan plus (optionally) equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet. Column names and
  * row values must agree bit-for-bit after the driver's name-sorted hash, so
  * every double is rounded identically on both sides and every result carries
  * a total ORDER BY on deterministic keys.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)
