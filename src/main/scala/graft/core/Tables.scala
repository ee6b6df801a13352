package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.RebaseDateTime
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

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
  *
  * The newest event time, which anchors every sliding window, is read the
  * same way: from the `ts` max statistics of the parquet footers, on the
  * driver, with no job ([[newestTs]]). Each file's maximum is kept per session
  * under its path, length and modification time, so a handle reads only the
  * footers of files it has not seen. A file without usable statistics makes
  * the caller scan the column instead.
  */
object Tables {
  private val schemas = new ConcurrentHashMap[(SparkSession, String), StructType]()

  private[core] def schema(spark: SparkSession, path: String): StructType =
    schemas.computeIfAbsent((spark, path), _ => spark.read.parquet(path).schema)

  /** A maximum read from statistics: `Some(Some(v))` is the value `v`,
    * `Some(None)` means no row holds a non-null `ts`, and `None` means some
    * rows' maximum is not known.
    */
  private type Max = Option[Option[Long]]

  private val tsMaxima = new ConcurrentHashMap[(SparkSession, String, Long, Long), Max]()

  private def maxOf(parts: Seq[Max]): Max =
    if (parts.forall(_.isDefined)) Some(parts.flatten.flatten.maxOption) else None

  /** The newest `ts` of `events`, a handle returned by [[events]], as a
    * literal of its `ts` type (a typed `NULL` when no row holds one), read
    * from the row-group `max` statistics of `ts` in the footers of the files
    * the handle lists, so it covers exactly the files the handle scans.
    * `None` when a row group that holds a non-null `ts` has no such
    * statistic, or its column is neither the INT64 `TIMESTAMP(MICROS)` of the
    * handle's type nor the nano-epoch INT64 that [[events]] converts (then
    * the maximum is converted the same way: `div 1000` is monotone).
    */
  def newestTs(events: DataFrame): Option[Column] =
    (events.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)          => Some(fs)
      case Project(_, LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) => Some(fs)
      case _                                                          => None
    }).flatMap { fs =>
      val raw = fs.dataSchema("ts").dataType
      lazy val conf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
      maxOf(fs.location.listFiles(Nil, Nil).flatMap(_.files).map { f =>
        val st  = f.fileStatus
        val key = (events.sparkSession, st.getPath.toString, st.getLen, st.getModificationTime)
        // An unreadable footer is not cached, and leaves the scan to decide.
        try tsMaxima.computeIfAbsent(key, _ => fileMaxTs(st, conf, raw))
        catch { case NonFatal(_) => None }
      }).map { newest =>
        val micros = newest.map(v => if (raw == LongType) v / 1000 else v)
        Bridge.column(Literal(micros.getOrElse(null), events.schema("ts").dataType))
      }
    }

  /** One file's [[Max]] of `ts`, from its row groups' statistics. A row group
    * with no rows, or only `NULL`s, holds no value. Timestamps before the
    * calendar switch are not taken: reading them may rebase or reject them.
    */
  private def fileMaxTs(f: FileStatus, conf: Configuration, dt: DataType): Max = {
    val footer = Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf)))(_.getFooter)
    maxOf(footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { rg =>
      rg.getColumns.asScala.find(_.getPath == ColumnPath.get("ts")).filter(c => readsAs(c.getPrimitiveType, dt))
        .flatMap(c => Option(c.getStatistics)) match {
        case Some(st) if st.isNumNullsSet && st.getNumNulls == rg.getRowCount => Some(None)
        case Some(st: LongStatistics) if st.hasNonNullValue &&
            (dt == LongType || st.getMax >= RebaseDateTime.lastSwitchJulianTs) => Some(Some(st.getMax))
        case _ => None
      }
    })
  }

  /** Whether Spark reads the parquet `ts` column `t` as `dt`, unchanged:
    * microseconds for a timestamp, the nano-epoch Long for `LongType`.
    */
  private def readsAs(t: PrimitiveType, dt: DataType): Boolean =
    t.getPrimitiveTypeName == INT64 && ((t.getLogicalTypeAnnotation, dt) match {
      case (a: TimestampLogicalTypeAnnotation, TimestampType | TimestampNTZType) =>
        a.getUnit == TimeUnit.MICROS && a.isAdjustedToUTC == (dt == TimestampType)
      case (a: TimestampLogicalTypeAnnotation, LongType) => a.getUnit == TimeUnit.NANOS
      case (null, LongType)                              => true
      case _                                             => false
    })

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
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
    * the O(n²) stages of q42/q43 all collapsed to a single task this way).
    * Pinning the session's configured parallelism is a no-op at real scale
    * — a large shuffle would not have been coalesced below it anyway — and
    * keeps compute-heavy stages wide at bench scale.
    * Scale-adaptive by construction: the bench contract sets this conf to
    * `$SPARK_GRAFT_CPUS`, production sets cluster parallelism (default 200).
    *
    * AQE neither coalesces nor skew-splits an exchange whose count is given,
    * so the pinned exchanges run exactly this many partitions. With the conf
    * unset that is the fallback of 200, and AQE skew splitting is off on them.
    */
  def shufflePartitions(s: SparkSession): Int =
    s.conf.getOption("spark.sql.shuffle.partitions").flatMap(_.toIntOption).getOrElse(200)

  /** Range exchange of `df` on `keys` into [[shufflePartitions]] partitions,
    * placed below a query's heavy projections. A final `orderBy` led by the
    * same keys reuses it: range partitions are contiguous and ordered by
    * `keys`, so the sort needs no exchange of its own, and no range sampling
    * pass runs the projections twice. The pinned count keeps the
    * compute-heavy stages above the exchange wide.
    */
  def rangeClustered(df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(shufflePartitions(df.sparkSession), keys: _*)

  /** `df` sorted on `keys` in one partition, for an output that a key domain
    * bounds at any scale (types, nations, days, grid cells): its rows fit one
    * task, so the sort needs no range exchange and no sampling job.
    */
  def sortedInOne(df: DataFrame, keys: Column*): DataFrame =
    df.coalesce(1).orderBy(keys: _*)
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
