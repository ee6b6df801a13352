package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup, shared by the mains and the tests. */
object Session {

  /** `SPARK_GRAFT_CPUS` if it is a positive integer (a malformed value must
    * not crash session build), else every core the JVM sees.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions (the pinned exchange count,
    * see [[Tables.shufflePartitions]]), UTC session time, no UI, and a
    * TIMESTAMP(NANOS) `ts` (FIXTURES.md) read as long for [[Tables.events]].
    * The driver heap comes from the JVM flags (build.sbt `javaOptions`).
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
