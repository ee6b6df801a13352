package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.core.Session

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare
  * (`python3 tools/check_oracle.py <sfDir> <outDir>`). Exits 1, naming each
  * query that threw, if any did.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (local iteration).
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark  = Session.local(Session.cpus)
    val failed = dump(spark, sfDir, outDir, name => only.forall(_.contains(name)))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Writes each query `keep` selects to `outDir/<name>` as one parquet file,
    * and their oracle SQL to `outDir/oracle_sql.json`.
    *
    * @return the names of the queries that threw, sorted
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, keep: String => Boolean): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => keep(name) }.flatMap {
      case (name, fn) =>
        // One file: coalesce(1) concatenates the partitions in order.
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
        }
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"), sql.asJava)
    failed
  }
}
