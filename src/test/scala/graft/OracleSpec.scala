package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, transform, when}

import graft.core.Tables
import graft.queries.SimilarityOps

/** The correctness gate inside tier-1: dumps every query at sf0.01 with
  * [[Verify.dump]] and compares each with its DuckDB oracle through
  * `tools/check_oracle.py`, the fold-order-sensitive and window-anchored
  * queries again at other shuffle partition counts, and the vector queries
  * on a crafted table with a NaN and a null vector. A missing python3,
  * duckdb or pandas fails the suite rather than skipping it.
  */
class OracleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** Runs `cmd`, returning its exit code and combined stdout/stderr. */
  private def run(cmd: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l + "\n", l => out ++= l + "\n")
    val code =
      try Process(cmd).!(log)
      catch { case e: java.io.IOException => fail(s"cannot run ${cmd.head}: ${e.getMessage}") }
    (code, out.toString)
  }

  /** Dumps the queries `keep` selects in `session` over the tables in `dir`
    * and checks each against its oracle with `tools/check_oracle.py`, which
    * must report `n` passes.
    */
  private def check(session: SparkSession, keep: String => Boolean, n: Int, dir: String = sf): Unit = {
    val script = new File("tools/check_oracle.py")
    assert(script.isFile, s"no ${script.getAbsolutePath}")
    val (depsCode, depsOut) = run(Seq("python3", "-c", "import duckdb, pandas"))
    assert(depsCode == 0, s"the oracle check needs python3 with duckdb and pandas:\n$depsOut")

    val out: Path = Files.createTempDirectory("graft-oracle")
    try {
      val failed = Verify.dump(session, dir, out.toString, keep)
      assert(failed.isEmpty, s"queries threw: ${failed.mkString(",")}")
      val (code, report) = run(Seq("python3", script.getPath, dir, out.toString))
      assert(code == 0, s"check_oracle.py exited $code:\n$report")
      assert(report.contains(s"$n passed, 0 failed"), report)
    } finally {
      Seq("rm", "-rf", out.toString).!
    }
  }

  test("every query matches its DuckDB oracle at sf0.01") {
    check(spark, _ => true, SparkEntry.queries.size)
  }

  // The KDE and DBSCAN sums fold in an order that follows the partitioning,
  // and q10, q11 and q15 sort above exchanges whose counts the session conf
  // sets; their oracle compare must hold at other shuffle partition counts too.
  private val partitionSensitive = Set("q10_recent_events", "q11_count_events_window", "q15_retention_cutoff",
    "q23_kde_density", "q24_kde_diff", "q25_dbscan_clusters")

  for (partitions <- Seq(1, 7))
    test(s"q10, q11, q15, q23, q24 and q25 match their oracles at spark.sql.shuffle.partitions=$partitions") {
      // A new session, so the conf shared by every suite stays as it is.
      val session = spark.newSession()
      session.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      check(session, partitionSensitive, partitionSensitive.size)
    }

  test("a NaN and a null vector through q40–q45: each query matches its oracle") {
    // sf0.01's first 6 vectors, the 2nd with a NaN first component and the
    // 4th null, written as one file (the oracle's views read
    // `<table>.parquet` as a file); the other tables are sf0.01's.
    val dir = Files.createTempDirectory("graft-vectors")
    try {
      val first = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(6)
      val ids   = first.select(col("vec_id")).collect().map(_.getLong(0))
      val nan   = transform(col("embedding"), (x, i) => when(i === 0, lit(Float.NaN)).otherwise(x))
      first
        .withColumn("embedding", when(col("vec_id") === ids(1), nan)
          .when(col("vec_id") =!= ids(3), col("embedding")))
        .coalesce(1)
        .write.parquet(s"$dir/staged")
      val part = new File(s"$dir/staged").listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, dir.resolve("embeddings.parquet"))
      for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents"))
        Files.createSymbolicLink(dir.resolve(s"$t.parquet"), Path.of(s"$sf/$t.parquet"))
      val vectorQueries = SimilarityOps.all.map(_.name).toSet
      check(spark, vectorQueries, vectorQueries.size, dir.toString)
    } finally {
      Seq("rm", "-rf", dir.toString).!
    }
  }
}
