package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.sys.process._

import org.apache.spark.sql.SparkSession

/** The correctness gate inside tier-1: dumps every query at sf0.01 with
  * [[Verify.dump]] and compares each with its DuckDB oracle through
  * `tools/check_oracle.py`, and the fold-order-sensitive queries again at
  * other shuffle partition counts. A missing python3, duckdb or pandas fails
  * the suite rather than skipping it.
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

  /** Dumps the queries `keep` selects in `session` and checks each against
    * its oracle with `tools/check_oracle.py`, which must report `n` passes.
    */
  private def check(session: SparkSession, keep: String => Boolean, n: Int): Unit = {
    val script = new File("tools/check_oracle.py")
    assert(script.isFile, s"no ${script.getAbsolutePath}")
    val (depsCode, depsOut) = run(Seq("python3", "-c", "import duckdb, pandas"))
    assert(depsCode == 0, s"the oracle check needs python3 with duckdb and pandas:\n$depsOut")

    val out: Path = Files.createTempDirectory("graft-oracle")
    try {
      val failed = Verify.dump(session, sf, out.toString, keep)
      assert(failed.isEmpty, s"queries threw: ${failed.mkString(",")}")
      val (code, report) = run(Seq("python3", script.getPath, sf, out.toString))
      assert(code == 0, s"check_oracle.py exited $code:\n$report")
      assert(report.contains(s"$n passed, 0 failed"), report)
    } finally {
      Seq("rm", "-rf", out.toString).!
    }
  }

  test("every query matches its DuckDB oracle at sf0.01") {
    check(spark, _ => true, SparkEntry.queries.size)
  }

  // The KDE and DBSCAN sums fold in an order that follows the partitioning;
  // their oracle compare must hold at other shuffle partition counts too.
  private val foldOrderSensitive = Set("q23_kde_density", "q24_kde_diff", "q25_dbscan_clusters")

  for (partitions <- Seq(1, 7))
    test(s"q23, q24 and q25 match their oracles at spark.sql.shuffle.partitions=$partitions") {
      // A new session, so the conf shared by every suite stays as it is.
      val session = spark.newSession()
      session.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      check(session, foldOrderSensitive, foldOrderSensitive.size)
    }
}
