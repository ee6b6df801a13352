package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.Session

/** Benchmark main — driver runs this per-round at sf0.1 → BENCH_r{N}.json.
  *
  * Harness rules (judge round-1 findings + r16–r20 timeout post-mortems):
  *  - deterministic run order: queries sorted by name, so per-query timings are
  *    comparable across rounds and GC pressure from one heavy query lands on
  *    the same neighbor every time;
  *  - the timed action is the built-in noop sink (guide §1.4): it materializes
  *    every column of every row on the executors and discards the result.
  *    Rounds ≤20 used `foreachPartition(drain)`, which pays an extra
  *    InternalRow→Row deserialization per row that the real query does not
  *    have (exactly the `df.rdd.count()` trap §1.4 warns about). Methodology
  *    change is recorded in OPTIMIZATION_r21.md with numbers under both.
  *  - the result JSON is printed ONCE on its own line at the end *and*
  *    `BENCH_LOCAL.json` (env `SPARK_GRAFT_BENCH_OUT` overrides) is rewritten
  *    after EVERY query with the cumulative result, so a driver timeout kill
  *    (rc=124 zeroed the artifact in r16/r18/r19/r20) still leaves a complete
  *    parseable partial on disk, and per-query `[bench]` stderr lines survive
  *    in the driver's log tail;
  *  - a wall-clock budget (env `SPARK_GRAFT_BENCH_BUDGET_S`, default 1500 s —
  *    safely under the driver's observed ≥39 min kill) sheds reps 3→1 past
  *    50% of budget and skips remaining queries entirely past 100%, recording
  *    them under a top-level `"skipped"` key. A skipped entry can only happen
  *    where the old harness would have produced NO artifact at all;
  *  - a query that throws is listed under a top-level `"failed"` key and left
  *    out of `"queries"` and `"value"`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)

    // Median-of-3 per query: single-shot timings on a shared machine have been
    // noise-dominated (same code swung 4 s → 352 s between rounds); the median
    // of three back-to-back runs is robust to a single contention spike while
    // keeping total bench wall-clock bounded. Override with SPARK_GRAFT_BENCH_REPS.
    val reps =
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    val budgetS =
      sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S").flatMap(_.trim.toIntOption).getOrElse(1500).max(60)
    val out    = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val tStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - tStart) / 1e9

    def round3(v: Double): BigDecimal =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)

    // Uncounted JVM/session warmup (guide §1): one cheap query primes the
    // parquet reader, shuffle machinery, and codegen framework so the
    // alphabetically-first timed query does not absorb session startup.
    // NOTE: per-plan JIT warmup still exists — the first execution of a
    // heavy interpreted-expression plan (e.g. q36 at low core counts) can
    // run several times slower than warm; the median-of-3 reps is what
    // absorbs that. Do not bench with SPARK_GRAFT_BENCH_REPS=1 at low core
    // counts and expect steady-state numbers.
    spark.sparkContext.setJobDescription("bench:warmup")
    try SparkEntry.queries("q13_newest_event")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }

    val results = mutable.LinkedHashMap.empty[String, Double]
    val skipped = mutable.ArrayBuffer.empty[String]
    val failed  = mutable.ArrayBuffer.empty[String]

    def assemble(): String = {
      val qs    = results.map { case (k, v) => s""""$k":${round3(v)}""" }.mkString("{", ",", "}")
      val total = round3(results.values.sum)
      def names(key: String, ns: Seq[String]): String =
        if (ns.isEmpty) ""
        else ns.map("\"" + _ + "\"").mkString(s""","$key":[""", ",", "]")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
        names("skipped", skipped.toSeq) + names("failed", failed.toSeq) + "}"
    }
    def writeLocal(): Unit =
      try Files.writeString(Paths.get(out), assemble() + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }

    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val repsNow =
        if (elapsedS > budgetS) 0
        else if (elapsedS > budgetS * 0.5) 1
        else reps
      if (repsNow == 0) {
        skipped += name
        System.err.println(f"[bench] SKIP $name (budget ${budgetS}s exhausted at ${elapsedS}%.1f s)")
      } else {
        spark.sparkContext.setJobDescription(s"bench:$name")
        // A query that throws goes under "failed", never into "queries": its
        // time until the exception would read as a speed-up.
        try {
          val times = (1 to repsNow).map { _ =>
            val t0 = System.nanoTime()
            // noop sink: eagerly computes every column of every row on the
            // executors, discards the result — guide §1.4's timed action.
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          val median = times(times.length / 2)
          results(name) = median
          System.err.println(
            f"[bench] done $name median=$median%.3f s reps=$repsNow elapsed=$elapsedS%.1f s",
          )
        } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: $e")
        }
      }
      // Incremental artifact: the on-disk JSON is complete and parseable after
      // every query, so a kill at any point loses at most the in-flight query.
      writeLocal()
    }
    spark.sparkContext.setJobDescription(null)

    // Own line with no prefix risk + the (final) file copy for the driver.
    println()
    println(assemble())
    spark.stop()
  }
}
