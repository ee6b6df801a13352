package graft

import graft.core.Session

/** Fast-iteration timing entry point (see .claude/skills/verify/SKILL.md):
  * `runMain graft.IsoQ q1,q2 /root/testdata/sf0.01` prints `TIMING <name> <sec>`
  * per query with no oracle compare.
  */
object IsoQ {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: IsoQ <name1,name2,...> <sfDir>")
      System.err.println("valid query names:\n  " + SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(",")}")
      System.err.println("valid query names:\n  " + SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val sfDir = args(1)
    val spark = Session.local(Session.cpus)
    for (name <- names) {
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
        println(s"==== EXPLAIN $name ====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      spark.sparkContext.setJobDescription(s"isoq:$name")
      val t0 = System.nanoTime()
      // Same timed action as Bench: the noop sink (guide §1.4).
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"TIMING $name ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
