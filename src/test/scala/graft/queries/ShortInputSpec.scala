package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}
import graft.core.Tables

/** The shingle and top-k queries on crafted tables shorter than their
  * window: documents of 0 to 3 tokens through q35–q37, whose 3-token
  * shingles drop the shorter ones, and 3 embeddings through q43, whose
  * top-3 has only 2 candidates per vector.
  */
class ShortInputSpec extends SparkSpec {

  private val sf = new java.io.File(sfDir).getParent + "/sf0.01"

  /** Writes `rows` as `<name>.parquet` in a temp dir and runs `body` on it. */
  private def withTable(name: String, rows: DataFrame)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("short-input-spec")
    try {
      rows.write.parquet(s"$dir/$name.parquet")
      body(dir.toString)
    } finally Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }

  private def run(name: String, dir: String): Seq[Row] = SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("documents of 0, 1 and 2 tokens drop out of q35, q36 and q37; the 3-token ones pair up") {
    // Docs 3 and 4 have the same one shingle once lowercased.
    val texts = Seq(0L -> "", 1L -> "  alpha  ", 2L -> "alpha beta", 3L -> "alpha beta gamma", 4L -> "Alpha  beta GAMMA")
    val docs = spark.createDataFrame(
      texts.map { case (id, text) => Row(id, text, "en", "crafted", text.length.toLong) }.asJava,
      Tables.documents(spark, sf).schema)
    withTable("documents", docs) { dir =>
      val sigs = run("q35_minhash_signature", dir)
      assert(sigs.map(_.getAs[Long]("doc_id")) == Seq(3L, 4L))
      assert(sigs.head.toSeq.tail == sigs(1).toSeq.tail, "equal shingle sets, equal signatures")
      assert(run("q36_minhash_candidates", dir).map(r => (r.getLong(0), r.getLong(1))) == Seq((3L, 4L)))
      assert(run("q37_ngram_jaccard", dir).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) == Seq((3L, 4L, 1.0)))
    }
  }

  test("three embeddings through q43: each vector ranks its 2 neighbours 1 and 2, with no rank 3") {
    val three = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(3)
    val ids   = three.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    withTable("embeddings", three) { dir =>
      val ranked = run("q43_cosine_topk", dir).groupBy(_.getAs[Long]("a_id"))
      assert(ranked.keySet == ids)
      for ((a, rows) <- ranked) {
        assert(rows.map(_.getAs[Int]("rank")) == Seq(1, 2), a)
        assert(rows.map(_.getAs[Long]("neighbor_id")).toSet == ids - a, a)
      }
    }
  }
}
