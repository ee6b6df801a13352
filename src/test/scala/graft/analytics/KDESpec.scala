package graft.analytics

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** KDE edge cases on crafted point sets: the one-tag entry point agrees with
  * the tagged one, and the degenerate inputs the reference maps to its
  * LinAlgError → zeros fallback (`data_utils.py:177-189`) give z ≡ 0.
  */
class KDESpec extends SparkSpec {

  import spark.implicits._

  private val NX = 6
  private val NY = 5
  private def grid = KDE.grid(spark, -10.0, 10.0, -10.0, 10.0, NX, NY)

  private def points(pts: Seq[(Double, Double, Double)]): DataFrame = pts.toDF("x", "y", "w")

  private def z(df: DataFrame): Map[(Long, Long), Double] =
    df.select("cell_x", "cell_y", "z").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("density equals densityByTag for each tag of a two-tag frame with unequal sizes") {
    val a = Seq((0.0, 0.0, 1.0), (1.5, -2.0, 0.5), (-3.0, 1.0, 2.0), (4.0, 4.5, 1.0), (-1.0, -6.0, 0.25))
    val b = (0 until 12).map(i => (i * 1.3 - 7.0, math.sin(i.toDouble) * 5.0, 1.0 / (1 + i)))
    val tagged = (a.map(p => ("a", p._1, p._2, p._3)) ++ b.map(p => ("b", p._1, p._2, p._3)))
      .toDF("tag", "x", "y", "w")
    val byTag = KDE.densityByTag(tagged, grid, 0.3).collect()
    assert(byTag.map(_.getString(0)).toSet == Set("a", "b"))
    for ((tag, pts) <- Seq("a" -> a, "b" -> b)) {
      val one  = z(KDE.density(points(pts), grid, 0.3))
      val mine = byTag.filter(_.getString(0) == tag).map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
      assert(one.size == NX * NY && one.keySet == mine.keySet, tag)
      assert(one.values.exists(_ > 0.0), s"$tag: expected a non-degenerate density")
      for ((cell, v) <- one) {
        val w = mine(cell)
        assert(v == w || math.abs(v - w) <= 1e-12 * math.max(math.abs(v), math.abs(w)), s"$tag $cell: $v vs $w")
      }
    }
  }

  test("no points give no rows") {
    assert(KDE.density(points(Seq.empty), grid, 0.3).collect().isEmpty)
    val noTags = Seq.empty[(String, Double, Double, Double)].toDF("tag", "x", "y", "w")
    assert(KDE.densityByTag(noTags, grid, 0.3).collect().isEmpty)
  }

  test("one point gives z = 0 on every cell") {
    val one = z(KDE.density(points(Seq((1.0, 2.0, 1.0))), grid, 0.3))
    assert(one.size == NX * NY && one.values.forall(_ == 0.0))
  }

  test("collinear points (singular covariance) give z = 0 on every cell") {
    // On the diagonal y = x the moment sums for xx, xy and yy are computed
    // from identical values, so det = kxx·kyy − kxy² is exactly 0.
    val line = z(KDE.density(points(Seq((-2.0, -2.0, 1.0), (0.5, 0.5, 2.0), (3.0, 3.0, 1.0))), grid, 0.3))
    assert(line.size == NX * NY && line.values.forall(_ == 0.0))
  }
}
