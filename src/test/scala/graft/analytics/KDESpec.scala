package graft.analytics

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.{SparkEntry, SparkSpec}

/** KDE edge cases on crafted point sets: the one-tag entry point agrees with
  * the tagged one, and the degenerate inputs the reference maps to its
  * LinAlgError → zeros fallback (`data_utils.py:177-189`) give z ≡ 0. The
  * grid aggregate equals the point ⨯ grid DataFrame algebra it replaced on
  * random tagged frames, and the KDE queries' plans hold no such product.
  */
class KDESpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val NX = 6
  private val NY = 5
  private val grid = KDE.Grid(-10.0, 10.0, -10.0, 10.0, NX, NY)

  private def points(pts: Seq[(Double, Double, Double)]): DataFrame = pts.toDF("x", "y", "w")

  private def z(df: DataFrame): Map[(Long, Long), Double] =
    df.select("cell_x", "cell_y", "z").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def close(v: Double, w: Double): Boolean =
    v == w || math.abs(v - w) <= 1e-12 * math.max(math.abs(v), math.abs(w))

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
      for ((cell, v) <- one) assert(close(v, mine(cell)), s"$tag $cell: $v vs ${mine(cell)}")
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

  /** The DataFrame algebra the grid aggregate replaced: every point crossed
    * with a `range ⨯ range` frame of the grid's cells, the kernel written as
    * column expressions and summed per (tag, cell).
    */
  private def crossJoinDensity(pts: DataFrame, g: KDE.Grid, bw: Double): DataFrame = {
    val cells = spark.range(g.nx.toLong).select(col("id").as("cell_x"))
      .crossJoin(spark.range(g.ny.toLong).select(col("id").as("cell_y")))
      .withColumn("gx", lit(g.xmin) + col("cell_x") * lit(g.dx))
      .withColumn("gy", lit(g.ymax) - col("cell_y") * lit(g.dy))
    val (dxc, dyc) = (col("gx") - col("x"), col("gy") - col("y"))
    val quad       = dxc * dxc * col("ixx") + lit(2.0) * dxc * dyc * col("ixy") + dyc * dyc * col("iyy")
    pts
      .join(broadcast(KDE.perTag(pts, bw)), "tag")
      .crossJoin(broadcast(cells))
      .groupBy(col("tag"), col("cell_x"), col("cell_y"), col("valid"), col("nc"))
      .agg(sum(col("w") / col("sw") * exp(lit(-0.5) * quad)).as("s"))
      .select(col("tag"), col("cell_x"), col("cell_y"), when(col("valid"), col("s") * col("nc")).otherwise(lit(0.0)).as("z"))
  }

  test("densityByTag equals the point ⨯ grid cross join on random tagged frames") {
    // nx ≠ ny, so a transposed cell index changes the key set. Besides free
    // points, a tag may hold one point or points on y = x, whose null inverse
    // covariance and constant must give zeros, not an error.
    val w = Gen.choose(0.1, 2.0)
    val free = for {
      n  <- Gen.choose(2, 12)
      ps <- Gen.listOfN(n, for (x <- Gen.choose(-12.0, 12.0); y <- Gen.choose(-12.0, 12.0); v <- w) yield (x, y, v))
    } yield ps
    val single    = for (x <- Gen.choose(-5.0, 5.0); y <- Gen.choose(-5.0, 5.0); v <- w) yield List((x, y, v))
    val collinear = Gen.choose(2, 6).flatMap(Gen.listOfN(_, for (t <- Gen.choose(-8.0, 8.0); v <- w) yield (t, t, v)))
    val cases = for {
      nx   <- Gen.choose(2, 7)
      ny   <- Gen.choose(2, 7).suchThat(_ != nx)
      x0   <- Gen.choose(-15.0, 0.0)
      y0   <- Gen.choose(-15.0, 0.0)
      span <- Gen.choose(5.0, 25.0)
      bw   <- Gen.choose(0.2, 1.5)
      tags <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.frequency(3 -> free, 1 -> single, 1 -> collinear)))
    } yield (KDE.Grid(x0, x0 + span, y0, y0 + 0.7 * span, nx, ny), bw, tags)
    def cellsOf(df: DataFrame): Map[(String, Long, Long), Double] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val prop = Prop.forAllNoShrink(cases) { case (g, bw, tags) =>
      val pts = tags.zipWithIndex.flatMap { case (ps, i) => ps.map { case (x, y, v) => (s"t$i", x, y, v) } }
        .toDF("tag", "x", "y", "w")
      val got = cellsOf(KDE.densityByTag(pts, g, bw))
      val ref = cellsOf(crossJoinDensity(pts, g, bw))
      got.size == tags.size * g.nx * g.ny && got.keySet == ref.keySet && got.forall { case (k, v) => close(v, ref(k)) }
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), prop)
    assert(result.passed, result.status)
  }

  /** True iff `j` joins against a broadcast global aggregate, so at most one
    * row: the window anchor `max(ts)` every event query crosses with events.
    */
  private def againstOneRow(j: BroadcastNestedLoopJoinExec): Boolean =
    find(if (j.buildSide == BuildRight) j.right else j.left)(_.isInstanceOf[BaseAggregateExec])
      .exists(_.asInstanceOf[BaseAggregateExec].groupingExpressions.isEmpty)

  test("q23 and q24 run no point ⨯ grid nested-loop join, cartesian product or range") {
    for (name <- Seq("q23_kde_density", "q24_kde_diff")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      df.collect()
      val products = collectWithSubqueries(df.queryExecution.executedPlan) {
        case p @ (_: CartesianProductExec | _: RangeExec)       => p.nodeName
        case j: BroadcastNestedLoopJoinExec if !againstOneRow(j) => j.nodeName
      }
      assert(products.isEmpty, s"$name: $products")
    }
  }

  test("densityByTag launches as many jobs on 1,000 points as on 10") {
    def jobs(n: Int): Int = TestListenerBus.jobs(spark.sparkContext) {
      val pts = (0 until n).map(i => ("a", 9.0 * math.sin(i.toDouble), 9.0 * math.cos(1.7 * i), 1.0 + i % 3)).toDF("tag", "x", "y", "w")
      assert(KDE.densityByTag(pts, grid, 0.3).collect().length == NX * NY)
    }
    assert(jobs(10) == jobs(1000))
  }
}
