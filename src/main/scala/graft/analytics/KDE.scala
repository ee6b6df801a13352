package graft.analytics

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Weighted 2-D Gaussian KDE evaluated on a geodesic grid — the reference's
  * analytical centerpiece (`/root/reference/thisishappening/utils/data_utils.py:148-191`,
  * grid builder `:64-83`, invoked from `app.py:593-636`).
  *
  * scipy `gaussian_kde(points.T, bw_method=f, weights=w)` parity:
  *  - weights are normalized to Σw = 1;
  *  - data covariance uses `np.cov(..., aweights=w, bias=False)` semantics:
  *    Σ̂ = (E_w[xy] − μμᵀ) / (1 − Σw²) with normalized w;
  *  - a scalar `bw_method` multiplies the covariance directly: Σ = Σ̂·f²;
  *  - density z(g) = Σᵢ wᵢ · exp(−½·(g−xᵢ)ᵀΣ⁻¹(g−xᵢ)) / (2π·√det Σ);
  *  - the LinAlgError → zeros fallback (`data_utils.py:177-189`) maps to the
  *    `valid` guard: fewer than 2 points, degenerate weights, or a singular
  *    covariance yield z ≡ 0 instead of an error. Those inputs make 1 − Σw²
  *    or det exactly 0, so the divisions by them are `try_divide` (null, not
  *    an ANSI-mode DIVIDE_BY_ZERO error) and the guard then reads false.
  *
  * Execution shape (100 TB design): two aggregates and no point ⨯ grid
  * product. Pass 1 is ONE aggregate, keyed by tag, over UNNORMALIZED moments
  * (map-side partial, one small row per tag, broadcast back) — Σw, Σwx,
  * Σwy, Σw², Σwxx, Σwxy, Σwyy and the count pin down the normalized mean,
  * Σw²-degeneracy term and covariance algebraically (mx = Σwx/Σw,
  * sw2 = Σw²/(Σw)², …), so no pass sums the weights first and re-scans to
  * normalize. The per-tag constants (inverse covariance, normalization
  * constant, `valid`) are one projection over that aggregate. Pass 2 joins
  * each point to its tag's broadcast row and folds it into [[GridSum]],
  * keyed by tag: a dense nx·ny array per tag, filled in the partial
  * aggregate on the points' own partitions, so the only shuffle moves one
  * array per (tag, map partition), never the data, and no grid rows exist
  * anywhere. The arrays are exploded to one row per cell at the end. No
  * collect, no driver math.
  */
object KDE {

  /** Evaluation grid (`data_utils.py:64-83`): cell (i, j) sits at
    * x = xmin + i·dx (ascending) and y = ymax − j·dy (DESCENDING). Linspace
    * arithmetic (`min + i·step`) is plain IEEE double in both engines.
    */
  final case class Grid(xmin: Double, xmax: Double, ymin: Double, ymax: Double, nx: Int, ny: Int) {
    val dx: Double = (xmax - xmin) / (nx - 1)
    val dy: Double = (ymax - ymin) / (ny - 1)
  }

  /** The [[Grid]] of these bounds and counts. `s` is unused; it stays because
    * perfbench's KDE probe calls `KDE.grid(spark, …)`.
    */
  def grid(s: SparkSession, xmin: Double, xmax: Double, ymin: Double, ymax: Double, nx: Int, ny: Int): Grid =
    Grid(xmin, xmax, ymin, ymax, nx, ny)

  /** Per-tag raw moments → inverse covariance + normalization constant, one
    * row per tag: the moments aggregate and one projection whose columns are
    * built from the Scala values below, so no intermediate column exists.
    * Output keeps `sw` so the kernel pass can normalize each point's weight
    * (wn = w / sw) with the same broadcast.
    */
  private def perTag(points: DataFrame, bw: Double): DataFrame = {
    val sw       = col("sw")
    val sw2      = col("sww") / (sw * sw)
    val (mx, my) = (col("swx") / sw, col("swy") / sw)
    def cov(swab: String, mu1: Column, mu2: Column): Column =
      try_divide(col(swab) / sw - mu1 * mu2, lit(1.0) - sw2) * lit(bw * bw)
    val (kxx, kxy, kyy) = (cov("swxx", mx, mx), cov("swxy", mx, my), cov("swyy", my, my))
    val det             = kxx * kyy - kxy * kxy
    points
      .groupBy(col("tag"))
      .agg(
        sum(col("w")).as("sw"),
        sum(col("w") * col("x")).as("swx"),
        sum(col("w") * col("y")).as("swy"),
        sum(col("w") * col("w")).as("sww"),
        sum(col("w") * col("x") * col("x")).as("swxx"),
        sum(col("w") * col("x") * col("y")).as("swxy"),
        sum(col("w") * col("y") * col("y")).as("swyy"),
        count(lit(1)).as("n"),
      )
      .select(
        col("tag"),
        sw,
        try_divide(kyy, det).as("ixx"),
        try_divide(kxx, det).as("iyy"),
        try_divide(-kxy, det).as("ixy"),
        try_divide(lit(1.0), lit(2.0 * math.Pi) * sqrt(det)).as("nc"),
        (col("n") >= 2 && sw2 < 1.0 && det > 0.0).as("valid"),
      )
  }

  /** Per-cell weighted Gaussian KDE density: [[densityByTag]] with every
    * point under one tag.
    *
    * @param points columns `x`, `y`, `w` (raw weights, any positive scale)
    * @param grid   the evaluation grid
    * @param bw     scipy `bw_method` scalar covariance factor
    * @return `cell_x, cell_y, z` for every grid cell (z = 0 when degenerate),
    *         no rows when `points` is empty
    */
  def density(points: DataFrame, grid: Grid, bw: Double): DataFrame =
    densityByTag(points.withColumn("tag", lit("")), grid, bw).drop("tag")

  /** Per-(tag, cell) weighted Gaussian KDE density for SEVERAL point sets in
    * one pass, keyed by a `tag` column: the math of the class doc applied
    * independently per tag. The moment aggregate is keyed by `tag` and the
    * per-tag scalars attach back via a broadcast hash join on `tag`.
    *
    * Why one pass (guide §1.2/§2.4, r21 verdict item 2): q24 evaluates the
    * SAME events scan + decay-weight window for two disjoint time windows.
    * As two separate densities the subtrees differ (different filters), so
    * nothing is reused and the scan + window exchange + kernel pass all run
    * twice. With the windows tagged in one DataFrame, the whole input
    * pipeline is one subtree: the scan runs once, the weighting window runs
    * once (partitioned by (user_id, tag) ≡ per-window per-user ranks), and
    * the kernel pass computes exactly the same exp() terms as the two
    * separate passes — in one operator pass.
    *
    * @param points columns `tag`, `x`, `y`, `w`
    * @return `tag, cell_x, cell_y, z` for every (tag, grid cell) with ≥ 1
    *         point carrying that tag; z = 0 unless the tag is `valid`
    */
  def densityByTag(points: DataFrame, grid: Grid, bw: Double): DataFrame = {
    val inputs = Seq(col("x"), col("y"), col("w") / col("sw"), col("ixx"), col("iyy"), col("ixy"))
    val kernel = GridSum(grid, inputs.map(c => Bridge.expression(c.cast(DoubleType))))
    points
      .join(broadcast(perTag(points, bw)), "tag")
      .groupBy(col("tag"), col("valid"), col("nc"))
      .agg(Bridge.column(kernel.toAggregateExpression()).as("s"))
      .select(col("tag"), col("valid"), col("nc"), posexplode(col("s")))
      .select(
        col("tag"),
        expr(s"pos div ${grid.ny}").as("cell_x"),
        (col("pos") % grid.ny).cast("long").as("cell_y"),
        when(col("valid"), col("col") * col("nc")).otherwise(lit(0.0)).as("z"),
      )
  }
}

/** The kernel pass's aggregate over the doubles `(x, y, wn, ixx, iyy, ixy)`:
  * the dense nx·ny array of Σ wn·exp(−½·q) per cell, cell (i, j) at index
  * i·ny + j, where q = dx·dx·ixx + 2·dx·dy·ixy + dy·dy·iyy for the offsets
  * (dx, dy) = (gx − x, gy − y) from the cell's grid point (gx, gy).
  * `update` adds one point's kernel to every cell with the operations, in
  * the order, that the SQL form of this sum evaluates (Spark's `exp` is
  * `StrictMath.exp`), so each term is bit-identical to it; `merge` adds two
  * arrays element by element, as `sum` merges its partials. A row with a
  * null input adds nothing, as `sum` skips it: the points of a degenerate
  * tag (null `ixx`) leave its array at 0.
  */
private[analytics] case class GridSum(
    grid: KDE.Grid,
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[Array[Double]] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Double] = new Array[Double](grid.nx * grid.ny)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = children.map(_.eval(input))
    if (!v.contains(null)) {
      val Seq(x, y, wn, ixx, iyy, ixy) = v.map(_.asInstanceOf[Double])
      var i = 0
      while (i < grid.nx) {
        val dxc = grid.xmin + i * grid.dx - x
        var j = 0
        while (j < grid.ny) {
          val dyc = grid.ymax - j * grid.dy - y
          val q   = dxc * dxc * ixx + 2.0 * dxc * dyc * ixy + dyc * dyc * iyy
          buf(i * grid.ny + j) += wn * StrictMath.exp(-0.5 * q)
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var k = 0
    while (k < buf.length) { buf(k) += other(k); k += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] =
    buf.foldLeft(ByteBuffer.allocate(8 * buf.length))(_.putDouble(_)).array()

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val buf = createAggregationBuffer()
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GridSum = copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): GridSum = copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): GridSum = copy(children = newChildren)
}
