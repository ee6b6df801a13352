package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Execution shape (100 TB design): two passes of pure DataFrame algebra.
  * Pass 1 is ONE aggregate, keyed by tag, over UNNORMALIZED moments
  * (map-side partial, one small row per tag, broadcast back) — Σw, Σwx,
  * Σwy, Σw², Σwxx, Σwxy, Σwyy and the count pin down the normalized mean,
  * Σw²-degeneracy term and covariance algebraically (mx = Σwx/Σw,
  * sw2 = Σw²/(Σw)², …), so
  * the separate "sum the weights first, then re-scan to normalize" pass the
  * r21 shape paid (an extra scan + weighting window + broadcast barrier on
  * the critical path) is gone. Pass 2 is points ⨯ broadcast(grid) with a
  * map-side partial sum grouped by (tag, cell) — the only shuffle moves
  * ≤ nx·ny·partitions partial rows, never the data. No collect, no driver
  * math, whole-stage codegen throughout (exp/mul builtins only).
  */
object KDE {

  /** The kernel-sum pass multiplies every point row by all nx·ny grid cells
    * before aggregating, so its cost per input byte is ~400× a normal stage's
    * — but the exchange feeding it carries only the (narrow, post-filter)
    * point rows, and AQE's byte-based coalescing happily shrinks that to ONE
    * partition, serializing the whole kernel computation (measured: the fused
    * q24 ran its 2.7 M-row exp() stage on a single task). An explicit
    * repartition with a pinned partition count (the session's shuffle
    * parallelism — cpus under the bench contract, cluster-sized in
    * production) keeps the compute-heavy stage wide; the exchange itself
    * moves only the points, never the point⨯grid product.
    */
  private def widened(points: DataFrame): DataFrame =
    points.repartition(
      graft.core.Tables.shufflePartitions(points.sparkSession),
      col("x"),
      col("y"),
    )

  /** Evaluation grid (`data_utils.py:64-83`): x ascending, y DESCENDING, cell
    * ids are (col, row) indices. Linspace arithmetic (`min + i·step`) is plain
    * IEEE double in both engines.
    */
  def grid(
      s: SparkSession,
      xmin: Double,
      xmax: Double,
      ymin: Double,
      ymax: Double,
      nx: Int,
      ny: Int,
  ): DataFrame = {
    val dx = (xmax - xmin) / (nx - 1)
    val dy = (ymax - ymin) / (ny - 1)
    s.range(nx.toLong)
      .select(col("id").as("cell_x"))
      .crossJoin(s.range(ny.toLong).select(col("id").as("cell_y")))
      .withColumn("gx", lit(xmin) + col("cell_x") * lit(dx))
      .withColumn("gy", lit(ymax) - col("cell_y") * lit(dy))
  }

  /** Raw-moment aggregate expressions over (x, y, w). */
  private def momentAggs: Seq[Column] = Seq(
    sum(col("w")).as("sw"),
    sum(col("w") * col("x")).as("swx"),
    sum(col("w") * col("y")).as("swy"),
    sum(col("w") * col("w")).as("sww"),
    sum(col("w") * col("x") * col("x")).as("swxx"),
    sum(col("w") * col("x") * col("y")).as("swxy"),
    sum(col("w") * col("y") * col("y")).as("swyy"),
    count(lit(1)).as("n"),
  )

  /** Per-tag normalized covariance → inverse covariance + normalization
    * constant, from the raw moments. Output keeps `sw` so the kernel pass can
    * normalize each point's weight (wn = w / sw) with the same broadcast.
    */
  private def ivFrom(moments: DataFrame, bw: Double): DataFrame = {
    val f2 = bw * bw
    def covTerm(exy: Column, mu1: Column, mu2: Column): Column =
      try_divide(exy - mu1 * mu2, lit(1.0) - col("sw2")) * lit(f2)
    moments
      .select(
        col("tag"),
        col("n"),
        col("sw"),
        (col("sww") / (col("sw") * col("sw"))).as("sw2"),
        (col("swx") / col("sw")).as("mx"),
        (col("swy") / col("sw")).as("my"),
        (col("swxx") / col("sw")).as("sxx"),
        (col("swxy") / col("sw")).as("sxy"),
        (col("swyy") / col("sw")).as("syy"),
      )
      .select(
        col("tag"),
        col("n"),
        col("sw"),
        col("sw2"),
        covTerm(col("sxx"), col("mx"), col("mx")).as("kxx"),
        covTerm(col("sxy"), col("mx"), col("my")).as("kxy"),
        covTerm(col("syy"), col("my"), col("my")).as("kyy"),
      )
      .withColumn("det", col("kxx") * col("kyy") - col("kxy") * col("kxy"))
      .withColumn("ixx", try_divide(col("kyy"), col("det")))
      .withColumn("iyy", try_divide(col("kxx"), col("det")))
      .withColumn("ixy", try_divide(-col("kxy"), col("det")))
      .withColumn("nc", try_divide(lit(1.0), lit(2.0 * math.Pi) * sqrt(col("det"))))
      .withColumn(
        "valid",
        col("n") >= 2 && col("sw2") < 1.0 && col("det") > 0.0,
      )
  }

  private def quad: Column = {
    val dxc = col("gx") - col("x")
    val dyc = col("gy") - col("y")
    dxc * dxc * col("ixx") + lit(2.0) * dxc * dyc * col("ixy") + dyc * dyc * col("iyy")
  }

  /** Per-cell weighted Gaussian KDE density: [[densityByTag]] with every
    * point under one tag.
    *
    * @param points columns `x`, `y`, `w` (raw weights, any positive scale)
    * @param gridDf columns `cell_x`, `cell_y`, `gx`, `gy` (small — broadcast)
    * @param bw     scipy `bw_method` scalar covariance factor
    * @return `cell_x, cell_y, z` for every grid cell (z = 0 when degenerate),
    *         no rows when `points` is empty
    */
  def density(points: DataFrame, gridDf: DataFrame, bw: Double): DataFrame =
    densityByTag(points.withColumn("tag", lit("")), gridDf, bw).drop("tag")

  /** Per-(tag, cell) weighted Gaussian KDE density for SEVERAL point sets in
    * one pass, keyed by a `tag` column: the math of the class doc applied
    * independently per tag. The moment aggregate is keyed by `tag` and the
    * per-tag scalars attach back via a broadcast hash join on `tag`.
    *
    * Why one pass (guide §1.2/§2.4, r21 verdict item 2): q24 evaluates the
    * SAME events scan + decay-weight window for two disjoint time windows.
    * As two separate densities the subtrees differ (different filters), so
    * nothing is reused and the scan + window exchange + grid⨯points kernel
    * pass all run twice. With the windows tagged in one DataFrame, the whole
    * input pipeline is one subtree: the scan runs once, the weighting window
    * runs once (partitioned by (user_id, tag) ≡ per-window per-user ranks),
    * and the kernel pass computes exactly the same exp() terms as the two
    * separate passes — in one operator pass.
    *
    * @param points columns `tag`, `x`, `y`, `w`
    * @return `tag, cell_x, cell_y, z` for every (tag, grid cell) with ≥ 1
    *         point carrying that tag
    */
  def densityByTag(points: DataFrame, gridDf: DataFrame, bw: Double): DataFrame = {
    val iv =
      ivFrom(points.groupBy(col("tag")).agg(momentAggs.head, momentAggs.tail: _*), bw)
    widened(points)
      .join(broadcast(iv), "tag")
      .select(col("tag"), col("x"), col("y"), (col("w") / col("sw")).as("wn"), col("ixx"), col("iyy"), col("ixy"), col("nc"), col("valid"))
      .crossJoin(broadcast(gridDf))
      .groupBy(col("tag"), col("cell_x"), col("cell_y"), col("valid"), col("nc"))
      .agg(sum(col("wn") * exp(lit(-0.5) * quad)).as("s"))
      .select(
        col("tag"),
        col("cell_x"),
        col("cell_y"),
        when(col("valid"), col("s") * col("nc")).otherwise(lit(0.0)).as("z"),
      )
  }
}
