package graft.analytics

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.functions.Geo

/** Weighted haversine DBSCAN — the reference's clustering operator
  * (`thisishappening/utils/cluster_utils.py:12-57`: sklearn DBSCAN,
  * `metric=haversine`, `sample_weight`, eps sweep until ≥ N clusters).
  *
  * One kernel ([[Kernel]]), two placements (SURVEY §2.10). The kernel finds
  * eps-neighbours in the 3×3 cells of a `cellDeg` grid; a point is core when
  * its weight plus its neighbours' reach `minWeight` (sklearn's
  * `sample_weight` core condition, A10); a union-find over core-core edges
  * names each component by its minimum core id. A border point (non-core,
  * with a core neighbour) takes its smallest core neighbour's label (sklearn
  * lets the first core to claim it win, which depends on visit order;
  * SURVEY §7.4); noise keeps −1, like sklearn.
  *
  * (a) **Small inputs** (≤ [[SmallInputThreshold]] points): the kernel runs
  *     once on the driver and returns one partition, bounded by the threshold
  *     (one row per point). The reference never clusters more than one query
  *     window (capped at 9 k rows, `data_base.py:464-482`), so in its
  *     operating envelope this is the only placement ever taken.
  * (b) **Large inputs**: the kernel runs per cell block on the executors,
  *     the MR-DBSCAN shape (He et al., ICPADS 2011). A block is one cell (its
  *     own points) plus its 3×3 halo, so it holds every eps-neighbour of its
  *     own points; each point goes to 9 blocks. Pass 1 sets the own points'
  *     core flags. Pass 2 regroups the flagged points and runs the union-find
  *     over the own cores' edges; each block names the component of each own
  *     core and of each halo core next to an own point. A point named by
  *     several blocks links their components: at most 8 links per boundary
  *     core, so the merge grows with the boundary cores, not the points. The
  *     driver merges the distinct links with the same union-find and
  *     broadcasts component → global label. One job, whatever the data.
  *
  * Both placements give bit-identical labels: the same cells, the same
  * neighbour visiting order (cells, then ids) and so the same weight sums.
  */
object DBSCAN {

  /** Below this many points the kernel runs on the driver. 100 k points ×
    * 40 B ≈ 4 MB on the driver — far below any sane driver heap.
    */
  val SmallInputThreshold = 100000

  /** @param points  columns `id` (long), `x` (lon deg), `y` (lat deg), `w`
    * @param epsKm   neighborhood radius (haversine, km)
    * @param minWeight weighted core threshold (sklearn `min_samples` with weights)
    * @param cellDeg bucketing cell size in degrees — must be ≥ eps in degrees
    *                at the data's latitudes for 3×3 probing to be exhaustive
    * @return `id, cluster_label` — label = min id in cluster, −1 for noise
    */
  def cluster(
      points: DataFrame,
      epsKm: Double,
      minWeight: Double,
      cellDeg: Double,
      smallThreshold: Int = SmallInputThreshold,
  ): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points
      .select(col("id").cast("long"), col("x").cast("double"), col("y").cast("double"), col("w").cast("double"))
    def point(r: Row) = Pt(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    // One job decides the placement AND feeds the driver: collect at most
    // threshold+1 rows — if we got ≤ threshold the collection is the full
    // input; otherwise the blocks re-read the input.
    val probe = if (smallThreshold <= 0) Array.empty[Row] else pts.limit(smallThreshold + 1).collect()
    if (smallThreshold > 0 && probe.length <= smallThreshold) {
      val k = new Kernel(probe.map(point), _ => true, epsKm, cellDeg)
      k.setCores(minWeight)
      val labels = k.label().collect { case Left(o) => o.id -> labelOf(o, Map.empty) }.toSeq
      spark.createDataset(labels).toDF("id", "cluster_label").coalesce(1)
    } else {
      val parts = Tables.shufflePartitions(spark)
      // Sends each point to the block of its own cell and of the 8 around
      // it, and runs f on the kernel of each block.
      def blocks[T: ClassTag](in: RDD[Pt])(f: Kernel => Iterator[T]): RDD[T] = in
        .flatMap(p => for (dx <- -1 to 1; dy <- -1 to 1) yield cellKey(p.x, p.y, cellDeg, dx, dy) -> p)
        .groupByKey(parts)
        .flatMap { case (b, members) =>
          f(new Kernel(members.toArray, p => cellKey(p.x, p.y, cellDeg) == b, epsKm, cellDeg))
        }
      val flagged  = blocks(pts.rdd.map(point)) { k => k.setCores(minWeight); k.ownPoints }
      val verdicts = blocks(flagged)(_.label())
      val links = verdicts
        .flatMap(_.toOption)
        .groupByKey(parts)
        .flatMap { case (_, names) =>
          val ks = names.toArray.distinct
          ks.iterator.filter(_ != ks.min).map(ks.min -> _)
        }
        .distinct()
        .collect()
      val ids = links.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
      val uf  = new UnionFind(ids.length)
      links.foreach { case (a, b) =>
        uf.union(java.util.Arrays.binarySearch(ids, a), java.util.Arrays.binarySearch(ids, b))
      }
      val root = spark.sparkContext.broadcast(ids.indices.map(i => ids(i) -> ids(uf.find(i))).toMap)
      // Reading the labels re-runs pass 2's reduce side from its shuffle
      // files, so nothing is cached and nothing needs freeing.
      verdicts.flatMap(_.left.toOption).map(o => o.id -> labelOf(o, root.value)).toDF("id", "cluster_label")
    }
  }

  private final case class Pt(id: Long, x: Double, y: Double, w: Double, core: Boolean = false)

  /** The kernel's verdict on one own point: for a core point its component,
    * for a non-core point its core neighbours' components (none: noise).
    */
  private final case class Own(id: Long, comps: Array[Long])

  /** The label rule: a core point's label is its component's; a border
    * point's is the smallest among its core neighbours'; noise is −1.
    * `root` maps a block's component to its global label (identity if absent).
    */
  private def labelOf(o: Own, root: Map[Long, Long]): Long =
    if (o.comps.isEmpty) -1L else o.comps.iterator.map(c => root.getOrElse(c, c)).min

  /** The key of the cell `(dx, dy)` steps from the one holding (x, y): the
    * same `floor(x / cellDeg)` cells as the oracle SQL, exact while a cell
    * coordinate fits in an Int.
    */
  private def cellKey(x: Double, y: Double, cellDeg: Double, dx: Int = 0, dy: Int = 0): Long =
    ((math.floor(x / cellDeg).toLong + dx) << 32) | ((math.floor(y / cellDeg).toLong + dy) & 0xffffffffL)

  /** The kernel's eps test: the haversine formula operation for operation as
    * [[Geo.haversineKm]] builds it and [[Geo.haversineKmSql]] writes it for
    * q25's oracle, so only a pair within a rounding error of eps can differ
    * between engines.
    */
  private def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon), 2)
    2 * Geo.EarthRadiusKm * math.asin(math.sqrt(a))
  }

  /** Union-find over `0 until n` whose root is always the smallest member. */
  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) } // path halving
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** The DBSCAN kernel over one block of points; `own` picks the points the
    * block decides, the rest are its halo. Points are kept in id order, so
    * a union-find root (the smallest index) is the component's minimum id.
    */
  private final class Kernel(points: Array[Pt], own: Pt => Boolean, epsKm: Double, cellDeg: Double) {
    private val pts   = points.sortBy(_.id)
    private val n     = pts.length
    private val ids   = pts.map(_.id)
    private val xs    = pts.map(_.x)
    private val ys    = pts.map(_.y)
    private val ws    = pts.map(_.w)
    private val isOwn = pts.map(own)
    private val core  = pts.map(_.core)
    // Grid index: cell key -> point indices, in id order.
    private val cells = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    pts.indices.foreach(i => cells.getOrElseUpdate(cellKey(xs(i), ys(i), cellDeg), mutable.ArrayBuffer.empty[Int]) += i)

    /** Applies f to every eps-neighbour j ≠ i, visiting i's 3×3 cells. */
    private def forEachNeighbor(i: Int)(f: Int => Unit): Unit = {
      var dx = -1
      while (dx <= 1) {
        var dy = -1
        while (dy <= 1) {
          val bucket = cells.getOrNull(cellKey(xs(i), ys(i), cellDeg, dx, dy))
          if (bucket != null) {
            var k = 0
            while (k < bucket.length) {
              val j = bucket(k)
              if (j != i && haversineKm(xs(i), ys(i), xs(j), ys(j)) <= epsKm) f(j)
              k += 1
            }
          }
          dy += 1
        }
        dx += 1
      }
    }

    /** The weighted core condition, for the own points. */
    def setCores(minWeight: Double): Unit = {
      var i = 0
      while (i < n) {
        if (isOwn(i)) {
          var s = ws(i)
          forEachNeighbor(i)(j => s += ws(j))
          core(i) = s >= minWeight
        }
        i += 1
      }
    }

    def ownPoints: Iterator[Pt] = pts.indices.iterator.filter(isOwn).map(i => pts(i).copy(core = core(i)))

    /** Union-find over the core-core edges of the own cores. Returns the
      * verdict on each own point (Left), and the names (point id, component)
      * of every own core and of every halo core next to an own point (Right).
      */
    def label(): Iterator[Either[Own, (Long, Long)]] = {
      val uf   = new UnionFind(n)
      val near = new Array[Boolean](n)
      var i    = 0
      while (i < n) {
        if (isOwn(i) && core(i)) forEachNeighbor(i) { j =>
          near(j) = true
          if (core(j)) uf.union(i, j)
        }
        i += 1
      }
      val owned = mutable.ArrayBuffer.empty[Own]
      i = 0
      while (i < n) {
        if (isOwn(i)) {
          if (core(i)) owned += Own(ids(i), Array(ids(uf.find(i))))
          else {
            val comps = mutable.ArrayBuffer.empty[Long]
            forEachNeighbor(i) { j =>
              near(j) = true
              if (core(j)) { val c = ids(uf.find(j)); if (!comps.contains(c)) comps += c }
            }
            owned += Own(ids(i), comps.toArray)
          }
        }
        i += 1
      }
      val names = pts.indices.iterator.filter(j => core(j) && (isOwn(j) || near(j))).map(j => ids(j) -> ids(uf.find(j)))
      owned.iterator.map(Left(_)) ++ names.map(Right(_))
    }
  }
}
