package graft.analytics

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.Geo

/** Weighted haversine DBSCAN — the reference's clustering operator
  * (`/root/reference/thisishappening/utils/cluster_utils.py:12-57`: sklearn
  * DBSCAN, `metric=haversine`, `sample_weight`, eps sweep until ≥ N clusters).
  *
  * Two physical strategies behind one logical contract (SURVEY §2.10):
  *
  * (a) **Driver-local fast path** for small inputs (≤ [[SmallInputThreshold]]
  *     points): grid-bucketed neighbor search + weighted-core union-find on
  *     the driver. The reference never clusters more than one query window
  *     (capped at 9 k rows, `data_base.py:464-482`), so in its operating
  *     envelope this is the only path ever taken — a distributed fixpoint
  *     loop over a few thousand points pays tens of Spark job launches for
  *     work a single core finishes in milliseconds.
  *
  * (b) **Distributed path** for large inputs:
  *     1. bucket points into eps-sized grid cells; each point probes its 3×3
  *        neighborhood via an EQUI-join on the cell key (the probe side
  *        explodes to 9 cells) — a hash-partitioned shuffle join, never a
  *        nested loop;
  *     2. core points = Σ weight of eps-neighbors (self included) ≥
  *        minWeight — sklearn's `sample_weight` core condition (A10);
  *     3. clusters = connected components of the core-core eps graph via
  *        iterative hash-min label propagation with pointer jumping
  *        (O(log diameter) rounds). Each round's label table is persisted as
  *        an explicit RDD (truncating lineage like `localCheckpoint`, but
  *        with a handle we can free) and the superseded round's RDD is
  *        unpersisted as soon as the new one materializes — the round-3/4/5
  *        advisory leak.
  *     4. border points join the minimum-labelled core neighbor. (sklearn
  *        assigns border points to the *first* core that claims them —
  *        visit-order dependent; we fix the deterministic variant: min core
  *        label. Documented divergence, SURVEY §7.4.)
  *
  * Labels are the component's min point id — fully deterministic. Noise
  * keeps label −1, like sklearn. Both paths produce bit-identical output
  * (same bucketing, same haversine, same core condition, same label rule).
  */
object DBSCAN {

  /** Below this many points the driver-local path runs. 100 k points × 32 B
    * ≈ 3 MB on the driver — far below any sane driver heap; the distributed
    * loop's per-round job-launch overhead dominates until well past this.
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
      maxIter: Int = 50,
      smallThreshold: Int = SmallInputThreshold,
  ): DataFrame = {
    // One job decides the path AND feeds the fast path: collect at most
    // threshold+1 rows — if we got ≤ threshold the collection is the full
    // input and clustering finishes on the driver; otherwise fall through to
    // the distributed plan (which re-reads the input; it is cached there).
    val probe =
      if (smallThreshold <= 0) Array.empty[Row]
      else
        points
          .select(col("id").cast("long"), col("x").cast("double"), col("y").cast("double"), col("w").cast("double"))
          .limit(smallThreshold + 1)
          .collect()
    if (smallThreshold > 0 && probe.length <= smallThreshold)
      clusterLocal(points.sparkSession, probe, epsKm, minWeight, cellDeg)
    else clusterDistributed(points, epsKm, minWeight, cellDeg, maxIter)
  }

  /** Mirror of [[Geo.haversineKm]] with the same java.lang.Math ops Spark's
    * codegen emits (`pow`/`sin`/`cos`/`asin`/`sqrt`/`toRadians`), so the
    * eps boundary test is numerically identical on both paths.
    */
  private def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon), 2)
    2 * Geo.EarthRadiusKm * math.asin(math.sqrt(a))
  }

  /** Driver-local DBSCAN: same cell bucketing, core condition, and min-id
    * component labels as the distributed plan, via a weighted union-find.
    */
  private def clusterLocal(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[Row],
      epsKm: Double,
      minWeight: Double,
      cellDeg: Double,
  ): DataFrame = {
    val n  = rows.length
    val id = new Array[Long](n)
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val ws = new Array[Double](n)
    var i  = 0
    while (i < n) {
      val r = rows(i)
      id(i) = r.getLong(0); xs(i) = r.getDouble(1); ys(i) = r.getDouble(2); ws(i) = r.getDouble(3)
      i += 1
    }

    // Grid index: cell key -> point indices (same floor(x/cellDeg) key as the
    // distributed plan and the oracle SQL).
    val cells = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[Int]]
    i = 0
    while (i < n) {
      val key = (math.floor(xs(i) / cellDeg).toLong, math.floor(ys(i) / cellDeg).toLong)
      cells.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Int]) += i
      i += 1
    }
    // Visit each point's 3×3 cell neighborhood, applying f to every
    // eps-neighbor j ≠ i.
    def forEachNeighbor(i: Int)(f: Int => Unit): Unit = {
      val cx = math.floor(xs(i) / cellDeg).toLong
      val cy = math.floor(ys(i) / cellDeg).toLong
      var dx = -1L
      while (dx <= 1) {
        var dy = -1L
        while (dy <= 1) {
          cells.get((cx + dx, cy + dy)).foreach { bucket =>
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

    // Pass 1: weighted core condition — own weight + Σ neighbor weights.
    val core = new Array[Boolean](n)
    i = 0
    while (i < n) {
      var s = ws(i)
      forEachNeighbor(i)(j => s += ws(j))
      core(i) = s >= minWeight
      i += 1
    }

    // Pass 2: union-find over core-core eps edges.
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    i = 0
    while (i < n) {
      if (core(i)) forEachNeighbor(i) { j =>
        if (core(j)) {
          val ra = find(i); val rb = find(j)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      i += 1
    }
    // Component label = min point id among the component's cores.
    val minId = mutable.HashMap.empty[Int, Long]
    i = 0
    while (i < n) {
      if (core(i)) {
        val r = find(i)
        minId.get(r) match {
          case Some(m) => if (id(i) < m) minId(r) = id(i)
          case None    => minId(r) = id(i)
        }
      }
      i += 1
    }

    // Pass 3: labels — core → component label; border (non-core with ≥1 core
    // eps-neighbor) → min neighbor core's component label; else noise −1.
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) {
      var lbl = -1L
      if (core(i)) lbl = minId(find(i))
      else {
        forEachNeighbor(i) { j =>
          if (core(j)) {
            val l = minId(find(j))
            if (lbl == -1L || l < lbl) lbl = l
          }
        }
      }
      out(i) = (id(i), lbl)
      i += 1
    }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("id", "cluster_label")
  }

  private def clusterDistributed(
      points: DataFrame,
      epsKm: Double,
      minWeight: Double,
      cellDeg: Double,
      maxIter: Int,
  ): DataFrame = {
    val spark = points.sparkSession
    val p = points
      .withColumn("cx", floor(col("x") / lit(cellDeg)).cast("long"))
      .withColumn("cy", floor(col("y") / lit(cellDeg)).cast("long"))
      .cache()

    // Probe side: each point owns 9 candidate cells → equi-join on the cell.
    val probes = p
      .select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"), col("cx"), col("cy"))
      .withColumn("dxy", explode(array((for {
        dx <- -1 to 1; dy <- -1 to 1
      } yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)))
      .select(
        col("a"),
        col("ax"),
        col("ay"),
        (col("cx") + col("dxy.dx")).as("jcx"),
        (col("cy") + col("dxy.dy")).as("jcy"),
      )
    val build = p.select(
      col("id").as("b"),
      col("x").as("bx"),
      col("y").as("by"),
      col("w").as("bw"),
      col("cx").as("jcx"),
      col("cy").as("jcy"),
    )
    val edges = probes
      .join(build, Seq("jcx", "jcy"))
      .filter(
        col("a") =!= col("b") &&
          Geo.haversineKm(col("ax"), col("ay"), col("bx"), col("by")) <= epsKm,
      )
      .select(col("a"), col("b"), col("bw"))
      .cache()

    // Weighted core condition: own weight + Σ neighbor weights ≥ minWeight.
    val nbrW = edges.groupBy(col("a").as("nid")).agg(sum(col("bw")).as("nw"))
    val cores = p
      .join(nbrW, col("id") === col("nid"), "left")
      .filter(col("w") + coalesce(col("nw"), lit(0.0)) >= minWeight)
      .select(col("id"))
      .cache()

    val coreEdges = edges
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(cores.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
      .cache()

    // Hash-min connected components with POINTER JUMPING: each round first
    // takes the min over direct neighbors (1 hop), then re-resolves every
    // label through the label of its labelled point (lbl := lbl(lbl)), so the
    // propagation distance doubles per round — convergence in O(log diameter)
    // rounds instead of O(diameter).
    //
    // Lineage is truncated per round by materializing the label table into an
    // explicitly persisted RDD[Row] (what localCheckpoint does internally,
    // but with a handle): the superseded round's RDD is unpersisted the
    // moment the new one is materialized by the convergence aggregate, so
    // block-manager usage stays O(1) rounds instead of O(maxIter) — the
    // round-5 q25 leak.
    //
    // Labels only decrease, so Σlabel is a convergence measure — one scalar
    // aggregate per round. coalesce(sum, 0): an empty core set (all noise)
    // must not NPE — the loop then converges immediately and every point
    // keeps label −1.
    val labelSchema = StructType(Seq(StructField("id", LongType), StructField("lbl", LongType)))
    def persistLabels(df: DataFrame): (DataFrame, RDD[Row]) = {
      val r = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(r, labelSchema), r)
    }

    var (labels, labelsRdd) = persistLabels(cores.select(col("id"), col("id").as("lbl")))
    var prevSum             = labels.agg(coalesce(sum(col("lbl")), lit(0L))).first().getLong(0)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = coreEdges
        .join(labels, col("a") === col("id"))
        .groupBy(col("b").as("nid"))
        .agg(min(col("lbl")).as("nlbl"))
      val hop = labels
        .join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // Pointer jump: lbl := lbl(lbl). The label always names a core id that
      // exists in `hop`, so the lookup join is total (left join is belt and
      // braces for the empty set).
      val lut = hop.select(col("id").as("lid"), col("lbl").as("llbl"))
      val (updated, updatedRdd) = persistLabels(
        hop
          .join(lut, col("lbl") === col("lid"), "left")
          .select(col("id"), coalesce(col("llbl"), col("lbl")).as("lbl")),
      )
      val s = updated.agg(coalesce(sum(col("lbl")), lit(0L))).first().getLong(0)
      done = s == prevSum
      prevSum = s
      labelsRdd.unpersist(false)
      labels = updated
      labelsRdd = updatedRdd
      iter += 1
    }
    if (!done) {
      // An unconverged labelling is a WRONG clustering (components split),
      // and the oracle's exact closure would diverge silently.
      throw new IllegalStateException(
        s"DBSCAN label propagation did not converge in $maxIter rounds " +
          "(component diameter too large?) — raise maxIter",
      )
    }
    val clab = labels

    // Border points: non-core with ≥1 core neighbor → min core label.
    val border = edges
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
      .join(clab.withColumnRenamed("id", "b").withColumnRenamed("lbl", "clbl"), Seq("b"))
      .groupBy(col("a").as("bid"))
      .agg(min(col("clbl")).as("blbl"))

    val out = p
      .join(clab.withColumnRenamed("id", "cid"), col("id") === col("cid"), "left")
      .join(border, col("id") === col("bid"), "left")
      .select(
        col("id"),
        coalesce(col("lbl"), col("blbl"), lit(-1L)).as("cluster_label"),
      )
      // Materialize before unpersisting the inputs it depends on: the cached
      // p/edges/cores would otherwise leak executor memory across a 37-query
      // Bench/Verify session (round-2 advisory).
      .localCheckpoint(true)
    Seq(p, edges, cores, coreEdges).foreach(_.unpersist(false))
    labelsRdd.unpersist(false)
    out
  }
}
