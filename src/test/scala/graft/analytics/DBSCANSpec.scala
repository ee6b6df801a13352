package graft.analytics

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.SparkSpec
import graft.queries.GeoOps

/** DBSCAN runs one kernel in two placements (once on the driver, or per cell
  * block on the executors with a merge of the blocks' components); these
  * suites pin (1) the semantics on hand-built geometries, (2) bit-identical
  * agreement between the placements on real testdata and on random point
  * sets, and (3) a distributed job count that does not grow with the data.
  */
class DBSCANSpec extends SparkSpec {

  import spark.implicits._

  private def df(pts: Seq[(Long, Double, Double, Double)]) =
    pts.toDF("id", "x", "y", "w")

  private def run(pts: Seq[(Long, Double, Double, Double)], eps: Double, minW: Double, forceDistributed: Boolean) =
    DBSCAN
      .cluster(df(pts), epsKm = eps, minWeight = minW, cellDeg = 4.0,
        smallThreshold = if (forceDistributed) 0 else DBSCAN.SmallInputThreshold)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  /** `n` points spaced 2.5° along the equator, ids from 100. */
  private def chain(n: Int) = (0 until n).map(i => (100L + i, i * 2.5, 0.0, 1.0))

  for (distributed <- Seq(false, true)) {
    val tag = if (distributed) "distributed" else "local"

    test(s"$tag: two separated clusters, min-id labels, noise = -1") {
      // Two tight triads ~2000 km apart, one lone far-away point. At the
      // equator 1° ≈ 111 km, so eps=300 km links points ≤ ~2.7° apart.
      val pts = Seq(
        (10L, 0.0, 0.0, 1.0), (11L, 1.0, 0.0, 1.0), (12L, 0.0, 1.0, 1.0),
        (20L, 20.0, 0.0, 1.0), (21L, 21.0, 0.0, 1.0), (22L, 20.0, 1.0, 1.0),
        (30L, -40.0, -40.0, 1.0),
      )
      val labels = run(pts, eps = 300.0, minW = 3.0, forceDistributed = distributed)
      assert(labels(10L) == 10L && labels(11L) == 10L && labels(12L) == 10L)
      assert(labels(20L) == 20L && labels(21L) == 20L && labels(22L) == 20L)
      assert(labels(30L) == -1L)
    }

    test(s"$tag: weighted core condition counts neighbor weights") {
      // Pair of points, each w=1.5: neighborhood weight 3.0 meets minW=3.0 →
      // both core, one cluster. With w=1.4 (sum 2.8 < 3.0) → all noise.
      val core = run(Seq((1L, 0.0, 0.0, 1.5), (2L, 0.5, 0.0, 1.5)), 300.0, 3.0, distributed)
      assert(core == Map(1L -> 1L, 2L -> 1L))
      val noise = run(Seq((1L, 0.0, 0.0, 1.4), (2L, 0.5, 0.0, 1.4)), 300.0, 3.0, distributed)
      assert(noise == Map(1L -> -1L, 2L -> -1L))
    }

    test(s"$tag: border point takes min core neighbor label") {
      // Heavy core at origin; light satellite inside eps of the core but not
      // itself core (its neighborhood weight 4.0+0.1 ≥ 3.0 — make it lighter
      // zone: use minW high enough that only the heavy point is core).
      val pts    = Seq((1L, 0.0, 0.0, 5.0), (2L, 2.0, 0.0, 0.1))
      val labels = run(pts, eps = 300.0, minW = 5.05, forceDistributed = distributed)
      assert(labels(1L) == 1L) // w(5.0)+nbr(0.1) = 5.1 ≥ 5.05 → core
      assert(labels(2L) == 1L) // 0.1+5.0 = 5.1 ≥ 5.05 — also core, same component
      val labels2 = run(pts :+ (3L, -40.0, 40.0, 0.2), eps = 300.0, minW = 5.05, forceDistributed = distributed)
      assert(labels2(3L) == -1L)
    }

    test(s"$tag: chain across cell boundaries stays one component") {
      // 12 points spaced 2.5° along the equator: consecutive ones are inside
      // eps=300 km, the chain spans many 4° cells — exercises 3×3 probing and
      // (distributed) the merge of components across block boundaries.
      val labels = run(chain(12), eps = 300.0, minW = 2.0, forceDistributed = distributed)
      assert(labels.values.toSet == Set(100L))
    }

    test(s"$tag: empty input gives no rows") {
      assert(run(Seq.empty, eps = 300.0, minW = 3.0, forceDistributed = distributed).isEmpty)
    }

    test(s"$tag: all-noise input labels every point -1") {
      // Three points thousands of km apart: no point has an eps-neighbor, so
      // no neighborhood reaches minW and there are no cores at all.
      val pts = Seq((1L, 0.0, 0.0, 1.0), (2L, 60.0, 0.0, 1.0), (3L, -60.0, 40.0, 1.0))
      assert(run(pts, eps = 300.0, minW = 3.0, forceDistributed = distributed) ==
        Map(1L -> -1L, 2L -> -1L, 3L -> -1L))
    }
  }

  test("local and distributed paths agree bit-for-bit on events testdata") {
    // sf0.001 has zero events inside the q25 bbox; sf0.01 has ~139.
    val pts = graft.core.Tables
      .events(spark, "/root/testdata/sf0.01")
      .withColumn("x", GeoOps.lon)
      .withColumn("y", GeoOps.lat)
      .filter(col("x") >= -30.0 && col("x") <= 30.0 && col("y") >= -30.0 && col("y") <= 30.0)
      .select(col("event_id").as("id"), col("x"), col("y"), lit(1.0).as("w"))
    val local = DBSCAN.cluster(pts, 300.0, 3.0, 4.0).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dist = DBSCAN
      .cluster(pts, 300.0, 3.0, 4.0, smallThreshold = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("local and distributed paths agree on random point sets") {
    // Points in [-10°, 10°]² span 6 cells of 4° on both axes around cell 0;
    // some repeat an earlier point's coordinates and weight, and a chain of
    // 2.5° steps crosses several block boundaries at a random latitude.
    val point = for {
      x <- Gen.choose(-10.0, 10.0); y <- Gen.choose(-10.0, 10.0); w <- Gen.choose(0.1, 2.0)
    } yield (x, y, w)
    val cases = for {
      free  <- Gen.choose(5, 40).flatMap(Gen.listOfN(_, point))
      dups  <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.choose(0, free.size - 1)))
      links <- Gen.choose(0, 8)
      lat   <- Gen.choose(-8.0, 8.0)
      cw    <- Gen.choose(0.5, 2.0)
      minW  <- Gen.choose(1.0, 4.0)
      perm  <- Gen.pick(free.size + dups.size + links, 1L to 1000L)
    } yield {
      val xyw = free ++ dups.map(free) ++ (0 until links).map(i => (-9.0 + i * 2.5, lat, cw))
      (perm.zip(xyw).map { case (id, (x, y, w)) => (id, x, y, w) }.toSeq, minW)
    }
    val prop = Prop.forAllNoShrink(cases) { case (pts, minW) =>
      run(pts, 300.0, minW, forceDistributed = false) == run(pts, 300.0, minW, forceDistributed = true)
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(15).withWorkers(1), prop)
    assert(result.passed, result.status)
  }

  test("distributed: the job count does not grow with the chain length") {
    def jobs(n: Int): Int = TestListenerBus.jobs(spark.sparkContext) {
      assert(run(chain(n), eps = 300.0, minW = 2.0, forceDistributed = true).values.toSet == Set(100L))
    }
    assert(jobs(12) == jobs(60))
  }
}
