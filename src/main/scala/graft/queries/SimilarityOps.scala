package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.core.{QuerySpec, Tables}
import org.apache.spark.sql.graftbridge.TopKFunctions.topKIds
import org.apache.spark.sql.graftbridge.VectorFunctions.{vecDot, vecNorm}

/** Similarity search over the `embeddings` table (`vec_id, embedding float[64],
  * label`) — the ANN / near-dup-by-cosine leg of the training-data pipeline.
  *
  * Scale design:
  *  - every dot product is the codegen'd [[graft.functions.VecDot]] tight loop
  *    (round-1's interpreted `aggregate(zip_with(...))` was 100×+ slower);
  *  - float→double widening is a plain `Cast` (codegen'd), not a `transform`;
  *  - the brute-force pair queries (q42/q43) broadcast one side, so the
  *    quadratic part parallelizes over the streamed side with zero shuffle —
  *    they are the *correctness baseline* for ANN;
  *  - q45 is the 100 TB path: deterministic coarse quantization (sign of
  *    dimension differences → 8-bit bucket), shuffle on the bucket key, exact
  *    cosine verification *within* bucket only. Candidate volume drops from
  *    O(n²) to Σ_b n_b², and the bucket key is content-derived and uniform, so
  *    the join scales horizontally like the LSH-banding dedup join.
  *
  * All float math is widened to double before any arithmetic on both the Spark
  * and DuckDB sides, so fold order is the only divergence — absorbed by output
  * rounding (or id-only outputs).
  */
object SimilarityOps {

  /** vec_id, label, v (double[]), nrm over an embeddings-shaped frame —
    * shared prep for every query below.
    */
  private def normedOf(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("label"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("nrm", vecNorm(col("v")))

  private def normed(s: SparkSession, d: String): DataFrame = normedOf(Tables.embeddings(s, d))

  /** [[normed]] with a vec_id RANGE exchange on the raw scan, for the
    * brute-force pair queries' STREAMED side and q40. Two jobs at once (guide
    * §2.6 + §2.5): (1) the O(n²) dot-product stage is partitioned by the
    * cluster's shuffle parallelism instead of the input split count — the
    * embeddings table is one tiny parquet split at bench scale, so the
    * quadratic BroadcastNestedLoopJoin ran as a SINGLE task (PERF_r21 scaling
    * ratio ≈1 for q42/q43); (2) range partitions are contiguous in vec_id, so
    * everything keyed or ordered by a_id downstream (q43's per-key aggregate,
    * each query's final orderBy) reuses THIS one exchange — no range exchange
    * of its own above the quadratic stage, whose sampling pass would run
    * that stage twice. The sampling pass for this exchange re-runs only the
    * narrow scan below it (the norm projection sits above).
    */
  private def normedRanged(s: SparkSession, d: String): DataFrame =
    // Pinned partition count: without it AQE sees a ~1 MB shuffle,
    // coalesces the range exchange to ONE partition by byte size, and the
    // O(n²) downstream stage runs serial again — byte-based coalescing is
    // blind to compute-heavy downstreams (see Tables.shufflePartitions).
    normedOf(Tables.rangeClustered(Tables.embeddings(s, d), col("vec_id")))

  private val normedSqlCte =
    """normed AS (
      |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings))""".stripMargin

  /** The brute-force pair queries' sides, `(a_id, va, na)` range-clustered
    * for streaming (see [[normedRanged]]) and `(b_id, vb, nb)` to broadcast.
    */
  private def pairSides(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (normedRanged(s, d).select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na")),
     normed(s, d).select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb")))

  /** The cosine similarity of a pair's sides `(va, na)` and `(vb, nb)`.
    * [[cosineSql]] is the oracle's copy over the `normed` rows `a` and `b`.
    */
  private val cosine: Column = vecDot(col("va"), col("vb")) / (col("na") * col("nb"))
  private val cosineSql      = "list_dot_product(a.v, b.v) / (a.nrm * b.nrm)"

  /** L2 norms + dimensionality — the scalar warm-up that pins the float→double
    * widening contract between engine and oracle.
    */
  val qNorms: QuerySpec = QuerySpec(
    "q40_embedding_norms",
    // The vec_id range exchange sits on the raw scan, BELOW the norm
    // projection, and the final orderBy reuses it: a range exchange of the
    // sort's own would make its sampling pass compute every norm twice
    // (guide §2.4).
    (s, d) =>
      normedRanged(s, d)
        .select(
          col("vec_id"),
          size(col("v")).cast("long").as("dim"),
          round(col("nrm"), 4).as("l2_norm"),
        )
        .orderBy(col("vec_id")),
    Some(s"""
      WITH $normedSqlCte
      SELECT vec_id, CAST(len(v) AS BIGINT) AS dim, round(nrm, 4) AS l2_norm
      FROM normed
      ORDER BY vec_id
    """.stripMargin.trim),
  )

  /** Per-label centroid (A2's vector generalization): position-exploded mean
    * per dimension, then the centroid's L2 norm. Explode → (label, pos) agg is
    * one shuffle keyed by (label, dim) — 640 keys here, and still tiny at any
    * scale.
    */
  /** q41's aggregation body over a prepared `(label, v)` frame — factored out
    * so the data invariant below is pinned by a unit test on crafted input.
    *
    * INVARIANT (r21 verdict item 7 / ADVICE): the single-scan shape counts
    * n_vecs as `max` over per-(label, pos) row counts, which equals the
    * per-label vector count ONLY while every embedding is non-null and
    * non-empty (every vector then contributes exactly one row to every pos).
    * That holds by construction for this table — `embeddings.embedding` is a
    * fixed-length float[64] written by the generator, and the DuckDB oracle's
    * `n_vecs` CTE counts the same rows — but a null/empty vector would be
    * dropped by `posexplode` and silently undercount n_vecs, and a ragged
    * (shorter) vector would undercount the positions it lacks while still
    * counting toward the ones it has. SimilarityOpsSpec asserts exactly this
    * behavior so a schema change that breaks the invariant fails loudly
    * instead of drifting from the oracle.
    */
  private[queries] def labelCentroidsFrom(normedDf: DataFrame): DataFrame = {
    val exploded = normedDf
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
    val dimStats = exploded
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("cnt"))
    dimStats
      .groupBy(col("label"))
      .agg(
        round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"),
        max(col("cnt")).as("n_vecs"),
      )
      .select(col("label"), col("n_vecs"), col("centroid_norm"))
      .orderBy(col("label"))
  }

  val qLabelCentroids: QuerySpec = QuerySpec(
    "q41_label_centroids",
    // Single scan: the per-label vector count rides along the (label, pos)
    // aggregate — the old separate nVecs aggregate was a second full scan of
    // the table plus a join (guide §1.2: don't compute things twice). See
    // labelCentroidsFrom for the non-empty fixed-length vector invariant
    // this relies on.
    (s, d) => labelCentroidsFrom(normed(s, d)),
    Some(s"""
      WITH $normedSqlCte,
      exploded AS (
        SELECT label, i AS pos, v[i] AS x
        FROM normed, unnest(range(1, len(v) + 1)) AS u(i)),
      dim_means AS (
        SELECT label, pos, avg(x) AS m FROM exploded GROUP BY label, pos),
      n_vecs AS (SELECT label, count(*) AS n_vecs FROM normed GROUP BY label)
      SELECT d.label, n.n_vecs, round(sqrt(sum(d.m * d.m)), 4) AS centroid_norm
      FROM dim_means d JOIN n_vecs n ON d.label = n.label
      GROUP BY d.label, n.n_vecs
      ORDER BY d.label
    """.stripMargin.trim),
  )

  /** Cosine near-dup pairs above 0.4 — id-only output so no float crosses the
    * hash compare. Brute force by design (the exact baseline q45 verifies
    * against); the quadratic side is broadcast so no shuffle.
    */
  val qCosinePairs: QuerySpec = QuerySpec(
    "q42_cosine_pairs",
    (s, d) => {
      // Streamed side range-partitioned by vec_id (see normedRanged): the
      // broadcast side holds EVERY b row, so each a_id's full candidate set
      // lives in a_id's partition and partitions cover contiguous a_id
      // ranges. The final orderBy on (a_id, b_id) reuses that exchange and
      // sorts within each partition — the r21 shape's two extra exchanges
      // (hash materialization boundary + range sort, whose sampling
      // re-executed the post-join stage) both disappear, and the O(n²) join
      // runs wide instead of on the scan's single input split.
      val (a, b) = pairSides(s, d)
      a.join(broadcast(b), col("a_id") < col("b_id"))
        .withColumn("sim", cosine)
        .filter(col("sim") >= 0.4)
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      WITH $normedSqlCte
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM normed a JOIN normed b ON a.vec_id < b.vec_id
      WHERE $cosineSql >= 0.4
      ORDER BY a_id, b_id
    """.stripMargin.trim),
  )

  /** Brute-force cosine top-3 neighbors per vector (the ANN correctness
    * baseline). Output is (vec_id, rank, neighbor) — ids only. rank ties are
    * impossible for continuous data; ordering ties break on neighbor id.
    *
    * Top-k shape (guide §3/§5, r21 verdict item 1): a size-3 bounded heap
    * aggregate ([[org.apache.spark.sql.graftbridge.TopKIds]]) per a_id
    * replaces sort + row_number + WindowGroupLimit. The window plan had to
    * SORT the entire O(n²) candidate stream per partition before the group
    * limit could cap it; the aggregate holds exactly 3 entries per key with
    * the identical (sim DESC, b_id ASC) order — no sort of the candidate
    * stream anywhere in the plan. The streamed side's vec_id range exchange
    * (see normedRanged) already clusters a_id, so neither the aggregate nor
    * the final orderBy on (a_id, rank) adds an exchange: that sort runs
    * within each partition over the exploded top-k rows (3n rows, never the
    * n² stream).
    */
  val qCosineTopK: QuerySpec = QuerySpec(
    "q43_cosine_topk",
    (s, d) => {
      val (a, b) = pairSides(s, d)
      a.join(broadcast(b), col("a_id") =!= col("b_id"))
        // sim is projected BELOW the aggregate on purpose (guide §2.3
        // "project before"): the whole-stage-codegen'd join+project stage
        // evaluates the VecDot tight loop and hands the aggregate narrow
        // (a_id, sim, b_id) rows. Folding the division into the aggregate's
        // input expression instead would (a) evaluate it interpreted per row
        // (ImperativeAggregate is CodegenFallback) and (b) drag both 512-byte
        // vectors into the aggregation buffers' input — measured 90× slower
        // when the ObjectHashAggregate fallback then sorts those wide rows.
        .select(
          col("a_id"),
          cosine.as("sim"),
          col("b_id"),
        )
        .groupBy(col("a_id"))
        .agg(topKIds(col("sim"), col("b_id"), 3).as("nbrs"))
        .select(col("a_id"), posexplode(col("nbrs")).as(Seq("pos", "neighbor_id")))
        .select(col("a_id"), (col("pos") + lit(1)).as("rank"), col("neighbor_id"))
        .orderBy(col("a_id"), col("rank"))
    },
    Some(s"""
      WITH $normedSqlCte,
      sims AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               $cosineSql AS sim
        FROM normed a JOIN normed b ON a.vec_id <> b.vec_id),
      ranked AS (
        SELECT a_id, b_id,
               row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rank
        FROM sims)
      SELECT a_id, rank, b_id AS neighbor_id
      FROM ranked WHERE rank <= 3
      ORDER BY a_id, rank
    """.stripMargin.trim),
  )

  /** Bucketed ANN — the 100 TB similarity-search shape. Deterministic coarse
    * quantization: per band, 16 sign-of-dimension-difference bits → 65,536
    * buckets; 2 OR-probing bands (bits from disjoint dimension halves) so a
    * near-neighbor missed by one band's quantization can still surface via the
    * other. Pairs are generated *within* a (band, bucket) group only. The join
    * carries an explicit `shuffle_hash` hint: Spark sizes join sides from the
    * parquet file stats, blind to the band explode, and would otherwise
    * broadcast the full exploded (band, bucket, vec_id, v[64], nrm) relation —
    * a driver-built hash table holding every vector. The hint forces a
    * ShuffledHashJoin whose hash exchange on the uniform composite key spreads
    * work across all shuffle partitions; candidates are then verified with
    * exact cosine ≥ 0.3 and deduped across bands. Candidate volume is Σ_band Σ_b n_b² with n_b ≈ n/65536 per band —
    * sub-quadratic in practice for embedding data at any n.
    *
    * The quantizer is content-derived and identical in both engines
    * (`element_at` / `v[i]` are both 1-based), so this is exact-on-candidates
    * and hash-checkable — recall vs the brute-force q42 is the documented ANN
    * trade-off.
    */
  private val AnnBands      = 2
  private val AnnBitsPerBand = 16

  val qAnnBucketed: QuerySpec = QuerySpec(
    "q45_ann_bucketed",
    (s, d) => {
      // band `bi` reads dimension pairs (off+1, off+2), (off+3, off+4), …
      // where off = bi * 2 * AnnBitsPerBand — disjoint halves of the 64 dims.
      def bits(v: Column, bi: Int): Column =
        (0 until AnnBitsPerBand)
          .map { i =>
            val off = bi * 2 * AnnBitsPerBand
            when(element_at(v, off + 2 * i + 1) > element_at(v, off + 2 * i + 2), lit(1 << i))
              .otherwise(lit(0))
          }
          .reduce(_ + _)
      val bandStructs = (0 until AnnBands).map(bi =>
        struct(lit(bi).as("band"), bits(col("v"), bi).as("bucket")),
      )
      val bucketed = normed(s, d)
        .select(col("vec_id"), col("v"), col("nrm"), explode(array(bandStructs: _*)).as("b"))
        .select(col("vec_id"), col("v"), col("nrm"), col("b.band").as("band"), col("b.bucket").as("bucket"))
      val a = bucketed.select(col("band"), col("bucket"), col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
      val b = bucketed.select(col("band"), col("bucket"), col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"))
      a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), Seq("band", "bucket"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("sim", cosine)
        .filter(col("sim") >= 0.3)
        .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("sim"))
        .distinct() // a pair can match in both bands; sim is identical either way
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      val bandSelects = (0 until AnnBands)
        .map { bi =>
          val off = bi * 2 * AnnBitsPerBand
          val bitTerms = (0 until AnnBitsPerBand)
            .map(i => s"(CASE WHEN v[${off + 2 * i + 1}] > v[${off + 2 * i + 2}] THEN ${1 << i} ELSE 0 END)")
            .mkString(" +\n               ")
          s"SELECT vec_id, v, nrm, $bi AS band,\n               $bitTerms AS bucket\n        FROM normed"
        }
        .mkString("\n        UNION ALL\n        ")
      s"""
      WITH $normedSqlCte,
      bucketed AS (
        $bandSelects)
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
             round($cosineSql, 4) AS sim
      FROM bucketed a JOIN bucketed b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE $cosineSql >= 0.3
      ORDER BY a_id, b_id
      """.stripMargin.trim
    },
  )

  val all: Seq[QuerySpec] =
    Seq(qNorms, qLabelCentroids, qCosinePairs, qCosineTopK, qAnnBucketed)
}
