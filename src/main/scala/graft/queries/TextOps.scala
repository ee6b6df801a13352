package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QuerySpec, Tables}

/** Text-analysis + deduplication surface over the `documents` table.
  *
  * Covers the reference's token pipeline shapes (SURVEY §2.5 A6/A7, §2.9
  * F7–F14: tokenize → clean → explode → frequency-rank) plus the
  * training-data-pipeline operators the builder prompt adds as first-class:
  * exact dedup, MinHash+LSH banding, n-gram Jaccard near-dup, SimHash,
  * language-ID heuristic, quality scoring, token counting, fingerprinting.
  *
  * Everything is built from codegen'd builtins + higher-order array functions:
  * tokenization stays declarative (`split`/`filter`/`transform`), dedup joins
  * shuffle on content-derived keys (fingerprint / shingle / band bucket) so they
  * scale horizontally — no driver-side loops anywhere.
  */
object TextOps {

  /** Tokenization of lowercased text on the separator regex `sep`, dropping
    * empty tokens: [[Whitespace]] tokens, or q39's [[WordSep]] word tokens.
    * [[toksSql]] is the oracle's copy.
    */
  private def toks(sep: String): Column = filter(split(lower(col("text")), sep), t => t =!= "")
  private def toksSql(sep: String): String =
    s"list_filter(regexp_split_to_array(lower(text), '$sep'), tk -> tk <> '')"
  private val Whitespace = """\s+"""
  private val WordSep    = "[^a-z0-9]+"

  /** The number of matches of the regex `re` in the lowercased text, as a
    * long. [[markersSql]] is the oracle's copy.
    */
  private def markers(re: String): Column     = regexp_count(lower(col("text")), lit(re)).cast("long")
  private def markersSql(re: String): String = s"len(regexp_extract_all(lower(text), '$re'))"

  /** q31's stopwords and q32's per-language marker words, as word-bounded
    * alternations.
    */
  private val StopWords = """\b(the|a|and|of|to|in|is)\b"""
  private val EnMarkers = """\b(the|and|is|of|to)\b"""
  private val EsMarkers = """\b(el|la|de|que|y)\b"""
  private val FrMarkers = """\b(le|les|et|une|est)\b"""

  /** The exact-dedup key of q33 and q34: md5 of the whitespace-normalized
    * lowercased text. [[fingerprintSql]] is the oracle's copy.
    */
  private val fingerprint: Column = md5(trim(regexp_replace(lower(col("text")), Whitespace, " ")).cast("binary"))
  private val fingerprintSql      = s"md5(trim(regexp_replace(lower(text), '$Whitespace', ' ', 'g')))"

  /** Word 3-gram shingles: one string per consecutive token triple.
    *
    * `tokens` MUST be a materialized column reference, never an inline
    * tokenizer expression: a non-lambda expression inside a higher-order
    * lambda body is re-evaluated on EVERY lambda invocation in the
    * interpreted HOF path, i.e. the whole split+filter would run once per
    * shingle (measured 9× on the shingle pipeline at sf0.1 — r21).
    * `concat_ws` over three `element_at`s replaces `array_join(slice(...))`,
    * which allocated a 3-element array per shingle; output strings are
    * byte-identical (verified over all sf0.1 docs).
    */
  private def shingles(tokens: Column): Column =
    transform(
      sequence(lit(1), size(tokens) - 2),
      i =>
        concat_ws(
          " ",
          element_at(tokens, i),
          element_at(tokens, i + 1),
          element_at(tokens, i + 2),
        ),
    )

  private def docTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), toks(Whitespace).as("toks"))

  /** documents range-exchanged on doc_id at the SCAN, before any expensive
    * projection, for the queries ordered by doc_id. Their final
    * `.orderBy(doc_id)` reuses this exchange and sorts within each partition.
    * A range exchange of the sort's own, above a heavy projection, would make
    * its sampling pass execute the whole projection twice (guide §1.2/§2.4 —
    * Exchange placement): the child of a range exchange is computed once to
    * sample partition bounds and again to shuffle.
    */
  private def docsRanged(s: SparkSession, d: String): DataFrame =
    // Pinned partition count: without it AQE coalesces this small range
    // shuffle to ONE partition and every projection above it (q31/q32's
    // regex batteries, q33's md5, q35's signature, q39's double tokenization)
    // runs serial — see Tables.shufflePartitions.
    Tables.rangeClustered(Tables.documents(s, d), col("doc_id"))

  /** Per-doc DISTINCT shingle set carried as one array column, over any
    * documents-shaped frame. `array_distinct` dedups inside the row, so the
    * old explode→DISTINCT shuffle disappears — at 100 TB that was a full
    * extra exchange on (doc_id, shingle) before any dedup work even started.
    * Docs with fewer than 3 tokens drop out — gated by a cheap regex (≥3
    * whitespace-separated runs ⟺ `size(toks) >= 3`), so the predicate pushed
    * into the parquet scan is a single `rlike` instead of a re-evaluation of
    * the whole tokenize→shingle array pipeline per row. (The filter also
    * pushes below any caller-supplied exchange — q35 hands a range-exchanged
    * frame in — so the exchange always carries only qualifying docs.)
    *
    * This is THE shingle pipeline: q35 (signatures), q36 (LSH bands) and q37
    * (Jaccard) all consume it, so their shingle semantics cannot drift apart
    * (r21 ADVICE — q35 previously inlined a copy).
    */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").rlike("\\S+\\s+\\S+\\s+\\S+"))
      // two projections on purpose: tokens materialize below, the shingle
      // lambda above references the computed column (see shingles() docs;
      // CollapseProject keeps them apart because toks is non-cheap and
      // referenced more than once).
      .select(col("doc_id"), toks(Whitespace).as("toks"))
      .select(col("doc_id"), array_distinct(shingles(col("toks"))).as("shs"))

  /** One MinHash slot computed inside the row: min over the shingle array of
    * md5(shingle ⊕ seed). No explode, no groupBy — the signature is per-row
    * algebra, embarrassingly parallel at any scale.
    */
  private def mhSlot(shs: Column, seed: Int): Column =
    array_min(transform(shs, sh => md5(concat(sh, lit(s"#$seed")).cast("binary"))))

  private val shingleSqlCte =
    s"""t AS (SELECT doc_id,
      |            ${toksSql(Whitespace)} AS toks
      |     FROM documents),
      |ds AS (SELECT DISTINCT doc_id,
      |              unnest(list_transform(range(1, len(toks) - 1),
      |                                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |       FROM t WHERE len(toks) >= 3)""".stripMargin

  /** A6/F14: global token frequency ranking with deterministic tie-break
    * (`/root/reference/thisishappening/utils/tweet_utils.py:532-534`;
    * tie-break per SURVEY §7.4.4). explode → partial-agg → single shuffle on
    * token.
    */
  val qTokenFreq: QuerySpec = QuerySpec(
    "q30_token_freq",
    (s, d) =>
      docTokens(s, d)
        .select(explode(col("toks")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100),
    Some(s"""
      SELECT token, count(*) AS n
      FROM (SELECT unnest(${toksSql(Whitespace)}) AS token
            FROM documents)
      GROUP BY token
      ORDER BY n DESC, token
      LIMIT 100
    """.stripMargin.trim),
  )

  /** Quality scoring: per-doc length / punctuation / stopword-ratio metrics
    * (training-data quality gate; reference analog is the 13-predicate gate's
    * text legs, `tweet_utils.py:181-311`).
    */
  val qDocQuality: QuerySpec = QuerySpec(
    "q31_doc_quality",
    (s, d) =>
      docsRanged(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          size(toks(Whitespace)).cast("long").as("n_tokens"),
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
            .cast("long")
            .as("n_punct"),
          markers(StopWords).as("n_stop"),
        )
        .withColumn("stop_ratio", round(col("n_stop") / nullif(col("n_tokens"), lit(0)), 6))
        .withColumn(
          "quality",
          round(
            least(col("n_tokens") / lit(50.0), lit(1.0)) *
              (lit(1.0) - col("n_punct") / nullif(col("n_chars_calc"), lit(0))),
            6,
          ),
        )
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, n_chars_calc, n_tokens, n_punct, n_stop,
             round(n_stop * 1.0 / nullif(n_tokens, 0), 6) AS stop_ratio,
             round(least(n_tokens / 50.0, 1.0) * (1.0 - n_punct * 1.0 / nullif(n_chars_calc, 0)), 6) AS quality
      FROM (SELECT doc_id,
                   length(text) AS n_chars_calc,
                   len(${toksSql(Whitespace)}) AS n_tokens,
                   length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                   ${markersSql(StopWords)} AS n_stop
            FROM documents)
      ORDER BY doc_id
    """.stripMargin.trim),
  )

  /** Language-ID n-gram/stopword heuristic: score text against per-language
    * marker sets, argmax with deterministic preference order.
    */
  val qLangId: QuerySpec = QuerySpec(
    "q32_lang_id",
    (s, d) =>
      docsRanged(s, d)
        .select(
          col("doc_id"),
          col("lang"),
          markers(EnMarkers).as("en_score"),
          markers(EsMarkers).as("es_score"),
          markers(FrMarkers).as("fr_score"),
        )
        .withColumn(
          "lang_pred",
          when(col("en_score") >= col("es_score") && col("en_score") >= col("fr_score"), "en")
            .when(col("es_score") >= col("fr_score"), "es")
            .otherwise("fr"),
        )
        .withColumn("is_match", col("lang_pred") === col("lang"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, lang, en_score, es_score, fr_score, lang_pred, lang_pred = lang AS is_match
      FROM (SELECT *,
                   CASE WHEN en_score >= es_score AND en_score >= fr_score THEN 'en'
                        WHEN es_score >= fr_score THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM (SELECT doc_id, lang,
                         ${markersSql(EnMarkers)} AS en_score,
                         ${markersSql(EsMarkers)} AS es_score,
                         ${markersSql(FrMarkers)} AS fr_score
                  FROM documents))
      ORDER BY doc_id
    """.stripMargin.trim),
  )

  /** Document fingerprinting: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key.
    */
  val qFingerprint: QuerySpec = QuerySpec(
    "q33_doc_fingerprint",
    (s, d) =>
      docsRanged(s, d)
        .select(col("doc_id"), fingerprint.as("fp"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, $fingerprintSql AS fp
      FROM documents
      ORDER BY doc_id
    """.stripMargin.trim),
  )

  /** Exact dedup: hash-groupBy on fingerprint, keep lowest doc_id per group.
    * One shuffle on the fingerprint; at 100 TB this is the canonical
    * hash-partitioned dedup with no skew (md5 keys are uniform).
    */
  val qDedupExact: QuerySpec = QuerySpec(
    "q34_dedup_exact",
    (s, d) =>
      Tables
        .documents(s, d)
        .select(col("doc_id"), fingerprint.as("fp"))
        .withColumn(
          "rn",
          row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))),
        )
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, fp
      FROM (SELECT doc_id, $fingerprintSql AS fp,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM documents)
      WHERE rn = 1
      ORDER BY doc_id
    """.stripMargin.trim),
  )

  /** MinHash config: 8 slots banded 4×2 (production LSH would run ~128 slots;
    * 8 keeps the verify/bench artifacts readable while exercising the same
    * plan shape — slots are in-row algebra, so widening the signature adds
    * zero shuffles, only per-row CPU).
    */
  private val MinhashSlots = 8
  private val MinhashBands = 4
  private val RowsPerBand  = MinhashSlots / MinhashBands

  /** MinHash signatures over word 3-gram shingles: each slot the lexicographic
    * min of md5(shingle ⊕ seed), computed with `array_min` over the in-row
    * shingle set — zero shuffles end to end (scan → project). The DuckDB
    * oracle keeps the equivalent explode+GROUP BY formulation.
    */
  private def minhashSig(docs: DataFrame): DataFrame =
    shingleSetsOf(docs).select(
      col("doc_id") +: (0 until MinhashSlots).map(i => mhSlot(col("shs"), i).as(s"mh$i")): _*,
    )

  private val minhashSigSql: String =
    (0 until MinhashSlots).map(i => s"min(md5(sh || '#$i')) AS mh$i").mkString(",\n             ")

  val qMinhashSig: QuerySpec = QuerySpec(
    "q35_minhash_signature",
    // The final orderBy reuses docsRanged's range exchange on the narrow
    // scan, BELOW the signature projection: a range exchange above it would
    // make the range partitioner's sampling pass execute the 8×md5 signature
    // twice per run (the r18 "q35 warm 41.8 s vs superset q36 7.1 s"
    // anomaly). The shingle pipeline's rlike gate pushes below the exchange
    // to the scan. The pinned count matters most here: an AQE-coalesced
    // single partition would run the signature serially (measured ~1.2 s of
    // q35's 1.6 s at bench scale).
    (s, d) => minhashSig(docsRanged(s, d)).orderBy(col("doc_id")),
    Some(s"""
      WITH $shingleSqlCte
      SELECT doc_id,
             $minhashSigSql
      FROM ds
      GROUP BY doc_id
      ORDER BY doc_id
    """.stripMargin.trim),
  )

  /** MinHash LSH banding: $MinhashBands bands × $RowsPerBand rows; docs sharing
    * any band bucket become candidate pairs. The join key is (band index,
    * bucket hash) — uniformly distributed, so the bucket join scales without
    * salting.
    */
  val qMinhashBands: QuerySpec = QuerySpec(
    "q36_minhash_candidates",
    (s, d) => {
      // The signature is the same in-row array_min algebra as q35 — no agg, no
      // shuffle — so each join side is a plain scan+project. Spark sizes join
      // sides from the parquet file stats, blind to the band explode, and
      // would broadcast the FULL banded relation (a driver-built hash table of
      // every banded row — an OOM at scale); the explicit `shuffle_hash` hint
      // forces a ShuffledHashJoin on the uniform (band,bucket) key instead,
      // and the two identical child subplans collapse via ReuseExchange.
      val sig = minhashSig(Tables.documents(s, d))
      val bandStructs = (0 until MinhashBands).map { bi =>
        val rows = (0 until RowsPerBand).map(r => col(s"mh${bi * RowsPerBand + r}"))
        struct(lit(bi).as("band"), md5(concat(rows: _*).cast("binary")).as("bucket"))
      }
      val banded = sig
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
      val a = banded.as("a")
      val b = banded.as("b")
      a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      val bandSelects = (0 until MinhashBands)
        .map { bi =>
          val rows = (0 until RowsPerBand).map(r => s"mh${bi * RowsPerBand + r}").mkString(" || ")
          s"SELECT doc_id, $bi AS band, md5($rows) AS bucket FROM sig"
        }
        .mkString("\n        UNION ALL\n        ")
      s"""
      WITH $shingleSqlCte,
      sig AS (SELECT doc_id,
             $minhashSigSql
              FROM ds GROUP BY doc_id),
      banded AS (
        $bandSelects)
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      ORDER BY a_id, b_id
      """.stripMargin.trim
    },
  )

  /** Exact n-gram Jaccard near-dup pairs: shingle-key self-join → common-count
    * per pair → |A∩B| / |A∪B| ≥ 0.1. The per-doc set size |A| rides along each
    * exploded shingle row (`size(shs)` is in-row algebra).
    *
    * Join mechanics at scale: the raw-string self-join used to plan as a
    * BroadcastHashJoin whose build side was the *entire exploded* shingle
    * relation — Spark sizes the side from the parquet file stats, blind to the
    * explode expansion, and building every (doc_id, shingle) row on the driver
    * is an OOM at 100×. Two fixes: (1) the join key is `xxhash64(sh)` — an
    * 8-byte uniform key instead of n-gram text (64-bit collisions are
    * negligible below ~10⁹ distinct shingles and only perturb `common` by ±1);
    * (2) an explicit `shuffle_hash` hint forces a ShuffledHashJoin, whose two
    * identical child subplans collapse into one exchange via ReuseExchange —
    * verified via `explain()`: no broadcast anywhere in the plan. Hot shingles
    * are the skew risk at scale — mitigated upstream because shingles are
    * per-doc DISTINCT.
    */
  val qNgramJaccard: QuerySpec = QuerySpec(
    "q37_ngram_jaccard",
    (s, d) => {
      // explode_outer, not explode: a plain explode makes the optimizer infer
      // `size(shs) > 0 AND isnotnull(shs)` filters (InferFiltersFromGenerate)
      // and push them through the projection, re-evaluating the whole
      // tokenize→shingle pipeline two more times per row inside the scan
      // filter. The rlike in shingleSetsOf already guarantees non-empty
      // shingle sets, so outer semantics are identical; the isNotNull below
      // only drops the (never-occurring) null rows and keeps the join key
      // non-null.
      val ds = shingleSetsOf(Tables.documents(s, d))
        .select(col("doc_id"), size(col("shs")).as("n"), explode_outer(col("shs")).as("sh"))
        .filter(col("sh").isNotNull)
        .select(col("doc_id"), col("n"), xxhash64(col("sh")).as("sh"))
      val a = ds.as("a")
      val b = ds.as("b")
      a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(
          col("a.doc_id").as("a_id"),
          col("b.doc_id").as("b_id"),
          col("a.n").as("na"),
          col("b.n").as("nb"),
        )
        .agg(count(lit(1)).as("common"))
        .withColumn("jac", round(col("common") / (col("na") + col("nb") - col("common")), 4))
        .filter(col("jac") >= 0.1)
        .select(col("a_id"), col("b_id"), col("jac"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      WITH $shingleSqlCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
                FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT a_id, b_id,
             round(common * 1.0 / (ca.n + cb.n - common), 4) AS jac
      FROM pairs
      JOIN cnt ca ON ca.doc_id = a_id
      JOIN cnt cb ON cb.doc_id = b_id
      WHERE round(common * 1.0 / (ca.n + cb.n - common), 4) >= 0.1
      ORDER BY a_id, b_id
    """.stripMargin.trim),
  )

  /** SimHash (64-bit) from md5 token hashes, emitted as a 16-char hex string.
    *
    * Bits come from the first 16 hex nibbles of md5(token) — computable
    * bit-identically by DuckDB, so q38 finally has a real oracle (it ran
    * `no_oracle` for seven rounds on xxhash64). Per-token bit b of nibble k
    * votes ±1; the doc's nibble k is re-packed from the four vote signs.
    *
    * Plan shape: distinct tokens stay in-row (`array_distinct`), one explode,
    * ONE groupBy(doc_id) with 64 conditional-sum aggregates — replacing the
    * old 64-way posexplode that multiplied every token row 64× before a
    * double aggregation. Map-side partial aggregation keeps the single
    * shuffle narrow (64 longs per doc).
    */
  val qSimhash: QuerySpec = QuerySpec(
    "q38_simhash",
    (s, d) => {
      val tokenHashes = docTokens(s, d)
        .select(col("doc_id"), explode(array_distinct(col("toks"))).as("token"))
        .select(col("doc_id"), md5(col("token").cast("binary")).as("h"))
      // nibble k (0-based, from the left of the hex string) as an int 0..15 —
      // projected ONCE per row below the aggregate (16 conv/substring per row)
      // instead of inlined into all 64 vote sums (4× re-evaluation per nibble);
      // the partial-agg input also narrows from the 32-char hex string to 16
      // ints.
      val nibbled = tokenHashes.select(
        col("doc_id") +:
          (0 until 16).map(k => conv(substring(col("h"), k + 1, 1), 16, 10).cast("int").as(s"nib$k")): _*,
      )
      val votes = (0 until 16).flatMap { k =>
        (3 to 0 by -1).map { b =>
          sum(when(col(s"nib$k").bitwiseAND(lit(1 << b)) =!= 0, 1).otherwise(-1)).as(s"v_${k}_$b")
        }
      }
      val voted = nibbled.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      val hexChar = (k: Int) => {
        val nibbleVal = (3 to 0 by -1)
          .map(b => when(col(s"v_${k}_$b") > 0, lit(1 << b)).otherwise(lit(0)))
          .reduce(_ + _)
        lit("0123456789abcdef").substr(nibbleVal + 1, lit(1))
      }
      voted
        .select(col("doc_id"), concat((0 until 16).map(hexChar): _*).as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some {
      val voteSums = (for { k <- 0 until 16; b <- 3 to 0 by -1 } yield
        s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1) & ${1 << b}) <> 0 THEN 1 ELSE -1 END) AS v_${k}_$b").mkString(",\n             ")
      val hexChars = (0 until 16).map { k =>
        val nibbleVal = (3 to 0 by -1)
          .map(b => s"(CASE WHEN v_${k}_$b > 0 THEN ${1 << b} ELSE 0 END)")
          .mkString(" + ")
        s"substr('0123456789abcdef', ($nibbleVal) + 1, 1)"
      }.mkString(" ||\n             ")
      s"""
      WITH tok AS (SELECT DISTINCT doc_id,
                          unnest(${toksSql(Whitespace)}) AS token
                   FROM documents),
      h AS (SELECT doc_id, md5(token) AS h FROM tok),
      v AS (SELECT doc_id,
             $voteSums
            FROM h GROUP BY doc_id)
      SELECT doc_id,
             $hexChars AS simhash
      FROM v
      ORDER BY doc_id
      """.stripMargin.trim
    },
  )

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (regex split on non-alphanumeric boundaries + 4-chars-per-piece heuristic).
    */
  val qTokenCount: QuerySpec = QuerySpec(
    "q39_token_count",
    (s, d) =>
      docsRanged(s, d)
        .select(
          col("doc_id"),
          size(toks(Whitespace)).cast("long").as("n_ws_tokens"),
          size(toks(WordSep)).cast("long").as("n_word_tokens"),
          ceil(length(col("text")) / lit(4.0)).cast("long").as("n_bpe_est"),
        )
        .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id,
             len(${toksSql(Whitespace)}) AS n_ws_tokens,
             len(${toksSql(WordSep)}) AS n_word_tokens,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
      FROM documents
      ORDER BY doc_id
    """.stripMargin.trim),
  )

  val all: Seq[QuerySpec] = Seq(
    qTokenFreq,
    qDocQuality,
    qLangId,
    qFingerprint,
    qDedupExact,
    qMinhashSig,
    qMinhashBands,
    qNgramJaccard,
    qSimhash,
    qTokenCount,
  )
}
