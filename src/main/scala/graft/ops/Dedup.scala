package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._
import graft.functions.CrossHash.{h60, h60Sql}

/** Deduplication family over `documents` (the LLM-training-data surface the
  * engine adds beyond the reference): exact hash-groupBy, n-gram Jaccard via
  * inverted index, MinHash signatures + LSH banding, SimHash, and
  * embedding-cosine near-dup.
  *
  * Every hash that crosses the oracle boundary is [[graft.functions.CrossHash]]
  * (md5-derived) so DuckDB computes the identical 60-bit value; every
  * similarity score is quantized to integer parts-per-million before the
  * result surface, so float summation order can never flip a comparison.
  *
  * Scale notes (100 TB design intent):
  *   - exact dedup shuffles 16-byte md5 keys, never full documents;
  *   - the all-pairs stages (q38 inverted-index join, q42 brute-force cosine)
  *     are the *verification* tier — at corpus scale you run q39/q40's
  *     LSH banding first and only exact-verify colliding candidates. The
  *     banding itself is one explode + one groupBy — linear shuffle volume,
  *     `spark.sql.shuffle.partitions` sized to the corpus;
  *   - MinHash aggregation is a plain groupBy.agg(min×k) — map-side partial
  *     aggregation halves the shuffle for free.
  */
object Dedup {

  /** q305's staged on-disk LSH indexes by corpus SNAPSHOT (the
    * `Scratch.sourceKey` mtime fingerprint, not the bare dir path): the
    * index is a pure function of the corpus slice, so one JVM stages it once
    * per snapshot and every later admission run reads the parquet — the
    * maintained-across-refreshes production shape IncrementalDedupSpec
    * proves across sessions. */
  private val persistedIndexDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  // ---- shared MinHash parameters (single source for Spark AND oracle SQL) --
  /** Mersenne-ish modulus; small enough that a*h+b stays far from Long.Max. */
  val P = 1000000007L
  /** (a_i, b_i) of the 32 affine hash functions h_i(x) = (a_i*x + b_i) mod P. */
  val hashParams: Seq[(Long, Long)] =
    (0 until 32).map(i => ((2 * i + 1).toLong, 7919L * i + 13L))
  /** LSH banding: 8 bands × 4 rows over the 32-signature. */
  val NumBands = 8
  val RowsPerBand = 4

  // ---- shared DuckDB CTE fragments ----------------------------------------
  /** tokens per doc, mirroring ColumnOps.tokens. */
  private val tokCte =
    """t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents)""".stripMargin
  /** distinct 3-gram shingles per doc, mirroring ColumnOps.shingles(_, 3). */
  private val shCte =
    """sh AS (SELECT DISTINCT doc_id,
      |  unnest(list_transform(generate_series(1, len(toks)-2),
      |         i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM t WHERE len(toks) >= 3)""".stripMargin

  /** Pre-hashed shingle frame: (doc_id, hs) with hs = h60(shingle) mod P. */
  /** Shingle-hash frame of an arbitrary documents slice — the delta-only
    * path (q305) computes signatures for JUST the incoming batch, never the
    * corpus, so refresh-day cost is |delta|, not |corpus|. */
  def shingleHashesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
      .withColumn("hs", pmod(h60(col("sh")), lit(P)))

  /** Corpus documents with the tokenize/shingle kernel's input spread off
    * the one-row-group scan (guide §2.5 — the driver corpora are one
    * parquet file each, so the explode+h60 map stage otherwise runs in a
    * single task; the exchange ships (doc_id, text), trivial next to the
    * per-token work it parallelizes). Measured boundary (sf0.1 legs):
    * the spread pays only where the serial kernel is 3-gram-shingle-sized
    * or heavier (q38 −0.4 s, q214 −0.8 s); token-only pipelines LOST
    * ~0.3-0.5 s to the extra stage (q41/q127 reverted, and the shared
    * shingleHashes/minhashSignatures funnel stays unspread because its
    * consumers are iteration-dominated, measured q83/q339 regressions). */
  private def spreadDocs(s: SparkSession, d: String): DataFrame =
    graft.util.Sizing.spreadKernel(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      graft.util.Sizing.parquetRowCount(d, "documents"), perTask = 2000L)

  private def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingleHashesOf(Tables.documents(s, d))

  /** MinHash signature frame: doc_id, mh00..mh31 (exact longs), via the
    * native [[org.apache.spark.sql.graft.MinHashAgg]] TypedImperativeAggregate
    * (SURVEY §2.4's CUSTOM-aggregate tier): one k-long buffer per doc,
    * ObjectHashAggregate with map-side partial merge. Benched at parity with
    * the min×32 twin [[minhashSignaturesMinX32]] (~0.45s both at sf0.1),
    * which MinHashAggSpec pins bit-identical. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignaturesOf(Tables.documents(s, d))

  /** [[minhashSignatures]] over an arbitrary documents slice (see
    * [[shingleHashesOf]]). */
  def minhashSignaturesOf(docs: DataFrame): DataFrame = {
    val as = hashParams.map(_._1).toArray
    val bs = hashParams.map(_._2).toArray
    val sig = shingleHashesOf(docs).groupBy(col("doc_id"))
      .agg(graft.functions.GraftFunctions.minhashAgg(col("hs"), as, bs, P).as("sig"))
    val cols = col("doc_id") +:
      hashParams.indices.map(i => col("sig").getItem(i).as(f"mh$i%02d"))
    sig.select(cols: _*)
  }

  /** Banded LSH bucket keys of a signature frame: (doc_id, band, key) with
    * one row per (doc, band). This IS the persisted bucket-index schema the
    * incremental path (q301) maintains across corpus refreshes — a plain
    * parquet table keyed by (band, key); IncrementalDedupSpec proves the
    * round trip. */
  def bandedKeys(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val key = concat_ws(",",
        (0 until RowsPerBand).map(r => col(f"mh${b * RowsPerBand + r}%02d")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Built-in twin of [[minhashSignatures]]: 32 independent min() aggregates.
    * Kept as the differential check for the custom aggregate (MinHashAggSpec)
    * — same shuffle volume (k longs per doc), whole-stage-codegen path. */
  def minhashSignaturesMinX32(s: SparkSession, d: String): DataFrame = {
    val aggs = hashParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("hs") * a + b, lit(P))).as(f"mh$i%02d")
    }
    shingleHashes(s, d).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The oracle twin of [[minhashSignatures]], built from the same params.
    * (`private[ops]`: PipelineOps' connected-components oracle embeds it.) */
  private[ops] def minhashSql: String = {
    val hs = s"${h60Sql("sh")} % $P"
    val mins = hashParams.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*hs + $b) % $P) AS mh" + f"$i%02d"
    }.mkString(",\n  ")
    s"""WITH $tokCte,
       |$shCte,
       |h AS (SELECT doc_id, $hs AS hs FROM sh)
       |SELECT doc_id,
       |  $mins
       |FROM h GROUP BY doc_id""".stripMargin
  }

  /** Cosine similarity in double with sequential fold — mirrored by the
    * list_sum/list_transform oracle fragment (bit-identical fold order). */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
    def norm(x: String) =
      s"sqrt(list_sum(list_transform($x, e -> CAST(e AS DOUBLE)*CAST(e AS DOUBLE))))"
    s"CASE WHEN ${norm(a)} * ${norm(b)} = 0 THEN 0.0 ELSE ${dot(a, b)} / (${norm(a)} * ${norm(b)}) END"
  }

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q265_minhash_calibration",
      "MinHash ESTIMATOR CALIBRATION — the evaluation every dedup deployment owes its threshold choice: each doc meets its first 32 co-shingled partners (rank by partner id over the co-shingle pair frame — deterministic, MIRRORED in the oracle), so the calibrated population is ≤32·n BY CONSTRUCTION at any corpus size; per admitted pair the exact 3-gram Jaccard IN THE 60-BIT FINGERPRINT DOMAIN (shared-h60 count from the pair census, mirrored in the oracle — a cross-doc fingerprint collision perturbs exact_ppm identically on both engines, ~n·s/2^60 expected, zero observed at sf10; the partner cap bounds only the POPULATION, never a pair's value) meets the 32-component signature estimate (matching components x 31250 ppm), bucketed by exact-similarity decile with pair count, mean estimate and mean absolute error per bucket. This is how you pick the LSH band threshold empirically: the bucket where |error| stops drowning the signal IS the operating point. Scale shape, measured the hard way: the corpus carries ~2.7M co-shingle buckets of small occupancy (max 28 at sf10) ⇒ ~126M raw pairs, so any per-pair ARRAY work (signatures, full sets) explodes — the ungoverned form measured 118s/21.8x per decade and a sets-join variant filled the disk; here the pair census shuffles 16-byte keys only and signatures join the ≤32·n survivors. Shingle buckets also carry the 256 q44 safety cap. All integer ppm.",
      {
        val hs = s"${h60Sql("sh")} % $P"
        val mins = hashParams.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a*hs + $b) % $P) AS mh" + f"$i%02d"
        }.mkString(", ")
        val sigList = hashParams.indices.map(i => f"mh$i%02d").mkString("[", ", ", "]")
        s"""WITH $tokCte,
           |$shCte,
           |hh AS MATERIALIZED (SELECT doc_id, ${h60Sql("sh")} AS h FROM sh),
           |st AS MATERIALIZED (SELECT doc_id, count(*) AS sz
           |      FROM hh GROUP BY doc_id),
           |h AS (SELECT doc_id, $hs AS hs FROM sh),
           |sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
           |sigl AS (SELECT doc_id, $sigList AS sig FROM sig),
           |cap AS MATERIALIZED (SELECT doc_id, h FROM (
           |    SELECT doc_id, h,
           |      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
           |    FROM hh) WHERE rn <= 256),
           |p AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |      count(*) AS inter
           |      FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2),
           |pc AS (SELECT doc_a, doc_b, inter FROM (
           |    SELECT doc_a, doc_b, inter,
           |      row_number() OVER (PARTITION BY doc_a ORDER BY doc_b) AS prn
           |    FROM p) WHERE prn <= 32),
           |pairs AS (SELECT doc_a, doc_b,
           |    CAST(floor(1000000.0 * inter / (x.sz + y.sz - inter)) AS BIGINT)
           |      AS exact_ppm,
           |    CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
           |      q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END)) * 31250 AS BIGINT) AS est_ppm
           |  FROM pc JOIN st x ON x.doc_id = doc_a JOIN st y ON y.doc_id = doc_b
           |  JOIN sigl sa ON sa.doc_id = doc_a JOIN sigl sb ON sb.doc_id = doc_b)
           |SELECT exact_ppm // 100000 AS decile, count(*) AS n_pairs,
           |  CAST(sum(est_ppm) // count(*) AS BIGINT) AS mean_est_ppm,
           |  CAST(sum(exact_ppm) // count(*) AS BIGINT) AS mean_exact_ppm,
           |  CAST(sum(abs(est_ppm - exact_ppm)) // count(*) AS BIGINT) AS mean_abs_err_ppm
           |FROM pairs GROUP BY decile ORDER BY decile""".stripMargin
      }) { (s, d) =>
      // (doc_id, 60-bit shingle fingerprint): longs shuffle, never shingle
      // strings; feeds the pair census, the governor AND the signature tier.
      // h60 moved INSIDE the cache (r20, §1.4): the census tier read
      // h60(sh) and the signature tier read h60(sh) again, so the md5
      // kernel ran twice over the full shingle census and the cache held
      // shingle STRINGS — hashing before the persist runs it once and the
      // cached rows shrink to two longs
      val hh = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
          .select(col("doc_id"), h60(col("sh")).as("h")))
      val sz = hh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      // bucket safety cap (q44 doctrine, oracle-mirrored; the measured sf10
      // max occupancy is 28 so it never binds on THIS corpus — it exists
      // for the pathological bucket a real corpus eventually grows)
      val cap = hh.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 256).drop("rn")
      // exact shared-shingle census per co-shingled pair: 16-byte keys
      // through the shuffle, never arrays — ~126M raw pairs at sf10 make
      // any per-raw-pair array join explode (a full-set variant filled the
      // disk; the ungoverned original ran 118s)
      val p = cap.select(col("doc_id").as("doc_a"), col("h"))
        .join(cap.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      // per-doc partner cap: each doc calibrates against its first 32
      // co-shingled partners (rank by partner id — deterministic, mirrored)
      // ⇒ the population that touches signature arrays is ≤32·n at any SF
      val pc = p.withColumn("prn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_a")).orderBy(col("doc_b"))))
        .filter(col("prn") <= 32).drop("prn")
      val as = hashParams.map(_._1).toArray
      val bs = hashParams.map(_._2).toArray
      val sig = hh.withColumn("hs", pmod(col("h"), lit(P)))
        .groupBy(col("doc_id"))
        .agg(graft.functions.GraftFunctions.minhashAgg(col("hs"), as, bs, P).as("sig"))
      val pairs = pc
        .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .select(
          expr("CAST(floor(1000000.0 * inter / (sza + szb - inter)) AS BIGINT)")
            .as("exact_ppm"),
          (expr("aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (acc, v) -> acc + v)")
            * 31250L).as("est_ppm"))
      pairs
        .groupBy(expr("exact_ppm div 100000").as("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("CAST(sum(est_ppm) div count(*) AS BIGINT)").as("mean_est_ppm"),
          expr("CAST(sum(exact_ppm) div count(*) AS BIGINT)").as("mean_exact_ppm"),
          expr("CAST(sum(abs(est_ppm - exact_ppm)) div count(*) AS BIGINT)")
            .as("mean_abs_err_ppm"))
        .orderBy(col("decile"))
    },

    GraftQuery(
      "q37_exact_dedup",
      "Exact dedup as hash-groupBy: normalize whitespace/case, group by md5 of the normalized text (16-byte shuffle keys, not documents), keep min(doc_id) as canonical.",
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |ORDER BY canonical_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"))
        .orderBy(col("canonical_id"))
    },

    GraftQuery(
      "q38_ngram_jaccard",
      "Top-50 most similar doc pairs by exact 3-gram Jaccard, via shingle inverted-index join (|A∩B| from the index, |A∪B| = |A|+|B|−|A∩B|); similarity as integer ppm.",
      s"""WITH $tokCte,
         |$shCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(floor(1000000.0 * inter / (x.sz + y.sz - inter)) AS BIGINT) AS jaccard_ppm
         |FROM p JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |ORDER BY jaccard_ppm DESC, doc_a, doc_b LIMIT 50""".stripMargin) { (s, d) =>
      // The shingle frame feeds three consumers (both self-join sides + the
      // per-doc size agg); materialize once — tokenize/shingle is the
      // expensive part of the pipeline. The equi-join on the shingle key
      // measured faster than the collect_list inverted-index formulation
      // (list-buffer aggregation dominates at this posting-length profile);
      // at corpus scale both shuffle O(postings), and stop-shingles would
      // move discovery to the MinHash/LSH tier (q39/q40) with this exact
      // pass as the verification tier.
      // CacheOnce: unpersisted after the consuming action completes, so
      // repeated ad-hoc invocation doesn't accumulate cached frames
      val sh = graft.util.CacheOnce.persistForOneAction(
        spreadDocs(s, d)
          .select(col("doc_id"), explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh")))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val pairs = sh.as("a")
        .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          floor(lit(1000000.0) * col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
            .cast("long").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    GraftQuery(
      "q39_minhash_signatures",
      "MinHash signature matrix: 32 affine hashes over md5-derived 60-bit shingle hashes; one native TypedImperativeAggregate (k-long buffer per doc, map-side partial merge), exact-long output.",
      minhashSql + "\nORDER BY doc_id") { (s, d) =>
      minhashSignatures(s, d).orderBy(col("doc_id"))
    },

    GraftQuery(
      "q146_sketch_merge",
      "Sketch mergeability — the property that makes incremental maintenance free at 100 TB: MinHash(A ∪ B) = elementwise-min(MinHash(A), MinHash(B)). Each doc's shingles are split by hash parity into two disjoint sub-corpora, each half aggregated independently (the 'yesterday's corpus' and 'today's delta' stand-ins), and the signatures merged with zip_with(least). The oracle computes the whole-corpus signature directly — equality proves a stored signature table never needs recomputation, only a min-merge with the delta's.",
      minhashSql + "\nORDER BY doc_id") { (s, d) =>
      val as = hashParams.map(_._1).toArray
      val bs = hashParams.map(_._2).toArray
      val sh = shingleHashes(s, d)
      def half(parity: Int) = sh.filter(pmod(col("hs"), lit(2)) === parity)
        .groupBy(col("doc_id"))
        .agg(graft.functions.GraftFunctions
          .minhashAgg(col("hs"), as, bs, P).as(s"sig$parity"))
      val merged = half(0).join(half(1), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("sig0").isNull, col("sig1"))
            .when(col("sig1").isNull, col("sig0"))
            .otherwise(zip_with(col("sig0"), col("sig1"), (a, b) => least(a, b)))
            .as("sig"))
      val cols = col("doc_id") +:
        hashParams.indices.map(i => col("sig").getItem(i).as(f"mh$i%02d"))
      merged.select(cols: _*).orderBy(col("doc_id"))
    },

    GraftQuery(
      "q40_lsh_bucket_stats",
      "LSH banding over the MinHash signatures (8 bands × 4 rows): per band, bucket count, max bucket size, and candidate-pair count — the linear-cost candidate generator that replaces all-pairs comparison at corpus scale.",
      {
        val bandSelects = (0 until NumBands).map { b =>
          val key = (0 until RowsPerBand)
            .map(r => f"mh${b * RowsPerBand + r}%02d").mkString(" || ',' || ")
          s"SELECT $b AS band, $key AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH sig AS (
           |$minhashSql
           |),
           |bands AS (
           |  $bandSelects),
           |buckets AS (SELECT band, key, count(*) AS c FROM bands GROUP BY 1, 2)
           |SELECT band,
           |  count(*) AS n_buckets,
           |  CAST(max(c) AS BIGINT) AS max_bucket,
           |  CAST(sum((c*(c-1))/2) AS BIGINT) AS n_candidate_pairs
           |FROM buckets GROUP BY band ORDER BY band""".stripMargin
      }) { (s, d) =>
      val sig = minhashSignatures(s, d)
      val bandCols = (0 until NumBands).map { b =>
        val key = concat_ws(",",
          (0 until RowsPerBand).map(r => col(f"mh${b * RowsPerBand + r}%02d")): _*)
        struct(lit(b).as("band"), key.as("key"))
      }
      sig.select(explode(array(bandCols: _*)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.key").as("key"))
        .groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("c")).as("max_bucket"),
          sum((col("c") * (col("c") - 1)) / 2).cast("long").as("n_candidate_pairs"))
        .orderBy(col("band"))
    },

    GraftQuery(
      "q41_simhash",
      "64→32-bit SimHash per document: term-frequency-weighted sign-sum over md5-derived token-hash bits; near-dup docs land at small hamming distance.",
      {
        val sums = (0 until 32).map(j =>
          s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN c ELSE -c END) AS s$j").mkString(",\n  ")
        val bits = (0 until 32).map(j =>
          s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
        s"""WITH $tokCte,
           |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
           |tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
           |h AS (SELECT doc_id, c, ${h60Sql("tok")} AS hv FROM tf),
           |s AS (SELECT doc_id,
           |  $sums
           |FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
           |FROM s ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .withColumn("hv", h60(col("tok")))
      val sums = (0 until 32).map(j =>
        sum(when(shiftright(col("hv"), j).bitwiseAND(lit(1L)) === 1L, col("c"))
          .otherwise(-col("c"))).as(s"s$j"))
      val simhash = (0 until 32).map(j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
      tf.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), simhash.cast("long").as("simhash"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q42_embedding_neardup",
      "Embedding-cosine near-duplicate pairs (sim ≥ 0.40), brute-force GROUND-TRUTH tier over a FIXED 1000-vector deterministic probe slice (vec_id < 1000, mirrored in the oracle) — the bounded-verification doctrine of q266's 50-probe sample: the slice covers the whole corpus at the oracle-gated SFs (≤1000 vectors), and at any larger scale the registered work stays CONSTANT (≤499500 codegen dot-products) while q44's capped LSH remains the operating path for corpus-wide pairs. Re-scoped from the full n² self-join after the r10 sf1 board measured that form at 43× per 10× data.",
      s"""WITH sl AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  CAST(floor(1000000.0 * (${cosSql("a.embedding", "b.embedding")})) AS BIGINT) AS cos_ppm
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.40
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      // Norms are computed once per vector (n evals, not n²) before the
      // theta-join; the per-pair work is a single codegen vec_dot loop.
      // The vec_id predicate reaches the parquet scan as a pushed filter,
      // so the slice never reads the rest of the corpus.
      val e = Tables.embeddings(s, d)
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b"))
      val nn  = col("nrm_a") * col("nrm_b")
      val sim = when(nn === lit(0.0), lit(0.0))
        .otherwise(dotProduct(col("emb_a"), col("emb_b")) / nn)
      a.join(b, col("vec_a") < col("vec_b"))
        .filter(sim >= 0.40)
        .select(col("vec_a"), col("vec_b"),
          floor(lit(1000000.0) * sim).cast("long").as("cos_ppm"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    GraftQuery(
      "q127_prefix_filtered_simjoin",
      "Token-set similarity self-join (Jaccard ≥ 0.9) via PPJoin-style positional prefix filtering (Xiao et al.): order each doc's distinct token fingerprints rarest-first (global doc-frequency order), emit only the first n − ceil(0.9·n) + 1 — any qualifying pair MUST share a prefix token (no false negatives), so the candidate join touches rare-token buckets instead of the corpus cross product. Prefix-token buckets are CAPPED at 512 members (deterministic: rank by doc_id — MIRRORED in the oracle, which runs the identical prefix+cap pipeline). The cap is sized from MEASURED occupancy: the corpus's dominant near-dup cluster puts ~376 docs in its shared rare-token buckets at the gated SFs (so 512 keeps the prefix filter EXACT there — zero false negatives, spec-proven vs all-pairs brute force) while sf0.1's 3816-member buckets and the cross-replica numeric-token buckets (which grow LINEARLY with the corpus and made within-bucket pairing quadratic: 23× per decade / 257s at sf10 before the governor) are cut to a bounded 512²/2 candidate volume per bucket — the q44/q113/q209 governor class; past the cap a production deployment tightens the threshold or shards by length. Candidates are length-filtered (9·max ≤ 10·min) then exact-verified by full-set intersection. Tokens travel as 60-bit md5 fingerprints — 8-byte longs shuffle, never strings. Output: per-doc neighbor census.",
      s"""WITH t AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
         |    tok -> ${h60Sql("tok")})) AS hs
         |  FROM documents),
         |e AS MATERIALIZED (SELECT doc_id, unnest(hs) AS h FROM t),
         |n AS (SELECT doc_id, len(hs) AS n FROM t),
         |df AS (SELECT h, count(*) AS df FROM e GROUP BY h),
         |pfx AS (SELECT doc_id, h, n FROM (
         |    SELECT e.doc_id, e.h, n.n,
         |      row_number() OVER (PARTITION BY e.doc_id ORDER BY df.df, e.h) AS pos
         |    FROM e JOIN df ON df.h = e.h JOIN n ON n.doc_id = e.doc_id)
         |  WHERE pos <= n - ((9*n + 9) // 10) + 1),
         |cap AS MATERIALIZED (SELECT doc_id, h, n FROM (
         |    SELECT doc_id, h, n,
         |      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM pfx)
         |  WHERE rn <= 512),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE b.n * 10 >= a.n * 9 AND a.n * 10 >= b.n * 9),
         |pr AS (SELECT c.da, c.db, len(list_intersect(x.hs, y.hs)) AS i,
         |    len(x.hs) AS na, len(y.hs) AS nb
         |  FROM cand c JOIN t x ON x.doc_id = c.da JOIN t y ON y.doc_id = c.db),
         |pp AS (SELECT da, db, (i * 1000000) // (na + nb - i) AS jac_ppm
         |  FROM pr WHERE i * 1000000 >= 900000 * (na + nb - i)),
         |sym AS (SELECT da AS doc_id, jac_ppm FROM pp
         |  UNION ALL SELECT db, jac_ppm FROM pp)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors,
         |  CAST(max(jac_ppm) AS BIGINT) AS max_jac_ppm
         |FROM sym GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // distinct 60-bit token fingerprints per doc (dedup AFTER hashing —
      // parity with the oracle's list_distinct over transformed values);
      // persisted: feeds the df-count, the prefix tier AND the verify sets
      val toks = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .select(col("doc_id"), h60(col("tok")).as("h")).distinct())
      // global rarity = doc frequency per fingerprint (one shuffle by h);
      // joined back so each doc can sort its own set rarest-first locally
      val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val sets = toks.join(dfreq, "h")
        .groupBy(col("doc_id"))
        .agg(transform(array_sort(collect_list(struct(col("df"), col("h")))),
          x => x("h")).as("hs"), count(lit(1)).as("n"))
      // positional prefix: first n − ceil(0.9n) + 1 (exact integer ceil);
      // a Jaccard-0.9 pair always shares one of these rare tokens.
      // Bucket governor (doc above): rank members per prefix token by doc_id,
      // keep the first 512 (sized from measured occupancy; mirrored in the
      // oracle) — candidate volume per bucket is bounded at 512²/2 instead
      // of sum-of-squares in occupancy. The window partitions by the token
      // fingerprint, so it parallelizes across buckets.
      val pfx = graft.util.CacheOnce.persistForOneAction(
        sets.selectExpr("doc_id", "n",
          "explode(slice(hs, 1, cast(n - ((9*n + 9) div 10) + 1 as int))) AS h")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("h")).orderBy(col("doc_id"))))
          .filter(col("rn") <= 512).drop("rn"))
      // candidate pairs: NOT deduped yet — verification runs inline on the
      // raw prefix matches (map-side, full parallelism) and the dedupe
      // happens on the much smaller verified set. Deduping first looked
      // cheaper but planned worse: AQE rightly coalesces the ~60 MB
      // distinct output to one partition, serializing the per-pair
      // verify work behind a single task.
      val cand = pfx.select(col("doc_id").as("da"), col("n").as("na"), col("h"))
        .join(pfx.select(col("doc_id").as("db"), col("n").as("nb"), col("h")), Seq("h"))
        .filter(col("da") < col("db") &&
          col("nb") * 10 >= col("na") * 9 && col("na") * 10 >= col("nb") * 9)
        .select(col("da"), col("db"))
      // exact verify: per-doc sets VALUE-sorted so |∩| is one codegen merge
      // walk (sorted_intersect_count) — the hash-set array_intersect was the
      // dominant cost at ~1M verified pairs. The doc→set frame is
      // id+fingerprints only (KBs per thousand docs) — unhinted, AQE
      // broadcasts it at small corpus and shuffles at scale
      val vsets = toks.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n"))
      val ver = cand
        .join(vsets.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na")), Seq("da"))
        .join(vsets.select(col("doc_id").as("db"), col("hs").as("hb"), col("n").as("nb")), Seq("db"))
        .select(col("da"), col("db"),
          graft.functions.GraftFunctions
            .sortedIntersectCount(col("ha"), col("hb")).as("i"),
          col("na"), col("nb"))
        .filter(col("i") * 1000000L >= lit(900000L) * (col("na") + col("nb") - col("i")))
        .selectExpr("da", "db", "(i * 1000000) div (na + nb - i) AS jac_ppm")
        .distinct() // a pair may share several prefix tokens — dedupe once, post-verify
      // both directions from ONE pass (a union of two selects over `ver`
      // would recompute the whole verify tier per branch)
      ver.select(explode(array(
          struct(col("da").as("doc_id"), col("jac_ppm")),
          struct(col("db").as("doc_id"), col("jac_ppm")))).as("x"))
        .select(col("x.doc_id").as("doc_id"), col("x.jac_ppm").as("jac_ppm"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_neighbors"), max(col("jac_ppm")).as("max_jac_ppm"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q214_containment_dedup",
      "CONTAINMENT near-dup detection — the asymmetric twin of q38's Jaccard: score each candidate pair by |A∩B| / |smaller side|, the measure that catches EXCERPTS and quotations (a 50-shingle doc wholly inside a 5000-shingle doc has Jaccard ~1% but containment 100% — symmetric dedup never sees it; containment-based filtering is how pretraining pipelines drop quoted/embedded duplicates). Same linear shingle-index join for |A∩B|, smaller side chosen by (size, id) so the score is deterministic on ties; exact integer ppm; pairs at >= 60%. Scale: identical candidate shape to q38 (posting join, stop-shingle/df-cap lever), one extra size compare.",
      s"""WITH $tokCte,
         |$shCte,
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |dir AS (SELECT
         |    CASE WHEN x.sz < y.sz OR (x.sz = y.sz) THEN doc_a ELSE doc_b END AS doc_small,
         |    CASE WHEN x.sz < y.sz OR (x.sz = y.sz) THEN doc_b ELSE doc_a END AS doc_host,
         |    (inter * 1000000) // least(x.sz, y.sz) AS containment_ppm
         |  FROM p JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b)
         |SELECT doc_small, doc_host, CAST(containment_ppm AS BIGINT) AS containment_ppm
         |FROM dir WHERE containment_ppm >= 600000
         |ORDER BY containment_ppm DESC, doc_small, doc_host LIMIT 50""".stripMargin) { (s, d) =>
      val sh = graft.util.CacheOnce.persistForOneAction(
        spreadDocs(s, d)
          .select(col("doc_id"), explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh")))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val pairs = sh.as("a")
        .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      // the SMALLER side's coverage is the containment score; ties keep the
      // lower id as the contained side, so the direction is a total order
      val smallIsA = col("sz_a") <= col("sz_b")
      pairs
        .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .select(
          when(smallIsA, col("doc_a")).otherwise(col("doc_b")).as("doc_small"),
          when(smallIsA, col("doc_b")).otherwise(col("doc_a")).as("doc_host"),
          expr("(inter * 1000000) div least(sz_a, sz_b)").as("containment_ppm"))
        .filter(col("containment_ppm") >= 600000L)
        .orderBy(col("containment_ppm").desc, col("doc_small"), col("doc_host"))
        .limit(50)
    },

    GraftQuery(
      "q210_entity_blocking",
      "Entity-resolution candidate generation by MULTI-KEY BLOCKING over customers: pairs meet through block A (nation, balance-thousand bucket) OR block B (market segment, same bucket) — never through the C(n,2) cross product — then every candidate is scored inline on field agreements (same nation + same segment + balances within $100, cents-exact) and kept at score >= 2. The union of two narrow blocking passes is the standard recall lever (each block bounds pair volume to Σ block², like LSH banding bounds q40), and blocks are CAPPED at 64 deterministically-ranked members (fixed keys + growing data = quadratic blocks; the sf1 board measured 53x at 10x rows before the cap — production re-blocks on a finer key at saturation); scoring runs BEFORE the pair-dedupe shuffle (the q127 lesson), and bucket-straddling near-balances are the documented recall loss a second shifted-bucket block would close (the 2-bin trick of q125). Top-20 pairs by (score, ids) — pair-level evidence, not just a census.",
      """WITH c AS (SELECT c_custkey AS k, c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) // 100000 AS bucket
        |  FROM customer),
        |ca AS (SELECT k, nat, seg, bucket,
        |       row_number() OVER (PARTITION BY nat, bucket ORDER BY k) AS rn
        |     FROM c),
        |cb AS (SELECT k, seg, bucket,
        |       row_number() OVER (PARTITION BY seg, bucket ORDER BY k) AS rn
        |     FROM c),
        |pa AS (SELECT a.k AS ka, b.k AS kb FROM ca a JOIN ca b
        |       ON a.nat = b.nat AND a.bucket = b.bucket AND a.k < b.k
        |      AND a.rn <= 64 AND b.rn <= 64),
        |pb AS (SELECT a.k AS ka, b.k AS kb FROM cb a JOIN cb b
        |       ON a.seg = b.seg AND a.bucket = b.bucket AND a.k < b.k
        |      AND a.rn <= 64 AND b.rn <= 64),
        |cand AS (SELECT ka, kb FROM pa UNION SELECT ka, kb FROM pb),
        |scored AS (SELECT ka, kb,
        |    CAST(CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END +
        |         CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END +
        |         CASE WHEN abs(a.cents - b.cents) < 10000 THEN 1 ELSE 0 END
        |      AS BIGINT) AS score
        |  FROM cand JOIN c a ON ka = a.k JOIN c b ON kb = b.k)
        |SELECT ka, kb, score FROM scored WHERE score >= 2
        |ORDER BY score DESC, ka, kb LIMIT 20""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(
        col("c_custkey").as("k"), col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        cents(col("c_acctbal")).as("cents"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT) div 100000").as("bucket"))
      // block-size governor (mirrored in the oracle): members rank
      // deterministically within their block and only the first 64 pair up.
      // Blocks grow linearly with customers under FIXED blocking keys, so
      // uncapped Σ block² is quadratic (the sf1 board measured 53x at 10x
      // rows); production re-blocks on a finer key when the census shows
      // saturation, and the cap bounds candidate volume until then. No
      // effect at the oracle-gated SFs (max block ~27 members).
      def block(key: String) = {
        val ranked = c.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(key), col("bucket")).orderBy(col("k"))))
          .filter(col("rn") <= 64)
        ranked.as("a").join(ranked.as("b"),
            col(s"a.$key") === col(s"b.$key") &&
              col("a.bucket") === col("b.bucket") && col("a.k") < col("b.k"))
          .select(col("a.k").as("ka"), col("b.k").as("kb"))
      }
      // UNION (set) dedups pairs that met through both blocks
      val cand = block("nat").union(block("seg")).distinct()
      val a = c.select(col("k").as("ka"), col("nat").as("nat_a"),
        col("seg").as("seg_a"), col("cents").as("cents_a"))
      val b = c.select(col("k").as("kb"), col("nat").as("nat_b"),
        col("seg").as("seg_b"), col("cents").as("cents_b"))
      cand.join(a, "ka").join(b, "kb")
        .select(col("ka"), col("kb"),
          (when(col("nat_a") === col("nat_b"), 1).otherwise(0) +
            when(col("seg_a") === col("seg_b"), 1).otherwise(0) +
            when(abs(col("cents_a") - col("cents_b")) < 10000, 1).otherwise(0))
            .cast("long").as("score"))
        .filter(col("score") >= 2)
        .orderBy(col("score").desc, col("ka"), col("kb"))
        .limit(20)
    },

    GraftQuery(
      "q301_incremental_dedup",
      "INCREMENTAL corpus-update dedup — the production path every training corpus runs on refresh day: an incoming batch (source src19) is screened against the EXISTING corpus (every other source) without ever comparing corpus-vs-corpus. Delta signatures probe the corpus' banded LSH buckets (at 100 TB that bucket table is a PERSISTED index maintained across runs; here it is derived in-plan from the same signature frame), colliding candidates are exact-verified by sorted-fingerprint intersection, and the output is the per-incoming-doc admission verdict: candidate count, verified-dup count (3-gram Jaccard >= 0.5), keep/reject. Fixed 25-row surface regardless of hit rate, so the oracle gate is exercised even when the batch is clean. Cost shape: |delta| x bucket-collisions, NEVER |corpus|^2 — re-running yesterday's full dedup to admit 0.1% new data is the anti-pattern this operator exists to avoid.",
      {
        val hs = s"${h60Sql("sh")} % $P"
        val mins = hashParams.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a*hs + $b) % $P) AS mh" + f"$i%02d"
        }.mkString(", ")
        val bandSelects = (0 until NumBands).map { b =>
          val key = (0 until RowsPerBand)
            .map(r => f"mh${b * RowsPerBand + r}%02d").mkString(" || ',' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH $tokCte,
           |$shCte,
           |h AS (SELECT doc_id, $hs AS hs FROM sh),
           |sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
           |bands AS (
           |  $bandSelects),
           |src AS (SELECT doc_id, source FROM documents),
           |cand AS (SELECT DISTINCT da.doc_id AS did, ca.doc_id AS cid
           |  FROM bands da JOIN src sd ON sd.doc_id = da.doc_id AND sd.source = 'src19'
           |  JOIN bands ca ON ca.band = da.band AND ca.key = da.key
           |  JOIN src sc ON sc.doc_id = ca.doc_id AND sc.source <> 'src19'),
           |sz AS (SELECT doc_id, count(DISTINCT hs) AS sz FROM h GROUP BY doc_id),
           |inter AS (SELECT c.did, c.cid, count(DISTINCT x.hs) AS inter
           |  FROM cand c JOIN h x ON x.doc_id = c.did
           |  JOIN h y ON y.doc_id = c.cid AND y.hs = x.hs
           |  GROUP BY 1, 2),
           |jac AS (SELECT c.did, c.cid,
           |    CASE WHEN 1000000.0 * coalesce(i.inter, 0)
           |         / (x.sz + y.sz - coalesce(i.inter, 0)) >= 500000
           |         THEN 1 ELSE 0 END AS is_match
           |  FROM cand c
           |  LEFT JOIN inter i ON i.did = c.did AND i.cid = c.cid
           |  JOIN sz x ON x.doc_id = c.did JOIN sz y ON y.doc_id = c.cid),
           |verd AS (SELECT did, count(*) AS n_candidates,
           |    sum(is_match) AS n_dups
           |  FROM jac GROUP BY did)
           |SELECT s.doc_id,
           |  CAST(coalesce(v.n_candidates, 0) AS BIGINT) AS n_candidates,
           |  CAST(coalesce(v.n_dups, 0) AS BIGINT) AS n_dups,
           |  coalesce(v.n_dups, 0) > 0 AS is_dup
           |FROM src s LEFT JOIN verd v ON v.did = s.doc_id
           |WHERE s.source = 'src19'
           |ORDER BY s.doc_id""".stripMargin
      }) { (s, d) =>
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val bands = bandedKeys(minhashSignatures(s, d))
      // the corpus side of this join is the persisted bucket index in
      // production; the delta side is small, so it broadcasts to the buckets
      val deltaBands = bands.join(
        broadcast(src.filter(col("source") === "src19")), "doc_id")
        .select(col("doc_id").as("did"), col("band"), col("key"))
      val corpusBands = bands.join(
        broadcast(src.filter(col("source") =!= "src19")), "doc_id")
        .select(col("doc_id").as("cid"), col("band"), col("key"))
      val cand = deltaBands.join(corpusBands, Seq("band", "key"))
        .select(col("did"), col("cid")).distinct()
      // exact verification on candidates only: one sorted-fingerprint array
      // per doc, codegen merge-walk intersection — never a shingle re-join
      val shSets = graft.util.CacheOnce.persistForOneAction(
        shingleHashes(s, d).groupBy(col("doc_id"))
          .agg(sort_array(collect_set(col("hs"))).as("hset"))
          .withColumn("sz", size(col("hset"))))
      val verified = cand
        .join(shSets.select(col("doc_id").as("did"), col("hset").as("set_a"),
          col("sz").as("sz_a")), "did")
        .join(shSets.select(col("doc_id").as("cid"), col("hset").as("set_b"),
          col("sz").as("sz_b")), "cid")
        .withColumn("inter",
          graft.functions.GraftFunctions.sortedIntersectCount(col("set_a"), col("set_b")))
        .withColumn("is_match",
          when(lit(1000000.0) * col("inter")
            / (col("sz_a") + col("sz_b") - col("inter")) >= 500000, 1L).otherwise(0L))
        .groupBy(col("did"))
        .agg(count(lit(1)).as("n_candidates"), sum(col("is_match")).as("n_dups"))
      src.filter(col("source") === "src19")
        .join(verified, col("did") === col("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          (coalesce(col("n_dups"), lit(0L)) > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q305_persisted_lsh_index",
      "q301's incremental dedup probing a PERSISTED ON-DISK index (r10 worklist #4) — the refresh-day production claim made a registered, oracle-gated fact: the corpus' banded LSH buckets AND its sorted shingle-fingerprint sketches are staged to parquet ONCE per corpus (memoized per JVM; IncrementalDedupSpec proves the same round trip across sessions), and the query plan reads ONLY that index plus the delta batch (source src19) — corpus text is never re-read at admission time, which is the whole point of maintaining an index at 100 TB. Delta signatures are computed from the delta slice alone (minhashSignaturesOf — cost |delta|), probed against the bucket parquet, exact-verified against the sketch parquet by codegen merge-walk intersection. The persisted posting lists are CAPPED at 256 members per (band, key) at staging time (rank by cid, mirrored in the oracle; q44 governor doctrine; no effect at the gated SFs) so admission cost stays LINEAR in the delta — uncapped, bucket occupancy grows with the corpus and the probe fanout quadratically (12.5× per decade measured at sf10 before the cap). Adds n_buckets_hit (distinct colliding buckets per delta doc) to q301's admission surface — the probe-fanout telemetry an index operator monitors.",
      {
        val hs = s"${h60Sql("sh")} % $P"
        val mins = hashParams.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a*hs + $b) % $P) AS mh" + f"$i%02d"
        }.mkString(", ")
        val bandSelects = (0 until NumBands).map { b =>
          val key = (0 until RowsPerBand)
            .map(r => f"mh${b * RowsPerBand + r}%02d").mkString(" || ',' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH $tokCte,
           |$shCte,
           |h AS (SELECT doc_id, $hs AS hs FROM sh),
           |sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
           |bands AS (
           |  $bandSelects),
           |src AS (SELECT doc_id, source FROM documents),
           |cb AS (SELECT doc_id, band, key FROM (
           |    SELECT b.doc_id, b.band, b.key,
           |      row_number() OVER (PARTITION BY b.band, b.key
           |                         ORDER BY b.doc_id) AS rn
           |    FROM bands b JOIN src sc
           |      ON sc.doc_id = b.doc_id AND sc.source <> 'src19')
           |  WHERE rn <= 256),
           |probe AS (SELECT da.doc_id AS did, cb.doc_id AS cid, da.band, da.key
           |  FROM bands da JOIN src sd ON sd.doc_id = da.doc_id AND sd.source = 'src19'
           |  JOIN cb ON cb.band = da.band AND cb.key = da.key),
           |cand AS (SELECT DISTINCT did, cid FROM probe),
           |bh AS (SELECT did, count(DISTINCT band || ':' || key) AS n_buckets_hit
           |  FROM probe GROUP BY did),
           |sz AS (SELECT doc_id, count(DISTINCT hs) AS sz FROM h GROUP BY doc_id),
           |inter AS (SELECT c.did, c.cid, count(DISTINCT x.hs) AS inter
           |  FROM cand c JOIN h x ON x.doc_id = c.did
           |  JOIN h y ON y.doc_id = c.cid AND y.hs = x.hs
           |  GROUP BY 1, 2),
           |jac AS (SELECT c.did, c.cid,
           |    CASE WHEN 1000000.0 * coalesce(i.inter, 0)
           |         / (x.sz + y.sz - coalesce(i.inter, 0)) >= 500000
           |         THEN 1 ELSE 0 END AS is_match
           |  FROM cand c
           |  LEFT JOIN inter i ON i.did = c.did AND i.cid = c.cid
           |  JOIN sz x ON x.doc_id = c.did JOIN sz y ON y.doc_id = c.cid),
           |verd AS (SELECT did, count(*) AS n_candidates,
           |    sum(is_match) AS n_dups
           |  FROM jac GROUP BY did)
           |SELECT s.doc_id,
           |  CAST(coalesce(v.n_candidates, 0) AS BIGINT) AS n_candidates,
           |  CAST(coalesce(b.n_buckets_hit, 0) AS BIGINT) AS n_buckets_hit,
           |  CAST(coalesce(v.n_dups, 0) AS BIGINT) AS n_dups,
           |  coalesce(v.n_dups, 0) > 0 AS is_dup
           |FROM src s LEFT JOIN verd v ON v.did = s.doc_id
           |LEFT JOIN bh b ON b.did = s.doc_id
           |WHERE s.source = 'src19'
           |ORDER BY s.doc_id""".stripMargin
      }) { (s, d) =>
      // ---- index staging: ONE corpus pass per JVM per corpus SNAPSHOT -----
      // keyed on the mtime fingerprint, not the bare dir path: a regenerated
      // documents.parquet under the same path must re-stage (the q311/q184
      // staleness class; Scratch.sourceKey is the shared fingerprint)
      val idxDir = persistedIndexDirs.getOrElseUpdate(
        graft.util.Scratch.sourceKey(d, "documents"), {
        val dir = graft.util.Scratch.dir("graft-lsh-index").toString
        val corpusDocs = Tables.documents(s, d).filter(col("source") =!= "src19")
        // bucket table: (band, key, cid) — q301's bandedKeys schema.
        // Postings are CAPPED at 256 members per (band, key) AT STAGING TIME
        // (deterministic: rank by cid — mirrored in the oracle): under
        // corpus replication bucket occupancy grows linearly and the
        // delta-probe fanout (|delta ∩ bucket| × occupancy) quadratically —
        // the sf10 board measured this index at 12.5× per decade before the
        // cap. A capped posting list is the production index shape (bounded
        // probe cost per bucket forever); past the cap, re-banding with more
        // bands/rows is the recall-preserving move (q44 doctrine). No cap
        // effect at the oracle-gated SFs.
        bandedKeys(minhashSignaturesOf(corpusDocs))
          .select(col("band"), col("key"), col("doc_id").as("cid"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("key")).orderBy(col("cid"))))
          .filter(col("rn") <= 256).drop("rn")
          .write.mode("overwrite").parquet(s"$dir/buckets")
        // sketch table: (cid, hset sorted, sz) — the exact-verify side, so
        // admission never touches corpus text
        shingleHashesOf(corpusDocs).groupBy(col("doc_id"))
          .agg(sort_array(collect_set(col("hs"))).as("hset"))
          .select(col("doc_id").as("cid"), col("hset"),
            size(col("hset")).cast("long").as("sz"))
          .write.mode("overwrite").parquet(s"$dir/sketches")
        dir
      })
      val buckets  = s.read.parquet(s"$idxDir/buckets")
      val sketches = s.read.parquet(s"$idxDir/sketches")
      // ---- admission-time plan: delta slice + index parquet ONLY ----------
      val deltaDocs = Tables.documents(s, d).filter(col("source") === "src19")
      val deltaBands = bandedKeys(minhashSignaturesOf(deltaDocs))
        .select(col("doc_id").as("did"), col("band"), col("key"))
      // the probe feeds TWO aggregates (candidate pairs + bucket-fanout
      // telemetry): persist the small collision frame once
      val probe = graft.util.CacheOnce.persistForOneAction(
        deltaBands.join(buckets, Seq("band", "key"))
          .select(col("did"), col("cid"), col("band"), col("key")))
      val cand = probe.select(col("did"), col("cid")).distinct()
      val bhits = probe
        .groupBy(col("did"))
        .agg(countDistinct(concat_ws(":", col("band"), col("key")))
          .as("n_buckets_hit"))
      val deltaSets = shingleHashesOf(deltaDocs).groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("hs"))).as("dset"))
        .select(col("doc_id").as("did"), col("dset"),
          size(col("dset")).cast("long").as("dsz"))
      val verified = cand
        .join(deltaSets, "did")
        .join(sketches, "cid")
        .withColumn("inter",
          graft.functions.GraftFunctions.sortedIntersectCount(col("dset"), col("hset")))
        .withColumn("is_match",
          when(lit(1000000.0) * col("inter")
            / (col("dsz") + col("sz") - col("inter")) >= 500000, 1L).otherwise(0L))
        .groupBy(col("did"))
        .agg(count(lit(1)).as("n_candidates"), sum(col("is_match")).as("n_dups"))
      deltaDocs.select(col("doc_id"))
        .join(verified, col("did") === col("doc_id"), "left_outer").drop("did")
        .join(bhits, col("did") === col("doc_id"), "left_outer").drop("did")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_buckets_hit"), lit(0L)).as("n_buckets_hit"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          (coalesce(col("n_dups"), lit(0L)) > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q340_weighted_minhash",
      "WEIGHTED MinHash near-dup — field-weighted similarity via the integer-replication construction: the plain 3-gram Jaccard (q38-q40) treats a token seen once and a token seen twenty times identically, but boilerplate-vs-content discrimination needs WEIGHTED Jaccard J_w = Σ min(w_A,w_B) / Σ max(w_A,w_B). Replicate each token t into (t,1)…(t,w) copies (w = its term frequency capped at 4 — the cap bounds replication cost AND is itself the weighting policy: beyond a few repeats, more copies add no signal), and plain Jaccard over the expanded multisets IS weighted Jaccard exactly, so the unmodified 32-function MinHash machinery estimates it with the same 1/√k error and the same mergeability. Each copy hashes INDEPENDENTLY (hc = h60(t‖'#'‖c) mod P — an arithmetic combine would put copies on consecutive integers where the small-multiplier affine family always elects the first copy, collapsing the estimator to unweighted set MinHash), so the oracle rebuilds every signature bit-for-bit from md5. Candidates come from 4-band × 8-row banding over the WEIGHTED signatures — longer rows than the 3-gram pipeline's 8×4 because the unigram universe is denser, moving the collision threshold up to (1/4)^(1/8) ≈ 0.84 — with the 256-member bucket governor (q44 doctrine, oracle-mirrored); per pair the output ships the signature estimate AND the exact capped-weight Jaccard with signed error — the calibration surface (q265 doctrine) for the weighted estimator. The whole census rides the 60-BIT FINGERPRINT domain (q265's h60 doctrine — longs shuffle, never token strings; a cross-doc fp collision perturbs both engines identically), and the exact tier is ROW-LOCAL: each doc's census packs once into a sorted (fp<<3|w) long array and every governed pair verifies via the SortedMinWeightIntersect codegen merge walk — the (doc,token)⋈(doc,token) double join it replaces re-shipped the corpus-sized weighted census per candidate pair (140.6 s, the r13 board's #2 sf10 absolute). Scale shape: expansion is ≤4× the token census, signatures ride the native MinHashAgg buffer, candidate volume is governor-bounded — the whole pipeline inherits q40's linearity.",
      {
        val hc =
          s"${h60Sql("CAST(fp AS VARCHAR) || '#' || CAST(c AS VARCHAR)")} % $P"
        val mins = hashParams.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a*hc + $b) % $P) AS mh" + f"$i%02d"
        }.mkString(", ")
        // 4 bands × 8 rows (vs the 3-gram pipeline's 8×4): the unigram
        // weighted universe is far denser than shingles — common tokens
        // alone make moderate weighted Jaccard ubiquitous — so the banding
        // threshold moves up to (1/4)^(1/8) ≈ 0.84 to keep candidates to
        // genuine near-dups
        val bandSelects = (0 until 4).map { b =>
          val key = (0 until 8)
            .map(r => f"mh${b * 8 + r}%02d").mkString(" || ',' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM sig"
        }.mkString("\n  UNION ALL ")
        val matchSum = (0 until 32).map(i =>
          f"CASE WHEN sa.mh$i%02d = sb.mh$i%02d THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $tokCte,
           |w AS (SELECT doc_id, ${h60Sql("tok")} AS fp, least(count(*), 4) AS w
           |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) x GROUP BY 1, 2),
           |sw AS (SELECT doc_id, sum(w) AS sw FROM w GROUP BY doc_id),
           |ex AS (SELECT doc_id, $hc AS hc
           |  FROM (SELECT doc_id, fp, unnest(generate_series(1, w)) AS c
           |        FROM w) y),
           |sig AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
           |bands AS (
           |  $bandSelects),
           |bk AS (SELECT doc_id, band, key,
           |    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
           |  FROM bands),
           |pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id
           |  WHERE a.rn <= 256 AND b.rn <= 256),
           |est AS (SELECT p.da, p.db, ($matchSum) * 31250 AS est_ppm
           |  FROM pairs p JOIN sig sa ON sa.doc_id = p.da
           |  JOIN sig sb ON sb.doc_id = p.db),
           |inter AS (SELECT p.da, p.db,
           |    CAST(sum(least(wa.w, wb.w)) AS BIGINT) AS inter
           |  FROM pairs p JOIN w wa ON wa.doc_id = p.da
           |  JOIN w wb ON wb.doc_id = p.db AND wb.fp = wa.fp
           |  GROUP BY 1, 2)
           |SELECT e.da AS doc_a, e.db AS doc_b,
           |  CAST(e.est_ppm AS BIGINT) AS est_ppm,
           |  CAST(coalesce(i.inter, 0) * 1000000
           |      // (swa.sw + swb.sw - coalesce(i.inter, 0)) AS BIGINT)
           |    AS exact_ppm,
           |  CAST(e.est_ppm - coalesce(i.inter, 0) * 1000000
           |      // (swa.sw + swb.sw - coalesce(i.inter, 0)) AS BIGINT)
           |    AS err_ppm
           |FROM est e LEFT JOIN inter i ON i.da = e.da AND i.db = e.db
           |JOIN sw swa ON swa.doc_id = e.da
           |JOIN sw swb ON swb.doc_id = e.db
           |ORDER BY doc_a, doc_b""".stripMargin
      }) { (s, d) =>
      val as = hashParams.map(_._1).toArray
      val bs = hashParams.map(_._2).toArray
      // capped-tf census on the 60-BIT FINGERPRINT domain (q265's h60
      // doctrine: longs shuffle, never token strings; cross-doc fp
      // collisions perturb both engines identically) — one action, 3 uses
      val wtok = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .select(col("doc_id"), h60(col("tok")).as("fp"))
          .groupBy(col("doc_id"), col("fp"))
          .agg(least(count(lit(1)), lit(4L)).as("w")))
      val sw = wtok.groupBy(col("doc_id")).agg(sum(col("w")).as("sw"))
      // integer replication: (t, 1)…(t, w) — plain Jaccard over the expanded
      // multiset IS weighted Jaccard. Each copy gets its OWN md5-mixed
      // element hash (h60 of "fp#c"): an arithmetic combine like 31·hs + c
      // puts a token's copies on consecutive integers, and under the
      // small-multiplier affine family the c = 1 copy then wins every min —
      // the signature silently degenerates to UNWEIGHTED set MinHash
      // (measured: +0.35 mean bias vs exact weighted Jaccard)
      val exp = wtok
        .select(col("doc_id"), col("fp"),
          explode(sequence(lit(1L), col("w"))).as("c"))
        .withColumn("hc", pmod(
          h60(concat(col("fp").cast("string"), lit("#"),
            col("c").cast("string"))), lit(P)))
      // persisted for the one final action: the signature frame feeds THREE
      // plan branches (banding, the est join's a-side and b-side) and plans
      // don't ReuseExchange across them — the r20 profile read the
      // ObjectHashAggregate pair 8x in the physical plan, i.e. the whole
      // replicated-census md5 expansion re-ran per branch (guide §1.4)
      val sig = graft.util.CacheOnce.persistForOneAction(
        exp.groupBy(col("doc_id"))
          .agg(graft.functions.GraftFunctions.minhashAgg(col("hc"), as, bs, P)
            .as("sig"))
          .select((col("doc_id") +: hashParams.indices.map(i =>
            col("sig").getItem(i).as(f"mh$i%02d"))): _*))
      // 4×8 banding (see the oracle note: denser unigram universe → higher
      // threshold) + the 256-member bucket governor (rank by doc_id,
      // oracle-mirrored): candidate volume per bucket bounded at 256²/2
      val bandCols = (0 until 4).map { b =>
        val key = concat_ws(",",
          (0 until 8).map(r => col(f"mh${b * 8 + r}%02d")): _*)
        struct(lit(b).as("band"), key.as("key"))
      }
      val bk = sig
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bkx"))
        .select(col("doc_id"), col("bkx.band").as("band"),
          col("bkx.key").as("key"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("key")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 256).drop("rn")
      // also one-action-persisted: the governed pair frame feeds BOTH the
      // estimate branch and the exact-verify branch, and without the cache
      // the banding window + bucket self-join + dedup ran twice (the r20
      // before-plan shows the Window tier 4x: 2 bk sides x 2 branches)
      val pairs = graft.util.CacheOnce.persistForOneAction(
        bk.select(col("doc_id").as("da"), col("band"), col("key"))
          .join(bk.select(col("doc_id").as("db"), col("band"), col("key")),
            Seq("band", "key"))
          .filter(col("da") < col("db"))
          .select(col("da"), col("db")).distinct())
      val sa = sig.select((col("doc_id").as("da") +: (0 until 32).map(i =>
        col(f"mh$i%02d").as(f"a$i%02d"))): _*)
      val sb = sig.select((col("doc_id").as("db") +: (0 until 32).map(i =>
        col(f"mh$i%02d").as(f"b$i%02d"))): _*)
      val matches = (0 until 32).map(i =>
        when(col(f"a$i%02d") === col(f"b$i%02d"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = pairs.join(sa, "da").join(sb, "db")
        .select(col("da"), col("db"), (matches * 31250L).as("est_ppm"))
      // exact-verify tier, ROW-LOCAL: each doc's census packs once into a
      // sorted (fp << 3 | w) long array and every governed pair verifies by
      // one codegen merge walk — the (doc,fp) ⋈ (doc,fp) double join this
      // replaces re-shipped the full weighted census per candidate pair
      // (the r13 board's #2 sf10 absolute, 140.6 s; exactly the per-pair
      // array-work shape the doctrine warns about — but HERE the pair
      // population is banding-governed, so two bounded arrays per pair
      // beat re-joining the corpus-sized census twice)
      val wl = wtok.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(
          shiftleft(col("fp"), 3) + col("w"))).as("wl"))
      val inter = pairs
        .join(wl.select(col("doc_id").as("da"), col("wl").as("wla")), "da")
        .join(wl.select(col("doc_id").as("db"), col("wl").as("wlb")), "db")
        .select(col("da"), col("db"),
          graft.functions.GraftFunctions
            .sortedMinWeightIntersect(col("wla"), col("wlb")).as("inter"))
      est.join(inter, Seq("da", "db"), "left")
        .join(sw.select(col("doc_id").as("da"), col("sw").as("swa")), "da")
        .join(sw.select(col("doc_id").as("db"), col("sw").as("swb")), "db")
        .select(col("da").as("doc_a"), col("db").as("doc_b"), col("est_ppm"),
          expr("""coalesce(inter, 0) * 1000000
            | div (swa + swb - coalesce(inter, 0))""".stripMargin)
            .as("exact_ppm"),
          (col("est_ppm") - expr("""coalesce(inter, 0) * 1000000
            | div (swa + swb - coalesce(inter, 0))""".stripMargin))
            .as("err_ppm"))
        .orderBy(col("doc_a"), col("doc_b"))
    }
  )
}
