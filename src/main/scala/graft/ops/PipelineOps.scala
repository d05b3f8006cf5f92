package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps.{boundedLagLead, cents, shingles, tokens}
import graft.functions.CrossHash.{h60, h60Sql}

/** Training-data pipeline operators beyond the per-document tier: duplicate-
  * CLUSTER resolution (connected components over LSH candidate edges),
  * deterministic stratified sampling, event funnel / cohort retention
  * analytics, embedding quantization, and PII-pattern profiling.
  *
  * Scale notes (100 TB design intent):
  *   - connected components is alternating large-star/small-star
  *     contraction (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond", SoCC'14): each operation is one min-aggregate + one
  *     equi-join, O(log n) alternations whatever the graph's diameter,
  *     lineage truncated per round with `localCheckpoint` (a real cluster
  *     checkpoints to reliable storage instead);
  *   - stratified sampling is a stateless hash residue — no sort, no
  *     per-stratum scan, reproducible across engines and cluster sizes;
  *   - funnel/cohort are two-shuffle shapes (per-user agg + re-join);
  *   - quantization is embarrassingly parallel per vector.
  */
object PipelineOps {

  /** q311: the stored join-view partials, staged once per (JVM, sf dir). */
  private val stagedMv =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-bucket membership cap for LSH edge generation. A band bucket with
    * c members emits c·(c−1) edges; one degenerate mega-bucket
    * (empty/boilerplate documents all hashing alike) would make edge
    * generation O(c²) at corpus scale.
    * Buckets over the cap are dropped entirely — the standard guard: a bucket
    * that large is a degenerate-content collision, not near-dup signal, and
    * its members still pair in any other (selective) band they share. */
  private[graft] val DefaultMaxBucket = 64

  /** Symmetric (src, dst) candidate pairs of docs sharing a band bucket,
    * with buckets larger than `maxBucket` excluded. ONE (band, key) shuffle:
    * bucket members ride a memory-capped native collect (CappedCollectAgg —
    * the buffer physically cannot exceed cap+1 longs on update OR merge, so
    * a degenerate mega-bucket cannot blow an executor the way collect_list
    * would), overflowed buckets (size = cap+1 witness) are dropped whole,
    * and pairs expand in place from each surviving ≤cap-long array. r9's
    * window-count cap shuffled AND sorted the full bands frame under both
    * sides of a self-join — the +0.9s drift its audit flagged; this is one
    * map-side-combinable aggregate and no join at all. */
  private[graft] def bandedPairs(bands: DataFrame, maxBucket: Int): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("key"))
      .agg(graft.functions.GraftFunctions.cappedCollect(col("doc_id"), maxBucket)
        .as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    buckets
      .select(explode(col("members")).as("src"), col("members"))
      .select(col("src"), explode(col("members")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Candidate duplicate edges from MinHash-LSH band collisions: symmetric
    * (src, dst) pairs of docs sharing any band bucket (same banding as q40),
    * bounded by the bucket-size cap above. */
  private[graft] def lshEdges(s: SparkSession, d: String): DataFrame = {
    val sig = Dedup.minhashSignatures(s, d)
    val bandCols = (0 until Dedup.NumBands).map { b =>
      val key = concat_ws(",",
        (0 until Dedup.RowsPerBand).map(r => col(f"mh${b * Dedup.RowsPerBand + r}%02d")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    bandedPairs(bands, DefaultMaxBucket)
  }

  // ---- driver components tier (r20) ----------------------------------------
  // The star-contraction alternations run over LSH candidate-edge graphs
  // whose size is governed by the band bucket cap — 1,133 canonical edges
  // at sf0.1 and 11,217 at sf1 (ScaleData ×10), where each distributed
  // round is pure scheduling (2 localCheckpoints + a fingerprint aggregate
  // per alternation; the q326 job-floor finding applied to this family).
  // Under the gate below the edge set collects ONCE as a primitive long
  // array (the LPA DriverCollect doctrine, guide §5) and the rounds run on
  // the driver — bit-identical updates, EXACT edge-set equality for the
  // fixpoint test (strictly stronger than the xor fingerprint). Past the
  // gate the distributed loop below runs unchanged.

  /** Collect a canonical `(u, v)` edge frame as encoded `(u << 32) | v`
    * longs if [[graft.util.DriverTier.edgeList]] takes it (edge count
    * within the driver-tier budget, ids inside the 31-bit encode domain).
    * A zero budget forces the distributed tier without the sizing job
    * (specs pin tier equality with it). */
  private def driverTierEdges(e: DataFrame): Option[Array[Long]] = {
    val budget = graft.util.DriverTier.budget(e.sparkSession)
    if (budget <= 0L) None
    else {
      val r = e.agg(count(lit(1)),
        coalesce(max(greatest(col("u"), col("v"))), lit(-1L)),
        coalesce(min(least(col("u"), col("v"))), lit(0L))).head()
      if (!graft.util.DriverTier.edgeList(budget, r.getLong(0), r.getLong(2),
          r.getLong(1))) None
      else {
        val bld = new scala.collection.mutable.ArrayBuilder.ofLong
        graft.util.DriverCollect.foreachLongPair(e.select(col("u"), col("v")))(
          (x, y) => bld += ((x << 32) | y))
        Some(bld.result())
      }
    }
  }

  /** Sort + adjacent-dedup of an encoded edge array — the driver twin of
    * `.distinct()` on canonical pairs. */
  private def sortedDistinct(arr: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(arr)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < arr.length) {
      if (i == 0 || arr(i) != arr(i - 1)) out += arr(i)
      i += 1
    }
    out.result()
  }

  /** One Large-Star + Small-Star alternation on a sorted, deduplicated,
    * CANONICAL (u > v) encoded edge array — the exact driver twin of the
    * distributed round in [[connectedComponents]]: on a canonical
    * frame, large-star emits exactly (u, m(v)) per edge (the larger
    * endpoint hangs onto m of its smaller neighbor's star center; the
    * v-as-neighbor-of-u row fails the v > u filter), and small-star's
    * smaller-neighbor frame IS the canonical frame itself. */
  private def starAlternation(e: Array[Long]): Array[Long] = {
    val mask = 0xffffffffL
    // min UNDIRECTED neighbor per node
    val minN = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i < e.length) {
      val u = e(i) >>> 32; val v = e(i) & mask
      if (v < minN.getOrElse(u, Long.MaxValue)) minN(u) = v
      if (u < minN.getOrElse(v, Long.MaxValue)) minN(v) = u
      i += 1
    }
    // large-star: (u, min(minN(v), v)) per canonical edge — m ≤ v < u, so
    // the u ≠ m filter never binds and orientation stays canonical
    val bl = new scala.collection.mutable.ArrayBuilder.ofLong
    i = 0
    while (i < e.length) {
      val u = e(i) >>> 32; val v = e(i) & mask
      val m = math.min(minN(v), v)
      bl += ((u << 32) | m)
      i += 1
    }
    val eL = sortedDistinct(bl.result())
    // small-star over eL: mS(x) = min smaller-neighbor of x; emit
    // (y, mS(x)) for each (x, y) (skip y == mS(x)) plus (x, mS(x))
    val mS = new scala.collection.mutable.LongMap[Long]()
    i = 0
    while (i < eL.length) {
      val x = eL(i) >>> 32; val y = eL(i) & mask
      if (y < mS.getOrElse(x, Long.MaxValue)) mS(x) = y
      i += 1
    }
    val bs = new scala.collection.mutable.ArrayBuilder.ofLong
    i = 0
    while (i < eL.length) {
      val x = eL(i) >>> 32; val y = eL(i) & mask
      val m = mS(x)
      if (y != m) bs += ((y << 32) | m)
      i += 1
    }
    mS.foreach { case (x, m) => bs += ((x << 32) | m) }
    sortedDistinct(bs.result())
  }

  /** The alternation cap of [[connectedComponents]], in both tiers: a
    * graph still changing after it fails the query instead of returning
    * partial labels. */
  private val MaxAlternations = 30

  /** Connected components via ALTERNATING Large-Star / Small-Star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    * 2014) — O(log n) alternations, where min-label propagation needs
    * O(diameter) rounds: it moves the smallest id ONE hop per round, so a
    * long-path graph (chained near-dup clusters, linked-page graphs) pays
    * diameter-many O(E) passes, while star contraction HALVES tree heights
    * every alternation. That asymmetry is invisible at test SFs and
    * decisive at 100 TB — this is the form a production components job
    * runs.
    *
    * Both operations preserve connectivity and are expressible as exactly
    * the engine's bounded primitives: per round, a groupBy(u).min neighbor
    * aggregate plus one equi-join of that min back to the edge list —
    * large-star hangs every neighbor v > u onto min(N(u) ∪ {u}), small-star
    * rewires the smaller neighbors (and u) onto min(N⁻(u) ∪ {u}). All
    * emitted edges point (larger → smaller) by construction, so the edge
    * set stays canonical without re-normalization. Convergence = the edge
    * set reaches a fixpoint, detected by the q326 doctrine: an
    * order-invariant (count, bit_xor of xxhash64(u,v)) fingerprint repeats
    * across one full L+S alternation — at the fixpoint the edges form a
    * star forest with every component's min-id node at the center, and the
    * star edges ARE the label assignment.
    *
    * `edges` may hold self-loops, duplicates and either direction of a
    * pair; an endpoint outside `nodes` joins components but is not output.
    * Both tiers return exactly one `(node, label)` row per `nodes` row. */
  private[graft] def connectedComponents(nodes: DataFrame,
                                         edges: DataFrame): DataFrame = {
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    driverTierEdges(e) match {
      case Some(enc0) =>
        // driver tier (r20): identical alternations on the collected
        // canonical edge array, fixpoint by EXACT edge-set equality
        var enc = sortedDistinct(enc0)
        var conv = false
        var it = 0
        while (!conv && it < MaxAlternations) {
          val next = starAlternation(enc)
          conv = java.util.Arrays.equals(next, enc)
          enc = next
          it += 1
        }
        require(conv, s"star contraction did not converge in $MaxAlternations rounds")
        // star forest → labels: first (sorted) entry per u is min(v)
        val stars = new scala.collection.mutable.LongMap[Long]()
        var i = 0
        while (i < enc.length) {
          val u = enc(i) >>> 32
          if (!stars.contains(u)) stars(u) = enc(i) & 0xffffffffL
          i += 1
        }
        val s = nodes.sparkSession
        import s.implicits._
        val starsDf = stars.toSeq.toDF("node", "lab")
        return nodes.join(broadcast(starsDf), Seq("node"), "left")
          .select(col("node"), coalesce(col("lab"), col("node")).as("label"))
      case None => ()
    }
    def fingerprint(f: DataFrame): (Long, Long) = {
      val r = f.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var last = fingerprint(e)
    var converged = false
    var iter = 0
    while (!converged && iter < MaxAlternations) {
      // large-star: every neighbor v > u hangs onto m = min(N(u) ∪ {u});
      // m ≤ u < v keeps the (larger → smaller) canonical orientation
      val bidirL = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mL = bidirL.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val eL = bidirL.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint()
      // small-star: the SMALLER neighbors (and u itself) rewire onto
      // m = min(N⁻(u)); again every emitted edge points larger → smaller
      val bidirS = eL.unionAll(eL.select(col("v").as("u"), col("u").as("v")))
      val nbrS = bidirS.filter(col("v") < col("u"))
      val mS = nbrS.groupBy(col("u")).agg(min(col("v")).as("m"))
      val eS = nbrS.join(mS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionAll(mS.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint()
      val fp = fingerprint(eS)
      converged = fp == last
      last = fp
      e = eS
      iter += 1
    }
    require(converged, s"star contraction did not converge in $MaxAlternations rounds")
    // star forest → labels: leaves carry their center, centers and isolated
    // nodes label themselves (min() is a no-op at a true fixpoint — belt)
    val stars = e.groupBy(col("u").as("node")).agg(min(col("v")).as("lab"))
    nodes.join(stars, Seq("node"), "left")
      .select(col("node"), coalesce(col("lab"), col("node")).as("label"))
  }

  /** The DuckDB oracle's components prefix of q83, q339, q131 and q149:
    * the MinHash bands, their symmetric edge set `e`, and `lab(node,
    * label)`, each document's component minimum by recursive reachability
    * — independent of the engine's algorithm. `rest` continues the WITH
    * chain (`,\n…`) or ends it with the final SELECT (`\n…`). */
  private def componentsSql(rest: String): String = {
    val bandSelects = (0 until Dedup.NumBands).map { b =>
      val key = (0 until Dedup.RowsPerBand)
        .map(r => f"mh${b * Dedup.RowsPerBand + r}%02d").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE sig AS (
       |${Dedup.minhashSql}
       |),
       |bands AS (
       |  $bandSelects),
       |e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |      FROM bands a JOIN bands b
       |        ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id),
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.label FROM reach r JOIN e ON r.node = e.dst),
       |lab AS (SELECT node, min(label) AS label FROM reach GROUP BY node)""".stripMargin +
      rest
  }

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q83_dedup_components",
      "Duplicate-cluster resolution: connected components over MinHash-LSH candidate edges (docs sharing any band bucket), by q339's large-star/small-star contraction; per cluster the canonical (min) doc_id and member count. The cluster step LSH pairs alone cannot give: transitive near-dup groups.",
      componentsSql("""
        |SELECT label AS component_id, CAST(count(*) AS BIGINT) AS n_docs
        |FROM lab GROUP BY label ORDER BY component_id""".stripMargin)) { (s, d) =>
      val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
      val labels = connectedComponents(nodes, lshEdges(s, d))
      labels.groupBy(col("label").as("component_id"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("component_id"))
    },

    GraftQuery(
      "q339_star_contraction_components",
      "Connected components via ALTERNATING LARGE-STAR/SMALL-STAR contraction (Kiveris et al., SoCC 2014) over the same MinHash-LSH candidate edges as q83 — the O(log n)-ROUND components algorithm a 100 TB corpus actually runs, and the one every components query here (q83, q131, q149, q339) goes through: min-label propagation would move the smallest id one hop per round (round count = graph DIAMETER — fine on LSH blob clusters, pathological on chained near-dup paths and link graphs), while star contraction halves tree heights every alternation, so the round count is logarithmic REGARDLESS of topology. Each operation is one groupBy-min + one equi-join over a canonically-oriented (larger→smaller) edge set that only ever shrinks toward a star forest; the fixpoint is detected by the q326 doctrine (order-invariant count+bit_xor edge-set fingerprint repeating across a full L+S alternation), at which point the star edges ARE the component assignment — centers are component minima. Output: the duplicate-cluster SIZE HISTOGRAM (how many singletons, pairs, triples… — the shape number a dedup run reports), fully determined by the true components, which the recursive oracle computes independently; RobustStatsSpec additionally pins the full label frame equal to a union-find reference node-for-node.",
      componentsSql(""",
        |cs AS (SELECT label, count(*) AS sz FROM lab GROUP BY label)
        |SELECT CAST(sz AS BIGINT) AS component_size,
        |  CAST(count(*) AS BIGINT) AS n_components
        |FROM cs GROUP BY sz ORDER BY component_size""".stripMargin)) { (s, d) =>
      val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
      val labels = connectedComponents(nodes, lshEdges(s, d))
      labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy(col("component_size"))
    },

    GraftQuery(
      "q131_canonical_selection",
      "Survivor selection — the step after q83's clustering that actually deduplicates: within each near-dup cluster keep the best document (longest text, doc_id tie-break) as canonical. The argmax is one map-side-combinable max(struct(quality, −id)) aggregate over the label frame — never a per-cluster window sort. Output: multi-member clusters with their keeper; everything else in the corpus survives untouched.",
      componentsSql(""",
        |j AS (SELECT lab.label, lab.node, d.n_chars
        |      FROM lab JOIN documents d ON lab.node = d.doc_id),
        |r AS (SELECT label, node, n_chars,
        |        row_number() OVER (PARTITION BY label
        |                           ORDER BY n_chars DESC, node) AS rn,
        |        count(*) OVER (PARTITION BY label) AS n_docs
        |      FROM j)
        |SELECT label AS component_id, CAST(n_docs AS BIGINT) AS n_docs,
        |  node AS keeper_id, CAST(n_chars AS BIGINT) AS keeper_chars
        |FROM r WHERE rn = 1 AND n_docs >= 2
        |ORDER BY component_id""".stripMargin)) { (s, d) =>
      val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
      val labels = connectedComponents(nodes, lshEdges(s, d))
      labels.join(Tables.documents(s, d).select(col("doc_id").as("node"), col("n_chars")), "node")
        .groupBy(col("label").as("component_id"))
        .agg(count(lit(1)).as("n_docs"),
          // lexicographic argmax: longest doc, then LOWEST id — negate the
          // id so one max(struct(..)) does both (no per-cluster sort)
          max(struct(col("n_chars"), (-col("node")).as("neg_id"))).as("m"))
        .filter(col("n_docs") >= 2)
        .select(col("component_id"), col("n_docs"),
          (-col("m.neg_id")).as("keeper_id"),
          col("m.n_chars").as("keeper_chars"))
        .orderBy(col("component_id"))
    },

    GraftQuery(
      "q149_leakage_free_split",
      "Contamination-safe train/test split: the unit of assignment is the NEAR-DUP CLUSTER (q83's connected components), not the document — membership is a hash residue of the cluster label, so every near-duplicate lands on the same side and no test document has a training-set twin (the leakage a doc-level hash split cannot prevent). ~10% of clusters to test; per side the doc and cluster counts.",
      componentsSql(s""",
        |sided AS (SELECT node, label,
        |    CASE WHEN ${h60Sql("'split|' || CAST(label AS VARCHAR)")} % 10 = 0
        |         THEN 'test' ELSE 'train' END AS side
        |  FROM lab)
        |SELECT side, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT label) AS BIGINT) AS n_clusters
        |FROM sided GROUP BY side ORDER BY side""".stripMargin)) { (s, d) =>
      val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
      val labels = connectedComponents(nodes, lshEdges(s, d))
      val side = when(
        pmod(h60(concat(lit("split|"), col("label").cast("string"))), lit(10L)) === 0,
        "test").otherwise("train")
      labels.select(col("label"), side.as("side"))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("label")).as("n_clusters"))
        .orderBy(col("side"))
    },

    GraftQuery(
      "q157_event_pattern",
      "Complex-event pattern detection (MATCH_RECOGNIZE territory) with running counters: purchases preceded by a view within 30 minutes with NO error in between, found in ONE ordered pass per user — a running error counter plus a running latest-view struct (carrying the counter at that view), so the purchase row checks 'errors since my last view' as a subtraction. No self-joins, no per-pattern scans; the oracle is the fully independent EXISTS/NOT-EXISTS formulation, so the counter algebra is differentially proven.",
      """SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN EXISTS (
        |    SELECT 1 FROM events v
        |    WHERE v.user_id = p.user_id AND v.event_type = 'view'
        |      AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 30 MINUTE
        |      AND NOT EXISTS (
        |        SELECT 1 FROM events x
        |        WHERE x.user_id = p.user_id AND x.event_type = 'error'
        |          AND x.ts > v.ts AND x.ts < p.ts))
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_converts
        |FROM events p WHERE p.event_type = 'purchase'
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("cum_err",
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w))
        // latest view so far, carrying the error counter AT that view:
        // struct max is lexicographic on ts (strictly increasing per user)
        .withColumn("lastview",
          max(when(col("event_type") === "view",
            struct(col("ts").as("v_ts"), col("cum_err").as("v_err")))).over(w))
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("lastview").isNotNull &&
            col("lastview.v_ts") > col("ts") - expr("INTERVAL 30 MINUTES") &&
            col("cum_err") === col("lastview.v_err")).as("clean"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean_converts"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q158_group_sample_exact_k",
      "Exact-k deterministic sample per group: each language's 5 sample documents are the k smallest by a salted md5 residue — reproducible across engines, partitionings and cluster sizes (unlike rand()), and the rank filter plans as WindowGroupLimit (the per-partition top-k heap q19 pins), so no group ever fully sorts. The fixed-size eyeball sample every corpus release ships with.",
      s"""WITH r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60Sql("'samp|' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id
         |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val residue = h60(concat(lit("samp|"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("lang")).orderBy(residue, col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk").cast("int").as("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },

    GraftQuery(
      "q135_markov_transitions",
      "Behavioral transition matrix: per-user event streams ordered by (ts, event_id), each adjacent (prev_type → type) pair counted globally, with per-source-state probabilities as exact integer ppm — the Markov-chain census behind session modeling and bot detection. The per-user lag runs through the engine's BOUNDED ordered window (ColumnOps.boundedLagLead, q342's operator: hour-chunk salted lag + domain-bounded carry, bit-identical to the naive window — the oracle IS the naive SQL), so a Zipf-hot user (the one skew shape AQE cannot split, 2.02× measured on this query's naive form at the sf10 Zipf tier) never single-tasks its whole stream; the 25-cell matrix census after it is skew-free by construction.",
      """WITH t AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type AS from_type, event_type AS to_type,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  (n * 1000000) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        |FROM c ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val c = boundedLagLead(ev, Seq("user_id"),
          Seq(col("ts"), col("event_id")), date_trunc("hour", col("ts")),
          col("event_type"), Some("prev_type"), None)
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      // the per-source normalization window runs over the |types|² matrix,
      // not the event stream
      val wf = Window.partitionBy(col("from_type"))
      c.select(col("from_type"), col("to_type"), col("n"),
          sum(col("n")).over(wf).as("tot"))
        .selectExpr("from_type", "to_type", "n", "(n * 1000000) div tot AS p_ppm")
        .orderBy(col("from_type"), col("to_type"))
    },

    GraftQuery(
      "q84_stratified_sample",
      "Deterministic stratified sampling: per-language rates (en 10%, others 30%) via md5-residue on doc_id — stateless, engine- and partitioning-independent, no sort or per-stratum pass.",
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${h60Sql("'strat|' || CAST(doc_id AS VARCHAR)")} % 1000
         |      < (CASE WHEN lang = 'en' THEN 100 ELSE 300 END)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val residue = pmod(
        h60(concat(lit("strat|"), col("doc_id").cast("string"))), lit(1000L))
      val rate = when(col("lang") === "en", 100L).otherwise(300L)
      Tables.documents(s, d)
        .filter(residue < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q85_event_funnel",
      "Ordered event funnel with per-stage time bounds: first view, then first click within 1 hour of it, then first purchase within 24 hours of that; per-stage distinct-user counts.",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOURS
        |      GROUP BY e.user_id)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |  UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |  UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val stage = (n: String, df: DataFrame) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(n).as("stage"), col("n_users"))
      stage("1_view", v).union(stage("2_click", c)).union(stage("3_purchase", p))
        .orderBy(col("stage"))
    },

    GraftQuery(
      "q87_cohort_retention",
      "Weekly cohort retention: cohort = week of a user's first event; per (cohort week, week offset) the distinct active-user count — the standard growth-analytics triangle.",
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT CAST(f.cw AS DATE) AS cohort_week,
        |  (CAST(floor(epoch(a.w)) AS BIGINT) - CAST(floor(epoch(f.cw)) AS BIGINT)) // 604800 AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM f JOIN a ON f.user_id = a.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val f = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val a = e.select(col("user_id"), date_trunc("week", col("ts")).as("w")).distinct()
      f.join(a, "user_id")
        .groupBy(col("cw").cast("date").as("cohort_week"),
          ((unix_timestamp(col("w")) - unix_timestamp(col("cw"))) / 604800L)
            .cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    GraftQuery(
      "q86_embedding_quantization",
      "Per-vector int8 scalar quantization: min/max range per embedding, elements quantized to 0..255 by floor, reconstruction error as ppm of (range x dim) — the compression pass before ANN index build; integer outputs, double arithmetic with identical fold order both engines.",
      {
        val mn = "CAST(list_min(embedding) AS DOUBLE)"
        val mx = "CAST(list_max(embedding) AS DOUBLE)"
        s"""WITH r AS (SELECT vec_id, embedding, $mn AS mn, $mx - $mn AS span,
           |                  len(embedding) AS dim
           |           FROM embeddings),
           |q AS (SELECT vec_id, embedding, mn, span, dim,
           |  CASE WHEN span = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
           |       ELSE list_transform(embedding, x ->
           |         least(255, CAST(floor((CAST(x AS DOUBLE) - mn) * 255 / span) AS BIGINT))) END AS codes
           |  FROM r)
           |SELECT vec_id, CAST(list_sum(codes) AS BIGINT) AS code_sum,
           |  CASE WHEN span = 0 THEN 0
           |       ELSE CAST(floor(1000000.0 *
           |         list_sum(list_transform(list_zip(embedding, codes),
           |           p -> abs(CAST(p[1] AS DOUBLE) - (CAST(p[2] AS DOUBLE) * span / 255 + mn))))
           |         / (span * dim)) AS BIGINT) END AS err_ppm
           |FROM q ORDER BY vec_id""".stripMargin
      }) { (s, d) =>
      val mn = array_min(col("embedding")).cast("double")
      val mx = array_max(col("embedding")).cast("double")
      val r = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), mn.as("mn"),
          (mx - mn).as("span"), size(col("embedding")).as("dim"))
      val q = r.select(col("vec_id"), col("embedding"), col("mn"), col("span"), col("dim"),
        when(col("span") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
          .otherwise(transform(col("embedding"), x =>
            least(lit(255L),
              floor((x.cast("double") - col("mn")) * 255 / col("span")).cast("long"))))
          .as("codes"))
      val err = aggregate(
        zip_with(col("embedding"), col("codes"),
          (x, c) => abs(x.cast("double") - (c.cast("double") * col("span") / 255 + col("mn")))),
        lit(0.0), (acc, v) => acc + v)
      q.select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (acc, v) => acc + v).as("code_sum"),
        when(col("span") === 0.0, lit(0L))
          .otherwise(floor(lit(1000000.0) * err / (col("span") * col("dim"))).cast("long"))
          .as("err_ppm"))
        .orderBy(col("vec_id"))
    },

    GraftQuery(
      "q267_quantization_sim_error",
      "Quantization SIMILARITY error — the third leg of the evaluation tripod (q265 dedup calibration, q266 ANN recall): does q86's int8 compression preserve what the index actually consumes, the COSINE? 200 deterministic vector pairs (id, id+100) score cosine on originals and on int8-reconstructed vectors; |cos_q - cos_f| ships bucketed per 1000 ppm with the corpus mean. Per-element reconstruction error (q86) can look small while angular error compounds — this query measures the failure mode that matters, and its number is the go/no-go for shipping the compressed index.",
      {
        def dotD(a: String, b: String) =
          s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        def normD(x: String) =
          s"sqrt(list_sum(list_transform($x, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))"
        def cosD(a: String, b: String) =
          s"CASE WHEN ${normD(a)} * ${normD(b)} = 0 THEN 0.0 ELSE ${dotD(a, b)} / (${normD(a)} * ${normD(b)}) END"
        s"""WITH r AS (SELECT vec_id, embedding,
           |    CAST(list_min(embedding) AS DOUBLE) AS mn,
           |    CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE) AS span
           |  FROM embeddings),
           |rec AS (SELECT vec_id, embedding,
           |    CASE WHEN span = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
           |         ELSE list_transform(embedding, x ->
           |           least(255, CAST(floor((CAST(x AS DOUBLE) - mn) * 255 / span) AS BIGINT))
           |             * span / 255 + mn) END AS remb
           |  FROM r),
           |pairs AS (SELECT a.vec_id AS ida,
           |    CAST(floor(1000000.0 * ${cosD("a.embedding", "b.embedding")}) AS BIGINT) AS cf,
           |    CAST(floor(1000000.0 * ${cosD("a.remb", "b.remb")}) AS BIGINT) AS cq
           |  FROM rec a JOIN rec b ON b.vec_id = a.vec_id + 100
           |  WHERE a.vec_id < 200),
           |e AS (SELECT abs(cf - cq) AS err FROM pairs),
           |g AS (SELECT err // 1000 AS bucket, count(*) AS n_pairs FROM e GROUP BY 1)
           |SELECT bucket, n_pairs,
           |  CAST(sum(bucket * n_pairs) OVER () * 1000 // sum(n_pairs) OVER () AS BIGINT)
           |    AS mean_bucket_floor_ppm
           |FROM g ORDER BY bucket""".stripMargin
      }) { (s, d) =>
      val mn = array_min(col("embedding")).cast("double")
      val span = array_max(col("embedding")).cast("double") - mn
      val rec = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), mn.as("mn"), span.as("span"))
        .select(col("vec_id"), col("embedding"),
          when(col("span") === 0.0, transform(col("embedding"), _ => lit(0.0)))
            .otherwise(transform(col("embedding"), x =>
              least(lit(255L), floor((x.cast("double") - col("mn")) * 255 / col("span"))
                .cast("long")).cast("double") * col("span") / 255 + col("mn")))
            .as("remb"))
      def dotD(a: Column, b: Column) =
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)
      def normD(x: Column) =
        sqrt(aggregate(x, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
      def cosD(a: Column, b: Column) = {
        val nn = normD(a) * normD(b)
        when(nn === 0.0, 0.0).otherwise(dotD(a, b) / nn)
      }
      val a = rec.select(col("vec_id").as("ida"), col("embedding").as("ea"), col("remb").as("ra"))
        .filter(col("ida") < 200)
      val b = rec.select((col("vec_id") - 100).as("idb"), col("embedding").as("eb"),
        col("remb").as("rb"))
      val pairs = a.join(b, col("ida") === col("idb"))
        .select(
          floor(lit(1000000.0) * cosD(col("ea"), col("eb"))).cast("long").as("cf"),
          floor(lit(1000000.0) * cosD(col("ra"), col("rb"))).cast("long").as("cq"))
      pairs.select(abs(col("cf") - col("cq")).as("err"))
        .groupBy(expr("err div 1000").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("mean_bucket_floor_ppm",
          expr("CAST(sum(bucket * n_pairs) OVER () * 1000 div sum(n_pairs) OVER () AS BIGINT)"))
        .orderBy(col("bucket"))
    },

    GraftQuery(
      "q93_sequence_packing",
      "Concat-and-chunk sequence packing (the GPT-style pretraining layout): per source, documents in doc_id order are conceptually concatenated and split into 2048-token context chunks; chunk_id = floor(preceding-token-count / 2048) via one window prefix-sum — no driver loop, no UDF, deterministic across engines and partitionings. Output: per (source, chunk) the docs spanned and token totals.",
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
        |SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS chunk_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // the window shuffles once on source (the pack stream key); the
      // prefix sum inside each source is a single ordered pass — at corpus
      // scale one pack stream per (source, worker-range) shard would bound
      // partition width, with chunk ids offset by per-shard token totals
      val toks = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      toks.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("chunk_id",
          floor((col("cum") - col("n_tok")) / lit(2048L)).cast("long"))
        .groupBy(col("source"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("chunk_id"))
    },

    GraftQuery(
      "q181_temperature_mixture",
      "Temperature-sampled mixture allocation (the XLM-R / multilingual-LM recipe at α = 1/2): per-language weights ∝ n^α computed as EXACT integer isqrt (IEEE sqrt of a long is correctly rounded, so floor(sqrt(n)) is engine-exact), and a 1000-doc budget apportioned by LARGEST-REMAINDER rounding — base = ⌊B·w/W⌋ with the leftover units going to the largest remainders (remainder desc, lang asc) — so targets are integers that provably sum to B, no float shares to round inconsistently. The window runs over the language frame (≤ dozens of rows at any corpus size). Upsampling low-resource languages without the head languages drowning the mixture.",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM c),
        |t AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM w),
        |a AS (SELECT lang, n, wt, (1000 * wt) // t.tot AS base,
        |        (1000 * wt) % t.tot AS rem
        |      FROM w CROSS JOIN t),
        |l AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM a),
        |r AS (SELECT a.*, l.sb,
        |        row_number() OVER (ORDER BY rem DESC, lang) AS rk
        |      FROM a CROSS JOIN l)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs, wt AS weight,
        |  CAST(base + CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END AS BIGINT) AS target
        |FROM r ORDER BY lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Tables.documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("wt", floor(sqrt(col("n"))).cast("long"))
      val t = w.agg(sum(col("wt")).as("tot"))
      val a = w.crossJoin(broadcast(t))
        .selectExpr("lang", "n", "wt",
          "(1000 * wt) div tot AS base", "(1000 * wt) % tot AS rem")
      val l = a.agg(sum(col("base")).as("sb"))
      a.crossJoin(broadcast(l))
        // bound: one row per LANGUAGE (a fixed vocabulary, ~tens of values)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
        .selectExpr("lang", "n AS n_docs", "wt AS weight",
          "base + (CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END) AS target")
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q182_attribution",
      "Multi-touch attribution with exact-cents conservation: each purchase's cents split equally among the user's clicks in the preceding 30 minutes (user-anchored range join — the equi key carries the shuffle), integer share = cents div k per touch with the REMAINDER credited to the nearest click (rank-1 by ts desc, id desc) — so per-purchase credits sum to the purchase exactly, no float leakage. Per-user readout: credits issued, distinct clicks credited, attributed cents.",
      """WITH p AS (SELECT event_id AS pid, user_id AS u,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS pts,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, user_id AS u,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS cts
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.pid, p.u, p.cents, c.cid, c.cts
        |      FROM p JOIN c ON p.u = c.u
        |        AND c.cts > p.pts - 1800 AND c.cts <= p.pts),
        |k AS (SELECT m.*, count(*) OVER (PARTITION BY pid) AS k,
        |        row_number() OVER (PARTITION BY pid
        |          ORDER BY cts DESC, cid DESC) AS rn
        |      FROM m),
        |a AS (SELECT u, cid,
        |        CASE WHEN rn = 1 THEN cents - (cents // k) * (k - 1)
        |             ELSE cents // k END AS att
        |      FROM k)
        |SELECT u AS user_id, count(*) AS n_credits,
        |  count(DISTINCT cid) AS n_clicks,
        |  CAST(sum(att) AS BIGINT) AS attributed_cents
        |FROM a GROUP BY u ORDER BY u""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("u"),
          unix_timestamp(col("ts")).as("pts"), cents(col("value")).as("cents"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cu"),
          unix_timestamp(col("ts")).as("cts"))
      val m = p.join(c, col("u") === col("cu") &&
        col("cts") > col("pts") - 1800 && col("cts") <= col("pts"))
      val k = m
        .withColumn("k", count(lit(1)).over(Window.partitionBy(col("pid"))))
        .withColumn("rn", row_number().over(Window.partitionBy(col("pid"))
          .orderBy(col("cts").desc, col("cid").desc)))
      k.selectExpr("u", "cid",
          """CASE WHEN rn = 1 THEN cents - (cents div k) * (k - 1)
            |     ELSE cents div k END AS att""".stripMargin)
        .groupBy(col("u").as("user_id"))
        .agg(count(lit(1)).as("n_credits"),
          countDistinct(col("cid")).as("n_clicks"),
          sum(col("att")).as("attributed_cents"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q196_systematic_sample",
      "Systematic (every-Nth-weight-unit) sampling — the deterministic weighted sampler for data mixtures: per language, docs in (doc_id) order accumulate n_chars weight, the step is ceil(total/16) weight units, and a doc is PICKED exactly when its weight span crosses a step boundary (floor(cum/step) > floor(cum_before/step)) — so every 1/16th of the corpus-by-weight contributes one doc, long docs proportionally likelier, zero randomness, reproducible across engines and partitionings. One cumulative window per language partition. Census output: picks, their weight share, and the exact picked-id checksum pinning the selection.",
      """WITH w AS (SELECT lang, doc_id, n_chars AS wt FROM documents),
        |t AS (SELECT lang, CAST(sum(wt) AS BIGINT) AS total FROM w GROUP BY lang),
        |c AS (SELECT w.lang, w.doc_id, w.wt, t.total,
        |    (t.total + 15) // 16 AS step,
        |    coalesce(sum(w.wt) OVER (PARTITION BY w.lang
        |      ORDER BY w.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS cb
        |  FROM w JOIN t ON w.lang = t.lang),
        |p AS (SELECT lang, doc_id, wt FROM c
        |      WHERE (cb + wt) // step > cb // step)
        |SELECT lang, count(*) AS n_picked,
        |  CAST(sum(wt) AS BIGINT) AS picked_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS picked_id_sum
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars").as("wt"))
      val t = w.groupBy(col("lang")).agg(sum(col("wt")).as("total"))
      val cum = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      w.join(broadcast(t), "lang")
        .withColumn("cb", coalesce(sum(col("wt")).over(cum), lit(0L)))
        .selectExpr("lang", "doc_id", "wt", "cb",
          "(total + 15) div 16 AS step")
        .filter(expr("(cb + wt) div step > cb div step"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_picked"), sum(col("wt")).as("picked_chars"),
          sum(col("doc_id")).as("picked_id_sum"))
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q94_mixture_sampling",
      "Balanced-mixture construction: per-language accept rate min(1, T/(k*n_l)) targets an equal share per language; membership is the deterministic integer predicate residue*k*n_l < 1000*T over an md5 residue — no floating-point rates, reproducible across engines and cluster sizes. Output: per language the corpus count and the kept count.",
      s"""WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS k FROM s),
         |kept AS (SELECT d.lang
         |  FROM documents d JOIN s ON d.lang = s.lang CROSS JOIN tot
         |  WHERE (${h60Sql("'mix|' || CAST(d.doc_id AS VARCHAR)")} % 1000) * k * n_l
         |        < 1000 * total)
         |SELECT s.lang, s.n_l AS n_docs,
         |  CAST(count(kept.lang) AS BIGINT) AS n_kept
         |FROM s LEFT JOIN kept ON s.lang = kept.lang
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      val d0 = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val stats = d0.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val tot = stats.agg(sum(col("n_l")).as("total"), count(lit(1)).as("k"))
      val residue = pmod(
        h60(concat(lit("mix|"), col("doc_id").cast("string"))), lit(1000L))
      // stats/tot are per-language aggregates — genuinely tiny at any
      // corpus size (cardinality = #languages), so broadcast is safe
      val kept = d0.join(broadcast(stats), "lang").crossJoin(broadcast(tot))
        .filter(residue * col("k") * col("n_l") < lit(1000L) * col("total"))
        .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
      stats.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_l").as("n_docs"),
          coalesce(col("kept"), lit(0L)).as("n_kept"))
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q95_benchmark_decontamination",
      "Benchmark decontamination: corpus documents sharing ANY 5-token shingle with the held-out benchmark set (stand-in: doc_id % 97 = 0) are flagged via a hash semi-join on shingle h60s — the standard n-gram-overlap contamination check before a training release. Bucketed by shingle hash: linear, no all-pairs, no broadcast hint (AQE sizes the benchmark side at runtime).",
      s"""WITH t AS (SELECT doc_id, source,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source,
         |    ${h60Sql("array_to_string(toks[i:i+4], ' ')")} AS h
         |  FROM t, LATERAL unnest(generate_series(1, len(toks) - 4)) AS u(i)
         |  WHERE len(toks) >= 5),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0),
         |contaminated AS (
         |  SELECT DISTINCT s.doc_id, s.source FROM sh s JOIN bench b ON s.h = b.h
         |  WHERE s.doc_id % 97 <> 0)
         |SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(x.doc_id) AS BIGINT) AS n_contaminated
         |FROM corpus c LEFT JOIN contaminated x ON c.doc_id = x.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sh = docs
        .select(col("doc_id"), col("source"),
          explode(shingles(tokens(col("text")), 5)).as("sh5"))
        .select(col("doc_id"), col("source"), h60(col("sh5")).as("h"))
      val bench = sh.filter(col("doc_id") % 97 === 0).select(col("h")).distinct()
      val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
        .join(bench, Seq("h"), "left_semi")
        .select(col("doc_id"), col("source")).distinct()
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val hits = contaminated.groupBy(col("source")).agg(count(lit(1)).as("hits"))
      corpus.join(hits, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("hits"), lit(0L)).as("n_contaminated"))
        .orderBy(col("source"))
    },

    GraftQuery(
      "q88_pii_patterns",
      "PII-pattern profiling per source: counts of email-, URL- and long-digit-run-shaped matches over document text (leftmost non-overlapping, identical regex semantics both engines) — the scrubbing census before release.",
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+'))) AS BIGINT) AS n_emails,
        |  CAST(sum(len(regexp_extract_all(text, 'https?://[^ ]+'))) AS BIGINT) AS n_urls,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9][0-9][0-9][0-9][0-9][0-9]+'))) AS BIGINT) AS n_digit_runs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      def matches(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(matches("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+")).as("n_emails"),
          sum(matches("https?://[^ ]+")).as("n_urls"),
          sum(matches("[0-9][0-9][0-9][0-9][0-9][0-9]+")).as("n_digit_runs"))
        .orderBy(col("source"))
    },

    GraftQuery(
      "q128_pii_redaction",
      "PII redaction — the transform twin of q88's census: emails, then URLs, then 6+-digit runs replaced with typed placeholders (application order matters — URLs contain digit runs), leftmost non-overlapping global replace with identical regex semantics on both engines. Embarrassingly parallel per document, no shuffle until the final order; the full redacted text is verified via md5 so the oracle checks every byte without moving documents.",
      """WITH r AS (SELECT doc_id, source, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |      '[0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g') AS red,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+'))
        |      + len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_er
        |  FROM documents)
        |SELECT doc_id, CAST(n_er + len(regexp_extract_all(
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+')) AS BIGINT) AS n_redacted,
        |  CAST(len(red) AS BIGINT) AS red_len, md5(red) AS red_md5
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
      val url = "https?://[^ ]+"
      val num = "[0-9][0-9][0-9][0-9][0-9][0-9]+"
      def rr(c: org.apache.spark.sql.Column, pat: String, to: String) =
        regexp_replace(c, pat, to)
      val afterUrl = rr(rr(col("text"), email, "<EMAIL>"), url, "<URL>")
      val red = rr(afterUrl, num, "<NUM>")
      // digit runs are counted AFTER email/URL replacement (a digit run
      // inside a replaced span no longer exists to redact)
      val nRed = size(regexp_extract_all(col("text"), lit(email), lit(0))) +
        size(regexp_extract_all(col("text"), lit(url), lit(0))) +
        size(regexp_extract_all(afterUrl, lit(num), lit(0)))
      Tables.documents(s, d)
        .select(col("doc_id"), nRed.cast("long").as("n_redacted"),
          length(red).cast("long").as("red_len"), md5(red).as("red_md5"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q216_k_anonymity",
      "k-anonymity census before a data release — the privacy gate run on any dataset leaving a pipeline: group customers by their quasi-identifier tuple (nation, market segment, $1000 balance bucket) and report the equivalence-class size distribution: how many classes and rows sit at each k, with k < 5 marking the re-identifiable tail a release would have to generalize or suppress (the census IS the decision input for generalization — the partner of q88's direct-identifier scan and q128's redaction). Two hash aggregates, both map-side combinable; class count is bounded by the QI domain product, so the k-histogram never scales with rows.",
      """WITH qi AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) // 100000 AS bucket,
        |    count(*) AS k
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(k * count(*) AS BIGINT) AS n_rows,
        |  k < 5 AS reidentifiable
        |FROM qi GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT) div 100000").as("bucket"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_classes"))
        .select(col("k"), col("n_classes"),
          (col("k") * col("n_classes")).as("n_rows"),
          (col("k") < 5).as("reidentifiable"))
        .orderBy(col("k"))
    },

    GraftQuery(
      "q231_poisson_bootstrap",
      "Deterministic Poisson bootstrap — the resampling scheme that makes bootstrap confidence intervals MERGEABLE at 100 TB (Chamandy et al., 'Estimating uncertainty for massive data streams'): instead of materializing B resampled copies, each row draws its multiplicity k ~ Poisson(1) from an md5-derived uniform against hardcoded cumulative ppm thresholds (shared integer constants both sides — no float RNG, rerun-stable, and the draw rides INSIDE the aggregate as a weight). One replicate per priority here; the B-replicate generalization is B weight columns in the same single pass.",
      """WITH u AS (SELECT o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 AS u_ppm
        |  FROM orders),
        |k AS (SELECT o_orderpriority, cents,
        |    CASE WHEN u_ppm < 367879 THEN 0 WHEN u_ppm < 735758 THEN 1
        |         WHEN u_ppm < 919698 THEN 2 WHEN u_ppm < 980978 THEN 3
        |         WHEN u_ppm < 996298 THEN 4 WHEN u_ppm < 999362 THEN 5
        |         WHEN u_ppm < 999916 THEN 6 WHEN u_ppm < 999990 THEN 7
        |         ELSE 8 END AS k
        |  FROM u)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS boot_n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k * cents) AS BIGINT) AS boot_sum_cents
        |FROM k GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val u = expr("conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10)")
        .cast("long") % 1000000L
      // cumulative ppm of Poisson(1): floor(1e6 * P(X <= i)) for i = 0..7
      val k = when(col("u_ppm") < 367879L, 0L).when(col("u_ppm") < 735758L, 1L)
        .when(col("u_ppm") < 919698L, 2L).when(col("u_ppm") < 980978L, 3L)
        .when(col("u_ppm") < 996298L, 4L).when(col("u_ppm") < 999362L, 5L)
        .when(col("u_ppm") < 999916L, 6L).when(col("u_ppm") < 999990L, 7L)
        .otherwise(8L)
      Tables.orders(s, d)
        .select(col("o_orderpriority"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          u.as("u_ppm"))
        .withColumn("k", k)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("boot_n"),
          sum(col("cents")).as("sum_cents"),
          sum(col("k") * col("cents")).as("boot_sum_cents"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q237_constraint_suite",
      "Declarative data-quality constraint suite (the Deequ/Great-Expectations contract run before any corpus ships): five named rules over lineitem — non-null key, composite-key uniqueness, numeric range, value-set membership, referential integrity into orders — evaluated as ONE row-local conditional aggregate plus one duplicate-group count plus one anti-join count, union'd into a (rule, n_checked, n_violations, passed) verdict table. At 100 TB the row-local rules share a single scan (no per-rule passes), uniqueness is a keyed count (no sort), and the FK check is a broadcast-able anti join — the suite costs ~one pass regardless of how many rules it carries.",
      """WITH rowlocal AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v_range,
        |    sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS v_set
        |  FROM lineitem),
        |dup AS (SELECT CAST(count(*) AS BIGINT) AS groups,
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS extra
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
        |fk AS (SELECT count(*) AS orphans FROM lineitem
        |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |verdict AS (
        |  SELECT 'key_not_null' AS rule, n AS n_checked,
        |    CAST(v_null AS BIGINT) AS n_violations FROM rowlocal
        |  UNION ALL SELECT 'quantity_in_1_50', n, CAST(v_range AS BIGINT) FROM rowlocal
        |  UNION ALL SELECT 'returnflag_in_set', n, CAST(v_set AS BIGINT) FROM rowlocal
        |  UNION ALL SELECT 'key_unique', n, extra FROM rowlocal, dup
        |  UNION ALL SELECT 'orderkey_fk', n, CAST(orphans AS BIGINT) FROM rowlocal, fk)
        |SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
        |FROM verdict ORDER BY rule""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val rowlocal = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L))
          .as("v_range"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
          .as("v_set"))
      val dup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("extra"))
      val orphans = li.join(broadcast(Tables.orders(s, d).select(col("o_orderkey"))),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      val base = rowlocal.crossJoin(dup).crossJoin(orphans)
      def rule(name: String, viol: Column) =
        base.select(lit(name).as("rule"), col("n").as("n_checked"),
          viol.cast("long").as("n_violations"))
      rule("key_not_null", col("v_null"))
        .unionAll(rule("quantity_in_1_50", col("v_range")))
        .unionAll(rule("returnflag_in_set", col("v_set")))
        .unionAll(rule("key_unique", col("extra")))
        .unionAll(rule("orderkey_fk", col("orphans")))
        .withColumn("passed", col("n_violations") === 0L)
        .orderBy(col("rule"))
    },

    GraftQuery(
      "q238_pps_systematic_sample",
      "Probability-proportional-to-size systematic sampling in EXACT integer arithmetic — the mixture-construction primitive that samples documents proportional to a weight (here: order cents) with zero floats and zero RNG: per priority stratum, the running cents cumsum lays every order on a number line, step = total div k, and a row is drawn once per step-multiple its [cum-cents, cum) interval crosses — exactly k draws per stratum, heavier rows proportionally likelier, rerun-identical. The cumsum window runs inside each stratum's partition (no global sort); high-weight rows can legitimately be drawn multiple times (n_draws carries the multiplicity, as PPS requires).",
      """WITH w AS (SELECT o_orderpriority AS prio, o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
        |      PARTITION BY o_orderpriority ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
        |      PARTITION BY o_orderpriority) AS BIGINT) AS total
        |  FROM orders),
        |sel AS (SELECT prio, k, cents,
        |    (cum - 1) // (total // 5) - (cum - cents - 1) // (total // 5) AS n_draws
        |  FROM w WHERE total >= 5)
        |SELECT prio, k, cents, CAST(n_draws AS BIGINT) AS n_draws
        |FROM sel WHERE n_draws > 0
        |ORDER BY prio, k""".stripMargin) { (s, d) =>
      val cents = expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
      val cumW = Window.partitionBy(col("prio")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.partitionBy(col("prio"))
      val w = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"), col("o_orderkey").as("k"),
          cents.as("cents"))
        .withColumn("cum", sum(col("cents")).over(cumW))
        .withColumn("total", sum(col("cents")).over(totW))
        .withColumn("step", expr("total div 5"))
        .withColumn("n_draws",
          expr("(cum - 1) div step - (cum - cents - 1) div step"))
      w.filter(col("total") >= 5)
        .filter(col("n_draws") > 0)
        .select(col("prio"), col("k"), col("cents"),
          col("n_draws").cast("long").as("n_draws"))
        .orderBy(col("prio"), col("k"))
    },

    GraftQuery(
      "q250_release_capstone",
      "Release-assembly capstone — the four stages every corpus release runs, composed as ONE declarative plan so Catalyst sees the whole lineage: (1) integer quality gate (length band + token census + mean token length band), (2) exact dedup by content hash keeping the smallest doc_id (argmin-as-aggregate, no window), (3) size-weighted PPS systematic selection of 10 docs per language over the survivors' n_chars cumsum (q238's primitive applied to corpus assembly), (4) the per-language release census. Every stage is a shuffle-on-key or a stratum-local window — the composition costs scan + 3 keyed exchanges at ANY scale, and the whole release is rerun-identical bit for bit.",
      """WITH gated AS (
        |  SELECT doc_id, lang, n_chars,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS n_toks,
        |    md5(text) AS h
        |  FROM documents
        |  WHERE n_chars BETWEEN 100 AND 20000),
        |q AS (SELECT * FROM gated
        |      WHERE n_toks >= 10 AND n_chars <= 12 * n_toks),
        |dedup AS (SELECT h, min(doc_id) AS doc_id FROM q GROUP BY h),
        |kept AS (SELECT q.doc_id, q.lang, q.n_chars FROM q
        |         JOIN dedup ON q.doc_id = dedup.doc_id),
        |w AS (SELECT lang, doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS total
        |  FROM kept),
        |sel AS (SELECT lang, doc_id, n_chars,
        |    (cum - 1) // (total // 10) - (cum - n_chars - 1) // (total // 10) AS nd
        |  FROM w WHERE total >= 10),
        |stats AS (SELECT lang, count(*) AS n_gated FROM gated GROUP BY lang),
        |kstats AS (SELECT lang, count(*) AS n_kept,
        |    CAST(sum(n_chars) AS BIGINT) AS chars_kept FROM kept GROUP BY lang),
        |sstats AS (SELECT lang, CAST(sum(nd) AS BIGINT) AS n_selected,
        |    CAST(sum(nd * n_chars) AS BIGINT) AS chars_selected
        |  FROM sel WHERE nd > 0 GROUP BY lang)
        |SELECT s.lang, s.n_gated, k.n_kept, k.chars_kept,
        |  ss.n_selected, ss.chars_selected
        |FROM stats s JOIN kstats k ON s.lang = k.lang
        |JOIN sstats ss ON s.lang = ss.lang
        |ORDER BY s.lang""".stripMargin) { (s, d) =>
      val gated = Tables.documents(s, d)
        .filter(col("n_chars").between(100, 20000))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast("long").as("n_toks"),
          md5(col("text")).as("h"))
      val q = gated.filter(col("n_toks") >= 10 &&
        col("n_chars") <= lit(12) * col("n_toks"))
      val dedup = q.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      val kept = q.join(dedup, col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val cumW = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sel = kept
        .withColumn("cum", sum(col("n_chars")).over(cumW))
        .withColumn("total", sum(col("n_chars")).over(Window.partitionBy(col("lang"))))
        .filter(col("total") >= 10)
        .withColumn("step", expr("total div 10"))
        .withColumn("nd", expr("(cum - 1) div step - (cum - n_chars - 1) div step"))
        .filter(col("nd") > 0)
      val stats = gated.groupBy(col("lang")).agg(count(lit(1)).as("n_gated"))
      val kstats = kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      val sstats = sel.groupBy(col("lang"))
        .agg(sum(col("nd")).as("n_selected"),
          sum(col("nd") * col("n_chars")).as("chars_selected"))
      stats.join(kstats, "lang").join(sstats, "lang")
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q311_join_view_maintenance",
      "Incremental maintenance of a JOIN view — q102's identity upgraded from one relation to the bilinear case every nightly-refresh warehouse needs: V = A ⋈ B aggregated (monthly order-item revenue over orders ⋈ lineitem), both base relations split into (stored, delta) at the 1998 cutoff, and the refresh computes V_new from the PERSISTED old partials plus the three delta terms ΔA⋈B0, A0⋈ΔB, ΔA⋈ΔB (A⋈B = A0⋈B0 ⊎ ΔA⋈B0 ⊎ A0⋈ΔB ⊎ ΔA⋈ΔB for disjoint splits — partial counts/cent-sums merge, no history re-join). The old partials genuinely round-trip through parquet (q305's persisted-artifact doctrine): the refresh plan reads the staged V_old summary, NOT the base join. Scale shape: each mixed term broadcasts its delta side SIZE-GATED (the refresh-delta-is-small contract, enforced: past a 64 MB estimate the join degrades to a shuffle, never a driver OOM — IncrementalMvSpec exercises the degradation path), so the base relation streams map-only whenever the contract holds; at 100 TB the base scans additionally prune by the date layout. The oracle recomputes the view from scratch — any drift in the delta algebra fails the gate.",
      """SELECT year(o.o_orderdate)*100 + month(o.o_orderdate) AS m,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val cut = lit("1998-01-01").cast("date")
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("m"),
        col("o_orderdate"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"),
        cents(col("l_extendedprice")).as("c"), col("l_shipdate"))
      val a0 = o.filter(col("o_orderdate") < cut)
      val dA = o.filter(col("o_orderdate") >= cut)
      val b0 = l.filter(col("l_shipdate") < cut)
      val dB = l.filter(col("l_shipdate") >= cut)
      def partials(j: DataFrame): DataFrame =
        j.groupBy(col("m"))
          .agg(count(lit(1)).as("n_items"), sum(col("c")).as("cents"))
      // the stored view: V_old partials staged to parquet ONCE PER (JVM,
      // corpus) — the refresh below never re-joins the historical base
      // relations, and re-invocations (bench reps, plan dumps) reuse the
      // staged artifact instead of re-running the build-time join (the r10
      // eager-work-per-construction ADVICE class)
      // keyed on BOTH base relations' sourceKey fingerprints (newest mtime
      // across each parquet dir's entries — a dir's own mtime does not move
      // on in-place file overwrite): the partials are built from orders AND
      // lineitem, so a regenerated either re-stages instead of answering
      // from a stale view
      val mvKey = graft.util.Scratch.sourceKey(d, "orders") + "|" +
        graft.util.Scratch.sourceKey(d, "lineitem")
      val mv = stagedMv.getOrElseUpdate(mvKey, {
        val p = graft.util.Scratch.dir("graft-q311-mv").resolve("v_old").toString
        partials(a0.join(b0, col("l_orderkey") === col("o_orderkey")))
          .write.mode("overwrite").parquet(p)
        p
      })
      val vOld = s.read.parquet(mv)
      // delta terms: broadcast the delta side SIZE-GATED (Broadcasts doc:
      // a refresh delta is small by contract, but nothing enforces it — a
      // fat delta must degrade to a shuffle join, not a driver OOM), so the
      // base relation streams map-only whenever the contract holds
      val bIf = graft.util.Broadcasts.broadcastIfSmall _
      val t1 = partials(b0.join(bIf(dA), col("l_orderkey") === col("o_orderkey")))
      val t2 = partials(a0.join(bIf(dB), col("l_orderkey") === col("o_orderkey")))
      val t3 = partials(dA.join(bIf(dB), col("l_orderkey") === col("o_orderkey")))
      vOld.unionByName(t1).unionByName(t2).unionByName(t3)
        .groupBy(col("m"))
        .agg(sum(col("n_items")).as("n_items"), sum(col("cents")).as("cents"))
        .orderBy(col("m"))
    },

    GraftQuery(
      "q322_pii_redaction",
      "PII detection + redaction census — the compliance gate every corpus crosses before training (find contact identifiers in free text, replace them with class tokens, PROVE the output is clean): the free-text fixture embeds a deterministic e-mail and phone per customer (synthesized from keys — the q141/q220 synthetic-model doctrine, since the driver corpus carries no real PII), detection is two ASCII regex classes shared verbatim by both engines (Java and RE2 agree on these constructs), redaction rewrites e-mails then phones to <EMAIL>/<PHONE>, and the per-segment census ships match counts, a residual re-scan of the REDACTED text that must read 0 (the clean-output proof, in-result), and an order-invariant bit_xor h60 checksum pinning every redacted byte. Scale shape: pure per-row map work + one tiny aggregate — regex detect/redact fuses into whole-stage codegen, nothing grows with the corpus.",
      s"""WITH t AS (SELECT c_mktsegment AS seg,
        |    c_name || ' can be reached at ' || lower(c_mktsegment)
        |      || CAST(c_custkey AS VARCHAR) || '@example.com or 555-'
        |      || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
        |      || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
        |      || ' about the account' AS txt
        |  FROM customer),
        |r AS (SELECT seg,
        |    len(regexp_extract_all(txt, '$EmailPat')) AS n_em,
        |    len(regexp_extract_all(txt, '$PhonePat')) AS n_ph,
        |    regexp_replace(regexp_replace(txt, '$EmailPat', '<EMAIL>', 'g'),
        |      '$PhonePat', '<PHONE>', 'g') AS red
        |  FROM t)
        |SELECT seg AS mktsegment, count(*) AS n_docs,
        |  CAST(sum(n_em) AS BIGINT) AS n_emails,
        |  CAST(sum(n_ph) AS BIGINT) AS n_phones,
        |  CAST(sum(len(regexp_extract_all(red, '$EmailPat'))
        |         + len(regexp_extract_all(red, '$PhonePat'))) AS BIGINT) AS residual,
        |  CAST(bit_xor(${h60Sql("red")}) AS BIGINT) AS redacted_checksum
        |FROM r GROUP BY seg ORDER BY mktsegment""".stripMargin) { (s, d) =>
      val t = Tables.customer(s, d).select(col("c_mktsegment").as("seg"),
        concat(col("c_name"), lit(" can be reached at "),
          lower(col("c_mktsegment")), col("c_custkey").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("c_custkey") * 7 % 10000).cast("string"), 4, "0"),
          lit(" about the account")).as("txt"))
      val r = t.select(col("seg"),
        regexp_count(col("txt"), lit(EmailPat)).as("n_em"),
        regexp_count(col("txt"), lit(PhonePat)).as("n_ph"),
        regexp_replace(regexp_replace(col("txt"), EmailPat, "<EMAIL>"),
          PhonePat, "<PHONE>").as("red"))
      r.groupBy(col("seg").as("mktsegment"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_em")).cast("long").as("n_emails"),
          sum(col("n_ph")).cast("long").as("n_phones"),
          sum(regexp_count(col("red"), lit(EmailPat))
            + regexp_count(col("red"), lit(PhonePat))).cast("long")
            .as("residual"),
          bit_xor(h60(col("red"))).cast("long").as("redacted_checksum"))
        .orderBy(col("mktsegment"))
    },

    GraftQuery(
      "q331_quality_funnel",
      "Quality-gate attrition funnel — the curation report every corpus release ships (not just how many docs survive, but WHICH rule kills how many, in order — the number that tells you whether a gate is dead weight or doing the work): four deterministic rules applied as a SEQUENTIAL conjunction — length ≥ 100 chars, ≥ 20 tokens, stopword ratio ≥ 2% (gibberish screen), all 3-grams distinct (the q332 repetition screen at its strictest) — with per-stage survivors and drops. ONE scan computes every rule's flag in-row (two array kernels, a filtered-count HOF, zero shuffles), one 1-row aggregate holds the running conjunctions, and `stack` unpivots it into the 5-row funnel. At 100 TB the entire report costs one map pass; the funnel ordering means a doc is charged to the FIRST rule that rejects it, so the stages sum exactly.",
      s"""WITH t AS (SELECT n_chars, list_filter(
        |    regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |f AS (SELECT
        |    CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN len(toks) >= 20 THEN 1 ELSE 0 END AS r2,
        |    CASE WHEN 1000000 * len(list_filter(toks,
        |        x -> list_contains([$stopListSql], x)))
        |      // greatest(len(toks), 1) >= 20000 THEN 1 ELSE 0 END AS r3,
        |    CASE WHEN len(list_distinct(list_transform(
        |        generate_series(1, len(toks) - 2),
        |        i -> array_to_string(toks[i:i+2], ' '))))
        |      = greatest(len(toks) - 2, 0) AND len(toks) >= 3
        |      THEN 1 ELSE 0 END AS r4
        |  FROM t),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(r1) AS BIGINT) AS s1,
        |    CAST(sum(r1 * r2) AS BIGINT) AS s2,
        |    CAST(sum(r1 * r2 * r3) AS BIGINT) AS s3,
        |    CAST(sum(r1 * r2 * r3 * r4) AS BIGINT) AS s4
        |  FROM f)
        |SELECT stage, rule, survivors, dropped FROM (
        |  SELECT 0 AS stage, 'input' AS rule, n AS survivors, 0 AS dropped FROM a
        |  UNION ALL SELECT 1, 'min_chars_100', s1, n - s1 FROM a
        |  UNION ALL SELECT 2, 'min_tokens_20', s2, s1 - s2 FROM a
        |  UNION ALL SELECT 3, 'stopwords_2pct', s3, s2 - s3 FROM a
        |  UNION ALL SELECT 4, 'distinct_3grams', s4, s3 - s4 FROM a)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val stopArr = "array(" +
        graft.ops.TextAnalysis.profiles.flatMap(_._2).distinct.sorted
          .map(w => s"'$w'").mkString(", ") + ")"
      val f = Tables.documents(s, d)
        .select(col("n_chars"), tokens(col("text")).as("toks"))
        .withColumn("sh3", shingles(col("toks"), 3))
        .selectExpr(
          "CASE WHEN n_chars >= 100 THEN 1L ELSE 0L END AS r1",
          "CASE WHEN size(toks) >= 20 THEN 1L ELSE 0L END AS r2",
          s"""CASE WHEN 1000000 * size(filter(toks,
             |    x -> array_contains($stopArr, x)))
             |  div greatest(size(toks), 1) >= 20000
             |  THEN 1L ELSE 0L END AS r3""".stripMargin,
          """CASE WHEN size(toks) >= 3 AND
            |  size(array_distinct(sh3)) = size(toks) - 2
            |  THEN 1L ELSE 0L END AS r4""".stripMargin)
      f.agg(count(lit(1)).as("n"), sum(col("r1")).as("s1"),
          sum(col("r1") * col("r2")).as("s2"),
          sum(col("r1") * col("r2") * col("r3")).as("s3"),
          sum(col("r1") * col("r2") * col("r3") * col("r4")).as("s4"))
        .selectExpr(
          """stack(5,
            |  0, 'input',           n,  0L,
            |  1, 'min_chars_100',   s1, n - s1,
            |  2, 'min_tokens_20',   s2, s1 - s2,
            |  3, 'stopwords_2pct',  s3, s2 - s3,
            |  4, 'distinct_3grams', s4, s3 - s4)
            |AS (stage, rule, survivors, dropped)""".stripMargin)
        .orderBy(col("stage"))
    },

    GraftQuery(
      "q344_ffd_packing",
      "First-fit-decreasing sequence packing under a 512-token bin cap — the packing PRODUCTION pretraining uses where q93's concat-and-chunk would split documents across context windows: docs never split, each goes whole into the first bin that still fits it, largest-first (FFD's 11/9·OPT+1 guarantee is the reason it is the default offline heuristic). Packing is inherently a sequential fold, so the scale shape is the production one — SHARD, THEN PACK: the shard count DERIVES FROM THE CORPUS (⌊n/256⌋ floor 4, computed by both engines from the same count — q111's corpus-derived-bucket doctrine; a FIXED shard count is the fixed-parallelism trap, and the fold's O(docs·bins) inner scan makes it quadratic per shard: the 16-shard first cut measured 5.4× per decade and climbing), docs shard by (lang, doc_id mod shards), and FFD runs independently per ~256-doc shard — per-shard work is BOUNDED at any SF and the shard count scales exactly like a 1000-worker packing job's worker count. Per shard the fold is ONE codegen `aggregate` HOF over the size-sorted array — state = the open bins' remaining capacities, first-fit via array_position over a vectorized >= scan — no UDF, no driver loop, nothing leaves the executor; the oracle replays the IDENTICAL fold as a group-parallel recursive CTE (all shards advance rank-by-rank together). Bin COUNT and fill depend only on the sorted size multiset, so the census is deterministic without any tie policy. Output: exact per-lang bin census — docs, bins, fill ppm, the honest waste number a packing run is judged by. Docs longer than the cap truncate to one full bin (the tokenizer-side truncation every context-window pipeline applies).",
      """WITH RECURSIVE nsh AS (SELECT greatest(4, count(*) // 256) AS nsh
        |  FROM documents),
        |t AS (SELECT doc_id, lang,
        |    least(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')), 512) AS tok,
        |    doc_id % nsh.nsh AS shard
        |  FROM documents CROSS JOIN nsh),
        |it AS MATERIALIZED (SELECT lang, shard, tok,
        |    row_number() OVER (PARTITION BY lang, shard
        |                       ORDER BY tok DESC, doc_id) AS rk
        |  FROM t),
        |gs AS MATERIALIZED (SELECT lang, shard, count(*) AS n,
        |    CAST(sum(tok) AS BIGINT) AS sum_tok
        |  FROM it GROUP BY 1, 2),
        |fold AS (
        |  SELECT lang, shard, 0 AS k, CAST([] AS BIGINT[]) AS rems FROM gs
        |  UNION ALL
        |  SELECT f.lang, f.shard, f.k + 1,
        |    CASE WHEN list_position(
        |           list_transform(f.rems, r -> r >= i.tok), true) = 0
        |         THEN list_append(f.rems, 512 - i.tok)
        |         ELSE list_transform(generate_series(1, len(f.rems)), j ->
        |           CASE WHEN j = list_position(
        |                  list_transform(f.rems, r -> r >= i.tok), true)
        |                THEN f.rems[j] - i.tok ELSE f.rems[j] END)
        |    END
        |  FROM fold f JOIN it i ON i.lang = f.lang AND i.shard = f.shard
        |    AND i.rk = f.k + 1),
        |fin AS (SELECT f.lang, f.shard, len(f.rems) AS n_bins
        |  FROM fold f JOIN gs ON gs.lang = f.lang AND gs.shard = f.shard
        |    AND f.k = gs.n)
        |SELECT gs.lang, CAST(sum(gs.n) AS BIGINT) AS n_docs,
        |  CAST(sum(fin.n_bins) AS BIGINT) AS n_bins,
        |  CAST(sum(gs.sum_tok) * 1000000
        |      // (sum(fin.n_bins) * 512) AS BIGINT) AS fill_ppm
        |FROM gs JOIN fin ON fin.lang = gs.lang AND fin.shard = gs.shard
        |GROUP BY gs.lang ORDER BY gs.lang""".stripMargin) { (s, d) =>
      val cap = 512L
      // corpus-derived shard count (~256 docs/shard, floor 4): per-shard
      // fold work stays bounded at any SF; the count is one 1-row
      // broadcast, computed identically by the oracle
      val nsh = Tables.documents(s, d)
        .agg(greatest(lit(4L), expr("count(1) div 256")).as("nsh"))
      val shards = Tables.documents(s, d).crossJoin(broadcast(nsh))
        .select(col("lang"), (col("doc_id") % col("nsh")).as("shard"),
          least(size(tokens(col("text"))).cast("long"), lit(cap)).as("tok"))
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
          // FFD order: sizes descending — the census depends only on this
          // sorted multiset, so no id tie-break is needed
          sort_array(collect_list(col("tok")), asc = false).as("ts"))
      // the fold: bins = remaining capacities; first fit = first index
      // whose remainder admits the item (vectorized >= scan +
      // array_position), else open a bin. All executor-side, per shard.
      def firstFit(rems: Column, t: Column): Column =
        array_position(transform(rems, r => r >= t), lit(true))
      val packed = shards.withColumn("rems", aggregate(
        col("ts"),
        array().cast("array<long>"),
        (rems, t) => when(firstFit(rems, t) === 0,
          concat(rems, array(lit(cap) - t)))
          .otherwise({
            val pos = firstFit(rems, t)
            zip_with(rems, sequence(lit(1L), size(rems).cast("long")),
              (r, j) => when(j === pos, r - t).otherwise(r))
          })))
      packed.groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(size(col("rems"))).cast("long").as("n_bins"),
          expr(s"CAST(sum(sum_tok) * 1000000 div (sum(size(rems)) * $cap) " +
            "AS BIGINT)").as("fill_ppm"))
        .orderBy(col("lang"))
    }
  )

  /** Stopword list shared by the funnel's gibberish screen on both engines
    * (the union of TextAnalysis.profiles — single source). */
  private def stopListSql: String =
    graft.ops.TextAnalysis.profiles.flatMap(_._2).distinct.sorted
      .map(w => s"'$w'").mkString(", ")

  /** PII regex classes, single source for both engines (ASCII-only
    * constructs on which Java regex and RE2 agree exactly). */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
}
