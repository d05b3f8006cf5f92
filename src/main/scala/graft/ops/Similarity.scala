package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._
import graft.functions.CrossHash.h60Local

/** Approximate-nearest-neighbor surface over `embeddings.embedding`
  * (`array<float>`, dim 64): exact brute-force cosine top-k as the
  * verification/baseline tier, and hyperplane-LSH bucketing as the scale
  * path (candidate generation is linear in corpus size — the pattern that
  * replaces all-pairs search at 100 TB: bucket, then exact-verify only
  * within buckets).
  *
  * Every similarity is the codegen [[graft.functions.ColumnOps.dotProduct]]
  * (sequential IEEE-double fold), bit-identical to the DuckDB
  * `list_sum(list_transform(list_zip(...)))` oracle, so even ORDER BY a
  * floating similarity is deterministic across engines.
  */
object Similarity {

  /** Banded hyperplane LSH: [[NumTables]] independent hash tables of
    * [[BitsPerTable]] sign bits each. Short bands keep per-table collision
    * probability high enough to recall moderate-similarity pairs
    * (cos ≥ 0.40 ⇒ P(bit agree) ≈ 0.63; 0.63⁴ ≈ 0.16 per table ⇒ ~92%
    * recall over 16 tables, measured on the fixture corpus), while candidate
    * volume stays linear in corpus size — the property that replaces the
    * quadratic all-pairs scan at 100 TB.
    *
    * Hyperplane component r(p,i) for plane p, dim i is
    * `h60("p_i") % 2001 - 1000` — an integer in [-1000, 1000], exactly
    * representable in float32/double, re-derivable in SQL from the same md5.
    */
  val NumTables = 16
  val BitsPerTable = 4
  val Dim = 64
  def planeComponent(p: Int, i: Int): Long = h60Local(s"${p}_$i") % 2001L - 1000L

  /** SQL: all plane components as an inline relation `planes(p, rv)`,
    * rv the 64-long list for plane p (p in 0 until NumTables*BitsPerTable). */
  def planesSql: String = {
    val rows = (0 until NumTables * BitsPerTable).map { p =>
      val rv = (0 until Dim).map(planeComponent(p, _)).mkString(", ")
      s"($p, [$rv])"
    }.mkString(",\n    ")
    s"(VALUES\n    $rows) AS planes(p, rv)"
  }

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def normSql(x: String) =
    s"sqrt(list_sum(list_transform($x, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))"

  /** Shared positive-centroid integer scorer (q329/q336/q337/q338): per-row
    * ⌊10⁶·eᵢ/‖e‖⌋ quantization, centroid = per-dim INTEGER SUM over the
    * positive class (rank-invariant scaling — the mean's floor-division,
    * whose toward-zero/toward-−∞ semantics differ across engines on
    * negatives, is never needed), score offset positive then floor-divided
    * onto a bounded census domain. Yields CTE `sc(vec_id, pos, sc)`. */
  private def centroidScoreSql: String =
    s"""n AS (SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id, label,
       |    unnest(generate_series(1, len(embedding))) AS d,
       |    unnest(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(floor(1000000.0 * CASE WHEN nrm = 0 THEN 0.0
       |             ELSE CAST(embedding[i] AS DOUBLE) / nrm END) AS BIGINT))) AS qv
       |  FROM n),
       |cen AS (SELECT d, CAST(sum(qv) AS HUGEINT) AS c FROM q
       |        WHERE label = 2 GROUP BY d),
       |np AS (SELECT CAST(count(*) AS HUGEINT) AS n1 FROM n WHERE label = 2),
       |sc AS (SELECT q.vec_id,
       |    max(CASE WHEN q.label = 2 THEN 1 ELSE 0 END) AS pos,
       |    CAST((sum(CAST(q.qv AS HUGEINT) * cen.c) + n1 * 100000000000000)
       |      // (n1 * 1000000) AS BIGINT) AS sc
       |  FROM q JOIN cen USING (d) CROSS JOIN np GROUP BY q.vec_id, n1)"""
      .stripMargin

  /** Spark twin of [[centroidScoreSql]]: (vec_id, pos, sc). */
  private def centroidScores(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val n = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"), l2Norm(col("embedding")).as("nrm"))
    val q = graft.util.CacheOnce.persistForOneAction(
      n.select(col("vec_id"), col("label"), col("nrm"),
          posexplode(col("embedding")).as(Seq("d0", "e")))
        .select(col("vec_id"), col("label"), (col("d0") + 1).as("d"),
          floor(lit(1000000.0) * when(col("nrm") === 0, 0.0)
            .otherwise(col("e").cast("double") / col("nrm")))
            .cast("long").as("qv")))
    val cen = q.filter(col("label") === 2)
      .groupBy(col("d")).agg(sum(col("qv")).cast(dec).as("c"))
    val np = n.filter(col("label") === 2)
      .agg(count(lit(1)).cast(dec).as("n1"))
    q.join(broadcast(cen), "d").crossJoin(broadcast(np))
      .groupBy(col("vec_id"), col("n1"))
      .agg(max(when(col("label") === 2, 1L).otherwise(0L)).as("pos"),
        sum(col("qv").cast(dec) * col("c")).cast(dec).as("s"))
      // offset keeps both operands positive: Spark `div` truncates toward
      // zero while DuckDB `//` floors — they only agree on non-negatives
      .selectExpr("vec_id", "pos",
        """CAST((s + n1 * 100000000000000) div (n1 * 1000000) AS BIGINT)
          |  AS sc""".stripMargin)
  }

  /** The full plane matrix, row-major (plane p × dim i); integer components
    * ≤ 1000 are exact in float32, so the kernel's double fold matches the
    * SQL twin bit-for-bit. */
  lazy val planeMatrix: Array[Float] =
    (0 until NumTables * BitsPerTable).flatMap(p =>
      (0 until Dim).map(i => planeComponent(p, i).toFloat)).toArray

  /** Spark side: one long bucket code per table (`t * 2^bits + bucket`) via
    * the single-pass [[org.apache.spark.sql.graft.HyperplaneBuckets]] codegen
    * kernel — one expression instead of 64 per-plane dot expressions. */
  def lshBucketCodes(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.hyperplaneBuckets(
      emb, planeMatrix, NumTables, BitsPerTable)

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q43_cosine_topk",
      "Exact brute-force cosine top-5 neighbors for the first 10 probe vectors: broadcast the probes, codegen dot-product per (probe, candidate), per-probe top-k. At scale: per-partition partial top-k before the final window keeps the shuffle at k rows per probe per partition.",
      s"""WITH n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |s AS (SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
         |        CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
         |             ELSE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) END AS sim
         |      FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 10),
         |r AS (SELECT probe_id, vec_id, sim,
         |        row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |SELECT probe_id, vec_id, rk,
         |  CAST(floor(1000000.0 * sim) AS BIGINT) AS cos_ppm
         |FROM r WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val probes = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("nrm").as("p_nrm"))
      val nn  = col("p_nrm") * col("nrm")
      val sim = when(nn === 0d, 0d)
        .otherwise(dotProduct(col("p_emb"), col("embedding")) / nn)
      val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      broadcast(probes)
        .join(n, col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), sim.as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("rk"),
          floor(lit(1000000.0) * col("sim")).cast("long").as("cos_ppm"))
        .orderBy(col("probe_id"), col("rk"))
    },

    GraftQuery(
      "q140_hard_negatives",
      "Hard-negative mining for contrastive training: for each probe (vec_id < 10), the top-5 most-similar vectors whose LABEL DIFFERS — the near-miss candidates a retrieval model trains against. Same broadcast-probe + codegen-dot shape as q43 plus the label-inequality predicate; at scale the candidate side comes from the ANN tiers (q44/q73) instead of the full corpus, with this exact pass as the re-rank.",
      s"""WITH n AS (SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |s AS (SELECT a.vec_id AS probe_id, a.label AS probe_label,
         |        b.vec_id AS vec_id, b.label AS neg_label,
         |        CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
         |             ELSE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) END AS sim
         |      FROM n a JOIN n b ON b.label <> a.label
         |      WHERE a.vec_id < 10),
         |r AS (SELECT probe_id, probe_label, vec_id, neg_label, sim,
         |        row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |SELECT probe_id, CAST(probe_label AS INTEGER) AS probe_label,
         |  vec_id, CAST(neg_label AS INTEGER) AS neg_label, rk,
         |  CAST(floor(1000000.0 * sim) AS BIGINT) AS cos_ppm
         |FROM r WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          l2Norm(col("embedding")).as("nrm"))
      val probes = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
          col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
      val nn  = col("p_nrm") * col("nrm")
      val sim = when(nn === 0d, 0d)
        .otherwise(dotProduct(col("p_emb"), col("embedding")) / nn)
      val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      broadcast(probes)
        .join(n, col("label") =!= col("probe_label"))
        .select(col("probe_id"), col("probe_label").cast("int").as("probe_label"),
          col("vec_id"), col("label").cast("int").as("neg_label"), sim.as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("probe_label"), col("vec_id"),
          col("neg_label"), col("rk"),
          floor(lit(1000000.0) * col("sim")).cast("long").as("cos_ppm"))
        .orderBy(col("probe_id"), col("rk"))
    },

    GraftQuery(
      "q73_ivf_ann_topk",
      "IVF-style ANN: 16 deterministic seed centroids (first vectors), every vector assigned to its nearest centroid (exact L2, total tie-break), probes search only their nprobe=2 nearest inverted lists, exact cosine top-5 within candidates. Inverted-list membership is CAPPED at 256 (deterministic: rank by vec_id — mirrored in the oracle; the q44/q209 governor doctrine, and exactly the list q209's MNN search already probes), because with 16 fixed centroids list length is ~n/16 — linear in the corpus, so per-probe candidate volume grew with n (23.6× per decade measured at sf10 before the cap) where a production IVF would grow NLIST ∝ √n instead; past the cap, re-training with more centroids is the recall-preserving move. With the cap, probe cost is nprobe × 256 exact dots per probe — independent of corpus size; assignment remains the one linear pass, the coarse-quantizer shape of a billion-vector index. No cap effect at the oracle-gated SFs (max list ≈ 125).",
      s"""WITH n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
         |dists AS (SELECT v.vec_id, c.cid,
         |    v.nrm * v.nrm + c.cnrm * c.cnrm - 2 * ${dotSql("v.embedding", "c.cemb")} AS d2
         |  FROM n v, cent c),
         |asgn AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM dists) WHERE rk = 1),
         |lists AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
         |    FROM asgn) WHERE rn <= 256),
         |probes AS (SELECT vec_id AS probe_id FROM n WHERE vec_id >= 16 AND vec_id < 26),
         |plists AS (SELECT p.probe_id, d.cid FROM probes p
         |  JOIN dists d ON d.vec_id = p.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY d.d2, d.cid) <= 2),
         |cand AS (SELECT pl.probe_id, a.vec_id
         |  FROM plists pl JOIN lists a ON a.cid = pl.cid
         |  WHERE a.vec_id <> pl.probe_id),
         |scored AS (SELECT c.probe_id, c.vec_id,
         |    CASE WHEN p.nrm * v.nrm = 0 THEN 0.0
         |         ELSE ${dotSql("p.embedding", "v.embedding")} / (p.nrm * v.nrm) END AS sim
         |  FROM cand c JOIN n p ON p.vec_id = c.probe_id
         |              JOIN n v ON v.vec_id = c.vec_id)
         |SELECT probe_id, vec_id, rk, CAST(floor(1000000.0 * sim) AS BIGINT) AS cos_ppm
         |FROM (SELECT probe_id, vec_id, sim,
         |        row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM scored)
         |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val cent = n.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      // exact L2² to every centroid: one broadcast pass over the corpus
      val d2 = col("nrm") * col("nrm") + col("cnrm") * col("cnrm") -
        lit(2) * dotProduct(col("embedding"), col("cemb"))
      val dists = n.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), d2.as("d2"),
          col("embedding"), col("nrm"))
      val byDist = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
      val ranked = dists.withColumn("rk", row_number().over(byDist))
      val asgn = ranked.filter(col("rk") === 1).select(col("vec_id"), col("cid"))
      // capped inverted lists (doc above): rank members per list by vec_id,
      // keep 256 — per-probe candidate volume is nprobe × 256, independent
      // of corpus size. Same bounded lists q209's MNN tier probes.
      val lists = asgn.withColumn("rn", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
        .filter(col("rn") <= 256).drop("rn")
      val plists = ranked.filter(col("vec_id") >= 16 && col("vec_id") < 26 && col("rk") <= 2)
        .select(col("vec_id").as("probe_id"), col("cid"))
      val cand = plists.join(lists, "cid")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"))
      val p = n.select(col("vec_id").as("probe_id"), col("embedding").as("pemb"),
        col("nrm").as("pnrm"))
      val v = n.select(col("vec_id"), col("embedding").as("vemb"), col("nrm").as("vnrm"))
      val nn  = col("pnrm") * col("vnrm")
      val sim = when(nn === 0d, 0d)
        .otherwise(dotProduct(col("pemb"), col("vemb")) / nn)
      val bySim = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      cand.join(p, "probe_id").join(v, "vec_id")
        .select(col("probe_id"), col("vec_id"), sim.as("sim"))
        .withColumn("rk", row_number().over(bySim))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("vec_id"), col("rk"),
          floor(lit(1000000.0) * col("sim")).cast("long").as("cos_ppm"))
        .orderBy(col("probe_id"), col("rk"))
    },

    GraftQuery(
      "q266_ann_recall",
      "ANN RECALL EVALUATION — q265's calibration doctrine applied to similarity search: for 50 probe vectors, IVF(nprobe=2) top-5 (q73's index shape) meets the brute-force exact top-5, and recall@5 = |intersection| per probe ships as a histogram plus the corpus mean in ppm. This is the accuracy-vs-cost dial of every vector index: nprobe trades the recall this query MEASURES against the candidate volume it scans — deploying an index without this number is guessing. Brute force runs only over the 50-probe sample (the labeled-verification tier); the IVF side touches only its probed lists.",
      s"""WITH n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
         |dists AS (SELECT v.vec_id, c.cid,
         |    v.nrm * v.nrm + c.cnrm * c.cnrm - 2 * ${dotSql("v.embedding", "c.cemb")} AS d2
         |  FROM n v, cent c),
         |asgn AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM dists) WHERE rk = 1),
         |probes AS (SELECT vec_id AS probe_id FROM n WHERE vec_id >= 16 AND vec_id < 66),
         |plists AS (SELECT p.probe_id, d.cid FROM probes p
         |  JOIN dists d ON d.vec_id = p.probe_id
         |  QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY d.d2, d.cid) <= 2),
         |sim AS (SELECT p.probe_id, v.vec_id,
         |    CASE WHEN pn.nrm * v.nrm = 0 THEN 0.0
         |         ELSE ${dotSql("pn.embedding", "v.embedding")} / (pn.nrm * v.nrm) END AS sim
         |  FROM probes p JOIN n pn ON pn.vec_id = p.probe_id
         |  CROSS JOIN n v WHERE v.vec_id <> p.probe_id),
         |exact AS (SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM sim) WHERE rk <= 5),
         |ivf AS (SELECT probe_id, vec_id FROM (
         |    SELECT s.probe_id, s.vec_id,
         |      row_number() OVER (PARTITION BY s.probe_id ORDER BY s.sim DESC, s.vec_id) AS rk
         |    FROM sim s JOIN plists pl ON pl.probe_id = s.probe_id
         |    JOIN asgn a ON a.vec_id = s.vec_id AND a.cid = pl.cid)
         |  WHERE rk <= 5),
         |rec AS (SELECT e.probe_id,
         |    CAST(count(i.vec_id) AS BIGINT) AS hits
         |  FROM exact e LEFT JOIN ivf i
         |    ON i.probe_id = e.probe_id AND i.vec_id = e.vec_id
         |  GROUP BY e.probe_id),
         |g AS (SELECT hits AS recall_x5, count(*) AS n_probes FROM rec GROUP BY hits)
         |SELECT recall_x5, n_probes,
         |  CAST(sum(recall_x5 * n_probes) OVER () * 1000000
         |       // (sum(n_probes) OVER () * 5) AS BIGINT) AS mean_recall_ppm
         |FROM g ORDER BY recall_x5""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val cent = n.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      val d2 = col("nrm") * col("nrm") + col("cnrm") * col("cnrm") -
        lit(2) * dotProduct(col("embedding"), col("cemb"))
      val dists = n.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), d2.as("d2"))
      val byDist = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
      val ranked = dists.withColumn("rk", row_number().over(byDist))
      val asgn = ranked.filter(col("rk") === 1).select(col("vec_id"), col("cid"))
      val plists = ranked.filter(col("vec_id") >= 16 && col("vec_id") < 66 && col("rk") <= 2)
        .select(col("vec_id").as("probe_id"), col("cid"))
      val p = n.filter(col("vec_id") >= 16 && col("vec_id") < 66)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pemb"),
          col("nrm").as("pnrm"))
      val v = n.select(col("vec_id"), col("embedding").as("vemb"), col("nrm").as("vnrm"))
      val nn = col("pnrm") * col("vnrm")
      val simC = when(nn === 0d, 0d)
        .otherwise(dotProduct(col("pemb"), col("vemb")) / nn)
      // the 50-probe brute-force frame feeds both rankings: compute once
      val sim = graft.util.CacheOnce.persistForOneAction(
        p.crossJoin(v).filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), simC.as("sim")))
      val bySim = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      val exact = sim.withColumn("rk", row_number().over(bySim))
        .filter(col("rk") <= 5).select(col("probe_id"), col("vec_id"))
      val ivf = sim.join(plists, "probe_id")
        .join(asgn.select(col("vec_id"), col("cid").as("acid")), "vec_id")
        .filter(col("cid") === col("acid"))
        .select(col("probe_id"), col("vec_id"), col("sim"))
        .withColumn("rk", row_number().over(bySim))
        .filter(col("rk") <= 5)
        .select(col("probe_id").as("ivf_pid"), col("vec_id").as("ivf_id"))
      val rec = exact.join(ivf,
          col("probe_id") === col("ivf_pid") && col("vec_id") === col("ivf_id"),
          "left_outer")
        .groupBy(col("probe_id"))
        .agg(count(col("ivf_id")).as("hits"))
      rec.groupBy(col("hits").as("recall_x5"))
        .agg(count(lit(1)).as("n_probes"))
        .withColumn("mean_recall_ppm",
          expr("sum(recall_x5 * n_probes) OVER () * 1000000 div (sum(n_probes) OVER () * 5)"))
        .orderBy(col("recall_x5"))
    },

    GraftQuery(
      "q78_label_embedding_stats",
      "Per-label embedding statistics: count, min/max/avg vector norm in ppm (per-row norms are bit-identical doubles, quantized before the exact integer aggregate), and the label's dominant first LSH-table bucket (argmax with total tie-break) — the class-profile pass of an embedding corpus.",
      s"""WITH n AS (SELECT label, ${normSql("embedding")} AS nrm,
         |    CAST((SELECT sum(CASE WHEN ${dotSql("planes.rv", "embedding")} > 0
         |                     THEN 1 << (planes.p % ${BitsPerTable}) ELSE 0 END)
         |       FROM $planesSql WHERE planes.p < ${BitsPerTable}) AS BIGINT) AS b0
         |  FROM embeddings),
         |q AS (SELECT label, CAST(floor(1000000.0 * nrm) AS BIGINT) AS nrm_ppm, b0 FROM n),
         |bc AS (SELECT label, b0, count(*) AS c FROM q GROUP BY 1, 2),
         |dom AS (SELECT label, b0 AS dom_bucket FROM (
         |    SELECT label, b0, row_number() OVER (PARTITION BY label ORDER BY c DESC, b0) AS rk
         |    FROM bc) WHERE rk = 1)
         |SELECT q.label, count(*) AS n,
         |  min(nrm_ppm) AS min_norm_ppm, max(nrm_ppm) AS max_norm_ppm,
         |  CAST(sum(nrm_ppm) // count(*) AS BIGINT) AS avg_norm_ppm,
         |  CAST(max(dom.dom_bucket) AS BIGINT) AS dom_bucket
         |FROM q JOIN dom ON dom.label = q.label
         |GROUP BY q.label ORDER BY q.label""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("label"),
        floor(lit(1000000.0) * l2Norm(col("embedding"))).cast("long").as("nrm_ppm"),
        // first LSH table's bucket = low BitsPerTable bits of code 0
        (element_at(lshBucketCodes(col("embedding")), 1) % (1 << BitsPerTable))
          .as("b0"))
      val bc = e.groupBy(col("label"), col("b0")).agg(count(lit(1)).as("c"))
      val dom = bc.groupBy(col("label"))
        .agg(min(struct((-col("c")).as("nc"), col("b0").as("b0"))).as("m"))
        .select(col("label"), col("m.b0").as("dom_bucket"))
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("nrm_ppm")).as("min_norm_ppm"),
          max(col("nrm_ppm")).as("max_norm_ppm"),
          expr("sum(nrm_ppm) div count(1)").cast("long").as("avg_norm_ppm"))
        .join(dom, "label")
        .select(col("label"), col("n"), col("min_norm_ppm"), col("max_norm_ppm"),
          col("avg_norm_ppm"), col("dom_bucket"))
        .orderBy(col("label"))
    },

    GraftQuery(
      "q44_lsh_ann_pairs",
      "Banded hyperplane-LSH ANN (16 tables x 4 sign bits, md5-derived planes): candidates are distinct id-pairs sharing any (table, bucket) — then exact-verified at cosine >= 0.40 by joining the vectors back. ~92% recall of the brute-force q42 pairs at a fraction of the comparisons. Buckets are CAPPED at 256 members (deterministic: rank by vec_id — mirrored in the oracle), because with fixed sign bits bucket occupancy grows linearly with the corpus and within-bucket pairing quadratically (the sf1 board measured 61x at 10x vectors before the cap); past the cap a production deployment re-banding with more bits/tables is the recall-preserving move, and the cap is the governor that keeps candidate volume linear until then. No cap effect at the oracle-gated SFs (max occupancy ~125).",
      s"""WITH n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |bk AS (SELECT e.vec_id, planes.p // ${BitsPerTable} AS t,
         |         sum(CASE WHEN ${dotSql("planes.rv", "e.embedding")} > 0
         |                  THEN 1 << (planes.p % ${BitsPerTable}) ELSE 0 END) AS bkt
         |       FROM n e, $planesSql
         |       GROUP BY e.vec_id, planes.p // ${BitsPerTable}),
         |bkr AS (SELECT vec_id, t, bkt,
         |         row_number() OVER (PARTITION BY t, bkt ORDER BY vec_id) AS rn
         |       FROM bk),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM bkr a JOIN bkr b
         |           ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         |          AND a.rn <= 256 AND b.rn <= 256),
         |v AS (SELECT c.vec_a, c.vec_b,
         |        CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
         |             ELSE ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) END AS sim
         |      FROM cand c JOIN n x ON x.vec_id = c.vec_a
         |                  JOIN n y ON y.vec_id = c.vec_b)
         |SELECT vec_a, vec_b, CAST(floor(1000000.0 * sim) AS BIGINT) AS cos_ppm
         |FROM v WHERE sim >= 0.40
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      // (table, bucket) is joined as the single encoded code column
      // persisted for the one action (r20, §1.4): both self-join sides
      // consume the bucket index, and without the cache the 16-table code
      // explode + the capping window ran twice
      val bk = graft.util.CacheOnce.persistForOneAction(
        n.select(col("vec_id"),
          explode(lshBucketCodes(col("embedding"))).as("code"))
          // capped bucket (doc above): rank members deterministically, pair
          // only the first 256 — the window runs over the id-only bucket
          // index, partitioned by code, so it parallelizes across buckets
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("code")).orderBy(col("vec_id"))))
          .filter(col("rn") <= 256)
          .drop("rn"))
      // candidate generation on ids only (no vectors through the shuffle);
      // the bucket index is (corpus × tables) rows — it SCALES WITH THE
      // CORPUS, so no broadcast hint: AQE broadcasts it at small SF and
      // falls back to a shuffled join on `code` at 100 TB (a forced
      // broadcast of a corpus-sized frame would OOM the driver/executors)
      val cand = bk.as("a")
        .join(bk.as("b"),
          col("a.code") === col("b.code") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      // exact verification tier: fetch vectors, codegen cosine
      val x = n.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a"))
      val y = n.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b"))
      val nn  = col("nrm_a") * col("nrm_b")
      val sim = when(nn === 0d, 0d)
        .otherwise(dotProduct(col("emb_a"), col("emb_b")) / nn)
      // verification joins stay unhinted: AQE broadcasts them at this scale,
      // and at corpus scale they become shuffled hash joins on vec_id —
      // forcing broadcast here would OOM a 100 TB embedding table
      cand.join(x, "vec_a").join(y, "vec_b")
        .select(col("vec_a"), col("vec_b"), sim.as("sim"))
        .filter(col("sim") >= 0.40)
        .select(col("vec_a"), col("vec_b"),
          floor(lit(1000000.0) * col("sim")).cast("long").as("cos_ppm"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    GraftQuery(
      "q209_mutual_nn",
      "Mutual-nearest-neighbor pairs — the bitext-mining / cross-lingual alignment primitive (LASER-style): keep (a,b) only when b is a's single nearest neighbor AND a is b's, the symmetry filter that kills hubness false positives a one-directional top-1 keeps. REGISTERED IN ITS PRODUCTION SHAPE (re-scoped after the r10 sf1 board measured the all-pairs form at 65× per 10× data): every vector's NN search runs WITHIN q73's IVF index — its nprobe=2 nearest inverted lists, list membership deterministically capped at 256 (rank by vec_id, mirrored in the oracle; the q44 governor doctrine; no cap effect at the oracle-gated SFs where max list size ≈ 125) — so total cost is n × 2×cap codegen dots, LINEAR in the corpus. Each side's NN is an argmax-as-AGGREGATE (max of struct(sim, -id) — map-side combinable, no per-probe window sort), then one self-equi-join checks mutuality.",
      s"""WITH n AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
         |dists AS (SELECT v.vec_id, c.cid,
         |    v.nrm * v.nrm + c.cnrm * c.cnrm - 2 * ${dotSql("v.embedding", "c.cemb")} AS d2
         |  FROM n v, cent c),
         |rkd AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |  FROM dists),
         |asgn AS (SELECT vec_id, cid FROM rkd WHERE rk = 1),
         |mem AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
         |  FROM asgn),
         |plists AS (SELECT vec_id AS probe_id, cid FROM rkd WHERE rk <= 2),
         |s AS (SELECT pl.probe_id AS a, m.vec_id AS b,
         |        CASE WHEN p.nrm * v.nrm = 0 THEN 0.0
         |             ELSE ${dotSql("p.embedding", "v.embedding")} / (p.nrm * v.nrm) END AS sim
         |      FROM plists pl JOIN mem m
         |        ON m.cid = pl.cid AND m.rn <= 256 AND m.vec_id <> pl.probe_id
         |      JOIN n p ON p.vec_id = pl.probe_id
         |      JOIN n v ON v.vec_id = m.vec_id),
         |r AS (SELECT a, b, sim,
         |        row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rk
         |      FROM s),
         |nn AS (SELECT a, b, sim FROM r WHERE rk = 1)
         |SELECT x.a AS id_a, x.b AS id_b,
         |  CAST(floor(1000000.0 * x.sim) AS BIGINT) AS cos_ppm
         |FROM nn x JOIN nn y ON x.a = y.b AND x.b = y.a AND x.a < x.b
         |ORDER BY id_a""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val cent = n.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      // q73's coarse quantizer: exact L2² to 16 broadcast centroids, one
      // linear pass — ids only from here on (vectors rejoin at scoring)
      val d2 = col("nrm") * col("nrm") + col("cnrm") * col("cnrm") -
        lit(2) * dotProduct(col("embedding"), col("cemb"))
      val ranked = n.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), d2.as("d2"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
      // persisted: assignment AND probe lists both derive from the same
      // ranked frame — one quantizer pass, two bounded projections
      val rkd = graft.util.CacheOnce.persistForOneAction(
        ranked.filter(col("rk") <= 2).select(col("vec_id"), col("cid"), col("rk")))
      // capped inverted lists: rank members per list by vec_id, keep 256 —
      // the window runs over the id-only assignment frame, parallel per list
      val mem = rkd.filter(col("rk") === 1)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
        .filter(col("rn") <= 256)
        .select(col("vec_id").as("b"), col("cid"))
      // THE load-bearing size fact (sf10 lesson — the unhinted pair-then-
      // rejoin shape measured 65x per 10x data once AQE stopped
      // broadcasting and sort-merge-joined ~100M materialized pairs): the
      // member side is BOUNDED at 16 lists x 256 cap = <=4096 vectors at
      // ANY corpus size, so its vectors broadcast forever. Scoring becomes
      // probe-scan ⋈ broadcast(members) with the per-probe argmax folded
      // straight into a map-side-combinable aggregate — nothing pair-shaped
      // ever shuffles; the only shuffled frames are n probe rows and n
      // 1-row argmax partials.
      val memV = mem.join(n.select(col("vec_id"),
          col("embedding").as("emb_b"), col("nrm").as("nrm_b")),
          col("b") === col("vec_id"))
        .select(col("b"), col("cid"), col("emb_b"), col("nrm_b"))
      val probes = rkd.select(col("vec_id").as("a"), col("cid"))
        .join(n.select(col("vec_id").as("a"),
          col("embedding").as("emb_a"), col("nrm").as("nrm_a")), "a")
      val pn  = col("nrm_a") * col("nrm_b")
      val sim = when(pn === 0d, 0d)
        .otherwise(dotProduct(col("emb_a"), col("emb_b")) / pn)
      // argmax per side as an aggregate: max(struct(sim, -b)) is the same
      // total order as the oracle's (sim DESC, b ASC) row_number
      val nn = probes.join(broadcast(memV), "cid")
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b"), sim.as("sim"))
        .groupBy(col("a"))
        .agg(max(struct(col("sim"), (-col("b")).as("nb"))).as("m"))
        .select(col("a"), (-col("m.nb")).as("b"), col("m.sim").as("sim"))
      nn.as("x")
        .join(nn.as("y"),
          col("x.a") === col("y.b") && col("x.b") === col("y.a") &&
            col("x.a") < col("x.b"))
        .select(col("x.a").as("id_a"), col("x.b").as("id_b"),
          floor(lit(1000000.0) * col("x.sim")).cast("long").as("cos_ppm"))
        .orderBy(col("id_a"))
    },

    GraftQuery(
      "q329_auc_ranking",
      "Ranking AUC by the Mann-Whitney rank-sum identity — the retrieval/classifier eval number (P(random positive scores above random negative)) computed WITHOUT a row sort, for a positive-CENTROID cosine scorer (a single exemplar has no signal on this corpus — measured AUC 0.466; the class centroid separates at 0.781, and that difference is itself the point of shipping the evaluator): per-row the embedding quantizes to ⌊10⁶·eᵢ/‖e‖⌋ integers (per-row doubles are deterministic; no cross-row float ever sums), the centroid is the per-dimension INTEGER SUM over positives (scaling by n₁ is rank-invariant, so the mean's floor-division — whose toward-zero/toward-−∞ semantics differ across engines on negatives — is never needed), and the integer score is offset positive THEN floor-divided onto a bounded census domain. Ranks come from a score→(count, positives) census + ONE cumulative window over that census (q51's histogram-selection doctrine applied to AUC) — average ranks for ties ride the ×2 integer lane (r2 = 2·cum_before + cnt + 1, never a .5 float), and AUC_ppm = ⌊10⁶·(Σnpᵥ·r2ᵥ − n₁(n₁+1)) / (2·n₁·n₀)⌋ on DECIMAL(38,0)/HUGEINT — tie-correct exactly, one scan + an O(n·dim) map-side explode + a census-sized window at any corpus size (the naive formulation is O(n₁·n₀) pair comparisons AND breaks on ties).",
      s"""WITH $centroidScoreSql,
        |c AS (SELECT sc, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS np2
        |      FROM sc GROUP BY sc),
        |r AS (SELECT sc, cnt, np2, sum(cnt) OVER (ORDER BY sc) AS cum FROM c),
        |g AS (SELECT
        |    CAST(sum(np2 * (2 * (cum - cnt) + cnt + 1)) AS HUGEINT) AS r2,
        |    CAST(sum(np2) AS HUGEINT) AS n1,
        |    CAST(sum(cnt - np2) AS HUGEINT) AS n0 FROM r)
        |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        |  CAST(1000000 * (r2 - n1 * (n1 + 1)) // (2 * n1 * n0) AS BIGINT) AS auc_ppm
        |FROM g""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val sc = centroidScores(s, d)
      val c = sc.groupBy(col("sc"))
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("np2"))
      val r = c.withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("sc"))))
      r.agg(
        sum(col("np2").cast(dec) * (lit(2) * (col("cum") - col("cnt"))
          + col("cnt") + 1).cast(dec)).cast(dec).as("r2"),
        sum(col("np2")).cast(dec).as("n1"),
        sum(col("cnt") - col("np2")).cast(dec).as("n0"))
        .selectExpr("CAST(n1 AS BIGINT) AS n_pos", "CAST(n0 AS BIGINT) AS n_neg",
          """CAST(1000000 * (r2 - n1 * (n1 + 1)) div (2 * n1 * n0) AS BIGINT)
            |  AS auc_ppm""".stripMargin)
    },

    GraftQuery(
      "q336_calibration_bins",
      "Reliability diagram (calibration bins) for the q329 centroid scorer — AUC's mandatory companion (AUC says positives RANK above negatives; calibration says what a score VALUE means, and a model can ace one while flunking the other): scores bucket into 10 equal-width bins between the observed min and max (data-driven bounds from one 1-row aggregate — integer bin arithmetic, `least(9, ...)` closing the max edge), each bin ships its count, positive count and observed positive rate in exact ppm. Everything after the shared scorer is a 10-row census — one scan, nothing grows with the corpus.",
      s"""WITH $centroidScoreSql,
        |b AS (SELECT min(sc) AS mn, max(sc) AS mx FROM sc),
        |x AS (SELECT least(9, ((sc - mn) * 10) // greatest(mx - mn, 1)) AS bin,
        |        pos FROM sc CROSS JOIN b)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(1000000 * sum(pos) // count(*) AS BIGINT) AS obs_rate_ppm
        |FROM x GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
      val sc = centroidScores(s, d)
      val b = sc.agg(min(col("sc")).as("mn"), max(col("sc")).as("mx"))
      sc.crossJoin(broadcast(b))
        .selectExpr(
          "least(9, ((sc - mn) * 10) div greatest(mx - mn, 1)) AS bin", "pos")
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).cast("long").as("n_pos"))
        .selectExpr("bin", "n", "n_pos",
          "CAST(1000000 * n_pos div n AS BIGINT) AS obs_rate_ppm")
        .orderBy(col("bin"))
    },

    GraftQuery(
      "q337_precision_at_k",
      "Precision@k / Recall@k for the centroid retrieval ranking (k = 10, 25, 50) — the eval numbers a retrieval stack actually gates on (AUC integrates over ALL cutoffs; a serving system lives at one): the top-50 frame comes from a TakeOrdered reduction on (score DESC, id) — per-partition heaps + a 50-row merge, never a global sort — ranks attach to those 50 rows only, and each k reads its prefix. Precision = hits/k, recall = hits/n₁, both exact ppm (n₁ from the same scorer frame, broadcast 1-row). The k-grid is a 3-row literal frame; total cost beyond the scorer: one top-50 and a 150-row join.",
      s"""WITH $centroidScoreSql,
        |t AS (SELECT vec_id, pos,
        |        row_number() OVER (ORDER BY sc DESC, vec_id) AS r
        |      FROM sc ORDER BY sc DESC, vec_id LIMIT 50),
        |n1 AS (SELECT CAST(sum(pos) AS BIGINT) AS n1 FROM sc),
        |ks AS (SELECT unnest([10, 25, 50]) AS k)
        |SELECT k, CAST(sum(CASE WHEN r <= k THEN pos ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(1000000 * sum(CASE WHEN r <= k THEN pos ELSE 0 END) // k AS BIGINT)
        |    AS precision_ppm,
        |  CAST(1000000 * sum(CASE WHEN r <= k THEN pos ELSE 0 END) // n1 AS BIGINT)
        |    AS recall_ppm
        |FROM t CROSS JOIN ks CROSS JOIN n1
        |GROUP BY k, n1 ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val sc = graft.util.CacheOnce.persistForOneAction(centroidScores(s, d))
      val t = sc.orderBy(col("sc").desc, col("vec_id")).limit(50)
        .withColumn("r",
          row_number().over(Window.orderBy(col("sc").desc, col("vec_id"))))
      val n1 = sc.agg(sum(col("pos")).as("n1"))
      val ks = Seq(10, 25, 50).toDF("k")
      t.crossJoin(broadcast(ks)).crossJoin(broadcast(n1))
        .groupBy(col("k"), col("n1"))
        .agg(sum(when(col("r") <= col("k"), col("pos")).otherwise(0L))
          .cast("long").as("hits"))
        .selectExpr("k", "hits",
          "CAST(1000000 * hits div k AS BIGINT) AS precision_ppm",
          "CAST(1000000 * hits div n1 AS BIGINT) AS recall_ppm")
        .orderBy(col("k"))
    },

    GraftQuery(
      "q338_ndcg_at_10",
      "NDCG@10 for the centroid ranking — the position-discounted retrieval metric (a hit at rank 1 is worth more than at rank 10; P@k can't see the difference): binary relevance, discount weights ⌊10⁹/log₂(i+1)⌋ carried as SHARED INTEGER LITERALS on both engines (the Benford-literals doctrine — no engine evaluates a float log, and the spec pins every weight against the closed form), DCG = Σ rel_i·w_i over the top-10 TakeOrdered frame, ideal DCG = the first min(10, n₁) weights, NDCG in exact ppm. The whole metric beyond the scorer is a 10-row join against a 10-row literal frame.",
      s"""WITH $centroidScoreSql,
        |t AS (SELECT pos, row_number() OVER (ORDER BY sc DESC, vec_id) AS r
        |      FROM sc ORDER BY sc DESC, vec_id LIMIT 10),
        |n1 AS (SELECT CAST(sum(pos) AS BIGINT) AS n1 FROM sc),
        |w AS (SELECT * FROM (VALUES $ndcgWeightValues) AS w(r, wt)),
        |dcg AS (SELECT CAST(sum(t.pos * w.wt) AS BIGINT) AS dcg
        |        FROM t JOIN w ON t.r = w.r),
        |idcg AS (SELECT CAST(sum(wt) AS BIGINT) AS idcg FROM w CROSS JOIN n1
        |         WHERE r <= least(10, n1))
        |SELECT n1 AS n_pos, dcg, idcg,
        |  CAST(1000000 * dcg // idcg AS BIGINT) AS ndcg_ppm
        |FROM dcg CROSS JOIN idcg CROSS JOIN n1""".stripMargin) { (s, d) =>
      import s.implicits._
      val sc = graft.util.CacheOnce.persistForOneAction(centroidScores(s, d))
      val t = sc.orderBy(col("sc").desc, col("vec_id")).limit(10)
        .withColumn("r",
          row_number().over(Window.orderBy(col("sc").desc, col("vec_id"))))
      val n1 = sc.agg(sum(col("pos")).as("n1"))
      val w = NdcgWeights.toDF("r", "wt")
      val dcg = t.join(broadcast(w), "r")
        .agg(sum(col("pos") * col("wt")).cast("long").as("dcg"))
      val idcg = w.crossJoin(broadcast(n1))
        .filter(col("r") <= least(lit(10), col("n1")))
        .groupBy(col("n1"))
        .agg(sum(col("wt")).cast("long").as("idcg"))
      dcg.crossJoin(broadcast(idcg))
        .selectExpr("n1 AS n_pos", "dcg", "idcg",
          "CAST(1000000 * dcg div idcg AS BIGINT) AS ndcg_ppm")
    }
  )

  /** NDCG discount weights ⌊10⁹/log₂(i+1)⌋, i = 1..10 — shared integer
    * literals so neither engine evaluates a float log (Benford doctrine);
    * pinned against the closed form by RobustStatsSpec. */
  val NdcgWeights: Seq[(Int, Long)] = Seq(
    1 -> 1000000000L, 2 -> 630929753L, 3 -> 500000000L, 4 -> 430676558L,
    5 -> 386852807L, 6 -> 356207187L, 7 -> 333333333L, 8 -> 315464876L,
    9 -> 301029995L, 10 -> 289064826L)

  private def ndcgWeightValues: String =
    NdcgWeights.map { case (r, w) => s"($r, $w)" }.mkString(", ")
}
