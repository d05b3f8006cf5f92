package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._
import graft.functions.CrossHash.{h60, h60Sql}

/** Text-analysis surface over `documents` (SURVEY §2.4 "text analysis" +
  * the training-data-pipeline ops): language-ID by stopword profile,
  * quality scoring, token statistics with a BPE-ish regex tokenizer, and
  * rolling-hash document fingerprinting.
  *
  * Determinism rules: every ratio is ppm-quantized (`floor(1e6*x/y)` on
  * exact integer counts), every hash is the cross-engine md5-derived h60,
  * argmax tie-breaks are total (score desc, language asc). All per-doc maps
  * are embarrassingly parallel — no shuffle until the final small
  * aggregation, which is the shape that scales to 100 TB.
  */
object TextAnalysis {

  /** Tiny per-language common-word profiles (public knowledge, ASCII-safe).
    * Single source for the Spark plan AND the oracle SQL. */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "los", "que", "y", "una", "por"),
    "fr" -> Seq("le", "et", "les", "des", "une", "dans"),
    "zh" -> Seq("de", "shi", "le", "wo", "zai", "you"))

  /** BPE-ish tokenizer regex: letter runs | digit runs | single symbol.
    * ASCII classes only, so Java (Spark) and RE2 (DuckDB) agree exactly. */
  val bpeRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]"

  private val stopwords = profiles.flatMap(_._2).distinct.sorted

  /** q341's staged sketch-statistics catalog by corpus SNAPSHOT (combined
    * `Scratch.sourceKey` fingerprint of the four base tables — the q305
    * staleness doctrine): one Count-Min sketch + row count per (relation,
    * join key), built in one pass each and persisted as a 5-row parquet.
    * Shared with q346, which turns the catalog into plan decisions. */
  private val statsCatalogDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Catalog geometry (q341/q346/q348): 4×1024 Count-Min over the shared
    * md5-affine family, h60 mod [[Dedup.P]] key domain — single-sourced
    * with the optimizer rule that consumes the catalog
    * ([[graft.plans.CatalogJoinHints]]). */
  private val CmDepth = graft.plans.CatalogJoinHints.CmDepth
  private val CmWidth = graft.plans.CatalogJoinHints.CmWidth

  /** The cataloged (relation.key → key frame) list — q341's five rows. */
  private def statsRels(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    Seq(
      "customer.c_custkey" ->
        Tables.customer(s, d).select(col("c_custkey").as("k")),
      "events.user_id" ->
        Tables.events(s, d).select(col("user_id").as("k")),
      "lineitem.l_orderkey" ->
        Tables.lineitem(s, d).select(col("l_orderkey").as("k")),
      "orders.o_custkey" ->
        Tables.orders(s, d).select(col("o_custkey").as("k")),
      "orders.o_orderkey" ->
        Tables.orders(s, d).select(col("o_orderkey").as("k")))

  private def statsHashed(df: DataFrame): DataFrame =
    df.select(pmod(h60(col("k").cast("string")), lit(Dedup.P)).as("hs"))

  /** q346's broadcast gate: a build side estimated at or under this many
    * BYTES (estimated rows × the side's plan width — see
    * [[graft.plans.CatalogJoinHints]]'s byte-bound doc; the r17 verdict's
    * rows-vs-bytes fix) broadcasts; above it the merge hint enforces the
    * shuffle verdict. Session-overridable
    * (graft.catalog.broadcastByteBound) so PlanSpec can flip the decision
    * and pin that the physical plan flips with it. */
  val CatalogBroadcastByteBound = graft.plans.CatalogJoinHints.DefaultByteBound

  /** Plan widths of the q346/q348/q351 join frames, pinned as literals in
    * BOTH lanes (Spark decision math and DuckDB oracle): every frame is a
    * key-only projection of BIGINT columns, so a side's width is 8 bytes ×
    * its marked key count — events [user_id] = 8, orders [o_custkey] = 8
    * (q346/q348) or [o_custkey, o_orderkey] = 16 (q351), lineitem
    * [l_orderkey] = 8, customer [c_custkey] = 8; a join side's width is
    * its children's sum. The RULE derives the same numbers from
    * `output.dataType.defaultSize` — n_broadcast_in_plan pins the two
    * derivations against each other, so a width-model drift fails the
    * oracle gate. */
  private val WEvents = 8L
  private val WOrdersCust = 8L // q346/q348: orders projected to o_custkey
  private val WOrdersBoth = 16L // q351: o_custkey + o_orderkey both ride
  private val WLineitem = 8L
  private val WCustomer = 8L

  /** q346's oracle: the same CM sketches rebuilt in SQL (q341's fragments),
    * the same decision CASEs against the same bound literal, the executed
    * 3-way count, and the decision-derived broadcast census the Spark side
    * must read back from its own physical plan. */
  private def catalogPlanSql: String = {
    val p = Dedup.P
    val rels = Seq(("evu", "events", "user_id"),
      ("ordc", "orders", "o_custkey"), ("cust", "customer", "c_custkey"))
    val hctes = rels.map { case (nm, tbl, k) =>
      s"""h_$nm AS MATERIALIZED (SELECT ${h60Sql(s"CAST($k AS VARCHAR)")} % $p AS hs
         |  FROM $tbl)""".stripMargin
    }.mkString(",\n")
    val sctes = rels.map { case (nm, _, _) =>
      s"""c_$nm AS MATERIALIZED (SELECT d,
         |    (((2*d+1)*hs + (7919*d+13)) % $p) % $CmWidth AS c,
         |    count(*) AS cnt FROM h_$nm CROSS JOIN dd GROUP BY 1, 2),
         |n_$nm AS (SELECT count(*) AS n FROM h_$nm)""".stripMargin
    }.mkString(",\n")
    def edgeEst(l: String, r: String) =
      s"""(SELECT CAST(min(ej) AS BIGINT) FROM (
         |   SELECT a.d, CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT) AS ej
         |   FROM c_$l a JOIN c_$r b ON a.d = b.d AND a.c = b.c
         |   GROUP BY a.d) q)""".stripMargin
    s"""WITH dd AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS d),
       |$hctes,
       |$sctes,
       |eo AS (SELECT ${edgeEst("evu", "ordc")} AS est),
       |oc AS (SELECT ${edgeEst("ordc", "cust")} AS est),
       |act AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
       |  FROM events JOIN orders ON user_id = o_custkey
       |  JOIN customer ON o_custkey = c_custkey),
       |nn AS (SELECT (SELECT CAST(n AS BIGINT) FROM n_evu) AS ne,
       |  (SELECT CAST(n AS BIGINT) FROM n_ordc) AS no,
       |  (SELECT CAST(n AS BIGINT) FROM n_cust) AS nc),
       |dec AS (SELECT
       |    CASE WHEN no * $WOrdersCust <= ne * $WEvents
       |         THEN 'orders' ELSE 'events' END AS b1,
       |    CASE WHEN no * $WOrdersCust <= ne * $WEvents
       |         THEN no ELSE ne END AS n1,
       |    least(no * $WOrdersCust, ne * $WEvents) AS y1,
       |    CASE WHEN least(no * $WOrdersCust, ne * $WEvents)
       |           <= $CatalogBroadcastByteBound
       |         THEN 'broadcast' ELSE 'shuffle' END AS d1,
       |    CASE WHEN nc * $WCustomer
       |           <= (SELECT est FROM eo) * ($WEvents + $WOrdersCust)
       |         THEN 'customer' ELSE 'intermediate' END AS b2,
       |    CASE WHEN nc * $WCustomer
       |           <= (SELECT est FROM eo) * ($WEvents + $WOrdersCust)
       |         THEN nc ELSE (SELECT est FROM eo) END AS n2,
       |    least(nc * $WCustomer,
       |      (SELECT est FROM eo) * ($WEvents + $WOrdersCust)) AS y2,
       |    CASE WHEN least(nc * $WCustomer,
       |        (SELECT est FROM eo) * ($WEvents + $WOrdersCust))
       |          <= $CatalogBroadcastByteBound
       |         THEN 'broadcast' ELSE 'shuffle' END AS d2
       |  FROM nn),
       |pb AS (SELECT CAST(CASE WHEN d1 = 'broadcast' THEN 1 ELSE 0 END
       |    + CASE WHEN d2 = 'broadcast' THEN 1 ELSE 0 END AS BIGINT) AS nb
       |  FROM dec)
       |SELECT CAST(1 AS BIGINT) AS stage,
       |  'events.user_id x orders.o_custkey' AS join_edge,
       |  b1 AS build_side, n1 AS est_build_rows,
       |  CAST(y1 AS BIGINT) AS est_build_bytes,
       |  (SELECT est FROM eo) AS est_edge_rows, d1 AS decision,
       |  actual_rows, nb AS n_broadcast_in_plan
       |FROM dec, act, pb
       |UNION ALL
       |SELECT CAST(2 AS BIGINT),
       |  'orders.o_custkey x customer.c_custkey',
       |  b2, n2, CAST(y2 AS BIGINT), (SELECT est FROM oc), d2,
       |  actual_rows, nb
       |FROM dec, act, pb
       |ORDER BY stage""".stripMargin
  }

  /** q348's oracle: q346's decision/census math verbatim (the rule must
    * reproduce the hand-planned decisions exactly), tagged by planner. */
  private def rulePlanSql: String =
    s"""SELECT q.*, 'rule' AS planned_by FROM (
       |${catalogPlanSql}
       |) q ORDER BY stage""".stripMargin

  /** q351's oracle — the DEEP-tree twin of [[catalogPlanSql]]: the same
    * catalog sketch math recomputed in DuckDB, three stages, where stage 3's
    * left side is a DEPTH-2 intermediate whose estimate is the base-sketch
    * inner product scaled by the nested join's contraction factor (raw_ol ×
    * est_eo // n_orders — ONE HUGEINT floor-division, exactly the rule's
    * BigInt chain; the factor is scalar so it commutes with the min-depth). */
  private def deepCatalogPlanSql: String = {
    val p = Dedup.P
    val rels = Seq(("evu", "events", "user_id"),
      ("ordc", "orders", "o_custkey"), ("ordo", "orders", "o_orderkey"),
      ("line", "lineitem", "l_orderkey"), ("cust", "customer", "c_custkey"))
    val hctes = rels.map { case (nm, tbl, k) =>
      s"""h_$nm AS MATERIALIZED (SELECT ${h60Sql(s"CAST($k AS VARCHAR)")} % $p AS hs
         |  FROM $tbl)""".stripMargin
    }.mkString(",\n")
    val sctes = rels.map { case (nm, _, _) =>
      s"""c_$nm AS MATERIALIZED (SELECT d,
         |    (((2*d+1)*hs + (7919*d+13)) % $p) % $CmWidth AS c,
         |    count(*) AS cnt FROM h_$nm CROSS JOIN dd GROUP BY 1, 2),
         |n_$nm AS (SELECT count(*) AS n FROM h_$nm)""".stripMargin
    }.mkString(",\n")
    def edgeEst(l: String, r: String) =
      s"""(SELECT CAST(min(ej) AS HUGEINT) FROM (
         |   SELECT a.d, CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT) AS ej
         |   FROM c_$l a JOIN c_$r b ON a.d = b.d AND a.c = b.c
         |   GROUP BY a.d) q)""".stripMargin
    s"""WITH dd AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS d),
       |$hctes,
       |$sctes,
       |eo AS (SELECT ${edgeEst("evu", "ordc")} AS est),
       |ol AS (SELECT ${edgeEst("ordo", "line")} AS est),
       |oc AS (SELECT ${edgeEst("ordc", "cust")} AS est),
       |nn AS (SELECT (SELECT CAST(n AS HUGEINT) FROM n_evu) AS ne,
       |  (SELECT CAST(n AS HUGEINT) FROM n_ordc) AS no,
       |  (SELECT CAST(n AS HUGEINT) FROM n_line) AS nl,
       |  (SELECT CAST(n AS HUGEINT) FROM n_cust) AS nc),
       |d2i AS (SELECT (SELECT est FROM ol) * (SELECT est FROM eo) // no AS est2
       |  FROM nn),
       |act AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
       |  FROM events JOIN orders ON user_id = o_custkey
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN customer ON o_custkey = c_custkey),
       |dec AS (SELECT
       |    CASE WHEN no * $WOrdersBoth <= ne * $WEvents
       |         THEN 'orders' ELSE 'events' END AS b1,
       |    CASE WHEN no * $WOrdersBoth <= ne * $WEvents
       |         THEN no ELSE ne END AS n1,
       |    least(no * $WOrdersBoth, ne * $WEvents) AS y1,
       |    CASE WHEN least(no * $WOrdersBoth, ne * $WEvents)
       |           <= $CatalogBroadcastByteBound
       |         THEN 'broadcast' ELSE 'shuffle' END AS d1,
       |    CASE WHEN nl * $WLineitem
       |           <= (SELECT est FROM eo) * ($WEvents + $WOrdersBoth)
       |         THEN 'lineitem' ELSE 'intermediate' END AS b2,
       |    CASE WHEN nl * $WLineitem
       |           <= (SELECT est FROM eo) * ($WEvents + $WOrdersBoth)
       |         THEN nl ELSE (SELECT est FROM eo) END AS n2,
       |    least(nl * $WLineitem,
       |      (SELECT est FROM eo) * ($WEvents + $WOrdersBoth)) AS y2,
       |    CASE WHEN least(nl * $WLineitem,
       |        (SELECT est FROM eo) * ($WEvents + $WOrdersBoth))
       |          <= $CatalogBroadcastByteBound
       |         THEN 'broadcast' ELSE 'shuffle' END AS d2,
       |    CASE WHEN nc * $WCustomer
       |           <= (SELECT est2 FROM d2i)
       |              * ($WEvents + $WOrdersBoth + $WLineitem)
       |         THEN 'customer' ELSE 'intermediate' END AS b3,
       |    CASE WHEN nc * $WCustomer
       |           <= (SELECT est2 FROM d2i)
       |              * ($WEvents + $WOrdersBoth + $WLineitem)
       |         THEN nc ELSE (SELECT est2 FROM d2i) END AS n3,
       |    least(nc * $WCustomer,
       |      (SELECT est2 FROM d2i)
       |        * ($WEvents + $WOrdersBoth + $WLineitem)) AS y3,
       |    CASE WHEN least(nc * $WCustomer,
       |        (SELECT est2 FROM d2i)
       |          * ($WEvents + $WOrdersBoth + $WLineitem))
       |          <= $CatalogBroadcastByteBound
       |         THEN 'broadcast' ELSE 'shuffle' END AS d3
       |  FROM nn),
       |pb AS (SELECT CAST(CASE WHEN d1 = 'broadcast' THEN 1 ELSE 0 END
       |    + CASE WHEN d2 = 'broadcast' THEN 1 ELSE 0 END
       |    + CASE WHEN d3 = 'broadcast' THEN 1 ELSE 0 END AS BIGINT) AS nb
       |  FROM dec)
       |SELECT CAST(1 AS BIGINT) AS stage,
       |  'events.user_id x orders.o_custkey' AS join_edge,
       |  b1 AS build_side, CAST(n1 AS BIGINT) AS est_build_rows,
       |  CAST(y1 AS BIGINT) AS est_build_bytes,
       |  CAST((SELECT est FROM eo) AS BIGINT) AS est_edge_rows,
       |  d1 AS decision, actual_rows, nb AS n_broadcast_in_plan,
       |  'rule-deep' AS planned_by
       |FROM dec, act, pb
       |UNION ALL
       |SELECT CAST(2 AS BIGINT),
       |  'orders.o_orderkey x lineitem.l_orderkey',
       |  b2, CAST(n2 AS BIGINT), CAST(y2 AS BIGINT),
       |  CAST((SELECT est FROM ol) AS BIGINT), d2,
       |  actual_rows, nb, 'rule-deep'
       |FROM dec, act, pb
       |UNION ALL
       |SELECT CAST(3 AS BIGINT),
       |  'orders.o_custkey x customer.c_custkey',
       |  b3, CAST(n3 AS BIGINT), CAST(y3 AS BIGINT),
       |  CAST((SELECT est FROM oc) AS BIGINT), d3,
       |  actual_rows, nb, 'rule-deep'
       |FROM dec, act, pb
       |ORDER BY stage""".stripMargin
  }

  /** The calibration harness's cataloged join edges: (edge label, left
    * catalog key, right catalog key). The key strings double as loader
    * handles — the query body's keyFrame match resolves each catalog key
    * to its (table, join column) frame. Single source for the Spark plan
    * and [[calibrationSql]]'s row set. */
  private val calibrationEdges: Seq[(String, String, String)] = Seq(
    ("events_customer", "events.user_id", "customer.c_custkey"),
    ("events_orders", "events.user_id", "orders.o_custkey"),
    ("orders_customer", "orders.o_custkey", "customer.c_custkey"),
    ("orders_lineitem", "orders.o_orderkey", "lineitem.l_orderkey"))

  /** q353's oracle: rebuild every sketch in SQL (the q346/q351 fragments),
    * estimate all four cataloged edges, count every edge's TRUE join size,
    * and restate the ppm error + bound-verdict agreement in HUGEINT. */
  private def calibrationSql: String = {
    val p = Dedup.P
    val rels = Seq(("evu", "events", "user_id"),
      ("ordc", "orders", "o_custkey"), ("ordo", "orders", "o_orderkey"),
      ("line", "lineitem", "l_orderkey"), ("cust", "customer", "c_custkey"))
    val hctes = rels.map { case (nm, tbl, k) =>
      s"""h_$nm AS MATERIALIZED (SELECT ${h60Sql(s"CAST($k AS VARCHAR)")} % $p AS hs
         |  FROM $tbl)""".stripMargin
    }.mkString(",\n")
    val sctes = rels.map { case (nm, _, _) =>
      s"""c_$nm AS MATERIALIZED (SELECT d,
         |    (((2*d+1)*hs + (7919*d+13)) % $p) % $CmWidth AS c,
         |    count(*) AS cnt FROM h_$nm CROSS JOIN dd GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    def edgeEst(l: String, r: String) =
      s"""(SELECT CAST(min(ej) AS HUGEINT) FROM (
         |   SELECT a.d, CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT) AS ej
         |   FROM c_$l a JOIN c_$r b ON a.d = b.d AND a.c = b.c
         |   GROUP BY a.d) q)""".stripMargin
    val sqlEdges = Seq(
      ("events_customer", ("evu", "cust"),
        "events JOIN customer ON user_id = c_custkey"),
      ("events_orders", ("evu", "ordc"),
        "events JOIN orders ON user_id = o_custkey"),
      ("orders_customer", ("ordc", "cust"),
        "orders JOIN customer ON o_custkey = c_custkey"),
      ("orders_lineitem", ("ordo", "line"),
        "orders JOIN lineitem ON o_orderkey = l_orderkey"))
    val rows = sqlEdges.map { case (nm, (l, r), join) =>
      s"""SELECT '$nm' AS edge, ${edgeEst(l, r)} AS est,
         |  (SELECT CAST(count(*) AS HUGEINT) FROM $join) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dd AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS d),
       |$hctes,
       |$sctes,
       |u AS ($rows)
       |SELECT edge, CAST(est AS BIGINT) AS est_rows,
       |  CAST(actual AS BIGINT) AS actual_rows,
       |  CASE WHEN actual = 0 THEN NULL
       |       ELSE CAST((1000000 * (est - actual)) // actual AS BIGINT)
       |  END AS err_ppm,
       |  CASE WHEN est * 16 <= $CatalogBroadcastByteBound
       |       THEN 'under_bound' ELSE 'over_bound' END AS est_verdict,
       |  CASE WHEN actual * 16 <= $CatalogBroadcastByteBound
       |       THEN 'under_bound' ELSE 'over_bound' END AS true_verdict,
       |  CAST(CASE WHEN (est * 16 <= $CatalogBroadcastByteBound)
       |                 = (actual * 16 <= $CatalogBroadcastByteBound)
       |       THEN 1 ELSE 0 END AS BIGINT) AS verdict_agrees
       |FROM u ORDER BY edge""".stripMargin
  }

  /** q356's oracle: the max-frequency bound and the chained join-size
    * UPPER bound recomputed from raw tables in HUGEINT — sketches, row
    * maxes, min-over-depths, the least() chain and the never-under bits
    * all inside the gate. Shares every fragment with [[calibrationSql]]. */
  private def upperBoundSql: String = {
    val p = Dedup.P
    val rels = Seq(("evu", "events", "user_id"),
      ("ordc", "orders", "o_custkey"), ("ordo", "orders", "o_orderkey"),
      ("line", "lineitem", "l_orderkey"), ("cust", "customer", "c_custkey"))
    val hctes = rels.map { case (nm, tbl, k) =>
      s"""h_$nm AS MATERIALIZED (SELECT ${h60Sql(s"CAST($k AS VARCHAR)")} % $p AS hs
         |  FROM $tbl)""".stripMargin
    }.mkString(",\n")
    val sctes = rels.map { case (nm, _, _) =>
      s"""c_$nm AS MATERIALIZED (SELECT d,
         |    (((2*d+1)*hs + (7919*d+13)) % $p) % $CmWidth AS c,
         |    count(*) AS cnt FROM h_$nm CROSS JOIN dd GROUP BY 1, 2),
         |n_$nm AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM h_$nm),
         |mf_$nm AS (SELECT CAST(min(mx) AS HUGEINT) AS mf FROM (
         |  SELECT d, max(cnt) AS mx FROM c_$nm GROUP BY d) q)""".stripMargin
    }.mkString(",\n")
    def edgeEst(l: String, r: String) =
      s"""(SELECT CAST(min(ej) AS HUGEINT) FROM (
         |   SELECT a.d, CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT) AS ej
         |   FROM c_$l a JOIN c_$r b ON a.d = b.d AND a.c = b.c
         |   GROUP BY a.d) q)""".stripMargin
    val sqlEdges = Seq(
      ("events_customer", ("evu", "cust"),
        "events JOIN customer ON user_id = c_custkey"),
      ("events_orders", ("evu", "ordc"),
        "events JOIN orders ON user_id = o_custkey"),
      ("orders_customer", ("ordc", "cust"),
        "orders JOIN customer ON o_custkey = c_custkey"),
      ("orders_lineitem", ("ordo", "line"),
        "orders JOIN lineitem ON o_orderkey = l_orderkey"))
    val rows = sqlEdges.map { case (nm, (l, r), join) =>
      s"""SELECT '$nm' AS edge,
         |  (SELECT n FROM n_$l) AS nl, (SELECT n FROM n_$r) AS nr,
         |  (SELECT mf FROM mf_$l) AS mfl, (SELECT mf FROM mf_$r) AS mfr,
         |  ${edgeEst(l, r)} AS est,
         |  least((SELECT n FROM n_$l) * (SELECT mf FROM mf_$r),
         |        (SELECT n FROM n_$r) * (SELECT mf FROM mf_$l)) AS upper,
         |  (SELECT CAST(count(*) AS HUGEINT) FROM $join) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dd AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS d),
       |$hctes,
       |$sctes,
       |u AS ($rows)
       |SELECT edge, CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       |  CAST(mfl AS BIGINT) AS maxf_left, CAST(mfr AS BIGINT) AS maxf_right,
       |  CAST(est AS BIGINT) AS est_rows, CAST(upper AS BIGINT) AS upper_rows,
       |  CAST(actual AS BIGINT) AS actual_rows,
       |  CAST(CASE WHEN est >= actual THEN 1 ELSE 0 END AS BIGINT)
       |    AS est_never_under,
       |  CAST(CASE WHEN upper >= actual THEN 1 ELSE 0 END AS BIGINT)
       |    AS upper_never_under,
       |  CASE WHEN actual = 0 THEN NULL
       |       ELSE CAST((1000000 * (upper - actual)) // actual AS BIGINT)
       |  END AS upper_slack_ppm
       |FROM u ORDER BY edge""".stripMargin
  }

  /** q359's oracle: per-key KMV distinct counts (bottom-256 over the
    * h60-mod-P hash domain — q313's estimator, bit-identical), the CM
    * inner product (q353's fragments), the classic containment estimate
    * n_l·n_r // greatest(d_l, d_r), exact actuals and both signed err
    * ppms, all in HUGEINT with `//` floor division. */
  private def distinctStatsSql: String = {
    val p = Dedup.P
    val eNum = (KmvK - 1).toLong * p
    val rels = Seq(("evu", "events", "user_id"),
      ("ordc", "orders", "o_custkey"), ("ordo", "orders", "o_orderkey"),
      ("line", "lineitem", "l_orderkey"), ("cust", "customer", "c_custkey"))
    val hctes = rels.map { case (nm, tbl, k) =>
      s"""h_$nm AS MATERIALIZED (SELECT ${h60Sql(s"CAST($k AS VARCHAR)")} % $p AS hs
         |  FROM $tbl)""".stripMargin
    }.mkString(",\n")
    val sctes = rels.map { case (nm, _, _) =>
      s"""c_$nm AS MATERIALIZED (SELECT d,
         |    (((2*d+1)*hs + (7919*d+13)) % $p) % $CmWidth AS c,
         |    count(*) AS cnt FROM h_$nm CROSS JOIN dd GROUP BY 1, 2),
         |n_$nm AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM h_$nm),
         |kmv_$nm AS (SELECT count(*) AS k_used, max(hs) AS kth FROM (
         |  SELECT DISTINCT hs FROM h_$nm ORDER BY hs LIMIT $KmvK) q),
         |nd_$nm AS (SELECT CAST(CASE WHEN k_used < $KmvK THEN k_used
         |    ELSE $eNum // kth END AS HUGEINT) AS nd FROM kmv_$nm)""".stripMargin
    }.mkString(",\n")
    def edgeEst(l: String, r: String) =
      s"""(SELECT CAST(min(ej) AS HUGEINT) FROM (
         |   SELECT a.d, CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT) AS ej
         |   FROM c_$l a JOIN c_$r b ON a.d = b.d AND a.c = b.c
         |   GROUP BY a.d) q)""".stripMargin
    val sqlEdges = Seq(
      ("events_customer", ("evu", "cust"),
        "events JOIN customer ON user_id = c_custkey"),
      ("events_orders", ("evu", "ordc"),
        "events JOIN orders ON user_id = o_custkey"),
      ("orders_customer", ("ordc", "cust"),
        "orders JOIN customer ON o_custkey = c_custkey"),
      ("orders_lineitem", ("ordo", "line"),
        "orders JOIN lineitem ON o_orderkey = l_orderkey"))
    val rows = sqlEdges.map { case (nm, (l, r), join) =>
      s"""SELECT '$nm' AS edge,
         |  (SELECT n FROM n_$l) AS nl, (SELECT n FROM n_$r) AS nr,
         |  (SELECT nd FROM nd_$l) AS ndl, (SELECT nd FROM nd_$r) AS ndr,
         |  ${edgeEst(l, r)} AS est_cm,
         |  (SELECT CAST(count(*) AS HUGEINT) FROM $join) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dd AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS d),
       |$hctes,
       |$sctes,
       |u AS ($rows),
       |v AS (SELECT *, (nl * nr) // greatest(ndl, ndr) AS est_cont FROM u)
       |SELECT edge, CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       |  CAST(ndl AS BIGINT) AS nd_left, CAST(ndr AS BIGINT) AS nd_right,
       |  CAST(est_cm AS BIGINT) AS est_cm_rows,
       |  CAST(est_cont AS BIGINT) AS est_cont_rows,
       |  CAST(actual AS BIGINT) AS actual_rows,
       |  CASE WHEN actual = 0 THEN NULL
       |       ELSE CAST((1000000 * (est_cm - actual)) // actual AS BIGINT)
       |  END AS err_cm_ppm,
       |  CASE WHEN actual = 0 THEN NULL
       |       ELSE CAST((1000000 * (est_cont - actual)) // actual AS BIGINT)
       |  END AS err_cont_ppm
       |FROM v ORDER BY edge""".stripMargin
  }

  /** Stage (once per JVM × corpus snapshot) and return the catalog dir:
    * one pass per relation, persisted as a 5-row parquet of
    * (rel, n, 4096-long sketch). */
  private def statsCatalogDir(s: SparkSession, d: String): String = {
    val as = Dedup.hashParams.take(CmDepth).map(_._1).toArray
    val bs = Dedup.hashParams.take(CmDepth).map(_._2).toArray
    val snap = Seq("customer", "events", "lineitem", "orders")
      .map(t => graft.util.Scratch.sourceKey(d, t)).mkString("|")
    statsCatalogDirs.getOrElseUpdate(snap, {
      val dir = graft.util.Scratch.dir("graft-stats-catalog").toString
      statsRels(s, d).map { case (nm, df) =>
        statsHashed(df).agg(
          graft.functions.GraftFunctions
            .countMin(col("hs"), as, bs, Dedup.P, CmWidth).as("sk"),
          count(lit(1)).as("n"))
          .select(lit(nm).as("rel"), col("n"), col("sk"))
      }.reduce(_ unionAll _)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    })
  }

  /** KMV sketch size for the v2 catalog's per-key distinct counts —
    * q308/q313's k, single-sourced with q359's oracle literals. */
  private val KmvK = 256
  private val statsCatalogV2Dirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Catalog v2 (r18 worklist 6a): the SAME five rows as
    * [[statsCatalogDir]] plus per-key DISTINCT-COUNT statistics — KMV
    * bottom-256 over the key's h60-mod-P hash domain (kmv_k_used,
    * kmv_kth surfaced for bit-identity; `nd` = the derived estimate
    * (k−1)·P // kth, exact k_used below saturation). The CM sketch bounds
    * FREQUENCY mass; nd bounds SUPPORT — the pair is what a containment
    * join-size estimate needs and a frequency sketch alone cannot give.
    * [[graft.plans.CatalogJoinHints.distincts]] reads `nd` when present;
    * v1 catalogs stay valid (the column is additive). Staging cost: one
    * extra distinct-shuffle + 2k-long bottom-k per relation, same memo
    * discipline as v1. */
  private def statsCatalogV2Dir(s: SparkSession, d: String): String = {
    val as = Dedup.hashParams.take(CmDepth).map(_._1).toArray
    val bs = Dedup.hashParams.take(CmDepth).map(_._2).toArray
    val snap = Seq("customer", "events", "lineitem", "orders")
      .map(t => graft.util.Scratch.sourceKey(d, t)).mkString("|")
    statsCatalogV2Dirs.getOrElseUpdate(snap, {
      val dir = graft.util.Scratch.dir("graft-stats-catalog-v2").toString
      val eNum = (KmvK - 1).toLong * Dedup.P
      statsRels(s, d).map { case (nm, df) =>
        val h = statsHashed(df)
        val base = h.agg(
          graft.functions.GraftFunctions
            .countMin(col("hs"), as, bs, Dedup.P, CmWidth).as("sk"),
          count(lit(1)).as("n"))
        val kmv = h.select(col("hs")).distinct()
          .agg(graft.functions.GraftFunctions
            .topKAgg(-col("hs"), col("hs"), KmvK).as("mins"))
          .select(explode(col("mins")).as("m"))
          .select(col("m.payload").as("hs"))
          .agg(count(lit(1)).as("kmv_k_used"), max(col("hs")).as("kmv_kth"))
        base.crossJoin(kmv).select(lit(nm).as("rel"), col("n"), col("sk"),
          col("kmv_k_used"), col("kmv_kth"),
          when(col("kmv_k_used") < KmvK, col("kmv_k_used"))
            .otherwise(expr(s"${eNum}L div kmv_kth")).as("nd"))
      }.reduce(_ unionAll _)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    })
  }

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q264_lang_vocab_overlap",
      "Cross-language vocabulary overlap — the corpus-comparability matrix (shared loanwords/numerals across language shards, a contamination smell when it spikes): per language the top-50 tokens by frequency (ties broken by token for determinism), then every language PAIR's intersection via a token-keyed equi-join over the 250-row vocab frame (never a pairwise array cross product) and exact Jaccard in ppm. The per-lang top-k is a WindowGroupLimit over an already-aggregated (lang, token) census — bounded by vocabulary, not corpus.",
      """WITH tok AS (SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT lang, token FROM (
        |    SELECT lang, token,
        |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn
        |    FROM cnt) WHERE rn <= 50),
        |pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS common
        |  FROM top a JOIN top b ON a.token = b.token AND a.lang < b.lang
        |  GROUP BY 1, 2),
        |sz AS (SELECT lang, count(*) AS sz FROM top GROUP BY lang)
        |SELECT lang_a, lang_b, common,
        |  common * 1000000 // (sa.sz + sb.sz - common) AS jaccard_ppm
        |FROM pairs JOIN sz sa ON sa.lang = pairs.lang_a
        |JOIN sz sb ON sb.lang = pairs.lang_b
        |ORDER BY lang_a, lang_b""".stripMargin) { (s, d) =>
      val cnt = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("c"))
      import org.apache.spark.sql.expressions.Window
      val top = cnt
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("c").desc, col("token"))))
        .filter(col("rn") <= 50)
        .select(col("lang"), col("token"))
      val a = top.select(col("lang").as("lang_a"), col("token"))
      val b = top.select(col("lang").as("lang_b"), col("token").as("token_b"))
      // Jaccard denominator from the ACTUAL per-language top-k sizes, not a
      // hardcoded 100: a language shard with under 50 distinct tokens would
      // silently mislabel the metric (both engines agreed on the wrong
      // number, so only the formula itself can be right — ADVICE r9)
      val sz = top.groupBy(col("lang")).agg(count(lit(1)).as("sz"))
      a.join(b, col("token") === col("token_b") && col("lang_a") < col("lang_b"))
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("common"))
        .join(broadcast(sz.select(col("lang").as("lang_a"), col("sz").as("sza"))), "lang_a")
        .join(broadcast(sz.select(col("lang").as("lang_b"), col("sz").as("szb"))), "lang_b")
        .withColumn("jaccard_ppm", expr("common * 1000000 div (sza + szb - common)"))
        .select(col("lang_a"), col("lang_b"), col("common"), col("jaccard_ppm"))
        .orderBy(col("lang_a"), col("lang_b"))
    },

    GraftQuery(
      "q263_url_canonicalization",
      "URL canonicalization — the dedup-key normalization every web-corpus pipeline runs before exact dedup (CommonCrawl-style): mixed-case scheme/host lowered, default :443 port stripped, fragment dropped, utm_* tracking params removed, surviving query params SORTED — so the same resource under cosmetic variants (param order flipped by row parity, a unique utm_ tag per row) collapses to one canonical key. The Spark side does the real string surgery (regexp part extraction, filter/array_sort/array_join over the param list); the oracle constructs the expected canonical form analytically. Census: raw distinct stays per-row, canonical collapses ~n -> 50.",
      """WITH u AS (SELECT o_orderpriority AS prio, o_orderkey AS k,
        |    'https://shop.example.com/p/' || (o_orderkey % 50) || '?a=2&b=1' AS canon
        |  FROM orders)
        |SELECT prio, count(*) AS n,
        |  count(DISTINCT k) AS n_raw,
        |  count(DISTINCT canon) AS n_canon,
        |  min(canon) AS min_canon
        |FROM u GROUP BY prio ORDER BY prio""".stripMargin) { (s, d) =>
      val raw = expr(
        """concat('HTTPS://Shop.Example.COM:443/p/', o_orderkey % 50,
          |  CASE WHEN o_orderkey % 2 = 0 THEN '?b=1&a=2' ELSE '?a=2&b=1' END,
          |  '&utm_s=', o_orderkey, '#frag')""".stripMargin)
      // the regex surgery below is ~30µs/row — spread it off the one-row-
      // group scan (guide §2.5; measured 4.2 s in one task on the sf0.1
      // board, ~0.4 s spread)
      graft.util.Sizing.spreadKernel(
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey")),
        graft.util.Sizing.parquetRowCount(d, "orders"), perTask = 200000L)
        .select(col("o_orderpriority").as("prio"), col("o_orderkey").as("k"),
          raw.as("url"))
        .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("proto", lower(regexp_extract(col("nofrag"), "^([A-Za-z]+)://", 1)))
        .withColumn("host",
          regexp_replace(lower(regexp_extract(col("nofrag"), "://([^/]+)", 1)), ":443$", ""))
        .withColumn("path", regexp_extract(col("nofrag"), "://[^/]+(/[^?]*)", 1))
        .withColumn("query", regexp_extract(col("nofrag"), "\\?(.*)$", 1))
        .withColumn("canon_q", expr(
          "array_join(array_sort(filter(split(query, '&'), p -> NOT startswith(p, 'utm_'))), '&')"))
        .withColumn("canon", concat(col("proto"), lit("://"), col("host"), col("path"),
          when(col("canon_q") =!= "", concat(lit("?"), col("canon_q"))).otherwise(lit(""))))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("url")).as("n_raw"),
          countDistinct(col("canon")).as("n_canon"),
          min(col("canon")).as("min_canon"))
        .orderBy(col("prio"))
    },

    GraftQuery(
      "q129_vocab_coverage",
      "Tokenizer vocabulary coverage: learn a 256-entry vocabulary (top tokens by corpus frequency, lexicographic tie-break) and measure per-language out-of-vocabulary rates as exact integer ppm. The vocab is an explicitly broadcast 256-row frame — the membership probe is a map-side hash lookup at any corpus size, never a shuffle of the token stream; the OOV census is the go/no-go check before committing a tokenizer to a 100 TB pretraining run.",
      """WITH t AS (SELECT lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT lang, unnest(toks) AS tok FROM t),
        |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tok
        |                       GROUP BY tok ORDER BY c DESC, tok LIMIT 256)),
        |j AS (SELECT tok.lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM tok LEFT JOIN v ON tok.tok = v.tok)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  (CAST(sum(oov) AS BIGINT) * 1000000) // count(*) AS oov_ppm
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      // top-k by (freq desc, token asc): a total order, so the learned
      // vocabulary is deterministic even at the frequency boundary
      val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(256)
        .select(col("tok"), lit(1).as("iv"))
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .selectExpr("lang", "n_tokens", "n_oov",
          "(n_oov * 1000000) div n_tokens AS oov_ppm")
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q121_bpe_merge_counts",
      "BPE vocabulary induction, round one: corpus words reduced to (word, freq) — the compression that makes BPE training tractable at 100 TB, since pair statistics then cost vocab-sized work, not corpus-sized — and every adjacent character pair counted weighted by word frequency. The top pair is the first merge a byte-pair-encoding tokenizer would learn; ties break lexicographically so the ranking is total. Two token-keyed aggregates, no text shuffle after the first.",
      """WITH t AS (SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |           FROM documents),
        |wf AS (SELECT w, count(*) AS f
        |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |p AS (SELECT f, unnest(list_transform(generate_series(1, len(w)-1),
        |        i -> w[i:i+1])) AS pair
        |      FROM wf WHERE len(w) >= 2)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
      // corpus -> (word, freq): the word table is the working set from here
      val wf = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // adjacent char pairs per word, weighted by word frequency; length
      // guard because sequence(1, 0) would generate DESCENDING
      wf.filter(length(col("w")) >= 2)
        .select(col("f"),
          explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
        .orderBy(desc("n"), col("pair")).limit(50)
    },

    GraftQuery(
      "q119_inverted_index",
      "Inverted-index build (the IR/index workload): token -> sorted posting list of containing docs, document frequency, and first/last posting. One explode + one token-keyed aggregate with map-side partials; posting lists are pinned by md5 of the sorted list rather than emitted raw, so the oracle hash stays scalar. At 100 TB this is the shape of search-index and TF-IDF-vocabulary builds: shuffle keys are tokens, values are doc ids — the text never moves, and a hot token (stopword) costs one reducer, which the q98 salting pattern absorbs if needed.",
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |post AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t)
        |SELECT tok, count(*) AS df,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM post GROUP BY tok ORDER BY tok""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("df"),
          md5(concat_ws(",",
            transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))))
            .as("postings_md5"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("tok"))
    },

    GraftQuery(
      "q150_phrase_search",
      "Index-backed phrase query over the positional inverted index (q119's shape plus token positions): the phrase \"table hash\" resolves to the two terms' posting lists, intersected on doc and checked for POSITION ADJACENCY (p2 = p1 + 1) — the classic phrase-AND plan. Only the query terms' postings ever move (the token filter prunes the exploded stream immediately); at 100 TB the index is a token-bucketed table and a phrase costs two key lookups + a posting merge, never a corpus scan.",
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, i - 1 AS pos
        |      FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |      WHERE toks[i] = 'table' AND toks[i+1] = 'hash')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val phrase = Seq("table", "hash")
      val posts = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .filter(col("tok").isin(phrase: _*)) // only query-term postings survive
      val t1 = posts.filter(col("tok") === phrase(0))
        .select(col("doc_id"), col("pos"))
      val t2 = posts.filter(col("tok") === phrase(1))
        .select(col("doc_id").as("d2"), col("pos").as("p2"))
      t1.join(t2, col("doc_id") === col("d2") && col("p2") === col("pos") + 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          min(col("pos")).cast("long").as("first_pos"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q167_tfidf_retrieval",
      "Ranked retrieval for the multi-term query {table, hash, vector}: per matching doc, score = Σ tf·idf_ppm over the query terms, with idf_ppm = 1e6·(N − df)/N from exact integer counts (the log-free idf variant that stays engine-exact). Only the three query terms' postings participate (the term filter prunes the token stream immediately — the q150 doctrine); top-15 docs by a total (score, id) order.",
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |q AS (SELECT tok, count(*) AS tf, doc_id
        |      FROM tok WHERE tok IN ('table', 'hash', 'vector')
        |      GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT q.doc_id,
        |        CAST(sum(q.tf * ((1000000 * (n.n - df.df)) // n.n)) AS BIGINT) AS score
        |      FROM q JOIN df ON q.tok = df.tok CROSS JOIN n
        |      GROUP BY q.doc_id)
        |SELECT doc_id, score FROM s
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
      val terms = Seq("table", "hash", "vector")
      val q = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(col("tok").isin(terms: _*)) // only query-term postings move
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = q.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      q.join(broadcast(df), "tok").crossJoin(broadcast(n))
        .selectExpr("doc_id", "tf * ((1000000 * (n - df)) div n) AS term_score")
        .groupBy(col("doc_id"))
        .agg(sum(col("term_score")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    },

    GraftQuery(
      "q174_winnowing",
      "Robust winnowing (Schleimer-Wilkerson-Aiken, the MOSS fingerprinter): char 5-gram 32-bit hashes per normalized doc, and from every window of 4 consecutive gram hashes the minimum survives (rightmost position on ties — encoded arithmetically as h·2^21 + (2^20 − pos), so ONE integer window-min implements the whole selection rule, no argmin struct comparator). Guarantees any match ≥ 8 chars shares a fingerprint while keeping ~2/(w+1) of the grams — the principled sampling upgrade over full-gram fingerprint sets (q48). Per-doc windows are partition-local: embarrassingly parallel at 100 TB. Output: per doc, gram count, selected-fingerprint count, and the exact fingerprint-hash checksum (pins the full selection).",
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, p,
        |    CAST(('0x' || substr(md5(substr(t, p, 5)), 1, 8)) AS BIGINT) AS h
        |  FROM d, unnest(generate_series(1, len(t) - 4)) AS u(p)
        |  WHERE len(t) >= 8),
        |win AS (SELECT doc_id, p,
        |    min(h * 2097152 + (1048576 - p)) OVER (PARTITION BY doc_id
        |      ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM g),
        |sel AS (SELECT DISTINCT doc_id, m, mk FROM win WHERE p <= m - 3)
        |SELECT doc_id, CAST(max(m) AS BIGINT) AS n_grams,
        |  count(*) AS n_fps, CAST(sum(mk // 2097152) AS BIGINT) AS fp_checksum
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // ONE codegen kernel pass per doc (org.apache.spark.sql.graft
      // .WinnowStats): no L-row gram explode, no per-doc window shuffle —
      // the oracle above keeps the explode→window-min formulation as the
      // independent recomputation (KernelSpec differential-tests the twin).
      // The kernel rolls an md5 mix over every char position, so its input
      // is spread off the one-row-group scan and the 4-longs-per-doc result
      // is persisted for its one action — the orderBy's range sampler
      // otherwise runs the whole kernel twice (guide §1.4/§2.5)
      graft.util.CacheOnce.persistForOneAction(
        graft.util.Sizing.spreadKernel(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            graft.util.Sizing.parquetRowCount(d, "documents"), perTask = 2000L)
          .select(col("doc_id"),
            graft.functions.GraftFunctions.winnowStats(
              regexp_replace(trim(lower(col("text"))), "\\s+", " "), 5, 4).as("ws"))
          .filter(col("ws").isNotNull)
          .select(col("doc_id"), col("ws.n_grams").as("n_grams"),
            col("ws.n_fps").as("n_fps"), col("ws.fp_checksum").as("fp_checksum")))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q185_sparse_simjoin",
      "Sparse TF-IDF document-similarity join through the inverted index — the text-similarity-at-scale shape: per-term postings (doc, term, weight = tf·idf_ppm with the q167 log-free integer idf), HEAD TERMS CAPPED (df > 40 postings are dropped — the explicit frequent-term cut every posting-join system applies, since a term in half the corpus contributes O(n²) pairs and ~zero discrimination; the cap is part of the operator spec, not an approximation smuggled in), pairs meet ONLY on shared surviving terms (posting self-join on the term key — never a doc×doc cross product), dot = Σ w_a·w_b per pair. Top-20 pairs by exact integer dot with a total (dot, a, b) order.",
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT tf.doc_id, tf.tok,
        |    tf.tf * ((1000000 * (n.n - df.df)) // n.n) AS wt
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |  WHERE df.df <= 40),
        |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
        |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, dot FROM pairs
        |ORDER BY dot DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val w = tf.join(df.filter(col("df") <= 40), "tok")
        .crossJoin(broadcast(n))
        .selectExpr("doc_id", "tok", "tf * ((1000000 * (n - df)) div n) AS wt")
      val a = w.select(col("tok"), col("doc_id").as("a"), col("wt").as("wa"))
      val b = w.select(col("tok").as("tok_b"), col("doc_id").as("b"),
        col("wt").as("wb"))
      a.join(b, col("tok") === col("tok_b") && col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("wa") * col("wb")).as("dot"))
        .orderBy(col("dot").desc, col("a"), col("b"))
        .limit(20)
    },

    GraftQuery(
      "q189_winnow_dedup",
      "Near-duplicate discovery through WINNOWING fingerprints — the MOSS pipeline end-to-end, two-tier by doctrine: the native winnow_fps kernel emits each doc's sorted distinct selected hashes (one codegen pass, ~2/(w+1) of the grams), candidates meet in fingerprint buckets with a df ≤ 20 boilerplate cut and ≥ 2 shared fingerprints (explicit spec, not hidden approximation), and survivors verify EXACTLY over the FULL uncapped fingerprint sets via the SortedIntersectCount merge-walk kernel — fingerprint-set Jaccard in integer ppm. Top-20 pairs by (jaccard, a, b) total order. The discovery tier shuffles fingerprints, never text.",
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, p,
        |    CAST(('0x' || substr(md5(substr(t, p, 5)), 1, 8)) AS BIGINT) AS h
        |  FROM d, unnest(generate_series(1, len(t) - 4)) AS u(p)
        |  WHERE len(t) >= 8),
        |win AS (SELECT doc_id, p,
        |    min(h * 2097152 + (1048576 - p)) OVER (PARTITION BY doc_id
        |      ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM g),
        |sel AS (SELECT DISTINCT doc_id, mk // 2097152 AS fp
        |        FROM win WHERE p <= m - 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sel GROUP BY doc_id),
        |dfc AS (SELECT fp, count(*) AS df FROM sel GROUP BY fp),
        |cand AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  JOIN dfc ON a.fp = dfc.fp
        |  WHERE dfc.df <= 20
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ver AS (SELECT c.a, c.b, count(*) AS inter
        |  FROM cand c JOIN sel x ON x.doc_id = c.a
        |  JOIN sel y ON y.doc_id = c.b AND y.fp = x.fp
        |  GROUP BY 1, 2)
        |SELECT v.a, v.b, CAST(v.inter AS BIGINT) AS shared_fps,
        |  CAST(v.inter * 1000000 // (sa.sz + sb.sz - v.inter) AS BIGINT) AS jaccard_ppm
        |FROM ver v JOIN sz sa ON v.a = sa.doc_id JOIN sz sb ON v.b = sb.doc_id
        |ORDER BY jaccard_ppm DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.winnowFps(
            regexp_replace(trim(lower(col("text"))), "\\s+", " "), 5, 4).as("fps"))
        .filter(col("fps").isNotNull)
      val docsP = graft.util.CacheOnce.persistForOneAction(docs)
      val sel = docsP.select(col("doc_id"), explode(col("fps")).as("fp"))
      val dfc = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      val capped = sel.join(dfc.filter(col("df") <= 20), "fp")
      val cand = capped.select(col("fp"), col("doc_id").as("a"))
        .join(capped.select(col("fp").as("fp_b"), col("doc_id").as("b")),
          col("fp") === col("fp_b") && col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared_capped"))
        .filter(col("n_shared_capped") >= 2)
      // exact tier: FULL uncapped sets, merge-walk intersection kernel
      val fa = docsP.select(col("doc_id").as("a"), col("fps").as("fps_a"))
      val fb = docsP.select(col("doc_id").as("b"), col("fps").as("fps_b"))
      cand.join(fa, "a").join(fb, "b")
        .select(col("a"), col("b"),
          graft.functions.GraftFunctions
            .sortedIntersectCount(col("fps_a"), col("fps_b")).as("inter"),
          (size(col("fps_a")) + size(col("fps_b"))).cast("long").as("szsum"))
        .selectExpr("a", "b", "inter AS shared_fps",
          "inter * 1000000 div (szsum - inter) AS jaccard_ppm")
        .orderBy(col("jaccard_ppm").desc, col("a"), col("b"))
        .limit(20)
    },

    GraftQuery(
      "q200_corpus_datasheet",
      "The corpus DATASHEET — the one-page per-language report a training-data release ships with (Datasheets-for-Datasets distilled to engine facts): doc and char volume, exact token totals, quality-pass counts (≥ 20 tokens AND ≥ 25% distinct-token ratio — the length + repetition screens, integer cross-multiplied), exact-duplicate census via md5 groups, and the duplication rate in ppm. ONE scan computes every per-doc fact (tokens, distinct tokens, content hash) before a single small per-language aggregate; the capstone that composes the q45-q48 text stack into the artifact a data consumer actually reads.",
      """WITH d AS (SELECT lang, n_chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks,
        |    len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> ''))) AS utoks,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
        |  FROM documents),
        |u AS (SELECT lang, count(DISTINCT h) AS n_unique FROM d GROUP BY lang),
        |a AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(toks) AS BIGINT) AS total_tokens,
        |    count(*) FILTER (WHERE toks >= 20 AND utoks * 4 >= toks) AS n_quality
        |  FROM d GROUP BY lang)
        |SELECT a.lang, a.n_docs, a.total_chars, a.total_tokens,
        |  a.n_quality, CAST(u.n_unique AS BIGINT) AS n_unique,
        |  CAST((a.n_docs - u.n_unique) * 1000000 // a.n_docs AS BIGINT) AS dup_ppm
        |FROM a JOIN u ON a.lang = u.lang ORDER BY a.lang""".stripMargin) { (s, d) =>
      val doc = Tables.documents(s, d).select(col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("toks"),
        size(array_distinct(tokens(col("text")))).cast("long").as("utoks"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("h"))
      val docP = graft.util.CacheOnce.persistForOneAction(doc)
      val u = docP.groupBy(col("lang"))
        .agg(countDistinct(col("h")).as("n_unique"))
      docP.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          sum(col("toks")).as("total_tokens"),
          count(when(col("toks") >= 20 &&
            col("utoks") * 4 >= col("toks"), 1)).as("n_quality"))
        .join(u, "lang")
        .selectExpr("lang", "n_docs", "total_chars", "total_tokens",
          "n_quality", "n_unique",
          "(n_docs - n_unique) * 1000000 div n_docs AS dup_ppm")
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q165_span_corruption",
      "T5-style span-corruption sample generation: every 7th 3-token span is masked (deterministic positions — reproducible across engines and runs, unlike RNG corruption), the input keeps unmasked text with one <extra_id_k> sentinel per masked span, the target is the sentinel-delimited masked spans — the (input, target) pair layout of denoising pretraining. Embarrassingly parallel per doc; both rendered strings verified byte-for-byte via md5.",
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
        |        (i - 1) // 3 AS span_id
        |      FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)),
        |m AS (SELECT doc_id, pos, tok, span_id,
        |        span_id % 7 = 3 AS masked,
        |        '<extra_id_' || CAST(span_id // 7 AS VARCHAR) || '>' AS sentinel
        |      FROM r),
        |inp AS (SELECT doc_id,
        |    string_agg(CASE WHEN NOT masked THEN tok
        |                    WHEN pos % 3 = 0 THEN sentinel END, ' ' ORDER BY pos) AS s
        |  FROM m GROUP BY doc_id),
        |tgt AS (SELECT doc_id,
        |    coalesce(string_agg(v, ' ' ORDER BY k), '') AS s
        |  FROM (SELECT doc_id, 2 * pos + u.j AS k,
        |          CASE WHEN u.j = 0 AND pos % 3 = 0 THEN sentinel
        |               WHEN u.j = 1 THEN tok END AS v
        |        FROM m, LATERAL unnest([0, 1]) AS u(j)
        |        WHERE masked)
        |  WHERE v IS NOT NULL GROUP BY doc_id),
        |ns AS (SELECT doc_id, count(DISTINCT CASE WHEN masked THEN span_id END) AS n_spans
        |       FROM m GROUP BY doc_id)
        |SELECT inp.doc_id, CAST(ns.n_spans AS BIGINT) AS n_spans,
        |  md5(inp.s) AS input_md5, md5(coalesce(tgt.s, '')) AS target_md5
        |FROM inp LEFT JOIN tgt ON inp.doc_id = tgt.doc_id
        |JOIN ns ON inp.doc_id = ns.doc_id
        |ORDER BY inp.doc_id""".stripMargin) { (s, d) =>
      val m = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .selectExpr("doc_id", "pos", "tok", "pos div 3 AS span_id")
        .withColumn("masked", col("span_id") % 7 === 3)
        .withColumn("sentinel",
          concat(lit("<extra_id_"), expr("span_id div 7"), lit(">")))
      def assemble(df: org.apache.spark.sql.DataFrame, key: String,
                   v: String): org.apache.spark.sql.DataFrame =
        df.groupBy(col("doc_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col(key).as("k"), col(v).as("v")))),
            x => x("v")), " ").as("s"))
      val inp = assemble(
        m.filter(!col("masked") || col("pos") % 3 === 0)
          .select(col("doc_id"), col("pos"),
            when(col("masked"), col("sentinel")).otherwise(col("tok")).as("v")),
        "pos", "v")
      val tgt = assemble(
        m.filter(col("masked"))
          .select(col("doc_id"), explode(array(
            struct((col("pos") * 2).as("k"),
              when(col("pos") % 3 === 0, col("sentinel")).as("v")),
            struct((col("pos") * 2 + 1).as("k"), col("tok").as("v")))).as("x"))
          .select(col("doc_id"), col("x.k").as("k"), col("x.v").as("v"))
          .filter(col("v").isNotNull),
        "k", "v")
      val ns = m.groupBy(col("doc_id"))
        .agg(countDistinct(when(col("masked"), col("span_id"))).as("n_spans"))
      inp.select(col("doc_id"), md5(col("s")).as("input_md5"))
        .join(tgt.select(col("doc_id"), md5(col("s")).as("target_md5")), Seq("doc_id"), "left")
        .join(ns, "doc_id")
        .select(col("doc_id"), col("n_spans"),
          col("input_md5"),
          // md5("") — the empty-target case (docs too short to mask)
          coalesce(col("target_md5"),
            lit("d41d8cd98f00b204e9800998ecf8427e")).as("target_md5"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q166_bigram_lm",
      "Bigram language-model training counts: adjacent token pairs counted corpus-wide, with the conditional P(w2|w1) as exact ppm against the first-token marginal — the n-gram LM estimation pass (the text twin of q135's event-type Markov matrix). Pair counting is one token-keyed aggregate; the marginal normalization window runs over the bigram VOCABULARY, not the corpus. Top-50 by a total order.",
      """WITH t AS (SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |           FROM documents),
        |b AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        |      FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |c AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2)
        |SELECT w1, w2, CAST(n AS BIGINT) AS n,
        |  (CAST(n AS BIGINT) * 1000000) // CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS p_ppm
        |FROM c ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val c = Tables.documents(s, d)
        .select(explode(shingles(tokens(col("text")), 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      val wv = Window.partitionBy(col("w1"))
      c.select(col("w1"), col("w2"), col("n"), sum(col("n")).over(wv).as("tot"))
        .selectExpr("w1", "w2", "n", "(n * 1000000) div tot AS p_ppm")
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(50)
    },

    GraftQuery(
      "q163_chisq_independence",
      "Chi-square independence census for the (lang × source) contingency table, exact-integer: per cell the scaled statistic ((o·N − r·c)² scaled by two-step floor division against r·c·N) — the association test behind corpus-balance checks, with no float until nothing (every division is a floored integer step mirrored by the oracle). Cells plus marginals come from ONE aggregate each; the table is |langs|×|sources|, never corpus-sized.",
      """WITH cell AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rn FROM cell GROUP BY lang),
        |c AS (SELECT source, CAST(sum(o) AS BIGINT) AS cn FROM cell GROUP BY source),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell)
        |SELECT cell.lang, cell.source, CAST(cell.o AS BIGINT) AS observed,
        |  (r.rn * c.cn) // t.n AS expected_floor,
        |  ((cell.o * t.n - r.rn * c.cn) * (cell.o * t.n - r.rn * c.cn))
        |    // (r.rn * c.cn) // t.n AS chi2_term_scaled
        |FROM cell JOIN r ON cell.lang = r.lang
        |JOIN c ON cell.source = c.source CROSS JOIN t
        |ORDER BY cell.lang, cell.source""".stripMargin) { (s, d) =>
      val cell = Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val r = cell.groupBy(col("lang")).agg(sum(col("o")).as("rn"))
      val c = cell.groupBy(col("source")).agg(sum(col("o")).as("cn"))
      val t = cell.agg(sum(col("o")).as("n"))
      cell.join(r, "lang").join(c, "source").crossJoin(broadcast(t))
        .selectExpr("lang", "source", "o AS observed",
          "(rn * cn) div n AS expected_floor",
          "((o * n - rn * cn) * (o * n - rn * cn)) div (rn * cn) div n AS chi2_term_scaled")
        .orderBy(col("lang"), col("source"))
    },

    GraftQuery(
      "q45_language_id",
      "Language-ID by stopword-profile scoring: per doc, count profile hits per language, argmax with total tie-break (score desc, lang asc); output the actual-vs-predicted confusion matrix.",
      {
        val scoreRows = profiles.map { case (lang, words) =>
          val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"SELECT doc_id, '$lang' AS pred, len(list_filter(toks, t -> list_contains($arr, t))) AS score FROM t"
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT doc_id,
           |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
           |  FROM documents),
           |s AS (
           |  $scoreRows),
           |r AS (SELECT doc_id, pred, score,
           |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pred) AS rk
           |      FROM s)
           |SELECT d.lang AS actual, r.pred AS predicted, count(*) AS n_docs
           |FROM r JOIN documents d USING (doc_id)
           |WHERE r.rk = 1
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      // one scan: all 5 profile scores in a single projection, then stacked
      // (the oracle's UNION ALL re-reads; Spark shouldn't)
      val scoreCols = profiles.map { case (lang, words) =>
        struct(lit(lang).as("pred"),
          graft.functions.GraftFunctions.profileHits(col("toks"), words).as("score"))
      }
      val scored = docs
        .select(col("doc_id"), col("lang"), explode(array(scoreCols: _*)).as("s"))
        .select(col("doc_id"), col("lang"),
          col("s.pred").as("pred"), col("s.score").as("score"))
      // argmax as min(struct(-score, pred)): same total order as the
      // oracle's row_number (score DESC, pred ASC), but a plain aggregate —
      // map-side partial aggregation instead of a per-doc window sort.
      scored.groupBy(col("doc_id"), col("lang"))
        .agg(min(struct((-col("score")).as("ns"), col("pred").as("pred"))).as("m"))
        .groupBy(col("lang").as("actual"), col("m.pred").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("actual"), col("predicted"))
    },

    GraftQuery(
      "q46_quality_score",
      "Document quality scoring: exact char/token counts, mean token length and stopword ratio in ppm, and a 3-bucket quality label from threshold rules — the length/punct/stopword heuristics of a pretraining-data filter.",
      {
        val arr = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, text,
           |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
           |  FROM documents),
           |m AS (SELECT doc_id,
           |        CAST(len(text) AS BIGINT) AS n_chars,
           |        CAST(len(toks) AS BIGINT) AS n_tokens,
           |        CAST(len(list_filter(toks, t -> list_contains($arr, t))) AS BIGINT) AS n_stop
           |      FROM t)
           |SELECT doc_id, n_chars, n_tokens,
           |  CAST(floor(1000000.0 * (n_chars - n_tokens + 1) / n_tokens) AS BIGINT) AS mean_tok_len_ppm,
           |  CAST(floor(1000000.0 * n_stop / n_tokens) AS BIGINT) AS stop_ratio_ppm,
           |  CASE WHEN n_tokens < 20 THEN 'short'
           |       WHEN n_stop * 5 >= n_tokens THEN 'stopword_heavy'
           |       ELSE 'ok' END AS quality
           |FROM m WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      val m = t.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.GraftFunctions.profileHits(col("toks"), stopwords)
          .cast("long").as("n_stop"))
      m.filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          floor(lit(1000000.0) * (col("n_chars") - col("n_tokens") + 1) / col("n_tokens"))
            .cast("long").as("mean_tok_len_ppm"),
          floor(lit(1000000.0) * col("n_stop") / col("n_tokens"))
            .cast("long").as("stop_ratio_ppm"),
          when(col("n_tokens") < 20, "short")
            .when(col("n_stop") * 5 >= col("n_tokens"), "stopword_heavy")
            .otherwise("ok").as("quality"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q47_token_stats",
      "Per-source token statistics with two tokenizers: whitespace tokens and a BPE-ish regex (letter runs | digit runs | single symbol); exact counts plus type-token ratio in ppm.",
      s"""WITH t AS (SELECT doc_id, source,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws,
         |  regexp_extract_all(text, '$bpeRegex') AS bpe
         |  FROM documents)
         |SELECT source,
         |  CAST(sum(len(ws)) AS BIGINT) AS ws_tokens,
         |  CAST(sum(len(bpe)) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(len(list_distinct(ws))) AS BIGINT) AS ws_types,
         |  CAST(floor(1000000.0 * sum(len(list_distinct(ws))) / sum(len(ws))) AS BIGINT) AS ttr_ppm
         |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        tokens(col("text")).as("ws"),
        regexp_extract_all(col("text"), lit(bpeRegex), lit(0)).as("bpe"))
      t.groupBy(col("source"))
        .agg(sum(size(col("ws"))).as("ws_tokens"),
          sum(size(col("bpe"))).as("bpe_tokens"),
          sum(size(array_distinct(col("ws")))).as("ws_types"))
        .select(col("source"), col("ws_tokens"), col("bpe_tokens"), col("ws_types"),
          floor(lit(1000000.0) * col("ws_types") / col("ws_tokens"))
            .cast("long").as("ttr_ppm"))
        .orderBy(col("source"))
    },

    GraftQuery(
      "q80_pipeline_end2end",
      "The full training-data pipeline as one declarative plan: clean (fused kernel) -> quality filter (>= 10 tokens) -> exact dedup on the cleaned content key (min doc_id canonical) -> deterministic 50% hash sample -> per-language corpus stats. Every stage is an operator proven on its own; chained, Catalyst still plans it as two shuffles (dedup + final agg).",
      """WITH c AS (SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |         ' +', ' ', 'g')) AS cleaned
        |  FROM documents),
        |q AS (SELECT doc_id, lang, cleaned,
        |    len(list_filter(regexp_split_to_array(cleaned, ' '), x -> x <> '')) AS n_tokens
        |  FROM c
        |  WHERE len(list_filter(regexp_split_to_array(cleaned, ' '), x -> x <> '')) >= 10),
        |d AS (SELECT min(doc_id) AS doc_id, min(lang) AS lang,
        |    min(n_tokens) AS n_tokens, md5(cleaned) AS ck
        |  FROM q GROUP BY md5(cleaned)),
        |s AS (SELECT * FROM d
        |  WHERE CAST(('0x' || substr(md5(ck), 1, 15)) AS BIGINT) % 2 = 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      import graft.functions.CrossHash.h60
      val cleaned = graft.functions.GraftFunctions.asciiClean(lower(col("text")))
      val q = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), cleaned.as("cleaned"))
        .withColumn("n_tokens", size(tokens(col("cleaned"))))
        .filter(col("n_tokens") >= 10)
      val dedup = q.groupBy(md5(col("cleaned")).as("ck"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
          min(col("n_tokens")).as("n_tokens"))
      dedup
        .filter(pmod(h60(col("ck")), lit(2)) === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q74_text_cleaning",
      "Pretraining-style cleaning pass: lowercase, strip non-alphanumerics, collapse whitespace, drop docs that end up under 10 tokens; emits per-doc cleaned stats plus a stable md5 of the cleaned text (the cache key of a cleaning stage).",
      """WITH c AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |         ' +', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(cleaned) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(regexp_split_to_array(cleaned, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  md5(cleaned) AS content_key
        |FROM c
        |WHERE len(list_filter(regexp_split_to_array(cleaned, ' '), x -> x <> '')) >= 10
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // fused normalize/collapse/trim kernel over the lowercased text —
      // differentially equal to the two-regex formulation (KernelSpec)
      val cleaned = graft.functions.GraftFunctions.asciiClean(lower(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"), cleaned.as("cleaned"))
        .select(col("doc_id"),
          length(col("cleaned")).cast("long").as("n_chars"),
          size(tokens(col("cleaned"))).cast("long").as("n_tokens"),
          md5(col("cleaned")).as("content_key"))
        .filter(col("n_tokens") >= 10)
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q75_tfidf_topterms",
      "TF-IDF-style term ranking in exact integer arithmetic: per (source, term) total tf, document frequency across the corpus, score = floor(1e6 * tf * N / df) — no floating log, so the ranking is bit-stable; top-10 terms per source.",
      """WITH t AS (SELECT doc_id, source,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.source, tf.term,
        |    CAST((1000000 * CAST(tf.tf AS HUGEINT) * n.n) // df.df AS BIGINT) AS score
        |  FROM tf JOIN df USING (term), n),
        |r AS (SELECT source, term, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rk
        |  FROM s)
        |SELECT source, rk, term, score FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin) { (s, d) =>
      // One tokenize pass, no persist: tf and df both derive from a single
      // (source, term) pre-aggregation — each doc has exactly one source, so
      // df(term) = Σ_source countDistinct(doc_id | source, term). The exploded
      // corpus-sized frame is shuffled once; the df rollup runs over the
      // already-aggregated (small) frame.
      val per = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("ddocs"))
      val df = per.groupBy(col("term")).agg(sum(col("ddocs")).as("df"))
      // corpus size as a 1-row broadcast frame, not a driver-side count():
      // the whole query stays one lazy plan with no eager job
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w  = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("score").desc, col("term"))
      per.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("source"), col("term"),
          // `div` = exact integer division, matching DuckDB's `//` — a
          // double `/` could round a near-integer quotient the other way.
          // DECIMAL(38,0) lane: 1e6·tf·n_docs wraps Long once tf·n_docs
          // passes ~9e12 (q285/q295 overflow class); the oracle is HUGEINT
          expr("CAST((1000000 * CAST(tf AS DECIMAL(38,0)) * n_docs) div CAST(df AS DECIMAL(38,0)) AS BIGINT)")
            .as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("source"), col("rk"), col("term"), col("score"))
        .orderBy(col("source"), col("rk"))
    },

    GraftQuery(
      "q77_editdist_dedup",
      "Fingerprint-candidate near-dup verification by edit distance: docs sharing a min-hash fingerprint (q48's rolling 8-gram min) become candidate pairs on an id-sized broadcastable frame; texts join back only for candidates, levenshtein <= 20 confirms — the candidates->verify tier pattern with an integer-exact verifier.",
      s"""WITH g AS (SELECT doc_id,
         |    ${h60Sql("substr(text, CAST(i AS INTEGER), 8)")} AS h
         |  FROM documents, LATERAL unnest(generate_series(1, len(text) - 7)) AS u(i)
         |  WHERE len(text) >= 8),
         |fp AS (SELECT doc_id, min(h) AS fp_min FROM g GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM fp a JOIN fp b ON a.fp_min = b.fp_min AND a.doc_id < b.doc_id),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        levenshtein(x.text, y.text) AS dist
         |      FROM cand c JOIN documents x ON x.doc_id = c.doc_a
         |                  JOIN documents y ON y.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist
         |FROM v WHERE dist <= 20 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(length(col("text")) >= 8)
      // the fingerprint is per-document, so it's ONE kernel pass per row —
      // no gram explode, no shuffle (the old explode→groupBy(min) shape
      // shuffled L≈doc-length rows per doc twice for a per-row statistic).
      // persist the 3-longs-per-doc frame: without the barrier, the
      // self-join's two sides plus the join-key isnotnull scan filters each
      // re-run the full kernel over the corpus (the executed plan showed
      // char_gram_fingerprint inside the FileScan's DataFilters). id-sized,
      // so safe to cache at any corpus scale; CacheOnce unpersists after the
      // consuming action, so ad-hoc/repeated callers don't accumulate caches.
      // the rolling 8-gram fingerprint hashes every char position (~L md5
      // mixes per doc) — spread it off the one-row-group scan (guide §2.5)
      val fp = graft.util.CacheOnce.persistForOneAction(
        graft.util.Sizing.spreadKernel(docs.select(col("doc_id"), col("text")),
            graft.util.Sizing.parquetRowCount(d, "documents"), perTask = 2000L)
          .select(col("doc_id"),
            graft.functions.GraftFunctions.charGramFingerprint(col("text"), 8)
              .getField("fp_min").as("fp_min"),
            length(col("text")).as("len")))
      // Candidate pruning before any text is touched: |len_a − len_b| is a
      // lower bound on edit distance, so the length guard is sound for the
      // dist ≤ 20 filter — it removed 91% of fingerprint collisions at
      // sf0.1. Verification then uses the banded threshold levenshtein
      // (O(L·k) with early exit, −1 when > k) instead of full O(L²).
      // fp is one row per document — it scales with the corpus, so no
      // broadcast hint: AQE broadcasts at small SF and shuffles on fp_min
      // at 100 TB (a forced broadcast would OOM on a corpus-sized frame)
      val cand = fp.as("a")
        .join(fp.as("b"),
          col("a.fp_min") === col("b.fp_min") && col("a.doc_id") < col("b.doc_id") &&
            abs(col("a.len") - col("b.len")) <= 20)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val x = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val y = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      cand.join(x, "doc_a").join(y, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("text_a"), col("text_b"), 20).cast("long").as("dist"))
        // banded levenshtein(…, 20) returns -1 when the distance exceeds
        // the threshold, so `>= 0` alone IS the `<= 20` check — the
        // two-predicate form made Catalyst inline the alias twice into the
        // join condition, running the O(L·k) kernel twice per pair
        .filter(col("dist") >= 0)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    GraftQuery(
      "q48_doc_fingerprint",
      "Rolling-hash document fingerprints: h60 over every char 8-gram, per-doc min/max fingerprint and distinct-gram count — computed in ONE native kernel pass per document (no gram explode, no shuffle). Equal fingerprints are near-dup candidates.",
      s"""WITH g AS (SELECT doc_id, ${h60Sql("substr(text, CAST(i AS INTEGER), 8)")} AS h
         |  FROM documents, LATERAL unnest(generate_series(1, len(text) - 7)) AS u(i)
         |  WHERE len(text) >= 8)
         |SELECT doc_id,
         |  min(h) AS fp_min, max(h) AS fp_max,
         |  count(DISTINCT h) AS n_grams
         |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // per-document statistic → per-row kernel pass; the explode→
      // groupBy(min,max,countDistinct) formulation shuffled millions of
      // gram rows (plus the distinct expand) to compute what never crosses
      // a row boundary
      Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.charGramFingerprint(col("text"), 8).as("fp"))
        .select(col("doc_id"),
          col("fp.fp_min").as("fp_min"), col("fp.fp_max").as("fp_max"),
          col("fp.n_grams").as("n_grams"))
        .orderBy(col("doc_id"))
    },

    GraftQuery(
      "q97_repetition_ratio",
      "Repetition-ratio quality signal (the Gopher-rules duplicate-shingle fraction): per document the share of repeated 3-token shingles, as exact ppm integers; the most-repetitive 100 docs under a deterministic total order. Per-row arrays only — no shuffle except the final top-k.",
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(toks) - 2),
        |                   i -> array_to_string(toks[i:i+2], ' ')) AS sh
        |  FROM t WHERE len(toks) >= 3)
        |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
        |  CAST(((len(sh) - len(list_distinct(sh))) * 1000000) // len(sh) AS BIGINT) AS rep_ppm
        |FROM s ORDER BY rep_ppm DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) >= 1)
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n"),
          size(array_distinct(col("sh"))).cast("long").as("nd"))
      sh.select(col("doc_id"), col("n").as("n_shingles"),
          floor((col("n") - col("nd")) * 1000000L / col("n")).cast("long").as("rep_ppm"))
        .orderBy(col("rep_ppm").desc, col("doc_id"))
        .limit(100)
    },

    GraftQuery(
      "q213_lm_coverage",
      "Bigram-LM coverage filter — the perplexity-proxy quality screen a pretraining pipeline runs with a small reference LM: learn the 256 most frequent corpus bigrams (count DESC, lexicographic tie-break — a total order, so the learned table is deterministic at the frequency boundary), broadcast them, and measure per-language what fraction of each language's bigram mass the model covers, as exact ppm. The q166 estimation pass turned into the filtering signal: low coverage flags out-of-domain or degenerate text exactly like high perplexity does, without a single float. Probe volume is one hash lookup per bigram against the broadcast table — no token-stream shuffle at any corpus size (the bigram twin of q129's unigram OOV census).",
      """WITH t AS (SELECT lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT lang, toks[i] || ' ' || toks[i+1] AS bg
        |      FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |v AS (SELECT bg FROM (SELECT bg, count(*) AS c FROM b
        |                      GROUP BY bg ORDER BY c DESC, bg LIMIT 256)),
        |j AS (SELECT b.lang, CASE WHEN v.bg IS NULL THEN 0 ELSE 1 END AS hit
        |      FROM b LEFT JOIN v ON b.bg = v.bg)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(hit) AS BIGINT) AS n_covered,
        |  (CAST(sum(hit) AS BIGINT) * 1000000) // count(*) AS coverage_ppm
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val b = Tables.documents(s, d)
        .select(col("lang"), explode(shingles(tokens(col("text")), 2)).as("bg"))
      val lm = b.groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("bg"))
        .limit(256)
        .select(col("bg"), lit(1).as("known"))
      b.join(broadcast(lm), Seq("bg"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("known").isNull, 0L).otherwise(1L)).as("n_covered"))
        .selectExpr("lang", "n_bigrams", "n_covered",
          "(n_covered * 1000000) div n_bigrams AS coverage_ppm")
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q219_vocab_novelty",
      "Vocabulary novelty per ingest batch — the Heaps-law growth curve a crawl pipeline watches to decide when more data stops adding new language: documents arrive in batches (doc_id div 100 = ingest order), each token occurrence is NOVEL iff its token's first-ever batch is this one, and the per-batch novelty ratio (exact ppm) falls as the vocabulary saturates. One min-aggregate finds each token's first batch, one token-keyed join classifies occurrences — O(occurrences) shuffle, no vocabulary kept on any single node. A collapsing novelty curve is also the cheap drift alarm: it spikes when the source distribution changes.",
      """WITH t AS (SELECT doc_id // 100 AS batch,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, min(batch) AS first_batch FROM t GROUP BY tok),
        |j AS (SELECT t.batch,
        |        CASE WHEN f.first_batch = t.batch THEN 1 ELSE 0 END AS novel
        |      FROM t JOIN f ON t.tok = f.tok)
        |SELECT batch, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(novel) AS BIGINT) AS n_novel,
        |  (CAST(sum(novel) AS BIGINT) * 1000000) // count(*) AS novelty_ppm
        |FROM j GROUP BY batch ORDER BY batch""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(expr("doc_id div 100").as("batch"),
          explode(tokens(col("text"))).as("tok"))
      val f = t.groupBy(col("tok")).agg(min(col("batch")).as("first_batch"))
      t.join(f, "tok")
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L)).as("n_novel"))
        .selectExpr("batch", "n_tokens", "n_novel",
          "(n_novel * 1000000) div n_tokens AS novelty_ppm")
        .orderBy(col("batch"))
    },

    GraftQuery(
      "q302_token_heavy_hitters",
      "Corpus-dominant tokens via a native Misra-Gries(64) summary aggregate, HASH-GATED like q09: the sketch itself is engine-specific, so the COMPARED columns are the exact counts of every token with frequency > n/64 plus two booleans asserting the mergeable-summaries guarantee held (est <= exact, and (exact - est) * 64 <= n) — a missing or out-of-bound sketch entry fails the gate. The 100 TB point: the sketch pass shuffles one <=63-entry buffer per partition instead of one row per distinct token (billions for web text); the exact groupBy here is the labeled calibration tier that makes the sketch's error a measured fact. Sketch + total row count ride ONE aggregate pass over the token stream.",
      """WITH tok AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM tok),
        |f AS (SELECT token, count(*) AS exact_cnt FROM tok GROUP BY token)
        |SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |  TRUE AS lower_ok, TRUE AS upper_ok
        |FROM f, n WHERE exact_cnt * 64 > n.n
        |ORDER BY exact_cnt DESC, token""".stripMargin) { (s, d) =>
      val k = 64
      val tok = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d).select(explode(tokens(col("text"))).as("token")))
      // one pass builds the sketch AND the total count n; the 1-row result
      // is persisted because it feeds TWO subtrees (est and the n
      // broadcast) — without the persist the Misra-Gries pass could run
      // twice when exchange reuse misses (r10 ADVICE)
      val sk = graft.util.CacheOnce.persistForOneAction(tok.agg(
        graft.functions.GraftFunctions.misraGries(col("token"), k).as("hh"),
        count(lit(1)).as("n")))
      val est = sk.select(col("n"), explode(col("hh")).as("e"))
        .select(col("n"), col("e.token").as("token"), col("e.est").as("est"))
      // calibration tier: exact counts, heavy set = freq * k > n
      val exact = tok.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
      exact.crossJoin(broadcast(sk.select(col("n"))))
        .filter(col("exact_cnt") * k > col("n"))
        .join(broadcast(est.drop("n")), Seq("token"), "left_outer")
        .select(col("token"), col("exact_cnt"),
          // guarantee: est <= true (undercount only) ...
          (col("est").isNotNull && col("est") <= col("exact_cnt")).as("lower_ok"),
          // ... and true - est <= n/k, integer-exact via cross-multiply
          (col("est").isNotNull &&
            (col("exact_cnt") - col("est")) * k <= col("n")).as("upper_ok"))
        .orderBy(col("exact_cnt").desc, col("token"))
    },

    GraftQuery(
      "q306_count_min_calibration",
      "Count-Min point-frequency sketch (Cormode-Muthukrishnan), FULLY hash-gated — stronger than q302's boolean-witness gate: because the native CountMinAgg hashes with the md5-derived h60 and the MinHash affine row family, DuckDB rebuilds every one of the 4x1024 counters bit-for-bit as a GROUP BY over derived bucket ids, so the probe ESTIMATES themselves are value-compared, not just bound-checked. Probes = the 20 most frequent tokens UNION the 20 rarest (ties by token): per probe the exact count, the sketch estimate, the signed overcount (structurally >= 0: a counter absorbs collisions but never loses its own increments) and the measured overcount in ppm of the stream. The 100 TB point: the sketch pass shuffles one 32 KiB buffer per partition — a corpus-wide frequency oracle with NO per-distinct-token shuffle — and counter linearity makes refresh deltas composable (merge = elementwise sum); the exact groupBy here is the labeled calibration tier.",
      s"""WITH tok AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |h AS (SELECT token, ${h60Sql("token")} % 1000000007 AS hs FROM tok),
        |n AS (SELECT count(*) AS n FROM h),
        |cells AS (SELECT d, (((2*d+1) * hs + (7919*d+13)) % 1000000007) % 1024 AS c,
        |    count(*) AS cnt
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) dd
        |  GROUP BY 1, 2),
        |exact AS (SELECT token, hs, count(*) AS exact_n FROM h GROUP BY 1, 2),
        |probes AS (
        |  (SELECT token, hs, exact_n FROM exact ORDER BY exact_n DESC, token LIMIT 20)
        |  UNION
        |  (SELECT token, hs, exact_n FROM exact ORDER BY exact_n ASC, token LIMIT 20)),
        |est AS (SELECT p.token, p.exact_n, min(c2.cnt) AS est_n
        |  FROM probes p
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) dd
        |  JOIN cells c2 ON c2.d = dd.d
        |    AND c2.c = (((2*dd.d+1) * p.hs + (7919*dd.d+13)) % 1000000007) % 1024
        |  GROUP BY 1, 2)
        |SELECT token, CAST(exact_n AS BIGINT) AS exact_n,
        |  CAST(est_n AS BIGINT) AS est_n,
        |  CAST(est_n - exact_n AS BIGINT) AS over_n,
        |  est_n >= exact_n AS never_under,
        |  CAST((est_n - exact_n) * 1000000 // n.n AS BIGINT) AS over_ppm_of_n
        |FROM est, n ORDER BY exact_n DESC, token""".stripMargin) { (s, d) =>
      val depth = 4
      val w = 1024
      val p = Dedup.P
      val as = Dedup.hashParams.take(depth).map(_._1).toArray
      val bs = Dedup.hashParams.take(depth).map(_._2).toArray
      // one token-stream pass builds sketch AND n; hs is persisted because
      // it feeds both the sketch pass and the exact calibration tier
      val hsF = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .select(col("token"), (h60(col("token")) % p).as("hs")))
      val sk = graft.util.CacheOnce.persistForOneAction(hsF.agg(
        graft.functions.GraftFunctions.countMin(col("hs"), as, bs, p, w).as("sk"),
        count(lit(1)).as("n")))
      val exact = hsF.groupBy(col("token"), col("hs")).agg(count(lit(1)).as("exact_n"))
      val probes = exact.orderBy(col("exact_n").desc, col("token")).limit(20)
        .unionAll(exact.orderBy(col("exact_n").asc, col("token")).limit(20))
        .dropDuplicates("token")
      val estCol = (0 until depth).map { di =>
        element_at(col("sk"),
          (lit(di * w) +
            ((lit(as(di)) * col("hs") + lit(bs(di))) % p) % w + 1).cast("int"))
      }.reduce(least(_, _))
      probes.crossJoin(broadcast(sk))
        .select(col("token"), col("exact_n"), estCol.as("est_n"), col("n"))
        .select(col("token"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("over_n"),
          (col("est_n") >= col("exact_n")).as("never_under"),
          expr("(est_n - exact_n) * 1000000 div n").as("over_ppm_of_n"))
        .orderBy(col("exact_n").desc, col("token"))
    },

    GraftQuery(
      "q307_sketch_delta_drift",
      "Vocabulary drift between corpus epochs by SKETCH ALGEBRA — the refresh-day question ('which tokens surged?') answered from two Count-Min sketches instead of two corpus-wide token groupBys: docs split into deterministic epochs (doc_id mod 2), ONE grouped aggregation builds a 4x1024 sketch per epoch (one 32 KiB buffer per (partition, epoch) shuffles — counter linearity is what makes per-epoch sketches as cheap as one), and each probe token's relative-frequency drift is share2_ppm - share1_ppm in signed exact ppm on the DECIMAL(38,0)/HUGEINT lane. Probes = each epoch's 16 heaviest tokens by the exact calibration tier; a probe ABSENT from an epoch reads its true 0 through the sketch (an untouched counter is 0, so min = 0 — the oracle's LEFT JOIN + coalesce mirrors exactly that). Fully hash-gated (q306 doctrine): DuckDB rebuilds both epochs' counters bit-for-bit, so the drift numbers themselves are value-compared. At 100 TB the sketches are the ONLY full-scan artifact; epoch-over-epoch drift then costs |probes| lookups — and because merge is elementwise sum, the same sketches roll up to the all-time sketch for free.",
      s"""WITH tok AS (SELECT doc_id % 2 AS epoch, unnest(list_filter(
        |    regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |h AS (SELECT epoch, token,
        |    ${h60Sql("token")} % 1000000007 AS hs FROM tok),
        |n AS (SELECT epoch, count(*) AS n FROM h GROUP BY epoch),
        |cells AS (SELECT epoch, d,
        |    (((2*d+1) * hs + (7919*d+13)) % 1000000007) % 1024 AS c,
        |    count(*) AS cnt
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) dd
        |  GROUP BY 1, 2, 3),
        |exact AS (SELECT epoch, token, hs, count(*) AS exact_n
        |  FROM h GROUP BY 1, 2, 3),
        |probes AS (
        |  SELECT DISTINCT token, hs FROM (
        |    SELECT token, hs, row_number() OVER (PARTITION BY epoch
        |        ORDER BY exact_n DESC, token) AS rk
        |    FROM exact) WHERE rk <= 16),
        |eps AS (SELECT 0 AS epoch UNION ALL SELECT 1),
        |est AS (SELECT e.epoch, p.token, min(coalesce(c2.cnt, 0)) AS est_n
        |  FROM probes p
        |  CROSS JOIN eps e
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) dd
        |  LEFT JOIN cells c2 ON c2.epoch = e.epoch AND c2.d = dd.d
        |    AND c2.c = (((2*dd.d+1) * p.hs + (7919*dd.d+13)) % 1000000007) % 1024
        |  GROUP BY 1, 2),
        |sh AS (SELECT est.token, est.epoch, est.est_n,
        |    CAST(CAST(est.est_n AS HUGEINT) * 1000000 // n.n AS BIGINT) AS share_ppm
        |  FROM est JOIN n USING (epoch))
        |SELECT token,
        |  CAST(max(CASE WHEN epoch = 0 THEN est_n END) AS BIGINT) AS est1,
        |  CAST(max(CASE WHEN epoch = 1 THEN est_n END) AS BIGINT) AS est2,
        |  CAST(max(CASE WHEN epoch = 0 THEN share_ppm END) AS BIGINT) AS share1_ppm,
        |  CAST(max(CASE WHEN epoch = 1 THEN share_ppm END) AS BIGINT) AS share2_ppm,
        |  CAST(max(CASE WHEN epoch = 1 THEN share_ppm END)
        |     - max(CASE WHEN epoch = 0 THEN share_ppm END) AS BIGINT) AS drift_ppm
        |FROM sh GROUP BY token
        |ORDER BY drift_ppm DESC, token""".stripMargin) { (s, d) =>
      val depth = 4
      val w = 1024
      val p = Dedup.P
      val as = Dedup.hashParams.take(depth).map(_._1).toArray
      val bs = Dedup.hashParams.take(depth).map(_._2).toArray
      val hsF = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select((col("doc_id") % 2).as("epoch"),
            explode(tokens(col("text"))).as("token"))
          .select(col("epoch"), col("token"), (h60(col("token")) % p).as("hs")))
      // one grouped pass: sketch + n per epoch (2 rows); feeds est twice
      val sk = graft.util.CacheOnce.persistForOneAction(
        hsF.groupBy(col("epoch")).agg(
          graft.functions.GraftFunctions.countMin(col("hs"), as, bs, p, w).as("sk"),
          count(lit(1)).as("n")))
      val exact = hsF.groupBy(col("epoch"), col("token"), col("hs"))
        .agg(count(lit(1)).as("exact_n"))
      val wEp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch")).orderBy(col("exact_n").desc, col("token"))
      val probes = exact.withColumn("rk", row_number().over(wEp))
        .filter(col("rk") <= 16)
        .select(col("token"), col("hs")).distinct()
      val estCol = (0 until depth).map { di =>
        element_at(col("sk"),
          (lit(di * w) +
            ((lit(as(di)) * col("hs") + lit(bs(di))) % p) % w + 1).cast("int"))
      }.reduce(least(_, _))
      // 2-row sketch frame broadcast: each probe meets both epochs
      probes.crossJoin(broadcast(sk))
        .select(col("token"), col("epoch"), estCol.as("est_n"), col("n"))
        .withColumn("share_ppm",
          expr("CAST(CAST(est_n AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"))
        .groupBy(col("token"))
        .agg(
          max(when(col("epoch") === 0, col("est_n"))).as("est1"),
          max(when(col("epoch") === 1, col("est_n"))).as("est2"),
          max(when(col("epoch") === 0, col("share_ppm"))).as("share1_ppm"),
          max(when(col("epoch") === 1, col("share_ppm"))).as("share2_ppm"))
        .withColumn("drift_ppm", col("share2_ppm") - col("share1_ppm"))
        .orderBy(col("drift_ppm").desc, col("token"))
    },

    GraftQuery(
      "q308_kmv_distinct_sketch",
      "KMV (k-minimum-values) distinct-count sketch per language shard, FULLY hash-gated (q306 doctrine): the estimator is a pure function of the k=256 smallest md5-h60 hash values, so DuckDB reproduces the kth-minimum AND the estimate bit-for-bit — the estimates themselves are value-compared, not bound-checked. Engine shape: ONE distinct shuffle of (lang, hs) feeds both tiers, then the k-minima come from the native bounded TopKAgg heap (negated keys; <=k-long buffer per partition, map-side merged — never a per-lang sort of the vocabulary), est = (k-1)*P/kth_min, or the exact count when the shard's vocabulary is smaller than k. The 100 TB point: KMV is the distinct-counter whose sketch is also a uniform SAMPLE of the key space (unlike HLL's register array), so the same 256 hashes that estimate |vocab| also seed downstream Jaccard-by-sketch (q265's family); err_ppm is the measured calibration against the exact hash-domain distinct from the same scan.",
      s"""WITH t AS (SELECT lang, ${h60Sql("token")} % 1000000007 AS hs
        |  FROM (SELECT lang, unnest(list_filter(
        |      regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS token
        |    FROM documents)
        |  GROUP BY lang, hs),
        |r AS (SELECT lang, hs,
        |    row_number() OVER (PARTITION BY lang ORDER BY hs) AS rk FROM t),
        |ex AS (SELECT lang, count(*) AS exact_distinct FROM t GROUP BY lang),
        |km AS (SELECT lang, count(*) AS k_used, max(hs) AS kth_min
        |  FROM r WHERE rk <= 256 GROUP BY lang),
        |e AS (SELECT km.lang, k_used, kth_min,
        |    CASE WHEN k_used < 256 THEN k_used
        |         ELSE 255000001785 // kth_min END AS est_distinct,
        |    exact_distinct
        |  FROM km JOIN ex USING (lang))
        |SELECT lang, CAST(k_used AS BIGINT) AS k_used,
        |  CAST(kth_min AS BIGINT) AS kth_min,
        |  CAST(est_distinct AS BIGINT) AS est_distinct,
        |  CAST(exact_distinct AS BIGINT) AS exact_distinct,
        |  CAST(est_distinct * 1000000 // exact_distinct - 1000000 AS BIGINT)
        |    AS err_ppm
        |FROM e ORDER BY lang""".stripMargin) { (s, d) =>
      val k = 256
      val p = Dedup.P
      // ONE distinct shuffle feeds the sketch AND the exact calibration tier
      val t = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select(col("lang"), explode(tokens(col("text"))).as("token"))
          .select(col("lang"), (h60(col("token")) % p).as("hs"))
          .distinct())
      // bounded-buffer k-minima: TopKAgg ranks key DESC, so negate hs —
      // the heap keeps the k SMALLEST hashes with O(k) state per partition
      val km = t.groupBy(col("lang"))
        .agg(graft.functions.GraftFunctions
          .topKAgg(-col("hs"), col("hs"), k).as("mins"))
        .select(col("lang"), size(col("mins")).cast("long").as("k_used"),
          element_at(col("mins"), size(col("mins"))).getField("payload")
            .as("kth_min"))
      val ex = t.groupBy(col("lang")).agg(count(lit(1)).as("exact_distinct"))
      km.join(ex, "lang")
        .withColumn("est_distinct",
          when(col("k_used") < k, col("k_used"))
            // (k-1)*P precomputed: the int-literal product would overflow
            .otherwise(expr(s"${(k - 1).toLong * p}L div kth_min")))
        .select(col("lang"), col("k_used"), col("kth_min"),
          col("est_distinct"), col("exact_distinct"),
          expr("est_distinct * 1000000 div exact_distinct - 1000000")
            .as("err_ppm"))
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q309_ams_f2_sketch",
      "AMS/Tug-of-War second-moment (F2) sketch over the orders fact's customer key — the one-pass SELF-JOIN SIZE estimator an optimizer consults before committing to a join strategy (F2 = sum of squared key frequencies = exact output size of the key self-join; its ratio to n is the skew factor that decides salting). Nine +/-1 sign estimators from the MinHash affine family over md5-h60 (signs, sums, squares and the rank-5-of-9 median all exactly reproducible in DuckDB — fully hash-gated, q306 doctrine), each Z_j = sum of signs accumulated in ONE whole-stage-codegen aggregate pass (nine conditional sums + n, no per-key state at all — the sketch is 10 longs however many distinct keys exist); est_j = Z_j^2 rides the DECIMAL(38,0) lane, the median-of-9 kills outlier estimators. The exact groupBy(custkey) F2 is the labeled calibration tier; err_ppm is the measured estimator error this board requires of every approximate operator.",
      s"""WITH h AS (SELECT ${h60Sql("CAST(o_custkey AS VARCHAR)")} % 1000000007 AS hs
        |  FROM orders),
        |n AS (SELECT count(*) AS n FROM h),
        |z AS (SELECT j,
        |    CAST(sum(1 - 2*((((2*j+1)*hs + (7919*j+13)) % 1000000007) % 2))
        |      AS HUGEINT) AS zj
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) dd
        |  GROUP BY j),
        |est AS (SELECT j, zj*zj AS ej FROM z),
        |med AS (SELECT ej FROM (SELECT ej,
        |      row_number() OVER (ORDER BY ej, j) AS rk FROM est)
        |  WHERE rk = 5),
        |ex AS (SELECT CAST(sum(CAST(c AS HUGEINT)*c) AS HUGEINT) AS f2
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey))
        |SELECT CAST(n.n AS BIGINT) AS n,
        |  CAST(ex.f2 AS BIGINT) AS f2_exact,
        |  CAST(med.ej AS BIGINT) AS f2_est,
        |  CAST(med.ej * 1000000 // ex.f2 - 1000000 AS BIGINT) AS err_ppm,
        |  CAST(ex.f2 * 1000000 // (CAST(n.n AS HUGEINT) * n.n) AS BIGINT)
        |    AS skew_ppm
        |FROM n, ex, med""".stripMargin) { (s, d) =>
      val p = Dedup.P
      val depth = 9
      val as = Dedup.hashParams.take(depth).map(_._1)
      val bs = Dedup.hashParams.take(depth).map(_._2)
      val h = Tables.orders(s, d)
        .select((h60(col("o_custkey").cast("string")) % p).as("hs"))
      // the whole sketch is ONE aggregate row: nine sign-sums + n
      val signCols = (0 until depth).map { j =>
        sum(lit(1L) - lit(2L) *
          (((lit(as(j)) * col("hs") + lit(bs(j))) % p) % 2)).as(s"z$j")
      }
      val sk = h.agg(signCols.head, signCols.tail :+ count(lit(1)).as("n"): _*)
      // 9-row estimator frame -> exact lower median by rank 5 of 9
      val est = sk.select(col("n"), explode(array((0 until depth).map { j =>
          struct(lit(j).as("j"), col(s"z$j").as("zj"))
        }: _*)).as("e"))
        .select(col("n"), col("e.j").as("j"),
          expr("CAST(CAST(e.zj AS DECIMAL(38,0)) * e.zj AS DECIMAL(38,0))")
            .as("ej"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ej"), col("j"))
      val med = est.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 5).select(col("n"), col("ej"))
      val ex = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
        .agg(expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))")
          .as("f2"))
      med.crossJoin(broadcast(ex))
        .select(col("n").cast("long").as("n"),
          col("f2").cast("long").as("f2_exact"),
          col("ej").cast("long").as("f2_est"),
          expr("CAST(ej * 1000000 div f2 - 1000000 AS BIGINT)").as("err_ppm"),
          expr("CAST(f2 * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
            .as("skew_ppm"))
    },

    GraftQuery(
      "q318_cm_join_size_estimate",
      "JOIN-SIZE estimation from two Count-Min sketches (Cormode-Muthukrishnan inner-product estimator) — the CROSS-relation completion of q309's self-join F2: |events ⋈ orders ON user_id = o_custkey| = the inner product of the two key-frequency vectors, estimated as min over depth rows of sum_w cmA[d,w]*cmB[d,w] — never an undercount (collisions only ADD mass), tightened by the min across the 4 independent rows. THE question an optimizer asks before choosing join strategy, answered from two 32 KiB sketches built in ONE pass per relation (mergeable, so per-partition/per-refresh sketches compose) — no join is executed to size the join. FULLY hash-gated (q306 doctrine): both relations hash through the md5-affine row family, so DuckDB rebuilds every counter AND the estimate bit-for-bit; the exact hash-domain inner product from the same scans is the labeled calibration tier, overcount reported in signed ppm on the DECIMAL(38,0)/HUGEINT lane.",
      s"""WITH ha AS (SELECT ${h60Sql("CAST(user_id AS VARCHAR)")} % 1000000007 AS hs
        |  FROM events),
        |hb AS (SELECT ${h60Sql("CAST(o_custkey AS VARCHAR)")} % 1000000007 AS hs
        |  FROM orders),
        |dd AS (SELECT unnest(generate_series(0, 3)) AS d),
        |ca AS (SELECT d, (((2*d+1)*hs + (7919*d+13)) % 1000000007) % 1024 AS c,
        |    count(*) AS cnt FROM ha CROSS JOIN dd GROUP BY 1, 2),
        |cb AS (SELECT d, (((2*d+1)*hs + (7919*d+13)) % 1000000007) % 1024 AS c,
        |    count(*) AS cnt FROM hb CROSS JOIN dd GROUP BY 1, 2),
        |ip AS (SELECT ca.d,
        |    CAST(sum(CAST(ca.cnt AS HUGEINT) * cb.cnt) AS HUGEINT) AS ej
        |  FROM ca JOIN cb ON ca.d = cb.d AND ca.c = cb.c GROUP BY ca.d),
        |est AS (SELECT min(ej) AS est_join FROM ip),
        |ex AS (SELECT CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT)
        |    AS exact_join
        |  FROM (SELECT hs, count(*) AS cnt FROM ha GROUP BY hs) a
        |  JOIN (SELECT hs, count(*) AS cnt FROM hb GROUP BY hs) b USING (hs)),
        |na AS (SELECT count(*) AS n_a FROM ha),
        |nb AS (SELECT count(*) AS n_b FROM hb)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(exact_join AS BIGINT) AS exact_join,
        |  CAST(est_join AS BIGINT) AS est_join,
        |  est_join >= exact_join AS never_under,
        |  CAST(est_join * 1000000 // exact_join - 1000000 AS BIGINT) AS over_ppm
        |FROM na, nb, ex, est""".stripMargin) { (s, d) =>
      val depth = 4
      val w = 1024
      val p = Dedup.P
      val as = Dedup.hashParams.take(depth).map(_._1).toArray
      val bs = Dedup.hashParams.take(depth).map(_._2).toArray
      def hashed(df: DataFrame, key: String) =
        df.select((h60(col(key).cast("string")) % p).as("hs"))
      val ha = graft.util.CacheOnce.persistForOneAction(
        hashed(Tables.events(s, d), "user_id"))
      val hb = graft.util.CacheOnce.persistForOneAction(
        hashed(Tables.orders(s, d), "o_custkey"))
      def sketch(h: DataFrame, nm: String) = h.agg(
        graft.functions.GraftFunctions.countMin(col("hs"), as, bs, p, w).as(nm),
        count(lit(1)).as(s"n_$nm"))
      // inner product per depth row over the two flat counter arrays —
      // 4 x 1024 longs in a 1-row frame, HOF folds on the decimal lane
      val ipCols = (0 until depth).map { di =>
        expr(s"""aggregate(
          |  zip_with(slice(ska, ${di * w + 1}, $w), slice(skb, ${di * w + 1}, $w),
          |    (x, y) -> CAST(x AS DECIMAL(38,0)) * y),
          |  CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t)""".stripMargin)
      }
      val est = sketch(ha, "ska").crossJoin(sketch(hb, "skb"))
        .select(col("n_ska"), col("n_skb"), least(ipCols: _*).as("est_join"))
      val ex = ha.groupBy(col("hs")).agg(count(lit(1)).as("ca"))
        .join(hb.groupBy(col("hs")).agg(count(lit(1)).as("cb")), "hs")
        .agg(expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS DECIMAL(38,0))")
          .as("exact_join"))
      est.crossJoin(broadcast(ex))
        .select(col("n_ska").as("n_a"), col("n_skb").as("n_b"),
          col("exact_join").cast("long").as("exact_join"),
          col("est_join").cast("long").as("est_join"),
          (col("est_join") >= col("exact_join")).as("never_under"),
          expr("CAST(est_join * 1000000 div exact_join - 1000000 AS BIGINT)")
            .as("over_ppm"))
    },

    GraftQuery(
      "q341_sketch_stats_catalog",
      "The SKETCH STATISTICS CATALOG — q318's join-size estimator promoted to the optimizer-integration capstone: one Count-Min sketch (4×1024, shared md5-affine family) plus row count per (relation, join key) is built in ONE pass per relation and PERSISTED as a 5-row parquet catalog keyed on the corpus snapshot (the q305/q311 sourceKey staleness doctrine — a regenerated table re-stages its statistics); the cost surface then answers |A ⋈ B| for every edge of the schema's join graph (events⋈orders, events⋈customer, orders⋈customer, lineitem⋈orders) by reading the CATALOG ONLY — four inner products over 32 KiB arrays, NO base-table scan, which is precisely how an optimizer consults statistics: collect once at ingest, estimate at plan time in microseconds. Per edge the surface ships (n_left, n_right, est_rows, actual_rows, never_under, over_ppm) — the actuals are the same-scan hash-domain inner products, making this simultaneously the estimator's calibration tier (q318 doctrine) and a regression gate for the catalog itself: every counter, estimate and error is bit-identical in DuckDB. At 100 TB: statistics maintenance is mergeable (counter linearity — per-partition/per-refresh sketches SUM), the catalog is kilobytes per relation, and the broadcast-vs-shuffle join decision this surface informs is the single biggest plan lever the engine has.",
      {
        val p = Dedup.P
        val rels = Seq(
          ("cust", "customer", "c_custkey"),
          ("evu", "events", "user_id"),
          ("lio", "lineitem", "l_orderkey"),
          ("ordc", "orders", "o_custkey"),
          ("ordk", "orders", "o_orderkey"))
        val hctes = rels.map { case (nm, tbl, k) =>
          s"""h_$nm AS MATERIALIZED (SELECT ${h60Sql(s"CAST($k AS VARCHAR)")} % $p AS hs
             |  FROM $tbl)""".stripMargin
        }.mkString(",\n")
        val sctes = rels.map { case (nm, _, _) =>
          s"""c_$nm AS MATERIALIZED (SELECT d,
             |    (((2*d+1)*hs + (7919*d+13)) % $p) % 1024 AS c,
             |    count(*) AS cnt FROM h_$nm CROSS JOIN dd GROUP BY 1, 2),
             |n_$nm AS (SELECT count(*) AS n FROM h_$nm)""".stripMargin
        }.mkString(",\n")
        val edges = Seq(
          ("events.user_id x orders.o_custkey", "evu", "ordc"),
          ("events.user_id x customer.c_custkey", "evu", "cust"),
          ("orders.o_custkey x customer.c_custkey", "ordc", "cust"),
          ("lineitem.l_orderkey x orders.o_orderkey", "lio", "ordk"))
        val edgeSels = edges.map { case (edge, l, r) =>
          s"""SELECT '$edge' AS join_edge,
             |  (SELECT CAST(n AS BIGINT) FROM n_$l) AS n_left,
             |  (SELECT CAST(n AS BIGINT) FROM n_$r) AS n_right,
             |  (SELECT CAST(min(ej) AS BIGINT) FROM (
             |     SELECT a.d, CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS HUGEINT) AS ej
             |     FROM c_$l a JOIN c_$r b ON a.d = b.d AND a.c = b.c
             |     GROUP BY a.d) q) AS est_rows,
             |  (SELECT CAST(coalesce(sum(CAST(x.cnt AS HUGEINT) * y.cnt), 0) AS BIGINT)
             |   FROM (SELECT hs, count(*) AS cnt FROM h_$l GROUP BY hs) x
             |   JOIN (SELECT hs, count(*) AS cnt FROM h_$r GROUP BY hs) y
             |     USING (hs)) AS actual_rows""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH dd AS (SELECT unnest(generate_series(0, 3)) AS d),
           |$hctes,
           |$sctes
           |SELECT join_edge, n_left, n_right, est_rows, actual_rows,
           |  est_rows >= actual_rows AS never_under,
           |  CAST(CASE WHEN actual_rows = 0 THEN 0
           |       ELSE est_rows * 1000000 // actual_rows - 1000000
           |       END AS BIGINT) AS over_ppm
           |FROM ($edgeSels) e
           |ORDER BY join_edge""".stripMargin
      }) { (s, d) =>
      val depth = 4
      val w = 1024
      val rels = statsRels(s, d)
      val relMap = rels.toMap
      def hashed(df: DataFrame) = statsHashed(df)
      val cat = s.read.parquet(statsCatalogDir(s, d))
      // ---- plan-time estimates: CATALOG ONLY, no base-table scan ---------
      val edges = Seq(
        ("events.user_id x orders.o_custkey",
          "events.user_id", "orders.o_custkey"),
        ("events.user_id x customer.c_custkey",
          "events.user_id", "customer.c_custkey"),
        ("orders.o_custkey x customer.c_custkey",
          "orders.o_custkey", "customer.c_custkey"),
        ("lineitem.l_orderkey x orders.o_orderkey",
          "lineitem.l_orderkey", "orders.o_orderkey"))
      import s.implicits._
      val edf = edges.toDF("join_edge", "lrel", "rrel")
      val ipCols = (0 until depth).map { di =>
        expr(s"""aggregate(
          |  zip_with(slice(ska, ${di * w + 1}, $w), slice(skb, ${di * w + 1}, $w),
          |    (x, y) -> CAST(x AS DECIMAL(38,0)) * y),
          |  CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t)""".stripMargin)
      }
      val est = edf
        .join(broadcast(cat.select(col("rel").as("lrel"), col("n").as("n_left"),
          col("sk").as("ska"))), "lrel")
        .join(broadcast(cat.select(col("rel").as("rrel"), col("n").as("n_right"),
          col("sk").as("skb"))), "rrel")
        .select(col("join_edge"), col("n_left"), col("n_right"),
          least(ipCols: _*).as("est_rows"))
      // ---- calibration tier: same-scan hash-domain actuals per edge ------
      val actuals = edges.map { case (nm, l, r) =>
        hashed(relMap(l)).groupBy(col("hs")).agg(count(lit(1)).as("ca"))
          .join(hashed(relMap(r)).groupBy(col("hs")).agg(count(lit(1)).as("cb")),
            "hs")
          .agg(coalesce(
            expr("CAST(sum(CAST(ca AS DECIMAL(38,0)) * cb) AS DECIMAL(38,0))"),
            lit(0).cast("decimal(38,0)")).as("actual_rows"))
          .select(lit(nm).as("join_edge"), col("actual_rows"))
      }.reduce(_ unionAll _)
      est.join(actuals, "join_edge")
        .select(col("join_edge"), col("n_left"), col("n_right"),
          col("est_rows").cast("long").as("est_rows"),
          col("actual_rows").cast("long").as("actual_rows"))
        .select(col("join_edge"), col("n_left"), col("n_right"),
          col("est_rows"), col("actual_rows"),
          (col("est_rows") >= col("actual_rows")).as("never_under"),
          expr("""CAST(CASE WHEN actual_rows = 0 THEN 0
            |     ELSE est_rows * 1000000 div actual_rows - 1000000
            |     END AS BIGINT)""".stripMargin).as("over_ppm"))
        .orderBy(col("join_edge"))
    },

    GraftQuery(
      "q346_catalog_planned_join",
      s"The q341 catalog DRIVING AN ACTUAL PLAN — statistics that nobody consults are dead weight, so this query closes the loop: the 3-way events⋈orders⋈customer join is PHYSICALLY PLANNED from the persisted sketch catalog (5 rows read at plan time — the microsecond stats lookup every CBO does; no base table is scanned to decide). Stage 1 (events⋈orders) picks its build side and broadcast-vs-shuffle from the cataloged row counts TIMES the build frame's plan width against the $CatalogBroadcastByteBound-BYTE bound (conf graft.catalog.broadcastByteBound — broadcast cost is rows × width, never rows alone, the r17 verdict's rows-vs-bytes fix; PlanSpec flips the bound and pins that the physical plan flips with it, broadcast↔sort-merge). Stage 2 is the decision a row-count-only planner CANNOT make: its probe side is the stage-1 INTERMEDIATE, whose size exists in no catalog count — only the Count-Min inner product estimates it — so the build-side choice compares est(events⋈orders) from the SKETCH against n_customer. The decisions are not just reported, they are ENFORCED (broadcast() hint vs merge hint, so Spark's own auto-broadcast can't silently second-guess the shuffle verdict) and then AUDITED: n_broadcast_in_plan counts the BroadcastHashJoin operators in the planned physical tree (q110's census-self-check doctrine applied to join strategy), and the oracle pins it to the decision-derived count — a regressed hint, a broken size gate or an ignored decision fails the gate, not just a spec. actual_rows is the executed 3-way count, closing est-vs-actual on the same surface.",
      catalogPlanSql) { (s, d) =>
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val bound = s.conf.getOption("graft.catalog.broadcastByteBound")
        .map(_.toLong).getOrElse(CatalogBroadcastByteBound)
      // plan-time stats consult: the catalog is 5 rows × 32 KiB BY
      // CONSTRUCTION (CmDepth×CmWidth longs per relation) — this collect is
      // the optimizer's statistics lookup, size-bounded by schema, never by
      // corpus (the same contract as the two other tiny collect sites)
      val stats = s.read.parquet(statsCatalogDir(s, d)).collect()
        .map(r => r.getString(r.fieldIndex("rel")) ->
          (r.getLong(r.fieldIndex("n")),
            r.getSeq[Long](r.fieldIndex("sk")).toArray)).toMap
      // Accumulates in BigInt, mirroring the oracle's HUGEINT lane: under
      // heavy key skew at design scale a per-row Long sum of cell products
      // can approach 2^63 (the r14 ADVICE overflow asymmetry — Spark wraps
      // where DuckDB answers). The decision comparisons stay exact in
      // BigInt; the returned Long saturates at MaxValue, which preserves
      // every ≤-bound verdict (a saturated estimate is still "huge")
      def estOf(lk: String, rk: String): Long = {
        val a = stats(lk)._2
        val b = stats(rk)._2
        (0 until CmDepth).map { di =>
          var acc = BigInt(0)
          var i = 0
          while (i < CmWidth) {
            acc += BigInt(a(di * CmWidth + i)) * b(di * CmWidth + i); i += 1
          }
          acc
        }.min.min(BigInt(Long.MaxValue)).toLong
      }
      val nE = stats("events.user_id")._1
      val nO = stats("orders.o_custkey")._1
      val nC = stats("customer.c_custkey")._1
      val estEO = estOf("events.user_id", "orders.o_custkey")
      val estOC = estOf("orders.o_custkey", "customer.c_custkey")
      // stage 1: build = the smaller estimated BYTES side (rows × the
      // key-frame width — both frames are one BIGINT column here, widths
      // pinned as the shared literals the oracle also uses), broadcast at
      // or under the byte bound. BigInt keeps the products exact.
      val s1BytesO = BigInt(nO) * WOrdersCust
      val s1BytesE = BigInt(nE) * WEvents
      val s1BuildOrders = s1BytesO <= s1BytesE
      val s1BuildN = if (s1BuildOrders) nO else nE
      val s1Bytes = s1BytesO.min(s1BytesE)
      val s1Bcast = s1Bytes <= bound
      // stage 2: the probe is the stage-1 intermediate — its size is in no
      // row count, only the sketch inner product; its WIDTH is the two
      // joined frames' sum; build = the smaller bytes side
      val s2BytesC = BigInt(nC) * WCustomer
      val s2BytesI = BigInt(estEO) * (WEvents + WOrdersCust)
      val s2BuildCustomer = s2BytesC <= s2BytesI
      val s2BuildN = if (s2BuildCustomer) nC else estEO
      val s2Bytes = s2BytesC.min(s2BytesI)
      val s2Bcast = s2Bytes <= bound
      // the decision is enforced, not advisory: merge hint on the shuffle
      // verdict so the engine's own auto-broadcast can't second-guess it
      def side(df: DataFrame, bcast: Boolean): DataFrame =
        if (bcast) broadcast(df) else df.hint("merge")
      val ev = Tables.events(s, d).select(col("user_id"))
      val or = Tables.orders(s, d).select(col("o_custkey"))
      val cu = Tables.customer(s, d).select(col("c_custkey"))
      val j1 =
        if (s1BuildOrders)
          ev.join(side(or, s1Bcast), col("user_id") === col("o_custkey"))
        else side(ev, s1Bcast).join(or, col("user_id") === col("o_custkey"))
      val j2 =
        if (s2BuildCustomer)
          j1.join(side(cu, s2Bcast), col("o_custkey") === col("c_custkey"))
        else side(j1, s2Bcast).join(cu, col("o_custkey") === col("c_custkey"))
      val actual = j2.agg(count(lit(1)).as("actual_rows"))
      // strategy census over the PLANNED physical tree (pre-AQE — the
      // catalog's verdict is a planning decision, and this audits planning)
      val nBhj = actual.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => 1
      }.sum
      import s.implicits._
      def sat(b: BigInt): Long = graft.plans.CatalogJoinHints.toLongSat(b)
      Seq(
        (1L, "events.user_id x orders.o_custkey",
          if (s1BuildOrders) "orders" else "events", s1BuildN, sat(s1Bytes),
          estEO, if (s1Bcast) "broadcast" else "shuffle"),
        (2L, "orders.o_custkey x customer.c_custkey",
          if (s2BuildCustomer) "customer" else "intermediate", s2BuildN,
          sat(s2Bytes), estOC,
          if (s2Bcast) "broadcast" else "shuffle"))
        .toDF("stage", "join_edge", "build_side", "est_build_rows",
          "est_build_bytes", "est_edge_rows", "decision")
        .crossJoin(broadcast(actual))
        .withColumn("n_broadcast_in_plan", lit(nBhj.toLong))
        .orderBy(col("stage"))
    },

    GraftQuery(
      "q348_rule_planned_join",
      "q346 PROMOTED FROM HINTS TO A RULE — the same 3-way events⋈orders⋈customer join written with ZERO hints or stats consults in the query: the injected graft.plans.CatalogJoinHints optimizer rule recognizes the catalog-MARKED join keys (opt-in rides per-attribute column metadata carrying the catalog entry + staged path — so installing the rule re-plans nothing else in the session), reads the persisted 5-row sketch catalog at plan time, estimates each side (cataloged count for a base relation; Count-Min inner product for the stage-1 INTERMEDIATE — the estimate no row count holds), and stamps the BROADCAST/SHUFFLE_MERGE strategy hint itself, enforced against Spark's auto-broadcast exactly as q346 enforced by hand. The output rows are the EXPECTED decisions computed from the same shared estimation code the rule runs (CatalogJoinHints.stats/innerProductEst — single-sourced, so the expectation cannot drift from the implementation), n_broadcast_in_plan is the MEASURED BroadcastHashJoin census over the physical plan the rule actually produced, and the oracle pins both to the decision-derived count: a rule that stops firing, mis-reads the catalog or loses to auto-broadcast fails the gate. PlanSpec additionally flips graft.catalog.broadcastByteBound and pins that the UNHINTED query's physical strategy flips with it; the decision currency is BYTES (estimated rows × the side's plan width — a 1M-row gate enforced sort-merge on a 12 MB key frame the engine would happily broadcast, the r17 verdict's one adjudicated scale defect) — statistics driving plans through the optimizer, the CBO loop closed end to end.",
      rulePlanSql) { (s, d) =>
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import graft.plans.CatalogJoinHints
      graft.plans.GraftPlans.install(s)
      val dir = statsCatalogDir(s, d)
      // the opt-in mark: catalog entry + staged path as column metadata —
      // it rides the AttributeReference through analysis and optimization,
      // so the rule sees exactly these keys and nothing else
      def mark(df: DataFrame, c: String, key: String): DataFrame = {
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(CatalogJoinHints.KeyMeta, key)
          .putString(CatalogJoinHints.DirMeta, dir).build()
        df.select(col(c).as(c, md))
      }
      val ev = mark(Tables.events(s, d).select(col("user_id")),
        "user_id", "events.user_id")
      val or = mark(Tables.orders(s, d).select(col("o_custkey")),
        "o_custkey", "orders.o_custkey")
      val cu = mark(Tables.customer(s, d).select(col("c_custkey")),
        "c_custkey", "customer.c_custkey")
      // the query itself: two plain joins, not a hint in sight
      val actual = ev.join(or, col("user_id") === col("o_custkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("actual_rows"))
      val nBhj = actual.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => 1
      }.sum
      // expected decisions from the SAME estimation code the rule runs —
      // byte currency: rows × the key-frame widths the rule derives from
      // the plan output (shared literals, oracle-pinned)
      val st = CatalogJoinHints.stats(s, dir)
      val bound = BigInt(s.conf.getOption("graft.catalog.broadcastByteBound")
        .map(_.toLong).getOrElse(CatalogJoinHints.DefaultByteBound))
      val nE = st("events.user_id")._1
      val nO = st("orders.o_custkey")._1
      val nC = st("customer.c_custkey")._1
      val estEO = CatalogJoinHints.innerProductEst(
        st, "events.user_id", "orders.o_custkey")
      val estOC = CatalogJoinHints.innerProductEst(
        st, "orders.o_custkey", "customer.c_custkey")
      val s1BytesO = BigInt(nO) * WOrdersCust
      val s1BytesE = BigInt(nE) * WEvents
      val s1BuildOrders = s1BytesO <= s1BytesE
      val s1N = if (s1BuildOrders) nO else nE
      val s1Bytes = s1BytesO.min(s1BytesE)
      val s2BytesC = BigInt(nC) * WCustomer
      val s2BytesI = BigInt(estEO) * (WEvents + WOrdersCust)
      val s2BuildCustomer = s2BytesC <= s2BytesI
      val s2N = if (s2BuildCustomer) nC else estEO
      val s2Bytes = s2BytesC.min(s2BytesI)
      import s.implicits._
      def sat(b: BigInt): Long = CatalogJoinHints.toLongSat(b)
      Seq(
        (1L, "events.user_id x orders.o_custkey",
          if (s1BuildOrders) "orders" else "events", s1N, sat(s1Bytes),
          estEO, if (s1Bytes <= bound) "broadcast" else "shuffle"),
        (2L, "orders.o_custkey x customer.c_custkey",
          if (s2BuildCustomer) "customer" else "intermediate", s2N,
          sat(s2Bytes), estOC,
          if (s2Bytes <= bound) "broadcast" else "shuffle"))
        .toDF("stage", "join_edge", "build_side", "est_build_rows",
          "est_build_bytes", "est_edge_rows", "decision")
        .crossJoin(broadcast(actual))
        .withColumn("n_broadcast_in_plan", lit(nBhj.toLong))
        .withColumn("planned_by", lit("rule"))
        .orderBy(col("stage"))
    },

    GraftQuery(
      "q351_deep_rule_planned_join",
      "CatalogJoinHints past depth 1 (r15 worklist 6b): an unhinted LEFT-DEEP 4-way join events⋈orders⋈lineitem⋈customer where stage 3's build-side decision needs the size of a DEPTH-2 intermediate — an estimate no row count holds and the depth-1 rule used to refuse (returned None, stamped nothing). The estimator now recurses: a nested join side contributes its own CM estimate over the cataloged rows of the upward key's owner as a SCALAR factor (est2 = raw_ol × est_eo ÷ n_orders — one BigInt floor-division per level, canonical left-then-right; scalar factors commute with both the per-depth sum and the min-over-depths, so this equals the inner product over per-cell-scaled sketches without materializing one; the independence assumption is the classic CBO one and is stated, not hidden). The output rows are the EXPECTED three-stage decisions from the same shared estimation code the rule runs, n_broadcast_in_plan is the measured BroadcastHashJoin census over the plan the rule actually produced, and the oracle recomputes every sketch, estimate, scale factor, width product and decision in DuckDB HUGEINT — the decision currency is BYTES (rows × the side's plan width: orders carries both marked keys here so its frame is 16 bytes wide, the depth-1/depth-2 intermediates charge 24/32 — the r17 verdict's rows-vs-bytes fix, which is exactly what lets the 12 MB customer key frame broadcast at BOTH measured decades while the genuinely large sides stay enforced sort-merge); PlanSpec additionally flips graft.catalog.broadcastByteBound and pins the physical flip on all three stages.",
      deepCatalogPlanSql) { (s, d) =>
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import graft.plans.CatalogJoinHints
      graft.plans.GraftPlans.install(s)
      val dir = statsCatalogDir(s, d)
      def mark(df: DataFrame, cs: (String, String)*): DataFrame =
        df.select(cs.map { case (c, key) =>
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(CatalogJoinHints.KeyMeta, key)
            .putString(CatalogJoinHints.DirMeta, dir).build()
          col(c).as(c, md)
        }: _*)
      val ev = mark(Tables.events(s, d), "user_id" -> "events.user_id")
      val or = mark(Tables.orders(s, d),
        "o_custkey" -> "orders.o_custkey", "o_orderkey" -> "orders.o_orderkey")
      val li = mark(Tables.lineitem(s, d),
        "l_orderkey" -> "lineitem.l_orderkey")
      val cu = mark(Tables.customer(s, d), "c_custkey" -> "customer.c_custkey")
      // the query: three plain joins, zero hints, zero stats consults
      val actual = ev.join(or, col("user_id") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("actual_rows"))
      val nBhj = actual.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => 1
      }.sum
      // expected decisions from the SAME estimation code the rule runs —
      // byte currency: rows × widths (orders carries BOTH marked keys
      // here, 16 bytes; the intermediates charge their children's sums:
      // 24 at depth 1, 32 at depth 2 — oracle-pinned literals)
      val st = CatalogJoinHints.stats(s, dir)
      val bound = BigInt(s.conf.getOption("graft.catalog.broadcastByteBound")
        .map(_.toLong).getOrElse(CatalogJoinHints.DefaultByteBound))
      val nE = BigInt(st("events.user_id")._1)
      val nO = BigInt(st("orders.o_custkey")._1)
      val nL = BigInt(st("lineitem.l_orderkey")._1)
      val nC = BigInt(st("customer.c_custkey")._1)
      val estEO = CatalogJoinHints.innerProductBig(
        st, "events.user_id", "orders.o_custkey")
      val rawOL = CatalogJoinHints.innerProductBig(
        st, "orders.o_orderkey", "lineitem.l_orderkey")
      val rawOC = CatalogJoinHints.innerProductBig(
        st, "orders.o_custkey", "customer.c_custkey")
      val est2 = rawOL * estEO / nO // the depth-2 intermediate, scaled once
      def dec(bytes: BigInt) = if (bytes <= bound) "broadcast" else "shuffle"
      def sat(b: BigInt) = CatalogJoinHints.toLongSat(b)
      val b1O = nO * WOrdersBoth; val b1E = nE * WEvents
      val b2L = nL * WLineitem
      val b2I = estEO * (WEvents + WOrdersBoth)
      val b3C = nC * WCustomer
      val b3I = est2 * (WEvents + WOrdersBoth + WLineitem)
      import s.implicits._
      Seq(
        (1L, "events.user_id x orders.o_custkey",
          if (b1O <= b1E) "orders" else "events",
          sat(if (b1O <= b1E) nO else nE), sat(b1O.min(b1E)), sat(estEO),
          dec(b1O.min(b1E))),
        (2L, "orders.o_orderkey x lineitem.l_orderkey",
          if (b2L <= b2I) "lineitem" else "intermediate",
          sat(if (b2L <= b2I) nL else estEO), sat(b2L.min(b2I)), sat(rawOL),
          dec(b2L.min(b2I))),
        (3L, "orders.o_custkey x customer.c_custkey",
          if (b3C <= b3I) "customer" else "intermediate",
          sat(if (b3C <= b3I) nC else est2), sat(b3C.min(b3I)), sat(rawOC),
          dec(b3C.min(b3I))))
        .toDF("stage", "join_edge", "build_side", "est_build_rows",
          "est_build_bytes", "est_edge_rows", "decision")
        .crossJoin(broadcast(actual))
        .withColumn("n_broadcast_in_plan", lit(nBhj.toLong))
        .withColumn("planned_by", lit("rule-deep"))
        .orderBy(col("stage"))
    },

    GraftQuery(
      "q353_estimator_calibration",
      "Cost-model REGRESSION harness for the CatalogJoinHints estimator (r16 worklist 6a — q341's calibration doctrine applied to the RULE itself, because the classic CBO failure mode is silent estimate drift: sketches age, key distributions shift, and a planner that still trusts last month's numbers broadcasts the wrong side without anyone noticing): every cataloged join EDGE is scored est-vs-actual in one auditable frame — est_rows is the SAME CM inner product the optimizer rule stamps decisions from (CatalogJoinHints.innerProductEst over the persisted catalog, single-sourced so the audit cannot diverge from the planner), actual_rows is the executed join count, err_ppm the signed relative error (always >= 0: an unscaled CM estimate plus the h60-mod-P key fold are both one-sided over-counts — a NEGATIVE err_ppm here would mean the estimator's never-under-estimate contract itself broke), and the bound-verdict pair says whether est and truth land the SAME side of the broadcast BYTE bound (each edge joins two 8-byte key frames, so both lanes charge rows × 16) — the only bit the planner actually consumes, so verdict_agrees=0 IS the regression. The DuckDB oracle rebuilds every sketch, estimate, count and verdict from the raw tables in HUGEINT: estimator code, staged catalog and decision math are all inside the gate. Scale shape: the estimates cost 5 catalog rows; the actuals are the audit's price — four count-only equi-joins a 100 TB deployment runs as a scheduled audit job (never inline at plan time), exactly how production CBOs re-calibrate.",
      calibrationSql) { (s, d) =>
      import graft.plans.CatalogJoinHints
      val dir = statsCatalogDir(s, d)
      val st = CatalogJoinHints.stats(s, dir)
      val bound = CatalogBroadcastByteBound
      def keyFrame(rel: String): DataFrame = rel match {
        case "events.user_id" =>
          Tables.events(s, d).select(col("user_id").as("k"))
        case "orders.o_custkey" =>
          Tables.orders(s, d).select(col("o_custkey").as("k"))
        case "orders.o_orderkey" =>
          Tables.orders(s, d).select(col("o_orderkey").as("k"))
        case "lineitem.l_orderkey" =>
          Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
        case "customer.c_custkey" =>
          Tables.customer(s, d).select(col("c_custkey").as("k"))
      }
      calibrationEdges.map { case (nm, ka, kb) =>
        val est = CatalogJoinHints.innerProductEst(st, ka, kb)
        val actual = keyFrame(ka)
          .join(keyFrame(kb).withColumnRenamed("k", "k2"),
            col("k") === col("k2"))
          .agg(count(lit(1)).as("actual_rows"))
        s.range(1).select(lit(nm).as("edge"), lit(est).as("est_rows"))
          .crossJoin(broadcast(actual))
      }.reduce(_ unionAll _)
        .withColumn("err_ppm",
          // FLOOR division to match the oracle's `//` exactly (r17 ADVICE):
          // Spark's `div` truncates toward zero, DuckDB's `//` floors — they
          // diverge precisely when est < actual, i.e. the moment the
          // estimator's never-under-estimate contract breaks, which is the
          // one case this harness exists to surface cleanly. Integer floor:
          // trunc-div minus 1 when a nonzero remainder is negative
          // (actual_rows > 0 under this branch, so remainder sign = numerator
          // sign) — no decimal rounding anywhere near the boundary.
          when(col("actual_rows") === 0, lit(null).cast("long"))
            .otherwise(expr(
              """CAST((1000000 * (CAST(est_rows AS DECIMAL(38,0))
                |    - actual_rows)) div actual_rows
                |  + (CASE WHEN (1000000 * (CAST(est_rows AS DECIMAL(38,0))
                |        - actual_rows)) % actual_rows < 0
                |     THEN -1 ELSE 0 END) AS BIGINT)""".stripMargin)))
        // verdicts in BYTES: each edge joins two 8-byte key frames, so the
        // join's plan width is 16 — the same ×16 the oracle pins. DECIMAL
        // keeps a saturated est_rows from wrapping past the bound.
        .withColumn("est_verdict",
          when(col("est_rows").cast("decimal(38,0)") * 16 <= bound,
            "under_bound").otherwise("over_bound"))
        .withColumn("true_verdict",
          when(col("actual_rows").cast("decimal(38,0)") * 16 <= bound,
            "under_bound").otherwise("over_bound"))
        .withColumn("verdict_agrees",
          (col("est_verdict") === col("true_verdict")).cast("long"))
        .orderBy(col("edge"))
    },

    GraftQuery(
      "q356_estimator_upper_bound",
      "PROVEN join-size upper bounds from the SAME persisted sketches (r17 worklist 6b — the measured mitigation for the deep estimator's independence assumption): the recursive contraction factor (childEst ÷ |owner|) assumes the join key and the upward key are independently distributed, so a SCALED estimate can UNDER-count under correlated keys — which is exactly why the rule's r16 asymmetry refused to enforce broadcasts off it. This query registers the way out: for every key, min over CM depths of the row MAX bounds EVERY key's frequency (f(v) <= sketch[d][h_d(v)] <= max_c sketch[d][c] for all d — sound with no distributional assumption at all), and |A joinkey B| <= min(n_a x maxf_b, n_b x maxf_a) follows because each probe row matches at most maxf build rows, full stop. That bound CHAINS through scaled intermediates, so CatalogJoinHints now ENFORCES a broadcast whenever the chained upper bound clears the byte gate even on a scaled side (PlanSpec pins the three-rung ladder: proven-under -> enforce broadcast, estimated-under-but-unproven -> stamp nothing, over -> enforce shuffle). The audit frame scores all four cataloged edges: est (the CM inner product), upper (the frequency bound), exact actuals, both never-under bits — upper_never_under=0 would mean the SOUNDNESS argument itself broke, a strictly stronger alarm than q353's estimate drift — and the slack ppm that says how much the bound leaves on the table. The DuckDB oracle rebuilds sketches, row maxes, min-over-depths, the least() chain and every bit in HUGEINT. Scale shape: the bounds cost 5 catalog rows at plan time (maxf is a 4x1024 scan of already-staged sketches); the actuals are the audit's scheduled-job price, exactly q353's contract.",
      upperBoundSql) { (s, d) =>
      import graft.plans.CatalogJoinHints
      val dir = statsCatalogDir(s, d)
      val st = CatalogJoinHints.stats(s, dir)
      def keyFrame(rel: String): DataFrame = rel match {
        case "events.user_id" =>
          Tables.events(s, d).select(col("user_id").as("k"))
        case "orders.o_custkey" =>
          Tables.orders(s, d).select(col("o_custkey").as("k"))
        case "orders.o_orderkey" =>
          Tables.orders(s, d).select(col("o_orderkey").as("k"))
        case "lineitem.l_orderkey" =>
          Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
        case "customer.c_custkey" =>
          Tables.customer(s, d).select(col("c_custkey").as("k"))
      }
      calibrationEdges.map { case (nm, ka, kb) =>
        val (na, nb) = (st(ka)._1, st(kb)._1)
        val (mfa, mfb) = (CatalogJoinHints.maxFreqBound(st, ka),
          CatalogJoinHints.maxFreqBound(st, kb))
        val est = CatalogJoinHints.innerProductEst(st, ka, kb)
        val upper = CatalogJoinHints.toLongSat(
          (BigInt(na) * mfb).min(BigInt(nb) * mfa))
        val actual = keyFrame(ka)
          .join(keyFrame(kb).withColumnRenamed("k", "k2"),
            col("k") === col("k2"))
          .agg(count(lit(1)).as("actual_rows"))
        s.range(1).select(lit(nm).as("edge"),
            lit(na).as("n_left"), lit(nb).as("n_right"),
            lit(mfa).as("maxf_left"), lit(mfb).as("maxf_right"),
            lit(est).as("est_rows"), lit(upper).as("upper_rows"))
          .crossJoin(broadcast(actual))
      }.reduce(_ unionAll _)
        .withColumn("est_never_under",
          (col("est_rows") >= col("actual_rows")).cast("long"))
        .withColumn("upper_never_under",
          (col("upper_rows") >= col("actual_rows")).cast("long"))
        // floor division, q353's r17-ADVICE doctrine: slack is one-sided
        // by the soundness argument, but a broken bound must read as a
        // clean negative, not an off-by-one oracle mismatch
        .withColumn("upper_slack_ppm",
          when(col("actual_rows") === 0, lit(null).cast("long"))
            .otherwise(expr(
              """CAST((1000000 * (CAST(upper_rows AS DECIMAL(38,0))
                |    - actual_rows)) div actual_rows
                |  + (CASE WHEN (1000000 * (CAST(upper_rows AS DECIMAL(38,0))
                |        - actual_rows)) % actual_rows < 0
                |     THEN -1 ELSE 0 END) AS BIGINT)""".stripMargin)))
        .select(col("edge"), col("n_left"), col("n_right"),
          col("maxf_left"), col("maxf_right"), col("est_rows"),
          col("upper_rows"), col("actual_rows"), col("est_never_under"),
          col("upper_never_under"), col("upper_slack_ppm"))
        .orderBy(col("edge"))
    },

    GraftQuery(
      "q359_distinct_stats_catalog",
      "DISTINCT-COUNT statistics join the sketch catalog (r18 worklist 6a — the better-CALIBRATED counterpart to q356's sound worst-case bound): catalog v2 stages, next to each key's row count and CM sketch, a KMV bottom-256 over the key's h60-mod-P hash domain (q313's estimator — kmv_k_used/kmv_kth surfaced, nd = (k-1)*P // kth, exact below saturation), because a frequency sketch bounds MASS but says nothing about SUPPORT, and support is what the classic System-R containment estimate n_l*n_r/max(d_l,d_r) needs. The audit frame scores all four cataloged edges under BOTH estimators — est_cm (the CM inner product the rule stamps decisions from) and est_cont (the containment estimate from the new statistic) — against exact actuals with signed floor-division err ppms: CM is one-sided (never under; err_cm_ppm >= 0 is the q353 contract) while containment is unbiased-but-two-sided, and the pair tells the operator which lane to trust per edge. The RULE integration is live: CatalogJoinHints.distincts reads nd when the marked catalog carries it and raises a SCALED intermediate's estimate to max(CM-scaled, containment) — correlation between the join key and the upward key makes the contraction factor UNDER-count, and max() can only push decisions toward the memory-safe shuffle rung (the enforced-broadcast rung keys off the proven upper, untouched); PlanSpec pins the flip on a synthetic correlated catalog, and v1 catalogs (no nd column) plan exactly as before. The DuckDB oracle rebuilds hashes, KMV bottom-k, nd, both estimators and both ppms in HUGEINT. Scale shape: staging adds one distinct-shuffle + a 2k-long bottom-k per relation (KMV merges associatively — the 100 TB path is per-shard sketches merged, never a global distinct); the audit's actuals are the scheduled-job price, exactly q353's contract.",
      distinctStatsSql) { (s, d) =>
      import graft.plans.CatalogJoinHints
      val dir = statsCatalogV2Dir(s, d)
      val st = CatalogJoinHints.stats(s, dir)
      val nd = CatalogJoinHints.distincts(s, dir)
      def keyFrame(rel: String): DataFrame = rel match {
        case "events.user_id" =>
          Tables.events(s, d).select(col("user_id").as("k"))
        case "orders.o_custkey" =>
          Tables.orders(s, d).select(col("o_custkey").as("k"))
        case "orders.o_orderkey" =>
          Tables.orders(s, d).select(col("o_orderkey").as("k"))
        case "customer.c_custkey" =>
          Tables.customer(s, d).select(col("c_custkey").as("k"))
        case "lineitem.l_orderkey" =>
          Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
      }
      // plain truncating div on BOTH lanes: measured this round, DuckDB's
      // `//` on INTEGER operands truncates toward zero exactly like
      // Spark's `div` (-7 // 2 = -3; the flooring behavior is double-only)
      // — so the two-sided containment ppm needs no floor correction, and
      // adding one would DIVERGE on negative errors
      def ppm(estCol: String) =
        when(col("actual_rows") === 0, lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST((1000000 * (CAST($estCol AS DECIMAL(38,0))
               |    - actual_rows)) div actual_rows AS BIGINT)""".stripMargin))
      calibrationEdges.map { case (nm, ka, kb) =>
        val (na, nb) = (st(ka)._1, st(kb)._1)
        val (da, db) = (nd(ka), nd(kb))
        val estCm = CatalogJoinHints.innerProductEst(st, ka, kb)
        val estCont = CatalogJoinHints.toLongSat(
          BigInt(na) * BigInt(nb) / BigInt(da.max(db)))
        val actual = keyFrame(ka)
          .join(keyFrame(kb).withColumnRenamed("k", "k2"),
            col("k") === col("k2"))
          .agg(count(lit(1)).as("actual_rows"))
        s.range(1).select(lit(nm).as("edge"),
            lit(na).as("n_left"), lit(nb).as("n_right"),
            lit(da).as("nd_left"), lit(db).as("nd_right"),
            lit(estCm).as("est_cm_rows"), lit(estCont).as("est_cont_rows"))
          .crossJoin(broadcast(actual))
      }.reduce(_ unionAll _)
        .withColumn("err_cm_ppm", ppm("est_cm_rows"))
        .withColumn("err_cont_ppm", ppm("est_cont_rows"))
        .select(col("edge"), col("n_left"), col("n_right"),
          col("nd_left"), col("nd_right"), col("est_cm_rows"),
          col("est_cont_rows"), col("actual_rows"), col("err_cm_ppm"),
          col("err_cont_ppm"))
        .orderBy(col("edge"))
    },

    GraftQuery(
      "q313_kmv_set_intersection",
      "Distinct-set INTERSECTION from two KMV sketches (Beyer et al., the set-algebra payoff q308's estimator buys): how many distinct users both viewed AND purchased, answered from two 256-hash sketches instead of a distinct-⋈-distinct over the full shards — the audience-overlap question every 100 TB event store fields daily, where the exact answer costs a corpus-wide distinct join but the sketch answer costs |2k| merged longs. Validity hinge (and why bottom-k composes where HLL can't): K = bottom-k of the MERGED sketches is exactly the bottom-k of A∪B, and any member of K that belongs to A must already sit in A's sketch (kth_min(K) <= kth_min(kA)), so intersection membership is decidable INSIDE the sketches — rho = |K ∩ kA ∩ kB|, est = rho*est_union/k. FULLY hash-gated: sketches, rho, both estimates and err_ppm are bit-identical in DuckDB; the exact hash-domain intersection from the same scan is the labeled calibration tier.",
      s"""WITH ev AS (SELECT event_type AS et,
        |    ${h60Sql("CAST(user_id AS VARCHAR)")} % 1000000007 AS hs
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |r AS (SELECT et, hs,
        |    row_number() OVER (PARTITION BY et ORDER BY hs) AS rk FROM ev),
        |ka AS (SELECT hs FROM r WHERE et = 'view' AND rk <= 256),
        |kb AS (SELECT hs FROM r WHERE et = 'purchase' AND rk <= 256),
        |uk AS (SELECT hs, row_number() OVER (ORDER BY hs) AS rk
        |  FROM (SELECT hs FROM ka UNION SELECT hs FROM kb)),
        |kset AS (SELECT hs FROM uk WHERE rk <= 256),
        |stats AS (SELECT count(*) AS k_used, max(hs) AS kth FROM kset),
        |rho AS (SELECT count(*) AS rho FROM kset k
        |  JOIN ka ON k.hs = ka.hs JOIN kb ON k.hs = kb.hs),
        |exact AS (SELECT count(*) AS exact_inter
        |  FROM (SELECT hs FROM ev WHERE et = 'view') a
        |  JOIN (SELECT hs FROM ev WHERE et = 'purchase') b USING (hs)),
        |est AS (SELECT k_used, kth, rho,
        |    CASE WHEN k_used < 256 THEN k_used
        |         ELSE 255000001785 // kth END AS est_union,
        |    CASE WHEN k_used < 256 THEN rho
        |         ELSE rho * (255000001785 // kth) // 256 END AS est_inter
        |  FROM stats, rho)
        |SELECT CAST(k_used AS BIGINT) AS k_used,
        |  CAST(kth AS BIGINT) AS kth_min,
        |  CAST(est_union AS BIGINT) AS est_union,
        |  CAST(rho AS BIGINT) AS rho,
        |  CAST(est_inter AS BIGINT) AS est_inter,
        |  CAST(exact_inter AS BIGINT) AS exact_inter,
        |  CAST(CASE WHEN exact_inter > 0
        |       THEN est_inter * 1000000 // exact_inter - 1000000
        |       ELSE 0 END AS BIGINT) AS err_ppm
        |FROM est, exact""".stripMargin) { (s, d) =>
      val k = 256
      val p = Dedup.P
      val eNum = (k - 1).toLong * p // (k-1)*P, precomputed against overflow
      // one distinct shuffle of (event_type, hs) feeds sketches AND exact
      val ev = graft.util.CacheOnce.persistForOneAction(
        Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("event_type").as("et"),
            (h60(col("user_id").cast("string")) % p).as("hs"))
          .distinct())
      def sketch(et: String) = ev.filter(col("et") === et)
        .agg(graft.functions.GraftFunctions
          .topKAgg(-col("hs"), col("hs"), k).as("mins"))
        .select(explode(col("mins")).as("m"))
        .select(col("m.payload").as("hs"))
      val ka = sketch("view")
      val kb = sketch("purchase")
      // merged bottom-k over the <=2k union — a driver-free tiny frame
      val uk = ka.unionAll(kb).distinct()
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("hs"))))
      val kset = uk.filter(col("rk") <= k).select(col("hs"))
      val stats = kset.agg(count(lit(1)).as("k_used"), max(col("hs")).as("kth"))
      val rho = kset.join(ka, "hs").join(kb, "hs")
        .agg(count(lit(1)).as("rho"))
      val exact = ev.filter(col("et") === "view").select(col("hs"))
        .join(ev.filter(col("et") === "purchase").select(col("hs")), "hs")
        .agg(count(lit(1)).as("exact_inter"))
      stats.crossJoin(rho).crossJoin(exact)
        .withColumn("est_union",
          when(col("k_used") < k, col("k_used"))
            .otherwise(expr(s"${eNum}L div kth")))
        .withColumn("est_inter",
          when(col("k_used") < k, col("rho"))
            .otherwise(expr(s"rho * (${eNum}L div kth) div $k")))
        .select(col("k_used"), col("kth").as("kth_min"),
          col("est_union"), col("rho"), col("est_inter"), col("exact_inter"),
          when(col("exact_inter") > 0,
            expr("est_inter * 1000000 div exact_inter - 1000000"))
            .otherwise(lit(0L)).as("err_ppm"))
    },

    GraftQuery(
      "q316_bm25_retrieval",
      "BM25 ranked retrieval (Robertson-Sparck Jones, k1=1.2 b=0.75) — q167's tf-idf upgraded to the saturating, length-normalized scorer every production search stack actually runs, in EXACT integer arithmetic: with T = total tokens and N = docs, the per-term score idf·tf(k1+1)/(tf + k1(1-b+b·dl·N/T)) clears denominators to idf_ppm·88·T·tf / (40·T·tf + 12·T + 36·dl·N) — one integer floor-division per (doc, term) on the DECIMAL(38,0)/HUGEINT lane, so term saturation (diminishing repeats) and length normalization (long docs stop winning by volume) are bit-identical across engines. Per-doc length dl = size of the token array (computed in the row, NO extra shuffle); only the three query terms' postings move (q150/q167 pruning doctrine); idf stays the log-free (N-df)/N ppm variant. Top-15 docs by total (score, id) order.",
      s"""WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        |g AS (SELECT CAST(sum(dl) AS BIGINT) AS tt, count(*) AS n FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |q AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |  WHERE tok IN ('table', 'hash', 'vector') GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY tok),
        |sc AS (SELECT q.doc_id,
        |    CAST(sum(CAST((1000000 * (g.n - df.df)) // g.n AS HUGEINT)
        |          * 88 * g.tt * q.tf
        |        // (CAST(40 AS HUGEINT) * g.tt * q.tf + 12 * g.tt
        |           + 36 * dl.dl * g.n)) AS BIGINT) AS score
        |  FROM q JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN g
        |  GROUP BY q.doc_id)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
      val terms = Seq("table", "hash", "vector")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      // per-doc length rides the row — no shuffle to learn dl; persisted
      // because it feeds BOTH the corpus totals and the per-doc join
      val dl = graft.util.CacheOnce.persistForOneAction(
        docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl")))
      val g = dl.agg(sum(col("dl")).as("tt"), count(lit(1)).as("n"))
      val q = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(terms: _*)) // only query-term postings move
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = q.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
      q.join(broadcast(df), "tok").join(dl, "doc_id").crossJoin(broadcast(g))
        .selectExpr("doc_id",
          """CAST(CAST((1000000 * (n - df)) div n AS DECIMAL(38,0))
            |  * 88 * tt * tf
            |  div (CAST(40 AS DECIMAL(38,0)) * tt * tf + 12 * tt
            |       + 36 * dl * n) AS BIGINT) AS term_score""".stripMargin)
        .groupBy(col("doc_id"))
        .agg(sum(col("term_score")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    },

    GraftQuery(
      "q323_tv_distance",
      "Total-variation distance between each language's unigram distribution and the whole corpus — the mixture-drift gauge a corpus curator reads before reweighting (TV = ½Σ|p_t − q_t| is THE distance whose value bounds how differently any classifier can behave on the two mixes), in EXACT integer arithmetic: TV_ppm = ⌊10⁶·(Σ_{t∈lang}|c_t·N − C_t·n| + n·(N − Σ_{t∈lang}C_t)) / (2·n·N)⌋ on the DECIMAL(38,0)/HUGEINT lane. The second term folds every token ABSENT from the language in closed form — the per-language join touches only tokens the language actually has (one (lang,tok) census + one vocab-keyed join), never the |langs|×|vocab| cross frame a naive Σ over the full vocabulary would build at 100 TB. ONE tokenize pass: the corpus marginal re-aggregates the per-language census, the text is never re-read.",
      """WITH tok AS (SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cen AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |nl AS (SELECT lang, CAST(sum(c) AS HUGEINT) AS n FROM cen GROUP BY lang),
        |ct AS (SELECT tok, CAST(sum(c) AS HUGEINT) AS ctot FROM cen GROUP BY tok),
        |nc AS (SELECT CAST(sum(n) AS HUGEINT) AS nc FROM nl),
        |agg AS (SELECT cen.lang,
        |    CAST(sum(abs(CAST(cen.c AS HUGEINT) * nc.nc - ct.ctot * nl.n)) AS HUGEINT) AS s1,
        |    CAST(sum(ct.ctot) AS HUGEINT) AS sl
        |  FROM cen JOIN ct USING (tok) JOIN nl USING (lang) CROSS JOIN nc
        |  GROUP BY cen.lang)
        |SELECT agg.lang, CAST(nl.n AS BIGINT) AS n_tokens,
        |  CAST(1000000 * (s1 + nl.n * (nc.nc - sl)) // (2 * nl.n * nc.nc) AS BIGINT) AS tv_ppm
        |FROM agg JOIN nl USING (lang) CROSS JOIN nc
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val cen = graft.util.CacheOnce.persistForOneAction(
        Tables.documents(s, d)
          .select(col("lang"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c")))
      val nl = cen.groupBy(col("lang")).agg(sum(col("c")).cast(dec).as("n"))
      val ct = cen.groupBy(col("tok")).agg(sum(col("c")).cast(dec).as("ctot"))
      val nc = nl.agg(sum(col("n")).cast(dec).as("nc"))
      cen.join(ct, "tok").join(broadcast(nl), "lang").crossJoin(broadcast(nc))
        .groupBy(col("lang"))
        .agg(sum(abs(col("c").cast(dec) * col("nc") - col("ctot") * col("n")))
          .cast(dec).as("s1"),
          sum(col("ctot")).cast(dec).as("sl"))
        .join(broadcast(nl), "lang").crossJoin(broadcast(nc))
        .selectExpr("lang", "CAST(n AS BIGINT) AS n_tokens",
          """CAST(1000000 * (s1 + n * (nc - sl)) div (2 * n * nc) AS BIGINT)
            |  AS tv_ppm""".stripMargin)
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q327_rater_agreement",
      "Cohen's kappa inter-rater agreement — the labeling-pipeline QA statistic that discounts agreement-by-chance (raw percent-agreement is inflated whenever labels are imbalanced; kappa subtracts what two independent coin-flippers with the same marginals would score): two deterministic document-quality raters — A: n_chars ≥ 300 (the metadata length rule), B: token count ≥ 55 (the tokenizer's view of the same construct) — produce a 2×2 confusion census, and κ = (N·Σdiag − Σ a_i·b_i)/(N² − Σ a_i·b_i) ships in exact ppm via DECIMAL(38,0) cross-multiplication (po and pe never materialize as floats) — floor-divided through the offset-positive pattern (κ ≥ −1, so +1e6·den then −1e6 keeps Spark's truncating `div` and DuckDB's flooring `//` bit-identical even when the raters disagree MORE than chance and κ goes negative), with the pe = 1 degenerate census (all mass in one diagonal cell — the denominator vanishes) pinned to κ = 1 by convention. One scan, a 4-row census, constant-size everything after — at 100 TB the entire cost is the map pass that rates in-row.",
      """WITH r AS (SELECT
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) >= 55 THEN 1 ELSE 0 END AS rb
        |  FROM documents),
        |cm AS (SELECT
        |    CAST(count(*) FILTER (WHERE ra = 0 AND rb = 0) AS HUGEINT) AS n00,
        |    CAST(count(*) FILTER (WHERE ra = 0 AND rb = 1) AS HUGEINT) AS n01,
        |    CAST(count(*) FILTER (WHERE ra = 1 AND rb = 0) AS HUGEINT) AS n10,
        |    CAST(count(*) FILTER (WHERE ra = 1 AND rb = 1) AS HUGEINT) AS n11
        |  FROM r),
        |k AS (SELECT n00, n01, n10, n11,
        |    (n00 + n01 + n10 + n11) * (n00 + n11)
        |      - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) AS num,
        |    (n00 + n01 + n10 + n11) * (n00 + n01 + n10 + n11)
        |      - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) AS den
        |  FROM cm)
        |SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
        |  CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
        |  CAST(CASE WHEN den = 0 THEN 1000000
        |       ELSE (1000000 * num + 1000000 * den) // den - 1000000
        |       END AS BIGINT) AS kappa_ppm
        |FROM k""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      Tables.documents(s, d)
        .select(
          when(col("n_chars") >= 300, 1).otherwise(0).as("ra"),
          when(size(tokens(col("text"))) >= 55, 1).otherwise(0).as("rb"))
        .agg(
          sum(when(col("ra") === 0 && col("rb") === 0, 1L).otherwise(0L))
            .cast(dec).as("n00"),
          sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L))
            .cast(dec).as("n01"),
          sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L))
            .cast(dec).as("n10"),
          sum(when(col("ra") === 1 && col("rb") === 1, 1L).otherwise(0L))
            .cast(dec).as("n11"))
        // kappa = (po - pe)/(1 - pe) with po,pe cleared to the common
        // N² denominator: (N·Σdiag − Σmarg)/(N² − Σmarg), all integer
        .selectExpr("n00", "n01", "n10", "n11",
          """(n00 + n01 + n10 + n11) * (n00 + n11)
            |  - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
            |  AS num""".stripMargin,
          """(n00 + n01 + n10 + n11) * (n00 + n01 + n10 + n11)
            |  - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11))
            |  AS den""".stripMargin)
        .selectExpr("CAST(n00 AS BIGINT) AS n00", "CAST(n01 AS BIGINT) AS n01",
          "CAST(n10 AS BIGINT) AS n10", "CAST(n11 AS BIGINT) AS n11",
          // kappa is NEGATIVE whenever the raters disagree more than chance,
          // and Spark `div` truncates toward zero while DuckDB `//` floors —
          // they agree only on non-negatives, so offset by +1e6·den first
          // (kappa >= -1 bounds the shift) and subtract 1e6 after. den = 0
          // iff all mass sits in one DIAGONAL cell (marginals saturate) —
          // then po = 1 and kappa is 1 by the standard convention.
          """CAST(CASE WHEN den = 0 THEN 1000000
            |     ELSE (1000000 * num + 1000000 * den) div den - 1000000
            |     END AS BIGINT) AS kappa_ppm""".stripMargin)
    },

    GraftQuery(
      "q328_rrf_fusion",
      "Reciprocal-rank fusion of two retrieval runs — the zero-training ensemble every hybrid search stack ships (BM25 ⊕ dense, here BM25 ⊕ raw term-frequency: two rankers that disagree exactly where saturation and length normalization matter, which is what makes the fusion visible): each ranker contributes ⌊10⁶/(60+rank)⌋ integer points for a document it places in its top 64, absent-from-one-list documents keep the other list's points (the standard RRF union), fused top-10 by (score, id). Scale shape: candidate scoring is postings-pruned (only query-term rows move), each top-64 is a TakeOrdered reduction — NOT a global window over the candidate set — and the rank windows run on the two 64-row frames; the fusion join is 64⋈64. k=60 is the Cormack-Clarke constant.",
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        |g AS (SELECT CAST(sum(dl) AS BIGINT) AS tt, count(*) AS n FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |q AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |  WHERE tok IN ('table', 'hash', 'vector') GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY tok),
        |sc AS (SELECT q.doc_id,
        |    CAST(sum(CAST((1000000 * (g.n - df.df)) // g.n AS HUGEINT)
        |          * 88 * g.tt * q.tf
        |        // (CAST(40 AS HUGEINT) * g.tt * q.tf + 12 * g.tt
        |           + 36 * dl.dl * g.n)) AS BIGINT) AS score
        |  FROM q JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN g
        |  GROUP BY q.doc_id),
        |ta AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |  FROM sc ORDER BY score DESC, doc_id LIMIT 64),
        |tfs AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tfscore
        |  FROM q GROUP BY doc_id),
        |tb AS (SELECT doc_id, row_number() OVER (ORDER BY tfscore DESC, doc_id) AS r
        |  FROM tfs ORDER BY tfscore DESC, doc_id LIMIT 64),
        |f AS (SELECT coalesce(ta.doc_id, tb.doc_id) AS doc_id,
        |    CAST(coalesce(ta.r, 0) AS BIGINT) AS rank_bm25,
        |    CAST(coalesce(tb.r, 0) AS BIGINT) AS rank_tf,
        |    CAST(coalesce(1000000 // (60 + ta.r), 0)
        |       + coalesce(1000000 // (60 + tb.r), 0) AS BIGINT) AS rrf_ppm
        |  FROM ta FULL JOIN tb ON ta.doc_id = tb.doc_id)
        |SELECT doc_id, rank_bm25, rank_tf, rrf_ppm FROM f
        |ORDER BY rrf_ppm DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val terms = Seq("table", "hash", "vector")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val dl = graft.util.CacheOnce.persistForOneAction(
        docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl")))
      val g = dl.agg(sum(col("dl")).as("tt"), count(lit(1)).as("n"))
      val q = graft.util.CacheOnce.persistForOneAction(
        docs.select(col("doc_id"), explode(col("toks")).as("tok"))
          .filter(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
      val df = q.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
      val bm25 = q.join(broadcast(df), "tok").join(dl, "doc_id")
        .crossJoin(broadcast(g))
        .selectExpr("doc_id",
          """CAST(CAST((1000000 * (n - df)) div n AS DECIMAL(38,0))
            |  * 88 * tt * tf
            |  div (CAST(40 AS DECIMAL(38,0)) * tt * tf + 12 * tt
            |       + 36 * dl * n) AS BIGINT) AS term_score""".stripMargin)
        .groupBy(col("doc_id"))
        .agg(sum(col("term_score")).as("score"))
      // top-64 FIRST (TakeOrdered — a per-partition heap + tiny merge),
      // THEN rank the 64-row frame; never a rank window over all candidates
      val wa = Window.orderBy(col("score").desc, col("doc_id"))
      val ta = bm25.orderBy(col("score").desc, col("doc_id")).limit(64)
        .withColumn("r", row_number().over(wa)).select(col("doc_id"), col("r"))
      val tfs = q.groupBy(col("doc_id")).agg(sum(col("tf")).as("tfscore"))
      val wb = Window.orderBy(col("tfscore").desc, col("doc_id"))
      val tb = tfs.orderBy(col("tfscore").desc, col("doc_id")).limit(64)
        .withColumn("r", row_number().over(wb)).select(col("doc_id"), col("r"))
      ta.select(col("doc_id"), col("r").as("ra"))
        .join(tb.select(col("doc_id"), col("r").as("rb")), Seq("doc_id"),
          "full_outer")
        .selectExpr("doc_id",
          "CAST(coalesce(ra, 0) AS BIGINT) AS rank_bm25",
          "CAST(coalesce(rb, 0) AS BIGINT) AS rank_tf",
          """CAST(coalesce(1000000 div (60 + ra), 0)
            |   + coalesce(1000000 div (60 + rb), 0) AS BIGINT) AS rrf_ppm"""
            .stripMargin)
        .orderBy(col("rrf_ppm").desc, col("doc_id"))
        .limit(10)
    },

    GraftQuery(
      "q330_boilerplate_ngrams",
      "Boilerplate n-gram census — the C4-style template detector (navigation chrome, licence footers, form letters surface as long n-grams shared VERBATIM across documents, which per-doc quality scores can't see): distinct 4-gram shingles per doc (distinct-per-doc first, so a phrase repeated inside one doc counts once — df measures CROSS-document spread), document-frequency census, keep df ≥ 3, top-20 by (df, gram) with each gram's share of the corpus in exact ppm. Scale shape: the shingle explode is per-doc local, the df census is ONE map-side-combinable groupBy over postings, and the threshold prunes before the top-k heap — at 100 TB the df cutoff is exactly what bounds the survivor frame (q185's declared-cutoff doctrine).",
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM t),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 3),
        |      i -> array_to_string(toks[i:i+3], ' '))) AS gram
        |  FROM t WHERE len(toks) >= 4),
        |c AS (SELECT gram, count(*) AS df FROM sh GROUP BY gram)
        |SELECT gram, CAST(df AS BIGINT) AS df,
        |  CAST(1000000 * df // n_docs AS BIGINT) AS doc_share_ppm
        |FROM c CROSS JOIN n WHERE df >= 3
        |ORDER BY df DESC, gram LIMIT 20""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val n = t.agg(count(lit(1)).as("n_docs"))
      val c = t.select(col("doc_id"),
          explode(array_distinct(shingles(col("toks"), 4))).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3)
      c.crossJoin(broadcast(n))
        .selectExpr("gram", "CAST(df AS BIGINT) AS df",
          "CAST(1000000 * df div n_docs AS BIGINT) AS doc_share_ppm")
        .orderBy(col("df").desc, col("gram"))
        .limit(20)
    },

    GraftQuery(
      "q332_repetition_score",
      "Within-document repetition score — the degenerate-text filter (stuck decoders, scraped keyword stuffing and template spam all show REPEATED n-grams inside one document long before any cross-doc signal): per doc, distinct 3-grams over total 3-grams in exact ppm (1e6 = no repetition at all), then the per-language census — doc count, mean (floor of exact integer sums), min and max. Both gram counts are computed IN the row (two array kernels, no explode, no shuffle); the only shuffle is the |langs|-row final census. The min column is the dashboard number: the worst offender per language.",
      """WITH t AS (SELECT lang, list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (SELECT lang,
        |    CAST(1000000 * len(list_distinct(list_transform(
        |        generate_series(1, len(toks) - 2),
        |        i -> array_to_string(toks[i:i+2], ' '))))
        |      // greatest(len(toks) - 2, 1) AS BIGINT) AS rep_ppm
        |  FROM t)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(rep_ppm) // count(*) AS BIGINT) AS mean_rep_ppm,
        |  min(rep_ppm) AS min_rep_ppm, max(rep_ppm) AS max_rep_ppm
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), tokens(col("text")).as("toks"))
        .select(col("lang"),
          (lit(1000000L) * size(array_distinct(shingles(col("toks"), 3))))
            .cast("long").as("dn"),
          greatest(size(col("toks")) - 2, lit(1)).cast("long").as("tn"))
        .selectExpr("lang", "CAST(dn div tn AS BIGINT) AS rep_ppm")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(rep_ppm) div count(*) AS BIGINT)").as("mean_rep_ppm"),
          min(col("rep_ppm")).as("min_rep_ppm"),
          max(col("rep_ppm")).as("max_rep_ppm"))
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q343_bpe_trainer",
      s"The FULL multi-round BPE trainer — q121 learns merge #1; this runs the actual training loop for $BpeRounds rounds, each round (1) counting adjacent SYMBOL pairs over the (word, freq) vocabulary weighted by frequency, (2) electing the merge under the total (count DESC, pair ASC) order, and (3) APPLYING it greedily left-to-right, non-overlapping (the standard apply: 'aaaa' under (a,a) → [aa,aa], 'aaa' → [aa,a]) — so round 2 counts pairs over MERGED symbols, which is what makes it a trainer rather than $BpeRounds independent censuses. The apply is a per-word sequential fold, expressed engine-natively twice: Spark runs it as a codegen `aggregate` HOF with (emitted, carry) struct state over each word's symbol array — embarrassingly parallel, vocab-sized, no shuffle — while the oracle unrolls the SAME greedy semantics as gaps-and-islands SQL (match runs via i − row_number, odd-parity keeps, boundary emit suppression) per round, the LPA-unroll doctrine applied to tokenizer training. The elected rule rides a 1-row BROADCAST frame into the next round's fold — never a driver collect. Scale shape: after the one corpus-wide (word → freq) reduction every round is vocab-bounded (pair census + argmax + map-side fold), the exact property that makes BPE trainable at 100 TB; rounds localCheckpoint like every iterative loop here.",
      bpeTrainerSql) { (s, d) =>
      bpeTrain(s, d)._2.reduce(_ unionAll _).orderBy(col("round"))
    },

    GraftQuery(
      "q347_bpe_roundtrip",
      s"The BPE arc CLOSED — train → apply → evaluate in one query (the r14 verdict's learned-tokenizer round trip): q343's $BpeRounds-round trainer runs unchanged (same shared loop, same merge elections), its final vocabulary — every word's trained symbol decomposition — then joins the PER-LANGUAGE word-frequency census (the apply is word-deterministic, so the corpus-wide application is exactly the vocab join weighted by frequency: nothing re-tokenizes, the one corpus scan the evaluation adds is the per-lang census itself), and the evaluation ships the numbers a tokenizer team actually gates on, per language, in exact integers: word/token/char/symbol mass, compression_ppm (symbols per char — the pre-merge baseline is 1e6 by construction, every merge moves it down) and merged_mass_ppm (how much of the emitted stream the learned merges cover — q129's OOV question inverted: a subword vocab has no OOV, so coverage becomes HOW MUCH of the corpus the learned units absorb). The merges are trained GLOBALLY but evaluated per-lang, surfacing exactly the mono-lingual bias a shared tokenizer develops on skewed mixtures. All ratios floor-divide on the DECIMAL(38,0)/HUGEINT lane, same step order both engines.",
      bpeRoundtripSql) { (s, d) =>
      val wfFinal = bpeTrain(s, d)._1
      // per-language (word, freq) census — the one corpus scan this adds
      val wl = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("f"))
      wl.join(wfFinal.select(col("w"), col("syms")), "w")
        .select(col("lang"), col("f"),
          length(col("w")).cast("long").as("nch"),
          size(col("syms")).cast("long").as("nsym"),
          size(filter(col("syms"), x => length(x) > 1))
            .cast("long").as("nmerged"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("f")).as("n_tokens"),
          expr("CAST(sum(CAST(f AS DECIMAL(38,0)) * nch) AS BIGINT)")
            .as("n_chars"),
          expr("CAST(sum(CAST(f AS DECIMAL(38,0)) * nsym) AS BIGINT)")
            .as("n_symbols"),
          expr("CAST(sum(CAST(f AS DECIMAL(38,0)) * nmerged) AS BIGINT)")
            .as("n_merged"))
        .selectExpr("lang", "n_words", "n_tokens", "n_chars", "n_symbols",
          """CAST(1000000 * CAST(n_symbols AS DECIMAL(38,0))
            |  div n_chars AS BIGINT) AS compression_ppm""".stripMargin,
          """CAST(1000000 * CAST(n_merged AS DECIMAL(38,0))
            |  div greatest(n_symbols, 1) AS BIGINT) AS merged_mass_ppm"""
            .stripMargin)
        .orderBy(col("lang"))
    }
  )

  /** The q343 training loop, shared with q347's round trip: corpus →
    * (word, freq, one-char syms) once, then [[BpeRounds]] rounds of
    * (vocab-bounded pair census → total-order merge election → greedy
    * left-to-right fold apply). Returns the final vocabulary frame
    * (w, f, syms) and the per-round 1-row rule frames (round, a, b, n). */
  private def bpeTrain(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    // corpus → (word, freq) once; every round after is vocab-bounded
    val wf0 = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // initial symbols: one char each (mirrored substr both engines —
      // Spark's split(w, "") keeps a trailing empty match, so it is NOT
      // the twin of DuckDB's string_split)
      .select(col("w"), col("f"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
    var wf = wf0.localCheckpoint()
    val ruleFrames = (1 to BpeRounds).map { r =>
      // pair census over CURRENT symbols, weighted by word freq; argmax
      // under (n DESC, a, b) — the census is vocab-sized, the sort tiny
      val rule = wf.filter(size(col("syms")) >= 2)
        .select(col("f"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("n"))
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(1)
        .localCheckpoint() // consumed twice (apply + output); 1 row
      // greedy left-to-right apply as a fold: state = (emitted, carry);
      // carry==a meeting x==b emits the merged symbol and clears carry,
      // so an emitted merge can never chain within the round
      val st = (acc: org.apache.spark.sql.Column,
                x: org.apache.spark.sql.Column) =>
        when(acc.getField("carry").isNull,
          struct(acc.getField("res").as("res"), x.as("carry")))
          .when(acc.getField("carry") === col("a") && x === col("b"),
            struct(concat(acc.getField("res"),
              array(concat(col("a"), col("b")))).as("res"),
              lit(null).cast("string").as("carry")))
          .otherwise(struct(
            concat(acc.getField("res"), array(acc.getField("carry")))
              .as("res"), x.as("carry")))
      wf = wf.crossJoin(broadcast(rule))
        .select(col("w"), col("f"), aggregate(
          col("syms"),
          struct(array().cast("array<string>").as("res"),
            lit(null).cast("string").as("carry")),
          st,
          acc => when(acc.getField("carry").isNull, acc.getField("res"))
            .otherwise(concat(acc.getField("res"),
              array(acc.getField("carry"))))).as("syms"))
        .localCheckpoint()
      rule.select(lit(r).cast("long").as("round"), col("a"), col("b"),
        col("n"))
    }
    (wf, ruleFrames)
  }

  /** Fixed BPE training rounds — shared by the Spark loop and the unrolled
    * oracle chain. */
  val BpeRounds = 4

  /** Unrolled DuckDB twin of the BPE training loop: per round, a pair
    * census + (count DESC, pair ASC) argmax, then the greedy
    * left-to-right non-overlapping apply as gaps-and-islands SQL — match
    * flags, run ids via i − row_number, odd-parity keeps within each run
    * (the fold's 'carry consumed' twin), boundary emit suppression via
    * lag(kept). Every multi-use CTE is MATERIALIZED (the k-core lesson:
    * inlined multi-reference CTEs re-evaluate the chain exponentially). */
  private def bpeTrainerSql: String =
    s"""WITH $bpeChainCtes
       |${(1 to BpeRounds)
          .map(r => s"SELECT $r AS round, a, b, n FROM rule$r")
          .mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin

  /** q347's oracle: the SAME unrolled training chain, its final vocabulary
    * (w$BpeRounds) joined to a per-language word-frequency census, ratios
    * floor-divided on the HUGEINT lane in the Spark side's step order. */
  private def bpeRoundtripSql: String =
    s"""WITH $bpeChainCtes,
       |tl AS (SELECT lang, list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> x <> '') AS toks FROM documents),
       |wl AS (SELECT lang, w, count(*) AS f
       |  FROM (SELECT lang, unnest(toks) AS w FROM tl) x GROUP BY 1, 2),
       |j AS (SELECT wl.lang, wl.f, length(wl.w) AS nch,
       |    len(wv.syms) AS nsym,
       |    len(list_filter(wv.syms, s -> length(s) > 1)) AS nmerged
       |  FROM wl JOIN w$BpeRounds wv ON wl.w = wv.w),
       |g AS (SELECT lang, count(*) AS n_words,
       |    CAST(sum(f) AS BIGINT) AS n_tokens,
       |    CAST(sum(CAST(f AS HUGEINT) * nch) AS BIGINT) AS n_chars,
       |    CAST(sum(CAST(f AS HUGEINT) * nsym) AS BIGINT) AS n_symbols,
       |    CAST(sum(CAST(f AS HUGEINT) * nmerged) AS BIGINT) AS n_merged
       |  FROM j GROUP BY lang)
       |SELECT lang, n_words, n_tokens, n_chars, n_symbols,
       |  CAST(1000000 * CAST(n_symbols AS HUGEINT) // n_chars AS BIGINT)
       |    AS compression_ppm,
       |  CAST(1000000 * CAST(n_merged AS HUGEINT)
       |    // greatest(n_symbols, 1) AS BIGINT) AS merged_mass_ppm
       |FROM g ORDER BY lang""".stripMargin

  /** The unrolled training chain's CTE body (t, w0, rule/apply per round),
    * shared by the q343 and q347 oracles. */
  private def bpeChainCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      val p = r - 1
      s"""rule$r AS MATERIALIZED (SELECT a, b, n FROM (
         |    SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(f) AS BIGINT) AS n
         |    FROM w$p, LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |    GROUP BY 1, 2) z ORDER BY n DESC, a, b LIMIT 1),
         |sy$r AS (SELECT w, f, i, syms[i] AS s,
         |    CASE WHEN i < len(syms) AND syms[i] = (SELECT a FROM rule$r)
         |              AND syms[i + 1] = (SELECT b FROM rule$r)
         |         THEN 1 ELSE 0 END AS m
         |  FROM w$p, LATERAL unnest(generate_series(1, len(syms))) AS u(i)),
         |k$r AS (SELECT *, CASE WHEN m = 1 AND
         |      (row_number() OVER (PARTITION BY w, m, grp ORDER BY i)) % 2 = 1
         |    THEN 1 ELSE 0 END AS kept
         |  FROM (SELECT *, i - row_number() OVER (PARTITION BY w, m ORDER BY i)
         |          AS grp FROM sy$r) z),
         |e$r AS (SELECT w, f, i,
         |    CASE WHEN kept = 1 THEN s || (SELECT b FROM rule$r) ELSE s END AS sym,
         |    CASE WHEN coalesce(lag(kept) OVER (PARTITION BY w ORDER BY i), 0) = 1
         |         THEN 0 ELSE 1 END AS emit
         |  FROM k$r),
         |w$r AS MATERIALIZED (SELECT w, f,
         |    list(sym ORDER BY i) FILTER (WHERE emit = 1) AS syms
         |  FROM e$r GROUP BY w, f)""".stripMargin
    }.mkString(",\n")
    s"""t AS (SELECT list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> x <> '') AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT w, count(*) AS f,
       |    list_transform(generate_series(1, length(w)),
       |      i -> substr(w, i, 1)) AS syms
       |  FROM (SELECT unnest(toks) AS w FROM t) x GROUP BY w),
       |$rounds""".stripMargin
  }
}
