package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}

/** Non-equi join surface (SURVEY.md §2.4 joins: theta/range, as-of).
  *
  * Scale notes:
  *   - range joins anchor on an equi key (user_id / p_brand) so Spark plans
  *     a shuffled hash/sort-merge join on the anchor and evaluates the range
  *     predicate as a post-join filter — never a broadcast-nested-loop over
  *     the whole fact table;
  *   - the as-of join is the union+ordered-window formulation: O(n log n)
  *     single shuffle by (user), no join blow-up at all — the formulation
  *     that survives 100 TB, vs. the naive range-join + dedup;
  *   - q125 handles the remaining case — a pure interval predicate with NO
  *     equi anchor at all — by manufacturing one: time bins sized to the
  *     interval length, so Catalyst plans a shuffled equi-join on the bin
  *     key instead of a broadcast-nested-loop over the cross product.
  */
object AdvancedJoins {

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q29_range_join",
      "Range join anchored on an equi key: pairs of events by the same user within a 5-minute window.",
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts
        | AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin) { (s, d) =>
      val a = Tables.events(s, d).select(col("user_id"), col("ts").as("ts_a"))
      val b = Tables.events(s, d).select(col("user_id").as("user_b"), col("ts").as("ts_b"))
      a.join(b,
        col("user_id") === col("user_b") &&
          col("ts_b") > col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTE"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q125_binned_interval_join",
      "Interval join with NO equi anchor (every purchase's 10-minute follow-up window counting ALL errors, any user): the naive plan is a broadcast-nested-loop over the cross product — O(n·m) comparisons that no cluster survives. The scalable rewrite bins both sides by a width equal to the interval length, so each interval overlaps at most 2 bins: explode intervals to their covered bins, equi-join points on their single bin, re-check exact containment, left-join the zero-match intervals back. Linear shuffle volume on a manufactured equi key — the binned-range-join lever.",
      """WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT ts AS ets FROM events WHERE event_type = 'error'),
        |m AS (SELECT p.event_id, count(e.ets) AS n
        |      FROM p LEFT JOIN e ON e.ets >= p.ts AND e.ets < p.ts + INTERVAL 10 MINUTE
        |      GROUP BY p.event_id)
        |SELECT event_id, CAST(n AS BIGINT) AS n_errors
        |FROM m ORDER BY event_id""".stripMargin) { (s, d) =>
      val binUs = 600L * 1000000L // bin width = interval length (10 min, µs)
      val ev = Tables.events(s, d)
      val pts = ev.filter(col("event_type") === "error")
        .selectExpr("ts AS e_ts", s"unix_micros(ts) div $binUs AS bin")
      val ivs = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      // [ts, ts+10min) spans bins b0 .. (end−1) div width — at most 2
      val exploded = ivs.selectExpr("event_id", "ts",
        s"""explode(sequence(unix_micros(ts) div $binUs,
           |  (unix_micros(ts) + ${binUs - 1}) div $binUs)) AS bin""".stripMargin)
      val matched = exploded.join(pts, Seq("bin"))
        .filter(col("e_ts") >= col("ts") &&
          col("e_ts") < col("ts") + expr("INTERVAL 10 MINUTES"))
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      ivs.select(col("event_id")).join(matched, Seq("event_id"), "left")
        .select(col("event_id"), coalesce(col("n"), lit(0L)).as("n_errors"))
        .orderBy(col("event_id"))
    },

    GraftQuery(
      "q30_asof_join",
      "As-of join via union + ordered window (scalable formulation): for every purchase, the most recent view at-or-before it by the same user.",
      """WITH u AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type = 'view' THEN ts END AS view_ts
        |  FROM events WHERE event_type IN ('view','purchase')),
        |w AS (
        |  SELECT *, max(view_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
        |  FROM u)
        |SELECT event_id, user_id, ts, last_view_ts
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          when(col("event_type") === "view", col("ts")).as("view_ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("last_view_ts", max(col("view_ts")).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("last_view_ts"))
        .orderBy(col("event_id"))
    },

    GraftQuery(
      "q31_theta_join",
      "Theta-join SEMANTICS (near-size high-price part pairs within a brand, counted) answered by histogram algebra instead of pair enumeration: parts collapse to the domain-bounded (brand, size) histogram (<= |brands| x |sizes| rows at ANY scale factor), same-size cells contribute C(n,2) and size-adjacent cells n_a*n_b, each unordered pair counted exactly once. The r10 equi-ized join was linear in SHUFFLE but still streamed every qualifying pair through the aggregate — and pair volume grows QUADRATICALLY in per-brand density (brands are a fixed-cardinality dimension, so 10x parts = ~100x pairs; the sf1 board measured exactly that). Pair-counting over the cell histogram is the q51/q159/q168 selection doctrine applied to a join: cost tracks input rows + the tiny cell frame, never the pair count. The oracle keeps the naive theta-join formulation as ground truth.",
      """SELECT a.p_brand, count(*) AS n_pairs
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand
        | AND a.p_partkey < b.p_partkey
        | AND abs(a.p_size - b.p_size) <= 2
        |WHERE a.p_retailprice > 905.0 AND b.p_retailprice > 905.0
        |GROUP BY a.p_brand
        |ORDER BY a.p_brand""".stripMargin) { (s, d) =>
      // one linear, map-side-combinable pass to the (brand, size) histogram
      val h = Tables.part(s, d).filter(col("p_retailprice") > 905.0)
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count(lit(1)).as("cnt"))
      // same-size pairs: n*(n-1)/2 (exact: the product is always even)
      val same = h.select(col("p_brand"),
        expr("cnt * (cnt - 1) div 2").as("pairs"))
      // size-adjacent pairs (0 < s' - s <= 2): n_a * n_b, the s < s' order
      // makes each cross-cell pair count once; the self-join runs on the
      // domain-bounded histogram, so it is constant-size work at any SF
      val cross = h.select(col("p_brand").as("brand_b"),
          col("p_size").as("size_b"), col("cnt").as("cnt_b"))
      val adj = h.join(cross,
          col("p_brand") === col("brand_b") &&
            col("size_b") > col("p_size") &&
            col("size_b") <= col("p_size") + 2)
        .select(col("p_brand"), (col("cnt") * col("cnt_b")).as("pairs"))
      same.unionAll(adj)
        .groupBy(col("p_brand"))
        .agg(sum(col("pairs")).cast("long").as("n_pairs"))
        .filter(col("n_pairs") > 0L)
        .orderBy(col("p_brand"))
    },

    GraftQuery(
      "q179_auto_bin_range_join",
      "The q125 interval join written NAIVELY — a pure band condition `et >= pt AND et < pt + 10min` with no equi key, the formulation Catalyst can only plan as a BroadcastNestedLoopJoin — but optimized by the engine's injected BinRangeJoin rule (graft.plans): the optimizer itself manufactures the time-bin equi key (point side projects t div W, interval side explodes its covering bins) and plans a shuffled equi-join with the band as residual. Same results, O(n+m) shuffle instead of O(n·m) scan; PlanSpec pins the no-BNLJ plan. Purchases with ≥1 error in their 10-minute window.",
      """WITH p AS (SELECT event_id, CAST(floor(epoch(ts)*1000000) AS BIGINT) AS pt
        |      FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT CAST(floor(epoch(ts)*1000000) AS BIGINT) AS et
        |      FROM events WHERE event_type = 'error')
        |SELECT p.event_id, count(*) AS n_errors
        |FROM p JOIN e ON e.et >= p.pt AND e.et < p.pt + 600000000
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin) { (s, d) =>
      graft.plans.GraftPlans.install(s)
      s.conf.set("spark.graft.binRangeJoin.width", "600000000")
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), expr("unix_micros(ts)").as("pt"))
      val e = ev.filter(col("event_type") === "error")
        .select(expr("unix_micros(ts)").as("et"))
      // the naive formulation — the rule, not the query, makes it scale
      p.join(e, col("et") >= col("pt") && col("et") < col("pt") + 600000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_errors"))
        .orderBy(col("event_id"))
    },

    GraftQuery(
      "q188_native_asof",
      "The as-of join as a FIRST-CLASS physical operator (org.apache.spark.sql.graft.AsOfJoinExec — custom LogicalPlan + SparkStrategy + SparkPlan, the §2.4(c) extension tier): each purchase picks up the user's last view at-or-before it via one hash shuffle per side (ClusteredDistribution, the SortMergeJoin contract), per-partition (key,time) sorts, and a single zipped merge walk — O(n+m), no union rewrite, no window state, unmatched rows null-extended. The declarative twin is q30; the oracle here is the direct correlated-max formulation. Output projects the tie-insensitive time value.",
      """WITH p AS (SELECT event_id, user_id AS pu,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS pt
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vu,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS vt
        |  FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.pu AS user_id, max(v.vt) AS last_view_s
        |FROM p LEFT JOIN v ON v.vu = p.pu AND v.vt <= p.pt
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.plans.GraftPlans.install(s)
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("pu"),
          unix_timestamp(col("ts")).as("pt"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), unix_timestamp(col("ts")).as("vt"))
      org.apache.spark.sql.graft.AsOfJoin(p, v, "pu", "vu", "pt", "vt")
        .select(col("event_id"), col("pu").as("user_id"),
          col("vt").as("last_view_s"))
        .orderBy(col("event_id"))
    },

    GraftQuery(
      "q169_pit_lookup",
      "Point-in-time-correct feature lookup — the feature-store join that prevents training-data leakage: each shipped lineitem is joined to the customer's SCD-2 priority regime (q120's validity intervals) EFFECTIVE AT ITS SHIP DATE, not the current one. Because the interval dim carries an equi key (custkey), Catalyst plans a shuffled equi-join with the interval containment as residual filter — never a broadcast-nested-loop; the intervals tile per customer, so each probe matches exactly one regime. Output: lineitem census per effective priority.",
      """WITH dim AS (SELECT o_custkey AS ck, o_orderpriority AS prio,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS vf,
        |    coalesce(lead(CAST(floor(epoch(o_orderdate)) AS BIGINT))
        |               OVER (PARTITION BY o_custkey
        |                     ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT), o_orderkey),
        |             253402300799) AS vt
        |  FROM orders),
        |probe AS (SELECT o.o_custkey AS ck,
        |    CAST(floor(epoch(l.l_shipdate)) AS BIGINT) AS ship_s,
        |    CAST(floor(l.l_quantity) AS BIGINT) AS qty
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT dim.prio AS effective_priority,
        |  count(*) AS n_items, CAST(sum(probe.qty) AS BIGINT) AS sum_qty
        |FROM probe JOIN dim
        |  ON probe.ck = dim.ck AND probe.ship_s >= dim.vf AND probe.ship_s < dim.vt
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val seq = Window.partitionBy(col("ck")).orderBy(col("vf"), col("o_orderkey"))
      val dim = Tables.orders(s, d)
        .select(col("o_custkey").as("ck"), col("o_orderpriority").as("prio"),
          col("o_orderkey"), unix_timestamp(col("o_orderdate")).as("vf"))
        .withColumn("vt", coalesce(lead(col("vf"), 1).over(seq), lit(253402300799L)))
        .select(col("ck"), col("prio"), col("vf"), col("vt"))
      val probe = Tables.lineitem(s, d)
        .select(col("l_orderkey"), unix_timestamp(col("l_shipdate")).as("ship_s"),
          floor(col("l_quantity")).cast("long").as("qty"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey").as("pck")),
          col("l_orderkey") === col("o_orderkey"))
      // equi on custkey carries the shuffle; interval containment is a
      // residual filter — exactly one regime matches (the intervals tile)
      probe.join(dim,
          col("pck") === col("ck") &&
            col("ship_s") >= col("vf") && col("ship_s") < col("vt"))
        .groupBy(col("prio").as("effective_priority"))
        .agg(count(lit(1)).as("n_items"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("effective_priority"))
    },

    GraftQuery(
      "q211_nearest_asof",
      "NEAREST-direction as-of join with tolerance (pandas merge_asof direction='nearest'): each purchase matches the same user's temporally CLOSEST error within ±60 minutes — either direction, ties to the earlier event — completing the as-of family (q30 backward, q188 native backward). The user key carries the shuffle (an ordinary equi-join); the ±tolerance band is a residual filter, so pair volume is bounded by per-user activity in the window, and the per-purchase winner is an argmin-as-AGGREGATE over struct(|Δt|, ts, id) — map-side combinable, no per-purchase window sort. Unmatched purchases drop (inner semantics, like merge_asof with a tolerance miss).",
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_us
        |      FROM events WHERE event_type = 'error'),
        |j AS (SELECT p_id, e_id, e_us - p_us AS delta_us,
        |        abs(e_us - p_us) AS a_us, e_us
        |      FROM p JOIN e USING (user_id)
        |      WHERE abs(e_us - p_us) <= 3600000000),
        |r AS (SELECT p_id, e_id, delta_us,
        |        row_number() OVER (PARTITION BY p_id
        |                           ORDER BY a_us, e_us, e_id) AS rk
        |      FROM j)
        |SELECT p_id AS event_id, e_id AS err_event_id,
        |  CAST(delta_us AS BIGINT) AS delta_us
        |FROM r WHERE rk = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          expr("unix_micros(ts)").as("p_us"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id"),
          expr("unix_micros(ts)").as("e_us"))
      val j = p.join(e, "user_id")
        .select(col("p_id"), col("e_id"),
          (col("e_us") - col("p_us")).as("delta_us"),
          abs(col("e_us") - col("p_us")).as("a_us"), col("e_us"))
        .filter(col("a_us") <= 3600000000L)
      // argmin as an aggregate: min over struct(|Δ|, event time, id) is the
      // oracle's (a_us, e_us, e_id) row_number order; delta rides along
      j.groupBy(col("p_id"))
        .agg(min(struct(col("a_us"), col("e_us"), col("e_id"),
          col("delta_us"))).as("m"))
        .select(col("p_id").as("event_id"), col("m.e_id").as("err_event_id"),
          col("m.delta_us").as("delta_us"))
        .orderBy(col("event_id"))
    },

    GraftQuery(
      "q221_window_funnel",
      "windowFunnel — the ordered multi-step conversion operator of product analytics (ClickHouse/Amplitude): from each VIEW, how deep does the user get through view -> click -> purchase with STRICT ordering inside a 1-hour window anchored at the view? Each step is one user-anchored band join + an EARLIEST-next-step argmin aggregate (the q211 shape chained): the click must follow the view, the purchase must follow THAT click, all within the anchor window — no per-user event-list collection, no window sort over the stream, state bounded by per-user activity in the window at any scale. Output: the funnel-depth census.",
      """WITH v AS (SELECT event_id AS vid, user_id, epoch_us(ts) AS vt
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS ct
        |      FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS pt
        |      FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT vid, v.user_id, vt, min(ct) AS ct
        |       FROM v LEFT JOIN c ON v.user_id = c.user_id
        |         AND ct > vt AND ct <= vt + 3600000000
        |       GROUP BY 1, 2, 3),
        |s2 AS (SELECT vid, vt, s1.ct, min(pt) AS pt
        |       FROM s1 LEFT JOIN p ON s1.user_id = p.user_id
        |         AND s1.ct IS NOT NULL
        |         AND pt > s1.ct AND pt <= vt + 3600000000
        |       GROUP BY 1, 2, 3)
        |SELECT CAST(CASE WHEN pt IS NOT NULL THEN 3
        |            WHEN ct IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS depth,
        |  count(*) AS n_funnels
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("user_id"),
          expr("unix_micros(ts)").as("vt"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), expr("unix_micros(ts)").as("ct"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), expr("unix_micros(ts)").as("pt"))
      val s1 = v.join(c,
          col("user_id") === col("cu") &&
            col("ct") > col("vt") && col("ct") <= col("vt") + 3600000000L, "left")
        .groupBy(col("vid"), col("user_id"), col("vt"))
        .agg(min(col("ct")).as("ct"))
      val s2 = s1.join(p,
          col("user_id") === col("pu") && col("ct").isNotNull &&
            col("pt") > col("ct") && col("pt") <= col("vt") + 3600000000L, "left")
        .groupBy(col("vid"), col("vt"), col("ct"))
        .agg(min(col("pt")).as("pt"))
      s2.select(when(col("pt").isNotNull, 3L)
          .when(col("ct").isNotNull, 2L).otherwise(1L).as("depth"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_funnels"))
        .orderBy(col("depth"))
    },

    GraftQuery(
      "q222_conversion_latency",
      "Exact conversion-latency quantiles (p50/p90/p99 of view->earliest-purchase-within-1h, integer microseconds) WITHOUT a global sort: per-second histogram census -> cumulative counts over the <=3600 bucket rows locate each rank's bucket -> exact rank pick sorts ONLY the rows inside the hit buckets. The single-partition window touches bucket counts (bounded by the window length), never the conversion facts — the selection shape that stays exact at 100 TB where percentile_approx would have to give up exactness and a global ORDER BY window would collapse to one partition.",
      """WITH v AS (SELECT event_id AS vid, user_id, epoch_us(ts) AS vt
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS pt
        |      FROM events WHERE event_type = 'purchase'),
        |conv AS (SELECT vid, min(pt) - vt AS delta
        |         FROM v JOIN p ON v.user_id = p.user_id
        |           AND pt > vt AND pt <= vt + 3600000000
        |         GROUP BY vid, vt),
        |ranked AS (SELECT delta, row_number() OVER (ORDER BY delta) AS rn
        |           FROM conv),
        |n AS (SELECT count(*) AS n FROM conv),
        |qs AS (SELECT * FROM (VALUES (500000), (900000), (990000)) t(q_ppm))
        |SELECT CAST(q_ppm AS BIGINT) AS q_ppm, n.n AS n_conversions,
        |  r.delta AS delta_us
        |FROM qs CROSS JOIN n
        |JOIN ranked r ON r.rn = (q_ppm * n.n + 999999) // 1000000
        |ORDER BY q_ppm""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("user_id"),
          expr("unix_micros(ts)").as("vt"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), expr("unix_micros(ts)").as("pt"))
      val conv = v.join(p,
          col("user_id") === col("pu") &&
            col("pt") > col("vt") && col("pt") <= col("vt") + 3600000000L)
        .groupBy(col("vid"), col("vt"))
        .agg(min(col("pt")).as("pt"))
        .select((col("pt") - col("vt")).as("delta"))
        .withColumn("bucket", expr("delta div 1000000"))
      val cum = conv.groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        // bound: bucket = seconds-to-convert within the 1h attribution
        // window, so the frame is <= 3600 rows at any corpus size
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bucket"))))
      val n = conv.agg(count(lit(1)).as("n"))
      val ks = Seq(500000L, 900000L, 990000L).toDF("q_ppm")
        .crossJoin(n)
        .withColumn("k", expr("(q_ppm * n + 999999) div 1000000"))
      val targets = ks.join(cum,
          col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
        .select(col("q_ppm"), col("n"), col("k"), col("bucket"),
          (col("cum") - col("cnt")).as("prior"))
      conv.join(broadcast(targets), "bucket")
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("q_ppm")).orderBy(col("delta"))))
        .filter(col("rn") === col("k") - col("prior"))
        .select(col("q_ppm"), col("n").as("n_conversions"),
          col("delta").as("delta_us"))
        .orderBy(col("q_ppm"))
    },

    GraftQuery(
      "q243_grid_spatial_join",
      "Uniform-grid spatial self-join — the 2D generalization of q125's 1D bin trick and the workhorse behind every 'points within distance r' join: customers land on a 1024x1024 synthetic plane (md5-derived coordinates, rerun-stable), cell width = r makes any Chebyshev-r pair differ by <=1 cell per axis, the probe side explodes to its 3x3 neighborhood, and Catalyst plans ONE shuffled equi-join on the cell key — never a cross product. Each pair meets exactly once (only one of the 9 probe cells equals the build cell), so there is no dedupe shuffle; the Chebyshev residual filters inline. Pair volume = sum over cells of |cell|·|3x3 load| — linear only while DENSITY is bounded, and on a FIXED plane replication grows density linearly (pairs quadratically: this query measured 47x per decade at sf10 before the governor), so cell membership is CAPPED at 64 points per cell, rank by id, oracle-mirrored (the q44/q127 doctrine on a spatial grid — inert at every gated SF where occupancy stays Poisson-thin ~1-9, biting only where the all-pairs-within-r answer itself goes quadratic; past the cap the production move is a finer grid over a larger domain, the q73 NLIST note's spatial twin). Top-20 nearest pairs as evidence.",
      """WITH p0 AS (SELECT c_custkey AS id,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8)) AS BIGINT) % 1024 AS x,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8)) AS BIGINT) % 1024 AS y
        |  FROM customer),
        |p AS (SELECT id, x, y FROM (
        |    SELECT id, x, y, row_number() OVER (
        |      PARTITION BY x // 8, y // 8 ORDER BY id) AS rn FROM p0) g
        |  WHERE rn <= 64),
        |probe AS (SELECT id, x, y, (x // 8) + dx AS cx, (y // 8) + dy AS cy
        |  FROM p CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
        |         CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)),
        |pairs AS (SELECT a.id AS ida, b.id AS idb,
        |    greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
        |  FROM p a JOIN probe b ON a.x // 8 = b.cx AND a.y // 8 = b.cy
        |    AND a.id < b.id
        |    AND abs(a.x - b.x) <= 8 AND abs(a.y - b.y) <= 8)
        |SELECT ida, idb, CAST(cheb AS BIGINT) AS cheb
        |FROM pairs ORDER BY cheb, ida, idb LIMIT 20""".stripMargin) { (s, d) =>
      def coord(salt: String) =
        expr(s"conv(substring(md5(CAST(c_custkey AS STRING) || '$salt'), 1, 8), 16, 10)")
          .cast("long") % 1024L
      // cell-occupancy governor (description above): both join sides read
      // the same <=64-per-cell membership, so pair volume per cell is a
      // constant and the total is bounded by the FIXED cell count
      val p = Tables.customer(s, d).select(col("c_custkey").as("id"),
          coord("x").as("x"), coord("y").as("y"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(expr("x div 8"), expr("y div 8")).orderBy(col("id"))))
        .filter(col("rn") <= 64).drop("rn")
      val offsets = Seq(-1L, 0L, 1L)
      // the 9-cell neighborhood expands via a literal-array explode (a pure
      // Generate, no join node) — each probe row emits its 3x3 cells in place
      val nbrs = offsets.flatMap(dx => offsets.map(dy =>
        s"named_struct('dx', ${dx}L, 'dy', ${dy}L)")).mkString(",")
      val probe = p
        .select(col("id").as("idb"), col("x").as("xb"), col("y").as("yb"),
          explode(expr(s"array($nbrs)")).as("o"))
        .select(col("idb"), col("xb"), col("yb"),
          (expr("xb div 8") + col("o.dx")).as("cx"),
          (expr("yb div 8") + col("o.dy")).as("cy"))
      p.join(probe,
          expr("x div 8") === col("cx") && expr("y div 8") === col("cy") &&
            col("id") < col("idb") &&
            abs(col("x") - col("xb")) <= 8 && abs(col("y") - col("yb")) <= 8)
        .select(col("id").as("ida"), col("idb"),
          greatest(abs(col("x") - col("xb")), abs(col("y") - col("yb")))
            .cast("long").as("cheb"))
        .orderBy(col("cheb"), col("ida"), col("idb"))
        .limit(20)
    }
  )
}
