package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._
import graft.functions.CrossHash.{h60, h60Sql}

/** Advanced analytics surface: grouping sets, pivot, exact rank-based
  * percentiles, moment statistics from exact integer sums, skew-salted and
  * broadcast join patterns, and event-time sessionization / tumbling /
  * sliding / session windows (the batch twins of the streaming operators).
  *
  * Determinism doctrine (SURVEY §5): every floating aggregate is reduced to
  * exact integer arithmetic first — money as cents longs, moments as
  * decimal(38) sums, percentiles by rank selection rather than
  * interpolation — so no result depends on float summation order.
  */
object Analytics {

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q117_resample_ffill",
      "Time-series regularization: per-type event values resampled to a dense hourly grid (sequence+explode over the corpus span), gaps forward-filled with last(v, ignoreNulls) over an unbounded-preceding frame — the gap-repair step before any rolling-window feature extraction. One grid join plus one per-series window; at 100 TB each series' fill is independent, so the window parallelizes across the (type) partitioning with no global sort.",
      """WITH ev AS (SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT)//3600)*3600 AS h,
        |              CAST(floor(value*100) AS BIGINT) AS c FROM events),
        |hourly AS (SELECT event_type AS et, h AS hh, CAST(sum(c) AS BIGINT) AS v, count(*) AS n
        |           FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |grid AS (SELECT t.event_type, g.h
        |         FROM (SELECT DISTINCT event_type FROM ev) t,
        |              (SELECT unnest(generate_series(lo, hi, 3600)) AS h FROM span) g)
        |SELECT g.event_type, g.h, CAST(coalesce(hourly.n, 0) AS BIGINT) AS n_events,
        |  CAST(coalesce(last_value(hourly.v IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS v_ffill
        |FROM grid g LEFT JOIN hourly ON g.event_type = hourly.et AND g.h = hourly.hh
        |ORDER BY event_type, h""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("h"),
        cents(col("value")).as("c"))
      val hourly = ev.groupBy(col("event_type"), col("h"))
        .agg(sum(col("c")).as("v"), count(lit(1)).as("n"))
      // the span is two scalars; the hour axis is generated, not scanned
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi")))
          .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("h")))
      val fill = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(last(col("v"), ignoreNulls = true).over(fill), lit(0L)).as("v_ffill"))
        .orderBy(col("event_type"), col("h"))
    },

    GraftQuery(
      "q232_linear_interpolation",
      "Linear gap interpolation per user series — q117's ffill upgraded to the two-sided fill feature pipelines use for sensor/metric gaps: each user's hour grid spans their OWN [first, last] activity (sequence per bounds row, not a corpus-wide axis), missing hours take prev + (next-prev)*(h-ph) div (nh-ph) in pure integer cents from the bracketing known points (last/first IGNORE NULLS over opposing unbounded frames — two window passes, zero self-joins). Both window passes parallelize across the user partitioning; verified compactly per user.",
      """WITH known AS (SELECT user_id,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM known GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS h FROM bounds),
        |j AS (SELECT g.user_id, g.h, k.v,
        |    CASE WHEN k.v IS NOT NULL THEN g.h END AS kh
        |  FROM grid g LEFT JOIN known k ON g.user_id = k.user_id AND g.h = k.h),
        |w AS (SELECT user_id, h, v,
        |    last_value(kh IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(kh IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM j),
        |f AS (SELECT user_id, h, v,
        |    coalesce(v, pv + (nv - pv) * (h - ph) // (nh - ph)) AS filled
        |  FROM w)
        |SELECT user_id, count(*) AS n_hours,
        |  count(v) AS n_known,
        |  CAST(count(*) - count(v) AS BIGINT) AS n_interp,
        |  CAST(sum(filled) AS BIGINT) AS sum_filled
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // r20 note: persisting this census for the bounds+join double
      // consumption was tried and REVERTED — solo min-of-3 read 3.30 s
      // WITH the cache vs 2.81 s without (the lineage is one cheap
      // scan+aggregate; cache materialization cost more than the recompute)
      val known = Tables.events(s, d)
        .select(col("user_id"),
          (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("h"),
          cents(col("value")).as("c"))
        .groupBy(col("user_id"), col("h"))
        .agg(sum(col("c")).as("v"))
      val grid = known.groupBy(col("user_id"))
        .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"), lit(3600L))).as("h"))
        // the explode inflates a ~|users|-row aggregate by ~720x; the explicit
        // partition count keeps AQE from coalescing the (few-MB but row-heavy)
        // grid back onto one task for the window sorts
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("user_id"))
      val prevW = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // "next known" via a DESCENDING growing frame: last-non-null over
      // (h DESC, unbounded preceding..current) == first-non-null ahead — an
      // O(n) incremental frame, where the ascending currentRow..unboundedFollowing
      // formulation is O(n^2) per partition (Spark rescans the tail per row)
      val nextW = Window.partitionBy(col("user_id")).orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(known, Seq("user_id", "h"), "left")
        .withColumn("kh", when(col("v").isNotNull, col("h")))
        .withColumn("ph", last(col("kh"), ignoreNulls = true).over(prevW))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(prevW))
        .withColumn("nh", last(col("kh"), ignoreNulls = true).over(nextW))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(nextW))
        .withColumn("filled", coalesce(col("v"),
          col("pv") + expr("(nv - pv) * (h - ph) div (nh - ph)")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_hours"),
          count(col("v")).as("n_known"),
          (count(lit(1)) - count(col("v"))).cast("long").as("n_interp"),
          sum(col("filled")).as("sum_filled"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q124_rolling_anomaly",
      "Trailing-24h anomaly detection over hourly series, ENTIRELY in integers: with window sums n/S1/S2 (RANGE frame on the epoch-hour axis), the 3-sigma test (v-mean)^2 > 9*var rearranges to (v*n - S1)^2 > 9*(n*S2 - S1^2) — no division, no sqrt, no float, so the flag is bit-stable across engines and partitionings. Each series' window runs inside its own partition; the alert stream is tiny (flagged rows only). The monitoring pass a 100 TB ingest runs over its own throughput metrics.",
      """WITH ev AS (SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT)//3600)*3600 AS h,
        |              CAST(floor(value*100) AS BIGINT) AS c FROM events),
        |hourly AS (SELECT event_type, h, CAST(sum(c) AS BIGINT) AS v FROM ev GROUP BY 1, 2),
        |st AS (SELECT event_type, h, v,
        |         count(*) OVER w AS n,
        |         CAST(sum(v) OVER w AS BIGINT) AS s1,
        |         CAST(sum(v*v) OVER w AS BIGINT) AS s2
        |       FROM hourly
        |       WINDOW w AS (PARTITION BY event_type ORDER BY h
        |                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
        |SELECT event_type, h, v
        |FROM st
        |WHERE n >= 12 AND (v*n - s1)*(v*n - s1) > 9*(n*s2 - s1*s1)
        |ORDER BY event_type, h""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .select(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("h"),
          cents(col("value")).as("c"))
        .groupBy(col("event_type"), col("h"))
        .agg(sum(col("c")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rangeBetween(-86400L, 0L)
      hourly
        .select(col("event_type"), col("h"), col("v"),
          count(lit(1)).over(w).as("n"),
          sum(col("v")).over(w).as("s1"),
          sum(col("v") * col("v")).over(w).as("s2"))
        // >= 12 trailing hours of history before the test is meaningful;
        // magnitudes stay far under 2^63 (hourly cents sums, 25-row frames)
        .filter(col("n") >= 12 &&
          (col("v") * col("n") - col("s1")) * (col("v") * col("n") - col("s1"))
            > lit(9L) * (col("n") * col("s2") - col("s1") * col("s1")))
        .select(col("event_type"), col("h"), col("v"))
        .orderBy(col("event_type"), col("h"))
    },

    GraftQuery(
      "q120_scd2_intervals",
      "Slowly-changing-dimension (type 2) build: each customer's order stream becomes validity intervals — valid_from = the order's date, valid_to = the NEXT order's date via lead() (sentinel-closed for the open current row), is_current flagging the tail. The warehouse-history op the reference's append-only sink implies but never materializes. One window per customer partition; at 100 TB the partitioning carries it — no global sort until the output ORDER BY.",
      """SELECT o_custkey, o_orderkey, o_orderpriority,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS valid_from_s,
        |  coalesce(lead(CAST(floor(epoch(o_orderdate)) AS BIGINT))
        |             OVER (PARTITION BY o_custkey
        |                   ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT), o_orderkey),
        |           253402300799) AS valid_to_s,
        |  (lead(o_orderkey) OVER (PARTITION BY o_custkey
        |                          ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT), o_orderkey)
        |   IS NULL) AS is_current
        |FROM orders
        |ORDER BY o_custkey, valid_from_s, o_orderkey""".stripMargin) { (s, d) =>
      val fromS = unix_timestamp(col("o_orderdate")).as("valid_from_s")
      val seq = Window.partitionBy(col("o_custkey"))
        .orderBy(col("valid_from_s"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"), fromS)
        // 253402300799 = 9999-12-31T23:59:59Z: the open-interval sentinel,
        // so the output carries no nulls (oracle-parity convention)
        .withColumn("valid_to_s",
          coalesce(lead(col("valid_from_s"), 1).over(seq), lit(253402300799L)))
        .withColumn("is_current", lead(col("o_orderkey"), 1).over(seq).isNull)
        .orderBy(col("o_custkey"), col("valid_from_s"), col("o_orderkey"))
    },

    GraftQuery(
      "q49_grouping_sets",
      "GROUPING SETS ((status, priority), (status), ()) over orders with grouping_id to label levels — the generalization of rollup/cube (q10/q11).",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    GraftQuery(
      "q50_pivot",
      "Pivot events by event_type (explicit value list — no extra pass to discover values, and deterministic column order) with per-user cents sums.",
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(cents(col("value"))))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q225_unpivot_melt",
      "UNPIVOT/melt — the inverse of q50's pivot via the typed Dataset.unpivot API (Spark's native Unpivot plan node, not the stack() generator q101 uses): a wide per-priority aggregate (n/sum/max as BIGINT columns) melts to long (metric, value) form. Wide-to-long is a zero-shuffle narrow transform — each input row emits its metric rows locally — so it composes after the aggregate for free at any scale. The oracle is the dialect-portable UNION ALL formulation.",
      """WITH w AS (SELECT o_orderpriority,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, metric, value FROM (
        |  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
        |  UNION ALL
        |  SELECT o_orderpriority, 'sum_cents', sum_cents FROM w
        |  UNION ALL
        |  SELECT o_orderpriority, 'max_cents', max_cents FROM w)
        |ORDER BY o_orderpriority, metric""".stripMargin) { (s, d) =>
      val cents = expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents).as("sum_cents"),
          max(cents).as("max_cents"))
        .unpivot(
          ids = Array(col("o_orderpriority")),
          values = Array(col("n_orders"), col("sum_cents"), col("max_cents")),
          variableColumnName = "metric",
          valueColumnName = "value")
        .orderBy(col("o_orderpriority"), col("metric"))
    },

    GraftQuery(
      "q51_percentiles",
      "Exact rank-based percentiles per order priority: median as the sum of the two middle cents values (x2 — integer-exact, no interpolation), p90 as the discrete quantile at ceil(0.9 n). Ranks select by cumulative frequency over the per-group (value → count) histogram — bounded by the value domain, so no formulation sorts the order rows per group (the q137 scale shape; the oracle keeps the equivalent row_number form).",
      """WITH r AS (SELECT o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY floor(o_totalprice * 100)) AS rn,
        |    count(*)     OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN cents END)
        |       * (CASE WHEN max(n) % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT) AS median_x2_cents,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS BIGINT) AS p90_cents,
        |  max(n) AS n
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // (value → count) histogram per group; the rank-k value is the
      // smallest value whose cumulative frequency reaches k
      val hist = Tables.orders(s, d)
        .select(col("o_orderpriority"), cents(col("o_totalprice")).as("cents"))
        .groupBy(col("o_orderpriority"), col("cents"))
        .agg(count(lit(1)).as("freq"))
      val cumW = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = hist.withColumn("cum", sum(col("freq")).over(cumW))
        .withColumn("n",
          sum(col("freq")).over(Window.partitionBy(col("o_orderpriority"))))
      // n is integral: floor((n+k)/2) == integer division (n << 2^53)
      val lo  = floor((col("n") + 1) / 2)
      val hi  = floor((col("n") + 2) / 2)
      val p90 = floor((col("n") * 9 + 9) / 10)
      r.groupBy(col("o_orderpriority"))
        .agg(
          (min(when(col("cum") >= lo, col("cents"))) +
            min(when(col("cum") >= hi, col("cents")))).cast("long")
            .as("median_x2_cents"),
          min(when(col("cum") >= p90, col("cents"))).cast("long")
            .as("p90_cents"),
          max(col("n")).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q136_mad_outliers",
      "Robust outlier detection per language — median absolute deviation with every quantity integer-exact: medians carried as x2 sums of the two middle ranks (q51's trick), deviations as |2·x − median_x2| longs, MAD as x4, and the 3-sigma-equivalent test 2·dev_x2 > 3·mad_x4 all in cross-multiplied integers. Medians come from per-language VALUE HISTOGRAMS with cumulative-frequency selection (the q137 shape) — nothing ever sorts the documents themselves. The length-outlier census that feeds training-data quality filtering.",
      """WITH r AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*)     OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |med AS (SELECT lang,
        |    CAST(sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN n_chars END)
        |         * (CASE WHEN max(n) % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT) AS med_x2
        |  FROM r GROUP BY lang),
        |dev AS (SELECT d.lang, abs(2 * d.n_chars - m.med_x2) AS dev_x2, d.doc_id
        |        FROM documents d JOIN med m ON d.lang = m.lang),
        |r2 AS (SELECT lang, dev_x2,
        |    row_number() OVER (PARTITION BY lang ORDER BY dev_x2, doc_id) AS rn,
        |    count(*)     OVER (PARTITION BY lang) AS n
        |  FROM dev),
        |mad AS (SELECT lang,
        |    CAST(sum(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN dev_x2 END)
        |         * (CASE WHEN max(n) % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT) AS mad_x4
        |  FROM r2 GROUP BY lang)
        |SELECT dev.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  max(med.med_x2) AS median_x2, max(mad.mad_x4) AS mad_x4,
        |  CAST(sum(CASE WHEN 2 * dev.dev_x2 > 3 * mad.mad_x4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN med ON dev.lang = med.lang JOIN mad ON dev.lang = mad.lang
        |GROUP BY dev.lang ORDER BY dev.lang""".stripMargin) { (s, d) =>
      // histogram-selection median (the q137 doctrine): group to a
      // (lang, value) histogram first — bounded by the VALUE range, not the
      // corpus — then select the lo/hi rank values by cumulative frequency.
      // A rank window here would sort every doc per language at 100 TB.
      def medianX2(df: org.apache.spark.sql.DataFrame, valueCol: String,
                   outName: String): org.apache.spark.sql.DataFrame = {
        val hist = df.groupBy(col("lang"), col(valueCol).as("v"))
          .agg(count(lit(1)).as("freq"))
        val cumW = Window.partitionBy(col("lang")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val r = hist.withColumn("cum", sum(col("freq")).over(cumW))
          .withColumn("n", sum(col("freq")).over(Window.partitionBy(col("lang"))))
        val lo = floor((col("n") + 1) / 2)
        val hi = floor((col("n") + 2) / 2)
        r.groupBy(col("lang"))
          .agg((min(when(col("cum") >= lo, col("v"))) +
            min(when(col("cum") >= hi, col("v")))).cast("long").as(outName))
      }
      val docs = Tables.documents(s, d).select(col("lang"), col("doc_id"), col("n_chars"))
      val med = medianX2(docs, "n_chars", "med_x2")
      // med/mad are per-language scalars — broadcast by AQE; deviations
      // stay partitioned by lang through both rank windows
      val dev = docs.join(med, "lang")
        .select(col("lang"), col("doc_id"),
          abs(col("n_chars") * 2 - col("med_x2")).as("dev_x2"))
      val mad = medianX2(dev, "dev_x2", "mad_x4")
      dev.join(med, "lang").join(mad, "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("med_x2")).as("median_x2"),
          max(col("mad_x4")).as("mad_x4"),
          sum(when(col("dev_x2") * 2 > col("mad_x4") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("lang"))
    },

    GraftQuery(
      "q151_weighted_median",
      "Weighted median — the 50th percentile of price where each row counts l_quantity times, computed by cumulative-weight selection over the (group, value) WEIGHT HISTOGRAM: the first value whose cumulative weight reaches half the total (integer cross-multiplied: 2·cum ≥ W). The histogram is bounded by the value domain, so nothing sorts the fact rows — q51's exact-quantile machinery generalized to weights and the q137 scale shape.",
      """WITH r AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
        |      ORDER BY floor(l_extendedprice * 100), l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(min(tot) AS BIGINT) AS total_weight,
        |  CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT) AS wmedian_cents
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // histogram selection (q137 doctrine): weights grouped to one row
      // per distinct cents value, cumulative weight over the VALUE-ordered
      // histogram — the crossing row's value equals the row-level
      // formulation's (the crossing always happens at a value boundary),
      // and nothing sorts the fact rows
      val hist = Tables.lineitem(s, d)
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("l_returnflag"), col("cents"))
        .agg(sum(col("w")).as("wsum"))
      val cumW = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum(col("wsum")).over(cumW))
        .withColumn("tot",
          sum(col("wsum")).over(Window.partitionBy(col("l_returnflag"))))
        .groupBy(col("l_returnflag"))
        .agg(min(col("tot")).as("total_weight"),
          min(when(col("cum") * 2 >= col("tot"), col("cents")))
            .cast("long").as("wmedian_cents"))
        .orderBy(col("l_returnflag"))
    },

    GraftQuery(
      "q152_session_paths",
      "Top navigation paths: each user session (10-min gap sessionization, the q55 rewrite) reduced to its ordered event-type sequence, then the 20 most frequent paths — the product-analytics staple. The path string is built by a deterministic ordered aggregation within the session; only fixed-size path strings shuffle to the final count. The per-user ordered window PAIR (gap lag + running session counter) runs through ONE fused bounded pass (ColumnOps.boundedSessionIds — hour-chunk salting, one salted sort serving both windows, bit-identical to the naive pair, which remains the oracle): sessionization is the canonical Zipf-hot workload (one bot user = one sorted task under the naive form, 1.81× measured at the sf10 Zipf tier), and running the two bounded operators separately was measured to pay two sorts' worth of flat-data cost (r16 +107% at sf1) for the same skew safety.",
      """WITH g AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |p AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // r17: the lag + running-sum pair fused into ONE bounded pass
      // (ColumnOps.boundedSessionIds) — one salted sort instead of two,
      // halving the flat-data cost the separate adoption was measured to
      // pay (r16: sf1 2.26→4.68 s) while keeping the Zipf-safe shape
      val sessions = graft.functions.ColumnOps.boundedSessionIds(ev,
        Seq("user_id"), Seq(col("ts"), col("event_id")),
        date_trunc("hour", col("ts")), col("ts"),
        (t, p) => p.isNull || t - p > expr("INTERVAL 10 MINUTE"), "sid")
      // ordered path assembly: sort the collected (ts, event_id, type)
      // structs inside each session — deterministic, no second window
      sessions.groupBy(col("user_id"), col("sid"))
        .agg(concat_ws(">",
          transform(array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x("event_type"))).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },

    GraftQuery(
      "q164_frequent_pairs",
      "Market-basket frequent pairs (the support-counting core of Apriori/FP-growth): parts co-purchased within an order, generated by an order-anchored self-join — pair volume is the sum of per-basket squares (baskets are ≤7 lines, so it's linear in orders, never parts²) — counted globally, support ≥ 3, top-20 with a total order. Scale shape: the join key is the basket id; hot baskets would be capped exactly like q83's LSH buckets.",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS support
        |FROM p GROUP BY part_a, part_b
        |HAVING count(*) >= 3
        |ORDER BY support DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, d) =>
      // r20 note: two rewrites were tried here and REVERTED on sf1/sf10
      // measurements — (1) a per-basket collect_set generator (the
      // q321/q335 shape): ×1.66 at sf0.1 but −14% at sf1 and −39% at sf10
      // (the codegen SMJ pair join + map-side partial census beat the
      // allocation-heavy array emit at scale); (2) persisting the distinct
      // (o,p) frame: −2× at sf1 un-partitioned, a wash o-partitioned.
      // q321 keeps the o-partitioned cache because its support-prefilter
      // join reuses it; here the plain shape measured best.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      val b = li.select(col("l_orderkey").as("ok_b"), col("l_partkey").as("part_b"))
      a.join(b, col("l_orderkey") === col("ok_b") && col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 3)
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(20)
    },

    GraftQuery(
      "q161_interval_coalesce",
      "Interval coalescing: each event opens a 10-minute activity interval; overlapping intervals merge into maximal islands (new island when the start exceeds the running max end — one window pass), yielding per user the island count and total covered seconds — the billing/occupancy metric naive session counts get wrong when intervals nest. All integer epoch-second arithmetic.",
      """WITH iv AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 600 AS e
        |  FROM events),
        |m AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |  FROM iv),
        |isl AS (SELECT user_id, s, e,
        |    sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, e
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |agg AS (SELECT user_id, island, min(s) AS lo, max(e) AS hi
        |        FROM isl GROUP BY user_id, island)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(hi - lo) AS BIGINT) AS covered_s
        |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val iv = Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("s"))
        .withColumn("e", col("s") + 600L)
      val prev = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val run = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("prev_max_e", max(col("e")).over(prev))
        .withColumn("island",
          sum(when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1)
            .otherwise(0)).over(run))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("lo"), max(col("e")).as("hi"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"), sum(col("hi") - col("lo")).as("covered_s"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q162_ab_experiment",
      "A/B experiment readout with DETERMINISTIC assignment: users split by salted md5 residue (the reproducible-across-engines twin of a random split), per-arm sessions-with-purchase conversion in exact ppm plus the B−A lift — the two-proportion readout every growth pipeline computes; integer counts cross-divided only at the final floored ratios.",
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |arm AS (SELECT user_id,
         |    CASE WHEN ${h60Sql("'ab|' || CAST(user_id AS VARCHAR)")} % 2 = 0
         |         THEN 'A' ELSE 'B' END AS arm
         |  FROM u),
         |conv AS (SELECT e.user_id,
         |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |  FROM events e GROUP BY e.user_id)
         |SELECT arm.arm, CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(conv.converted) AS BIGINT) AS n_converted,
         |  (CAST(sum(conv.converted) AS BIGINT) * 1000000) // count(*) AS conv_ppm
         |FROM arm JOIN conv ON arm.user_id = conv.user_id
         |GROUP BY arm.arm ORDER BY arm.arm""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val arm = ev.select(col("user_id")).distinct()
        .withColumn("arm",
          when(pmod(h60(concat(lit("ab|"), col("user_id").cast("string"))),
            lit(2L)) === 0, "A").otherwise("B"))
      val conv = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      arm.join(conv, "user_id")
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
        .selectExpr("arm", "n_users", "n_converted",
          "(n_converted * 1000000) div n_users AS conv_ppm")
        .orderBy(col("arm"))
    },

    GraftQuery(
      "q159_gini_concentration",
      "Revenue-concentration (Gini) per region in EXACT integers via histogram algebra: with per-value frequency f and prior cumulative count c, the sorted-rank sum Σ rank·value telescopes to Σ v·(f·c + f(f+1)/2) — so G = (2·Σrank·x − (n+1)·Σx) / (n·Σx) needs no row-level sort at all, only the (region, value) histogram (q137 doctrine). Output keeps exact integer numerator/denominator plus the floored ppm ratio. The skew-of-wealth diagnostic for corpus/revenue balance.",
      """WITH o AS (SELECT n.n_regionkey AS rk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders JOIN customer c ON o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |h AS (SELECT rk, v, count(*) AS f FROM o GROUP BY rk, v),
        |cum AS (SELECT rk, v, f,
        |    coalesce(sum(f) OVER (PARTITION BY rk ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |  FROM h),
        |a AS (SELECT rk, CAST(sum(f) AS BIGINT) AS n,
        |    CAST(sum(v * f) AS BIGINT) AS sx,
        |    sum(CAST(v AS HUGEINT) * (f * c + (f * (f + 1)) // 2)) AS srx
        |  FROM cum GROUP BY rk)
        |SELECT rk AS regionkey, n, sx AS sum_cents,
        |  CAST(((2 * srx - (CAST(n AS HUGEINT) + 1) * sx) // n) * 1000000 // sx AS BIGINT) AS gini_ppm
        |FROM a ORDER BY regionkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").as("rk"), cents(col("o_totalprice")).as("v"))
      val h = o.groupBy(col("rk"), col("v")).agg(count(lit(1)).as("f"))
      val cumW = Window.partitionBy(col("rk")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val a = h.withColumn("c", coalesce(sum(col("f")).over(cumW), lit(0L)))
        // per-value rank-sum term widened BEFORE the multiply, mirroring
        // the oracle's sum(CAST(v AS HUGEINT) * ...): v·f·c measured ~2^54
        // at sf10 and f·c grows ~100× per decade, so a Long-resident
        // product is exactly the ANSI-overflow class the r13 fix removed —
        // widening only the accumulator would bring it back one decade
        // later, and asymmetrically (Spark crashes, the oracle answers).
        // The rank factor itself stays Long (f·c ≤ n² ≈ 2^61 at sf1000).
        .selectExpr("rk", "f", "v",
          "CAST(v AS DECIMAL(38,0)) * (f * c + (f * (f + 1)) div 2) AS term")
        .groupBy(col("rk"))
        .agg(sum(col("f")).as("n"), sum(col("v") * col("f")).as("sx"),
          sum(col("term")).as("srx"))
      // identical two-step floor division in both engines (decimal(38,0)
      // here, HUGEINT there — both exact integers, both floor on the
      // non-negative quotients), so results match bit-for-bit; the ×1e6
      // happens on the already-divided ≤sx-sized quotient, then the final
      // div returns a long
      a.selectExpr("rk AS regionkey", "n", "sx AS sum_cents",
        "CAST(((2 * srx - (CAST(n AS DECIMAL(38,0)) + 1) * sx) div n) " +
          "* CAST(1000000 AS DECIMAL(38,0)) div sx AS BIGINT) AS gini_ppm")
        .orderBy(col("regionkey"))
    },

    GraftQuery(
      "q168_equidepth_histogram",
      "Equi-depth histogram construction — the CBO statistics-collection operator (ANALYZE ... COMPUTE STATISTICS FOR COLUMNS): 8 buckets over order totalprice, each boundary the smallest value whose cumulative row count reaches ceil(k·n/8). Pure histogram-selection (q137/q159 doctrine): per-value counts are map-side combinable, the cumulative window runs over the DOMAIN-bounded dollar histogram (≤ ~600k distinct values at ANY scale factor — frame size scales with the value domain, not the row count), and the 8 rank targets broadcast into a theta-join. No row-level sort anywhere; the shape that survives ANALYZE over 100 TB.",
      """WITH o AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
        |h AS (SELECT v, count(*) AS f FROM o GROUP BY v),
        |cum AS (SELECT v, sum(f) OVER (ORDER BY v) AS c FROM h),
        |n AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM h),
        |t AS (SELECT CAST(k AS BIGINT) AS bucket, (k * n.n + 7) // 8 AS target
        |      FROM (SELECT unnest(generate_series(1, 8)) AS k) CROSS JOIN n)
        |SELECT bucket, target, CAST(min(v) AS BIGINT) AS boundary
        |FROM t JOIN cum ON cum.c >= t.target
        |GROUP BY bucket, target ORDER BY bucket""".stripMargin) { (s, d) =>
      val h = Tables.orders(s, d)
        .select(floor(col("o_totalprice")).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("f"))
      // single-partition window is safe HERE only because the frame is the
      // dollar-value histogram, bounded by the domain (not the table size)
      val cum = h.withColumn("c", sum(col("f")).over(Window.orderBy(col("v"))))
      val t = h.agg(sum(col("f")).as("n"))
        .select(explode(sequence(lit(1L), lit(8L))).as("bucket"), col("n"))
        .selectExpr("bucket", "(bucket * n + 7) div 8 AS target")
      cum.join(broadcast(t), col("c") >= col("target"))
        .groupBy(col("bucket"), col("target"))
        .agg(min(col("v")).as("boundary"))
        .orderBy(col("bucket"))
    },

    GraftQuery(
      "q170_quantile_binning",
      "Quantile discretization (feature binning): every order assigned to its q168 equi-depth bucket — bucket = 1 + #boundaries strictly below the value, computed by a higher-order fold over the broadcast 8-element boundary array (size(filter(...)) — codegen'd, NO join fan-out, no per-row probe join). The per-bucket census then PROVES the equi-depth property: counts within one of n/8. The featurization step before any tree/binned-model training, and the validation query for ANALYZE stats.",
      """WITH o AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
        |h AS (SELECT v, count(*) AS f FROM o GROUP BY v),
        |cum AS (SELECT v, sum(f) OVER (ORDER BY v) AS c FROM h),
        |n AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM h),
        |t AS (SELECT CAST(k AS BIGINT) AS bucket, (k * n.n + 7) // 8 AS target
        |      FROM (SELECT unnest(generate_series(1, 8)) AS k) CROSS JOIN n),
        |bnd AS (SELECT bucket, CAST(min(v) AS BIGINT) AS boundary
        |        FROM t JOIN cum ON cum.c >= t.target GROUP BY bucket),
        |arr AS (SELECT list_sort(list(boundary)) AS bs FROM bnd)
        |SELECT CAST(1 + len(list_filter(arr.bs, x -> x < o.v)) AS BIGINT) AS bucket,
        |  count(*) AS n_rows, CAST(min(o.v) AS BIGINT) AS min_v,
        |  CAST(max(o.v) AS BIGINT) AS max_v
        |FROM o CROSS JOIN arr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(floor(col("o_totalprice")).cast("long").as("v"))
      val h = o.groupBy(col("v")).agg(count(lit(1)).as("f"))
      // bound: the frame is the whole-dollar value census (price domain
      // saturates at ~500k values regardless of row count), never the rows
      val cum = h.withColumn("c", sum(col("f")).over(Window.orderBy(col("v"))))
      val t = h.agg(sum(col("f")).as("n"))
        .select(explode(sequence(lit(1L), lit(8L))).as("bucket"), col("n"))
        .selectExpr("bucket", "(bucket * n + 7) div 8 AS target")
      val arr = cum.join(broadcast(t), col("c") >= col("target"))
        .groupBy(col("bucket")).agg(min(col("v")).as("boundary"))
        .agg(array_sort(collect_list(col("boundary"))).as("bs"))
      // one broadcast row; the bin assignment is a per-row array fold —
      // whole-stage codegen, zero shuffle beyond the final tiny census
      o.crossJoin(broadcast(arr))
        .selectExpr("1 + size(filter(bs, x -> x < v)) AS bucket", "v")
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("bucket"))
    },

    GraftQuery(
      "q171_topp_nucleus",
      "Top-p (nucleus) selection per group — the mixture-truncation operator: per event type, users ranked by spend keep membership until cumulative spend first reaches 90% of the group total; everything after the crossing row is cut. Exact integers throughout: keep while cum_before·10 < total·9 (cross-multiplied — no floats, no percent rounding). One window per event-type partition over the per-user aggregate (already reduced — the window input is n_users, not n_events). Output: per type, survivors vs population and the cents they carry.",
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, cents,
        |    coalesce(sum(cents) OVER (PARTITION BY event_type
        |      ORDER BY cents DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        |    sum(cents) OVER (PARTITION BY event_type) AS total
        |  FROM u)
        |SELECT event_type,
        |  count(*) AS n_users,
        |  count(*) FILTER (WHERE cum_before * 10 < total * 9) AS n_kept,
        |  CAST(sum(cents) FILTER (WHERE cum_before * 10 < total * 9) AS BIGINT) AS kept_cents,
        |  CAST(max(total) AS BIGINT) AS total_cents
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(cents(col("value"))).as("cents"))
      val seq = Window.partitionBy(col("event_type"))
        .orderBy(col("cents").desc, col("user_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = Window.partitionBy(col("event_type"))
      val r = u.select(col("event_type"), col("cents"),
        coalesce(sum(col("cents")).over(seq), lit(0L)).as("cum_before"),
        sum(col("cents")).over(tot).as("total"))
      val kept = col("cum_before") * 10 < col("total") * 9
      r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          count(when(kept, 1)).as("n_kept"),
          sum(when(kept, col("cents"))).as("kept_cents"),
          max(col("total")).as("total_cents"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q175_rolling_distinct",
      "Rolling 7-day distinct users (WAU) — the windowed COUNT(DISTINCT) every engagement dashboard needs and naive window frames cannot express: each distinct (user, day) pair covers the 7 windows it keeps active (a bounded explode — 7×, constant), and each window counts its distinct covering users. Linear in events, no per-window re-scan, no quadratic day×user state; the exact-integer twin of the HLL-sketch formulation you swap in when approximate is acceptable. Windows clipped to the observed day span.",
      """WITH p AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d FROM events),
        |span AS (SELECT min(d) AS lo, max(d) AS hi FROM p),
        |cov AS (SELECT user_id, d + k AS w
        |        FROM p, unnest(generate_series(0, 6)) AS t(k))
        |SELECT w AS day_idx, count(DISTINCT user_id) AS wau
        |FROM cov, span WHERE w BETWEEN span.lo AND span.hi
        |GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
      val p = Tables.events(s, d)
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("d"))
        .distinct()
      val span = p.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      p.select(col("user_id"), col("d"),
          explode(sequence(lit(0L), lit(6L))).as("k"))
        .select(col("user_id"), (col("d") + col("k")).as("w"))
        .crossJoin(broadcast(span))
        .filter(col("w").between(col("lo"), col("hi")))
        .groupBy(col("w").as("day_idx"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("day_idx"))
    },

    GraftQuery(
      "q183_winsorized_mean",
      "Winsorized robust mean per priority — clip at the exact P5/P95 rank quantiles, then average: quantile boundaries by histogram selection (q137/q151/q168 doctrine — smallest value whose per-group cumulative count reaches ceil(5n/100) / ceil(95n/100); the window runs over the per-group VALUE histogram, never the rows), clipping as least(greatest(v, lo), hi) re-weighted by the histogram frequencies, mean as floored cents division. The outlier-robust aggregate for skewed money/latency columns, exact-integer end to end.",
      """WITH o AS (SELECT o_orderpriority AS g,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |h AS (SELECT g, v, count(*) AS f FROM o GROUP BY 1, 2),
        |cum AS (SELECT g, v, f,
        |    sum(f) OVER (PARTITION BY g ORDER BY v) AS c,
        |    sum(f) OVER (PARTITION BY g) AS n FROM h),
        |b AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
        |    min(CASE WHEN c >= (5 * n + 99) // 100 THEN v END) AS lo,
        |    min(CASE WHEN c >= (95 * n + 99) // 100 THEN v END) AS hi
        |  FROM cum GROUP BY g)
        |SELECT h.g AS priority, max(b.n) AS n_orders,
        |  CAST(max(b.lo) AS BIGINT) AS p05_cents,
        |  CAST(max(b.hi) AS BIGINT) AS p95_cents,
        |  CAST(sum(least(greatest(h.v, b.lo), b.hi) * h.f) AS BIGINT) AS wins_sum_cents,
        |  CAST(sum(least(greatest(h.v, b.lo), b.hi) * h.f) // max(b.n) AS BIGINT) AS wins_mean_cents
        |FROM h JOIN b ON h.g = b.g
        |GROUP BY h.g ORDER BY h.g""".stripMargin) { (s, d) =>
      val h = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("v"))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("f"))
      val cumW = Window.partitionBy(col("g")).orderBy(col("v"))
      val b = h
        .withColumn("c", sum(col("f")).over(cumW))
        .withColumn("n", sum(col("f")).over(Window.partitionBy(col("g"))))
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"),
          min(when(col("c") >= expr("(5 * n + 99) div 100"), col("v")))
            .as("lo"),
          min(when(col("c") >= expr("(95 * n + 99) div 100"), col("v")))
            .as("hi"))
      h.join(broadcast(b.withColumnRenamed("g", "bg")), col("g") === col("bg"))
        .groupBy(col("g").as("priority"))
        .agg(max(col("n")).as("n_orders"),
          max(col("lo")).as("p05_cents"), max(col("hi")).as("p95_cents"),
          sum(least(greatest(col("v"), col("lo")), col("hi")) * col("f"))
            .as("wins_sum_cents"))
        .selectExpr("priority", "n_orders", "p05_cents", "p95_cents",
          "wins_sum_cents", "wins_sum_cents div n_orders AS wins_mean_cents")
        .orderBy(col("priority"))
    },

    GraftQuery(
      "q186_period_over_period",
      "Month-over-month and year-over-year growth — the BI readout every revenue dashboard leads with: monthly order revenue (exact cents), MoM delta as lag(1) over the month sequence and YoY as lag(12), growth expressed as signed ppm of the PRIOR period (cross-multiplied integers — no float percent). The windows run over the months frame (one row per month — tiny at any SF); the heavy lifting is the one map-side-combinable monthly aggregate underneath.",
      """WITH m AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |    CAST(month(o_orderdate) AS INTEGER) AS mo,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT y, mo, cents,
        |    lag(cents, 1)  OVER (ORDER BY y, mo) AS prev_mo,
        |    lag(cents, 12) OVER (ORDER BY y, mo) AS prev_yr
        |  FROM m)
        |SELECT y, mo, cents,
        |  CASE WHEN prev_mo IS NULL THEN NULL
        |       ELSE ((cents - prev_mo) * 1000000) // prev_mo END AS mom_ppm,
        |  CASE WHEN prev_yr IS NULL THEN NULL
        |       ELSE ((cents - prev_yr) * 1000000) // prev_yr END AS yoy_ppm
        |FROM l ORDER BY y, mo""".stripMargin) { (s, d) =>
      val m = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(cents(col("o_totalprice"))).as("cents"))
      // months frame: one row per (year, month) — window cost is a constant
      val seq = Window.orderBy(col("y"), col("mo"))
      m.withColumn("prev_mo", lag(col("cents"), 1).over(seq))
        .withColumn("prev_yr", lag(col("cents"), 12).over(seq))
        .selectExpr("y", "mo", "cents",
          "CASE WHEN prev_mo IS NULL THEN NULL ELSE ((cents - prev_mo) * 1000000) div prev_mo END AS mom_ppm",
          "CASE WHEN prev_yr IS NULL THEN NULL ELSE ((cents - prev_yr) * 1000000) div prev_yr END AS yoy_ppm")
        .orderBy(col("y"), col("mo"))
    },

    GraftQuery(
      "q187_skyline",
      "Skyline / Pareto frontier over (price, size) parts — the multi-objective shortlist query: a point survives iff nothing is at-or-below it on BOTH axes (strictly below on one). The scale formulation never compares pairs: distinct (price, size) reduces to the per-price MIN size (a histogram, one row per distinct price — value-domain-bounded), and the frontier is the strict running-min test — keep a price's best size iff it beats the cumulative min over all STRICTLY CHEAPER prices (lag of the running min over the tiny price frame). O(n) + a domain-sized window instead of the O(n²) dominance join.",
      """WITH p AS (SELECT DISTINCT CAST(floor(p_retailprice * 100) AS BIGINT) AS price,
        |    CAST(p_size AS BIGINT) AS size FROM part),
        |m AS (SELECT price, min(size) AS best FROM p GROUP BY price),
        |r AS (SELECT price, best,
        |    min(best) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cheaper_best
        |  FROM m)
        |SELECT price AS price_cents, best AS size
        |FROM r WHERE cheaper_best IS NULL OR best < cheaper_best
        |ORDER BY price""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
        .select(cents(col("p_retailprice")).as("price"),
          col("p_size").cast("long").as("size"))
        .distinct()
      val m = p.groupBy(col("price")).agg(min(col("size")).as("best"))
      // the window frame is the distinct-price histogram, not the rows
      val w = Window.orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn("cheaper_best", min(col("best")).over(w))
        .filter(col("cheaper_best").isNull || col("best") < col("cheaper_best"))
        .select(col("price").as("price_cents"), col("best").as("size"))
        .orderBy(col("price_cents"))
    },

    GraftQuery(
      "q190_cooccurrence_lift",
      "Co-occurrence LIFT between event types — the affinity score behind 'users who X also Y', log-free: over per-user distinct type sets, lift(A,B) = P(A∧B)/(P(A)·P(B)) as exact integer ppm via the TWO-STEP floor division ((n_ab·1e6 div n_a)·N div n_b — the q159 step-order doctrine: every intermediate stays under 2^63 even at 10^9 users, where the single-expression numerator n_ab·N·1e6 would overflow; the oracle divides in the identical order). Distinct (user,type) pairs reduce to per-type counts and a type-pair self-join over per-user sets (≤ k² pairs per user, k = |event types| — bounded fan-out). lift > 1e6 ⇒ positive association.",
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
        |m AS (SELECT event_type, count(*) AS cnt FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_ab
        |      FROM ut a JOIN ut b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.ta, p.tb, CAST(p.n_ab AS BIGINT) AS n_both,
        |  CAST(((p.n_ab * 1000000) // ma.cnt) * n.n // mb.cnt AS BIGINT) AS lift_ppm
        |FROM p JOIN m ma ON p.ta = ma.event_type
        |JOIN m mb ON p.tb = mb.event_type CROSS JOIN n
        |ORDER BY ta, tb""".stripMargin) { (s, d) =>
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val utP = graft.util.CacheOnce.persistForOneAction(ut)
      val n = utP.agg(countDistinct(col("user_id")).as("n"))
      val m = utP.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      val pairs = utP.select(col("user_id"), col("event_type").as("ta"))
        .join(utP.select(col("user_id").as("ub"), col("event_type").as("tb")),
          col("user_id") === col("ub") && col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(m.select(col("event_type").as("ta"), col("cnt").as("ca"))), "ta")
        .join(broadcast(m.select(col("event_type").as("tb"), col("cnt").as("cb"))), "tb")
        .crossJoin(broadcast(n))
        // two-step floor division: n_ab·1e6 ≤ 1e15 at 10^9 users, and the
        // quotient (≤ 1e6) times N stays ≤ 1e15 — never near 2^63; the
        // oracle uses the identical step order, so results match exactly
        .selectExpr("ta", "tb", "n_ab AS n_both",
          "((n_ab * 1000000) div ca) * n div cb AS lift_ppm")
        .orderBy(col("ta"), col("tb"))
    },

    GraftQuery(
      "q191_changepoint",
      "Offline change-point detection per event type — the max-|cumulative-deviation| statistic (the classic CUSUM-family location estimate): daily cents totals, deviations SCALED BY n (d_i = x_i·n − total — multiplying through by n instead of subtracting the mean keeps everything integer, no division), running sum over the per-type day series, and the change point is the day maximizing |cumdev| (argmax-as-aggregate on the encoded (abs, -day) max — no second window pass; the encoding assumes |cumdev| < 2^43 — past that, split the argmax into the max-then-join two-pass form). The day frame is one row per (type, day); the heavy daily aggregate underneath is map-side combinable.",
      """WITH x AS (SELECT event_type AS et,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total FROM x GROUP BY et),
        |c AS (SELECT x.et, x.day,
        |    sum(x.cents * t.n - t.total) OVER (PARTITION BY x.et
        |      ORDER BY x.day) AS cumdev
        |  FROM x JOIN t ON x.et = t.et),
        |m AS (SELECT et, max(abs(cumdev) * 1048576 + (1048575 - (day % 1048576))) AS enc
        |      FROM c GROUP BY et)
        |SELECT m.et AS event_type,
        |  CAST(1048575 - (m.enc % 1048576) AS BIGINT) AS change_day,
        |  CAST(m.enc // 1048576 AS BIGINT) AS max_abs_cumdev
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      val x = Tables.events(s, d)
        .groupBy(col("event_type").as("et"),
          expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(sum(cents(col("value"))).as("cents"))
      val t = x.groupBy(col("et")).agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total"))
      val c = x.join(t.withColumnRenamed("et", "tet"), col("et") === col("tet"))
        .withColumn("cumdev", sum(col("cents") * col("n") - col("total"))
          .over(Window.partitionBy(col("et")).orderBy(col("day"))))
      // argmax day by (|cumdev| max, day min) in ONE encoded long: the day
      // index is < 2^20 (epoch days), |cumdev| scaled into the high bits
      c.groupBy(col("et").as("event_type"))
        .agg(max(abs(col("cumdev")) * 1048576L +
          (lit(1048575L) - col("day") % 1048576L)).as("enc"))
        .selectExpr("event_type",
          "1048575 - (enc % 1048576) AS change_day",
          "enc div 1048576 AS max_abs_cumdev")
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q193_benford_census",
      "Benford first-digit census over order totals — the fraud/aberration screen: leading digit of the cents amount by pure integer arithmetic (divide by 10 until < 10 — a CASE ladder over magnitude thresholds, no string cast, no log), exact counts and observed ppm shares. Fabricated amounts show up as a flat profile against Benford's falling curve; the census is one map-side-combinable aggregate.",
      """WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CASE
        |    WHEN c >= 1000000000 THEN c // 1000000000
        |    WHEN c >= 100000000 THEN c // 100000000
        |    WHEN c >= 10000000 THEN c // 10000000
        |    WHEN c >= 1000000 THEN c // 1000000
        |    WHEN c >= 100000 THEN c // 100000
        |    WHEN c >= 10000 THEN c // 10000
        |    WHEN c >= 1000 THEN c // 1000
        |    WHEN c >= 100 THEN c // 100
        |    WHEN c >= 10 THEN c // 10
        |    ELSE c END AS digit FROM v),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
        |SELECT digit, count(*) AS n_amounts,
        |  CAST(count(*) * 1000000 // n.n AS BIGINT) AS share_ppm
        |FROM d CROSS JOIN n GROUP BY digit, n.n ORDER BY digit""".stripMargin) { (s, d) =>
      val v = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .select(cents(col("o_totalprice")).as("c"))
      val dig = v.selectExpr("""CASE
        | WHEN c >= 1000000000 THEN c div 1000000000
        | WHEN c >= 100000000 THEN c div 100000000
        | WHEN c >= 10000000 THEN c div 10000000
        | WHEN c >= 1000000 THEN c div 1000000
        | WHEN c >= 100000 THEN c div 100000
        | WHEN c >= 10000 THEN c div 10000
        | WHEN c >= 1000 THEN c div 1000
        | WHEN c >= 100 THEN c div 100
        | WHEN c >= 10 THEN c div 10
        | ELSE c END AS digit""".stripMargin)
      val n = dig.agg(count(lit(1)).as("n"))
      dig.groupBy(col("digit")).agg(count(lit(1)).as("n_amounts"))
        .crossJoin(broadcast(n))
        .selectExpr("digit", "n_amounts",
          "n_amounts * 1000000 div n AS share_ppm")
        .orderBy(col("digit"))
    },

    GraftQuery(
      "q194_share_of_parent",
      "Hierarchical share-of-parent readout — the drill-down every OLAP frontend computes per level: nation revenue as ppm of its region, region revenue as ppm of the grand total, in one pass — windows over the ALREADY-AGGREGATED nation frame (≤ 25 rows at any SF; the heavy work is the map-side-combinable revenue aggregate underneath). Exact integer ppm, total (region, nation) order.",
      """WITH nv AS (SELECT r.r_name, n.n_name,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, cents,
        |  CAST(CAST(cents AS HUGEINT) * 1000000 // sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    AS share_of_region_ppm,
        |  CAST(CAST(sum(cents) OVER (PARTITION BY r_name) AS HUGEINT) * 1000000
        |    // sum(cents) OVER () AS BIGINT) AS region_share_ppm
        |FROM nv ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      val nv = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("o_totalprice"))).as("cents"))
      val reg = Window.partitionBy(col("r_name"))
      val all = Window.partitionBy()
      // ppm cross-multiplies widen to decimal(38,0): a REGION's cents sum
      // times 1e6 is past 2^63 at sf10 (measured ANSI overflow on the
      // second-decade bench); exact integers, identical floors both engines
      nv.withColumn("rc", sum(col("cents")).over(reg))
        .withColumn("tc", sum(col("cents")).over(all))
        .selectExpr("r_name", "n_name", "cents",
          "CAST(cents AS DECIMAL(38,0)) * 1000000 div rc AS share_of_region_ppm",
          "CAST(rc AS DECIMAL(38,0)) * 1000000 div tc AS region_share_ppm")
        .orderBy(col("r_name"), col("n_name"))
    },

    GraftQuery(
      "q195_merkle_bucket_diff",
      "Anti-entropy table diff WITHOUT sorting or shipping rows — the Merkle/checksum-table replication audit: each side reduces to per-bucket (key div 1000) ORDER-INVARIANT fingerprints — bit_xor of the row-content h60 plus a row count (xor is commutative/associative, so partitioning and arrival order can't change it) — and only buckets whose (count, xor) disagree surface. Generation B derives from A deterministically (q141's mutation recipe: %37 dropped, %19 price-bumped). At two 100 TB replicas the comparison ships keyspace/1000 fingerprints, not rows; flagged buckets then drill down exactly.",
      """WITH a AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |b AS (SELECT k, CASE WHEN k % 19 = 0 THEN v + 100 ELSE v END AS v
        |      FROM a WHERE k % 37 <> 0),
        |ha AS (SELECT k // 1000 AS bucket, count(*) AS n,
        |    bit_xor(CAST(('0x' || substr(md5(k || ':' || v), 1, 15)) AS BIGINT)) AS x
        |  FROM a GROUP BY 1),
        |hb AS (SELECT k // 1000 AS bucket, count(*) AS n,
        |    bit_xor(CAST(('0x' || substr(md5(k || ':' || v), 1, 15)) AS BIGINT)) AS x
        |  FROM b GROUP BY 1)
        |SELECT ha.bucket, CAST(ha.n AS BIGINT) AS n_a,
        |  CAST(coalesce(hb.n, 0) AS BIGINT) AS n_b,
        |  (ha.x IS DISTINCT FROM hb.x) AS xor_differs
        |FROM ha LEFT JOIN hb ON ha.bucket = hb.bucket
        |WHERE ha.n IS DISTINCT FROM hb.n OR ha.x IS DISTINCT FROM hb.x
        |ORDER BY ha.bucket LIMIT 25""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      val b = a.filter(col("k") % 37 =!= 0)
        .select(col("k"),
          when(col("k") % 19 === 0, col("v") + 100).otherwise(col("v")).as("v"))
      def fingerprint(df: org.apache.spark.sql.DataFrame) = df
        .select(expr("k div 1000").as("bucket"),
          h60(concat(col("k").cast("string"), lit(":"), col("v").cast("string")))
            .as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"))
      fingerprint(a).select(col("bucket"), col("n").as("n_a"), col("x").as("xa"))
        .join(fingerprint(b)
          .select(col("bucket"), col("n").as("n_b"), col("x").as("xb")),
          Seq("bucket"), "left")
        .filter(expr("NOT (n_a <=> n_b)") || expr("NOT (xa <=> xb)"))
        .selectExpr("bucket", "n_a", "coalesce(n_b, 0) AS n_b",
          "NOT (xa <=> xb) AS xor_differs")
        .orderBy(col("bucket"))
        .limit(25)
    },

    GraftQuery(
      "q198_multigrain_rollup",
      "Multi-grain summary-table build in ONE scan — the materialization behind every time-series dashboard: year, year-month and year-month-day revenue produced together via GROUPING SETS over derived time columns (one pass over the fact table, partial aggregation map-side combined once — vs the 3-scan UNION ALL a naive build runs), grain labeled from grouping_id so the consumer can route. Exact cents, NULLS FIRST pinned on the rollup sort.",
      """SELECT CASE grouping_id(y, mo, day)
        |    WHEN 0 THEN 'day' WHEN 1 THEN 'month' ELSE 'year' END AS grain,
        |  y, mo, day, count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |        CAST(month(o_orderdate) AS INTEGER) AS mo,
        |        CAST(day(o_orderdate) AS INTEGER) AS day,
        |        CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders) t
        |GROUP BY GROUPING SETS ((y), (y, mo), (y, mo, day))
        |ORDER BY y NULLS FIRST, mo NULLS FIRST, day NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("day"),
          cents(col("o_totalprice")).as("cents"))
        .groupingSets(
          Seq(Seq(col("y")), Seq(col("y"), col("mo")),
            Seq(col("y"), col("mo"), col("day"))),
          col("y"), col("mo"), col("day"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"),
          expr("grouping_id(y, mo, day)").as("gid")) // must live in the agg
        .selectExpr(
          "CASE gid WHEN 0 THEN 'day' WHEN 1 THEN 'month' ELSE 'year' END AS grain",
          "y", "mo", "day", "n_orders", "rev_cents")
        .orderBy(col("y").asc_nulls_first, col("mo").asc_nulls_first,
          col("day").asc_nulls_first)
    },

    GraftQuery(
      "q199_cumulative_unique",
      "Cumulative unique users by day — the all-time growth curve: each user contributes on their FIRST-EVER day only (min day per user — a map-side-combinable aggregate, not a window over events), first-day counts roll up by day, and the running total is a window over the tiny day frame. Linear in events with no distinct-state growth; the shape that still works when 'users' is billions of keys.",
      """WITH f AS (SELECT user_id,
        |    min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS first_day
        |  FROM events GROUP BY user_id),
        |d AS (SELECT first_day AS day, count(*) AS new_users
        |      FROM f GROUP BY first_day)
        |SELECT day, CAST(new_users AS BIGINT) AS new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS total_users
        |FROM d ORDER BY day""".stripMargin) { (s, d) =>
      val f = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(expr("unix_timestamp(ts) div 86400")).as("first_day"))
      val byDay = f.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_users"))
      // running total over the day frame (one row per active day)
      byDay.withColumn("total_users",
          sum(col("new_users")).over(Window.orderBy(col("day"))))
        .orderBy(col("day"))
    },

    GraftQuery(
      "q201_lifecycle_funnel",
      "Order-lifecycle latency funnel across TABLES — the fulfillment readout: per order, FIRST-ship and LAST-ship days reduce from lineitem (min/max aggregates, map-side combinable), the funnel counts orders → first line shipped ≤ 30d → FULLY shipped ≤ 60d, and the first-ship latency median comes out as an exact integer day value via histogram selection over the (priority, latency-days) frame (q137 doctrine — the latency DOMAIN is a few hundred values, so the selection window never touches row counts). One lineitem aggregate + one broadcast-sized histogram pass per priority.",
      """WITH f AS (SELECT l_orderkey,
        |    min(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS first_d,
        |    max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS last_d
        |  FROM lineitem GROUP BY l_orderkey),
        |o AS (SELECT o.o_orderpriority AS prio,
        |    CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400 AS ord_d,
        |    f.first_d, f.last_d
        |  FROM orders o JOIN f ON o.o_orderkey = f.l_orderkey),
        |h AS (SELECT prio, first_d - ord_d AS ship_days, count(*) AS f
        |      FROM o GROUP BY 1, 2),
        |cum AS (SELECT prio, ship_days, f,
        |    sum(f) OVER (PARTITION BY prio ORDER BY ship_days) AS c,
        |    sum(f) OVER (PARTITION BY prio) AS n FROM h),
        |med AS (SELECT prio,
        |    min(CASE WHEN c >= (n + 1) // 2 THEN ship_days END) AS med_ship_days
        |  FROM cum GROUP BY prio),
        |fun AS (SELECT prio, count(*) AS n_orders,
        |    count(*) FILTER (WHERE first_d - ord_d <= 30) AS shipped_30d,
        |    count(*) FILTER (WHERE last_d - ord_d <= 60) AS fully_shipped_60d
        |  FROM o GROUP BY prio)
        |SELECT fun.prio AS priority, fun.n_orders, fun.shipped_30d,
        |  fun.fully_shipped_60d, CAST(med.med_ship_days AS BIGINT) AS med_ship_days
        |FROM fun JOIN med ON fun.prio = med.prio ORDER BY priority""".stripMargin) { (s, d) =>
      val f = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(min(expr("unix_timestamp(l_shipdate) div 86400")).as("first_d"),
          max(expr("unix_timestamp(l_shipdate) div 86400")).as("last_d"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          expr("unix_timestamp(o_orderdate) div 86400").as("ord_d"))
        .join(f, col("o_orderkey") === col("l_orderkey"))
      val oP = graft.util.CacheOnce.persistForOneAction(o)
      val h = oP.select(col("prio"), (col("first_d") - col("ord_d")).as("ship_days"))
        .groupBy(col("prio"), col("ship_days")).agg(count(lit(1)).as("f"))
      val med = h
        .withColumn("c", sum(col("f")).over(
          Window.partitionBy(col("prio")).orderBy(col("ship_days"))))
        .withColumn("n", sum(col("f")).over(Window.partitionBy(col("prio"))))
        .groupBy(col("prio"))
        .agg(min(when(col("c") >= expr("(n + 1) div 2"), col("ship_days")))
          .as("med_ship_days"))
      oP.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"),
          count(when(col("first_d") - col("ord_d") <= 30, 1)).as("shipped_30d"),
          count(when(col("last_d") - col("ord_d") <= 60, 1)).as("fully_shipped_60d"))
        .join(broadcast(med), "prio")
        .selectExpr("prio AS priority", "n_orders", "shipped_30d",
          "fully_shipped_60d", "med_ship_days")
        .orderBy(col("priority"))
    },

    GraftQuery(
      "q202_mrr",
      "Mean reciprocal rank of conversion — the IR/recsys relevance metric made engine-exact: per user, events in (ts, event_id) order, the rank of the FIRST purchase (min over an encoded rank·2^20 argmin — no second pass), reciprocal as floored 1e6 div rank, and MRR as the floored mean over converting users. Plus the rank histogram (how deep users go before buying). Rational arithmetic throughout — no float 1/rank summation order to diverge.",
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        |  FROM events),
        |fp AS (SELECT user_id, min(rk) AS first_purchase_rank
        |       FROM r WHERE event_type = 'purchase' GROUP BY user_id),
        |rr AS (SELECT user_id, first_purchase_rank,
        |         1000000 // first_purchase_rank AS rr_ppm FROM fp)
        |SELECT CAST(count(*) AS BIGINT) AS n_converting,
        |  CAST(min(first_purchase_rank) AS BIGINT) AS best_rank,
        |  CAST(max(first_purchase_rank) AS BIGINT) AS worst_rank,
        |  CAST(sum(rr_ppm) // count(*) AS BIGINT) AS mrr_ppm
        |FROM rr""".stripMargin) { (s, d) =>
      val r = Tables.events(s, d)
        .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      r.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("rk")).as("fpr"))
        .selectExpr("fpr", "1000000 div fpr AS rr_ppm")
        .agg(count(lit(1)).as("n_converting"),
          min(col("fpr")).as("best_rank"), max(col("fpr")).as("worst_rank"),
          expr("sum(rr_ppm) div count(1)").as("mrr_ppm"))
    },

    GraftQuery(
      "q203_groupwise_regression",
      "Group-wise linear-trend slope — regression-as-aggregate, the BI trend line without a model server: per event type, slope of daily cents against the day index from the closed form (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), every sum decimal(38) (the q52 moments doctrine — ANSI-safe, no float summation order), x RECENTERED to days-since-corpus-start so magnitudes stay small, slope reported as exact integer numerator/denominator plus floored cents-per-day. One daily aggregate (map-side combinable) + one tiny per-type reduction.",
      """WITH xd AS (SELECT event_type AS et,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
        |    CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |lo AS (SELECT min(d) AS lo FROM xd),
        |day AS (SELECT et, d - lo.lo AS x, CAST(sum(c) AS BIGINT) AS y
        |        FROM xd CROSS JOIN lo GROUP BY 1, 2),
        |s AS (SELECT et, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM day GROUP BY et)
        |SELECT et AS event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CAST((n * sxy - sx * sy) // (n * sxx - sx * sx) AS BIGINT)
        |    AS slope_cents_per_day
        |FROM s ORDER BY event_type""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val xd = Tables.events(s, d)
        .select(col("event_type").as("et"),
          expr("unix_timestamp(ts) div 86400").as("d"),
          cents(col("value")).as("c"))
      val lo = xd.agg(min(col("d")).as("lo"))
      val day = xd.crossJoin(broadcast(lo))
        .select(col("et"), (col("d") - col("lo")).as("x"), col("c"))
        .groupBy(col("et"), col("x")).agg(sum(col("c")).as("y"))
      val sums = day.groupBy(col("et"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).cast(dec).as("sx"),
          sum(col("y").cast(dec)).cast(dec).as("sy"),
          sum((col("x") * col("x")).cast(dec)).cast(dec).as("sxx"),
          sum((col("x").cast(dec) * col("y").cast(dec))).cast(dec).as("sxy"))
      sums.selectExpr("et AS event_type", "CAST(n AS LONG) AS n_days",
          "CAST(n * sxy - sx * sy AS LONG) AS slope_num",
          "CAST(n * sxx - sx * sx AS LONG) AS slope_den",
          "CAST((n * sxy - sx * sy) div (n * sxx - sx * sx) AS LONG) AS slope_cents_per_day")
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q204_log2_latency_histogram",
      "Power-of-two latency histogram (the HDR-histogram bucket layout ops dashboards use): per-user inter-event gaps in seconds, bucketed by integer floor(log2) computed as a COMPARISON LADDER (one CASE over the 2^k thresholds — no float log whose boundary rounding could differ between engines; the ladder STRING is built once in Scala and fed verbatim to BOTH the Spark plan and the DuckDB oracle, so the bucket function is definitionally identical). Census per event type and bucket with exact ppm shares; the gap computation is one lag window per user partition.",
      {
        val ladder = (19 to 1 by -1)
          .map(i => s"WHEN gap >= ${1L << i} THEN $i").mkString(
            "CASE ", " ", " ELSE 0 END")
        s"""WITH g AS (SELECT event_type AS et,
           |    CAST(floor(epoch(ts)) AS BIGINT)
           |      - lag(CAST(floor(epoch(ts)) AS BIGINT))
           |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           |  FROM events),
           |b AS (SELECT et, $ladder AS bucket FROM g WHERE gap IS NOT NULL),
           |n AS (SELECT et, count(*) AS n FROM b GROUP BY et)
           |SELECT b.et AS event_type, CAST(b.bucket AS BIGINT) AS log2_bucket,
           |  count(*) AS n_gaps,
           |  CAST(count(*) * 1000000 // max(n.n) AS BIGINT) AS share_ppm
           |FROM b JOIN n ON b.et = n.et
           |GROUP BY b.et, b.bucket ORDER BY event_type, log2_bucket""".stripMargin
      }) { (s, d) =>
      val ladder = (19 to 1 by -1)
        .map(i => s"WHEN gap >= ${1L << i} THEN $i").mkString(
          "CASE ", " ", " ELSE 0 END")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val g = Tables.events(s, d)
        .select(col("event_type").as("et"),
          (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
            .as("gap"))
        .filter(col("gap").isNotNull)
        .selectExpr("et", s"$ladder AS bucket")
      val gP = graft.util.CacheOnce.persistForOneAction(g)
      val n = gP.groupBy(col("et")).agg(count(lit(1)).as("n"))
      gP.groupBy(col("et"), col("bucket"))
        .agg(count(lit(1)).as("n_gaps"))
        .join(broadcast(n), "et")
        .selectExpr("et AS event_type", "CAST(bucket AS LONG) AS log2_bucket",
          "n_gaps", "n_gaps * 1000000 div n AS share_ppm")
        .orderBy(col("event_type"), col("log2_bucket"))
    },

    GraftQuery(
      "q205_seasonal_anomaly",
      "Seasonality-adjusted anomaly days — the monitoring readout that doesn't page you every weekend: per (event type, day-of-week phase) the MEDIAN daily cents by histogram selection (q137 doctrine, the per-phase value histogram never the rows), each day scored as signed ppm deviation from ITS OWN weekday baseline, top-10 by |deviation| with a total (dev, type, day) order. The weekday phase is day_index % 7 — pure integer phase, no calendar-library drift between engines.",
      """WITH x AS (SELECT event_type AS et,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT et, day % 7 AS dow, cents, count(*) AS f
        |      FROM x GROUP BY 1, 2, 3),
        |cum AS (SELECT et, dow, cents, f,
        |    sum(f) OVER (PARTITION BY et, dow ORDER BY cents) AS c,
        |    sum(f) OVER (PARTITION BY et, dow) AS n FROM h),
        |med AS (SELECT et, dow,
        |    min(CASE WHEN c >= (n + 1) // 2 THEN cents END) AS med
        |  FROM cum GROUP BY 1, 2),
        |dev AS (SELECT x.et, x.day, x.cents, med.med,
        |    (x.cents - med.med) * 1000000 // med.med AS dev_ppm
        |  FROM x JOIN med ON x.et = med.et AND x.day % 7 = med.dow)
        |SELECT et AS event_type, day, cents, med AS weekday_median,
        |  CAST(dev_ppm AS BIGINT) AS dev_ppm
        |FROM dev ORDER BY abs(dev_ppm) DESC, et, day LIMIT 10""".stripMargin) { (s, d) =>
      val x = Tables.events(s, d)
        .groupBy(col("event_type").as("et"),
          expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(sum(cents(col("value"))).as("cents"))
      val xP = graft.util.CacheOnce.persistForOneAction(x)
      val h = xP.selectExpr("et", "day % 7 AS dow", "cents")
        .groupBy(col("et"), col("dow"), col("cents"))
        .agg(count(lit(1)).as("f"))
      val med = h
        .withColumn("c", sum(col("f")).over(
          Window.partitionBy(col("et"), col("dow")).orderBy(col("cents"))))
        .withColumn("n", sum(col("f")).over(
          Window.partitionBy(col("et"), col("dow"))))
        .groupBy(col("et"), col("dow"))
        .agg(min(when(col("c") >= expr("(n + 1) div 2"), col("cents")))
          .as("med"))
      xP.join(broadcast(med.withColumnRenamed("et", "met")),
          col("et") === col("met") && col("day") % 7 === col("dow"))
        .selectExpr("et AS event_type", "day", "cents",
          "med AS weekday_median",
          "(cents - med) * 1000000 div med AS dev_ppm")
        .orderBy(abs(col("dev_ppm")).desc, col("event_type"), col("day"))
        .limit(10)
    },

    GraftQuery(
      "q160_time_weighted_average",
      "Time-weighted average (TWAP): each event's value holds until the user's next event, weighted by the holding interval — Σ cents·Δt_seconds over ΣΔt_seconds per event type, exact integer numerator/denominator with a floored cents ratio. One lead() window per user partition; the metric every ops/trading pipeline wants instead of the naive row mean that over-weights bursts.",
      """WITH iv AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS c,
        |    CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
        |      - CAST(floor(epoch(ts)) AS BIGINT) AS dt
        |  FROM events),
        |a AS (SELECT event_type,
        |    CAST(sum(c * dt) AS BIGINT) AS num,
        |    CAST(sum(dt) AS BIGINT) AS den
        |  FROM iv WHERE dt IS NOT NULL GROUP BY event_type)
        |SELECT event_type, num, den, num // den AS twap_cents
        |FROM a ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val iv = Tables.events(s, d)
        .select(col("event_type"), cents(col("value")).as("c"),
          (unix_timestamp(lead(col("ts"), 1).over(w)) - unix_timestamp(col("ts")))
            .as("dt"))
        .filter(col("dt").isNotNull)
      iv.groupBy(col("event_type"))
        .agg(sum(col("c") * col("dt")).as("num"), sum(col("dt")).as("den"))
        .selectExpr("event_type", "num", "den", "num div den AS twap_cents")
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q141_snapshot_diff",
      "Snapshot diff / change-data classification: two table generations full-outer-joined on the key and every row classified added / removed / changed / unchanged, with signed net value drift per class — the reconciliation operator behind CDC validation and sync auditing. One shuffle on the join key; the class census is a small aggregate. (Generation B is derived deterministically from A: keys %37 dropped, %19 price-bumped, %41 mirrored in as new negative keys.)",
      """WITH a AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |b AS (
        |  SELECT k, CASE WHEN k % 19 = 0 THEN v + 100 ELSE v END AS v
        |  FROM a WHERE k % 37 <> 0
        |  UNION ALL
        |  SELECT -k, v FROM a WHERE k % 41 = 0 AND k > 0),
        |j AS (SELECT coalesce(a.k, b.k) AS k, a.v AS va, b.v AS vb
        |      FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT CASE WHEN va IS NULL THEN 'added'
        |            WHEN vb IS NULL THEN 'removed'
        |            WHEN va <> vb   THEN 'changed'
        |            ELSE 'unchanged' END AS change_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(coalesce(vb, 0) - coalesce(va, 0)) AS BIGINT) AS net_cents
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("v"))
      val b = a.filter(col("k") % 37 =!= 0)
        .select(col("k"),
          when(col("k") % 19 === 0, col("v") + 100).otherwise(col("v")).as("v"))
        .unionAll(a.filter(col("k") % 41 === 0 && col("k") > 0)
          .select((-col("k")).as("k"), col("v")))
      a.select(col("k"), col("v").as("va"))
        .join(b.select(col("k"), col("v").as("vb")), Seq("k"), "full_outer")
        .select(
          when(col("va").isNull, "added")
            .when(col("vb").isNull, "removed")
            .when(col("va") =!= col("vb"), "changed")
            .otherwise("unchanged").as("change_type"),
          (coalesce(col("vb"), lit(0L)) - coalesce(col("va"), lit(0L))).as("delta"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"), sum(col("delta")).as("net_cents"))
        .orderBy(col("change_type"))
    },

    GraftQuery(
      "q52_stats_from_sums",
      "Moment statistics from exact integer sums (decimal(38) — no float summation order anywhere): per-returnflag stddev of price cents and corr(quantity, price) in ppm, derived from n, Sx, Sy, Sxx, Syy, Sxy.",
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS HUGEINT) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(floor(sqrt(CAST(n * syy - sy * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))) AS BIGINT) AS stddev_price_cents,
        |  CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT) AS corr_ppm
        |FROM s ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val x = col("l_quantity").cast("long")
      val y = cents(col("l_extendedprice"))
      // products go decimal BEFORE the sum: sum(y*y) overflows long at scale
      // (price-cents² ~1e14 per row), and ANSI mode would make that an error
      val sums = Tables.lineitem(s, d)
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).cast(dec).as("sx"),
          sum(col("y").cast(dec)).cast(dec).as("sy"),
          sum((col("x") * col("x")).cast(dec)).cast(dec).as("sxx"),
          sum((col("y") * col("y")).cast(dec)).cast(dec).as("syy"),
          sum((col("x") * col("y")).cast(dec)).cast(dec).as("sxy"))
      sums.select(col("l_returnflag"), col("n").cast("long").as("n"),
        floor(sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")
          / (col("n") * (col("n") - 1)).cast("double"))).cast("long")
          .as("stddev_price_cents"),
        floor(lit(1000000.0) * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .cast("long").as("corr_ppm"))
        .orderBy(col("l_returnflag"))
    },

    GraftQuery(
      "q53_salted_skew_join",
      "Skew-salted fact-dim join: the dim side is replicated across 8 salt values and the fact side joins on (key, deterministic salt), spreading one hot key over 8 tasks; result identical to the plain join the oracle runs.",
      """SELECT c.c_nationkey, count(*) AS n_events,
        |  CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin) { (s, d) =>
      val salts = 8
      val fact = Tables.events(s, d)
        .select(col("user_id"), col("value"),
          pmod(col("event_id"), lit(salts)).cast("int").as("salt"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          explode(array((0 until salts).map(lit): _*)).as("salt"))
      fact.join(dim,
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("c_nationkey"))
    },

    GraftQuery(
      "q321_frequent_pairs",
      "FREQUENT-ITEMSET mining, the A-priori 2-itemset pass (market-basket / co-occurrence — the recommender and token-collocation primitive): baskets are orders, items are parts, and the pair census runs support-pruned in A-priori order — items below the pair support threshold are dropped BEFORE pairing (downward closure: a frequent pair needs two frequent items), so the within-basket self-join pairs only surviving items. Output: pairs at support ≥ 2 with integer lift in ppm (support·B·10⁶ / (sa·sb) floor-divided — no floats cross the gate). Scale shape: the self-join is per-basket local (equi-join on the basket key) and quadratic only in BASKET SIZE (≤7 lines per order here; a production run caps basket width or hashes candidate pairs PCY-style — the q44 governor doctrine applied to baskets); support counting is a map-side-combinable groupBy, and the item-support prune is exactly what keeps candidate volume linear when item popularity is Zipf.",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |b AS (SELECT count(DISTINCT l_orderkey) AS nb FROM items),
        |isup AS (SELECT l_partkey, count(*) AS s FROM items GROUP BY l_partkey),
        |f AS (SELECT i.l_orderkey, i.l_partkey, s.s
        |  FROM items i JOIN isup s ON s.l_partkey = i.l_partkey WHERE s.s >= 2),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS support, max(a.s) AS sa, max(b.s) AS sb
        |  FROM f a JOIN f b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
        |  CAST((support * nb * 1000000) // (sa * sb) AS BIGINT) AS lift_ppm
        |FROM p, b WHERE support >= 2
        |ORDER BY support DESC, part_a, part_b""".stripMargin) { (s, d) =>
      // the (o, p) frame hashes on the BASKET KEY alone (r20, the q335
      // projection doctrine): HashPartitioning(o) satisfies the distinct's
      // (o, p) clustering, and the cached frame then enters the per-basket
      // pair stage already clustered — the r19 shape paid one (o, p)
      // exchange for the distinct plus TWO more o-exchanges for the basket
      // self-join's sides (guide §2.4)
      val nAgg = graft.util.Sizing.exchangePartitions(s,
        graft.util.Sizing.parquetRowCount(d, "lineitem"))
      val items = graft.util.CacheOnce.persistForOneAction(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .repartition(nAgg, col("l_orderkey")).distinct())
      // basket count as a broadcast 1-row frame, NOT a driver-side count():
      // query builders stay lazy (the eager-work-per-construction class)
      val nb = items.agg(countDistinct(col("l_orderkey")).as("nb"))
      val isup = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("s"))
      // size-gated broadcast of the item-support side (|parts|-bounded, a
      // contract-small dimension at the gated tiers): the map-side join
      // keeps the cached items frame un-exchanged on its way into the
      // per-basket pair stage; past the 64 MB gate it degrades to the
      // shuffle join unchanged (guide §3.1)
      val f = items.join(
        graft.util.Broadcasts.broadcastIfSmall(isup.filter(col("s") >= 2)),
        "l_partkey")
      // self-join pair stage over the o-partitioned cache (r20 final form):
      // a per-basket collect_list GENERATOR was tried here and REVERTED —
      // like q164's, it won at sf0.1 (fewer tiny exchanges) but lost big
      // at sf1 (11.5 s vs 4.7 s for this form), where the codegen join +
      // map-side partial census beat the allocation-heavy array emit. The
      // kept wins vs the r19 shape (sf1 5.75 s → 4.74 s): the items cache
      // is hash-partitioned on the basket key (ONE exchange serves the
      // distinct AND both self-join sides — the broadcast support join
      // preserves it, so the pair join adds NO exchange) and the support
      // side broadcasts under the 64 MB gate.
      val a = f.select(col("l_orderkey"), col("l_partkey").as("part_a"),
        col("s").as("sa"))
      val b = f.select(col("l_orderkey"), col("l_partkey").as("part_b"),
        col("s").as("sb"))
      a.join(b, Seq("l_orderkey")).filter(col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("support"), max(col("sa")).as("sa"),
          max(col("sb")).as("sb"))
        .filter(col("support") >= 2)
        .crossJoin(broadcast(nb))
        .selectExpr("part_a", "part_b", "support",
          "(support * nb * 1000000) div (sa * sb) AS lift_ppm")
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
    },

    GraftQuery(
      "q319_aqe_skew_join",
      "q53's UNSALTED declarative twin — the same events⋈customer fact-dim join written plainly, whose scale governor is the ENGINE's adaptive skew handling rather than hand-salting: at execution AQE observes the map-output sizes and splits any skewed partition into multiple reader tasks (spark.sql.adaptive.skewJoin, on by default), replicating the matching dim rows — the same spread q53 builds by hand, but decided from RUNTIME statistics, only when needed, and with no key-space rewrite in the query text. This is the form you write FIRST at 100 TB and only abandon for q53's salting when a single logical key (not merely a partition) exceeds a task. The pair is measured head-to-head on the Zipf-keyed skew stage in BENCH_skew.json (dev/bench_skew.sh sizes the skew thresholds to the local stage; a real cluster keeps the defaults).",
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |  CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      Tables.events(s, d).select(col("user_id"), col("value"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("c_mktsegment"))
    },

    GraftQuery(
      "q98_salted_two_phase_agg",
      "Skew-salted aggregation: a heavy-hitter group key (3 return flags over the whole lineitem table) first aggregates on (key, salt) — 16 partial states per hot key spread across tasks — then the tiny partial frame re-aggregates on the key alone. sum/count/min/max recombine exactly, so the result is identical to the plain GROUP BY the oracle runs. (Spark's map-side partials already do this within a task; the explicit salt stage is the pattern for when one reduce key still exceeds a single task at 100 TB.)",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  min(l_quantity) AS q_min, max(l_quantity) AS q_max
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val salts = 16
      val partial = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
          pmod(col("l_orderkey"), lit(salts)).cast("int").as("salt"))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(cents(col("l_extendedprice"))).as("pc"),
          min(col("l_quantity")).as("pqmin"), max(col("l_quantity")).as("pqmax"))
      partial.groupBy(col("l_returnflag"))
        .agg(sum(col("pn")).as("n"), sum(col("pc")).as("price_cents"),
          min(col("pqmin")).as("q_min"), max(col("pqmax")).as("q_max"))
        .orderBy(col("l_returnflag"))
    },

    GraftQuery(
      "q101_data_profile",
      "Single-pass dataset profiling — the summary every ingest pipeline runs first: per column the row count, distinct count, null count and min/max (as strings for a uniform schema), computed in ONE aggregate over the table and unpivoted with stack(); the oracle re-reads per column, Spark doesn't.",
      """SELECT col_name, n, n_distinct, n_null, min_s, max_s FROM (
        |  SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(min(o_custkey) AS VARCHAR) AS min_s, CAST(max(o_custkey) AS VARCHAR) AS max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    min(o_orderpriority), max(o_orderpriority) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    min(o_orderstatus), max(o_orderstatus) FROM orders)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus")
      val aggs = count(lit(1)).as("n") +: cols.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"d_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"u_$c"),
          // min/max in the column's NATIVE order (numeric for o_custkey),
          // cast to string after aggregating — casting first would compare
          // lexicographically ('999' > '1499')
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c"))
      }
      val wide = Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        s"'$c', d_$c, u_$c, mn_$c, mx_$c").mkString(", ")
      wide.select(col("n"), expr(
          s"stack(${cols.size}, $stacked) AS (col_name, n_distinct, n_null, min_s, max_s)"))
        .select(col("col_name"), col("n"), col("n_distinct"),
          col("n_null"), col("min_s"), col("max_s"))
        .orderBy(col("col_name"))
    },

    GraftQuery(
      "q102_incremental_agg_maintenance",
      "Materialized-aggregate refresh: a pre-existing per-priority aggregate (orders up to the cutoff) is brought current by aggregating ONLY the delta and merging partial states (counts and cent-sums add; no re-scan of history) — the incremental-view-maintenance identity the oracle checks by recomputing from scratch.",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val cutoff = 3000
      def part(f: org.apache.spark.sql.Column) = Tables.orders(s, d).filter(f)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
      val existing = part(col("o_orderkey") <= cutoff) // the stored aggregate
      val delta    = part(col("o_orderkey") > cutoff)  // the only new work
      existing.unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n"), sum(col("total_cents")).as("total_cents"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q54_broadcast_dim_join",
      "Star-schema chain with explicit broadcast hints on both dims (nation, region): the fact table never shuffles for the join — the default plan for dim tables that fit in memory.",
      """SELECT r.r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(cents(col("c_acctbal"))).as("acctbal_cents"))
        .orderBy(col("r_name"))
    },

    GraftQuery(
      "q55_sessionization",
      "Gaps-and-islands sessionization (30-min inactivity gap) via lag + running sum — one shuffle by user, no join: per-session bounds, event count, and value cents.",
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id, sid,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin) { (s, d) =>
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // event_id tie-break keeps the frame total-ordered like the oracle's
      // ORDER BY ts, event_id: with ROWS frames, a ts tie straddling a
      // session boundary would otherwise be summed in nondeterministic order.
      val run  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("new_s",
          when(col("ts") - lag(col("ts"), 1).over(byTs) > expr("INTERVAL 30 MINUTE")
            || lag(col("ts"), 1).over(byTs).isNull, 1).otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("sid"))
        .agg(unix_timestamp(min(col("ts"))).as("start_s"),
          unix_timestamp(max(col("ts"))).as("end_s"),
          count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("user_id"), col("sid"))
    },

    GraftQuery(
      "q56_tumbling_window",
      "Tumbling 15-minute event-time windows per event type (batch twin of the streaming aggregation): window start as epoch seconds.",
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS window_start_s,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("window_start_s"), col("event_type"))
    },

    GraftQuery(
      "q57_sliding_window",
      "Sliding windows (10-min length, 5-min slide): every event lands in exactly two windows; the oracle derives both window starts arithmetically.",
      """WITH w AS (SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 300) - u.k) * 300 AS window_start_s,
        |    event_type, value
        |  FROM events, LATERAL unnest([0, 1]) AS u(k))
        |SELECT window_start_s, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("n"), col("value_cents"))
        .orderBy(col("window_start_s"))
    },

    GraftQuery(
      "q79_union_by_name",
      "Schema-evolving union: an old-schema batch (no discount column) and a new-schema batch union BY NAME with missing columns null-padded — the append path when a 100 TB table's schema grows; per-epoch aggregate keeps nulls observable.",
      """WITH old_b AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(NULL AS BIGINT) AS discount_cents, 'v1' AS epoch
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |new_b AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderkey % 500 AS BIGINT) AS discount_cents, 'v2' AS epoch
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |u AS (SELECT * FROM old_b UNION ALL SELECT * FROM new_b)
        |SELECT epoch, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(discount_cents) AS BIGINT) AS discount_cents,
        |  count(discount_cents) AS n_with_discount
        |FROM u GROUP BY epoch ORDER BY epoch""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val oldB = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("cents"),
          lit("v1").as("epoch"))
      val newB = orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("cents"),
          (col("o_orderkey") % 500).cast("long").as("discount_cents"),
          lit("v2").as("epoch"))
      oldB.unionByName(newB, allowMissingColumns = true)
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          sum(col("discount_cents")).as("discount_cents"),
          count(col("discount_cents")).as("n_with_discount"))
        .orderBy(col("epoch"))
    },

    GraftQuery(
      "q72_hash_sample",
      "Deterministic hash sampling: a 5% sample selected by md5-hash residue of the row key — reproducible across runs, engines and cluster sizes (unlike TABLESAMPLE/rand), the pattern for exploring a 100 TB table at fixed cost.",
      s"""SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM lineitem
         |WHERE ${graft.functions.CrossHash.h60Sql(
             "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")} % 20 = 0
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      import graft.functions.CrossHash.h60
      Tables.lineitem(s, d)
        .filter(pmod(h60(concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))), lit(20)) === 0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy(col("l_returnflag"))
    },

    GraftQuery(
      "q69_map_funcs",
      "Map-typed column surface: events.props parsed to map<string,int> (from_json), element_at value extraction and map_keys enumeration — the MapType generalization of the reference's application_data row maps (SURVEY §1.4).",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  array_to_string(json_keys(props), ',') AS keys
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
      Tables.events(s, d)
        .select(col("event_id"),
          element_at(m, "k").cast("long").as("k_val"),
          array_join(map_keys(m), ",").as("keys"))
        .filter(col("k_val") > 50)
        .orderBy(col("event_id"))
    },

    GraftQuery(
      "q253_map_higher_order",
      "Map higher-order pipeline — the MapType algebra q69 only touches: per-priority (status -> count) and (status -> cents) maps built with map_from_entries over deterministically-sorted entry lists, combined KEY-WISE with map_zip_with (integer average per status, no join), pruned with map_filter, then exploded back to rows. Map-shaped aggregates carry a whole sub-table per group through one column — the feature-bundle representation ML pipelines pass between stages — and the lambdas run over already-aggregated group rows, never the fact table.",
      """WITH g AS (SELECT o_orderpriority, o_orderstatus,
        |    count(*) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, o_orderstatus, c // n AS avg_cents
        |FROM g WHERE c // n >= 15000000
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin) { (s, d) =>
      val perStatus = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("c"))
      perStatus.groupBy(col("o_orderpriority"))
        .agg(
          map_from_entries(sort_array(collect_list(struct(col("o_orderstatus"), col("n")))))
            .as("counts"),
          map_from_entries(sort_array(collect_list(struct(col("o_orderstatus"), col("c")))))
            .as("cents"))
        .select(col("o_orderpriority"),
          explode(expr(
            "map_filter(map_zip_with(counts, cents, (k, n, c) -> c div n), (k, v) -> v >= 15000000)"))
            .as(Seq("o_orderstatus", "avg_cents")))
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    },

    GraftQuery(
      "q70_sql_subqueries",
      "SQL entry point with subqueries: scalar subquery (above-average filter via exact integer cross-multiplication — no float average in a predicate), uncorrelated IN, and correlated NOT EXISTS, run through spark.sql over temp views.",
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders o
        |WHERE CAST(floor(o_totalprice * 100) AS BIGINT) * (SELECT count(*) FROM orders)
        |      > (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 10)
        |  AND NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders_v o
          |WHERE CAST(floor(o_totalprice * 100) AS BIGINT) * (SELECT count(*) FROM orders_v)
          |      > (SELECT sum(CAST(floor(o_totalprice * 100) AS BIGINT)) FROM orders_v)
          |  AND o_custkey IN (SELECT c_custkey FROM customer_v WHERE c_nationkey < 10)
          |  AND NOT EXISTS (SELECT 1 FROM customer_v c
          |                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    GraftQuery(
      "q224_lateral_topk",
      "Correlated LATERAL subquery with ORDER BY + LIMIT — top-2 customers by balance per nation written the way an analyst writes it. Catalyst's lateral decorrelation (DecorrelateInnerQuery) rewrites the per-row subquery into a single shuffled join + per-group limit instead of executing the inner query once per outer row — the difference between O(|nation|) subquery executions and one distributed plan. Ties broken by name for determinism.",
      """SELECT n_name, t.c_name, t.bal_cents
        |FROM nation, LATERAL (
        |  SELECT c_name, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY bal_cents DESC, c_name LIMIT 2) t
        |ORDER BY n_name, t.bal_cents DESC, t.c_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation_lv")
      Tables.customer(s, d).createOrReplaceTempView("customer_lv")
      s.sql(
        """SELECT n_name, t.c_name, t.bal_cents
          |FROM nation_lv, LATERAL (
          |  SELECT c_name, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
          |  FROM customer_lv
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY bal_cents DESC, c_name LIMIT 2) t
          |ORDER BY n_name, t.bal_cents DESC, t.c_name""".stripMargin)
    },

    GraftQuery(
      "q240_parameterized_sql",
      "Parameterized SQL with named markers + the IDENTIFIER() clause — the injection-safe templating surface (Spark 3.4/3.5): the table NAME binds through IDENTIFIER(:tbl) (resolved as an identifier, never string-spliced) and the price cap binds as a typed :cap literal parameter; the parameters never touch the SQL text, so a hostile value cannot change the query shape. The per-priority census under the cap, with the cap echoed in-result.",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(25000000 AS BIGINT) AS cap_cents
        |FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) < 25000000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_param_v")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sum_cents,
          |  :cap AS cap_cents
          |FROM IDENTIFIER(:tbl)
          |WHERE CAST(floor(o_totalprice * 100) AS BIGINT) < :cap
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
        Map("tbl" -> "orders_param_v", "cap" -> 25000000L))
    },

    GraftQuery(
      "q241_sql_udf",
      "SQL-defined scalar functions (Spark 4's CREATE FUNCTION ... RETURN expr — a UDF with NO JVM closure): cents_of and a tiered price band defined in pure SQL, then used in an aggregate. Because the body is a SQL expression, Catalyst INLINES it at analysis time — it folds, pushes down, and codegens like any built-in, the property every closure-based UDF loses. The portable way to ship domain helpers with a 100 TB pipeline.",
      """WITH b AS (SELECT o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN CAST(floor(o_totalprice * 100) AS BIGINT) < 10000000 THEN 'low'
        |         WHEN CAST(floor(o_totalprice * 100) AS BIGINT) < 30000000 THEN 'mid'
        |         ELSE 'high' END AS band
        |  FROM orders)
        |SELECT o_orderpriority, band, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_udf_v")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION cents_of(p DOUBLE)
              |RETURNS BIGINT RETURN CAST(floor(p * 100) AS BIGINT)""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
              |RETURNS STRING RETURN
              |  CASE WHEN cents_of(p) < 10000000 THEN 'low'
              |       WHEN cents_of(p) < 30000000 THEN 'mid'
              |       ELSE 'high' END""".stripMargin)
      s.sql(
        """SELECT o_orderpriority, price_band(o_totalprice) AS band,
          |  count(*) AS n, sum(cents_of(o_totalprice)) AS sum_cents
          |FROM orders_udf_v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    },

    GraftQuery(
      "q247_pipe_syntax",
      "SQL pipe syntax (Spark 4's |> operator chain — queries written in dataflow order, the way the engine executes them): scan |> WHERE |> AGGREGATE..GROUP BY |> ORDER BY, each stage consuming the previous stage's output like a DataFrame chain but in pure SQL. Same plan as the nested-SELECT equivalent (the parser desugars, Catalyst sees one tree) — proven by matching the conventional-SQL oracle exactly.",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_pipe_v")
      s.sql(
        """FROM orders_pipe_v
          ||> WHERE o_orderstatus = 'F'
          ||> AGGREGATE count(*) AS n,
          |     sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sum_cents
          |   GROUP BY o_orderpriority
          ||> SELECT o_orderpriority, n, sum_cents
          ||> ORDER BY o_orderpriority""".stripMargin)
    },

    GraftQuery(
      "q242_execute_immediate",
      "EXECUTE IMMEDIATE with USING parameters — dynamic SQL composed as DATA, executed with bound arguments (the warehouse-migration surface for query text arriving from tables/configs at run time). The statement string carries ? markers only; the priority filter binds through USING, so dynamic text still cannot be injected. Same census shape as q240 proving text-built and API-built parameterization agree.",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_exec_v")
      s.sql("""EXECUTE IMMEDIATE
              |  'SELECT o_orderstatus, count(*) AS n,
              |     sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sum_cents
              |   FROM orders_exec_v WHERE o_orderpriority = ?
              |   GROUP BY o_orderstatus ORDER BY o_orderstatus'
              |  USING '1-URGENT'""".stripMargin)
    },

    GraftQuery(
      "q314_sql_scripting",
      "SQL SCRIPTING control flow (Spark 4's BEGIN..END procedural blocks — DECLARE'd session-local variables, SET from a scalar subquery, a WHILE loop) — the stored-procedure migration surface that completes the dynamic-SQL family (q240 named markers, q241 SQL UDFs, q242 EXECUTE IMMEDIATE, q247 pipes): the script reads total revenue once, then the loop accumulates the 20-level halving ladder sum(total div 2^i) — integer geometric partial sums, each level a variable update the engine executes strictly in order — and the final SELECT returns variables as the script's result set. The oracle recomputes the ladder set-wise (generate_series + shifts): loop semantics, variable scoping and div truncation must all agree for the gate to pass.",
      """WITH t AS (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS total_cents FROM orders),
        |l AS (SELECT CAST(sum(total_cents // (CAST(1 AS BIGINT) << i)) AS BIGINT)
        |    AS ladder_cents
        |  FROM t CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS i) dd)
        |SELECT t.total_cents, l.ladder_cents, CAST(20 AS BIGINT) AS levels
        |FROM t, l""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_script_v")
      // enable scripting only for this parse, then restore: leaving the flag
      // flipped on the SHARED session would change how every later s.sql
      // text in the JVM parses
      val prior = s.conf.getOption("spark.sql.scripting.enabled")
      s.conf.set("spark.sql.scripting.enabled", "true")
      try s.sql(
        """BEGIN
          |  DECLARE total_cents BIGINT DEFAULT 0;
          |  DECLARE divisor BIGINT DEFAULT 1;
          |  DECLARE lvl INT DEFAULT 0;
          |  DECLARE acc BIGINT DEFAULT 0;
          |  SET total_cents = (SELECT sum(CAST(floor(o_totalprice * 100) AS BIGINT))
          |                     FROM orders_script_v);
          |  WHILE lvl < 20 DO
          |    SET acc = acc + total_cents div divisor;
          |    SET divisor = divisor * 2;
          |    SET lvl = lvl + 1;
          |  END WHILE;
          |  SELECT total_cents, acc AS ladder_cents, CAST(20 AS BIGINT) AS levels;
          |END""".stripMargin)
      finally prior match {
        case Some(v) => s.conf.set("spark.sql.scripting.enabled", v)
        case None    => s.conf.unset("spark.sql.scripting.enabled")
      }
    },

    GraftQuery(
      "q244_ks_statistic",
      "Two-sample Kolmogorov-Smirnov distance in EXACT integer arithmetic — the order-statistic drift test complementing q156's binned total variation: urgent vs low-priority order prices bucketed to $100 bins, per-bucket counts for both samples in one aggregate, cumulative counts over the bounded bucket frame, and D = max |cdf1 - cdf2| carried as the integer |cum1*n2 - cum2*n1| over the common denominator n1*n2 (ppm at the end, never a float CDF). The window runs over <=5000 bucket rows (value-domain bounded), not the orders — q215's rank-sum shape applied to distribution distance.",
      """WITH s1 AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // 10000 AS b,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS in1,
        |    CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS in2
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |c AS (SELECT b, CAST(sum(in1) AS BIGINT) AS c1, CAST(sum(in2) AS BIGINT) AS c2
        |      FROM s1 GROUP BY b),
        |cum AS (SELECT b,
        |    CAST(sum(c1) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum1,
        |    CAST(sum(c2) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum2,
        |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(c2) OVER () AS BIGINT) AS n2
        |  FROM c)
        |SELECT max(n1) AS n1, max(n2) AS n2,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_scaled,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) * 1000000 // (max(n1) * max(n2))
        |    AS BIGINT) AS ks_ppm
        |FROM cum""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 10000").as("b"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("in1"),
          when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L).as("in2"))
        .groupBy(col("b"))
        .agg(sum(col("in1")).as("c1"), sum(col("in2")).as("c2"))
      // bucket frame is value-domain bounded (~5000 rows): the single-
      // partition cumsum window is over buckets, never order rows
      val cumW = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val allW = Window.partitionBy()
      c.withColumn("cum1", sum(col("c1")).over(cumW))
        .withColumn("cum2", sum(col("c2")).over(cumW))
        .withColumn("n1", sum(col("c1")).over(allW))
        .withColumn("n2", sum(col("c2")).over(allW))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("d_scaled"),
          expr("CAST(max(abs(cum1 * n2 - cum2 * n1)) * 1000000 div (max(n1) * max(n2)) AS BIGINT)")
            .as("ks_ppm"))
    },

    GraftQuery(
      "q261_rfm_segmentation",
      "RFM segmentation — the customer-value grid every retention team runs: per user, Recency (days since last event), Frequency (event count) and Monetary each scored 1..3 against TERCILE thresholds computed by the library's histogram-selection doctrine (value->count census per dimension, threshold picked by cumulative count). The monetary axis is an unbounded-domain per-user cents sum (effectively unique per user), so it is first quantized onto the q204 power-of-2 comparison ladder — the census stays a BOUNDED ~40-value histogram at any corpus size instead of a |users|-sized single-task sort. All six thresholds come from ONE dim-tagged union job (window partitioned by dimension, never an unpartitioned global sort). Users label as R·100+F·10+M and the segment census ships.",
      {
        val ladder = (40 to 1 by -1)
          .map(i => s"WHEN mon >= ${1L << i} THEN $i").mkString(
            "CASE ", " ", " ELSE 0 END")
        s"""WITH u AS (SELECT user_id,
           |    19754 - epoch_us(max(ts)) // 86400000000 AS rec,
           |    count(*) AS freq,
           |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS mon
           |  FROM events GROUP BY user_id),
           |u2 AS (SELECT rec, freq, $ladder AS mon_b FROM u),
           |n AS (SELECT count(*) AS n FROM u2),
           |th AS (SELECT
           |    (SELECT rec FROM (SELECT rec, row_number() OVER (ORDER BY rec) AS rn FROM u2), n
           |      WHERE rn = (n + 2) // 3) AS rec1,
           |    (SELECT rec FROM (SELECT rec, row_number() OVER (ORDER BY rec) AS rn FROM u2), n
           |      WHERE rn = (2 * n + 2) // 3) AS rec2,
           |    (SELECT freq FROM (SELECT freq, row_number() OVER (ORDER BY freq) AS rn FROM u2), n
           |      WHERE rn = (n + 2) // 3) AS freq1,
           |    (SELECT freq FROM (SELECT freq, row_number() OVER (ORDER BY freq) AS rn FROM u2), n
           |      WHERE rn = (2 * n + 2) // 3) AS freq2,
           |    (SELECT mon_b FROM (SELECT mon_b, row_number() OVER (ORDER BY mon_b) AS rn FROM u2), n
           |      WHERE rn = (n + 2) // 3) AS mon1,
           |    (SELECT mon_b FROM (SELECT mon_b, row_number() OVER (ORDER BY mon_b) AS rn FROM u2), n
           |      WHERE rn = (2 * n + 2) // 3) AS mon2),
           |seg AS (SELECT
           |    (CASE WHEN rec <= rec1 THEN 3 WHEN rec <= rec2 THEN 2 ELSE 1 END) * 100 +
           |    (CASE WHEN freq <= freq1 THEN 1 WHEN freq <= freq2 THEN 2 ELSE 3 END) * 10 +
           |    (CASE WHEN mon_b <= mon1 THEN 1 WHEN mon_b <= mon2 THEN 2 ELSE 3 END) AS rfm
           |  FROM u2, th)
           |SELECT CAST(rfm AS BIGINT) AS rfm, count(*) AS n_users
           |FROM seg GROUP BY rfm ORDER BY rfm""".stripMargin
      }) { (s, d) =>
      // the same comparison ladder string feeds both engines (q204 doctrine):
      // no float log2 whose boundary rounding could differ
      val ladder = (40 to 1 by -1)
        .map(i => s"WHEN mon >= ${1L << i} THEN $i").mkString(
          "CASE ", " ", " ELSE 0 END")
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        // day index arithmetic (19754 = epoch day of 2024-02-01): DuckDB's
        // date_diff counts boundary crossings, Spark's timestampdiff counts
        // whole periods — shared integer floor-division sidesteps both
        .agg(expr("19754 - unix_micros(max(ts)) div 86400000000").as("rec"),
          count(lit(1)).as("freq"),
          sum(cents(col("value"))).as("mon"))
        .selectExpr("rec", "freq", s"CAST(($ladder) AS BIGINT) AS mon_b")
        .persist()
      val n = u.count() // small per-user frame; the count also materializes it
      val (k1, k2) = ((n + 2) / 3, (2 * n + 2) / 3)
      // ONE threshold job: per-dimension value->count censuses union'd with a
      // dim tag; cumulative window PARTITIONED by dim over bounded domains
      // (rec: date range, freq: per-user activity range, mon_b: <=40 rungs) —
      // min value whose cumulative count reaches rank k IS the k-th order
      // statistic, matching the oracle's row_number selection exactly
      val th = Seq("rec", "freq", "mon_b")
        .map(c => u.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
          .select(lit(c).as("dim"), col("v"), col("cnt")))
        .reduce(_ unionByName _)
        .withColumn("cum",
          sum(col("cnt")).over(Window.partitionBy(col("dim")).orderBy(col("v"))))
        .groupBy(col("dim"))
        .agg(min(when(col("cum") >= k1, col("v"))).as("t1"),
          min(when(col("cum") >= k2, col("v"))).as("t2"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val ((r1, r2), (f1, f2), (m1, m2)) = (th("rec"), th("freq"), th("mon_b"))
      u.select(
        ((when(col("rec") <= r1, 3).when(col("rec") <= r2, 2).otherwise(1)) * 100 +
          (when(col("freq") <= f1, 1).when(col("freq") <= f2, 2).otherwise(3)) * 10 +
          when(col("mon_b") <= m1, 1).when(col("mon_b") <= m2, 2).otherwise(3))
          .cast("long").as("rfm"))
        .groupBy(col("rfm"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("rfm"))
      // u stays persisted through the final action; the verify/bench
      // harness sweeps all persisted frames after each query
    },

    GraftQuery(
      "q279_session_depth",
      "Session-depth distribution + bounce rate — the engagement histogram product teams read daily: native session_window(10 min) sessions per user, depth bucketed 1/2/3/4/5+ (the '5+' cap keeps the output schema fixed at any scale), each bucket's share of all sessions in exact ppm via a window total over the 5-row bucket frame. Depth-1 sessions ARE the bounce rate: the first row of this result is the number every growth dashboard leads with.",
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |d AS (SELECT count(*) AS depth FROM s GROUP BY user_id, sid),
        |b AS (SELECT least(depth, 5) AS bucket, count(*) AS n_sessions
        |      FROM d GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS depth_bucket, n_sessions,
        |  CAST(n_sessions * 1000000 // sum(n_sessions) OVER () AS BIGINT) AS share_ppm
        |FROM b ORDER BY depth_bucket""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("depth"))
        .select(least(col("depth"), lit(5L)).as("depth_bucket"))
        .groupBy(col("depth_bucket"))
        .agg(count(lit(1)).as("n_sessions"))
        .withColumn("share_ppm",
          expr("n_sessions * 1000000 div sum(n_sessions) OVER ()"))
        .orderBy(col("depth_bucket"))
    },

    GraftQuery(
      "q280_conversion_survival",
      "Time-to-conversion survival curve — signup cohort's cumulative conversion by day offset (the discrete Kaplan-Meier every activation team plots): each user's first signup meets their first subsequent purchase, the day-offset census aggregates ONCE, and the cumulative curve for offsets 0..7 is a running sum over that tiny bounded frame — never a per-user-per-day scan. Exact ppm of the signup cohort; users who never convert are the censored tail (they appear in the denominator, never the numerator).",
      """WITH su AS (SELECT user_id,
        |    min(epoch_us(ts)) // 86400000000 AS sday
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (SELECT su.user_id,
        |    min(epoch_us(e.ts) // 86400000000) - su.sday AS dd
        |  FROM su JOIN events e ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) // 86400000000 >= su.sday
        |  GROUP BY su.user_id, su.sday),
        |census AS (SELECT dd, count(*) AS n FROM conv GROUP BY dd),
        |cohort AS (SELECT count(*) AS n_cohort FROM su),
        |ks AS (SELECT unnest(generate_series(0, 7)) AS k)
        |SELECT k, n_cohort,
        |  CAST(coalesce((SELECT sum(n) FROM census WHERE dd <= k), 0) AS BIGINT)
        |    AS n_converted,
        |  CAST(coalesce((SELECT sum(n) FROM census WHERE dd <= k), 0) * 1000000
        |       // n_cohort AS BIGINT) AS conv_ppm
        |FROM ks, cohort ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(expr("min(unix_micros(ts)) div 86400000000").as("sday"))
      val conv = su.join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("pu"), expr("unix_micros(ts) div 86400000000").as("pday")),
          col("user_id") === col("pu") && col("pday") >= col("sday"))
        .groupBy(col("user_id"), col("sday"))
        .agg((min(col("pday")) - col("sday")).as("dd"))
        .select(col("dd"))
      val census = conv.groupBy(col("dd")).agg(count(lit(1)).as("n"))
      val cohort = su.agg(count(lit(1)).as("n_cohort"))
      val ks = Seq.range(0L, 8L).toDF("k")
      // census is a bounded day-offset frame: broadcast both tiny sides
      ks.crossJoin(broadcast(cohort))
        .join(broadcast(census), col("dd") <= col("k"), "left_outer")
        .groupBy(col("k"), col("n_cohort"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_converted"))
        .withColumn("conv_ppm", expr("n_converted * 1000000 div n_cohort"))
        .orderBy(col("k"))
    },

    GraftQuery(
      "q281_peak_concurrency",
      "Peak concurrency — max simultaneous sessions (the capacity number every on-call dashboard tracks): 10-min-gap sessions become [start, end) intervals, each interval SPLITS at day boundaries, and the +1/-1 sweep-line runs as a TWO-PHASE prefix sum — ordered local sums inside (day, hour) buckets, then each bucket's carry-in from a window over the tiny (day, hour) totals frame (≤24 rows/day at ANY volume). The two-phase shape matters because the corpus's day span is FIXED while point volume grows with SF: a plain per-day sweep concentrates every decade of growth into ~30 single-task sorts (measured 26x/decade before the rewrite), while bucketed local sums keep task size ∝ data/720 and the carry chain domain-bounded. Ends process before starts at equal instants (half-open semantics); day peaks come from a map-side hash aggregate plus a ≤|days|-row broadcast that picks the FIRST microsecond reaching each peak. The global answer is then a 30-row max.",
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |iv AS (SELECT epoch_us(min(ts)) AS su,
        |             epoch_us(max(ts)) + 600000000 AS eu
        |      FROM s GROUP BY user_id, sid),
        |days AS (SELECT su, eu, unnest(generate_series(su // 86400000000,
        |                                (eu - 1) // 86400000000)) AS day
        |  FROM iv),
        |clipped AS (SELECT day,
        |    greatest(su, day * 86400000000) AS cs,
        |    least(eu, (day + 1) * 86400000000) AS ce
        |  FROM days),
        |pts AS (SELECT day, cs AS us, 1 AS delta FROM clipped
        |        UNION ALL SELECT day, ce, -1 FROM clipped),
        |cum AS (SELECT day, us, delta,
        |    CAST(sum(delta) OVER (PARTITION BY day ORDER BY us, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        |  FROM pts)
        |SELECT day, CAST(max(c) AS BIGINT) AS peak,
        |  CAST(min(CASE WHEN c = (SELECT max(c2.c) FROM cum c2 WHERE c2.day = cum.day)
        |           THEN us END) AS BIGINT) AS first_peak_us
        |FROM cum GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val iv = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(expr("unix_micros(min(ts))").as("su"),
          (expr("unix_micros(max(ts))") + 600000000L).as("eu"))
        .select(col("su"), col("eu"))
      val clipped = iv
        .select(col("su"), col("eu"),
          explode(sequence(expr("su div 86400000000"),
            expr("(eu - 1) div 86400000000"))).as("day"))
        .select(col("day"),
          greatest(col("su"), col("day") * 86400000000L).as("cs"),
          least(col("eu"), (col("day") + 1) * 86400000000L).as("ce"))
      val pts = clipped.select(col("day"), col("cs").as("us"), lit(1).as("delta"))
        .unionAll(clipped.select(col("day"), col("ce").as("us"), lit(-1).as("delta")))
      // TWO-PHASE prefix sum: the corpus's DAY span is fixed while the point
      // volume grows with SF, so a per-day sweep concentrates every decade
      // of growth into ~30 single-task sorts (measured 26x/decade on the
      // second-decade bench). Phase 1 runs the ordered sum inside (day,
      // hour) buckets — 24x the parallelism, each task 1/24 the points;
      // phase 2 adds each bucket's carry-in, a window over the tiny
      // (day, hour) TOTALS frame (≤24 rows per day at any SF). Bucketing by
      // us preserves the global (us, delta) order across bucket boundaries,
      // so c is bit-identical to the single-sweep formulation the oracle
      // runs.
      val localW = Window.partitionBy(col("day"), col("hb"))
        .orderBy(col("us"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ptsB = pts.withColumn("hb", expr("us div 3600000000"))
      val totals = ptsB.groupBy(col("day"), col("hb"))
        .agg(sum(col("delta")).as("tot"))
      val carryW = Window.partitionBy(col("day")).orderBy(col("hb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carries = totals
        .withColumn("carry", coalesce(sum(col("tot")).over(carryW), lit(0L)))
        .select(col("day"), col("hb"), col("carry"))
      val cum = graft.util.CacheOnce.persistForOneAction(
        ptsB.withColumn("lc", sum(col("delta")).over(localW))
          .join(broadcast(carries), Seq("day", "hb"))
          .select(col("day"), col("us"),
            (col("carry") + col("lc")).as("c")))
      // day peak via hash aggregate (map-side partials — no per-day window
      // task), then a ≤|days|-row broadcast picks each day's first peak us
      val peaks = cum.groupBy(col("day")).agg(max(col("c")).as("peak"))
      cum.join(broadcast(peaks), Seq("day"))
        .filter(col("c") === col("peak"))
        .groupBy(col("day"), col("peak"))
        .agg(min(col("us")).as("first_peak_us"))
        .select(col("day"), col("peak").cast("long").as("peak"),
          col("first_peak_us").cast("long").as("first_peak_us"))
        .orderBy(col("day"))
    },

    GraftQuery(
      "q282_seasonal_naive_backtest",
      "Seasonal-naive forecast backtest — the baseline every forecasting system must beat before it ships (M-competition doctrine): forecast(day) = actual(day - 7), evaluated over the corpus's last two weeks per event type, with MAE and MAPE-proxy in exact integer cents/ppm (|err| ppm of actual, summed and floor-divided — no float loss metric). The lag join is a self-join on (type, day-7) over the tiny daily aggregate, not a window over facts; a model that can't beat THIS number has no business replacing it.",
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT max(day) AS mx FROM daily),
        |joined AS (SELECT a.event_type, a.day, a.cents AS actual, f.cents AS forecast
        |  FROM daily a JOIN daily f
        |    ON f.event_type = a.event_type AND f.day = a.day - 7, span
        |  WHERE a.day > span.mx - 14)
        |SELECT event_type, count(*) AS n_days,
        |  CAST(sum(abs(actual - forecast)) // count(*) AS BIGINT) AS mae_cents,
        |  CAST(sum(CASE WHEN actual > 0
        |             THEN abs(actual - forecast) * 1000000 // actual END)
        |    // nullif(count(CASE WHEN actual > 0 THEN 1 END), 0) AS BIGINT)
        |    AS mape_ppm
        |FROM joined GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(cents(col("value"))).as("cents"))
      val mx = daily.agg(max(col("day")).as("mx"))
      val f = daily.select(col("event_type").as("fet"), col("day").as("fday"),
        col("cents").as("forecast"))
      daily.join(f, col("fet") === col("event_type") && col("fday") === col("day") - 7)
        .crossJoin(broadcast(mx))
        .filter(col("day") > col("mx") - 14)
        .select(col("event_type"), col("cents").as("actual"), col("forecast"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("CAST(sum(abs(actual - forecast)) div count(*) AS BIGINT)").as("mae_cents"),
          // MAPE ratio guarded to actual > 0 on BOTH engines: a zero-cents
          // day would make DuckDB error on //0 while Spark div yields NULL
          // (silently skipped by sum) — the two sides must exclude the same
          // days; nullif keeps an all-zero type NULL instead of erroring
          expr("""CAST(sum(CASE WHEN actual > 0
                    THEN abs(actual - forecast) * 1000000 div actual END)
                  div nullif(count(CASE WHEN actual > 0 THEN 1 END), 0) AS BIGINT)""")
            .as("mape_ppm"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q283_topk_with_ties",
      "Top-k INCLUDING ties — the semantic sibling q19's row_number cannot express: the top-3 revenue DAYS per event type where every day tying the 3rd place survives (RANK, not ROW_NUMBER — 'WITH TIES' in ANSI FETCH). Ties are real in cents-quantized daily sums; arbitrarily dropping one tied day is a correctness bug in any leaderboard that feeds payouts. Same WindowGroupLimit-eligible shape, different rank function — the one-token change that changes the contract.",
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, cents,
        |    rank() OVER (PARTITION BY event_type ORDER BY cents DESC) AS rk
        |  FROM daily)
        |SELECT event_type, CAST(day AS BIGINT) AS day, cents, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3
        |ORDER BY event_type, rk, day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(cents(col("value"))).as("cents"))
      daily.withColumn("rk", rank().over(
          Window.partitionBy(col("event_type")).orderBy(col("cents").desc)))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("cents"), col("rk").cast("long").as("rk"))
        .orderBy(col("event_type"), col("rk"), col("day"))
    },

    GraftQuery(
      "q284_cohort_ltv",
      "Cohort LTV curve — cumulative purchase revenue per signup-week cohort by age week (the unit-economics grid under every payback-period decision): cohorts from first signup, purchase cents bucketed by (cohort_week, age_week), one census aggregate, and the cumulative curve runs per cohort over the bounded age frame. Per-user-average LTV in exact cents via integer division; the (cohort x age) triangle never touches raw events twice.",
      """WITH su AS (SELECT user_id,
        |    min(epoch_us(ts)) // 604800000000 AS cw
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |size_ AS (SELECT cw, count(*) AS n_users FROM su GROUP BY cw),
        |rev AS (SELECT su.cw,
        |    epoch_us(e.ts) // 604800000000 - su.cw AS age,
        |    CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM su JOIN events e ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) // 604800000000 >= su.cw
        |  GROUP BY 1, 2),
        |cum AS (SELECT cw, age, CAST(sum(cents) OVER (PARTITION BY cw ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT cum.cw AS cohort_week, cum.age, cum.cum_cents, size_.n_users,
        |  CAST(cum.cum_cents // size_.n_users AS BIGINT) AS ltv_cents_per_user
        |FROM cum JOIN size_ ON size_.cw = cum.cw
        |ORDER BY cohort_week, age""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(expr("min(unix_micros(ts)) div 604800000000").as("cw"))
      val size = su.groupBy(col("cw")).agg(count(lit(1)).as("n_users"))
      val rev = su.join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("pu"),
              expr("unix_micros(ts) div 604800000000").as("pw"),
              cents(col("value")).as("c")),
          col("user_id") === col("pu") && col("pw") >= col("cw"))
        .groupBy(col("cw"), (col("pw") - col("cw")).as("age"))
        .agg(sum(col("c")).as("cents"))
      val cumW = Window.partitionBy(col("cw")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_cents", sum(col("cents")).over(cumW))
        .join(broadcast(size), "cw")
        .select(col("cw").as("cohort_week"), col("age"), col("cum_cents"),
          col("n_users"), expr("cum_cents div n_users").as("ltv_cents_per_user"))
        .orderBy(col("cohort_week"), col("age"))
    },

    GraftQuery(
      "q285_abc_classification",
      "ABC / Pareto classification — parts ranked by revenue, classified A (first 70% of cumulative revenue), B (to 90%), C (the tail): the inventory-policy segmentation behind every warehouse's cycle-count schedule. The part dimension SCALES (TPC-H grows parts with SF), so the global cumsum is a RANGE-PARTITIONED TWO-PHASE prefix sum — range-shuffle on the rank key, per-partition running sums, a ~32-row offset window, offsets joined back — never a single-task global window. Class boundaries compare integer cross-products (cum*100 vs total*k — no float percentages); the census proves the famous skew: class A is always a sliver of parts carrying most of the money.",
      """WITH pr AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY l_partkey),
        |rk AS (SELECT l_partkey, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cents) OVER () AS BIGINT) AS total
        |  FROM pr),
        |cls AS (SELECT cents,
        |    CASE WHEN cum * 100 <= total * 70 THEN 'A'
        |         WHEN cum * 100 <= total * 90 THEN 'B' ELSE 'C' END AS abc
        |  FROM rk)
        |SELECT abc, count(*) AS n_parts,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) * 1000000 // max(total) AS BIGINT) AS share_ppm
        |FROM cls, (SELECT CAST(sum(cents) AS BIGINT) AS total FROM pr) t
        |GROUP BY abc ORDER BY abc""".stripMargin) { (s, d) =>
      val pr = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      // |parts| GROWS with SF (TPC-H scales the part dimension), so a global
      // Window.orderBy cumsum here would be a one-task sort of the whole
      // dimension at 100 TB. Two-phase instead: range-shuffle on the rank
      // key (sorted ranges land on partitions 0..N-1 in key order), running
      // sum WITHIN each partition, per-partition totals offset by a window
      // over the ~N-row partition census, offsets broadcast back. Exact
      // prefix sum, parallelism N, the only global window is N rows.
      val ranged = pr
        .repartitionByRange(32, col("cents").desc, col("l_partkey"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint() // pin the sampled range boundaries: pid must be
                           // identical between the offsets pass and the join
      val inPart = ranged.withColumn("cum_in",
        sum(col("cents")).over(Window.partitionBy(col("pid"))
          .orderBy(col("cents").desc, col("l_partkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val census = ranged.groupBy(col("pid")).agg(sum(col("cents")).as("psum"))
      val offsets = census
        .withColumn("offset",
          coalesce(sum(col("psum")).over(Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("offset"))
      val totalRow = census.agg(sum(col("psum")).as("total"))
      val rk = inPart.join(broadcast(offsets), "pid")
        .withColumn("cum", col("cum_in") + col("offset"))
        .crossJoin(broadcast(totalRow))
      rk.select(col("cents"), col("total"),
          when(col("cum") * 100 <= col("total") * 70, "A")
            .when(col("cum") * 100 <= col("total") * 90, "B")
            .otherwise("C").as("abc"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"),
          // 128-bit ppm: corpus-total cents * 1e6 overflows Long at ~10x
          // sf0.1 revenue (caught by the sf1 run) — route the product
          // through DECIMAL(38,0), exactly what the oracle's HUGEINT does
          expr("CAST((CAST(sum(cents) AS DECIMAL(38,0)) * 1000000) div CAST(max(total) AS DECIMAL(38,0)) AS BIGINT)")
            .as("share_ppm"))
        .orderBy(col("abc"))
    },

    GraftQuery(
      "q286_order_aging",
      "Receivables-style order aging — open ('O') orders bucketed by age at a fixed cutoff (0-30 / 31-60 / 61-90 / 90+ days, the AR report finance closes every month on): age in integer epoch-day arithmetic, bucket by comparison ladder, exact cents exposure per (priority, bucket). One scan, one aggregate; the cutoff is a pinned literal so the report is rerun-identical.",
      """WITH o AS (SELECT o_orderpriority,
        |    19754 - epoch_us(o_orderdate) // 86400000000 AS age_days,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_orderpriority,
        |    CASE WHEN age_days <= 30 THEN '0-30' WHEN age_days <= 60 THEN '31-60'
        |         WHEN age_days <= 90 THEN '61-90' ELSE '90+' END AS bucket,
        |    cents FROM o WHERE age_days >= 0)
        |SELECT o_orderpriority, bucket, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS exposure_cents
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderpriority"),
          (lit(19754L) - expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
            .as("age_days"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .filter(col("age_days") >= 0)
        .withColumn("bucket",
          when(col("age_days") <= 30, "0-30").when(col("age_days") <= 60, "31-60")
            .when(col("age_days") <= 90, "61-90").otherwise("90+"))
        .groupBy(col("o_orderpriority"), col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("exposure_cents"))
        .orderBy(col("o_orderpriority"), col("bucket"))
    },

    GraftQuery(
      "q287_dow_hour_heatmap",
      "Day-of-week x hour-of-day activity heatmap — the 7x24 traffic matrix capacity planning and anomaly baselines both start from: UTC hour truncation in integer epoch arithmetic (epoch-day + 4) % 7 gives the weekday without any locale/timezone library divergence — 1970-01-01 was a Thursday, the classic cross-engine trap pinned by construction. Cell share in exact ppm of the whole corpus.",
      """WITH c AS (SELECT
        |    CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
        |    CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT) AS hod,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, hod, n,
        |  CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
        |FROM c ORDER BY dow, hod""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(
          expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
          expr("(unix_micros(ts) % 86400000000) div 3600000000").as("hod"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_ppm", expr("n * 1000000 div sum(n) OVER ()"))
        .orderBy(col("dow"), col("hod"))
    },

    GraftQuery(
      "q288_supplier_sla",
      "Supplier on-time-shipment SLA — per supplier, the share of lines shipped within 30 days of the order (the scorecard procurement reviews quarterly): integer epoch-day lateness, on-time share in exact ppm, and a volume floor (>= 20 lines) so the league table never ranks a supplier on three data points. Worst 20 suppliers by on-time rate; the fact join aggregates BEFORE the supplier dimension attaches.",
      """WITH l AS (SELECT l_suppkey,
        |    CASE WHEN epoch_us(l_shipdate) // 86400000000
        |              - epoch_us(o_orderdate) // 86400000000 <= 30
        |         THEN 1 ELSE 0 END AS ontime
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |agg AS (SELECT l_suppkey, count(*) AS n_lines,
        |    CAST(sum(ontime) AS BIGINT) AS n_ontime
        |  FROM l GROUP BY l_suppkey HAVING count(*) >= 20)
        |SELECT s_suppkey, s_name, n_lines, n_ontime,
        |  CAST(n_ontime * 1000000 // n_lines AS BIGINT) AS ontime_ppm
        |FROM agg JOIN supplier ON s_suppkey = l_suppkey
        |ORDER BY ontime_ppm, s_suppkey LIMIT 20""".stripMargin) { (s, d) =>
      val agg = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("l_suppkey"),
          when(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000") -
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000") <= 30, 1L)
            .otherwise(0L).as("ontime"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("ontime")).as("n_ontime"))
        .filter(col("n_lines") >= 20)
      agg.join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_lines"), col("n_ontime"),
          expr("CAST(n_ontime * 1000000 div n_lines AS BIGINT)").as("ontime_ppm"))
        .orderBy(col("ontime_ppm"), col("s_suppkey"))
        .limit(20)
    },

    GraftQuery(
      "q289_market_hhi",
      "Herfindahl-Hirschman concentration per brand market — how concentrated is each part-brand's supplier base: supplier revenue shares in ppm (integer cross division), HHI = sum of squared shares // 1e6 (bounded by 1e6 = monopoly; the antitrust 2500-threshold scales to 250000 here). Shares compute over the (brand, supplier) aggregate — two keyed reductions, no window over facts; the floor-division convention is shared by both engines so the concentration index is bit-stable.",
      """WITH bs AS (SELECT p_brand, l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT p_brand, CAST(sum(cents) AS BIGINT) AS total,
        |    count(*) AS n_suppliers
        |  FROM bs GROUP BY p_brand),
        |sh AS (SELECT bs.p_brand, cents * 1000000 // total AS share_ppm
        |  FROM bs JOIN tot ON tot.p_brand = bs.p_brand)
        |SELECT sh.p_brand, max(tot.n_suppliers) AS n_suppliers,
        |  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
        |FROM sh JOIN tot ON tot.p_brand = sh.p_brand
        |GROUP BY sh.p_brand ORDER BY hhi_ppm DESC, sh.p_brand LIMIT 20""".stripMargin) { (s, d) =>
      val bs = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("l_suppkey"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      val tot = bs.groupBy(col("p_brand").as("tb"))
        .agg(sum(col("cents")).as("total"), count(lit(1)).as("n_suppliers"))
      bs.join(tot, col("tb") === col("p_brand"))
        .select(col("p_brand"), col("n_suppliers"),
          expr("cents * 1000000 div total").as("share_ppm"))
        .groupBy(col("p_brand"))
        .agg(max(col("n_suppliers")).as("n_suppliers"),
          expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)").as("hhi_ppm"))
        .orderBy(col("hhi_ppm").desc, col("p_brand"))
        .limit(20)
    },

    GraftQuery(
      "q290_fd_discovery",
      "Functional-dependency discovery (Metanome-style profiling): does A -> B hold? For each candidate pair, |distinct A| vs |distinct (A,B)| — equal iff the dependency holds, and the difference COUNTS the violating A-values exactly. Four candidates over orders/customer probe both a true key dependency and deliberate non-dependencies; each check is two distinct-aggregates over a projected pair, unioned into one verdict table. This is how schema inference decides what is safe to use as a join key or a dedup identity on data nobody documented.",
      """WITH c1 AS (SELECT 'o_orderkey->o_custkey' AS fd,
        |    count(DISTINCT o_orderkey) AS lhs_distinct,
        |    count(DISTINCT (o_orderkey, o_custkey)) AS pair_distinct
        |  FROM orders),
        |c2 AS (SELECT 'o_custkey->o_orderpriority',
        |    count(DISTINCT o_custkey),
        |    count(DISTINCT (o_custkey, o_orderpriority)) FROM orders),
        |c3 AS (SELECT 'c_custkey->c_mktsegment',
        |    count(DISTINCT c_custkey),
        |    count(DISTINCT (c_custkey, c_mktsegment)) FROM customer),
        |c4 AS (SELECT 'c_nationkey->c_mktsegment',
        |    count(DISTINCT c_nationkey),
        |    count(DISTINCT (c_nationkey, c_mktsegment)) FROM customer),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)
        |SELECT fd, lhs_distinct, pair_distinct,
        |  pair_distinct = lhs_distinct AS holds,
        |  CAST(pair_distinct - lhs_distinct AS BIGINT) AS n_violating_groups
        |FROM u ORDER BY fd""".stripMargin) { (s, d) =>
      def check(df: DataFrame, name: String, a: String, b: String) =
        df.agg(countDistinct(col(a)).as("lhs_distinct"),
            countDistinct(col(a), col(b)).as("pair_distinct"))
          .select(lit(name).as("fd"), col("lhs_distinct"), col("pair_distinct"))
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      check(o, "o_orderkey->o_custkey", "o_orderkey", "o_custkey")
        .unionAll(check(o, "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
        .unionAll(check(c, "c_custkey->c_mktsegment", "c_custkey", "c_mktsegment"))
        .unionAll(check(c, "c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
        .withColumn("holds", col("pair_distinct") === col("lhs_distinct"))
        .withColumn("n_violating_groups",
          (col("pair_distinct") - col("lhs_distinct")).cast("long"))
        .orderBy(col("fd"))
    },

    GraftQuery(
      "q71_upsert_merge",
      "Snapshot upsert (MERGE semantics on immutable storage): current snapshot full-outer-joined with an update batch on the key, update wins via coalesce — inserts, updates and carried-over rows labeled.",
      """WITH cur AS (SELECT o_orderkey AS k, 'OLD' AS payload FROM orders WHERE o_orderkey <= 1000),
        |upd AS (SELECT o_orderkey AS k, o_orderstatus AS payload FROM orders
        |        WHERE o_orderkey > 500 AND o_orderkey <= 1500)
        |SELECT COALESCE(u.k, c.k) AS k,
        |  COALESCE(u.payload, c.payload) AS payload,
        |  CASE WHEN c.k IS NULL THEN 'insert'
        |       WHEN u.k IS NULL THEN 'carry' ELSE 'update' END AS action
        |FROM cur c FULL OUTER JOIN upd u ON c.k = u.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val cur = orders.filter(col("o_orderkey") <= 1000)
        .select(col("o_orderkey").as("ck"), lit("OLD").as("cpayload"))
      val upd = orders.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1500)
        .select(col("o_orderkey").as("uk"), col("o_orderstatus").as("upayload"))
      cur.join(upd, col("ck") === col("uk"), "full_outer")
        .select(coalesce(col("uk"), col("ck")).as("k"),
          coalesce(col("upayload"), col("cpayload")).as("payload"),
          when(col("ck").isNull, "insert")
            .when(col("uk").isNull, "carry").otherwise("update").as("action"))
        .orderBy(col("k"))
    },

    GraftQuery(
      "q58_session_window",
      "Native session_window (10-min gap) per user — Spark's merging session windows in batch mode; the oracle is the equivalent gaps-and-islands rewrite (session end = last event + gap).",
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) + 600 AS session_end_s,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_s""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start_s"),
          unix_timestamp(col("session_window.end")).as("session_end_s"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_s"))
    },

    GraftQuery(
      "q215_auc_rank",
      "EXACT AUC-ROC by rank-sum (Mann-Whitney U) — the classifier-evaluation metric every quality-filter model ships with, computed with zero floats: does event value predict purchase? Scores quantize to dollar buckets (a fixed ~560-value domain at ANY corpus size), one histogram aggregate counts (pos, neg) per bucket, a running negatives-below window over the BUCKET frame gives each bucket's pairwise wins, and tie buckets contribute the half-win term at 2x integer scale: auc_x2 = Σ pos·(2·neg_below + neg); auc_ppm = auc_x2·1e6 // (2·n_pos·n_neg). No row-level sort anywhere — the q51 selection doctrine applied to ranking evaluation. The win-sum and the n_pos·n_neg cross-multiply ride exact decimal(38,0)/HUGEINT arithmetic: the old long-domain contract (~2M pos×neg) measurably overflowed on the second-decade bench, and an evaluation metric must not cap the corpus it can grade.",
      """WITH s AS (SELECT CAST(floor(value) AS BIGINT) AS sc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |h AS (SELECT sc, CAST(sum(pos) AS BIGINT) AS np,
        |        CAST(count(*) AS BIGINT) - CAST(sum(pos) AS BIGINT) AS nn
        |      FROM s GROUP BY sc),
        |r AS (SELECT sc, np, nn,
        |        CAST(sum(nn) OVER (ORDER BY sc) AS BIGINT) - nn AS neg_below
        |      FROM h),
        |t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |        CAST(sum(nn) AS BIGINT) AS n_neg FROM h)
        |SELECT n_pos, n_neg,
        |  CAST((sum(CAST(np AS HUGEINT) * (2 * neg_below + nn)) * 1000000)
        |    // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_ppm,
        |  CAST((sum(CAST(np AS HUGEINT) * (2 * neg_below + nn)) * 1000000)
        |    // (CAST(n_pos AS HUGEINT) * n_neg) - 1000000 AS BIGINT) AS gini_ppm
        |FROM r CROSS JOIN t GROUP BY n_pos, n_neg""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sc = Tables.events(s, d).select(
        floor(col("value")).cast("long").as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val h = sc.groupBy(col("sc"))
        .agg(sum(col("pos")).as("np"),
          (count(lit(1)) - sum(col("pos"))).as("nn"))
      // the running window is over the ~560-row bucket histogram, never the
      // event stream — same bounded-domain contract as every quantile here
      val w = Window.orderBy(col("sc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = h.withColumn("neg_below", sum(col("nn")).over(w) - col("nn"))
      val t = h.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      r.crossJoin(broadcast(t))
        .groupBy(col("n_pos"), col("n_neg"))
        // the win-sum x2 ≈ 2·n_pos·n_neg passes 2^50 at sf10, so x2·1e6 and
        // the n_pos·n_neg·2e6 denominator both need decimal(38,0) (measured
        // ANSI overflow on the second-decade bench); np widens BEFORE the
        // multiply — the oracle does sum(CAST(np AS HUGEINT) * ...), and a
        // Long-resident per-term product (np·2·neg_below ~ n² per score
        // bucket) re-crosses 2^63 a decade later; exact, same floors
        .agg(sum(col("np").cast("decimal(38,0)")
          * (lit(2) * col("neg_below") + col("nn"))).as("x2"))
        .selectExpr("n_pos", "n_neg",
          "CAST((x2 * 1000000) div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg) AS BIGINT) AS auc_ppm",
          "CAST((x2 * 1000000) div (CAST(n_pos AS DECIMAL(38,0)) * n_neg) - 1000000 AS BIGINT) AS gini_ppm")
    },

    GraftQuery(
      "q218_decayed_popularity",
      "Time-decayed popularity ranking with a power-of-2 halflife — trending/leaderboard scoring with ZERO floats: each event contributes 1e6 >> age_weeks (weekly halflife, anchored at the corpus max timestamp so the score is a pure function of the data), per-user sums ride one map-side-combinable aggregate, top-20 by (score, id). The shift count clamps at 30 BEFORE the shift on BOTH engines: Java/Spark shift distances wrap mod 64 (shiftright(x, 64) = x!) while DuckDB zeroes — an engine-divergence landmine the clamp removes (contributions are exactly 0 past 20 weeks anyway).",
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |s AS (SELECT user_id,
        |    least((epoch_us(m) - epoch_us(ts)) // 604800000000, 30) AS w
        |  FROM events CROSS JOIN mx),
        |d AS (SELECT user_id, CAST(sum(1000000 >> w) AS BIGINT) AS decayed
        |      FROM s GROUP BY user_id)
        |SELECT user_id, decayed FROM d
        |ORDER BY decayed DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
      val mx = Tables.events(s, d).agg(max(col("ts")).as("m"))
      Tables.events(s, d).crossJoin(broadcast(mx))
        .selectExpr("user_id",
          "least((unix_micros(m) - unix_micros(ts)) div 604800000000, 30) AS w")
        .selectExpr("user_id",
          "shiftright(1000000L, cast(w AS int)) AS contrib")
        .groupBy(col("user_id"))
        .agg(sum(col("contrib")).as("decayed"))
        .orderBy(col("decayed").desc, col("user_id"))
        .limit(20)
    },

    GraftQuery(
      "q312_hll_sketch_rollup",
      "HLL sketch COLUMN lifecycle (Apache DataSketches via Spark's native hll_sketch_agg/hll_union_agg) — the persisted-sketch-table pattern for distinct counts at 100 TB: a DAILY sketch table (one lgK=14 sketch per day, built in one pass over events) is the stored artifact, and any coarser rollup — weekly here — is hll_union_agg over the few daily sketch BLOBS, never a second scan of raw events; the same union algebra answers arbitrary date ranges, which no exact distinct-count materialization can (distincts don't add). The sketch binary is engine-specific, so the gate is q09's integer-witness doctrine: compared columns are each week's EXACT distinct count (the labeled calibration tier) plus a boolean pinning the union-estimate within 3% (lgK=14 keeps HLL's relative error ~0.8%, and unioning same-K sketches does not widen it) — abs cross-multiplied, no floats.",
      """WITH w AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week,
        |    user_id
        |  FROM events)
        |SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |  TRUE AS within_3pct
        |FROM w GROUP BY week ORDER BY week""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      // the stored artifact: one sketch per day. Pre-shuffle the narrow
      // (day, user) rows by day FIRST: hll_sketch_agg is a
      // TypedImperativeAggregate, and ~365 day keys per map task trip
      // ObjectHashAggregate's 128-key sort-based fallback — the partial
      // stage was quietly SORTING raw events per task (12.2x per decade
      // measured at sf10; 2.0x after). Partitioned by day, each task holds
      // ~days/parallelism keys, the partial agg stays hash, and each 16 KiB
      // sketch buffer exists once per day per reducer instead of once per
      // day per mapper.
      val daily = ev.repartition(col("day")).groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      // rollup = union of sketch blobs; raw events are NOT re-read here
      val weekly = daily.groupBy(expr("day div 7").as("week"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      val exact = ev.groupBy(expr("day div 7").as("week"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(weekly, "week")
        .select(col("week"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) * 100 <=
            col("exact_distinct") * 3).as("within_3pct"))
        .orderBy(col("week"))
    },

    GraftQuery(
      "q324_mad_outliers",
      "Robust outlier census by median absolute deviation — the anomaly gate that survives the very outliers it hunts (mean/stddev z-scores are dragged by the anomaly; median/MAD have a 50% breakdown point): per event type, the lower-median of value cents and the lower-median of |v - med| (the MAD) are both picked by the library's histogram-selection doctrine (value→count census, cumulative window PARTITIONED by type over the bounded cents domain — never a per-row sort), then rows with |v - med| > 3·MAD are the outlier census, rate in exact ppm. Scale shape: two censuses + two broadcast joins of a |types|-row median frame; the per-row work is map-only, so the plan is two scans of the fact and nothing that grows with it.",
      """WITH ev AS (SELECT event_type AS et, CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |c1 AS (SELECT et, v, count(*) AS cnt FROM ev GROUP BY 1, 2),
        |m1 AS (SELECT et, v, sum(cnt) OVER (PARTITION BY et ORDER BY v) AS cum,
        |         sum(cnt) OVER (PARTITION BY et) AS n FROM c1),
        |med AS (SELECT et, min(n) AS n,
        |         min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
        |       FROM m1 GROUP BY et),
        |dv AS (SELECT e.et, abs(e.v - m.med) AS dev FROM ev e JOIN med m ON e.et = m.et),
        |c2 AS (SELECT et, dev, count(*) AS cnt FROM dv GROUP BY 1, 2),
        |m2 AS (SELECT et, dev, sum(cnt) OVER (PARTITION BY et ORDER BY dev) AS cum,
        |         sum(cnt) OVER (PARTITION BY et) AS n FROM c2),
        |mad AS (SELECT et, min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
        |        FROM m2 GROUP BY et),
        |o AS (SELECT e.et, count(*) AS n_out
        |      FROM ev e JOIN med m ON e.et = m.et JOIN mad a ON e.et = a.et
        |      WHERE abs(e.v - m.med) > 3 * a.mad GROUP BY e.et)
        |SELECT m.et AS event_type, CAST(m.n AS BIGINT) AS n,
        |  m.med AS med_cents, a.mad AS mad_cents,
        |  CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_outliers,
        |  CAST(1000000 * coalesce(o.n_out, 0) // m.n AS BIGINT) AS outlier_ppm
        |FROM med m JOIN mad a ON m.et = a.et LEFT JOIN o ON m.et = o.et
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = graft.util.CacheOnce.persistForOneAction(
        Tables.events(s, d)
          .select(col("event_type").as("et"), cents(col("value")).as("v")))
      val wCum = Window.partitionBy(col("et")).orderBy(col("v"))
      val wAll = Window.partitionBy(col("et"))
      // lower median = min value whose cumulative census count reaches
      // rank (n+1) div 2 — the k-th order statistic without a row sort
      val med = ev.groupBy(col("et"), col("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("et")).agg(min(col("n")).as("n"),
          // `/` on long Columns is DOUBLE division in Spark — `div` is the
          // integer floor the oracle's `//` computes
          min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("med"))
      val dv = ev.join(broadcast(med), "et")
        .select(col("et"), abs(col("v") - col("med")).as("dev"))
      val wCum2 = Window.partitionBy(col("et")).orderBy(col("dev"))
      val mad = dv.groupBy(col("et"), col("dev")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum2))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("et"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("dev"))).as("mad"))
      val o = ev.join(broadcast(med), "et").join(broadcast(mad), "et")
        .filter(abs(col("v") - col("med")) > lit(3) * col("mad"))
        .groupBy(col("et")).agg(count(lit(1)).as("n_out"))
      med.join(mad, "et").join(o, Seq("et"), "left")
        .select(col("et").as("event_type"), col("n").cast("long").as("n"),
          col("med").as("med_cents"), col("mad").as("mad_cents"),
          coalesce(col("n_out"), lit(0L)).cast("long").as("n_outliers"),
          expr("CAST(1000000 * coalesce(n_out, 0) div n AS BIGINT)")
            .as("outlier_ppm"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q325_benford_digits",
      "Benford first-digit conformance — the forensic data-quality screen for fabricated or truncated numeric feeds (real multiplicative-growth amounts follow P(d) = log10(1+1/d); synthetic/uniform generators don't, and THAT verdict is the point here — the dev_ppm column quantifies how far this synthetic corpus sits from Benford): first digit of order-total cents by string head (exact — no float log whose boundary rounding could differ), observed share in exact ppm, expected Benford ppm as shared integer literals (the same Scala constants interpolate into BOTH engines, pinned against log10 by a spec), and a per-digit chi-square-style deviation (obs-exp)²//exp on the integer ppm lane. One map-side-combinable census over a 9-value domain; nothing grows with the corpus.",
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |  CAST(1000000 * n // total AS BIGINT) AS obs_ppm,
        |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
        |  CAST((1000000 * n // total - exp_ppm) * (1000000 * n // total - exp_ppm) // exp_ppm AS BIGINT) AS dev_ppm
        |FROM c JOIN (VALUES $benfordValues) AS e(digit, exp_ppm) USING (digit)
        |CROSS JOIN t ORDER BY digit""".stripMargin) { (s, d) =>
      import s.implicits._
      val expDf = benfordExpected.toDF("digit", "exp_ppm")
      val c = Tables.orders(s, d).filter(col("o_totalprice") > 0)
        .select(expr(
          "CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val t = c.agg(sum(col("n")).as("total"))
      c.join(broadcast(expDf), "digit").crossJoin(broadcast(t))
        .selectExpr("digit", "CAST(n AS BIGINT) AS n",
          "CAST(1000000 * n div total AS BIGINT) AS obs_ppm",
          "CAST(exp_ppm AS BIGINT) AS exp_ppm",
          """CAST((1000000 * n div total - exp_ppm)
            |  * (1000000 * n div total - exp_ppm) div exp_ppm AS BIGINT)
            |  AS dev_ppm""".stripMargin)
        .orderBy(col("digit"))
    }
  )

  /** Benford expected first-digit shares, floor(1e6·log10(1+1/d)) — shared
    * integer literals so neither engine evaluates a float log at a bucket
    * boundary; pinned against the closed form by AnalyticsExtraSpec. */
  val benfordExpected: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  private def benfordValues: String =
    benfordExpected.map { case (dg, p) => s"($dg, $p)" }.mkString(", ")
}
