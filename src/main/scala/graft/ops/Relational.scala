package graft.ops

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._

/** Core relational surface (SURVEY.md §2.4 rows: joins, aggregation, set
  * ops): scan → filter → project → join → group → sort, all declarative
  * DataFrame API so Catalyst owns pushdown, pruning, join selection and
  * whole-stage codegen.
  *
  * Scale notes (100 TB design intent):
  *   - dimension tables (region/nation/customer at low cardinality) are joined
  *     with explicit `broadcast()` — no shuffle of the fact side;
  *   - fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  *     reuse that partitioning for the following aggregate where possible;
  *   - aggregates are expressed groupBy().agg() so Catalyst plans
  *     partial (map-side) aggregation before the exchange.
  */
object Relational {

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q268_tpch_q3",
      "TPC-H Q3 (shipping priority) in exact cents: the canonical 3-table selective star join — BUILDING-segment customers x pre-cutoff orders x post-cutoff lineitems, revenue = sum(extprice*(1-disc)) carried as cents*(100-disc_pct) integer products, top-10 by revenue. The optimizer's job IS this query: both filters reach their scans, the small filtered customer side broadcasts, and the join order follows selectivity — the plan every warehouse is graded on.",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_x100,
        |  CAST(strftime(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_x100 DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d).filter(col("o_orderdate") < "1995-03-15"),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_shipdate") > "1995-03-15"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(rev).as("revenue_x100"))
        .select(col("l_orderkey"), col("revenue_x100"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .orderBy(col("revenue_x100").desc, col("l_orderkey"))
        .limit(10)
    },

    GraftQuery(
      "q269_tpch_q5",
      "TPC-H Q5 (local supplier volume): the SIX-table star — region -> nation -> customer -> orders -> lineitem -> supplier, with the famous twist that the supplier must sit in the CUSTOMER's nation (the second nationkey equality closes the cycle). Exercises the optimizer's join reordering across dim chains: region/nation broadcast, the fact joins shuffle on their keys, and the cycle-closing predicate lands on the supplier join, never as a post-hoc filter over a cross product. Exact cents revenue per nation.",
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_x100
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue_x100 DESC, n_name""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      Tables.region(s, d).filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(rev).as("revenue_x100"))
        .orderBy(col("revenue_x100").desc, col("n_name"))
    },

    GraftQuery(
      "q270_tpch_q18",
      "TPC-H Q18 (large-volume customers): orders whose total lineitem quantity clears a HAVING threshold, rejoined to customers and their line detail — the aggregate-then-semi-join shape: the heavy groupBy runs ONCE over lineitem, its survivors (a tiny key set) drive every downstream join, so the fact table is never rescanned per candidate. Quantity is integral in the fixture; all sums exact longs.",
      """WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
        |SELECT c_custkey, o_orderkey,
        |  CAST(strftime(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS o_orderdate,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  big.total_qty
        |FROM big JOIN orders ON o_orderkey = big.l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_cents DESC, o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .filter(col("total_qty") > 150)
      big.join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("total_cents"),
          col("total_qty"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(20)
    },

    GraftQuery(
      "q271_tpch_q17",
      "TPC-H Q17 (small-quantity-order revenue): lines below 20% of their part's average quantity — the correlated-average threshold rewritten as one per-part aggregate joined back, and the fractional comparison cross-multiplied into exact integers (qty * 5 * n_lines < sum_qty, no float average in any predicate — the q70 doctrine on the canon's most float-prone query). Output: forgone revenue in cents / 7 exactly via integer division with remainder-safe x7 scaling.",
      """WITH pa AS (SELECT l_partkey AS pk, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem GROUP BY l_partkey),
        |small AS (SELECT l_extendedprice
        |  FROM lineitem JOIN pa ON l_partkey = pk
        |  WHERE CAST(l_quantity AS BIGINT) * 5 * n < sq)
        |SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM small""".stripMargin) { (s, d) =>
      val pa = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sq"))
      Tables.lineitem(s, d)
        .join(pa, col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("long") * 5 * col("n") < col("sq"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("total_cents"),
          expr("CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) div 7 AS BIGINT)")
            .as("avg_yearly_cents"))
    },

    GraftQuery(
      "q272_tpch_q22",
      "TPC-H Q22 (global market opportunity, adapted to this fixture where every customer has ordered): above-average-balance customers with NO LARGE order (none over $400k) — a global scalar aggregate feeding a predicate (cross-multiplied to exact integers, no float average), then an ANTI join against the filtered orders, grouped by nation. The three-stage shape (tiny global aggregate -> broadcast -> anti join) is the canon's test of subquery decorrelation; here it is written directly as the plan the optimizer should reach.",
      """WITH pos AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_acctbal > 0.0),
        |stats AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s FROM pos),
        |rich AS (SELECT c_custkey, c_nationkey, cents FROM pos, stats
        |         WHERE cents * n > s),
        |never AS (SELECT r.* FROM rich r
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_custkey = r.c_custkey
        |                              AND o.o_totalprice > 400000.0))
        |SELECT c_nationkey, count(*) AS n_custs,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM never GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val pos = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0.0)
        .select(col("c_custkey"), col("c_nationkey"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
      val stats = pos.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      pos.crossJoin(broadcast(stats))
        .filter(col("cents") * col("n") > col("s"))
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"), sum(col("cents")).as("total_cents"))
        .orderBy(col("c_nationkey"))
    },

    GraftQuery(
      "q273_tpch_q4",
      "TPC-H Q4 (order priority checking, adapted: 'late' = some line shipped >60 days after the order date): per priority, how many orders have AT LEAST ONE late line — the canonical EXISTS, planned as a left-semi join so each order matches at most once no matter how many lines are late (a plain inner join would double-count, the classic EXISTS-rewrite bug). Day arithmetic in integer epoch-day floors, both engines.",
      """WITH late AS (SELECT DISTINCT l_orderkey
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE epoch_us(l_shipdate) // 86400000000
        |      > epoch_us(o_orderdate) // 86400000000 + 60)
        |SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders JOIN late ON late.l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val late = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000") >
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000") + 60)
        .select(col("l_orderkey"))
      Tables.orders(s, d)
        .join(late, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q274_tpch_q7",
      "TPC-H Q7 (volume shipping, adapted): cross-nation trade — for every (supplier nation, customer nation) pair with supp <> cust, yearly revenue in exact cents; top 20 lanes. Two independent dimension chains hang off the same fact row (supplier's nation via l_suppkey, customer's via o_custkey -> c_nationkey), both nation lookups broadcast, the fact shuffles once on its join keys — the shape that shows a planner can hold two star arms apart without cartesian confusion.",
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(o_orderdate) AS INTEGER) AS l_year,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_x100
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |WHERE s_nationkey <> c_nationkey
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_x100 DESC, supp_nation, cust_nation, l_year
        |LIMIT 20""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val cn = Tables.nation(s, d)
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .join(broadcast(sn), col("snk") === col("s_nationkey"))
        .join(broadcast(cn), col("cnk") === col("c_nationkey"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).as("l_year"))
        .agg(sum(rev).as("revenue_x100"))
        .select(col("supp_nation"), col("cust_nation"), col("l_year"), col("revenue_x100"))
        .orderBy(col("revenue_x100").desc, col("supp_nation"),
          col("cust_nation"), col("l_year"))
        .limit(20)
    },

    GraftQuery(
      "q275_tpch_q10",
      "TPC-H Q10 (returned-item reporting): customers ranked by the revenue they RETURNED (l_returnflag = 'R') in a quarter — fact filtered first, then the dimension chain (customer, nation) joins the pre-aggregated loss, top 20. The plan lesson: aggregate the fact table BEFORE joining the wide customer row, so the join moves |customers-with-returns| rows, not |lineitems|. Exact cents revenue.",
      """WITH ret AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_x100
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-07-01'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, n_name,
        |  CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents, rev_x100
        |FROM ret JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY rev_x100 DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      val ret = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(rev).as("rev_x100"))
      ret.join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("acctbal_cents"),
          col("rev_x100"))
        .orderBy(col("rev_x100").desc, col("c_custkey"))
        .limit(20)
    },

    GraftQuery(
      "q276_tpch_q14",
      "TPC-H Q14 (promotion effect): what share of a month's revenue came from PROMO-type parts — the conditional-sum-over-sum percentage, in exact ppm by integer cross division (promo_rev * 1e6 // total_rev), never a float ratio. One fact-dim join, both sums in a single aggregate pass over the same rows — the canon's reminder that a 'percentage query' is one scan, not two.",
      """WITH m AS (SELECT p_type,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100) AS BIGINT)) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT count(*) AS n_lines,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT) AS promo_x100,
        |  CAST(sum(rev) AS BIGINT) AS total_x100,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) * 1000000
        |       // sum(rev) AS BIGINT) AS promo_ppm
        |FROM m""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
        .join(broadcast(Tables.part(s, d)), col("p_partkey") === col("l_partkey"))
        .select(col("p_type"), rev.as("rev"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L)).as("promo_x100"),
          sum(col("rev")).as("total_x100"),
          // ppm cross-multiply through DECIMAL(38,0) (r10 ADVICE): DuckDB's
          // BIGINT sum promotes to HUGEINT, so the oracle is exact at any SF;
          // Long would silently wrap here at larger corpora
          expr("CAST((CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DECIMAL(38,0)) * 1000000) div CAST(sum(rev) AS DECIMAL(38,0)) AS BIGINT)")
            .as("promo_ppm"))
    },

    GraftQuery(
      "q277_tpch_q6",
      "TPC-H Q6 (forecasting revenue change): the pure scan-filter-aggregate — a year of lineitems in a discount band and quantity cap, potential revenue = sum(extprice * disc) as exact cents x discount-percent integer products. No join, no group: the query IS the pushdown test — every predicate must reach the parquet scan (discount in [5,7]% maps to the cents-integer band) and the single aggregate runs map-side till the final 1-row reduce.",
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_x100
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(floor(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24.0""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
          expr("CAST(floor(l_discount * 100) AS BIGINT)").between(5, 7) &&
          col("l_quantity") < 24.0)
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
            expr("CAST(floor(l_discount * 100) AS BIGINT)")).as("revenue_x100"))
    },

    GraftQuery(
      "q278_tpch_q19",
      "TPC-H Q19 (discounted revenue, adapted to this part schema): the famous OR-of-ANDs — three disjunctive (brand, size-band, quantity-band) arm predicates over the lineitem x part join. The optimizer test hiding inside: the common `p_partkey = l_partkey` conjunct must still drive an equi-join (hash, not nested-loop) with the disjunction as a post-join filter, and the per-arm constraints must not leak across arms. Exact cents revenue.",
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_x100
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      def arm(brand: String, szLo: Int, szHi: Int, qLo: Double, qHi: Double) =
        col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
        .filter(arm("Brand#1", 1, 15, 1.0, 20.0) ||
          arm("Brand#2", 10, 30, 10.0, 30.0) ||
          arm("Brand#3", 20, 50, 20.0, 50.0))
        .agg(count(lit(1)).as("n_lines"), sum(rev).as("revenue_x100"))
    },

    GraftQuery(
      "q291_tpch_q11",
      "TPC-H Q11 shape (important stock values, adapted: no partsupp table, so per-part shipped value from one nation's suppliers stands in for supplycost x availqty): GROUP BY part HAVING sum(value) > A SCALAR SUBQUERY that re-aggregates the same nation-filtered join — the decorrelation canon's 'HAVING over a global-fraction threshold'. Catalyst must plan the subquery ONCE (a reused one-row aggregate, never a per-group re-execution); the fraction compare is cross-multiplied (sum * 2000 > total) so no float division touches the gate. Declared in pure SQL so the subquery machinery itself is what's exercised.",
      """SELECT l_partkey AS partkey,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name = 'NATION_8'
        |GROUP BY l_partkey
        |HAVING sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) * 2000 >
        |  (SELECT sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |   FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |   JOIN nation ON n_nationkey = s_nationkey WHERE n_name = 'NATION_8')
        |ORDER BY value_cents DESC, partkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q291")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q291")
      Tables.nation(s, d).createOrReplaceTempView("nation_q291")
      s.sql(
        """SELECT l_partkey AS partkey,
          |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM lineitem_q291 JOIN supplier_q291 ON s_suppkey = l_suppkey
          |JOIN nation_q291 ON n_nationkey = s_nationkey
          |WHERE n_name = 'NATION_8'
          |GROUP BY l_partkey
          |HAVING sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) * 2000 >
          |  (SELECT sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
          |   FROM lineitem_q291 JOIN supplier_q291 ON s_suppkey = l_suppkey
          |   JOIN nation_q291 ON n_nationkey = s_nationkey WHERE n_name = 'NATION_8')
          |ORDER BY value_cents DESC, partkey""".stripMargin)
    },

    GraftQuery(
      "q292_tpch_q20",
      "TPC-H Q20 shape (suppliers with excess stock, adapted: the (suppkey, partkey) one-year shipped aggregate stands in for partsupp.availqty): the canon's hardest nesting — an IN whose subquery contains ANOTHER IN (selective part filter) AND a CORRELATED SCALAR subquery (half of that pair's all-time shipped quantity) correlated on TWO columns. Catalyst must rewrite the outer IN to a semi-join, the inner IN to a semi-join, and decorrelate the scalar into an aggregate-join — zero per-row subquery execution. Cross-multiplied integer compare (2*q > total), no float.",
      """SELECT s_name, s_suppkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT g.sk FROM (
        |      SELECT l_suppkey AS sk, l_partkey AS pk2,
        |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q97
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |      GROUP BY 1, 2) g
        |    WHERE g.pk2 IN (SELECT p_partkey FROM part WHERE p_brand IN ('Brand#1','Brand#2'))
        |      AND g.q97 * 2 > (SELECT CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
        |                       FROM lineitem l2
        |                       WHERE l2.l_partkey = g.pk2 AND l2.l_suppkey = g.sk))
        |ORDER BY s_name""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q292")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q292")
      Tables.nation(s, d).createOrReplaceTempView("nation_q292")
      Tables.part(s, d).createOrReplaceTempView("part_q292")
      s.sql(
        """SELECT s_name, s_suppkey
          |FROM supplier_q292 JOIN nation_q292 ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_3'
          |  AND s_suppkey IN (
          |    SELECT g.sk FROM (
          |      SELECT l_suppkey AS sk, l_partkey AS pk2,
          |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q97
          |      FROM lineitem_q292
          |      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          |      GROUP BY 1, 2) g
          |    WHERE g.pk2 IN (SELECT p_partkey FROM part_q292 WHERE p_brand IN ('Brand#1','Brand#2'))
          |      AND g.q97 * 2 > (SELECT CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
          |                       FROM lineitem_q292 l2
          |                       WHERE l2.l_partkey = g.pk2 AND l2.l_suppkey = g.sk))
          |ORDER BY s_name""".stripMargin)
    },

    GraftQuery(
      "q293_tpch_q21",
      "TPC-H Q21 shape (suppliers who kept orders waiting, adapted: 'late' = shipped more than 90 days after order date, since the fixture has no commit/receipt dates): the multi-EXISTS canon — for each late line of a finished order, EXISTS another supplier on the same order (multi-supplier orders only) AND NOT EXISTS another supplier ALSO late on it (sole culprit). The NOT EXISTS correlates on the order key AND the OUTER order date inequality — Catalyst must plan a semi-join plus an anti-join with the non-equi lateness predicate as a join filter, never a per-row probe. The count ranks the worst blockers.",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |  AND n_name = 'NATION_21'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q293")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q293")
      Tables.nation(s, d).createOrReplaceTempView("nation_q293")
      Tables.orders(s, d).createOrReplaceTempView("orders_q293")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier_q293
          |JOIN lineitem_q293 l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders_q293 o ON o.o_orderkey = l1.l_orderkey
          |JOIN nation_q293 ON s_nationkey = n_nationkey
          |WHERE o.o_orderstatus = 'F'
          |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          |  AND n_name = 'NATION_21'
          |  AND EXISTS (SELECT 1 FROM lineitem_q293 l2
          |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_q293 l3
          |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |                AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 100""".stripMargin)
    },

    GraftQuery(
      "q01_pricing_summary",
      "TPC-H Q1-style scan+aggregate: group lineitem by flag/status with exact-cents money sums (reference op R10 count + G aggregation).",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |  count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge_cents"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    GraftQuery(
      "q02_filter_project",
      "Selective filter + narrow projection; predicate and column pruning reach the parquet scan (reference ops R6/R8 generalized).",
      """SELECT p_partkey, p_name, p_brand, p_size,
        |  CAST(floor(p_retailprice*100) AS BIGINT) AS price_cents
        |FROM part
        |WHERE p_size BETWEEN 5 AND 20 AND p_type IN ('ECONOMY','PROMO')
        |  AND p_retailprice > 900.0
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_size").between(5, 20) &&
          col("p_type").isin("ECONOMY", "PROMO") &&
          col("p_retailprice") > 900.0)
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"),
          cents(col("p_retailprice")).as("price_cents"))
        .orderBy(col("p_partkey"))
    },

    GraftQuery(
      "q03_join_agg",
      "Inner equi-join customer⋈orders then aggregate by segment/year. Customer side broadcast below the AQE threshold at test SF; shuffles on o_custkey at scale.",
      """SELECT c_mktsegment, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  count(*) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment, o_year
        |ORDER BY c_mktsegment, o_year""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"), col("o_year"))
    },

    GraftQuery(
      "q04_join_left",
      "Left outer join preserving customers with zero orders; null-aware count/sum semantics.",
      """SELECT c_custkey, c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(floor(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS spent_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("spent_cents"))
        .orderBy(col("c_custkey"))
    },

    GraftQuery(
      "q05_join_semi",
      "Left-semi join (EXISTS): orders having at least one heavy lineitem. Semi-join avoids materializing the probe side — the watermark delta of the reference is the same shape (SURVEY §2.4 joins).",
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q06_join_anti",
      "Left-anti join (NOT EXISTS): customers with no orders since 2000, counted per nation; nation dimension explicitly broadcast.",
      """SELECT n_name, count(*) AS n_customers
        |FROM customer c JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"))
    },

    GraftQuery(
      "q07_regional_revenue",
      "TPC-H Q5-style 5-way join: region→nation→customer→orders→lineitem with small dims broadcast; only the orders⋈lineitem edge shuffles.",
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  count(*) AS n_lines
        |FROM region
        |JOIN nation   ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders   ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      val asiaNations = broadcast(
        Tables.region(s, d).filter(col("r_name") === "ASIA")
          .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey")))
      val cust = broadcast(
        asiaNations.join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey")))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      cust.join(ord, col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_cents"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    },

    GraftQuery(
      "q08_count_distinct",
      "Exact distinct aggregation (expand+two-phase under the hood).",
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS uniq_cust,
        |  count(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("uniq_cust"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q09_approx_distinct",
      "HyperLogLog++ approximate distinct — the 100 TB path where exact distinct would shuffle every key — upgraded from rows-only to a HASH-GATED error-bound witness: the estimate itself is engine-specific sketch output DuckDB cannot reproduce, so the COMPARED columns are the exact distinct counts plus a boolean asserting |approx - exact| <= 6% of exact (3x the rsd=0.02 budget). The oracle computes the same exact counts and expects TRUE — so a sketch whose error drifts past the bound FAILS the gate instead of hiding behind a rows-only check. The estimate is deterministic for a fixed corpus, so the boolean is stable, and the per-round spec differential still covers the raw estimate path.",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_within_bound, TRUE AS orders_within_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      // The sketches run in their OWN aggregation, joined back on the 3-row
      // group key: mixing countDistinct with approx_count_distinct in one
      // agg makes Catalyst's Expand-based mixed-distinct plan carry the
      // multi-KB HLL buffer as per-DISTINCT-KEY state (millions of buffers
      // — measured 50s vs 3.9s+1.8s split at sf1). Two scans of
      // a pruned 3-column parquet beat one scan with quadratic state.
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
      val sketch = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
      exact.join(broadcast(sketch), "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          // integer-exact 6% bound check: abs error * 100 <= exact * 6
          (abs(col("ap") - col("exact_parts")) * 100 <= col("exact_parts") * 6)
            .as("parts_within_bound"),
          (abs(col("ao") - col("exact_orders")) * 100 <= col("exact_orders") * 6)
            .as("orders_within_bound"))
        .orderBy(col("l_returnflag"))
    },

    GraftQuery(
      "q320_approx_quantile_sketch",
      "Approximate QUANTILES via the engine's mergeable Greenwald-Khanna summary (percentile_approx, accuracy 1000 → rank error ≤ n/1000) — the sketch family's missing member (CM/KMV/AMS/HLL/MG/TopK all ship; quantiles are what sizes partitions, picks salting thresholds and drives q51-style histograms at 100 TB, where the exact form would SORT the corpus; the GK buffer partial-aggregates map-side like every other sketch here). Gated by q09's error-bound-witness doctrine: the nine decile estimates are engine-specific sketch output DuckDB cannot reproduce, so the COMPARED columns are the exact row count plus a boolean witnessing that each estimate's exact rank interval [count(<v), count(≤v)] covers the decile target within n/100 (10× the sketch's rank budget) — computed by a second one-scan pass against the broadcast 9-value frame. A sketch whose rank error drifts fails the gate instead of hiding behind a rows-only check; ties are handled by the interval, not a point rank.",
      """WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
        |SELECT CAST(d.d AS BIGINT) AS decile, n.n_rows, TRUE AS within_bound
        |FROM (SELECT unnest(generate_series(1, 9)) AS d) d, n
        |ORDER BY decile""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d).select(cents(col("l_extendedprice")).as("c"))
      val est = c.agg(
        percentile_approx(col("c"),
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(1000)).as("est"),
        count(lit(1)).as("n_rows"))
      // 9 (decile, estimate) rows + the count — broadcast to the witness scan
      val dec = est.select(posexplode(col("est")).as(Seq("pos", "v")), col("n_rows"))
        .select((col("pos") + 1).cast("long").as("decile"), col("v"), col("n_rows"))
      c.crossJoin(broadcast(dec))
        .groupBy(col("decile"), col("n_rows"))
        .agg(sum(when(col("c") < col("v"), 1L).otherwise(0L)).as("rank_lt"),
          sum(when(col("c") <= col("v"), 1L).otherwise(0L)).as("rank_le"))
        // integer-exact: target dec*n/10 must fall inside the estimate's
        // rank interval widened by n/100 (scaled ×100 to stay integral)
        .select(col("decile"), col("n_rows"),
          (col("rank_lt") * 100 <= col("decile") * col("n_rows") * 10 + col("n_rows") &&
           col("rank_le") * 100 >= col("decile") * col("n_rows") * 10 - col("n_rows"))
            .as("within_bound"))
        .orderBy(col("decile"))
    },

    GraftQuery(
      "q10_rollup",
      "ROLLUP hierarchy totals (flag → flag+status → grand total); NULLS FIRST pinned on both engines.",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    GraftQuery(
      "q11_cube",
      "CUBE over status×priority with exact-cents revenue.",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  count(*) AS cnt
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"),
          count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    GraftQuery(
      "q12_union_distinct",
      "Set op: UNION (distinct) of two key sets.",
      """SELECT id FROM (
        |  SELECT c_custkey AS id FROM customer
        |  UNION
        |  SELECT o_custkey AS id FROM orders
        |) ORDER BY id""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("id"))
        .union(Tables.orders(s, d).select(col("o_custkey").as("id")))
        .distinct()
        .orderBy(col("id"))
    },

    GraftQuery(
      "q13_intersect",
      "Set op: INTERSECT — customers that both exist and have ordered.",
      """SELECT c_custkey AS id FROM customer
        |INTERSECT
        |SELECT o_custkey AS id FROM orders
        |ORDER BY id""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("id"))
        .intersect(Tables.orders(s, d).select(col("o_custkey").as("id")))
        .orderBy(col("id"))
    },

    GraftQuery(
      "q14_except",
      "Set op: EXCEPT — customer keys with no urgent-priority order.",
      """SELECT c_custkey AS id FROM customer
        |EXCEPT
        |SELECT o_custkey AS id FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY id""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("id"))
        .except(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("id")))
        .orderBy(col("id"))
    },

    GraftQuery(
      "q155_referential_audit",
      "Referential-integrity audit across every FK edge of the star schema in one result: for each child→parent edge, total child rows and orphans (child keys with no parent) via LEFT ANTI joins — the lake-health check run before every downstream join assumes integrity. Each branch is one semi-structured anti-join; parents are dimension-sized and broadcast by AQE.",
      """SELECT * FROM (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |  UNION ALL SELECT 'lineitem.l_partkey->part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'orders.o_custkey->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |ORDER BY fk_edge""".stripMargin) { (s, d) =>
      def edge(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
               parent: org.apache.spark.sql.DataFrame, pk: String) = {
        val orphans = child.select(col(ck))
          .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, d)
      Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        edge("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .reduce(_.unionAll(_))
        .orderBy(col("fk_edge"))
    },

    GraftQuery(
      "q156_distribution_drift",
      "Distribution-drift monitor — the exact-integer twin of PSI/KL monitoring (those need ln; total-variation distance needs only counts): event values bucketed to 16 width-500-cent bins, the first and last corpus weeks' bucket shares compared, drift = ½·Σ|p1 − p2| in ppm computed entirely from integer counts cross-multiplied over the two totals. Per-bucket shares plus the single drift scalar; the input-shift alarm every production training pipeline runs.",
      """WITH ev AS (SELECT CAST(floor(value * 100) AS BIGINT) // 500 AS bucket,
        |    CASE WHEN ts <  TIMESTAMP '2024-01-08' THEN 'w1'
        |         WHEN ts >= TIMESTAMP '2024-01-24' THEN 'w4' END AS period
        |  FROM events),
        |c AS (SELECT bucket, period, count(*) AS n FROM ev
        |      WHERE period IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT bucket,
        |        CAST(sum(CASE WHEN period = 'w1' THEN n ELSE 0 END) AS BIGINT) AS n1,
        |        CAST(sum(CASE WHEN period = 'w4' THEN n ELSE 0 END) AS BIGINT) AS n2
        |      FROM c GROUP BY bucket),
        |t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 FROM p)
        |SELECT bucket, n1, n2,
        |  CAST(abs(CAST(n1 AS HUGEINT) * 1000000 * t2 - CAST(n2 AS HUGEINT) * 1000000 * t1)
        |       // (2 * CAST(t1 AS HUGEINT) * t2) AS BIGINT) AS tv_contrib_ppm
        |FROM p, t ORDER BY bucket""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(expr("cast(floor(value * 100) as bigint) div 500").as("bucket"),
          when(col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-08 00:00:00")), "w1")
            .when(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-24 00:00:00")), "w4")
            .as("period"))
        .filter(col("period").isNotNull)
      val p = ev.groupBy(col("bucket"))
        .agg(sum(when(col("period") === "w1", 1L).otherwise(0L)).as("n1"),
          sum(when(col("period") === "w4", 1L).otherwise(0L)).as("n2"))
      val t = p.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
      // |n1/t1 − n2/t2| in ppm without division order sensitivity:
      // cross-multiply over the common denominator t1·t2, floor once.
      // DECIMAL(38,0) lane: n·1e6·t wraps Long once a weekly slice passes
      // ~3e6 events (the q285/q295 overflow class) — the oracle's HUGEINT
      // stays exact, so the engine must too
      p.crossJoin(broadcast(t))
        .selectExpr("bucket", "n1", "n2",
          "CAST(abs(CAST(n1 AS DECIMAL(38,0)) * 1000000 * t2 - CAST(n2 AS DECIMAL(38,0)) * 1000000 * t1) " +
            "div (2 * CAST(t1 AS DECIMAL(38,0)) * t2) AS BIGINT) AS tv_contrib_ppm")
        .orderBy(col("bucket"))
    },

    GraftQuery(
      "q154_keyset_pagination",
      "Keyset (seek-method) pagination — page 3 of the orders feed, 100 rows, ordered by (price desc, key): the page-2 boundary tuple is computed as one argmin over a top-200 (per-partition top-k, never a global sort of the table), broadcast, and page 3 is a PUSHABLE predicate (cents < b) OR (cents = b AND key > bk) + top-100 — constant work per page at any depth, where OFFSET-based paging scans and discards everything above it. The oracle takes rows 201-300 of the global ranking.",
      """WITH r AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (ORDER BY floor(o_totalprice * 100) DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderkey, cents
        |FROM r WHERE rn BETWEEN 201 AND 300
        |ORDER BY cents DESC, o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
      // boundary = last row of page 2 under (cents desc, key asc): the
      // lexicographic min(struct(cents, -key)) over the top-200
      val boundary = o.orderBy(col("cents").desc, col("o_orderkey")).limit(200)
        .agg(min(struct(col("cents"), (-col("o_orderkey")).as("nk"))).as("b"))
        .select(col("b.cents").as("bc"), (-col("b.nk")).as("bk"))
      o.crossJoin(broadcast(boundary))
        .filter(col("cents") < col("bc") ||
          (col("cents") === col("bc") && col("o_orderkey") > col("bk")))
        .orderBy(col("cents").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("cents"))
        .orderBy(col("cents").desc, col("o_orderkey"))
    },

    GraftQuery(
      "q144_bag_set_ops",
      "Bag-semantics set ops — INTERSECT ALL / EXCEPT ALL keep multiplicities (min / truncated-difference of per-value counts), unlike their DISTINCT twins q13/q14: the per-customer order-date multiset of urgent orders intersected with / subtracted from high-value ones. Catalyst plans both as an aggregate of per-side counts plus a generate — no row-pair join.",
      """WITH u AS (SELECT o_custkey AS id FROM orders WHERE o_orderpriority = '1-URGENT'),
        |h AS (SELECT o_custkey AS id FROM orders WHERE o_totalprice > 150000),
        |i AS (SELECT id FROM u INTERSECT ALL SELECT id FROM h),
        |e AS (SELECT id FROM u EXCEPT ALL SELECT id FROM h),
        |ic AS (SELECT id, count(*) AS n FROM i GROUP BY id),
        |ec AS (SELECT id, count(*) AS n FROM e GROUP BY id)
        |SELECT coalesce(ic.id, ec.id) AS id,
        |  CAST(coalesce(ic.n, 0) AS BIGINT) AS n_both,
        |  CAST(coalesce(ec.n, 0) AS BIGINT) AS n_only_urgent
        |FROM ic FULL OUTER JOIN ec ON ic.id = ec.id
        |ORDER BY id""".stripMargin) { (s, d) =>
      val u = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("id"))
      val h = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("id"))
      val ic = u.intersectAll(h).groupBy(col("id")).agg(count(lit(1)).as("n_b"))
      val ec = u.exceptAll(h).groupBy(col("id")).agg(count(lit(1)).as("n_o"))
      ic.join(ec, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("n_b"), lit(0L)).as("n_both"),
          coalesce(col("n_o"), lit(0L)).as("n_only_urgent"))
        .orderBy(col("id"))
    },

    GraftQuery(
      "q145_nullsafe_join",
      "Null-safe equality join (<=> / IS NOT DISTINCT FROM): optional attributes join with NULL matching NULL — the semantic a plain equi-join silently drops (NULL = NULL is never true). Clerk-bucket keys are NULL for low-value orders on both sides; the null-safe join pairs those rows too, and Catalyst still plans a HASH join (null-safe equality is an equi-key), not a nested loop.",
      """WITH a AS (SELECT o_orderkey,
        |    CASE WHEN o_totalprice > 100000 THEN o_custkey % 10 END AS bucket
        |  FROM orders),
        |b AS (SELECT CASE WHEN s_acctbal > 3000 THEN s_suppkey % 10 END AS bucket,
        |    count(*) AS n_supp
        |  FROM supplier GROUP BY 1)
        |SELECT a.bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(max(b.n_supp) AS BIGINT) AS n_supp
        |FROM a JOIN b ON a.bucket IS NOT DISTINCT FROM b.bucket
        |GROUP BY a.bucket ORDER BY a.bucket NULLS FIRST""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 100000, col("o_custkey") % 10).as("bucket"))
      val b = Tables.supplier(s, d)
        .groupBy(when(col("s_acctbal") > 3000, col("s_suppkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_supp"))
      a.join(b, a("bucket") <=> b("bucket"))
        .groupBy(a("bucket"))
        .agg(count(lit(1)).as("n_orders"), max(col("n_supp")).as("n_supp"))
        .orderBy(a("bucket").asc_nulls_first)
    },

    GraftQuery(
      "q15_distinct_pairs",
      "dropDuplicates as declarative DISTINCT on a projection.",
      """SELECT DISTINCT o_custkey, o_orderstatus
        |FROM orders
        |ORDER BY o_custkey, o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderstatus"))
        .distinct()
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    },

    GraftQuery(
      "q178_listagg",
      "LISTAGG / string_agg with a pinned element order: per region, the alphabetical comma-joined nation roster plus the customer census underneath it. Spark's collect_list is order-nondeterministic by contract, so the deterministic formulation is array_join(array_sort(collect_list(...))) — sorting INSIDE the aggregate expression, which is exactly what SQL's WITHIN GROUP (ORDER BY) pins. Doctrine note: listagg is only a safe aggregate when per-group cardinality is BOUNDED (here ≤ 5 nations/region); an unbounded roster column is a schema smell, not an operator gap — at 100 TB you keep the relation, not the string.",
      """WITH cn AS (SELECT n_regionkey AS rk, n_name, count(*) AS n_cust
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  CAST(sum(n_cust) AS BIGINT) AS n_customers
        |FROM cn JOIN region ON rk = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      val cn = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
      cn.join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          sum(col("n_cust")).as("n_customers"))
        .orderBy(col("r_name"))
    },

    GraftQuery(
      "q294_tpch_q2",
      "TPC-H Q2 shape (minimum-cost supplier, adapted: no partsupp table, so the per-(part,supplier) supply cost is the minimum observed extended price in cents — derived once in a CTE both the outer query and the correlated subquery reuse): for EUROPE suppliers of mid-size LARGE parts, keep only the pairs achieving the REGIONAL minimum cost for their part. The decorrelation canon's 'correlated scalar min over a reused relation': Catalyst must plan the CTE once, turn the = (SELECT min ...) into an aggregate-join on p_partkey, and never re-execute the region chain per part.",
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT CAST(floor(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
        |       s_name, n_name, p_partkey, ps.cost_cents
        |FROM part JOIN ps ON p_partkey = ps.pk
        |JOIN supplier ON s_suppkey = ps.sk
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND r_name = 'EUROPE'
        |  AND ps.cost_cents = (
        |    SELECT min(ps2.cost_cents)
        |    FROM ps ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.sk
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.pk = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q294")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q294")
      Tables.nation(s, d).createOrReplaceTempView("nation_q294")
      Tables.region(s, d).createOrReplaceTempView("region_q294")
      Tables.part(s, d).createOrReplaceTempView("part_q294")
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS pk, l_suppkey AS sk,
          |         min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cost_cents
          |  FROM lineitem_q294 GROUP BY 1, 2)
          |SELECT CAST(floor(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
          |       s_name, n_name, p_partkey, ps.cost_cents
          |FROM part_q294 JOIN ps ON p_partkey = ps.pk
          |JOIN supplier_q294 ON s_suppkey = ps.sk
          |JOIN nation_q294 ON s_nationkey = n_nationkey
          |JOIN region_q294 ON n_regionkey = r_regionkey
          |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND r_name = 'EUROPE'
          |  AND ps.cost_cents = (
          |    SELECT min(ps2.cost_cents)
          |    FROM ps ps2
          |    JOIN supplier_q294 s2 ON s2.s_suppkey = ps2.sk
          |    JOIN nation_q294 n2 ON s2.s_nationkey = n2.n_nationkey
          |    JOIN region_q294 r2 ON n2.n_regionkey = r2.r_regionkey
          |    WHERE ps2.pk = p_partkey AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin)
    },

    GraftQuery(
      "q295_tpch_q8",
      "TPC-H Q8 (national market share): of the PROMO-part revenue that AMERICA-region customers generated in 1995-1996, what ppm came from NATION_7 suppliers, per year. The 7-table star with nation playing TWO roles (customer's nation gates the market region; supplier's nation is the share dimension) — the optimizer must broadcast both nation branches and the region chain, keep the two roles separate, and plan one shuffle per fact join. Share as an integer ppm via cross-multiplied div, never float division.",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CASE WHEN sn_name = 'NATION_7' THEN rev ELSE 0 END) * 1000000
        |       // sum(rev) AS BIGINT) AS share_ppm,
        |  CAST(sum(rev) AS BIGINT) AS total_x100
        |FROM (
        |  SELECT o_orderdate, n2.n_name AS sn_name,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100) AS BIGINT)) AS rev
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n1.n_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01') mkt
        |GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, d) =>
      val rev = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)"))
      val custNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_rk"))
      val suppNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1997-01-01"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(custNation), col("cn_key") === col("c_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
          col("r_regionkey") === col("cn_rk"))
        .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(suppNation), col("sn_key") === col("s_nationkey"))
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")),
          col("p_partkey") === col("l_partkey"))
        .select(year(col("o_orderdate")).as("o_year"), col("sn_name"), rev.as("rev"))
        .groupBy(col("o_year"))
        .agg(
          // DECIMAL(38,0) cross-multiply, same overflow class as Analytics'
          // share_ppm fix (r10 ADVICE): oracle side is already HUGEINT-exact
          expr("CAST((CAST(sum(CASE WHEN sn_name = 'NATION_7' THEN rev ELSE 0 END) AS DECIMAL(38,0)) * 1000000) div CAST(sum(rev) AS DECIMAL(38,0)) AS BIGINT)")
            .as("share_ppm"),
          sum(col("rev")).as("total_x100"))
        .orderBy(col("o_year"))
    },

    GraftQuery(
      "q296_tpch_q9",
      "TPC-H Q9 shape (product-type profit, adapted: no partsupp supplycost, so cost = retail price cents x quantity and both terms are carried on the x10000 integer grid): profit by SUPPLIER nation and order year over parts named '% widget%' — the like-filter star whose aggregate spans every fact row that survives a part-name scan filter. Grades: the p_name LIKE filter must prune the part side BEFORE the join (broadcast of the filtered dim), and the nation/year group must map-side combine; profit can be negative, which pins two's-complement sum behavior on both engines.",
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(floor(l_discount * 100) AS BIGINT))
        |         - CAST(floor(p_retailprice * 100) AS BIGINT)
        |           * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS profit_x10k
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY n_name, 2
        |ORDER BY n_name, o_year DESC""".stripMargin) { (s, d) =>
      val profit = expr("CAST(floor(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(floor(l_discount * 100) AS BIGINT)")) -
        expr("CAST(floor(p_retailprice * 100) AS BIGINT)") *
          expr("CAST(l_quantity AS BIGINT)") * lit(100L)
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").like("%widget%"))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(profit).as("profit_x10k"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    GraftQuery(
      "q297_tpch_q12",
      "TPC-H Q12 shape (shipping modes & priority, adapted: the fixture has no l_shipmode/commitdate, so the group axis is the ship-DELAY band — FAST <=30d, NORMAL 31-60d, SLOW >60d from order date to ship date): per band, how many lines belong to critical-priority orders vs not. The canon's join + dual conditional count: one orders⋈lineitem shuffle, the CASE counts fold into a single aggregate pass, and the delay arithmetic is date-integer (no timestamps in the group key).",
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
        |            WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 'NORMAL'
        |            ELSE 'SLOW' END AS delay_band,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY delay_band""".stripMargin) { (s, d) =>
      val band = when(datediff(col("l_shipdate"), col("o_orderdate")) <= 30, "FAST")
        .when(datediff(col("l_shipdate"), col("o_orderdate")) <= 60, "NORMAL")
        .otherwise("SLOW")
      val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d)
            .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(band.as("delay_band"))
        .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!isHigh, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("delay_band"))
    },

    GraftQuery(
      "q298_tpch_q13",
      "TPC-H Q13 (customer order-count distribution): LEFT OUTER customer⋈orders with an ON-clause filter (non-default-priority orders only — the adaptation of the canonical o_comment NOT LIKE), count per customer INCLUDING zero-order customers, then the distribution of those counts. The two-level aggregate whose correctness hinges on outer-join null semantics: count(o_orderkey) must skip nulls, the zero bucket must survive, and the ON-filter must NOT become a WHERE (which would silently drop the zero row).",
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "4-NOT SPECIFIED",
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    GraftQuery(
      "q299_tpch_q15",
      "TPC-H Q15 (top supplier): quarterly revenue per supplier in a CTE consumed TWICE — once as the join input, once inside the = (SELECT max(...)) gate. The view-reuse canon: Catalyst must evaluate the revenue aggregate once (CTE dedup / subquery reuse), plan the max as a one-row broadcast gate, and return every supplier tied at the top. Ties are real under exact cents, which is why the oracle carries no LIMIT.",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_x100
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev_x100
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev_x100 = (SELECT max(total_rev_x100) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q299")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q299")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
          |         * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_x100
          |  FROM lineitem_q299
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY 1)
          |SELECT s_suppkey, s_name, total_rev_x100
          |FROM supplier_q299 JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_rev_x100 = (SELECT max(total_rev_x100) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
    },

    GraftQuery(
      "q300_tpch_q16",
      "TPC-H Q16 shape (parts/supplier relationship, adapted: the (part,supplier) catalog is the DISTINCT pairs observed in lineitem, and the excluded-supplier set — the canonical complaints NOT IN — is suppliers with negative account balance): distinct-supplier counts per (brand, type, size) class over a size IN-list. Grades the null-aware NOT IN -> anti-join rewrite (never a per-row probe), distinct-pair dedup BEFORE the dim join, and a count(DISTINCT) on top of it.",
      """SELECT p_brand, p_type, p_size, count(DISTINCT ps.sk) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem) ps
        |JOIN part ON p_partkey = ps.pk
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND ps.sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 100""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q300")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q300")
      Tables.part(s, d).createOrReplaceTempView("part_q300")
      s.sql(
        """SELECT p_brand, p_type, p_size, count(DISTINCT ps.sk) AS supplier_cnt
          |FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem_q300) ps
          |JOIN part_q300 ON p_partkey = ps.pk
          |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          |  AND ps.sk NOT IN (SELECT s_suppkey FROM supplier_q300 WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
          |LIMIT 100""".stripMargin)
    },

    GraftQuery(
      "q303_quantile_sketch_calibration",
      "Approximate-quantile CALIBRATION, hash-gated like q09/q302 — the last sketch in the engine without a measured error: percentile_approx(accuracy=1000) promises rank error <= n/1000, and this query VERIFIES it per (returnflag, p in {0.5, 0.9, 0.99}) by ranking the sketch's returned value against the actual column (rank = count(c <= v)) and asserting |1000*rank - p_mil*n| <= n + 1000, all integer cross-products. The COMPARED columns are group size, the exact interpolated quantile (floored cents — both engines' (n-1)p linear interpolation), and the bound boolean; the sketch value itself stays engine-side. At 100 TB the sketch IS the operating path (bounded GK state, map-side mergeable) and the exact percentile here is the labeled calibration tier.",
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |g AS (SELECT flag, count(*) AS n,
        |    quantile_cont(c, 0.5) AS q500, quantile_cont(c, 0.9) AS q900,
        |    quantile_cont(c, 0.99) AS q990
        |  FROM li GROUP BY flag)
        |SELECT flag, p_mil, CAST(n AS BIGINT) AS n,
        |  CAST(floor(CASE p_mil WHEN 500 THEN q500 WHEN 900 THEN q900
        |             ELSE q990 END) AS BIGINT) AS exact_q,
        |  TRUE AS bound_ok
        |FROM g, (VALUES (500), (900), (990)) p(p_mil)
        |ORDER BY flag, p_mil""".stripMargin) { (s, d) =>
      val li = graft.util.CacheOnce.persistForOneAction(
        Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("c")))
      val pMils = Seq(500, 900, 990)
      val probs = array(pMils.map(p => lit(p / 1000.0)): _*)
      val g = li.groupBy(col("flag")).agg(
        count(lit(1)).as("n"),
        percentile_approx(col("c"), probs, lit(1000)).as("aq"),
        expr("percentile(c, array(0.5D, 0.9D, 0.99D))").as("eq"))
      // one row per (flag, p): the sketch value to be ranked + the exact twin
      val qrows = g.select(col("flag"), col("n"),
        posexplode(arrays_zip(col("aq"), col("eq"))).as(Seq("i", "z")))
        .select(col("flag"), col("n"),
          element_at(array(pMils.map(lit): _*), col("i") + 1).as("p_mil"),
          col("z.aq").as("av"), floor(col("z.eq")).cast("long").as("exact_q"))
      // calibration rank pass: count(c <= sketch value) per group — a 9-row
      // broadcast against one more scan of the cached 2-column frame
      li.join(broadcast(qrows), "flag")
        .groupBy(col("flag"), col("p_mil"), col("n"), col("exact_q"))
        .agg(sum(when(col("c") <= col("av"), 1L).otherwise(0L)).as("rank"))
        .select(col("flag"), col("p_mil"), col("n"), col("exact_q"),
          (abs(col("rank") * 1000 - col("p_mil") * col("n")) <= col("n") + 1000)
            .as("bound_ok"))
        .orderBy(col("flag"), col("p_mil"))
    }
  )
}
