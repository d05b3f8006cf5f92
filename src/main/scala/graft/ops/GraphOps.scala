package graft.ops

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._

/** Iterative graph analytics as plain Catalyst plans — the third member of
  * the engine's iterative-computation family (q83 connected components,
  * q118 power iteration, q112 k-means).
  *
  * PageRank here is the all-integer formulation: total mass 1e12 integer
  * units, damping 85/100, every per-edge contribution a long floor-division
  * — so the result is bit-identical across engines, partitionings and
  * summation orders (the float formulation's `sum(double)` is not).
  *
  * Scale shape per iteration: one equi-join of the rank frame to the edge
  * list on the source key + one groupBy(dst) sum — both shuffle O(E) longs,
  * never adjacency lists; degree and rank frames are O(V). That is the
  * standard BSP/Pregel cost, expressed declaratively so AQE still sizes the
  * shuffles. The fixed iteration count keeps the lineage shallow (a
  * convergence-driven variant would `localCheckpoint` per round like q83).
  */
object GraphOps {

  /** Fixed iteration count — shared by the Spark loop and the unrolled
    * oracle CTE chain. */
  val Iters = 3

  /** `result`, which reads `caches`, collected now and returned as driver
    * rows, with `caches` unpersisted — the query that persisted them drops
    * them, so the next query never persists the same plan over a cache it
    * does not own (the inter-query harness sweep stays a fallback). For
    * results of census size only. */
  private def collectReleasing(caches: org.apache.spark.sql.DataFrame*)(
      result: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (rows, schema) =
      try { val r = result; (r.collect(), r.schema) }
      finally caches.foreach(_.unpersist(false))
    caches.head.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** BFS rounds (q176) — 4 hops covers the dense bipartite co-occurrence
    * graph's diameter at every test SF; unreached nodes stay unlabeled. */
  val BfsRounds = 4

  /** `arr(c)` under a broadcast primitive long array ([[org.apache.spark.sql.graft.LabelArrayLookup]]
    * — generic long-array index, named for its first adopter). The array
    * tiers (q130, q176, q310, LPA; gated by [[graft.util.DriverTier]]) ship
    * a per-round O(V) vector (labels, ranks, distances) this way and
    * resolve it inside the round's own aggregate over cached edges, so
    * nothing O(E) crosses the wire after the one-time repartition. Past the
    * gate the callers keep their one-shuffle-per-round BSP loop (the shape
    * that holds at any scale). */
  private def arrayLookup(
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.GraftShim.column(
      org.apache.spark.sql.graft.LabelArrayLookup(
        org.apache.spark.sql.graft.GraftShim.expression(c), bc))

  /** k-core peel rounds (q310) — fixed so engine and oracle agree whether
    * or not the fixpoint is reached; production loops to a zero-delta. */
  val KCoreRounds = 6

  /** Unrolled DuckDB twin of the k-core peel loop: s0 → (e1,s1) → … */
  private def kcoreSql: String = {
    // MATERIALIZED: every e_i / s_i is referenced twice (census + next
    // round); inlined CTEs would re-evaluate the whole chain exponentially
    val rounds = (1 to KCoreRounds).map { i =>
      s"""e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN s${i - 1} a ON e.u = a.u
         |  JOIN s${i - 1} b ON e.v = b.u),
         |s$i AS MATERIALIZED (SELECT u FROM (
         |    SELECT u, count(*) AS deg FROM e$i GROUP BY u) dd
         |  CROSS JOIN kk WHERE deg >= k)""".stripMargin
    }.mkString(",\n")
    val census = (0 to KCoreRounds).map { i =>
      s"""SELECT $i AS round,
         |  CAST((SELECT count(*) FROM s$i) AS BIGINT) AS n_nodes,
         |  CAST((SELECT count(*) FROM e$i) AS BIGINT) AS n_edges,
         |  CAST((SELECT coalesce(sum(u), 0) FROM s$i) AS BIGINT) AS sum_nodes""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e0 AS MATERIALIZED (SELECT p*2 AS u, s*2+1 AS v FROM ps
       |       UNION ALL SELECT s*2+1 AS u, p*2 AS v FROM ps),
       |d0 AS (SELECT u, count(*) AS deg FROM e0 GROUP BY u),
       |h AS (SELECT deg, count(*) AS n FROM d0 GROUP BY deg),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h),
       |kk AS (SELECT min(deg) AS k FROM (
       |    SELECT deg, CAST(sum(n) OVER (ORDER BY deg) AS BIGINT) AS cum, total
       |    FROM h CROSS JOIN t) x WHERE cum * 2 >= total),
       |s0 AS MATERIALIZED (SELECT u FROM d0 CROSS JOIN kk WHERE deg >= k),
       |$rounds
       |$census
       |ORDER BY round""".stripMargin
  }

  /** Unrolled DuckDB twin of the BFS frontier loop: d0 → d1 → … → d4. */
  private def bfsSql: String = {
    val rounds = (1 to BfsRounds).map { i =>
      s"""d$i AS (SELECT u, min(d) AS d FROM (
         |  SELECT u, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.v AS u, d${i - 1}.d + 1 AS d
         |  FROM edges e JOIN d${i - 1} ON e.u = d${i - 1}.u) t GROUP BY u)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
       |  FROM lineitem),
       |edges AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
       |d0 AS (SELECT min(u) AS u, CAST(0 AS BIGINT) AS d
       |       FROM (SELECT u FROM edges) n),
       |$rounds
       |SELECT d AS dist, count(*) AS n_nodes
       |FROM d$BfsRounds GROUP BY d ORDER BY d""".stripMargin
  }

  /** Unrolled DuckDB twin: r0 → r1 → … → r`Iters`. */
  private def pagerankSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (SELECT d.u, (150000000000 // nn.n) + coalesce(s.c, 0) AS r
         |  FROM deg d CROSS JOIN nn
         |  LEFT JOIN (SELECT e.v AS u, sum((r${i - 1}.r * 85) // (100 * deg.deg)) AS c
         |             FROM edges e JOIN r${i - 1} ON e.u = r${i - 1}.u
         |             JOIN deg ON e.u = deg.u
         |             GROUP BY e.v) s ON d.u = s.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
       |  FROM lineitem),
       |edges AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
       |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT u, 1000000000000 // n AS r FROM deg, nn),
       |$rounds
       |SELECT u AS node_id, CAST(r AS BIGINT) AS rank_e12
       |FROM r$Iters ORDER BY rank_e12 DESC, node_id LIMIT 20""".stripMargin
  }

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q130_pagerank",
      s"All-integer PageRank ($Iters rounds, damping 0.85, mass 1e12 units) over the undirected part↔supplier co-occurrence graph from lineitem: each round is one rank⋈edges equi-join + one groupBy(dst) long-sum — O(E) shuffle of 8-byte values, the BSP shape that holds at any graph scale. Every contribution is a long floor-division, so ranks are exact integers: no float summation order to diverge between engines, partitionings or cluster sizes. Top-20 hubs with a total (rank, id) order.",
      pagerankSql) { (s, d) =>
      // the array-tier round groups by u and resolves v's contribution by
      // broadcast array index (≡ the oracle's groupBy(v)+lookup(u) on the
      // symmetric frame); the fallback's per-round rank⋈edges join on u
      // inherits the cache's partitioning, so only the O(V) rank frame moves
      val g = new PartSupplierGraph(s, d, graft.util.DriverTier.PageRankSlotBytes)
      import g.{degF, edges, maxId, nNodes}
      if (g.arrayTier) {
        // ZERO-EXCHANGE round (the q326 array tier generalized from labels
        // to rank mass): the O(V) per-node contribution vector rides a
        // Broadcast[Array[Long]] resolved by a codegen array index inside
        // the round's own aggregate — nothing O(E) crosses the wire after
        // the one-time repartition, and the O(V) collect per round is
        // exactly what the engine's own broadcast build would do, minus
        // the V-entry UnsafeRow hash relation. Arithmetic is the same
        // all-positive long floor-division chain, so ranks are
        // bit-identical to the join/aggregate fallback below.
        // (Primitive collects throughout — guide §5: the boxed Row path
        // transiently allocated ~10× the 16 payload bytes per node on the
        // driver, which at the 4M-node gate is hundreds of MB per round.)
        val deg = g.degrees()
        val base0 = 1000000000000L / nNodes
        val base = 150000000000L / nNodes
        var rank = Array.tabulate(maxId.toInt + 1)(i =>
          if (deg(i) > 0) base0 else 0L)
        for (_ <- 1 to Iters) {
          val contrib = new Array[Long](maxId.toInt + 1)
          var j = 0
          while (j <= maxId.toInt) {
            if (deg(j) > 0) contrib(j) = rank(j) * 85L / (100L * deg(j))
            j += 1
          }
          // every node of the symmetrized frame has an in-edge, so this
          // covers the full node set — the fallback's left join + coalesce
          // is defensive slack the construction makes unreachable. groupBy(u)
          // with the contribution looked up on v ≡ the oracle's groupBy(v)
          // with lookup(u): the symmetric frame makes the two row sets equal.
          val next = new Array[Long](maxId.toInt + 1)
          g.round(contrib)(at =>
            edges.groupBy(col("u")).agg(sum(at(col("v"))).as("c")))((v, c) =>
            next(v.toInt) = base + c)
          rank = next
        }
        val top = (0 to maxId.toInt).iterator
          .filter(deg(_) > 0)
          .map(i => (i.toLong, rank(i))).toArray
          .sortBy { case (u, r) => (-r, u) }
          .take(20)
        // the result is a driver-side literal — nothing below references
        // the caches, so reclaim them here (r19 verdict hygiene item)
        g.release()
        import s.implicits._
        top.toSeq.toDF("node_id", "rank_e12")
      } else {
        // past-gate fallback, CO-PARTITIONED (r20, guide §2.4/§3.1): the
        // per-round rank⋈edges join keys on u, which the cache is now
        // partitioned on — the O(E) edge side never re-exchanges, only the
        // O(V) rank frame moves, and the SHUFFLE_HASH hint builds the hash
        // table on that small side so the cached side is never sorted
        // either (r19 shape: v-partitioned cache ⇒ every round exchanged
        // AND sorted O(E) rows). The census groupBy then exchanges only
        // map-side-combined partial sums.
        collectReleasing(degF, edges) {
          val nn = degF.agg(count(lit(1)).as("n"))
          var r = degF.crossJoin(broadcast(nn))
            .selectExpr("u", "deg", "1000000000000 div n AS r")
          for (_ <- 1 to Iters) {
            val contrib = edges.join(r.hint("shuffle_hash"), "u")
              .selectExpr("v AS u", "(r * 85) div (100 * deg) AS c")
              .groupBy(col("u")).agg(sum(col("c")).as("c"))
            r = degF.crossJoin(broadcast(nn))
              .join(contrib.hint("shuffle_hash"), Seq("u"), "left")
              .selectExpr("u", "deg", "(150000000000 div n) + coalesce(c, 0) AS r")
          }
          r.orderBy(col("r").desc, col("u"))
            .limit(20)
            .select(col("u").as("node_id"), col("r").as("rank_e12"))
        }
      }
    },

    GraftQuery(
      "q176_bfs_distances",
      s"BFS shortest-path distances ($BfsRounds rounds) from the minimum-id node over the part↔supplier graph — the frontier formulation: each round unions the current label frame with neighbors-at-distance+1 and keeps min(d) per node, a map-side-combinable aggregate. One O(E) equi-join + one min-agg per round (the BSP shape), `localCheckpoint` truncating the lineage between rounds exactly like q83's components rounds; labels are longs, never paths. (A frontier-only variant with per-round anti-joins was measured ~25% SLOWER here: this graph is dense bipartite — the frontier IS the graph by round 2, so the anti-join/distinct shuffles buy nothing; keep frontier-only for high-diameter graphs, min-agg for dense ones.) Output: the distance histogram — reach of each BFS ring.",
      bfsSql) { (s, d) =>
      // under the gate each round is ONE zero-exchange aggregate over the
      // cache (groupBy(u) + lookup(v) ≡ groupBy(v) + lookup(u) on the
      // symmetric frame); past it, the union+min-agg BSP loop's frontier
      // join keys on u and inherits the cached partitioning — only the O(V)
      // distance frame moves per round
      val g = new PartSupplierGraph(s, d, graft.util.DriverTier.BfsSlotBytes)
      import g.{degF, edges, maxId}
      if (g.arrayTier) {
        // dist'(v) = min(dist(v), 1 + min over in-neighbors u of dist(u)) —
        // identical to the fallback's union+min-agg round because the
        // unreached sentinel is larger than any reachable distance, so it
        // never wins a min against a real frontier value
        val Inf = Long.MaxValue / 4
        val deg = g.degrees()
        var dist = Array.tabulate(maxId.toInt + 1)(i =>
          if (deg(i) > 0) Inf else 0L)
        // seed = min node id (first assigned slot of the dense domain)
        dist((0 to maxId.toInt).find(deg(_) > 0).get) = 0L
        for (_ <- 1 to BfsRounds) {
          // groupBy(u) + lookup(v) ≡ groupBy(v) + lookup(u): symmetric frame
          val next = dist.clone()
          g.round(dist)(at =>
            edges.groupBy(col("u")).agg(min(at(col("v"))).as("md")))((v, md) => {
            val cand = md + 1
            if (cand < next(v.toInt)) next(v.toInt) = cand
          })
          dist = next
        }
        val hist = (0 to maxId.toInt).iterator
          .filter(i => deg(i) > 0 && dist(i) < Inf)
          .map(dist(_)).toSeq
          .groupBy(identity).toSeq
          .map { case (dd, vs) => (dd, vs.size.toLong) }
          .sortBy(_._1)
        // driver-side literal result: reclaim the caches here
        g.release()
        import s.implicits._
        hist.toDF("dist", "n_nodes").orderBy(col("dist"))
      } else {
        // seed = min node id, kept as a 1-row FRAME (no driver round trip);
        // the persisted degree frame IS the distinct node set (r20 — the
        // distinct() here was a second O(E) pass over the edge cache)
        var dist = degF.agg(min(col("u")).as("u")).select(col("u"), lit(0L).as("d"))
        for (_ <- 1 to BfsRounds) {
          // frontier join keys on u = the cache's partitioning (r20): the
          // O(E) side never re-exchanges, the O(V) frontier ships to it and
          // builds the hash side (shuffle_hash: no sort of the cached side)
          val hop = edges.join(dist.withColumnRenamed("u", "fu")
                .hint("shuffle_hash"),
              col("u") === col("fu"))
            .select(col("v").as("u"), (col("d") + 1).as("d"))
          // eager localCheckpoint per round: keeps the lineage (and codegen
          // stack depth) constant however many rounds run
          dist = dist.unionAll(hop)
            .groupBy(col("u")).agg(min(col("d")).as("d"))
            .localCheckpoint()
        }
        // the final frame is checkpointed — its lineage no longer touches
        // the caches, so reclaim them here
        g.release()
        dist.groupBy(col("d").as("dist"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("dist"))
      }
    },

    GraftQuery(
      "q180_hierarchy_rollup",
      "Recursive hierarchy flattening + subtree rollup — the WITH RECURSIVE query warehouses run over org charts and product taxonomies: customers form a decimal forest (parent = custkey div 10, roots = single-digit keys), root labels propagate down FRONTIER-ONLY (each node's parent sits exactly one level up, so every node is labeled exactly once — no distinct, no re-joining settled nodes), and order revenue rolls up per subtree. Round count = digits(max key) − 1, read once from an aggregate (~10 rounds at ANY scale — depth grows logarithmically); one equi-join per round, localCheckpoint between rounds. The oracle is genuinely recursive (DuckDB WITH RECURSIVE).",
      """WITH RECURSIVE r AS (
        |  SELECT c_custkey AS k, c_custkey AS root FROM customer
        |  WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, r.root FROM customer c
        |  JOIN r ON c.c_custkey // 10 = r.k
        |  WHERE c.c_custkey >= 10),
        |rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT r.root, count(*) AS n_nodes,
        |  CAST(coalesce(sum(rev.cents), 0) AS BIGINT) AS subtree_cents
        |FROM r LEFT JOIN rev ON r.k = rev.o_custkey
        |GROUP BY r.root ORDER BY r.root""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_custkey").as("k"))
      // one driver scalar fixes the round count (= tree depth): O(log10 N)
      val rounds = c.agg(max(col("k"))).head().getLong(0).toString.length - 1
      var frontier = c.filter(col("k") < 10).select(col("k"), col("k").as("root"))
      var labels = frontier
      for (_ <- 1 to rounds) {
        frontier = c.filter(col("k") >= 10)
          .join(frontier.select(col("k").as("pk"), col("root")),
            expr("k div 10") === col("pk"))
          .select(col("k"), col("root"))
          .localCheckpoint()
        labels = labels.unionAll(frontier).localCheckpoint()
      }
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("cents"))
      labels.join(rev, col("k") === col("o_custkey"), "left")
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(col("cents")), lit(0L)).as("subtree_cents"))
        .orderBy(col("root"))
    },

    GraftQuery(
      "q208_triangle_count",
      "Strong-tie triangle census over the supplier co-purchase graph: a bipartite projection is quadratically DENSE (here every supplier pair shares >= 4 parts — the full projection is the complete graph, 166M triangles, measured 24s of pure wedge-join), so the load-bearing scale move is a DATA-DRIVEN support threshold first: keep only ties whose shared-part count reaches the 95th-percentile support, found by cumulative-count selection over the support HISTOGRAM (bounded domain — the engine's q51 quantile doctrine, no edge sort), then census triangles among the strong ties. Edges stay oriented low-id -> high-id so each triangle materializes exactly once as an a<b<c wedge-close; per-supplier participation via one explode of the 3 members. Same answer at any cluster size: the threshold is an exact order statistic, not a sample.",
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |sup AS (SELECT a.s AS u, b.s AS v, count(*) AS c
        |        FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
        |        GROUP BY a.s, b.s),
        |h AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM sup GROUP BY c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h),
        |thr AS (SELECT max(c) AS s95 FROM (
        |          SELECT c, CAST(sum(n) OVER (ORDER BY c DESC) AS BIGINT) AS cum,
        |                 total
        |          FROM h CROSS JOIN t) x
        |        WHERE cum >= (total * 5 + 99) // 100),
        |e AS (SELECT u, v FROM sup CROSS JOIN thr WHERE c >= s95),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |m AS (SELECT a AS s FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT s AS suppkey, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM m GROUP BY s ORDER BY n_triangles DESC, suppkey LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // persisted across the sizing pre-pass AND the wedge join below;
      // the harness's inter-query cache sweep reclaims it (q261 contract)
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .distinct().persist()
      // r17 (the r16 verdict's q208 variance item): the pair-census
      // partial-aggregate hash tables live in the JOIN's tasks, whose
      // count AQE derives from the (small) ps exchange — at sf10 that
      // left each task holding multi-million-entry (u,v)→count maps
      // (GC-bound, the measured 28% spread). Size the join's task count
      // from the EXACT pair cardinality instead: Σ_p deg(p)·(deg(p)−1)/2
      // is one cheap aggregate over the cached ps (a plan-time sizing
      // job, the Lpa-count precedent), and the p-exchange width then
      // bounds every task's census slice at ~TargetRowsPerTask.
      val pairN = ps.groupBy(col("p")).agg(count(lit(1)).as("dg"))
        .agg(coalesce(sum(col("dg") * (col("dg") - 1)), lit(0L)).as("dd"))
        .selectExpr("dd div 2").head().getLong(0)
      val nP = graft.util.Sizing.exchangePartitions(s, pairN)
      val psW = ps.repartition(nP, col("p"))
      // ps is distinct, so the pair count IS the number of shared parts
      val sup = graft.util.CacheOnce.persistForOneAction(
        psW.as("a").join(psW.as("b"),
            col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
          .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
          .agg(count(lit(1)).as("c")))
      // 95th-percentile support by cumulative selection over the support
      // histogram — |distinct supports| rows, a bounded domain, so the
      // global window is over a frame that never grows with the graph
      val h = sup.groupBy(col("c")).agg(count(lit(1)).as("n"))
      val t = h.agg(sum(col("n")).as("total"))
      val wTop = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val thr = h.crossJoin(broadcast(t))
        .withColumn("cum", sum(col("n")).over(wTop))
        .filter(col("cum") >= expr("(total * 5 + 99) div 100"))
        .agg(max(col("c")).as("s95"))
      // strong ties only — the dense projection is never materialized as
      // a triangle input
      val e = graft.util.CacheOnce.persistForOneAction(
        sup.crossJoin(broadcast(thr))
          .filter(col("c") >= col("s95"))
          .select(col("u"), col("v")))
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.v") === col("e2.u"))
        .join(e.as("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("suppkey"))
        .groupBy(col("suppkey"))
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("suppkey"))
        .limit(20)
    },

    GraftQuery(
      "q226_recursive_cte",
      "NATIVE WITH RECURSIVE through spark.sql — Spark 4's UnionLoop recursion (q180 hand-rolls the same shape as an iterative driver loop; this is the engine doing it): every order key walks its ancestor chain k -> k div 10 down to the single-digit root, then a census per recursion depth. The frontier is re-planned per iteration like any self-referencing CTE; depth = digits(max key), so rounds grow logarithmically with scale and each round is one narrow projection + filter over the previous frontier — no join at all in this recursion.",
      """WITH RECURSIVE chain AS (
        |  SELECT o_orderkey AS k, o_orderkey AS cur, 0 AS depth FROM orders
        |  UNION ALL
        |  SELECT k, cur // 10, depth + 1 FROM chain WHERE cur >= 10)
        |SELECT depth, count(*) AS n_nodes,
        |  CAST(sum(cur) AS BIGINT) AS sum_keys,
        |  CAST(count(DISTINCT cur) AS BIGINT) AS n_distinct
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      orders.createOrReplaceTempView("orders_rcte")
      // Spark's recursion row-limit governor (default 1e6) exists to catch
      // unbounded recursion; THIS recursion is provably bounded at
      // |orders| x digits(max key) <= |orders| x 20, so size the governor to
      // that bound instead of failing at 10x data (caught by the sf1 run:
      // 1.5M orders x 7 digits = 10.5M chain rows > 1e6). The bound comes
      // from parquet FOOTER metadata (r10 ADVICE: the previous orders.count()
      // ran a full scan job every time the query was merely CONSTRUCTED —
      // PlanDump/PlanSpec/bench registration), memoized per corpus snapshot.
      s.conf.set("spark.sql.cteRecursionRowLimit",
        math.max(1000000L, graft.util.Sizing.parquetRowCount(d, "orders") * 20L).toString)
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT o_orderkey AS k, o_orderkey AS cur, 0 AS depth FROM orders_rcte
          |  UNION ALL
          |  SELECT k, cur div 10, depth + 1 FROM chain WHERE cur >= 10)
          |SELECT depth, count(*) AS n_nodes,
          |  sum(cur) AS sum_keys,
          |  count(DISTINCT cur) AS n_distinct
          |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    },

    GraftQuery(
      "q310_kcore_peeling",
      s"k-core decomposition by iterative peeling ($KCoreRounds fixed BSP rounds) over the part↔supplier co-occurrence graph — the dense-subgraph extractor pipelines run to isolate the mutually-reinforcing cluster (spam/bot rings, template farms) that degree alone can't find: k is DATA-DRIVEN (the lower-median degree, by cumulative selection over the bounded degree histogram — q208's threshold doctrine, so the cut adapts to any SF), each round keeps only edges whose BOTH endpoints still meet deg >= k and re-derives survivor degrees — two O(E) semi-join-shaped equi-joins + one count aggregate per round, localCheckpoint truncating lineage exactly like q176. The fixed round count makes engine and oracle bit-identical whether or not the fixpoint has been reached (production loops until a 1-row delta count hits zero); the census emits each round's surviving nodes/directed edges plus an id checksum, so a single wrongly-peeled node fails the gate.",
      kcoreSql) { (s, d) =>
      // peeling is MONOTONE, so round i's edge frame is the ORIGINAL frame
      // filtered by the current survivor set — under the gate each round is
      // one zero-exchange filter+aggregate over the cache with the survivor
      // set broadcast as a primitive array; the fallback's first per-round
      // semi-join keys on u and inherits the cache too (see the
      // alternating-key loop below)
      val g = new PartSupplierGraph(s, d, graft.util.DriverTier.KCoreSlotBytes)
      import g.{degF, edges, maxId, nNodes}
      if (g.arrayTier) {
        import s.implicits._
        val deg0 = g.degrees()
        // lower-median k by the same cumulative selection over the degree
        // histogram, in exact integers (the frame below replicates it 1:1)
        val histo = scala.collection.immutable.SortedMap.empty[Long, Long] ++
          deg0.iterator.filter(_ > 0).toSeq.groupBy(identity)
            .map { case (dg, xs) => dg -> xs.size.toLong }
        var cum = 0L
        var k = -1L
        histo.foreach { case (dg, n) =>
          cum += n; if (k < 0 && cum * 2 >= nNodes) k = dg
        }
        // survivor census over a degree array: (n_nodes, n_edges, sum_ids)
        def censusOf(dg: Array[Long]): (Long, Long, Long) = {
          var n = 0L; var e = 0L; var su = 0L; var i = 0
          while (i < dg.length) {
            if (dg(i) >= k) { n += 1; su += i }
            e += dg(i) // Σ deg == directed edge count of the CURRENT frame
            i += 1
          }
          (n, e, su)
        }
        val (n0, e0, s0) = censusOf(deg0)
        val rows = scala.collection.mutable.ArrayBuffer((0, n0, e0, s0))
        var surv = deg0.map(dg => if (dg >= k) 1L else 0L)
        var converged = false
        for (i <- 1 to KCoreRounds) {
          if (converged) rows += rows.last.copy(_1 = i)
          else {
            // groupBy(u) over the u-partitioned cache (the filter condition
            // is symmetric, so the filtered frame stays symmetric and the
            // u-census equals the v-census); primitive collect per §5
            val degI = new Array[Long](maxId.toInt + 1)
            g.round(surv)(at =>
              edges.filter(at(col("u")) === 1L && at(col("v")) === 1L)
                .groupBy(col("u")).agg(count(lit(1)).as("deg")))((u, dg) =>
              degI(u.toInt) = dg)
            val r = censusOf(degI)
            surv = degI.map(dg => if (dg >= k) 1L else 0L)
            converged =
              (r._1, r._2, r._3) == (rows.last._2, rows.last._3, rows.last._4)
            rows += ((i, r._1, r._2, r._3))
          }
        }
        // driver-side literal result: reclaim the caches here
        g.release()
        rows.toSeq.toDF("round", "n_nodes", "n_edges", "sum_nodes")
          .orderBy(col("round"))
      } else {
      // past-gate fallback, ALTERNATING-KEY co-partition (r20, §2.4): the
      // frame enters u-partitioned from the cache; each round's FIRST
      // semi-join keys on the frame's current partitioning (exchange-free,
      // survivor set ships as the SHUFFLE_HASH build side), the SECOND pays
      // the round's single O(E) exchange and leaves the frame partitioned
      // on the OTHER key — which the survivor-degree census (groupBy over a
      // symmetric frame: u-census ≡ v-census) and the next round's first
      // join then inherit. r19 shape: TWO O(E) exchanges per round plus a
      // partial-map census exchange. Rounds persist() instead of
      // localCheckpoint (a checkpointed frame loses its outputPartitioning
      // — the Lpa finding); the census materializes each round eagerly and
      // the previous round's cache is dropped right after.
      var e: org.apache.spark.sql.DataFrame = edges
      var eOnU = true // which key the frame is currently partitioned on
      var owned: Option[org.apache.spark.sql.DataFrame] = None
      val d0 = degF.select(col("u"), col("deg"))
      // lower-median degree by cumulative selection over the degree
      // histogram — a bounded-domain frame, never a node sort
      val h = d0.groupBy(col("deg")).agg(count(lit(1)).as("n"))
      val t = h.agg(sum(col("n")).as("total"))
      val wUp = org.apache.spark.sql.expressions.Window.orderBy(col("deg"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // 1-row frame, checkpointed: every round's survivor rebuild embeds it
      // under a broadcast, which would otherwise re-run the histogram
      // selection against the degree cache once per round
      val kk = h.crossJoin(broadcast(t))
        .withColumn("cum", sum(col("n")).over(wUp))
        .filter(col("cum") * 2 >= col("total"))
        .agg(min(col("deg")).as("k"))
        .localCheckpoint()
      var surv = d0.crossJoin(broadcast(kk))
        .filter(col("deg") >= col("k")).select(col("u"))
        .localCheckpoint()
      // per-round census collected EAGERLY (1 small row — the same
      // aggregates the lazy form would run at the end), because it doubles
      // as the CONVERGENCE test: the peel usually reaches its fixpoint in
      // 2-3 rounds, after which re-joining the unchanged edge frame for the
      // remaining fixed rounds is pure waste — the sf10 decade measured
      // the always-6-rounds form at 27x per 10x data, dominated by
      // post-fixpoint full-edge joins and checkpoints. Once a round's
      // census equals its predecessor's the frames are at fixpoint (peeling
      // is monotone), so later rounds are verbatim copies — emitted as
      // literal rows, bit-identical to the oracle's unrolled chain.
      def censusOf(round: Int, sv: org.apache.spark.sql.DataFrame,
                   eg: org.apache.spark.sql.DataFrame): (Int, Long, Long, Long) = {
        val sr = sv.agg(count(lit(1)), coalesce(sum(col("u")), lit(0L))).head()
        val er = eg.agg(count(lit(1))).head()
        (round, sr.getLong(0), er.getLong(0), sr.getLong(1))
      }
      val rows = scala.collection.mutable.ArrayBuffer(censusOf(0, surv, e))
      var converged = false
      for (i <- 1 to KCoreRounds) {
        if (converged) rows += rows.last.copy(_1 = i)
        else {
          val sa = surv.select(col("u").as("au")).hint("shuffle_hash")
          val sb = surv.select(col("u").as("bu")).hint("shuffle_hash")
          val filtered =
            if (eOnU)
              e.join(sa, col("u") === col("au"))
                .join(sb, col("v") === col("bu"))
            else
              e.join(sb, col("v") === col("bu"))
                .join(sa, col("u") === col("au"))
          val eNew = filtered.select(col("u"), col("v")).persist()
          // the edge census FIRST: it materializes (and finalizes) the
          // cache, so the survivor census planned right after it SEES the
          // cached partitioning (a cold AQE-wrapped cache reports unknown
          // partitioning and the groupBy would re-exchange)
          val er = eNew.agg(count(lit(1))).head().getLong(0)
          eOnU = !eOnU // the second join's key is the frame's new layout
          val gk = if (eOnU) "u" else "v"
          surv = eNew.groupBy(col(gk)).agg(count(lit(1)).as("deg"))
            .crossJoin(broadcast(kk))
            .filter(col("deg") >= col("k")).select(col(gk).as("u"))
            .localCheckpoint()
          val sr = surv.agg(count(lit(1)), coalesce(sum(col("u")), lit(0L))).head()
          val r = (i, sr.getLong(0), er, sr.getLong(1))
          owned.foreach(_.unpersist(false))
          owned = Some(eNew)
          e = eNew
          converged = (r._2, r._3, r._4) == (rows.last._2, rows.last._3, rows.last._4)
          rows += r
        }
      }
      // the census rows are plain driver tuples — nothing below references
      // the round caches, so reclaim them here instead of leaking them to
      // the harness sweep (r19 verdict hygiene item)
      owned.foreach(_.unpersist(false))
      g.release()
      import s.implicits._
      rows.toSeq.toDF("round", "n_nodes", "n_edges", "sum_nodes")
        .orderBy(col("round"))
      }
    },

    GraftQuery(
      "q326_label_propagation",
      s"Label-propagation community detection ($LpaRounds fixed synchronous BSP rounds) over the part↔supplier co-occurrence graph — the near-linear community finder (Raghavan et al.) pipelines run where modularity solvers don't scale: every node starts as its own label and each round adopts the MOST FREQUENT label among its neighbors, ties broken by smallest label — the (count DESC, label ASC) order is total, so the update is bit-identical across engines and partitionings (async/random-order LPA is not reproducible; the synchronous total-order form is; the oracle states it as a row_number over each node's neighbor-label census). Per round the engine pays ZERO exchanges under the driver-tier gate (graft.util.DriverTier — at the default budget, node ids < 2.67M): the O(V) assignment BROADCASTS as a primitive array indexed by node id, and groupBy(node) over edges persisted hash-partitioned on the adopting node resolves each neighbor's label by array index into the native LabelModeAgg (exact degree-bounded label→count map, map-side-merged; q212's bounded-aggregate doctrine — the census+argmax two-shuffle forms this replaces are pinned bit-identical in KernelSpec) partial+final in the SAME stage — nothing O(E) crosses the wire after the one-time repartition; past the gate it degrades to the one-exchange-per-round shuffle form (v-partitioned edges, label frame moves, census exchange on node). localCheckpoint truncates each round's O(V) lineage, short-circuit once the full-assignment xor fingerprint repeats (a true fixpoint: the update is a deterministic function of the assignment). The per-round census (distinct labels, assignment checksum, largest community) makes a single wrongly-adopted label fail the gate — and on this BIPARTITE graph it records synchronous LPA's known two-coloring oscillation, which the q333 modularity eval quantifies at Q = −0.5 (see there; the pair demonstrates detection, and that production projects to one mode first).",
      lpaSql) { (s, d) =>
      val ps = Tables.lineitem(s, d)
        .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      val lpa = new Lpa(ps)
      var lab = lpa.lab0
      // one groupBy(lab) frame yields the whole census: group count =
      // n_labels, max group size = largest community, the assignment
      // checksum sum-over-nodes(lab) = sum-over-labels(lab·size) — plus an
      // ORDER-INVARIANT 64-bit fingerprint of the full (node, label)
      // assignment (bit_xor of xxhash64 pairs, xor-of-group-xors), which
      // gates the short-circuit: the 3-value census is a lossy summary two
      // DIFFERENT assignments can collide on, and replaying fabricated
      // rows off a collision would diverge silently on un-gated stages
      def censusOf(round: Int, lf: org.apache.spark.sql.DataFrame)
          : (Int, Long, Long, Long, Long) = {
        val r = lf.groupBy(col("lab")).agg(count(lit(1)).as("c"),
            expr("bit_xor(xxhash64(node, lab))").as("x"))
          .agg(count(lit(1)), coalesce(sum(col("lab") * col("c")), lit(0L)),
            coalesce(max(col("c")), lit(0L)),
            coalesce(expr("bit_xor(x)"), lit(0L))).head()
        (round, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val outRows = if (lpa.arrayTier) {
        // array tier (r20): rounds run assignment-array → assignment-array
        // (ONE job each), censuses computed driver-side from the same
        // array, fixpoint by exact array equality. Round 0 is the identity
        // assignment, whose census is (nodeCount, Σ node ids, 1) — already
        // known from the gate aggregate, no job at all.
        val rows = scala.collection.mutable.ArrayBuffer(
          (0, lpa.nodeCount, lpa.nodeIdSum,
            if (lpa.nodeCount == 0L) 0L else 1L))
        var arr: Array[Long] = null
        var converged = false
        for (i <- 1 to LpaRounds) {
          if (converged) rows += rows.last.copy(_1 = i)
          else {
            val next =
              if (i == 1) lpa.roundIdentityArray else lpa.roundArray(arr)
            // exact fixpoint: round 1 compares against the identity
            // assignment (next(n) == n on every assigned slot), later
            // rounds against the previous array
            converged =
              if (i == 1) {
                var same = true
                var n = 0
                while (same && n < next.length) {
                  if (next(n) != -1L && next(n) != n.toLong) same = false
                  n += 1
                }
                same
              } else java.util.Arrays.equals(next, arr)
            arr = next
            val c = censusOfArray(arr)
            rows += ((i, c._1, c._2, c._3))
          }
        }
        rows.toSeq
      } else {
        val rows = scala.collection.mutable.ArrayBuffer(censusOf(0, lab))
        var converged = false
        for (i <- 1 to LpaRounds) {
          if (converged) rows += rows.last.copy(_1 = i)
          else {
            // round 1 runs from the identity assignment — the min-neighbor
            // degenerate form is bit-identical (see Lpa.roundIdentity)
            lab = if (i == 1) lpa.roundIdentity else lpa.round(lab)
            val r = censusOf(i, lab)
            // identical full-assignment fingerprint across consecutive rounds
            // is a true fixpoint (the synchronous update is a deterministic
            // function of the assignment), so further rounds replay it
            converged =
              (r._2, r._3, r._4, r._5) == (rows.last._2, rows.last._3, rows.last._4, rows.last._5)
            rows += r
          }
        }
        rows.toSeq.map(t => (t._1, t._2, t._3, t._4))
      }
      // the census rows are plain driver tuples — nothing below references
      // the edge cache, so reclaim it here instead of leaking it to the
      // harness sweep (the q310 hygiene precedent)
      lpa.e.unpersist(false)
      import s.implicits._
      outRows
        .toDF("round", "n_labels", "sum_labels", "max_comm")
        .orderBy(col("round"))
    },

    GraftQuery(
      "q333_lpa_modularity",
      s"Newman modularity of the q326 label-propagation partition — the metric that says whether the communities MEAN anything (Q compares internal-edge mass to the degree-preserving random expectation), in EXACT integer arithmetic: Q = (2m·Σᵢc − Σ d_c²) / (4m²) where Σᵢc counts DIRECTED same-label edge endpoints (so the ÷2 for undirected internal edges cancels against 2m — no halving anywhere) and d_c is each community's degree mass; the single floor-division happens once, offset positive first because Q can be negative and Spark's `div` truncates toward zero while DuckDB's `//` floors — they agree only on non-negatives (Q ≥ −1 bounds the shift). On THIS graph the metric reads exactly −0.5, the floor of Q's range — the textbook signature of synchronous LPA's bipartite two-coloring oscillation (labels ping-pong between the part and supplier sides, so internal-edge mass is ZERO): catching that pathology is precisely why a structure finder ships with its measured quality number (q266's recall-eval doctrine applied to communities — a pipeline gates on Q and learns it must PROJECT a bipartite graph to one mode, q208's wedge tier, before community detection). Cost beyond the $LpaRounds LPA rounds: one O(E) two-sided label join + two census aggregates.",
      lpaModularitySql) { (s, d) =>
      val lpa = lpaGraph(s, d)
      collectReleasing(lpa.e)(lpaModularity(lpa))
    },

    GraftQuery(
      "q335_projected_community_quality",
      s"The REMEDIATION of the q326/q333 finding, end to end — one-mode projection, then LPA, then modularity, in one query: the bipartite part↔supplier graph projects to part–part CO-PURCHASE edges (distinct within-order pairs — per-basket pairing, so the projection is quadratic only in basket width ≤ 7, exactly q321's bounded shape, never in a supplier's degree), the same $LpaRounds synchronous LPA rounds run on the projected graph, and the same exact-integer Q ships alongside the node/community census. The three-query arc is the operating doctrine for community detection at 100 TB: q326 finds structure, q333's Q = −0.5 says the structure is a bipartite artifact, THIS query projects to one mode and re-measures — Q flips sign (the synthetic co-purchases carry little genuine community structure and the metric reports exactly that, which is the honest result a curation pipeline must see). Projection cost: one (order, part) distinct + one within-order self-join bounded by basket width; everything after is the q326/q333 machinery unchanged.",
      projectedLpaSql) { (s, d) =>
      // input-scaled exchange widths (r15 verdict item 1): the projection's
      // ~300M-pair dedup through 32 session-fixed partitions built 9M-row
      // hash tables per task. One cheap count sizes every fat exchange:
      // the (o,p) frame hashes on o alone (satisfies BOTH the distinct's
      // (o,p) clustering and the self-join's o clustering — zero further
      // exchanges until the pair dedup), and the pair dedup repartitions
      // to ~2M-row tasks before distinct (the exchange it needs anyway,
      // now corpus-sized).
      val liN = graft.util.Sizing.parquetRowCount(d, "lineitem")
      val nAgg = graft.util.Sizing.exchangePartitions(s, liN)
      // basket width ≤ 7 ⇒ at most 3 (u<v) pairs per lineitem row
      val nDedup = graft.util.Sizing.exchangePartitions(s, 3L * liN)
      // r17: the o-partitioned SELF-JOIN is gone — one collect_set
      // aggregate per order (bounded at basket width ≤ 7, so the set is a
      // tiny in-row array, never a skew hazard) and a generator emit the
      // sorted u<v pairs DIRECTLY: the join's w² intermediate (both
      // orders + the diagonal, filtered afterwards) is never materialized
      // and the hash-table build/probe over the 60M-row frame disappears;
      // the one O(input) exchange (on o) and the pair-level dedup
      // exchange remain — both corpus-sized via Sizing. Duplicate (o,p)
      // rows collapse inside collect_set, so the pair-level distinct sees
      // the same edge set as the oracle's DISTINCT-op CTE.
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"),
          col("l_partkey").cast("long").as("p"))
        .repartition(nAgg, col("o"))
        .groupBy(col("o")).agg(array_sort(collect_set(col("p"))).as("ps"))
      val und = baskets
        .select(explode(when(size(col("ps")) < 2,
            array().cast("array<struct<u:long,v:long>>"))
          .otherwise(flatten(transform(
            sequence(lit(0), size(col("ps")) - 2), i =>
              transform(
                slice(col("ps"), i + 2, size(col("ps")) - i - 1),
                x => struct(element_at(col("ps"), i + 1).as("u"),
                  x.as("v"))))))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .repartition(nDedup, col("u"), col("v")).distinct()
      val lpa = new Lpa(und)
      collectReleasing(lpa.e)(if (lpa.arrayTier) {
        // the final-assignment census (n_nodes, max community size) falls
        // out of the same driver array the rounds already produced — the
        // two distributed aggregates (and their jobs) disappear
        val arr = lpa.labelsArray
        val (_, _, maxComm) = censusOfArray(arr)
        modularityFrom(lpa, lpa.perNodeDegSameArr(arr))
          .select(lit(lpa.nodeCount).as("n_nodes"), col("m"),
            col("n_communities"), lit(maxComm).as("max_comm"), col("q_ppm"))
      } else {
        val lab = lpa.labels
        val nn = lab.agg(count(lit(1)).as("n_nodes"))
        val mx = lab.groupBy(col("lab")).agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("max_comm"))
        modularityFrom(lpa, lpa.perNodeDegSame(lab))
          .crossJoin(broadcast(nn)).crossJoin(broadcast(mx))
          .select(col("n_nodes"), col("m"), col("n_communities"),
            col("max_comm"), col("q_ppm"))
      })
    },

    GraftQuery(
      "q334_degree_assortativity",
      "Degree assortativity — the one-number graph fingerprint (positive: hubs prefer hubs, social-graph-like; negative: hubs fan out to leaves, hub-and-spoke/bipartite-like — THE structural prior for partitioning and caching strategy at 100 TB): Pearson correlation of endpoint degrees over the DIRECTED edge list, which is symmetric by construction (every edge appears both ways, so Sx=Sy, Sxx=Syy) — the usual sqrt(VarX)·sqrt(VarY) denominator collapses to one integer (n·Sxx − Sx²) and r is EXACTLY rational: r_ppm = ⌊10⁶·(n·Sxy − Sx²)/(n·Sxx − Sx²)⌋ on the DECIMAL(38,0)/HUGEINT lane (q52's moment-sum doctrine on a graph), offset positive before the floor-division because r is negative exactly when the graph is hub-and-spoke — which this part↔supplier graph is. Cost: one degree census + one O(E) two-sided degree join + one aggregate; no float ever crosses a row boundary.",
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS MATERIALIZED (SELECT p*2 AS u, s*2+1 AS v FROM ps
        |      UNION ALL SELECT s*2+1 AS u, p*2 AS v FROM ps),
        |deg AS (SELECT u, CAST(count(*) AS HUGEINT) AS dg FROM e GROUP BY u),
        |x AS (SELECT a.dg AS du, b.dg AS dv FROM e
        |      JOIN deg a ON e.u = a.u JOIN deg b ON e.v = b.u),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(du) AS HUGEINT) AS sx,
        |    CAST(sum(du * du) AS HUGEINT) AS sxx,
        |    CAST(sum(du * dv) AS HUGEINT) AS sxy FROM x)
        |SELECT CAST(n AS BIGINT) AS n_directed_edges,
        |  CAST((1000000 * (n * sxy - sx * sx)
        |        + 1000000 * (n * sxx - sx * sx))
        |      // (n * sxx - sx * sx) - 1000000 AS BIGINT) AS r_ppm
        |FROM g""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val ps = Tables.lineitem(s, d)
        .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      val e = ps.unionAll(ps.select(col("v").as("u"), col("u").as("v")))
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      val x = e
        .join(deg.select(col("u").as("au"), col("dg").as("du")),
          col("u") === col("au"))
        .join(deg.select(col("u").as("bu"), col("dg").as("dv")),
          col("v") === col("bu"))
        .select(col("du").cast(dec).as("du"), col("dv").cast(dec).as("dv"))
      x.agg(count(lit(1)).cast(dec).as("n"),
          sum(col("du")).cast(dec).as("sx"),
          sum(col("du") * col("du")).cast(dec).as("sxx"),
          sum(col("du") * col("dv")).cast(dec).as("sxy"))
        .selectExpr("CAST(n AS BIGINT) AS n_directed_edges",
          """CAST((1000000 * (n * sxy - sx * sx)
            |      + 1000000 * (n * sxx - sx * sx))
            |    div (n * sxx - sx * sx) - 1000000 AS BIGINT) AS r_ppm"""
            .stripMargin)
    }
  )

  /** Fixed synchronous LPA round count — shared by the Spark loop and the
    * unrolled oracle chain. */
  val LpaRounds = 3

  /** Unrolled label rounds l0 → l$LpaRounds over an already-defined edge CTE
    * `e` (MATERIALIZED — each l_i feeds census AND the next round; inlined
    * CTEs would re-evaluate the chain exponentially). */
  private def lpaRoundsSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node, lab FROM (
         |    SELECT u AS node, lab,
         |      row_number() OVER (PARTITION BY u ORDER BY cnt DESC, lab) AS rn
         |    FROM (SELECT e.u, l.lab, count(*) AS cnt
         |          FROM e JOIN l${i - 1} l ON e.v = l.node
         |          GROUP BY e.u, l.lab) c) r
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM e),
       |$rounds""".stripMargin
  }

  /** The part↔supplier bipartite co-occurrence edges, directed both ways. */
  private val bipartiteEdgesSql =
    """ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |e AS MATERIALIZED (SELECT p*2 AS u, s*2+1 AS v FROM ps
      |      UNION ALL SELECT s*2+1 AS u, p*2 AS v FROM ps)""".stripMargin

  /** Shared WITH-chain prefix of the bipartite LPA oracles. */
  private def lpaChainSql: String = s"$bipartiteEdgesSql,\n$lpaRoundsSql"

  /** Modularity CTEs over `e` + the final label round (shared q333/q335). */
  private def modularityCtesSql: String =
    s"""mm AS (SELECT CAST(count(*) // 2 AS HUGEINT) AS m FROM e),
       |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
       |sic AS (SELECT CAST(count(*) AS HUGEINT) AS sic FROM e
       |        JOIN l$LpaRounds a ON e.u = a.node
       |        JOIN l$LpaRounds b ON e.v = b.node AND a.lab = b.lab),
       |dc AS (SELECT lab, CAST(sum(dg) AS HUGEINT) AS dsum
       |       FROM l$LpaRounds l JOIN deg ON l.node = deg.u GROUP BY lab),
       |g AS (SELECT count(*) AS n_communities,
       |      CAST(sum(dsum * dsum) AS HUGEINT) AS sd2 FROM dc)""".stripMargin

  private val qPpmSql =
    """CAST((1000000 * (2 * m * sic - sd2) + 1000000 * (4 * m * m))
      |    // (4 * m * m) - 1000000 AS BIGINT) AS q_ppm""".stripMargin

  /** Unrolled DuckDB twin of the label-propagation loop + per-round census. */
  private def lpaSql: String = {
    val census = (0 to LpaRounds).map { i =>
      s"""SELECT $i AS round,
         |  CAST((SELECT count(DISTINCT lab) FROM l$i) AS BIGINT) AS n_labels,
         |  CAST((SELECT coalesce(sum(lab), 0) FROM l$i) AS BIGINT) AS sum_labels,
         |  CAST((SELECT coalesce(max(c), 0) FROM (
         |      SELECT count(*) AS c FROM l$i GROUP BY lab) g) AS BIGINT) AS max_comm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $lpaChainSql
       |$census
       |ORDER BY round""".stripMargin
  }

  /** Modularity of the final LPA round's partition (q333's oracle). */
  private def lpaModularitySql: String =
    s"""WITH $lpaChainSql,
       |$modularityCtesSql
       |SELECT n_communities, CAST(m AS BIGINT) AS m,
       |  $qPpmSql
       |FROM g CROSS JOIN mm CROSS JOIN sic""".stripMargin

  /** One-mode projection + LPA + modularity (q335's oracle): part–part
    * co-purchase edges from within-order pairs, then the same chain. */
  private def projectedLpaSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |und AS (SELECT DISTINCT a.p AS u, b.p AS v
       |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |e AS MATERIALIZED (SELECT u, v FROM und
       |      UNION ALL SELECT v AS u, u AS v FROM und),
       |$lpaRoundsSql,
       |$modularityCtesSql
       |SELECT CAST((SELECT count(*) FROM l$LpaRounds) AS BIGINT) AS n_nodes,
       |  CAST(m AS BIGINT) AS m, n_communities,
       |  CAST((SELECT max(c) FROM (
       |      SELECT count(*) AS c FROM l$LpaRounds GROUP BY lab) x) AS BIGINT)
       |    AS max_comm,
       |  $qPpmSql
       |FROM g CROSS JOIN mm CROSS JOIN sic""".stripMargin

  /** The part↔supplier co-occurrence graph of q130, q176 and q310: the
    * distinct (part·2, supplier·2+1) pairs of lineitem, directed both ways
    * and persisted hash-partitioned ON THE SOURCE u (r20, guide §2.4), so
    * an array-tier round groups by u over the cache exchange-free and a
    * fallback round's join on u inherits its partitioning (only the O(V)
    * frame moves). In-degree == out-degree on the symmetric frame, so the
    * degree frame is an exchange-free groupBy(u), persisted because the
    * gate head, the array tier's collect and the fallbacks all read it. One
    * plan-time sizing job gives [[graft.util.DriverTier.sizeDenseGraph]]'s
    * node count, max id and tier at the query's per-slot charge. Plain
    * persist, not persistForOneAction: a tier runs one action per round;
    * every query calls [[release]] before it returns. */
  private final class PartSupplierGraph(s: org.apache.spark.sql.SparkSession,
                                        d: String, slotBytes: Long) {
    private val ed = Tables.lineitem(s, d)
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct()
    private val nEdge = graft.util.Sizing.exchangePartitions(s,
      2L * graft.util.Sizing.parquetRowCount(d, "lineitem"))
    val edges: org.apache.spark.sql.DataFrame =
      ed.unionAll(ed.select(col("v").as("u"), col("u").as("v")))
        .repartition(nEdge, col("u")).persist()
    val degF: org.apache.spark.sql.DataFrame =
      edges.groupBy(col("u")).agg(count(lit(1)).as("deg")).persist()
    val (nNodes, maxId, arrayTier) =
      graft.util.DriverTier.sizeDenseGraph(degF, "u", slotBytes)

    /** The degrees as a node-id-indexed array (array tier: one primitive
      * collect, guide §5). */
    def degrees(): Array[Long] = {
      val deg = new Array[Long](maxId.toInt + 1)
      graft.util.DriverCollect.foreachLongPair(degF)((u, dg) => deg(u.toInt) = dg)
      deg
    }

    /** One array-tier round: `arr` broadcast, `plan` built with `at(c)` =
      * `arr(c)` ([[arrayLookup]]), its `(key, value)` rows fed to `f`, and
      * the broadcast destroyed once the collect is done. */
    def round(arr: Array[Long])(
        plan: (org.apache.spark.sql.Column => org.apache.spark.sql.Column) =>
          org.apache.spark.sql.DataFrame)(f: (Long, Long) => Unit): Unit = {
      val bc = s.sparkContext.broadcast(arr)
      try graft.util.DriverCollect.foreachLongPair(plan(c => arrayLookup(bc, c)))(f)
      finally bc.destroy()
    }

    /** Unpersist the degree frame and the edge cache. */
    def release(): Unit = {
      degF.unpersist(false)
      edges.unpersist(false)
    }
  }

  /** Shared LPA machinery for one query: takes the UNDIRECTED edge set
    * (each edge once — symmetrization happens in here, against a cache, so
    * an expensive derivation never cold-evaluates twice), partitions +
    * persists the directed frame in the layout its tier wants and serves
    * the rounds. The tier is chosen ONCE per query by
    * [[graft.util.DriverTier]] from the node count and max node id, both
    * from one plan-time sizing job (the same kind q304's bloom runs):
    *   - ARRAY tier (r17 verdict item 4; the r13 q335 finding that the
    *     per-round O(E) edge⋈label exchange dominated at sf10): the
    *     assignment ships as one `Broadcast[Array[Long]]` indexed by node
    *     id, and a round is `groupBy(u).agg(labelMode(lookup(v)))` — one
    *     whole-stage-codegen aggregate over the u-partitioned edge cache,
    *     the label resolved by a codegen'd array index
    *     ([[org.apache.spark.sql.graft.LabelArrayLookup]]): no join, and
    *     nothing O(E) crosses the wire after the one-time repartition;
    *   - SHUFFLE tier: edges persist v-partitioned, the per-round join
    *     reuses that partitioning and only the label frame moves, and the
    *     census exchange on u moves O(E)-bounded partial maps — the r13
    *     shape, one exchange per round, at any scale.
    * persist() not localCheckpoint: a checkpointed frame loses its
    * outputPartitioning to Catalyst (measured: every round re-exchanges
    * the O(E) side); the Bench/Verify harness sweeps persisted frames
    * between queries (the q261 contract).
    *
    * One synchronous round adopts the most frequent neighbor label,
    * smallest label on ties, via ONE native bounded aggregation
    * ([[org.apache.spark.sql.graft.LabelModeAgg]] — exact degree-bounded
    * label→count map, map-side merged; KernelSpec pins it bit-identical
    * to the row_number-window and packed-max twins, and the oracle states
    * the same total (count DESC, label ASC) order). */
  private final class Lpa(undirected: org.apache.spark.sql.DataFrame) {
    private val session = undirected.sparkSession
    /** The undirected edge derivation CACHED before symmetrization: both
      * union branches (u,v) and (v,u) read one materialization, so an
      * expensive derivation (q335's 120M-pair projection at sf10) is
      * computed exactly once — the r14 shape cold-evaluated eRaw twice
      * (once under lab0's checkpoint, once under e's persist) and ran the
      * projection's final dedup aggregate once per union branch on top.
      * Unpersisted as soon as [[e]]/[[lab0]] are materialized below. */
    private val und = undirected.persist()
    /** Materializes the cache AND sizes every exchange below: the edge
      * count is the one number that says how wide the u/v exchanges and
      * the per-round census hash tables must be. 32 session-fixed
      * partitions at sf10 meant ~9M-row hash tables per task (GC-bound —
      * the r15 verdict's residual superlinear term in q335); the width
      * now scales with the corpus via [[graft.util.Sizing]]. */
    private val undN = und.count()
    /** Undirected edge count — the one-time sizing count doubles as
      * modularity's m, saving a full O(E) pass over the directed cache. */
    val edgeCount: Long = undN
    private val nE =
      graft.util.Sizing.exchangePartitions(session, 2L * undN)
    private val eRaw =
      und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    /** u-partitioned edges persisted FIRST — before the gate decision —
      * so the one cold evaluation of the edge derivation happens exactly
      * once, under this cache's materialization. */
    private val eU = eRaw.repartition(nE, col("u")).persist()
    /** Every node its own label — round 0, localCheckpointed because each
      * round's O(V) output re-enters the next round's plan. Derived from
      * the PERSISTED edges: distinct(u) over a u-partitioned cache is
      * exchange-free (HashPartitioning(u) satisfies the grouping), and
      * materializing it materializes the cache. */
    val lab0: org.apache.spark.sql.DataFrame =
      eU.select(col("u").as("node")).distinct()
        .withColumn("lab", col("node")).localCheckpoint()
    /** One sizing action yields BOTH gate inputs — the node count and the
      * max node id — plus the node-id sum, which is the identity
      * assignment's census `sum_labels` (r20: the array tier computes
      * per-round censuses on the driver from the collected assignment, and
      * round 0's needs only the count and this sum — no extra job). */
    val (nodeCount, maxNodeId, nodeIdSum) = {
      val r = lab0.agg(count(lit(1)), coalesce(max(col("node")), lit(-1L)),
        coalesce(sum(col("node")), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    /** Whether the rounds run on the array tier (see the class doc). */
    val arrayTier: Boolean = graft.util.DriverTier.denseGraph(
      graft.util.DriverTier.budget(session), nodeCount, maxNodeId,
      graft.util.DriverTier.LpaSlotBytes)

    /** The assignment as a node-id-indexed long array (unassigned slots
      * -1; never probed — see [[org.apache.spark.sql.graft.LabelArrayLookup]]'s
      * by-construction note). One O(V) collect per round, exactly what the
      * engine's own broadcast build does, minus the hash relation. */
    private def labelArray(lab: org.apache.spark.sql.DataFrame): Array[Long] = {
      val arr = Array.fill[Long](maxNodeId.toInt + 1)(-1L)
      graft.util.DriverCollect.foreachLongPair(
        lab.select(col("node"), col("lab")))((n, l) => arr(n.toInt) = l)
      arr
    }
    /** Edge frame persisted pre-partitioned: on u for the array tier (its
      * groupBy(u) runs over the cache exchange-free), on v for the shuffle
      * tier (the per-round join reuses it and only the label frame moves)
      * — re-partitioned FROM the u-cache, one extra O(E) exchange at
      * construction, never a second cold evaluation of the edge
      * derivation. */
    val e: org.apache.spark.sql.DataFrame =
      if (arrayTier) { und.unpersist(); eU }
      else {
        val ev = eU.repartition(nE, col("v")).persist()
        ev.count() // materialize from the u-cache before dropping it
        und.unpersist()
        eU.unpersist()
        ev
      }
    /** The label frame as a join side. */
    private def labSide(lab: org.apache.spark.sql.DataFrame,
                        nodeAs: String, labAs: String)
        : org.apache.spark.sql.DataFrame =
      lab.select(col("node").as(nodeAs), col("lab").as(labAs))
    /** One synchronous shuffle-tier round (see class doc). */
    def round(lab: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      e.join(labSide(lab, "vn", "vl"), col("v") === col("vn"))
        .groupBy(col("u"))
        .agg(graft.functions.GraftFunctions.labelMode(col("vl")).as("lab"))
        .withColumnRenamed("u", "node")
        .localCheckpoint()
    /** Round 1 FROM THE IDENTITY assignment, degenerate-exact (r16): with
      * lab0 every neighbor label is that neighbor's own id, and the edge
      * set is deduplicated — so every label count is 1 and LabelModeAgg's
      * total (count DESC, label ASC) order elects simply the SMALLEST
      * neighbor. `min(v)` is the same answer as a codegen'd long-min: no
      * degree-bounded maps, no label join at all. The event-log profile
      * that motivated it: 86.8 s of q335's 173 s single-rep sf10 run was
      * this ONE stage under the general form (every per-u map holds
      * deg(u) distinct entries in round 1 — 240M map insertions; rounds
      * 2-3, where labels have collapsed, cost 12 s each). */
    def roundIdentity: org.apache.spark.sql.DataFrame =
      e.groupBy(col("u")).agg(min(col("v")).as("lab"))
        .withColumnRenamed("u", "node")
        .localCheckpoint()
    /** Per-(node, label) degree + same-label endpoint count in ONE pass
      * over the O(E) cache — modularity's two ingredients, shuffle tier:
      * the v-side label join reuses the edge frame's v-partitioning, so
      * only the u-side join exchanges the O(E) frame
      * ([[perNodeDegSameArr]] is the array tier's twin). */
    def perNodeDegSame(lab: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      e.join(labSide(lab, "bu", "lb"), col("v") === col("bu"))
        .join(labSide(lab, "au", "la"), col("u") === col("au"))
        .groupBy(col("u"), col("la"))
        .agg(count(lit(1)).as("deg"),
          sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("same"))

    /** The fixed-round loop (q333/q335's entry). No short-circuit here:
      * labels at a fixpoint are idempotent under further rounds, so the
      * plain fixed-round loop lands on the same frame. */
    def labels: org.apache.spark.sql.DataFrame = {
      var lab = roundIdentity
      for (_ <- 2 to LpaRounds) lab = round(lab)
      lab
    }

    // ---- array tier, assignment-in/assignment-out (r20) -------------------
    // Under the array gate every round already ROUND-TRIPS the O(V)
    // assignment through the driver (labelArray collect → broadcast), yet
    // the r19 shape still materialized each round as a localCheckpointed
    // DataFrame (one extra job) and ran the per-round census as a
    // two-exchange groupBy (two more). At sf0.1 the LPA family is
    // machinery-bound — q326 profiled 30 jobs for 2.8 s — so the rounds now
    // run Array[Long] → Array[Long]: ONE job per round (the aggregate
    // collects straight into the next assignment array), censuses computed
    // on the driver from the same array, fixpoints detected by EXACT array
    // equality (strictly stronger than the xor fingerprint it replaces —
    // no collision caveat).

    /** Round 1 from the identity assignment, collected (see
      * [[roundIdentity]] for why min(v) is exact there). */
    def roundIdentityArray: Array[Long] =
      labelArray(e.groupBy(col("u")).agg(min(col("v")).as("lab"))
        .withColumnRenamed("u", "node"))

    /** One synchronous round, assignment in / assignment out — a single
      * Spark job (aggregate + primitive collect), no intermediate frame. */
    def roundArray(arr: Array[Long]): Array[Long] = {
      val bc = session.sparkContext.broadcast(arr)
      try labelArray(
        e.groupBy(col("u"))
          .agg(graft.functions.GraftFunctions
            .labelMode(arrayLookup(bc, col("v"))).as("lab"))
          .withColumnRenamed("u", "node"))
      finally bc.destroy()
    }

    /** [[labels]] in the array tier: one job per round. */
    def labelsArray: Array[Long] = {
      var arr = roundIdentityArray
      for (_ <- 2 to LpaRounds) arr = roundArray(arr)
      arr
    }

    /** [[perNodeDegSame]] in the array tier, fed by an assignment array:
      * BOTH endpoints' labels resolve by broadcast array index — zero joins,
      * zero exchanges over the u-partitioned cache. The frame is LAZY (the
      * caller aggregates it under its own action), so the broadcast is left
      * to the context cleaner; an eager destroy would break execution. */
    def perNodeDegSameArr(arr: Array[Long])
        : org.apache.spark.sql.DataFrame = {
      val bc = session.sparkContext.broadcast(arr)
      e.select(col("u"), arrayLookup(bc, col("u")).as("la"),
          arrayLookup(bc, col("v")).as("lb"))
        .groupBy(col("u"), col("la"))
        .agg(count(lit(1)).as("deg"),
          sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("same"))
    }
  }

  /** Driver-side census of an assignment array: (n_labels, sum_labels,
    * max_comm) — exact long arithmetic, same values as the distributed
    * groupBy(lab) census it replaces in the array tier (V is gate-bounded
    * at ≤4M, so the HashMap is a few MB at worst). */
  private def censusOfArray(arr: Array[Long]): (Long, Long, Long) = {
    val counts = new java.util.HashMap[java.lang.Long, Long]()
    var sum = 0L
    var i = 0
    while (i < arr.length) {
      val l = arr(i)
      if (l != -1L) { sum += l; counts.merge(l, 1L, _ + _) }
      i += 1
    }
    var maxC = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next(); if (c > maxC) maxC = c }
    (counts.size().toLong, sum, maxC)
  }

  /** The bipartite LPA machinery (q326's census loop twin). */
  private def lpaGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : Lpa = {
    // corpus-sized dedup exchange (same fix family as q335's projection)
    val nDedup = graft.util.Sizing.exchangePartitions(
      s, graft.util.Sizing.parquetRowCount(d, "lineitem"))
    val ps = Tables.lineitem(s, d)
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .repartition(nDedup, col("u"), col("v"))
      .distinct()
    new Lpa(ps)
  }

  /** Run the fixed LPA rounds on the tier-appropriate representation and
    * evaluate modularity — array tier: one job per round, the final
    * assignment feeds [[Lpa.perNodeDegSameArr]] with no extra collect. */
  private def lpaModularity(lpa: Lpa): org.apache.spark.sql.DataFrame =
    if (lpa.arrayTier) modularityFrom(lpa, lpa.perNodeDegSameArr(lpa.labelsArray))
    else modularityFrom(lpa, lpa.perNodeDegSame(lpa.labels))

  /** (n_communities, m, q_ppm) 1-row modularity frame — Spark twin of
    * [[modularityCtesSql]]; edges directed-both-ways, `lab` (node, lab).
    * In the array tier the whole metric is exchange-free over the
    * persisted edges. */
  private def modularityFrom(lpa: Lpa,
                             perNodeDegSame: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    // m = |undirected edges| — already counted once when the Lpa sized its
    // exchanges; re-deriving it as e.count/2 would be a full O(E) pass
    val m = lpa.e.sparkSession.range(1).select(lit(lpa.edgeCount).as("m"))
    // ONE pass over the O(E) cache computes BOTH modularity ingredients
    // (r16 — deg and sic were two separate full passes): per (u, la) the
    // degree AND the same-label endpoint count ride one aggregate; the
    // grouped frame is O(V) (la is constant per u), and everything below
    // it is census-sized. Tiered as Lpa.perNodeDegSame[Arr].
    val perNode =
      graft.util.CacheOnce.persistForOneAction(perNodeDegSame)
    val sic = perNode.agg(sum(col("same")).cast(dec).as("sic"))
    val dc = perNode
      .groupBy(col("la")).agg(sum(col("deg")).cast(dec).as("dsum"))
    dc.agg(count(lit(1)).as("n_communities"),
        sum(col("dsum") * col("dsum")).cast(dec).as("sd2"))
      .crossJoin(broadcast(m)).crossJoin(broadcast(sic))
      .selectExpr("n_communities", "m",
        // offset by +1e6·den before the division, subtract after: the
        // shifted numerator is >= 0 (Q >= -1), where truncate == floor
        """CAST((1000000 * (2 * CAST(m AS DECIMAL(38,0)) * sic - sd2)
          |      + 1000000 * (4 * CAST(m AS DECIMAL(38,0)) * m))
          |    div (4 * CAST(m AS DECIMAL(38,0)) * m) - 1000000
          |  AS BIGINT) AS q_ppm""".stripMargin)
  }
}
