package graft

import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.tokens
import graft.functions.CrossHash.h60

/** Differential + plan-shape pins for the round-8 scale levers:
  * q125 (binned interval join), q127 (prefix-filtered similarity join),
  * q130 (all-integer PageRank). Each is checked against an independent
  * naive formulation of the same semantics on the small fixture.
  */
class GraphAndSimJoinSpec extends SparkSpec {

  private def q(name: String) =
    SparkEntry.registry.find(_.name == name).get.build(spark, sf)

  // ---- driver tiers -------------------------------------------------------

  /** Each query's rows at the default driver-tier budget and with
    * `graft.driverTier.maxBytes=0`, which forces every distributed tier. */
  private def bothTiers(names: String*)
      : (Map[String, Seq[org.apache.spark.sql.Row]],
         Map[String, Seq[org.apache.spark.sql.Row]]) = {
    def runAll() = names.map(n => n -> q(n).collect().toSeq).toMap
    val driver = runAll() // default: the spec fixture sits under the gate
    spark.conf.set(graft.util.DriverTier.MaxBytesConf, "0")
    try (driver, runAll())
    finally spark.conf.unset(graft.util.DriverTier.MaxBytesConf)
  }

  test("LPA array tier ≡ shuffle tier, bit-identical (q326/q333/q335)") {
    // the r17-item-4 lever: under the driver-tier gate the round resolves
    // labels by broadcast primitive-array index instead of joining the
    // label frame — a CONSTANT optimization, so every output frame must be
    // bit-identical to the shuffle tier every past-gate graph runs.
    val (arrayTier, shuffleTier) = bothTiers("q326_label_propagation",
      "q333_lpa_modularity", "q335_projected_community_quality")
    arrayTier.foreach { case (n, rows) =>
      assert(rows === shuffleTier(n), s"$n diverged across LPA tiers")
    }
  }

  test("q130/q176/q310 array tier ≡ BSP shuffle fallback, bit-identical") {
    // r19 optimization: PageRank, BFS and k-core peeling adopted the q326
    // zero-exchange round (per-round O(V) vector as a broadcast primitive
    // array over destination-partitioned cached edges). The tier is a
    // CONSTANT optimization — forcing the gate off must reproduce every
    // row of all three queries exactly.
    val (arrayTier, fallback) = bothTiers("q130_pagerank",
      "q176_bfs_distances", "q310_kcore_peeling")
    arrayTier.foreach { case (n, rows) =>
      assert(rows === fallback(n), s"$n diverged across tiers")
    }
  }

  test("components driver tier ≡ distributed loops (q83/q131/q149/q339)") {
    // r20: under the edge-count + 31-bit-id gate, star contraction and
    // min-label propagation run their rounds on the driver over the
    // collected edge array — a CONSTANT optimization, so every consumer's
    // output must be bit-identical with the gate forced off.
    val (driverTier, distributed) = bothTiers("q83_dedup_components",
      "q131_canonical_selection", "q149_leakage_free_split",
      "q339_star_contraction_components")
    driverTier.foreach { case (n, rows) =>
      assert(rows === distributed(n), s"$n diverged across components tiers")
    }
  }

  // ---- q125 ---------------------------------------------------------------

  test("q125: binned interval join ≡ naive theta join") {
    val got = q("q125_binned_interval_join").collect().toSeq
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"))
    val e = ev.filter(col("event_type") === "error").select(col("ts").as("ets"))
    val naive = p.join(e,
        col("ets") >= col("ts") &&
          col("ets") < col("ts") + expr("INTERVAL 10 MINUTES"), "left")
      .groupBy(col("event_id"))
      .agg(count(col("ets")).as("n_errors"))
      .orderBy(col("event_id")).collect().toSeq
    assert(got === naive)
    assert(got.nonEmpty)
  }

  test("q125: plan is an equi-join on the bin key, not a nested loop") {
    val df = q("q125_binned_interval_join")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the entire point: the unanchored interval predicate must NOT plan as
    // a broadcast-nested-loop over the cross product
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  // ---- q127 ---------------------------------------------------------------

  test("q127: prefix filtering loses no qualifying pair (≡ all-pairs verify)") {
    val got = q("q127_prefix_filtered_simjoin").collect().toSeq
    // brute force: every doc pair, exact Jaccard over the same fingerprints
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), h60(col("tok")).as("h")).distinct()
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"), count(lit(1)).as("n"))
    val pr = sets.select(col("doc_id").as("da"), col("hs").as("ha"), col("n").as("na"))
      .join(sets.select(col("doc_id").as("db"), col("hs").as("hb"), col("n").as("nb")),
        col("da") < col("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("i"),
        col("na"), col("nb"))
      .filter(col("i") * 1000000L >= lit(900000L) * (col("na") + col("nb") - col("i")))
      .selectExpr("da", "db", "(i * 1000000) div (na + nb - i) AS jac_ppm")
    val naive = pr.select(col("da").as("doc_id"), col("jac_ppm"))
      .unionAll(pr.select(col("db").as("doc_id"), col("jac_ppm")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"), max(col("jac_ppm")).as("max_jac_ppm"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(got === naive)
    assert(got.nonEmpty) // the fixture corpus does contain near-dup pairs
  }

  // ---- q130 ---------------------------------------------------------------

  test("q130: Spark PageRank ≡ driver-side integer replica; mass conserved") {
    val got = q("q130_pagerank").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    // independent replica: collect the small fixture's edges, run the same
    // integer recurrence in plain Scala
    val ed = Tables.lineitem(spark, sf)
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ed ++ ed.map { case (u, v) => (v, u) }
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    val n = deg.size.toLong
    var r: Map[Long, Long] = deg.map { case (u, _) => u -> 1000000000000L / n }
    for (_ <- 1 to ops.GraphOps.Iters) {
      val contrib = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) * 85L / (100L * deg(u)) }.sum
      }
      r = deg.map { case (u, _) => u -> (150000000000L / n + contrib.getOrElse(u, 0L)) }
    }
    val top = r.toSeq.sortBy { case (u, rk) => (-rk, u) }.take(20)
    assert(got === top)
    // floor-division leaks mass but never creates it: total stays within
    // one part-per-thousand below the 1e12 budget, and never above
    val mass = r.values.sum
    assert(mass <= 1000000000000L && mass > 999000000000L, mass)
  }
}
