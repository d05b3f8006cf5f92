package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Physical-plan shape assertions: the properties that make these pipelines
  * scale are visible in the plan, so pin them — filters reaching the parquet
  * scan, column pruning, broadcast joins where a side is dim-sized, and
  * whole-stage codegen over the native kernels.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("filters are pushed into the parquet scan (q02)") {
    val plan = planOf(SparkEntry.queries("q02_filter_project")(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"), "no filter pushed:\n" + plan.take(2000))
  }

  test("scans prune to the referenced columns only (q02 reads 4 of 16 cols)") {
    val df = SparkEntry.queries("q02_filter_project")(spark, sf)
    val read = planOf(df)
    // lineitem has 16 columns; the projection must not read l_comment
    assert(!read.contains("l_comment"), "unpruned scan:\n" + read.take(2000))
  }

  test("dim joins broadcast (q54) — no shuffle on the fact side") {
    val plan = planOf(SparkEntry.queries("q54_broadcast_dim_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("semi/anti joins plan as joins, not subquery re-scans (q05/q06)") {
    assert(planOf(SparkEntry.queries("q05_join_semi")(spark, sf))
      .toLowerCase.contains("semi"))
    assert(planOf(SparkEntry.queries("q06_join_anti")(spark, sf))
      .toLowerCase.contains("anti"))
  }

  test("rank-filter top-k plans as WindowGroupLimit, not a full window sort (q19)") {
    // Spark's InferWindowGroupLimit turns Filter(rn <= k, Window(row_number))
    // into partial+final WindowGroupLimit: each side of the shuffle keeps at
    // most k rows per group, so the exchange moves k·groups rows instead of
    // the whole fact table. This is why q19 stays the declarative
    // window+filter — a hand-built top-k operator would just duplicate it.
    val plan = planOf(SparkEntry.queries("q19_topk_per_group")(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(plan.contains("Partial"), plan.take(2000))
    assert(plan.contains("Final"), plan.take(2000))
  }

  test("native kernels stay inside whole-stage codegen") {
    val df = Tables.embeddings(spark, sf)
      .select(graft.functions.ColumnOps.dotProduct(col("embedding"), col("embedding")).as("d"))
    val plan = planOf(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1)"), plan.take(2000))
    // and the kernel expression itself supports codegen (no fallback marker)
    assert(!plan.contains("CodegenFallback"), plan.take(2000))
  }

  test("watermark delta pushes the PO filter to the source scan") {
    val df = etl.WatermarkEtl.delta(spark, sf)
    val plan = planOf(df)
    // the broadcast single-row watermark keeps the pipeline one lazy plan
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(3000))
  }

  test("DSv2 form source: filters and projection are pushed into the source") {
    val df = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 1000).load()
      .filter(col("po_number") > "U000000900D")
      .select(col("po_number"), col("amount_cents"))
    val plan = planOf(df)
    assert(plan.contains("FormPipelineScan"), plan.take(2000))
    assert(plan.contains("GreaterThan(po_number,U000000900D)"), plan.take(2000))
    // pruned read schema: only the two referenced columns reach the source
    assert(plan.contains("ReadSchema: struct<po_number:string,amount_cents:bigint>"),
      plan.take(2000))
    // and the source applied the filter itself (99 remaining of 1000)
    assert(df.count() === 99)
  }

  test("DSv2 form source: LIMIT and TopN push into the source, no residual sort") {
    // keyset page: pushed filter + complete LIMIT — the scan emits exactly
    // the page (isPartiallyPushed=false), one partition = one request stream
    val page = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 5000).load()
      .filter(col("po_number") > "U000002500D")
      .select(col("po_number"), col("amount_cents"))
      .limit(30)
    val pPlan = planOf(page)
    assert(pPlan.contains("PushedLimit: 30"), pPlan.take(2000))
    assert(page.count() === 30)
    // TopN page: ORDER BY + LIMIT both execute server-side — the physical
    // plan has NO TakeOrderedAndProject / Sort over the scan
    val topn = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 5000).load()
      .select(col("po_number"), col("amount_cents"))
      .orderBy(col("amount_cents").desc)
      .limit(10)
    val tPlan = planOf(topn)
    assert(tPlan.contains("PushedTopN"), tPlan.take(2000))
    assert(tPlan.contains("amount_cents DESC"), tPlan.take(2000))
    assert(!tPlan.contains("TakeOrderedAndProject") && !tPlan.contains("Sort "),
      "residual sort survived the TopN pushdown:\n" + tPlan.take(2000))
    val rows = topn.collect()
    assert(rows.length === 10)
    // the page really is the global top-10 by amount, served in pushed order
    assert(rows.map(_.getLong(1)).toSeq === rows.map(_.getLong(1)).sorted(Ordering[Long].reverse).toSeq)
  }

  test("DSv2 sources report statistics: small sides auto-broadcast with NO hint") {
    // the pipeline source declares its row count -> Catalyst sees a
    // dim-sized relation and picks BroadcastHashJoin on its own
    val feed = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 500).load()
      .select(col("po_number"), col("amount_cents"))
    val stats = feed.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(500)), stats.toString)
    assert(stats.sizeInBytes === BigInt(500 * 64), stats.toString)
    val fact = Tables.orders(spark, sf)
      .select(expr("printf('U%09dD', o_orderkey)").as("po_number"), col("o_totalprice"))
    val joined = fact.join(feed, "po_number") // NO broadcast() hint
    assert(planOf(joined).contains("BroadcastHashJoin"),
      planOf(joined).take(3000))
    // the sink reports exact manifest rows + on-disk bytes, post-pruning
    val dir = java.nio.file.Files.createTempDirectory("graft-stats-sink").toString
    graft.etl.WatermarkEtl.sourceFeed(spark, sf)
      .filter(col("o_orderkey").between(1, 100)).drop("o_orderkey")
      .write.format(graft.sources.FormSinkSource.Format)
      .mode(org.apache.spark.sql.SaveMode.Append).option("path", dir).save()
    val sink = spark.read.format(graft.sources.FormSinkSource.Format)
      .option("path", dir).load()
    val sstats = sink.queryExecution.optimizedPlan.stats
    assert(sstats.rowCount.contains(BigInt(100)), sstats.toString)
    assert(sstats.sizeInBytes > 0 && sstats.sizeInBytes < 100000, sstats.toString)
    val sjoin = fact.join(sink, "po_number")
    assert(planOf(sjoin).contains("BroadcastHashJoin"), planOf(sjoin).take(3000))
  }

  test("DSv2 form source: ungrouped MAX/COUNT(*) execute inside the source") {
    // R3 end-to-end: the watermark MAX runs "server-side" like the
    // reference's sink-side last-row read (bin:53-69) — complete pushdown,
    // so the plan has NO aggregate exec at all, and the one-row result
    // comes straight off the scan.
    val df = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 5000).load()
      .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("PushedAggregates: [MAX(po_number), COUNT(*)]"), plan.take(2500))
    assert(!plan.contains("HashAggregate"), plan.take(2500))
    val row = df.collect()(0)
    assert(row.getString(0) === "U000004999D")
    assert(row.getLong(1) === 5000L)
  }

  test("DSv2 form source: aggregate pushdown composes with filter pushdown") {
    val df = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 1000).load()
      .filter(col("po_number") <= "U000000499D")
      .agg(min(col("amount_cents")).as("lo"), max(col("po_number")).as("hi"))
    val plan = planOf(df)
    assert(plan.contains("LessThanOrEqual(po_number,U000000499D)"), plan.take(2500))
    assert(plan.contains("PushedAggregates: [MIN(amount_cents), MAX(po_number)]"),
      plan.take(2500))
    val row = df.collect()(0)
    assert(row.getString(1) === "U000000499D")
    assert(row.getLong(0) === (0L until 500L).map(i => (i * 137903L) % 300000L).min)
  }

  test("count() on top of a pushed-down aggregate plans cleanly (q82 regression)") {
    // Planning an outer count() over the completely-pushed aggregate prunes
    // the inner aggregate's columns, and Spark then offers the source an
    // Aggregation with ZERO aggregateExpressions. The builder must refuse it
    // (an empty aggregation has nothing to push); accepting it used to crash
    // V2ScanRelationPushDown with "unexpected number of columns".
    val inner = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 5000).load()
      .filter(col("amount_cents") < 150000L)
      .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    assert(inner.count() === 1L)
    // the registered query itself must survive the same shape
    assert(SparkEntry.queries("q82_source_agg_pushdown")(spark, sf).count() === 1L)
  }

  test("agg pushdown over an EMPTY source still yields the single aggregate row") {
    // With complete pushdown Spark plans no aggregate exec, so the scan
    // itself must emit the empty-input row (count=0, null max) — a rows=0
    // source must therefore still plan exactly one input partition.
    val df = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 0).load()
      .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(0))
    assert(rows(0).getLong(1) === 0L)
  }

  test("agg pushdown when the filter eliminates every row: count=0, null max") {
    val df = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 100).load()
      .filter(col("po_number") > "Z") // nothing matches
      .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(0))
    assert(rows(0).getLong(1) === 0L)
  }

  test("grouped aggregates are NOT claimed by the source (stay in the engine)") {
    val df = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 1000).load()
      .groupBy(col("charge_code")).agg(count(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"), plan.take(2500))
    assert(df.count() === 7)
  }

  test("no broadcast hint on corpus-scaling frames (q44/q77)") {
    // Both candidate indexes are one row per corpus element — a forced
    // broadcast would OOM at 100 TB. AQE may still *choose* to broadcast at
    // this SF (fine: runtime decision from observed sizes); the pin is that
    // the plan carries no hint forcing it.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (q <- Seq("q44_lsh_ann_pairs", "q77_editdist_dedup")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$q carries a forced-strategy hint: $hints")
    }
  }

  test("DSv2 form source values match the declared row model") {
    val row = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", 10).load()
      .filter(col("submission_id") === 7).collect()(0)
    assert(row.getAs[String]("vendor") === "V7")
    assert(row.getAs[String]("po_number") === "U000000007D")
    assert(row.getAs[Long]("amount_cents") === (7L * 137903L) % 300000L)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    // Bucket both sides on the join key; Spark reads the bucket layout and
    // plans the join without any Exchange — the pre-partitioning strategy
    // for repeatedly-joined 100 TB fact tables.
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    // the in-memory catalog forgets tables across JVMs but their warehouse
    // directories persist — clear them or CTAS fails LOCATION_ALREADY_EXISTS
    for (t <- Seq("graft_b_orders", "graft_b_lineitem")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_b_lineitem")
    // disable broadcast so the plan shows the bucketed SMJ path (at real
    // fact×fact scale neither side broadcasts anyway)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = planOf(joined)
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + plan.take(3000))
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("dynamic partition pruning fires on a partitioned fact scan") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dpp_orders"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      Tables.orders(spark, sf).write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(dir)
    }
    val dim = Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("p")).distinct()
      .filter(col("p") < "3")
    val fact = spark.read.parquet(dir)
    val joined = fact.join(dim, col("o_orderpriority") === col("p"))
      .groupBy(col("o_orderpriority")).count()
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "no DPP in plan:\n" + plan.take(3000))
    assert(joined.count() === 2)
  }

  test("SQL registration exposes the native functions to spark.sql") {
    graft.plans.GraftPlans.install(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       vec_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n,
        |       tokenize('  a b  c ') AS t,
        |       word_ngrams(array('x','y','z'), 2) AS g,
        |       h60('hello world') AS h,
        |       ascii_clean('a,, b!!') AS c""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getSeq[String](2) === Seq("a", "b", "c"))
    assert(r.getSeq[String](3) === Seq("x y", "y z"))
    assert(r.getLong(4) === graft.functions.CrossHash.h60Local("hello world"))
    assert(r.getString(5) === "a b")
  }

  test("AQE splits a skewed sort-merge join at runtime (OptimizeSkewedJoin)") {
    // q53 salts skew by hand; AQE is the runtime answer — prove the engine's
    // sessions leave it armed. One hot key dominates the left side; with the
    // skew thresholds sized to the test data, AQE must split the straggler
    // partition into parallel reads (skew=true in the FINAL plan).
    import spark.implicits._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // left: 50k rows on ONE hot key + a thin spread; right: all keys once
      val left = spark.range(50000).select(lit(0L).as("k"), col("id").as("pay"))
        .union(spark.range(1, 200).select(col("id").as("k"), col("id").as("pay")))
      val right = spark.range(200).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // execute THIS frame (count() would plan a different, pruned query
      // whose AQE run is not the one inspected below)
      assert(joined.collect().length === 50000 + 199)
      val finalPlan = joined.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("skew=true"),
        "AQE did not mark the skewed join:\n" + finalPlan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("BinRangeJoin rule: naive band join plans as a binned equi-join, not BNLJ") {
    graft.plans.GraftPlans.install(spark)
    def frame() = {
      val ev = Tables.events(spark, sf)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), expr("unix_micros(ts)").as("pt"))
      val e = ev.filter(col("event_type") === "error")
        .select(expr("unix_micros(ts)").as("et"))
      p.join(e, col("et") >= col("pt") && col("et") < col("pt") + 600000000L)
    }
    spark.conf.set("spark.graft.binRangeJoin.width", "600000000")
    try {
      val on = planOf(frame())
      assert(!on.contains("BroadcastNestedLoopJoin"), on.take(3000))
      assert(on.contains("graft_bin"), on.take(3000))
      // rule OFF (width=0): the same frame degrades to the cross-product plan
      spark.conf.set("spark.graft.binRangeJoin.width", "0")
      val off = planOf(frame())
      assert(off.contains("BroadcastNestedLoopJoin"), off.take(3000))
      // and the rewrite is RESULT-identical to the naive plan
      spark.conf.set("spark.graft.binRangeJoin.width", "600000000")
      val got = frame().groupBy(col("event_id")).count()
        .orderBy(col("event_id")).collect().toSeq
      spark.conf.set("spark.graft.binRangeJoin.width", "0")
      val want = frame().groupBy(col("event_id")).count()
        .orderBy(col("event_id")).collect().toSeq
      assert(got === want)
      assert(got.nonEmpty)
    } finally spark.conf.set("spark.graft.binRangeJoin.width", "0")
  }

  test("BinRangeJoin rule: inverted/dirty intervals drop instead of crashing Sequence") {
    graft.plans.GraftPlans.install(spark)
    import spark.implicits._
    // one well-formed interval, one inverted (lo > hi), one NULL-bounded —
    // the naive band join matches only the first; the rewrite must agree
    // (Sequence on descending bounds would otherwise throw at runtime)
    val points = Seq(1L -> 150L, 2L -> 9999L).toDF("pid", "t")
    val intervals = Seq(
      (10L, Some(100L), Some(200L)),   // matches pid=1
      (11L, Some(500L), Some(400L)),   // inverted: matches nothing
      (12L, None, Some(300L))          // NULL lo: matches nothing
    ).toDF("iid", "lo", "hi")
    def frame() = points.join(intervals,
      col("t") >= col("lo") && col("t") <= col("hi"))
    spark.conf.set("spark.graft.binRangeJoin.width", "100")
    try {
      val on = planOf(frame())
      assert(on.contains("graft_bin"), on.take(3000))
      val got = frame().select("pid", "iid").collect().toSeq
      assert(got === Seq(org.apache.spark.sql.Row(1L, 10L)))
    } finally spark.conf.set("spark.graft.binRangeJoin.width", "0")
  }

  test("InjectRuntimeFilter blooms the fact side of a selective shuffle join") {
    // q104 builds this filter by hand for build sides the rule can't see;
    // here we pin that Spark's own InjectRuntimeFilter fires when the join
    // shuffles: the selectively-filtered orders side injects a
    // bloom_filter_might_contain probe onto the lineitem scan, so non-member
    // rows die before the exchange. Thresholds are lowered because the rule
    // gates on application-side scan size (default 10GB).
    val saved = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val orders = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val join = Tables.lineitem(spark, sf)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val plan = planOf(join)
      // physical plan prints might_contain(subquery ...) fed by bloom_filter_agg
      assert(plan.toLowerCase.contains("might_contain"), plan.take(4000))
      assert(plan.toLowerCase.contains("bloom_filter_agg"), plan.take(4000))
      assert(join.collect().nonEmpty) // the filtered join still returns rows
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("grid spatial join plans as an equi-join on the cell key, never BNLJ (q243)") {
    // the whole point of the 3x3 probe expansion is giving Catalyst an equi
    // key; a regression to a distance-predicate-only join would silently plan
    // a broadcast-nested-loop cross product
    val plan = planOf(SparkEntry.queries("q243_grid_spatial_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("disjunctive OR-of-ANDs still plans an equi-join on the common conjunct (q278)") {
    // TPC-H Q19's trap: if the planner can't see p_partkey = l_partkey
    // through the three OR arms it degenerates to a nested-loop cross
    // product. Pin the hash/sort-merge join with the disjunction as a
    // residual condition or post-join filter.
    val plan = planOf(SparkEntry.queries("q278_tpch_q19")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("HAVING-over-scalar-subquery executes the subquery once, never per group (q291)") {
    // TPC-H Q11's trap: the global-total scalar subquery must plan as ONE
    // Subquery node feeding the Filter, not a re-aggregation per group. A
    // per-row/per-group execution would show no Subquery node at all (it
    // would be inlined under a nested-loop) — pin exactly one, plus the
    // absence of any nested-loop join.
    val plan = planOf(SparkEntry.queries("q291_tpch_q11")(spark, sf))
    // each subquery id prints twice (expression ref + node header) — count
    // DISTINCT ids: exactly one subquery plan, no ReusedSubquery duplicates
    val ids = "Subquery subquery#(\\d+)".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(ids.size == 1, plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("nested IN + correlated scalar subquery fully decorrelates (q292)") {
    // TPC-H Q20's shape: outer IN -> semi-join, inner IN -> semi-join, and
    // the two-column-correlated scalar subquery -> an aggregate joined back
    // on its correlation keys. Nothing may remain as a per-row probe: no
    // nested-loop join, no unresolved in-subquery in the executed plan.
    val plan = planOf(SparkEntry.queries("q292_tpch_q20")(spark, sf))
    assert("LeftSemi".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.toLowerCase.contains("in-subquery"), plan.take(3000))
  }

  test("EXISTS + correlated NOT EXISTS plan as semi + anti hash joins (q293)") {
    // TPC-H Q21's shape: EXISTS -> LeftSemi, NOT EXISTS (correlated on the
    // order key AND an outer-date inequality) -> LeftAnti with the non-equi
    // lateness predicate as a join filter — never a per-row re-scan of
    // lineitem per outer row.
    val plan = planOf(SparkEntry.queries("q293_tpch_q21")(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("correlated min-cost subquery decorrelates to an aggregate-join (q294)") {
    // TPC-H Q2's trap: `cost = (SELECT min(...) WHERE ps2.pk = p_partkey)`
    // must rewrite to a grouped-min aggregate joined back on the part key —
    // a per-outer-row re-execution of the region chain would surface as a
    // nested-loop join. Only equi joins may remain.
    val plan = planOf(SparkEntry.queries("q294_tpch_q2")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("top-supplier max gate plans as one scalar subquery, not per row (q299)") {
    // TPC-H Q15: the revenue CTE feeds both the join and the
    // = (SELECT max(...)) gate; the max must be ONE one-row subquery plan
    // (distinct subquery id count 1 — a ReusedSubquery under the same id is
    // the desired sharing), never an inlined nested-loop re-aggregation.
    val plan = planOf(SparkEntry.queries("q299_tpch_q15")(spark, sf))
    val ids = "Subquery subquery#(\\d+)".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(ids.size == 1, plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("NOT IN excluded-supplier set plans as a null-aware anti join (q300)") {
    // TPC-H Q16's trap: NOT IN is null-sensitive, and the naive plan is a
    // per-row probe of the supplier subquery. Spark's single-column
    // null-aware anti join keeps it a hash build — pin LeftAnti with no
    // nested-loop fallback.
    val plan = planOf(SparkEntry.queries("q300_tpch_q16")(spark, sf))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("incremental dedup probes buckets with equi joins only (q301)") {
    // The delta-vs-corpus screen must never degenerate to a nested-loop
    // over the corpus: band probe and verification joins are all equi.
    val plan = planOf(SparkEntry.queries("q301_incremental_dedup")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("Misra-Gries sketch plans as ObjectHashAggregate with partial merge (q302)") {
    // The TypedImperativeAggregate must take the ObjectHashAggregate path
    // (map-side partial buffers through the shuffle), not sort-based
    // fallback — that buffer-not-rows shuffle IS the operator's scale claim.
    val plan = planOf(SparkEntry.queries("q302_token_heavy_hitters")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("misra_gries_agg"), plan.take(3000))
  }

  test("Count-Min sketch plans as ObjectHashAggregate, sketch in its OWN aggregation (q306)") {
    // Same path contract as q302, plus the q09 doctrine: the 4x1024-counter
    // buffer must ride a single-group ObjectHashAggregate (one buffer per
    // partition), and must NOT share an aggregation with the exact
    // calibration groupBy (which would carry the 32 KiB buffer per token
    // group through the shuffle).
    val plan = planOf(SparkEntry.queries("q306_count_min_calibration")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("count_min_agg"), plan.take(3000))
    assert(!plan.contains("Expand"), plan.take(3000))
  }

  test("KMV sketch rides the bounded TopKAgg heap, one distinct shuffle (q308)") {
    // The k-minima must come from the ObjectHashAggregate TypedImperative
    // heap (O(k) state per partition), never a per-lang sort of the
    // vocabulary: no Sort over the distinct (lang, hs) frame except the
    // final 5-row output ordering, and no window (row_number) fallback.
    val plan = planOf(SparkEntry.queries("q308_kmv_distinct_sketch")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("topk_agg"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("AMS F2 sketch is ONE codegen aggregate pass, never an Expand (q309)") {
    // Nine sign-sums + n must ride a single hash aggregate over the scan:
    // an Expand (one input row per estimator, the oracle's CROSS JOIN
    // shape) would multiply the shuffled rows by depth.
    val plan = planOf(SparkEntry.queries("q309_ams_f2_sketch")(spark, sf))
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("Expand"), plan.take(3000))
  }

  test("join-view refresh broadcasts every delta term, history never shuffles (q311)") {
    // The three delta joins must all be BroadcastHashJoin (delta side
    // built, base side streamed map-only); a SortMergeJoin would mean a
    // full history shuffle at refresh — the cost IVM exists to avoid.
    val df = SparkEntry.queries("q311_join_view_maintenance")(spark, sf)
    val plan = planOf(df)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected >=3 broadcast delta joins, got $bhj:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q311's delta broadcast is SIZE-GATED: a fat delta degrades to a " +
       "shuffle join with the same result, never a driver OOM") {
    // the gate reads graft.delta.broadcastBound per call; shrinking it to 1
    // byte simulates a delta that outgrew the refresh-size contract
    def hints(df: DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    val hinted = SparkEntry.queries("q311_join_view_maintenance")(spark, sf)
    assert(hints(hinted) >= 3, "contract-sized deltas must keep their hints")
    val expected = hinted.collect().toSeq
    spark.conf.set("graft.delta.broadcastBound", "1")
    try {
      val gated = SparkEntry.queries("q311_join_view_maintenance")(spark, sf)
      assert(hints(gated) === 0,
        "a delta estimated over the bound must lose its broadcast hint")
      assert(gated.collect().toSeq === expected) // degraded plan, same view
    } finally spark.conf.unset("graft.delta.broadcastBound")
  }

  test("month-dim join plans a DynamicPruningSubquery on the fact scan (q317)") {
    // The dim's 1996 filter sits on o_orderdate, NOT the join key, so no
    // static constraint propagation can reach the fact side: the partition
    // filter must be manufactured at RUN time (dynamicpruning in the scan's
    // PartitionFilters, reusing the broadcast). Without it the scan reads
    // all ~84 ship-month directories.
    val df = SparkEntry.queries("q317_dynamic_partition_pruning")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("unpivot melts through one Expand projection, no shuffle added (q225)") {
    val df = SparkEntry.queries("q225_unpivot_melt")(spark, sf)
    val plan = planOf(df)
    // Dataset.unpivot lowers to Expand: each row emits its metric rows in
    // place — the plan must show Expand and exactly the aggregate's own
    // exchanges (grouping + final orderBy), no extra one for the melt
    assert(plan.contains("Expand"), plan.take(3000))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 3, s"unexpected exchange count $exchanges:\n" + plan.take(3000))
  }

  test("the sketch catalog's verdict flips the physical join strategy (q346)") {
    // Default bound: every build side fits → both stages decide broadcast,
    // and the query's own plan census (BroadcastHashJoin count over the
    // planned tree) must agree with its decisions — the oracle pins the
    // same invariant, this pins the FLIP, which the fixed-corpus oracle
    // can't exercise.
    val run = SparkEntry.queries("q346_catalog_planned_join")
    val base = run(spark, sf).collect().sortBy(_.getLong(0))
    assert(base.forall(_.getAs[String]("decision") == "broadcast"),
      base.mkString("\n"))
    assert(base.head.getAs[Long]("n_broadcast_in_plan") == 2L,
      base.mkString("\n"))
    // Bound of 1 byte: the same catalog now verdicts shuffle; the merge
    // hint must defeat Spark's own auto-broadcast (the corpus is tiny, so
    // without enforcement the plan would stay BroadcastHashJoin and the
    // census would read 2, not 0)
    spark.conf.set("graft.catalog.broadcastByteBound", "1")
    try {
      val flipped = run(spark, sf).collect().sortBy(_.getLong(0))
      assert(flipped.forall(_.getAs[String]("decision") == "shuffle"),
        flipped.mkString("\n"))
      assert(flipped.head.getAs[Long]("n_broadcast_in_plan") == 0L,
        flipped.mkString("\n"))
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }

  test("the CatalogJoinHints RULE plans the unhinted join from the catalog (q348)") {
    // same contract as q346's flip test, but the query carries ZERO hints:
    // the injected rule must read the catalog off the metadata-marked keys
    // and stamp the strategy itself — in both directions of the bound
    val run = SparkEntry.queries("q348_rule_planned_join")
    val base = run(spark, sf).collect().sortBy(_.getLong(0))
    assert(base.forall(_.getAs[String]("decision") == "broadcast"), base.mkString("\n"))
    assert(base.head.getAs[Long]("n_broadcast_in_plan") == 2L,
      base.mkString("\n"))
    spark.conf.set("graft.catalog.broadcastByteBound", "1")
    try {
      // the rule's SHUFFLE_MERGE stamp must defeat auto-broadcast on this
      // tiny corpus, exactly like q346's hand-written merge hint
      val flipped = run(spark, sf).collect().sortBy(_.getLong(0))
      assert(flipped.forall(_.getAs[String]("decision") == "shuffle"),
        flipped.mkString("\n"))
      assert(flipped.head.getAs[Long]("n_broadcast_in_plan") == 0L,
        flipped.mkString("\n"))
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }

  test("the deep rule plans a DEPTH-2 intermediate from the catalog (q351)") {
    // q348's contract one level deeper: stage 3's build side is a
    // join-of-join whose size exists in no row count — the recursive
    // estimator must still produce decisions, and the bound flip must
    // flip the physical strategy on ALL THREE stages
    val run = SparkEntry.queries("q351_deep_rule_planned_join")
    val base = run(spark, sf).collect().sortBy(_.getLong(0))
    assert(base.forall(_.getAs[String]("decision") == "broadcast"), base.mkString("\n"))
    assert(base.head.getAs[Long]("n_broadcast_in_plan") == 3L,
      base.mkString("\n"))
    spark.conf.set("graft.catalog.broadcastByteBound", "1")
    try {
      val flipped = run(spark, sf).collect().sortBy(_.getLong(0))
      assert(flipped.forall(_.getAs[String]("decision") == "shuffle"),
        flipped.mkString("\n"))
      assert(flipped.head.getAs[Long]("n_broadcast_in_plan") == 0L,
        flipped.mkString("\n"))
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }

  test("the bound is BYTES, not rows: a many-row narrow side still broadcasts (r17 item 1)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, BROADCAST, JoinHint}
    import graft.plans.CatalogJoinHints
    graft.plans.GraftPlans.install(spark)
    // the q351 defect in miniature: the build side is cataloged at 2M rows
    // — OVER the retired 1M-row gate, which stamped an enforced
    // SHUFFLE_MERGE here — but it is one BIGINT column wide, so its
    // broadcast cost is 16 MB, UNDER the 32 MB byte bound: the rule must
    // now stamp an enforced BROADCAST (leaf counts are proven upper
    // bounds, so enforcement is safe)
    val dir = graft.util.Scratch.dir("plan-spec-bytes-cat").toString
    import spark.implicits._
    val sk = Seq.fill(4096)(0L)
    Seq(("big.k", 100000000L, sk), ("dim.k", 2000000L, sk))
      .toDF("rel", "n", "sk").coalesce(1).write.mode("overwrite").parquet(dir)
    def mark(df: org.apache.spark.sql.DataFrame, c: String, key: String) = {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(CatalogJoinHints.KeyMeta, key)
        .putString(CatalogJoinHints.DirMeta, dir).build()
      df.select(col(c).as(c, md))
    }
    val big = mark(spark.range(10).select(col("id").as("bk")), "bk", "big.k")
    val dim = mark(spark.range(10).select(col("id").as("dk")), "dk", "dim.k")
    val q = big.join(dim, col("bk") === col("dk")).agg(count(lit(1)))
    val h = q.queryExecution.optimizedPlan.collectFirst {
      case j: LJoin if j.hint != JoinHint.NONE => j.hint
    }.get
    assert(h.rightHint.flatMap(_.strategy).contains(BROADCAST),
      s"2M rows x 8 bytes = 16 MB <= 32 MB byte bound must broadcast: $h")
  }

  test("CatalogJoinHints estimates non-leaf sides as None — no stamp on a marked aggregate") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.plans.CatalogJoinHints
    graft.plans.GraftPlans.install(spark)
    // minimal staged catalog: counts only (sketches unused on this path)
    val dir = graft.util.Scratch.dir("plan-spec-agg-cat").toString
    import spark.implicits._
    Seq(("events.user_id", 1000L, Seq.fill(4096)(0L)),
        ("orders.o_custkey", 1500L, Seq.fill(4096)(0L)))
      .toDF("rel", "n", "sk").coalesce(1).write.mode("overwrite").parquet(dir)
    def mark(df: org.apache.spark.sql.DataFrame, c: String, key: String) = {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(CatalogJoinHints.KeyMeta, key)
        .putString(CatalogJoinHints.DirMeta, dir).build()
      df.select(col(c).as(c, md))
    }
    // the marked attribute SURVIVES the aggregate (grouping key), but the
    // side's cardinality is no longer the base relation's: the rule must
    // return None and stamp nothing (r15 ADVICE contract). With the bound
    // at 1 row, the OLD base-count fallback would stamp SHUFFLE_MERGE and
    // kill the broadcast; correct behavior leaves auto-broadcast in charge.
    val ev = mark(Tables.events(spark, sf).select(col("user_id")),
        "user_id", "events.user_id")
      .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
    val or = mark(Tables.orders(spark, sf).select(col("o_custkey")),
      "o_custkey", "orders.o_custkey")
    spark.conf.set("graft.catalog.broadcastByteBound", "1")
    try {
      val j = ev.join(or, col("user_id") === col("o_custkey"))
        .agg(count(lit(1)))
      val nBhj = j.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => 1
      }.sum
      assert(nBhj == 1,
        "a marked aggregate side must estimate as None → default planning")
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }

  test("CatalogJoinHints never ENFORCES broadcast off a SCALED estimate (r16 ADVICE)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint, SHUFFLE_MERGE}
    import graft.plans.CatalogJoinHints
    graft.plans.GraftPlans.install(spark)
    // synthetic catalog: every sketch holds value 10 in cell 0 of each
    // depth row, so every marked pair's CM inner product is exactly 100;
    // relation counts make the DEPTH-2 side the build side of the top
    // join with a SCALED estimate (100·100/1000 = 10 rows)
    val dir = graft.util.Scratch.dir("plan-spec-scaled-cat").toString
    import spark.implicits._
    val sk = Seq.tabulate(4096)(i => if (i % 1024 == 0) 10L else 0L)
    Seq(("a.k1", 1000L, sk), ("b.k1", 1000L, sk), ("b.k2", 1000L, sk),
        ("c.k2", 1000L, sk), ("c.k3", 1000L, sk), ("d.k3", 2000L, sk))
      .toDF("rel", "n", "sk").coalesce(1).write.mode("overwrite").parquet(dir)
    def mark(df: org.apache.spark.sql.DataFrame, cs: (String, String)*) =
      df.select(cs.map { case (c, key) =>
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(CatalogJoinHints.KeyMeta, key)
          .putString(CatalogJoinHints.DirMeta, dir).build()
        col(c).as(c, md)
      }: _*)
    val a = mark(spark.range(10).select(col("id").as("ak")), "ak" -> "a.k1")
    val b = mark(spark.range(10).select(col("id").as("bk1"), col("id").as("bk2")),
      "bk1" -> "b.k1", "bk2" -> "b.k2")
    val c3 = mark(spark.range(10).select(col("id").as("ck2"), col("id").as("ck3")),
      "ck2" -> "c.k2", "ck3" -> "c.k3")
    val dd = mark(spark.range(10).select(col("id").as("dk")), "dk" -> "d.k3")
    def topHint(): JoinHint = {
      val q = a.join(b, col("ak") === col("bk1"))
        .join(c3, col("bk2") === col("ck2"))
        .join(dd, col("ck3") === col("dk"))
        .agg(count(lit(1)))
      q.queryExecution.optimizedPlan.collectFirst {
        case j: LJoin => j.hint // pre-order: first Join is the top one
      }.get
    }
    // The build side is the depth-2 intermediate: SCALED estimate 10 rows
    // (400 bytes at width 40), PROVEN upper bound 1000 rows (40000 bytes
    // — the sketch max-frequency chain min(upper_ab·maxf_c, n_c·maxf_b)).
    // Three-bound ladder:
    // 1. bound between estimate and upper (1000 B): the scaled estimate
    //    is under but UNPROVEN — the rule must stamp NOTHING (the r16
    //    asymmetry; engine's runtime size check decides)
    spark.conf.set("graft.catalog.broadcastByteBound", "1000")
    try {
      assert(topHint() == JoinHint.NONE,
        "a scaled under-bound estimate with an over-bound proven upper " +
          "must not enforce a broadcast")
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
    // 2. default bound (32 MB), ABOVE the proven upper: the sketch
    //    max-frequency bound holds without any independence assumption,
    //    so the broadcast is now ENFORCED even off a scaled side (r18 —
    //    the measured mitigation for the contraction factor's
    //    independence assumption)
    locally {
      val h = topHint()
      assert(h.leftHint.flatMap(_.strategy)
        .contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST),
        s"an under-bound PROVEN upper must enforce the broadcast: $h")
    }
    // 3. bound below everything: SHUFFLE_MERGE stays ENFORCED — the
    //    memory-safe direction survives the asymmetry
    spark.conf.set("graft.catalog.broadcastByteBound", "1")
    try {
      val h = topHint()
      assert(h.leftHint.flatMap(_.strategy).contains(SHUFFLE_MERGE),
        s"over-bound scaled estimate must still enforce the shuffle verdict: $h")
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }

  test("the proven bound chains maxf THROUGH intermediates — a base-relation maxf never under-bounds an amplified side (r18 ADVICE high)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, BROADCAST, JoinHint}
    import graft.plans.CatalogJoinHints
    graft.plans.GraftPlans.install(spark)
    // The unsound shape: upper(I2 = (x⋈y)⋈z) used to take the term
    // n_z × maxf_BASE(y.k2) = 500k×1 — but y.k2's frequency inside x⋈y is
    // amplified up to maxf_x(k1) = 1000× by join fan-out, so the true
    // |I2| can reach 5×10^8 rows while the old bound read 500k (20 MB at
    // width 40, UNDER the 32 MB gate): at the top join the old rule then
    // ENFORCED a broadcast of that potentially-huge intermediate. The
    // chained bound multiplies maxf along the carrier path
    // (maxf_y(k2) × maxf_x(k1) = 1000), reads 5×10^8 rows = 20 GB, and
    // the rule must stamp NOTHING (scaled estimate under the byte bound,
    // proven upper above it — the r16 asymmetry's middle rung).
    val dir = graft.util.Scratch.dir("plan-spec-chain-cat").toString
    import spark.implicits._
    def sk(cells: Map[Int, Long]) =
      Seq.tabulate(4096)(i => cells.getOrElse(i % 1024, 0L))
    val even = (lo: Int, hi: Int, v: Long) => (lo until hi).map(_ -> v).toMap
    Seq(
      ("x.k1", 1000000L, sk(even(0, 1000, 1000L))),   // maxf 1000
      ("y.k1", 1000L, sk(even(0, 1000, 1L))),         // maxf 1
      ("y.k2", 1000L, sk(even(0, 1000, 1L))),         // maxf 1
      ("z.k2", 500000L, sk(even(1000, 1010, 50000L))), // disjoint from y.k2
      ("z.k3", 500000L, sk(even(0, 1000, 500L))),
      ("w.k3", 10000000L, sk(even(0, 1000, 10000L))))
      .toDF("rel", "n", "sk").coalesce(1).write.mode("overwrite").parquet(dir)
    def mark(df: org.apache.spark.sql.DataFrame, cs: (String, String)*) =
      df.select(cs.map { case (c, key) =>
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(CatalogJoinHints.KeyMeta, key)
          .putString(CatalogJoinHints.DirMeta, dir).build()
        col(c).as(c, md)
      }: _*)
    val x = mark(spark.range(10).select(col("id").as("xk1")), "xk1" -> "x.k1")
    val y = mark(spark.range(10).select(col("id").as("yk1"), col("id").as("yk2")),
      "yk1" -> "y.k1", "yk2" -> "y.k2")
    val z = mark(spark.range(10).select(col("id").as("zk2"), col("id").as("zk3")),
      "zk2" -> "z.k2", "zk3" -> "z.k3")
    val w = mark(spark.range(10).select(col("id").as("wk3")), "wk3" -> "w.k3")
    val q = x.join(y, col("xk1") === col("yk1"))
      .join(z, col("yk2") === col("zk2"))
      .join(w, col("zk3") === col("wk3"))
      .agg(count(lit(1)))
    val top = q.queryExecution.optimizedPlan.collectFirst {
      case j: LJoin => j.hint // pre-order: first Join is the top one
    }.get
    assert(!top.leftHint.flatMap(_.strategy).contains(BROADCAST) &&
      !top.rightHint.flatMap(_.strategy).contains(BROADCAST),
      s"the amplified intermediate must not get an ENFORCED broadcast off " +
        s"its children's base-relation maxf: $top")
    assert(top == JoinHint.NONE,
      s"scaled under-bound estimate + over-bound chained upper = middle " +
        s"rung, stamp nothing: $top")
  }

  test("v2 distinct-count stats raise a correlated SCALED estimate to the containment lane (q359 rule integration)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint, SHUFFLE_MERGE}
    import graft.plans.CatalogJoinHints
    graft.plans.GraftPlans.install(spark)
    // the scaled-ladder topology (a⋈b)⋈c ⋈ d, with the v2 `nd` column
    // staged: the depth-2 intermediate's CM-scaled estimate is 10 rows
    // (the independence assumption's under-count), but b.k2/c.k2 have
    // only 10 distinct values, so the containment estimate is
    // 100×1000/10 = 10000 rows — 400 KB at width 40, OVER a 1 KB bound.
    // With v1 stats the rule stamped nothing here (rung 2); with the nd
    // column the estimate rises and the memory-safe SHUFFLE verdict is
    // enforced. The OTHER side (d, 2000×8 = 16 KB) is over the bound
    // too, so min(bl, br) > bound → rung 3.
    val dir = graft.util.Scratch.dir("plan-spec-nd-cat").toString
    import spark.implicits._
    val sk = Seq.tabulate(4096)(i => if (i % 1024 == 0) 10L else 0L)
    Seq(("a.k1", 1000L, sk, 1000L), ("b.k1", 1000L, sk, 1000L),
        ("b.k2", 1000L, sk, 10L), ("c.k2", 1000L, sk, 10L),
        ("c.k3", 1000L, sk, 1000L), ("d.k3", 2000L, sk, 2000L))
      .toDF("rel", "n", "sk", "nd").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    def mark(df: org.apache.spark.sql.DataFrame, cs: (String, String)*) =
      df.select(cs.map { case (c, key) =>
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(CatalogJoinHints.KeyMeta, key)
          .putString(CatalogJoinHints.DirMeta, dir).build()
        col(c).as(c, md)
      }: _*)
    val a = mark(spark.range(10).select(col("id").as("ak")), "ak" -> "a.k1")
    val b = mark(spark.range(10).select(col("id").as("bk1"), col("id").as("bk2")),
      "bk1" -> "b.k1", "bk2" -> "b.k2")
    val c3 = mark(spark.range(10).select(col("id").as("ck2"), col("id").as("ck3")),
      "ck2" -> "c.k2", "ck3" -> "c.k3")
    val dd = mark(spark.range(10).select(col("id").as("dk")), "dk" -> "d.k3")
    spark.conf.set("graft.catalog.broadcastByteBound", "1000")
    try {
      val q = a.join(b, col("ak") === col("bk1"))
        .join(c3, col("bk2") === col("ck2"))
        .join(dd, col("ck3") === col("dk"))
        .agg(count(lit(1)))
      val top = q.queryExecution.optimizedPlan.collectFirst {
        case j: LJoin => j.hint
      }.get
      assert(top != JoinHint.NONE &&
        (top.leftHint.flatMap(_.strategy).contains(SHUFFLE_MERGE) ||
          top.rightHint.flatMap(_.strategy).contains(SHUFFLE_MERGE)),
        s"the containment lane must lift the correlated under-count over " +
          s"the bound and enforce the shuffle verdict: $top")
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }

  test("CatalogJoinHints fires only on marked columns — zero blast radius") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    graft.plans.GraftPlans.install(spark)
    // shuffle verdict bound: if the rule fired on this UNMARKED join it
    // would stamp merge and kill the broadcast; Spark's own auto-broadcast
    // (tiny corpus) must remain in charge instead
    spark.conf.set("graft.catalog.broadcastByteBound", "1")
    try {
      val ev = Tables.events(spark, sf).select(col("user_id"))
      val or = Tables.orders(spark, sf).select(col("o_custkey"))
      val j = ev.join(or, col("user_id") === col("o_custkey"))
        .agg(count(lit(1)))
      val nBhj = j.queryExecution.sparkPlan.collect {
        case _: BroadcastHashJoinExec => 1
      }.sum
      assert(nBhj == 1,
        "unmarked join must keep Spark's own planning (auto-broadcast)")
    } finally spark.conf.unset("graft.catalog.broadcastByteBound")
  }
}
