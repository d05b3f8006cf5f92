package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import SinkAggFixture._

/** Grouped COUNT(*)/MIN/MAX answered inside the sink scan: the analyst
  * read's plan and Spark jobs, and the shapes the scan refuses, which keep
  * Spark's own aggregate and exchange. */
class SinkAggSpec extends graft.SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-sinkagg").toString

  private def read(dir: String): DataFrame =
    spark.read.format(FormSinkSource.Format).option("path", dir).load()

  /** A sink of one `seed`-row file and then `ticks` files of 100 rows. */
  private def ticked(seed: Int, ticks: Int): String = {
    val dir = tmp()
    append(dir, (0L until seed).map(sourceRow))
    (0 until ticks).foreach { t =>
      append(dir, (seed + 100L * t until seed + 100L * (t + 1)).map(sourceRow))
    }
    dir
  }

  /** Per charge code, the rows of `0 until n`. */
  private def chargeCounts(n: Long): Map[String, Long] =
    (0L until n).groupBy(i => s"C${i % 7}").map { case (c, is) => c -> is.size.toLong }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString()

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The plan Spark makes without the sink's help: no aggregate pushed, and
    * its own exchange. */
  private def assertRefused(df: DataFrame): Unit = {
    val p = plan(df)
    assert(p.contains("PushedAggregates: []") && p.contains("Exchange"), p.take(2500))
  }

  test("a 100k-row sink with 20 ticks reads count(*) by charge_code in one job and one task") {
    val dir = ticked(100000, 20)
    val df = read(dir).groupBy("charge_code").count()
    val p = plan(df)
    assert(p.contains("PushedAggregates: [COUNT(*)], PushedGroupBy: [charge_code]"), p.take(2500))
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"), p.take(2500))
    val (got, jobs, tasks) = jobsAndTasks(counts(df))
    assert((jobs, tasks) === ((1, 1)))
    assert(got === chargeCounts(102000))
    assert(FormSinkSource.lastScanFileCensus === ((21, 21)))
    // composed over the pushed aggregate: Spark aggregates the groups
    assert(read(dir).groupBy("charge_code").count().count() === 7L)
    assert(read(dir).groupBy("charge_code").count().agg(sum("count")).head().getLong(0) === 102000L)
  }

  test("grouped MIN/MAX over two keys, null groups, and an empty snapshot") {
    val dir = tmp()
    val rows = Seq(
      Seq("a", null, "x", "C1", "U1"), Seq("a", null, "x", "C1", "U3"),
      Seq(null, null, "y", null, "U2"), Seq(null, "d", "y", null, null),
      Seq("a", "e", "x", "C2", "U0"))
    append(dir, rows.take(3))
    append(dir, rows.drop(3))
    val df = read(dir).groupBy("vendor", "charge_code")
      .agg(min("po_number"), max("po_number"), count(lit(1)), max("description"))
    assert(plan(df).contains("PushedGroupBy: [vendor, charge_code]"), plan(df).take(2500))
    assert(df.collect().toSet === Set(
      Row("a", "C1", "U1", "U3", 2L, null), Row(null, null, "U2", "U2", 2L, "d"),
      Row("a", "C2", "U0", "U0", 1L, "e")))
    // version 0 and a never-written table: no groups, not one empty group
    val empty = spark.read.format(FormSinkSource.Format).option("path", dir)
      .option("versionAsOf", 0L).load().groupBy("charge_code").count()
    assert(plan(empty).contains("PushedGroupBy: [charge_code]"), plan(empty).take(2500))
    assert(empty.collect().isEmpty)
    assert(read(tmp()).groupBy("charge_code").agg(max("vendor")).collect().isEmpty)
  }

  test("sink scans joined to a broadcast dimension offer runtime filters on their output columns only") {
    val dir = ticked(1000, 3)
    // a selective dimension over a base relation, the shape dynamic
    // pruning rewards: charge codes C3 and C4
    val dim = graft.Tables.orders(spark, sf).filter(col("o_orderkey").between(3, 4))
      .select(expr("printf('C%d', o_orderkey)").as("charge_code"))
    val want = chargeCounts(1300).filter { case (c, _) => c == "C3" || c == "C4" }
    // the join infers isnotnull(charge_code), a filter, so the aggregate is
    // Spark's over a row scan of charge_code alone, which takes the runtime
    // filter; offering the four pruned columns failed to plan
    val grouped = read(dir).groupBy("charge_code").count().join(broadcast(dim), "charge_code")
    assert(plan(grouped).contains("dynamicpruning"), plan(grouped).take(2500))
    assert(counts(grouped) === want)
    val rows = read(dir).select("charge_code", "po_number").join(broadcast(dim), "charge_code")
    assert(rows.collect().groupBy(_.getString(0)).map { case (c, rs) => c -> rs.length.toLong } === want)
    // a pushed grouped scan outputs its group column and the aggregates
    val pushed = read(dir).groupBy("charge_code").count().queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
    assert(pushed.filterAttributes().map(_.fieldNames.mkString(".")).toSeq === Seq("charge_code"))
  }

  test("a filtered grouped read keeps Spark's aggregate: every filter stays a residual") {
    val dir = ticked(1000, 3)
    val filtered = read(dir).filter(col("po_number") > "U000001099D")
      .groupBy("charge_code").count()
    assertRefused(filtered)
    assert(counts(filtered) === chargeCounts(1300).map { case (c, n) =>
      c -> (n - chargeCounts(1100)(c)) })
    // the ungrouped watermark aggregate is not pushed under a filter either
    val wm = read(dir).filter(col("charge_code") === "C1").agg(max("po_number"))
    assert(plan(wm).contains("PushedAggregates: []"), plan(wm).take(2500))
  }

  test("row-level scans keep Spark's aggregate: a function or a group key the sink cannot answer") {
    val dir = ticked(1000, 3)
    val distinctPos = read(dir).groupBy("charge_code").agg(countDistinct("po_number"))
    assertRefused(distinctPos)
    assert(counts(distinctPos) === chargeCounts(1300))
    val byExpr = read(dir).groupBy(substring(col("charge_code"), 2, 1)).count()
    assertRefused(byExpr)
    assert(counts(byExpr) === chargeCounts(1300).map { case (c, n) => c.drop(1) -> n })
  }

  test("31 tick files read in one task; 32 exceed one split and read in parallel") {
    val dir = ticked(100, 30)
    val one = read(dir).groupBy("charge_code").count()
    assert(plan(one).contains("PushedGroupBy: [charge_code]"), plan(one).take(2500))
    assert(counts(one) === chargeCounts(3100))
    append(dir, (3100L until 3200L).map(sourceRow))
    val many = read(dir).groupBy("charge_code").count()
    assertRefused(many)
    val (got, _, tasks) = jobsAndTasks(counts(many))
    assert(got === chargeCounts(3200))
    assert(tasks > 1, tasks)
  }

  test("a snapshot over the projected-bytes limit keeps Spark's aggregate") {
    val dir = ticked(2000, 2)
    val bytes = FormSinkSource.snapshotInfo(dir)._2
      .map(n => Files.size(java.nio.file.Paths.get(dir, n))).sum
    // one column of five is read: a fifth of the files' bytes
    val projected = bytes / 5
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    def at(limit: Long): DataFrame = {
      spark.conf.set(key, limit.toString)
      try {
        val df = read(dir).groupBy("charge_code").count()
        df.queryExecution.executedPlan
        df
      } finally spark.conf.unset(key)
    }
    val inside = at(projected)
    assert(plan(inside).contains("PushedGroupBy: [charge_code]"), plan(inside).take(2500))
    val over = at(projected - 1)
    assertRefused(over)
    assert(counts(inside) === chargeCounts(2200) && counts(over) === chargeCounts(2200))
    // MIN/MAX over a second column reads two of five: twice the bytes
    val twoCols = (limit: Long) => {
      spark.conf.set(key, limit.toString)
      try plan(read(dir).groupBy("charge_code").agg(max("po_number")))
      finally spark.conf.unset(key)
    }
    assert(twoCols(bytes * 2 / 5).contains("PushedGroupBy"))
    assert(twoCols(bytes * 2 / 5 - 1).contains("PushedAggregates: []"))
  }
}
