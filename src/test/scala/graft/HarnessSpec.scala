package graft

import org.apache.spark.storage.StorageLevel

/** The one query selector and cache sweep every entry point shares,
  * checked on the suite's shared session. */
class HarnessSpec extends SparkSpec {

  private def names(only: String): Set[String] = Harness.select(Some(only)).keySet

  test("a token selects its exact name or its `token_…` family, never a longer id") {
    assert(names("q03_join_agg") === Set("q03_join_agg"))
    assert(names("q03") === Set("q03_join_agg"))
    assert(names("q31") === Set("q31_theta_join"))
    assert(names("q310") === Set("q310_kcore_peeling"))
    assert(names("q03,q310_kcore_peeling") === Set("q03_join_agg", "q310_kcore_peeling"))
  }

  test("blank tokens are dropped; no token at all selects the whole registry") {
    assert(names(" q03 , ,\t,") === Set("q03_join_agg"))
    val all = SparkEntry.queries.keySet
    assert(Harness.select(None).keySet === all)
    Seq("", " ", " , ,").foreach(s => assert(names(s) === all, s"'$s'"))
  }

  test("a token that names no registered query fails, naming it") {
    val e = intercept[IllegalArgumentException](Harness.select(Some("q03,q9999,q03_")))
    assert(e.getMessage.endsWith("names no registered query: q9999, q03_"), e.getMessage)
  }

  test("sweep leaves no persisted frame, RDD or pending one-action listener") {
    val df = util.CacheOnce.persistForOneAction(spark.range(100).selectExpr("id * 2 AS v"))
    val rdd = spark.sparkContext.parallelize(1 to 10).persist()
    rdd.count()
    assert(df.storageLevel !== StorageLevel.NONE)
    assert(util.CacheOnce.pendingCount > 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.sweep(spark)
    assert(df.storageLevel === StorageLevel.NONE)
    assert(util.CacheOnce.pendingCount === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
