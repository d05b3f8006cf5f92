package graft

import graft.util.{DriverCollect, Sizing}

/** Driver-side helpers that must reject bad input instead of guessing. */
class DriverUtilSpec extends SparkSpec {

  test("SPARK_GRAFT_CONF parsing drops empty keys and blank entries, trims the rest") {
    assert(Sizing.extraConf(" =v;; ;;k = v") === Seq("k" -> "v"))
    assert(Sizing.extraConf(" =v") === Seq.empty)
    assert(Sizing.extraConf("; ;") === Seq.empty)
    assert(Sizing.extraConf("k = v") === Seq("k" -> "v"))
  }

  test("longPairChunks needs exactly two bigint columns and fails before running") {
    val pairs = spark.range(4).selectExpr("id", "id * 2 AS v")
    assert(DriverCollect.longPairChunks(pairs).flatten.grouped(2).map(_.toSeq).toSet ===
      Set(Seq(0L, 0L), Seq(1L, 2L), Seq(2L, 4L), Seq(3L, 6L)))
    Seq(Seq("id", "CAST(id AS STRING) AS v"), Seq("id", "CAST(id AS INT) AS v"),
        Seq("id"), Seq("id", "id AS v", "id AS w"))
      .foreach { cols =>
        intercept[IllegalArgumentException](
          DriverCollect.longPairChunks(spark.range(4).selectExpr(cols: _*)))
      }
  }
}
