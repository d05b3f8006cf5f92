package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.types.TimestampType

/** What a warm session must not redo: compile a generated class it already
  * compiled, or re-infer the schema of a table it already read. */
class SessionReuseSpec extends SparkSpec {

  /** The benchmark's mixed pass: one registry query per ops module. */
  private val mix = Seq("q310", "q339", "q146", "q44", "q151", "q263", "q03")

  /** Janino compilations `body` ran. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** A second pass may still compile a class or two, but only ones the
    * first pass never generated: Spark picks some plan details per run.
    * q263's two `count(DISTINCT …)` are expanded in a hash order of their
    * fresh expression ids (a variant of 3 classes: the expand stage on the
    * driver and on the executor, and an executor-side projection), and
    * q44's self-join broadcasts whichever side's stage finishes first (2
    * classes), so a pass meets each unseen variant at most once. A cache
    * smaller than the pass recompiles nearly all of it: ~175 of ~185
    * classes per pass at Spark's default of 100. */
  test("the session's codegen cache holds a mixed pass: a second pass recompiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      util.Sizing.CodegenCacheEntries.toString)
    val queries = Harness.select(Some(mix.mkString(","))).toSeq.sortBy(_._1)
    assert(queries.size === mix.size)
    def pass(): Unit = queries.foreach { case (_, fn) =>
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      Harness.sweep(spark)
    }
    val first = compiles(pass())
    val second = compiles(pass())
    assert(second <= 5, s"first pass compiled $first classes")
  }

  private def copyTable(from: String, dir: String, name: String): Unit =
    Files.copy(Paths.get(sf, s"$from.parquet"), Paths.get(dir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  test("a table's schema is inferred once; a rewritten file re-infers") {
    val dir = util.Scratch.dir("graft-tables").toString
    copyTable("region", dir, "region")
    val first = Tables.region(spark, dir)
    val (second, jobs, _) = jobsAndTasks(Tables.region(spark, dir))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.count() === 5L)

    // same name, another table's bytes and a later mtime: a new key
    copyTable("nation", dir, "region")
    val f = Paths.get(dir, "region.parquet")
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 10000L))
    val (rewritten, rejobs, _) = jobsAndTasks(Tables.region(spark, dir))
    assert(rejobs > 0)
    assert(rewritten.schema === spark.read.parquet(s"$sf/nation.parquet").schema)
    assert(rewritten.count() === 25L)
  }

  test("events keeps its ts normalization through the memo") {
    val first = Tables.events(spark, sf)
    val (second, jobs, _) = jobsAndTasks(Tables.events(spark, sf))
    assert(jobs === 0)
    assert(first.schema("ts").dataType === TimestampType)
    assert(second.schema === first.schema)
    assert(second.collect().toSeq === first.collect().toSeq)
  }
}
