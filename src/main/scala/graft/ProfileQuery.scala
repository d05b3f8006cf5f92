package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-clock profile of registered queries — the per-stage
  * evidence surface for scale claims (r16 verdict item 2): every Spark job
  * a query materializes (sizing counts, projection/dedup, per-round BSP
  * checkpoints, census aggregates, the final collect) is timed with its
  * short call site, so "every remaining stage is data-proportional" can be
  * CHECKED stage by stage across scale factors instead of asserted from
  * the total. Dev/bench tooling, not part of the query surface.
  *
  * Env: `SPARK_GRAFT_ONLY` (required: the queries to profile, each
  * warm-then-timed in name order in one shared JVM, matching Bench's
  * shared-JVM methodology), and the [[Harness]] session variables. Emits
  * per query ONE JSON line:
  * `{"query":…,"sf":…,"total_sec":…,"rows":…,"jobs":[{"job":id,
  * "site":…,"sec":…},…]}` — jobs in completion order.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    require(Harness.tokens(only).nonEmpty,
      "ProfileQuery profiles the queries SPARK_GRAFT_ONLY names; set it")
    val selected = Harness.select(only).toSeq.sortBy(_._1)
    val sfDir = Harness.sfDir
    val spark = Harness.session(sfDir, Harness.cpus)
    Harness.warm(spark, sfDir, selected.map(_._1))

    val inflight =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    val recording = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (recording.get()) {
          // the last stage's name carries the materializing call site
          val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
          inflight.put(js.jobId, (site, js.time))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(inflight.remove(je.jobId)).foreach { case (site, t0) =>
          done.add((je.jobId, site, (je.time - t0) / 1000.0))
        }
    })
    def sweep(): Unit = { Harness.sweep(spark); System.gc() }
    for ((name, fn) <- selected) {
      // run 0, untimed: JIT + OS page cache over the corpus — the profiled
      // run then matches the bench legs' min-of-reps conditions, so its
      // per-job ratios measure the PLAN, not first-touch disk reads
      fn(spark, sfDir).collect()
      sweep()
      done.clear()
      recording.set(true)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).collect().length
      val totalSec = (System.nanoTime() - t0) / 1e9
      // drain the listener bus before reading `done`: a fixed sleep dropped
      // late JobEnd events on a loaded box (r17 ADVICE) — wait until every
      // queued event is DELIVERED, bounded, and warn instead of silently
      // emitting a partial profile
      val drained =
        org.apache.spark.graft.BusDrain.waitUntilEmpty(spark.sparkContext, 60000L)
      if (!drained || !inflight.isEmpty)
        System.err.println(s"WARN: profile may be incomplete — " +
          s"drained=$drained, ${inflight.size} jobs still in flight at emit")
      recording.set(false)
      val jobsJson = {
        import scala.jdk.CollectionConverters._
        done.asScala.toSeq.sortBy(_._1).map { case (id, site, sec) =>
          f"""{"job":$id,"site":${Harness.jsonQuote(site)},"sec":$sec%.3f}"""
        }.mkString("[", ",", "]")
      }
      println(f"""{"query":${Harness.jsonQuote(name)},"sf":${Harness.jsonQuote(sfDir)},""" +
        f""""total_sec":$totalSec%.3f,"rows":$rows,"jobs":$jobsJson}""")
      inflight.clear()
      sweep()
    }
    spark.stop()
  }
}
