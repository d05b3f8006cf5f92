package perfbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftQuery, SparkEntry}

/** The operator mix: passes over registry queries, one query in flight at a
  * time. Each query is built through `SparkEntry.queries` and written to
  * `noop`, as the repo's board does. The first two passes are untimed: the
  * first writes every output to parquet for the oracle compare, the second
  * warms the JIT.
  */
object Mix {
  final case class Plan(orders: Seq[Seq[String]], minPasses: Int,
                        seconds: Double, data: String)

  /** The ops modules the mix attributes time to. */
  val Modules: Seq[(String, Seq[GraftQuery])] = Seq(
    "GraphOps" -> graft.ops.GraphOps.queries,
    "PipelineOps" -> graft.ops.PipelineOps.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Similarity" -> graft.ops.Similarity.queries,
    "Analytics" -> graft.ops.Analytics.queries,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries,
    "Relational" -> graft.ops.Relational.queries)

  /** Bench's inter-query hygiene, outside every timed region; its full
    * collection doubles as the live-heap sample. */
  private def sweep(spark: SparkSession, heap: LiveHeap): Unit = {
    graft.util.CacheOnce.sweepAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    heap.sample()
  }

  def run(spark: SparkSession, plan: Plan, out: Path, spans: Spans,
          heap: LiveHeap, ref: Reference,
          tracer: Option[Tracer]): Map[String, Any] = {
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val names = plan.orders.head
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val t0 = System.nanoTime()
    names.foreach { q =>
      try spans(s"check:$q", -1) {
        fns(q)(spark, plan.data).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(q).toString)
      } catch { case NonFatal(e) => errors(q) = String.valueOf(e.getMessage).take(300) }
      finally sweep(spark, heap)
    }
    val checkS = (System.nanoTime() - t0) / 1e9
    // untimed warm-up: one pass in the timed passes' form, so the JIT has
    // compiled their plans before the first timed pass (without it the first
    // timed pass cost up to 40% more than the second); a query that fails
    // here fails again, and is recorded, in the timed passes
    val w0 = System.nanoTime()
    names.foreach { q =>
      try fns(q)(spark, plan.data).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
      finally sweep(spark, heap)
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    // another pass starts only if it should end inside the window, so the
    // pass count does not hinge on a pass ending just before the deadline
    var p = 0
    var passNs = 0L
    val start = System.nanoTime()
    def more = p + 1 < plan.orders.size && (p < plan.minPasses ||
      System.nanoTime() - start + passNs < plan.seconds * 1e9)
    while (more) {
      val p0 = System.nanoTime()
      plan.orders(p + 1).foreach { q =>
        // a traced run traces each query in one of two passes, half of them
        // in the first: the later pass's warmer JVM then favours neither side
        val tr = tracer.filter(_ => (names.indexOf(q) + p) % 2 == 1)
        def once(): Unit = try spans(s"query:$q", p) {
          spans.note("traced", tr.isDefined)
          fns(q)(spark, plan.data).write.format("noop").mode("overwrite").save()
        } catch { case NonFatal(_) => () } // recorded on the span
        tr.fold(once())(_(once()))
        sweep(spark, heap)
        ref.sample()
      }
      passNs = System.nanoTime() - p0
      p += 1
    }
    Map(
      "check_s" -> checkS,
      "warm_s" -> warmS,
      "check_errors" -> errors.toMap,
      "oracle" -> names.flatMap(q => oracle.get(q).map(q -> _)).toMap,
      "modules" -> Modules.flatMap { case (m, qs) =>
        qs.map(_.name).filter(names.contains).map(_ -> m) }.toMap)
  }
}
