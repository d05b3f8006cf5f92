package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, session_window}
import org.apache.spark.sql.streaming.Trigger

/** The set-up every entry point (`Bench`, `Verify`, `ProfileQuery`,
  * `PlanDump`, `Smoke`, `ScaleData`) runs through, so their timings and
  * plans come from the same session, the same query selection and the
  * same warm-up.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (corpus, default sf0.1), `SPARK_GRAFT_CPUS`
  * (local cores and shuffle width, default 4), `SPARK_GRAFT_CONF` (extra
  * `k=v;k=v` session conf, e.g. tier-forcing or AQE skew thresholds),
  * `SPARK_GRAFT_ONLY` (comma-separated query names or `qNN` ids). */
object Harness {
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with as many shuffle partitions, a UTC session clock
    * (`Tables.events` re-tags µs-NTZ parquet assuming it), no UI, the
    * shared sizing of [[util.Sizing.configureAdaptiveWidths]] (codegen
    * cache, corpus-scaled AQE widths) and the `SPARK_GRAFT_CONF`
    * pass-through. */
  def session(sfDir: String, cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    util.Sizing.configureAdaptiveWidths(builder, sfDir, cpus)
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(util.Sizing.extraConf)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY`'s tokens: split on commas, trimmed, blanks dropped. */
  def tokens(only: Option[String]): Seq[String] =
    only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The registered queries `only` names. A token selects the query it
    * equals and every query named `token_…`, so `q31` is q31_theta_join
    * and not q310_kcore_peeling. No token at all selects the whole
    * registry; a token that selects nothing is fatal, naming it, so a
    * misspelt selection fails before any session starts instead of
    * running an empty board. */
  def select(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = SparkEntry.queries
    val ts = tokens(only)
    def hit(t: String, name: String) = name == t || name.startsWith(t + "_")
    val unknown = ts.filterNot(t => all.keys.exists(hit(t, _)))
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names no registered query: ${unknown.mkString(", ")}")
    if (ts.isEmpty) all else all.filter { case (n, _) => ts.exists(hit(_, n)) }
  }

  /** Untimed warm-up, so the first measured query measures the query and
    * not JVM start-up: codegen/JIT, the Hadoop FS layer and the vectorized
    * parquet reader, then the Structured Streaming machinery twice (a rate
    * stream; a file stream with watermark, session window and the RocksDB
    * state store, whose first-touch provider/JNI cost otherwise lands in
    * the first timed streaming query), then the streaming band's file
    * corpus when a selected query reads it. A non-fatal failure prints a
    * breadcrumb and leaves the run going; a fatal one propagates. */
  def warm(spark: SparkSession, sfDir: String, selected: Iterable[String]): Unit =
    try {
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val q = spark.readStream.format("rate").option("numPartitions", "1").load()
        .groupBy().count()
        .writeStream.format("memory").queryName("bench_warmup")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      // stop() in finally: an awaitTermination timeout must not leave the
      // warm-up stream running under the first timed queries
      try q.awaitTermination(15000) finally q.stop()
      val wdir = util.Scratch.dir("graft-bench-warmup").toString
      spark.range(200).selectExpr("id AS user_id",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts")
        .write.mode("overwrite").parquet(wdir)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val savedProvider = spark.conf.getOption(providerKey)
      try {
        spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val wq = spark.readStream
          .schema(spark.read.parquet(wdir).schema).parquet(wdir)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
          .count()
          .writeStream.format("memory").queryName("bench_warmup_stream")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        try wq.awaitTermination(20000) finally wq.stop()
      } finally savedProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      // one-time staging (~30 s at sf10) that would otherwise be paid
      // inside the first file-stream query's measured reps
      if (selected.exists(streaming.StreamingOps.FileStreamQueries.contains))
        streaming.StreamingOps.preStageEvents(spark, sfDir)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] ${java.time.Instant.now()} warm-up FAILED: $e")
    }

  /** Drop every cache a query left behind: orphaned one-action listeners
    * first, then the CacheManager entries (a bare RDD unpersist leaves
    * stale InMemoryRelations that later matching plans recompute through),
    * then any persisted RDD that bypassed the CacheManager. */
  def sweep(spark: SparkSession): Unit = {
    util.CacheOnce.sweepAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in an oracle SQL string would otherwise make every
    * JSON reader of `oracle_sql.json` fail, and with it the oracle check.
    * (Unit-tested in VerifySpec against a real JSON parser.) */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
