package graft.util

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-side resource hygiene for long-lived sessions. A 100 TB deployment
  * runs the driver for days — anything a query leaks per invocation (temp
  * directories, cached frames, file descriptors) is a slow-burn outage, not
  * a cosmetic nit, so leaks are closed centrally here instead of per query.
  */
object Scratch {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val hook: Unit = // lazy: register the shutdown hook once
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(deleteRecursively(_))
    }))

  /** A temp directory that is recursively deleted at JVM exit. Queries that
    * materialize scratch state per invocation (the q90/q100 sink round
    * trips, staged stream corpora) use this so multi-rep benches and long
    * sessions do not accumulate unbounded temp data on disk. */
  def dir(prefix: String): Path = {
    hook
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listEntries(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Fingerprint for per-JVM staging caches: `<dir>@<newest mtime>` over
    * `<dir>/<table>.parquet` and its entries. A directory's own mtime does
    * NOT change when same-named files inside it are overwritten in place, so
    * keying a memoized artifact on the dir path (or its top-level mtime)
    * alone serves stale state after a source regeneration — every staged
    * artifact (bucketed tables, MVs, PNG fixtures, LSH indexes) keys on
    * this instead. */
  def sourceKey(d: String, table: String): String = {
    val src = java.nio.file.Paths.get(d, s"$table.parquet")
    val mts = (src +: listEntries(src))
      .filter(Files.exists(_))
      .map(p => Files.getLastModifiedTime(p).toMillis)
    s"$d@${mts.maxOption.getOrElse(0L)}"
  }

  /** `Files.list` with the stream closed — the raw stream holds a directory
    * file descriptor until GC, which exhausts FDs in a driver doing many
    * scans. Empty for a non-directory. */
  def listEntries(d: Path): Seq[Path] = {
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try {
      val it = s.iterator()
      val buf = Seq.newBuilder[Path]
      while (it.hasNext) buf += it.next()
      buf.result()
    } finally s.close()
  }
}

/** Input-scaled exchange widths (the r15 verdict's q335/q208 fix family).
  * `spark.sql.shuffle.partitions` is a SESSION constant — a dedup or census
  * whose exchange inherits it builds per-task hash tables that grow
  * linearly with the corpus (32 fixed partitions × 10× data = 10× the
  * task's hash table, GC-bound long before it OOMs). Operators whose
  * post-shuffle state is key-proportional size their exchanges from the
  * data instead: rows ÷ target-rows-per-task, floored at the cluster's
  * parallelism (never LESS parallel than the default) and capped so a
  * mis-estimate cannot explode the task count. */
object Sizing {
  /** ~2M rows per post-shuffle task: a (long, long) pair hash table at 2M
    * entries is ~100 MB including object headers — comfortably inside a
    * task's share of executor memory at any sane configuration. */
  val TargetRowsPerTask: Long = 2000000L

  val MaxPartitions: Int = 4096

  /** Partition count for an exchange expected to carry `rows` rows. */
  def exchangePartitions(s: org.apache.spark.sql.SparkSession, rows: Long,
                         perTask: Long = TargetRowsPerTask): Int = {
    val floor = s.sparkContext.defaultParallelism.max(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    math.min(MaxPartitions.toLong,
      math.max(floor.toLong, rows / perTask + 1)).toInt
  }

  /** Corpus-scaled AQE exchange widths for a session over `sfDir` — set on
    * the BUILDER so streaming checkpoints inherit them too.
    *
    * The failure being fixed: `spark.sql.shuffle.partitions` is a session
    * constant, so a pair-explosion dedup at 100× data builds 100× the
    * per-task hash table. The failed first cut (measured, r16): a high
    * `initialPartitionNum` with AQE's DEFAULT parallelismFirst=true is
    * self-defeating — coalescing targets max(total/parallelism, minSize),
    * which always merges back to ~defaultParallelism partitions, so the
    * 1024-way map outputs were pure overhead (q208 +72% at sf1, zero gain
    * anywhere). What actually works: start wide AND coalesce by SIZE
    * (parallelismFirst=false, 8 MB advisory ⇒ ~500k pair-rows per task),
    * so a 5 GB shuffle keeps ~600 partitions while census-sized shuffles
    * merge to a handful.
    *
    * Scope-gated: the initial width is corpusBytes/8MB capped at 1024 —
    * at the gated sf0.1/sf0.01 tiers that is ≤ cpus, and the session keeps
    * stock AQE behavior EXACTLY (zero risk to the official board); the
    * size-first regime only switches on where the fixed width is the
    * proven bottleneck (sf1+). */
  def configureAdaptiveWidths(builder: org.apache.spark.sql.SparkSession.Builder,
                              sfDir: String, cpus: Int): Unit = {
    val bytes =
      try {
        val root = java.nio.file.Paths.get(sfDir)
        Scratch.listEntries(root).flatMap { p =>
          if (java.nio.file.Files.isDirectory(p)) Scratch.listEntries(p)
          else Seq(p)
        }.map(p => try java.nio.file.Files.size(p) catch {
          case _: Throwable => 0L
        }).sum
      } catch { case _: Throwable => 0L }
    val initial = math.min(1024L, bytes / (8L << 20))
    if (initial > cpus) {
      builder
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          initial)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
          "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    }
  }

  /** `SPARK_GRAFT_CONF`'s `k=v;k=v` extra session conf, as pairs: keys
    * and values trimmed, entries without `=` or with an empty key dropped. */
  def extraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.flatMap(kv => kv.split("=", 2).map(_.trim) match {
      case Array(k, v) if k.nonEmpty => Some(k -> v)
      case _                         => None
    })

  /** Spread a per-row-EXPENSIVE stage (codec encode/decode, XML parse,
    * regex surgery, curve-key formatting) across the session's cores.
    *
    * Why this exists (optimization guide §2.5 input skew / §6 split size):
    * each driver table arrives as ONE parquet file ≈ one row group, and a
    * row group is indivisible — `spark.sql.files.maxPartitionBytes` cannot
    * split it, so a bare scan feeds any downstream kernel from a SINGLE
    * task no matter how many cores the session has. Measured on the sf0.1
    * board: q228's four-XPath stage ran 9.5 s in one task; q263's regex
    * surgery 4.2 s. An explicit round-robin exchange of the NARROW
    * pre-kernel rows is the robust fix; callers project to just the kernel
    * inputs first so the exchange ships ids, not payloads (guide §2.3).
    *
    * Scale-adaptive, not a local-mode constant: width = rows/perTask with
    * the session-parallelism floor ([[exchangePartitions]]), so at big SFs
    * — where the scan already yields many tasks — the same exchange acts
    * as a cheap rebalance against uneven input files instead of a bottleneck
    * tuned for local[32]. */
  def spreadKernel(df: DataFrame, rows: Long,
                   perTask: Long = 50000L): DataFrame =
    df.repartition(exchangePartitions(df.sparkSession, rows, perTask))

  private val fileCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** Parquet part-file count of a driver table (memoized, footer-free —
    * a directory listing). Gates [[spreadKernel]] at WIDE-payload call
    * sites: for a one-file corpus the spread is the §2.5 fix, but where
    * the scan already yields many tasks the extra exchange measured a net
    * LOSS on heavy-row pipelines (q350's sf10 ingest), so those sites
    * spread only when the scan is provably serial. */
  def parquetFileCount(d: String, table: String): Int =
    fileCounts.computeIfAbsent(Scratch.sourceKey(d, table) + "/" + table, _ => {
      val p = java.nio.file.Paths.get(s"$d/$table.parquet")
      if (java.nio.file.Files.isDirectory(p))
        Scratch.listEntries(p).count(_.toString.endsWith(".parquet"))
      else 1
    }).intValue()

  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of a driver table from parquet FOOTER metadata — no Spark
    * job runs (the GraphOps.ordersRowCount pattern, generalized): sizing
    * decisions made at query CONSTRUCTION time (bench registration,
    * ExplainDump) must not cost a scan. Memoized on the
    * [[Scratch.sourceKey]] snapshot so a regenerated corpus invalidates. */
  def parquetRowCount(d: String, table: String): Long =
    rowCounts.computeIfAbsent(Scratch.sourceKey(d, table) + "/" + table, _ => {
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
      val fs = p.getFileSystem(conf)
      val parts =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(p)
      parts.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }).longValue()

  private val colMaxes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Max of an integral column from parquet FOOTER statistics — no Spark
    * job runs (the [[parquetRowCount]] doctrine applied to column stats).
    * Sizing decisions that depend on a coordinate DOMAIN (e.g. the q350
    * Hilbert bit budget — the r16 ADVICE bit-aliasing fix) read it here
    * at query-construction time. Returns 0 when no row group carries
    * stats for the column (callers floor their derived budget). */
  def parquetColumnMaxLong(d: String, table: String, column: String): Long =
    colMaxes.computeIfAbsent(
      Scratch.sourceKey(d, table) + "/" + table + "#" + column, _ => {
        import scala.jdk.CollectionConverters._
        val conf = new org.apache.hadoop.conf.Configuration()
        val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
        val fs = p.getFileSystem(conf)
        val parts =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).map(_.getPath)
              .filter(_.getName.endsWith(".parquet")).toSeq
          else Seq(p)
        parts.flatMap { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
            .filter(c => c.getPath.toDotString == column &&
              c.getStatistics != null && !c.getStatistics.isEmpty)
            .map { c =>
              c.getStatistics.genericGetMax match {
                case n: Number => n.longValue()
                case _ => 0L
              }
            }.toSeq
          finally r.close()
        }.maxOption.map(Long.box).getOrElse(java.lang.Long.valueOf(0L))
      }).longValue()
}

/** Size-gated broadcast hints for operators whose small side is small BY
  * CONTRACT, not by construction — e.g. an incremental-maintenance delta,
  * which is refresh-sized in production but could in principle grow with
  * the corpus. An unconditional `broadcast()` turns a fat delta into a
  * driver/executor OOM; gating on the optimizer's size estimate lets it
  * degrade to a shuffle join instead, while leaving the plan untouched for
  * contract-sized deltas. */
object Broadcasts {
  /** Declared delta-size contract: up to this many estimated bytes the
    * delta side is hinted for broadcast (64 MB — comfortably inside
    * executor memory at any sane cluster sizing, and far under Spark's 8 GB
    * broadcast hard limit). Overridable per session via
    * `graft.delta.broadcastBound` so specs can exercise the degradation
    * path without staging gigabytes. */
  val DefaultBound: Long = 64L << 20

  def broadcastIfSmall(df: DataFrame): DataFrame = {
    val bound = df.sparkSession.conf.getOption("graft.delta.broadcastBound")
      .map(_.toLong).getOrElse(DefaultBound)
    // driver-side plan statistics only (file sizes × column-width ratio) —
    // no job runs; conservative: without CBO a filter keeps its child's
    // size estimate, so a delta only loses its hint when the BASE slice
    // outgrows the bound, never the reverse
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(bound)) org.apache.spark.sql.functions.broadcast(df)
    else df
  }
}

object CacheOnce {
  // listeners waiting for their consuming action; swept here as a fallback
  // when the frame is never executed (see sweepAll)
  private val pending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[() => Unit]()

  /** Persist `df` for reuse by multiple branches of ONE downstream action,
    * then unpersist as soon as an action WHOSE PLAN CONSUMES `df` completes
    * (success or failure). Query builders persist-and-return lazily, so
    * they can never unpersist themselves; this hook makes the cache
    * self-cleaning for ad-hoc callers instead of relying on the
    * Bench/Verify inter-query cache sweep. The consumption check matters:
    * an interleaved unrelated action (a harness count, another query) must
    * not drop the cache before its consumer runs. */
  def persistForOneAction(df: DataFrame): DataFrame = {
    val lm = df.sparkSession.listenerManager
    val cached = df.persist()
    // the analyzed subtree the consumer's plan will embed — caching matches
    // plans by sameResult, so the same test identifies our consumer
    val target = cached.queryExecution.analyzed
    lm.register(new QueryExecutionListener {
      listener =>
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      private val sweepFn: () => Unit = () => sweep()
      pending.add(sweepFn)
      private def sweep(): Unit = if (done.compareAndSet(false, true)) {
        cached.unpersist(blocking = false)
        lm.unregister(listener)
        pending.remove(sweepFn)
      }
      private def consumes(qe: QueryExecution): Boolean =
        // conservative on any analysis hiccup: sweeping too eagerly only
        // costs recomputation, never correctness
        try qe.analyzed.exists(_.sameResult(target))
        catch { case _: Throwable => true }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (consumes(qe)) sweep()
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        if (consumes(qe)) sweep()
    })
    cached
  }

  /** Fallback: drop every still-pending cache and its listener — called by
    * the bench/verify inter-query sweep so a frame that was built but never
    * executed cannot leak its listener (and cache entry) for the session. */
  def sweepAll(): Unit = pending.forEach(f => f())
}
