package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{SchemaResolver, WatermarkEtl}
import graft.sources.FormSinkSource

/** The reference's cron tick, run as a closed loop: read the watermark from
  * the sink, pull the newer submissions from the form-pipeline source, and
  * append them to the sink through the connector's two-phase commit.
  *
  * The source is the engine's `FormPipelineSource`; its physical columns get
  * opaque ids (`field_1`..`field_7`) carrying the sink column names as
  * labels, so every tick resolves labels to columns as the reference does.
  */
object Ticks {
  val SinkColumns: Seq[String] =
    Seq("vendor", "description", "picker_erk", "charge_code", "po_number")
  private val SourceFormat = "graft.sources.FormPipelineSource"
  private val Ids = (1 to 7).map(i => s"field_$i")
  private val PoId = "field_6" // po_number in the source's row model

  final case class Plan(sinkRows: Long, deltas: Seq[Long], minTicks: Int,
                        seconds: Double, setupReps: Int, warmTicks: Int,
                        partitions: Int)

  def source(spark: SparkSession, rows: Long, partitions: Int): DataFrame = {
    val raw = spark.read.format(SourceFormat)
      .option("rows", rows).option("partitions", partitions).load()
    SchemaResolver.withLabels(raw.toDF(Ids: _*), Ids.zip(raw.columns))
  }

  def sink(spark: SparkSession, path: Path): DataFrame =
    spark.read.format(FormSinkSource.Format).option("path", path.toString).load()

  /** One untraced tick: the engine's own incremental run. */
  def tick(spark: SparkSession, rows: Long, partitions: Int, path: Path): Long =
    WatermarkEtl.runIncrement(spark,
      SchemaResolver.select(source(spark, rows, partitions), SinkColumns),
      path.toString, viaConnector = true)

  /** One traced tick, as four separately timed calls: the watermark read,
    * the source scan with the watermark pushed as a literal, label
    * resolution, and the append of the materialized delta. */
  def tracedTick(spark: SparkSession, rows: Long, partitions: Int, path: Path,
                 spans: Spans, op: Int): Long = {
    val wm = spans("etl.watermark", op) {
      val r = WatermarkEtl.watermark(sink(spark, path).select("po_number"))
        .collect().head
      spans.note("files_opened", FormSinkSource.lastScanFileCensus._1)
      Option(r.getString(0)).getOrElse("")
    }
    val (delta, n) = spans("sources.source_scan", op) {
      val src = source(spark, rows, partitions)
      val got = src.filter(col(PoId) > lit(wm)).collect()
      spans.note("rows", got.length)
      (spark.createDataFrame(got.toSeq.asJava, src.schema), got.length.toLong)
    }
    val resolved = spans("etl.resolve", op) {
      SchemaResolver.select(delta, SinkColumns)
    }
    spans("sources.append", op) {
      resolved.orderBy("po_number").write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", path.toString).save()
    }
    n
  }

  def analystRead(spark: SparkSession, path: Path): Map[String, Long] =
    sink(spark, path).groupBy("charge_code").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Every file under the sink: relative path -> (bytes, mtime ns). */
  def listing(root: Path): Map[String, Seq[Long]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> Seq(Files.size(p),
        Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }.toMap
    finally s.close()
  }

  /** Table state at the end of the run, read from the outside: live files,
    * newest manifest size, and staged or unreferenced data files. */
  def tableState(path: Path): Map[String, Any] = {
    val (_, live) = FormSinkSource.snapshotInfo(path.toString)
    val manifests = Paths.get(path.toString, "_manifests")
    val newest = Option(manifests.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("manifest-v")).maxByOption(_.getName)
    val liveSet = live.toSet
    val orphans = Option(path.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !liveSet.contains(f.getName) &&
        (f.getName.endsWith(".parquet") || f.getName.endsWith(".jsonl")))
    val staged = listing(path).keys.count(_.startsWith("_staging"))
    Map("files_live" -> live.size,
      "manifest_bytes" -> newest.map(_.length()).getOrElse(0L),
      "staged_orphans" -> (orphans.size + staged))
  }

  def run(spark: SparkSession, plan: Plan, work: Path, spans: Spans,
          heap: LiveHeap, ref: Reference,
          tracer: Option[Tracer]): Map[String, Any] = {
    val parts = plan.partitions
    // set-up proper: seed the sink through the engine's own tick, several
    // times; the last seeded sink is the one the timed loop grows
    val seeds = (0 until plan.setupReps).map { r =>
      val t0 = System.nanoTime()
      val n = tick(spark, plan.sinkRows, parts, work.resolve(s"sink-$r"))
      require(n == plan.sinkRows, s"seed appended $n rows, expected ${plan.sinkRows}")
      (System.nanoTime() - t0) / 1e9
    }
    val path = work.resolve(s"sink-${plan.setupReps - 1}")
    // untimed warm-up at full scale: a spare seeded sink takes a few ticks
    // and reads, so the JIT has compiled the tick and read paths before the
    // first timed tick
    val warmS = timed {
      val w = work.resolve("sink-0")
      (1 to plan.warmTicks).foreach { k =>
        tick(spark, plan.sinkRows + 10L * k, parts, w)
        if (tracer.isDefined) tracedTick(spark, plan.sinkRows + 10L * k + 5, parts, w,
          new Spans, -1)
        analystRead(spark, w)
      }
      (0 until plan.setupReps - 1).foreach(r =>
        graft.util.Scratch.deleteRecursively(work.resolve(s"sink-$r")))
    }

    val snapshots = Seq.newBuilder[Map[String, Seq[Long]]]
    snapshots += listing(path)
    var rows = plan.sinkRows
    var k = 0
    val t0 = System.nanoTime()
    def more = k < plan.deltas.size &&
      (k < plan.minTicks || System.nanoTime() - t0 < plan.seconds * 1e9)
    while (more) {
      rows += plan.deltas(k)
      // a traced run alternates traced and untraced ticks, so the tracing
      // overhead is measured inside one run against the same history
      val tr = tracer.filter(_ => k % 2 == 1)
      def traceIf(body: => Unit): Unit = tr.fold(body)(_(body))
      traceIf {
        try spans("tick", k) {
          spans.note("planned", plan.deltas(k))
          spans.note("traced", tr.isDefined)
          val n =
            if (tr.isDefined) tracedTick(spark, rows, parts, path, spans, k)
            else tick(spark, rows, parts, path)
          spans.note("appended", n)
        } catch { case NonFatal(_) => () } // recorded on the span
        if (k < plan.minTicks) snapshots += listing(path)
        try spans("read", k) {
          val counts = analystRead(spark, path)
          spans.note("files_opened", FormSinkSource.lastScanFileCensus._1)
          spans.note("counts", counts)
        } catch { case NonFatal(_) => () }
      }
      heap.sample()
      ref.sample()
      k += 1
    }

    val end = sink(spark, path)
      .agg(count(lit(1)), countDistinct(col("po_number")),
        min(col("po_number")), max(col("po_number")))
      .collect().head
    Map(
      "warm_s" -> warmS, "seed_s" -> seeds,
      "snapshots" -> snapshots.result(),
      "final" -> Map("rows" -> end.getLong(0), "distinct_po" -> end.getLong(1),
        "min_po" -> end.getString(2), "max_po" -> end.getString(3)),
      "table" -> tableState(path))
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}
