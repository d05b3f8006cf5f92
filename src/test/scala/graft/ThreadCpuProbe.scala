package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Where a cron cycle's and an operator mix's CPU goes, by JVM thread
  * class: JIT compiler, executor task, driver (`main`), Spark's driver
  * services (scheduler, listener bus, RPC dispatch), GC, and the rest.
  * Each thread's user + system time is read from `/proc/self/task/<tid>/stat`
  * (Linux, clock ticks of 10 ms) before and after each measured operation;
  * a thread that exits inside the window loses its time to
  * "unattributed", the gap to the process total of `/proc/self/stat`.
  *
  * {{{
  * sbt "Test/runMain graft.ThreadCpuProbe tick"   # 20 ticks + analyst reads
  * sbt "Test/runMain graft.ThreadCpuProbe mix"    # the seven-query mix
  * }}}
  *
  * `tick` runs the cron cycle of the benchmark's `tick_small` workload in
  * its session form (`local[4]`, 4 shuffle partitions): a 100k-row sink
  * seeded by one engine tick, five warm-up cycles, then 20 measured cycles
  * of a ~100-row tick (`WatermarkEtl.runIncrement` through the connector
  * from the form-pipeline source with labelled opaque columns) and an
  * analyst read (`count(*)` by `charge_code`). `mix` runs the `query_mix`
  * workload's seven registry queries on `perfbench/fixture` through
  * `Harness.session`: one pass to warm, then two measured passes, each
  * query written to `noop`. Prints one markdown table per measured
  * operation kind. */
object ThreadCpuProbe {
  private val ClockTicksMs = 10L

  /** Spark's driver-side service threads, by `comm` prefix. */
  private val SparkServices = Seq("dag-scheduler", "spark-listener", "dispatcher-",
    "task-result-get", "element-trackin", "Spark Context C", "Sweeper thread")

  /** Thread class of a thread's `comm` (its name, cut to 15 bytes). The
    * thread running `main` keeps the launcher's name, `java`. */
  private def classOf(comm: String): String =
    if (comm.contains("CompilerThre")) "JIT compiler"
    else if (comm.startsWith("Executor task")) "executor tasks"
    else if (comm == "java" || comm == "main") "driver (main)"
    else if (SparkServices.exists(comm.startsWith)) "Spark driver services"
    else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "GC"
    else "other"

  /** tid -> (comm, user + system clock ticks) of every live thread. */
  private def threads(): Map[String, (String, Long)] =
    graft.util.Scratch.listEntries(Paths.get("/proc/self/task")).flatMap { t =>
      try Some(t.getFileName.toString -> parse(Files.readString(t.resolve("stat"))))
      catch { case _: java.io.IOException => None } // exited while listed
    }.toMap

  /** (comm, utime + stime) of a `stat` line; comm may hold spaces. */
  private def parse(stat: String): (String, Long) = {
    val (open, close) = (stat.indexOf('('), stat.lastIndexOf(')'))
    val rest = stat.substring(close + 2).split(' ')
    // after comm: state is field 3, utime 14 and stime 15
    (stat.substring(open + 1, close), rest(11).toLong + rest(12).toLong)
  }

  private def processTicks(): Long = parse(Files.readString(Paths.get("/proc/self/stat")))._2

  /** CPU ms by thread class over all measured runs of one operation. */
  private final class Split {
    private val ms = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private var runs = 0
    def measure[T](body: => T): T = {
      val (t0, p0) = (threads(), processTicks())
      val out = body
      val (t1, p1) = (threads(), processTicks())
      var seen = 0L
      t1.foreach { case (tid, (comm, ticks)) =>
        val d = ticks - t0.get(tid).map(_._2).getOrElse(0L)
        seen += d
        ms(classOf(comm)) = ms.getOrElse(classOf(comm), 0L) + d * ClockTicksMs
      }
      ms("unattributed") = ms.getOrElse("unattributed", 0L) +
        math.max(0L, p1 - p0 - seen) * ClockTicksMs
      runs += 1
      out
    }
    def table(title: String): String = {
      val total = ms.values.sum.max(1L)
      val order = Seq("JIT compiler", "executor tasks", "driver (main)",
        "Spark driver services", "GC", "other", "unattributed")
      (Seq(s"### $title ($runs runs)", "",
        "| thread class | CPU ms, all runs | per run | share |", "|---|---:|---:|---:|") ++
        order.map { c =>
          val v = ms.getOrElse(c, 0L)
          f"| $c | $v%d | ${v.toDouble / runs}%.1f | ${100.0 * v / total}%.0f%% |"
        } :+ f"| total | $total%d | ${total.toDouble / runs}%.1f | 100%% |").mkString("\n")
    }
  }

  private def tickSession(): SparkSession = SparkSession.builder()
    .master("local[4]").appName("thread-cpu-probe")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The form-pipeline source with opaque column ids labelled by name. */
  private def source(spark: SparkSession, rows: Long): DataFrame = {
    val raw = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", rows).option("partitions", 4).load()
    val ids = raw.columns.indices.map(i => s"field_${i + 1}")
    etl.SchemaResolver.select(etl.SchemaResolver.withLabels(raw.toDF(ids: _*),
      ids.zip(raw.columns)), sources.FormSinkSource.schema.fieldNames.toSeq)
  }

  private def ticks(dir: Path): Unit = {
    val spark = tickSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sink = dir.toString
    def tick(rows: Long): Unit =
      etl.WatermarkEtl.runIncrement(spark, source(spark, rows), sink, viaConnector = true)
    def read(): Unit =
      spark.read.format(sources.FormSinkSource.Format).option("path", sink).load()
        .groupBy("charge_code").count().collect()
    var rows = 100000L
    tick(rows)
    (1 to 5).foreach { _ => rows += 100; tick(rows); read() }
    val (t, r) = (new Split, new Split)
    (1 to 20).foreach { _ =>
      rows += 100
      t.measure(tick(rows))
      r.measure(read())
    }
    println(t.table("tick: watermark read, source scan, append"))
    println()
    println(r.table("analyst read: count(*) by charge_code"))
  }

  private def mix(): Unit = {
    val data = Paths.get("perfbench", "fixture").toAbsolutePath.toString
    val spark = Harness.session(data, 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = Seq("q310_kcore_peeling", "q339_star_contraction_components",
      "q146_sketch_merge", "q44_lsh_ann_pairs", "q151_weighted_median",
      "q263_url_canonicalization", "q03_join_agg")
    val fns = SparkEntry.queries
    def run(q: String): Unit =
      fns(q)(spark, data).write.format("noop").mode(SaveMode.Overwrite).save()
    names.foreach(run)
    val split = new Split
    (1 to 2).foreach(_ => names.foreach(q => split.measure(run(q))))
    println(split.table("query_mix: one query of the seven, written to noop"))
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("tick") =>
      val dir = Files.createTempDirectory("graft-thread-cpu")
      try ticks(dir.resolve("sink")) finally graft.util.Scratch.deleteRecursively(dir)
    case Some("mix") => mix()
    case _ => sys.error("usage: ThreadCpuProbe tick|mix")
  }
}
