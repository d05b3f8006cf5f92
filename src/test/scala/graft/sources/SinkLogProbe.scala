package graft.sources

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import FormSinkSource.Successor

/** The sink's cost against the depth of its history: one cron tick and one
  * analyst read on a sink of H committed versions, for each H given.
  *
  * The fixture is laid down without Spark jobs: version k holds one data
  * file of the form-pipeline source's rows `[100(k−1), 100k)`, written
  * through the sink's own file writer and published through its commit.
  * The tick is `WatermarkEtl.runIncrement` through the connector with 100
  * new source rows; the read is `count(*)` by `charge_code` over the sink.
  *
  * {{{
  * sbt "Test/runMain graft.sources.SinkLogProbe 20 1000"
  * }}}
  *
  * Prints one line per H: the fixture's manifest-log bytes, the bytes a
  * tick's commit adds to `_manifests`, the median wall and process-CPU
  * milliseconds of a tick, of a read, and of a cold newest-snapshot
  * resolution (the log listed and parsed, no Spark). */
object SinkLogProbe {
  private val Rows = 100
  private val Reps = 11

  private def cells(i: Long): Array[UTF8String] = Array(
    s"V${i % 97}", s"order $i",
    java.time.LocalDate.of(2020, 1, 1).plusDays(i % 365).toString,
    s"C${i % 7}", f"U$i%09dD").map(UTF8String.fromString)

  /** A sink of `h` versions, one file of `Rows` source rows each. */
  private def lay(dir: String, h: Int): Unit = (1 to h).foreach { k =>
    Files.createDirectories(Paths.get(dir))
    FormSinkSource.commit(dir) { a =>
      val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
      val w = new FormSinkSource.CellsFileWriter(Paths.get(dir, name))
      ((k - 1L) * Rows until k.toLong * Rows).foreach(i => w.add(cells(i)))
      Some(Successor(a.base.entries :+ (name -> Some(w.finish())), a.base.epochs))
    }
  }

  private def logBytes(dir: String): Long =
    graft.util.Scratch.listEntries(FormSinkSource.manifestDir(dir)).map(Files.size).sum

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (wall ms, process CPU ms) of `body`. */
  private def cost(body: => Unit): (Double, Double) = {
    val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    body
    ((System.nanoTime() - w0) / 1e6, (os.getProcessCpuTime - c0) / 1e6)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val depths = if (args.isEmpty) Seq(20, 1000) else args.toSeq.map(_.toInt)
    val spark: SparkSession = graft.Harness.session(graft.SparkSpec.sf, 4)
    def source(rows: Long) = spark.read.format("graft.sources.FormPipelineSource")
      .option("rows", rows).option("partitions", 4).load()
      .select("vendor", "description", "picker_erk", "charge_code", "po_number")
    def tick(dir: String, rows: Long): Unit =
      require(graft.etl.WatermarkEtl.runIncrement(spark, source(rows), dir,
        viaConnector = true) == Rows)
    def read(dir: String): Unit =
      spark.read.format(FormSinkSource.Format).option("path", dir).load()
        .groupBy("charge_code").count().collect()
    val root = Files.createTempDirectory("graft-sinklog-probe")
    try {
      // the JIT warms on a spare sink first
      val warm = root.resolve("warm").toString
      lay(warm, 20)
      (1 to 3 * Reps).foreach { t => tick(warm, 20L * Rows + t * Rows); read(warm) }
      depths.zipWithIndex.foreach { case (h, i) =>
        val dir = root.resolve(s"h$h-$i").toString
        lay(dir, h)
        val laid = logBytes(dir)
        val runs = (1 to Reps).map { t =>
          val before = logBytes(dir)
          val tc = cost(tick(dir, (h + t).toLong * Rows))
          val added = logBytes(dir) - before
          val rc = cost(read(dir))
          val sc = cost(FormSinkSource.latestManifest(dir))
          (added, tc, rc, sc)
        }
        def ms(f: ((Long, (Double, Double), (Double, Double), (Double, Double))) =>
          (Double, Double)): String = {
          val xs = runs.map(f)
          f"${median(xs.map(_._1))}%.1f wall / ${median(xs.map(_._2))}%.1f cpu"
        }
        println(f"[sinklog] H=$h%d log_bytes=$laid%d " +
          s"tick_log_bytes=${runs.map(_._1).mkString(",")} " +
          s"tick_ms=(${ms(_._2)}) read_ms=(${ms(_._3)}) snapshot_ms=(${ms(_._4)})")
      }
    } finally graft.util.Scratch.deleteRecursively(root)
  }
}
