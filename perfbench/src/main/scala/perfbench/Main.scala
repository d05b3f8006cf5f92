package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. run.py writes a plan (the workload's inputs,
  * all derived from the seed), this process executes it and writes back a
  * raw record: spans, listener totals, table state and set-up times. All
  * arithmetic on the record happens in run.py.
  *
  * Usage: perfbench.Main <plan.json> <raw.json> <launch epoch ms>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(planFile, outFile, launchMs) = args
    val plan = Json.read(Paths.get(planFile))
    val workload = plan.get("workload").asText
    val cpus = plan.get("cpus").asInt
    val work = Paths.get(plan.get("work").asText)
    val traced = plan.get("trace").asBoolean

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val mix = Option(plan.get("mix"))
    // the board's session sizing, for the data the mix reads
    mix.foreach(m => graft.util.Sizing.configureAdaptiveWidths(
      builder, m.get("data").asText, cpus))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - launchMs.toLong) / 1e3

    val spans = new Spans
    val heap = new LiveHeap
    val ref = new Reference(cpus)
    ref.warm()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val result = workload match {
      case "query_mix" =>
        val m = mix.get
        Mix.run(spark, Mix.Plan(
          orders = m.get("orders").elements.asScala.map(
            _.elements.asScala.map(_.asText).toSeq).toSeq,
          minPasses = m.get("min_passes").asInt,
          seconds = plan.get("seconds").asDouble,
          data = m.get("data").asText), work.resolve("out"), spans, heap, ref, tracer)
      case _ =>
        val t = plan.get("ticks")
        Ticks.run(spark, Ticks.Plan(
          sinkRows = t.get("sink_rows").asLong,
          deltas = t.get("deltas").elements.asScala.map(_.asLong).toSeq,
          minTicks = t.get("min_ticks").asInt,
          seconds = plan.get("seconds").asDouble,
          setupReps = t.get("setup_reps").asInt,
          warmTicks = t.get("warm_ticks").asInt,
          partitions = cpus), work, spans, heap, ref, tracer)
    }

    Json.write(Paths.get(outFile), Map(
      "boot_s" -> bootS,
      "spark_version" -> spark.version,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "vmhwm_kb" -> vmHwmKb(),
      "live_heap_bytes" -> heap.samples,
      "reference_cpu_ns" -> ref.samples,
      "result" -> result,
      "spans" -> spans.records,
      "jobs" -> tracer.map(_.jobs.records).getOrElse(Nil),
      "plans" -> tracer.map(_.plans.records).getOrElse(Nil)))
    spark.stop()
  }

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  private def vmHwmKb(): Long = {
    val status: Path = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}

/** The program's retained memory: heap in use right after a full collection,
  * sampled between operations, outside every timed region. Unlike the
  * process's resident set, it does not depend on the heap flags. */
final class LiveHeap {
  private val taken = mutable.ArrayBuffer.empty[Long]

  def sample(): Unit = {
    System.gc()
    taken += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def samples: Seq[Long] = taken.toSeq
}

/** The host's speed, measured beside the program: a fixed computation
  * (generate, sort and count 2^18 longs on each of `threads` threads) that
  * uses none of the program's code. Each sample is the CPU time its threads
  * spent, taken between operations, outside every timed region. */
final class Reference(threads: Int) {
  private val taken = mutable.ArrayBuffer.empty[Long]
  private val mx = ManagementFactory.getThreadMXBean

  private def kernel(seed: Long): Long = {
    val n = 1 << 18
    val xs = new Array[Long](n)
    var x = seed * 0x9E3779B97F4A7C15L | 1L
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      xs(i) = x; i += 1
    }
    java.util.Arrays.sort(xs)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < n) {
      val k = java.lang.Long.valueOf(xs(i) >>> 48)
      val c = counts.get(k)
      counts.put(k, if (c == null) 1L else c + 1L)
      i += 1
    }
    counts.size.toLong + xs(n / 2)
  }

  def sample(): Unit = {
    val cpu = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val c0 = mx.getCurrentThreadCpuTime
        kernel(t + 1L)
        cpu.addAndGet(mx.getCurrentThreadCpuTime - c0)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    taken += cpu.get
  }

  /** Untimed runs, so the JIT has compiled the kernel before the first
    * sample that counts. */
  def warm(): Unit = {
    (1 to 5).foreach(_ => sample())
    taken.clear()
  }

  def samples: Seq[Long] = taken.toSeq
}
