package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around each call it makes into a layer:
  * name, start, end, the enclosing span, and the operation (tick, read or
  * query) they belong to. Kept in memory and written out when the run ends.
  * Times are epoch nanoseconds, so Spark's millisecond event times land on
  * the same axis. Each span also records the CPU time the whole JVM spent
  * while it was open; the kernel leaves hypervisor steal out of it.
  */
final class Spans {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private final class Open(val id: Int, val name: String, val op: Int,
                           val startNs: Long, val startCpuNs: Long) {
    val attrs = mutable.LinkedHashMap.empty[String, Any]
  }
  private var stack: List[Open] = Nil
  private var nextId = 0

  private def now(): Long = System.nanoTime() + epochOffsetNs

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def apply[T](name: String, op: Int)(body: => T): T = {
    val s = new Open(nextId, name, op, now(), os.getProcessCpuTime)
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    nextId += 1
    stack = s :: stack
    try body
    catch {
      case e: Throwable =>
        s.attrs("error") = String.valueOf(e.getMessage).take(300)
        throw e
    } finally {
      val end = now()
      val cpu = os.getProcessCpuTime - s.startCpuNs
      stack = stack.tail
      done += Map("id" -> s.id, "parent" -> parent, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> end, "cpu_ns" -> cpu,
        "attrs" -> s.attrs.toMap)
    }
  }

  /** Attach a fact to the innermost open span. */
  def note(key: String, value: Any): Unit =
    stack.headOption.foreach(_.attrs(key) = value)

  def records: Seq[Map[String, Any]] = done.toSeq
}

/** Per-job scheduler and executor totals from a benchmark-registered
  * SparkListener: stages that ran, tasks, executor run/CPU/GC time, shuffle
  * bytes, spill and scheduler delay. Jobs are later matched to spans by
  * their submission time. */
final class SparkCollector extends SparkListener {
  private final class Job(val id: Int, val submitMs: Long) {
    var endMs = 0L; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get);
         m <- Option(e.taskMetrics)) {
      val i = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      // the Spark UI's scheduler-delay formula
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      j.schedMs += math.max(0L, (i.finishTime - i.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
    }
  }

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map(
      "id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
      "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
      "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "sched_ms" -> j.schedMs,
      "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
      "spill" -> j.spill))
  }
}

/** Catalyst phase times of every executed query, from its
  * `QueryPlanningTracker`, via a benchmark-registered
  * QueryExecutionListener. Matched to spans by the first phase's start. */
final class PlanCollector extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    recs += Map(
      "start_ms" -> ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }

  def records: Seq[Map[String, Any]] = synchronized(recs.toSeq)
}

/** Switches the two collectors on around a traced operation and off after
  * it, so untraced operations in the same run pay nothing for them. The
  * bus is drained before a collector is detached, so none of its events
  * is lost. */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  val jobs = new SparkCollector
  val plans = new PlanCollector

  def apply[T](body: => T): T = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try body
    finally {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }
}
