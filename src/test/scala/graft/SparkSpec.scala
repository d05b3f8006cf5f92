package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. One session per suite
  * (cheap; sessions share the JVM-wide SparkContext after the first). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest driver fixture tier — correctness only, speed matters. */
  val sf: String = SparkSpec.sf
  override def afterAll(): Unit = () // keep the shared session alive

  /** `body`'s result, with the Spark jobs and tasks it ran: a listener
    * counts the jobs and submitted stages of a job group set on this
    * thread only. */
  protected def jobsAndTasks[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler._
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val (jobs, tasks) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val listener = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && group == p.getProperty("spark.jobGroup.id")
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      assert(org.apache.spark.graft.BusDrain.waitUntilEmpty(sc, 60000L))
      (out, jobs.get, tasks.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

object SparkSpec {
  val sf: String = "/root/testdata/sf0.001"

  /** The entry points' session (`Harness.session`) at `local[4]` over the
    * smallest fixture, so specs run under the same sizing they check. */
  lazy val session: SparkSession = Harness.session(sf, 4)
}
