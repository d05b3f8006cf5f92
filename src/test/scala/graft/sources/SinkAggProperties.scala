package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit, max, min}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import SinkAggFixture._

/** Grouped COUNT(*)/MIN/MAX answered inside the sink scan against Spark's
  * own aggregate over the same rows: over random sinks (null cells, empty
  * strings, non-BMP and U+FFFF strings, stats-less JSON-lines files, empty
  * files) read as the newest snapshot, at a pinned version (version 0 is
  * the empty snapshot) or as a change feed, the pushed result equals the
  * unpushed one as a multiset of rows. */
object SinkAggProperties extends Properties("graft.sources.sinkagg") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  private lazy val spark = graft.SparkSpec.session
  private val columns = FormSinkSource.schema.fieldNames.toSeq

  // few values, so groups collide; "po-￿" sorts below "po-😀" in UTF-8
  // binary order, above it in UTF-16 order
  private val cell: Gen[String] =
    Gen.oneOf(null, null, "", "a", "b", "ab", "é", "po-😀", "po-￿")
  private val rows: Gen[Seq[Cells]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.listOfN(columns.size, cell)))
  /** Commits of one file each: (rows, as a stats-less JSON-lines file). */
  private val commits: Gen[Seq[(Seq[Cells], Boolean)]] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.zip(rows, Gen.prob(0.25))))

  /** Which snapshot the read sees. */
  private sealed trait Snap
  private case object Latest extends Snap
  private final case class AsOf(v: Int) extends Snap
  private final case class Changes(from: Int, to: Int) extends Snap
  private def snaps(n: Int): Gen[Snap] = Gen.oneOf(
    Gen.const(Latest),
    Gen.choose(0, n).map(AsOf(_)),
    Gen.choose(0, n).flatMap(from => Gen.choose(from, n).map(Changes(from, _))))

  /** One to two group columns, one to three aggregates. */
  private val query: Gen[(Seq[String], Seq[(String, String)])] = for {
    k <- Gen.choose(1, 2)
    keys <- Gen.pick(k, columns)
    a <- Gen.choose(1, 3)
    aggs <- Gen.listOfN(a, Gen.zip(Gen.oneOf("COUNT", "MIN", "MAX"), Gen.oneOf(columns)))
  } yield (keys.toSeq, aggs)

  private def agg(f: (String, String)): Column = f match {
    case ("COUNT", _) => count(lit(1))
    case ("MIN", c)   => min(c)
    case (_, c)       => max(c)
  }

  private def multiset(rs: Seq[Row]): Map[Row, Int] =
    rs.groupBy(identity).map { case (r, g) => r -> g.size }

  // no shrinking: the string shrinker fails on the null cells
  property("a pushed grouped aggregate equals Spark's over the same rows") =
    forAllNoShrink(commits.flatMap(cs => snaps(cs.size).map(cs -> _)), query) {
      case ((cs, snap), (keys, aggs)) =>
        val dir = Files.createTempDirectory("graft-sinkagg").toString
        try {
          cs.foreach { case (rs, jsonl) => append(dir, rs, jsonl) }
          val reader = spark.read.format(FormSinkSource.Format).option("path", dir)
          val (sink, seen) = snap match {
            case Latest => (reader.load(), cs)
            case AsOf(v) => (reader.option("versionAsOf", v.toLong).load(), cs.take(v))
            case Changes(from, to) => (reader.option("changesFromVersion", from.toLong)
              .option("changesToVersion", to.toLong).load(), cs.slice(from, to))
          }
          def grouped(df: DataFrame) =
            df.groupBy(keys.map(df(_)): _*).agg(agg(aggs.head), aggs.tail.map(agg): _*)
          val pushed = grouped(sink)
          val plan = pushed.queryExecution.executedPlan.toString()
          val local = spark.createDataFrame(
            seen.flatMap(_._1).map(r => Row.fromSeq(r)).asJava, FormSinkSource.schema)
          val got = multiset(pushed.collect().toSeq)
          val want = multiset(grouped(local).collect().toSeq)
          (plan.contains(s"PushedGroupBy: [${keys.mkString(", ")}]") :| s"not pushed: $plan") &&
            ((got == want) :| s"$snap $keys $aggs: pushed $got, Spark $want")
        } finally SinkLogFixture.deleteTree(dir)
    }
}
