package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native AS-OF join — the whole-operator extension tier (SURVEY §2.4
  * preference order (c): custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`): for every left row, attach the LAST right row of the same
  * key whose time is ≤ the left row's time (Pandas `merge_asof` / kdb `aj`
  * semantics, LEFT OUTER — unmatched left rows keep a null right side).
  *
  * Why a physical operator instead of the q30 union+window formulation:
  * the declarative twin unions both sides into one frame and runs a
  * running-max window over it — one extra full materialization of the
  * probe side plus window state, and it can only carry ONE right value
  * (the max). This exec shuffles each side once by its key
  * ([[ClusteredDistribution]], exactly like SortMergeJoin), sorts by
  * (key, time) ([[SortOrder]] required ordering), and then a single
  * zipped merge walk pairs the streams partition-locally — O(n+m), no
  * union, no window buffer, full right payload available.
  *
  * v1 contract (checked at construction): key and time expressions are
  * LongType; the two sides' output attribute ids are disjoint (alias the
  * right side — the builder's `require` catches self-join reuse). Rows with
  * NULL key or time never match (SQL comparison semantics): null-keyed
  * left rows emit with a null right side, null-timed right rows are
  * skipped. Ties on (key, time): the LAST right row in the sorted run
  * wins — pin a deterministic tiebreak column into `rightTime`'s sort via
  * data design, or project only tie-insensitive payloads (e.g. the time
  * itself) when the right sort within equal times is not total.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: [[AsOfJoinPlan]] → [[AsOfJoinExec]]. Injected by
  * `GraftPlans.install` (`experimental.extraStrategies`). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Both sides hash-shuffle on their key — the same contract
    * SortMergeJoin declares; EnsureRequirements co-partitions them. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** Both sides sorted by (key, time) inside each partition. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val schema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val resultProj = UnsafeProjection.create(schema, schema)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // one-row lookahead on the right stream (rows are reused buffers —
        // copy anything that outlives one next() call)
        private var peek: InternalRow = _
        private var peekKey = 0L
        private var peekTime = 0L
        private var havePeek = false
        private def advancePeek(): Unit = {
          havePeek = false
          while (!havePeek && rIter.hasNext) {
            val r = rIter.next()
            val k = rk.eval(r)
            val t = rt.eval(r)
            if (k != null && t != null) { // null key/time never matches
              peek = r
              peekKey = k.asInstanceOf[Long]
              peekTime = t.asInstanceOf[Long]
              havePeek = true
            }
          }
        }
        advancePeek()
        private var lastMatch: InternalRow = _
        private var lastMatchKey = 0L

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val kAny = lk.eval(l)
          if (kAny == null) return resultProj(joined(l, nullRight))
          val k = kAny.asInstanceOf[Long]
          val tAny = lt.eval(l)
          if (tAny == null) return resultProj(joined(l, nullRight))
          val t = tAny.asInstanceOf[Long]
          // drain right rows at-or-before (k, t); remember the last k-match
          while (havePeek &&
            (peekKey < k || (peekKey == k && peekTime <= t))) {
            if (peekKey == k) { lastMatch = peek.copy(); lastMatchKey = k }
            advancePeek()
          }
          if (lastMatch != null && lastMatchKey == k)
            resultProj(joined(l, lastMatch))
          else resultProj(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame builder for the native as-of join (hosted in `sql.graft` for
  * `Dataset.ofRows` access). Key/time columns are named; the right side's
  * columns must not collide with the left's (alias them — fresh exprIds). */
object AsOfJoin {
  def apply(left: DataFrame, right: DataFrame,
            leftKey: String, rightKey: String,
            leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$n' in ${p.output.map(_.name)}"))
    val (lkA, ltA) = (attr(lPlan, leftKey), attr(lPlan, leftTime))
    val (rkA, rtA) = (attr(rPlan, rightKey), attr(rPlan, rightTime))
    require(Seq(lkA, ltA, rkA, rtA).forall(_.dataType == LongType),
      "as-of join v1: key and time columns must be LongType")
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join: the two sides share attribute ids — alias the right side")
    require(lPlan.output.map(_.name).intersect(rPlan.output.map(_.name)).isEmpty,
      "as-of join: duplicate column names across sides — alias the right side")
    Dataset.ofRows(spark, AsOfJoinPlan(lPlan, rPlan, lkA, rkA, ltA, rtA))
  }
}
