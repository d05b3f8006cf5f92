package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: plan an equi-key-less interval join as a binned
  * equi-join — automatically.
  *
  * A join whose ONLY condition is a band `t >= lo AND t <= hi` (point `t`
  * from one side, both bounds from the other, all LongType) gives Catalyst
  * no equi keys, so the planner falls back to BroadcastNestedLoopJoin — an
  * O(n·m) cross-product scan that is the single most common way a correct
  * pipeline becomes un-runnable at scale. The q125 doctrine fixes it by
  * hand: manufacture an equi key from time bins. This rule performs that
  * rewrite inside the optimizer, so the NAIVE formulation plans scalably:
  *
  *   - point side gains `bin = t div W` (one projection);
  *   - interval side explodes `sequence(lo div W, hi div W)` — each
  *     interval row appears once per bin it covers (⌈width/W⌉+1 rows);
  *   - the join becomes `p.bin = i.bin AND <original band>` — an ordinary
  *     shuffled equi-join with the band as residual filter.
  *
  * Soundness: integer division is monotone, so `lo ≤ t ≤ hi` implies
  * `lo div W ≤ t div W ≤ hi div W` — every qualifying pair meets in the
  * point's bin, and ONLY there (the point carries exactly one bin), so no
  * duplicate results and no dedup pass. Strict bounds only shrink the
  * match set, which the residual filter enforces; `W` affects performance
  * (explode fan-out vs bucket selectivity), never correctness. NULL
  * bounds/points produce NULL bins or empty sequences — rows that could
  * never match under SQL comparison semantics anyway.
  *
  * Gated by `spark.graft.binRangeJoin.width` (µs/units per bin; 0 = off,
  * the default). Fires only on INNER joins with no existing cross-side
  * equality conjunct; the rewritten join HAS one, so the rule reaches a
  * fixed point after one application.
  *
  * Install via [[GraftPlans.install]] (session-mutable
  * `experimental.extraOptimizations`).
  */
case class BinRangeJoin() extends Rule[LogicalPlan] with PredicateHelper {

  val WidthKey = "spark.graft.binRangeJoin.width"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = conf.getConfString(WidthKey, "0").toLong
    if (w <= 0) return plan
    plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) if !j.isStreaming =>
        matchBand(j, cond).map(rewrite(j, cond, w, _)).getOrElse(j)
    }
  }

  /** (point attr, lower bound, upper bound, point side is left). */
  private case class Band(t: Attribute, lo: Expression, hi: Expression,
                          pointOnLeft: Boolean)

  private def matchBand(j: Join, cond: Expression): Option[Band] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    def sideOf(e: Expression): Option[Boolean] = // Some(true)=left
      if (e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(leftOut)) Some(true)
      else if (e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(rightOut)) Some(false)
      else None
    // an existing cross-side equality means Catalyst already has equi keys
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) => (for { sa <- sideOf(a); sb <- sideOf(b) }
        yield sa != sb).getOrElse(false)
      case _ => false
    }
    if (hasEqui) return None
    // normalize each comparison to (t, bound, t-is-lower-bounded)
    def bounds(c: Expression): Option[(Attribute, Expression, Boolean)] = c match {
      case GreaterThanOrEqual(t: Attribute, b) => Some((t, b, true))
      case GreaterThan(t: Attribute, b)        => Some((t, b, true))
      case LessThanOrEqual(t: Attribute, b)    => Some((t, b, false))
      case LessThan(t: Attribute, b)           => Some((t, b, false))
      case GreaterThanOrEqual(b, t: Attribute) => Some((t, b, false))
      case GreaterThan(b, t: Attribute)        => Some((t, b, false))
      case LessThanOrEqual(b, t: Attribute)    => Some((t, b, true))
      case LessThan(b, t: Attribute)           => Some((t, b, true))
      case _ => None
    }
    val normalized = conjuncts.flatMap(bounds(_))
    val byPoint = normalized.groupBy(_._1)
    byPoint.collectFirst {
      case (t, bs) if t.dataType == LongType &&
        bs.exists(_._3) && bs.exists(!_._3) &&
        sideOf(t).isDefined &&
        bs.forall { case (_, b, _) =>
          b.dataType == LongType && sideOf(b).contains(!sideOf(t).get) } =>
        val lo = bs.find(_._3).get._2
        val hi = bs.find(!_._3).get._2
        Band(t, lo, hi, pointOnLeft = sideOf(t).get)
    }
  }

  private def rewrite(j: Join, cond: Expression, w: Long, b: Band): LogicalPlan = {
    val width = Literal(w)
    val (pointPlan, intervalPlan) =
      if (b.pointOnLeft) (j.left, j.right) else (j.right, j.left)
    val pBin = Alias(IntegralDivide(b.t, width), "graft_bin_p")()
    val pointSide = Project(pointPlan.output :+ pBin, pointPlan)
    val iBin = AttributeReference("graft_bin_i", LongType)()
    // An inverted interval (lo > hi) matches nothing under the naive plan,
    // but Sequence(loBin, hiBin) THROWS on descending bounds — guard it so
    // malformed rows drop (empty explode) instead of failing the query.
    // A NULL bound makes the If predicate NULL -> false branch -> empty
    // array, which is also the correct (no-match) outcome.
    val bins = If(
      LessThanOrEqual(b.lo, b.hi),
      Sequence(
        IntegralDivide(b.lo, width), IntegralDivide(b.hi, width),
        Some(Literal(1L)), Some(conf.sessionLocalTimeZone)),
      Literal.create(Seq.empty[Long], org.apache.spark.sql.types.ArrayType(LongType)))
    val intervalSide = Generate(
      Explode(bins),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(iBin), child = intervalPlan)
    val newCond = And(EqualTo(pBin.toAttribute, iBin), cond)
    val (newLeft, newRight) =
      if (b.pointOnLeft) (pointSide, intervalSide) else (intervalSide, pointSide)
    // restore the original schema: the bin columns are plumbing, not output
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }
}

/** The one installation of the engine's plan extensions into a session:
  * the optimizer rules (each gated by its own conf key or per-attribute
  * metadata mark, inert by default), the as-of join strategy (planned only
  * when its node appears) and the native expressions' SQL functions
  * (`vec_dot`, `h60`, ...). Idempotent. */
object GraftPlans {
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraOptimizations.exists(_.isInstanceOf[BinRangeJoin]))
      exp.extraOptimizations :+= BinRangeJoin()
    if (!exp.extraOptimizations.exists(_.isInstanceOf[CatalogJoinHints]))
      exp.extraOptimizations :+= CatalogJoinHints()
    if (!exp.extraStrategies.contains(org.apache.spark.sql.graft.AsOfJoinStrategy))
      exp.extraStrategies :+= org.apache.spark.sql.graft.AsOfJoinStrategy
    val functions = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.functions.GraftFunctions.registry.foreach { case (id, info, builder) =>
      functions.registerFunction(id, info, builder)
    }
  }
}
