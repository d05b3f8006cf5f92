package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan, Project, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a cost-based join strategist driven by the persisted
  * sketch statistics catalog (q341's 5-row parquet of row counts +
  * Count-Min sketches per (relation, join key)).
  *
  * q346 proved the catalog can drive a plan — but by HAND: the query
  * itself consulted the stats and stamped `broadcast()`/`hint("merge")`.
  * This rule moves that consult into the optimizer, so ANY unhinted inner
  * equi-join over cataloged relations gets the CBO treatment
  * automatically (the r14 verdict's "promote from hints to a Rule"):
  *
  *   - a join side that IS a cataloged relation (modulo column-pruning
  *     projections) is estimated by its cataloged row count;
  *   - a join side that is itself an inner equi-join of two cataloged
  *     relations — an INTERMEDIATE whose size exists in no row count — is
  *     estimated by the Count-Min inner product of its own join keys'
  *     sketches (the decision a row-count-only planner cannot make);
  *   - build side = the smaller estimated BYTES (ties prefer the right
  *     side, q346's `<=` order), where a side's bytes = estimated rows ×
  *     its plan WIDTH; at or under `graft.catalog.broadcastByteBound`
  *     bytes it gets a BROADCAST strategy hint, above it SHUFFLE_MERGE —
  *     ENFORCED, so Spark's size-threshold auto-broadcast cannot
  *     silently second-guess the catalog's shuffle verdict. Exception
  *     (r16 ADVICE): when the build side's estimate passed through a
  *     recursive contraction factor it is no longer a proven upper
  *     bound, so only the SHUFFLE_MERGE direction is enforced; an
  *     under-bound SCALED estimate stamps nothing and the engine's own
  *     runtime size check keeps the broadcast decision.
  *
  * **The bound is BYTES, not rows** (r17 verdict item 1 — the round's one
  * adjudicated scale defect): a row-count gate enforced sort-merge on a
  * 1.5M-row × 8-byte customer key frame (~12 MB) that Spark's own size
  * check would happily broadcast, because "1M rows" says nothing about
  * broadcast COST — memory is rows × width. Width comes from the plan
  * itself, the same size model Spark's `SizeInBytesOnlyStatsPlanVisitor`
  * uses: a LEAF side charges Σ `dataType.defaultSize` over its projected
  * output (exactly the columns a broadcast of that side would carry —
  * charging the cataloged BASE relation's full width instead would
  * overcharge a key-only projection ~10× and veto precisely the broadcasts
  * this fix exists to allow); a JOIN side charges the sum of its children's
  * widths (an upper bound — pruning above the join can only narrow it, and
  * a width over-estimate can only miss a broadcast, never OOM one). The
  * q346/q348/q351 frames are key-only by construction and their oracles
  * pin the derived widths as literals, so a width-model drift fails the
  * correctness gate, not just a spec.
  *
  * Opt-in is per-ATTRIBUTE, not per-session: the rule fires only on join
  * keys carrying the [[CatalogJoinHints.KeyMeta]] /
  * [[CatalogJoinHints.DirMeta]] column metadata (the catalog key, e.g.
  * `"orders.o_custkey"`, and the staged catalog's path). Metadata rides
  * the `AttributeReference` through analysis and optimization, so marked
  * relations keep their mark across projections and joins, while every
  * unmarked query in the session plans exactly as before — installing the
  * rule has ZERO blast radius beyond columns a query explicitly marked
  * (the conf-leak lesson from this rule's q346 precursor: a session-wide
  * gate would re-plan later queries' joins over the same tables).
  *
  * The catalog is read ONCE per staged path (a 5-row, schema-bounded
  * collect — the microsecond stats lookup every CBO does) and memoized
  * JVM-wide; the path is content-addressed by the corpus sourceKey
  * fingerprint upstream, so staleness invalidates the path, never the
  * cache (the staging-memo doctrine). Marked join trees estimate to ANY
  * depth (r16): a nested join side contributes its own estimate over the
  * cataloged base rows of the upward key's owner as a scalar factor — see
  * estRows. Non-join, non-leaf shapes (aggregates, generators) still
  * estimate as None and stamp nothing — the engine's default planning
  * applies (documented fallback, not a silent guess).
  *
  * Install via [[GraftPlans.install]]. Registered adopter: q348 (unhinted
  * 3-way events⋈orders⋈customer; PlanSpec pins that flipping the bound
  * conf flips the planned physical strategy).
  */
case class CatalogJoinHints() extends Rule[LogicalPlan] with PredicateHelper {
  import CatalogJoinHints._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), hint)
        if hint == JoinHint.NONE && !j.isStreaming && markedKeys(j, cond).isDefined =>
      val bound = BigInt(conf
        .getConfString("graft.catalog.broadcastByteBound",
          DefaultByteBound.toString)
        .toLong)
      (estimate(l), estimate(r)) match {
        case (Some(el), Some(er)) =>
          // the decision currency is BYTES: rows × plan width, exact in
          // BigInt (a saturating Long product could wrap past the bound)
          val bl = el.rows * el.width
          val br = er.rows * er.width
          val buildRight = br <= bl
          val build = if (buildRight) er else el
          val bytes = bl.min(br)
          // Decision ladder, safest evidence first:
          //  1. PROVEN upper bound under the byte bound → ENFORCED
          //     BROADCAST, scaled or not (r18, the independence-assumption
          //     mitigation): `upper` chains the sketch-derived
          //     max-frequency bound (maxFreqBound — sound for EVERY key by
          //     the CM row-max argument) through the join tree, so it
          //     holds even when correlated keys break the contraction
          //     factor's independence assumption. For unscaled sides it is
          //     additionally min'ed with the CM inner product (also a
          //     proven over-estimate), so this subsumes the old
          //     unscaled-under-bound branch.
          //  2. best ESTIMATE under the bound but upper bound above it:
          //     only a SCALED estimate can land here — stamp NOTHING (the
          //     r16 asymmetry: never enforce a broadcast off an estimate
          //     that can under-count) and let the engine's runtime size
          //     check decide.
          //  3. estimate over the bound → ENFORCED SHUFFLE_MERGE (always
          //     memory-safe).
          if (build.upper * build.width <= bound) {
            val hi = HintInfo(strategy = Some(BROADCAST))
            j.copy(hint =
              if (buildRight) JoinHint(None, Some(hi))
              else JoinHint(Some(hi), None))
          } else if (bytes <= bound) j // scaled estimate, unproven: no stamp
          else {
            val hi = HintInfo(strategy = Some(SHUFFLE_MERGE))
            j.copy(hint =
              if (buildRight) JoinHint(None, Some(hi))
              else JoinHint(Some(hi), None))
          }
        case _ => j
      }
  }

  /** The join's cross-side equi pair where BOTH attributes carry the
    * catalog mark — the rule's opt-in trigger. Returned SIDE-ORDERED
    * (left side's key first): the deep-tree estimator scales each side's
    * base sketch by that side's own contraction factor, so it must know
    * which key lives where (the depth-1 inner product was symmetric and
    * didn't care). */
  private def markedKeys(j: Join, cond: Expression)
      : Option[(String, String, String)] =
    splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if keyOf(a).isDefined && keyOf(b).isDefined &&
            dirOf(a).isDefined &&
            (a.references.subsetOf(j.left.outputSet) !=
              b.references.subsetOf(j.left.outputSet)) =>
        if (a.references.subsetOf(j.left.outputSet))
          (keyOf(a).get, keyOf(b).get, dirOf(a).get)
        else (keyOf(b).get, keyOf(a).get, dirOf(a).get)
    }

  private def keyOf(a: AttributeReference): Option[String] =
    if (a.metadata.contains(KeyMeta)) Some(a.metadata.getString(KeyMeta))
    else None
  private def dirOf(a: AttributeReference): Option[String] =
    if (a.metadata.contains(DirMeta)) Some(a.metadata.getString(DirMeta))
    else None

  /** Row-count estimate of one join side, from the catalog only: a marked
    * base relation → its cataloged count; a one-level inner equi-join of
    * two marked relations → the CM inner product of its own keys' sketches.
    * Anything else → None (no hint; default planning).
    *
    * The marked attribute lives in the side's OWN output (the Alias that
    * carries the metadata projects it there and every plan above
    * propagates the AttributeReference) — so the base lookup reads
    * `p.output`, never the leaf relation's unmarked schema; projections
    * are stripped only to detect whether the side is itself a join.
    *
    * The cataloged-count lookup fires ONLY when the side is a chain of
    * CARDINALITY-NON-INCREASING unary nodes (Project — column pruning;
    * Filter — including the isnotnull the optimizer infers from the join
    * itself) over a LEAF relation: there the cataloged count is the true
    * count or a safe OVER-estimate (can only miss a broadcast, never OOM
    * one). Any other node — Aggregate, Window, Generate, Union — returns
    * None even though the marked attribute still rides its output: its
    * cardinality is not bounded by the base relation's, and estimating it
    * as such could stamp an enforced BROADCAST on an arbitrarily large
    * intermediate (the r15 ADVICE contract). Default planning applies
    * instead.
    *
    * Marked joins recurse to ANY depth (r16 — the r15 worklist 6b): a
    * join-of-join side's estimate is the base-sketch CM inner product of
    * its own keys, scaled by each join child's contraction factor
    * (childEst / cataloged rows of the key's owner relation). The factor
    * is a SCALAR, so it commutes with both the per-depth sum and the
    * min-over-depths — the result equals the inner product over
    * per-cell-scaled sketches without materializing one, and the oracle
    * reproduces it as one HUGEINT floor-division per level in canonical
    * left-then-right order. The scaling assumes the join key and the
    * upward key are independently distributed (the classic CBO
    * assumption); everything stays in BigInt and saturates at
    * Long.MaxValue, which preserves every ≤-bound verdict.
    *
    * The [[CatalogJoinHints.Est]] carries WIDTH in bytes (see the class
    * doc's byte-bound note): Σ `defaultSize` over a leaf side's projected
    * output, children's sum for a join side. The SCALED flag is false for
    * a leaf count or an inner product whose side factors are all identity
    * (both are guaranteed over-estimates), true once any contraction
    * factor has been applied (no longer a proven upper bound — see the
    * enforcement asymmetry in [[apply]]). `upper` is the PROVEN row upper
    * bound regardless of scaling: a leaf's exact count; for a join,
    * min over the PROVABLE directions of upper_side × maxf-in-the-OTHER-
    * side of its join key — each probe row matches at most the build
    * key's max frequency IN THE BUILD SIDE, which [[maxfIn]] bounds
    * soundly from the CM sketches: directly for a leaf, chained as a
    * product of per-level maxf bounds through a nested join (a base
    * relation's maxf alone is NOT a bound for an intermediate — join
    * fan-out amplifies per-key frequency, the r18 ADVICE high fix) —
    * additionally min'ed with the CM inner product when the estimate is
    * unscaled (also a proven over-count). */
  @scala.annotation.tailrec
  private def strip(q: LogicalPlan): LogicalPlan = q match {
    case Project(_, c) => strip(c)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(_, c) => strip(c)
    case _ => q
  }

  private def estimate(p: LogicalPlan): Option[Est] =
    strip(p) match {
      case j @ Join(_, _, Inner, Some(cond), _) =>
        markedKeys(j, cond).flatMap { case (kl, kr, dir) =>
          val st = stats(SparkSession.active, dir)
          val raw = innerProductBig(st, kl, kr)
          for {
            (fl, el) <- sideInfo(j.left, kl, st)
            (fr, er) <- sideInfo(j.right, kr, st)
          } yield {
            val cmRows = fr(fl(raw))
            val scaled = el.scaled || er.scaled
            // n_distinct refinement (r18 worklist 6a): the contraction
            // factor assumes the join key and the upward key are
            // independently distributed, so a SCALED CM estimate can
            // UNDER-count under correlated keys. When the catalog carries
            // per-key KMV distinct counts (v2 staging, q359), take the
            // MAX with the classic containment estimate
            // rows_L × rows_R / max(d_L, d_R) — a side's distinct support
            // is capped by min(its base key's n_distinct, its own rows).
            // max() can only RAISE a scaled estimate, which can only move
            // decisions toward the memory-safe direction (more enforced
            // shuffles, never a new enforced broadcast — that rung keys
            // off the PROVEN upper, untouched here). Unscaled estimates
            // keep the pure CM lane: they are proven over-counts and the
            // q346/q348/q353 oracles pin that math.
            val nd = distincts(SparkSession.active, dir)
            val rows =
              if (!scaled) cmRows
              else (for { dl <- nd.get(kl); dr <- nd.get(kr) } yield {
                val dEff = BigInt(dl).min(el.rows)
                  .max(BigInt(dr).min(er.rows)).max(BigInt(1))
                cmRows.max(el.rows * er.rows / dEff)
              }).getOrElse(cmRows)
            // |L ⋈ R| ≤ |L| × maxf_R(kr) needs the key's max frequency IN
            // THE SIDE, not in the key's base relation: join fan-out can
            // amplify a key's per-value frequency in an intermediate past
            // the base relation's maxf, so a base-sketch term against a
            // non-leaf side is NOT a bound (r18 ADVICE high — the old min
            // could pick an under-bound and branch 1 would then ENFORCE a
            // broadcast of a huge intermediate). maxfIn chains the bound
            // through a nested join's own tree instead; a direction whose
            // chain can't be proven contributes no term.
            val terms = Seq(
              maxfIn(j.right, kr, st).map(el.upper * _),
              maxfIn(j.left, kl, st).map(er.upper * _)).flatten
            val upFreq =
              if (terms.nonEmpty) terms.min else BigInt(Long.MaxValue)
            Est(rows, el.width + er.width, scaled,
              if (scaled) upFreq else upFreq.min(rows))
          }
        }
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode =>
        // read p.output (the marked projection), not the leaf's unmarked schema
        p.output.collectFirst {
          case a: AttributeReference if keyOf(a).isDefined && dirOf(a).isDefined =>
            val n = BigInt(
              stats(SparkSession.active, dirOf(a).get)(keyOf(a).get)._1)
            Est(n, planWidth(p.output), scaled = false, upper = n)
        }
      case _ => None
    }

  /** How a join child rescales the base-sketch inner product taken over
    * its key `k`: a leaf (the sketch's own frame) contributes identity; a
    * nested marked join contributes ×(childEst / |owner(k)|) as one
    * BigInt floor-division; anything else poisons the whole estimate.
    * Second element: the child's own [[CatalogJoinHints.Est]] (a nested
    * join's is marked scaled — the factor forfeits the estimate's
    * proven-upper-bound property, though its `upper` stays sound). */
  private def sideInfo(side: LogicalPlan, k: String,
                       st: Map[String, (Long, Array[Long])])
      : Option[(BigInt => BigInt, Est)] =
    strip(side) match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode =>
        val n = BigInt(st(k)._1)
        Some((identity,
          Est(n, planWidth(side.output), scaled = false, upper = n)))
      case _: Join =>
        estimate(side).map { e =>
          (((x: BigInt) => x * e.rows / BigInt(st(k)._1)),
            e.copy(scaled = true))
        }
      case _ => None
    }

  /** PROVEN upper bound on the frequency of ANY value of catalog key `k`
    * WITHIN `side`'s output — the chainable term of the join-size bound
    * (r18 ADVICE high). A leaf side is the key's own base relation, so
    * [[CatalogJoinHints.maxFreqBound]] (the CM row-max argument) bounds it
    * directly. A nested marked join amplifies frequency: a value v of `k`
    * rides in through exactly one child (the carrier), and each carrier
    * row matches at most the OTHER child's max join-key frequency — so
    * maxf_J(k) ≤ maxf_carrier(k) × maxf_other(other's join key), each
    * factor recursively chained. Any shape the chain can't trace returns
    * None, which drops that DIRECTION's term from the join bound (the min
    * over the remaining proven terms — or Long.MaxValue, which can never
    * clear the byte gate — stays sound); it never poisons the row
    * estimate itself. */
  private def maxfIn(side: LogicalPlan, k: String,
                     st: Map[String, (Long, Array[Long])]): Option[BigInt] =
    strip(side) match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode =>
        Some(BigInt(maxFreqBound(st, k)))
      case jj @ Join(_, _, Inner, Some(cond), _) =>
        markedKeys(jj, cond).flatMap { case (kl, kr, _) =>
          def carries(p: LogicalPlan): Boolean =
            p.output.exists(a => a.isInstanceOf[AttributeReference] &&
              keyOf(a.asInstanceOf[AttributeReference]).contains(k))
          if (carries(jj.left))
            for {
              a <- maxfIn(jj.left, k, st)
              b <- maxfIn(jj.right, kr, st)
            } yield a * b
          else if (carries(jj.right))
            for {
              a <- maxfIn(jj.right, k, st)
              b <- maxfIn(jj.left, kl, st)
            } yield a * b
          else None
        }
      case _ => None
    }

  /** Per-row width of a plan's output in Spark's own size model
    * (`dataType.defaultSize` — what `SizeInBytesOnlyStatsPlanVisitor`
    * charges per column): the byte bound's row-width term. */
  private def planWidth(output: Seq[Attribute]): Long =
    output.map(_.dataType.defaultSize.toLong).sum
}

object CatalogJoinHints {
  /** One join side's catalog estimate: best-estimate rows, plan width in
    * bytes, whether a contraction factor made the estimate SCALED (no
    * longer a proven over-count), and a PROVEN row upper bound that holds
    * regardless (see the estimator doc). */
  case class Est(rows: BigInt, width: Long, scaled: Boolean, upper: BigInt)

  /** Attribute-metadata keys: the catalog entry this column joins under
    * (e.g. `"orders.o_custkey"`) and the staged catalog's path. */
  val KeyMeta = "graft.catalog.key"
  val DirMeta = "graft.catalog.dir"

  /** Catalog sketch geometry (shared with q341/q346's staging and oracle). */
  val CmDepth = 4
  val CmWidth = 1024

  /** q346's broadcast gate default, shared by the rule: 32 MB of
    * estimated build bytes (rows × plan width) — inside Spark's own
    * 10 MB-default / AQE-era auto-broadcast range, and comfortably
    * executor-resident at any plausible executor size. Session-overridable
    * via `graft.catalog.broadcastByteBound`. */
  val DefaultByteBound = 32L * 1024 * 1024

  private val cache =
    TrieMap.empty[String, Map[String, (Long, Array[Long])]]
  private val ndCache = TrieMap.empty[String, Map[String, Long]]

  /** Per-key DISTINCT-COUNT statistics from a v2-staged catalog (q359's
    * `nd` column: the KMV bottom-256 estimate over the key's h60-mod-P
    * hash domain, derived at staging). A v1 catalog (no `nd` column)
    * yields the empty map and the estimator behaves exactly as before —
    * the statistic is additive, never a migration. Same memo discipline
    * as [[stats]]: content-addressed path, one schema-bounded collect per
    * JVM. */
  def distincts(spark: SparkSession, dir: String): Map[String, Long] =
    ndCache.getOrElseUpdate(dir, {
      val df = spark.read.parquet(dir)
      if (!df.schema.fieldNames.contains("nd")) Map.empty
      else df.collect().map { r =>
        r.getString(r.fieldIndex("rel")) -> r.getLong(r.fieldIndex("nd"))
      }.toMap
    })

  /** The catalog snapshot: rel.key → (row count, 4×1024 CM sketch).
    * One 5-row collect per staged path per JVM (size-bounded by schema). */
  def stats(spark: SparkSession, dir: String)
      : Map[String, (Long, Array[Long])] =
    cache.getOrElseUpdate(dir, {
      spark.read.parquet(dir).collect().map { r =>
        r.getString(r.fieldIndex("rel")) ->
          (r.getLong(r.fieldIndex("n")),
            r.getSeq[Long](r.fieldIndex("sk")).toArray)
      }.toMap
    })

  /** min over depths of Σ_cell a·b — the classic CM join-size estimate,
    * never under the true size. BigInt lane mirrors the oracle's HUGEINT
    * (the q346 overflow doctrine); the Long saturates at MaxValue, which
    * preserves every ≤-bound verdict. */
  def innerProductEst(st: Map[String, (Long, Array[Long])],
                      ka: String, kb: String): Long =
    toLongSat(innerProductBig(st, ka, kb))

  /** The exact-BigInt tier of [[innerProductEst]] — the deep-tree
    * estimator and q351's expected-decision math both chain scale factors
    * onto this before saturating once at the end. */
  def innerProductBig(st: Map[String, (Long, Array[Long])],
                      ka: String, kb: String): BigInt = {
    val a = st(ka)._2
    val b = st(kb)._2
    (0 until CmDepth).map { di =>
      var acc = BigInt(0)
      var i = 0
      while (i < CmWidth) {
        acc += BigInt(a(di * CmWidth + i)) * b(di * CmWidth + i); i += 1
      }
      acc
    }.min
  }

  def toLongSat(b: BigInt): Long = b.min(BigInt(Long.MaxValue)).toLong

  /** SOUND max-frequency bound for key `k` from its own CM sketch, no new
    * statistic staged (r17 worklist 6b — the measured mitigation for the
    * deep estimator's independence assumption): for ANY key value v and
    * every depth d, f(v) ≤ sketch[d][h_d(v)] ≤ max_c sketch[d][c], so
    * min over depths of the row MAX bounds every key's frequency. It is
    * what makes a proven join-size upper bound chainable through scaled
    * intermediates: |L ⋈_k R| ≤ |L| × maxf_R(k) needs no independence —
    * each probe row matches at most maxf build rows, full stop. */
  def maxFreqBound(st: Map[String, (Long, Array[Long])], k: String): Long = {
    val sk = st(k)._2
    var best = Long.MaxValue
    var di = 0
    while (di < CmDepth) {
      var rowMax = 0L
      var i = 0
      while (i < CmWidth) {
        val v = sk(di * CmWidth + i)
        if (v > rowMax) rowMax = v
        i += 1
      }
      if (rowMax < best) best = rowMax
      di += 1
    }
    best
  }
}
