package graft.sources

import org.apache.spark.sql.{sources => sqlf}
import org.apache.spark.unsafe.types.UTF8String

/** The form sink's one predicate evaluator: the set of SQL three-valued
  * outcomes (bits [[True]], [[False]], [[Null]]) a pushed [[sqlf.Filter]]
  * can take over per-column cell ranges. A row is a file whose min equals
  * its max: a row's cell is the point `[x, x]` or NULL; a file's column is
  * its manifest `[min, max]` with NULL possible, a column absent from its
  * `mins` (all-null) can only be NULL, a 0-row file has no outcome, and a
  * file without stats may take every outcome. [[rowMatches]] (exactly
  * TRUE: delete the row) and [[mayMatch]] (TRUE possible: open the file)
  * read the same answer — Delta Lake's per-file min/max skipping (Armbrust
  * et al., VLDB 2020). Strings compare in UTF-8 binary order, as Spark's
  * do, and `IN ()` is FALSE even for NULL, as in Spark. A shape the
  * evaluator does not know may take every outcome, which keeps skipping
  * sound; DELETE, REPLACE WHERE and `canDeleteWhere` reject it through
  * [[supported]], because removing rows is a correctness boundary. */
private[sources] object SinkPredicate {
  final val True = 1
  final val False = 2
  final val Null = 4
  final val All = True | False | Null
  /** Marks a set that a shape the evaluator does not know contributed to. */
  private final val Unknown = 8

  /** What one column's cells may hold: non-null values in `[lo, hi]` (none
    * when `lo` is null), and NULL when `nullable`. */
  final case class Cells(lo: UTF8String, hi: UTF8String, nullable: Boolean)
  private val NullOnly = Cells(null, null, nullable = true)
  private val column = FormSinkSource.schema.fieldNames.zipWithIndex.toMap

  /** A row of the sink's schema, in column order: each cell its point. */
  def row(cells: Array[UTF8String]): String => Cells = c =>
    column.get(c).flatMap(i => Option(cells(i))).fold(NullOnly)(x => Cells(x, x, nullable = false))

  /** A file's columns, from its manifest stats. */
  def file(s: FormSinkSource.FileStats): String => Cells = c =>
    (for (mn <- s.mins.get(c); mx <- s.maxs.get(c)) yield Cells(
      UTF8String.fromString(mn), UTF8String.fromString(mx), nullable = true)).getOrElse(NullOnly)

  /** The outcomes `f` can take over `cells`. */
  def outcomes(cells: String => Cells, f: sqlf.Filter): Int = eval(cells, f) & All

  /** Is `f` exactly TRUE for the row `cells`? */
  def rowMatches(cells: Array[UTF8String], f: sqlf.Filter): Boolean =
    outcomes(row(cells), f) == True

  /** May `f` be TRUE for some row of a file with stats `st`? */
  def mayMatch(st: Option[FormSinkSource.FileStats], f: sqlf.Filter): Boolean =
    st.forall(s => s.rows > 0 && (outcomes(file(s), f) & True) != 0)

  /** Does the evaluator know every node of `f`? */
  def supported(f: sqlf.Filter): Boolean = (eval(_ => NullOnly, f) & Unknown) == 0

  /** `f`, or an [[IllegalArgumentException]] before anything is written. */
  def check(f: sqlf.Filter): sqlf.Filter = {
    require(supported(f), s"form sink: unsupported predicate shape in $f"); f
  }

  /** The conjunction of `filters`; no filter is [[sqlf.AlwaysTrue]]. */
  def conjunction(filters: Array[sqlf.Filter]): sqlf.Filter =
    filters.reduceOption[sqlf.Filter](sqlf.And(_, _)).getOrElse(sqlf.AlwaysTrue)

  /** The pushed filters a scan skips files by and reports as pushed: those
    * whose stats can rule a file out (one conjunct of an AND suffices, an
    * OR needs both sides). The rest stay Spark's alone. */
  def prunes(f: sqlf.Filter): Boolean = f match {
    case sqlf.EqualTo(_, _: String) | sqlf.EqualNullSafe(_, _: String) |
         sqlf.GreaterThan(_, _: String) | sqlf.GreaterThanOrEqual(_, _: String) |
         sqlf.LessThan(_, _: String) | sqlf.LessThanOrEqual(_, _: String) |
         sqlf.IsNotNull(_) => true
    case sqlf.In(_, vs) => vs != null && vs.nonEmpty && vs.forall(_.isInstanceOf[String])
    case sqlf.And(l, r) => prunes(l) || prunes(r)
    case sqlf.Or(l, r)  => prunes(l) && prunes(r)
    case _ => false
  }

  private def eval(cells: String => Cells, f: sqlf.Filter): Int = f match {
    case sqlf.EqualTo(c, v: String) => equal(cells(c), v)
    case sqlf.EqualNullSafe(c, v: String) =>
      val k = cells(c)
      (equal(k, v) & ~Null) | (if (k.nullable) False else 0)
    case sqlf.LessThan(c, v: String)           => below(cells(c), v, orEqual = false)
    case sqlf.LessThanOrEqual(c, v: String)    => below(cells(c), v, orEqual = true)
    case sqlf.GreaterThan(c, v: String)        => not(below(cells(c), v, orEqual = true))
    case sqlf.GreaterThanOrEqual(c, v: String) => not(below(cells(c), v, orEqual = false))
    case sqlf.In(c, vs) if vs != null && vs.forall(_.isInstanceOf[String]) =>
      val k = cells(c)
      if (vs.isEmpty) False else vs.map(v => equal(k, v.asInstanceOf[String])).reduce(or)
    case sqlf.StringStartsWith(c, v) => test(cells(c), v)(_.startsWith(_))
    case sqlf.StringEndsWith(c, v)   => test(cells(c), v)(_.endsWith(_))
    case sqlf.StringContains(c, v)   => test(cells(c), v)(_.contains(_))
    case sqlf.IsNull(c) =>
      val k = cells(c)
      (if (k.nullable) True else 0) | (if (k.lo != null) False else 0)
    case sqlf.IsNotNull(c)   => not(eval(cells, sqlf.IsNull(c)))
    case sqlf.And(l, r)      => and(eval(cells, l), eval(cells, r))
    case sqlf.Or(l, r)       => or(eval(cells, l), eval(cells, r))
    case sqlf.Not(x)         => not(eval(cells, x))
    case _: sqlf.AlwaysTrue  => True
    case _: sqlf.AlwaysFalse => False
    case _                   => All | Unknown
  }

  /** A leaf's outcomes: NULL when a cell may be null; over the non-null
    * cells, TRUE when `t` and FALSE when `f`. */
  private def leaf(k: Cells)(t: => Boolean, f: => Boolean): Int =
    (if (k.nullable) Null else 0) |
      (if (k.lo == null) 0 else (if (t) True else 0) | (if (f) False else 0))

  /** `c < v` (`c <= v` when `orEqual`): TRUE when the least cell passes,
    * FALSE when the greatest fails. */
  private def below(k: Cells, v: String, orEqual: Boolean): Int = {
    val u = UTF8String.fromString(v)
    def passes(x: UTF8String) = { val s = x.compareTo(u); s < 0 || orEqual && s == 0 }
    leaf(k)(passes(k.lo), !passes(k.hi))
  }

  /** `c = v`: TRUE when `v` is in range, FALSE unless the range is `[v, v]`. */
  private def equal(k: Cells, v: String): Int = {
    val u = UTF8String.fromString(v)
    leaf(k)(k.lo.compareTo(u) <= 0 && k.hi.compareTo(u) >= 0, k.lo != u || k.hi != u)
  }

  /** A string match: exact on a point, either way on a wider range; a NULL
    * pattern is NULL. */
  private def test(k: Cells, v: String)(p: (UTF8String, UTF8String) => Boolean): Int =
    if (v == null) Null
    else leaf(k)(k.lo != k.hi || p(k.lo, UTF8String.fromString(v)),
      k.lo != k.hi || !p(k.lo, UTF8String.fromString(v)))

  /** Kleene AND of two outcome sets, over every pair of outcomes: FALSE
    * when either side may be FALSE, TRUE when both may be TRUE, NULL when
    * one may be NULL and the other TRUE or NULL. */
  private def and(l: Int, r: Int): Int =
    if ((l & All) == 0 || (r & All) == 0) (l | r) & Unknown
    else ((l | r) & (False | Unknown)) | (l & r & True) |
      (if ((l & Null) != 0 && (r & (True | Null)) != 0 || (r & Null) != 0 && (l & True) != 0) Null
       else 0)

  private def not(x: Int): Int =
    (x & (Null | Unknown)) | (if ((x & True) != 0) False else 0) |
      (if ((x & False) != 0) True else 0)

  private def or(l: Int, r: Int): Int = not(and(not(l), not(r)))
}
