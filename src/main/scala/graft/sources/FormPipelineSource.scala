package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.{expressions => sortexpr}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector modeling the reference's REST form-pipeline
  * source (SURVEY §2.1 R2: `GET .../form/{form_id}/pipeline` with the
  * filter and sort serialized into the request, i.e. executed SERVER-side —
  * /root/reference/bin/copy-seamless-to-sharepoint.rb:71-87).
  *
  * The "server" here is a deterministic in-source row generator (no real
  * HTTP in this environment), but the *engine contract* is the real one:
  *   - `SupportsPushDownFilters`: comparison predicates on any column are
  *     accepted and evaluated inside the source (the reference's
  *     `filter[column_id]/operand/value` query params — bin:79-84). What the
  *     source accepts is removed from Spark's post-scan filters exactly like
  *     a remote API that applied them;
  *   - `SupportsPushDownRequiredColumns`: only requested fields are
  *     materialized (the improvement SURVEY §4 notes the reference lacks —
  *     it fetches all columns and prunes client-side);
  *   - partitioned reads: the row space splits into ranges of `rows /
  *     partitions` ids, the way a paginated REST pipeline is fanned out
  *     across executors. Pushed bounds on `submission_id`, and on
  *     `po_number` while `rows <= 1e9`, first narrow the row space by
  *     bisection, as a server answers a keyset filter from its index: a
  *     cron tick's `po_number > watermark` plans only the ranges that hold
  *     its delta, and none when nothing is newer.
  *
  * Row model (submission i of `rows`, all derived arithmetically so the
  * DuckDB oracle can regenerate them):
  *   submission_id = i
  *   vendor        = 'V' || i % 97
  *   description   = 'order ' || i
  *   picker_erk    = date '2020-01-01' + (i % 365)  (ISO string)
  *   charge_code   = 'C' || i % 7
  *   po_number     = printf('U%09dD', i)            (reference PO shape;
  *                                                   rises with i below 1e9)
  *   amount_cents  = (i * 137903) % 300000          (over/under-$1500 routing)
  *
  * Usage: `spark.read.format("graft.sources.FormPipelineSource")
  *   .option("rows", n).option("partitions", p).load()`.
  */
class FormPipelineSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FormPipelineSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FormTable(
      Option(properties.get("rows")).map(_.toLong).getOrElse(1000L),
      Option(properties.get("partitions")).map(_.toInt).getOrElse(4))
}

object FormPipelineSource {
  val schema: StructType = StructType(Seq(
    StructField("submission_id", LongType, nullable = false),
    StructField("vendor", StringType, nullable = false),
    StructField("description", StringType, nullable = false),
    StructField("picker_erk", StringType, nullable = false),
    StructField("charge_code", StringType, nullable = false),
    StructField("po_number", StringType, nullable = false),
    StructField("amount_cents", LongType, nullable = false)))

  /** Below this many rows `po_number` rises strictly with the submission
    * id: nine zero-padded digits cover ids up to 999,999,999, and a tenth
    * digit breaks the lexicographic order. */
  val PoMonotoneRows = 1000000000L

  private val Vendors = Array.tabulate(97)(k => UTF8String.fromString(s"V$k"))
  private val ChargeCodes = Array.tabulate(7)(k => UTF8String.fromString(s"C$k"))
  private val PickerDates = Array.tabulate(365)(k => UTF8String.fromString(
    java.time.LocalDate.of(2020, 1, 1).plusDays(k).toString))

  /** Column `field` of the row model: the cell of submission `i >= 0` in
    * Spark's internal form (`UTF8String` or `Long`). Resolve it once per
    * reader: per row it is a table lookup or a concatenation, never a
    * `java.util.Formatter`. */
  def cell(field: String): Long => Any = field match {
    case "submission_id" => i => i
    case "vendor"        => i => Vendors((i % 97).toInt)
    case "description"   => i => UTF8String.fromString("order " + i)
    case "picker_erk"    => i => PickerDates((i % 365).toInt)
    case "charge_code"   => i => ChargeCodes((i % 7).toInt)
    case "po_number"     => i =>
      val digits = java.lang.Long.toString(i)
      UTF8String.fromString("U" + "000000000".substring(math.min(9, digits.length)) + digits + "D")
    case "amount_cents"  => i => (i * 137903L) % 300000L
  }

  /** Total order of two cells of one column: longs numerically, strings in
    * UTF-8 binary order — the order Spark itself compares strings in. Java
    * String.compareTo is UTF-16 code-unit order; the two diverge on
    * supplementary-plane characters, and a pushed filter, MAX/MIN or TopN
    * must keep exactly what the unpushed plan would. */
  def compareCells(x: Any, y: Any): Int = (x, y) match {
    case (a: Long, b: Long)             => java.lang.Long.compare(a, b)
    case (a: UTF8String, b: UTF8String) => a.compareTo(b)
    case _ => 0 // unreachable: both cells come from one column
  }

  /** The "server-side" predicate evaluator: which v1 filters the source
    * accepts, and their semantics over the row model. The filter is
    * compiled once; its literal is converted here, not per row. */
  def predicate(f: Filter): Long => Boolean = f match {
    case EqualTo(a, v)            => val c = comparator(a, v); c(_) == 0
    case GreaterThan(a, v)        => val c = comparator(a, v); c(_) > 0
    case GreaterThanOrEqual(a, v) => val c = comparator(a, v); c(_) >= 0
    case LessThan(a, v)           => val c = comparator(a, v); c(_) < 0
    case LessThanOrEqual(a, v)    => val c = comparator(a, v); c(_) <= 0
    case And(l, r) => val (p, q) = (predicate(l), predicate(r)); i => p(i) && q(i)
    case Or(l, r)  => val (p, q) = (predicate(l), predicate(r)); i => p(i) || q(i)
    case _ => _ => true // unreachable: unsupported filters are never accepted
  }

  /** The conjunction of the pushed filters. */
  def predicate(pushed: Array[Filter]): Long => Boolean = {
    val ps = pushed.map(predicate)
    i => { var k = 0; while (k < ps.length && ps(k)(i)) k += 1; k == ps.length }
  }

  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r)  => supported(l) && supported(r)
    case _ => false
  }

  /** Row `i`'s `field` compared with the literal `v`, in `compareCells`'s
    * order (reference §1.2: strings compare lexicographically). */
  private def comparator(field: String, v: Any): Long => Int = {
    val c = cell(field)
    schema(field).dataType match {
      case LongType =>
        val x = v.asInstanceOf[Number].longValue()
        i => java.lang.Long.compare(c(i).asInstanceOf[Long], x)
      case _ =>
        val x = UTF8String.fromString(v.toString)
        i => c(i).asInstanceOf[UTF8String].compareTo(x)
    }
  }

  /** The ids in `[0, rows)` that can pass all `pushed` filters, as one
    * range `[lo, hi)` with `lo <= hi`. A comparison on a column that rises
    * strictly with the id — `submission_id` always, `po_number` while
    * `rows <= PoMonotoneRows` — passes on one contiguous run of ids, found
    * by bisection; any other filter keeps the whole range. The range is a
    * superset: the readers still evaluate every pushed filter per row. */
  def span(pushed: Array[Filter], rows: Long): (Long, Long) = {
    val all = (0L, math.max(0L, rows))
    def monotone(field: String): Boolean =
      field == "submission_id" || (field == "po_number" && rows <= PoMonotoneRows)
    // first id in [0, rows] where `p` holds, for `p` false-then-true
    def first(p: Long => Boolean): Long = {
      var (lo, hi) = all
      while (lo < hi) { val m = lo + (hi - lo) / 2; if (p(m)) hi = m else lo = m + 1 }
      lo
    }
    def empty(r: (Long, Long)) = r._1 >= r._2
    def of(f: Filter): (Long, Long) = f match {
      case GreaterThan(a, v) if monotone(a) =>
        val c = comparator(a, v); (first(c(_) > 0), all._2)
      case GreaterThanOrEqual(a, v) if monotone(a) =>
        val c = comparator(a, v); (first(c(_) >= 0), all._2)
      case LessThan(a, v) if monotone(a) =>
        val c = comparator(a, v); (0L, first(c(_) >= 0))
      case LessThanOrEqual(a, v) if monotone(a) =>
        val c = comparator(a, v); (0L, first(c(_) > 0))
      case EqualTo(a, v) if monotone(a) =>
        val c = comparator(a, v); (first(c(_) >= 0), first(c(_) > 0))
      case And(l, r) => and(of(l), of(r))
      case Or(l, r) =>
        val (x, y) = (of(l), of(r))
        if (empty(x)) y else if (empty(y)) x
        else (math.min(x._1, y._1), math.max(x._2, y._2))
      case _ => all
    }
    def and(x: (Long, Long), y: (Long, Long)) =
      (math.max(x._1, y._1), math.min(x._2, y._2))
    val (lo, hi) = pushed.map(of).foldLeft(all)(and)
    (lo, math.max(lo, hi))
  }
}

private class FormTable(rows: Long, partitions: Int) extends Table with SupportsRead {
  override def name(): String = s"form_pipeline($rows)"
  override def schema(): StructType = FormPipelineSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FormScanBuilder(rows, partitions)
}

private class FormScanBuilder(rows: Long, partitions: Int)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = FormPipelineSource.schema
  private var aggs: Seq[PushedAgg] = Seq.empty
  private var limit: Option[Int] = None
  private var topN: Seq[(String, Boolean)] = Seq.empty // (field, ascending)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(FormPipelineSource.supported)
    pushed = accepted
    rejected // Spark re-applies only what the "server" did not
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** R3 end-to-end: the reference computes the watermark at the remote side
    * (last-row read of the sink table, bin:53-69); here an ungrouped
    * MAX/MIN/COUNT(*) is evaluated inside the source over the post-filter
    * rows, and Spark plans NO aggregate exec at all (complete pushdown —
    * the scan's single partition returns the one final row).
    *
    * `aggregateExpressions.nonEmpty` is load-bearing: when an outer
    * `count()` is planned on top of the already-pushed aggregate, column
    * pruning can offer the source an Aggregation with ZERO aggregate
    * expressions. Accepting it (`forall` on empty = true) leaves `aggs`
    * empty, `build()` falls back to the plain row scan, and Spark's
    * `V2ScanRelationPushDown.buildScanWithPushedAggregate` dies on the
    * column-count mismatch. An empty aggregation carries nothing to push —
    * refuse it and let Spark plan its own aggregate. */
  override def supportCompletePushDown(a: Aggregation): Boolean =
    a.groupByExpressions.isEmpty && a.aggregateExpressions.nonEmpty &&
      a.aggregateExpressions.forall(PushedAgg.translate(_).isDefined)
  override def pushAggregation(a: Aggregation): Boolean = {
    if (!supportCompletePushDown(a)) return false
    aggs = a.aggregateExpressions.toSeq.map(PushedAgg.translate(_).get)
    true
  }

  /** R2's pagination as LIMIT-at-source: the reference's pipeline GET takes
    * server-side `order_by` + filter params and pages the response
    * (bin:79-86) — a `LIMIT k` (keyset page) or `ORDER BY c LIMIT k` (TopN
    * page) on top of the pushed filter IS that request. The source serves a
    * limited scan through ONE partition (a page is one request stream), so
    * the pushdown is COMPLETE (`isPartiallyPushed = false`): Spark plans no
    * residual limit/sort at all. At 100 TB the win is the same as the
    * filter pushdown's: the "server" never materializes — and never ships —
    * more than the page. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** Full TopN: single-column-reference sort orders only (the reference's
    * `order_by=column` param — no expressions server-side). All columns are
    * non-nullable by the row model, so null ordering never matters. */
  override def pushTopN(orders: Array[sortexpr.SortOrder], l: Int): Boolean = {
    val fields = orders.toSeq.map(o => PushedAgg.fieldOf(o.expression()).map(
      f => (f, o.direction() == sortexpr.SortDirection.ASCENDING)))
    if (fields.isEmpty || fields.exists(_.isEmpty)) return false
    topN = fields.map(_.get)
    limit = Some(l)
    true
  }

  /** One partition serves exactly the (sorted) page — nothing partial. */
  override def isPartiallyPushed(): Boolean = false

  override def build(): Scan =
    new FormScan(rows, partitions, pushed, required, aggs, limit, topN)
}

/** One accepted source-side aggregate: MAX/MIN over a column, or COUNT(*). */
private case class PushedAgg(fn: String, field: String) {
  override def toString: String = if (fn == "COUNT_STAR") "COUNT(*)" else s"$fn($field)"
}

/** The translation both connectors' scan builders share. */
private object PushedAgg {
  /** MAX/MIN over a plain column, or COUNT(*); any other function is not
    * answered at the source. */
  def translate(f: AggregateFunc): Option[PushedAgg] = f match {
    case m: Max => fieldOf(m.column).map(PushedAgg("MAX", _))
    case m: Min => fieldOf(m.column).map(PushedAgg("MIN", _))
    case _: CountStar => Some(PushedAgg("COUNT_STAR", ""))
    case _ => None
  }

  /** The columns the MAX/MIN in `aggs` read, in slot order. */
  def fields(aggs: Seq[PushedAgg]): Seq[String] =
    aggs.collect { case PushedAgg(fn, f) if fn != "COUNT_STAR" => f }

  /** The column a single-part reference names; None for any other
    * expression. */
  def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(nr.fieldNames.head)
    case _ => None
  }
}

private class FormScan(rows: Long, partitions: Int,
                       pushed: Array[Filter], required: StructType,
                       aggs: Seq[PushedAgg],
                       limit: Option[Int] = None,
                       topN: Seq[(String, Boolean)] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics {

  /** The ids the pushed filters can pass (see `FormPipelineSource.span`). */
  private lazy val range: FormRange = {
    val (lo, hi) = FormPipelineSource.span(pushed, rows)
    FormRange(lo, hi)
  }

  /** CBO-visible size: the rows the pushed filters' range keeps (the
    * declared row count when no filter narrows it — a REST pipeline's row
    * count is one metadata call), capped by a pushed LIMIT/TopN, times the
    * declared row width. Within the range a filter's selectivity is
    * unknown, so the range's width is the sound upper bound. Without stats
    * a DSv2 relation is "unknown = huge" and can never auto-broadcast; with
    * them a small form feed broadcasts like the dim table it is. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val n =
      if (aggs.nonEmpty) 1L
      else {
        val width = range.end - range.start
        limit.map(l => math.min(l.toLong, width)).getOrElse(width)
      }
    // declared row model: 2 longs + 5 short strings ≈ 64 bytes
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(n * 64L)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(n)
  }
  /** With a complete aggregate pushdown the scan's output row IS the final
    * result: one field per aggregate (MAX/MIN keep the column's type,
    * COUNT(*) is a long), exactly the schema Spark's pushdown rule expects. */
  override def readSchema(): StructType =
    if (aggs.isEmpty) required
    else StructType(aggs.map {
      case PushedAgg("COUNT_STAR", _) =>
        StructField("count(*)", LongType, nullable = false)
      case PushedAgg(fn, field) =>
        val src = FormPipelineSource.schema(field)
        StructField(s"$fn($field)", src.dataType, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"FormPipelineScan rows=$rows PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedAggregates: [${aggs.mkString(", ")}], " +
      limit.map(l => s"PushedLimit: $l" +
        (if (topN.nonEmpty) topN.map { case (f, asc) =>
          f + (if (asc) " ASC" else " DESC") }
          .mkString(" PushedTopN: [", ", ", "], ") else ", ")).getOrElse("") +
      s"ReadSchema: ${readSchema().simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    // complete pushdown → exactly one final row → exactly one partition,
    // UNCONDITIONALLY: an empty range (rows=0, or no id passes the pushed
    // bounds) must still emit its single aggregate row (count=0, null
    // max/min) because Spark plans no aggregate exec to supply the
    // empty-input row itself
    if (aggs.nonEmpty) return Array(range)
    // a pushed LIMIT/TopN is COMPLETE (isPartiallyPushed=false): one
    // partition serves exactly the page, in the pushed order — fanning the
    // page across ranges would make the global limit a cross-partition race
    if (limit.isDefined) return Array(range)
    // the unnarrowed scan's range width, so a narrowed range (a cron
    // tick's delta) plans only the few partitions it overlaps — none when
    // no id can pass
    val per = math.max(1L, (rows + partitions - 1) / partitions)
    (range.start until range.end by per).map(s =>
      FormRange(s, math.min(s + per, range.end)): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    if (aggs.nonEmpty) new FormAggReaderFactory(pushed, aggs)
    else if (limit.isDefined) new FormPageReaderFactory(pushed, required, limit.get, topN)
    else new FormReaderFactory(pushed, required)
}

private case class FormRange(start: Long, end: Long) extends InputPartition

/** Evaluates the pushed ungrouped aggregates "server-side": one pass over
  * the post-filter row model, one output row. MAX/MIN over strings compare
  * lexicographically — same semantics the filter path already pins (§1.2). */
private class FormAggReaderFactory(pushed: Array[Filter], aggs: Seq[PushedAgg])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[FormRange]
    val keep = FormPipelineSource.predicate(pushed)
    // null for COUNT(*), which reads no column
    val cells = aggs.map(a =>
      if (a.fn == "COUNT_STAR") null else FormPipelineSource.cell(a.field)).toArray
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done
      override def get(): InternalRow = {
        done = true
        var count = 0L
        val acc = new Array[Any](aggs.length)
        var i = r.start
        while (i < r.end) {
          if (keep(i)) {
            count += 1
            var j = 0
            while (j < cells.length) {
              if (cells(j) != null) {
                val v = cells(j)(i)
                val better = acc(j) == null || {
                  val c = FormPipelineSource.compareCells(v, acc(j))
                  if (aggs(j).fn == "MAX") c > 0 else c < 0
                }
                if (better) acc(j) = v
              }
              j += 1
            }
          }
          i += 1
        }
        // COUNT(*) slots take the count; MAX/MIN stay null over zero rows
        new GenericInternalRow(Array.tabulate[Any](aggs.length)(j =>
          if (cells(j) == null) count else acc(j)))
      }
      override def close(): Unit = ()
    }
  }
}

/** Serves one LIMIT/TopN page "server-side". A bare LIMIT streams the first
  * `limit` post-filter rows of the row model (the reference's default page
  * order — submission id). A TopN keeps a bounded heap of `limit` rows
  * ordered by the pushed sort, so memory is O(page), never O(table) — the
  * only shape that survives a 100 TB "table" behind the endpoint. */
private class FormPageReaderFactory(pushed: Array[Filter], required: StructType,
                                    limit: Int, topN: Seq[(String, Boolean)])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[FormRange]
    val keep = FormPipelineSource.predicate(pushed)
    val sortCells = topN.map { case (f, asc) => (FormPipelineSource.cell(f), asc) }
    // total order over submission ids under the pushed sort; ties fall back
    // to the id so the page is deterministic (the row model has no null cells)
    def compare(a: Long, b: Long): Int = {
      var c = 0
      val it = sortCells.iterator
      while (c == 0 && it.hasNext) {
        val (cell, asc) = it.next()
        val cc = FormPipelineSource.compareCells(cell(a), cell(b))
        c = if (asc) cc else -cc
      }
      if (c != 0) c else java.lang.Long.compare(a, b)
    }
    val page: Iterator[Long] =
      if (topN.isEmpty) {
        // keyset page: first `limit` matches in id order, scan stops early
        Iterator.range(r.start, r.end).filter(keep).take(limit)
      } else {
        // bounded max-heap (worst of the kept page at the head)
        val heap = new java.util.PriorityQueue[java.lang.Long](
          math.max(1, limit), (x: java.lang.Long, y: java.lang.Long) => compare(y, x))
        var i = r.start
        while (i < r.end) {
          if (keep(i)) {
            heap.add(i)
            if (heap.size > limit) heap.poll()
          }
          i += 1
        }
        val kept = new Array[Long](heap.size)
        var j = kept.length - 1
        while (j >= 0) { kept(j) = heap.poll(); j -= 1 } // heap pops worst-first
        kept.iterator
      }
    new FormRowReader(required) {
      override def next(): Boolean = { val h = page.hasNext; if (h) cur = page.next(); h }
    }
  }
}

private class FormReaderFactory(pushed: Array[Filter], required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[FormRange]
    val keep = FormPipelineSource.predicate(pushed)
    new FormRowReader(required) {
      cur = r.start - 1
      override def next(): Boolean = {
        cur += 1
        while (cur < r.end && !keep(cur)) cur += 1
        cur < r.end
      }
    }
  }
}

/** Emits the `required` columns of submission `cur`; `next()` advances it. */
private abstract class FormRowReader(required: StructType)
    extends PartitionReader[InternalRow] {
  private val cells = required.fieldNames.map(FormPipelineSource.cell)
  protected var cur = -1L
  override def get(): InternalRow = {
    val row = new Array[Any](cells.length)
    var k = 0
    while (k < cells.length) { row(k) = cells(k)(cur); k += 1 }
    new GenericInternalRow(row)
  }
  override def close(): Unit = ()
}
