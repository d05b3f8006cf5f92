package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, SupportsReportStatistics}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Pure (no SparkSession) property checks of the form-pipeline source's
  * "server": its cells against the printf/LocalDate row model, and its
  * range narrowing against filtering the whole, unnarrowed row space. */
object FormSourceProperties extends Properties("graft.sources.form") {

  private val Fields = FormPipelineSource.schema.fieldNames.toSeq

  // ---- the reference row model, per row, as the DuckDB oracle writes it ---

  private def refCell(i: Long, field: String): Any = field match {
    case "submission_id" => i
    case "vendor"        => UTF8String.fromString(s"V${i % 97}")
    case "description"   => UTF8String.fromString(s"order $i")
    case "picker_erk"    => UTF8String.fromString(
      java.time.LocalDate.of(2020, 1, 1).plusDays(i % 365).toString)
    case "charge_code"   => UTF8String.fromString(s"C${i % 7}")
    case "po_number"     => UTF8String.fromString(f"U$i%09dD")
    case "amount_cents"  => (i * 137903L) % 300000L
  }

  private def refCmp(i: Long, field: String, v: Any): Int = refCell(i, field) match {
    case l: Long       => java.lang.Long.compare(l, v.asInstanceOf[Number].longValue())
    case s: UTF8String => s.compareTo(UTF8String.fromString(v.toString))
  }

  private def refEval(f: Filter, i: Long): Boolean = f match {
    case EqualTo(a, v)            => refCmp(i, a, v) == 0
    case GreaterThan(a, v)        => refCmp(i, a, v) > 0
    case GreaterThanOrEqual(a, v) => refCmp(i, a, v) >= 0
    case LessThan(a, v)           => refCmp(i, a, v) < 0
    case LessThanOrEqual(a, v)    => refCmp(i, a, v) <= 0
    case And(l, r)                => refEval(l, i) && refEval(r, i)
    case Or(l, r)                 => refEval(l, i) || refEval(r, i)
  }

  private def refIds(rows: Long, pushed: Seq[Filter]): Seq[Long] =
    (0L until rows).filter(i => pushed.forall(refEval(_, i)))

  // ---- generators ----------------------------------------------------------

  /** PO literals around the row space, and strings no PO equals: empty, a
    * bare prefix, another letter, too few digits, and ten digits. */
  private def poLiteral(rows: Long): Gen[String] = Gen.frequency(
    6 -> Gen.choose(0L, rows + 3).map(k => f"U$k%09dD"),
    3 -> Gen.oneOf("", "U", "V0", "U00000001", "U000000012", "Z"),
    2 -> Gen.listOfN(10, Gen.numChar).map("U" + _.mkString))

  private def comparison(field: String, v: Any): Gen[Filter] = Gen.oneOf(
    EqualTo(field, v), GreaterThan(field, v), GreaterThanOrEqual(field, v),
    LessThan(field, v), LessThanOrEqual(field, v))

  /** A bound on a column that rises with the id, or (rarely) on one that
    * does not, which must keep the whole range. */
  private def leaf(rows: Long): Gen[Filter] = Gen.frequency(
    4 -> poLiteral(rows).flatMap(comparison("po_number", _)),
    4 -> Gen.choose(-3L, rows + 3).flatMap(v => comparison("submission_id", v)),
    1 -> Gen.choose(0L, 300000L).flatMap(v => comparison("amount_cents", v)),
    1 -> Gen.oneOf("V3", "V50", "V96").flatMap(comparison("vendor", _)))

  private def filter(rows: Long): Gen[Filter] = Gen.frequency(
    6 -> leaf(rows),
    1 -> Gen.zip(leaf(rows), leaf(rows)).map { case (l, r) => And(l, r) },
    1 -> Gen.zip(leaf(rows), leaf(rows)).map { case (l, r) => Or(l, r) })

  private val scans: Gen[(Long, Int, Seq[Filter])] = for {
    rows   <- Gen.frequency(1 -> Gen.const(0L), 9 -> Gen.choose(1L, 2500L))
    parts  <- Gen.choose(1, 9)
    n      <- Gen.choose(0, 3)
    pushed <- Gen.listOfN(n, filter(rows))
  } yield (rows, parts, pushed)

  // ---- the scan, driven as Spark drives it -----------------------------------

  private def builder(rows: Long, parts: Int, pushed: Seq[Filter]): FormScanBuilder = {
    val b = new FormScanBuilder(rows, parts)
    assert(b.pushFilters(pushed.toArray).isEmpty, "every generated filter is accepted")
    b
  }

  private def read(batch: Batch): Seq[InternalRow] = {
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[InternalRow]
      while (r.next()) out += r.get().copy()
      r.close()
      out.result()
    }
  }

  private def cells(row: InternalRow, schema: StructType): Seq[Any] =
    schema.fields.indices.map(k => row.get(k, schema(k).dataType))

  // ---- properties ------------------------------------------------------------

  property("cells are byte-identical to the printf/LocalDate row model") =
    forAll(Gen.oneOf(Gen.choose(0L, 5000L), Gen.choose(999999990L, 1000000010L),
      Gen.choose(0L, Long.MaxValue))) { i =>
      Fields.forall(f => FormPipelineSource.cell(f)(i) == refCell(i, f))
    }

  property("the narrowed scan returns exactly the filtered unnarrowed rows") =
    forAll(scans) { case (rows, parts, pushed) =>
      val scan = builder(rows, parts, pushed).build()
      val got = read(scan.toBatch)
      val want = refIds(rows, pushed)
      val ranges = scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[FormRange])
      val per = math.max(1L, (rows + parts - 1) / parts)
      val estimate = scan.asInstanceOf[SupportsReportStatistics]
        .estimateStatistics().numRows().getAsLong
      Prop.all(
        "rows" |: got.map(_.getLong(0)) == want,
        "cells" |: got.forall { r =>
          cells(r, FormPipelineSource.schema) == Fields.map(refCell(r.getLong(0), _))
        },
        // ranges keep the unnarrowed width and tile one run of ids in order
        "ranges" |: ranges.forall(r => r.start < r.end && r.end - r.start <= per) &&
          ranges.zip(ranges.drop(1)).forall { case (a, b) => a.end == b.start },
        "estimate" |: estimate == ranges.map(r => r.end - r.start).sum &&
          estimate >= want.size)
    }

  property("pushed MAX/MIN/COUNT(*) over the narrowed range match the reference") =
    forAll(scans) { case (rows, parts, pushed) =>
      val b = builder(rows, parts, pushed)
      val aggs = Array[AggregateFunc](new Max(Expressions.column("po_number")),
        new Min(Expressions.column("po_number")),
        new Max(Expressions.column("amount_cents")), new CountStar())
      assert(b.pushAggregation(new Aggregation(aggs, Array.empty)))
      val batch = b.build().toBatch
      val got = read(batch)
      val want = refIds(rows, pushed)
      def best(field: String, max: Boolean): Any =
        if (want.isEmpty) null
        else want.map(refCell(_, field)).reduce { (x, y) =>
          val c = FormPipelineSource.compareCells(x, y)
          if ((c > 0) == max) x else y
        }
      Prop.all(
        "one partition" |: batch.planInputPartitions().length == 1,
        "one row" |: got.size == 1,
        "values" |: Seq(got.head.getUTF8String(0), got.head.getUTF8String(1),
          if (got.head.isNullAt(2)) null else got.head.getLong(2), got.head.getLong(3)) ==
          Seq(best("po_number", max = true), best("po_number", max = false),
            best("amount_cents", max = true), want.size.toLong))
    }

  property("pushed LIMIT and TopN pages over the narrowed range match the reference") =
    forAll(scans, Gen.choose(0, 40), Gen.oneOf(true, false)) {
      case ((rows, parts, pushed), k, topN) =>
        val b = builder(rows, parts, pushed)
        val required = StructType(Seq(FormPipelineSource.schema("submission_id"),
          FormPipelineSource.schema("amount_cents")))
        b.pruneColumns(required)
        if (topN) assert(b.pushTopN(Array(Expressions.sort(
          Expressions.column("amount_cents"), SortDirection.DESCENDING)), k))
        else assert(b.pushLimit(k))
        val got = read(b.build().toBatch).map(r => (r.getLong(0), r.getLong(1)))
        val ids = refIds(rows, pushed)
        val want = (if (topN) ids.sortBy(i => (-(i * 137903L % 300000L), i)) else ids)
          .take(k).map(i => (i, (i * 137903L) % 300000L))
        got == want
    }

  /** Above 1e9 rows the tenth digit breaks the PO order, so a `po_number`
    * bound must keep the whole row space; an id bound still narrows. Only
    * planned here: no row is read. */
  property("po_number bounds narrow only while rows <= 1e9") =
    forAll(Gen.choose(FormPipelineSource.PoMonotoneRows + 1, Long.MaxValue / 4),
      Gen.choose(1, 9), poLiteral(FormPipelineSource.PoMonotoneRows)) { (rows, parts, lit) =>
      def planned(rows: Long, pushed: Filter*): (Long, Long) = {
        val ranges = builder(rows, parts, pushed).build().toBatch
          .planInputPartitions().toSeq.map(_.asInstanceOf[FormRange])
        if (ranges.isEmpty) (0L, 0L) else (ranges.head.start, ranges.last.end)
      }
      val edge = FormPipelineSource.PoMonotoneRows
      Prop.all(
        "guarded" |: planned(rows, GreaterThan("po_number", lit)) == ((0L, rows)),
        "ids narrow" |: planned(rows, GreaterThanOrEqual("submission_id", rows - 5)) ==
          ((rows - 5, rows)),
        "at 1e9" |: planned(edge, GreaterThan("po_number", "U999999989D")) ==
          ((999999990L, edge)))
    }
}
