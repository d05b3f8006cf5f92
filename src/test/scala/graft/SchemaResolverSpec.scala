package graft

import graft.etl.SchemaResolver
import graft.etl.SchemaResolver.MissingLabelException

/** The reference's dynamic label→column resolution semantics (SURVEY §1.3):
  * first-match-wins on duplicate labels, fatal on missing label, output
  * order = label order, value-level missing data stays null. */
class SchemaResolverSpec extends SparkSpec {
  import spark.implicits._

  private def frame = SchemaResolver.withLabels(
    Seq(("v1", "d1", "p1")).toDF("vendor_col", "desc_col", "po_col"),
    Seq("vendor_col" -> "Vendor", "desc_col" -> "Description", "po_col" -> "PO"))

  test("resolution follows label order, not catalog order") {
    assert(SchemaResolver.resolve(frame, Seq("PO", "Vendor")) ===
      Seq("po_col", "vendor_col"))
    val out = SchemaResolver.select(frame, Seq("PO", "Vendor"))
    assert(out.columns.toSeq === Seq("PO", "Vendor"))
    assert(out.collect()(0).toSeq === Seq("p1", "v1"))
  }

  test("duplicate labels: first catalog match wins (reference hash[0])") {
    val dup = SchemaResolver.withLabels(
      Seq(("a", "b")).toDF("c1", "c2"),
      Seq("c1" -> "Same", "c2" -> "Same"))
    assert(SchemaResolver.resolve(dup, Seq("Same")) === Seq("c1"))
  }

  test("missing label is fatal, not null (reference NoMethodError)") {
    intercept[MissingLabelException] {
      SchemaResolver.resolve(frame, Seq("Vendor", "Nope"))
    }
  }

  test("unlabeled columns are invisible to resolution") {
    val partial = SchemaResolver.withLabel(
      Seq(("x", "y")).toDF("c1", "c2"), "c1", "Only")
    intercept[MissingLabelException] {
      SchemaResolver.resolve(partial, Seq("c2"))
    }
  }

  test("value-level nulls pass through projection as nulls") {
    val df = SchemaResolver.withLabel(
      Seq(Tuple1(Option.empty[String])).toDF("c"), "c", "L")
    assert(SchemaResolver.select(df, Seq("L")).collect()(0).isNullAt(0))
  }

  test("withLabels is one projection: the fold's schema, last label wins") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val raw = Seq(("v1", "d1", "p1", "x")).toDF("vendor_col", "desc_col", "po_col", "other")
    val labels = Seq("po_col" -> "PO", "vendor_col" -> "Vendor",
      "desc_col" -> "Description", "po_col" -> "Purchase order")
    val folded = labels.foldLeft(raw) { case (acc, (c, l)) =>
      SchemaResolver.withLabel(acc, c, l)
    }
    val once = SchemaResolver.withLabels(raw, labels)
    // names, order and metadata, field by field
    assert(once.schema === folded.schema)
    assert(once.schema.map(_.name) === Seq("vendor_col", "desc_col", "po_col", "other"))
    assert(once.schema("po_col").metadata.getString(SchemaResolver.LabelKey) ===
      "Purchase order")
    assert(!once.schema("other").metadata.contains(SchemaResolver.LabelKey))
    def projects(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects(once) === projects(raw) + 1)
    assert(once.collect().toSeq === raw.collect().toSeq)
    intercept[org.apache.spark.sql.AnalysisException](
      SchemaResolver.withLabels(raw, Seq("nope" -> "Nope")))
  }
}
