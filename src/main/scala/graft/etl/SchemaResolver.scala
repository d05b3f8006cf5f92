package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIdentifier
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.MetadataBuilder

/** The reference's dynamic label→column resolution (SURVEY.md §1.3):
  * pipelines are written against human-readable labels; each run resolves
  * labels to physical column names against the frame's own schema catalog.
  *
  * Observable semantics preserved from
  * /root/reference/bin/copy-seamless-to-sharepoint.rb:90-104:
  *   - **first-match-wins** on duplicate labels (`hash[0]`, bin:95);
  *   - **fatal on missing label** (NoMethodError in the reference; a typed
  *     exception here) — resolution errors are errors, not nulls;
  *   - output column order is the label order, not the catalog order;
  *   - value-level missing data stays null (that part is the storage
  *     layer's job — parquet/Spark already behave that way).
  *
  * The catalog is carried as Spark-native `StructField.metadata` under the
  * key `printable_name` — the `columns` map of the reference's JSON response
  * mapped onto the Spark schema system (SURVEY §1.4).
  */
object SchemaResolver {

  val LabelKey = "printable_name"

  final class MissingLabelException(val label: String)
    extends NoSuchElementException(s"no column with $LabelKey '$label'")

  /** Attach a printable label to a column (building the catalog). */
  def withLabel(df: DataFrame, column: String, label: String): DataFrame = {
    val meta = new MetadataBuilder().putString(LabelKey, label).build()
    df.withColumn(column, df.col(column).as(column, meta))
  }

  /** Attach many labels at once: column -> label. One projection in the
    * frame's column order; a column labelled twice keeps its last label,
    * as successive [[withLabel]] calls would leave it. */
  def withLabels(df: DataFrame, labels: Seq[(String, String)]): DataFrame = {
    // a name that is no column fails the lookup, as in withLabel
    labels.foreach { case (c, _) => df.col(quoteIdentifier(c)) }
    val resolver = SQLConf.get.resolver
    df.select(df.columns.toSeq.map { name =>
      labels.reverseIterator.find { case (c, _) => resolver(name, c) } match {
        case Some((c, l)) =>
          df.col(quoteIdentifier(name)).as(c, new MetadataBuilder().putString(LabelKey, l).build())
        case None => df.col(quoteIdentifier(name))
      }
    }: _*)
  }

  /** Resolve labels to physical column names against the frame's metadata
    * catalog. First match wins on duplicates; throws on a missing label. */
  def resolve(df: DataFrame, labels: Seq[String]): Seq[String] = {
    val catalog = df.schema.fields.collect {
      case f if f.metadata.contains(LabelKey) =>
        f.metadata.getString(LabelKey) -> f.name
    }
    labels.map { l =>
      catalog.collectFirst { case (lab, c) if lab == l => c }
        .getOrElse(throw new MissingLabelException(l))
    }
  }

  /** The reference's whole R8/R9 move: resolve then project in label order,
    * with output columns renamed to the labels (positional 5-tuple analog). */
  def select(df: DataFrame, labels: Seq[String]): DataFrame = {
    val cols = resolve(df, labels)
    df.select(cols.zip(labels).map { case (c, l) => col(c).as(l) }: _*)
  }
}
