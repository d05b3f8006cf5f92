package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine entry point: a named DataFrame pipeline over the
  * driver's parquet tables, plus (when SQL-expressible) an equivalent DuckDB
  * oracle query the harness cross-checks at sf0.01.
  *
  * Oracle-parity conventions (see SURVEY.md §5):
  *   - money/double sums are emitted as exact cents (`floor(x*100)` longs) so
  *     results are independent of floating-point summation order;
  *   - every query ends in a total deterministic ORDER BY mirrored in the SQL;
  *   - aggregates are aliased identically on both sides (driver hash-compares
  *     by column name).
  */
final case class GraftQuery(
    name: String,
    doc: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame)

object GraftQuery {
  /** A query with a DuckDB oracle (strong differential check). */
  def apply(name: String, doc: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, doc, Some(oracle), build)
}
