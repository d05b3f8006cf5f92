package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's flagship pipeline re-expressed Spark-first (SURVEY.md §0):
  *
  * {{{
  * watermark = MAX(po_number) over sink table          // reference R3
  * delta     = SELECT <5 named columns, reordered>     // R8/R9
  *             FROM   source
  *             WHERE  po_number > watermark            // R6 (pushed down)
  *             ORDER  BY po_number ASC                 // R7
  * APPEND delta INTO sink                              // R4
  * }}}
  *
  * Reference: /root/reference/bin/copy-seamless-to-sharepoint.rb:52-125.
  * Differences by design:
  *   - the watermark is a real `max()` aggregate, not a "last row" positional
  *     read (the reference admits its sink-side order_by "is not working",
  *     bin:52 — `max` is order-independent and distributed);
  *   - the cron tick ([[runIncrement]]) reads the watermark first and passes
  *     it into the source filter as a literal, as the reference itself sends
  *     it to the API as a `filter[...]` query parameter (bin:79-85): the
  *     source's pushed-filter contract then returns only the delta. The
  *     read is cheap — the connector sink answers MAX from its manifest
  *     stats. [[deltaAgainst]] keeps the lazy form (a broadcast single-row
  *     cross join) for callers that compose the delta into a larger plan;
  *   - PO numbers stay StringType and compare lexicographically — matching
  *     the reference's string `>` ('is greater than', bin:81); never cast to
  *     numeric (SURVEY.md §7 "hard parts").
  *
  * `orders` stands in for both sides (FIXTURES.md): rows with
  * `o_orderkey <= sinkCutoff` play the already-loaded sink; the full table is
  * the source feed. `format_string("U%09dD", key)` produces the reference's
  * zero-padded 'U…D' PO shape, where lexicographic and numeric order agree.
  */
object WatermarkEtl {

  val DefaultSinkCutoff = 999

  /** PO-number derivation: zero-padded, affixed, lexicographically ordered. */
  def poNumber(key: Column): Column = format_string("U%09dD", key)

  /** Source feed shaped like the reference's resolved 5-column projection
    * (COLUMN_VALUES order, bin:18): vendor, description, picker_erk,
    * charge_code, po_number — all strings, like Seamless cells (§1.2). */
  def sourceFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_custkey").cast("string").as("vendor"),
      col("o_orderpriority").as("description"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("picker_erk"),
      col("o_orderstatus").as("charge_code"),
      poNumber(col("o_orderkey")).as("po_number"))

  /** MAX(po) over the sink as a broadcastable single-row frame (R3). */
  def watermark(sink: DataFrame): DataFrame =
    sink.agg(max(col("po_number")).as("wm"))

  /** The incremental delta: source rows strictly newer than the sink
    * watermark, projected/reordered and sorted ascending by PO (R6-R9). */
  def delta(spark: SparkSession, dir: String,
            sinkCutoff: Int = DefaultSinkCutoff): DataFrame = {
    val src  = sourceFeed(spark, dir)
    val sink = src.filter(col("o_orderkey") <= sinkCutoff)
      .select(col("po_number"))
    deltaAgainst(src, sink)
  }

  /** Delta of an arbitrary source vs an arbitrary already-loaded sink (both
    * carrying a `po_number` column). Broadcast cross join keeps it lazy. */
  def deltaAgainst(source: DataFrame, sink: DataFrame): DataFrame =
    newerThan(source.crossJoin(broadcast(watermark(sink))),
      coalesce(col("wm"), lit("")))

  /** Source rows with `po_number > wm`, projected to the sink's five
    * columns in COLUMN_VALUES order and sorted ascending by PO (R6-R9). */
  private def newerThan(source: DataFrame, wm: Column): DataFrame =
    source
      .filter(col("po_number") > wm)
      .select(col("vendor"), col("description"), col("picker_erk"),
        col("charge_code"), col("po_number"))
      .orderBy(col("po_number"))

  /** Full run: read the watermark of the sink at `sinkPath`, then append
    * the source rows newer than it (R4). The watermark reaches the source
    * as a literal (`""` for an empty sink), so a source with filter
    * pushdown returns only the delta. Two sink transports behind
    * `viaConnector`:
    *
    *   - `false`: parquet via `DataFrameWriter` — the lake-table shape;
    *   - `true`: the [[graft.sources.FormSinkSource]] DSv2 connector — the
    *     reference's remote-table shape (Graph append POST, bin:111-123),
    *     with the watermark read (R3) AND the append (R4) both through the
    *     connector's two-phase-commit write path.
    *
    * Returns the number of appended rows (the reference logs this, R10),
    * measured with `observe()` DURING the append itself — one pass over the
    * delta, no cache. The previous formulation cached the delta, counted
    * it, then wrote it: two actions and a cache of the whole delta, which
    * at 100 TB is exactly the materialization this pipeline exists to
    * avoid. An empty delta writes nothing visible: the parquet append adds
    * zero rows and the connector elides the no-op manifest version. */
  def runIncrement(spark: SparkSession, source: DataFrame, sinkPath: String,
                   viaConnector: Boolean = false): Long = {
    val sink =
      if (viaConnector)
        spark.read.format(graft.sources.FormSinkSource.Format)
          .option("path", sinkPath).load()
      else if (new java.io.File(sinkPath).exists) spark.read.parquet(sinkPath)
      else spark.emptyDataFrame.withColumn("po_number", lit(null).cast("string"))
    val wm = watermark(sink.select(col("po_number"))).head().getString(0)
    val d = newerThan(source, lit(Option(wm).getOrElse("")))
    val obs = org.apache.spark.sql.Observation()
    val observed = d.observe(obs, count(lit(1)).as("n"))
    if (viaConnector)
      observed.write.format(graft.sources.FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", sinkPath).save()
    else observed.write.mode(SaveMode.Append).parquet(sinkPath)
    obs.get("n").asInstanceOf[Long]
  }
}
