package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated parquet tables (TESTDATA.md). All access
  * goes through `spark.read.parquet` so Catalyst owns column pruning,
  * predicate pushdown and vectorized scanning — the reference fetches whole
  * JSON payloads and prunes client-side (SURVEY.md §4 "column pruning:
  * absent"), which we deliberately do NOT reproduce.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what parquet schema inference returns. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The table with its inferred schema memoized per JVM: inference is a
    * Spark job over the footers (~100 ms of CPU per read against ~15 ms
    * for a read given its schema), and the registry reads the same few
    * tables over and over. Keyed on [[util.Scratch.sourceKey]], so a
    * rewritten table re-infers, and on the inference confs, so a session
    * that reads nanos as longs (`events`) gets its own entry. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown table: $name")
    val path = s"$dir/$name.parquet"
    val key = (util.Scratch.sourceKey(dir, name) +: name +:
      InferenceConfs.map(spark.conf.getOption(_).getOrElse(""))).mkString("|")
    val schema = schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` normalization — the driver has shipped it two ways:
    *   - parquet TIMESTAMP(NANOS), which Spark's reader rejects natively:
    *     read as long (legacy conf) and convert; the data is µs-aligned
    *     (verified: epoch_ns % 1000 == 0), so `div 1000` is lossless;
    *   - parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark
    *     reads as TIMESTAMP_NTZ: cast to TIMESTAMP. Every session in this
    *     repo pins spark.sql.session.timeZone=UTC, so the cast re-tags the
    *     same microsecond value (no wall-clock shift) and DuckDB — which
    *     reads the µs directly — sees identical values.
    * Either way downstream code gets a plain TIMESTAMP column usable with
    * `unix_micros`, window frames and watermarks.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
