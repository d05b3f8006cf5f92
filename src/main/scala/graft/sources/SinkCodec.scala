package graft.sources

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.unsafe.types.UTF8String

/** Data-file codec tier of [[FormSinkSource]] — the r17 verdict's weak
  * item 2 ("the sink's JSONL data format is the scale-killer, measured
  * twice"). Every NEW data file is snappy parquet (`.parquet`) of optional
  * UTF-8 string columns via parquet-mr — dictionary + RLE encoded, so the
  * OPTIMIZE-CLUSTER full-table rewrite (2 reads + 2 writes of the whole
  * table, q350/q354's 139 s sf10 absolute) moves columnar bytes instead of
  * a row-at-a-time Jackson string codec, and a pruned scan decodes only
  * the requested columns.
  *
  * Row-JSON files (`.jsonl`, the original JSON-lines tier) are read-only
  * history: readers dispatch on each FILE's extension, so old history keeps
  * reading, a table can mix eras, and a compaction or clustered rewrite
  * migrates it to parquet. Both readers round-trip cell STRINGS exactly (the
  * sink's cells are strings by model, SURVEY §1.2); the manifest min/max
  * stats are collected inline by the writers, and every mutation publishes
  * through the one manifest swap, [[FormSinkSource.commit]] — the
  * file-skipping contract is codec-independent.
  *
  * Files are opened through parquet's local-file API (`LocalInputFile`,
  * `LocalOutputFile`, `PlainParquetConfiguration`): the sink is local by
  * construction (`java.nio` paths, `Files.move` commits), so no Hadoop
  * FileSystem or Hadoop `Configuration` is built per file — that per-file
  * set-up, not decoding, was most of a small file's read cost. Integrity
  * rides parquet's page CRC32s: the writer records one per page and the
  * reader verifies every page it decodes, so a corrupt file fails the read
  * with an error naming it instead of returning wrong cells. (Hadoop's
  * `.crc` sidecars are no longer written; files that carry one still
  * read, and `vacuum` reclaims sidecars whose data file is gone.) */
private[sources] object SinkCodec {
  val JsonlExt = ".jsonl"
  val ParquetExt = ".parquet"

  /** Is `name` one of the sink's data-file tiers? (vacuum's victim filter
    * and any listing hygiene — manifests and tmp files are excluded.) */
  def isDataFile(name: String): Boolean =
    name.endsWith(JsonlExt) || name.endsWith(ParquetExt)

  /** All-optional-string parquet schema over `cols` — the sink's fixed
    * 5-string-column model (or a pruned subset for projected reads). */
  private def messageType(cols: Seq[String]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach { c =>
      b.addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(c))
    }
    b.named("graft_sink")
  }

  // ---- write ----------------------------------------------------------

  /** Row-at-a-time parquet writer over nullable UTF-8 cells in `cols`
    * order. Callers own stats collection (min/max ride the manifest, not
    * the codec) and must close() to seal the footer. */
  final class ParquetRowWriter(file: Path, cols: Seq[String]) {
    private val mt = messageType(cols)
    private val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withConf(new PlainParquetConfiguration())
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriterVersion(ParquetProperties.WriterVersion.PARQUET_1_0)
      .build()
    def write(cells: Array[UTF8String]): Unit = {
      val g = new SimpleGroup(mt)
      var i = 0
      while (i < cells.length) {
        // getBytes may alias the backing array only when it is exactly the
        // string's own array (already immutable here: writers hand us
        // cloned cells); fromReusedByteArray avoids a second copy — the
        // example-API writer deep-copies into its column buffers on add
        if (cells(i) != null)
          g.add(i, Binary.fromReusedByteArray(cells(i).getBytes))
        i += 1
      }
      w.write(g)
    }
    def close(): Unit = w.close()
  }

  // ---- read -----------------------------------------------------------

  /** Row-at-a-time reader of nullable UTF-8 cells in `cols` order —
    * [[org.apache.spark.sql.connector.read.PartitionReader]]-shaped so the
    * scan wraps it directly; driver-side ops loop it to exhaustion. */
  trait RowReader {
    def next(): Boolean
    def get(): Array[UTF8String]
    def close(): Unit
  }

  /** Open one data file. Every failure to open or decode it names the file
    * (fail fast: a corrupt page must never read as wrong cells). */
  def reader(file: Path, cols: Seq[String]): RowReader =
    try {
      if (file.getFileName.toString.endsWith(JsonlExt))
        new JsonlReader(file, cols)
      else new ParquetRowReader(file, cols)
    } catch { case NonFatal(e) => throw naming(file, e) }

  /** `files` read back to back, in order, one open at a time — a read
    * partition of several committed files. */
  def chain(files: Seq[Path], cols: Seq[String]): RowReader = new RowReader {
    private val rest = files.iterator
    private var cur: RowReader = null
    override def next(): Boolean = {
      while (cur == null || !cur.next()) {
        close()
        if (!rest.hasNext) return false
        cur = reader(rest.next(), cols)
      }
      true
    }
    override def get(): Array[UTF8String] = cur.get()
    override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  /** Drain a file through `f` per row — the driver-side rewrite loops. */
  def foreachRow(file: Path, cols: Seq[String])(
      f: Array[UTF8String] => Unit): Unit = {
    val r = reader(file, cols)
    try while (r.next()) f(r.get()) finally r.close()
  }

  /** `e`, or — when its message does not already name `file` — `e`
    * wrapped with the path prepended. */
  private def naming(file: Path, e: Throwable): Throwable =
    if (String.valueOf(e.getMessage).contains(file.toString)) e
    else new java.io.IOException(s"form sink: cannot read $file: $e", e)

  /** A file reader whose row step names the file on failure. */
  private abstract class FileRowReader(file: Path) extends RowReader {
    protected def advance(): Boolean
    final override def next(): Boolean =
      try advance() catch { case NonFatal(e) => throw naming(file, e) }
  }

  private final class JsonlReader(file: Path, cols: Seq[String])
      extends FileRowReader(file) {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    private val in = Files.newBufferedReader(file)
    private val names = cols.toArray
    private var row: Array[UTF8String] = _
    override protected def advance(): Boolean = {
      val line = in.readLine()
      if (line == null) return false
      val node = mapper.readTree(line)
      row = names.map { c =>
        val v = node.get(c)
        if (v == null || v.isNull) null else UTF8String.fromString(v.asText())
      }
      true
    }
    override def get(): Array[UTF8String] = row
    override def close(): Unit = in.close()
  }

  private final class ParquetRowReader(file: Path, cols: Seq[String])
      extends FileRowReader(file) {
    private val conf = new PlainParquetConfiguration()
    // column projection: parquet decodes ONLY the requested columns —
    // the pruned-scan half of the columnar tier's win
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, messageType(cols).toString)
    private val rd = new ParquetReader.Builder[Group](new LocalInputFile(file), conf) {
        override protected def getReadSupport(): ReadSupport[Group] =
          new GroupReadSupport()
      }.usePageChecksumVerification(true).build()
    private val n = cols.size
    private var row: Array[UTF8String] = _
    override protected def advance(): Boolean = {
      val g = rd.read()
      if (g == null) return false
      val cells = new Array[UTF8String](n)
      var i = 0
      while (i < n) {
        if (g.getFieldRepetitionCount(i) > 0)
          cells(i) = UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
        i += 1
      }
      row = cells
      true
    }
    override def get(): Array[UTF8String] = row
    override def close(): Unit = rd.close()
  }
}
