package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.unsafe.types.UTF8String

import SinkLogFixture.Entry

/** Sinks with real data files for the grouped-aggregate specs and
  * properties, laid down without Spark jobs: rows in the sink's column
  * order (a null is a null cell), written as a parquet file through the
  * sink's own writer, or as a stats-less JSON-lines file of the original
  * codec, and published through the sink's commit. */
object SinkAggFixture {
  type Cells = Seq[String]

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val columns = FormSinkSource.schema.fieldNames.toSeq

  /** Write `rows` as one data file of the sink at `dir`: its entry. */
  def dataFile(dir: String, rows: Seq[Cells], jsonl: Boolean = false): Entry = {
    Files.createDirectories(Paths.get(dir))
    val stem = s"part-00000-${java.util.UUID.randomUUID()}"
    if (jsonl) {
      val name = stem + SinkCodec.JsonlExt
      Files.write(Paths.get(dir, name), rows.map { r =>
        val node = mapper.createObjectNode()
        columns.zip(r).foreach { case (c, v) => Option(v).fold(node.putNull(c))(node.put(c, _)) }
        mapper.writeValueAsString(node)
      }.asJava)
      name -> None
    } else {
      val name = stem + SinkCodec.ParquetExt
      val w = new FormSinkSource.CellsFileWriter(Paths.get(dir, name))
      rows.foreach(r => w.add(r.map(v => if (v == null) null else UTF8String.fromString(v)).toArray))
      name -> Some(w.finish())
    }
  }

  /** Append one data file of `rows`: the new version. */
  def append(dir: String, rows: Seq[Cells], jsonl: Boolean = false): Long = {
    val e = dataFile(dir, rows, jsonl)
    SinkLogFixture.publish(dir)(_ :+ e)
  }

  /** Row `i` of the form-pipeline source's row model, as the probe lays
    * it: 97 vendors, 7 charge codes, zero-padded PO numbers. */
  def sourceRow(i: Long): Cells = Seq(s"V${i % 97}", s"order $i",
    java.time.LocalDate.of(2020, 1, 1).plusDays(i % 365).toString,
    s"C${i % 7}", f"U$i%09dD")
}
