package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.unsafe.types.UTF8String

/** The sink's read path: committed files packed into read partitions, the
  * local-file parquet codec (old files still read, corrupt pages fail the
  * read), and the staging and sidecar hygiene around it. */
class SinkReadSpec extends graft.SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-read").toString

  private def key(i: Int): String = f"U$i%09dD"
  private def row(i: Int): Row = Row(s"vendor-$i",
    if (i % 4 == 0) null else s"item $i", "2024-01-01", s"C${i % 3}", key(i))

  /** One committed append of keys lo..hi, in one file. */
  private def append(dir: String, lo: Int, hi: Int): Unit =
    spark.createDataFrame((lo to hi).map(row).asJava, FormSinkSource.schema)
      .coalesce(1)
      .write.format(FormSinkSource.Format).mode(SaveMode.Append)
      .option("path", dir).save()

  private def read(dir: String) =
    spark.read.format(FormSinkSource.Format).option("path", dir).load()

  /** The snapshot read one file at a time, in manifest order. */
  private def fileByFile(dir: String): Seq[Seq[String]] =
    FormSinkSource.snapshotInfo(dir)._2.flatMap { n =>
      val rows = Seq.newBuilder[Seq[String]]
      SinkCodec.foreachRow(Paths.get(dir, n), FormSinkSource.schema.fieldNames.toSeq)(
        cells => rows += cells.toSeq.map(c => if (c == null) null else c.toString))
      rows.result()
    }

  private def cells(rows: Array[Row]): Seq[Seq[String]] =
    rows.toSeq.map(_.toSeq.map(_.asInstanceOf[String]))

  /** Twelve single-task commits of ten rows each. */
  private def twelveCommits(): String = {
    val dir = tmp()
    (0 until 12).foreach(c => append(dir, 10 * c + 1, 10 * c + 10))
    dir
  }

  test("twelve commits pack into at most four partitions, rows in manifest order") {
    val dir = twelveCommits()
    assert(spark.sparkContext.defaultParallelism === 4)
    val all = read(dir)
    assert(all.rdd.getNumPartitions <= 4)
    val packed = all.collect()
    assert(FormSinkSource.lastScanFileCensus === ((12, 12)))
    val expected = fileByFile(dir)
    assert(expected.size === 120)
    assert(cells(packed) === expected)
    // the one-file-per-partition read (a split target below any file's
    // size) returns the same rows in the same order
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val perFile = read(dir)
      assert(perFile.rdd.getNumPartitions === 12)
      assert(cells(perFile.collect()) === expected)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("a pushed filter prunes files before packing; the census counts files") {
    val dir = twelveCommits()
    // keys 31..50: the third and fourth commits' files only
    val hit = read(dir).filter(col("po_number") >= key(31) && col("po_number") <= key(50))
    assert(hit.rdd.getNumPartitions <= 2)
    assert(hit.count() === 20)
    assert(FormSinkSource.lastScanFileCensus === ((2, 12)))
    assert(cells(hit.collect()) === fileByFile(dir).slice(30, 50))
  }

  test("a streaming micro-batch packs the same way, files in manifest order") {
    val dir = twelveCommits()
    val stream = new FormSinkMicroBatchStream(dir, FormSinkSource.schema)
    val parts = stream.planInputPartitions(stream.initialOffset(),
      stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable()))
    assert(parts.length <= 4)
    assert(parts.toSeq.flatMap(_.asInstanceOf[SinkFilesPartition].files) ===
      FormSinkSource.snapshotInfo(dir)._2.map(Paths.get(dir, _).toString))
    val factory = stream.createReaderFactory()
    val rows = parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[Seq[String]]
      try while (r.next()) out += (0 until 5).map { i =>
        val g = r.get()
        if (g.isNullAt(i)) null else g.getUTF8String(i).toString
      } finally r.close()
      out.result()
    }
    assert(rows === fileByFile(dir))
  }

  test("a file from the Hadoop-writer era, sidecar included, reads back cell for cell") {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = tmp()
    val name = "part-00000-0-hadoop-era.parquet"
    val cols = FormSinkSource.schema.fieldNames.toSeq
    val mt = {
      val b = Types.buildMessage()
      cols.foreach(c => b.addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(c)))
      b.named("graft_sink")
    }
    // the writer the sink used before the local-file API: a checksummed
    // Hadoop LocalFileSystem under a fresh Configuration
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(Paths.get(dir, name).toString))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(mt)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withWriterVersion(
        org.apache.parquet.column.ParquetProperties.WriterVersion.PARQUET_1_0)
      .build()
    val written = (1 to 50).map(row)
    try written.foreach { r =>
      val g = new SimpleGroup(mt)
      cols.indices.foreach { i =>
        if (!r.isNullAt(i)) g.add(i, Binary.fromString(r.getString(i)))
      }
      w.write(g)
    } finally w.close()
    assert(Files.exists(Paths.get(dir, s".$name.crc")), "the old writer wrote no sidecar")
    // published by a stats-less manifest, as a pre-stats commit was
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.createObjectNode()
    manifest.putArray("files").add(name)
    Files.createDirectories(Paths.get(dir, "_manifests"))
    Files.write(Paths.get(dir, "_manifests", "manifest-v0000000001.json"),
      mapper.writeValueAsBytes(manifest))
    val expected = written.map(_.toSeq.map(_.asInstanceOf[String]))
    assert(cells(read(dir).collect()) === expected)
    assert(fileByFile(dir) === expected)
  }

  test("a flipped byte in a data page fails the read, naming the file") {
    val dir = tmp()
    append(dir, 1, 100)
    val name = FormSinkSource.snapshotInfo(dir)._2.head
    val file = Paths.get(dir, name)
    val at = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(file))
      try {
        val chunk = r.getFooter.getBlocks.get(0).getColumns.get(0)
        // the chunk's last byte: inside its first (and only) data page,
        // past that page's header
        val last = chunk.getStartingPos + chunk.getTotalSize - 1
        assert(last > chunk.getFirstDataPageOffset + 8)
        last
      } finally r.close()
    }
    flip(file, at)
    val err = intercept[Exception](read(dir).collect())
    assert(err.getMessage.contains(file.toString), err.getMessage)
    val onDriver = intercept[Exception](fileByFile(dir))
    assert(onDriver.getMessage.contains(file.toString), onDriver.getMessage)
  }

  private def flip(file: Path, at: Long): Unit = {
    val ch = java.nio.channels.FileChannel.open(file,
      StandardOpenOption.READ, StandardOpenOption.WRITE)
    try {
      val b = java.nio.ByteBuffer.allocate(1)
      ch.read(b, at)
      b.put(0, (b.get(0) ^ 0x5a).toByte).rewind()
      ch.write(b, at)
    } finally ch.close()
  }

  test("an append whose task throws leaves _staging empty") {
    val dir = tmp()
    // one task: it stages rows 1..6, then the seventh throws inside it
    val boom = udf((i: Long) => {
      if (i == 7L) throw new IllegalStateException("task failure")
      f"U$i%09dD" // not key(): the closure must not capture the spec
    })
    val df = spark.range(1, 11, 1, 1).select(
      col("id").cast("string").as("vendor"), col("id").cast("string").as("description"),
      col("id").cast("string").as("picker_erk"), col("id").cast("string").as("charge_code"),
      boom(col("id")).as("po_number"))
    intercept[Exception](df.write.format(FormSinkSource.Format).mode(SaveMode.Append)
      .option("path", dir).save())
    val staging = Paths.get(dir, "_staging")
    assert(!Files.exists(staging) ||
      graft.util.Scratch.listEntries(staging).isEmpty,
      graft.util.Scratch.listEntries(staging))
    assert(FormSinkSource.snapshotInfo(dir)._1 === 0L)
  }

  test("vacuum reclaims a legacy sidecar whose data file is gone, and only that") {
    val dir = tmp()
    append(dir, 1, 10)
    val live = FormSinkSource.snapshotInfo(dir)._2.head
    val dead = Paths.get(dir, ".compacted-3-gone.parquet.crc")
    val kept = Paths.get(dir, s".$live.crc")
    Seq(dead, kept).foreach(Files.write(_, Array[Byte](1, 2, 3)))
    // the age guard holds a fresh sidecar back
    assert(FormSinkSource.vacuum(dir, minAgeMs = 60000).isEmpty)
    assert(FormSinkSource.vacuum(dir, minAgeMs = 0) === Seq(dead))
    assert(!Files.exists(dead) && Files.exists(kept))
    assert(read(dir).count() === 10)
  }

  test("the codec writes no sidecar and round-trips null cells") {
    val dir = tmp()
    val file = Paths.get(dir, "x.parquet")
    val w = new SinkCodec.ParquetRowWriter(file, Seq("a", "b"))
    w.write(Array(UTF8String.fromString("1"), null))
    w.write(Array(null, UTF8String.fromString("2")))
    w.close()
    assert(graft.util.Scratch.listEntries(Paths.get(dir)).map(_.getFileName.toString) ===
      Seq("x.parquet"))
    val back = Seq.newBuilder[Seq[String]]
    SinkCodec.foreachRow(file, Seq("b", "a"))(r =>
      back += r.toSeq.map(c => if (c == null) null else c.toString))
    assert(back.result() === Seq(Seq(null, "1"), Seq("2", null)))
  }
}
