package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import SinkLogFixture._

/** The sink's manifest log of delta records and checkpoints: tables written
  * before it existed, its failure modes, and its cost at a deep history. */
class SinkLogSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-log").toString

  private def keys(lo: Int, hi: Int): Seq[String] = (lo to hi).map(key)
  private def cells(i: Int): Seq[String] =
    Seq(s"vendor-$i", s"item $i", "2024-01-01", s"C${i % 3}", key(i))

  /** Keys lo..hi in one data file written by the sink's own file writer. */
  private def dataFile(dir: String, name: String, lo: Int, hi: Int): Entry = {
    val w = new FormSinkSource.CellsFileWriter(Paths.get(dir, name))
    (lo to hi).foreach(i => w.add(cells(i).map(UTF8String.fromString).toArray))
    name -> Some(w.finish())
  }

  /** One committed append of keys lo..hi, in one file. */
  private def append(dir: String, lo: Int, hi: Int): Unit =
    spark.createDataFrame((lo to hi).map(i => Row.fromSeq(cells(i))).asJava,
        FormSinkSource.schema).repartition(1)
      .write.format(FormSinkSource.Format).mode(SaveMode.Append)
      .option("path", dir).save()

  /** The sorted keys a read with `options` returns. */
  private def read(dir: String, options: (String, Long)*): Seq[String] =
    options.foldLeft(spark.read.format(FormSinkSource.Format).option("path", dir)) {
      case (r, (k, v)) => r.option(k, v)
    }.load().select("po_number").as[String].collect().toSeq.sorted

  private def snapshot(dir: String, v: Long): FormSinkSource.Manifest =
    FormSinkSource.replay(dir, FormSinkSource.listLog(dir), v)._1

  test("a table of full listings reads, appends a delta, travels, feeds changes, streams and vacuums") {
    val dir = tmp()
    val Seq(a, b, c, d) = Seq((1, 10), (11, 20), (21, 30), (31, 40)).zipWithIndex
      .map { case ((lo, hi), i) => dataFile(dir, s"part-0000$i-legacy.parquet", lo, hi) }
    // appends, a truncate to c, an append: every version a full listing
    Seq(Seq(a), Seq(a, b), Seq(c), Seq(c, d)).zipWithIndex.foreach {
      case (es, i) => writeFull(dir, i + 1L, es)
    }
    assert(read(dir) === keys(21, 40))
    append(dir, 41, 50)
    val (v, names) = FormSinkSource.snapshotInfo(dir)
    assert(v === 5L && names.take(2) === Seq(c._1, d._1) && names.size === 3)
    assert(isDelta(logFile(dir, recordName(5))), "the append after a full listing is a delta")
    val expected = Seq(0 -> Seq.empty, 1 -> keys(1, 10), 2 -> keys(1, 20),
      3 -> keys(21, 30), 4 -> keys(21, 40), 5 -> keys(21, 50))
    expected.foreach { case (at, ks) => assert(read(dir, "versionAsOf" -> at.toLong) === ks, at) }
    // the change feed across the format boundary; a truncate stays fatal
    assert(read(dir, "changesFromVersion" -> 3L) === keys(31, 50))
    assert(read(dir, "changesFromVersion" -> 4L) === keys(41, 50))
    assert(read(dir, "changesFromVersion" -> 1L, "changesToVersion" -> 2L) === keys(11, 20))
    val err = intercept[Exception](read(dir, "changesFromVersion" -> 2L))
    assert(err.getMessage.contains("append-only"), err.getMessage)
    // a streaming read of every version
    val q = spark.readStream.format(FormSinkSource.Format).option("path", dir).load()
      .writeStream.format("memory").queryName("sinklog_compat")
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("sinklog_compat").select("po_number").as[String]
      .collect().toSeq.sorted === keys(21, 50))
    // vacuum keeps exactly the listed data files, and the newest version
    FormSinkSource.vacuum(dir, minAgeMs = 0)
    val onDisk = graft.util.Scratch.listEntries(Paths.get(dir))
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSet
    assert(onDisk === names.toSet)
    assert(logNames(dir) === Set(recordName(5), checkpointName(5)))
    assert(read(dir) === keys(21, 50))
  }

  test("a record torn mid-JSON fails the snapshot read naming the file, never a shorter listing") {
    val dir = tmp()
    append(dir, 1, 10); append(dir, 11, 20); append(dir, 21, 30)
    val torn = logFile(dir, recordName(3))
    val bytes = Files.readAllBytes(torn)
    Files.write(torn, bytes.take(bytes.length / 2))
    val e1 = intercept[IllegalStateException](FormSinkSource.snapshotInfo(dir))
    assert(e1.getMessage.contains(torn.toString), e1.getMessage)
    val e2 = intercept[Exception](read(dir))
    assert(e2.getMessage.contains(torn.toString), e2.getMessage)
    // the versions below it still read
    assert(read(dir, "versionAsOf" -> 2L) === keys(1, 20))
  }

  test("an abandoned checkpoint temp file is ignored by readers and reclaimed after its age guard") {
    val dir = tmp()
    (1 to 10).foreach(appendTick(dir, _))
    val before = snapshot(dir, 10)
    val abandoned = logFile(dir, "checkpoint-tmp-4711.tmp")
    Files.write(abandoned, """{"files":["part-00000-x""".getBytes)
    assert(FormSinkSource.latestManifest(dir) === before)
    assert(FormSinkSource.vacuum(dir, minAgeMs = 60000).isEmpty)
    assert(Files.exists(abandoned))
    Files.setLastModifiedTime(abandoned,
      FileTime.fromMillis(System.currentTimeMillis() - 120000))
    assert(FormSinkSource.vacuum(dir, minAgeMs = 60000) === Seq(abandoned))
    assert(logNames(dir).contains(checkpointName(10)))
    assert(FormSinkSource.latestManifest(dir) === before)
  }

  test("deleting checkpoint-v0000000010.json falls back to replay and returns the same snapshot") {
    val dir = tmp()
    (1 to 15).foreach(appendTick(dir, _))
    val (at15, from) = FormSinkSource.replay(dir, FormSinkSource.listLog(dir), 15)
    val at10 = snapshot(dir, 10)
    assert(from === 10L)
    Files.delete(logFile(dir, checkpointName(10)))
    val (again, replayedFrom) = FormSinkSource.replay(dir, FormSinkSource.listLog(dir), 15)
    assert(replayedFrom === 0L)
    assert(again === at15)
    assert(snapshot(dir, 10) === at10)
    assert(at15.files.size === 15)
  }

  test("at H = 1,000 versions an append writes one record under 1 KB and a read opens at most ten files") {
    val dir = tmp()
    (1 to 1000).foreach(appendTick(dir, _))
    (1001 to 1010).foreach { t =>
      val before = logNames(dir)
      val v = appendTick(dir, t)
      assert(v === t.toLong)
      val record = recordName(v)
      assert(logNames(dir) -- before ===
        (if (v % 10 == 0) Set(record, checkpointName(v)) else Set(record)))
      assert(Files.size(logFile(dir, record)) < 1024)
      // a cold read: one checkpoint, then the deltas above it
      val (m, from) = FormSinkSource.replay(dir, FormSinkSource.listLog(dir), v)
      assert(v - from <= 9 && from % 10 == 0, s"v$v replays from v$from")
      assert(m.files.size === t)
    }
  }
}
