package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.{sources => f}
import org.apache.spark.unsafe.types.UTF8String

import FormSinkSource.{Attempt, FileStats, Successor}

/** The sink's one commit path under a version race made deterministic:
  * each attempt publishes a competing append itself before it returns, so
  * its own publication of the same version loses. */
class SinkCommitSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-commit").toString

  private def key(i: Int): String = f"U$i%09dD"
  private def keys(lo: Int, hi: Int): Seq[String] = (lo to hi).map(key)
  private def cells(i: Int): Seq[String] =
    Seq(s"vendor-$i", s"item $i", "2024-01-01", s"C${i % 3}", key(i))

  /** One committed append of keys lo..hi, in one file. */
  private def append(dir: String, lo: Int, hi: Int): Unit =
    spark.createDataFrame((lo to hi).map(i => Row.fromSeq(cells(i))).asJava,
        FormSinkSource.schema).repartition(1)
      .write.format(FormSinkSource.Format).mode(SaveMode.Append)
      .option("path", dir).save()

  private def keysAt(dir: String, version: Option[Long] = None): Seq[String] = {
    val r = spark.read.format(FormSinkSource.Format).option("path", dir)
    version.fold(r)(v => r.option("versionAsOf", v)).load()
      .select("po_number").as[String].collect().toSeq.sorted
  }

  /** Every data file on disk, listed or not. */
  private def dataFiles(dir: String): Set[String] =
    graft.util.Scratch.listEntries(Paths.get(dir)).map(_.getFileName.toString)
      .filter(SinkCodec.isDataFile).toSet

  /** Keys lo..hi through `w`'s real task writer: one staged task file. */
  private def stage(w: FormSinkBatchWrite, lo: Int, hi: Int): WriterCommitMessage = {
    val dw = w.createBatchWriterFactory(null).createWriter(0, 0L)
    try {
      (lo to hi).foreach(i =>
        dw.write(InternalRow.fromSeq(cells(i).map(UTF8String.fromString))))
      dw.commit()
    } finally dw.close()
  }

  test("a batch append that loses the version race re-stacks on the winner") {
    val dir = tmp()
    var attempts = 0
    val job = new FormSinkBatchWrite(dir, false, None, "job-append") {
      override protected def stackOn(a: Attempt, added: Seq[(String, Option[FileStats])]) = {
        attempts += 1
        if (attempts == 1) append(dir, 101, 150) // the racer takes version 1
        super.stackOn(a, added)
      }
    }
    job.commit(Array(stage(job, 1, 100)))
    assert(attempts === 2)
    assert(FormSinkSource.snapshotInfo(dir)._1 === 2L)
    assert(keysAt(dir, Some(1L)) === keys(101, 150))
    assert(keysAt(dir) === keys(1, 150))
  }

  test("a REPLACE WHERE loser removes its deleted-* rewrites and redoes them on the winner") {
    val dir = tmp()
    append(dir, 1, 100) // version 1: one file straddling the predicate
    val replaced = f.LessThanOrEqual("po_number", key(30))
    var attempts = 0
    var lostRewrites = Set.empty[String]
    val job = new FormSinkBatchWrite(dir, false, Some(replaced), "job-replace") {
      override protected def stackOn(a: Attempt, added: Seq[(String, Option[FileStats])]) = {
        attempts += 1
        val next = super.stackOn(a, added)
        if (attempts == 1) {
          lostRewrites = dataFiles(dir).filter(_.startsWith("deleted-"))
          append(dir, 1, 10) // the racer takes version 2 with matching keys
        }
        next
      }
    }
    job.commit(Array(stage(job, 201, 210)))
    assert(attempts === 2)
    assert(lostRewrites.size === 1 && lostRewrites.head.startsWith("deleted-1-"),
      lostRewrites)
    assert(lostRewrites.intersect(dataFiles(dir)).isEmpty, "the loser's rewrite stayed on disk")
    val (v, live) = FormSinkSource.snapshotInfo(dir)
    assert(v === 3L)
    assert(live.count(_.startsWith("deleted-2-")) === 1, live)
    // redone against the winner: the racer's matching rows are replaced too
    assert(keysAt(dir) === keys(31, 100) ++ keys(201, 210))
  }

  test("compact and delete that lose the race return None and leave no file behind") {
    val dir = tmp()
    append(dir, 1, 50); append(dir, 51, 100)
    def race(attempt: Attempt => Option[Successor], lo: Int): Unit = {
      val (v, live) = FormSinkSource.snapshotInfo(dir)
      val onDisk = dataFiles(dir)
      val rows = keysAt(dir)
      val out = FormSinkSource.commit(dir) { a =>
        val next = attempt(a)
        assert((dataFiles(dir) -- onDisk).nonEmpty, "the attempt wrote nothing to lose")
        append(dir, lo, lo + 9)
        next
      }
      assert(out === None)
      val (v2, live2) = FormSinkSource.snapshotInfo(dir)
      assert(v2 === v + 1, "only the racer published")
      val racer = live2.diff(live)
      assert(live2 === live ++ racer && racer.size === 1, live2)
      assert(dataFiles(dir) === onDisk ++ racer, "a created file stayed on disk")
      assert(keysAt(dir) === (rows ++ keys(lo, lo + 9)).sorted)
    }
    race(FormSinkSource.compactOnto, 201)
    race(FormSinkSource.deleteOnto(f.LessThanOrEqual("po_number", key(20))), 301)
  }

  test("a merge that fails mid-rewrite leaves no merged-* file behind") {
    val dir = tmp()
    append(dir, 1, 50); append(dir, 51, 100)
    val (v, live) = FormSinkSource.snapshotInfo(dir)
    // both files hold a merge key; the first is rewritten before the
    // second, corrupt one fails to decode
    Files.write(Paths.get(dir, live(1)), "not a parquet file".getBytes)
    val onDisk = dataFiles(dir)
    def image(i: Int) = FormSinkSource.schema.fieldNames.zip(cells(i)).toMap
      .updated("vendor", "merged")
    intercept[Exception](
      FormSinkSource.merge(dir, "po_number", Seq(image(10), image(60))))
    assert(dataFiles(dir) === onDisk, "the failed merge left files behind")
    assert(FormSinkSource.snapshotInfo(dir)._1 === v)
  }
}
