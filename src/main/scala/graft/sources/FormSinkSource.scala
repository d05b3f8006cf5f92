package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.{sources => sqlf}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 *sink* counterpart of [[FormPipelineSource]]: the
  * reference's Graph-API row append (SURVEY §2.1 R4 —
  * /root/reference/bin/copy-seamless-to-sharepoint.rb:111-123, a POST of
  * `values: [[v1..v5]], index: null` per delta row, i.e. append-at-end of a
  * fixed 5-string-column table) modeled as a full `SupportsWrite` table with
  * the engine-side semantics a remote sink needs:
  *
  *   - **two-phase commit with a manifest swap**: each task stages its rows
  *     to a private file under a per-job staging subdirectory (keyed by the
  *     write's queryId, so two concurrent jobs on the same path never sweep
  *     each other's staged files); the driver's `BatchWrite.commit` moves the
  *     job's files into the table directory — where they are still INVISIBLE,
  *     because readers only see files listed in the newest versioned manifest
  *     (`_manifests/manifest-v<N>.json`) — and then publishes one new
  *     manifest atomically. A driver crash anywhere before the manifest swap
  *     leaves at most orphaned data files that no reader ever sees (a real
  *     deployment vacuums unreferenced files); a crash after it has published
  *     everything. Exactly-once, strictly stronger than the reference (its
  *     row-by-row POSTs can duplicate on partial failure, SURVEY §3.4).
  *     Concurrent commits serialize optimistically: the manifest is published
  *     via an atomic hard-link that fails if version N+1 already exists
  *     (POSIX rename would silently replace), and the loser re-reads and
  *     retries on top of the winner's manifest;
  *   - **a manifest log with checkpoints**, after Delta Lake's (Armbrust et
  *     al., VLDB 2020): a commit writes what it adds, not the whole listing.
  *     `manifest-v<N>.json` is one of two shapes. An append (version N−1's
  *     entries unchanged and in order, new entries after them) is a DELTA
  *     record: `{"add": [names], "epochs": {...}, "stats": {added names}}`,
  *     about 0.4 KB per tick file. Any other commit (truncate, delete,
  *     REPLACE WHERE, merge, compaction, clustered rewrites) is a FULL
  *     listing, `{"files": [names], "epochs", "stats"}`, which is also the
  *     only shape older tables hold. After a delta at a version that is a
  *     multiple of [[FormSinkSource.CheckpointInterval]] (10) the commit
  *     writes `checkpoint-v<N>.json`, the full listing of N, create-once
  *     like a record. A read lists `_manifests` once, walks down from the
  *     version it wants to the newest checkpoint or full record at or below
  *     it (version 0 is the empty table), and replays the deltas above that
  *     in order: one full listing plus at most nine deltas. A lost or torn
  *     checkpoint costs replay only; a torn record fails the read naming
  *     the file. `vacuum` first checkpoints the newest version if it
  *     replays from older files, then reclaims every older record and
  *     checkpoint past its age guard;
  *   - **append and truncate** (`SaveMode.Append` / `Overwrite`), matching
  *     the two ways a scheduled ETL runs (incremental tick / full reload);
  *   - **time travel**: `.option("versionAsOf", n)` reads the table as of
  *     manifest version n (retained until vacuumed). Truncate physically
  *     deletes superseded files locally, so travel across a truncate is
  *     unsupported here (a real deployment defers deletion to vacuum, as
  *     the age guard already models);
  *   - **change feed**: `.option("changesFromVersion", n)` (exclusive;
  *     optional `changesToVersion`, inclusive, default latest) reads only
  *     the files commits (n, to] ADDED — incremental downstream consumption
  *     without re-reading the table. Append-only by contract: a range
  *     spanning a truncate/compaction rewrite is rejected loudly;
  *   - **readable back** (`SupportsRead` with column pruning), so the
  *     watermark MAX-over-sink read (R3) runs through the same connector.
  *     An ungrouped MAX/MIN/COUNT(*) is answered on the driver from the
  *     manifest's per-file stats, so the watermark costs one manifest read,
  *     not a pass over the table; only files from manifests written before
  *     stats existed are still opened. The same aggregates grouped by sink
  *     columns — the analyst's `count(*)` by `charge_code` — are folded
  *     per group by one task when one task is the right size for the
  *     snapshot (see [[FormSinkScanBuilder]]): one Spark job, no exchange;
  *   - **manifest-stats file skipping**: each commit records per-file
  *     rows/min/max in the manifest (collected inline by the task writers).
  *     One evaluator, [[SinkPredicate]], answers every filter question: a
  *     row is a file whose min equals its max, so the scan's and runtime
  *     filtering's file pruning, DELETE, REPLACE WHERE and MERGE all ask
  *     the same three-valued outcomes of the same `sources.Filter` — a file
  *     is opened when TRUE is possible, a row is removed when it is exactly
  *     TRUE. Scan pruning is advisory, parquet-row-group style: the filter
  *     is still re-applied post-scan, so the coarse stats are an
  *     optimization, never the correctness boundary.
  *
  * Data files go through [[SinkCodec]]. New files are always snappy
  * PARQUET (the r17 verdict's weak item 2: a full-table OPTIMIZE rewrite
  * through a row-at-a-time JSON string codec cost 10× the equivalent
  * parquet IO). `.jsonl` files from the original JSON-lines era are
  * read-only history: a table can mix eras, and a compaction migrates
  * them. Every mutation (batch and streaming commits, compaction, delete,
  * merge) publishes through the one optimistic [[FormSinkSource.commit]].
  * The schema is the reference table's fixed 5 string columns: Seamless
  * cells are strings (SURVEY §1.2), so StringType-only is the faithful
  * model.
  *
  * Usage: `df.write.format("graft.sources.FormSinkSource")
  *   .mode("append").option("path", dir).save()` and
  * `spark.read.format(...).option("path", dir).load()`.
  */
class FormSinkSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FormSinkSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FormSinkTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("FormSinkSource requires option 'path'")))
}

object FormSinkSource {
  /** The reference table's columns, in its COLUMN_VALUES order (bin:18). */
  val schema: StructType = StructType(
    Seq("vendor", "description", "picker_erk", "charge_code", "po_number")
      .map(StructField(_, StringType, nullable = true)))

  val Format = "graft.sources.FormSinkSource"

  private[sources] def dataDir(path: String): Path = Paths.get(path)
  /** Per-job staging: keyed by the write's queryId so concurrent jobs on the
    * same path stage — and sweep — only their own files. */
  private[sources] def stagingDir(path: String, jobId: String): Path =
    Paths.get(path, "_staging", jobId)
  private[sources] def manifestDir(path: String): Path =
    Paths.get(path, "_manifests")

  private val ManifestName = """manifest-v(\d{10})\.json""".r
  private val CheckpointName = """checkpoint-v(\d{10})\.json""".r
  /** A log file's temporary twin: linked into place, or left by a crash. */
  private val TempName = """(?:manifest|checkpoint)-tmp-.*\.tmp""".r
  /** A Hadoop checksum sidecar `.<data file>.crc`. */
  private val Sidecar = """\.(.+)\.crc""".r
  private def manifestFile(path: String, version: Long): Path =
    manifestDir(path).resolve(f"manifest-v$version%010d.json")
  private def checkpointFile(path: String, version: Long): Path =
    manifestDir(path).resolve(f"checkpoint-v$version%010d.json")

  /** Versions between full checkpoints of the log: Delta Lake's interval. */
  val CheckpointInterval = 10L

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One snapshot of the table: the file names it makes visible (in
    * listing order), their stats, and the streaming-epoch watermarks it
    * carries. Version 0 with no files when the table has never committed.
    *
    * `epochs` is `{queryId -> last committed epochId}`, carried forward by
    * every commit and consulted BEFORE committing a streaming epoch, so a
    * replayed micro-batch after a restart is recognized and skipped — the
    * manifest swap and the epoch record are the SAME atomic publication,
    * which is what makes streaming-into-the-sink exactly-once. */
  private[sources] case class Manifest(version: Long, files: Seq[String],
                                       stats: Map[String, FileStats],
                                       epochs: Map[String, Long]) {
    /** The listing with each file's stats, when recorded. */
    def entries: Seq[(String, Option[FileStats])] = files.map(f => f -> stats.get(f))
  }

  /** The `_manifests` directory, listed once: version -> record, and
    * version -> checkpoint. A temp file mid-publish is neither. */
  private[sources] final case class Log(records: Map[Long, Path],
                                        checkpoints: Map[Long, Path]) {
    /** The newest committed version; 0 when the table never committed. */
    def latest: Long =
      (records.keysIterator ++ checkpoints.keysIterator).maxOption.getOrElse(0L)
  }

  private[sources] def listLog(path: String): Log = {
    val entries = graft.util.Scratch.listEntries(manifestDir(path))
    def versions(name: scala.util.matching.Regex): Map[Long, Path] =
      entries.flatMap(p => p.getFileName.toString match {
        case name(v) => Some(v.toLong -> p)
        case _       => None
      }).toMap
    Log(versions(ManifestName), versions(CheckpointName))
  }

  /** The newest version, from the listing alone (no log file opened). */
  private[sources] def latestVersion(path: String): Long = listLog(path).latest

  /** The newest snapshot, replayed from one listing of the log. */
  private[sources] def latestManifest(path: String): Manifest = {
    val log = listLog(path)
    replay(path, log, log.latest)._1
  }

  /** Per-data-file column statistics, written into the manifest at commit
    * time. Scan planning answers pushed MAX/MIN/COUNT(*) from them and
    * consults them for FILE SKIPPING: a pushed
    * comparison filter that provably matches no row of a file prunes the
    * whole file before any task is scheduled — at a 100 TB append log this
    * is what makes the watermark delta read `po_number > wm` touch only the
    * newest commit's files instead of the full history. min/max are in
    * UTF-8 binary order (the order Spark compares strings in); a column
    * absent from `mins` was all-null in the file. */
  private[sources] case class FileStats(rows: Long,
                                        mins: Map[String, String],
                                        maxs: Map[String, String])

  /** One parsed log file: a full listing (`full`; a checkpoint, or the
    * record of a commit that was not an append) or a delta record naming
    * the files appended to the previous version. `stats` covers `names`;
    * `epochs` is the epoch record as of the file's version either way. */
  private final case class LogFile(full: Boolean, names: Seq[String],
                                   stats: Map[String, FileStats],
                                   epochs: Map[String, Long])

  /** Parse one log file. A torn or foreign file fails naming it: a reader
    * must never take a cut listing for a shorter one. */
  private def readLogFile(p: Path): LogFile = {
    def bad(why: String, cause: Throwable = null) =
      new IllegalStateException(s"form sink: unreadable manifest log file $p: $why", cause)
    val root = try mapper.readTree(Files.readAllBytes(p)) catch {
      case e: java.io.IOException => throw bad(e.getMessage, e)
    }
    def field(key: String) = Option(root).flatMap(r => Option(r.get(key)))
    val (full, list) = field("files").map(true -> _)
      .orElse(field("add").map(false -> _))
      .filter(_._2.isArray)
      .getOrElse(throw bad("neither a listing (\"files\") nor a delta (\"add\")"))
    val names = (0 until list.size()).map(list.get(_).asText())
    // "stats" is optional (manifests written before stats existed): a file
    // without stats is never skipped, only read
    val stats = field("stats").map { s =>
      names.flatMap { n =>
        Option(s.get(n)).map { fs =>
          def m(key: String): Map[String, String] = Option(fs.get(key)).map { o =>
            o.properties().iterator().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
          }.getOrElse(Map.empty)
          n -> FileStats(fs.get("rows").asLong(), m("mins"), m("maxs"))
        }
      }.toMap
    }.getOrElse(Map.empty)
    val epochs = field("epochs").map { e =>
      e.properties().iterator().asScala
        .map(en => en.getKey -> en.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    LogFile(full, names, stats, epochs)
  }

  /** Snapshot `version`: walk down from it to the newest checkpoint or
    * full record at or below it (version 0 is the empty snapshot), then
    * replay the delta records above that start in version order. Returns
    * the snapshot and the start's version; a latest read thus opens one
    * full listing and at most [[CheckpointInterval]] − 1 deltas. Fatal when
    * `version` or a record it replays is missing (vacuumed, or never
    * committed) or unreadable. */
  private[sources] def replay(path: String, log: Log, version: Long): (Manifest, Long) = {
    require(version >= 0L, s"form sink: no manifest for version=$version at $path")
    var deltas = List.empty[LogFile] // ascending: the walk prepends
    var start = Option.empty[LogFile]
    var v = version
    while (start.isEmpty && v > 0L) {
      val file = log.checkpoints.get(v).orElse(log.records.get(v)).getOrElse(
        throw new IllegalArgumentException(
          if (v == version)
            s"form sink: no manifest for version=$version at $path (vacuumed or never committed)"
          else s"form sink: version=$version replays the record of version $v, " +
            s"which is missing at $path (vacuumed)"))
      val f = readLogFile(file)
      if (f.full) start = Some(f) else { deltas ::= f; v -= 1 }
    }
    val files = Vector.newBuilder[String]
    start.foreach(files ++= _.names)
    deltas.foreach(files ++= _.names)
    val stats = deltas.foldLeft(start.fold(Map.empty[String, FileStats])(_.stats))(_ ++ _.stats)
    val epochs = deltas.lastOption.orElse(start).fold(Map.empty[String, Long])(_.epochs)
    (Manifest(version, files.result(), stats, epochs), v)
  }

  /** Manifest listing + stats as of `version` (empty at 0, fatal if
    * vacuumed). Time travel keeps file skipping: the pinned snapshot
    * carries the stats of its own era. */
  private[sources] def manifestAt(path: String, version: Long): (Seq[String], Map[String, FileStats]) = {
    val m = replay(path, listLog(path), version)._1
    (m.files, m.stats)
  }

  /** Change feed: the files ADDED strictly after version `from`, up to and
    * including version `to` — incremental consumption of the append log
    * (each commit's delta is readable exactly once by advancing `from`,
    * the consumer-side twin of the producer's watermark increment). The
    * feed is APPEND-ONLY by contract: a range that includes a truncate or
    * compaction commit (one that DROPPED files from the listing) is
    * rejected rather than silently replaying rewritten rows as new. */
  private[sources] def addedFilesBetween(path: String, from: Long, to: Long): (Seq[String], Map[String, FileStats]) = {
    require(from <= to,
      s"form sink change feed: changesFromVersion=$from > changesToVersion=$to")
    val log = listLog(path)
    val before = replay(path, log, from)._1.files
    val Manifest(_, after, stats, _) = replay(path, log, to)._1
    val afterSet = after.toSet
    require(before.forall(afterSet.contains),
      s"form sink change feed: versions ($from, $to] include a non-append commit " +
        "(truncate/compaction rewrote the listing); the change feed is append-only")
    val beforeSet = before.toSet
    (after.filterNot(beforeSet.contains), stats)
  }

  /** Remove one job's (now-unneeded) staging directory and its contents. */
  private[sources] def sweepStaging(staging: Path): Unit =
    if (Files.isDirectory(staging)) {
      graft.util.Scratch.listEntries(staging).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(staging)
    }

  /** What a commit attempt proposes as the next manifest version: the
    * visible files in listing order, each with its stats when recorded
    * (a commit must never degrade a carried file from "skippable" back to
    * "always read"), and the streaming-epoch record. */
  private[sources] case class Successor(entries: Seq[(String, Option[FileStats])],
                                        epochs: Map[String, Long])

  /** A log file's JSON: `entries` under `key` ("files" for a full listing,
    * "add" for a delta record), the epoch record, and the entries' stats. */
  private def logJson(key: String, entries: Seq[(String, Option[FileStats])],
                      epochs: Map[String, Long]): Array[Byte] = {
    val node = mapper.createObjectNode()
    val arr = node.putArray(key)
    entries.foreach(e => arr.add(e._1))
    if (epochs.nonEmpty) {
      val e = node.putObject("epochs")
      epochs.foreach { case (q, ep) => e.put(q, ep) }
    }
    val statsNode = node.putObject("stats")
    entries.foreach {
      case (n, Some(fs)) =>
        val f = statsNode.putObject(n)
        f.put("rows", fs.rows)
        val mins = f.putObject("mins"); fs.mins.foreach { case (c, v) => mins.put(c, v) }
        val maxs = f.putObject("maxs"); fs.maxs.foreach { case (c, v) => maxs.put(c, v) }
      case _ => ()
    }
    mapper.writeValueAsBytes(node)
  }

  /** Create `target` holding `bytes`, once: written to a temp file, then
    * hard-linked. createLink is atomic and FAILS if the target exists — the
    * collision detection ATOMIC_MOVE cannot give (POSIX rename replaces
    * silently). False when `target` already exists. */
  private def createOnce(target: Path, bytes: Array[Byte]): Boolean = {
    val d = target.getParent
    Files.createDirectories(d)
    val kind = target.getFileName.toString.takeWhile(_ != '-')
    val tmp = Files.createTempFile(d, s"$kind-tmp-", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Publish `next` as version `base.version + 1` — atomically, and only if
    * that version does not exist yet. Returns false when another commit
    * won the version. [[commit]] is the only caller.
    *
    * An append (the base's entries unchanged and in order, new entries
    * after them) publishes a delta record of the added entries; any other
    * successor publishes the full listing. After a delta at a multiple of
    * [[CheckpointInterval]] comes a checkpoint, the full listing of that
    * version; losing it to a crash costs readers replay, never rows. */
  private def tryPublishManifest(path: String, base: Manifest, next: Successor): Boolean = {
    val version = base.version + 1
    val appended = next.entries.startsWith(base.entries)
    val published = createOnce(manifestFile(path, version),
      if (appended) logJson("add", next.entries.drop(base.files.size), next.epochs)
      else logJson("files", next.entries, next.epochs))
    if (published && appended && version % CheckpointInterval == 0L)
      try createOnce(checkpointFile(path, version),
        logJson("files", next.entries, next.epochs))
      catch { case _: java.io.IOException => () }
    published
  }

  /** One optimistic attempt to commit on top of `base`, the newest
    * manifest when the attempt started. [[write]] is the only way an
    * attempt creates a data file, so [[commit]] can remove every file the
    * attempt wrote when it throws, proposes nothing or loses the race. */
  private[sources] final class Attempt(val path: String, val base: Manifest) {
    private val created = scala.collection.mutable.ArrayBuffer[Path]()

    /** `entries` as the successor, carrying the base's epoch record. */
    def successor(entries: Seq[(String, Option[FileStats])]): Successor =
      Successor(entries, base.epochs)

    /** Write one rewrite file `<prefix>-<base version>-<uuid>.parquet`:
      * `fill` feeds it rows in [[schema]] order. Returns its manifest
      * entry, with stats collected inline from the rows written. */
    def write(prefix: String)(fill: (Array[UTF8String] => Unit) => Unit)
        : (String, Option[FileStats]) = {
      val name = s"$prefix-${base.version}-${java.util.UUID.randomUUID()}" +
        SinkCodec.ParquetExt
      val file = dataDir(path).resolve(name)
      created += file
      val cw = new CellsFileWriter(file)
      try { fill(cw.add); name -> Some(cw.finish()) }
      catch { case e: Throwable => cw.abort(); throw e }
    }

    private[FormSinkSource] def discard(): Unit =
      created.foreach(Files.deleteIfExists(_))
  }

  /** The sink's one commit policy, behind every mutation: read the newest
    * manifest, let `attempt` build the successor on top of it, and publish
    * that as version + 1. Returns the published version; the base version
    * when the attempt proposes nothing (a no-op adds no version); or None
    * when a concurrent commit won the version — the loser never publishes
    * a listing that would drop the winner's rows, and may retry on top of
    * it. Whenever the outcome is not a publish (lost race, no-op, or the
    * attempt throwing), every file the attempt wrote is deleted. */
  private[sources] def commit(path: String)(
      attempt: Attempt => Option[Successor]): Option[Long] = {
    val a = new Attempt(path, latestManifest(path))
    val next = try attempt(a) catch { case e: Throwable => a.discard(); throw e }
    val version = a.base.version + 1
    next match {
      case Some(s) if tryPublishManifest(path, a.base, s) => Some(version)
      case Some(_) => a.discard(); None
      case None    => a.discard(); Some(a.base.version)
    }
  }

  /** Phase 1 of a commit of task-written files: move them from the job's
    * staging directory into the table directory, where they stay invisible
    * until a manifest lists them — a crash here publishes nothing (the
    * moved files become orphans vacuum reclaims). A file an earlier
    * attempt already moved stays where it is. */
  private[sources] def moveStaged(path: String, staging: Path,
                                  added: Seq[(String, Option[FileStats])]): Unit =
    added.foreach { case (name, _) =>
      val target = dataDir(path).resolve(name)
      if (!Files.exists(target))
        Files.move(staging.resolve(name), target, StandardCopyOption.ATOMIC_MOVE)
    }

  /** The task files a commit lists, in name order. Zero-row files never
    * enter the table: empty partitions of a skewed append would otherwise
    * litter the listing with files every scan must still open. */
  private[sources] def stagedEntries(messages: Array[WriterCommitMessage])
      : Seq[(String, Option[FileStats])] =
    messages.toSeq.collect {
      case m: StagedFileMessage if m.stats.rows > 0 => m.fileName -> Some(m.stats)
    }.sortBy(_._1)

  /** OPTIMIZE-style compaction: concatenate the newest snapshot's files
    * (in manifest order, so the row sequence is unchanged) into one file
    * and publish it as a new manifest version. Crash-safe for the same
    * reason commits are — the merged file is an invisible orphan until the
    * swap. If a concurrent commit advances the version mid-merge, the
    * compaction ABORTS (its merged file removed, None returned) instead of
    * publishing a manifest that would drop the racer's rows; the caller
    * retries when convenient. Small-file pressure is real at a 100 TB
    * ingest cadence — every incremental tick adds task-count files. */
  def compact(path: String): Option[Long] = commit(path)(compactOnto)

  /** [[compact]]'s attempt. Rows stream through the codec tier (decode +
    * re-encode — this is also how a jsonl-era table migrates to parquet),
    * and the merged file's stats come from the DATA: exact even when a
    * legacy input had none. */
  private[sources] def compactOnto(a: Attempt): Option[Successor] =
    if (a.base.files.size <= 1) None // already compact
    else Some(a.successor(Seq(a.write("compacted") { add =>
      a.base.files.foreach(f =>
        SinkCodec.foreachRow(dataDir(a.path).resolve(f), schema.fieldNames.toSeq)(add))
    })))

  /** Rewrite-file writer: nullable cells in [[schema]] order go to a
    * parquet file, min/max stats collected inline (same UTF-8-binary order
    * the skipper compares in). Used by [[Attempt.write]] and the task
    * writer. finish() seals the file and returns its manifest stats;
    * abort() removes it. */
  private[sources] final class CellsFileWriter(file: Path) {
    private val w = new SinkCodec.ParquetRowWriter(file, schema.fieldNames.toSeq)
    private val mins = Array.fill[UTF8String](schema.length)(null)
    private val maxs = Array.fill[UTF8String](schema.length)(null)
    private var n = 0L
    def add(cells: Array[UTF8String]): Unit = {
      n += 1
      var i = 0
      while (i < cells.length) {
        val v = cells(i)
        if (v != null) {
          if (mins(i) == null || v.compareTo(mins(i)) < 0) mins(i) = v
          if (maxs(i) == null || v.compareTo(maxs(i)) > 0) maxs(i) = v
        }
        i += 1
      }
      w.write(cells)
    }
    def finish(): FileStats = {
      close()
      def m(a: Array[UTF8String]): Map[String, String] =
        schema.fieldNames.zipWithIndex.collect {
          case (f, i) if a(i) != null => f -> a(i).toString
        }.toMap
      FileStats(n, m(mins), m(maxs))
    }
    def close(): Unit = w.close()
    def abort(): Unit = {
      try close() catch { case _: Throwable => () }
      Files.deleteIfExists(file)
    }
  }

  /** OPTIMIZE-CLUSTER compaction — [[compact]]'s layout-aware sibling, the
    * q349 Hilbert kernel married to the manifest's file-skipping stats
    * (every lakehouse table service ships this as `OPTIMIZE ... ZORDER BY`):
    * the committed snapshot is re-laid-out as `files` files ordered by
    * `clusterKey` (range-partition + in-partition sort — a DISTRIBUTED
    * rewrite, scaling with the table where [[compact]]'s driver-side concat
    * is for small-file pressure only), and published as one atomic
    * truncate commit. Because each output file now covers a TIGHT range of
    * the cluster key's dimensions, the per-file min/max stats the writer
    * records turn a box predicate into file skips — the q235 skipping
    * census, manufactured by layout instead of by arrival order.
    *
    * Reading and rewriting the same snapshot in one job is safe here: data
    * files are immutable and the rewrite's files stay invisible orphans
    * until the manifest swap, so every scan task reads the OLD snapshot's
    * bytes regardless of commit timing. The change feed treats the result
    * like any truncate (spans across it are rejected loudly). */
  def compactClustered(spark: org.apache.spark.sql.SparkSession, path: String,
                       clusterKey: org.apache.spark.sql.DataFrame =>
                         org.apache.spark.sql.Column,
                       files: Int): Long = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format(Format).option("path", path).load()
    df.withColumn("__cluster_key", clusterKey(df))
      .repartitionByRange(files, col("__cluster_key"))
      .sortWithinPartitions(col("__cluster_key"))
      .drop("__cluster_key")
      .write.format(Format).mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", path).save()
    latestVersion(path)
  }

  /** INCREMENTAL OPTIMIZE-CLUSTER — the write-time-clustering story's
    * compaction half (r17 worklist 6a; Delta/Iceberg ship it as the
    * OPTIMIZE bin-packing tier): instead of re-laying the WHOLE table
    * (q350/q354's full rewrite), only the files whose `sortCol` manifest
    * ranges OVERLAP another file's range are rewritten — merged, sorted
    * by `sortCol` and re-split at ~`rowsPerFile` — while every
    * range-disjoint file carries into the new manifest BYTE-IDENTICAL
    * (never opened). One atomic swap covers all groups. With
    * cluster-on-write ingest (appends pre-sorted by the cluster key, so
    * each new file lands with a tight range), steady state is "delta
    * overlaps one or two resident files": the maintenance cost tracks the
    * DELTA, not the table — the missing half of the OPTIMIZE story at
    * 100 TB, where nobody re-clusters 100 TB because 1 GB arrived.
    *
    * Overlap math: a connected component of interval-overlap has a
    * CONTIGUOUS union, so a carried file intersecting a group's span
    * would overlap some member — contradiction; disjointness of carried
    * files from every group is therefore provable from the manifest
    * stats alone. A file with no stats (pre-stats history) has an
    * unknown range and conservatively joins every group; a file whose
    * `sortCol` was all-null overlaps nothing and carries.
    *
    * This is the DRIVER tier, like [[compact]]: the group is delta-sized
    * by construction, and `spark.graft.sink.maxIncrementalRows` (default
    * 10M) fails loud past that contract — a group that has grown
    * table-sized is what the distributed full OPTIMIZE is for. Returns
    * None on losing the manifest race (created files removed; caller
    * retries), else (newVersion, groupsRewritten, filesRewritten,
    * filesCarried) — (version, 0, 0, n) when already fully disjoint
    * (idempotent: no version churn). */
  def compactClusteredIncremental(path: String, sortCol: String,
      rowsPerFile: Long = 1000000L): Option[(Long, Int, Int, Int)] = {
    require(schema.fieldNames.contains(sortCol), s"unknown column $sortCol")
    require(rowsPerFile > 0, s"rowsPerFile must be positive, got $rowsPerFile")
    val cap = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.conf.get("spark.graft.sink.maxIncrementalRows", "10000000").toLong)
      .getOrElse(10000000L)
    val sortIdx = schema.fieldNames.indexOf(sortCol)
    // (groups, files rewritten, files carried) of the attempt that ran
    var census = (0, 0, 0)
    commit(path) { a =>
      val groups = overlapGroups(a.base, sortCol)
      val groupSet = groups.flatten.toSet
      val carried = a.base.files.filterNot(groupSet.contains)
      census = (groups.size, groupSet.size, carried.size)
      if (groups.isEmpty) None
      else Some(a.successor(carried.map(f => f -> a.base.stats.get(f)) ++ groups.flatMap { members =>
        val rows = scala.collection.mutable.ArrayBuffer[Array[UTF8String]]()
        members.foreach { f =>
          // cap checked PER ROW, inside the read loop (r18 ADVICE medium):
          // an after-the-file check would fully materialize a file-sized
          // buffer on the driver heap before the require fires — the
          // fail-loud contract must abort AT the cap, not past it
          SinkCodec.foreachRow(dataDir(path).resolve(f),
            schema.fieldNames.toSeq) { r =>
            rows += r
            require(rows.size <= cap,
              s"incremental cluster group exceeds $cap rows " +
                "(spark.graft.sink.maxIncrementalRows); a table-sized group " +
                "is the distributed full OPTIMIZE's job (compactClustered)")
          }
        }
        // nulls-first total order on the cluster key — deterministic and
        // the same order the range stats compare in
        val sorted = rows.sortWith { (a, b) =>
          val (x, y) = (a(sortIdx), b(sortIdx))
          if (x == null) y != null
          else if (y == null) false
          else x.compareTo(y) < 0
        }
        // KEY-ALIGNED chunking: a plain row-count cut can split a run of
        // EQUAL sort keys across two adjacent output files, whose closed
        // min/max ranges then touch at the shared key — the very next
        // incremental CALL would see them as an overlap group and rewrite
        // them forever (idempotence violated; hit in practice at sf10,
        // where the scaled corpus carries hundreds of rows per key and a
        // >rowsPerFile group became two boundary-sharing files). Extend
        // each chunk through the end of its last key's run so distinct
        // output files never share a key; file sizes stay advisory.
        val target = math.min(rowsPerFile, Int.MaxValue).toInt
        val out = scala.collection.mutable.ArrayBuffer[(String, Option[FileStats])]()
        var i = 0
        while (i < sorted.length) {
          var end = math.min(i + target, sorted.length)
          def sameKey(a: Array[UTF8String], b: Array[UTF8String]): Boolean = {
            val (x, y) = (a(sortIdx), b(sortIdx))
            if (x == null || y == null) x == null && y == null
            else x.compareTo(y) == 0
          }
          while (end < sorted.length && sameKey(sorted(end - 1), sorted(end)))
            end += 1
          out += a.write("clustered") { add =>
            var j = i
            while (j < end) { add(sorted(j)); j += 1 }
          }
          i = end
        }
        out
      }))
    }.map { v => (v, census._1, census._2, census._3) }
  }

  /** [[compactClusteredIncremental]]'s groups: the connected components
    * of `sortCol` range overlap among `m`'s files, each of two or more
    * files. */
  private def overlapGroups(m: Manifest, sortCol: String): Seq[Seq[String]] = {
    val Manifest(_, files, stats, _) = m
    // (file, range): None range = all-null column (overlaps nothing);
    // missing stats = unknown (overlaps everything)
    val unknown = files.filterNot(stats.contains)
    val known = files.filter(stats.contains).map { f =>
      val k = SinkPredicate.file(stats(f))(sortCol)
      f -> Option.when(k.lo != null)((k.lo, k.hi))
    }
    // all-null-column files fall out of `bounded` and thus carry over
    val bounded = known.collect { case (f, Some(r)) => f -> r }
      .sortBy(_._2._1)(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0))
    // sweep bounded intervals into connected components
    val comps = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[String]]()
    var curHi: UTF8String = null
    bounded.foreach { case (f, (lo, hi)) =>
      if (curHi == null || lo.compareTo(curHi) > 0) {
        comps += scala.collection.mutable.ArrayBuffer(f)
        curHi = hi
      } else {
        comps.last += f
        if (hi.compareTo(curHi) > 0) curHi = hi
      }
    }
    // unknown-range files conservatively merge EVERYTHING bounded into
    // one group (their span could touch any of it)
    if (unknown.nonEmpty) Seq(bounded.map(_._1) ++ unknown)
    else comps.filter(_.size >= 2).map(_.toSeq).toSeq
  }

  /** Committed row count from MANIFEST stats (no data IO) — sizes layout
    * operations (the r17 q350/q354 fix: a fixed 16-file rewrite caps the
    * write at 16 tasks forever, which is exactly the fixed-width trap
    * `Sizing` exists to close; rows come free because every commit
    * records per-file stats). 0 when any file lacks stats (pre-stats
    * history) — callers floor their derived width. */
  def committedRows(path: String): Long = {
    val Manifest(_, files, stats, _) = latestManifest(path)
    // all-or-nothing (r17 ADVICE): summing only the files that HAVE stats
    // would report a confident-looking undercount for a partial-stats
    // history and undersize the derived rewrite width — the documented
    // floor-at-zero is the honest "unknown"
    if (files.exists(f => !stats.contains(f))) 0L
    else files.map(stats(_).rows).sum
  }

  /** Advisory skipping census: how many committed files a conjunction of
    * pushable filters would open vs skip — (mayOpen, total). The same
    * [[SinkSnapshot.surviving]] the scan planner runs, surfaced so layout
    * operations (q350) can measure their effect; cost is one manifest
    * read, no data IO. */
  def skippingCensus(path: String, filters: Seq[sqlf.Filter]): (Int, Int) = {
    val snapshot = new SinkSnapshot(path, None, None)
    (snapshot.surviving(filters).size, snapshot.names.size)
  }

  /** Public snapshot inspection: (current version, the data-file names it
    * makes visible) — the `DESCRIBE HISTORY`-lite any table format exposes. */
  def snapshotInfo(path: String): (Long, Seq[String]) = {
    val m = latestManifest(path)
    (m.version, m.files)
  }

  /** Row-level DELETE as copy-on-write — the lakehouse `DELETE FROM t WHERE p`
    * over an immutable-file table: files whose manifest stats PROVE the
    * predicate matches nothing are carried into the new manifest verbatim
    * (never opened, never rewritten — at a 100 TB history a narrow delete
    * touches only the files whose min/max straddle the predicate); files
    * that may match are rewritten without the matching rows (fresh stats
    * collected inline), files left empty are dropped, and files where the
    * predicate turned out to match nothing keep their original bytes. The
    * swap publishes optimistically like commit/compact: a concurrent commit
    * advancing the version aborts the delete (rewrites removed, None
    * returned) rather than clobbering the racer's rows.
    *
    * Predicate semantics are SQL three-valued logic: a comparison against a
    * NULL cell is UNKNOWN, and only definitely-TRUE rows are deleted — so
    * `Not(EqualTo(c, v))` does NOT delete rows where c is null, matching
    * what `DELETE FROM ... WHERE c <> v` does in every SQL engine. An
    * unsupported predicate shape throws instead of guessing: unlike scan
    * skipping (advisory), delete is a correctness boundary. It throws
    * BEFORE any rewrite file exists (an In holding a null may match every
    * file, so a lazy check inside the row loop would leave `deleted-*`
    * survivor files behind as orphans until vacuum). */
  def delete(path: String, filter: sqlf.Filter): Option[Long] =
    commit(path)(deleteOnto(SinkPredicate.check(filter)))

  /** [[delete]]'s attempt: no successor when stats proved a no-op or the
    * predicate matched nothing (a rewrite renames, a drop shortens). */
  private[sources] def deleteOnto(filter: sqlf.Filter)(a: Attempt): Option[Successor] = {
    val out = rewriteSurvivors(a, filter)
    if (out.map(_._1) == a.base.files) None else Some(a.successor(out))
  }

  /** Copy-on-write core shared by delete() and predicate OVERWRITE: the
    * base's entries with filter-TRUE rows removed — stats-skipped files
    * untouched, straddling files rewritten as `deleted-*` through the
    * attempt, emptied files dropped — WITHOUT publishing. */
  private[sources] def rewriteSurvivors(a: Attempt, filter: sqlf.Filter)
      : Seq[(String, Option[FileStats])] = {
    val cols = schema.fieldNames.toSeq
    a.base.entries.flatMap { case entry @ (f, st) =>
      if (!SinkPredicate.mayMatch(st, filter)) Seq(entry)
      else {
        val rows = scala.collection.mutable.ArrayBuffer[Array[UTF8String]]()
        SinkCodec.foreachRow(dataDir(a.path).resolve(f), cols)(rows += _)
        val survivors = rows.filterNot(SinkPredicate.rowMatches(_, filter))
        if (survivors.size == rows.size) Seq(entry) // untouched
        else if (survivors.isEmpty) Seq.empty // whole file deleted
        else Seq(a.write("deleted")(survivors.foreach(_)))
      }
    }
  }

  /** MERGE (upsert) keyed on `keyCol` — `MERGE INTO t USING s ON t.k = s.k
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` as one
    * copy-on-write manifest swap: files whose stats range provably contains
    * none of the source keys carry over untouched (at a 100 TB history a
    * trickle upsert rewrites only the straddling files); files that may
    * match are rewritten with matched rows replaced by their new images
    * (ALL occurrences — the sink is append-only, so duplicates are legal
    * and all get the update); source rows matching nothing are appended as
    * one new file. Input images are driver-side, matching the connector's
    * contract (the reference POSTs driver-built bodies; the distributed
    * MERGE over columnar tables is q71's shuffle formulation). A cell
    * absent from an image writes NULL — images are total row replacements,
    * not patches. Returns the new version, or None if a concurrent commit
    * won the swap (no partial state is ever visible).
    *
    * The image set is DRIVER-side by contract (it models the reference's
    * driver-built POST bodies, and callers like q197/q173 reduce to
    * latest-per-key first, so |images| = |keys|, never |events|). That
    * contract is enforced, not assumed: more than
    * `spark.graft.sink.maxMergeImages` (default 100k) images fails loud
    * with this message instead of silently ballooning driver memory at a
    * 100× key-cardinality scale-up. Past the cap the right tool is a
    * DISTRIBUTED merge: shuffle both sides on the key and rewrite the
    * sink's files per key-range partition (q71's columnar MERGE shape),
    * which never materializes the source on one node. */
  def merge(path: String, keyCol: String,
            images: Seq[Map[String, String]]): Option[Long] = {
    val cap = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.conf.get("spark.graft.sink.maxMergeImages", "100000").toLong)
      .getOrElse(100000L)
    require(images.size <= cap,
      s"MERGE source has ${images.size} images, over the driver-side cap of " +
        s"$cap (spark.graft.sink.maxMergeImages); reduce to latest-per-key " +
        "upstream or use a distributed key-range rewrite instead of the " +
        "driver-image API")
    require(schema.fieldNames.contains(keyCol), s"unknown key column $keyCol")
    require(images.forall(_.get(keyCol).exists(_ != null)),
      "every MERGE image needs a non-null key cell")
    val byKey = images.map(r => r(keyCol) -> r).toMap
    require(byKey.size == images.size, "duplicate keys in the MERGE source")
    // a file is read only when it may hold one of the keys
    val anyKey = sqlf.In(keyCol, byKey.keys.toArray[Any])
    val cols = schema.fieldNames.toSeq
    val keyIdx = schema.fieldNames.indexOf(keyCol)
    def toCells(r: Map[String, String]): Array[UTF8String] =
      schema.fieldNames.map(c =>
        r.get(c).filter(_ != null).map(UTF8String.fromString).orNull)
    def keyOf(cells: Array[UTF8String]): Option[String] =
      Option(cells(keyIdx)).map(_.toString)
    commit(path) { a =>
      val matched = scala.collection.mutable.Set[String]()
      val out = a.base.entries.map { case entry @ (f, st) =>
        if (!SinkPredicate.mayMatch(st, anyKey)) entry
        else {
          val rows = scala.collection.mutable.ArrayBuffer[Array[UTF8String]]()
          SinkCodec.foreachRow(dataDir(path).resolve(f), cols)(rows += _)
          if (!rows.exists(r => keyOf(r).exists(byKey.contains))) entry
          else a.write("merged") { add =>
            rows.foreach { r =>
              keyOf(r).flatMap(byKey.get) match {
                case Some(img) => matched ++= keyOf(r); add(toCells(img))
                case None      => add(r)
              }
            }
          }
        }
      }
      val inserts = images.filterNot(r => matched(r(keyCol)))
      val all = out ++ (if (inserts.isEmpty) Seq.empty
        else Seq(a.write("merged")(add => inserts.foreach(r => add(toCells(r))))))
      // nothing matched and nothing new: a rewrite renames, an insert adds
      if (all.map(_._1) == a.base.files) None else Some(a.successor(all))
    }
  }

  // ---- scan observability --------------------------------------------

  /** Census of the most recent sink scan's file pruning on this driver:
    * (files actually opened, files in the snapshot). Planning runs
    * driver-side, so a plain atomic is enough; the metric is evidence that
    * stats skipping ENGAGED (FormSinkSpec, q110's self-check), independent
    * of result correctness (the filter is re-applied post-scan anyway). */
  private val scanCensus =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
  def lastScanFileCensus: (Int, Int) = scanCensus.get()
  private[sources] def recordScanCensus(scanned: Int, total: Int): Unit =
    scanCensus.set((scanned, total))

  /** Read partitions over `files` (with their byte sizes), by Spark's own
    * file-split rule: the split target is
    * `FilePartition.maxSplitBytes` over Σ(bytes + open cost), and each
    * partition takes files until the next would overflow it, as
    * `FilePartition.getFilePartitions` fills one — so
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum` govern it. Unlike Spark, files are not sorted by
    * size: each partition is a contiguous run in manifest order, so an
    * unordered read returns rows in the same sequence as one partition per
    * file would. A file is never split. */
  private[sources] def packFiles(files: Seq[(Path, Long)]): Array[InputPartition] = {
    val openCost = org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
    val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(org.apache.spark.sql.SparkSession.active,
        files.map(_._2 + openCost).sum)
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val run = scala.collection.mutable.ArrayBuffer[String]()
    var runBytes = 0L
    files.foreach { case (f, len) =>
      if (run.nonEmpty && runBytes + len > maxSplit) {
        parts += SinkFilesPartition(run.toList)
        run.clear()
        runBytes = 0L
      }
      runBytes += len + openCost
      run += f.toString
    }
    if (run.nonEmpty) parts += SinkFilesPartition(run.toList)
    parts.toArray
  }

  /** Garbage-collect the table: delete data files not referenced by the
    * NEWEST snapshot (crashed-commit orphans, truncate leftovers), the
    * manifest log below it, abandoned log temp files, and Hadoop
    * `.<name>.crc` sidecars (written beside rewrite files before the sink
    * used parquet's local-file API) whose data file is gone or goes now.
    * First, if the newest version replays from older files, a checkpoint of
    * it is written, so the records and checkpoints of every older version
    * can go: time travel reaches back to the newest version vacuumed at.
    * Only files older than `minAgeMs`
    * are touched — a concurrent commit's phase-1 files are mid-publish, not
    * garbage, and the age guard is what keeps vacuum safe to run alongside
    * writers. The default is deliberately conservative (comfortably above
    * any plausible commit duration); deterministic tests pass 0
    * EXPLICITLY — an unsafe default would let a routine vacuum race a
    * concurrent commit's phase-1 files and lose that commit's rows.
    * Returns deleted paths. */
  def vacuum(path: String, minAgeMs: Long = 10 * 60 * 1000L): Seq[Path] = {
    val log = listLog(path)
    val (latest, from) = replay(path, log, log.latest)
    val version = latest.version
    if (from < version)
      createOnce(checkpointFile(path, version), logJson("files", latest.entries, latest.epochs))
    val referenced = latest.files.toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= cutoff
    val listing = graft.util.Scratch.listEntries(dataDir(path))
      .filter(Files.isRegularFile(_))
    val orphans = listing.filter(p =>
      SinkCodec.isDataFile(p.getFileName.toString) &&
        !referenced.contains(p.getFileName.toString) && oldEnough(p))
    val gone = orphans.map(_.getFileName.toString).toSet
    val sidecars = listing.filter(p => p.getFileName.toString match {
      case Sidecar(data) =>
        (gone(data) || !Files.exists(dataDir(path).resolve(data))) && oldEnough(p)
      case _ => false
    })
    val staleLog =
      graft.util.Scratch.listEntries(manifestDir(path)).filter { p =>
        p.getFileName.toString match {
          case ManifestName(v)   => v.toLong < version && oldEnough(p)
          case CheckpointName(v) => v.toLong < version && oldEnough(p)
          case TempName()        => oldEnough(p)
          case _                 => false
        }
      }
    val victims = orphans ++ sidecars ++ staleLog
    victims.foreach(Files.deleteIfExists(_))
    victims
  }
}

private class FormSinkTable(path: String) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"form_sink($path)"
  override def schema(): StructType = FormSinkSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  /** SQL `DELETE FROM t WHERE ...` lands here (metadata-only delete in
    * Spark's taxonomy — the sink's copy-on-write delete IS metadata-level:
    * one manifest swap, stats-skipped files untouched). canDeleteWhere
    * routes unsupported predicate shapes to a loud analysis failure instead
    * of a wrong partial delete; the swap retries past concurrent commits. */
  override def canDeleteWhere(filters: Array[sqlf.Filter]): Boolean =
    SinkPredicate.supported(SinkPredicate.conjunction(filters))
  override def deleteWhere(filters: Array[sqlf.Filter]): Unit = {
    val combined = SinkPredicate.conjunction(filters)
    var done = false
    while (!done) done = FormSinkSource.delete(path, combined).isDefined
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FormSinkScanBuilder(path,
      Option(options.get("versionAsOf")).map(_.toLong),
      Option(options.get("changesFromVersion")).map { from =>
        (from.toLong,
          Option(options.get("changesToVersion")).map(_.toLong)
            .getOrElse(FormSinkSource.latestVersion(path)))
      })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val bad = info.schema().fields.filterNot(_.dataType == StringType)
    require(bad.isEmpty,
      s"form sink cells are strings (reference §1.2); non-string: ${bad.map(_.name).mkString(",")}")
    new FormSinkWriteBuilder(path, info.schema(), info.queryId())
  }

  /** SQL UPDATE and MERGE INTO land here (group-based row-level operations,
    * the rewrite framework behind every table format's DML): Spark reads the
    * affected group through the op's scan, applies the UPDATE/MERGE logic in
    * its own plan (carrying unchanged rows along), and the op's write
    * REPLACES the group. The sink's one group is the whole table — honest for
    * a 5-column form table (the reference's world); a partitioned 100 TB
    * layout would report per-file groups via runtime filtering instead. The
    * replacement commit is the same atomic truncate+append manifest swap as
    * every other mutation, so readers never observe a half-applied UPDATE.
    * DELETE never routes here: canDeleteWhere accepts first (metadata tier). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new FormSinkRowLevelOperation(path, info.command())
}

private class FormSinkRowLevelOperation(
    path: String, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"form_sink $cmd (whole-table group)"
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FormSinkScanBuilder(path, None, None, rowLevel = true)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the write carries the WHOLE rewritten group: replacement == truncate
    // of the scanned snapshot + append of the new rows, one manifest swap
    val b = new FormSinkWriteBuilder(path, info.schema(), info.queryId())
    b.truncate()
    b
  }
}

// ---- write path: stage per task, publish on driver commit ----

private class FormSinkWriteBuilder(path: String, schema: StructType, jobId: String)
    extends WriteBuilder with SupportsOverwrite {
  // task writers lay cells out positionally, in the table's column order
  require(schema.fieldNames.sameElements(FormSinkSource.schema.fieldNames),
    s"form sink writes its table's columns in order, got ${schema.fieldNames.mkString(",")}")
  private var truncateFirst = false
  private var replaceWhere: Option[sqlf.Filter] = None
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  /** Predicate OVERWRITE (`df.writeTo(t).overwrite(cond)` / REPLACE WHERE):
    * rows matching the conjunction are replaced by the batch, everything
    * else survives — one atomic manifest swap for the delete AND the
    * append. AlwaysTrue degenerates to truncate. The filter shape is
    * validated HERE ([[SinkPredicate.check]]), so an unsupported predicate
    * fails the write before any task runs. */
  override def overwrite(filters: Array[sqlf.Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.contains(sqlf.AlwaysTrue)) truncateFirst = true
    else replaceWhere = Some(SinkPredicate.check(SinkPredicate.conjunction(filters)))
    this
  }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new FormSinkBatchWrite(path, truncateFirst, replaceWhere, jobId)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new FormSinkStreamingWrite(path, jobId)
  }
}

/** Native Structured Streaming sink (`writeStream.toTable` / format(...)):
  * each micro-batch epoch commits through the SAME manifest swap as a batch
  * append, and the manifest additionally records `{queryId -> epochId}` IN
  * the same atomic publication — so a micro-batch replayed after a restart
  * (offset log ahead of sink state) is detected by its epoch number and
  * skipped, never double-appended. That makes the sink end-to-end
  * exactly-once under the file-stream source's replayable offsets, without
  * foreachBatch (the q116 formulation this supersedes for plain appends). */
private class FormSinkStreamingWrite(path: String, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo) =
    new FormSinkWriterFactory(path, queryId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = FormSinkSource.stagingDir(path, s"$queryId-epoch-$epochId")
    val added = FormSinkSource.stagedEntries(messages)
    // an empty batch adds no version; a replayed epoch (restart re-ran a
    // committed micro-batch) is dropped
    while (FormSinkSource.commit(path) { a =>
      if (added.isEmpty || a.base.epochs.get(queryId).exists(_ >= epochId)) None
      else {
        FormSinkSource.moveStaged(path, staging, added)
        Some(FormSinkSource.Successor(a.base.entries ++ added,
          a.base.epochs + (queryId -> epochId)))
      }
    }.isEmpty) ()
    FormSinkSource.sweepStaging(staging)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    FormSinkSource.sweepStaging(
      FormSinkSource.stagingDir(path, s"$queryId-epoch-$epochId"))
}

private case class StagedFileMessage(fileName: String,
                                     stats: FormSinkSource.FileStats)
    extends WriterCommitMessage

private class FormSinkBatchWrite(path: String, truncateFirst: Boolean,
                                 replaceWhere: Option[sqlf.Filter],
                                 jobId: String) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FormSinkWriterFactory(path, jobId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staging = FormSinkSource.stagingDir(path, jobId)
    val added = FormSinkSource.stagedEntries(messages)
    // elide no-op versions: an APPEND that wrote no rows must not grow the
    // manifest log (a cron tick with an empty delta would otherwise add one
    // junk version per tick, and change-feed consumers would page through
    // them). A truncate with no rows IS meaningful — it empties the table.
    if (added.nonEmpty || truncateFirst || replaceWhere.isDefined) {
      FormSinkSource.moveStaged(path, staging, added)
      // phase 2: the commit point — one atomic manifest publication making
      // all of the job's files (and none of anyone's partial state) visible
      // at once. Losing a version race stacks this job's files on top of
      // the winner's manifest instead.
      var base = Seq.empty[String]
      while (FormSinkSource.commit(path) { a =>
        base = a.base.files
        stackOn(a, added)
      }.isEmpty) ()
      // truncate drops the old files from the manifest; physically delete
      // them only AFTER the swap (readers of the old manifest mid-scan keep
      // their snapshot on a real object store; locally best-effort).
      // REPLACE WHERE keeps superseded originals like delete() does — time
      // travel to the pre-replace version still works until vacuum.
      if (truncateFirst)
        base.foreach(n => Files.deleteIfExists(FormSinkSource.dataDir(path).resolve(n)))
    }
    // leftovers in OUR job's staging dir are uncommitted attempts
    // (aborted/speculative) — sweep only this job's subdirectory, never a
    // concurrent job's still-staged files
    FormSinkSource.sweepStaging(staging)
  }

  /** One phase-2 attempt on `a.base`: append keeps it, truncate drops it,
    * and REPLACE WHERE copy-on-writes it against the predicate
    * (stats-skipped files carry over untouched) — ONE swap covers delete +
    * append, so no reader ever sees the gap between them. A lost race
    * removes this attempt's rewrites, and the retry redoes them against
    * the winner. */
  protected def stackOn(a: FormSinkSource.Attempt,
                        added: Seq[(String, Option[FormSinkSource.FileStats])])
      : Option[FormSinkSource.Successor] = {
    val survivors = replaceWhere match {
      case Some(f) => FormSinkSource.rewriteSurvivors(a, f)
      case None    => if (truncateFirst) Seq.empty else a.base.entries
    }
    Some(a.successor(survivors ++ added))
  }

  /** Removes the job's whole staging directory: the files its messages
    * name, and any a task left behind without reporting (it died before
    * the job aborted). */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FormSinkSource.sweepStaging(FormSinkSource.stagingDir(path, jobId))
}

/** Task-side writer factory for batch and streaming writes — a named
  * top-level class so the closure ships only (path, jobId), never
  * the driver-side write. Each task stages one file under the job's (or
  * the epoch's) staging directory; the uuid makes retried and speculative
  * attempts of the same task collide-free. The name carries no task id:
  * it would make names, and the manifest that lists them, grow with the
  * number of tasks the JVM ran before the commit. */
private class FormSinkWriterFactory(path: String, jobId: String)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    stage(FormSinkSource.stagingDir(path, jobId), f"part-$partitionId%05d")
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    stage(FormSinkSource.stagingDir(path, s"$jobId-epoch-$epochId"),
      f"stream-$epochId%05d-$partitionId%05d")
  private def stage(staging: Path, stem: String): DataWriter[InternalRow] = {
    Files.createDirectories(staging)
    new FormSinkDataWriter(staging.resolve(
      s"$stem-${java.util.UUID.randomUUID()}${SinkCodec.ParquetExt}"))
  }
}

/** Task writer: cells go through the same [[FormSinkSource.CellsFileWriter]]
  * as the driver's rewrites, which collects per-column min/max inline —
  * stats cost one compare per cell, never a second pass. */
private class FormSinkDataWriter(file: Path) extends DataWriter[InternalRow] {
  private val out = new FormSinkSource.CellsFileWriter(file)
  private val width = FormSinkSource.schema.length

  override def write(row: InternalRow): Unit = {
    // ReplaceData (SQL UPDATE/MERGE) hands the writer rows with Spark's
    // leading __row_operation marker still attached (Spark 4.1 keeps it for
    // per-operation metrics); the write schema reports only the data
    // columns, so consume the LAST `width` fields. Plain appends have
    // numFields == width and offset 0.
    val off = row.numFields - width
    require(off >= 0 && off <= 1,
      s"row width ${row.numFields} does not match write schema $width")
    // validate the assumption, don't just infer from width: the skipped
    // leading field must BE the __row_operation marker (an int in 1..6 per
    // RowDeltaUtils; a misplaced string column reads as its packed
    // offset-word here, >= 56 for this schema) — if a future Spark appends
    // a TRAILING metadata column instead, this fails loud rather than
    // shifting every cell one column left under the wrong field names
    if (off == 1) {
      val marker = row.getInt(0)
      require(marker >= org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION &&
        marker <= org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
        s"leading extra field is not a row-operation marker (got $marker); " +
          "refusing to guess which side of the row holds the data columns")
    }
    val cells = new Array[UTF8String](width)
    var i = 0
    while (i < width) {
      // clone: getUTF8String may return a mutable buffer-backed view, and
      // both the stats slots and the codec's page buffers outlive this call
      if (!row.isNullAt(i + off)) cells(i) = row.getUTF8String(i + off).clone()
      i += 1
    }
    out.add(cells)
  }
  override def commit(): WriterCommitMessage =
    StagedFileMessage(file.getFileName.toString, out.finish())
  override def abort(): Unit = out.abort()
  override def close(): Unit = out.close()
}

// ---- read path: committed files packed into read partitions, pruned columns ----

/** The snapshot one read sees: a change-feed delta, a pinned version (time
  * travel), or the newest committed version — its file names, in listing
  * order, and their stats. Resolved once, on first use: the scan builder's
  * aggregate pushdown decision, the scan's statistics and its partitions
  * all see the same files, and the log is read once. Each file's on-disk
  * size is statted once. */
private final class SinkSnapshot(val path: String, val versionAsOf: Option[Long],
                                 val changes: Option[(Long, Long)]) {
  lazy val (names, stats) =
    (changes, versionAsOf) match {
      case (Some((from, to)), _) =>
        FormSinkSource.addedFilesBetween(path, from, to)
      case (None, Some(v)) =>
        // surface the option name: the reader typed `versionAsOf`, not
        // "manifest" — the error must say which knob pointed at the gap
        try FormSinkSource.manifestAt(path, v)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"form sink time travel: versionAsOf=$v — ${e.getMessage}", e)
        }
      case (None, None) =>
        val m = FormSinkSource.latestManifest(path)
        (m.files, m.stats)
    }
  /** The snapshot files that may match every filter in `pruners`. */
  def surviving(pruners: Seq[sqlf.Filter]): Seq[String] =
    names.filter(n => pruners.forall(SinkPredicate.mayMatch(stats.get(n), _)))
  def file(n: String): Path = FormSinkSource.dataDir(path).resolve(n)
  // planning may run on a broadcast or subquery thread too
  private val sizes = scala.collection.concurrent.TrieMap.empty[String, Long]
  def size(n: String): Long =
    sizes.getOrElseUpdate(n, try Files.size(file(n)) catch { case _: Exception => 0L })
}

/** Reads of one snapshot ([[SinkSnapshot]]), with columns pruned, filters
  * used to skip files, and COUNT(*)/MIN/MAX answered inside the scan:
  *
  *   - an ungrouped aggregate is answered on the driver from the
  *     manifest's per-file stats; only files without stats are opened, by
  *     the scan's one task;
  *   - an aggregate grouped by plain sink columns is answered by one task
  *     that decodes the files and folds their rows per group, when one task
  *     is the right size for them: the files fit one read split by
  *     [[FormSinkSource.packFiles]]' rule without its per-core division
  *     (Σ(bytes + `openCostInBytes`) ≤ `maxPartitionBytes`, about 31 tick
  *     files at the defaults; [[graft.util.Sizing.oneSplit]]), and their
  *     bytes scaled to the columns read (× columns / 5, as Spark's
  *     `FileScan.estimateStatistics` scales a pruned file scan) fit
  *     [[graft.util.Sizing.oneTask]]. Spark then plans no
  *     aggregate, no exchange and one job of one task. A larger snapshot
  *     keeps Spark's parallel partial/final aggregate over the row scan.
  *
  * Any filter leaves the aggregate to Spark (see `pushFilters`), and
  * nothing is ever pushed partially. */
private class FormSinkScanBuilder(path: String, versionAsOf: Option[Long],
                                  changes: Option[(Long, Long)],
                                  rowLevel: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private val snapshot = new SinkSnapshot(path, versionAsOf, changes)
  private var required: StructType = FormSinkSource.schema
  private var groups: Seq[String] = Seq.empty
  private var aggs: Seq[PushedAgg] = Seq.empty
  private var skip: Array[sqlf.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** ADVISORY pushdown, the parquet row-group-stats contract: every filter
    * is returned as a post-scan residual (Spark re-applies it row-by-row),
    * while those whose stats can rule a file out ([[SinkPredicate.prunes]])
    * additionally prune whole files at planning time: a file is skipped
    * when TRUE is not among the outcomes [[SinkPredicate]] gives the filter
    * over its manifest min/max — the same evaluator DELETE and MERGE run
    * per row. Claiming filters as fully handled instead would make the
    * coarse file stats the correctness boundary — pruning must stay an
    * optimization. A residual filter also means Spark never offers this
    * scan an aggregate. */
  override def pushFilters(filters: Array[sqlf.Filter]): Array[sqlf.Filter] = {
    // the row-level (UPDATE/MERGE) scan must read EVERY row of the snapshot
    // its write will replace: file skipping here would silently drop the
    // carry-over rows of pruned files at the truncate-replace commit
    if (!rowLevel) skip = filters.filter(SinkPredicate.prunes)
    filters
  }
  override def pushedFilters(): Array[sqlf.Filter] = skip

  /** The group-by expressions as sink columns; None when one is anything
    * else. */
  private def groupsOf(a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[String]] = {
    val gs = a.groupByExpressions.toSeq.map(PushedAgg.fieldOf)
    if (gs.forall(_.exists(FormSinkSource.schema.fieldNames.contains))) Some(gs.flatten)
    else None
  }

  /** Is one task the right size to decode `cols` of the files the scan
    * would read? See the class doc for the two rules. */
  private def oneTask(cols: Int): Boolean = {
    val sizes = snapshot.surviving(skip).map(snapshot.size)
    graft.util.Sizing.oneSplit(sizes) &&
      graft.util.Sizing.oneTask(org.apache.spark.sql.internal.SQLConf.get,
        BigInt(sizes.sum) * cols / FormSinkSource.schema.length)
  }

  /** R3 sink-side watermark and the analyst's grouped read: COUNT(*) and
    * MAX/MIN over sink columns, ungrouped or grouped by sink columns,
    * evaluate inside the sink scan — same complete-pushdown contract as
    * [[FormPipelineSource]], including the non-empty guard (see the note
    * there: an outer count() can offer an empty Aggregation, which must be
    * refused). A grouped aggregate also needs the size rule of the class
    * doc. */
  override def supportCompletePushDown(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    a.aggregateExpressions.nonEmpty &&
      a.aggregateExpressions.forall(PushedAgg.translate(_).isDefined) &&
      (a.groupByExpressions.isEmpty || groupsOf(a).exists { gs =>
        val aggs = a.aggregateExpressions.toSeq.flatMap(PushedAgg.translate(_))
        oneTask((gs ++ PushedAgg.fields(aggs)).distinct.size)
      })
  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!supportCompletePushDown(a)) return false
    aggs = a.aggregateExpressions.toSeq.map(PushedAgg.translate(_).get)
    groups = groupsOf(a).get
    true
  }

  override def build(): Scan = {
    val scan = new FormSinkScan(snapshot, required, groups, aggs, skip.toSeq)
    // the row-level scan hides SupportsRuntimeFiltering: Spark's runtime
    // group-filtering rule would otherwise prune "groups" (with no metadata
    // group columns, whole rows) out of the scan, and the truncate-replace
    // write would lose every pruned row. One table = one group, read whole.
    if (rowLevel) new FormSinkRowLevelScan(scan) else scan
  }
}

/** Delegating Scan/Batch WITHOUT the runtime-filtering marker interface —
  * see build() above. */
private class FormSinkRowLevelScan(inner: FormSinkScan) extends Scan with Batch {
  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = inner.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory = inner.createReaderFactory()
  override def description(): String = s"rowlevel ${inner.description()}"
}

/** The scan [[FormSinkScanBuilder]] builds over one [[SinkSnapshot]]: the
  * snapshot's files that may match the pushed filters, read as rows, or
  * folded into the pushed aggregates (grouped by `groups` when non-empty)
  * by one task. */
private class FormSinkScan(snapshot: SinkSnapshot, required: StructType,
                           groups: Seq[String], aggs: Seq[PushedAgg],
                           skip: Seq[sqlf.Filter])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  import snapshot.{names, stats}

  /** Runtime (join-driven) file pruning — dynamic partition pruning's DSv2
    * form: when this table is the probe side of a broadcast join, Spark
    * hands the scan the build side's join-key values as an `In` filter
    * AFTER the build side executes, and the scan re-prunes whole files
    * against the same manifest min/max the static skipper uses. A trickle
    * dim join then opens only the files whose range covers some build key
    * — at a 100 TB history that is the difference between scanning the
    * table and scanning the delta. Advisory like all skipping: rows are
    * still filtered by the join itself. Only the sink columns the scan
    * outputs are offered (Spark resolves each against the scan's output):
    * the pruned columns of a row scan, the group columns of a pushed
    * aggregate, whose groups lose only rows the join drops anyway. */
  private var runtime: Seq[sqlf.Filter] = Seq.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    readSchema().fieldNames.filter(FormSinkSource.schema.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[sqlf.Filter]): Unit =
    runtime = filters.toSeq.filter(SinkPredicate.prunes)

  /** With an aggregate pushed, the scan's rows ARE the result: the group
    * columns, then one field per aggregate (COUNT(*) a long, MAX/MIN a
    * string), the order Spark's pushdown rule expects. */
  override def readSchema(): StructType =
    if (aggs.isEmpty) required
    else StructType(groups.map(FormSinkSource.schema(_)) ++ aggs.map {
      case PushedAgg("COUNT_STAR", _) =>
        StructField("count(*)", LongType, nullable = false)
      case PushedAgg(fn, field) =>
        StructField(s"$fn($field)", StringType, nullable = true)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"FormSinkScan path=${snapshot.path} version=${snapshot.versionAsOf.getOrElse("latest")} " +
      snapshot.changes.map { case (f, t) => s"changes=($f,$t] " }.getOrElse("") +
      s"PushedAggregates: [${aggs.mkString(", ")}], " +
      (if (groups.nonEmpty) s"PushedGroupBy: [${groups.mkString(", ")}], " else "") +
      s"SkipFilters: [${skip.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().simpleString}"
  /** The snapshot's files minus those whose manifest stats prove no row
    * can satisfy every pushed filter — the delta read `po_number > wm`
    * opens only the newest commit's files, not the whole append history —
    * packed into read partitions of several files each
    * ([[FormSinkSource.packFiles]]), so a scan's task count follows its
    * bytes, not how many commits wrote them. A pushed aggregate plans one
    * partition: ungrouped, its partial result from the stats of the same
    * files on the driver; grouped, every file. The (files opened, snapshot
    * size) census is published to [[FormSinkSource.lastScanFileCensus]] so
    * specs and queries can assert skipping actually engaged, not just that
    * results were correct. */
  override def planInputPartitions(): Array[InputPartition] = {
    // static pushed filters AND runtime join-key filters prune identically
    val survivors = snapshot.surviving(skip ++ runtime)
    if (aggs.nonEmpty) {
      // complete pushdown → exactly one partition (an empty sink must still
      // emit its single ungrouped aggregate row); the stats answer an
      // ungrouped aggregate for every file that has them
      val (known, opened) =
        if (groups.isEmpty) survivors.partition(stats.contains) else (Nil, survivors)
      val partial = new SinkAggAcc(aggs)
      known.foreach(n => partial.addStats(stats(n)))
      FormSinkSource.recordScanCensus(opened.size, names.size)
      Array(SinkAggPartition(opened.map(snapshot.file(_).toString), groups, partial))
    } else {
      FormSinkSource.recordScanCensus(survivors.size, names.size)
      FormSinkSource.packFiles(survivors.map(n => snapshot.file(n) -> snapshot.size(n)))
    }
  }

  /** Table statistics from the SAME manifest the skipper reads: exact row
    * counts (commit-time collected) and on-disk bytes of the
    * post-skip-pruned snapshot. Without this a DSv2 relation defaults to
    * "unknown = huge", so Spark would never auto-broadcast the sink side
    * of a join — with it, the watermark table joins like the dim table it
    * is. Pruned-snapshot stats also mean a selective delta read reports
    * only the files it will open (CBO sees the delta, not the history). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val survivors = snapshot.surviving(skip)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(survivors.map(snapshot.size).sum)
    override def numRows(): java.util.OptionalLong =
      if (survivors.forall(stats.contains))
        java.util.OptionalLong.of(survivors.map(stats(_).rows).sum)
      else java.util.OptionalLong.empty() // a stats-less legacy file: unknown
  }
  override def createReaderFactory(): PartitionReaderFactory =
    if (aggs.isEmpty) new FormSinkReaderFactory(required)
    else FormSinkAggReaderFactory

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FormSinkMicroBatchStream(snapshot.path, required)
}

/** The sink as a STREAMING SOURCE — the manifest log IS the offset axis:
  * each committed version is an offset, a micro-batch reads exactly the
  * files the versions in (start, end] added (the change feed, q109, driven
  * by the engine's own offset tracking instead of a manual cursor), and the
  * checkpoint's offset log makes downstream consumption exactly-once across
  * restarts. Append-only by the same contract as the change feed: a range
  * spanning a truncate/compaction rewrite fails loud rather than replaying
  * rewritten history. */
private case class SinkVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

private class FormSinkMicroBatchStream(path: String, required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  // Trigger.AvailableNow's end offset: the version current when the run was
  // prepared, so a commit landing mid-run is left for the next run
  @volatile private var pinned: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(FormSinkSource.latestVersion(path))
  override def initialOffset(): Offset = SinkVersionOffset(0L)
  override def latestOffset(): Offset =
    SinkVersionOffset(FormSinkSource.latestVersion(path))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    pinned.fold(latestOffset())(SinkVersionOffset(_))
  override def deserializeOffset(json: String): Offset =
    SinkVersionOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SinkVersionOffset].v
    val to = end.asInstanceOf[SinkVersionOffset].v
    if (from >= to) Array.empty
    else FormSinkSource.packFiles(
      FormSinkSource.addedFilesBetween(path, from, to)._1.map { n =>
        val f = FormSinkSource.dataDir(path).resolve(n)
        f -> Files.size(f)
      })
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new FormSinkReaderFactory(required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Running state of the pushed aggregates over one group's rows: COUNT(*)
  * and, per MAX/MIN slot, the extremum so far. Extrema compare in UTF-8
  * binary order — `UTF8String.compareTo`, the SAME order Spark's own string
  * comparisons use — and ignore nulls (SQL aggregate semantics). Java
  * `String` </> is UTF-16 code-unit order, which diverges from Spark for
  * supplementary-plane characters, so a pushed MAX would differ from the
  * unpushed plan on non-BMP data. */
private final class SinkAggAcc(val aggs: Seq[PushedAgg]) extends Serializable {
  private var count = 0L
  private val extrema = new Array[UTF8String](aggs.length)

  private def offer(j: Int, v: UTF8String): Unit =
    if (v != null && (extrema(j) == null || {
      val c = v.compareTo(extrema(j))
      if (aggs(j).fn == "MAX") c > 0 else c < 0
    })) extrema(j) = v

  /** Fold one file from its manifest stats alone: the exact row count and
    * per-column min/max the commit recorded. A column absent from `mins`
    * was all-null in the file, so it offers nothing. */
  def addStats(s: FormSinkSource.FileStats): Unit = {
    count += s.rows
    aggs.zipWithIndex.foreach { case (a, j) =>
      val bound = a.fn match {
        case "MAX" => s.maxs.get(a.field)
        case "MIN" => s.mins.get(a.field)
        case _     => None
      }
      bound.foreach(v => offer(j, UTF8String.fromString(v)))
    }
  }

  /** Fold one decoded row: slot j offers `cells(slots(j))`, and a COUNT(*)
    * slot, marked by a negative index, offers nothing. */
  def addRow(cells: Array[UTF8String], slots: Array[Int]): Unit = {
    count += 1
    var j = 0
    while (j < slots.length) {
      if (slots(j) >= 0) offer(j, cells(slots(j)))
      j += 1
    }
  }

  /** An empty state for the same aggregates. */
  def fresh(): SinkAggAcc = new SinkAggAcc(aggs)

  /** The output row: `keys` (the group's cells), then each slot's value. */
  def result(keys: Array[Any]): InternalRow = {
    val out = new Array[Any](keys.length + aggs.length)
    System.arraycopy(keys, 0, out, 0, keys.length)
    var j = 0
    while (j < aggs.length) {
      out(keys.length + j) = if (aggs(j).fn == "COUNT_STAR") count else extrema(j)
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/** One pushed aggregate's task: the files it decodes and the columns it
  * groups by. Ungrouped, `partial` holds the driver's result over every
  * file with manifest stats and `files` are the stats-less rest; grouped,
  * `files` are all the scan's files and `partial` is empty. */
private case class SinkAggPartition(files: Seq[String], groups: Seq[String],
                                    partial: SinkAggAcc)
    extends InputPartition

/** Decodes the partition's files, reading only the grouped and aggregated
  * columns, and folds each row into its group's [[SinkAggAcc]]; groups are
  * kept in first-seen order, keyed by their cells. Emits one row per
  * group — none for no rows — or, ungrouped, exactly one row on top of the
  * driver's partial. */
private object FormSinkAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SinkAggPartition]
    val aggs = part.partial.aggs
    // COUNT(*) alone reads one column, which keeps the row count observable
    // through either codec
    val cols = (part.groups ++ PushedAgg.fields(aggs)).distinct match {
      case Seq() => Seq(FormSinkSource.schema.fieldNames.head)
      case cs    => cs
    }
    val keyAt = part.groups.map(cols.indexOf(_)).toArray
    val slots = aggs.map(a => if (a.fn == "COUNT_STAR") -1 else cols.indexOf(a.field)).toArray
    val accs = new java.util.LinkedHashMap[Seq[UTF8String], SinkAggAcc]()
    def key(cells: Array[UTF8String]): Seq[UTF8String] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(keyAt.map(cells))
    // ungrouped, the one (empty) key starts from the driver's partial
    if (keyAt.isEmpty) accs.put(key(Array.empty), part.partial)
    lazy val rows = {
      part.files.foreach { f =>
        SinkCodec.foreachRow(Paths.get(f), cols) { cells =>
          val k = key(cells)
          var acc = accs.get(k)
          if (acc == null) { acc = part.partial.fresh(); accs.put(k, acc) }
          acc.addRow(cells, slots)
        }
      }
      accs.entrySet().iterator().asScala.map(e => e.getValue.result(e.getKey.toArray[Any]))
    }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        rows.hasNext && { row = rows.next(); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** One read task's committed files, a contiguous run of the manifest. */
private case class SinkFilesPartition(files: Seq[String]) extends InputPartition

private class FormSinkReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    // the partition's files back to back, in manifest order; each is
    // codec-dispatched and column-pruned: the parquet tier decodes only the
    // `required` columns; jsonl streams lines (never readAllLines — a
    // compacted 100 TB-era file must not materialize on one heap)
    val rows = SinkCodec.chain(
      p.asInstanceOf[SinkFilesPartition].files.map(Paths.get(_)),
      required.fieldNames.toSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.next()
      override def get(): InternalRow =
        InternalRow.fromSeq(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(rows.get()))
      override def close(): Unit = rows.close()
    }
  }
}
