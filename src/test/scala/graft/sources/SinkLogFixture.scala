package graft.sources

import java.nio.file.{Files, Path, Paths}

import FormSinkSource.{FileStats, Successor}

/** Hand-built manifest logs for the sink-log specs and properties: entries
  * with made-up names and stats and no data files, published through the
  * sink's own commit without Spark, and full listings written the way every
  * commit published before the log had delta records. */
object SinkLogFixture {
  type Entry = (String, Option[FileStats])

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def key(i: Int): String = f"U$i%09dD"

  /** The stats a one-tick file of keys `lo..hi` records. */
  def stats(lo: Int, hi: Int): FileStats = FileStats((hi - lo + 1).toLong,
    Map("vendor" -> s"vendor-$lo", "description" -> s"item $lo",
      "picker_erk" -> "2024-01-01", "charge_code" -> "C0", "po_number" -> key(lo)),
    Map("vendor" -> s"vendor-$hi", "description" -> s"item $hi",
      "picker_erk" -> "2024-01-01", "charge_code" -> "C2", "po_number" -> key(hi)))

  /** A staged task file's entry, named as the task writer names it. */
  def tickEntry(lo: Int, hi: Int): Entry =
    s"part-00000-${java.util.UUID.randomUUID()}.parquet" -> Some(stats(lo, hi))

  /** Publish `next(base entries)` through the sink's commit: the new
    * version. */
  def publish(dir: String, epochs: Map[String, Long] = Map.empty)(
      next: Seq[Entry] => Seq[Entry]): Long =
    FormSinkSource.commit(dir)(a =>
      Some(Successor(next(a.base.entries), a.base.epochs ++ epochs))).get

  /** Append one tick file of 100 keys numbered by `tick`. */
  def appendTick(dir: String, tick: Int): Long =
    publish(dir)(_ :+ tickEntry(100 * tick + 1, 100 * tick + 100))

  /** The full listing of `entries`, byte for byte as a commit published
    * every version before the log had delta records. */
  def fullListing(entries: Seq[Entry], epochs: Map[String, Long]): Array[Byte] = {
    val node = mapper.createObjectNode()
    val arr = node.putArray("files")
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

  def logFile(dir: String, name: String): Path = Paths.get(dir, "_manifests", name)
  def recordName(v: Long): String = f"manifest-v$v%010d.json"
  def checkpointName(v: Long): String = f"checkpoint-v$v%010d.json"

  /** Write `entries` as version `v`'s full listing. */
  def writeFull(dir: String, v: Long, entries: Seq[Entry],
                epochs: Map[String, Long] = Map.empty): Path = {
    Files.createDirectories(Paths.get(dir, "_manifests"))
    Files.write(logFile(dir, recordName(v)), fullListing(entries, epochs))
  }

  /** The names in `_manifests`. */
  def logNames(dir: String): Set[String] =
    graft.util.Scratch.listEntries(Paths.get(dir, "_manifests"))
      .map(_.getFileName.toString).toSet

  /** Whether a log file is a delta record (`"add"`), not a full listing. */
  def isDelta(p: Path): Boolean = mapper.readTree(Files.readAllBytes(p)).has("add")

  def deleteTree(dir: String): Unit =
    graft.util.Scratch.deleteRecursively(Paths.get(dir))
}
