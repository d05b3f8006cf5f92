package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.etl.WatermarkEtl
import graft.sources.FormSinkSource

/** The DSv2 write path (SURVEY §2.1 R4 as a connector): append and truncate
  * through FormSinkSource's two-phase commit, read-back with pruning, and
  * the flagship ETL invariants re-run with BOTH the watermark read (R3) and
  * the append (R4) routed through the connector. */
class FormSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  private def feed(lo: Int, hi: Int) =
    WatermarkEtl.sourceFeed(spark, sf)
      .filter(col("o_orderkey").between(lo, hi))
      .drop("o_orderkey")

  test("append writes through two-phase commit and reads back exactly") {
    val dir = tmp()
    val df = feed(1, 200)
    df.write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val back = spark.read.format(FormSinkSource.Format)
      .option("path", dir).load()
    assert(back.schema.fieldNames.toSeq ===
      Seq("vendor", "description", "picker_erk", "charge_code", "po_number"))
    assert(back.orderBy("po_number").collect().toSeq ===
      df.orderBy("po_number").collect().toSeq)
    // nothing left staged after the driver commit published the files
    assert(!new java.io.File(s"$dir/_staging").exists() ||
      new java.io.File(s"$dir/_staging").listFiles().isEmpty)
  }

  test("codec tiers mix in one table: jsonl era + parquet era, one manifest protocol") {
    val dir = tmp()
    // era 1: legacy history from the original row-JSON tier, which the sink
    // now only reads — jsonl lines plus the version-1 manifest, with the
    // file's stats, that published them
    val era1 = feed(1, 50).collect().toSeq
    val cols = FormSinkSource.schema.fieldNames.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val legacy = "part-00000-0-legacy.jsonl"
    Files.write(java.nio.file.Paths.get(dir, legacy), era1.map { r =>
      val node = mapper.createObjectNode()
      cols.foreach(c => Option(r.getAs[String](c)).fold(node.putNull(c))(node.put(c, _)))
      mapper.writeValueAsString(node)
    }.asJava)
    val manifest = mapper.createObjectNode()
    manifest.putArray("files").add(legacy)
    val fs = manifest.putObject("stats").putObject(legacy)
    fs.put("rows", era1.size)
    val (mins, maxs) = (fs.putObject("mins"), fs.putObject("maxs"))
    cols.foreach { c =>
      // UTF-8 binary order, the order the sink's stats are kept in
      val vs = era1.flatMap(r => Option(r.getAs[String](c)))
        .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      if (vs.nonEmpty) { mins.put(c, vs.min.toString); maxs.put(c, vs.max.toString) }
    }
    Files.createDirectories(java.nio.file.Paths.get(dir, "_manifests"))
    Files.write(java.nio.file.Paths.get(dir, "_manifests", "manifest-v0000000001.json"),
      mapper.writeValueAsBytes(manifest))
    // era 2: the parquet writer
    feed(51, 100).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val (_, names) = FormSinkSource.snapshotInfo(dir)
    assert(names.exists(_.endsWith(".jsonl")) &&
      names.exists(_.endsWith(".parquet")),
      s"expected one file per era, got $names")
    val read = () => spark.read.format(FormSinkSource.Format)
      .option("path", dir).load()
    // both eras round-trip through one scan...
    assert(read().count() === feed(1, 100).count())
    assert(read().orderBy("po_number").collect().toSeq ===
      feed(1, 100).orderBy("po_number").collect().toSeq)
    // ...manifest-stats skipping engages across codecs (same FileStats)...
    val hi = read().filter(col("po_number") >= "U000000051D").count()
    val (scanned, total) = FormSinkSource.lastScanFileCensus
    assert(total === 2 && scanned === 1,
      s"cross-codec skip census $scanned/$total")
    assert(hi === feed(51, 100).count())
    // ...and a compaction migrates the jsonl era to parquet
    FormSinkSource.compact(dir)
    val (_, after) = FormSinkSource.snapshotInfo(dir)
    assert(after.size === 1 && after.head.endsWith(".parquet"), after)
    assert(read().orderBy("po_number").collect().toSeq ===
      feed(1, 100).orderBy("po_number").collect().toSeq)
  }

  test("incremental clustering rewrites ONLY overlapping files; disjoint carry byte-identical") {
    val dir = tmp()
    def clusteredAppend(lo: Int, hi: Int, parts: Int): Unit =
      feed(lo, hi).repartitionByRange(parts, col("po_number"))
        .sortWithinPartitions(col("po_number"))
        .write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    // clustered base: 4 disjoint po ranges; then a narrow delta inside it
    clusteredAppend(1, 400, 4)
    clusteredAppend(90, 110, 1)
    val (_, before) = FormSinkSource.snapshotInfo(dir)
    assert(before.size === 5)
    val Some((v, groups, rewritten, carried)) =
      FormSinkSource.compactClusteredIncremental(dir, "po_number")
    // the delta straddles the 90..100 boundary region: 1 group, most of
    // the base never opened
    assert(groups === 1 && rewritten >= 2 && carried >= 2,
      s"v=$v groups=$groups rewritten=$rewritten carried=$carried")
    val (_, after) = FormSinkSource.snapshotInfo(dir)
    // carried files are the SAME manifest entries (never rewritten)
    assert(before.toSet.intersect(after.toSet).size === carried)
    // conservation + order-insensitive content equality
    val back = spark.read.format(FormSinkSource.Format).option("path", dir)
      .load().orderBy("po_number", "vendor").collect().toSeq
    val expected = feed(1, 400).unionAll(feed(90, 110))
      .orderBy("po_number", "vendor").collect().toSeq
    assert(back === expected)
    // idempotence: a disjoint layout is a no-op, no version churn
    assert(FormSinkSource.compactClusteredIncremental(dir, "po_number")
      === Some((v, 0, 0, after.size)))
    // a pre-stats-era file (no manifest stats) conservatively joins one
    // rewrite-everything group — unknown ranges must never silently carry
    val legacyDir = tmp()
    clusteredAppend2(legacyDir)
    val Some((_, g2, rw2, c2)) =
      FormSinkSource.compactClusteredIncremental(legacyDir, "po_number")
    assert(g2 === 1 && c2 === 0 && rw2 >= 2, s"$g2 $rw2 $c2")
  }

  test("incremental rewrite never splits a key run across files — second call stays a no-op") {
    // r19 fix: a plain row-count chunk cut could split a run of EQUAL sort
    // keys across two output files, whose closed ranges then touch at the
    // shared key — the next CALL saw them as an overlap group forever
    // (idempotence violated; hit at sf10 where the scaled corpus carries
    // hundreds of rows per key). Four overlapping commits give every key
    // ×4; rowsPerFile=30 is not a multiple of the run length, so an
    // unaligned cut WOULD split a run.
    val dir = tmp()
    def app(): Unit =
      feed(1, 50).repartitionByRange(1, col("po_number"))
        .sortWithinPartitions(col("po_number"))
        .write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    (1 to 4).foreach(_ => app())
    val Some((v, g, rw, c)) =
      FormSinkSource.compactClusteredIncremental(dir, "po_number",
        rowsPerFile = 30)
    assert(g === 1 && rw === 4 && c === 0, s"v=$v g=$g rw=$rw c=$c")
    val (_, files) = FormSinkSource.snapshotInfo(dir)
    assert(files.size > 1, "the cap must force multiple output files")
    assert(FormSinkSource.compactClusteredIncremental(dir, "po_number",
      rowsPerFile = 30) === Some((v, 0, 0, files.size)))
    val back = spark.read.format(FormSinkSource.Format).option("path", dir)
      .load()
    assert(back.count() === 4 * feed(1, 50).count())
    assert(back.select("po_number").distinct().count()
      === feed(1, 50).count())
  }

  /** Two disjoint clustered commits, then one file's stats STRIPPED from
    * the newest manifest in place (what a pre-stats-era manifest looks
    * like — versioned JSON on disk, edited directly like the crash tests
    * plant orphans directly). */
  private def clusteredAppend2(dir: String): Unit = {
    def app(lo: Int, hi: Int): Unit =
      feed(lo, hi).repartition(1).write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    app(1, 100); app(101, 200)
    val (v, names) = FormSinkSource.snapshotInfo(dir)
    val mf = java.nio.file.Paths.get(dir, "_manifests",
      f"manifest-v$v%010d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(mf))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("stats")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove(names.head)
    Files.write(mf, mapper.writeValueAsBytes(root))
  }

  test("second append is additive; overwrite truncates first") {
    val dir = tmp()
    val a = feed(1, 100)
    val b = feed(101, 150)
    a.write.format(FormSinkSource.Format).mode(SaveMode.Append).option("path", dir).save()
    b.write.format(FormSinkSource.Format).mode(SaveMode.Append).option("path", dir).save()
    val read = () => spark.read.format(FormSinkSource.Format).option("path", dir).load()
    assert(read().count() === a.count() + b.count())
    b.write.format(FormSinkSource.Format).mode(SaveMode.Overwrite).option("path", dir).save()
    assert(read().count() === b.count())
  }

  test("pushed MAX/MIN compare in UTF-8 binary order, matching the unpushed plan") {
    val dir = tmp()
    // U+FFFF sorts ABOVE the surrogate pair for U+1F600 in Java's UTF-16
    // code-unit order (0xFFFF > 0xD83D) but BELOW it in UTF-8 binary /
    // code-point order — the order Spark compares strings in. A pushed
    // aggregate using String </> would pick the wrong extremum here.
    val emoji = "po-😀" // U+1F600, the UTF-8 maximum
    val ffff = "po-￿"        //           the UTF-16 maximum
    assert(ffff.compareTo(emoji) > 0) // the Java-order trap this test pins
    Seq(("a", emoji), ("b", ffff), ("c", "po-zzz"))
      .toDF("vendor", "po_number")
      .write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val sink = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    val pushed = sink.agg(max(col("po_number")), min(col("po_number")))
    assert(pushed.queryExecution.executedPlan.toString().contains("PushedAggregates: [MAX"))
    val row = pushed.collect().head
    // the unpushed plan's answer, via Spark's own ordering
    val expectMax = sink.orderBy(col("po_number").desc).select("po_number").as[String].head()
    assert(row.getString(0) === expectMax && row.getString(0) === emoji)
    assert(row.getString(1) === "po-zzz")
  }

  /** Pushed MAX/MIN over two columns plus COUNT(*) on `sink` must equal
    * Spark's own answer over the same rows, and open exactly `opened` of
    * the snapshot's `total` files. */
  private def assertPushedAggs(sink: DataFrame, opened: Int, total: Int): Unit = {
    val aggs = Seq(max("po_number"), min("po_number"), max("charge_code"),
      min("charge_code"), count(lit(1)))
    val pushed = sink.agg(aggs.head, aggs.tail: _*)
    val plan = pushed.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates: [MAX(po_number), MIN(po_number), " +
      "MAX(charge_code), MIN(charge_code), COUNT(*)]"), plan.take(2000))
    val got = pushed.collect().head
    assert(FormSinkSource.lastScanFileCensus === ((opened, total)))
    val rows = sink.collect()
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
    assert(got === local.agg(aggs.head, aggs.tail: _*).collect().head)
  }

  test("pushed MAX/MIN/COUNT(*) come from the manifest stats, through every table operation") {
    val dir = tmp()
    def load(opts: (String, Long)*): DataFrame =
      opts.foldLeft(spark.read.format(FormSinkSource.Format).option("path", dir)) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
    def files: Int = FormSinkSource.snapshotInfo(dir)._2.size
    feed(1, 100).repartition(2).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    // one file whose charge_code is all-null: absent from its stats' mins
    feed(101, 150).repartition(1).withColumn("charge_code", lit(null).cast("string"))
      .write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(151, 200).repartition(2).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    assert(files === 5)
    assertPushedAggs(load(), 0, 5)
    assertPushedAggs(load("versionAsOf" -> 2L), 0, 3)
    // the change feed (1, 2] is the all-null file alone: null MAX/MIN
    assertPushedAggs(load("changesFromVersion" -> 1L, "changesToVersion" -> 2L), 0, 1)
    assert(load("changesFromVersion" -> 1L, "changesToVersion" -> 2L)
      .agg(max("charge_code")).collect().head.isNullAt(0))
    assertPushedAggs(load("changesFromVersion" -> 1L), 0, 3)
    assert(FormSinkSource.delete(dir,
      org.apache.spark.sql.sources.GreaterThan("po_number", "U000000180D")).isDefined)
    assertPushedAggs(load(), 0, files)
    assert(FormSinkSource.compact(dir).isDefined)
    assertPushedAggs(load(), 0, 1)
    feed(300, 320).write.format(FormSinkSource.Format)
      .mode(SaveMode.Overwrite).option("path", dir).save()
    assertPushedAggs(load(), 0, files)
  }

  test("a file without manifest stats is the only file a pushed aggregate opens") {
    val dir = tmp()
    clusteredAppend2(dir)
    assertPushedAggs(spark.read.format(FormSinkSource.Format).option("path", dir).load(), 1, 2)
  }

  test("reading an empty sink yields zero rows with the declared schema") {
    val back = spark.read.format(FormSinkSource.Format).option("path", tmp()).load()
    assert(back.count() === 0)
    assert(back.schema === FormSinkSource.schema)
  }

  test("read path prunes columns at the scan") {
    val dir = tmp()
    feed(1, 50).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val df = spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .select(col("po_number"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReadSchema: struct<po_number:string>"), plan.take(1500))
    assert(df.as[String].collect().length === 50)
  }

  test("null cells round-trip") {
    val dir = tmp()
    Seq(("v1", null: String)).toDF("vendor", "po_number")
      .write.format(FormSinkSource.Format).mode(SaveMode.Append).option("path", dir).save()
    val row = spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .select("vendor", "description", "po_number").collect().head
    assert(row.getString(0) === "v1")
    assert(row.isNullAt(1) && row.isNullAt(2)) // unwritten + explicit null
  }

  test("non-string input coerces to the table's string cells (reference §1.2)") {
    // Spark's output resolver casts input to the table schema by name, so a
    // long column lands as its string cell — the Seamless cells-are-strings
    // model; the write builder's string-only guard stays as the backstop for
    // direct connector use.
    val dir = tmp()
    Seq(42L).toDF("vendor").write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val row = spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .select("vendor").collect().head
    assert(row.getString(0) === "42")
  }

  test("commit sweeps only its own job's staging dir, not a concurrent job's") {
    // Two jobs writing the same path stage under per-queryId subdirectories;
    // one job's commit must not delete the other's still-staged files.
    val dir = tmp()
    val otherJob = Files.createDirectories(
      java.nio.file.Paths.get(dir, "_staging", "concurrent-job"))
    val stagedByOther = otherJob.resolve("part-00000-staged.jsonl")
    Files.writeString(stagedByOther, "{\"vendor\":\"in-flight\"}\n")
    feed(1, 50).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    assert(Files.exists(stagedByOther),
      "a concurrent job's staged file was swept by another job's commit")
    // and the in-flight file is invisible to readers until ITS commit
    assert(spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .filter(col("vendor") === "in-flight").count() === 0)
  }

  test("ungrouped MAX/COUNT(*) push into the sink scan (R3 sink-side watermark)") {
    val dir = tmp()
    feed(1, 200).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val df = spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates: [MAX(po_number), COUNT(*)]"), plan.take(2000))
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    val row = df.collect().head
    assert(row.getString(0) === "U000000200D")
    assert(row.getLong(1) === 200L)
    // empty sink: the scan itself must emit the one empty-input row
    val empty = spark.read.format(FormSinkSource.Format).option("path", tmp()).load()
      .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    val erow = empty.collect()
    assert(erow.length === 1 && erow(0).isNullAt(0) && erow(0).getLong(1) === 0L)
    // and count() on top of the pushed aggregate plans cleanly (q82's lesson)
    assert(df.count() === 1L)
  }

  test("crash before the manifest swap publishes NOTHING (atomic commit)") {
    // Simulate a driver that died between commit phase 1 (data files moved
    // into the table dir) and phase 2 (manifest publication): the moved file
    // exists on disk but no manifest references it — readers must see none
    // of that job's rows, and a later healthy commit must not resurrect it.
    val dir = tmp()
    feed(1, 50).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val orphan = java.nio.file.Paths.get(dir, "part-99999-0-deadjob.jsonl")
    Files.writeString(orphan, "{\"vendor\":\"crashed-job\"}\n")
    val read = () => spark.read.format(FormSinkSource.Format).option("path", dir).load()
    assert(read().filter(col("vendor") === "crashed-job").count() === 0,
      "a file from a crashed (unmanifested) commit became visible")
    assert(read().count() === 50)
    // a subsequent healthy append still exposes only manifested files
    feed(51, 60).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    assert(read().count() === 60)
    assert(read().filter(col("vendor") === "crashed-job").count() === 0)
    assert(Files.exists(orphan), "orphan cleanup is a vacuum's job, not a reader's")
  }

  test("runtime join-key filtering prunes sink files AFTER the build side executes") {
    val dir = tmp()
    def commit(lo: Int, hi: Int): Unit =
      feed(lo, hi).repartition(1).write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    commit(1, 100); commit(101, 200); commit(201, 300)
    val sink = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    // dim: 5 keys, ALL in the third file's range — arrives with a selective
    // predicate over a base relation, the shape the DPP planner rewards
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderkey").between(250, 254))
      .select(expr("printf('U%09dD', o_orderkey)").as("po_number"))
    // pin dim as the build side: the test exercises the runtime-filter
    // MECHANISM (build keys → In filter → file skips), not the engine's
    // build-side size pick — with the columnar tier this 300-row sink
    // reports a few KB and would itself become the broadcast side
    val joined = sink.join(broadcast(dim), "po_number")
    val rows = joined.collect()
    assert(rows.length === 5)
    // the scan saw the build side's keys as a runtime In filter and opened
    // ONLY the straddling file — 1 of 3 (the static plan had no filter at
    // all; this pruning happened at execution)
    val (scanned, total) = FormSinkSource.lastScanFileCensus
    assert(total === 3, s"census $scanned/$total")
    assert(scanned === 1, s"runtime filter did not prune: opened $scanned of $total")
    // and the physical plan records the dynamic pruning subquery
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning") ||
      plan.contains("RuntimeFilter"), plan.take(3000))
  }

  test("reference's duplicate-on-partial-apply is impossible through the sink commit") {
    // The reference applies its batch as one POST per row with no
    // transaction (SURVEY §3.4): a crash after k of n rows leaves k rows
    // visible, and the natural retry (re-run the whole batch) DUPLICATES
    // them. Simulate exactly that against a row-at-a-time appender, then
    // show the manifest-swap commit path cannot produce the same state.
    val batch = feed(1, 20).collect().toSeq
    // --- the reference's shape: each row its own visible append ---
    val rowDir = tmp()
    def appendOne(r: org.apache.spark.sql.Row): Unit =
      spark.createDataFrame(java.util.List.of(r), batch.head.schema)
        .write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", rowDir).save()
    val crashAfter = 12
    batch.take(crashAfter).foreach(appendOne)      // ...then the "driver dies"
    batch.foreach(appendOne)                        // blind retry of the batch
    val rowwise = spark.read.format(FormSinkSource.Format)
      .option("path", rowDir).load()
    assert(rowwise.count() === crashAfter + batch.size,
      "row-at-a-time apply + retry must show the duplicate anomaly")
    // --- the sink's shape: all-or-nothing manifest swap ---
    val txDir = tmp()
    val df = feed(1, 20)
    df.write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", txDir).save()
    // the "crash" equivalent is phase-1-only (files staged, no manifest) —
    // covered above; here the RETRY after a successful commit is the
    // watermark-guarded delta (the connector's actual loop), which appends
    // nothing because nothing is newer
    val wm = spark.read.format(FormSinkSource.Format).option("path", txDir)
      .load().agg(max("po_number")).collect().head.getString(0)
    val retry = df.filter(col("po_number") > wm)
    retry.write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", txDir).save()
    val txRead = spark.read.format(FormSinkSource.Format)
      .option("path", txDir).load()
    assert(txRead.count() === batch.size, "transactional path duplicated rows")
    assert(txRead.groupBy("po_number").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("manifest versions serialize commits; truncate supersedes, not deletes, history") {
    val dir = tmp()
    feed(1, 100).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(101, 150).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(1, 20).write.format(FormSinkSource.Format)
      .mode(SaveMode.Overwrite).option("path", dir).save()
    val manifests = Files.list(java.nio.file.Paths.get(dir, "_manifests"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val names = new scala.collection.mutable.ArrayBuffer[String]
    manifests.forEachRemaining(p => names += p.getFileName.toString)
    assert(names.sorted === Seq("manifest-v0000000001.json",
      "manifest-v0000000002.json", "manifest-v0000000003.json"))
    assert(spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .count() === 20)
  }

  test("compact merges the snapshot into one file; rows, order and history intact") {
    val dir = tmp()
    feed(1, 100).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(101, 150).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val before = spark.read.format(FormSinkSource.Format).option("path", dir)
      .load().orderBy("po_number").collect().toSeq
    assert(FormSinkSource.compact(dir) === Some(3L))
    val scan = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    assert(scan.rdd.getNumPartitions === 1) // one file, one partition
    assert(scan.orderBy("po_number").collect().toSeq === before)
    // pre-compaction versions still readable until vacuumed
    assert(spark.read.format(FormSinkSource.Format).option("path", dir)
      .option("versionAsOf", 2).load().count() === 150)
    // compacting a compact table is a no-op at the same version
    assert(FormSinkSource.compact(dir) === Some(3L))
    // vacuum then reclaims the superseded small files but keeps the snapshot
    FormSinkSource.vacuum(dir, minAgeMs = 0) // 0 explicitly: single-threaded test, nothing mid-commit
    assert(spark.read.format(FormSinkSource.Format).option("path", dir)
      .load().count() === 150)
  }

  test("versionAsOf reads historical snapshots; unknown versions are fatal") {
    val dir = tmp()
    feed(1, 100).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(101, 150).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    def at(v: Long) = spark.read.format(FormSinkSource.Format)
      .option("path", dir).option("versionAsOf", v).load()
    assert(at(1).count() === 100)
    assert(at(2).count() === 150)
    assert(at(0).count() === 0) // version 0 = the empty table
    // pushed aggregates respect the pinned snapshot too
    val row = at(1).agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
      .collect().head
    assert(row.getString(0) === "U000000100D" && row.getLong(1) === 100L)
    val err = intercept[Exception](at(9).count())
    assert(err.getMessage.contains("versionAsOf"), err.getMessage)
  }

  test("change feed reads exactly one commit's delta; rewrite ranges are fatal") {
    val dir = tmp()
    feed(1, 100).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(101, 150).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(151, 170).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    def changes(from: Long, to: Long) = spark.read.format(FormSinkSource.Format)
      .option("path", dir).option("changesFromVersion", from)
      .option("changesToVersion", to).load()
    assert(changes(1, 2).count() === 50)
    assert(changes(0, 1).count() === 100)
    assert(changes(1, 3).count() === 70)
    assert(changes(2, 2).count() === 0) // empty range = empty delta
    // default `to` = latest
    assert(spark.read.format(FormSinkSource.Format).option("path", dir)
      .option("changesFromVersion", 2).load().count() === 20)
    // pushed aggregates evaluate over just the delta
    val row = changes(1, 2).agg(count(lit(1)).as("n"), max(col("po_number")).as("wm"))
      .collect().head
    assert(row.getLong(0) === 50L && row.getString(1) === "U000000150D")
    // a compaction rewrites the listing: ranges spanning it must fail loudly
    assert(FormSinkSource.compact(dir) === Some(4L))
    val err = intercept[Exception](changes(3, 4).count())
    assert(err.getMessage.contains("append-only"), err.getMessage)
    // ...but post-rewrite deltas work again
    feed(171, 180).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    assert(changes(4, 5).count() === 10)
  }

  test("manifest stats skip whole files a pushed filter excludes (data skipping)") {
    val dir = tmp()
    def commit(lo: Int, hi: Int): Unit =
      feed(lo, hi).repartition(1).write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    commit(1, 100); commit(101, 200); commit(201, 300)
    def all = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    assert(all.rdd.getNumPartitions === 3) // one file per single-task commit
    // only the middle file's [min,max] range intersects the predicate
    val mid = all.filter(col("po_number") >= "U000000101D" &&
      col("po_number") <= "U000000200D")
    assert(mid.rdd.getNumPartitions === 1)
    assert(mid.count() === feed(101, 200).count())
    // skipping is ADVISORY: the kept file is still row-filtered post-scan
    assert(mid.agg(min("po_number"), max("po_number")).collect().head.toSeq ===
      feed(101, 200).agg(min("po_number"), max("po_number")).collect().head.toSeq)
    // a predicate outside every file's range schedules zero tasks
    val none = all.filter(col("po_number") > "U999999999D")
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0)
    // delta-read shape (the watermark tick): strictly-newer opens ONLY the
    // newest commit's file, not the whole append history
    val delta = all.filter(col("po_number") > feed(1, 200)
      .agg(max("po_number")).collect().head.getString(0))
    assert(delta.rdd.getNumPartitions === 1)
    assert(delta.count() === feed(201, 300).count())
    // the published census agrees: the delta read OPENED 1 of 3 files
    assert(FormSinkSource.lastScanFileCensus === (1, 3))
    // and an unfiltered row read opens everything (census shows no pruning;
    // a bare count() would be answered from the manifest, opening none)
    assert(all.collect().length === 300)
    assert(FormSinkSource.lastScanFileCensus === (3, 3))
  }

  test("clustered compaction turns a 2-D box scan into file skips (q350's operation)") {
    val dir = tmp()
    // a 100×100 grid of (x, y) coordinates as zero-padded strings, arriving
    // in an order that scatters the 2-D space across all 8 files
    spark.range(10000).selectExpr(
        "'L' AS vendor",
        "printf('%09d', id % 100) AS description",
        "printf('%09d', (id * 37) % 100) AS picker_erk",
        "CAST(id % 7 AS STRING) AS charge_code",
        "printf('P%09d', id) AS po_number")
      .repartition(8)
      .write.format(FormSinkSource.Format).mode(SaveMode.Append)
      .option("path", dir).save()
    def table = spark.read.format(FormSinkSource.Format)
      .option("path", dir).load()
    val box = col("description").between("000000010", "000000029") &&
      col("picker_erk").between("000000010", "000000029")
    val expected = table.filter(box).count()
    assert(expected > 0)
    // arrival order: every file's min/max straddles the box — zero pruning
    assert(FormSinkSource.lastScanFileCensus === ((8, 8)))
    val v = FormSinkSource.compactClustered(spark, dir,
      df => graft.functions.GraftFunctions.hilbertIndex(
        df("description").cast("long"), df("picker_erk").cast("long"), 7),
      files = 16)
    assert(v > 0)
    // content survives the distributed truncate-rewrite byte-exactly
    assert(table.count() === 10000)
    assert(table.filter(box).count() === expected)
    // ...and the SAME box now opens a small fraction of the (more numerous)
    // files: each clustered file covers one tight Hilbert run, and a 20×20
    // box intersects few runs. Inequality, not an exact count — file cut
    // points come from range-partition sampling (layout, not answer).
    val (openAfter, totalAfter) = FormSinkSource.lastScanFileCensus
    assert(totalAfter === 16, s"clustered rewrite should publish 16 files, got $totalAfter")
    assert(openAfter <= totalAfter / 2,
      s"clustered layout must prune most files for the box: $openAfter/$totalAfter")
    // the advisory census API agrees with what the scan planner did
    import org.apache.spark.sql.{sources => sqlf}
    val census = FormSinkSource.skippingCensus(dir, Seq(
      sqlf.GreaterThanOrEqual("description", "000000010"),
      sqlf.LessThanOrEqual("description", "000000029"),
      sqlf.GreaterThanOrEqual("picker_erk", "000000010"),
      sqlf.LessThanOrEqual("picker_erk", "000000029")))
    assert(census === ((openAfter, totalAfter)))
  }

  test("skipping handles all-null columns and survives compaction (merged stats)") {
    val dir = tmp()
    // commit 1: charge_code entirely null; commit 2: normal
    feed(1, 100).repartition(1)
      .withColumn("charge_code", lit(null).cast("string"))
      .write.format(FormSinkSource.Format).mode(SaveMode.Append).option("path", dir).save()
    feed(101, 200).repartition(1).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    def all = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    // an equality on the all-null column prunes that file (IsNotNull too)
    val cc = feed(101, 200).select("charge_code").distinct().collect().head.getString(0)
    val eq = all.filter(col("charge_code") === cc)
    assert(eq.rdd.getNumPartitions === 1)
    assert(all.filter(col("charge_code").isNotNull).rdd.getNumPartitions === 1)
    // compaction merges the inputs' stats: the merged file keeps skipping
    assert(FormSinkSource.compact(dir).isDefined)
    assert(all.rdd.getNumPartitions === 1)
    assert(all.filter(col("po_number") > "U999999999D").rdd.getNumPartitions === 0)
    assert(all.filter(col("po_number") > "U000000100D").count() ===
      feed(101, 200).count())
  }

  test("vacuum reclaims crashed-commit orphans and superseded manifests, nothing live") {
    val dir = tmp()
    feed(1, 100).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    feed(101, 120).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val orphan = java.nio.file.Paths.get(dir, "part-99999-0-deadjob.jsonl")
    Files.writeString(orphan, "{\"vendor\":\"crashed-job\"}\n")
    val deleted = FormSinkSource.vacuum(dir, minAgeMs = 0)
    assert(deleted.map(_.getFileName.toString).contains("part-99999-0-deadjob.jsonl"))
    assert(deleted.map(_.getFileName.toString).contains("manifest-v0000000001.json"))
    assert(!Files.exists(orphan))
    // everything the newest manifest references is intact and readable
    assert(spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .count() === 120)
    // vacuum with an age guard leaves fresh (possibly mid-commit) files alone
    Files.writeString(orphan, "{\"vendor\":\"in-flight\"}\n")
    assert(FormSinkSource.vacuum(dir, minAgeMs = 60000).isEmpty)
    assert(Files.exists(orphan))
  }

  test("runIncrement via the connector: idempotent, additive, watermark read through the sink") {
    val dir = tmp()
    val full = WatermarkEtl.sourceFeed(spark, sf)
    val first = full.filter(col("o_orderkey") <= 500)
    val n1 = WatermarkEtl.runIncrement(spark, first, dir, viaConnector = true)
    assert(n1 > 0)
    // idempotence: unchanged source appends nothing
    assert(WatermarkEtl.runIncrement(spark, first, dir, viaConnector = true) === 0)
    // additivity: the growing source appends exactly the new rows
    val n2 = WatermarkEtl.runIncrement(spark, full, dir, viaConnector = true)
    assert(n1 + n2 === full.count())
    assert(spark.read.format(FormSinkSource.Format).option("path", dir).load()
      .count() === n1 + n2)
  }

  test("runIncrement pushes the sink watermark into the source as a literal") {
    val dir = tmp()
    def source(rows: Int): DataFrame =
      spark.read.format("graft.sources.FormPipelineSource")
        .option("rows", rows).option("partitions", 4).load()
        .select("vendor", "description", "picker_erk", "charge_code", "po_number")
    assert(WatermarkEtl.runIncrement(spark, source(200), dir, viaConnector = true) === 200)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString())
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(WatermarkEtl.runIncrement(spark, source(300), dir, viaConnector = true) === 100)
      eventually(timeout(30.seconds)) {
        assert(plans.asScala.exists(_.contains("FormPipelineScan rows=300")))
      }
    } finally spark.listenerManager.unregister(listener)
    val append = plans.asScala.filter(_.contains("FormPipelineScan rows=300")).toSeq
    assert(append.size === 1, append)
    assert(append.head.contains("PushedFilters: [GreaterThan(po_number,U000000199D)]"),
      append.head)
    assert(!append.head.contains("BroadcastNestedLoopJoin"), append.head)
  }

  test("empty appends are elided: a no-op tick adds no manifest version") {
    val dir = tmp()
    val full = WatermarkEtl.sourceFeed(spark, sf)
    val first = full.filter(col("o_orderkey") <= 500)
    assert(WatermarkEtl.runIncrement(spark, first, dir, viaConnector = true) > 0)
    def rowsAt(v: Int): Long = spark.read.format(FormSinkSource.Format)
      .option("path", dir).option("versionAsOf", v).load().count()
    val v1 = rowsAt(1)
    // two idle cron ticks: same source, nothing newer than the watermark
    assert(WatermarkEtl.runIncrement(spark, first, dir, viaConnector = true) === 0)
    assert(WatermarkEtl.runIncrement(spark, first, dir, viaConnector = true) === 0)
    // version 1 is still the LATEST snapshot — no junk versions were added
    // (reading a nonexistent version 2 must fail, proving the log length)
    assert(rowsAt(1) === v1)
    intercept[Exception](rowsAt(2))
  }

  test("delete rewrites only straddling files; stats-excluded files keep their bytes") {
    import org.apache.spark.sql.{sources => f}
    val dir = tmp()
    def commit(lo: Int, hi: Int): Unit =
      feed(lo, hi).repartition(1).write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    commit(1, 100); commit(101, 200); commit(201, 300)
    def all = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    val before = all.count()
    val victims = all.filter(col("po_number") >= "U000000150D").count()
    assert(victims > 0 && victims < before)
    val names2 = FormSinkSource.snapshotInfo(dir)._2
    val v = FormSinkSource.delete(dir,
      f.GreaterThanOrEqual("po_number", "U000000150D"))
    assert(v === Some(4L)) // three commits, then the delete's swap
    val names3 = FormSinkSource.snapshotInfo(dir)._2
    // commit-1 file provably excluded by stats: same name, never rewritten;
    // commit-2 file straddles 150: rewritten; commit-3 file fully matched: gone
    assert(names3.head === names2.head)
    assert(names3.size === 2)
    assert(names3(1) !== names2(1))
    assert(all.count() === before - victims)
    assert(all.filter(col("po_number") >= "U000000150D").count() === 0)
    // time travel still sees the pre-delete snapshot (erasure is versioned)
    assert(spark.read.format(FormSinkSource.Format).option("path", dir)
      .option("versionAsOf", 3).load().count() === before)
    // the rewritten file's FRESH stats still skip: a predicate beyond the
    // survivors' range schedules zero tasks
    assert(all.filter(col("po_number") > "U000000149D").rdd.getNumPartitions === 0)
  }

  test("delete is three-valued: Not(EqualTo) never deletes null cells; no-op deletes publish nothing") {
    import org.apache.spark.sql.{sources => f}
    val dir = tmp()
    feed(1, 50).withColumn("charge_code", lit(null).cast("string"))
      .unionByName(feed(51, 100))
      .write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    def all = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    val nulls = all.filter(col("charge_code").isNull).count()
    val total = all.count()
    assert(nulls > 0)
    // SQL DELETE WHERE charge_code <> '<nonexistent>' removes only the
    // definitely-true rows — null cells are UNKNOWN, and survive
    FormSinkSource.delete(dir, f.Not(f.EqualTo("charge_code", "no-such-code")))
    assert(all.count() === nulls)
    assert(all.filter(col("charge_code").isNotNull).count() === 0)
    // a delete that matches nothing leaves the manifest log length alone
    val (vBefore, _) = FormSinkSource.snapshotInfo(dir)
    assert(FormSinkSource.delete(dir,
      f.EqualTo("po_number", "Z-absent")) === Some(vBefore))
    assert(FormSinkSource.snapshotInfo(dir)._1 === vBefore)
    // AlwaysTrue is the SQL `DELETE FROM t` (no WHERE) shape routed through
    // SupportsDelete: it deletes every row — including null cells, which no
    // comparison predicate can reach under 3VL — in one published version
    assert(FormSinkSource.delete(dir, f.AlwaysTrue) === Some(vBefore + 1))
    assert(spark.read.format(FormSinkSource.Format).option("path", dir)
      .load().count() === 0)
    // genuinely unsupported shapes are still fatal: delete is a correctness
    // boundary and must never guess at a predicate it cannot evaluate
    intercept[IllegalArgumentException](
      FormSinkSource.delete(dir, f.EqualTo("po_number", 42)))
  }

  test("delete pre-validates the predicate: an unsupported shape writes NO rewrite files") {
    import org.apache.spark.sql.{sources => f}
    val dir = tmp()
    feed(1, 100).repartition(1).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val dataDir = new java.io.File(dir)
    val before = dataDir.listFiles().map(_.getName).toSet
    val (vBefore, _) = FormSinkSource.snapshotInfo(dir)
    // In containing null: mayMatch passes it through as may-match, and the
    // per-row 3VL evaluator rejects it — pre-validation must throw BEFORE
    // any deleted-* survivor file exists, or the orphans linger till vacuum
    intercept[IllegalArgumentException](FormSinkSource.delete(dir,
      f.In("po_number", Array[Any]("U000000001D", null))))
    assert(dataDir.listFiles().map(_.getName).toSet === before,
      "aborted delete left rewrite files behind")
    assert(FormSinkSource.snapshotInfo(dir)._1 === vBefore)
  }

  test("merge updates all duplicate-key occurrences, skips excluded files, versions history") {
    val dir = tmp()
    def commit(lo: Int, hi: Int): Unit =
      feed(lo, hi).repartition(1).write.format(FormSinkSource.Format)
        .mode(SaveMode.Append).option("path", dir).save()
    commit(1, 100); commit(101, 200)
    commit(101, 200) // third commit DUPLICATES keys 101..200 (append-only)
    def all = spark.read.format(FormSinkSource.Format).option("path", dir).load()
    val namesBefore = FormSinkSource.snapshotInfo(dir)._2
    val image = Map("vendor" -> "rewritten", "description" -> "rev2",
      "picker_erk" -> "2024-01-01", "charge_code" -> "CX",
      "po_number" -> "U000000150D")
    val insert = image.updated("po_number", "U000000999D")
    val v = FormSinkSource.merge(dir, "po_number", Seq(image, insert))
    assert(v === Some(4L))
    val namesAfter = FormSinkSource.snapshotInfo(dir)._2
    // file 1 (keys 1..100) excluded by its stats range: identical bytes
    assert(namesAfter.head === namesBefore.head)
    // BOTH duplicate occurrences of key 150 carry the update
    assert(all.filter(col("po_number") === "U000000150D")
      .select("vendor").as[String].collect().toSeq === Seq("rewritten", "rewritten"))
    // the unmatched image appended as an insert
    assert(all.filter(col("po_number") === "U000000999D").count() === 1)
    assert(all.count() === 100 + 100 + 100 + 1)
    // pre-merge snapshot intact (versioned upsert)
    assert(spark.read.format(FormSinkSource.Format).option("path", dir)
      .option("versionAsOf", 3).load()
      .filter(col("vendor") === "rewritten").count() === 0)
    // duplicate keys in the SOURCE are fatal (SQL MERGE cardinality rule)
    intercept[IllegalArgumentException](
      FormSinkSource.merge(dir, "po_number", Seq(image, image)))
    // a merge whose keys provably miss every file publishes nothing
    val (vNow, _) = FormSinkSource.snapshotInfo(dir)
    assert(FormSinkSource.merge(dir, "po_number",
      Seq.empty) === Some(vNow))
    assert(FormSinkSource.snapshotInfo(dir)._1 === vNow)
  }

  test("merge enforces the driver-side image cap: over-cap fails loud, not OOM") {
    val dir = tmp()
    feed(1, 10).write.format(FormSinkSource.Format)
      .mode(SaveMode.Append).option("path", dir).save()
    val (vBefore, _) = FormSinkSource.snapshotInfo(dir)
    def img(i: Int) = Map("vendor" -> "v", "description" -> "d",
      "picker_erk" -> "2024-01-01", "charge_code" -> "C",
      "po_number" -> f"U$i%09dD")
    spark.conf.set("spark.graft.sink.maxMergeImages", "3")
    try {
      val e = intercept[IllegalArgumentException](
        FormSinkSource.merge(dir, "po_number", (1 to 4).map(img)))
      assert(e.getMessage.contains("maxMergeImages"), e.getMessage)
      assert(e.getMessage.contains("distributed"), e.getMessage)
      assert(FormSinkSource.snapshotInfo(dir)._1 === vBefore) // nothing published
      // at the cap it proceeds normally
      assert(FormSinkSource.merge(dir, "po_number", (1 to 3).map(img)).nonEmpty)
    } finally spark.conf.unset("spark.graft.sink.maxMergeImages")
  }

  test("streaming epochs are exactly-once: a replayed micro-batch is skipped") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp()
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val src = Files.createTempDirectory("graft-sink-stream-src")
    val rows = feed(1, 100)
    rows.coalesce(1).write.mode("overwrite").parquet(src.toString)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(rows.schema).parquet(src.toString)
        .writeStream.format(FormSinkSource.Format)
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val n = rows.count()
    def tableCount() = spark.read.format(FormSinkSource.Format)
      .option("path", dir).load().count()
    assert(tableCount() === n)
    val (v1, _) = FormSinkSource.snapshotInfo(dir)
    // simulate the crash-replay window: wipe the SINK's commit record of the
    // epoch... no — the epoch record IS in the manifest; instead delete the
    // source's checkpoint commit log so the restarted query re-runs batch 0
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
    commits.foreach(_.delete())
    runOnce() // replays epoch 0 against the sink
    assert(tableCount() === n, "replayed epoch was double-committed")
    assert(FormSinkSource.snapshotInfo(dir)._1 === v1, "replay advanced the version")
  }
}
