package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._

/** Structured Streaming surface (SURVEY §2.4 "streaming", §7 M3): real
  * `readStream` pipelines over the events table — tumbling/sliding
  * event-time windows with watermarks, streaming deduplication — executed
  * with `Trigger.AvailableNow` into an in-memory sink so each run processes
  * the full fixture deterministically and the result is a plain DataFrame
  * the driver's DuckDB gate can hash.
  *
  * Scale/semantics notes:
  *   - the file source is the same parquet the batch twin reads; in
  *     production the source would be Kafka/files-in-arrival-order, and the
  *     `withWatermark` bound controls state eviction — state per key/window
  *     is dropped once the watermark passes, which is what keeps unbounded
  *     streams in bounded memory at 100 TB/day;
  *   - aggregations run in COMPLETE output mode here so the one-batch
  *     AvailableNow run emits every window (append mode would hold back
  *     windows newer than watermark — correct for unbounded streams,
  *     unhelpful for a finite verification corpus). Late-data *dropping*
  *     semantics are exercised in StreamingSpec with a two-batch
  *     MemoryStream instead, where the watermark actually advances.
  */
object StreamingOps {

  /** The events table as a file-source stream (schema from the batch
    * reader; nanosecond timestamps normalized identically). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val raw = spark.readStream
      .schema(batch.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // µs NTZ encoding (see Tables.events): same value under the
        // repo-wide UTC session timezone, re-tagged so watermarks and
        // window frames get a plain TIMESTAMP
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Run a streaming frame to completion (AvailableNow) into a memory sink
    * and return the materialized result.
    *
    * State partitioning: a streaming aggregation creates one state store
    * per shuffle partition per micro-batch; at the gated corpus size 32
    * stores are pure overhead, so the stream runs with 8 by default — but
    * the knob is INPUT-SCALED via the `stateParts` overload (it is fixed
    * at first checkpoint, so a real deployment sizes it to state volume
    * up front; each query here gets a fresh checkpoint, so per-run sizing
    * is safe). The r15 sf10 leg showed why: q96/q234's per-batch sort +
    * state update through 8 fixed partitions is the same
    * fixed-partition trap as the batch dedups — [[eventStateParts]]
    * scales it with the corpus while the small SFs keep 8 exactly. */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: String): DataFrame =
    runToMemory(df, name, outputMode, 8)

  def runToMemory(df: DataFrame, name: String,
                  outputMode: String, stateParts: Int): DataFrame = {
    val spark = df.sparkSession
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    q.awaitTermination()
    spark.table(name)
  }

  /** State partitions for a stream over the events corpus at `d`: ~250k
    * events per state partition, floored at the historical 8 (the gated
    * sf0.1 tier keeps its exact partitioning and timings), capped at 256.
    * Row count from parquet footers — no job. */
  def eventStateParts(d: String): Int =
    math.max(8L, math.min(256L,
      graft.util.Sizing.parquetRowCount(d, "events") / 250000L)).toInt

  /** The events corpus as a MULTI-batch file stream for APPEND-mode runs.
    *
    * Complete mode (q59/q61) re-emits all state every trigger — fine for a
    * finite verification corpus, catastrophic at 100 TB/day. The production
    * path is append mode, where a window emits exactly once, when the
    * watermark finally passes it. A finite corpus run in append mode would
    * hold back every window newer than (max ts − delay), so this helper
    * stages the corpus as three files in a temp dir — two halves of the
    * real events, then one late sentinel event 3 h past the corpus end —
    * and streams them with `maxFilesPerTrigger=1`. The sentinel advances
    * the final watermark beyond every real window, so append mode emits the
    * full, once-each result; the sentinel's own (still-unfinalized) window
    * is excluded by the caller's `event_type =!= SentinelType` filter.
    * Micro-batch boundaries between the files make the watermark actually
    * ADVANCE mid-run — the state-eviction path a single-batch run never
    * exercises. */
  val SentinelType = "zz_sentinel"

  /** Staged three-file corpora by source dir: staging is deterministic
    * (same corpus → same files), so the four append-mode queries sharing a
    * JVM stage once and stream the same directory. */
  private val stagedDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Pre-stage the three-file corpus for `dir` OUTSIDE any timed window
    * (r17 verdict item 5: the sf10 streaming-band rows carried ~30 s of
    * one-time fixture staging inside shared-JVM chunks, overstating the
    * operators' own growth). Bench calls this from its untimed warmup
    * whenever a [[FileStreamQueries]] member is selected; the memo makes
    * every in-query staging call a no-op afterwards. Harmless anywhere
    * else — it produces exactly the frame the first query would have. */
  def preStageEvents(spark: SparkSession, dir: String): Unit = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"))
    stagedDirs.getOrElseUpdate(dir, stageBatches(spark, ev))
  }

  /** The registered queries that stream the staged three-file corpus —
    * maintained next to [[twoBatchEventsStream]]'s call sites so Bench's
    * warmup knows when pre-staging pays. */
  val FileStreamQueries: Set[String] = Set(
    "q59_stream_tumbling", "q60_stream_dedup", "q61_stream_sliding",
    "q91_stream_tumbling_append", "q92_stream_sliding_append",
    "q96_stream_session_append", "q116_stream_sink_ingest",
    "q126_stream_static_join", "q133_stream_stream_outer_join",
    "q197_stream_cdc_apply", "q217_stream_topk",
    "q229_stream_transform_with_state", "q234_stream_dedup_watermark",
    "q236_stream_chained_stateful", "q246_stream_tws_timers",
    "q251_stream_tws_mapstate", "q254_stream_tws_liststate",
    "q258_stream_native_sink")

  def twoBatchEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val stage = stagedDirs.getOrElseUpdate(dir, stageBatches(spark, ev))
    spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
  }

  private def stageBatches(spark: SparkSession,
                           ev: DataFrame): String = {
    import java.nio.file.Files
    // Scratch dirs are deleted by a shutdown hook — staged corpora must not
    // accumulate across sessions
    val stage = graft.util.Scratch.dir("graft-stream-batches")
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = graft.util.Scratch.dir("graft-stream-part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
      Files.move(part.toPath, stage.resolve(name))
      graft.util.Scratch.deleteRecursively(tmp) // only the moved part mattered
    }
    val cut = ev.agg(
      min(col("ts")).as("lo"), max(col("ts")).as("hi")).collect()(0)
    val (lo, hi) = (cut.getTimestamp(0), cut.getTimestamp(1))
    val mid = new java.sql.Timestamp((lo.getTime + hi.getTime) / 2)
    // halves split by event time: the second file's rows are all newer, so
    // its micro-batch genuinely advances the watermark over the first's
    writeOne(ev.filter(col("ts") <= mid), "batch-1.parquet")
    writeOne(ev.filter(col("ts") > mid), "batch-2.parquet")
    val sentinel = new java.sql.Timestamp(hi.getTime + 3L * 3600 * 1000)
    // cast every sentinel literal to the corpus column's type, so the
    // staged file's schema matches the stream schema exactly
    writeOne(spark.range(1).select(
      lit(-1L).cast(ev.schema("event_id").dataType).as("event_id"),
      lit(-1L).cast(ev.schema("user_id").dataType).as("user_id"),
      lit(sentinel).as("ts"),
      lit(SentinelType).as("event_type"),
      lit(0.0).cast(ev.schema("value").dataType).as("value")),
      "batch-3-sentinel.parquet")
    stage.toString
  }

  /** Per-user session-counting state for q99: last event time and sessions
    * opened so far. Top-level so Spark can derive its product encoder. */
  case class SessionCountState(lastTsMs: Long, count: Long)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** transformWithState v2 processor for q251: MapState — one keyed sub-map
    * per user (event_type -> count), the composite-state shape v1 forces into
    * a single serialized blob. Each micro-batch updates only the touched
    * sub-keys (RocksDB point writes, not whole-blob rewrites) and re-emits
    * the touched (user, type, count) triples in update mode. */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "typeCounts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 timers: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { case (_, et) =>
        val cur = touched.getOrElse(et,
          if (counts.containsKey(et)) counts.getValue(et) else 0L)
        touched.update(et, cur + 1)
      }
      touched.foreach { case (et, n) => counts.updateValue(et, n) }
      touched.iterator.map { case (et, n) => (key, et, n) }
    }
  }

  /** transformWithState v2 processor for q254: ListState — a BOUNDED recency
    * buffer (last 3 events) per user. appendList adds only the batch's rows;
    * the trim rewrites the list only when it exceeds the bound, so state is
    * O(bound) forever — the recommendation-feature shape (recent items per
    * user) that must never buffer the stream. Rows carry (tsMs, eventId,
    * type); batches arrive time-split, the handler sorts within the batch. */
  class RecentEventsProcessor(bound: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), (Long, Long, String)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var recent: ListState[(Long, Long, String)] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[(Long, Long, String)](
        "recent", Encoders.product[(Long, Long, String)], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
                                 timers: TimerValues): Iterator[(Long, Long, String)] = {
      val batch = rows.map(r => (r._2, r._3, r._4)).toArray.sortBy(r => (r._1, r._2))
      recent.appendList(batch)
      val total = (if (seen.exists()) seen.get() else 0L) + batch.length
      seen.update(total) // monotone census rides a ValueState NEXT TO the list
      val all = recent.get().toArray
      val last = all.takeRight(bound)
      if (all.length > bound) recent.put(last) // trim: rewrite only past the bound
      Iterator.single((key, total, last.map(_._3).mkString(",")))
    }
  }

  /** transformWithState v2 processor for q246: q99's session counter re-built
    * on the v2 API with REAL event-time timers — state updates register a
    * timer at lastTs+gap; when the watermark passes it, handleExpiredTimer
    * emits the user's final count once and clears both state and timer. */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SessionCountState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionCountState](
        "session", Encoders.product[SessionCountState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      val had = Option(st.get())
      var cur = had.getOrElse(SessionCountState(Long.MinValue, 0L))
      rows.map(_._2).toArray.sorted.foreach { t =>
        cur =
          if (cur.lastTsMs == Long.MinValue || t - cur.lastTsMs > gapMs)
            SessionCountState(t, cur.count + 1)
          else SessionCountState(t, cur.count)
      }
      st.update(cur)
      // slide the expiry forward: drop the stale timer, arm the new one
      had.foreach(h => getHandle.deleteTimer(h.lastTsMs + gapMs + 1))
      getHandle.registerTimer(cur.lastTsMs + gapMs + 1)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val out = Option(st.get()).map(s => (key, s.count)).iterator
      st.clear()
      out
    }
  }

  /** Running (event count, cents sum) per user for q229. */
  case class RunningTotals(n: Long, cents: Long)

  /** transformWithState v2 processor for q229: one named ValueState per key,
    * running totals folded over each micro-batch's rows, one update-mode
    * emission per (key, batch) that saw input. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[RunningTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[RunningTotals](
        "totals", Encoders.product[RunningTotals], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var st = Option(totals.get()).getOrElse(RunningTotals(0L, 0L))
      rows.foreach { case (_, c) => st = RunningTotals(st.n + 1, st.cents + c) }
      totals.update(st)
      Iterator.single((key, st.n, st.cents))
    }
  }

  /** q361's staged early/late corpus split, by source dir (same memo
    * discipline as [[stagedDirs]] — fixture IO out of the timed reps). */
  private val rebalanceDirs =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** q361's processor: [[RunningTotalsProcessor]] plus the INITIAL-STATE
    * hook — handleInitialState seeds each key's ValueState from the frame
    * the restart was handed, before the first batch's rows fold in. */
  class RunningTotalsRebalanceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), (Long, Long, Long), RunningTotals] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[RunningTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[RunningTotals](
        "totals", Encoders.product[RunningTotals], TTLConfig.NONE)
    override def handleInitialState(key: Long, initialState: RunningTotals,
                                    timers: TimerValues): Unit =
      totals.update(initialState)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var st = Option(totals.get()).getOrElse(RunningTotals(0L, 0L))
      rows.foreach { case (_, c) => st = RunningTotals(st.n + 1, st.cents + c) }
      totals.update(st)
      Iterator.single((key, st.n, st.cents))
    }
  }

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q116_stream_sink_ingest",
      "Streaming ingestion into the transactional DSv2 sink: the three-micro-batch events stream lands in FormSinkSource via foreachBatch, one manifest-swap commit per micro-batch — so a consumer reading mid-stream sees only whole batches (the streaming twin of the reference's one-POST append, made atomic), and the change feed (q109) can replay ingestion batch-by-batch afterwards. The read-back goes through the committed manifest, proving end-to-end streaming->commit->scan.",
      """SELECT event_type AS vendor,
        |  CAST(user_id AS VARCHAR) AS description,
        |  CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) AS picker_erk,
        |  CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS charge_code,
        |  printf('E%09d', event_id) AS po_number
        |FROM events ORDER BY po_number""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.SaveMode
      val dir = graft.util.Scratch.dir("graft-q116-sink").toString // fresh per run
      val sinkFmt = graft.sources.FormSinkSource.Format
      val shaped = twoBatchEventsStream(s, d).select(
        col("event_type").as("vendor"),
        col("user_id").cast("string").as("description"),
        unix_timestamp(col("ts")).cast("string").as("picker_erk"),
        cents(col("value")).cast("string").as("charge_code"),
        format_string("E%09d", col("event_id")).as("po_number"))
      val q = shaped.writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // per-batch atomic append: crash between batches loses nothing
          // already committed, and replaying a batch is a new manifest
          // version the change feed exposes — not an in-place mutation
          batch.write.format(sinkFmt).mode(SaveMode.Append)
            .option("path", dir).save()
        }
        .start()
      q.awaitTermination()
      s.read.format(sinkFmt).option("path", dir).load()
        .filter(col("vendor") =!= SentinelType)
        .orderBy(col("po_number"))
    },

    GraftQuery(
      "q197_stream_cdc_apply",
      "Streaming CDC APPLY — each micro-batch UPSERTS (SQL MERGE INTO, not append) the batch's latest state per user into the transactional sink: per batch, one window reduces the batch to its newest row per user, a catalog MERGE INTO (the q257 DSv2 row-level operation) upserts those images ENTIRELY executor-side — the source stays a distributed frame end to end, so NOTHING key-proportional ever crosses the driver and the apply loop has no key-cardinality ceiling at all (the second-decade bench run proved the need: a 100x key space blew past any driver-image bound by construction) — and because the staged micro-batches are time-ordered, sequential batch-latest merges converge to the GLOBAL latest-per-user: the materialized-view maintenance loop every CDC consumer runs. The sink's driver-image merge API keeps its own maxMergeImages guard for its config-sized contract (FormSinkSpec); the CDC path simply no longer rides it. Read-back equals the batch argmax oracle.",
      """WITH l AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT event_type AS vendor,
        |  CAST(event_id AS VARCHAR) AS description,
        |  CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) AS picker_erk,
        |  CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS charge_code,
        |  printf('U%09dD', user_id) AS po_number
        |FROM l WHERE rn = 1 ORDER BY po_number""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // catalog-registered sink table: the MERGE below is the q257 DSv2
      // row-level operation — a distributed copy-on-write group rewrite —
      // NOT the driver-image connector API. No row image is ever collected.
      if (s.conf.getOption("spark.sql.catalog.graft_q197").isEmpty) {
        s.conf.set("spark.sql.catalog.graft_q197", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_q197.root",
          graft.util.Scratch.dir("graft-q197-catalog").toString)
      }
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_q197.cdc")
      s.sql("DROP TABLE IF EXISTS graft_q197.cdc.state") // fresh per run
      s.sql("""CREATE TABLE graft_q197.cdc.state (
        vendor STRING, description STRING, picker_erk STRING,
        charge_code STRING, po_number STRING)""")
      val src = twoBatchEventsStream(s, d)
        .filter(col("event_type") =!= SentinelType)
      val q = src.writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          batch
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("event_type").as("vendor"),
              col("event_id").cast("string").as("description"),
              unix_timestamp(col("ts")).cast("string").as("picker_erk"),
              cents(col("value")).cast("string").as("charge_code"),
              format_string("U%09dD", col("user_id")).as("po_number"))
            .createOrReplaceTempView("graft_q197_src")
          // executor-side upsert: the batch's latest-per-key images flow
          // shuffle-to-shuffle into the sink's ReplaceData plan; the only
          // driver traffic is the manifest swap. A 100 TB backfill batch
          // is just a bigger shuffle, not a driver OOM.
          batch.sparkSession.sql(
            """MERGE INTO graft_q197.cdc.state t USING graft_q197_src s
              |ON t.po_number = s.po_number
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        .start()
      q.awaitTermination()
      s.table("graft_q197.cdc.state").orderBy(col("po_number"))
    },

    GraftQuery(
      "q99_stream_custom_state",
      "Custom streaming state as a first-class query: flatMapGroupsWithState with EVENT-TIME TIMEOUT counts each user's 10-min-gap sessions — state carries (last ts, count) across micro-batches, emits exactly once per user when the watermark passes its timeout, and is removed. The helper's time-ordered batch split guarantees per-key in-order delivery across batches (within a batch the handler sorts). Oracle: batch gaps-and-islands session-start sum.",
      """WITH g AS (SELECT user_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val GapMs = 600000L
      val handler = (user: Long, events: Iterator[(Long, java.sql.Timestamp)],
                     state: GroupState[SessionCountState]) => {
        if (state.hasTimedOut) {
          // watermark passed (last ts + gap): no event can extend a session
          // — emit the user's final count once, then drop the state
          val out = Iterator.single((user, state.get.count))
          state.remove()
          out
        } else {
          var st = state.getOption.getOrElse(SessionCountState(Long.MinValue, 0L))
          events.map(_._2.getTime).toArray.sorted.foreach { t =>
            st =
              if (st.lastTsMs == Long.MinValue || t - st.lastTsMs > GapMs)
                SessionCountState(t, st.count + 1) // gap exceeded → new session
              else SessionCountState(t, st.count)
          }
          state.update(st)
          state.setTimeoutTimestamp(st.lastTsMs + GapMs + 1)
          Iterator.empty
        }
      }
      val counted = twoBatchEventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout())(handler)
        .toDF("user_id", "n_sessions")
      // the sentinel user's timeout sits past the final watermark, so its
      // state never emits; the filter is documentation more than necessity
      runToMemory(counted, s"q99_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .filter(col("user_id") =!= -1L)
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q229_stream_transform_with_state",
      "Spark 4's transformWithState (arbitrary-state API v2, the successor to q99's flatMapGroupsWithState): a StatefulProcessor holds one typed ValueState[(n, cents)] per user in the RocksDB state store — the ONLY backend the v2 API runs on, i.e. this query exercises the production state path end-to-end — and emits the running per-user totals each micro-batch in update mode. Final totals are the max_by(n) emission per user; equals the batch aggregate exactly. v2 beats v1 at scale: named state variables are individually evictable (TTLConfig), timers are first-class, and state schema evolves independently of the handler function.",
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val counted = twoBatchEventsStream(s, d)
        .select(col("user_id"), cents(col("value")).as("cents"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new RunningTotalsProcessor(), TimeMode.None(),
          OutputMode.Update(), Encoders.product[(Long, Long, Long)])
        .toDF("user_id", "n_events", "sum_cents")
      val saved = s.conf.getOption(ProviderKey)
      val updates = try {
        s.conf.set(ProviderKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        runToMemory(counted, s"q229_sink_${System.nanoTime()}", "update", eventStateParts(d))
      } finally saved match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None    => s.conf.unset(ProviderKey)
      }
      updates
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        // totals are monotone in n_events, so the emission with the largest
        // n_events IS the final state — max_by collapses the update stream
        .agg(max(col("n_events")).as("n_events"),
          expr("max_by(sum_cents, n_events)").as("sum_cents"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q246_stream_tws_timers",
      "transformWithState with EVENT-TIME TIMERS — q99's session counter rebuilt on the v2 API's first-class timer surface: each batch slides the user's expiry timer (deleteTimer + registerTimer at lastTs+gap), and when the watermark passes it, handleExpiredTimer — a callback v1's flatMapGroupsWithState folds awkwardly into a hasTimedOut branch — emits the final count once and clears state. v1 and v2 must agree exactly with the batch gaps-and-islands oracle; timers survive micro-batch boundaries through the RocksDB store like any named state.",
      """WITH g AS (SELECT user_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val counted = twoBatchEventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), (expr("unix_micros(ts)") / 1000L).cast("long").as("tsMs"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(600000L), TimeMode.EventTime(),
          OutputMode.Append(), Encoders.product[(Long, Long)])
        .toDF("user_id", "n_sessions")
      val saved = s.conf.getOption(ProviderKey)
      val out = try {
        s.conf.set(ProviderKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        runToMemory(counted, s"q246_sink_${System.nanoTime()}", "append", eventStateParts(d))
      } finally saved match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None    => s.conf.unset(ProviderKey)
      }
      // the sentinel's own timer sits past the final watermark: never emits
      out.filter(col("user_id") =!= -1L).orderBy(col("user_id"))
    },

    GraftQuery(
      "q251_stream_tws_mapstate",
      "transformWithState with MAP state — the keyed-sub-state shape (user -> {event_type -> count}) that v1's single state blob can't update incrementally: each micro-batch point-updates only the touched event types in the RocksDB map and re-emits those (user, type, count) triples in update mode; the final count per (user, type) is the max emission (counts are monotone). Completes the v2 state-type coverage alongside q229 (ValueState) and q246 (timers); equals the batch per-(user, type) census exactly.",
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val counted = twoBatchEventsStream(s, d)
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TypeCountsProcessor(), TimeMode.None(),
          OutputMode.Update(), Encoders.product[(Long, String, Long)])
        .toDF("user_id", "event_type", "n")
      val saved = s.conf.getOption(ProviderKey)
      val updates = try {
        s.conf.set(ProviderKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        runToMemory(counted, s"q251_sink_${System.nanoTime()}", "update", eventStateParts(d))
      } finally saved match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None    => s.conf.unset(ProviderKey)
      }
      updates.filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n"))
        .orderBy(col("user_id"), col("event_type"))
    },

    GraftQuery(
      "q254_stream_tws_liststate",
      "transformWithState with LIST state — the bounded recency buffer (each user's last 3 event types) that powers recent-items features: appendList adds only the batch's rows, the list trims past the bound (state O(3) per user forever), and a ValueState counter alongside makes emissions monotone so the final snapshot is max_by(n_seen). Completes the v2 trio (q229 value, q251 map, here list). Oracle: the batch last-3-by-time window.",
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_seen,
        |  string_agg(event_type, ',' ORDER BY rn DESC) AS last3
        |FROM r WHERE rn <= 3
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val counted = twoBatchEventsStream(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("tsUs"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new RecentEventsProcessor(3), TimeMode.None(),
          OutputMode.Update(), Encoders.product[(Long, Long, String)])
        .toDF("user_id", "n_seen", "last3")
      val saved = s.conf.getOption(ProviderKey)
      val updates = try {
        s.conf.set(ProviderKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        runToMemory(counted, s"q254_sink_${System.nanoTime()}", "update", eventStateParts(d))
      } finally saved match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None    => s.conf.unset(ProviderKey)
      }
      updates.filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(max(col("n_seen")).as("n_seen"),
          expr("max_by(last3, n_seen)").as("last3"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q258_stream_native_sink",
      "NATIVE streaming write into the transactional sink — writeStream straight at the DSv2 table (STREAMING_WRITE capability), no foreachBatch shim: every micro-batch epoch is one manifest-swap commit that records {queryId -> epochId} IN the same atomic publication, so a replayed micro-batch after a crash-restart is recognized by its epoch and skipped — end-to-end exactly-once from the file-stream source's replayable offsets to the table, the property q116's foreachBatch route could only get per-batch. Read back through the committed manifest and verified against the batch census.",
      """SELECT event_type AS vendor, count(*) AS n,
        |  min(CAST(event_id AS VARCHAR)) AS min_id
        |FROM events WHERE event_id >= 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val dir = graft.util.Scratch.dir("graft-q258-sink").toString
      val ckpt = graft.util.Scratch.dir("graft-q258-ckpt").toString
      val sinkFmt = graft.sources.FormSinkSource.Format
      val stream = twoBatchEventsStream(s, d)
        .filter(col("event_id") >= 0) // sentinel stays out of the table
        .select(col("event_type").as("vendor"),
          lit("event").as("description"),
          date_format(col("ts"), "yyyy-MM-dd").as("picker_erk"),
          lit("C0").as("charge_code"),
          col("event_id").cast("string").as("po_number"))
      val q = stream.writeStream
        .format(sinkFmt).option("path", dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format(sinkFmt).option("path", dir).load()
        .groupBy(col("vendor"))
        .agg(count(lit(1)).as("n"), min(col("po_number")).as("min_id"))
        .orderBy(col("vendor"))
    },

    GraftQuery(
      "q259_sink_stream_source",
      "The sink as a STREAMING SOURCE (DSv2 MICRO_BATCH_READ): the manifest log is the offset axis — three batch commits seed versions 1..3, readStream on the table turns each version's added files into a micro-batch (q109's change feed driven by the engine's offset tracking, checkpointed, restart-safe), and a streaming aggregate consumes them. Together with q258's epoch-recording writes the sink is now a full streaming TABLE: exactly-once in, exactly-once out, which is the contract that lets a 100 TB pipeline chain tables instead of topics.",
      """WITH src AS (
        |  SELECT i, 'V' || (i % 5) AS vendor, printf('U%09dD', i) AS po_number
        |  FROM unnest(generate_series(0, 899)) AS t(i))
        |SELECT vendor, count(*) AS n, min(po_number) AS min_po, max(po_number) AS max_po
        |FROM src GROUP BY vendor ORDER BY vendor""".stripMargin) { (s, d) =>
      val dir = graft.util.Scratch.dir("graft-q259-sink").toString
      val ckpt = graft.util.Scratch.dir("graft-q259-ckpt").toString
      val sinkFmt = graft.sources.FormSinkSource.Format
      val feed = s.read.format("graft.sources.FormPipelineSource")
        .option("rows", 900).option("partitions", 3).load()
      val rows = feed.select(
        concat(lit("V"), expr("submission_id % 5")).as("vendor"),
        lit("d").as("description"), lit("2020-01-01").as("picker_erk"),
        lit("C0").as("charge_code"), col("po_number"), col("submission_id"))
      (0 until 3).foreach { b => // three manifest versions = three offsets
        rows.where(col("submission_id") >= b * 300 && col("submission_id") < (b + 1) * 300)
          .drop("submission_id")
          .write.format(sinkFmt).mode("append").option("path", dir).save()
      }
      val agg = s.readStream.format(sinkFmt).option("path", dir).load()
        .groupBy(col("vendor"))
        .agg(count(lit(1)).as("n"),
          min(col("po_number")).as("min_po"), max(col("po_number")).as("max_po"))
      val q = agg.writeStream.format("memory")
        .queryName(s"q259_sink_${System.nanoTime()}")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(q.name).orderBy(col("vendor"))
    },

    GraftQuery(
      "q260_stream_table_to_table",
      "Tables, not topics — the medallion-architecture hop as ONE streaming query: readStream from sink table A (manifest-version offsets, q259) -> transform (vendor normalization + a derived charge band) -> writeStream into sink table B (epoch-recording exactly-once commits, q258). Offsets checkpoint against A, epochs record in B, so the hop is exactly-once end to end and restartable at either side — the structural primitive that replaces a message bus with transactional tables all the way down a 100 TB pipeline. Verified by the census of B.",
      """WITH src AS (
        |  SELECT i, 'V' || (i % 5) AS vendor, printf('U%09dD', i) AS po_number
        |  FROM unnest(generate_series(0, 599)) AS t(i)),
        |hop AS (SELECT lower(vendor) AS vendor,
        |    CASE WHEN i % 5 < 2 THEN 'low' ELSE 'high' END AS charge_code,
        |    po_number
        |  FROM src)
        |SELECT vendor, charge_code, count(*) AS n, max(po_number) AS max_po
        |FROM hop GROUP BY vendor, charge_code ORDER BY vendor, charge_code""".stripMargin) { (s, d) =>
      val dirA = graft.util.Scratch.dir("graft-q260-a").toString
      val dirB = graft.util.Scratch.dir("graft-q260-b").toString
      val ckpt = graft.util.Scratch.dir("graft-q260-ckpt").toString
      val sinkFmt = graft.sources.FormSinkSource.Format
      val feed = s.read.format("graft.sources.FormPipelineSource")
        .option("rows", 600).option("partitions", 3).load()
      val rows = feed.select(
        concat(lit("V"), expr("submission_id % 5")).as("vendor"),
        lit("d").as("description"), lit("2020-01-01").as("picker_erk"),
        lit("C0").as("charge_code"), col("po_number"), col("submission_id"))
      (0 until 2).foreach { b => // two source versions = two micro-batches
        rows.where(col("submission_id") >= b * 300 && col("submission_id") < (b + 1) * 300)
          .drop("submission_id")
          .write.format(sinkFmt).mode("append").option("path", dirA).save()
      }
      val hop = s.readStream.format(sinkFmt).option("path", dirA).load()
        .select(lower(col("vendor")).as("vendor"),
          col("description"), col("picker_erk"),
          when(expr("CAST(substring(vendor, 2) AS INT) % 5") < 2, "low")
            .otherwise("high").as("charge_code"),
          col("po_number"))
      val q = hop.writeStream.format(sinkFmt)
        .option("path", dirB).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format(sinkFmt).option("path", dirB).load()
        .groupBy(col("vendor"), col("charge_code"))
        .agg(count(lit(1)).as("n"), max(col("po_number")).as("max_po"))
        .orderBy(col("vendor"), col("charge_code"))
    },

    GraftQuery(
      "q248_state_reader",
      "The state-store DATA SOURCE (Spark 4's statestore format): after a checkpointed streaming aggregation runs, its internal state — the per-group aggregation buffers — is read back OFFLINE as a DataFrame (key.event_type, value.count, value.sum) straight from the checkpoint, no query running. This is the streaming-ops debugging/audit surface: inspect what a production job's state actually holds, reconcile it against the source of truth, size it per key — here the state buffers must equal the batch aggregate exactly, which is precisely the reconciliation a production runbook performs.",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val src = graft.util.Scratch.dir("graft-q248-src")
      ev.coalesce(1).write.mode("overwrite").parquet(src.toString)
      val ckpt = graft.util.Scratch.dir("graft-q248-ckpt").toString
      val agg = s.readStream.schema(ev.schema).parquet(src.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      val q = agg.writeStream.format("memory")
        .queryName(s"q248_sink_${System.nanoTime()}")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the query is STOPPED; its durable state is now just data
      s.read.format("statestore").option("path", ckpt).load()
        .select(col("key.event_type").as("event_type"),
          col("value.count").as("n"), col("value.sum").as("value_cents"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q361_stream_state_rebalance",
      "Streaming state REBALANCE across a restart (r18 worklist 6c — the inverse of q248's offline state READ): a stateful query's state-store partition count is frozen into the checkpoint at first batch, so a deployment whose corpus grows 10x between restarts is stuck with yesterday's parallelism — unless the state can MOVE. The Spark-native move, exercised end to end: (1) an UNDERSIZED run (2 state partitions, RocksDB) folds the early half of the events stream into per-user running totals via transformWithState; (2) the stopped checkpoint's state is drained OFFLINE through the statestore source (q248's surface, pointed at a named v2 state variable); (3) a FRESH query restarts 8x wider (16 state partitions, new checkpoint) over the late half, handing the drained frame to transformWithState's INITIAL-STATE overload — a StatefulProcessorWithInitialState seeds each key's ValueState in batch 0, the engine re-hashes every key across the NEW partition count by construction, and growth folds on top. Witnessed in-query: the drained stores' distinct partition_id census actually widens (old <= 2 < new), and the ANSWER is read from the REBALANCED store itself (statestore source again, no memory-sink mediation): per-user totals must equal the batch aggregate over ALL events exactly — early-only users survive the move untouched, late-only users are born wide, spanning users fold seamlessly. Scale shape: the drain and re-seed are one state-sized distributed read + shuffle — never a replay of the stream's history, which is exactly why a 100 TB/day deployment can afford the resize.",
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      // the growth scenario split by event time: "history" (absorbed by
      // the undersized deployment) and "growth" (arrives after the
      // resize). Staged ONCE per corpus (the q96 staging-memo lesson —
      // fixture IO must not ride the timed reps); the checkpoints below
      // stay fresh per invocation because the rebalance IS the query.
      val (earlyDir, lateDir) = rebalanceDirs.getOrElseUpdate(d, {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), cents(col("value")).as("cents"))
        val mm = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect()(0)
        val mid = new java.sql.Timestamp(
          (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
        val e = graft.util.Scratch.dir("graft-q361-early").toString
        val l = graft.util.Scratch.dir("graft-q361-late").toString
        ev.filter(col("ts") <= mid).write.mode("overwrite").parquet(e)
        ev.filter(col("ts") > mid).write.mode("overwrite").parquet(l)
        (e, l)
      })
      val evSchema = s.read.parquet(earlyDir).schema
      def keyed(dir: String) = s.readStream.schema(evSchema).parquet(dir)
        .select(col("user_id"), col("cents")).as[(Long, Long)]
        .groupByKey(_._1)
      def runTo(df: DataFrame, name: String, parts: Int, ckpt: String): Unit = {
        val savedParts = s.conf.get("spark.sql.shuffle.partitions")
        val q = try {
          s.conf.set("spark.sql.shuffle.partitions", parts.toString)
          df.writeStream.format("memory").queryName(name)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
        q.awaitTermination()
      }
      def drained(ckpt: String): DataFrame =
        s.read.format("statestore").option("path", ckpt)
          .option("stateVarName", "totals").load()
      val savedProvider = s.conf.getOption(ProviderKey)
      try {
        s.conf.set(ProviderKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // phase 1: the undersized deployment (2 state partitions)
        val ck1 = graft.util.Scratch.dir("graft-q361-ck1").toString
        runTo(keyed(earlyDir)
          .transformWithState(new RunningTotalsProcessor(), TimeMode.None(),
            OutputMode.Update(), Encoders.product[(Long, Long, Long)])
          .toDF("user_id", "n_events", "sum_cents"),
          s"q361_p1_${System.nanoTime()}", 2, ck1)
        // offline drain: the stopped checkpoint's state is just data
        val st1 = drained(ck1)
        val p1 = st1.select(col("partition_id")).distinct().count()
        val init = st1.select(col("key.value").as("u"),
            col("value.n").as("n"), col("value.cents").as("c"))
          .as[(Long, Long, Long)]
          .map { case (u, n, c) => (u, RunningTotals(n, c)) }
          .groupByKey(_._1).mapValues(_._2)
        // phase 2: restart 8x wider, seeded by the drained state
        val ck2 = graft.util.Scratch.dir("graft-q361-ck2").toString
        runTo(keyed(lateDir)
          .transformWithState(new RunningTotalsRebalanceProcessor(),
            TimeMode.None(), OutputMode.Update(), init,
            Encoders.product[(Long, Long, Long)],
            Encoders.product[RunningTotals])
          .toDF("user_id", "n_events", "sum_cents"),
          s"q361_p2_${System.nanoTime()}", 16, ck2)
        val st2 = drained(ck2)
        val p2 = st2.select(col("partition_id")).distinct().count()
        require(p1 <= 2 && p2 > p1,
          s"state did not rebalance: $p1 partitions before, $p2 after")
        // the answer is the REBALANCED store itself
        st2.select(col("key.value").as("user_id"),
            col("value.n").as("n_events"), col("value.cents").as("sum_cents"))
          .orderBy(col("user_id"))
      } finally savedProvider match {
        case Some(v) => s.conf.set(ProviderKey, v)
        case None    => s.conf.unset(ProviderKey)
      }
    },

    GraftQuery(
      "q59_stream_tumbling",
      "Structured Streaming tumbling 30-min windows per event type over the events file stream (readStream -> withWatermark -> window -> memory sink, AvailableNow): identical result to the batch twin, verified against the batch-arithmetic oracle.",
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS window_start_s,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      runToMemory(agg, s"q59_sink_${System.nanoTime()}", "complete", eventStateParts(d))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("window_start_s"), col("event_type"))
    },

    GraftQuery(
      "q217_stream_topk",
      "The native TopKAgg INSIDE a streaming aggregation: per event type, the running top-3 events by value over the multi-micro-batch stream (complete mode) — proving the custom TypedImperativeAggregate is streaming-safe end-to-end: its buffer serializes into the state store between micro-batches, merges with each batch's partials, and the final emit equals the batch row_number twin exactly. Per-group state is the bounded <=2k-long buffer — streaming top-k never accumulates the stream, the property that makes leaderboard state O(groups·k) forever.",
      """WITH c AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT event_type, event_id, cents,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY cents DESC, event_id) AS rk
        |      FROM c)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, cents
        |FROM r WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin) { (s, d) =>
      val agg = twoBatchEventsStream(s, d)
        .filter(col("event_type") =!= SentinelType)
        .select(col("event_type"), col("event_id"), cents(col("value")).as("cents"))
        .groupBy(col("event_type"))
        .agg(graft.functions.GraftFunctions
          .topKAgg(col("cents"), col("event_id"), 3).as("tk"))
      runToMemory(agg, s"q217_sink_${System.nanoTime()}", "complete", eventStateParts(d))
        .select(col("event_type"), posexplode(col("tk")).as(Seq("pos", "x")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
          col("x.payload").as("event_id"), col("x.key").as("cents"))
        .orderBy(col("event_type"), col("rk"))
    },

    GraftQuery(
      "q60_stream_dedup",
      "Streaming deduplication: dropDuplicates on (user_id, event_type) over the event stream (append mode — each first-seen pair emits once; state bounded by key cardinality), then distinct-user counts per type.",
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val dedup = eventsStream(s, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      runToMemory(dedup, s"q60_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .groupBy(col("event_type"))
        .agg(count(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q234_stream_dedup_watermark",
      "dropDuplicatesWithinWatermark — the BOUNDED-state streaming dedup (q60's dropDuplicates keeps every key forever; this evicts a key's state once the watermark passes its event time + delay, the only dedup that survives an unbounded stream). Exercised against a genuinely duplicated feed: the staged corpus unioned with itself, so every event arrives twice across paired micro-batches; each emits exactly once. At-least-once sources (Kafka replays, retried file listings) are exactly this shape — dedup state stays O(keys-in-window), not O(stream).",
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val once  = twoBatchEventsStream(s, d)
      val again = twoBatchEventsStream(s, d)
      val dedup = once.union(again)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value"))
      runToMemory(dedup, s"q234_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .filter(col("event_id") =!= -1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q236_stream_chained_stateful",
      "TWO stateful operators chained in ONE streaming query (Spark 3.5+ watermark propagation, still rare in production engines): the doubled at-least-once feed first passes bounded-state dropDuplicatesWithinWatermark, then feeds a tumbling 30-min windowed aggregate — dedup state evicts behind the watermark, window state emits ahead of it, one checkpoint governs both. Without chaining this is two queries and an intermediate topic/table; here the exactly-once ingest-to-aggregate path is a single plan. Result equals the batch arithmetic on the deduplicated corpus.",
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS window_start_s,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val doubled = twoBatchEventsStream(s, d).union(twoBatchEventsStream(s, d))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .filter(col("event_id") =!= -1L) // sentinel still advances the watermark
      val agg = doubled
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      runToMemory(agg, s"q236_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("window_start_s"), col("event_type"))
    },

    GraftQuery(
      "q61_stream_sliding",
      "Structured Streaming sliding windows (20-min length / 10-min slide) with watermark over the event stream; every event contributes to two windows — same arithmetic oracle as the batch sliding twin.",
      """WITH w AS (SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 600) - u.k) * 600 AS window_start_s,
        |    value
        |  FROM events, LATERAL unnest([0, 1]) AS u(k))
        |SELECT window_start_s, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "20 minutes", "10 minutes"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      runToMemory(agg, s"q61_sink_${System.nanoTime()}", "complete", eventStateParts(d))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("n"), col("value_cents"))
        .orderBy(col("window_start_s"))
    },

    GraftQuery(
      "q91_stream_tumbling_append",
      "q59's tumbling windows on the PRODUCTION output path: a three-micro-batch AvailableNow run (corpus halves + late sentinel) in APPEND mode — each window emits exactly once, when the advancing watermark finalizes it, instead of complete mode's full re-emission per trigger; identical result to the batch-arithmetic oracle.",
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS window_start_s,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val agg = twoBatchEventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      runToMemory(agg, s"q91_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .filter(col("event_type") =!= SentinelType)
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("window_start_s"), col("event_type"))
    },

    GraftQuery(
      "q92_stream_sliding_append",
      "q61's sliding windows (20-min/10-min) in APPEND mode over the three-micro-batch stream: every finalized window emits once as the watermark passes it. The sentinel is NOT filtered out: a pre-aggregation filter gets pushed below the watermark collector (dropping the very row that advances it), and its own windows — 3 h past the corpus, never overlapping a real one — sit forever above the final watermark, so append mode never emits them.",
      """WITH w AS (SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 600) - u.k) * 600 AS window_start_s,
        |    value
        |  FROM events, LATERAL unnest([0, 1]) AS u(k))
        |SELECT window_start_s, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val agg = twoBatchEventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "20 minutes", "10 minutes"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      runToMemory(agg, s"q92_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("n"), col("value_cents"))
        .orderBy(col("window_start_s"))
    },

    GraftQuery(
      "q96_stream_session_append",
      "q58's merging session windows (10-min gap) on the streaming production path: APPEND mode over the three-micro-batch run, so sessions spanning a batch boundary exercise real cross-batch state merge, and each closed session emits exactly once when the watermark passes its end; the sentinel's own never-closing session stays unemitted (plus a belt-and-braces user filter). Oracle: the batch gaps-and-islands rewrite.",
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 10 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) + 600 AS session_end_s,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_s""".stripMargin) { (s, d) =>
      val agg = twoBatchEventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      runToMemory(agg, s"q96_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start_s"),
          unix_timestamp(col("session_window.end")).as("session_end_s"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_s"))
    },

    GraftQuery(
      "q89_stream_stream_join",
      "Stream-stream inner join: the view stream joined to the purchase stream per user within a 30-minute event-time range, watermarks on BOTH sides bounding the join state (each side's buffer is evicted once the other side's watermark passes the range) — per-user matched-pair counts, identical to the batch-join oracle.",
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val views = eventsStream(s, d)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      runToMemory(joined.select(col("v_user").as("user_id")),
        s"q89_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q133_stream_stream_outer_join",
      "Stream-stream LEFT OUTER join — q89's inner join plus the rows that matched nothing: each view pairs with same-user purchases in the following 30 minutes, and a view with no such purchase emits exactly once WITH NULLS when the purchase-side watermark passes its range (the state-eviction-driven null emission that makes outer stream joins hard; inner joins emit eagerly and never exercise it). Three-micro-batch run so eviction genuinely happens mid-stream; both sides keep the sentinel through their filters so it advances both watermarks, and its own never-finalized row is dropped at the end. Per-user matched-pair and unmatched-view counts, identical to the batch outer-join oracle.",
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT v.user_id, p.ts AS pts
        |      FROM v LEFT JOIN p ON v.user_id = p.user_id
        |        AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE)
        |SELECT user_id, CAST(count(pts) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_views
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val src = twoBatchEventsStream(s, d)
      // sentinel retained on BOTH sides: the filters run below the
      // watermark collectors (q92's pushdown lesson), so dropping it here
      // would freeze the final watermark and hold back the last windows'
      // null emissions
      val views = src
        .filter(col("event_type").isin("view", SentinelType))
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = src
        .filter(col("event_type").isin("purchase", SentinelType))
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      // the sentinel rows share user −1 and an identical timestamp, so
      // p_ts > v_ts keeps them from pairing with each other
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      runToMemory(joined.select(col("v_user").as("user_id"), col("p_ts")),
        s"q133_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(col("p_ts")).as("n_pairs"),
          sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_unmatched_views"))
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q126_stream_static_join",
      "Stream-static enrichment join on the production output path: the three-micro-batch event stream joins the static customer dimension (explicitly broadcast — the dimension is planned ONCE and hash-probed per micro-batch, no stream-side shuffle and no state store for the join), then tumbling 30-min windows per market segment emit exactly once in APPEND mode as the watermark passes them. The canonical 100 TB/day enrichment shape: only the windowed aggregate keeps state; the sentinel row advances the final watermark and matches no dimension row, so the inner join drops it after it has been counted by the watermark collector.",
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS window_start_s,
        |  c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events e JOIN customer c ON e.user_id * 10 = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = twoBatchEventsStream(s, d)
        .withWatermark("ts", "1 hour")
        // the stream's user domain maps 1:1 into the dimension key; the
        // sentinel's user_id −1 maps to −10, matching nothing — dropped by
        // the join ABOVE the watermark collector, so it still advances time
        .join(broadcast(dim), col("user_id") * 10 === col("c_custkey"))
      val agg = enriched
        .groupBy(window(col("ts"), "30 minutes"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      runToMemory(agg, s"q126_sink_${System.nanoTime()}", "append", eventStateParts(d))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("c_mktsegment"), col("n"), col("value_cents"))
        .orderBy(col("window_start_s"), col("c_mktsegment"))
    }
  )
}
