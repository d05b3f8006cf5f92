package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.ColumnOps._

/** Source-format breadth (SURVEY §2.1 G2: CSV/JSON scans, schema inference
  * vs explicit StructType) and the engine's user-extension surface
  * (SURVEY §2.4 "UDF surface": scalar `udf`, typed `Aggregator` via
  * `functions.udaf`, and a generator — an array-returning UDF exploded).
  *
  * The CSV/JSON queries materialize a derived copy of a driver table under
  * java.io.tmpdir (overwrite-idempotent), then read it back through the
  * respective source — so the scan path, schema handling and row decode of
  * each format are genuinely exercised while the oracle still checks values
  * against the original parquet.
  *
  * Scale note: UDFs here exist to prove the extension surface. The engine's
  * own operators deliberately use native expressions instead (ColumnOps,
  * graft kernels) — a scalar Scala UDF breaks codegen and serializes per
  * row, which is exactly why the hot paths don't use one.
  */
object SourcesAndUdfs {

  /** Stage path keyed on a CONTENT fingerprint of the fixture dir (every
    * file's path+length+mtime), not just its path: regenerated testdata at
    * the same location gets a fresh stage dir instead of silently reusing
    * stale staged rows — a wrong correctness verdict costs far more than a
    * re-stage. */
  private def stage(d: String, name: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val sig = walk(new java.io.File(d))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("|")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_stage_$key/$name"
  }

  /** Stage a derived frame once per (fixture-fingerprint, name): a completed
    * staging (_SUCCESS marker) is reused — the operator under test is the
    * format's scan path, not the setup write. */
  private def stageOnce(path: String)(write: => Unit): Unit =
    if (!new java.io.File(s"$path/_SUCCESS").exists()) write

  /** Exact integer average: (100 * Σcents) / n with long floor division —
    * a typed Aggregator registered through functions.udaf. */
  object CentsAvgX100 extends Aggregator[Long, (Long, Long), Long] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: Long): (Long, Long) = (b._1 + a, b._2 + 1)
    override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (Long, Long)): Long =
      if (r._2 == 0) 0L else (100L * r._1) / r._2
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** q123's staged line format — one raw string per event. */
  private def logLine: org.apache.spark.sql.Column = concat(
    lit("ts="), unix_timestamp(col("ts")).cast("string"),
    lit(" user="), col("user_id").cast("string"),
    lit(" type="), col("event_type"),
    lit(" value_cents="), cents(col("value")).cast("string"))

  def queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q123_log_parse",
      "Raw-log ingestion (the grep-shaped ETL workload): events staged once as unstructured 'ts=.. user=.. type=.. value_cents=..' text lines, read back through the line-oriented text source, and structured ON READ with regexp_extract — schema lives in the query, not the file. Malformed lines (every 29th is truncated mid-field) drop out via the null guard instead of failing the scan, the same poison-pill tolerance as q103. Per-line regex is embarrassingly parallel; nothing shuffles until the final small aggregate.",
      """WITH lines AS (
        |  SELECT CASE WHEN event_id % 29 = 0
        |              THEN substr(raw, 1, 15)
        |              ELSE raw END AS line
        |  FROM (SELECT event_id,
        |          'ts=' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) ||
        |          ' user=' || CAST(user_id AS VARCHAR) ||
        |          ' type=' || event_type ||
        |          ' value_cents=' || CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR) AS raw
        |        FROM events)),
        |parsed AS (SELECT regexp_extract(line, 'type=([a-z_]+) ', 1) AS typ,
        |                  TRY_CAST(regexp_extract(line, 'value_cents=(-?[0-9]+)$', 1) AS BIGINT) AS vc
        |           FROM lines)
        |SELECT coalesce(nullif(typ, ''), '_malformed') AS event_type,
        |  count(*) AS n, CAST(sum(coalesce(vc, 0)) AS BIGINT) AS value_cents
        |FROM parsed GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = stage(d, "events_log_txt")
      stageOnce(dir) {
        Tables.events(s, d).select(
          when(col("event_id") % 29 === 0,
            substring(logLine, 1, 15)).otherwise(logLine).as("value"))
          .coalesce(2).write.mode("overwrite").text(dir)
      }
      val line = col("value")
      s.read.text(dir)
        .select(regexp_extract(line, "type=([a-z_]+) ", 1).as("typ"),
          // no-match extracts '' — nullif BEFORE the cast (ANSI mode rejects
          // casting '' to bigint; the twin of the SQL TRY_CAST)
          nullif(regexp_extract(line, "value_cents=(-?[0-9]+)$", 1), lit(""))
            .cast("long").as("vc"))
        .groupBy(coalesce(nullif(col("typ"), lit("")), lit("_malformed"))
          .as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("vc"), lit(0L))).as("value_cents"))
        .orderBy(col("event_type"))
    },

    GraftQuery(
      "q153_catalog_census",
      "Catalog census — the multi-table inventory pass (the reference's analog: three scripts each hard-bound to one form/table; here the engine enumerates its whole catalog): per table, row count and schema width in ONE union plan, each branch a count-star aggregate over that table's scan (column-pruned to zero data columns). The operational health check a 100 TB lake runs nightly.",
      """SELECT * FROM (
        |  SELECT 'customer' AS table_name, count(*) AS n_rows, 5 AS n_columns FROM customer
        |  UNION ALL SELECT 'documents', count(*), 5 FROM documents
        |  UNION ALL SELECT 'embeddings', count(*), 3 FROM embeddings
        |  UNION ALL SELECT 'events', count(*), 6 FROM events
        |  UNION ALL SELECT 'lineitem', count(*), 11 FROM lineitem
        |  UNION ALL SELECT 'nation', count(*), 3 FROM nation
        |  UNION ALL SELECT 'orders', count(*), 6 FROM orders
        |  UNION ALL SELECT 'part', count(*), 6 FROM part
        |  UNION ALL SELECT 'region', count(*), 2 FROM region
        |  UNION ALL SELECT 'supplier', count(*), 4 FROM supplier)
        |ORDER BY table_name""".stripMargin) { (s, d) =>
      // schema width from real introspection (the oracle pins the expected
      // literals); row counts are count-star scans Catalyst prunes to
      // metadata-only parquet reads. events goes through its normalizing
      // reader (nanos timestamps need the legacy-read conf + µs conversion)
      Tables.all.sorted.map { t =>
        val df = if (t == "events") Tables.events(s, d) else Tables(s, d, t)
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("table_name"), col("n_rows"),
            lit(df.schema.size).as("n_columns"))
      }.reduce(_.unionAll(_)).orderBy(col("table_name"))
    },

    GraftQuery(
      "q138_schema_evolution",
      "Schema evolution across file generations: an old-generation parquet file (3 columns) and a new-generation file with an added column read as ONE table via mergeSchema — old rows surface the new column as NULL, no rewrite of historical data (the only sane contract when 100 TB of old files cannot be touched). The merged read is then aggregated with explicit null routing. Staged once per fixture fingerprint.",
      """WITH g AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio
        |  FROM orders)
        |SELECT coalesce(prio, '0-LEGACY') AS priority,
        |  count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = stage(d, "orders_evolving")
      stageOnce(dir) {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"),
            col("o_orderpriority"))
        // generation 1: even keys, WITHOUT the priority column
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("cents"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/gen=1")
        // generation 2: odd keys, schema grew a column
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("cents"), col("o_orderpriority"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/gen=2")
        // _SUCCESS marker at the staging root for stageOnce
        java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
      }
      s.read.option("mergeSchema", "true").parquet(s"$dir/gen=1", s"$dir/gen=2")
        .groupBy(coalesce(col("o_orderpriority"), lit("0-LEGACY")).as("priority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
        .orderBy(col("priority"))
    },

    GraftQuery(
      "q64_csv_source",
      "CSV scan with explicit StructType: customer staged as headered CSV, read back with the declared schema (no inference pass), aggregated per nation — values must round-trip the text format exactly.",
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val path = stage(d, "customer_csv")
      val src = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          // cents as long BEFORE the text round-trip: doubles through CSV
          // re-parse exactly, but integer text is beyond doubt
          cents(col("c_acctbal")).as("acctbal_cents"))
      stageOnce(path) {
        src.write.mode("overwrite").option("header", "true").csv(path)
      }
      s.read
        .schema("c_custkey LONG, c_nationkey LONG, acctbal_cents LONG")
        .option("header", "true")
        .csv(path)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("acctbal_cents")).as("acctbal_cents"))
        .orderBy(col("c_nationkey"))
    },

    GraftQuery(
      "q65_json_source",
      "JSON-lines scan with schema inference: supplier staged as JSONL, read back letting the source infer types (ints -> bigint), then filtered and projected — the self-describing-schema generalization of the reference's JSON catalog (SURVEY §1.3).",
      """SELECT s_suppkey, s_nationkey,
        |  CAST(floor(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM supplier WHERE s_nationkey < 10
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val path = stage(d, "supplier_json")
      stageOnce(path) {
        Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"),
            cents(col("s_acctbal")).as("acctbal_cents"))
          .write.mode("overwrite").json(path)
      }
      s.read.json(path) // schema inferred from the data
        .filter(col("s_nationkey") < 10)
        .select(col("s_suppkey"), col("s_nationkey"),
          col("acctbal_cents").as("acctbal_cents"))
        .orderBy(col("s_suppkey"))
    },

    GraftQuery(
      "q227_xml_source",
      "XML scan via Spark 4's BUILT-IN xml format (spark-xml graduated into core): part staged as <part> row-tag XML with a nested <meta> element, read back with an explicit nested StructType (no inference pass) and rowTag streaming — the XML reader splits files by row tag, so a huge XML dump parallelizes like any text source instead of needing one DOM per file. Nested attributes project with dot paths; aggregated per brand.",
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(p_size AS BIGINT)) AS BIGINT) AS sum_size,
        |  CAST(sum(CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      val path = stage(d, "part_xml")
      stageOnce(path) {
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"),
            struct(col("p_size"),
              cents(col("p_retailprice")).as("price_cents")).as("meta"))
          .write.mode("overwrite").format("xml").option("rowTag", "part").save(path)
      }
      s.read.format("xml")
        .option("rowTag", "part")
        .schema("p_partkey LONG, p_brand STRING, meta STRUCT<p_size: LONG, price_cents: LONG>")
        .load(path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("meta.p_size")).as("sum_size"),
          sum(col("meta.price_cents")).as("sum_cents"))
        .orderBy(col("p_brand"))
    },

    GraftQuery(
      "q66_udf_surface",
      "User-extension surface: a scalar Scala UDF (digit sum of the order key) and a typed Aggregator UDAF (exact integer average cents, (100*sum)/n floor division) — registered via udf()/functions.udaf and verified against arithmetic oracle equivalents.",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST((100 * sum(CAST(floor(o_totalprice * 100) AS BIGINT))) // count(*) AS BIGINT) AS avg_cents_x100,
        |  CAST(sum((SELECT sum(CAST(substr(CAST(o_orderkey AS VARCHAR), CAST(i AS INTEGER), 1) AS BIGINT))
        |            FROM unnest(generate_series(1, length(CAST(o_orderkey AS VARCHAR)))) AS u(i))) AS BIGINT) AS digit_sum
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val digitSum = udf((k: Long) => k.toString.map(_ - '0').sum.toLong)
      val avgX100  = udaf(CentsAvgX100, Encoders.scalaLong)
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          avgX100(cents(col("o_totalprice"))).as("avg_cents_x100"),
          sum(digitSum(col("o_orderkey"))).as("digit_sum"))
        .orderBy(col("o_orderpriority"))
    },

    GraftQuery(
      "q68_rest_source_pushdown",
      "The reference's REST form pipeline as a DataSource V2 connector: watermark filter AND under-$1500 static routing pushed INTO the source (server-side, like the reference's filter query params), columns pruned at the source; oracle regenerates the deterministic row model arithmetically.",
      """WITH src AS (
        |  SELECT i,
        |    'V' || (i % 97) AS vendor,
        |    CAST(DATE '2020-01-01' + CAST(i % 365 AS INTEGER) AS VARCHAR) AS picker_erk,
        |    'C' || (i % 7) AS charge_code,
        |    printf('U%09dD', i) AS po_number,
        |    (i * 137903) % 300000 AS amount_cents
        |  FROM unnest(generate_series(0, 4999)) AS t(i))
        |SELECT vendor, picker_erk, charge_code, po_number,
        |  CAST(amount_cents AS BIGINT) AS amount_cents
        |FROM src
        |WHERE po_number > 'U000002500D' AND amount_cents < 150000
        |ORDER BY po_number""".stripMargin) { (s, d) =>
      s.read.format("graft.sources.FormPipelineSource")
        .option("rows", 5000).option("partitions", 8).load()
        .filter(col("po_number") > "U000002500D" && col("amount_cents") < 150000L)
        .select(col("vendor"), col("picker_erk"), col("charge_code"),
          col("po_number"), col("amount_cents"))
        .orderBy(col("po_number"))
    },

    GraftQuery(
      "q82_source_agg_pushdown",
      "R3 end-to-end through the connector: the watermark MAX (and row count) computed INSIDE the DSv2 source via complete aggregate pushdown — no aggregate exec in the plan, like the reference's sink-side last-row read; composes with the pushed under-$1500 filter.",
      """WITH src AS (
        |  SELECT printf('U%09dD', i) AS po_number,
        |    (i * 137903) % 300000 AS amount_cents
        |  FROM unnest(generate_series(0, 4999)) AS t(i))
        |SELECT max(po_number) AS wm, CAST(count(*) AS BIGINT) AS n
        |FROM src WHERE amount_cents < 150000""".stripMargin) { (s, d) =>
      s.read.format("graft.sources.FormPipelineSource")
        .option("rows", 5000).option("partitions", 8).load()
        .filter(col("amount_cents") < 150000L)
        .agg(max(col("po_number")).as("wm"), count(lit(1)).as("n"))
    },

    GraftQuery(
      "q206_source_limit_page",
      "R2 pagination as LIMIT-at-source: the reference pages its pipeline GET with server-side filter + order params — here a keyset page (pushed watermark filter, LIMIT k) is served INSIDE the DSv2 source as a COMPLETE limit pushdown (isPartiallyPushed=false, one partition = one request stream): the scan emits exactly the page in submission-id order and stops, so the \"server\" never materializes more than k rows. Oracle regenerates the deterministic row model.",
      """WITH src AS (
        |  SELECT i,
        |    'V' || (i % 97) AS vendor,
        |    printf('U%09dD', i) AS po_number,
        |    (i * 137903) % 300000 AS amount_cents
        |  FROM unnest(generate_series(0, 4999)) AS t(i))
        |SELECT vendor, po_number, CAST(amount_cents AS BIGINT) AS amount_cents
        |FROM src
        |WHERE po_number > 'U000002500D' AND amount_cents < 150000
        |ORDER BY i LIMIT 30""".stripMargin) { (s, d) =>
      s.read.format("graft.sources.FormPipelineSource")
        .option("rows", 5000).option("partitions", 8).load()
        .filter(col("po_number") > "U000002500D" && col("amount_cents") < 150000L)
        .select(col("vendor"), col("po_number"), col("amount_cents"))
        .limit(30)
    },

    GraftQuery(
      "q207_source_topn_page",
      "R2's server-side order_by + pagination as TopN-at-source: ORDER BY amount DESC LIMIT k over the connector pushes the WHOLE TopN into the source (SupportsPushDownTopN, complete — Spark plans no residual sort or limit), which serves the page from a bounded heap of k ids: O(page) memory against an arbitrarily large \"table\" behind the endpoint. Ties broken by submission id on both sides.",
      """WITH src AS (
        |  SELECT i,
        |    'C' || (i % 7) AS charge_code,
        |    printf('U%09dD', i) AS po_number,
        |    (i * 137903) % 300000 AS amount_cents
        |  FROM unnest(generate_series(0, 4999)) AS t(i))
        |SELECT charge_code, po_number, CAST(amount_cents AS BIGINT) AS amount_cents
        |FROM src
        |WHERE charge_code = 'C3'
        |ORDER BY amount_cents DESC, i LIMIT 25""".stripMargin) { (s, d) =>
      s.read.format("graft.sources.FormPipelineSource")
        .option("rows", 5000).option("partitions", 8).load()
        .filter(col("charge_code") === "C3")
        .select(col("charge_code"), col("po_number"), col("amount_cents"))
        .orderBy(col("amount_cents").desc)
        .limit(25)
    },

    GraftQuery(
      "q81_request_signing",
      "R12 HMAC request signing, ORACLE-GATED by known-answer vectors (promoted round 12 from the registry's only no-oracle entry): DuckDB cannot compute HMAC, but it can assert CONSTANTS — RFC 4231 test cases 1-2 plus reference-shaped StringToSign vectors covering the global /api gsub, the empty path and the >blocksize hashed-key schedule, each signed by the codegen signColumn (sha2/concat/unhex — no UDF, no javax.crypto in the plan) and rows+schema+hash-compared against the precomputed MACs the oracle carries as literals. The distributed form (the same column over a frame of request rows) is pinned by AuthAndLoggingSpec's javax.crypto differential and verified SERVER-SIDE over real sockets in HttpConnectorSpec.",
      """SELECT CAST(case_id AS BIGINT) AS case_id, sig FROM (VALUES
        |  (1, 'b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7'),
        |  (2, '5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843'),
        |  (3, '1124eb932efc4f8376e9de188feea9308aef6ee98efdc1bd8922e010581ad7d0'),
        |  (4, 'e46dec410ff88fa0b1bb12fdce0faa1fad0dcdb7aa4c3110ef5959ac5d54feb4'),
        |  (5, 'cfeae69c331526eff8a76e243b2d39946a1d63aaaa1636d57474f63bb1c7ee4b'),
        |  (6, '3de6df81651e654927a91e54094f4606090ba36a8422c6e38758efb3d185e1e7'),
        |  (7, '4c9d276a3c3858d29985cfba2e4aeaf4554667043fd2670a159ac1e52fa2357d')
        |) AS t(case_id, sig) ORDER BY case_id""".stripMargin) { (s, d) =>
      import s.implicits._
      def kat(id: Long, secret: String, data: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
        Seq(id).toDF("case_id").select(col("case_id"),
          lower(graft.functions.RequestSigning.signColumn(secret, data)).as("sig"))
      def s2s(verb: String, path: String) =
        graft.functions.RequestSigning.stringToSignColumn(
          lit(verb), lit(path), lit("1596240000"))
      kat(1, "\u000b" * 20, lit("Hi There"))                            // RFC 4231 TC1
        .unionByName(kat(2, "Jefe", lit("what do ya want for nothing?"))) // RFC 4231 TC2
        .unionByName(kat(3, "graft-demo-secret",
          s2s("GET", "/api/form/U000000001D/pipeline")))
        .unionByName(kat(4, "graft-demo-secret",
          s2s("POST", "/api/form/U000000042D/pipeline")))
        .unionByName(kat(5, "graft-demo-secret", s2s("GET", "/api/x/api/y"))) // global gsub
        .unionByName(kat(6, "k" * 80, lit("long key block test"))) // key > block: hashed
        .unionByName(kat(7, "graft-demo-secret", s2s("GET", "")))  // empty path
        .orderBy(col("case_id"))
    },

    GraftQuery(
      "q67_generator_udf",
      "Generator (UDTF-style): an array-returning UDF exploded into rows — order priority split into its components, counted corpus-wide.",
      """SELECT u.part AS part, count(*) AS n
        |FROM orders, LATERAL unnest(string_split(o_orderpriority, '-')) AS u(part)
        |GROUP BY u.part ORDER BY u.part""".stripMargin) { (s, d) =>
      val splitter = udf((p: String) => p.split("-").toSeq)
      Tables.orders(s, d)
        .select(explode(splitter(col("o_orderpriority"))).as("part"))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("part"))
    },

    GraftQuery(
      "q262_clamped_running_balance",
      "Clamped running balance — the ledger fold window functions CANNOT express (each step depends non-linearly on the previous state: bal = max(0, bal + delta)): per user, signups/views/clicks credit cents, purchases/errors debit, and the balance floors at zero with every clamp counted. One flatMapSortedGroups pass, O(1) state, engine-sorted groups (q239's API carrying a genuine state machine). The oracle is the honest WITH RECURSIVE step-by-step evaluation — the only way SQL can say it, and exactly why the typed fold is the scale path.",
      """WITH RECURSIVE e AS (SELECT user_id,
        |    CASE WHEN event_type IN ('purchase', 'error')
        |         THEN -CAST(floor(value * 100) AS BIGINT)
        |         ELSE CAST(floor(value * 100) AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |last AS (SELECT user_id, max(rn) AS last_rn FROM e GROUP BY user_id),
        |b AS (
        |  SELECT user_id, rn, greatest(0, delta) AS bal,
        |    CASE WHEN delta < 0 THEN 1 ELSE 0 END AS clamps
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, greatest(0, b.bal + e.delta),
        |    b.clamps + CASE WHEN b.bal + e.delta < 0 THEN 1 ELSE 0 END
        |  FROM b JOIN e ON e.user_id = b.user_id AND e.rn = b.rn + 1)
        |SELECT b.user_id, CAST(b.bal AS BIGINT) AS final_cents,
        |  CAST(b.clamps AS BIGINT) AS n_clamps
        |FROM b JOIN last ON b.user_id = last.user_id AND b.rn = last.last_rn
        |ORDER BY b.user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("tsu"), col("event_id"),
          when(col("event_type").isin("purchase", "error"),
            -cents(col("value"))).otherwise(cents(col("value"))).as("delta"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("tsu"), col("event_id")) {
          (user: Long, rows: Iterator[(Long, Long, Long, Long)]) =>
            var bal = 0L; var clamps = 0L
            rows.foreach { r =>
              val next = bal + r._4
              if (next < 0) { bal = 0L; clamps += 1 } else bal = next
            }
            Iterator.single((user, bal, clamps))
        }
        .toDF("user_id", "final_cents", "n_clamps")
        .orderBy(col("user_id"))
    },

    GraftQuery(
      "q252_csv_scalar_roundtrip",
      "Scalar CSV codec surface (to_csv/from_csv — the per-VALUE twin of q64's file-level source, for CSV payloads embedded in a column the way Kafka ships them): each supplier row serializes to a CSV line with to_csv, parses back with from_csv under an explicit schema (no inference on the hot path), a deliberately malformed line exercises PERMISSIVE null-out semantics, and the round-tripped fields aggregate per nation. At scale this is the decode step of any 'CSV lines inside a message queue' ingest — per-row, codegen-adjacent, schema-checked at analysis time.",
      """SELECT s_nationkey, count(*) AS n,
        |  count(CASE WHEN s_suppkey % 10 <> 7 THEN 1 END) AS n_parsed,
        |  CAST(sum(CASE WHEN s_suppkey % 10 <> 7
        |       THEN CAST(floor(s_acctbal * 100) AS BIGINT) END) AS BIGINT) AS cents
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      val line = expr("to_csv(named_struct('k', s_suppkey, 'b', CAST(floor(s_acctbal * 100) AS BIGINT)))")
      Tables.supplier(s, d)
        .select(col("s_nationkey"), col("s_suppkey"),
          // every 10th key ships a corrupted payload: digits become text
          when(col("s_suppkey") % 10 === 7, lit("oops,not-a-number"))
            .otherwise(line).as("payload"))
        .select(col("s_nationkey"),
          expr("from_csv(payload, 'k LONG, b LONG')").as("rec"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          count(col("rec.b")).as("n_parsed"),
          sum(col("rec.b")).as("cents"))
        .orderBy(col("s_nationkey"))
    },

    GraftQuery(
      "q239_sorted_group_runs",
      "Typed flatMapSortedGroups — the engine hands each key's rows PRE-SORTED by secondary sort columns (the MapReduce secondary-sort pattern as a first-class API): per user, the longest strictly-increasing cents run computed by a one-pass O(1)-state fold over the sorted iterator. No per-group collect, no window machinery — the shuffle's own sort order IS the group order, so state is (prev, run, best) regardless of group size. The oracle is the equivalent gaps-and-islands SQL; sequential per-group logic that windows CAN'T express (multi-variable state machines) rides the same API for free.",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT user_id, tsu, event_id, cents,
        |    CASE WHEN cents > lag(cents) OVER (PARTITION BY user_id
        |      ORDER BY tsu, event_id) THEN 0 ELSE 1 END AS brk FROM e),
        |g AS (SELECT user_id, CAST(sum(brk) OVER (PARTITION BY user_id
        |      ORDER BY tsu, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS grp FROM f),
        |runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_run,
        |  CAST(sum(len) AS BIGINT) AS n_events
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
          col("event_id"), cents(col("value")).as("cents"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("tsu"), col("event_id")) {
          (user: Long, rows: Iterator[(Long, Long, Long, Long)]) =>
            var prev = Long.MinValue
            var first = true
            var run = 0L; var best = 0L; var n = 0L
            rows.foreach { r =>
              val c = r._4
              run = if (first || c > prev) run + 1 else 1L
              first = false
              if (run > best) best = run
              prev = c; n += 1
            }
            Iterator.single((user, best, n))
        }
        .toDF("user_id", "longest_run", "n_events")
        .orderBy(col("user_id"))
    }
  )
}
