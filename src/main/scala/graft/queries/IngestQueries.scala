package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.MinuteAggregate
import graft.ops.Exact

import Kind.Throughput
import Shared._

/** Ingest and format round trips: JSON, variant, CSV, ORC, XML,
  * fixed-width, schema merge, profiling. */
private[queries] object IngestQueries {
  val all: Seq[Query] = Seq(
    // P1 — schema-on-read JSON extraction (envelope flattening analog,
    // source-schema.json:44-117).
    Query("p1_json_extract", Throughput, (s, dir) =>
      ev(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.sumD(col("value"), 2).as("sum_value")),
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin),

    // P13 — semi-structured ingestion through Spark 4's VARIANT type. The
    // open-content envelope (reference: source-schema.json's free-form
    // detail payload) is parsed ONCE into the binary variant encoding, then
    // four typed extractions read the parsed tree — vs p1's
    // get_json_object, which re-parses the JSON string per extraction.
    // Exercised semantics: nested path ($.meta.type), array index
    // ($.meta.ids[1]), explicit JSON null vs MISSING path (both surface as
    // SQL NULL from variant_get, counted separately against exact
    // expectations). The nested document is synthesized deterministically
    // from typed columns (integers + enum strings only — no float
    // formatting), so the DuckDB oracle states the same truth directly
    // from the source columns, blind to the variant machinery.
    Query("p13_variant", Throughput, (s, dir) =>
      // fanOut: the parse_json/variant_get kernel is the whole query cost
      // and ran single-task on the one-split local scan (r13 opt)
      fanOut(ev(s, dir), col("event_id"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("j", format_string(
          """{"k": %s, "meta": {"type": "%s", "ids": [%s, %s]}, "opt": %s}""",
          col("k"), col("event_type"), col("user_id"), col("event_id"),
          when(col("k") % 7 === 0, lit("null")).otherwise(col("k").cast("string"))))
        .withColumn("v", parse_json(col("j")))
        .select(
          expr("variant_get(v, '$.meta.type', 'string')").as("mtype"),
          expr("variant_get(v, '$.k', 'int')").as("vk"),
          expr("variant_get(v, '$.meta.ids[1]', 'bigint')").as("id1"),
          expr("variant_get(v, '$.opt', 'int')").as("opt"),
          expr("variant_get(v, '$.absent', 'int')").as("absent"))
        .groupBy(col("mtype"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("vk")).as("sum_k"),
          sum(col("id1")).as("sum_id1"),
          count(when(col("opt").isNull, 1)).as("n_opt_null"),
          count(when(col("absent").isNull, 1)).as("n_absent_null")),
      // Truth stated directly from the source columns, blind to the variant
      // machinery: mtype=event_type, vk=k, ids[1]=event_id, opt null iff
      // k≡0 (mod 7), $.absent always missing → always NULL.
      """SELECT event_type AS mtype, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id1,
        |  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
        |             THEN 1 END) AS n_opt_null,
        |  COUNT(*) AS n_absent_null
        |FROM events GROUP BY 1""".stripMargin),

    // P2/S8 — keyed latest-wins dedup (online-store get_record semantics,
    // read_feature_store.ipynb; latest event per key).
    Query("p2_dedup_latest", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"), col("value").as("last_value"))
    },
      """SELECT user_id, event_type, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // P5 — string→timestamp cast round-trip + per-series sort index
    // (preprocess.py:31-38: feature-store strings parsed back to timestamps,
    // then position-indexed per series).
    Query("p5_cast_sort", Throughput, (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_parsed"), col("event_id"))
      ev(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("ts_parsed", to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("sort_idx", row_number().over(w))
        .select(col("event_id"), col("user_id"), col("ts_str"), col("sort_idx"))
    },
      """SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INTEGER) AS sort_idx
        |FROM events""".stripMargin),

    // P6 — typed→string casts at the sink edge (the reference stores every
    // feature ValueAsString, delivery_stream_to_featurestore/main.py:54-62).
    Query("p6_value_as_string", Throughput, (s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        col("event_id").cast("string").as("id_str"),
        col("user_id").cast("string").as("user_str"),
        format_string("%.4f", col("value")).as("value_str"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str")),
      """SELECT event_id,
        |  CAST(event_id AS VARCHAR) AS id_str,
        |  CAST(user_id AS VARCHAR) AS user_str,
        |  printf('%.4f', value) AS value_str,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM events""".stripMargin),

    // P9 — per-column profile of a wide table (the admission check a
    // pipeline runs on every new 100 TB partition): exact row/null/
    // distinct counts + typed min/max bounds, one column-pruned
    // aggregation per column (the union costs ~one full-width scan of
    // IO; each branch's exchange carries a handful of rows). Exact
    // distinct is the test-scale contract; approx_count_distinct (o11
    // HLL) is the same-shaped 100 TB drop-in.
    Query("p9_profile", Throughput, (s, dir) =>
      graft.ops.Profile.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")),
      {
      def branch(c: String, mn: String, mx: String): String =
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct, $mn AS min_s, $mx AS max_s
           |FROM lineitem""".stripMargin
      Seq(
        branch("l_orderkey", "CAST(MIN(l_orderkey) AS VARCHAR)", "CAST(MAX(l_orderkey) AS VARCHAR)"),
        branch("l_linenumber", "CAST(MIN(l_linenumber) AS VARCHAR)", "CAST(MAX(l_linenumber) AS VARCHAR)"),
        branch("l_quantity", "printf('%.4f', MIN(l_quantity))", "printf('%.4f', MAX(l_quantity))"),
        branch("l_extendedprice", "printf('%.4f', MIN(l_extendedprice))", "printf('%.4f', MAX(l_extendedprice))"),
        branch("l_returnflag", "MIN(l_returnflag)", "MAX(l_returnflag)"),
        branch("l_shipdate",
          "strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S')")
      ).mkString("\nUNION ALL\n")
    }),

    // P10 — schema-drift-tolerant union: rows written BEFORE a schema
    // evolution (here: a documents snapshot lacking lang/source) union'd
    // with post-evolution rows by NAME, absent columns null-filled —
    // `unionByName(allowMissingColumns = true)`, the declarative form of
    // the reference's everything-is-a-string tolerance
    // (ref: resources/lambdas/delivery_stream_to_featurestore/main.py:55-61)
    // and the direct lesson of the r9 testdata re-land: input schemas DO
    // change under a running engine. Positional UNION would silently pair
    // wrong columns; by-name is order-independent and at 100 TB costs
    // nothing (a per-file projection, no shuffle).
    Query("p10_schema_drift", Throughput, (s, dir) => {
      val d = docs(s, dir)
      val preEvolution = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val current = d.filter(col("doc_id") % 2 =!= 0)
      preEvolution.unionByName(current, allowMissingColumns = true)
        .groupBy(coalesce(col("source"), lit("<pre-schema>")).as("source"),
          coalesce(col("lang"), lit("??")).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    },
      // One UNION ALL branch per profiled column, each the same exact
      // counts + typed min/max render as ops/Profile.
      // By-name union with null-fill for the pre-evolution snapshot.
      """WITH u AS (
        |  SELECT doc_id, text, n_chars, NULL AS lang, NULL AS source
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, n_chars, lang, source
        |  FROM documents WHERE doc_id % 2 <> 0)
        |SELECT coalesce(source, '<pre-schema>') AS source,
        |  coalesce(lang, '??') AS lang,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM u GROUP BY 1, 2""".stripMargin),

    // P12 — CSV round-trip ingest: the aggregate written as header-CSV and
    // read back under an EXPLICIT schema — the reference's own batch IO
    // boundary (Athena serves query results as CSV into preprocess,
    // ref: pipelines/blockchain/preprocess.py:77-87; evaluate.py:52-58
    // reads the targets CSV the same way). The gate is lossless typed
    // re-parse: Spark writes doubles in shortest round-trip form, so the
    // re-read relation must hash-match the directly-computed aggregate —
    // the oracle is exactly a1's, never seeing the CSV.
    Query("p12_csv_roundtrip", Throughput, (s, dir) => {
      val work = scratch("p12csv")
      MinuteAggregate(ev(s, dir), "ts", "value")
        .write.mode("overwrite").option("header", "true").csv(s"$work/csv")
      s.read
        .schema("tx_minute STRING, total_nb_trx_1min BIGINT, " +
          "total_fee_1min DOUBLE, avg_fee_1min DOUBLE")
        .option("header", "true")
        .csv(s"$work/csv")
    },
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin),

    // P18 — fixed-width (columnar-text) ingest: the mainframe/legacy-feed
    // format beside CSV (p12), ORC (p14), XML (p16), JSON (p15) — no
    // delimiters, widths ARE the schema. Write renders padded lines
    // (format_string) with a raise_error guard on over-width values (a
    // silent truncation would corrupt the NEXT column — fail the write,
    // not the reader); read slices by position + trim + cast under the
    // same width contract. Integer-only payload so the round trip is
    // exact; the oracle is the plain aggregate, blind to the text hop.
    Query("p18_fixed_width", Throughput, (s, dir) => {
      val work = scratch("p18fw")
      val guarded = when(length(col("event_type")) > 8,
          raise_error(concat(lit("fixed-width overflow: "), col("event_type"))))
        .otherwise(col("event_type"))
      ev(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(format_string("%-10s%-8s%12d", col("day"), guarded, col("n"))
          .as("value"))
        .write.mode("overwrite").text(s"$work/fw")
      s.read.text(s"$work/fw").select(
        trim(substring(col("value"), 1, 10)).as("day"),
        trim(substring(col("value"), 11, 8)).as("event_type"),
        substring(col("value"), 19, 12).cast("long").as("n"))
    },
      // Blind to the fixed-width text hop, like every p* format oracle.
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),

    // P19 — multiLine JSON ARRAY ingest: the API-dump shape (one document,
    // `[ {...}, {...} ]`) that line-delimited JSON readers (p13/p15's
    // path) cannot parse — Spark's multiLine mode reads the whole file as
    // one document and explodes the array. The fixture is BUILT driver-
    // side by necessity (a JSON array is a single document with one
    // writer; the 150-row aggregate is metadata-sized), with rows
    // deliberately pretty-printed across lines so a line-oriented reader
    // would see garbage. Oracle = the plain aggregate, blind to the hop.
    Query("p19_multiline_json", Throughput, (s, dir) => {
      import s.implicits._
      val work = scratch("p19ml")
      val rows = ev(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(to_json(struct(col("day"), col("event_type"), col("n"))))
        .as[String].collect().sorted
      val doc = rows.map(r => "  " + r.replace(",", ",\n   "))
        .mkString("[\n", ",\n", "\n]\n")
      val p = java.nio.file.Paths.get(s"$work/arr")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve("dump.json"), doc)
      s.read.option("multiLine", "true")
        .schema("day STRING, event_type STRING, n BIGINT")
        .json(p.toString)
    },
      // identical to a1's oracle: the CSV hop must be invisible
      // Blind to the JSON-array hop, like every p* format oracle.
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),

    // P14 — ORC round-trip ingest: p12's format gate for the second
    // columnar format Spark ships natively. ORC is typed (unlike CSV's
    // text hop) so the gate pins the format bridge itself — logical types,
    // nullability, column order — rather than parse fidelity; the oracle
    // is again a1's, blind to the hop.
    Query("p14_orc_roundtrip", Throughput, (s, dir) => {
      val work = scratch("p14orc")
      MinuteAggregate(ev(s, dir), "ts", "value")
        .write.mode("overwrite").orc(s"$work/orc")
      s.read.orc(s"$work/orc")
    },
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin),

    // P16 — XML round-trip ingest: the third text-format gate (CSV p12,
    // JSON p15). Spark 4 ships the XML data source natively; the gate pins
    // element-per-row encode/decode with an explicit schema (schema
    // inference over 100 TB of XML would be its own full scan) and Java's
    // shortest-round-trip double rendering through the text hop. Oracle is
    // a1's, blind to the hop.
    Query("p16_xml_roundtrip", Throughput, (s, dir) => {
      val work = scratch("p16xml")
      MinuteAggregate(ev(s, dir), "ts", "value")
        .write.mode("overwrite").option("rowTag", "minute")
        .format("xml").save(s"$work/xml")
      s.read
        .schema("tx_minute STRING, total_nb_trx_1min BIGINT, " +
          "total_fee_1min DOUBLE, avg_fee_1min DOUBLE")
        .option("rowTag", "minute")
        .format("xml").load(s"$work/xml")
    },
      // identical to a1's oracle: the XML hop must be invisible
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS tx_minute,
        |  COUNT(*) AS total_nb_trx_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_fee_1min,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value) AS avg_fee_1min
        |FROM events GROUP BY 1""".stripMargin),

    // P17 — parquet schema EVOLUTION: a table whose later batches grew a
    // column, read back with mergeSchema — early files surface the new
    // column as NULL (never a default, never an error). The contract every
    // long-lived 100 TB table depends on (the keyed store already
    // mergeSchema-reads for its tombstone flag; this gates the ingestion
    // surface directly). mergeSchema's cost is footer-reads per file — at
    // scale you bound it by partition-dir, not by skipping it and
    // resurrecting the o31 bug. The census aggregate pins both the NULL
    // fill and that the new column's values survive per-batch.
    Query("p17_schema_merge", Throughput, (s, dir) => {
      val work = scratch("p17sm")
      val e = ev(s, dir)
      val dom = dayofmonth(col("ts"))
      e.filter(dom <= 15).select(col("event_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$work/t/batch=1")
      e.filter(dom > 15).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$work/t/batch=2")
      s.read.option("mergeSchema", "true").parquet(s"$work/t")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("value")).as("n_with_value"),
          Exact.sumD(col("value"), 4).as("sum_value"))
    },
      // The merged read ≡ a conditional projection of the source: value
      // exists only where the batch-2 writer ran (day > 15).
      """SELECT event_type, COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (WHERE extract(day FROM ts) > 15) AS n_with_value,
        |  CAST(SUM(CAST(value AS DECIMAL(30,4)))
        |         FILTER (WHERE extract(day FROM ts) > 15) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin),

    // P15 — PERMISSIVE JSON ingest with corrupt-record ACCOUNTING (p1
    // parses the happy path; real scraped feeds carry truncated payloads
    // and the pipeline must count, not crash): every event_id ≡ 0 (mod 7)
    // props is truncated by one char (always drops the closing brace →
    // unparseable), from_json maps malformed to null — the engine-side
    // equivalent of the reference's tolerate-and-type-on-read ingestion —
    // and the gate pins the per-type malformed census plus the sum over
    // surviving payloads. Oracle replays the truncation and gates
    // validity with DuckDB's json_valid. Row-local: no shuffle beyond the
    // final narrow census aggregate.
    Query("p15_json_permissive", Throughput, (s, dir) => {
      val raw = when(col("event_id") % 7 === 0,
        expr("substring(props, 1, length(props) - 1)")).otherwise(col("props"))
      ev(s, dir).select(col("event_type"), raw.as("raw"))
        .withColumn("k",
          from_json(col("raw"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("k").isNull, 1)).as("n_malformed"),
          sum(col("k")).as("sum_k_valid"))
    },
      // identical to a1's oracle: the ORC hop must be invisible
      // the same deterministic truncation, validity via json_valid; a
      // truncated object always loses its closing brace, so malformed ≡
      // event_id % 7 = 0 — but the oracle derives it from the JSON, not
      // the id, to keep the parse semantics the thing under test
      """WITH r AS (SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 1)
        |         ELSE props END AS raw
        |  FROM events),
        |p AS (SELECT event_type,
        |        CASE WHEN json_valid(raw)
        |             THEN CAST(json_extract(raw, '$.k') AS BIGINT) END AS k
        |      FROM r)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (WHERE k IS NULL) AS n_malformed,
        |  CAST(SUM(k) AS BIGINT) AS sum_k_valid
        |FROM p GROUP BY 1""".stripMargin),

    // P11 — corrupt-record-tolerant JSON ingest: every 13th rendered event
    // line is deterministically corrupted AT THE FRONT (a doubled opening
    // brace fails the parse before any token — end-truncation would let
    // Jackson salvage leading fields, making "which fields leak" parser-
    // version-dependent), then read back under PERMISSIVE mode with an
    // explicit corrupt-record column — malformed lines must land whole in
    // the quarantine column with every data field null, never abort the
    // read and never contaminate the aggregate. The reference parses its
    // envelopes defensively for the same reason
    // (ref: resources/lambdas/stream_processing/main.py:31-46); the oracle
    // recomputes the expected good/corrupt split relationally from events,
    // so a PERMISSIVE regression (dropped rows, partial parses) mismatches.
    Query("p11_corrupt_ingest", Throughput, (s, dir) => {
      val work = scratch("p11")
      ev(s, dir)
        .select(to_json(struct(col("event_id"), col("value"))).as("line"),
          col("event_id"))
        .select(when(pmod(col("event_id"), lit(13)) === 0,
            concat(lit("{"), col("line")))
          .otherwise(col("line")).as("value"))
        .write.mode("overwrite").text(s"$work/data")
      val parsed = s.read
        .schema("event_id LONG, value DOUBLE, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(s"$work/data")
      parsed.agg(
        count(when(col("_corrupt").isNull, lit(1))).as("n_good"),
        count(col("_corrupt")).as("n_corrupt"),
        count(when(col("_corrupt").isNotNull && col("value").isNotNull, lit(1)))
          .as("n_partial_leak"),
        Exact.fmt(sum(when(col("_corrupt").isNull, col("value"))
          .cast("decimal(30,4)")).cast("double"), 4).as("sum_good_r"))
    },
      // Expected good/corrupt split recomputed relationally: corrupt = the
      // deterministic truncation set, partial leaks must be zero.
      """SELECT COUNT(*) FILTER (WHERE event_id % 13 <> 0) AS n_good,
        |  COUNT(*) FILTER (WHERE event_id % 13 = 0) AS n_corrupt,
        |  CAST(0 AS BIGINT) AS n_partial_leak,
        |  printf('%.4f', CAST(SUM(CASE WHEN event_id % 13 <> 0
        |    THEN CAST(value AS DECIMAL(30,4)) END) AS DOUBLE)) AS sum_good_r
        |FROM events""".stripMargin),

    // P7 — NaN encoding for model input (utils.py:124-125).
    Query("p7_nan_encode", Throughput, (s, dir) =>
      ev(s, dir).select(col("event_id"),
        when(col("value").isNull || isnan(col("value")), lit("NaN"))
          .otherwise(format_string("%.2f", col("value"))).as("target_enc")),
      """SELECT event_id,
        |  CASE WHEN value IS NULL OR isnan(value) THEN 'NaN'
        |       ELSE printf('%.2f', value) END AS target_enc
        |FROM events""".stripMargin),

    // P8/S2 — the producer's ≤ maxBytes envelope batcher under oracle: txs
    // rendered at FIXED width (so the greedy packing reduces to exact
    // arithmetic the oracle can mirror: 7 txs/envelope at these constants),
    // every 50th event oversize and discarded (lib.js:136-143). The real
    // EnvelopeBatcher.split runs per user on executors; the oracle
    // recomputes counts from the packing arithmetic.
    Query("p8_envelope_batcher", Throughput, (s, dir) => {
      import s.implicits._
      val txs = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(50)) === 0,
          // fixed oversize width 212 > maxBytes - overhead → always dropped
          concat(lit("{\"pad\":\""), lpad(lit("x"), 200, "x"), lit("\"}")))
          .otherwise(format_string("{\"fee\":\"%05d\"}",
            pmod(col("event_id"), lit(10000)))).as("tx"))
      // per-user collect_list is bounded by events-per-user (the reference
      // batches per Lambda invocation, i.e. per poll — a few hundred txs);
      // an unbounded-fanout producer would need the two-pass running-sum
      // packing of ops/Packing.scala instead
      txs.groupBy(col("user_id")).agg(collect_list(col("tx")).as("txs"))
        .as[(Long, Seq[String])]
        .map { case (uid, ts) =>
          val (batches, dropped) =
            graft.streaming.EnvelopeBatcher.split("[", "]", ts, maxBytes = 128)
          (uid, ts.length.toLong, batches.length.toLong,
            dropped.length.toLong, batches.map(_.length).sum.toLong)
        }
        .toDF("user_id", "n_txs", "n_envelopes", "n_dropped", "n_packed")
    },
      // Packing arithmetic: overhead 2 ("[" + "]"), tx width 15, separator 1
      // → after k txs an envelope holds 16k+1 bytes; 16·7+1 = 113 ≤ 128 <
      // 129 → 7 txs per envelope. Oversize txs (event_id % 50 = 0) never
      // enter an envelope.
      """SELECT user_id,
        |  COUNT(*) AS n_txs,
        |  CAST(CEIL((COUNT(*) FILTER (WHERE event_id % 50 <> 0)) / 7.0) AS BIGINT) AS n_envelopes,
        |  COUNT(*) FILTER (WHERE event_id % 50 = 0) AS n_dropped,
        |  COUNT(*) FILTER (WHERE event_id % 50 <> 0) AS n_packed
        |FROM events GROUP BY 1""".stripMargin)
  )
}
