package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Strings

/** Fourth battery: format roundtrips (CSV/JSON/ORC — the reference's
  * flink-csv / flink-json / flink-orc format factories) and the scalar
  * gap fills (PARSE_URL, OVERLAY, SIMILAR TO, IS_ALPHA/IS_DIGIT/
  * IS_DECIMAL, SHA2 family, UUID, CONVERT_TZ, TEMPORAL_OVERLAPS,
  * APPROX_COUNT_DISTINCT — SqlFunctionUtils.java:62,
  * BuiltInFunctionDefinitions.java).
  *
  * Format queries write the parquet table out in the target format and
  * read it back, so the driver's oracle (plain SELECT on the parquet
  * table) verifies the whole encode→decode cycle value-exactly.
  */
object Functions3 extends QueryModule {

  private def roundtripDir(fmt: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_rt_${fmt}_${math.abs(dir.hashCode)}"

  def declared: Seq[Query] = Seq(
    // ---- CSV format roundtrip — flink-formats/flink-csv ---------------
    Query("q57_csv_roundtrip", "SELECT * FROM nation") { (s, dir) =>
      val n = Tables.load(s, dir, "nation")
      val out = roundtripDir("csv", dir)
      n.write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").schema(n.schema).csv(out)
    },

    // ---- JSON format roundtrip — flink-formats/flink-json -------------
    Query("q58_json_roundtrip", "SELECT * FROM supplier") { (s, dir) =>
      val su = Tables.load(s, dir, "supplier")
      val out = roundtripDir("json", dir)
      su.write.mode("overwrite").json(out)
      s.read.schema(su.schema).json(out)
    },

    // ---- ORC format roundtrip — flink-formats/flink-orc ---------------
    Query("q59_orc_roundtrip", "SELECT * FROM region") { (s, dir) =>
      val r = Tables.load(s, dir, "region")
      val out = roundtripDir("orc", dir)
      r.write.mode("overwrite").orc(out)
      s.read.schema(r.schema).orc(out)
    },

    // ---- Parquet WRITE path roundtrip ----------------------------------
    // The write side of the filesystem connector (the reference's
    // FileSystemTableSink with parquet format): timestamps, decimals-
    // as-doubles, strings, and nulls all survive encode→decode
    // value-exactly against the oracle's read of the ORIGINAL file.
    Query("q67_parquet_roundtrip", "SELECT * FROM orders") { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val out = roundtripDir("parquet", dir)
      o.write.mode("overwrite").parquet(out)
      s.read.schema(o.schema).parquet(out)
    },

    // ---- Avro format roundtrip — flink-formats/flink-avro --------------
    // No spark-avro DataSource in the sandbox; graft.sources.Avro
    // implements the container format on Avro core (same approach as
    // the reference's own row↔record converters). Timestamps ride the
    // timestamp-micros logical type; the oracle reads the ORIGINAL
    // table, so the hash match proves write→read value fidelity.
    Query("q68_avro_roundtrip", "SELECT * FROM orders") { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val out = roundtripDir("avro", dir)
      graft.sources.Avro.write(o, out)
      graft.sources.Avro.read(s, out)
    },

    // ---- Avro NESTED types: array + struct through the converter ------
    // (reference: AvroRowDataSerializationSchema's nested-row branch).
    // The oracle reads the ORIGINAL table, so the hash match proves
    // array elements and struct fields survive the record roundtrip.
    // The array is serialized to JSON text for the comparison because
    // the driver's pandas comparator cannot sort array-typed cells —
    // to_json preserves element boundaries, so it is as strong a check.
    Query("q73_avro_nested",
      "SELECT doc_id, CAST(to_json(string_split(text, ' ')) AS VARCHAR) AS tokens_json, lang, n_chars FROM documents") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          split(col("text"), " ").as("tokens"),
          struct(col("lang"), col("n_chars")).as("info"))
      val out = roundtripDir("avro_nested", dir)
      graft.sources.Avro.write(d, out)
      graft.sources.Avro.read(s, out)
        .select(col("doc_id"), to_json(col("tokens")).as("tokens_json"),
          col("info.lang").as("lang"), col("info.n_chars").as("n_chars"))
    },

    // ---- TIME(p) through the formats (r15 directive #1) ----------------
    // The reference serializes TIME as ISO text in CSV/JSON
    // (RowDataToCsvConverters / RowDataToJsonConverters TIME branches)
    // and as Avro time-millis/micros logical types
    // (AvroSchemaConverter). Spark's CSV/JSON datasources reject
    // TimeType outright (recorded in BASELINE.md), so the text
    // formats go through sources.TimeFormats (same text-on-the-wire
    // contract); Avro gained the logical-type legs natively in
    // sources.Avro. The oracle derives the same TIME values from the
    // ORIGINAL parquet, so the hash match proves each encode→decode
    // cycle value-exact — TIME(6) exercises micros, TIME(0)/TIME(3)
    // the truncating precisions.
    // DuckDB's TIMESTAMP is wall-clock (NTZ), so CAST(ts AS TIME) is the
    // same UTC time of day cast_time derives under the UTC session —
    // the q90-proven pattern. date_trunc pins the truncating precisions.
    Query("q92_csv_time_roundtrip",
      """SELECT event_id, event_type,
        |  CAST(ts AS TIME) AS tod_us,
        |  CAST(date_trunc('second', ts) AS TIME) AS tod_s
        |FROM events""".stripMargin) { (s, dir) =>
      graft.functions.functions.register(s)
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          expr("cast_time(ts, 6)").as("tod_us"),
          expr("cast_time(ts, 0)").as("tod_s"))
      val out = roundtripDir("csvtime", dir)
      graft.sources.TimeFormats.writeCsv(e, out)
      graft.sources.TimeFormats.readCsv(s, out, e.schema)
    },
    Query("q93_json_time_roundtrip",
      """SELECT event_id, value,
        |  CAST(ts AS TIME) AS tod_us,
        |  CAST(date_trunc('second', ts) AS TIME) AS tod_s
        |FROM events""".stripMargin) { (s, dir) =>
      graft.functions.functions.register(s)
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("value"),
          expr("cast_time(ts, 6)").as("tod_us"),
          expr("cast_time(ts, 0)").as("tod_s"))
      val out = roundtripDir("jsontime", dir)
      graft.sources.TimeFormats.writeJson(e, out)
      graft.sources.TimeFormats.readJson(s, out, e.schema)
    },
    Query("q94_avro_time_roundtrip",
      """SELECT event_id,
        |  CAST(ts AS TIME) AS tod_us,
        |  CAST(date_trunc('millisecond', ts) AS TIME) AS tod_ms
        |FROM events""".stripMargin) { (s, dir) =>
      graft.functions.functions.register(s)
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"),
          expr("cast_time(ts, 6)").as("tod_us"),
          expr("cast_time(ts, 3)").as("tod_ms"))
      val out = roundtripDir("avrotime", dir)
      graft.sources.Avro.write(e, out)
      graft.sources.Avro.read(s, out)
    },

    // ---- TIME(p) through ORC (r16 directive #3) -------------------------
    // The reference's ORC bridge writes TIME as an int column of
    // millis-of-day (flink-orc RowDataVectorizer.java:120); Spark's ORC
    // datasource rejects TimeType (BASELINE.md), so TimeFormats
    // applies the same numeric wire around it — INT millis for p<=3
    // (reference-compatible bytes), BIGINT micros for p>3 (the Avro
    // time-micros extension). Encode/decode are codegen'd cast chains;
    // the oracle derives the same values from the ORIGINAL parquet.
    Query("q96_orc_time_roundtrip",
      """SELECT event_id, event_type,
        |  CAST(ts AS TIME) AS tod_us,
        |  CAST(date_trunc('millisecond', ts) AS TIME) AS tod_ms,
        |  CAST(date_trunc('second', ts) AS TIME) AS tod_s
        |FROM events""".stripMargin) { (s, dir) =>
      graft.functions.functions.register(s)
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          expr("cast_time(ts, 6)").as("tod_us"),
          expr("cast_time(ts, 3)").as("tod_ms"),
          expr("cast_time(ts, 0)").as("tod_s"))
      val out = roundtripDir("orctime", dir)
      graft.sources.TimeFormats.writeOrc(e, out)
      graft.sources.TimeFormats.readOrc(s, out, e.schema)
    },

    // ---- Compressed CSV roundtrip — flink-formats compress factory ----
    // (reference: flink-formats/.../CompressWriterFactory + the
    // filesystem connector's gzip auto-detection on read). Spark's
    // codec option covers write; read auto-detects by extension.
    Query("q76_csv_gzip_roundtrip", "SELECT * FROM customer") { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val out = roundtripDir("csvgz", dir)
      c.write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(out)
      s.read.option("header", "true").schema(c.schema).csv(out)
    },

    // ---- Raw (single-column) format — flink-formats/flink-raw ---------
    // (RawFormatFactory: a topic/file of bare values ↔ one STRING/BYTES
    // column). Spark's `text` source is the same shape: write each
    // document's text as one line, read back as a bare `value` column.
    // Line-safety: documents are single-line by construction (verified
    // in the oracle by the identical SELECT).
    Query("q77_raw_text_roundtrip", "SELECT text FROM documents") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val out = roundtripDir("rawtext", dir)
      d.select(col("text")).write.mode("overwrite").text(out)
      s.read.text(out).select(col("value").as("text"))
    },

    // ---- Hadoop SequenceFile roundtrip — flink sequence-file format ---
    // (reference: flink-formats/flink-sequence-file). No DataFrame
    // source exists for SequenceFiles; this is one of the rare
    // legitimate RDD seams (per-partition imperative I/O over a legacy
    // key-value container). Text-in/Text-out, then straight back to a
    // DataFrame; the oracle reads the original table.
    Query("q78_sequence_file_roundtrip", "SELECT doc_id, text FROM documents") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val out = roundtripDir("seqfile", dir)
      val path = new org.apache.hadoop.fs.Path(out)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
      d.select(col("doc_id").cast("string"), col("text"))
        .rdd.map(r => (r.getString(0), r.getString(1)))
        .saveAsSequenceFile(out)
      import s.implicits._
      s.sparkContext.sequenceFile[String, String](out)
        .toDF("k", "text")
        .select(col("k").cast("bigint").as("doc_id"), col("text"))
    },

    // ---- Flink DDL workflow under the oracle gate ----------------------
    // The reference user's CREATE TABLE ... WITH / INSERT INTO text,
    // end-to-end: define a source over the supplier parquet, INSERT a
    // projection into a filesystem sink table (json format), read the
    // sink back through its registered view. The oracle recomputes the
    // projection straight from the original table, so the hash match
    // proves the whole DDL parse → write → re-register → read cycle.
    Query("q79_ddl_workflow",
      """SELECT s_suppkey, s_name,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM supplier WHERE s_nationkey < 13""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      val sink = roundtripDir("ddlsink", dir)
      env.executeSql(
        s"""CREATE TABLE ddl_supplier (
           |  s_suppkey BIGINT,
           |  s_name STRING,
           |  s_nationkey BIGINT,
           |  s_acctbal DOUBLE
           |) WITH (
           |  'connector' = 'filesystem',
           |  'path' = '$dir/supplier.parquet',
           |  'format' = 'parquet'
           |)""".stripMargin)
      env.executeSql(
        s"""CREATE TABLE ddl_sink (
           |  s_suppkey BIGINT,
           |  s_name STRING,
           |  bal_cents BIGINT
           |) WITH (
           |  'connector' = 'filesystem',
           |  'path' = '$sink',
           |  'format' = 'json'
           |)""".stripMargin)
      env.executeSql(
        """INSERT OVERWRITE ddl_sink
          |SELECT s_suppkey, s_name,
          |       CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
          |FROM ddl_supplier WHERE s_nationkey < 13""".stripMargin)
      env.executeSql("SELECT s_suppkey, s_name, bal_cents FROM ddl_sink")
    },

    // ---- Protobuf format roundtrip — flink-formats/flink-protobuf -----
    // (ProtoToRowConverter.java:53 / RowToProtoConverter.java). No
    // protobuf runtime exists on the sandbox classpath, so
    // graft.sources.Proto implements the PUBLIC wire format directly
    // (varint/zigzag/fixed/length-delimited/packed/map-entries; spec
    // byte vectors verified in ProtoSpec). Encode each orders row into
    // a message exercising int64, string, double, bool, zigzag sint32,
    // repeated string, and map<string,int64>; decode back and emit
    // scalars. The oracle recomputes the same values from the ORIGINAL
    // table, so the hash match proves the whole binary roundtrip.
    Query("q75_proto_roundtrip",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(o_totalprice AS DOUBLE) AS price,
        |  (o_orderpriority = '1-URGENT') AS urgent,
        |  CAST(o_orderkey % 7 - 3 AS INT) AS koff,
        |  len(string_split(o_orderpriority, '-')) AS n_words,
        |  string_split(o_orderpriority, '-')[1] AS first_word,
        |  o_custkey
        |FROM orders""".stripMargin) { (s, dir) =>
      import graft.functions.proto._
      import graft.sources.Proto._
      val msg = PbMessage(Seq(
        PbField(1, "okey", PbInt64),
        PbField(2, "status", PbString),
        PbField(3, "price", PbDouble),
        PbField(4, "urgent", PbBool),
        PbField(5, "koff", PbSInt32),
        PbField(6, "words", PbRepeated(PbString)),
        PbField(7, "attrs", PbMap(PbString, PbInt64))))
      val o = Tables.load(s, dir, "orders")
      o.select(protoEncode(struct(
          col("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double"),
          (col("o_orderpriority") === "1-URGENT").as("urgent"),
          (col("o_orderkey") % 7 - 3).cast("int").as("koff"),
          split(col("o_orderpriority"), "-").as("words"),
          map(lit("ck"), col("o_custkey")).as("attrs")), msg).as("pb"))
        .select(protoDecode(col("pb"), msg).as("m"))
        .select(col("m.okey").as("o_orderkey"),
          col("m.status").as("o_orderstatus"),
          col("m.price").as("price"),
          col("m.urgent").as("urgent"),
          col("m.koff").as("koff"),
          size(col("m.words")).cast("long").as("n_words"),
          element_at(col("m.words"), 1).as("first_word"),
          element_at(col("m.attrs"), "ck").as("o_custkey"))
    },

    // ---- CDC changelog decode — flink-json debezium format -------------
    // Debezium envelopes are CONSTRUCTED from orders (insert / update /
    // delete by key mod 3), decoded by graft.sources.CdcFormats into
    // +I/-U/+U/-D changelog rows, and aggregated per kind; the oracle
    // recomputes the expected changelog directly from the base table,
    // so envelope construction AND decode are both under the gate.
    // Scale: from_json + explode is a map-side projection — the only
    // Exchange is the final 4-group aggregate.
    Query("q82_cdc_decode",
      """WITH base AS (
        |  SELECT o_orderkey AS okey, o_totalprice AS price,
        |    o_orderkey % 3 AS m
        |  FROM orders
        |), r AS (
        |  SELECT '+I' AS row_kind, okey, price FROM base WHERE m = 0
        |  UNION ALL SELECT '-U', okey, price FROM base WHERE m = 1
        |  UNION ALL SELECT '+U', okey, price * 1.1 FROM base WHERE m = 1
        |  UNION ALL SELECT '-D', okey, price FROM base WHERE m = 2
        |)
        |SELECT row_kind, count(*) AS n,
        |  CAST(sum(okey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(price AS DECIMAL(22,6))) AS DOUBLE) AS sum_price
        |FROM r GROUP BY row_kind""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val rowS = StructType(Seq(
        StructField("okey", LongType), StructField("price", DoubleType)))
      val o = Tables.load(s, dir, "orders")
      val payload = struct(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"))
      val bumped = struct(col("o_orderkey").as("okey"),
        (col("o_totalprice") * 1.1).as("price"))
      val nullRow = lit(null).cast(rowS)
      val env = when(col("o_orderkey") % 3 === 0,
          to_json(struct(nullRow.as("before"), payload.as("after"),
            lit("c").as("op"))))
        .when(col("o_orderkey") % 3 === 1,
          to_json(struct(payload.as("before"), bumped.as("after"),
            lit("u").as("op"))))
        .otherwise(
          to_json(struct(payload.as("before"), nullRow.as("after"),
            lit("d").as("op"))))
      graft.sources.CdcFormats
        .fromDebeziumJson(o.select(env.as("env")), col("env"), rowS)
        .groupBy(col("row_kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("okey")).as("sum_key"),
          sum(col("price").cast(DecimalType(22, 6))).cast("double")
            .as("sum_price"))
    },

    // ---- CDC end-to-end: debezium → changelog → retract-aware agg ------
    // The reference's canonical CDC consumption path
    // (DebeziumJsonDeserializationSchema → ChangelogNormalize →
    // GroupAggFunction): a per-key envelope LIFECYCLE (insert; odd keys
    // update price×1.1; keys ≡0 mod 5 delete, with `before` carrying
    // the latest visible value as a real CDC source would) is decoded
    // into +I/-U/+U/-D rows, then aggregated retract-aware — each kind
    // contributes its sign (+I/+U accumulate, -U/-D retract), exactly
    // GroupAggFunction's accumulate/retract protocol, so the result IS
    // the post-changelog state. The oracle replays the lifecycle
    // directly from orders, so envelope construction, decode, AND the
    // retraction arithmetic are all under the gate. Scale: decode is a
    // map-side projection; the single Exchange is the 7-bucket agg with
    // map-side partial sums. The streaming form of the same path
    // (changelogNormalize + out-of-order -U/+U) is CdcPipelineSpec.
    Query("q84_cdc_pipeline",
      """WITH base AS (
        |  SELECT o_orderkey AS okey, o_totalprice AS price,
        |    o_orderkey % 2 AS odd, o_orderkey % 5 AS five
        |  FROM orders
        |), r AS (
        |  SELECT okey, price, 1 AS sign FROM base
        |  UNION ALL SELECT okey, price, -1 FROM base WHERE odd = 1
        |  UNION ALL SELECT okey, price * 1.1, 1 FROM base WHERE odd = 1
        |  UNION ALL SELECT okey,
        |    CASE WHEN odd = 1 THEN price * 1.1 ELSE price END, -1
        |  FROM base WHERE five = 0
        |)
        |SELECT okey % 7 AS bucket, CAST(sum(sign) AS BIGINT) AS n_alive,
        |  CAST(sum(CAST(price * sign AS DECIMAL(22,6))) AS DOUBLE) AS sum_price
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val rowS = StructType(Seq(
        StructField("okey", LongType), StructField("price", DoubleType)))
      val o = Tables.load(s, dir, "orders")
      val payload = struct(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"))
      val bumped = struct(col("o_orderkey").as("okey"),
        (col("o_totalprice") * 1.1).as("price"))
      val nullRow = lit(null).cast(rowS)
      val creates = o.select(to_json(struct(
        nullRow.as("before"), payload.as("after"), lit("c").as("op"))).as("env"))
      val updates = o.filter(col("o_orderkey") % 2 === 1)
        .select(to_json(struct(
          payload.as("before"), bumped.as("after"), lit("u").as("op"))).as("env"))
      val deletes = o.filter(col("o_orderkey") % 5 === 0)
        .select(to_json(struct(
          when(col("o_orderkey") % 2 === 1, bumped).otherwise(payload).as("before"),
          nullRow.as("after"), lit("d").as("op"))).as("env"))
      val changelog = graft.sources.CdcFormats.fromDebeziumJson(
        creates.unionAll(updates).unionAll(deletes), col("env"), rowS)
      val sign = when(col("row_kind").isin("+I", "+U"), 1).otherwise(-1)
      changelog
        .groupBy((col("okey") % 7).as("bucket"))
        .agg(sum(sign).as("n_alive"),
          sum((col("price") * sign).cast(DecimalType(22, 6))).cast("double")
            .as("sum_price"))
    },

    // ---- PARSE_URL — SqlFunctionUtils parse_url ------------------------
    Query("q60_url_functions",
      """SELECT p_partkey,
        |  'shop.example.com' AS host,
        |  '/part/' || p_partkey AS path,
        |  'brand=' || replace(p_brand, '#', '-') || '&sz=' || p_size AS query,
        |  replace(p_brand, '#', '-') AS brand_param,
        |  'https' AS proto
        |FROM part""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      val url = concat(lit("https://shop.example.com/part/"),
        col("p_partkey").cast("string"),
        lit("?brand="), replace(col("p_brand"), lit("#"), lit("-")),
        lit("&sz="), col("p_size").cast("string"))
      p.select(
        col("p_partkey"),
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY")).as("query"),
        parse_url(url, lit("QUERY"), lit("brand")).as("brand_param"),
        parse_url(url, lit("PROTOCOL")).as("proto"))
    },

    // ---- OVERLAY + SIMILAR TO + IS_* predicates ------------------------
    Query("q61_string_predicates",
      """SELECT p_partkey,
        |  substr(p_brand, 1, 1) || 'XY' || substr(p_brand, 4) AS brand_ov,
        |  regexp_matches(p_type, '^.*BRUSHED.*$') AS is_brushed,
        |  regexp_matches(p_brand, '^Brand#..$') AS brand_2d,
        |  regexp_matches(p_name, '^[A-Za-z]+$') AS name_alpha,
        |  regexp_matches(regexp_extract(p_name, '^([A-Za-z]+)', 1),
        |                 '^[A-Za-z]+$') AS name_word_alpha,
        |  regexp_matches(regexp_extract(p_brand, '(\d+)', 1), '^[0-9]+$')
        |    AS brand_num_digit,
        |  regexp_matches(CAST(p_retailprice AS VARCHAR),
        |    '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$') AS price_decimal,
        |  regexp_matches(p_type,
        |    '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$') AS type_decimal
        |FROM part""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      p.select(
        col("p_partkey"),
        overlay(col("p_brand"), lit("XY"), lit(2)).as("brand_ov"),
        Strings.similarTo(col("p_type"), "%BRUSHED%").as("is_brushed"),
        Strings.similarTo(col("p_brand"), "Brand#__").as("brand_2d"),
        Strings.isAlpha(col("p_name")).as("name_alpha"),
        Strings.isAlpha(regexp_extract(col("p_name"), "^([A-Za-z]+)", 1))
          .as("name_word_alpha"),
        Strings.isDigit(regexp_extract(col("p_brand"), "(\\d+)", 1)).as("brand_num_digit"),
        Strings.isDecimal(col("p_retailprice").cast("string")).as("price_decimal"),
        Strings.isDecimal(col("p_type")).as("type_decimal"))
    },

    // ---- SHA2 family, UUID shape, CONVERT_TZ, TEMPORAL_OVERLAPS --------
    Query("q62_hash_tz",
      """SELECT event_id,
        |  md5(event_type) AS type_md5,
        |  sha256(event_type) AS type_sha256,
        |  true AS sha224_ok, true AS sha384_ok, true AS sha512_ok,
        |  true AS uuid_ok,
        |  CAST(ts + INTERVAL 5 HOUR AS TIMESTAMP) AS ts_plus5,
        |  (LEAST(ts, ts + INTERVAL 30 MINUTE)
        |     <= GREATEST(date_trunc('hour', ts), date_trunc('hour', ts) + INTERVAL 45 MINUTE)
        |   AND LEAST(date_trunc('hour', ts), date_trunc('hour', ts) + INTERVAL 45 MINUTE)
        |     <= GREATEST(ts, ts + INTERVAL 30 MINUTE)) AS overlaps_hour_head
        |FROM events""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val ts = col("ts")
      p62(e, ts)
    },

    // ---- Values (inline relation) — SURVEY §2.2 Values -----------------
    // The reference's LogicalValues/BatchExecValues: a table from
    // literal rows, through the SQL-text path.
    // ---- r19 BuiltInFunctionDefinitions coverage sweep ------------------
    // The last reference builtins with no exercised graft path:
    // TO_BASE64/FROM_BASE64 (SqlFunctionUtils.toBase64:1172 — dialect
    // SQL functions over Spark's same-codec base64/unbase64),
    // TO_TIMESTAMP_LTZ (DateTimeUtils.toTimestampData:330 — p=0
    // seconds / p=3 millis, ToTimestampLtz expression), FROM_UNIXTIME
    // and IFNULL (same-named same-semantics Spark builtins). INITCAP
    // and TYPEOF are spec-gated instead (DuckDB lacks initcap and
    // renders its own type text). Rendering goes through explicit
    // date_format patterns on both sides so the hash compares VALUES,
    // not engine-default timestamp formatting.
    // base64 legs via DuckDB's blob codec (same java.util.Base64
    // alphabet); timestamp legs re-derived from epoch micros with
    // explicit strftime patterns (%g = millis), so both engines render
    // through pinned formats — the session is UTC on both sides.
    Query("q99_misc_functions",
      """SELECT c_custkey,
        |  to_base64(CAST(c_mktsegment AS BLOB)) AS b64,
        |  decode(from_base64(to_base64(CAST(c_name AS BLOB)))) AS name_rt,
        |  strftime(make_timestamp(c_custkey * 1000 * 1000000), '%Y-%m-%d %H:%M:%S') AS futime,
        |  strftime(make_timestamp(c_custkey * 1000 * 1000000), '%Y-%m-%d %H:%M:%S') AS ts0,
        |  strftime(make_timestamp(c_custkey * 86400123 * 1000), '%Y-%m-%d %H:%M:%S.%g') AS ts3,
        |  ifnull(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS ifn,
        |  strftime(make_timestamp(c_custkey * 1000 * 1000000), '%Y-%m-%d %H:%M:%S') AS ts_parse,
        |  strftime(make_timestamp(c_custkey * 1000 * 1000000), '%Y-%m-%d') AS d_parse,
        |  c_name AS enc_rt
        |FROM customer""".stripMargin) { (s, dir) =>
      graft.functions.functions.register(s)
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          expr("to_base64(c_mktsegment)").as("b64"),
          expr("from_base64(to_base64(c_name))").as("name_rt"),
          expr("from_unixtime(c_custkey * 1000)").as("futime"),
          expr("date_format(to_timestamp_ltz(c_custkey * 1000, 0), 'yyyy-MM-dd HH:mm:ss')").as("ts0"),
          expr("date_format(to_timestamp_ltz(c_custkey * 86400123, 3), 'yyyy-MM-dd HH:mm:ss.SSS')").as("ts3"),
          expr("ifnull(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT')").as("ifn"),
          // TO_TIMESTAMP/TO_DATE string parsing and the ENCODE/DECODE
          // charset pair — same-named Spark builtins, exercised
          expr("date_format(to_timestamp(from_unixtime(c_custkey * 1000)), 'yyyy-MM-dd HH:mm:ss')").as("ts_parse"),
          expr("CAST(to_date(from_unixtime(c_custkey * 1000)) AS STRING)").as("d_parse"),
          expr("decode(encode(c_name, 'UTF-8'), 'UTF-8')").as("enc_rt"))
    },

    Query("q65_values",
      """SELECT id, name, CAST(price AS DOUBLE) AS price,
        |       CAST(price * 2 AS DOUBLE) AS doubled
        |FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 0.0))
        |  t(id, name, price)
        |WHERE id <= 3""".stripMargin) { (s, _) => s.sql(
      """SELECT id, name, CAST(price AS DOUBLE) AS price,
        |       CAST(price * 2 AS DOUBLE) AS doubled
        |FROM VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 0.0)
        |  AS t(id, name, price)
        |WHERE id <= 3""".stripMargin) },

    // ---- APPROX_COUNT_DISTINCT — HyperLogLogPlusPlus.java:26 -----------
    // Sketch values differ across engines by construction; the gate
    // checks the reference's contract instead: estimate within 5% of
    // exact (HLL++ default rsd is 5%), alongside exact counts DuckDB
    // verifies value-exactly.
    Query("q63_approx_distinct",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(*) AS n_rows,
        |  true AS acd_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
             count(lit(1)).as("n_rows"),
             (abs(approx_count_distinct(col("l_partkey")).cast("double") -
                  countDistinct(col("l_partkey")).cast("double")) /
              countDistinct(col("l_partkey")).cast("double") < 0.05).as("acd_ok"))
    }
  )

  private def p62(e: DataFrame, ts: org.apache.spark.sql.Column): DataFrame =
    e.select(
      col("event_id"),
      md5(col("event_type").cast("binary")).as("type_md5"),
      sha2(col("event_type").cast("binary"), 256).as("type_sha256"),
      (length(sha2(col("event_type").cast("binary"), 224)) === 56).as("sha224_ok"),
      (length(sha2(col("event_type").cast("binary"), 384)) === 96).as("sha384_ok"),
      (length(sha2(col("event_type").cast("binary"), 512)) === 128).as("sha512_ok"),
      // UUID is nondeterministic by definition — verify the v4 shape
      expr("uuid()").rlike(
        "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")
        .as("uuid_ok"),
      from_utc_timestamp(ts, "+05:00").as("ts_plus5"),
      Strings.temporalOverlaps(ts, ts + expr("INTERVAL 30 MINUTES"),
        date_trunc("hour", ts), date_trunc("hour", ts) + expr("INTERVAL 45 MINUTES"))
        .as("overlaps_hour_head"))
}
