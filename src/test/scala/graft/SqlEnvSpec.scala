package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.{PlanFiles, SqlEnv}
import graft.streaming.StatefulOps

/** The user-facing SQL surface: a reference user's `executeSql`
  * workflow ported 1:1 (SURVEY.md §3.1).
  */
class SqlEnvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("executeSql over registered testdata with graft functions") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    // plain SQL query
    val top = env.executeSql(
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |GROUP BY o_orderpriority ORDER BY n DESC LIMIT 2""".stripMargin).collect()
    assert(top.length == 2 && top(0).getLong(1) >= top(1).getLong(1))

    // graft custom functions usable from SQL text
    val sims = env.executeSql(
      """SELECT doc_id, simhash(split(text, ' ')) AS sh,
        |       size(minhash(split(text, ' '), 32)) AS k
        |FROM documents LIMIT 5""".stripMargin).collect()
    assert(sims.forall(_.getInt(2) == 32))

    // LATERAL VIEW (Correlate/UNNEST — SURVEY §2.2)
    val words = env.executeSql(
      """SELECT lang, w, count(*) AS n
        |FROM documents LATERAL VIEW explode(split(text, ' ')) t AS w
        |GROUP BY lang, w ORDER BY n DESC LIMIT 3""".stripMargin).collect()
    assert(words.nonEmpty)

    // registerTable + join against a derived view
    env.registerTable("big_orders",
      env.executeSql("SELECT * FROM orders WHERE o_totalprice > 100000"))
    val j = env.executeSql(
      """SELECT c_mktsegment, count(*) AS n FROM big_orders
        |JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""".stripMargin)
    assert(j.collect().nonEmpty)
  }

  test("round-4 functions usable from SQL text (token_hashes, kgram_hashes)") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val rows = env.executeSql(
      """SELECT doc_id,
        |  size(token_hashes(split(text, ' '))) AS n_tok_hashes,
        |  size(split(text, ' ')) AS n_toks,
        |  size(kgram_hashes(text, 8)) AS n_kgrams,
        |  length(text) AS n_chars
        |FROM documents LIMIT 20""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), "one base hash per token")
      // ASCII fixture text: kgram count = byte length − k + 1
      assert(r.getInt(3) == math.max(r.getInt(4) - 8 + 1, 0))
    }
    // the winnowing selection composes in pure SQL over kgram_hashes
    val fp = env.executeSql(
      """WITH kg AS (
        |  SELECT doc_id, posexplode(kgram_hashes(text, 8)) AS (pos, h)
        |  FROM documents WHERE doc_id < 5)
        |SELECT doc_id, count(*) AS n,
        |  count(DISTINCT h) AS n_distinct
        |FROM kg GROUP BY doc_id""".stripMargin).collect()
    assert(fp.nonEmpty && fp.forall(r => r.getLong(1) >= r.getLong(2)))
  }

  test("window TVFs through the SQL-text path (TUMBLE/HOP/SESSION analogs)") {
    // the reference's TUMBLE(...)/HOP(...) table functions map to
    // window()/session_window() in Spark SQL text — the same entry
    // point a migrating SQL user would hit.
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val tumble = env.executeSql(
      """SELECT window.start AS ws, count(*) AS n
        |FROM events GROUP BY window(ts, '1 hour')""".stripMargin).collect()
    assert(tumble.nonEmpty && tumble.forall(_.getLong(1) > 0))
    val hop = env.executeSql(
      """SELECT window.start AS ws, count(*) AS n
        |FROM events GROUP BY window(ts, '1 hour', '15 minutes')""".stripMargin).collect()
    assert(hop.length > tumble.length) // 4 slides per hour
    val sess = env.executeSql(
      """SELECT session_window.start AS ss, user_id, count(*) AS n
        |FROM events GROUP BY session_window(ts, '30 minutes'), user_id""".stripMargin).collect()
    assert(sess.nonEmpty)
  }

  test("Flink window-TVF TEXT (TUMBLE/HOP/CUMULATE(TABLE, DESCRIPTOR...)) matches DataFrame form") {
    import org.apache.spark.sql.functions._
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val events = spark.table("events")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
        .sortBy(identity).toSeq

    // TUMBLE — the reference's exact SQL shape (parserImpls.ftl)
    val tumbleSql = env.executeSql(
      """SELECT window_start, count(*) AS n
        |FROM TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)
        |GROUP BY window_start""".stripMargin)
    val tumbleDf = events
      .withColumn("window", graft.streaming.Windows.tumble(col("ts"), "3600 seconds"))
      .groupBy(col("window.start").as("window_start")).agg(count(lit(1)).as("n"))
    assert(canon(tumbleSql) == canon(tumbleDf))

    // HOP — Flink arg order (slide, size)
    val hopSql = env.executeSql(
      """SELECT window_start, count(*) AS n
        |FROM HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTE, INTERVAL '1' HOUR)
        |GROUP BY window_start""".stripMargin)
    val hopDf = events
      .withColumn("window", graft.streaming.Windows.hop(col("ts"), "3600 seconds", "900 seconds"))
      .groupBy(col("window.start").as("window_start")).agg(count(lit(1)).as("n"))
    assert(canon(hopSql) == canon(hopDf))

    // CUMULATE — expanding windows, (step, maxSize)
    val cumSql = env.executeSql(
      """SELECT window_end, count(*) AS n
        |FROM CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTE, INTERVAL '1' HOUR)
        |GROUP BY window_end""".stripMargin)
    val cumDf = graft.streaming.Windows.cumulate(events, col("ts"), 900L, 3600L)
      .groupBy(col("window.end").as("window_end")).agg(count(lit(1)).as("n"))
    assert(canon(cumSql) == canon(cumDf))

    // window_time is the event-time attribute: window_end − 1ms
    val wt = env.executeSql(
      """SELECT window_start, window_end, window_time
        |FROM TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR) LIMIT 5""".stripMargin)
      .collect()
    assert(wt.forall(r => r.getTimestamp(2).getTime == r.getTimestamp(1).getTime - 1))
  }

  test("MATCH_RECOGNIZE SQL text compiles onto Cep.matchPattern (funnel + quantifier + skip)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.Cep
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)

    val viaSql = env.executeSql(
      """SELECT user_id, signup_id, purchase_id, n_purch, match_start_ts
        |FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES FIRST(a.event_id) AS signup_id,
        |           LAST(b.event_id) AS purchase_id,
        |           COUNT(b.*) AS n_purch
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (a b+)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE a AS a.event_type = 'signup',
        |         b AS b.event_type = 'purchase'
        |) AS mr
        |ORDER BY user_id, signup_id""".stripMargin).collect()

    def is(k: String) = (r: org.apache.spark.sql.Row) =>
      r.getString(r.fieldIndex("event_type")) == k
    val viaApi = Cep.matchPattern(
      spark.table("events"), "user_id", "ts", "event_id",
      Seq(Cep.Step.once("a", is("signup")), Cep.Step.oneOrMore("b", is("purchase"))),
      withinSec = 3600L)
      .select(col("user_id"), col("a_first_id").as("signup_id"),
        col("b_last_id").as("purchase_id"),
        col("b_count").cast("long").as("n_purch"), col("match_start_ts"))
      .orderBy("user_id", "signup_id").collect()

    assert(viaSql.nonEmpty, "expected at least one funnel match in testdata")
    assert(viaSql.toSeq == viaApi.toSeq)

    // SKIP TO NEXT ROW finds overlapping matches — must be ≥ the default
    val overlapping = env.executeSql(
      """SELECT user_id FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES FIRST(a.event_id) AS aid
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (a b+) WITHIN INTERVAL '1' HOUR
        |  DEFINE a AS a.event_type = 'signup', b AS b.event_type = 'purchase'
        |)""".stripMargin).count()
    assert(overlapping >= viaSql.length)

    // an undefined pattern variable matches any row (SQL default)
    val anyRow = env.executeSql(
      """SELECT user_id FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(z.*) AS nz
        |  PATTERN (a z) WITHIN INTERVAL '1' HOUR
        |  DEFINE a AS a.event_type = 'signup'
        |)""".stripMargin).count()
    assert(anyRow > 0)
  }

  test("MATCH_RECOGNIZE SQL text on a STREAMING table compiles onto the watermark NFA") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val env = SqlEnv(spark)
    val in = MemoryStream[(java.sql.Timestamp, String, String, Long)]
    in.toDF().toDF("ts", "user", "tpe", "eid")
      .withWatermark("ts", "1 minute")
      .createOrReplaceTempView("stream_events")
    val out = env.executeSql(
      """SELECT user, aid FROM stream_events MATCH_RECOGNIZE (
        |  PARTITION BY user ORDER BY ts
        |  MEASURES FIRST(a.eid) AS aid
        |  PATTERN (a b) WITHIN INTERVAL '5' MINUTE
        |  DEFINE a AS a.tpe = 'A', b AS b.tpe = 'B'
        |)""".stripMargin)
    assert(out.isStreaming, "streaming input must compile to a streaming plan")
    val q = out.writeStream.format("memory").queryName("mr_stream")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), "u1", "A", 1L),
                 (ts("2024-01-01 00:00:30"), "u1", "B", 2L))
      q.processAllAvailable()
      // decidable only after the watermark passes anchor + within
      in.addData((ts("2024-01-01 00:20:00"), "u1", "X", 3L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:30:00"), "u1", "X", 4L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, aid FROM mr_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toList
      assert(rows == List(("u1", 1L)))
    } finally q.stop()
  }

  test("CREATE TABLE ... WITH + INSERT INTO: the reference user's DDL workflow") {
    val env = SqlEnv(spark)
    val sinkDir = s"${System.getProperty("java.io.tmpdir")}/graft_ddl_sink_${System.nanoTime()}"

    // 1. source table over existing parquet, Flink DDL text verbatim
    env.executeSql(
      s"""CREATE TABLE nation_src (
         |  n_nationkey BIGINT,
         |  n_name STRING,
         |  n_regionkey BIGINT,
         |  n_comment STRING
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${TestSpark.sfDir}/nation.parquet',
         |  'format' = 'parquet'
         |)""".stripMargin)
    assert(env.executeSql("SELECT count(*) AS n FROM nation_src").head().getLong(0) == 25)

    // 2. sink table (path does not exist yet → lazy), INSERT INTO, read back
    env.executeSql(
      s"""CREATE TABLE nation_sink (
         |  n_name STRING,
         |  key_sum BIGINT
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$sinkDir',
         |  'format' = 'csv'
         |)""".stripMargin)
    env.executeSql(
      """INSERT INTO nation_sink
        |SELECT n_name, n_nationkey + n_regionkey AS key_sum
        |FROM nation_src WHERE n_regionkey = 1""".stripMargin)
    val back = env.executeSql(
      "SELECT n_name, key_sum FROM nation_sink ORDER BY n_name").collect()
    val direct = env.executeSql(
      """SELECT n_name, n_nationkey + n_regionkey AS key_sum
        |FROM nation_src WHERE n_regionkey = 1 ORDER BY n_name""".stripMargin).collect()
    assert(back.nonEmpty && back.toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      direct.toSeq.map(r => (r.getString(0), r.getLong(1))))

    // 3. datagen connector (bounded, sequence field)
    env.executeSql(
      """CREATE TABLE gen (
        |  id BIGINT,
        |  tag STRING
        |) WITH (
        |  'connector' = 'datagen',
        |  'number-of-rows' = '7',
        |  'fields.id.kind' = 'sequence',
        |  'fields.id.start' = '100'
        |)""".stripMargin)
    val gen = env.executeSql("SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM gen").head()
    assert(gen.getLong(0) == 100 && gen.getLong(1) == 106 && gen.getLong(2) == 7)

    // 3b. unbounded datagen ('rows-per-second') registers a STREAMING view
    env.executeSql(
      """CREATE TABLE gen_stream (
        |  id BIGINT
        |) WITH (
        |  'connector' = 'datagen',
        |  'rows-per-second' = '5',
        |  'fields.id.kind' = 'sequence'
        |)""".stripMargin)
    assert(spark.table("gen_stream").isStreaming)

    // 4. blackhole sink accepts INSERT
    env.executeSql(
      """CREATE TABLE sink_null (x BIGINT) WITH ('connector' = 'blackhole')""")
    env.executeSql("INSERT INTO sink_null SELECT n_nationkey FROM nation_src")

    // 5. complex types + watermark + primary key parse
    val d = graft.sql.Ddl.parseCreateTable(
      """CREATE TABLE t (
        |  id BIGINT NOT NULL,
        |  amounts ARRAY<DECIMAL(10, 2)>,
        |  attrs MAP<STRING, INT>,
        |  info ROW<a INT, b STRING>,
        |  ts TIMESTAMP(3),
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        |  PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'filesystem', 'path' = '/x', 'format' = 'parquet')""".stripMargin)
    import org.apache.spark.sql.types._
    assert(d.schema == StructType(Seq(
      StructField("id", LongType), StructField("amounts", ArrayType(DecimalType(10, 2))),
      StructField("attrs", MapType(StringType, IntegerType)),
      StructField("info", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("ts", TimestampType))))
    assert(d.watermark.contains(("ts", "5 seconds")) && d.primaryKey == Seq("id"))
  }

  test("CREATE TABLE with kafka / upsert-kafka / protobuf-format connectors") {
    // no spark-sql-kafka jar in the sandbox: inject a synthetic
    // kafka-schema stream through Ddl's source seam (same pattern as
    // FakeJdbc) — the DDL parse, option translation, format decode
    // wiring, and changelog normalization are all real.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val defaultSource = graft.sql.Ddl.kafkaRawSource
    graft.sql.Ddl.kafkaRawSource = (_, cfg) => {
      assert(cfg.bootstrapServers == "broker:9092" && cfg.topic.startsWith("t"))
      MemoryStream[(Array[Byte], Array[Byte], Long)].toDF()
        .toDF("key", "value", "offset")
    }
    try {
    val env = SqlEnv(spark)
    env.executeSql(
      """CREATE TABLE k_json (
        |  name STRING,
        |  score DOUBLE
        |) WITH (
        |  'connector' = 'kafka',
        |  'topic' = 't1',
        |  'properties.bootstrap.servers' = 'broker:9092',
        |  'scan.startup.mode' = 'earliest',
        |  'format' = 'json'
        |)""".stripMargin)
    val kj = spark.table("k_json")
    assert(kj.isStreaming)
    // the view carries the DECLARED schema, flattened — the reference's
    // produced row is physical columns in declaration order
    assert(kj.schema.fieldNames.toSeq == Seq("name", "score"))
    assert(kj.schema("name").dataType == StringType &&
      kj.schema("score").dataType == DoubleType)

    // upsert-kafka: tombstones become a normalized changelog keyed by
    // the PRIMARY KEY, which names a declared column decoded from the
    // record key (UpsertKafkaDynamicTableFactory derives key.fields
    // from the PK)
    env.executeSql(
      """CREATE TABLE k_upsert (
        |  k STRING,
        |  name STRING,
        |  score DOUBLE,
        |  PRIMARY KEY (k) NOT ENFORCED
        |) WITH (
        |  'connector' = 'upsert-kafka',
        |  'topic' = 't2',
        |  'properties.bootstrap.servers' = 'broker:9092',
        |  'format' = 'json'
        |)""".stripMargin)
    val ku = spark.table("k_upsert")
    assert(ku.isStreaming)
    assert(ku.schema.fieldNames.toSeq ==
      Seq(graft.streaming.Changelog.KindCol, "k", "name", "score"))

    // protobuf value format from a protoc descriptor-set file
    import graft.sources.Proto._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    val msgDesc = new GenericInternalRow(Array[Any](u("Ev"),
      new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](u("name"), 1, 1, 9, null)),
        new GenericInternalRow(Array[Any](u("n"), 2, 1, 3, null)))),
      new GenericArrayData(Array.empty[Any]), null))
    val file = new GenericInternalRow(Array[Any](u("ev.proto"), u("demo"),
      new GenericArrayData(Array[Any](msgDesc))))
    val setBytes = graft.sources.Proto.encodeInternal(
      new GenericInternalRow(Array[Any](new GenericArrayData(Array[Any](file)))),
      graft.sources.ProtoDescriptors.metaSchema)
    val descPath = java.nio.file.Files.createTempFile("graft_desc", ".bin")
    java.nio.file.Files.write(descPath, setBytes)
    env.executeSql(
      s"""CREATE TABLE k_proto (
         |  name STRING,
         |  n BIGINT
         |) WITH (
         |  'connector' = 'kafka',
         |  'topic' = 't3',
         |  'properties.bootstrap.servers' = 'broker:9092',
         |  'format' = 'protobuf',
         |  'protobuf.descriptor-file' = '$descPath',
         |  'protobuf.message-name' = 'Ev'
         |)""".stripMargin)
    val kp = spark.table("k_proto")
    assert(kp.isStreaming)
    assert(kp.schema.fieldNames.toSeq == Seq("name", "n"))
    assert(kp.schema("n").dataType == LongType)

    // debezium-json value format: the view IS a changelog stream
    env.executeSql(
      """CREATE TABLE k_dbz (
        |  id BIGINT,
        |  score DOUBLE
        |) WITH (
        |  'connector' = 'kafka',
        |  'topic' = 't4',
        |  'properties.bootstrap.servers' = 'broker:9092',
        |  'format' = 'debezium-json'
        |)""".stripMargin)
    val kd = spark.table("k_dbz")
    assert(kd.isStreaming)
    assert(kd.schema.fieldNames.toSeq ==
      Seq(graft.streaming.Changelog.KindCol, "id", "score"))

    // CDC formats are rejected on upsert-kafka, like the reference
    val err = intercept[IllegalArgumentException] {
      env.executeSql(
        """CREATE TABLE k_bad (
          |  id BIGINT,
          |  PRIMARY KEY (id) NOT ENFORCED
          |) WITH (
          |  'connector' = 'upsert-kafka',
          |  'topic' = 't5',
          |  'properties.bootstrap.servers' = 'broker:9092',
          |  'format' = 'canal-json'
          |)""".stripMargin)
    }
    assert(err.getMessage.contains("insert-only"))
    } finally graft.sql.Ddl.kafkaRawSource = defaultSource
  }

  test("FOR SYSTEM_TIME AS OF temporal join SQL text matches the as-of engine") {
    import org.apache.spark.sql.functions._
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    // versioned table: signup events as profile versions, declared with
    // Flink's preconditions (WATERMARK = version time, PK = key)
    val versions = spark.table("events")
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("v_user"), col("ts").as("valid_from"),
        col("value").as("profile_value"))
    val vDir = s"${System.getProperty("java.io.tmpdir")}/graft_tj_versions_${System.nanoTime()}"
    versions.write.parquet(vDir)
    env.executeSql(
      s"""CREATE TABLE profiles (
         |  v_user BIGINT,
         |  valid_from TIMESTAMP(3),
         |  profile_value DOUBLE,
         |  WATERMARK FOR valid_from AS valid_from - INTERVAL '5' SECOND,
         |  PRIMARY KEY (v_user) NOT ENFORCED
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$vDir',
         |  'format' = 'parquet'
         |)""".stripMargin)
    env.registerTable("purchases", spark.table("events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts")))

    val viaSql = env.executeSql(
      """SELECT f.user_id, f.event_id, f.valid_from, f.profile_value
        |FROM purchases f
        |JOIN profiles FOR SYSTEM_TIME AS OF f.ts AS d
        |  ON f.user_id = d.v_user
        |ORDER BY f.event_id""".stripMargin).collect()
    val viaApi = graft.streaming.StatefulOps.temporalJoinCoGrouped(
        spark.table("purchases"), "user_id", "ts",
        spark.read.parquet(vDir), "v_user", "valid_from")
      .select(col("user_id"), col("event_id"), col("valid_from"), col("profile_value"))
      .orderBy("event_id").collect()
    assert(viaSql.nonEmpty && viaSql.toSeq == viaApi.toSeq)

    // d.-qualified references survive (alias re-qualification)
    val withDim = env.executeSql(
      """SELECT f.user_id, d.profile_value
        |FROM purchases f
        |JOIN profiles FOR SYSTEM_TIME AS OF f.ts AS d
        |  ON d.v_user = f.user_id
        |WHERE d.profile_value IS NOT NULL LIMIT 5""".stripMargin).collect()
    assert(withDim.forall(!_.isNullAt(1)))
  }

  test("SQL-surface edges: no WITHIN, two MATCH_RECOGNIZE, TVF in subquery, VALUES insert") {
    import org.apache.spark.sql.functions._
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)

    // MATCH_RECOGNIZE without WITHIN → effectively unbounded window
    val noWithin = env.executeSql(
      """SELECT user_id FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(b.*) AS nb
        |  PATTERN (a b)
        |  DEFINE a AS a.event_type = 'signup', b AS b.event_type = 'purchase'
        |)""".stripMargin).count()
    assert(noWithin > 0)

    // two MATCH_RECOGNIZE clauses in one statement (recursive splice)
    val two = env.executeSql(
      """SELECT x.user_id FROM (
        |  SELECT user_id FROM events MATCH_RECOGNIZE (
        |    PARTITION BY user_id ORDER BY ts
        |    MEASURES COUNT(a.*) AS na
        |    PATTERN (a) WITHIN INTERVAL '1' HOUR
        |    DEFINE a AS a.event_type = 'signup')
        |) x JOIN (
        |  SELECT user_id FROM events MATCH_RECOGNIZE (
        |    PARTITION BY user_id ORDER BY ts
        |    MEASURES COUNT(p.*) AS np
        |    PATTERN (p) WITHIN INTERVAL '1' HOUR
        |    DEFINE p AS p.event_type = 'purchase')
        |) y ON x.user_id = y.user_id""".stripMargin).count()
    assert(two > 0)

    // window TVF inside a subquery
    val sub = env.executeSql(
      """SELECT max(n) AS mx FROM (
        |  SELECT window_start, count(*) AS n
        |  FROM TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)
        |  GROUP BY window_start)""".stripMargin).head().getLong(0)
    assert(sub > 0)

    // INSERT INTO a DDL table from VALUES
    val vDir = s"${System.getProperty("java.io.tmpdir")}/graft_ddl_vals_${System.nanoTime()}"
    env.executeSql(
      s"""CREATE TABLE vals_sink (a BIGINT, b STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '$vDir', 'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO vals_sink VALUES (1, 'x'), (2, 'y')")
    assert(env.executeSql("SELECT count(*) AS n FROM vals_sink").head().getLong(0) == 2)

    // CREATE TABLE IF NOT EXISTS parses and re-registers idempotently
    env.executeSql(
      s"""CREATE TABLE IF NOT EXISTS vals_sink (a BIGINT, b STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '$vDir', 'format' = 'parquet')""".stripMargin)
    assert(env.executeSql("SELECT count(*) AS n FROM vals_sink").head().getLong(0) == 2)
  }

  test("SQL-text TPC-H Q21: correlated EXISTS/NOT EXISTS decorrelates") {
    // The reference runs its standard-corpus batteries as SQL text;
    // prove the hardest subquery shape in ours — EXISTS + NOT EXISTS
    // with a correlated NON-equality conjunct (l2.l_suppkey <>
    // l1.l_suppkey) — plans through Catalyst's decorrelation and
    // agrees with the hand-decorrelated DataFrame form (h21).
    val dir = "/root/testdata/sf0.01" // sf0.001 has no NATION_2 waiters
    val env = graft.sql.SqlEnv(spark)
    Seq("lineitem", "orders", "supplier", "nation")
      .foreach(t => env.registerParquet(t, s"$dir/$t.parquet"))
    val sql = env.executeSql("""
      WITH lo AS (
        SELECT l_orderkey, l_suppkey, o_orderstatus,
               (l_shipdate > o_orderdate + INTERVAL 60 DAYS) AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
      SELECT s_name, count(*) AS numwait
      FROM supplier, lo l1, nation
      WHERE s_suppkey = l1.l_suppkey AND l1.o_orderstatus = 'F' AND l1.late
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lo l3
                        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.late)
        AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
      GROUP BY s_name""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val df = graft.queries.TpcH.queries("h21_suppliers_waiting")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sql == df && sql.nonEmpty)
  }

  test("TRANSFORM script operator (Hive-style, no-serde mode)") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val out = env.executeSql(
      """SELECT TRANSFORM(r_regionkey, r_name) USING 'cat' AS (k STRING, name STRING)
        |FROM region""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.map(_.getString(1)).toSet.nonEmpty)
  }

  test("legacy GROUP BY TUMBLE/HOP/SESSION text matches the DataFrame window forms") {
    import org.apache.spark.sql.functions._
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val events = spark.table("events")

    // TUMBLE + TUMBLE_START/TUMBLE_END/TUMBLE_ROWTIME
    val legacyTumble = env.executeSql(
      """SELECT event_type,
        |  TUMBLE_START(ts, INTERVAL '15' MINUTE) AS w_start,
        |  TUMBLE_END(ts, INTERVAL '15' MINUTE) AS w_end,
        |  TUMBLE_ROWTIME(ts, INTERVAL '15' MINUTE) AS w_rowtime,
        |  COUNT(1) AS n
        |FROM events
        |GROUP BY TUMBLE(ts, INTERVAL '15' MINUTE), event_type""".stripMargin)
    val dfTumble = events
      .groupBy(graft.streaming.Windows.tumble(col("ts"), "900 seconds").as("window"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        (col("window.end") - expr("INTERVAL 1 MILLISECOND")).as("w_rowtime"),
        col("n"))
    assert(legacyTumble.exceptAll(dfTumble).isEmpty &&
      dfTumble.exceptAll(legacyTumble).isEmpty)

    // HOP: Flink legacy arg order is (ts, slide, size)
    val legacyHop = env.executeSql(
      """SELECT HOP_START(ts, INTERVAL '15' MINUTE, INTERVAL '30' MINUTE) AS w_start,
        |  COUNT(1) AS n
        |FROM events
        |GROUP BY HOP(ts, INTERVAL '15' MINUTE, INTERVAL '30' MINUTE)""".stripMargin)
    val dfHop = events
      .groupBy(graft.streaming.Windows.hop(col("ts"), "1800 seconds", "900 seconds").as("window"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
    assert(legacyHop.exceptAll(dfHop).isEmpty && dfHop.exceptAll(legacyHop).isEmpty)

    // SESSION groups by session_window — struct column name differs
    val legacySession = env.executeSql(
      """SELECT user_id,
        |  SESSION_START(ts, INTERVAL '30' MINUTE) AS s_start,
        |  SESSION_END(ts, INTERVAL '30' MINUTE) AS s_end,
        |  COUNT(1) AS n
        |FROM events
        |GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id""".stripMargin)
    val dfSession = events
      .groupBy(session_window(col("ts"), "1800 seconds").as("session_window"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))
    assert(legacySession.exceptAll(dfSession).isEmpty &&
      dfSession.exceptAll(legacySession).isEmpty)
  }

  test("legacy SESSION with a dynamic CASE gap expression matches the DataFrame form") {
    import org.apache.spark.sql.functions._
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val events = spark.table("events")
    // The reference's SessionWindowTimeGapExtractor analog through SQL
    // text (r12 directive #4): the gap is a per-row CASE expression —
    // nested parens and interval literals the old regex rewrite could
    // not see. The auxiliaries repeat the assigner args like Flink's
    // legacy dialect requires.
    val legacyDyn = env.executeSql(
      """SELECT user_id,
        |  SESSION_START(ts, CASE WHEN event_type = 'purchase'
        |                         THEN INTERVAL '45' MINUTE
        |                         ELSE INTERVAL '15' MINUTE END) AS s_start,
        |  SESSION_END(ts, CASE WHEN event_type = 'purchase'
        |                       THEN INTERVAL '45' MINUTE
        |                       ELSE INTERVAL '15' MINUTE END) AS s_end,
        |  COUNT(1) AS n
        |FROM events
        |GROUP BY SESSION(ts, CASE WHEN event_type = 'purchase'
        |                          THEN INTERVAL '45' MINUTE
        |                          ELSE INTERVAL '15' MINUTE END), user_id""".stripMargin)
    val gap = when(col("event_type") === "purchase", lit("45 minutes"))
      .otherwise(lit("15 minutes"))
    val dfDyn = events
      .groupBy(session_window(col("ts"), gap).as("session_window"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))
    assert(legacyDyn.exceptAll(dfDyn).isEmpty && dfDyn.exceptAll(legacyDyn).isEmpty)
    // fixed-gap text still rewrites to the canonical '<n> seconds' form
    assert(env.rewriteLegacyGroupWindows(
      "GROUP BY SESSION(ts, INTERVAL '30' MINUTE), k")
      .contains("session_window(ts, '1800 seconds')"))
    // a string literal containing SESSION( must never be rewritten
    assert(env.rewriteLegacyGroupWindows("SELECT 'SESSION(x, y)' AS s")
      == "SELECT 'SESSION(x, y)' AS s")
  }

  test("legacy rewrite scanner: comments, quoted intervals, aux validation (r13 advice)") {
    val env = SqlEnv(spark)
    // 1. An apostrophe inside a `--` comment must not flip the string
    //    state and swallow the next legacy call.
    val withLineComment = env.rewriteLegacyGroupWindows(
      "SELECT k -- don't touch\nFROM t GROUP BY SESSION(ts, INTERVAL '30' MINUTE), k")
    assert(withLineComment.contains("session_window(ts, '1800 seconds')"),
      s"line comment broke the rewrite: $withLineComment")
    // 2. Same for nested /* */ block comments.
    val withBlockComment = env.rewriteLegacyGroupWindows(
      "SELECT k /* outer 'quote /* nested */ still comment */ " +
        "FROM t GROUP BY SESSION(ts, INTERVAL '30' MINUTE), k")
    assert(withBlockComment.contains("session_window(ts, '1800 seconds')"),
      s"block comment broke the rewrite: $withBlockComment")
    // 3. An INTERVAL-shaped substring inside a string literal within a
    //    dynamic gap expression must survive verbatim.
    val gapWithLiteral = env.rewriteLegacyGroupWindows(
      "GROUP BY SESSION(ts, CASE WHEN note = 'use INTERVAL ''45'' MINUTE here' " +
        "THEN INTERVAL '45' MINUTE ELSE INTERVAL '15' MINUTE END), k")
    assert(gapWithLiteral.contains("INTERVAL ''45'' MINUTE here"),
      s"string-literal interval was rewritten: $gapWithLiteral")
    assert(gapWithLiteral.contains("THEN '2700 seconds' ELSE '900 seconds' END"),
      s"real intervals not canonicalized: $gapWithLiteral")
    // 4. An auxiliary whose arguments disagree with the group clause must
    //    raise a clear error instead of silently mapping to the struct.
    val err = intercept[IllegalArgumentException] {
      env.rewriteLegacyGroupWindows(
        "SELECT SESSION_START(ts, INTERVAL '10' MINUTE) " +
          "FROM t GROUP BY SESSION(ts, INTERVAL '30' MINUTE), k")
    }
    assert(err.getMessage.contains("does not match any SESSION group"))
    // ...and a TUMBLE_START paired with a HOP group clause likewise.
    val err2 = intercept[IllegalArgumentException] {
      env.rewriteLegacyGroupWindows(
        "SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) FROM t " +
          "GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE), k")
    }
    assert(err2.getMessage.contains("does not match any TUMBLE group"))
    // Matching aux args (modulo whitespace/case) still rewrite fine.
    val ok = env.rewriteLegacyGroupWindows(
      "SELECT SESSION_START(ts,  interval '30' minute) AS s " +
        "FROM t GROUP BY SESSION(ts, INTERVAL '30' MINUTE), k")
    assert(ok.contains("session_window.start"))
    // 5. Dot-qualified time attribute (r15 advice): validation accepted
    //    TUMBLE(t.ts, ...) as a supported assigner but the final rewrite
    //    pass only matched bare columns, leaving the GROUP clause behind
    //    while its aux call was rewritten — an unresolved Spark error.
    //    window(t.ts, ...) is valid Spark SQL, so BOTH must rewrite.
    val dotted = env.rewriteLegacyGroupWindows(
      "SELECT TUMBLE_START(t.ts, INTERVAL '5' MINUTE) AS s " +
        "FROM events t GROUP BY TUMBLE(t.ts, INTERVAL '5' MINUTE), t.k")
    assert(dotted.contains("window(t.ts, '300 seconds')") &&
      dotted.contains("window.start"),
      s"dot-qualified assigner must rewrite both clauses: $dotted")
    // ...and it executes end-to-end against a real aliased table.
    val envD = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dottedRows = envD.executeSql(
      """SELECT TUMBLE_START(t.ts, INTERVAL '15' MINUTE) AS w_start, COUNT(1) AS n
        |FROM events t GROUP BY TUMBLE(t.ts, INTERVAL '15' MINUTE)""".stripMargin)
      .collect()
    assert(dottedRows.nonEmpty && dottedRows.forall(!_.isNullAt(0)))
  }

  test("computed and metadata columns in filesystem DDL") {
    val env = SqlEnv(spark)
    env.executeSql(
      s"""CREATE TABLE orders_cm (
         |  o_orderkey BIGINT,
         |  o_totalprice DOUBLE,
         |  o_orderdate TIMESTAMP(3),
         |  fname STRING METADATA FROM 'file.name' VIRTUAL,
         |  big AS o_totalprice > 100000,
         |  o_year AS year(o_orderdate)
         |) WITH ('connector' = 'filesystem',
         |        'path' = '${TestSpark.sfDir}/orders.parquet',
         |        'format' = 'parquet')""".stripMargin)
    val t = spark.table("orders_cm")
    // declared order: physical, metadata, computed — as written
    assert(t.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderdate", "fname", "big", "o_year"))
    val rows = env.executeSql(
      """SELECT count(*) AS n,
        |  sum(CASE WHEN big = (o_totalprice > 100000) THEN 0 ELSE 1 END) AS bad_big,
        |  sum(CASE WHEN o_year = year(o_orderdate) THEN 0 ELSE 1 END) AS bad_year,
        |  sum(CASE WHEN fname LIKE '%.parquet' THEN 0 ELSE 1 END) AS bad_file
        |FROM orders_cm""".stripMargin).collect().head
    assert(rows.getLong(0) > 0 && rows.getLong(1) == 0 &&
      rows.getLong(2) == 0 && rows.getLong(3) == 0)
  }

  test("kafka DDL with metadata columns, key fields, and computed columns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val defaultSource = graft.sql.Ddl.kafkaRawSource
    graft.sql.Ddl.kafkaRawSource = (_, _) => {
      MemoryStream[(Array[Byte], Array[Byte], Long)].toDF()
        .toDF("key", "value", "offset")
        .withColumn("topic", lit("t_meta"))
        .withColumn("partition", lit(3))
        .withColumn("timestamp", expr("timestamp_millis(1700000000000 + offset)"))
        .withColumn("timestampType", lit(0))
    }
    try {
      val env = SqlEnv(spark)
      env.executeSql(
        """CREATE TABLE k_meta (
          |  user_id STRING,
          |  score DOUBLE,
          |  part INT METADATA FROM 'partition' VIRTUAL,
          |  off BIGINT METADATA FROM 'offset' VIRTUAL,
          |  kts TIMESTAMP(3) METADATA FROM 'timestamp' VIRTUAL,
          |  high AS score > 0.5
          |) WITH (
          |  'connector' = 'kafka',
          |  'topic' = 't_meta',
          |  'properties.bootstrap.servers' = 'broker:9092',
          |  'scan.startup.mode' = 'earliest',
          |  'format' = 'json',
          |  'key.fields' = 'user_id'
          |)""".stripMargin)
      val t = spark.table("k_meta")
      assert(t.isStreaming)
      assert(t.schema.fieldNames.toSeq ==
        Seq("user_id", "score", "part", "off", "kts", "high"))
      import org.apache.spark.sql.types._
      assert(t.schema("part").dataType == IntegerType &&
        t.schema("off").dataType == LongType &&
        t.schema("kts").dataType == TimestampType &&
        t.schema("high").dataType == BooleanType)
    } finally graft.sql.Ddl.kafkaRawSource = defaultSource
  }

  test("SET / RESET map reference config keys onto session conf") {
    val env = SqlEnv(spark)
    val before = StatefulOps.DefaultTtlSec
    env.executeSql("SET 'table.exec.state.ttl' = '1 h'")
    assert(spark.conf.get("graft.exec.state.ttl") == "3600")
    assert(StatefulOps.DefaultTtlSec == 3600L)
    env.executeSql("SET 'table.exec.state.ttl' = '90000 ms'")
    assert(StatefulOps.DefaultTtlSec == 90L)
    env.executeSql("RESET 'table.exec.state.ttl'")
    assert(StatefulOps.DefaultTtlSec == before)
    // arbitrary custom key passes through verbatim
    env.executeSql("SET 'graft.test.custom' = 'abc'")
    assert(spark.conf.get("graft.test.custom") == "abc")
    // bare SET lists the configuration
    val listed = env.executeSql("SET")
    assert(listed.columns.toSeq == Seq("key", "value") && listed.count() > 0)
  }

  test("CREATE VIEW / DROP VIEW over graft SQL surfaces") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql(
      """CREATE TEMPORARY VIEW big_cust AS
        |SELECT o_custkey, sum(o_totalprice) AS total
        |FROM orders GROUP BY o_custkey HAVING total > 200000""".stripMargin)
    val n = env.executeSql("SELECT count(*) AS n FROM big_cust").collect().head.getLong(0)
    assert(n > 0)
    env.executeSql("DROP VIEW big_cust")
    intercept[Exception] { spark.table("big_cust").collect() }
  }

  test("EXECUTE STATEMENT SET runs multiple INSERTs against one env") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stmtset").toString
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql(
      s"""CREATE TABLE out_hi (k BIGINT, p DOUBLE) WITH (
         |'connector' = 'filesystem', 'path' = '$tmp/hi', 'format' = 'parquet')""".stripMargin)
    env.executeSql(
      s"""CREATE TABLE out_lo (k BIGINT, p DOUBLE) WITH (
         |'connector' = 'filesystem', 'path' = '$tmp/lo', 'format' = 'json')""".stripMargin)
    env.executeSql(
      """EXECUTE STATEMENT SET BEGIN
        |INSERT INTO out_hi SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000;
        |INSERT INTO out_lo SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice <= 150000;
        |END""".stripMargin)
    val hi = spark.table("out_hi").count()
    val lo = spark.table("out_lo").count()
    val all = spark.table("orders").count()
    assert(hi > 0 && lo > 0 && hi + lo == all)
    // non-INSERT statements are rejected, like the reference's parser
    val err = intercept[IllegalArgumentException] {
      env.executeSql("STATEMENT SET BEGIN SELECT 1; END")
    }
    assert(err.getMessage.contains("INSERT"))
  }

  test("INSERT with static partition spec writes only that partition") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_statpart").toString
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql(
      s"""CREATE TABLE part_sink (k BIGINT, p DOUBLE, dt STRING)
         |PARTITIONED BY (dt)
         |WITH ('connector' = 'filesystem', 'path' = '$tmp/t', 'format' = 'parquet')""".stripMargin)
    // static partition value is NOT in the SELECT list (RichSqlInsert)
    env.executeSql(
      """INSERT OVERWRITE part_sink PARTITION (dt = '2024-01-01')
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
    env.executeSql(
      """INSERT OVERWRITE part_sink PARTITION (dt = '2024-01-02')
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
    val t = spark.table("part_sink")
    val byDt = t.groupBy("dt").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byDt.keySet == Set("2024-01-01", "2024-01-02"))
    assert(byDt.values.sum == spark.table("orders").count())
    // second OVERWRITE of one partition must not clobber the other
    // (dynamic partition-overwrite, like the reference's sink)
    env.executeSql(
      """INSERT OVERWRITE part_sink PARTITION (dt = '2024-01-01')
        |SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_totalprice > 150000""".stripMargin)
    val after = spark.table("part_sink").groupBy("dt").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after("2024-01-02") == byDt("2024-01-02"), "untouched partition survives")
    assert(after("2024-01-01") < byDt("2024-01-01"))
    // unknown partition column is rejected
    val err = intercept[IllegalArgumentException] {
      env.executeSql("INSERT INTO part_sink PARTITION (nope = 'x') SELECT 1, 2.0")
    }
    assert(err.getMessage.contains("PARTITIONED BY"))
  }

  test("dynamic INSERT OVERWRITE replaces only the written partitions") {
    // filesystem.md:87: "When you insert overwrite to a partitioned
    // table, only the corresponding partition will be overwritten, not
    // the entire table" — that contract covers DYNAMIC partition values
    // too (FileSystemCommitter deletes just the committed partitions),
    // not only the static-spec form the previous test pins.
    val tmp = java.nio.file.Files.createTempDirectory("graft_dynpart").toString
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql(
      s"""CREATE TABLE dyn_sink (k BIGINT, p DOUBLE, dt STRING)
         |PARTITIONED BY (dt)
         |WITH ('connector' = 'filesystem', 'path' = '$tmp/t', 'format' = 'parquet')""".stripMargin)
    env.executeSql(
      """INSERT INTO dyn_sink
        |SELECT o_orderkey, o_totalprice,
        |       CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM orders""".stripMargin)
    val before = spark.table("dyn_sink").groupBy("dt").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(before.keySet == Set("a", "b"))
    // dynamic overwrite writing ONLY dt='a' rows: 'b' must survive
    env.executeSql(
      """INSERT OVERWRITE dyn_sink
        |SELECT o_orderkey, o_totalprice, 'a'
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice > 150000""".stripMargin)
    val after = spark.table("dyn_sink").groupBy("dt").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after("b") == before("b"), "untouched partition survives a dynamic overwrite")
    assert(after("a") < before("a"))
  }

  test("ignore-parse-errors skips malformed records (json/csv formats)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_badrows")
    val jsonDir = tmp.resolve("j"); java.nio.file.Files.createDirectory(jsonDir)
    java.nio.file.Files.writeString(jsonDir.resolve("part-0.json"),
      """{"id": 1, "name": "a"}
        |not json at all {{{
        |{"id": 2, "name": "b"}
        |""".stripMargin)
    val env = SqlEnv(spark)
    env.executeSql(
      s"""CREATE TABLE j_tolerant (id BIGINT, name STRING) WITH (
         |'connector' = 'filesystem', 'path' = '$jsonDir', 'format' = 'json',
         |'json.ignore-parse-errors' = 'true')""".stripMargin)
    // collect columns (a bare count() short-circuits parsing and would
    // count raw lines, malformed included)
    val jRows = spark.table("j_tolerant").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList.sorted
    assert(jRows == List((1L, "a"), (2L, "b")))

    val csvDir = tmp.resolve("c"); java.nio.file.Files.createDirectory(csvDir)
    java.nio.file.Files.writeString(csvDir.resolve("part-0.csv"),
      "1;a\nbroken_line_without_delims_and_extra;x;y;z\n2;b\n")
    env.executeSql(
      s"""CREATE TABLE c_tolerant (id BIGINT, name STRING) WITH (
         |'connector' = 'filesystem', 'path' = '$csvDir', 'format' = 'csv',
         |'csv.field-delimiter' = ';',
         |'csv.ignore-parse-errors' = 'true')""".stripMargin)
    val cRows = spark.table("c_tolerant").collect()
      .map(r => (r.getLong(0), r.getString(1))).toList.sorted
    assert(cRows == List((1L, "a"), (2L, "b")))
  }

  test("datagen DDL applies computed columns") {
    val env = SqlEnv(spark)
    env.executeSql(
      """CREATE TABLE gen_ts (
        |  id BIGINT,
        |  ts AS timestamp_millis(1700000000000 + id * 1000),
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        |) WITH ('connector' = 'datagen', 'number-of-rows' = '10',
        |        'fields.id.kind' = 'sequence', 'fields.id.start' = '0')""".stripMargin)
    val rows = spark.table("gen_ts").orderBy("id").collect()
    assert(rows.length == 10)
    assert(rows.head.getTimestamp(1).getTime == 1700000000000L)
    assert(rows.last.getTimestamp(1).getTime == 1700000009000L)
  }

  test("SHOW TABLES / SHOW VIEWS / SHOW FUNCTIONS / DESCRIBE / EXPLAIN") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql(
      """CREATE TABLE show_t (
        |  id BIGINT,
        |  ts TIMESTAMP(3),
        |  doubled AS id * 2,
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        |  PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'filesystem',
        |        'path' = '/tmp/graft_sql_show_t', 'format' = 'parquet')""".stripMargin)

    val tables = env.executeSql("SHOW TABLES").collect().map(_.getString(0))
    assert(tables.contains("show_t") && tables.contains("orders"))
    assert(env.executeSql("SHOW TABLES").columns.sameElements(Array("table name")))

    env.executeSql("CREATE VIEW show_v AS SELECT o_orderkey FROM orders")
    val views = env.executeSql("SHOW VIEWS").collect().map(_.getString(0))
    assert(views.contains("show_v"))

    val fns = env.executeSql("SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.contains("minhash") && fns.contains("simhash"))

    // Flink's six-column DESCRIBE shape with key/extras/watermark rows
    val desc = env.executeSql("DESCRIBE show_t")
    assert(desc.columns.sameElements(
      Array("name", "type", "null", "key", "extras", "watermark")))
    val byName = desc.collect().map(r => r.getString(0) -> r).toMap
    assert(byName("id").getString(3) == "PRI")
    assert(byName("doubled").getString(4).startsWith("AS "))
    assert(Option(byName("ts").getString(5)).exists(_.contains("INTERVAL")))

    val plan = env.executeSql(
      "EXPLAIN SELECT count(*) FROM orders WHERE o_totalprice > 0")
      .collect()(0).getString(0)
    assert(plan.contains("Physical Plan"))
    // EXPLAIN body goes through the graft rewrites too
    val plan2 = env.executeSql(
      """EXPLAIN SELECT window_start, count(*) AS n
        |FROM TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)
        |GROUP BY window_start""".stripMargin).collect()(0).getString(0)
    assert(plan2.contains("Physical Plan"))
  }

  test("SHOW VIEWS lists only CREATE VIEW objects, not registered base tables") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql("CREATE VIEW only_this_view AS SELECT o_orderkey FROM orders")
    val views = env.executeSql("SHOW VIEWS").collect().map(_.getString(0))
    assert(views.contains("only_this_view"))
    // base tables registered via registerTestdata are temp views in the
    // Spark catalog but must NOT appear in SHOW VIEWS (reference lists
    // only CREATE VIEW objects)
    assert(!views.contains("orders") && !views.contains("documents"))
    env.executeSql("DROP VIEW only_this_view")
    val after = env.executeSql("SHOW VIEWS").collect().map(_.getString(0))
    assert(!after.contains("only_this_view"))
  }

  test("SHOW CREATE TABLE roundtrips through the parser; SHOW COLUMNS ≡ DESCRIBE; USE/SHOW CATALOGS") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.executeSql(
      """CREATE TABLE sct_t (
        |  id BIGINT,
        |  price DECIMAL(10, 2),
        |  ts TIMESTAMP(3),
        |  doubled AS id * 2,
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        |  PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'filesystem',
        |        'path' = '/tmp/graft_sql_sct_t', 'format' = 'parquet')""".stripMargin)
    val ddl = env.executeSql("SHOW CREATE TABLE sct_t").collect()(0).getString(0)
    assert(ddl.contains("CREATE TABLE `sct_t`"))
    assert(ddl.contains("`id` BIGINT") && ddl.contains("`price` DECIMAL(10, 2)"))
    assert(ddl.contains("`doubled` AS id * 2"))
    assert(ddl.contains("WATERMARK FOR `ts` AS `ts` - INTERVAL '5' SECOND"))
    assert(ddl.contains("PRIMARY KEY (`id`) NOT ENFORCED"))
    assert(ddl.contains("'connector' = 'filesystem'"))
    // the emitted DDL must parse back to an equivalent table — the
    // reference's ShowCreateUtil contract (executable output)
    val env2 = SqlEnv(spark)
    env2.executeSql(ddl.replace("`sct_t`", "sct_t2").replace("'/tmp/graft_sql_sct_t'", "'/tmp/graft_sql_sct_t2'"))
    val d1 = env.executeSql("DESCRIBE sct_t").collect().map(_.toString).toSeq
    val d2 = env2.executeSql("DESCRIBE sct_t2").collect().map(_.toString).toSeq
    assert(d1 == d2)
    // SHOW COLUMNS shares DESCRIBE's six-column shape
    val sc1 = env.executeSql("SHOW COLUMNS FROM sct_t").collect().map(_.toString).toSeq
    assert(sc1 == d1)
    // catalog/database session surface. USE CATALOG validates against
    // the registry (round 17 — the reference's CatalogManager throws on
    // an unknown catalog), so register it first; inside a non-default
    // catalog the database surface is session-scoped free-form.
    assert(env.executeSql("SHOW CATALOGS").collect().map(_.getString(0)).toSeq ==
      Seq("default_catalog"))
    intercept[IllegalArgumentException] { env.executeSql("USE CATALOG other_cat") }
    env.executeSql("CREATE CATALOG other_cat WITH ('type' = 'generic_in_memory')")
    env.executeSql("USE CATALOG other_cat")
    env.executeSql("USE other_db")
    assert(env.executeSql("SHOW CATALOGS").collect().map(_.getString(0)).toSeq ==
      Seq("default_catalog", "other_cat"))
    assert(env.executeSql("SHOW DATABASES").collect().map(_.getString(0)).toSeq ==
      Seq("other_db"))
    assert(env.executeSql("SHOW CURRENT CATALOG").collect()(0).getString(0) ==
      "other_cat")
    assert(env.executeSql("SHOW CURRENT DATABASE").collect()(0).getString(0) ==
      "other_db")
  }

  test("ALTER TABLE RENAME/SET/RESET and CREATE TABLE LIKE") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = "/tmp/graft_sql_alter_t"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql(
      s"""CREATE TABLE alter_t (
         |  id BIGINT, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir',
         |        'format' = 'parquet', 'csv.ignore-parse-errors' = 'true')""".stripMargin)
    // SET merges, RESET drops, both visible through SHOW CREATE TABLE
    env.executeSql("ALTER TABLE alter_t SET ('format' = 'json', 'k2' = 'v2')")
    env.executeSql("ALTER TABLE alter_t RESET ('csv.ignore-parse-errors')")
    val ddl = env.executeSql("SHOW CREATE TABLE alter_t").collect()(0).getString(0)
    assert(ddl.contains("'format' = 'json'") && ddl.contains("'k2' = 'v2'"))
    assert(!ddl.contains("csv.ignore-parse-errors"))
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE alter_t RESET ('connector')")
    }
    // RENAME moves the registry entry (and the view, once materialized)
    env.executeSql("ALTER TABLE alter_t RENAME TO alter_t2")
    assert(env.executeSql("SHOW CREATE TABLE alter_t2").collect()(0)
      .getString(0).contains("CREATE TABLE `alter_t2`"))
    intercept[IllegalArgumentException] {
      env.executeSql("SHOW CREATE TABLE alter_t")
    }
    // LIKE: base schema/watermark carried over, new column appended,
    // new options override (FLIP-110 default merge)
    env.executeSql(
      """CREATE TABLE like_t (extra STRING)
        |WITH ('path' = '/tmp/graft_sql_like_t') LIKE alter_t2""".stripMargin)
    val likeDdl = env.executeSql("SHOW CREATE TABLE like_t").collect()(0).getString(0)
    assert(likeDdl.contains("`id` BIGINT") && likeDdl.contains("`extra` STRING"))
    assert(likeDdl.contains("WATERMARK FOR `ts`"))
    assert(likeDdl.contains("'path' = '/tmp/graft_sql_like_t'"))
    assert(likeDdl.contains("'format' = 'json'")) // inherited from base
    // EXCLUDING OPTIONS starts from the new WITH alone
    env.executeSql(
      """CREATE TABLE like_x (extra STRING)
        |WITH ('connector' = 'blackhole') LIKE alter_t2 (EXCLUDING OPTIONS)""".stripMargin)
    val xDdl = env.executeSql("SHOW CREATE TABLE like_x").collect()(0).getString(0)
    assert(xDdl.contains("'connector' = 'blackhole'") && !xDdl.contains("json"))
    // bare LIKE (no columns, no WITH) clones the definition
    env.executeSql("CREATE TABLE like_bare LIKE alter_t2")
    val bareDdl = env.executeSql("SHOW CREATE TABLE like_bare").collect()(0).getString(0)
    assert(bareDdl.contains("`id` BIGINT") && bareDdl.contains("'format' = 'json'"))
  }

  test("EXPLAIN only plans — INSERT body does not write, commands are rejected") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = "/tmp/graft_sql_explain_noexec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql(
      s"""CREATE TABLE explain_sink (k BIGINT, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    val plan = env.executeSql(
      """EXPLAIN INSERT INTO explain_sink
        |SELECT o_orderkey AS k, count(*) AS n FROM orders
        |GROUP BY o_orderkey""".stripMargin).collect()(0).getString(0)
    // the SOURCE query is planned...
    assert(plan.contains("Physical Plan"))
    // ...but the sink write did NOT happen (reference's EXPLAIN [PLAN
    // FOR] only calls the planner; Ddl.executeInsert would have
    // materialized the parquet directory)
    assert(!new java.io.File(dir).exists() ||
      new java.io.File(dir).listFiles().forall(_.getName.startsWith("_")))
    // command statements are rejected, and crucially not executed
    intercept[IllegalArgumentException] {
      env.executeSql("EXPLAIN SET 'graft.explain.should.not.set' = 'x'")
    }
    assert(spark.conf.getOption("graft.explain.should.not.set").isEmpty)
    intercept[IllegalArgumentException] {
      env.executeSql("EXPLAIN CREATE VIEW explain_v AS SELECT 1")
    }
    intercept[IllegalArgumentException] {
      env.executeSql("EXPLAIN SHOW TABLES")
    }
  }

  test("TIME(p) columns: DDL mapping, literals, ordering, SHOW CREATE roundtrip") {
    import org.apache.spark.sql.types.TimeType
    // Flink TIME(p) → Spark 4.1 native TimeType (r14: closes the
    // int-millis-of-day narrowing). Seed a parquet with TIME values
    // through SQL, declare it with Flink DDL, and exercise the surface.
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, TIME'06:30:00'), (2L, TIME'12:00:01.250'), (3L, TIME'23:59:59')
        |  AS v(id, t)""".stripMargin)
      .write.mode("overwrite").parquet("/tmp/graft_sql_time_t")
    val env = SqlEnv(spark)
    env.executeSql(
      """CREATE TABLE time_t (id BIGINT, t TIME(6))
        |WITH ('connector' = 'filesystem',
        |      'path' = '/tmp/graft_sql_time_t', 'format' = 'parquet')""".stripMargin)
    val tbl = spark.table("time_t")
    assert(tbl.schema("t").dataType == TimeType(6), tbl.schema.simpleString)
    // literal comparison + interval shift + min/max ordering
    val shifted = env.executeSql(
      """SELECT id, t + INTERVAL '30' MINUTE AS t2 FROM time_t
        |WHERE t >= TIME'12:00:00' AND t < TIME'23:00:00'""".stripMargin).collect()
    assert(shifted.map(_.getLong(0)).toSet == Set(2L))
    // Spark's NATIVE TIME + interval REFUSES to cross midnight
    // (DATETIME_OVERFLOW) where DuckDB/Flink wrap modulo 24 h. The
    // DataFrame path keeps Spark's semantics (pinned below, so any
    // TIME-arith oracle on that path stays inside one day — q89 caps at
    // 18:00 for exactly this reason), but the FLINK DIALECT wraps: the
    // wrapTimeArithmetic pass swaps TimeAddInterval for TimeAddWrap on
    // the analyzed plan (late r14).
    val overflow = intercept[Exception] {
      spark.sql(
        "SELECT t + INTERVAL '30' MINUTE AS t2 FROM time_t WHERE id = 3").collect()
    }
    assert(overflow.getMessage.contains("DATETIME_OVERFLOW"), overflow.getMessage)
    val dialectWrap = env.executeSql(
      "SELECT t + INTERVAL '30' MINUTE AS t2, t - INTERVAL '7' HOUR AS t3 " +
        "FROM time_t WHERE id = 3").collect()(0)
    assert(dialectWrap.get(0).toString == "00:29:59", dialectWrap.toString)
    assert(dialectWrap.get(1).toString == "16:59:59", dialectWrap.toString)
    // in-range arithmetic is unchanged by the wrap pass
    val inRange = env.executeSql(
      "SELECT t + INTERVAL '30' MINUTE AS t2 FROM time_t WHERE id = 1").collect()(0)
    assert(inRange.get(0).toString == "07:00", inRange.toString)
    // ...but the reference's wrap-modulo-24h arithmetic is available as
    // time_add_wrap (graft.functions.times — NTZ-epoch-anchored, so it
    // is timezone-free and crosses midnight in both directions):
    val wrapped = env.executeSql(
      """SELECT time_add_wrap(TIME'23:59:59.5', INTERVAL '30' MINUTE) AS f,
        |       time_add_wrap(TIME'00:10:00', INTERVAL '-30' MINUTE) AS b,
        |       time_add_wrap('23:59:59.5', INTERVAL '30' MINUTE) AS s""".stripMargin)
      .collect()(0)
    assert(wrapped.get(0).toString == "00:29:59.500", wrapped.toString)
    assert(wrapped.get(1).toString == "23:40", wrapped.toString)
    // string operand keeps the old typed-signature coercion (TIME(6))
    assert(wrapped.get(2).toString == "00:29:59.500", wrapped.toString)
    // TIMESTAMP→TIME cast (r14 tail: closes the README delta): Spark's
    // native Cast rejects it, so the Flink dialect routes every
    // TIME-targeted cast through CastTime, which dispatches on the
    // resolved operand type. Full micros preserved; bare TIME is
    // Flink's TIME(0) (seconds truncation); TRY_CAST maps to try mode.
    import org.apache.spark.sql.types.{StringType, TimeType => TT}
    val casted = env.executeSql(
      """SELECT CAST(TIMESTAMP'2024-01-01 10:30:05.123456' AS TIME(6)) AS t6,
        |       CAST(TIMESTAMP'2024-01-01 10:30:05.987654' AS TIME) AS t0,
        |       CAST('10:30:05' AS TIME(6)) AS ts6,
        |       TRY_CAST('not a time' AS TIME(6)) AS bad,
        |       TRY_CAST(TIMESTAMP'2024-01-01 06:07:08' AS TIME(6)) AS tt,
        |       CAST(CAST(TIMESTAMP'2024-01-01 10:30:05' AS TIME(6)) AS STRING) AS nested""".stripMargin)
    assert(casted.schema("t6").dataType == TT(6) &&
      casted.schema("t0").dataType == TT(0) &&
      casted.schema("nested").dataType == StringType, casted.schema.simpleString)
    val cr = casted.collect()(0)
    assert(cr.get(0).toString == "10:30:05.123456", cr.toString)
    assert(cr.get(1).toString == "10:30:05", cr.toString) // truncated, not rounded
    assert(cr.get(2).toString == "10:30:05" && cr.isNullAt(3), cr.toString)
    assert(cr.get(4).toString == "06:07:08" && cr.getString(5) == "10:30:05", cr.toString)
    // the rewrite is literal-safe: CAST text inside a string stays verbatim
    assert(env.executeSql("SELECT 'CAST(x AS TIME)' AS s").collect()(0)
      .getString(0) == "CAST(x AS TIME)")
    // Reverse cast-matrix leg (TimeToTimestampCastRule.java): a TIME
    // operand cast to a TIMESTAMP family anchors the time of day on the
    // EPOCH DATE; non-TIME operands keep Spark's native Cast untouched;
    // Flink's precision/zone spellings Spark's parser rejects are legal.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val rev = env.executeSql(
      """SELECT CAST(TIME'10:30:05.25' AS TIMESTAMP_NTZ) AS a,
        |       CAST(TIME'10:30:05.25' AS TIMESTAMP(3) WITHOUT TIME ZONE) AS b,
        |       CAST(TIME'10:30:05.25' AS TIMESTAMP) AS c,
        |       TRY_CAST(TIME'23:59:59' AS TIMESTAMP_LTZ(3)) AS d,
        |       CAST('2024-01-02 03:04:05' AS TIMESTAMP) AS e""".stripMargin)
    assert(rev.schema("a").dataType == TimestampNTZType &&
      rev.schema("b").dataType == TimestampNTZType &&
      rev.schema("c").dataType == TimestampType &&
      rev.schema("d").dataType == TimestampType &&
      rev.schema("e").dataType == TimestampType, rev.schema.simpleString)
    val rr = rev.collect()(0)
    assert(rr.get(0).toString == "1970-01-01T10:30:05.250", rr.toString)
    assert(rr.get(1).toString == "1970-01-01T10:30:05.250", rr.toString)
    // session tz is UTC in tests, so the LTZ legs render the same instant
    assert(rr.get(2).toString.startsWith("1970-01-01 10:30:05"), rr.toString)
    assert(rr.get(3).toString.startsWith("1970-01-01 23:59:59"), rr.toString)
    assert(rr.get(4).toString.startsWith("2024-01-02 03:04:05"), rr.toString)
    val agg = env.executeSql(
      "SELECT min(t) AS lo, max(t) AS hi, count(1) AS n FROM time_t").collect()(0)
    assert(agg.get(0).toString == "06:30" && agg.getLong(2) == 3L, agg.toString)
    // Flink's bare TIME is TIME(0); precision above Spark's max clamps
    assert(graft.sql.Ddl.flinkType("TIME") == TimeType(0))
    assert(graft.sql.Ddl.flinkType("TIME(9)") == TimeType(6))
    assert(graft.sql.Ddl.flinkTypeName(TimeType(3)) == "TIME(3)")
    // SHOW CREATE TABLE emits the TIME column and parses back
    val ddl = env.executeSql("SHOW CREATE TABLE time_t").collect()(0).getString(0)
    assert(ddl.contains("`t` TIME(6)"), ddl)
    SqlEnv(spark).executeSql(ddl.replace("`time_t`", "time_t_rt"))
    assert(spark.table("time_t_rt").schema("t").dataType == TimeType(6))
  }

  test("ANALYZE TABLE: stats land in the catalog / on the cached relation") {
    // FLIP-240 SqlAnalyzeTable → Spark's native ANALYZE TABLE (same
    // spelling). Two legs: a catalog table passes through verbatim and
    // its stats surface in DESC EXTENDED; a graft-DDL table (temp
    // view) is cached and analyzed FOR COLUMNS, stats surfacing on the
    // cached relation's optimizedPlan.stats.
    val env = SqlEnv(spark)
    // leg 1: catalog table
    spark.sql("DROP TABLE IF EXISTS an_spec_cat")
    spark.sql(
      s"""CREATE TABLE an_spec_cat USING parquet AS
         |SELECT r_regionkey, r_name FROM parquet.`${TestSpark.sfDir}/region.parquet`""".stripMargin)
    env.executeSql("ANALYZE TABLE an_spec_cat COMPUTE STATISTICS FOR COLUMNS r_regionkey")
    // the catalog-table path is the blessed 100 TB recipe (README
    // §ANALYZE) precisely because it does NOT materialize a cache
    assert(!spark.catalog.isCached("an_spec_cat"),
      "catalog-table ANALYZE must not cache the relation")
    val statsRow = spark.sql("DESC EXTENDED an_spec_cat").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1))
    assert(statsRow.exists(_.contains("5 rows")),
      s"row count must land in DESC EXTENDED: $statsRow")
    val colStats = spark.sql("DESC EXTENDED an_spec_cat r_regionkey").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(colStats.get("distinct_count").exists(v => v != null && v != "NULL"),
      s"column stats must be non-null after ANALYZE: $colStats")
    assert(colStats.get("min").contains("0") && colStats.get("max").contains("4"),
      s"min/max must be computed: $colStats")
    // leg 2: graft DDL table (temp view) — bare COMPUTE STATISTICS is
    // upgraded to FOR ALL COLUMNS on the auto-cached view
    env.executeSql(
      s"""CREATE TABLE an_spec_ddl (n_nationkey BIGINT, n_name STRING,
         |  n_regionkey BIGINT, n_comment STRING)
         |WITH ('connector' = 'filesystem',
         |      'path' = '${TestSpark.sfDir}/nation.parquet',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql("ANALYZE TABLE an_spec_ddl COMPUTE STATISTICS")
    val st = spark.table("an_spec_ddl").queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(25)),
      s"cached-view row count must be analyzed: ${st.rowCount}")
    assert(st.attributeStats.nonEmpty &&
      st.attributeStats.exists { case (a, s) =>
        a.name == "n_regionkey" && s.distinctCount.exists(_ > 0) },
      s"column stats must be analyzed: ${st.attributeStats}")
    // EXPLAIN ANALYZE TABLE is a command — rejected, never executed
    intercept[IllegalArgumentException] {
      env.executeSql("EXPLAIN ANALYZE TABLE an_spec_cat COMPUTE STATISTICS")
    }
    // junk after the table name is rejected with the graft-level error
    val bad = intercept[IllegalArgumentException] {
      env.executeSql("ANALYZE TABLE an_spec_cat DELETE STATISTICS")
    }
    assert(bad.getMessage.contains("COMPUTE STATISTICS"), bad.getMessage)
    spark.catalog.uncacheTable("an_spec_ddl")
    spark.sql("DROP TABLE IF EXISTS an_spec_cat")
  }

  test("ANALYZE TABLE: analyzed stats change the join strategy (CBO visibility)") {
    // The point of FLIP-240 stats is planning: the same join must pick
    // its physical strategy from the ANALYZED size, not the raw
    // file-size estimate. Two views over the same parquet, one
    // analyzed; the broadcast threshold is pinned BETWEEN their two
    // size estimates, so exactly one of the two (the smaller-estimated
    // one) broadcasts — i.e. the ANALYZE changed the plan.
    val env = SqlEnv(spark)
    // The cache is PLAN-keyed, so an unanalyzed twin over the same file
    // would silently resolve to the analyzed view's cached relation —
    // the twin needs its own physical copy.
    val dup = java.nio.file.Files.createTempDirectory("an_join_dup").toString
    spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .write.mode("overwrite").parquet(dup)
    spark.read.parquet(dup).createOrReplaceTempView("an_join_un")
    spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .createOrReplaceTempView("an_join_an")
    val sizeAnBefore =
      spark.table("an_join_an").queryExecution.optimizedPlan.stats.sizeInBytes
    env.executeSql("ANALYZE TABLE an_join_an COMPUTE STATISTICS")
    val sizeUn = spark.table("an_join_un").queryExecution.optimizedPlan.stats.sizeInBytes
    val sizeAn = spark.table("an_join_an").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sizeAn != sizeAnBefore,
      s"analyze must replace the file-size estimate: before=$sizeAnBefore after=$sizeAn")
    assert(sizeUn != sizeAn,
      s"the two views must carry different estimates: un=$sizeUn an=$sizeAn")
    // The join prunes the dim to its key column, so the size the
    // planner compares against the threshold is the PRUNED estimate —
    // file-ratio-scaled for the parquet view, column-ratio-scaled from
    // the analyzed stats for the cached one. Pin the threshold between
    // THOSE two.
    def pruned(dim: String): BigInt =
      spark.sql(s"SELECT o_orderkey FROM $dim")
        .queryExecution.optimizedPlan.stats.sizeInBytes
    val (prunedUn, prunedAn) = (pruned("an_join_un"), pruned("an_join_an"))
    assert(prunedUn != prunedAn,
      s"pruned estimates must differ: un=$prunedUn an=$prunedAn")
    // probe side far above any threshold we pick
    spark.range(0L, 4000000L).createOrReplaceTempView("an_join_probe")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((prunedUn + prunedAn) / 2).toString)
      def broadcasts(dim: String): Boolean =
        spark.sql(
          s"""SELECT count(*) FROM an_join_probe p
             |JOIN $dim d ON p.id = d.o_orderkey""".stripMargin)
          .queryExecution.sparkPlan.toString.contains("BroadcastHashJoin")
      val (smallName, bigName) =
        if (prunedAn < prunedUn) ("an_join_an", "an_join_un")
        else ("an_join_un", "an_join_an")
      assert(broadcasts(smallName),
        s"the smaller-estimated side ($smallName) must broadcast")
      assert(!broadcasts(bigName),
        s"the larger-estimated side ($bigName) must not broadcast — " +
          "if it did, the ANALYZE changed nothing the planner sees")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.catalog.uncacheTable("an_join_an")
    }
  }

  test("TIME wrap/cast: session-timezone independent across a DST gap") {
    // r15 advice: TimeAddWrap/CastTime's NTZ legs roundtripped through
    // the SESSION zone — 1970-04-26 02:30 falls inside America/New_York's
    // spring-forward gap (a wall clock with NO instant), so the same-zone
    // cast+format pair shifted it to 03:30. Both legs are now pinned to
    // UTC; results must be byte-identical under any session timezone.
    val env = SqlEnv(spark)
    val q =
      """SELECT time_add_wrap(TIME'00:00:00',
        |                     INTERVAL '115 02:30:00' DAY TO SECOND) AS w,
        |       CAST(TIMESTAMP_NTZ'1970-04-26 02:30:00' AS TIME(6)) AS c""".stripMargin
    val prev = spark.conf.get("spark.sql.session.timeZone")
    def run(): (String, String) = {
      val r = env.executeSql(q).collect()(0)
      (r.get(0).toString, r.get(1).toString)
    }
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = run()
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val nyc = run()
      assert(utc == nyc,
        s"TIME wrap/cast must not depend on session timezone: utc=$utc nyc=$nyc")
      assert(nyc._1 == "02:30" && nyc._2 == "02:30",
        s"DST-gap wall clock must survive verbatim: $nyc")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("CTAS: CREATE TABLE AS SELECT materializes, registers, SHOW CREATE roundtrips") {
    // FLIP-218 (reference: flink-sql-parser ddl/SqlCreateTableAs.java —
    // new in the 1.16 release): derived schema, create-then-insert,
    // readable + SHOW CREATE-able + INSERT-able afterwards.
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = "/tmp/graft_sql_ctas_t"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // the session is shared across suite runs; CTAS rejects ANY existing
    // object at the name, so clear leftovers first
    Seq("ctas_t", "ctas_t_reread", "ctas_cte").foreach(t =>
      env.executeSql(s"DROP TABLE IF EXISTS $t"))
    env.executeSql(
      s"""CREATE TABLE ctas_t
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')
         |AS SELECT n_regionkey AS rk, count(*) AS n
         |   FROM nation GROUP BY n_regionkey""".stripMargin)
    val rows = env.executeSql("SELECT * FROM ctas_t ORDER BY rk").collect()
    assert(rows.length == 5 && rows.map(_.getLong(1)).sum == 25,
      rows.mkString("; "))
    // SHOW CREATE reflects the DERIVED schema and is re-executable as a
    // plain CREATE TABLE over the materialized path
    val ddl = env.executeSql("SHOW CREATE TABLE ctas_t").collect()(0).getString(0)
    assert(ddl.contains("`rk` INT") && ddl.contains("`n` BIGINT"), ddl)
    val env2 = SqlEnv(spark)
    env2.executeSql(ddl.replace("`ctas_t`", "ctas_t_reread"))
    assert(env2.executeSql("SELECT count(*) AS c FROM ctas_t_reread")
      .collect()(0).getLong(0) == 5)
    // the created table is a first-class DDL table: INSERT INTO appends
    env.executeSql("INSERT INTO ctas_t SELECT CAST(99 AS INT), CAST(0 AS BIGINT)")
    assert(env.executeSql("SELECT count(*) AS c FROM ctas_t").collect()(0).getLong(0) == 6)
    // duplicate name: error without IF NOT EXISTS, silent skip with it
    val dup = intercept[IllegalArgumentException] {
      env.executeSql(
        s"""CREATE TABLE ctas_t WITH ('connector' = 'filesystem',
           |  'path' = '$dir', 'format' = 'parquet')
           |AS SELECT 1 AS x""".stripMargin)
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    env.executeSql(
      s"""CREATE TABLE IF NOT EXISTS ctas_t WITH ('connector' = 'filesystem',
         |  'path' = '$dir', 'format' = 'parquet')
         |AS SELECT 1 AS x""".stripMargin)
    assert(env.executeSql("SELECT count(*) AS c FROM ctas_t").collect()(0).getLong(0) == 6,
      "IF NOT EXISTS must not overwrite the existing table")
    // the reference's validate() rejections, same messages
    val cols = intercept[IllegalArgumentException] {
      env.executeSql(
        s"""CREATE TABLE ctas_cols (x INT)
           |WITH ('connector' = 'filesystem', 'path' = '/tmp/x')
           |AS SELECT 1 AS x""".stripMargin)
    }
    assert(cols.getMessage.contains("explicit columns"), cols.getMessage)
    val tmp = intercept[IllegalArgumentException] {
      env.executeSql("CREATE TEMPORARY TABLE ctas_tmp AS SELECT 1 AS x")
    }
    assert(tmp.getMessage.contains("temporary"), tmp.getMessage)
    // no connector → clear error, nothing registered
    val noConn = intercept[IllegalArgumentException] {
      env.executeSql("CREATE TABLE ctas_noconn AS SELECT 1 AS x")
    }
    assert(noConn.getMessage.contains("connector"), noConn.getMessage)
    // EXPLAIN CTAS is a command — rejected, not executed
    intercept[IllegalArgumentException] {
      env.executeSql(
        s"""EXPLAIN CREATE TABLE ctas_expl WITH ('connector' = 'filesystem',
           |  'path' = '/tmp/graft_ctas_expl') AS SELECT 1 AS x""".stripMargin)
    }
    assert(!new java.io.File("/tmp/graft_ctas_expl").exists())
    // a CTE body works as the CTAS query (the WITH head must not be
    // mistaken for the options clause)
    env.executeSql("DROP TABLE IF EXISTS ctas_cte")
    env.executeSql(
      s"""CREATE TABLE ctas_cte
         |WITH ('connector' = 'filesystem', 'path' = '/tmp/graft_sql_ctas_cte',
         |      'format' = 'json')
         |AS WITH big AS (SELECT * FROM region WHERE r_regionkey >= 2)
         |   SELECT r_regionkey, r_name FROM big""".stripMargin)
    assert(env.executeSql("SELECT count(*) AS c FROM ctas_cte").collect()(0).getLong(0) == 3)
  }

  test("CREATE/DROP/ALTER DATABASE + USE scoping + ALTER VIEW") {
    // Reference: flink-sql-parser ddl/SqlCreateDatabase.java,
    // SqlDropDatabase.java, SqlAlterDatabase.java, SqlAlterViewAs.java,
    // SqlAlterViewRename.java — the remaining SQL-client catalog DDL.
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    // USE of a nonexistent database errors (UseDatabaseOperation)
    val noDb = intercept[IllegalArgumentException] { env.executeSql("USE db17") }
    assert(noDb.getMessage.contains("does not exist"), noDb.getMessage)
    env.executeSql("CREATE DATABASE db17 WITH ('owner' = 'graft')")
    assert(env.executeSql("SHOW DATABASES").collect().map(_.getString(0)).toSeq ==
      Seq("db17", "default_database"))
    // duplicate: error without IF NOT EXISTS, skip with it
    val dup = intercept[IllegalArgumentException] { env.executeSql("CREATE DATABASE db17") }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    env.executeSql("CREATE DATABASE IF NOT EXISTS db17")
    // create a table inside db17 → SHOW TABLES is scoped per database
    env.executeSql("USE db17")
    env.executeSql(
      """CREATE TABLE db17_t (id BIGINT)
        |WITH ('connector' = 'blackhole')""".stripMargin)
    val inDb = env.executeSql("SHOW TABLES").collect().map(_.getString(0))
    assert(inDb.toSeq == Seq("db17_t"),
      s"SHOW TABLES in db17 must list only db17's tables: ${inDb.mkString(", ")}")
    env.executeSql("USE default_database")
    val inDefault = env.executeSql("SHOW TABLES").collect().map(_.getString(0))
    assert(!inDefault.contains("db17_t") && inDefault.contains("orders"),
      s"db17's table must not leak into default_database: ${inDefault.mkString(", ")}")
    // ALTER DATABASE merges properties; missing database errors
    env.executeSql("ALTER DATABASE db17 SET ('retention' = '30d')")
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER DATABASE nope SET ('k' = 'v')")
    }
    // DROP guards: current database, default database, non-empty RESTRICT
    env.executeSql("USE db17")
    val cur = intercept[IllegalArgumentException] { env.executeSql("DROP DATABASE db17") }
    assert(cur.getMessage.contains("current database"), cur.getMessage)
    val dflt = intercept[IllegalArgumentException] {
      env.executeSql("DROP DATABASE default_database")
    }
    assert(dflt.getMessage.contains("default database"), dflt.getMessage)
    env.executeSql("USE default_database")
    val notEmpty = intercept[IllegalArgumentException] { env.executeSql("DROP DATABASE db17") }
    assert(notEmpty.getMessage.contains("CASCADE"), notEmpty.getMessage)
    // CASCADE drops the contained table with the database
    env.executeSql("DROP DATABASE db17 CASCADE")
    assert(env.executeSql("SHOW DATABASES").collect().map(_.getString(0)).toSeq ==
      Seq("default_database"))
    intercept[IllegalArgumentException] { env.executeSql("SHOW CREATE TABLE db17_t") }
    // IF EXISTS on a missing database is a no-op; bare DROP errors
    env.executeSql("DROP DATABASE IF EXISTS db17")
    intercept[IllegalArgumentException] { env.executeSql("DROP DATABASE db17") }
    // ALTER VIEW ... AS swaps the definition in place
    env.executeSql("CREATE VIEW av_v AS SELECT r_regionkey FROM region WHERE r_regionkey < 2")
    assert(env.executeSql("SELECT count(*) AS c FROM av_v").collect()(0).getLong(0) == 2)
    env.executeSql("ALTER VIEW av_v AS SELECT r_regionkey, r_name FROM region")
    val swapped = env.executeSql("SELECT * FROM av_v")
    assert(swapped.columns.toSeq == Seq("r_regionkey", "r_name") &&
      swapped.count() == 5, "ALTER VIEW AS must replace the definition")
    // ALTER VIEW ... RENAME TO moves the view (still a CREATE VIEW object)
    env.executeSql("ALTER VIEW av_v RENAME TO av_v2")
    assert(env.executeSql("SHOW VIEWS").collect().map(_.getString(0)).contains("av_v2"))
    assert(!spark.catalog.tableExists("av_v"))
    // only CREATE VIEW objects qualify (the reference's convertAlterView)
    val notView = intercept[IllegalArgumentException] {
      env.executeSql("ALTER VIEW orders AS SELECT 1")
    }
    assert(notView.getMessage.contains("CREATE VIEW"), notView.getMessage)
    env.executeSql("DROP VIEW av_v2")
  }

  test("SQL-client completion sweep: catalogs, SHOW CREATE VIEW, functions, PK, COMPACT, partitions, modules, jars") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    // --- CREATE/DROP CATALOG + DESCRIBE CATALOG ---
    env.executeSql("CREATE CATALOG cat17 WITH ('type' = 'generic_in_memory')")
    intercept[IllegalArgumentException] { env.executeSql("CREATE CATALOG cat17") }
    env.executeSql("CREATE CATALOG IF NOT EXISTS cat17")
    val catDesc = env.executeSql("DESCRIBE CATALOG cat17").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(catDesc("name") == "cat17" && catDesc("property:type") == "generic_in_memory")
    intercept[IllegalArgumentException] { env.executeSql("DROP CATALOG default_catalog") }
    env.executeSql("DROP CATALOG cat17")
    intercept[IllegalArgumentException] { env.executeSql("DROP CATALOG cat17") }
    env.executeSql("DROP CATALOG IF EXISTS cat17")
    // --- DESCRIBE DATABASE [EXTENDED] ---
    env.executeSql("CREATE DATABASE ddb17 WITH ('owner' = 'graft')")
    val dbDesc = env.executeSql("DESCRIBE DATABASE ddb17").collect()
      .map(_.getString(0)).toSeq
    assert(dbDesc.contains("name") && !dbDesc.exists(_.startsWith("property:")))
    val dbDescExt = env.executeSql("DESCRIBE DATABASE EXTENDED ddb17").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dbDescExt("property:owner") == "graft")
    env.executeSql("DROP DATABASE ddb17")
    // --- SHOW CREATE VIEW (reconstructed from the stored body) ---
    env.executeSql("CREATE VIEW scv_v AS SELECT r_regionkey FROM region WHERE r_regionkey < 3")
    val vddl = env.executeSql("SHOW CREATE VIEW scv_v").collect()(0).getString(0)
    assert(vddl.startsWith("CREATE VIEW `scv_v` AS"), vddl)
    assert(vddl.contains("r_regionkey < 3"), vddl)
    // ...and it reflects ALTER VIEW AS
    env.executeSql("ALTER VIEW scv_v AS SELECT r_name FROM region")
    assert(env.executeSql("SHOW CREATE VIEW scv_v").collect()(0).getString(0)
      .contains("SELECT r_name FROM region"))
    intercept[IllegalArgumentException] { env.executeSql("SHOW CREATE VIEW orders") }
    env.executeSql("DROP VIEW scv_v")
    // --- CREATE/ALTER/DROP FUNCTION (classes on the session classpath,
    // Spark java-UDF interfaces — the ScalarFunction analog) ---
    try spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("fn17")) catch { case _: Throwable => () }
    env.executeSql("CREATE FUNCTION fn17 AS 'graft.TestUdfUpper' LANGUAGE SCALA")
    assert(env.executeSql("SELECT fn17('abc') AS v").collect()(0).getString(0) == "ABC")
    intercept[IllegalArgumentException] {
      env.executeSql("CREATE FUNCTION fn17 AS 'graft.TestUdfUpper'")
    }
    env.executeSql("CREATE FUNCTION IF NOT EXISTS fn17 AS 'graft.TestUdfUpper'")
    env.executeSql("ALTER FUNCTION fn17 AS 'graft.TestUdfLower'")
    assert(env.executeSql("SELECT fn17('AbC') AS v").collect()(0).getString(0) == "abc")
    intercept[Exception] {
      env.executeSql("CREATE TEMPORARY FUNCTION pyfn AS 'x' LANGUAGE PYTHON")
    }
    // built-ins are protected: neither creatable-over nor droppable
    val shadow = intercept[IllegalArgumentException] {
      env.executeSql("CREATE FUNCTION abs AS 'graft.TestUdfUpper'")
    }
    assert(shadow.getMessage.contains("built-in"), shadow.getMessage)
    intercept[IllegalArgumentException] {
      env.executeSql("CREATE FUNCTION IF NOT EXISTS abs AS 'graft.TestUdfUpper'")
    }
    intercept[IllegalArgumentException] { env.executeSql("DROP FUNCTION abs") }
    assert(spark.sql("SELECT abs(-1)").collect()(0).get(0).toString == "1",
      "abs must survive the rejected drop")
    env.executeSql("DROP FUNCTION fn17")
    intercept[IllegalArgumentException] { env.executeSql("DROP FUNCTION fn17") }
    env.executeSql("DROP FUNCTION IF EXISTS fn17")
    // --- ALTER TABLE ADD/DROP PRIMARY KEY (registry + SHOW CREATE) ---
    env.executeSql(
      """CREATE TABLE pk17_t (id BIGINT, v STRING)
        |WITH ('connector' = 'blackhole')""".stripMargin)
    env.executeSql("ALTER TABLE pk17_t ADD CONSTRAINT pk PRIMARY KEY (id) NOT ENFORCED")
    assert(env.executeSql("SHOW CREATE TABLE pk17_t").collect()(0).getString(0)
      .contains("PRIMARY KEY (`id`) NOT ENFORCED"))
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pk17_t ADD PRIMARY KEY (v) NOT ENFORCED")
    }
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pk17_t DROP PRIMARY KEY")
      env.executeSql("ALTER TABLE pk17_t ADD PRIMARY KEY (nope) NOT ENFORCED")
    }
    assert(!env.executeSql("SHOW CREATE TABLE pk17_t").collect()(0).getString(0)
      .contains("PRIMARY KEY"))
    // schema-change ALTERs are parse-only in the 1.16 reference — clear
    // rejection with that provenance, not a raw Spark temp-view error
    val addCol = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pk17_t ADD (extra INT)")
    }
    assert(addCol.getMessage.contains("never converts"), addCol.getMessage)
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pk17_t MODIFY (id STRING)")
    }
    // --- ALTER TABLE COMPACT (ops.Compact behind the reference's
    // SqlAlterTableCompact statement) ---
    val cdir = "/tmp/graft_sql_compact17"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cdir))
    env.executeSql(
      s"""CREATE TABLE compact17_t (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$cdir',
         |      'format' = 'parquet', 'compaction.target-file-size' = '33554432')""".stripMargin)
    // fragment: 16 tiny files
    spark.range(0, 10000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .repartition(16).write.mode("overwrite").parquet(cdir)
    env.executeSql(s"INSERT INTO compact17_t SELECT CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)")
    val before = graft.ops.Compact.partFileCount(spark, cdir)
    assert(before > 10, s"fixture must be fragmented: $before files")
    env.executeSql("ALTER TABLE compact17_t COMPACT")
    val after = graft.ops.Compact.partFileCount(spark, cdir)
    assert(after < before && after >= 1, s"compact must shrink file count: $before -> $after")
    assert(env.executeSql("SELECT count(*) AS c FROM compact17_t")
      .collect()(0).getLong(0) == 10001, "content preserved through COMPACT")
    // --- SHOW PARTITIONS ---
    val pdir = "/tmp/graft_sql_parts17"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pdir))
    env.executeSql(
      s"""CREATE TABLE parts17_t (id BIGINT, grp STRING)
         |PARTITIONED BY (grp)
         |WITH ('connector' = 'filesystem', 'path' = '$pdir',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql(
      """INSERT INTO parts17_t
        |SELECT * FROM VALUES (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'b'),
        |  (CAST(3 AS BIGINT), 'a') AS v(id, grp)""".stripMargin)
    val parts = env.executeSql("SHOW PARTITIONS parts17_t").collect().map(_.getString(0))
    assert(parts.toSeq == Seq("grp=a", "grp=b"), parts.mkString(", "))
    assert(env.executeSql("SHOW PARTITIONS parts17_t").columns.sameElements(
      Array("partition name")))
    intercept[IllegalArgumentException] { env.executeSql("SHOW PARTITIONS pk17_t") }
    // created-but-never-inserted partitioned table → empty list, not a
    // raw TABLE_OR_VIEW_NOT_FOUND
    val edir = "/tmp/graft_sql_parts17_empty"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(edir))
    env.executeSql(
      s"""CREATE TABLE parts17_empty (id BIGINT, grp STRING)
         |PARTITIONED BY (grp)
         |WITH ('connector' = 'filesystem', 'path' = '$edir',
         |      'format' = 'parquet')""".stripMargin)
    assert(env.executeSql("SHOW PARTITIONS parts17_empty").collect().isEmpty)
    // partitioned tables compact PER LEAF, preserving the Hive layout:
    // fragment one partition, compact, and the table still reads with
    // its partition column intact
    env.executeSql(
      """INSERT INTO parts17_t PARTITION (grp='a')
        |SELECT CAST(id + 100 AS BIGINT) FROM range(100)""".stripMargin)
    val aLeaf = s"$pdir/grp=a"
    spark.read.parquet(aLeaf).repartition(12).write.mode("overwrite").parquet(aLeaf)
    val leafBefore = graft.ops.Compact.partFileCount(spark, aLeaf)
    assert(leafBefore >= 10, s"leaf fixture must be fragmented: $leafBefore files")
    env.executeSql("ALTER TABLE parts17_t COMPACT")
    assert(graft.ops.Compact.partFileCount(spark, aLeaf) < leafBefore,
      "leaf partition must shrink")
    val pAfter = env.executeSql(
      "SELECT grp, count(*) AS n FROM parts17_t GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pAfter.toSeq == Seq(("a", 102L), ("b", 1L)),
      s"partitioned content must survive COMPACT: ${pAfter.mkString(", ")}")
    assert(env.executeSql("SHOW PARTITIONS parts17_t").collect()
      .map(_.getString(0)).toSeq == Seq("grp=a", "grp=b"))
    // rename guards: neither views nor tables may clobber an existing name
    env.executeSql("CREATE VIEW rg17_a AS SELECT 1 AS x")
    env.executeSql("CREATE VIEW rg17_b AS SELECT 2 AS x")
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER VIEW rg17_a RENAME TO rg17_b")
    }
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE parts17_t RENAME TO parts17_empty")
    }
    env.executeSql("DROP VIEW rg17_a"); env.executeSql("DROP VIEW rg17_b")
    // --- modules ---
    assert(env.executeSql("SHOW MODULES").collect().map(_.getString(0)).toSeq ==
      Seq("core"))
    val full = env.executeSql("SHOW FULL MODULES").collect()
    assert(full.length == 1 && full(0).getString(0) == "core" && full(0).getBoolean(1))
    intercept[IllegalArgumentException] { env.executeSql("LOAD MODULE hive") }
    env.executeSql("UNLOAD MODULE core")
    assert(env.executeSql("SHOW MODULES").collect().isEmpty)
    env.executeSql("LOAD MODULE core")
    env.executeSql("USE MODULES core")
    assert(env.executeSql("SHOW MODULES").collect().map(_.getString(0)).toSeq ==
      Seq("core"))
    // --- jars ---
    assert(env.executeSql("SHOW JARS").collect().isEmpty)
    intercept[IllegalArgumentException] { env.executeSql("REMOVE JAR '/tmp/x.jar'") }
    // EXPLAIN rejects every sweep statement as a command
    intercept[IllegalArgumentException] { env.executeSql("EXPLAIN SHOW MODULES") }
    intercept[IllegalArgumentException] { env.executeSql("EXPLAIN CREATE CATALOG c2") }
  }

  test("ALTER TABLE ADD/DROP PARTITION: lifecycle, IF guards, Hive layout") {
    val env = SqlEnv(spark)
    val dir = "/tmp/graft_sql_partddl18"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql("DROP TABLE IF EXISTS pd18_t")
    env.executeSql(
      s"""CREATE TABLE pd18_t (id BIGINT, grp STRING)
         |PARTITIONED BY (grp)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    // ADD on a never-inserted table: the empty partition is visible in
    // SHOW PARTITIONS (directory listing, the catalog analog) and the
    // table reads as empty — Hive's contract
    env.executeSql("ALTER TABLE pd18_t ADD PARTITION (grp = 'a')")
    assert(env.executeSql("SHOW PARTITIONS pd18_t").collect()
      .map(_.getString(0)).toSeq == Seq("grp=a"))
    assert(env.executeSql("SELECT * FROM pd18_t").count() == 0)
    // duplicate ADD: rejected without IF NOT EXISTS, skipped with it
    val dup = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pd18_t ADD PARTITION (grp='a')")
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    env.executeSql("ALTER TABLE pd18_t ADD IF NOT EXISTS PARTITION (grp='a')")
    // multi-spec ADD with per-spec WITH props (reference grammar:
    // PARTITION spec [WITH props] repeated, space-separated)
    env.executeSql(
      """ALTER TABLE pd18_t ADD
        |PARTITION (grp='b') WITH ('note' = 'cold')
        |PARTITION (grp='c')""".stripMargin)
    assert(env.executeSql("SHOW PARTITIONS pd18_t").collect()
      .map(_.getString(0)).toSeq == Seq("grp=a", "grp=b", "grp=c"))
    // INSERT INTO the ADD'ed partition, then rows land there
    env.executeSql(
      "INSERT INTO pd18_t PARTITION (grp='a') SELECT CAST(id AS BIGINT) FROM range(5)")
    env.executeSql(
      "INSERT INTO pd18_t PARTITION (grp='b') SELECT CAST(id + 10 AS BIGINT) FROM range(3)")
    assert(env.executeSql(
      "SELECT grp, count(*) AS n FROM pd18_t GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 5L), ("b", 3L)))
    // DROP excludes the partition from reads and from the listing;
    // comma-separated multi-spec per the reference grammar
    env.executeSql("ALTER TABLE pd18_t DROP PARTITION (grp='a'), PARTITION (grp='c')")
    assert(env.executeSql("SHOW PARTITIONS pd18_t").collect()
      .map(_.getString(0)).toSeq == Seq("grp=b"))
    assert(env.executeSql("SELECT grp, count(*) AS n FROM pd18_t GROUP BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("b", 3L)))
    val gone = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pd18_t DROP PARTITION (grp='a')")
    }
    assert(gone.getMessage.contains("does not exist"), gone.getMessage)
    env.executeSql("ALTER TABLE pd18_t DROP IF EXISTS PARTITION (grp='a')")
    // spec validation: unknown / missing partition columns are rejected
    // with the column list in the message
    val wrongCol = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pd18_t ADD PARTITION (nope='x')")
    }
    assert(wrongCol.getMessage.contains("partition columns"), wrongCol.getMessage)
    // two-level table: a partial spec is rejected (full-spec contract,
    // like Catalog.createPartition)
    val dir2 = "/tmp/graft_sql_partddl18_2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir2))
    env.executeSql("DROP TABLE IF EXISTS pd18_t2")
    env.executeSql(
      s"""CREATE TABLE pd18_t2 (id BIGINT, a STRING, b STRING)
         |PARTITIONED BY (a, b)
         |WITH ('connector' = 'filesystem', 'path' = '$dir2',
         |      'format' = 'parquet')""".stripMargin)
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pd18_t2 ADD PARTITION (a='x')")
    }
    env.executeSql("ALTER TABLE pd18_t2 ADD PARTITION (a='x', b='y:1')")
    // values are Hive-escaped on disk with Spark's OWN escaping (':' →
    // '%3A') and unescaped in the listing — so the ADD'ed leaf is
    // byte-identical to one a partitioned INSERT of the same value
    // writes, proven by inserting into it and reading one partition
    assert(env.executeSql("SHOW PARTITIONS pd18_t2").collect()
      .map(_.getString(0)).toSeq == Seq("a=x/b=y:1"))
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName("y:1")
    assert(esc != "y:1" && new java.io.File(s"$dir2/a=x/b=$esc").isDirectory, esc)
    env.executeSql(
      "INSERT INTO pd18_t2 PARTITION (a='x', b='y:1') SELECT CAST(7 AS BIGINT)")
    assert(env.executeSql("SHOW PARTITIONS pd18_t2").collect()
      .map(_.getString(0)).toSeq == Seq("a=x/b=y:1"), "INSERT reuses the ADD'ed leaf")
    assert(env.executeSql("SELECT id FROM pd18_t2 WHERE b = 'y:1'")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    env.executeSql("ALTER TABLE pd18_t2 DROP PARTITION (b='y:1', a='x')")
    assert(env.executeSql("SHOW PARTITIONS pd18_t2").collect().isEmpty)
    // a NULL partition value written by a dynamic INSERT lists as the
    // on-disk __HIVE_DEFAULT_PARTITION__ leaf, not 'grp=null'
    env.executeSql(
      """INSERT INTO pd18_t
        |SELECT * FROM VALUES (CAST(99 AS BIGINT), CAST(NULL AS STRING)) AS v(id, grp)""".stripMargin)
    assert(env.executeSql("SHOW PARTITIONS pd18_t").collect().map(_.getString(0)).toSeq ==
      Seq("grp=__HIVE_DEFAULT_PARTITION__", "grp=b"))
    // non-partitioned and non-CREATE TABLE targets: graft-level errors
    intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE an_unknown_t ADD PARTITION (grp='a')")
    }
    env.executeSql("DROP TABLE IF EXISTS pd18_flat")
    env.executeSql("CREATE TABLE pd18_flat (id BIGINT) WITH ('connector' = 'blackhole')")
    val flat = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pd18_flat ADD PARTITION (grp='a')")
    }
    assert(flat.getMessage.contains("filesystem"), flat.getMessage)
  }

  test("partition-targeted COMPACT and SHOW PARTITIONS PARTITION(spec) filters") {
    val env = SqlEnv(spark)
    val dir = "/tmp/graft_sql_pcompact18"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql("DROP TABLE IF EXISTS pc18_t")
    env.executeSql(
      s"""CREATE TABLE pc18_t (id BIGINT, a STRING, b STRING)
         |PARTITIONED BY (a, b)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql(
      """INSERT INTO pc18_t SELECT * FROM VALUES
        |  (CAST(1 AS BIGINT), 'x', 'p'), (CAST(2 AS BIGINT), 'x', 'q'),
        |  (CAST(3 AS BIGINT), 'y', 'p') AS v(id, a, b)""".stripMargin)
    // fragment two leaves (leaf data files carry only the non-partition
    // column, so a direct 200-row × 8-file rewrite is layout-faithful)
    Seq(s"$dir/a=x/b=p", s"$dir/a=y/b=p").foreach { leaf =>
      spark.range(0, 200).selectExpr("id")
        .repartition(8).write.mode("overwrite").parquet(leaf)
    }
    spark.catalog.refreshByPath(dir)
    val beforeX = graft.ops.Compact.partFileCount(spark, s"$dir/a=x/b=p")
    val beforeY = graft.ops.Compact.partFileCount(spark, s"$dir/a=y/b=p")
    assert(beforeX >= 8 && beforeY >= 8)
    // PARTIAL spec: only a=x leaves compact; a=y stays fragmented
    env.executeSql("ALTER TABLE pc18_t PARTITION (a='x') COMPACT")
    assert(graft.ops.Compact.partFileCount(spark, s"$dir/a=x/b=p") < beforeX)
    assert(graft.ops.Compact.partFileCount(spark, s"$dir/a=y/b=p") == beforeY,
      "a partial spec must not touch non-matching leaves")
    // full spec targets one leaf
    env.executeSql("ALTER TABLE pc18_t PARTITION (a='y', b='p') COMPACT")
    assert(graft.ops.Compact.partFileCount(spark, s"$dir/a=y/b=p") < beforeY)
    // content intact after both targeted passes (the two fragmented
    // b=p leaves carry 200 rows each, a=x/b=q kept its original row)
    assert(env.executeSql("SELECT count(*) AS c FROM pc18_t")
      .collect()(0).getLong(0) == 401)
    // the reference's spec validation messages (convertAlterTableCompact)
    val badKey = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pc18_t PARTITION (nope='1') COMPACT")
    }
    assert(badKey.getMessage.contains("not defined in the table schema") &&
      badKey.getMessage.contains("Available ordered partition columns"),
      badKey.getMessage)
    env.executeSql("DROP TABLE IF EXISTS pc18_flat")
    env.executeSql(
      s"""CREATE TABLE pc18_flat (id BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir-flat',
         |      'format' = 'parquet')""".stripMargin)
    val notPart = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE pc18_flat PARTITION (a='1') COMPACT")
    }
    assert(notPart.getMessage.contains("is not partitioned"), notPart.getMessage)
    // SHOW PARTITIONS with a partial / full spec filter
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (a='x')").collect()
      .map(_.getString(0)).toSeq == Seq("a=x/b=p", "a=x/b=q"))
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (b='p')").collect()
      .map(_.getString(0)).toSeq == Seq("a=x/b=p", "a=y/b=p"))
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (a='y', b='p')").collect()
      .map(_.getString(0)).toSeq == Seq("a=y/b=p"))
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (a='zz')").collect().isEmpty)
    intercept[IllegalArgumentException] {
      env.executeSql("SHOW PARTITIONS pc18_t PARTITION (nope='1')")
    }
    // hardened edges: a quoted value may contain a comma (quote-aware
    // spec split) or a '/' (the spec filter matches ESCAPED segments,
    // so a slash value cannot corrupt the per-level match)
    env.executeSql("ALTER TABLE pc18_t ADD PARTITION (a='m,1', b='n/2')")
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (a='m,1')").collect()
      .map(_.getString(0)).toSeq == Seq("a=m,1/b=n/2"))
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (b='n/2')").collect()
      .map(_.getString(0)).toSeq == Seq("a=m,1/b=n/2"))
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (b='2')").collect().isEmpty,
      "a slash value must not be matchable by its tail segment")
    env.executeSql("ALTER TABLE pc18_t DROP PARTITION (a='m,1', b='n/2')")
    // r18 review fixes: a doubled quote is SQL's escaped quote — the
    // ADD'ed leaf must be the one a DROP of the same literal removes;
    // an unquoted-paren value rides the quote-aware spec groups
    env.executeSql("ALTER TABLE pc18_t ADD PARTITION (a='O''Brien', b='x)y')")
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (a='O''Brien')").collect()
      .map(_.getString(0)).toSeq == Seq("a=O'Brien/b=x)y"))
    env.executeSql("ALTER TABLE pc18_t PARTITION (b='x)y') COMPACT") // dispatches, 0 rewrites
    env.executeSql("ALTER TABLE pc18_t DROP PARTITION (a='O''Brien', b='x)y')")
    assert(env.executeSql("SHOW PARTITIONS pc18_t PARTITION (a='O''Brien')")
      .collect().isEmpty)
    // ADD ... WITH props are readable through the API accessor (the
    // Catalog.getPartition().getProperties() analog) and an IF NOT
    // EXISTS skip leaves an existing partition's props untouched
    env.executeSql(
      "ALTER TABLE pc18_t ADD PARTITION (a='pp', b='q') WITH ('note' = 'cold')")
    assert(env.partitionProperties("pc18_t", "a=pp/b=q") == Map("note" -> "cold"))
    env.executeSql(
      "ALTER TABLE pc18_t ADD IF NOT EXISTS PARTITION (a='pp', b='q') WITH ('note' = 'hot')")
    assert(env.partitionProperties("pc18_t", "a=pp/b=q") == Map("note" -> "cold"),
      "a skipped IF NOT EXISTS spec must not mutate existing props")
    env.executeSql("ALTER TABLE pc18_t RENAME TO pc18_renamed")
    assert(env.partitionProperties("pc18_renamed", "a=pp/b=q") == Map("note" -> "cold"))
    env.executeSql("DROP TABLE pc18_renamed")
    assert(env.partitionProperties("pc18_renamed", "a=pp/b=q").isEmpty,
      "DROP TABLE must clear the partition-props registry")
    // SHOW TABLES FROM works outside the default catalog too (the
    // free-form database surface non-default catalogs keep)
    env.executeSql("CREATE CATALOG sv18_cat")
    env.executeSql("USE CATALOG sv18_cat")
    env.executeSql("USE freedb")
    env.executeSql("CREATE TABLE cat_t18 (x INT) WITH ('connector' = 'blackhole')")
    assert(env.executeSql("SHOW TABLES FROM freedb").collect()
      .map(_.getString(0)).toSeq == Seq("cat_t18"))
    env.executeSql("USE CATALOG default_catalog")
    env.executeSql("USE default_database")
    assert(env.executeSql("SHOW TABLES FROM sv18_cat.freedb").collect()
      .map(_.getString(0)).toSeq == Seq("cat_t18"),
      "the catalog-qualified FROM form addresses any catalog")
  }

  test("COMPILE PLAN / EXECUTE PLAN: FLIP-190 adaptation persists statement + DDL") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = "/tmp/graft_sql_plan18"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val plan = s"$dir/ins.json"
    env.executeSql("DROP TABLE IF EXISTS plan18_t")
    env.executeSql(
      s"""CREATE TABLE plan18_t (r BIGINT, nm STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t',
         |      'format' = 'parquet')""".stripMargin)
    val ins = "INSERT INTO plan18_t SELECT r_regionkey, r_name FROM region"
    // only INSERT / STATEMENT SET bodies compile (reference grammar)
    val notIns = intercept[IllegalArgumentException] {
      env.executeSql(s"COMPILE PLAN '$plan' FOR SELECT 1")
    }
    assert(notIns.getMessage.contains("INSERT"), notIns.getMessage)
    // COMPILE does NOT execute — the table stays unmaterialized
    env.executeSql(s"COMPILE PLAN '$plan' FOR $ins")
    assert(new java.io.File(plan).isFile)
    assert(!spark.catalog.tableExists("plan18_t"),
      "COMPILE PLAN must not run the statement")
    // overwrite guard with the reference's escape-hatch option
    val over = intercept[IllegalArgumentException] {
      env.executeSql(s"COMPILE PLAN '$plan' FOR $ins")
    }
    assert(over.getMessage.contains("Cannot overwrite the plan file"), over.getMessage)
    env.executeSql(s"COMPILE PLAN '$plan' IF NOT EXISTS FOR $ins") // skip, no error
    env.executeSql("SET 'table.plan.force-recompile' = 'true'")
    env.executeSql(s"COMPILE PLAN '$plan' FOR $ins") // now allowed
    env.executeSql("RESET 'table.plan.force-recompile'")
    // EXECUTE PLAN in a FRESH env: the referenced table is restored
    // from the persisted DDL and the insert runs
    val env2 = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env2.executeSql("DROP TABLE IF EXISTS plan18_t")
    env2.executeSql(s"EXECUTE PLAN '$plan'")
    assert(env2.executeSql("SELECT count(*) AS c FROM plan18_t")
      .collect()(0).getLong(0) == 5)
    assert(env2.executeSql("SHOW CREATE TABLE plan18_t").collect()(0).getString(0)
      .contains("`r` BIGINT"), "restored table carries the persisted schema")
    // missing / non-plan files: graft-level provenance
    val missing = intercept[IllegalArgumentException] {
      env2.executeSql("EXECUTE PLAN '/tmp/graft_no_such_plan.json'")
    }
    assert(missing.getMessage.contains("does not exist"), missing.getMessage)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bogus.json"),
      "{\"not\": \"a plan\"}".getBytes)
    val bogus = intercept[IllegalArgumentException] {
      env2.executeSql(s"EXECUTE PLAN '$dir/bogus.json'")
    }
    assert(bogus.getMessage.contains("not a graft plan file"), bogus.getMessage)
    // COMPILE AND EXECUTE PLAN: writes the file AND runs the body —
    // with a STATEMENT SET body (the grammar's other branch)
    env2.executeSql("DROP TABLE IF EXISTS plan18_t")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/t"))
    env2.executeSql(
      s"""CREATE TABLE plan18_t (r BIGINT, nm STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t',
         |      'format' = 'parquet')""".stripMargin)
    env2.executeSql(
      s"""COMPILE AND EXECUTE PLAN '$dir/set.json' FOR
         |STATEMENT SET BEGIN
         |$ins;
         |INSERT INTO plan18_t SELECT n_nationkey, n_name FROM nation;
         |END""".stripMargin)
    assert(new java.io.File(s"$dir/set.json").isFile)
    assert(env2.executeSql("SELECT count(*) AS c FROM plan18_t")
      .collect()(0).getLong(0) == 30)
    // EXPLAIN treats all three as commands
    intercept[IllegalArgumentException] {
      env2.executeSql(s"EXPLAIN EXECUTE PLAN '$plan'")
    }
  }

  test("COMPILE PLAN closes over views and indirectly-referenced tables (r19)") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = "/tmp/graft_sql_plan19"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq("plan19_src", "plan19_sink").foreach(t =>
      env.executeSql(s"DROP TABLE IF EXISTS $t"))
    Seq("plan19_v1", "plan19_v2").foreach(v =>
      env.executeSql(s"DROP VIEW IF EXISTS $v"))
    env.executeSql(
      s"""CREATE TABLE plan19_src (k BIGINT, nm STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/src',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO plan19_src SELECT r_regionkey, r_name FROM region")
    // a view over the dialect table, and a view over THAT view — the
    // statement below mentions only plan19_v2, so both the view chain
    // and plan19_src are reachable only transitively
    env.executeSql("CREATE VIEW plan19_v1 AS SELECT k, upper(nm) AS nm FROM plan19_src")
    env.executeSql("CREATE VIEW plan19_v2 AS SELECT k, nm FROM plan19_v1 WHERE k < 4")
    env.executeSql(
      s"""CREATE TABLE plan19_sink (k BIGINT, nm STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink',
         |      'format' = 'parquet')""".stripMargin)
    val plan = s"$dir/view_plan.json"
    env.executeSql(
      s"COMPILE PLAN '$plan' FOR INSERT INTO plan19_sink SELECT k, nm FROM plan19_v2")
    // the envelope carries the full closure: both tables (src reached
    // only through view bodies) and both views
    val (_, tables, views, _) = PlanFiles.read(new java.io.File(plan))
    assert(tables.keySet == Set("plan19_sink", "plan19_src"),
      s"closure tables: ${tables.keySet}")
    assert(views.map(_._1).toSet == Set("plan19_v1", "plan19_v2"),
      s"closure views: ${views.map(_._1)}")
    // FRESH session analog: new env, session temp views dropped so
    // nothing survives but the plan file and the src table's data
    val env2 = SqlEnv(spark)
    Seq("plan19_v2", "plan19_v1").foreach(v => env2.executeSql(s"DROP VIEW $v"))
    Seq("plan19_src", "plan19_sink").foreach(t => env2.executeSql(s"DROP TABLE $t"))
    env2.executeSql(s"EXECUTE PLAN '$plan'")
    val rows = env2.executeSql("SELECT k, nm FROM plan19_sink ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 4 && rows.forall { case (k, nm) => k < 4 && nm == nm.toUpperCase },
      s"restored view chain must filter and uppercase: $rows")
    // the restored views are first-class in the new session
    assert(env2.executeSql("SHOW VIEWS").collect().map(_.getString(0)).toSet
      .intersect(Set("plan19_v1", "plan19_v2")) == Set("plan19_v1", "plan19_v2"))
    // version-1 envelopes (no views) still read — forward-compatible
    val v1file = new java.io.File(s"$dir/v1_style.json")
    java.nio.file.Files.write(v1file.toPath,
      ("""{"graftPlanVersion": 1, "statement":
         | "INSERT INTO plan19_sink SELECT k, nm FROM plan19_src",
         | "tables": {}}""".stripMargin.replace("\n", "")).getBytes)
    env2.executeSql(s"EXECUTE PLAN '${v1file.getPath}'")
    assert(env2.executeSql("SELECT count(*) AS c FROM plan19_sink")
      .collect()(0).getLong(0) == 9) // 4 + all 5 regions appended
  }

  test("COMPILE PLAN closes over CREATE FUNCTION DDL (envelope v3, r20)") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = "/tmp/graft_sql_plan20"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq("plan20_src", "plan20_sink", "plan20_decoy").foreach(t =>
      env.executeSql(s"DROP TABLE IF EXISTS $t"))
    env.executeSql("DROP VIEW IF EXISTS plan20_v")
    env.executeSql("DROP FUNCTION IF EXISTS plan20_upper")
    env.executeSql(
      s"""CREATE TABLE plan20_src (k BIGINT, nm STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/src',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO plan20_src SELECT r_regionkey, r_name FROM region")
    // a table the statement mentions ONLY inside a string literal and a
    // comment — it must NOT ride along in the envelope
    env.executeSql(
      s"""CREATE TABLE plan20_decoy (x INT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/decoy',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql(
      "CREATE FUNCTION plan20_upper AS 'graft.TestUdfUpper'")
    // the function is reached only through the VIEW body — the INSERT
    // statement itself never names it
    env.executeSql(
      "CREATE VIEW plan20_v AS SELECT k, plan20_upper(nm) AS nm FROM plan20_src")
    env.executeSql(
      s"""CREATE TABLE plan20_sink (k BIGINT, nm STRING, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/sink',
         |      'format' = 'parquet')""".stripMargin)
    val plan = s"$dir/fn_plan.json"
    env.executeSql(
      s"""COMPILE PLAN '$plan' FOR
         |INSERT INTO plan20_sink
         |SELECT k, nm, 'from plan20_decoy literal' AS tag -- plan20_decoy in comment
         |FROM plan20_v /* plan20_decoy here too */""".stripMargin)
    val (_, tables, views, functions) = PlanFiles.read(new java.io.File(plan))
    assert(tables.keySet == Set("plan20_sink", "plan20_src"),
      s"decoy (literal/comment-only mention) must not ride along: ${tables.keySet}")
    assert(views.map(_._1) == Seq("plan20_v"))
    assert(functions == Seq("plan20_upper" -> "graft.TestUdfUpper"),
      s"function closure: $functions")
    // FRESH-session analog: drop EVERYTHING the plan needs to restore —
    // function included (dropped via the env that created it, which
    // also clears the shared session registry)
    env.executeSql("DROP FUNCTION plan20_upper")
    val env2 = SqlEnv(spark)
    env2.executeSql("DROP VIEW plan20_v")
    Seq("plan20_src", "plan20_sink").foreach(t => env2.executeSql(s"DROP TABLE $t"))
    env2.executeSql(s"EXECUTE PLAN '$plan'")
    val rows = env2.executeSql("SELECT k, nm FROM plan20_sink ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 5 && rows.forall { case (_, nm) => nm == nm.toUpperCase },
      s"restored function must uppercase through the restored view: $rows")
    // the restored function is first-class: SHOW USER FUNCTIONS lists it
    assert(env2.executeSql("SHOW USER FUNCTIONS").collect().map(_.getString(0))
      .contains("plan20_upper"))
    // version-2 envelopes (views, no functions section) still read
    val v2file = new java.io.File(s"$dir/v2_style.json")
    java.nio.file.Files.write(v2file.toPath,
      ("""{"graftPlanVersion": 2, "statement":
         | "INSERT INTO plan20_sink SELECT k, nm, 'x' FROM plan20_v",
         | "tables": {}, "views": []}""".stripMargin.replace("\n", "")).getBytes)
    env2.executeSql(s"EXECUTE PLAN '${v2file.getPath}'")
    assert(env2.executeSql("SELECT count(*) AS c FROM plan20_sink")
      .collect()(0).getLong(0) == 10)
  }

  test("ADD PARTITION WITH props are durable catalog state (r19)") {
    val env = SqlEnv(spark)
    val dir = "/tmp/graft_sql_partprops19"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql("DROP TABLE IF EXISTS pp19_t")
    val ddl =
      s"""CREATE TABLE pp19_t (x INT, a STRING)
         |PARTITIONED BY (a)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t',
         |      'format' = 'parquet')""".stripMargin
    env.executeSql(ddl)
    env.executeSql(
      "ALTER TABLE pp19_t ADD PARTITION (a='cold') WITH ('note' = 'cold', 'tier' = 's3')")
    // a value that ESCAPES on disk reads back through the rendered name
    env.executeSql(
      "ALTER TABLE pp19_t ADD PARTITION (a='m/1') WITH ('note' = 'slash')")
    assert(env.partitionProperties("pp19_t", "a=cold") ==
      Map("note" -> "cold", "tier" -> "s3"))
    // the sidecar lives in the hidden namespace: readers see a normal
    // empty partition, SHOW PARTITIONS lists no phantom entries
    assert(env.executeSql("SELECT count(*) AS c FROM pp19_t")
      .collect()(0).getLong(0) == 0)
    assert(env.executeSql("SHOW PARTITIONS pp19_t").collect()
      .map(_.getString(0)).toSeq == Seq("a=cold", "a=m/1"))
    // FRESH session analog: a new env that re-declares the table reads
    // the props back from the leaf sidecar (the reference's
    // Catalog.getPartition().getProperties() is durable catalog state)
    val envF = SqlEnv(spark)
    envF.executeSql(ddl)
    assert(envF.partitionProperties("pp19_t", "a=cold") ==
      Map("note" -> "cold", "tier" -> "s3"),
      "props must survive into a fresh session")
    assert(envF.partitionProperties("pp19_t", "a=m/1") == Map("note" -> "slash"),
      "escaped-value partitions resolve by their rendered name")
    assert(envF.partitionProperties("pp19_t", "a=nope").isEmpty)
    // DROP PARTITION removes the props with the leaf — durably
    envF.executeSql("ALTER TABLE pp19_t DROP PARTITION (a='cold')")
    val envF2 = SqlEnv(spark)
    envF2.executeSql(ddl)
    assert(envF2.partitionProperties("pp19_t", "a=cold").isEmpty,
      "DROP PARTITION must remove the durable props")
    assert(envF2.partitionProperties("pp19_t", "a=m/1") == Map("note" -> "slash"))
    envF2.executeSql("DROP TABLE pp19_t")
  }

  test("COMPACT: MemorySize option notation and provenance on bad units") {
    val env = SqlEnv(spark)
    val dir = "/tmp/graft_sql_memsize18"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql("DROP TABLE IF EXISTS ms18_t")
    env.executeSql(
      s"""CREATE TABLE ms18_t (id BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet', 'compaction.target-file-size' = '32mb')""".stripMargin)
    spark.range(0, 1000).repartition(8).write.mode("overwrite").parquet(dir)
    env.executeSql("INSERT INTO ms18_t SELECT CAST(-1 AS BIGINT)")
    env.executeSql("ALTER TABLE ms18_t COMPACT") // '32mb' parses, no NumberFormatException
    assert(graft.ops.Compact.partFileCount(spark, dir) < 8)
    assert(env.executeSql("SELECT count(*) AS c FROM ms18_t").collect()(0).getLong(0) == 1001)
    env.executeSql("ALTER TABLE ms18_t SET ('compaction.target-file-size' = '12 parsecs')")
    val bad = intercept[IllegalArgumentException] {
      env.executeSql("ALTER TABLE ms18_t COMPACT")
    }
    assert(bad.getMessage.contains("kb|mb|gb|tb"), bad.getMessage)
    // CTAS TEMPORARY rejection covers the WITH/TABLE body forms too
    val tmpCtas = intercept[IllegalArgumentException] {
      env.executeSql(
        "CREATE TEMPORARY TABLE tt18 AS WITH x AS (SELECT 1 AS a) SELECT * FROM x")
    }
    assert(tmpCtas.getMessage.contains("temporary table"), tmpCtas.getMessage)
    intercept[IllegalArgumentException] {
      env.executeSql("CREATE TEMPORARY TABLE tt18 AS TABLE ms18_t")
    }
    // CREATE FUNCTION provenance: a graft-registered (shared-session)
    // name is reported as such, not mislabeled a built-in — and IF NOT
    // EXISTS treats it as existing (session-level semantics)
    val shared = intercept[IllegalArgumentException] {
      env.executeSql("CREATE FUNCTION minhash AS 'graft.TestUdfUpper'")
    }
    assert(shared.getMessage.contains("shared"), shared.getMessage)
    assert(!shared.getMessage.contains("built-in"), shared.getMessage)
    env.executeSql("CREATE FUNCTION IF NOT EXISTS minhash AS 'graft.TestUdfUpper'")
    assert(spark.sql("SELECT size(minhash(array('a','b'), 8)) AS k")
      .collect()(0).getInt(0) == 8, "the graft registration must survive the skip")
  }

  test("EXPLAIN details (FLIP-162), EXPLAIN STATEMENT SET, EXECUTE statement") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    def explain(sql: String): String =
      env.executeSql(sql).collect()(0).getString(0)
    // ESTIMATED_COST → Spark's cost mode: per-node Statistics estimates
    val cost = explain("EXPLAIN ESTIMATED_COST SELECT r_regionkey FROM region WHERE r_regionkey > 1")
    assert(cost.contains("Statistics(") && cost.contains("sizeInBytes"), cost.take(400))
    // CHANGELOG_MODE: insert-only for a plain query...
    val cm = explain("EXPLAIN CHANGELOG_MODE SELECT r_name FROM region")
    assert(cm.contains("changelogMode=[I] (insert-only)"), cm.takeRight(200))
    // ...retract-encoded when the frame carries graft's row_kind column
    spark.sql("SELECT '+I' AS row_kind, 1 AS x")
      .createOrReplaceTempView("cm18_changelog")
    val cm2 = explain("EXPLAIN CHANGELOG_MODE SELECT * FROM cm18_changelog")
    assert(cm2.contains("changelogMode=[I,UB,UA,D]"), cm2.takeRight(200))
    // JSON_EXECUTION_PLAN appends the physical plan's JSON rendering
    val js = explain("EXPLAIN JSON_EXECUTION_PLAN SELECT count(*) AS c FROM nation")
    assert(js.contains("== Physical Execution Plan (JSON) ==") && js.contains("\"class\""),
      js.takeRight(200))
    // comma-combined details; duplicates rejected with the parser's message
    val both = explain("EXPLAIN ESTIMATED_COST, CHANGELOG_MODE SELECT 1 AS x")
    assert(both.contains("Statistics(") && both.contains("changelogMode="), both.take(200))
    val dup = intercept[IllegalArgumentException] {
      env.executeSql("EXPLAIN ESTIMATED_COST, ESTIMATED_COST SELECT 1")
    }
    assert(dup.getMessage.contains("Duplicate EXPLAIN DETAIL is not allowed."), dup.getMessage)
    // EXPLAIN STATEMENT SET: one section per INSERT, nothing written
    val dir = "/tmp/graft_sql_explainset18"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql("DROP TABLE IF EXISTS es18_t")
    env.executeSql(
      s"""CREATE TABLE es18_t (r BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""".stripMargin)
    val setPlan = explain(
      """EXPLAIN STATEMENT SET BEGIN
        |INSERT INTO es18_t SELECT r_regionkey FROM region;
        |INSERT INTO es18_t SELECT n_nationkey FROM nation;
        |END""".stripMargin)
    assert(setPlan.contains("== Statement 1 ==") && setPlan.contains("== Statement 2 =="))
    assert(!new java.io.File(dir).exists, "EXPLAIN STATEMENT SET must not write")
    // EXECUTE <stmt> (SqlExecute): unwraps to the inner statement
    assert(env.executeSql("EXECUTE SELECT 2 + 3 AS v").collect()(0).getInt(0) == 5)
    env.executeSql("EXECUTE INSERT INTO es18_t SELECT r_regionkey FROM region")
    assert(env.executeSql("SELECT count(*) AS c FROM es18_t").collect()(0).getLong(0) == 5)
  }

  test("BEGIN STATEMENT SET session mode, SHOW variants (USER/FROM/LIKE), DESCRIBE EXTENDED") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    // --- interactive statement-set mode (CliClient semantics) ---
    val dir = "/tmp/graft_sql_beginset18"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql("DROP TABLE IF EXISTS bs18_t")
    env.executeSql(
      s"""CREATE TABLE bs18_t (r BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""".stripMargin)
    // END without BEGIN: the client's exact error
    val noSet = intercept[IllegalArgumentException] { env.executeSql("END;") }
    assert(noSet.getMessage.contains("No Statement Set to submit"), noSet.getMessage)
    env.executeSql("BEGIN STATEMENT SET;")
    env.executeSql("INSERT INTO bs18_t SELECT r_regionkey FROM region")
    env.executeSql("INSERT INTO bs18_t SELECT n_nationkey FROM nation")
    assert(!new java.io.File(dir).exists, "buffered inserts must not execute before END")
    // only inserts (and CTAS) may enter the set — the client's message
    val notIns = intercept[IllegalArgumentException] { env.executeSql("SHOW TABLES") }
    assert(notIns.getMessage == "Only INSERT statement is allowed in Statement Set.",
      notIns.getMessage)
    env.executeSql("END;")
    assert(env.executeSql("SELECT count(*) AS c FROM bs18_t").collect()(0).getLong(0) == 30,
      "END must submit both buffered inserts")
    // mode is off again: END errors, statements execute directly
    intercept[IllegalArgumentException] { env.executeSql("END") }
    // empty set: BEGIN then END is a no-op
    env.executeSql("BEGIN STATEMENT SET")
    env.executeSql("END")
    // --- SHOW USER FUNCTIONS lists only CREATE FUNCTION objects ---
    try spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("ufn18")) catch { case _: Throwable => () }
    env.executeSql("CREATE FUNCTION ufn18 AS 'graft.TestUdfUpper'")
    val userFns = env.executeSql("SHOW USER FUNCTIONS").collect().map(_.getString(0))
    assert(userFns.toSeq == Seq("ufn18"), userFns.mkString(", "))
    assert(env.executeSql("SHOW FUNCTIONS").collect().length > 100,
      "plain SHOW FUNCTIONS lists the full registry")
    env.executeSql("DROP FUNCTION ufn18")
    // --- SHOW TABLES FROM db / [NOT] LIKE pattern ---
    env.executeSql("CREATE DATABASE IF NOT EXISTS sv18_db")
    env.executeSql("USE sv18_db")
    env.executeSql("CREATE TABLE sv18_a (x INT) WITH ('connector' = 'blackhole')")
    env.executeSql("CREATE TABLE sv18_b (x INT) WITH ('connector' = 'blackhole')")
    env.executeSql("CREATE TABLE other18 (x INT) WITH ('connector' = 'blackhole')")
    assert(env.executeSql("SHOW TABLES LIKE 'sv18%'").collect()
      .map(_.getString(0)).toSeq == Seq("sv18_a", "sv18_b"))
    assert(env.executeSql("SHOW TABLES NOT LIKE 'sv18%'").collect()
      .map(_.getString(0)).toSeq == Seq("other18"))
    // '_' is the single-char wildcard
    assert(env.executeSql("SHOW TABLES LIKE 'sv18__'").collect()
      .map(_.getString(0)).toSeq == Seq("sv18_a", "sv18_b"))
    env.executeSql("USE default_database")
    assert(env.executeSql("SHOW TABLES FROM sv18_db").collect()
      .map(_.getString(0)).toSeq == Seq("other18", "sv18_a", "sv18_b"))
    assert(env.executeSql("SHOW TABLES FROM sv18_db LIKE '%18_a'").collect()
      .map(_.getString(0)).toSeq == Seq("sv18_a"))
    intercept[IllegalArgumentException] { env.executeSql("SHOW TABLES FROM no_such_db18") }
    env.executeSql("DROP DATABASE sv18_db CASCADE")
    // --- SHOW COLUMNS ... LIKE + DESCRIBE EXTENDED ---
    env.executeSql("DROP TABLE IF EXISTS svc18_t")
    env.executeSql(
      """CREATE TABLE svc18_t (order_id BIGINT, order_ts TIMESTAMP(3), amount DOUBLE)
        |WITH ('connector' = 'blackhole')""".stripMargin)
    assert(env.executeSql("SHOW COLUMNS FROM svc18_t LIKE 'order%'").collect()
      .map(_.getString(0)).toSeq == Seq("order_id", "order_ts"))
    assert(env.executeSql("SHOW COLUMNS IN svc18_t NOT LIKE 'order%'").collect()
      .map(_.getString(0)).toSeq == Seq("amount"))
    assert(env.executeSql("DESCRIBE EXTENDED svc18_t").collect().length == 3)
    assert(env.executeSql("DESC EXTENDED svc18_t").columns.toSeq ==
      Seq("name", "type", "null", "key", "extras", "watermark"))
  }

  test("ANALYZE then INSERT: the re-registered view must serve post-insert rows") {
    // r16 advice (medium): ANALYZE caches the temp view; a later INSERT
    // re-registers a scan that is sameResult with the cached plan
    // (InMemoryFileIndex equality is rootPaths-based), so without
    // invalidation the SELECT would silently serve stale pre-insert
    // rows from the InMemoryRelation.
    val env = SqlEnv(spark)
    val dir = "/tmp/graft_sql_an_insert"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    env.executeSql(
      s"""CREATE TABLE an_ins_t (id BIGINT, v STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO an_ins_t SELECT CAST(1 AS BIGINT), 'a'")
    env.executeSql("ANALYZE TABLE an_ins_t COMPUTE STATISTICS")
    assert(spark.catalog.isCached("an_ins_t"))
    env.executeSql("INSERT INTO an_ins_t SELECT CAST(2 AS BIGINT), 'b'")
    val rows = env.executeSql("SELECT id FROM an_ins_t ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      s"post-ANALYZE INSERT must be visible: ${rows.mkString("; ")}")
    // NOSCAN / PARTITION forms on a temp view are rejected with the
    // graft-level recipe, not a raw Spark error (r16 advice)
    val noscan = intercept[IllegalArgumentException] {
      env.executeSql("ANALYZE TABLE an_ins_t COMPUTE STATISTICS NOSCAN")
    }
    assert(noscan.getMessage.contains("catalog table"), noscan.getMessage)
    // ...but the rejection is the exact NOSCAN spelling, not a substring
    // match — a FOR COLUMNS list stays accepted whatever the column names
    env.executeSql("ANALYZE TABLE an_ins_t COMPUTE STATISTICS FOR COLUMNS id")
    try spark.catalog.uncacheTable("an_ins_t") catch { case _: Throwable => () }
  }

  test("lexical decoys: a literal, escape or comment never changes a statement's answer") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env.registerTable("lex_jd",
      spark.sql("""SELECT * FROM VALUES ('{"a":1}'), ('nope') AS t(doc)"""))
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_decoy").toString
    val sinks = Seq(
      "DROP TABLE IF EXISTS lex_a", "DROP TABLE IF EXISTS lex_b",
      s"""CREATE TABLE lex_a (k INT) WITH ('connector' = 'filesystem',
         |  'path' = '$dir/a', 'format' = 'parquet')""".stripMargin,
      s"""CREATE TABLE lex_b (k INT) WITH ('connector' = 'filesystem',
         |  'path' = '$dir/b', 'format' = 'parquet')""".stripMargin)
    val readSinks = "SELECT 'a' AS t, k FROM lex_a UNION ALL SELECT 'b', k FROM lex_b"
    val mrBody = "PARTITION BY user_id ORDER BY ts MEASURES COUNT(b.*) AS n " +
      "PATTERN (a b+) WITHIN INTERVAL '1' HOUR DEFINE a AS a.event_type = 'signup'"
    val tvf = "SELECT window_start, COUNT(1) AS n " +
      "FROM TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTE) "
    val sessionAgg = "SESSION_START(ts, INTERVAL '30' MINUTE) AS s, COUNT(1) AS n " +
      "FROM events GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id"
    val timeCast = "CAST(TIMESTAMP '2024-01-01 10:11:12' AS TIME) AS t"
    // (what, statement with its decoy, the same statement minus the
    // decoy, statements run before each, the query read back after)
    case class Pin(what: String, decoyed: String, plain: String,
                   setup: Seq[String] = Nil, readBack: Option[String] = None)
    val pins = Seq(
      Pin("IS JSON after a line comment holding an apostrophe",
        "SELECT doc, -- the doc's check\n doc IS JSON AS ok FROM lex_jd",
        "SELECT doc,\n doc IS JSON AS ok FROM lex_jd"),
      Pin("IS JSON after a double-quoted string holding an apostrophe",
        """SELECT length("it's") AS q, doc IS JSON AS ok FROM lex_jd""",
        "SELECT 4 AS q, doc IS JSON AS ok FROM lex_jd"),
      Pin("IS JSON after a backslash-escaped literal",
        """SELECT length('it\'s') AS q, doc IS JSON AS ok FROM lex_jd""",
        "SELECT 4 AS q, doc IS JSON AS ok FROM lex_jd"),
      Pin("MATCH_RECOGNIZE inside a string literal",
        "SELECT 'MATCH_RECOGNIZE' AS s FROM lex_jd",
        "SELECT concat('MATCH_', 'RECOGNIZE') AS s FROM lex_jd"),
      Pin("MATCH_RECOGNIZE inside a line comment",
        "SELECT doc FROM lex_jd -- no MATCH_RECOGNIZE here",
        "SELECT doc FROM lex_jd"),
      Pin("a MATCH_RECOGNIZE DEFINE whose literal is ')'",
        s"SELECT user_id, n FROM events MATCH_RECOGNIZE ($mrBody AND ')' <> '(')",
        s"SELECT user_id, n FROM events MATCH_RECOGNIZE ($mrBody)"),
      Pin("a commented-out window TVF naming a missing table",
        tvf + "/* was: TUMBLE(TABLE gone_t, DESCRIPTOR(ts), INTERVAL '5' MINUTE) */ " +
          "GROUP BY window_start",
        tvf + "GROUP BY window_start"),
      Pin("a backslash-escaped literal before a legacy SESSION_START/SESSION pair",
        s"SELECT user_id, length('it\\'s') AS q, $sessionAgg",
        s"SELECT user_id, 4 AS q, $sessionAgg"),
      Pin("a backslash-escaped literal before CAST(... AS TIME)",
        s"SELECT length('a\\'b') AS q, $timeCast",
        s"SELECT 3 AS q, $timeCast"),
      Pin("a line comment before CREATE TABLE ... WITH",
        "-- sink\nCREATE TABLE lex_c (k INT) WITH ('connector' = 'blackhole')",
        "CREATE TABLE lex_c (k INT) WITH ('connector' = 'blackhole')",
        setup = Seq("DROP TABLE IF EXISTS lex_c"), readBack = Some("SHOW CREATE TABLE lex_c")),
      Pin("a STATEMENT SET with ';' inside a line comment",
        "EXECUTE STATEMENT SET BEGIN\nINSERT OVERWRITE lex_a SELECT 1; -- first; then b\n" +
          "INSERT OVERWRITE lex_b SELECT 2;\nEND",
        "EXECUTE STATEMENT SET BEGIN\nINSERT OVERWRITE lex_a SELECT 1;\n" +
          "INSERT OVERWRITE lex_b SELECT 2;\nEND",
        setup = sinks, readBack = Some(readSinks)),
      Pin("a STATEMENT SET with an apostrophe inside a block comment",
        "EXECUTE STATEMENT SET BEGIN\nINSERT OVERWRITE lex_a SELECT 1 /* c's */;\n" +
          "INSERT OVERWRITE lex_b SELECT 2;\nEND",
        "EXECUTE STATEMENT SET BEGIN\nINSERT OVERWRITE lex_a SELECT 1;\n" +
          "INSERT OVERWRITE lex_b SELECT 2;\nEND",
        setup = sinks, readBack = Some(readSinks)))
    def answer(p: Pin, stmt: String): Seq[String] = {
      p.setup.foreach(env.executeSql)
      val out = env.executeSql(stmt)
      p.readBack.fold(out)(env.executeSql).collect().map(_.toString).toSeq.sorted
    }
    val failures = pins.flatMap { p =>
      scala.util.Try {
        val (got, want) = (answer(p, p.decoyed), answer(p, p.plain))
        assert(want.nonEmpty, s"${p.what}: the plain statement returned no rows")
        assert(got == want, s"${p.what}: $got != $want")
      }.failed.toOption.map(e => s"${p.what}: " +
        e.getMessage.linesIterator.map(_.trim).find(_.nonEmpty).getOrElse(e.toString))
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("WITH option values read string tokens: a doubled quote is one quote") {
    val env = SqlEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_opts").toString
    env.executeSql("DROP TABLE IF EXISTS lex_q")
    env.executeSql(
      s"""CREATE TABLE lex_q (k INT) WITH ('connector' = 'filesystem',
         |  'path' = '$dir/it''s', 'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO lex_q SELECT 7")
    assert(new java.io.File(s"$dir/it's").isDirectory && !new java.io.File(s"$dir/it").exists,
      s"files must land under it's: ${new java.io.File(dir).list().mkString(", ")}")
    val ddl = env.executeSql("SHOW CREATE TABLE lex_q").collect()(0).getString(0)
    assert(ddl.contains(s"'path' = '$dir/it''s'"), ddl)
    assert(env.executeSql("SELECT k FROM lex_q").collect().map(_.getInt(0)).toSeq == Seq(7))
    env.executeSql("DROP TABLE lex_q")
  }

  /** `s` as the body of a `'` string literal. */
  private def quote(s: String): String = s.replace("'", "''")

  test("SET reads its value from the string token: '' is one quote") {
    val env = SqlEnv(spark)
    env.executeSql("SET 'graft.test.quoted' = 'it''s'")
    val listed = env.executeSql("SET").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(listed.get("graft.test.quoted").contains("it's"), listed.get("graft.test.quoted"))
    env.executeSql("RESET 'graft.test.quoted'")
    assert(!spark.conf.getAll.contains("graft.test.quoted"))
  }

  test("ADD JAR reads its path from the string token: '' is one quote") {
    val env = SqlEnv(spark)
    val jar = java.nio.file.Files.createTempDirectory("graft_jar_quote").resolve("it's.jar")
    new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar)).close()
    env.executeSql(s"ADD JAR '${quote(jar.toString)}'")
    assert(env.executeSql("SHOW JARS").collect().map(_.getString(0)).toSeq == Seq(jar.toString))
  }

  test("COMPILE PLAN and EXECUTE PLAN read the file path from the string token") {
    val env = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_quote").toString
    val plan = s"$dir/it's.json"
    env.executeSql("DROP TABLE IF EXISTS planq_t")
    env.executeSql(
      s"""CREATE TABLE planq_t (r BIGINT, nm STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')""".stripMargin)
    env.executeSql(
      s"COMPILE PLAN '${quote(plan)}' FOR INSERT INTO planq_t SELECT r_regionkey, r_name FROM region")
    assert(new java.io.File(plan).isFile, new java.io.File(dir).list().mkString(", "))
    val env2 = SqlEnv(spark).registerTestdata(TestSpark.sfDir)
    env2.executeSql("DROP TABLE IF EXISTS planq_t")
    env2.executeSql(s"EXECUTE PLAN '${quote(plan)}'")
    assert(env2.executeSql("SELECT count(*) FROM planq_t").collect()(0).getLong(0) == 5)
    env2.executeSql("DROP TABLE planq_t")
  }

  test("a static partition value may hold a ')'") {
    val env = SqlEnv(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_part_paren").toString
    env.executeSql("DROP TABLE IF EXISTS zz_p")
    env.executeSql(
      s"""CREATE TABLE zz_p (x INT, p STRING) PARTITIONED BY (p)
         |WITH ('connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO zz_p PARTITION (p = 'a)b') SELECT 1")
    val rows = env.executeSql("SELECT x, p FROM zz_p").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a)b")))
    env.executeSql("DROP TABLE zz_p")
  }

  test("a second SqlEnv on one session runs no registration statement") {
    val s = spark.newSession()
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = {
        events.add(f)
        if (f == "collect") marker.countDown()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = events.add(f)
    }
    s.listenerManager.register(listener)
    try {
      // the first SqlEnv on a fresh session, then a second one
      SqlEnv(s)
      SqlEnv(s)
      // events of one session arrive in order: the marker query's comes last
      s.range(1).collect()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS), "no marker event")
      assert(events.toArray.toSeq == Seq("collect"))
    } finally s.listenerManager.unregister(listener)
  }

  test("the next SqlEnv restores a graft function the user dropped or replaced") {
    val s = spark.newSession()
    SqlEnv(s)
    def jsonValue() = s.sql("""SELECT json_value('{"a":"x"}', '$.a')""").head().getString(0)
    assert(jsonValue() == "x")
    s.sql("DROP TEMPORARY FUNCTION json_value")
    intercept[org.apache.spark.sql.AnalysisException](jsonValue())
    SqlEnv(s)
    assert(jsonValue() == "x")
    // a graft function is a builder: Spark will not replace it with a
    // SQL function in place, so the user drops it first
    val replace =
      """CREATE OR REPLACE TEMPORARY FUNCTION json_value(j STRING, p STRING)
        |RETURNS STRING RETURN 'user'""".stripMargin
    val e = intercept[org.apache.spark.sql.AnalysisException](s.sql(replace))
    assert(e.getCondition == "USER_DEFINED_FUNCTIONS.CANNOT_REPLACE_NON_SQL_UDF_WITH_SQL_UDF")
    s.sql("DROP TEMPORARY FUNCTION json_value")
    s.sql(replace.replace("OR REPLACE ", ""))
    assert(jsonValue() == "user")
    SqlEnv(s)
    assert(jsonValue() == "x")
  }

  test("a new session gets graft's functions") {
    SqlEnv(spark)
    val s = spark.newSession()
    SqlEnv(s)
    val r = s.sql(
      """SELECT json_value('{"a":"x"}', '$.a'), hamming64(1, 3), split_index('a,b', ',', 1)""")
      .head()
    assert((r.getString(0), r.getInt(1), r.getString(2)) == ("x", 1, "b"))
  }
}
