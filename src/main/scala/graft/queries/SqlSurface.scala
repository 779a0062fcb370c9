package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** SQL-text operator surfaces added in round 5:
  *
  *  - ScriptTransform — the reference's Hive-compatible script operator
  *    (flink-table/flink-table-planner/.../plan/nodes/exec/batch/
  *    BatchExecScriptTransform.java), which pipes rows through an
  *    external process. Spark's sql/core implements the same `SELECT
  *    TRANSFORM ... USING '<cmd>'` clause natively in no-serde mode
  *    (tab-delimited text in/out, one process per task) — no Hive
  *    metastore or SerDe classes involved, so it works in an in-memory
  *    catalog session.
  *
  *  - Legacy group windows — Flink 1.16's pre-TVF windowed-aggregate
  *    SQL (`GROUP BY TUMBLE/HOP/SESSION(ts, INTERVAL ...)` with
  *    TUMBLE_START/SESSION_END/... auxiliaries; planned by
  *    StreamExecGroupWindowAggregate, runtime RT/window/
  *    WindowOperator.java:97). [[graft.sql.SqlEnv]] rewrites the text
  *    onto Spark's window()/session_window() grouping — one physical
  *    plan shared with the TVF and DataFrame paths.
  */
object SqlSurface extends QueryModule {

  private def sinkDir(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sql_${tag}_${math.abs(dir.hashCode)}"

  def declared: Seq[Query] = Seq(
    // ---- Enriched DDL workflow: computed + metadata columns, ---------
    // CREATE VIEW, and EXECUTE STATEMENT SET (round-5 SQL surface).
    // Reference anchors: SqlTableColumn.SqlComputedColumn /
    // SqlMetadataColumn (flink-sql-parser parserImpls.ftl:787,814),
    // SqlStatementSet (:1943), SqlCreateView. The oracle recomputes
    // the computed columns and the hi/lo routing from the raw orders
    // table; the metadata column is gated by a data-computed contract
    // boolean (every source file name ends in .parquet), the q63/q71
    // pattern for values DuckDB cannot observe.
    // ---- CTAS: CREATE TABLE ... AS SELECT (FLIP-218, r16 directive #1)
    // Reference: flink-sql-parser ddl/SqlCreateTableAs.java (new in the
    // 1.16 release), converted to create-then-insert. The derived table
    // materializes a real transform (join + aggregate) at the sink
    // path, is re-read through the registered view, and is INSERT-able
    // afterwards (the second INSERT appends the low-balance rows, so
    // the oracle covers ALL suppliers — proving the CTAS table behaves
    // like any CREATE TABLE'd one).
    Query("q95_ctas",
      """SELECT s_suppkey AS suppkey, s_name AS sname, n_name AS nation,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s).registerTestdata(dir)
      val sink = sinkDir("ctas", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sink))
      env.executeSql("DROP TABLE IF EXISTS ctas_sup_stats")
      env.executeSql(
        s"""CREATE TABLE ctas_sup_stats
           |WITH ('connector' = 'filesystem', 'path' = '$sink',
           |      'format' = 'parquet')
           |AS SELECT s.s_suppkey AS suppkey, s.s_name AS sname,
           |          n.n_name AS nation,
           |          CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
           |   FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
           |   WHERE s.s_acctbal >= 0""".stripMargin)
      env.executeSql(
        """INSERT INTO ctas_sup_stats
          |SELECT s.s_suppkey, s.s_name, n.n_name,
          |       CAST(round(s.s_acctbal * 100) AS BIGINT)
          |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
          |WHERE s.s_acctbal < 0""".stripMargin)
      env.executeSql(
        "SELECT suppkey, sname, nation, bal_cents FROM ctas_sup_stats")
    },

    // ---- Partition DDL: ALTER TABLE ADD/DROP PARTITION (r17 directive
    // #1; reference ddl/SqlAddPartitions.java / SqlDropPartitions.java,
    // converter-wired SqlToOperationConverter.java:544,557). A
    // partitioned copy of orders is built with a dynamic INSERT, an
    // empty partition is ADDed (visible to SHOW PARTITIONS, zero rows —
    // asserted here because DuckDB cannot observe directory listings),
    // and one real partition is DROPped; the final read must equal the
    // oracle's complement aggregate. Scale: ADD/DROP are one filesystem
    // call per spec (no Spark job), and the read prunes the dropped
    // leaf at the partition-discovery level.
    // the ADD'ed empty partition contributes zero rows (asserted Spark-
    // side); the oracle is the complement of the DROPped partition
    Query("q97_partition_ddl",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s).registerTestdata(dir)
      val root = sinkDir("partddl", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      env.executeSql("DROP TABLE IF EXISTS part_orders_q97")
      env.executeSql(
        s"""CREATE TABLE part_orders_q97 (o_orderkey BIGINT, o_totalprice DOUBLE,
           |  o_orderpriority STRING)
           |PARTITIONED BY (o_orderpriority)
           |WITH ('connector' = 'filesystem', 'path' = '$root',
           |      'format' = 'parquet')""".stripMargin)
      env.executeSql(
        """INSERT INTO part_orders_q97
          |SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders""".stripMargin)
      env.executeSql(
        "ALTER TABLE part_orders_q97 ADD IF NOT EXISTS PARTITION (o_orderpriority = '9-SYNTHETIC')")
      env.executeSql(
        "ALTER TABLE part_orders_q97 DROP PARTITION (o_orderpriority = '1-URGENT')")
      val parts = env.executeSql("SHOW PARTITIONS part_orders_q97")
        .collect().map(_.getString(0))
      require(parts.contains("o_orderpriority=9-SYNTHETIC") &&
        !parts.contains("o_orderpriority=1-URGENT"),
        s"partition DDL must be visible in SHOW PARTITIONS: ${parts.mkString(", ")}")
      env.executeSql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM part_orders_q97 GROUP BY o_orderpriority""".stripMargin)
    },

    // ---- FLIP-190 plan-file lifecycle (r19 directive #7; reference
    // ddl/SqlCompilePlan.java, dml/SqlExecutePlan.java, executed by
    // TableEnvironmentImpl.compilePlanAndWrite:771): a dialect source
    // table is materialized, a VIEW is laid over it, and an INSERT that
    // reads ONLY the view is compiled to a plan file. A fresh env with
    // every registration dropped then EXECUTE PLANs the file — the
    // envelope must restore the source table, the sink table AND the
    // view closure (the r19 transitive-closure fix) before the insert
    // re-runs. The final read hashes against the oracle's equivalent
    // aggregate over the raw table, so a restore that loses the view's
    // filter or projection fails the gate. Scale: COMPILE/EXECUTE are
    // metadata + file I/O; the insert is the only Spark job.
    // the plan file's insert aggregates the view (positive balances in
    // cents) — the oracle recomputes from the raw customer table
    Query("q98_plan_lifecycle",
      """SELECT c_mktsegment AS seg, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s).registerTestdata(dir)
      val root = sinkDir("planlc", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      env.executeSql("DROP TABLE IF EXISTS plan_src_q98")
      env.executeSql("DROP TABLE IF EXISTS plan_sink_q98")
      env.executeSql("DROP VIEW IF EXISTS plan_view_q98")
      env.executeSql(
        s"""CREATE TABLE plan_src_q98 (c_custkey BIGINT, c_acctbal DOUBLE,
           |  c_mktsegment STRING)
           |WITH ('connector' = 'filesystem', 'path' = '$root/src',
           |      'format' = 'parquet')""".stripMargin)
      env.executeSql(
        """INSERT INTO plan_src_q98
          |SELECT c_custkey, c_acctbal, c_mktsegment FROM customer""".stripMargin)
      env.executeSql(
        """CREATE VIEW plan_view_q98 AS
          |SELECT c_mktsegment AS seg,
          |       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          |FROM plan_src_q98 WHERE c_acctbal > 0""".stripMargin)
      env.executeSql(
        s"""CREATE TABLE plan_sink_q98 (seg STRING, n BIGINT, cents BIGINT)
           |WITH ('connector' = 'filesystem', 'path' = '$root/sink',
           |      'format' = 'parquet')""".stripMargin)
      env.executeSql(
        s"""COMPILE PLAN '$root/q98_plan.json' FOR
           |INSERT INTO plan_sink_q98
           |SELECT seg, count(*), sum(cents) FROM plan_view_q98 GROUP BY seg""".stripMargin)
      // fresh-session analog: a new env, with the session-global temp
      // registrations dropped so only the plan file + on-disk src remain
      val env2 = graft.sql.SqlEnv(s)
      env2.executeSql("DROP VIEW plan_view_q98")
      env2.executeSql("DROP TABLE plan_sink_q98")
      env2.executeSql("DROP TABLE plan_src_q98")
      env2.executeSql(s"EXECUTE PLAN '$root/q98_plan.json'")
      env2.executeSql("SELECT seg, n, cents FROM plan_sink_q98")
    },

    Query("q83_ddl_enriched",
      """SELECT CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS side,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS meta_ok
        |FROM orders
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      val hi = sinkDir("hi", dir); val lo = sinkDir("lo", dir)
      env.executeSql(
        s"""CREATE TABLE orders_enriched (
           |  o_orderkey BIGINT,
           |  o_totalprice DOUBLE,
           |  o_orderdate TIMESTAMP(3),
           |  fname STRING METADATA FROM 'file.name' VIRTUAL,
           |  o_year AS CAST(year(o_orderdate) AS INT),
           |  cents AS CAST(round(o_totalprice * 100) AS BIGINT)
           |) WITH ('connector' = 'filesystem',
           |        'path' = '$dir/orders.parquet', 'format' = 'parquet')""".stripMargin)
      env.executeSql(
        s"""CREATE TABLE sink_hi (o_orderkey BIGINT, o_year INT, cents BIGINT, fname STRING)
           |WITH ('connector' = 'filesystem', 'path' = '$hi', 'format' = 'parquet')""".stripMargin)
      env.executeSql(
        s"""CREATE TABLE sink_lo (o_orderkey BIGINT, o_year INT, cents BIGINT, fname STRING)
           |WITH ('connector' = 'filesystem', 'path' = '$lo', 'format' = 'json')""".stripMargin)
      env.executeSql(
        """EXECUTE STATEMENT SET BEGIN
          |INSERT OVERWRITE sink_hi SELECT o_orderkey, o_year, cents, fname
          |  FROM orders_enriched WHERE o_totalprice > 150000;
          |INSERT OVERWRITE sink_lo SELECT o_orderkey, o_year, cents, fname
          |  FROM orders_enriched WHERE o_totalprice <= 150000;
          |END""".stripMargin)
      env.executeSql(
        """CREATE TEMPORARY VIEW routed AS
          |SELECT 'hi' AS side, o_orderkey, o_year, cents, fname FROM sink_hi
          |UNION ALL
          |SELECT 'lo' AS side, o_orderkey, o_year, cents, fname FROM sink_lo""".stripMargin)
      env.executeSql(
        """SELECT side, o_year, count(*) AS n, sum(cents) AS sum_cents,
          |  every(fname LIKE '%.parquet') AS meta_ok
          |FROM routed GROUP BY side, o_year""".stripMargin)
    },
    // ---- ScriptTransform: pipe rows through an external process -------
    // `tr A-Z a-z` lowercases the priority column; the aggregate on top
    // proves every row made the round trip (sum over parsed-back keys).
    // Scale: one `tr` process per partition, rows streamed through
    // stdin/stdout — the reference's per-subtask process model; no
    // driver involvement, no shuffle beyond the final groupBy.
    Query("q80_script_transform",
      """SELECT lower(o_orderpriority) AS lower_priority,
        |  count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_q80")
      s.sql("""
        SELECT CAST(k AS BIGINT) AS o_orderkey, pri AS lower_priority
        FROM (
          SELECT TRANSFORM(o_orderkey, o_orderpriority)
            ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'
            USING 'tr A-Z a-z'
            AS (k, pri)
            ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'
          FROM orders_q80
        )
      """).groupBy(col("lower_priority"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("sum_key"))
    },

    // ---- Legacy group-window SQL: GROUP BY SESSION(...) ---------------
    // The q22 session-window shape expressed in the reference's legacy
    // SQL dialect, executed through SqlEnv's rewrite; the oracle is the
    // same lag/gap sessionization DuckDB replay q22 uses.
    Query("q81_legacy_session_sql",
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessioned AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM sessioned
        |GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events_q81")
      env.executeSql("""
        SELECT user_id,
          SESSION_START(ts, INTERVAL '30' MINUTE) AS session_start,
          SESSION_END(ts, INTERVAL '30' MINUTE) AS session_end,
          COUNT(1) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events_q81
        GROUP BY SESSION(ts, INTERVAL '30' MINUTE), user_id
      """)
    },

    // ---- Legacy session SQL with a DYNAMIC per-row gap -----------------
    // q87's SessionWindowTimeGapExtractor analog through the SQL-TEXT
    // surface (r12 directive #4): the legacy GROUP BY SESSION rewrite
    // accepts a CASE gap expression (paren-balanced scan) and passes it
    // to Spark's session_window, which merges with the per-row gap in
    // the same native MergingSessions operator as the DataFrame path.
    // Oracle: identical to q87's prefix-max overlap-chain replay.
    // same prefix-max overlap-chain replay as q87's oracle — the SQL-text
    // path and the DataFrame path must agree row-for-row
    Query("q88_dynamic_session_sql",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    ts + CASE WHEN event_type = 'purchase' THEN INTERVAL '45 minutes'
        |              ELSE INTERVAL '15 minutes' END AS wend
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, value, wend,
        |    CASE WHEN MAX(wend) OVER pre IS NULL
        |           OR ts > MAX(wend) OVER pre
        |         THEN 1 ELSE 0 END AS brk
        |  FROM g
        |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), sessioned AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  CAST(MAX(wend) AS TIMESTAMP) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM sessioned GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events_q88")
      env.executeSql("""
        SELECT user_id,
          SESSION_START(ts, CASE WHEN event_type = 'purchase'
                                 THEN INTERVAL '45' MINUTE
                                 ELSE INTERVAL '15' MINUTE END) AS session_start,
          SESSION_END(ts, CASE WHEN event_type = 'purchase'
                               THEN INTERVAL '45' MINUTE
                               ELSE INTERVAL '15' MINUTE END) AS session_end,
          COUNT(1) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events_q88
        GROUP BY SESSION(ts, CASE WHEN event_type = 'purchase'
                                  THEN INTERVAL '45' MINUTE
                                  ELSE INTERVAL '15' MINUTE END), user_id
      """)
    },

    // ---- SQL/JSON standard family (SqlJsonUtils.java; functions/ ----
    // json.scala): JSON_VALUE/JSON_QUERY/JSON_EXISTS scalar access,
    // the IS JSON predicate and JSON_OBJECT(KEY..VALUE) call syntax
    // (both SqlEnv text rewrites), JSON_STRING serialization. The doc
    // under test is assembled from columns identically in both
    // engines; both minify on re-serialization (probed), so the
    // object-valued extractions compare bit-for-bit.
    Query("q85_sql_json",
      """WITH j AS (
        |  SELECT event_id, event_type,
        |         concat('{"id":', event_id, ',"type":"', event_type,
        |                '","props":', props, '}') AS doc
        |  FROM events WHERE event_id < 200
        |)
        |SELECT CAST(event_id AS BIGINT) AS event_id,
        |  CASE WHEN json_type(doc, '$.type') IN ('OBJECT', 'ARRAY') THEN NULL
        |       ELSE json_extract_string(doc, '$.type') END AS jv_type,
        |  CAST(CASE WHEN json_type(doc, '$.props.k') IN ('OBJECT', 'ARRAY') THEN NULL
        |            ELSE json_extract_string(doc, '$.props.k') END AS BIGINT) AS jv_k,
        |  CASE WHEN json_type(doc, '$.props') IN ('OBJECT', 'ARRAY')
        |       THEN CAST(json_extract(doc, '$.props') AS VARCHAR) ELSE NULL END AS jq_props,
        |  json_type(doc, '$.props.k') IS NOT NULL AS ex_k,
        |  json_valid(doc) AS isj,
        |  CAST(json_object('id', event_id) AS VARCHAR) AS obj,
        |  CAST(to_json(event_type) AS VARCHAR) AS js
        |FROM j""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events_q85")
      env.executeSql("""
        WITH j AS (
          SELECT event_id, event_type,
                 concat('{"id":', event_id, ',"type":"', event_type,
                        '","props":', props, '}') AS doc
          FROM events_q85 WHERE event_id < 200
        )
        SELECT CAST(event_id AS BIGINT) AS event_id,
               json_value(doc, '$.type') AS jv_type,
               CAST(json_value(doc, '$.props.k') AS BIGINT) AS jv_k,
               json_query(doc, '$.props') AS jq_props,
               json_exists(doc, '$.props.k') AS ex_k,
               doc IS JSON AS isj,
               JSON_OBJECT(KEY 'id' VALUE event_id) AS obj,
               json_string(event_type) AS js
        FROM j
      """)
    },

    // ---- JSON aggregates (JsonObjectAggFunction.java / -------------
    // JsonArrayAggFunction.java): entries sorted for determinism at
    // any parallelism (documented narrowing — the reference emits in
    // nondeterministic arrival order); the oracle rebuilds the same
    // sorted serialization with string_agg ORDER BY.
    Query("q86_json_agg",
      """WITH g AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, user_id
        |)
        |SELECT event_type,
        |  '{' || string_agg('"' || CAST(user_id AS VARCHAR) || '":' || CAST(n AS VARCHAR),
        |                    ',' ORDER BY CAST(user_id AS VARCHAR)) || '}' AS obj,
        |  '[' || string_agg(CAST(n AS VARCHAR), ',' ORDER BY n) || ']' AS arr
        |FROM g GROUP BY event_type""".stripMargin) { (s, dir) =>
      val env = graft.sql.SqlEnv(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("events_q86")
      env.executeSql("""
        SELECT event_type,
               JSON_OBJECTAGG(KEY CAST(user_id AS STRING) VALUE n) AS obj,
               JSON_ARRAYAGG(n) AS arr
        FROM (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
              FROM events_q86 GROUP BY event_type, user_id)
        GROUP BY event_type
      """)
    }
  )
}
