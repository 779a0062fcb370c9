package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r19 BuiltInFunctionDefinitions coverage sweep — INITCAP with the
  * reference's word boundaries, TYPEOF's Flink type text,
  * TO_TIMESTAMP_LTZ's precision/truncation/range semantics, and the
  * base64 pair (reference: SqlFunctionUtils.initcap:1278 /
  * toBase64:1172, DateTimeUtils.toTimestampData:330). q99 oracles the
  * DuckDB-expressible legs; these pin the ones DuckDB can't replay.
  */
class MiscFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def one(sql: String): Any = {
    graft.functions.functions.register(spark)
    spark.sql(s"SELECT $sql").head.get(0)
  }

  test("initcap uses the reference's any-non-alphanumeric word boundaries") {
    // Spark's builtin splits on SPACE only ('Foo-bar'); the reference
    // (SqlFunctionUtils.initcap) re-arms on every non-[A-Za-z0-9]
    assert(one("initcap('foo-bar')") == "Foo-Bar")
    assert(one("initcap('foo bar_baz.qux')") == "Foo Bar_Baz.Qux")
    // digits start a word without capitalizing anything
    assert(one("initcap('3abc def')") == "3abc Def")
    // inside a word, uppercase flips down
    assert(one("initcap('FOO_BAR')") == "Foo_Bar")
    // non-ASCII letters are boundaries in the reference's ASCII ranges
    assert(one("initcap('éclair')") == "éClair")
    assert(one("initcap('')") == "")
    assert(one("initcap(CAST(NULL AS STRING))") == null)
  }

  test("typeof renders Flink type text") {
    assert(one("typeof(1)") == "INT NOT NULL")
    assert(one("typeof(CAST(1 AS BIGINT))") == "BIGINT NOT NULL")
    assert(one("typeof(CAST(NULL AS STRING))") == "STRING")
    assert(one("typeof(CAST(1.5 AS DOUBLE))") == "DOUBLE NOT NULL")
    // the optional force_serializable flag (reference TYPEOF arity 2):
    // accepted as a boolean literal; both renderings coincide for every
    // graft-representable type
    assert(one("typeof(1, true)") == "INT NOT NULL")
    assert(one("typeof(1, false)") == "INT NOT NULL")
    // a non-literal/non-boolean flag or arity > 2 is a dialect error
    intercept[Exception] { one("typeof(1, 'yes')") }
    intercept[Exception] { one("typeof(1, true, true)") }
  }

  test("to_timestamp_ltz: seconds/millis precisions, truncation, range, error") {
    def ts(sql: String): String =
      Option(one(s"date_format($sql, 'yyyy-MM-dd HH:mm:ss.SSS')"))
        .map(_.toString).orNull
    assert(ts("to_timestamp_ltz(0, 0)") == "1970-01-01 00:00:00.000")
    assert(ts("to_timestamp_ltz(1000, 3)") == "1970-01-01 00:00:01.000")
    // fractional truncates toward zero after scaling ((long)(1.9*1000))
    assert(ts("to_timestamp_ltz(1.9D, 0)") == "1970-01-01 00:00:01.900")
    assert(ts("to_timestamp_ltz(-1.5D, 0)") == "1969-12-31 23:59:58.500")
    // DECIMAL chops scale ROUND_DOWN before converting
    assert(ts("to_timestamp_ltz(CAST(1.99 AS DECIMAL(10,2)), 0)") ==
      "1970-01-01 00:00:01.000")
    // beyond year 9999 (MAX_EPOCH_SECONDS = 253402300799) → NULL
    assert(ts("to_timestamp_ltz(253402300800, 0)") == null)
    assert(ts("to_timestamp_ltz(-62167219201, 0)") == null)
    // unsupported precision raises the reference's message
    val e = intercept[Exception] { one("to_timestamp_ltz(0, 5)") }
    assert(e.getMessage.contains("The precision value '5' for function " +
      "TO_TIMESTAMP_LTZ(numeric, precision) is unsupported"))
    // ... UNCONDITIONALLY: a NULL value argument does not short-circuit
    // the precision check (the reference validates precision first)
    val e2 = intercept[Exception] { one("to_timestamp_ltz(CAST(NULL AS INT), 5)") }
    assert(e2.getMessage.contains("The precision value '5'"))
    // wrong arity gets a dialect validation error, not
    // IndexOutOfBoundsException from the builder
    val e3 = intercept[Exception] { one("to_timestamp_ltz(0)") }
    assert(e3.getMessage.contains("expects exactly 2 arguments"))
  }

  test("to_base64/from_base64 roundtrip, incl. non-ASCII UTF-8") {
    assert(one("to_base64('hello')") == "aGVsbG8=")
    assert(one("from_base64('aGVsbG8=')") == "hello")
    assert(one("from_base64(to_base64('héllo wörld'))") == "héllo wörld")
    assert(one("to_base64(CAST(NULL AS STRING))") == null)
  }

  test("TRUNCATE accepts both arities like the reference (bare numeric = 0 dp)") {
    // FlinkSqlOperatorTable:226 — NUMERIC_INTEGER or bare NUMERIC
    assert(one("truncate(42.195D)") == 42.0)
    assert(one("truncate(-1.9D)") == -1.0)
    assert(one("truncate(42.195D, 2)") == 42.19)
    assert(one("truncate(CAST(NULL AS DOUBLE))") == null)
  }

  test("TRUNCATE inside a lambda") {
    assert(one("transform(array(1.234, 5.678), x -> truncate(x, 1))") == Seq(1.2, 5.6))
  }

  test("each SQL-bodied function agrees with its body declared as a SQL function") {
    val s = spark.newSession()
    graft.functions.functions.register(s)
    val fns = graft.functions.functions.sqlBodied
    assert(fns.size == 15)
    // the reference: the same body through Spark's own SQL functions
    fns.foreach { f =>
      val params = f.params.map { case (n, t) => s"$n ${t.sql}" }.mkString(", ")
      s.sql(s"CREATE TEMPORARY FUNCTION ref_${f.name}($params) " +
        s"RETURNS ${f.returns.sql} RETURN ${f.body}")
    }
    s.sql(
      """CREATE TEMPORARY VIEW t AS SELECT * FROM VALUES
        |  ('{"a":{"b":"1"}}', '12', 1.2345D, 2, 'g1'),
        |  ('{"a":[1,2]}', 'ab', -7.891D, 1, 'g1'),
        |  ('nope', NULL, NULL, NULL, 'g2'),
        |  (NULL, '3.5e2', 123456789.987654321D, 3, 'g2'),
        |  ('"s"', 'x,y,z', 9007199254740993D, 0, 'g3')
        |AS t(j, s, x, d, g)""".stripMargin)
    // `@f(` calls graft's f in one run and ref_f in the other
    def rows(query: String, prefix: String) = {
      val df = s.sql(query.replace("@", prefix))
      (df.schema.map(_.dataType), df.collect().map(_.toString).sorted.toSeq)
    }
    def same(query: String): Unit =
      assert(rows(query, "") == rows(query, "ref_"), query)
    val calls = Seq(
      "@json_value(j, '$.a.b')", "@json_value(j, '$.a')", "@json_query(j, '$.a')",
      "@json_exists(j, '$.a')", "@is_json(j)", "@sha224(s)", "@sha384(s)", "@sha512(s)",
      "@split_index(s, ',', d)", "@split_index(s, '.', 0)", "@__truncate2(x, d)",
      "@is_alpha(s)", "@is_digit(s)", "@is_decimal(s)", "@rand_integer(1)",
      "@to_base64(s)", "@from_base64(@to_base64(s))")
    calls.foreach(c => same(s"SELECT $c FROM t"))
    // NULL for every argument, typed and untyped
    fns.foreach { f =>
      same(s"SELECT @${f.name}(${f.params.map(_ => "NULL").mkString(", ")})")
      same(s"SELECT @${f.name}(${f.params.map(p => s"CAST(NULL AS ${p._2.sql})").mkString(", ")})")
    }
    // implicit casts to the parameter types
    Seq("@is_digit(123)", "@sha224(42)", "@split_index(12345, 3, 1.7)",
      "@__truncate2(CAST(1.55 AS DECIMAL(4,2)), '1')", "@is_json(42)", "@rand_integer(0.5)")
      .foreach(c => same(s"SELECT $c"))
    // nested calls
    same("""SELECT @json_value(@json_query(j, '$.a'), '$.b'), @is_digit(@split_index(s, ',', 1)),
           |  @from_base64(@to_base64(@sha512(s))) FROM t""".stripMargin)
    // GROUP BY, HAVING, aggregate arguments and window ORDER BY
    same("SELECT @is_json(j), count(*) FROM t GROUP BY @is_json(j)")
    same("SELECT g FROM t GROUP BY g HAVING @is_alpha(max(s))")
    same("SELECT g, max(@sha224(s)), sum(@__truncate2(x, 1)) FROM t GROUP BY g")
    same("SELECT s, row_number() OVER (ORDER BY @is_digit(s), s) FROM t")
    // a nondeterministic argument is evaluated once, however often the
    // body names it: the same as over a materialized rand(5)
    val r = s.sql("SELECT rand(5)").head().getDouble(0)
    val inline = s.sql("SELECT __truncate2(rand(5), 2)")
    assert(inline.head().getDouble(0) == (r * 100).toLong.toDouble / 100)
    assert(inline.head().getDouble(0) ==
      s.sql("SELECT ref___truncate2(r, 2) FROM (SELECT rand(5) AS r)").head().getDouble(0))
    val rands = inline.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.Rand => e
    }))
    assert(rands.size == 1, inline.queryExecution.optimizedPlan.toString)
    // a wrong argument count is the same error
    def arity(q: String) = {
      val e = intercept[org.apache.spark.sql.AnalysisException](s.sql(q).collect())
      (e.getCondition, e.getMessageParameters.get("expectedNum"), e.getMessageParameters.get("actualNum"))
    }
    assert(arity("SELECT json_value('{}')") == arity("SELECT ref_json_value('{}')"))
    assert(arity("SELECT is_digit('1', '2')") == arity("SELECT ref_is_digit('1', '2')"))
    assert(arity("SELECT is_digit('1', '2')")._1 == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
  }

  test("from_unixtime and ifnull are the same-named Spark builtins") {
    assert(one("from_unixtime(86400)") == "1970-01-02 00:00:00")
    assert(one("ifnull(CAST(NULL AS STRING), 'fallback')") == "fallback")
    assert(one("ifnull('x', 'fallback')") == "x")
  }
}
