package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.SqlEnv

/** The SQL/JSON standard family + BuiltInFunctionDefinitions
  * stragglers (functions/json.scala), including the KEY..VALUE and
  * IS JSON text rewrites in SqlEnv.
  */
class JsonFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val env = SqlEnv(spark)

  private def one(sql: String): org.apache.spark.sql.Row =
    env.executeSql(s"SELECT $sql").collect().head

  test("JSON_VALUE: scalar results only, lax path, NULL on empty/error") {
    assert(one("""json_value('{"a": {"k": 87}}', '$.a.k') AS v""").getString(0) == "87")
    assert(one("""json_value('{"a": "x"}', '$.a') AS v""").getString(0) == "x")
    // non-scalar result → error → NULL (SqlJsonUtils.jsonValue defaults)
    assert(one("""json_value('{"a": {"k": 1}}', '$.a') AS v""").isNullAt(0))
    assert(one("""json_value('{"a": [1]}', '$.a') AS v""").isNullAt(0))
    // empty (absent path) → NULL; invalid JSON → NULL
    assert(one("""json_value('{"a": 1}', '$.b') AS v""").isNullAt(0))
    assert(one("""json_value('nope', '$.a') AS v""").isNullAt(0))
    // a scalar STRING whose text looks like a container is still a
    // scalar (classified by node type, not by the re-serialized text —
    // SqlJsonUtils checks the parsed node)
    assert(one("""json_value('{"a": "[x]"}', '$.a') AS v""").getString(0) == "[x]")
    assert(one("""json_value('{"a": "{oops"}', '$.a') AS v""").getString(0) == "{oops")
    // explicit JSON null is a scalar null → SQL NULL
    assert(one("""json_value('{"a": null}', '$.a') AS v""").isNullAt(0))
  }

  test("JSON_QUERY: object/array results only, minified") {
    assert(one("""json_query('{"a": {"k": 87}}', '$.a') AS v""").getString(0) == """{"k":87}""")
    assert(one("""json_query('{"a": [1, 2]}', '$.a') AS v""").getString(0) == "[1,2]")
    // scalar result → error → NULL (WITHOUT ARRAY WRAPPER default),
    // even when the scalar's text starts with a bracket
    assert(one("""json_query('{"a": 1}', '$.a') AS v""").isNullAt(0))
    assert(one("""json_query('{"a": "[x]"}', '$.a') AS v""").isNullAt(0))
  }

  test("JSON_EXISTS and IS JSON (incl. the predicate rewrite)") {
    assert(one("""json_exists('{"a": 1}', '$.a') AS v""").getBoolean(0))
    assert(!one("""json_exists('{"a": 1}', '$.b') AS v""").getBoolean(0))
    // an explicit JSON null EXISTS (SqlJsonUtils.jsonExists: the node
    // is there) — distinguished from the absent path above
    assert(one("""json_exists('{"a": null}', '$.a') AS v""").getBoolean(0))
    assert(one("""json_exists('{"a": [1, 2]}', '$.a[1]') AS v""").getBoolean(0))
    // the IS JSON predicate text is rewritten onto is_json()
    assert(one("""('{"a":1}' IS JSON) AS v""").getBoolean(0))
    assert(one("""('123' IS JSON) AS v""").getBoolean(0))
    assert(one("""('null' IS JSON) AS v""").getBoolean(0))
    assert(!one("""('nope' IS JSON) AS v""").getBoolean(0))
    assert(one("""('nope' IS NOT JSON) AS v""").getBoolean(0))
    // call operands (incl. nested parens) and parenthesized exprs
    assert(one("""(upper('{"a":1}') IS JSON) AS v""").getBoolean(0))
    assert(one("""(concat(upper('{'), '}') IS JSON) AS v""").getBoolean(0))
    assert(one("""(('{' || '}') IS JSON) AS v""").getBoolean(0))
    // a literal containing the words IS JSON is left alone
    assert(one("""('this IS JSON text' IS NOT JSON) AS v""").getBoolean(0))
    // an operand the scanner cannot capture fails loudly, not confusingly
    intercept[IllegalArgumentException] {
      env.executeSql("SELECT 1 + IS JSON")
    }
  }

  test("JSON_OBJECT / JSON_ARRAY constructors with KEY..VALUE syntax") {
    assert(one("""JSON_OBJECT(KEY 'id' VALUE 5) AS v""").getString(0) == """{"id":5}""")
    assert(one("""JSON_OBJECT(KEY 'a' VALUE 1, KEY 'b' VALUE 'x') AS v""")
      .getString(0) == """{"a":1,"b":"x"}""")
    // NULL ON NULL is the JSON_OBJECT default; ABSENT ON NULL drops
    assert(one("""JSON_OBJECT(KEY 'a' VALUE CAST(NULL AS INT)) AS v""")
      .getString(0) == """{"a":null}""")
    assert(one("""JSON_OBJECT(KEY 'a' VALUE CAST(NULL AS INT) ABSENT ON NULL) AS v""")
      .getString(0) == "{}")
    // nested object call
    assert(one("""JSON_OBJECT(KEY 'o' VALUE JSON_OBJECT(KEY 'i' VALUE 1)) AS v""")
      .getString(0) == """{"o":"{\"i\":1}"}""")
    // JSON_ARRAY: ABSENT ON NULL default, NULL ON NULL keeps
    assert(one("""JSON_ARRAY(1, CAST(NULL AS INT), 3) AS v""").getString(0) == "[1,3]")
    assert(one("""JSON_ARRAY(1, CAST(NULL AS INT), 3 NULL ON NULL) AS v""")
      .getString(0) == "[1,null,3]")
  }

  test("JSON_OBJECTAGG / JSON_ARRAYAGG aggregates (sorted => deterministic)") {
    val df = env.executeSql(
      """SELECT JSON_OBJECTAGG(KEY k VALUE v) AS o, JSON_ARRAYAGG(v) AS a
        |FROM VALUES ('b', 2), ('a', 1), ('c', NULL) AS t(k, v)""".stripMargin)
    val r = df.collect().head
    assert(r.getString(0) == """{"a":1,"b":2,"c":null}""")
    assert(r.getString(1) == "[1,2]") // collect_list drops null = ABSENT ON NULL
    // duplicate keys upsert (JsonObjectAggFunction last-wins; under the
    // sorted deterministic order that is the greatest value per key)
    val dup = env.executeSql(
      """SELECT JSON_OBJECTAGG(KEY k VALUE v) AS o
        |FROM VALUES ('a', 1), ('a', 2), ('b', 3) AS t(k, v)""".stripMargin)
    assert(dup.collect().head.getString(0) == """{"a":2,"b":3}""")
  }

  test("JSON_STRING serializes scalars with JSON escaping") {
    assert(one("""json_string('hi "there"') AS v""").getString(0) == """"hi \"there\""""")
    assert(one("""json_string(1.5D) AS v""").getString(0) == "1.5")
    assert(one("""json_string(true) AS v""").getString(0) == "true")
    assert(one("""json_string(CAST(NULL AS STRING)) AS v""").isNullAt(0))
  }

  test("SHA224/384/512, ELEMENT, SUM0, CURRENT_ROW_TIMESTAMP") {
    val r = one("""sha224('abc') AS a, sha384('abc') AS b, sha512('abc') AS c""")
    assert(r.getString(0) == "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")
    assert(r.getString(1).length == 96 && r.getString(2).length == 128)
    assert(one("""element(array(42)) AS v""").getInt(0) == 42)
    assert(one("""element(array()) AS v""").isNullAt(0))
    assert(one("""element(CAST(NULL AS ARRAY<INT>)) AS v""").isNullAt(0))
    intercept[Exception] {
      env.executeSql("SELECT element(array(1, 2)) AS v").collect()
    }
    val s = env.executeSql(
      """SELECT sum0(v) AS z FROM VALUES (CAST(NULL AS INT)) AS t(v)
        |WHERE v IS NOT NULL""".stripMargin).collect().head
    assert(!s.isNullAt(0) && s.getLong(0) == 0L)
    assert(!one("current_row_timestamp() AS v").isNullAt(0))
  }

  test("JSON_VALUE and IS JSON inside lambdas") {
    val v = one("""transform(array('{"a":1}', '{"a":[2]}'), x -> json_value(x, '$.a')) AS v""")
    assert(v.getSeq[String](0) == Seq("1", null))
    val j = one("""filter(array('{}', 'nope', '[1]'), s -> is_json(s)) AS v""")
    assert(j.getSeq[String](0) == Seq("{}", "[1]"))
  }
}
