package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The SQL/JSON standard function family plus the last
  * BuiltInFunctionDefinitions stragglers, registered as SQL names.
  *
  * Reference semantics (flink-table-runtime/.../functions/SqlJsonUtils.java):
  *  - JSON_VALUE (jsonValue:138): lax path, RETURNING STRING, NULL ON
  *    EMPTY / NULL ON ERROR defaults → a non-scalar result is an error
  *    → NULL. Here: `get_json_object` (same Jackson-style lax access,
  *    same minified re-serialization) gated by [[JsonNodeKind]] — the
  *    ACTUAL parsed node type, like the reference — so a scalar string
  *    whose text starts with '[' or '{' still classifies as a string.
  *  - JSON_QUERY (jsonQuery:193): WITHOUT ARRAY WRAPPER, NULL ON
  *    EMPTY/ERROR defaults → only object/array results survive.
  *  - JSON_EXISTS (jsonExists:110): FALSE ON ERROR; a path hitting an
  *    explicit JSON null reports TRUE (node kind 'null'), matching the
  *    reference. Narrowing: wildcard/union paths report false
  *    ([[JsonNodeKind]] path subset).
  *  - IS JSON (isJsonValue:274): any parseable JSON document
  *    (`json_node_kind(s, '$')` succeeds). The SQL predicate text
  *    `x IS JSON` is rewritten onto `is_json(x)` by
  *    [[graft.sql.SqlEnv]].
  *  - JSON_STRING (BuiltInFunctionDefinitions JSON_STRING): serialize
  *    any scalar to JSON text; implemented as `to_json(array(x))` with
  *    the brackets stripped, so escaping matches the JSON writers in
  *    both engines.
  *  - JSON_OBJECT / JSON_ARRAY (SqlJsonUtils jsonObject/jsonArray):
  *    Flink defaults are NULL ON NULL for objects, ABSENT ON NULL for
  *    arrays; `json_object_absent` / `json_array_null` carry the other
  *    behavior, and SqlEnv rewrites the `KEY k VALUE v [NULL|ABSENT ON
  *    NULL]` call syntax onto these names. Narrowing: JSON_ARRAY
  *    elements share one Spark type (Catalyst arrays are homogeneous).
  *  - JSON_OBJECTAGG / JSON_ARRAYAGG (runtime/functions/aggregate/
  *    JsonObjectAggFunction.java, JsonArrayAggFunction.java): the
  *    reference's retract-capable accumulators emit entries in
  *    arrival order, which is nondeterministic under parallelism; here
  *    entries are sorted (by key / by value) so the aggregate is
  *    deterministic at any parallelism — a strictly stronger contract,
  *    documented. Duplicate keys upsert like the reference (last one
  *    wins; under the sorted order that is the greatest value per
  *    key). ABSENT ON NULL for arrayagg matches `collect_list`
  *    dropping nulls.
  *  - SHA224/SHA384/SHA512 (FlinkSqlOperatorTable): `sha2(x, n)`.
  *  - CURRENT_ROW_TIMESTAMP (FlinkSqlOperatorTable.CURRENT_ROW_TIMESTAMP):
  *    per-row non-deterministic timestamp — the [[ProcTime]] expression.
  *  - ELEMENT (BuiltInFunctionDefinitions "element"): the sole element
  *    of a 0/1-element array, runtime error when more than one.
  *  - SUM0 (BuiltInFunctionDefinitions "sum0"): SUM that returns 0
  *    instead of NULL on empty input.
  */
object jsonfns {

  /** mapKeyDedupPolicy=LAST_WIN: json_objectagg's map_from_entries over
    * the ascending-sorted entries then keeps the greatest value per key —
    * exactly the documented duplicate-key upsert contract
    * (JsonObjectAggFunction last-wins under the deterministic sorted
    * order). The session default moves to the reference's upsert
    * semantics, but a spark.sql.mapKeyDedupPolicy the USER set
    * explicitly wins.
    */
  def mapKeyPolicy(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains("spark.sql.mapKeyDedupPolicy"))
      spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")

  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(name, args.toSeq, false)

  private def jsonObject(nullOnNull: Boolean)(es: Seq[Expression]): Expression = {
    require(es.length % 2 == 0,
      "json_object expects alternating key/value arguments")
    StructsToJson(
      Map("ignoreNullFields" -> (!nullOnNull).toString),
      CreateNamedStruct(es))
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ---- variadic constructors --------------------------------------
    ("json_object", jsonObject(nullOnNull = true)),
    ("json_object_absent", jsonObject(nullOnNull = false)),
    ("json_array", es => StructsToJson(Map.empty, fn("array_compact", CreateArray(es.toSeq)))),
    ("json_array_null", es => StructsToJson(Map.empty, CreateArray(es.toSeq))),

    // ---- aggregates (deterministic order: sorted entries) ----------
    // json_objectagg relies on [[mapKeyPolicy]]. The r7 per-element
    // filter lambda embedded the whole sort_array(collect_list(...))
    // subtree twice, re-materializing the sorted array per element —
    // O(g²·log g) per group (87× on q86).
    ("json_objectagg", es => {
      val entries = fn("sort_array", fn("collect_list",
        CreateNamedStruct(Seq(Literal("k"), es(0), Literal("v"), es(1)))))
      fn("to_json", fn("map_from_entries", entries))
    }),
    ("json_arrayagg", es => fn("to_json", fn("sort_array", fn("collect_list", es.head)))),

    // ---- scalars with generic input types --------------------------
    // JSON_STRING: to_json(array(x)) minus the surrounding brackets.
    ("json_string", es => {
      val js = StructsToJson(Map.empty, CreateArray(Seq(es.head)))
      If(IsNull(es.head), Literal(null, StringType),
        Substring(js, Literal(2), Subtract(Length(js), Literal(2))))
    }),
    // ELEMENT: null/empty → null, singleton → it, else runtime error.
    ("element", es => {
      val a = es.head
      CaseWhen(
        Seq((Or(IsNull(a), LessThanOrEqual(fn("cardinality", a), Literal(1))),
          fn("get", a, Literal(0)))),
        fn("get", a, Cast(fn("assert_true", Literal(false),
          Literal("ELEMENT(): array has more than one element")), IntegerType)))
    }),
    // SUM0: empty/all-null group sums to 0, not NULL.
    ("sum0", es => fn("coalesce", fn("sum", es.head), Literal(0))),
    // CURRENT_ROW_TIMESTAMP(): per-row, like PROCTIME().
    ("current_row_timestamp", _ => ProcTime()),
    // the node-type classifier behind the four predicates below
    ("json_node_kind", es => JsonNodeKind(es(0), es(1))))

  private val jp = Seq("j" -> StringType, "p" -> StringType)

  /** The fixed-arity scalars, as SQL bodies (inlined at plan time). */
  val sqlBodied: Seq[SqlBodied] = Seq(
    SqlBodied("json_value", jp, StringType,
      """CASE WHEN json_node_kind(j, p) IN ('string', 'number', 'boolean')
        |     THEN get_json_object(j, p) ELSE CAST(NULL AS STRING) END""".stripMargin),
    SqlBodied("json_query", jp, StringType,
      """CASE WHEN json_node_kind(j, p) IN ('object', 'array')
        |     THEN get_json_object(j, p) ELSE CAST(NULL AS STRING) END""".stripMargin),
    SqlBodied("json_exists", jp, BooleanType, "json_node_kind(j, p) IS NOT NULL"),
    SqlBodied("is_json", Seq("s" -> StringType), BooleanType, "json_node_kind(s, '$') IS NOT NULL"),
    SqlBodied("sha224", Seq("s" -> StringType), StringType, "sha2(s, 224)"),
    SqlBodied("sha384", Seq("s" -> StringType), StringType, "sha2(s, 384)"),
    SqlBodied("sha512", Seq("s" -> StringType), StringType, "sha2(s, 512)"))
}
