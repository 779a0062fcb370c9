package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Collection-type battery — SURVEY.md §2.8 "Collections" row: array
  * construction/access/search/slicing/flattening, map construction via
  * str_to_map with keyed access, plus printf-style formatting.
  * Outputs stay scalar (extracted elements, joined strings, sizes) so
  * the driver's canonicalization never has to hash raw array/map
  * values across engines.
  */
object Collections extends QueryModule {

  def declared: Seq[Query] = Seq(
    Query("q45_array_functions",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n,
        |  toks[1] AS first_tok,
        |  toks[-1] AS last_tok,
        |  CAST(COALESCE(list_position(toks, 'the'), 0) AS INT) AS the_pos,
        |  list_contains(toks, 'spark') AS has_spark,
        |  array_to_string(toks[1:3], '-') AS first3,
        |  array_to_string(list_filter(toks, x -> x <> 'the'), ' ') AS no_the,
        |  len(flatten([toks, toks])) AS n_doubled,
        |  array_to_string(list_transform(generate_series(1, 3), i -> i * 2), ',') AS evens,
        |  lang || ',' || lang AS lang_x2,
        |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS BIGINT) AS total_len
        |FROM t""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val toks = split(col("text"), " ")
      d.select(
        col("doc_id"),
        size(toks).as("n"),
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        array_position(toks, "the").cast("int").as("the_pos"),
        array_contains(toks, "spark").as("has_spark"),
        concat_ws("-", slice(toks, 1, 3)).as("first3"),
        concat_ws(" ", array_remove(toks, "the")).as("no_the"),
        size(flatten(array(toks, toks))).as("n_doubled"),
        concat_ws(",", transform(sequence(lit(1), lit(3)), i => i * 2)).as("evens"),
        concat_ws(",", array_repeat(col("lang"), 2)).as("lang_x2"),
        aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
          .cast("long").as("total_len"))
    },

    // ---- JSON aggregates + MULTISET (COLLECT) — SURVEY §2.4/§1.3 ------
    // JSON_ARRAYAGG / JSON_OBJECTAGG via to_json(collect…); MULTISET is
    // represented exactly how Flink implements COLLECT internally — a
    // count map — serialized with sorted keys for a stable comparison.
    Query("q47_json_agg",
      """WITH c AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS INT) AS cnt
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type,
        |  to_json(list_sort(list(user_id))) AS users_json,
        |  to_json(map_from_entries(list_sort(list(row(user_id, cnt)))))
        |    AS multiset_json,
        |  CAST(SUM(cnt) AS BIGINT) AS n
        |FROM c GROUP BY event_type""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val counts = e.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast("int").as("cnt"))
      counts.groupBy(col("event_type"))
        .agg(
          to_json(array_sort(collect_list(col("user_id")))).as("users_json"),
          to_json(map_from_entries(array_sort(collect_list(
            struct(col("user_id").as("k"), col("cnt").as("v")))))).as("multiset_json"),
          sum(col("cnt")).cast("long").as("n"))
    },

    Query("q46_map_functions",
      """SELECT doc_id,
        |  lang AS m_lang,
        |  source AS m_source,
        |  n_chars AS m_chars,
        |  3 AS m_size,
        |  'chars,lang,source' AS m_keys,
        |  printf('%s/%s#%04d', lang, source, doc_id) AS tagged
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      // "k1:v1,k2:v2" string → map → keyed access
      val m = expr(s"str_to_map(concat_ws(',', concat('lang:', lang), " +
        "concat('source:', source), concat('chars:', n_chars)), ',', ':')")
      d.select(
        col("doc_id"),
        element_at(m, "lang").as("m_lang"),
        element_at(m, "source").as("m_source"),
        element_at(m, "chars").cast("bigint").as("m_chars"),
        size(m).as("m_size"),
        concat_ws(",", array_sort(map_keys(m))).as("m_keys"),
        format_string("%s/%s#%04d", col("lang"), col("source"), col("doc_id"))
          .as("tagged"))
    }
  )
}
