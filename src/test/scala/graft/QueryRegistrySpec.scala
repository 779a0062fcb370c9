package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

/** The query registry: one declaration per name, and oracle SQL that
  * reaches side tables only through the `__SIDE__` token.
  */
class QueryRegistrySpec extends AnyFunSuite {
  test("a name declared twice is rejected when the registry is built") {
    val q = Query("dup_query", "SELECT 1") { (s, _) => s.range(1).toDF() }
    val other = Query("dup_query", "SELECT 2") { (s, _) => s.range(2).toDF() }
    val e = intercept[IllegalArgumentException](Query.byName(Seq(q, other)))
    assert(e.getMessage.contains("dup_query"))
    assert(Query.byName(Seq(q)).keySet == Set("dup_query"))
  }

  test("oracle SQL names side tables by __SIDE__, never by a fixed path") {
    val fixed = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.contains("graft_oracle") || sql.contains("__SF__")
    }
    assert(fixed.isEmpty, s"fixed side paths in: ${fixed.keys.mkString(", ")}")
    assert(SparkEntry.oracleSql.values.exists(_.contains("__SIDE__/")))
  }
}
