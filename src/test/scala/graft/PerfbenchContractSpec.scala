package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark harness looks its batch queries up by name in
  * `SparkEntry.queries`, outside any per-query error handling: a name
  * that no longer resolves stops the harness before it prints a result.
  * This spec reads the harness's `Light` list and checks every name.
  */
class PerfbenchContractSpec extends AnyFunSuite {
  test("every batch_light query name resolves in SparkEntry.queries") {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Path.of(
      "perfbench/harness/src/main/scala/perfbench/BatchWorkload.scala")), "UTF-8")
    val list = """(?s)val Light: Seq\[String\] = Seq\((.*?)\)""".r
      .findFirstMatchIn(src).map(_.group(1))
      .getOrElse(fail("no `val Light: Seq[String] = Seq(...)` in BatchWorkload.scala"))
    val names = "\"([^\"]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
    assert(names.nonEmpty)
    assert(names.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  // The harness attributes a query's build time to `sql.build_s` when its
  // name is in `SqlSurface.queries.keySet`.
  test("the SQL-surface queries batch_light times are in SqlSurface.queries") {
    val sqlNames: Set[String] = graft.queries.SqlSurface.queries.keySet
    assert(sqlNames("q98_plan_lifecycle"))
    assert(sqlNames("q85_sql_json"))
  }
}
