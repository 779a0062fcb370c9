package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (one entry per implemented
  * operator from SURVEY.md §2); `oracleSql` holds the DuckDB-dialect
  * equivalent for the driver's correctness gate. Both come from one
  * registry: each `graft.queries` module declares a query's name, oracle
  * and build together, grouped by the part of the surface they cover.
  */
object SparkEntry {

  private lazy val registry: Map[String, Query] = Query.byName(Seq(
    Relational, Events, TextOps, VectorOps, NearDup, MultiModal, Functions2,
    Relational2, Collections, Conversions, Functions3, TpcH, ScaleOps,
    TextOps2, TextOps3, SqlSurface, TpcDs, TpcDs2).flatMap(_.declared))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.build }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }
}
