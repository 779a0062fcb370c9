package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One battery query: its name, the DuckDB SQL that must return the same
  * rows (the oracle), and its Spark build over a fixture directory.
  *
  * Oracle SQL reads fixture tables by name, and reads a side table
  * staged by the build from the parquet files under `__SIDE__/<table>`;
  * `graft.Verify` replaces `__SIDE__` with [[Staging.sideDir]] of the
  * fixture directory.
  */
final class Query(val name: String, val oracle: String,
                  val build: (SparkSession, String) => DataFrame)

object Query {
  def apply(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): Query =
    new Query(name, oracle, build)

  /** Index `qs` by name. A name declared twice is an error, so one
    * declaration can never silently replace another. */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** A module of battery queries, declared once in [[declared]]. */
trait QueryModule {
  def declared: Seq[Query]

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.byName(declared).map { case (n, q) => n -> q.build }

  // Double sums go through DECIMAL on both engines (see Relational's
  // Scaladoc). Products of 2-dp money columns have up to 6 exact decimal
  // digits; rounding them to scale 4 lands on .xxxx50 ties where Spark
  // (HALF_UP) and DuckDB (HALF_EVEN) disagree, so dec6 keeps them whole.
  protected def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  protected def dec6(c: Column): Column = c.cast(DecimalType(22, 6))
}
