package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temporal (versioned) table join SQL text — Flink's
  * `JOIN dim FOR SYSTEM_TIME AS OF f.ts ON f.k = d.k` (reference:
  * flink-table-planner temporal join rewrite,
  * RT/join/temporal/TemporalRowTimeJoinOperator.java).
  *
  * Exactly Flink's preconditions, enforced from the DDL registry: the
  * versioned side must have been created via `CREATE TABLE` with a
  * `WATERMARK FOR <ts>` (its version-time attribute) and a
  * `PRIMARY KEY` (its versioning key). The join compiles onto
  * [[graft.streaming.StatefulOps.temporalJoinCoGrouped]] — the
  * hot-key-linear merge-scan, one shuffle per side.
  *
  * Supported shape (single equi-key, distinct column names across the
  * two sides — the star-schema case):
  * {{{
  *   SELECT ... FROM fact [AS] f
  *   JOIN dim FOR SYSTEM_TIME AS OF f.ts [AS] d
  *     ON f.k = d.k
  *   [WHERE ...]
  * }}}
  * The FROM..ON fragment is replaced by a temp view of the join result
  * under the fact alias; `d.`-qualified references keep working via
  * alias substitution (the view carries both sides' columns).
  */
object TemporalJoinSql {

  private val re =
    ("""(?is)FROM\s+([\w.]+)(?:\s+AS)?\s+(\w+)\s+JOIN\s+([\w.]+)\s+""" +
     """FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(\w+)\.(\w+)(?:\s+AS)?\s+(\w+)\s+""" +
     """ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)""").r

  def rewrite(spark: SparkSession, defs: Map[String, Ddl.TableDef],
              sql: String, nextView: () => String): String = {
    val m = re.findFirstMatchIn(SqlText(sql).code) match {
      case None => return sql
      case Some(found) => found
    }
    val (fact, factAlias) = (m.group(1), m.group(2))
    val dim = m.group(3)
    val (ofAlias, ofCol) = (m.group(4), m.group(5))
    val dimAlias = m.group(6)
    require(ofAlias == factAlias,
      s"FOR SYSTEM_TIME AS OF must reference the probe side's time column ($factAlias.<ts>)")
    // ON may be written either way round
    val (factKey, dimKey) =
      if (m.group(7) == factAlias && m.group(9) == dimAlias) (m.group(8), m.group(10))
      else if (m.group(7) == dimAlias && m.group(9) == factAlias) (m.group(10), m.group(8))
      else throw new IllegalArgumentException(
        s"temporal join ON must relate $factAlias and $dimAlias")

    val d = defs.getOrElse(dim, throw new IllegalArgumentException(
      s"versioned table '$dim' must be defined via CREATE TABLE (with WATERMARK and PRIMARY KEY)"))
    val versionTime = d.watermark.map(_._1).getOrElse(throw new IllegalArgumentException(
      s"versioned table '$dim' needs a WATERMARK FOR <ts> column (its version-time attribute)"))
    require(d.primaryKey.nonEmpty,
      s"versioned table '$dim' needs a PRIMARY KEY (its versioning key)")
    require(d.primaryKey.contains(dimKey),
      s"temporal join key '$dimKey' must be the versioned table's PRIMARY KEY ${d.primaryKey}")

    val joined = graft.streaming.StatefulOps.temporalJoinCoGrouped(
      spark.table(fact), factKey, ofCol,
      spark.table(dim), dimKey, versionTime)
    val view = nextView()
    joined.createOrReplaceTempView(view)
    val spliced = sql.substring(0, m.start) +
      s"FROM $view $factAlias" + sql.substring(m.end)
    // both sides live in one view now: re-qualify the dim alias in code
    val dimRef = ("\\b" + java.util.regex.Pattern.quote(dimAlias) + "\\.").r
    rewrite(spark, defs, SqlText(spliced).replaceAll(dimRef)(_ => factAlias + "."), nextView)
  }
}
