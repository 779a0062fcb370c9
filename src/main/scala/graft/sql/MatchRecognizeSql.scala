package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Cep
import graft.streaming.Cep.{AfterMatch, Step}

/** SQL-text MATCH_RECOGNIZE subset → [[graft.streaming.Cep]] (reference:
  * flink-table-planner `StreamExecMatch` planning of Calcite's
  * MATCH_RECOGNIZE clause; CommonExecMatch.java:82).
  *
  * Supported shape (the funnel/sequence workhorse):
  * {{{
  *   SELECT ... FROM <table> MATCH_RECOGNIZE (
  *     PARTITION BY <col>
  *     ORDER BY <col>
  *     [MEASURES FIRST(V.<c>)|LAST(V.<c>)|COUNT(V.*) AS name, ...]
  *     [ONE ROW PER MATCH]
  *     [AFTER MATCH SKIP PAST LAST ROW | TO NEXT ROW | TO FIRST V | TO LAST V]
  *     PATTERN ( V1[quant] V2[quant] ... )
  *     [WITHIN INTERVAL '<n>' <unit>]
  *     DEFINE V1 AS <cond>, V2 AS <cond>, ...
  *   ) [AS alias]
  * }}}
  * Quantifiers: `+ * ? {n}` and reluctant `+?` / `*?`. A variable
  * appearing in PATTERN without a DEFINE matches any row (the SQL
  * default). Pattern variables in DEFINE conditions are row-scoped
  * (`V.col` → current row's `col` — PREV/NEXT/FIRST/LAST navigation in
  * DEFINE is out of scope; Flink itself restricts most navigation).
  *
  * Compilation strategy — no per-row SQL evaluation: each DEFINE
  * condition becomes ONE precomputed boolean column on the input
  * (`expr(cond)` with `V.` prefixes stripped), evaluated by Catalyst
  * codegen in a single map-side pass; the NFA's Row => Boolean
  * predicates are then constant-time field reads. The match itself is
  * [[Cep.matchPattern]] — one shuffle on the partition key, the same
  * plan the Scala API produces.
  *
  * FIRST/LAST measures must all reference one shared column (it becomes
  * the engine's measure/id column); COUNT(V.*) maps to the engine's
  * `<v>_count`. `match_start_ts` / `match_end_ts` are always available
  * to the outer query, as is the partition column.
  */
object MatchRecognizeSql {

  private val mrKeyword = "(?i)\\bMATCH_RECOGNIZE\\b".r

  /** Rewrite every `<table> MATCH_RECOGNIZE (...)` occurrence to a temp
    * view over the executed pattern match; returns the spliced SQL.
    */
  def rewrite(spark: SparkSession, sql: String, nextView: () => String): String = {
    // keyword, table and alias are searched in code only (SqlText)
    val t = SqlText(sql)
    val m = mrKeyword.findFirstMatchIn(t.code) match {
      case None => return sql
      case Some(found) => found
    }
    // table name = last identifier before the keyword
    val before = t.code.substring(0, m.start)
    val tableRe = """([\w.]+)\s*$""".r
    val tableMatch = tableRe.findFirstMatchIn(before).getOrElse(
      throw new IllegalArgumentException("MATCH_RECOGNIZE: no table before keyword"))
    val table = tableMatch.group(1)
    // body = balanced-paren block after the keyword
    val open = t.code.indexOf('(', m.end)
    require(open >= 0, "MATCH_RECOGNIZE: expected (")
    val close = t.pairedParen(open)
    require(close > 0, "MATCH_RECOGNIZE: unbalanced parentheses")
    val body = sql.substring(open + 1, close)
    // optional trailing alias
    val aliasRe = """(?is)^\s*(?:AS\s+)?(\w+)""".r
    val (alias, rest) = aliasRe.findFirstMatchIn(t.code.substring(close + 1)) match {
      case Some(am) if !Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
        "JOIN", "ON", "LEFT", "RIGHT", "FULL", "INNER", "CROSS")
        .contains(am.group(1).toUpperCase) =>
        (Some(am.group(1)), sql.substring(close + 1 + am.end))
      case _ => (None, sql.substring(close + 1))
    }

    val df = compile(spark, spark.table(table), body)
    val view = nextView()
    df.createOrReplaceTempView(view)
    // splice: original text before the table name + view + rest (recurse
    // for multiple MATCH_RECOGNIZE occurrences)
    val spliced = sql.substring(0, tableMatch.start) +
      view + alias.map(" AS " + _).getOrElse("") + rest
    rewrite(spark, spliced, nextView)
  }

  /** Compile one MATCH_RECOGNIZE body against `base`. */
  private[sql] def compile(spark: SparkSession, base: DataFrame, body: String): DataFrame = {
    def clause(re: String): Option[String] =
      re.r.findFirstMatchIn(body).map(_.group(1).trim)

    val partitionBy = clause("""(?is)PARTITION\s+BY\s+([\w.]+)""").getOrElse(
      throw new IllegalArgumentException("MATCH_RECOGNIZE: PARTITION BY required"))
    val orderBy = clause("""(?is)ORDER\s+BY\s+([\w.]+)""").getOrElse(
      throw new IllegalArgumentException("MATCH_RECOGNIZE: ORDER BY required"))
    val patternTxt = clause("""(?is)PATTERN\s*\(([^)]*)\)""").getOrElse(
      throw new IllegalArgumentException("MATCH_RECOGNIZE: PATTERN required"))
    val withinSec = """(?is)WITHIN\s+INTERVAL\s*'(\d+)'\s*(SECOND|MINUTE|HOUR|DAY)S?""".r
      .findFirstMatchIn(body).map { wm =>
        wm.group(1).toLong * (wm.group(2).toUpperCase match {
          case "SECOND" => 1L; case "MINUTE" => 60L
          case "HOUR" => 3600L; case "DAY" => 86400L
        })
      }.getOrElse(3650L * 86400L) // effectively unbounded (10 years)
    val afterMatch: AfterMatch =
      clause("""(?is)AFTER\s+MATCH\s+SKIP\s+(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|TO\s+FIRST\s+\w+|TO\s+LAST\s+\w+)""")
        .map(_.replaceAll("\\s+", " ").toUpperCase) match {
        case None | Some("PAST LAST ROW") => Cep.SkipPastLastRow
        case Some("TO NEXT ROW") => Cep.SkipToNextRow
        case Some(s) if s.startsWith("TO FIRST ") => Cep.SkipToFirst(s.stripPrefix("TO FIRST ").toLowerCase)
        case Some(s) if s.startsWith("TO LAST ") => Cep.SkipToLast(s.stripPrefix("TO LAST ").toLowerCase)
        case Some(other) => throw new IllegalArgumentException(s"AFTER MATCH SKIP: $other")
      }

    // DEFINE: split on top-level commas; conditions may contain parens
    val defines: Map[String, String] =
      clause("""(?is)DEFINE\s+(.*)$""").map { txt =>
        SqlText(txt).splitTopLevel(',').filter(_.nonEmpty).map { item =>
          val am = """(?is)^\s*(\w+)\s+AS\s+(.*)$""".r.findFirstMatchIn(item).getOrElse(
            throw new IllegalArgumentException(s"DEFINE entry: $item"))
          am.group(1).toLowerCase -> am.group(2).trim
        }.toMap
      }.getOrElse(Map.empty)

    // PATTERN: variables with quantifiers
    val stepRe = """(\w+)(\{\d+\}|[+*?]\??)?""".r
    val parsedSteps = stepRe.findAllMatchIn(patternTxt).map { sm =>
      (sm.group(1).toLowerCase, Option(sm.group(2)))
    }.toSeq
    require(parsedSteps.nonEmpty, "PATTERN: no variables")

    // Precompute one boolean column per defined variable: `V.col` →
    // `col`, evaluated by Catalyst in a single pass.
    val varNames = parsedSteps.map(_._1).distinct
    val predCols = varNames.map(v => v -> s"__mr_${v}")
    val withPreds = predCols.foldLeft(base) { case (df, (v, cn)) =>
      defines.get(v) match {
        case Some(cond) =>
          val stripped = cond.replaceAll("(?i)\\b" + v + "\\.", "")
          df.withColumn(cn, expr(stripped))
        case None => df.withColumn(cn, lit(true)) // undefined var matches any row
      }
    }
    val schema = withPreds.schema
    val predIdx: Map[String, Int] = predCols.map { case (v, cn) => v -> schema.fieldIndex(cn) }.toMap

    // MEASURES: FIRST/LAST must share one column (engine id column);
    // COUNT(V.*) → <v>_count. match_start_ts/match_end_ts pass through.
    val measureRe = """(?i)(FIRST|LAST|COUNT)\s*\(\s*(\w+)\.(\w+|\*)\s*\)\s+AS\s+(\w+)""".r
    val measures = clause("""(?is)MEASURES\s+(.*?)(?=ONE\s+ROW|AFTER\s+MATCH|PATTERN)""")
      .map(txt => measureRe.findAllMatchIn(txt).map(mm =>
        (mm.group(1).toUpperCase, mm.group(2).toLowerCase, mm.group(3), mm.group(4))).toSeq)
      .getOrElse(Nil)
    val idCols = measures.collect { case (f, _, c, _) if f != "COUNT" && c != "*" => c }.distinct
    require(idCols.size <= 1,
      s"MEASURES: FIRST/LAST must reference one shared column, got $idCols")
    val idCol = idCols.headOption.getOrElse(orderBy)

    val steps = parsedSteps.map { case (v, quant) =>
      val pi = predIdx(v)
      val pred: Row => Boolean = r => !r.isNullAt(pi) && r.getBoolean(pi)
      quant match {
        case None => Step.once(v, pred)
        case Some("+") => Step.oneOrMore(v, pred)
        case Some("+?") => Step.oneOrMore(v, pred).copy(greedy = false)
        case Some("*") => Step.zeroOrMore(v, pred)
        case Some("*?") => Step.zeroOrMore(v, pred).copy(greedy = false)
        case Some("?") => Step.optional(v, pred)
        case Some(q) if q.startsWith("{") => Step.times(v, pred, q.drop(1).dropRight(1).toInt)
        case Some(other) => throw new IllegalArgumentException(s"quantifier $other")
      }
    }

    // A streaming input compiles onto the watermark-driven NFA (the
    // reference plans MATCH_RECOGNIZE on streams the same way:
    // StreamExecMatch); batch input takes the one-shot scan.
    val matched =
      if (withPreds.isStreaming)
        Cep.matchPatternStreaming(withPreds, partitionBy, orderBy, idCol,
          steps, withinSec, afterMatch)
      else
        Cep.matchPattern(withPreds, partitionBy, orderBy, idCol,
          steps, withinSec, afterMatch)
    // rename engine measure columns to the MEASURES aliases
    val renamed = measures.foldLeft(matched) {
      case (df, ("FIRST", v, _, as)) => df.withColumn(as, col(s"${v}_first_id"))
      case (df, ("LAST", v, _, as)) => df.withColumn(as, col(s"${v}_last_id"))
      case (df, ("COUNT", v, _, as)) => df.withColumn(as, col(s"${v}_count").cast("long"))
      case (df, _) => df
    }
    // keep: partition col, start/end, aliases (engine internals dropped)
    val keep = Seq(partitionBy, "match_start_ts", "match_end_ts") ++ measures.map(_._4)
    renamed.select(keep.map(col): _*)
  }
}
