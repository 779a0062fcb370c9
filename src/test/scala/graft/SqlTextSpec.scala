package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.SqlText

/** The one lexical rule every dialect rewrite uses: which characters of
  * a statement are code, as Spark's own lexer decides it. */
class SqlTextSpec extends AnyFunSuite {
  /** The non-code runs of `sql`, as (start, end) of their tokens. */
  private def nonCode(sql: String): Seq[String] = {
    val t = SqlText(sql)
    sql.indices.filterNot(t.isCode).map(t.tokenStart).distinct
      .map(s => sql.substring(s, (s until sql.length).find(i => t.isCode(i) ||
        t.tokenStart(i) != s).getOrElse(sql.length)))
  }

  test("literals, quoted identifiers and nested comments each lex as one token") {
    assert(nonCode("""SELECT "it's" AS a""") == Seq("\"it's\""))
    assert(nonCode("""SELECT 'it\'s' AS a""") == Seq("""'it\'s'"""))
    assert(nonCode("SELECT 'a''b' AS a") == Seq("'a''b'"))
    assert(nonCode("SELECT `we``ird` FROM t") == Seq("`we``ird`"))
    assert(nonCode("SELECT 1 /* a /* b */ c */ + 2") == Seq("/* a /* b */ c */"))
    assert(nonCode("""SELECT R'C:\' AS p, r'x' AS q""") == Seq("""R'C:\'""", "r'x'"))
    assert(nonCode("SELECT 1 -- it's\n, 2") == Seq("-- it's\n"))
  }

  test("hints are code; Flink-only characters never fail the lexer") {
    assert(nonCode("SELECT /*+ BROADCAST(t) */ * FROM t").isEmpty)
    val flinky = "SELECT a ~ b, c # d, e ? f FROM t MATCH_RECOGNIZE ( PATTERN (A+ B{2}) )"
    assert(nonCode(flinky).isEmpty)
    assert(SqlText(flinky).code == flinky)
    // an unclosed quote is code, as it is to Spark: the parser rejects it
    assert(nonCode("SELECT 'abc").isEmpty)
    // an unclosed bracketed comment runs to the end
    assert(nonCode("SELECT 1 /* open") == Seq("/* open"))
  }

  test("code view, comment blanking, parens and top-level splits") {
    val sql = "f(a, ')', \"(\") -- x, y\n, g(b, c)"
    val t = SqlText(sql)
    assert(t.code.length == sql.length)
    assert(t.code == "f(a, ''', \"\"\") " + " " * 8 + ", g(b, c)")
    assert(t.withoutComments == "f(a, ')', \"(\") " + " " * 7 + "\n, g(b, c)")
    assert(t.pairedParen(1) == 13)
    assert(t.pairedParen(13) == 1)
    assert(t.splitTopLevel(',') == Seq("f(a, ')', \"(\") -- x, y", "g(b, c)"))
    assert(t.splitTopLevel(',', 2, 13) == Seq("a", "')'", "\"(\""))
    assert(t.quoted('\'') == Seq((5, 8, ")")))
  }

  test("offsets stay string offsets past supplementary characters") {
    val sql = "SELECT '\uD83D\uDE00' AS e, 'x' -- \uD83D\uDE00\n"
    val t = SqlText(sql)
    assert(t.code == "SELECT '''' AS e, ''' " + " " * 6)
    assert(t.quoted('\'').map(_._3) == Seq("\uD83D\uDE00", "x"))
  }

  test("a long statement lexes quickly") {
    val sql = (1 to 400).map(i => s"'v$i' AS c$i /* $i */").mkString("SELECT ", ", ", " FROM t")
    assert(sql.length > 10000)
    SqlText(sql) // warm
    val t0 = System.nanoTime()
    (1 to 10).foreach(_ => SqlText(sql))
    val perMs = (System.nanoTime() - t0) / 10 / 1e6
    assert(perMs < 200, s"lexing ${sql.length} chars took $perMs ms")
  }
}
