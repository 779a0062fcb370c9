package graft.sql

import scala.util.matching.Regex

import org.antlr.v4.runtime.{CharStreams, Token}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer

/** One lexical view of a SQL statement, shared by every dialect rewrite
  * (Flink likewise lexes a statement once, with the lexer generated from
  * its grammar). The text is lexed by Spark's own generated
  * `SqlBaseLexer`, so whether a character is code is decided exactly as
  * the parser that receives the rewritten text decides it:
  *  - string literals (`'..'` with `''` and `\'` escapes, `R'..'`,
  *    `".."`), back-quoted identifiers and comments (`--`, nested
  *    bracketed) are not code; hints (`/*+ .. */`) are;
  *  - characters no rule knows (Flink-only syntax) lex as `UNRECOGNIZED`
  *    code tokens, so lexing never fails.
  * Rewrites search [[code]] and splice [[text]] at the same offsets.
  */
final class SqlText private (val text: String, owner: Array[Int]) {

  /** Whether the character at `i` is outside every literal, quoted
    * identifier and comment. */
  def isCode(i: Int): Boolean = owner(i) < 0

  /** Start of the literal, quoted identifier or comment covering `i`. */
  def tokenStart(i: Int): Int = owner(i)

  def isComment(i: Int): Boolean =
    owner(i) >= 0 && (text.startsWith("--", owner(i)) || text.startsWith("/*", owner(i)))

  def isQuotedIdentifier(i: Int): Boolean = owner(i) >= 0 && text.charAt(owner(i)) == '`'

  /** The code view: comments blanked to spaces (whitespace to the parser)
    * and each literal or quoted identifier filled with its quote
    * character, one opaque atom no word, space or paren pattern enters. */
  lazy val code: String = opaque(!isCode(_))

  /** [[code]] with back-quoted identifiers kept as written, for patterns
    * that read a name that may be back-quoted. */
  lazy val codeWithNames: String = opaque(i => !isCode(i) && !isQuotedIdentifier(i))

  private def opaque(p: Int => Boolean): String = overwrite(p) { i =>
    if (isComment(i)) ' '
    else text.charAt(owner(i)) match {
      case 'R' | 'r' => text.charAt(owner(i) + 1)
      case q => q
    }
  }

  /** `text` with comments blanked to spaces, line breaks kept so the
    * parser's line and column positions hold; hints stay. */
  def withoutComments: String =
    overwrite(i => isComment(i) && text.charAt(i) != '\n' && text.charAt(i) != '\r')(_ => ' ')

  private def overwrite(p: Int => Boolean)(c: Int => Char): String = {
    val cs = text.toCharArray
    val hit = cs.indices.filter(p)
    hit.foreach(i => cs(i) = c(i))
    if (hit.isEmpty) text else new String(cs)
  }

  /** Index of the code paren matching the code paren at `at` (forward
    * from `(`, backward from `)`, never before `from`), or -1. */
  def pairedParen(at: Int, from: Int = 0): Int = {
    val (open, step) = if (text.charAt(at) == '(') ('(', 1) else (')', -1)
    var depth = 0
    var i = at
    while (i >= from && i < text.length) {
      if (isCode(i) && (text.charAt(i) == '(' || text.charAt(i) == ')')) {
        depth += (if (text.charAt(i) == open) 1 else -1)
        if (depth == 0) return i
      }
      i += step
    }
    -1
  }

  /** Offsets in `[from, to)` of code `sep` characters outside every code
    * parenthesis opened in that range. */
  private def topLevel(sep: Char, from: Int, to: Int): Seq[Int] = {
    var depth = 0
    (from until to).filter { i =>
      if (isCode(i)) text.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      isCode(i) && text.charAt(i) == sep && depth == 0
    }
  }

  /** The text of `[from, to)` cut at `cuts`, each piece trimmed. */
  def pieces(cuts: Seq[Int], from: Int = 0, to: Int = text.length): Seq[String] =
    ((from - 1) +: cuts).zip(cuts :+ to).map { case (a, b) => text.substring(a + 1, b).trim }

  /** `[from, to)` split at its top-level `sep` characters, pieces trimmed. */
  def splitTopLevel(sep: Char, from: Int = 0, to: Int = text.length): Seq[String] =
    pieces(topLevel(sep, from, to), from, to)

  /** Replace every match of `re` in [[code]] by `f(match)`, copying all
    * other text from [[text]]; [[source]] reads a group's original text. */
  def replaceAll(re: Regex)(f: Regex.Match => String): String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    re.findAllMatchIn(code).foreach { m =>
      sb.append(text, last, m.start).append(f(m))
      last = m.end
    }
    if (last == 0) text else sb.append(text, last, text.length).toString
  }

  def source(m: Regex.Match, g: Int = 0): String =
    if (m.start(g) < 0) null else text.substring(m.start(g), m.end(g))

  /** (start, end, contents) of every token opened by `quote` (`'`
    * literals, `` ` `` identifiers); doubled quotes are undoubled,
    * backslashes stay. */
  def quoted(quote: Char): Seq[(Int, Int, String)] =
    text.indices.filter(i => owner(i) == i && text.charAt(i) == quote).map { s =>
      val e = (s + 1 until text.length).find(owner(_) != s).getOrElse(text.length)
      (s, e, text.substring(s + 1, e - 1).replace(s"$quote$quote", quote.toString))
    }
}

object SqlText {
  private val nonCode = Set(SqlBaseLexer.STRING_LITERAL, SqlBaseLexer.DOUBLEQUOTED_STRING,
    SqlBaseLexer.BACKQUOTED_IDENTIFIER, SqlBaseLexer.SIMPLE_COMMENT,
    SqlBaseLexer.BRACKETED_COMMENT)

  def apply(text: String): SqlText = {
    // Upper-cased per character, as Spark's parser feeds its lexer.
    // Surrogates become one BMP character each, so the lexer's code-point
    // offsets are string offsets; no lexer rule tells the two apart.
    val lexer = new SqlBaseLexer(CharStreams.fromString(text.map(c =>
      if (Character.isSurrogate(c)) '\uFFFD' else Character.toUpperCase(c))))
    lexer.removeErrorListeners()
    val owner = Array.fill(text.length)(-1)
    var t = lexer.nextToken()
    while (t.getType != Token.EOF) {
      if (nonCode(t.getType))
        java.util.Arrays.fill(owner, t.getStartIndex, t.getStopIndex + 1, t.getStartIndex)
      t = lexer.nextToken()
    }
    new SqlText(text, owner)
  }
}

/** A statement regex matched against the code view of the statement
  * ([[SqlText.codeWithNames]]), so no keyword, paren or separator inside
  * a literal or comment takes part. There a string literal is a run of
  * `'` as long as the literal; write a literal group as [[StatementRe.lit]]
  * (or [[StatementRe.lit1]] for a non-empty one). A group that spans one
  * `'` literal yields the literal's contents, with `''` read as one
  * quote; any other group yields its original text.
  */
final class StatementRe(pattern: String) {
  private val re = pattern.r.pattern

  def unapplySeq(sql: String): Option[List[String]] = {
    val t = StatementRe.lexed(sql)
    val m = re.matcher(t.codeWithNames)
    Option.when(m.matches()) {
      val lits = t.quoted('\'').map { case (s, e, v) => (s, e) -> v }.toMap
      (1 to m.groupCount).toList.map { g =>
        if (m.start(g) < 0) null
        else lits.getOrElse((m.start(g), m.end(g)), sql.substring(m.start(g), m.end(g)))
      }
    }
  }

  def matches(sql: String): Boolean = unapplySeq(sql).isDefined
}

object StatementRe {
  /** One `'` string literal; `lit1` one that is not empty (an empty
    * literal is two quote characters). */
  val lit = "('+)"
  val lit1 = "('{3,})"

  /** The statement last lexed: a statement is tried against many
    * patterns in turn, and is lexed once. */
  @volatile private var last: SqlText = null
  private def lexed(sql: String): SqlText = {
    val l = last
    if (l != null && (l.text eq sql)) l
    else { val t = SqlText(sql); last = t; t }
  }
}
