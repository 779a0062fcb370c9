package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property fuzz of the legacy-group-window rewrite scanner
  * (`SqlEnv.rewriteLegacyGroupWindows`) — the hand-rolled
  * paren/quote/comment state machine that replaced the r12 regex.
  * Example-based pins live in SqlEnvSpec ("legacy rewrite scanner:
  * comments, quoted intervals, aux validation"); this spec generates
  * hundreds of adversarial SQL-ish strings from fragment grammars and
  * checks three invariants the scanner's correctness rests on:
  *
  *  1. PRESERVATION — input with no legacy call outside quotes/comments
  *     round-trips byte-identical (the scanner is a no-op exactly when
  *     it should be, even when literals/comments contain `SESSION(`,
  *     apostrophes, unbalanced parens, or interval keywords);
  *  2. CONTEXT TRANSPARENCY — wrapping a legacy GROUP BY clause in
  *     arbitrary generated noise rewrites the call identically to the
  *     bare clause, and every noise byte survives verbatim around it;
  *  3. IDEMPOTENCE — rewriting the rewritten output changes nothing
  *     (the replacement text contains no legacy-call shapes).
  *
  * Sampling is seed-pinned (deterministic across runs) so a failure is
  * reproducible from its printed seed index.
  */
class RewriteFuzzSpec extends AnyFunSuite {
  lazy val env = graft.sql.SqlEnv(TestSpark.spark)

  // ---- fragment generators -------------------------------------------
  // Words that must NOT appear bare in "neutral" noise (they'd arm the
  // scanner); they're fair game INSIDE quotes and comments.
  private val ident: Gen[String] =
    Gen.oneOf("k", "ts", "user_id", "t", "sess", "tumbler", "hopper",
      "session_window", "window_time", "intervals", "my_session")
  private val legacyWord: Gen[String] =
    Gen.oneOf("SESSION", "TUMBLE", "HOP", "SESSION_START", "TUMBLE_END",
      "HOP_ROWTIME", "session", "Session")
  // Single-quoted literal; embedded quotes arrive SQL-doubled or
  // backslash-escaped. May contain legacy words, parens, commas,
  // comment openers.
  private val quoted: Gen[String] = for {
    bodyBits <- Gen.listOfN(3, Gen.oneOf(
      Gen.const("don''t"), Gen.const("it\\'s"), legacyWord.map(w => s"$w(x, y"),
      Gen.const("-- no"), Gen.const("/* nope"), Gen.const("a,b)("),
      Gen.const("INTERVAL '5' MINUTE"), ident))
  } yield "'" + bodyBits.mkString(" ") + "'"
  // The other lexical shapes Spark's lexer reads as one non-code token:
  // a double-quoted string, a raw string ending in a backslash, a
  // back-quoted identifier and a doubly nested block comment — each
  // holding an apostrophe, a legacy call or an unbalanced paren.
  private val lexicalShape: Gen[String] = Gen.oneOf(
    legacyWord.map(w => s"\"it's $w(ts\""),
    Gen.const("R'C:\\dir\\'"),
    legacyWord.map(w => s"`$w(`"),
    legacyWord.map(w => s"/* a /* b's $w(x /* c */ ) */ d */"))
  private val lineComment: Gen[String] = for {
    bodyBits <- Gen.listOfN(2, Gen.oneOf(
      Gen.const("don't"), legacyWord.map(w => s"$w(ts, INTERVAL '1' HOUR)"),
      Gen.const("((("), Gen.const("'"), ident))
  } yield "-- " + bodyBits.mkString(" ") + "\n"
  private val blockComment: Gen[String] = for {
    bodyBits <- Gen.listOfN(2, Gen.oneOf(
      Gen.const("it's"), legacyWord.map(w => s"$w(a, b)"), Gen.const(")("),
      ident))
    nested <- Gen.oneOf("", "/* inner ' */")
  } yield "/* " + bodyBits.mkString(" ") + nested + " */"
  // Balanced paren group of neutral content (non-legacy callable shape).
  private val parenGroup: Gen[String] = for {
    inner <- Gen.listOfN(2, Gen.oneOf(ident, quoted, Gen.const("1 + 2")))
  } yield "coalesce(" + inner.mkString(", ") + ")"
  private val neutralFragment: Gen[String] =
    Gen.oneOf(ident, quoted, lineComment, blockComment, parenGroup, lexicalShape,
      Gen.oneOf("SELECT", "FROM", "WHERE", "GROUP BY", ",", " ", "\n",
        "1.5", "= 3", "sessions", "TUMBLED", "HOPS"))
  private val noise: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, neutralFragment))
      .map(_.mkString(" "))

  // A legacy clause template paired with its expected rewritten form.
  private val legacyClause: Gen[(String, String)] = for {
    n <- Gen.oneOf(5, 30, 45)
    (unit, secs) <- Gen.oneOf(("SECOND", n), ("MINUTE", n * 60), ("HOUR", n * 3600))
    (call, expect) <- Gen.oneOf[(String, String)](
      (s"GROUP BY SESSION(ts, INTERVAL '$n' $unit), k",
        s"GROUP BY session_window(ts, '$secs seconds'), k"),
      (s"GROUP BY TUMBLE(ts, INTERVAL '$n' $unit), k",
        s"GROUP BY window(ts, '$secs seconds'), k"),
      (s"GROUP BY HOP(ts, INTERVAL '$n' $unit, INTERVAL '${n * 2}' $unit), k",
        s"GROUP BY window(ts, '${secs * 2} seconds', '$secs seconds'), k"))
  } yield (call, expect)

  // GRAFT_FUZZ_SCALE multiplies every sample count for one-off deep
  // hunts (seeds stay pinned, so scale-10 strictly supersets scale-1)
  private val fuzzScale = sys.env.getOrElse("GRAFT_FUZZ_SCALE", "1").toInt
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n * fuzzScale).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(0xA11CEL + i)))

  test("preservation: neutral input round-trips byte-identical (500 samples)") {
    samples(noise, 500).zipWithIndex.foreach { case (s, i) =>
      val out = env.rewriteLegacyGroupWindows(s)
      assert(out == s, s"sample #$i mutated:\nIN : $s\nOUT: $out")
    }
  }

  test("context transparency: noise-wrapped legacy clause rewrites like the bare clause (300 samples)") {
    val gen = for { pre <- noise; lc <- legacyClause; post <- noise } yield (pre, lc, post)
    samples(gen, 300).zipWithIndex.foreach { case ((pre, (call, expect), post), i) =>
      // The legacy clause must sit OUTSIDE any comment the noise opened:
      // terminate a dangling line comment, and neutral fragments never
      // leave a block comment open (blockComment closes itself).
      val preSafe = if (pre.contains("--") && !pre.endsWith("\n")) pre + "\n" else pre
      val in = s"$preSafe $call $post"
      val out = env.rewriteLegacyGroupWindows(in)
      assert(out == s"$preSafe $expect $post",
        s"sample #$i:\nIN : $in\nOUT: $out\nEXP: $preSafe $expect $post")
    }
  }

  test("idempotence: rewriting the rewritten output is identity (300 samples)") {
    val gen = for { pre <- noise; lc <- legacyClause; post <- noise } yield (pre, lc, post)
    samples(gen, 300).zipWithIndex.foreach { case ((pre, (call, _), post), i) =>
      val preSafe = if (pre.contains("--") && !pre.endsWith("\n")) pre + "\n" else pre
      val once = env.rewriteLegacyGroupWindows(s"$preSafe $call $post")
      val twice = env.rewriteLegacyGroupWindows(once)
      assert(twice == once, s"sample #$i not idempotent:\n1: $once\n2: $twice")
    }
  }

  // ---- rewriteTimeCasts (late r14: CAST(x AS TIME[(p)]) → cast_time) --

  // Neutral w.r.t. the TIME-cast scanner: non-TIME casts (including the
  // adversarial shapes — a DECIMAL(p,s) target ending in parens, an
  // ' AS TIME ' string inside the operand, TIME-cast text inside quotes
  // and comments) must all round-trip byte-identical.
  private val castNeutralFragment: Gen[String] = Gen.oneOf(
    Gen.const("CAST(x AS STRING)"),
    Gen.const("TRY_CAST(v AS INT)"),
    Gen.const("cast(a AS DOUBLE)"),
    Gen.const("CAST(p AS DECIMAL(18,4))"),
    Gen.const("CAST(concat(c, ' AS TIME ') AS STRING)"),
    Gen.const("'CAST(x AS TIME)'"),
    Gen.const("-- CAST(ts AS TIME)\n"),
    Gen.const("/* TRY_CAST(ts AS TIME(3)) */"),
    Gen.const("'CAST(x AS TIMESTAMP)'"),
    Gen.const("TIMESTAMPDIFF(HOUR, a, b)"),
    neutralFragment)
  private val castNoise: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, castNeutralFragment))
      .map(_.mkString(" "))

  // A TIME-targeted cast paired with its expected rewrite: bare TIME is
  // Flink's TIME(0); precision clamps to Spark's max 6; TRY_CAST maps
  // to try mode; operand string literals containing ' AS TIME' and
  // nested non-TIME casts must not confuse the greedy target match.
  private val timeCast: Gen[(String, String)] = Gen.oneOf[(String, String)](
    ("CAST(ts AS TIME)", "cast_time(ts, 0)"),
    ("CAST(ts AS TIME(3))", "cast_time(ts, 3)"),
    ("CAST(ts AS TIME(9))", "cast_time(ts, 6)"),
    ("TRY_CAST(s AS TIME(6))", "try_cast_time(s, 6)"),
    ("CAST(concat(a, ' x AS TIME') AS TIME)",
      "cast_time(concat(a, ' x AS TIME'), 0)"),
    ("CAST(CAST(ts AS TIME) AS STRING)",
      "CAST(cast_time(ts, 0) AS STRING)"),
    ("CAST(TRY_CAST(s AS TIME(2)) AS TIME(4))",
      "cast_time(try_cast_time(s, 2), 4)"),
    // TIMESTAMP-family targets (the reverse cast-matrix leg)
    ("CAST(t AS TIMESTAMP)", "cast_timestamp(t)"),
    ("CAST(t AS TIMESTAMP(3))", "cast_timestamp(t)"),
    ("TRY_CAST(t AS TIMESTAMP_NTZ)", "try_cast_timestamp_ntz(t)"),
    ("CAST(t AS TIMESTAMP_LTZ(3))", "cast_timestamp(t)"),
    ("CAST(t AS TIMESTAMP(3) WITHOUT TIME ZONE)", "cast_timestamp_ntz(t)"),
    ("CAST(t AS TIMESTAMP WITH LOCAL TIME ZONE)", "cast_timestamp(t)"),
    ("CAST(CAST(ts AS TIME) AS TIMESTAMP)", "cast_timestamp(cast_time(ts, 0))"))

  test("time-cast preservation: neutral input round-trips byte-identical (400 samples)") {
    samples(castNoise, 400).zipWithIndex.foreach { case (s, i) =>
      val out = env.rewriteTimeCasts(s)
      assert(out == s, s"sample #$i mutated:\nIN : $s\nOUT: $out")
    }
  }

  test("time-cast transparency: noise-wrapped TIME cast rewrites like the bare cast (300 samples)") {
    val gen = for { pre <- castNoise; tc <- timeCast; post <- castNoise } yield (pre, tc, post)
    samples(gen, 300).zipWithIndex.foreach { case ((pre, (call, expect), post), i) =>
      val preSafe = if (pre.contains("--") && !pre.endsWith("\n")) pre + "\n" else pre
      val in = s"$preSafe $call $post"
      val out = env.rewriteTimeCasts(in)
      assert(out == s"$preSafe $expect $post",
        s"sample #$i:\nIN : $in\nOUT: $out\nEXP: $preSafe $expect $post")
    }
  }

  test("time-cast idempotence: rewriting the rewritten output is identity (300 samples)") {
    val gen = for { pre <- castNoise; tc <- timeCast; post <- castNoise } yield (pre, tc, post)
    samples(gen, 300).zipWithIndex.foreach { case ((pre, (call, _), post), i) =>
      val preSafe = if (pre.contains("--") && !pre.endsWith("\n")) pre + "\n" else pre
      val once = env.rewriteTimeCasts(s"$preSafe $call $post")
      val twice = env.rewriteTimeCasts(once)
      assert(twice == once, s"sample #$i not idempotent:\n1: $once\n2: $twice")
    }
  }

  // ---- rewriteJsonSyntax (IS [NOT] JSON, JSON_OBJECT/JSON_ARRAY) -------

  // Neutral w.r.t. the JSON rewrite: JSON syntax only inside literals,
  // quoted identifiers and comments, plus JSON-ish names that are not
  // rewrite targets.
  private val jsonNeutralFragment: Gen[String] = Gen.oneOf(
    Gen.const("'x IS JSON'"),
    Gen.const("-- doc's IS JSON\n"),
    Gen.const("/* JSON_OBJECT(KEY 'a' VALUE 1) */"),
    Gen.const("\"it's IS NOT JSON\""),
    Gen.const("`is json`"),
    Gen.const("json_value(doc, '$.a')"),
    Gen.const("is_json(doc)"),
    Gen.const("JSONX"),
    neutralFragment)
  private val jsonNoise: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, jsonNeutralFragment))
      .map(_.mkString(" "))

  // IS JSON on identifier, call and literal operands, and the
  // KEY..VALUE / ON NULL constructor forms, with their rewrites.
  private val jsonSyntax: Gen[(String, String)] = Gen.oneOf[(String, String)](
    ("doc IS JSON", "is_json(doc)"),
    ("t.doc IS NOT JSON", "NOT is_json(t.doc)"),
    ("`my doc` IS JSON", "is_json(`my doc`)"),
    ("upper(doc) IS JSON", "is_json(upper(doc))"),
    ("concat(upper('{'), ')') IS JSON", "is_json(concat(upper('{'), ')'))"),
    ("'{\"a\":1}' IS JSON", "is_json('{\"a\":1}')"),
    ("'it''s' IS NOT JSON", "NOT is_json('it''s')"),
    ("JSON_OBJECT(KEY 'a' VALUE 1, KEY 'b' VALUE x ABSENT ON NULL)",
      "json_object_absent('a', 1, 'b', x)"),
    ("JSON_OBJECT(KEY 'k' VALUE 'KEY x VALUE y')", "json_object('k', 'KEY x VALUE y')"),
    ("JSON_OBJECT(KEY 'o' VALUE JSON_OBJECT(KEY 'i' VALUE 1))",
      "json_object('o', json_object('i', 1))"),
    ("JSON_ARRAY(1, 'ABSENT ON NULL', 3 NULL ON NULL)",
      "json_array_null(1, 'ABSENT ON NULL', 3)"))

  test("json preservation: neutral input round-trips byte-identical (400 samples)") {
    samples(jsonNoise, 400).zipWithIndex.foreach { case (s, i) =>
      val out = env.rewriteJsonSyntax(s)
      assert(out == s, s"sample #$i mutated:\nIN : $s\nOUT: $out")
    }
  }

  test("json transparency: noise-wrapped JSON syntax rewrites like the bare syntax (300 samples)") {
    val gen = for { pre <- jsonNoise; js <- jsonSyntax; post <- jsonNoise } yield (pre, js, post)
    samples(gen, 300).zipWithIndex.foreach { case ((pre, (call, expect), post), i) =>
      val preSafe = if (pre.contains("--") && !pre.endsWith("\n")) pre + "\n" else pre
      val in = s"$preSafe $call $post"
      val out = env.rewriteJsonSyntax(in)
      assert(out == s"$preSafe $expect $post",
        s"sample #$i:\nIN : $in\nOUT: $out\nEXP: $preSafe $expect $post")
    }
  }

  test("json idempotence: rewriting the rewritten output is identity (300 samples)") {
    val gen = for { pre <- jsonNoise; js <- jsonSyntax; post <- jsonNoise } yield (pre, js, post)
    samples(gen, 300).zipWithIndex.foreach { case ((pre, (call, _), post), i) =>
      val preSafe = if (pre.contains("--") && !pre.endsWith("\n")) pre + "\n" else pre
      val once = env.rewriteJsonSyntax(s"$preSafe $call $post")
      val twice = env.rewriteJsonSyntax(once)
      assert(twice == once, s"sample #$i not idempotent:\n1: $once\n2: $twice")
    }
  }
}
