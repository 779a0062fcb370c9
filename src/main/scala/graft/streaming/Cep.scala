package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence-pattern matching — the workhorse subset of the reference's
  * MATCH_RECOGNIZE / CEP library (SURVEY.md §2.9;
  * flink-libraries/flink-cep/.../pattern/Pattern.java, NFA in
  * flink-libraries/flink-cep/src/main/java/org/apache/flink/cep/nfa/).
  *
  * `matchSequence` detects, per key, an ordered chain of predicate
  * steps within a time budget, with AFTER MATCH SKIP TO NEXT ROW /
  * skip-till-next-match semantics: for every row matching step 1, the
  * chain greedily takes the FIRST later row matching each subsequent
  * step inside the window.
  *
  * Execution shape: one shuffle on the key, per-key time-sorted scan
  * (the same per-key ordering Flink's NFA sees after keyBy +
  * watermark). Per-key data is streamed through a sorted iterator —
  * memory is O(events per key), the same bound Flink CEP has for its
  * per-key buffer.
  */
object Cep {

  /** @param steps (name, predicate-on-Row) — step 1 anchors the match
    * @param withinSec whole chain must fit in [t1, t1 + withinSec]
    * @return one row per complete match:
    *         key, <name>_id and <name>_ts per step (ids from `idCol`)
    */
  def matchSequence(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    steps: Seq[(String, Row => Boolean)],
                    withinSec: Long): DataFrame = {
    require(steps.nonEmpty)
    val spark = df.sparkSession
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = StatefulOps.eventTimeIndex(schema, tsCol)
    val idIdx = schema.fieldIndex(idCol)
    val keyType = schema(keyIdx).dataType
    val idType = schema(idIdx).dataType

    val outSchema = StructType(
      StructField(keyCol, keyType) +:
      steps.flatMap { case (name, _) => Seq(
        StructField(s"${name}_id", idType),
        StructField(s"${name}_ts", TimestampType))
      })
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))

    def tsMicros(r: Row): Long = StatefulOps.tsMicros(r, tsIdx)
    val order = Ordering.by(tsMicros).orElse(StatefulOps.tieOrdering(schema, Seq(idCol)))

    StatefulOps.keyed(df, Seq(keyCol))
      .flatMapGroups { (_: Row, it: Iterator[Row]) =>
        val events = it.toArray.sorted(order)
        val n = events.length
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var i = 0
        while (i < n) {
          if (steps.head._2(events(i))) {
            val deadline = tsMicros(events(i)) + withinSec * 1000000L
            val matched = scala.collection.mutable.ArrayBuffer(events(i))
            var j = i + 1
            var step = 1
            while (step < steps.length && j < n && tsMicros(events(j)) <= deadline) {
              if (steps(step)._2(events(j))) { matched += events(j); step += 1 }
              j += 1
            }
            if (step == steps.length) {
              val vals = events(i).get(keyIdx) +: matched.toSeq.flatMap { r =>
                Seq(r.get(idIdx), r.get(tsIdx))
              }
              out += Row.fromSeq(vals)
            }
          }
          i += 1
        }
        out.iterator
      }(outEnc)
  }

  // =====================================================================
  // Full MATCH_RECOGNIZE subset: quantified steps, strict row
  // contiguity, greedy/reluctant backtracking, AFTER MATCH SKIP
  // strategies, batch + streaming (watermark-frozen NFA windows).
  // Reference: flink-libraries/flink-cep/.../nfa/NFA.java (state
  // machine + shared buffer), pattern/Quantifier.java (looping/times/
  // optional/greedy), CommonExecMatch.java:82 (SQL MATCH_RECOGNIZE
  // planning), aftermatch/AfterMatchSkipStrategy.java.
  // =====================================================================

  /** One pattern variable: matches between `min` and `max` CONSECUTIVE
    * rows satisfying `pred` (strict MATCH_RECOGNIZE contiguity —
    * Flink's `next()`/`consecutive()`).
    *  - `A`  = Step("a", p)                 (min=1, max=1)
    *  - `A+` = Step.oneOrMore("a", p)       (min=1, max=∞, greedy)
    *  - `A*` = Step.zeroOrMore("a", p)
    *  - `A?` = Step.optional("a", p)
    *  - `A{n}` = Step.times("a", p, n)
    *  - `A+?` (reluctant) = oneOrMore(...).copy(greedy = false)
    */
  final case class Step(name: String, pred: Row => Boolean,
                        min: Int = 1, max: Int = 1, greedy: Boolean = true,
                        negated: Boolean = false)

  object Step {
    def once(name: String, pred: Row => Boolean): Step = Step(name, pred)
    def oneOrMore(name: String, pred: Row => Boolean): Step =
      Step(name, pred, 1, Int.MaxValue)
    def zeroOrMore(name: String, pred: Row => Boolean): Step =
      Step(name, pred, 0, Int.MaxValue)
    def optional(name: String, pred: Row => Boolean): Step =
      Step(name, pred, 0, 1)
    def times(name: String, pred: Row => Boolean, n: Int): Step =
      Step(name, pred, n, n)

    // ---- Absence (negative) patterns — reference:
    // flink-libraries/flink-cep/.../pattern/Pattern.java:294 (notNext),
    // :325 (notFollowedBy). A negated step consumes NO rows and carries
    // no measures (its <name>_count is always 0); it constrains the
    // rows between its neighbors (or, when trailing, the rest of the
    // anchor's within-window — absence is decidable there because a
    // match is only attempted once the whole window is frozen: batch
    // trivially, streaming via the watermark ≥ anchor + within rule,
    // which is exactly Flink's timeout-confirmed notFollowedBy-at-end).

    /** Zero-width assertion: the IMMEDIATE next row must not satisfy
      * `pred` (trailing: the immediate next row inside the window, if
      * any). The following step matches from that same position.
      */
    def notNext(name: String, pred: Row => Boolean): Step =
      Step(name, pred, 0, 1, greedy = true, negated = true)

    /** No row satisfying `pred` may occur before the NEXT step's match
      * (relaxed-contiguity negation: the next step may match any later
      * row, as long as every skipped row fails `pred`). Trailing form:
      * no row satisfying `pred` anywhere in the rest of the anchor's
      * within-window — "A not followed by B within T", the
      * timeout/abandoned-cart shape.
      */
    def notFollowedBy(name: String, pred: Row => Boolean): Step =
      Step(name, pred, 0, Int.MaxValue, greedy = true, negated = true)
  }

  /** Single-symbol alternation `(B|C)` — a predicate disjunction, which
    * is exactly what MATCH_RECOGNIZE means when both branches are one
    * variable. For multi-symbol branch alternation `(A B | C D)` use
    * [[matchPatternBranches]].
    */
  def anyOf(preds: (Row => Boolean)*): Row => Boolean =
    r => preds.exists(_(r))

  /** AFTER MATCH SKIP strategy (reference:
    * cep/aftermatch/AfterMatchSkipStrategy.java).
    */
  sealed trait AfterMatch
  /** Resume at the row after the match's LAST row (SQL default). */
  case object SkipPastLastRow extends AfterMatch
  /** Resume at the row after the match's FIRST row (overlapping matches). */
  case object SkipToNextRow extends AfterMatch
  /** Resume AT the first row mapped to `variable` (AFTER MATCH SKIP TO
    * FIRST var). Must make progress: if that row IS the match's first
    * row, falls back to next-row to avoid an infinite loop — the same
    * guard the reference enforces (it rejects such patterns).
    */
  final case class SkipToFirst(variable: String) extends AfterMatch
  /** Resume AT the last row mapped to `variable`. */
  final case class SkipToLast(variable: String) extends AfterMatch

  /** Per-match output: key, match_start_ts/match_end_ts (first/last
    * consumed row), [branch when alternation], then per step variable:
    * <name>_first_id, <name>_last_id, <name>_count (0/null when a step
    * matched zero rows or belongs to a non-matching branch) — the
    * FIRST()/LAST()/COUNT() measures of MATCH_RECOGNIZE.
    */
  private def patternOutSchema(keyCol: String, keyType: DataType,
                               idType: DataType, names: Seq[String],
                               withBranch: Boolean): StructType =
    StructType(
      Seq(StructField(keyCol, keyType),
          StructField("match_start_ts", TimestampType),
          StructField("match_end_ts", TimestampType)) ++
      (if (withBranch) Seq(StructField("branch", IntegerType)) else Nil) ++
      names.flatMap { name => Seq(
        StructField(s"${name}_first_id", idType),
        StructField(s"${name}_last_id", idType),
        StructField(s"${name}_count", IntegerType))
      })

  /** Step-variable names across branches, first-appearance order. */
  private def unionNames(branches: Seq[Seq[Step]]): Seq[String] =
    branches.flatten.map(_.name).distinct

  /** Cross-anchor scan memo, one per branch, valid for ONE limit value
    * (the caller clears it whenever the anchor's window edge moves —
    * reuse between probes with identical (events, limit) is provably
    * sound since `go` is a pure function of those). Three layers:
    *  - `failed`: FAILED `go(pos, s)` probes (res side-effects are
    *    reset on every failure path, so a recorded failure is final);
    *  - `runEnds`: memoized pred-run / ¬pred-run ends, so each
    *    position's user predicate runs at most once per window;
    *  - `ivLo/ivHi`: per-step CONTIGUOUS failed interval, so a probe
    *    loop whose whole range already failed skips in O(1) — without
    *    it, a long run's per-anchor loop still cost O(run) memo HITS
    *    (O(n²) cheap lookups per window at 100k+-row runs).
    * Together these kill the cross-anchor quadratic the r19 verdict
    * flagged (the reference NFA shares suffix computation across
    * starts — flink-cep SharedBuffer).
    */
  private final class ScanMemo(nSteps: Int) {
    val failed = scala.collection.mutable.HashSet.empty[Long]
    val runEnds = scala.collection.mutable.LongMap.empty[Int]
    val ivLo = Array.fill(nSteps + 1)(Int.MaxValue)
    val ivHi = Array.fill(nSteps + 1)(Int.MinValue)
    def clear(): Unit = {
      failed.clear(); runEnds.clear()
      java.util.Arrays.fill(ivLo, Int.MaxValue)
      java.util.Arrays.fill(ivHi, Int.MinValue)
    }
    /** every position in [lo, hi] is a recorded go-failure at step s */
    def covered(s: Int, lo: Int, hi: Int): Boolean =
      ivLo(s) <= lo && hi <= ivHi(s)
    /** record that [lo, hi] all failed at step s — extend the interval
      * when touching/overlapping, else keep the larger of the two */
    def mergeFailed(s: Int, lo: Int, hi: Int): Unit =
      if (ivLo(s) > ivHi(s)) { ivLo(s) = lo; ivHi(s) = hi }
      else if (hi >= ivLo(s) - 1 && lo <= ivHi(s) + 1) {
        ivLo(s) = math.min(ivLo(s), lo); ivHi(s) = math.max(ivHi(s), hi)
      } else if (hi - lo > ivHi(s) - ivLo(s)) { ivLo(s) = lo; ivHi(s) = hi }
  }

  /** Backtracking matcher at one anchor. Rows `events(anchor until
    * limit)` are the candidate window (strict contiguity: step s+1
    * must match the row immediately after step s's last row). Returns
    * (per-step (firstIdx, lastIdx, count), endPos) on success; a match
    * must consume ≥1 row. See [[ScanMemo]] for the cross-anchor
    * memoization (r20).
    */
  // takes Array (not IndexedSeq): the lone call site holds an Array,
  // and the implicit Array→IndexedSeq wrap COPIED all n rows per
  // anchor — an O(n²) allocation tail the run probe caught at 300k
  private def matchAt(events: Array[Row], anchor: Int, limit: Int,
                      steps: IndexedSeq[Step],
                      scanMemo: ScanMemo)
      : Option[(Array[(Int, Int, Int)], Int)] = {
    val memo = scanMemo.failed
    val runMemo = scanMemo.runEnds
    val nSteps = steps.length
    val res = Array.fill(nSteps)((-1, -1, 0))
    var endPos = anchor
    def go(pos: Int, s: Int): Boolean =
      if (memo.contains(pos.toLong << 16 | s)) false
      else {
        val ok = goUncached(pos, s)
        if (!ok) memo += (pos.toLong << 16 | s)
        ok
      }
    // End of the maximal consecutive run from `pos` of rows satisfying
    // `pr` (capped at limit), memoized per (pos, step): every scanning
    // branch below re-walked its run once per anchor — the other half
    // of the cross-anchor quadratic, and each walk re-ran the user
    // predicate. The walk caches the run end for EVERY position it
    // visits (they share the same end), so across anchors each
    // position's predicate runs at most once per window. Same validity
    // domain as `memo` (cleared together on limit change); a step is
    // either quantified or negated, so keying by (pos, s) can never
    // mix pred- and ¬pred-runs.
    def runEnd(pos: Int, s: Int, pr: Row => Boolean): Int = {
      val cached = runMemo.getOrElse(pos.toLong << 16 | s, -1)
      if (cached >= 0) cached
      else {
        var p = pos
        var end = -1
        while (end < 0 && p < limit) {
          val ce = runMemo.getOrElse(p.toLong << 16 | s, -1)
          if (ce >= 0) end = ce
          else if (pr(events(p))) p += 1
          else end = p
        }
        if (end < 0) end = limit
        var q = pos
        while (q <= p && q < limit) {
          runMemo.update(q.toLong << 16 | s, end); q += 1
        }
        end
      }
    }
    def goUncached(pos: Int, s: Int): Boolean = {
      if (s == nSteps) { endPos = pos; true }
      else {
        val st = steps(s)
        if (st.negated) {
          // Absence step: consumes nothing, res(s) stays (-1,-1,0).
          if (s + 1 == nSteps) {
            // Trailing: the rest of the (frozen) window confirms absence.
            // notNext (max=1) checks only the immediate next row;
            // notFollowedBy checks every remaining row (via the
            // memoized ¬pred-run walk — the per-anchor forall rescan
            // was O(window) per anchor).
            val ok =
              if (st.max == 1) pos >= limit || !st.pred(events(pos))
              else runEnd(pos, s, r => !st.pred(r)) >= limit
            ok && go(pos, s + 1)
          } else if (st.max == 1) {
            // Interior notNext: assert on the immediate next row, then
            // the next step matches from that same position.
            (pos >= limit || !st.pred(events(pos))) && go(pos, s + 1)
          } else {
            // Interior notFollowedBy: let the next step match at pos or
            // any later position, provided every skipped row fails the
            // negated predicate. Earliest continuation first (the SQL
            // earliest-match discipline). ITERATIVE (r19): the
            // recursive gap(p + 1) form burned one stack frame per
            // skipped row — a within-window holding tens of thousands
            // of rows overflowed the stack (CepSpec depth pin).
            // Continuation positions are exactly pos..negEnd where
            // negEnd is the memoized ¬pred-run end — the same probe
            // sequence as the r19 loop (which stopped at the first
            // pred-true row), without re-running the predicate per
            // anchor.
            val negEnd = runEnd(pos, s, r => !st.pred(r))
            if (scanMemo.covered(s + 1, pos, negEnd)) false
            else {
              var p = pos
              var ok = go(p, s + 1)
              while (!ok && p < negEnd) {
                p += 1
                ok = go(p, s + 1)
              }
              if (!ok) scanMemo.mergeFailed(s + 1, pos, negEnd)
              ok
            }
          }
        } else {
          // Quantified repetition, ITERATIVE over the consumed count
          // (r19): the recursive take() consumed one stack frame per
          // row — a hot key with ~20k consecutive matches inside its
          // within-window crashed the task with StackOverflowError
          // (probed; CepSpec "quantifier depth" pins the fix). Strict
          // contiguity means the reachable counts are exactly the
          // prefixes of the maximal consecutive matching run, so the
          // old exploration order is preserved verbatim: greedy peels
          // from the longest run down to min, reluctant extends from
          // min up — recursion remains only ACROSS steps (depth =
          // pattern length).
          // maximal consecutive matching run from pos via the memoized
          // run walk (the scan re-walked the same run once per anchor);
          // the UNCAPPED end is cached, st.max applied after.
          val maxRun = math.min(runEnd(pos, s, st.pred) - pos, st.max)
          def setRes(c: Int): Unit =
            res(s) = if (c == 0) (-1, -1, 0) else (pos, pos + c - 1, c)
          var found = false
          // O(1) skip when every continuation position in the probe
          // range is a recorded failure (the long-run worst case)
          if (maxRun >= st.min &&
              !scanMemo.covered(s + 1, pos + st.min, pos + maxRun)) {
            if (st.greedy) {
              var c = maxRun
              while (!found && c >= st.min) {
                setRes(c)
                if (go(pos + c, s + 1)) found = true else c -= 1
              }
            } else {
              var c = st.min
              while (!found && c <= maxRun) {
                setRes(c)
                if (go(pos + c, s + 1)) found = true else c += 1
              }
            }
            if (!found) scanMemo.mergeFailed(s + 1, pos + st.min, pos + maxRun)
          }
          if (!found) res(s) = (-1, -1, 0)
          found
        }
      }
    }
    if (go(anchor, 0) && endPos > anchor) Some((res, endPos)) else None
  }

  /** Batch MATCH_RECOGNIZE: per key, rows sorted by (time, id) are
    * scanned once; at each candidate anchor the quantified pattern is
    * matched over the CONSECUTIVE rows inside `[t_anchor, t_anchor +
    * withinSec]` (the WITHIN clause); `afterMatch` picks the SQL skip
    * strategy. One shuffle on the key; per-key memory is O(rows in the
    * within-window), the same bound as Flink's shared buffer.
    */
  def matchPattern(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   steps: Seq[Step], withinSec: Long,
                   afterMatch: AfterMatch = SkipPastLastRow): DataFrame =
    matchBranchesImpl(df, keyCol, tsCol, idCol, IndexedSeq(steps.toIndexedSeq),
      withinSec, afterMatch, withBranch = false)

  /** Multi-variable branch alternation `(A B | C D)` — the reference's
    * NFA branching states (flink-cep/.../nfa/NFA.java). SQL alternation
    * is ORDERED: at each anchor the branches are tried left to right
    * and the first that matches wins; the AFTER MATCH skip strategy
    * then advances one shared cursor, so a match on one branch
    * suppresses overlapping anchors for EVERY branch (the semantics a
    * per-branch run + union cannot give). Output carries a `branch`
    * ordinal plus the union of all branches' step measures (steps of
    * non-matching branches are null/0).
    */
  def matchPatternBranches(df: DataFrame, keyCol: String, tsCol: String,
                           idCol: String, branches: Seq[Seq[Step]],
                           withinSec: Long,
                           afterMatch: AfterMatch = SkipPastLastRow): DataFrame = {
    require(branches.nonEmpty && branches.forall(_.nonEmpty))
    matchBranchesImpl(df, keyCol, tsCol, idCol,
      branches.map(_.toIndexedSeq).toIndexedSeq, withinSec, afterMatch,
      withBranch = true)
  }

  private def matchBranchesImpl(df: DataFrame, keyCol: String, tsCol: String,
                                idCol: String,
                                branches: IndexedSeq[IndexedSeq[Step]],
                                withinSec: Long, afterMatch: AfterMatch,
                                withBranch: Boolean): DataFrame = {
    val schema = df.schema
    val outSchema = patternOutSchema(keyCol, schema(keyCol).dataType,
      schema(idCol).dataType, unionNames(branches), withBranch)
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val runner = new PatternRunner(schema, keyCol, tsCol, idCol,
      branches, withinSec, afterMatch, withBranch)
    StatefulOps.keyed(df, Seq(keyCol))
      .flatMapGroups { (_: Row, it: Iterator[Row]) =>
        val events = it.toArray.sorted(runner.order)
        runner.emitMatches(events, 0, events.length, runner.NoCursor)._1.iterator
      }(outEnc)
  }

  /** Streaming MATCH_RECOGNIZE (reference: CepOperator.java — NFA
    * driven by event-time watermarks). Input must carry a watermark
    * (`withWatermark` upstream). Per key, rows buffer in state; an
    * anchor becomes DECIDABLE once its whole within-window is frozen
    * (anchor_ts + within ≤ watermark — no earlier row can still
    * arrive, so the strict-contiguity row sequence is final). Decided
    * matches emit exactly once (append mode), and emission is TIMELY
    * (r20): an event-time timer armed at the earliest undecided
    * anchor's deadline fires when the watermark passes it — a key
    * that goes quiet after its events (the abandoned-cart shape)
    * emits then, not when new data happens to arrive for it (the
    * reference's CepOperator registers exactly this timer). Rows
    * older than watermark − within are evicted, so state is bounded
    * by the within-window per key — Flink's CEP state bound.
    *
    * Skip-strategy continuity across triggers is EXACT for every
    * strategy: the resume position persists in state as a (rowtime,
    * id) SORT-KEY cursor rather than an array index, so it stays
    * meaningful across trigger boundaries and state eviction — an
    * anchor that decides in a later trigger than the match that
    * suppresses it is still suppressed, exactly as in batch (spec:
    * "streaming skip continuity across triggers is exact").
    */
  def matchPatternStreaming(df: DataFrame, keyCol: String, tsCol: String,
                            idCol: String, steps: Seq[Step], withinSec: Long,
                            afterMatch: AfterMatch = SkipPastLastRow,
                            ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame =
    matchBranchesStreamingImpl(df, keyCol, tsCol, idCol,
      IndexedSeq(steps.toIndexedSeq), withinSec, afterMatch, withBranch = false,
      ttlSec = ttlSec)

  /** Streaming form of [[matchPatternBranches]] — same watermark-frozen
    * anchor discipline as [[matchPatternStreaming]], same ordered-
    * alternative and shared-skip-cursor semantics as the batch form.
    */
  def matchPatternBranchesStreaming(df: DataFrame, keyCol: String, tsCol: String,
                                    idCol: String, branches: Seq[Seq[Step]],
                                    withinSec: Long,
                                    afterMatch: AfterMatch = SkipPastLastRow,
                                    ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    require(branches.nonEmpty && branches.forall(_.nonEmpty))
    matchBranchesStreamingImpl(df, keyCol, tsCol, idCol,
      branches.map(_.toIndexedSeq).toIndexedSeq, withinSec, afterMatch,
      withBranch = true, ttlSec = ttlSec)
  }

  private def matchBranchesStreamingImpl(df: DataFrame, keyCol: String,
      tsCol: String, idCol: String, branches: IndexedSeq[IndexedSeq[Step]],
      withinSec: Long, afterMatch: AfterMatch, withBranch: Boolean,
      ttlSec: Long = StatefulOps.DefaultTtlSec): DataFrame = {
    val schema = df.schema
    val outSchema = patternOutSchema(keyCol, schema(keyCol).dataType,
      schema(idCol).dataType, unionNames(branches), withBranch)
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    // state = (buffered rows, skip-strategy resume cursor as sort key,
    // TTL purge horizon in epoch ms — 0 when TTL is disabled or no
    // watermark has committed yet)
    val stateSchema = StructType(Seq(
      StructField("buf", ArrayType(schema)),
      StructField("cur_ts", LongType),
      StructField("cur_id", schema(idCol).dataType),
      StructField("cur_incl", BooleanType),
      StructField("ttl_deadline", LongType)))
    val stateEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(stateSchema))
    val runner = new PatternRunner(schema, keyCol, tsCol, idCol,
      branches, withinSec, afterMatch, withBranch)

    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // Timers serve TWO purposes, like the reference's CepOperator
    // (event-time timers drive both match emission and state cleanup):
    //  - EMISSION (r20 fix): an anchor whose within-window freezes
    //    must emit when the WATERMARK passes its deadline, not when
    //    the key happens to receive more data — a key that goes quiet
    //    after its events (the abandoned-cart shape, CEP's canonical
    //    use) previously sat on decided-but-unemitted matches until
    //    new data or TTL. The timer is armed at the earliest UNDECIDED
    //    anchor's deadline.
    //  - TTL (table.exec.state.ttl analog): a key idle past the TTL
    //    gets one final invocation — emitting anything decidable —
    //    then its buffer + skip cursor are purged. The horizon is
    //    refreshed only by DATA invocations (idleness), never by a
    //    timer fire.
    // Emission timers need event-time timeouts even with TTL disabled,
    // so the mode keys on the watermark alone.
    val timeout =
      if (StatefulOps.hasWatermark(df)) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val ttl = StatefulOps.stateTtl(df, ttlSec)
    StatefulOps.keyed(df, Seq(keyCol))
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, timeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val hadTimeout = state.hasTimedOut
          val cursor0 =
            if (state.exists)
              (state.get.getLong(1), state.get.get(2), state.get.getBoolean(3))
            else runner.NoCursor
          val buf0 = if (state.exists) state.get.getSeq[Row](0) else Seq.empty[Row]
          val prevTtl = if (state.exists) state.get.getLong(4) else 0L
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          val incoming = if (hadTimeout) Seq.empty[Row] else rows.toSeq
          val events = (incoming ++ buf0).toArray.sorted(runner.order)
          // anchors with deadline ≤ watermark are final — match them now
          val decidableTo = events.indexWhere(r =>
            runner.tsMicros(r) + withinSec * 1000000L > wmMicros) match {
            case -1 => events.length
            case i  => i
          }
          val (out, cursor) =
            runner.emitMatches(events, 0, events.length, cursor0, decidableTo)
          if (hadTimeout && prevTtl > 0L && wmMs >= prevTtl) {
            // idle past the TTL horizon: decidable matches just
            // emitted; buffer + cursor are purged
            state.remove()
          } else {
            // evict rows that can no longer anchor or appear in any
            // undecided anchor's window
            val keep = events.dropWhile(r =>
              runner.tsMicros(r) + withinSec * 1000000L <= wmMicros)
            // the TTL horizon advances only on data
            val ttlDeadline =
              if (hadTimeout) prevTtl else ttl.refreshed(prevTtl, wmMs, incoming)
            state.update(Row(keep.toSeq, cursor._1, cursor._2, cursor._3, ttlDeadline))
            if (timeout == GroupStateTimeout.EventTimeTimeout) {
              val nextEmit =
                if (decidableTo < events.length)
                  Some(runner.tsMicros(events(decidableTo)) / 1000L + withinSec * 1000L)
                else None
              val arm = (nextEmit, Some(ttlDeadline).filter(_ > 0L)) match {
                case (Some(e), Some(t)) => Some(math.min(e, t))
                case (a, b) => a.orElse(b)
              }
              // Spark rejects a timeout at/behind the watermark
              arm.foreach(ms => state.setTimeoutTimestamp(math.max(ms, wmMs + 1L)))
            }
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** Shared batch/streaming pattern-match driver over one or more
    * alternation branches (ordered alternatives, one shared skip
    * cursor — see [[matchPatternBranches]]).
    */
  private final class PatternRunner(schema: StructType, keyCol: String,
      tsCol: String, idCol: String, branches: IndexedSeq[IndexedSeq[Step]],
      withinSec: Long, afterMatch: AfterMatch,
      withBranch: Boolean) extends Serializable {
    require(branches.forall(b => !b.head.negated),
      "a pattern cannot START with a negated step (nothing anchors the " +
      "match) — the reference rejects Pattern.begin(not...) the same way")
    private val keyIdx = schema.fieldIndex(keyCol)
    private val tsIdx = StatefulOps.eventTimeIndex(schema, tsCol)
    private val idIdx = schema.fieldIndex(idCol)
    private val names = unionNames(branches).toIndexedSeq

    def tsMicros(r: Row): Long = StatefulOps.tsMicros(r, tsIdx)
    /** Event order: rowtime, then the typed id. */
    val order: Ordering[Row] =
      Ordering.by(tsMicros).orElse(StatefulOps.tieOrdering(schema, Seq(idCol)))

    /** Suppression cursor — the skip strategy's resume position as a
      * SORT KEY, not an index, so it survives trigger boundaries and
      * state eviction verbatim: anchors ordered before the cursor (or
      * at it, when `inclusive`) may not start a match. `NoCursor`
      * suppresses nothing.
      */
    type Cursor = (Long, Any, Boolean) // (micros, id, inclusive)
    val NoCursor: Cursor = (Long.MinValue, null, true)

    private def suppressed(r: Row, c: Cursor): Boolean = {
      val cmp = java.lang.Long.compare(tsMicros(r), c._1) match {
        case 0 => StatefulOps.compareValues(r.get(idIdx), c._2)
        case x => x
      }
      cmp < 0 || (cmp == 0 && c._3)
    }

    /** Scan anchors in `[from, until)`; only anchors < `decidableTo`
      * may start a match (batch passes until). `cursor0` carries the
      * skip-strategy resume position across streaming triggers — for
      * EVERY strategy, so SKIP TO FIRST/LAST and PAST LAST ROW are all
      * exact across trigger boundaries. Returns (emitted rows, cursor).
      */
    def emitMatches(events: Array[Row], from: Int, until: Int,
                    cursor0: Cursor,
                    decidableTo: Int = Int.MaxValue): (Seq[Row], Cursor) = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var cursor = cursor0
      var i = from
      // cross-anchor scan memos, one per branch (see ScanMemo). Valid
      // only for one limit value: cleared whenever the anchor's window
      // edge moves, so reuse happens exactly in the regime the
      // quadratic bites — many anchors inside one frozen window — and
      // memory stays bounded by (positions × steps) for a single limit.
      val memos = branches.map(b => new ScanMemo(b.length)).toArray
      var memoLimit = -1
      // the window edge is MONOTONE across anchors (events are
      // time-sorted, deadlines only grow), so the scan resumes from
      // the previous edge — recomputing from each anchor was O(n) per
      // anchor, the LAST O(n²) term in the long-run worst case (the
      // matcher itself is O(1) per anchor once the memos warm)
      var limit = from
      while (i < until && i < decidableTo) {
        if (!suppressed(events(i), cursor)) {
          val deadline = tsMicros(events(i)) + withinSec * 1000000L
          if (limit < i) limit = i
          while (limit < until && tsMicros(events(limit)) <= deadline) limit += 1
          if (limit != memoLimit) {
            memos.foreach(_.clear())
            memoLimit = limit
          }
          // ordered alternatives: first branch to match at this anchor wins
          val hit = branches.indices.iterator
            .map(bi => matchAt(events, i, limit, branches(bi), memos(bi)).map((bi, _)))
            .collectFirst { case Some(m) => m }
          hit.foreach { case (bi, (res, endPos)) =>
            val steps = branches(bi)
            out += buildRow(events, bi, steps, res, i, endPos)
            def stepIdxOf(v: String): Int = steps.indexWhere(_.name == v)
            def at(idx: Int, inclusive: Boolean): Cursor =
              (tsMicros(events(idx)), events(idx).get(idIdx), inclusive)
            cursor = afterMatch match {
              case SkipPastLastRow => at(endPos - 1, inclusive = true)
              case SkipToFirst(v) =>
                val si = stepIdxOf(v)
                // progress guard; a variable absent from the matched
                // branch also falls back to next-row
                if (si >= 0) {
                  val (f, _, c) = res(si)
                  if (c > 0 && f > i) at(f, inclusive = false)
                  else at(i, inclusive = true)
                } else at(i, inclusive = true)
              case SkipToLast(v) =>
                val si = stepIdxOf(v)
                if (si >= 0) {
                  val (_, l, c) = res(si)
                  if (c > 0 && l > i) at(l, inclusive = false)
                  else at(i, inclusive = true)
                } else at(i, inclusive = true)
              case SkipToNextRow => at(i, inclusive = true)
            }
          }
        }
        i += 1
      }
      (out.toSeq, cursor)
    }

    private def buildRow(events: Array[Row], branchIdx: Int,
                         steps: IndexedSeq[Step], res: Array[(Int, Int, Int)],
                         anchor: Int, endPos: Int): Row = {
      val startTs = events(anchor).get(tsIdx)
      val endTs = events(endPos - 1).get(tsIdx)
      val byName: Map[String, (Int, Int, Int)] =
        steps.indices.map(si => steps(si).name -> res(si)).toMap
      val measures = names.flatMap { name =>
        byName.get(name) match {
          case Some((f, l, c)) if c > 0 => Seq(events(f).get(idIdx), events(l).get(idIdx), c)
          case _ => Seq(null, null, 0)
        }
      }
      val head = Seq(events(anchor).get(keyIdx), startTs, endTs) ++
        (if (withBranch) Seq(branchIdx) else Nil)
      Row.fromSeq(head ++ measures)
    }
  }
}
