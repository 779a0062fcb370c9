package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TreePattern, UnaryLike}
import org.apache.spark.sql.types._

/** TIME-of-day cast the reference supports but Spark 4.1's `Cast` does
  * not yet: `CAST(<timestamp> AS TIME(p))` (FlinkSQL
  * LogicalTypeCasts TIMESTAMP→TIME, reference
  * `flink-table/flink-table-common/.../LogicalTypeCasts.java` cast
  * matrix). Spark's native TIME surface (SPARK-51162 family, behind
  * `spark.sql.timeType.enabled`) covers string→TIME and TIME(p)→TIME(q)
  * casts but rejects TIMESTAMP operands (`CAST_WITHOUT_SUGGESTION` —
  * recorded in BASELINE.md). This expression is a
  * `RuntimeReplaceable` that dispatches once the child resolves:
  *
  *  - TIMESTAMP / TIMESTAMP_NTZ → format the session-local (resp.
  *    wall-clock) time of day at full microsecond precision and parse
  *    it back with the native `ToTime`, then cast to the target
  *    precision (native TIME(6)→TIME(p) truncates, matching Flink's
  *    seconds-truncating TIME(0) default);
  *  - anything else → the native `Cast`, so string/TIME operands keep
  *    Spark's own semantics (and its error messages).
  *
  * The replacement tree is all codegen'd builtins, so the cast stays
  * inside whole-stage codegen. `tryMode` maps TRY_CAST: failures (e.g.
  * malformed strings) yield NULL instead of raising.
  */
case class CastTime(
    child: Expression,
    precision: Int,
    tryMode: Boolean = false,
    timeZoneId: Option[String] = None)
  extends RuntimeReplaceable with UnaryLike[Expression]
  with TimeZoneAwareExpression {

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  // TimeZoneAwareExpression's final nodePatterns would otherwise drop
  // RUNTIME_REPLACEABLE, and the optimizer's ReplaceExpressions prunes
  // on it — without it the node reaches codegen unreplaced.
  override def nodePatternsInternal(): Seq[TreePattern.TreePattern] =
    Seq(TreePattern.RUNTIME_REPLACEABLE)

  private def cast(e: Expression, dt: DataType): Expression =
    if (tryMode) Cast(e, dt, timeZoneId, EvalMode.TRY)
    else Cast(e, dt, timeZoneId)

  override lazy val replacement: Expression = child.dataType match {
    case TimestampType =>
      // LTZ: the SESSION-LOCAL time of day is the semantics (Flink's
      // TIMESTAMP_LTZ→TIME) — format in the session zone. An instant
      // maps to exactly one local time, so no DST hazard here.
      cast(
        ToTime(DateFormatClass(child,
          Literal("HH:mm:ss.SSSSSS"), timeZoneId), None),
        TimeType(precision))
    case TimestampNTZType =>
      // NTZ: the cast+format pair must be a wall-clock IDENTITY. In a
      // DST-observing session zone it is not — a wall-clock time inside
      // a spring-forward gap has no instant, so the same-zone roundtrip
      // shifts it (r15 advice). Pin BOTH legs to UTC (no transitions
      // ever): result independent of spark.sql.session.timeZone.
      // Analyzer rules do not descend into a replacement tree, so the
      // NTZ→TIMESTAMP cast date_format relies on in SQL is spelled out.
      cast(
        ToTime(DateFormatClass(Cast(child, TimestampType, Some("UTC")),
          Literal("HH:mm:ss.SSSSSS"), Some("UTC")), None),
        TimeType(precision))
    case _ =>
      cast(child, TimeType(precision))
  }

  override def prettyName: String = if (tryMode) "try_cast_time" else "cast_time"
  override protected def withNewChildInternal(newChild: Expression): CastTime =
    copy(child = newChild)
}

/** The reverse leg of the reference's cast matrix: `CAST(<time> AS
  * TIMESTAMP[_NTZ|_LTZ])` (LogicalTypeCasts castTo(TIMESTAMP…)
  * explicitFromFamily(DATETIME); runtime
  * `TimeToTimestampCastRule.java` — the time of day anchored on the
  * EPOCH DATE, `TIMESTAMP_FROM_EPOCH_MILLIS(millisOfDay)`). Spark
  * rejects the cast (BASELINE.md), so this dispatcher anchors a TIME
  * operand via the native `MakeTimestampNTZ(DATE'1970-01-01', t)` and
  * falls back to Spark's own `Cast` for every other operand type —
  * byte-identical behavior for all previously-working casts. */
case class CastTimestamp(
    child: Expression,
    ntz: Boolean,
    tryMode: Boolean = false,
    timeZoneId: Option[String] = None)
  extends RuntimeReplaceable with UnaryLike[Expression]
  with TimeZoneAwareExpression {

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))
  override def nodePatternsInternal(): Seq[TreePattern.TreePattern] =
    Seq(TreePattern.RUNTIME_REPLACEABLE)

  private def target: DataType = if (ntz) TimestampNTZType else TimestampType
  private def cast(e: Expression, dt: DataType): Expression =
    if (tryMode) Cast(e, dt, timeZoneId, EvalMode.TRY)
    else Cast(e, dt, timeZoneId)

  override lazy val replacement: Expression = child.dataType match {
    case _: TimeType =>
      cast(MakeTimestampNTZ(Literal(0, DateType), child), target)
    case _ => cast(child, target)
  }

  override def prettyName: String =
    (if (tryMode) "try_" else "") + (if (ntz) "cast_timestamp_ntz" else "cast_timestamp")
  override protected def withNewChildInternal(newChild: Expression): CastTimestamp =
    copy(child = newChild)
}

/** Wrap-around-midnight TIME ± interval — the expression form of
  * `time_add_wrap`, substituted for Spark's native `TimeAddInterval`
  * in the Flink dialect's analyzed plans (`SqlEnv.wrapTimeArithmetic`):
  * the reference (and DuckDB) wrap modulo 24 h where Spark raises
  * `DATETIME_OVERFLOW`. Anchor the TIME on the epoch date, add the
  * interval as NTZ timestamp arithmetic (crosses midnight freely in
  * both directions), take the wall-clock time of day back. All-builtin
  * replacement, codegen-resident. */
case class TimeAddWrap(
    time: Expression,
    interval: Expression,
    timeZoneId: Option[String] = None)
  extends RuntimeReplaceable with BinaryLike[Expression]
  with TimeZoneAwareExpression {

  override def left: Expression = time
  override def right: Expression = interval
  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))
  override def nodePatternsInternal(): Seq[TreePattern.TreePattern] =
    Seq(TreePattern.RUNTIME_REPLACEABLE)

  private def precision: Int = time.dataType match {
    case TimeType(p) => p
    case _ => 6
  }

  // The registered SQL surface used to carry a typed signature
  // (t TIME(6), d INTERVAL DAY TO SECOND) whose implicit coercions the
  // expression-backed registration bypasses — re-apply them here so
  // string operands keep working: time_add_wrap('10:30:05', d) casts
  // the time leg to TIME(6); a non-interval d leg likewise casts.
  private def timeOperand: Expression = time.dataType match {
    case _: TimeType => time
    case _ => Cast(time, TimeType(6), timeZoneId)
  }
  private def intervalOperand: Expression = interval.dataType match {
    case _: DayTimeIntervalType | CalendarIntervalType => interval
    case _ => Cast(interval, DayTimeIntervalType(), timeZoneId)
  }

  override lazy val replacement: Expression =
    Cast(
      ToTime(DateFormatClass(
        // NTZ→TIMESTAMP spelled out (analyzer coercion does not reach
        // replacement trees). The cast+format pair must be a wall-clock
        // identity, which a DST-observing session zone breaks when the
        // interval lands the anchor inside a spring-forward gap (e.g.
        // epoch + 120 days crosses 1970-04-26 in America/New_York) —
        // pin BOTH legs to UTC so the result is independent of
        // spark.sql.session.timeZone (r15 advice).
        Cast(TimestampAddInterval(
          MakeTimestampNTZ(Literal(0, DateType), timeOperand),
          intervalOperand, timeZoneId),
          TimestampType, Some("UTC")),
        Literal("HH:mm:ss.SSSSSS"), Some("UTC")), None),
      TimeType(precision), timeZoneId)

  override def prettyName: String = "time_add_wrap"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TimeAddWrap =
    copy(time = newLeft, interval = newRight)
}

object times {
  private def prec(es: Seq[Expression]): Int =
    es.lift(1).collect { case Literal(p: Int, IntegerType) => p }
      .getOrElse(6).min(6).max(0)

  /** The TIME helpers. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("cast_time", es => CastTime(es.head, prec(es))),
    ("try_cast_time", es => CastTime(es.head, prec(es), tryMode = true)),
    ("cast_timestamp", es => CastTimestamp(es.head, ntz = false)),
    ("cast_timestamp_ntz", es => CastTimestamp(es.head, ntz = true)),
    ("try_cast_timestamp", es => CastTimestamp(es.head, ntz = false, tryMode = true)),
    ("try_cast_timestamp_ntz", es => CastTimestamp(es.head, ntz = true, tryMode = true)),
    // TIME ± interval with the reference's wrap-around-midnight
    // semantics (FlinkSQL/DuckDB wrap modulo 24 h where Spark's native
    // TIME arithmetic raises DATETIME_OVERFLOW — the delta pinned in
    // SqlEnvSpec). Backed by the SAME TimeAddWrap expression the
    // dialect's wrapTimeArithmetic substitutes into analyzed plans, so
    // the SQL surface and the rewrite share one (UTC-pinned,
    // session-timezone-independent) implementation. Previously a SQL
    // function body whose date_format leg implicit-cast NTZ→TIMESTAMP
    // in the SESSION zone — the r15-advice DST hazard.
    ("time_add_wrap", es => TimeAddWrap(es.head, es(1))))
}
