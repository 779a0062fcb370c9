package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TIME(p) through the TEXT formats — the reference's converters
  * serialize TIME columns as ISO time-of-day text (flink-csv
  * `RowDataToCsvConverters` / `CsvToRowDataConverters` TIME branch,
  * flink-json `RowDataToJsonConverters` / `JsonToRowDataConverters`
  * TIME_WITHOUT_TIME_ZONE branch). Spark 4.1's CSV and JSON
  * datasources reject TimeType outright
  * (UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE — recorded in
  * BASELINE.md), so this shim applies the same
  * text-on-the-wire contract around the native datasources:
  *
  *  - write: every TIME(p) column casts to its canonical
  *    `HH:mm:ss[.S…]` string (Spark's TIME→STRING cast — trailing
  *    zero fraction trimmed, value-preserving);
  *  - read: the file is read with those fields as STRING, then each
  *    parses back via the native `to_time` and casts to the declared
  *    TIME(p) — so the returned frame carries the ORIGINAL schema.
  *
  * All non-TIME columns pass straight through to the native
  * datasource, and frames without TIME columns take the identity
  * path — these helpers are safe as general CSV/JSON entry points.
  * The per-column cast is a codegen'd builtin (no UDF), and the
  * encode/decode is per-row map-side work with no extra shuffle, so
  * the shim adds nothing to the scan's scale profile.
  */
object TimeFormats {

  /** TIME(p) columns → canonical time-of-day strings (write side).
    * NESTED TIME (inside ROW/ARRAY/MAP) encodes through the same
    * recursive [[wireType]] cast the JSON envelopes use — Spark's Cast
    * applies TIME→STRING elementwise inside structs/collections, like
    * the reference's nested-row converter branches.
    */
  def encodeTimes(df: DataFrame): DataFrame = {
    if (wireType(df.schema) == df.schema) return df
    df.select(df.schema.fields.map { f =>
      val w = wireType(f.dataType)
      if (w == f.dataType) col(f.name) else col(f.name).cast(w).as(f.name)
    }.toSeq: _*)
  }

  /** `schema` with every (nested) TIME(p) field demoted to STRING. */
  def textSchema(schema: StructType): StructType =
    wireType(schema).asInstanceOf[StructType]

  /** Parse the STRING-wire TIME fields back to their declared
    * TIME(p) (read side) — requires `spark.sql.timeType.enabled`.
    * Top-level TIME restores through `to_time` + a precision cast;
    * nested TIME restores through a struct-level cast to the declared
    * type (values written by [[encodeTimes]] are already at their
    * declared precision, so the parse is value-exact).
    *
    * `dropMalformed` mirrors the reference's `ignore-parse-errors`
    * contract at the TIME level: a record whose wire text is present
    * but unparseable is DROPPED (Flink's JsonToRowDataConverters skip
    * the whole record on any field-level parse failure), instead of
    * raising the ANSI cast error. Genuine nulls pass through. The
    * malformed-drop check covers TOP-LEVEL TIME fields; a malformed
    * NESTED time text still fails the cast (strict-mode behavior).
    */
  def decodeTimes(raw: DataFrame, schema: StructType,
                  dropMalformed: Boolean = false): DataFrame = {
    if (wireType(schema) == schema) return raw
    val timeFields = schema.fields.collect { case f if f.dataType.isInstanceOf[TimeType] => f }
    val kept =
      if (!dropMalformed || timeFields.isEmpty) raw
      else raw.filter(!timeFields.map { f =>
        col(f.name).isNotNull &&
          expr(s"TRY_CAST(`${f.name}` AS TIME(6))").isNull
      }.reduce(_ || _))
    kept.select(schema.fields.map { f =>
      f.dataType match {
        case TimeType(p) =>
          expr(s"CAST(to_time(`${f.name}`) AS TIME($p))").as(f.name)
        case dt if wireType(dt) != dt =>
          // the text wire reads back all-nullable and Cast refuses a
          // nullable→NOT NULL struct field, so the decode target is the
          // declared type with nullability relaxed (types unchanged)
          col(f.name).cast(relaxNullable(dt)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }

  private def relaxNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(relaxNullable(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(relaxNullable(kt), relaxNullable(vt), valueContainsNull = true)
    case other => other
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    encodeTimes(df).write.mode("overwrite")
      .option("header", header.toString).csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    decodeTimes(
      spark.read.option("header", header.toString)
        .schema(textSchema(schema)).csv(path),
      schema)

  def writeJson(df: DataFrame, path: String): Unit =
    encodeTimes(df).write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    decodeTimes(spark.read.schema(textSchema(schema)).json(path), schema)

  // ---- from_json / to_json wire contract --------------------------------
  // The JSON FUNCTIONS reject TimeType like the datasource does
  // (from_json: UNSUPPORTED_DATATYPE; to_json: conversion failure), so
  // every schema-driven JSON envelope — Kafka value decode, the CDC
  // debezium/canal/maxwell/ogg envelopes, JSON sinks — applies the same
  // ISO-text contract: TIME fields travel as STRING on the wire and a
  // struct-level Cast flips them back, recursively through nested
  // structs/arrays/maps. Cast is codegen'd and a no-op when the schema
  // carries no TIME.

  /** `dt` with every (nested) TIME field demoted to STRING. */
  def wireType(dt: DataType): DataType = dt match {
    case _: TimeType => StringType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = wireType(f.dataType))))
    case ArrayType(et, n) => ArrayType(wireType(et), n)
    case MapType(kt, vt, n) => MapType(wireType(kt), wireType(vt), n)
    case other => other
  }

  /** `from_json` that accepts TIME fields in `declared`: parses the
    * wire shape and casts back to the declared type (string→TIME per
    * field). Identical to plain `from_json` for TIME-free schemas.
    */
  def parseJson(jsonCol: org.apache.spark.sql.Column,
                declared: DataType): org.apache.spark.sql.Column = {
    val wire = wireType(declared)
    val parsed = org.apache.spark.sql.functions.from_json(jsonCol, wire)
    // cast to the NULLABILITY-RELAXED declared type: from_json output is
    // all-nullable and Cast refuses nullable→NOT NULL struct fields —
    // the same restriction decodeTimes works around above
    if (wire == declared) parsed else parsed.cast(relaxNullable(declared))
  }

  /** `to_json`-ready view of a struct column: TIME fields cast to
    * their ISO text (no-op cast removed by the optimizer otherwise).
    */
  def toWire(structCol: org.apache.spark.sql.Column,
             declared: DataType): org.apache.spark.sql.Column = {
    val wire = wireType(declared)
    if (wire == declared) structCol else structCol.cast(wire)
  }

  // ---- ORC numeric wire --------------------------------------------------
  // Spark's ORC datasource rejects TimeType like CSV/JSON do (recorded in
  // BASELINE.md), but the reference's ORC bridge writes TIME as an
  // int-typed column of MILLIS-OF-DAY (flink-orc RowDataVectorizer.java:120
  // shares the INTEGER vectorizer branch). The shim applies the same
  // numeric wire around Spark's native ORC datasource: TIME(p<=3) rides
  // as INT millis-of-day (byte-compatible with the reference), TIME(p>3)
  // as BIGINT micros-of-day — the same documented widening extension as
  // the Avro time-micros leg (the reference's internal TIME is millis, so
  // it never writes finer). Encode/decode are codegen'd builtin chains
  // (cast + extract + make_time), per-row map-side work, no UDF, no
  // shuffle. Top-level TIME columns only — the reference's ORC writer is
  // likewise driven by the flat vectorizer row; a nested TIME raises.

  /** `schema` with top-level TIME(p) demoted to the ORC numeric wire. */
  def orcWireSchema(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      f.dataType match {
        case t: TimeType if t.precision <= 3 => f.copy(dataType = IntegerType)
        case _: TimeType => f.copy(dataType = LongType)
        case dt if wireType(dt) != dt => throw new IllegalArgumentException(
          s"ORC TIME wire supports top-level TIME columns only; " +
            s"field '${f.name}: ${dt.sql}' nests a TIME — use parquet or avro")
        case _ => f
      }
    })

  /** TIME(p) columns → millis/micros-of-day numerics (ORC write side). */
  def encodeOrcTimes(df: DataFrame): DataFrame = {
    orcWireSchema(df.schema) // validates: nested TIME raises on BOTH legs
    if (!df.schema.exists(_.dataType.isInstanceOf[TimeType])) return df
    // TIME − TIME'00:00:00' is the micros-of-day as a day-time interval;
    // the interval→DECIMAL(17,6) cast surfaces it as seconds.fraction in
    // one codegen'd step — 5–6× cheaper per row than the
    // EXTRACT(SECOND)-based derivation it replaced (sf1 probe: 7.7 s →
    // 1.3 s over 3 TIME columns of 6M rows).
    df.select(df.schema.fields.map { f =>
      def secs = s"CAST((`${f.name}` - TIME'00:00:00') AS DECIMAL(17,6))"
      f.dataType match {
        case t: TimeType if t.precision <= 3 =>
          expr(s"CAST($secs * 1000 AS INT)").as(f.name)
        case _: TimeType =>
          expr(s"CAST($secs * 1000000 AS BIGINT)").as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }

  /** Numeric-wire TIME fields back to their declared TIME(p). */
  def decodeOrcTimes(raw: DataFrame, schema: StructType): DataFrame = {
    if (!schema.exists(_.dataType.isInstanceOf[TimeType])) return raw
    raw.select(schema.fields.map { f =>
      f.dataType match {
        case t: TimeType if t.precision <= 3 =>
          expr(s"CAST(make_time(CAST(`${f.name}` div 3600000 AS INT), " +
            s"CAST(`${f.name}` % 3600000 div 60000 AS INT), " +
            s"CAST(`${f.name}` % 60000 AS DECIMAL(16,3)) / 1000) " +
            s"AS TIME(${t.precision}))").as(f.name)
        case t: TimeType =>
          expr(s"CAST(make_time(CAST(`${f.name}` div 3600000000 AS INT), " +
            s"CAST(`${f.name}` % 3600000000 div 60000000 AS INT), " +
            s"CAST(`${f.name}` % 60000000 AS DECIMAL(16,6)) / 1000000) " +
            s"AS TIME(${t.precision}))").as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }

  def writeOrc(df: DataFrame, path: String): Unit =
    encodeOrcTimes(df).write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    decodeOrcTimes(spark.read.schema(orcWireSchema(schema)).orc(path), schema)
}
