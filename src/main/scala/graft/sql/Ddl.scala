package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Flink-dialect DDL subset: `CREATE TABLE ... WITH ('connector'=...)`
  * and `INSERT INTO/OVERWRITE <table> SELECT ...` — the reference
  * user's primary batch workflow (reference: flink-table-api-java
  * TableEnvironmentImpl.executeSql DDL branch; filesystem connector
  * docs `docs/content/docs/connectors/table/filesystem.md`).
  *
  * Supported surface:
  *  - physical columns with Flink types (CHAR/VARCHAR/STRING, BOOLEAN,
  *    TINYINT..BIGINT, FLOAT, DOUBLE, DECIMAL(p,s), DATE, TIME[(p)],
  *    TIMESTAMP[(p)][_LTZ], BYTES/[VAR]BINARY, ARRAY<T>, MAP<K,V>,
  *    ROW<name T, ...>); TIME maps to Spark 4.1's native TimeType
  *    (`spark.sql.timeType.enabled` — graft sessions enable it;
  *    Flink's p ≤ 9 clamps to Spark's max precision 6);
  *  - `WATERMARK FOR ts AS ts - INTERVAL 'n' <unit>` (applied as
  *    `withWatermark` when the source is streaming; recorded otherwise);
  *  - `PRIMARY KEY (...) NOT ENFORCED` (recorded — drives upsert sinks);
  *  - `PARTITIONED BY (...)` (write-side partitioning + read-side
  *    partition discovery);
  *  - connectors: `filesystem` (formats parquet/csv/json/orc/avro —
  *    avro via graft.sources.Avro), `datagen` (bounded,
  *    `number-of-rows`, per-field `fields.<f>.kind` = sequence with
  *    start/end), `blackhole` (INSERT → noop).
  *
  * A filesystem table whose path does not exist yet registers lazily:
  * the first INSERT materializes it and registers the view.
  */
object Ddl {

  /** Computed column `name AS <expr>` — reference: SqlTableColumn
    * .SqlComputedColumn (flink-sql-parser parserImpls.ftl:787). The
    * expression is Spark SQL text, evaluated over the physical +
    * metadata columns at read time; computed columns are virtual and
    * never written.
    */
  final case class ComputedCol(name: String, exprText: String)

  /** Metadata column `name TYPE METADATA [FROM 'key'] [VIRTUAL]` —
    * reference: SqlTableColumn.SqlMetadataColumn (parserImpls.ftl:814)
    * + each connector's listReadableMetadata (e.g. KafkaDynamicSource
    * .ReadableMetadata: topic/partition/offset/timestamp/...). VIRTUAL
    * columns are read-only and excluded from INSERT alignment.
    */
  final case class MetaCol(name: String, dataType: DataType,
                           key: String, virtual: Boolean)

  final case class TableDef(name: String, schema: StructType,
                            watermark: Option[(String, String)],
                            primaryKey: Seq[String],
                            partitionedBy: Seq[String],
                            options: Map[String, String],
                            computed: Seq[ComputedCol] = Nil,
                            metaCols: Seq[MetaCol] = Nil,
                            columnOrder: Seq[String] = Nil) {
    def connector: String = options.getOrElse("connector",
      throw new IllegalArgumentException(s"table $name: 'connector' option required"))
    def path: String = options.getOrElse("path",
      throw new IllegalArgumentException(s"table $name: 'path' option required"))
    def format: String = options.getOrElse("format", "parquet")
    /** Declared order of all columns (physical + metadata + computed). */
    def declaredOrder: Seq[String] =
      if (columnOrder.nonEmpty) columnOrder
      else schema.fieldNames.toSeq ++ metaCols.map(_.name) ++ computed.map(_.name)
  }

  // Both patterns run over the code view ([[StatementRe]]), so a `)` in
  // a literal never closes the PARTITIONED BY or PARTITION list. Column
  // list is LAZY so a trailing `PARTITIONED BY (...)` clause is not
  // swallowed by the column group (backtracking still steps over nested
  // parens inside DECIMAL(p,s)/ROW<...> because the tail must match
  // `[PARTITIONED BY] WITH (...)`).
  private val createRe = new StatementRe(
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*\((.*?)\)\s*(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?WITH\s*\((.*)\)\s*$""")
  // Optional static partition spec (RichSqlInsert.getStaticPartitions:71):
  // INSERT INTO/OVERWRITE t [PARTITION (k='v', ...)] SELECT ...
  private val insertRe = new StatementRe(
    """(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\)\s*)?\s+(SELECT\b.*|VALUES\b.*)$""")

  def isCreateTable(sql: String): Boolean = createRe.matches(sql)
  def isInsert(sql: String): Boolean = insertRe.matches(sql)
  /** Target table of an INSERT statement, if it is one. */
  def insertTarget(sql: String): Option[String] = insertRe.unapplySeq(sql).map(_(1))
  /** Source query (SELECT/VALUES tail) of an INSERT statement, if it
    * is one — lets EXPLAIN plan the source without running the sink. */
  def insertSource(sql: String): Option[String] = insertRe.unapplySeq(sql).map(_(3))

  // ---- SHOW CREATE TABLE ----------------------------------------------

  /** Spark DataType → Flink type text, the reverse of [[flinkType]] —
    * used by SHOW CREATE TABLE (reference: SqlShowCreateTable →
    * ShowCreateTableOperation → ShowCreateUtil.buildShowCreateTableRow).
    */
  def flinkTypeName(t: DataType): String = t match {
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "STRING"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BYTES"
    case DateType => "DATE"
    case t: TimeType => s"TIME(${t.precision})"
    case TimestampType | TimestampNTZType => "TIMESTAMP(3)"
    case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
    case a: ArrayType => s"ARRAY<${flinkTypeName(a.elementType)}>"
    case m: MapType =>
      s"MAP<${flinkTypeName(m.keyType)}, ${flinkTypeName(m.valueType)}>"
    case s: StructType =>
      "ROW<" + s.fields.map(f => s"`${f.name}` ${flinkTypeName(f.dataType)}")
        .mkString(", ") + ">"
    case other => other.sql
  }

  /** Reconstruct the CREATE TABLE DDL for a declared table, in the
    * reference's ShowCreateUtil layout: declared column order (physical
    * + metadata + computed), WATERMARK, PRIMARY KEY ... NOT ENFORCED,
    * PARTITIONED BY, WITH (sorted options).
    */
  def showCreate(d: TableDef): String = {
    val phys = d.schema.fields.map(f =>
      f.name -> s"`${f.name}` ${flinkTypeName(f.dataType)}").toMap
    val comp = d.computed.map(c => c.name -> s"`${c.name}` AS ${c.exprText}").toMap
    val meta = d.metaCols.map(m => m.name ->
      (s"`${m.name}` ${flinkTypeName(m.dataType)} METADATA FROM '${m.key}'" +
        (if (m.virtual) " VIRTUAL" else ""))).toMap
    val byName = phys ++ meta ++ comp
    val cols = d.declaredOrder.flatMap(byName.get)
    // stored delay is "<n> <unit>s" (parseCreateTable) → '<n>' <UNIT>
    val wm = d.watermark.map { case (c, delay) =>
      val parts = delay.split(" ")
      val unit = parts.lift(1).map(_.stripSuffix("s").toUpperCase).getOrElse("SECOND")
      s"WATERMARK FOR `$c` AS `$c` - INTERVAL '${parts(0)}' $unit"
    }
    val pk =
      if (d.primaryKey.nonEmpty)
        Some(s"PRIMARY KEY (${d.primaryKey.map(k => s"`$k`").mkString(", ")}) NOT ENFORCED")
      else None
    val body = (cols ++ wm ++ pk).mkString(",\n  ")
    val part =
      if (d.partitionedBy.nonEmpty)
        s"\nPARTITIONED BY (${d.partitionedBy.map(k => s"`$k`").mkString(", ")})"
      else ""
    val opts = d.options.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'$k' = '${v.replace("'", "''")}'" }
      .mkString(",\n  ")
    s"CREATE TABLE `${d.name}` (\n  $body\n)$part\nWITH (\n  $opts\n)"
  }

  // ---- type mapping ----------------------------------------------------

  /** Flink SQL type text → Spark DataType. */
  def flinkType(t0: String): DataType = {
    val t = t0.trim
    val up = t.toUpperCase
    lazy val paren = """\((\d+)\s*(?:,\s*(\d+))?\)""".r.findFirstMatchIn(t)
    if (up.startsWith("ARRAY<")) ArrayType(flinkType(t.substring(6, t.length - 1)))
    else if (up.startsWith("MAP<")) splitTopLevel(t.substring(4, t.length - 1)) match {
      case Seq(k, v) => MapType(flinkType(k), flinkType(v))
      case _ => throw new IllegalArgumentException(s"expected MAP<key type, value type>: $t")
    } else if (up.startsWith("ROW<")) {
      val inner = t.substring(4, t.length - 1)
      StructType(splitTopLevel(inner).map { f =>
        val sp = f.trim.indexOf(' ')
        // names may arrive backtick-quoted (SHOW CREATE emits them so);
        // the quotes are syntax, not part of the field name
        val name = f.trim.substring(0, sp).trim.stripPrefix("`").stripSuffix("`")
        StructField(name, flinkType(f.trim.substring(sp + 1)))
      })
    } else if (up.startsWith("DECIMAL") || up.startsWith("NUMERIC")) {
      val (p, s) = paren.map(m => (m.group(1).toInt,
        Option(m.group(2)).map(_.toInt).getOrElse(0))).getOrElse((10, 0))
      DecimalType(p, s)
    } else if (up.startsWith("VARCHAR") || up.startsWith("CHAR") || up == "STRING")
      StringType
    else if (up.startsWith("TIMESTAMP")) TimestampType // (p) and _LTZ collapse
    else if (up.startsWith("TIME")) // Flink p <= 9 clamps to Spark max 6
      TimeType(paren.map(m => math.min(m.group(1).toInt, TimeType.MAX_PRECISION))
        .getOrElse(TimeType.MIN_PRECISION)) // Flink's bare TIME = TIME(0)
    else if (up.startsWith("VARBINARY") || up.startsWith("BINARY") || up == "BYTES")
      BinaryType
    else up match {
      case "BOOLEAN" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" => ShortType
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case "FLOAT" => FloatType
      case "DOUBLE" => DoubleType
      case "DATE" => DateType
      case other => throw new IllegalArgumentException(s"unsupported Flink type: $other")
    }
  }

  /** Split column items on top-level commas. Literals, quoted names and
    * comments are not code ([[SqlText]]). Angle brackets only count as
    * type-nesting when they read like generics (`ARRAY<INT>`: `<` glued
    * to the preceding identifier, `>` glued to what it closes) — a spaced
    * `a > b` comparison inside a computed-column expression is an
    * operator, not a bracket.
    */
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val t = SqlText(s)
    val cuts = Seq.newBuilder[Int]
    var paren = 0; var angle = 0
    for (i <- s.indices; if t.isCode(i)) {
      val prev = if (i == 0) ' ' else s.charAt(i - 1)
      s.charAt(i) match {
        case '(' => paren += 1
        case ')' => paren -= 1
        case '<' if prev.isLetterOrDigit || prev == '_' => angle += 1
        case '>' if angle > 0 && prev != ' ' && prev != '=' && prev != '-' => angle -= 1
        case ',' if paren == 0 && angle == 0 => cuts += i
        case _ =>
      }
    }
    t.pieces(cuts.result()).filter(_.nonEmpty)
  }

  /** A comma-separated list of column (or module) names, back-quotes
    * dropped; a comma inside back-quotes belongs to the name. */
  private[sql] def nameList(txt: String): Seq[String] =
    SqlText(txt).splitTopLevel(',').filter(_.nonEmpty).map(_.stripPrefix("`").stripSuffix("`"))

  /** Parse `k = 'v'[, k2 = v2]` partition-spec text into ordered pairs
    * (quote-aware item split — a quoted value may contain commas; a
    * doubled quote inside a quoted value is SQL's escaped quote). */
  private[sql] def parsePartSpec(txt: String): Seq[(String, String)] =
    splitTopLevel(txt).map { kv =>
      val eq = kv.indexOf('=')
      require(eq > 0, s"cannot parse partition spec item: '$kv' (expected k = 'v')")
      val k = kv.substring(0, eq).trim.stripPrefix("`").stripSuffix("`")
      val raw = kv.substring(eq + 1).trim
      val v =
        if (raw.length >= 2 && raw.startsWith("'") && raw.endsWith("'"))
          raw.substring(1, raw.length - 1).replace("''", "'")
        else raw
      require(k.nonEmpty && v.nonEmpty, s"cannot parse partition spec item: '$kv'")
      (k, v)
    }
  // ---- CREATE TABLE ----------------------------------------------------

  def parseCreateTable(sql: String): TableDef = {
    val (name, body, partitionList, withBody) = sql match {
      case createRe(n, b, p, w) => (n, b, p, w)
      case _ => throw new IllegalArgumentException(s"not a CREATE TABLE: $sql")
    }
    val partitioned = Option(partitionList).map(nameList).getOrElse(Nil)
    val opts = parseOptionPairs(withBody)

    var watermark: Option[(String, String)] = None
    var pk: Seq[String] = Nil
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val computed = scala.collection.mutable.ArrayBuffer.empty[ComputedCol]
    val metaCols = scala.collection.mutable.ArrayBuffer.empty[MetaCol]
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    // `name TYPE METADATA [FROM 'key'] [VIRTUAL]` (parserImpls.ftl:814)
    val metaRe = """(?is)^(.*?)\s+METADATA(?:\s+FROM\s+'([^']+)')?(\s+VIRTUAL)?$""".r
    // `name AS expr` — second token is the AS keyword (parserImpls.ftl:787)
    val computedRe = """(?is)^(`?\w+`?)\s+AS\s+(.+)$""".r
    splitTopLevel(body).foreach { item =>
      val up = item.toUpperCase
      if (up.startsWith("WATERMARK ")) {
        val wm = """(?is)WATERMARK\s+FOR\s+`?(\w+)`?\s+AS\s+`?\1`?\s*-\s*INTERVAL\s*'([\d.]+)'\s*(\w+)""".r
          .findFirstMatchIn(item).getOrElse(throw new IllegalArgumentException(
            s"unsupported WATERMARK clause: $item (expected ts - INTERVAL 'n' unit)"))
        watermark = Some((wm.group(1), s"${wm.group(2)} ${wm.group(3).toLowerCase}s"))
      } else if (up.startsWith("PRIMARY KEY") || up.startsWith("CONSTRAINT ")) {
        // a named constraint can only be the primary key
        pk = """\(([^)]*)\)""".r.findFirstMatchIn(item).map(m => nameList(m.group(1)))
          .getOrElse(pk)
      } else item match {
        case computedRe(rawName, exprText) =>
          val colName = rawName.stripPrefix("`").stripSuffix("`")
          computed += ComputedCol(colName, exprText.trim)
          order += colName
        case _ =>
          val sp = item.indexOf(' ')
          require(sp > 0, s"cannot parse column: $item")
          val colName = item.substring(0, sp).trim.stripPrefix("`").stripSuffix("`")
          val typeTxt = item.substring(sp + 1).trim
            .replaceAll("(?i)\\s+NOT\\s+NULL$", "")
          typeTxt match {
            case metaRe(tpe, fromKey, virtual) =>
              metaCols += MetaCol(colName, flinkType(tpe),
                Option(fromKey).getOrElse(colName), virtual != null)
            case _ => fields += StructField(colName, flinkType(typeTxt))
          }
          order += colName
      }
    }
    TableDef(name, StructType(fields.toSeq), watermark, pk, partitioned, opts,
      computed.toSeq, metaCols.toSeq, order.toSeq)
  }

  /** `'k' = 'v'` option pairs of a WITH clause, ALTER TABLE SET or a
    * property list, read from the lexer's string-literal tokens. A
    * doubled quote is one quote; backslashes stay literal, as in Flink. */
  def parseOptionPairs(txt: String): Map[String, String] = {
    def pairs(lits: List[(Int, Int, String)]): List[(String, String)] = lits match {
      case (_, ke, k) :: (vs, _, v) :: rest if txt.substring(ke, vs).trim == "=" =>
        (k -> v) :: pairs(rest)
      case _ :: rest => pairs(rest)
      case Nil => Nil
    }
    pairs(SqlText(txt).quoted('\'').toList).toMap
  }

  /** Quoted key list for ALTER TABLE RESET: ('k1', 'k2'). */
  def parseOptionKeys(txt: String): Seq[String] = SqlText(txt).quoted('\'').map(_._3)

  /** Execute the CREATE TABLE: build the source DataFrame (if readable
    * now) and register it. Returns true if registered, false if
    * deferred to first INSERT (filesystem path absent).
    */
  def executeCreate(spark: SparkSession, d: TableDef): Boolean = d.connector match {
    case "filesystem" =>
      val p = new org.apache.hadoop.fs.Path(d.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) false
      else { register(spark, d); true }
    case "datagen" =>
      // unbounded datagen ('rows-per-second') → Spark rate source;
      // bounded ('number-of-rows') → range. Same per-field derivation.
      val streaming = d.options.contains("rows-per-second")
      var df =
        if (streaming)
          spark.readStream.format("rate")
            .option("rowsPerSecond", d.options("rows-per-second"))
            .load().select(col("value").as("__seq"))
        else spark.range(d.options.getOrElse("number-of-rows", "1000").toLong)
          .toDF("__seq")
      d.schema.fields.foreach { f =>
        val kind = d.options.getOrElse(s"fields.${f.name}.kind", "random")
        val col0 = kind match {
          case "sequence" =>
            val start = d.options.getOrElse(s"fields.${f.name}.start", "0").toLong
            (col("__seq") + lit(start)).cast(f.dataType)
          case _ => // "random" — deterministic hash-derived (reproducible runs)
            f.dataType match {
              case StringType => md5(concat(lit(f.name), col("__seq")))
              case _ => (abs(xxhash64(lit(f.name), col("__seq"))) % 1000000).cast(f.dataType)
            }
        }
        df = df.withColumn(f.name, col0)
      }
      val declared = applyDeclared(df.drop("__seq"), d,
        k => throw new IllegalArgumentException(s"datagen has no metadata column '$k'"))
      applyWatermark(declared, d).createOrReplaceTempView(d.name)
      true
    case "kafka" | "upsert-kafka" =>
      registerKafka(spark, d); true
    case "blackhole" | "print" => true // sink-only; nothing to read
    case other => throw new IllegalArgumentException(
      s"unsupported connector '$other' (filesystem/datagen/kafka/upsert-kafka/blackhole)")
  }

  /** Kafka / upsert-kafka DDL (reference: KafkaDynamicTableFactory /
    * UpsertKafkaDynamicTableFactory option names). The value format is
    * decoded against the DDL schema: `json` via [[graft.sources.Kafka
    * .decodeJson]], `protobuf` via a `protobuf.descriptor-file` +
    * `protobuf.message-name` pair (the protoc artifact parsed by
    * [[graft.sources.ProtoDescriptors]]), `raw` as a bare string
    * column. upsert-kafka additionally runs tombstone→changelog
    * normalization keyed by the DDL PRIMARY KEY.
    */
  /** Raw kafka-schema source builder — injectable because the sandbox
    * classpath carries no spark-sql-kafka jar (the same seam
    * JdbcKafkaSpec uses for connections): production default is the
    * real `format("kafka")` source; tests supply a synthetic frame
    * with the kafka schema (key/value binary, offset, ...).
    */
  @volatile var kafkaRawSource: (SparkSession, graft.sources.Kafka.SourceConfig) => DataFrame =
    (s, cfg) => graft.sources.Kafka.source(s, cfg)

  private def registerKafka(spark: SparkSession, d: TableDef): Unit = {
    val cfg = graft.sources.Kafka.SourceConfig(
      bootstrapServers = d.options.getOrElse("properties.bootstrap.servers",
        throw new IllegalArgumentException(s"table ${d.name}: 'properties.bootstrap.servers' required")),
      topic = d.options.getOrElse("topic",
        throw new IllegalArgumentException(s"table ${d.name}: 'topic' required")),
      startupMode = d.options.getOrElse("scan.startup.mode", "latest"),
      startupTimestampMs = d.options.get("scan.startup.timestamp-millis").map(_.toLong),
      groupId = d.options.get("properties.group.id"))
    val raw = kafkaRawSource(spark, cfg)
    val fmt = d.options.getOrElse("format", d.options.getOrElse("value.format", "json"))

    // Key fields (reference: KafkaConnectorOptionsUtil.createKeyFormatProjection):
    // 'key.fields' names declared physical columns decoded from the
    // record KEY (raw single-field key format — the common compaction
    // key shape); on upsert-kafka the PRIMARY KEY IS the key, like
    // UpsertKafkaDynamicTableFactory derives it.
    val keyFields: Seq[String] =
      if (d.connector == "upsert-kafka") d.primaryKey
      else d.options.get("key.fields").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    // 'value.fields-include' = ALL | EXCEPT_KEY (default EXCEPT_KEY
    // when key fields exist — KafkaConnectorOptions.VALUE_FIELDS_INCLUDE)
    val valueHasKeyFields =
      d.options.getOrElse("value.fields-include", "EXCEPT_KEY").equalsIgnoreCase("ALL")
    val valueSchema = StructType(d.schema.fields.filter(f =>
      valueHasKeyFields || !keyFields.contains(f.name)))

    def keyCol(f: StructField): Column =
      col("key").cast("string").cast(f.dataType).as(f.name)

    /** Flatten a decoded `__v` struct frame to the declared physical
      * columns (key fields from the record key), then metadata +
      * computed + declared order.
      */
    def flatten(withV: DataFrame, extraLead: Seq[String] = Nil): DataFrame = {
      var df = withV
      d.schema.fields.foreach { f =>
        df = df.withColumn(f.name,
          if (keyFields.contains(f.name) && !valueHasKeyFields) keyCol(f)
          else col(s"__v.${f.name}"))
      }
      applyDeclared(df, d, kafkaMetadata, extraLead)
    }

    val out = fmt match {
      case "json" | "protobuf" =>
        val valueCol = fmt match {
          // TIME fields ride the value as ISO text (flink-json wire
          // contract; from_json rejects TimeType) — parseJson restores
          case "json" => graft.sources.TimeFormats.parseJson(
            col("value").cast("string"), valueSchema)
          case _ =>
            val descFile = d.options.getOrElse("protobuf.descriptor-file",
              throw new IllegalArgumentException(
                s"table ${d.name}: format=protobuf needs 'protobuf.descriptor-file'"))
            val msgName = d.options.getOrElse("protobuf.message-name",
              throw new IllegalArgumentException(
                s"table ${d.name}: format=protobuf needs 'protobuf.message-name'"))
            val msg = graft.sources.ProtoDescriptors.fromDescriptorSet(
              java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(descFile)), msgName)
            graft.functions.proto.protoDecode(col("value"), msg)
        }
        val withV = raw.withColumn("__v", valueCol)
        if (d.connector == "upsert-kafka") {
          // Tombstone (null value) → -D with non-key fields null;
          // non-null → +U; then changelog-normalize keyed by the PK
          // (UpsertKafkaDynamicTableFactory semantics).
          require(d.primaryKey.nonEmpty,
            s"table ${d.name}: upsert-kafka requires a PRIMARY KEY")
          val kinded = withV.withColumn(graft.streaming.Changelog.KindCol,
            when(col("value").isNull || col("__v").isNull,
              graft.streaming.Changelog.Delete)
              .otherwise(graft.streaming.Changelog.UpdateAfter))
          graft.streaming.Changelog.changelogNormalize(
            flatten(kinded, Seq(graft.streaming.Changelog.KindCol)), d.primaryKey)
        } else if (fmt == "json" &&
          d.options.getOrElse("json.ignore-parse-errors", "false") == "true")
          // skip unparseable values (JsonFormatOptions.java:37) —
          // from_json yields a null struct on malformed input
          flatten(withV.filter(col("__v").isNotNull))
        else flatten(withV)
      case "raw" =>
        // Bare-string value into the single non-key physical column
        // (flink-formats/flink-raw RawFormatDeserializationSchema).
        val target = d.schema.fields.filterNot(f => keyFields.contains(f.name))
        require(target.length == 1,
          s"table ${d.name}: format=raw needs exactly one non-key physical column")
        var df = raw.withColumn(target.head.name,
          col("value").cast("string").cast(target.head.dataType))
        d.schema.fields.filter(f => keyFields.contains(f.name))
          .foreach(f => df = df.withColumn(f.name, keyCol(f)))
        applyDeclared(df, d, kafkaMetadata)
      // CDC envelope formats (flink-json debezium/canal/maxwell/ogg
      // deserialization schemas): the decoded view is already a
      // changelog (+I/-U/+U/-D in row_kind) — the reference likewise
      // forbids them on upsert-kafka, whose value format must be
      // insert-only.
      case cdc @ ("debezium-json" | "canal-json" | "maxwell-json" | "ogg-json") =>
        require(d.connector != "upsert-kafka",
          s"table ${d.name}: upsert-kafka requires an insert-only value format, not $cdc")
        val v = col("value").cast("string")
        cdc match {
          case "debezium-json" => graft.sources.CdcFormats.fromDebeziumJson(raw, v, d.schema)
          case "canal-json" => graft.sources.CdcFormats.fromCanalJson(raw, v, d.schema)
          case "maxwell-json" => graft.sources.CdcFormats.fromMaxwellJson(raw, v, d.schema)
          case _ => graft.sources.CdcFormats.fromOggJson(raw, v, d.schema)
        }
      case other => throw new IllegalArgumentException(
        s"kafka value format '$other' unsupported (json/protobuf/raw/debezium-json/canal-json/maxwell-json/ogg-json)")
    }
    applyWatermark(out, d).createOrReplaceTempView(d.name)
  }

  // ---- metadata / computed column application --------------------------

  /** Filesystem readable metadata (reference: filesystem connector docs
    * `docs/content/docs/connectors/table/filesystem.md` — file.path,
    * file.name, file.size, file.modification-time), served from Spark's
    * hidden `_metadata` struct on file sources.
    */
  private def fsMetadata(key: String): Column = key match {
    case "file.path" => col("_metadata.file_path")
    case "file.name" => col("_metadata.file_name")
    case "file.size" => col("_metadata.file_size")
    case "file.modification-time" => col("_metadata.file_modification_time")
    case other => throw new IllegalArgumentException(
      s"filesystem metadata key '$other' unsupported " +
        "(file.path/file.name/file.size/file.modification-time)")
  }

  /** Kafka readable metadata (reference: KafkaDynamicSource
    * .ReadableMetadata:517), mapped onto Spark's kafka source columns.
    * `leader-epoch` has no Spark analog and reads as NULL (the
    * reference's type is INT NULL, so a null is legal there too).
    */
  private def kafkaMetadata(key: String): Column = key match {
    case "topic" => col("topic")
    case "partition" => col("partition")
    case "offset" => col("offset")
    case "timestamp" => col("timestamp")
    case "timestamp-type" => col("timestampType")
    case "headers" => col("headers")
    case "leader-epoch" => lit(null).cast(IntegerType)
    case other => throw new IllegalArgumentException(
      s"kafka metadata key '$other' unsupported " +
        "(topic/partition/offset/timestamp/timestamp-type/headers/leader-epoch)")
  }

  /** Append declared metadata + computed columns (in declaration order:
    * metadata first, then computed, so computed expressions can
    * reference both physical and metadata columns — the reference's
    * schema resolution order in DefaultSchemaResolver), then project to
    * the declared column order. `extraLead` prepends bookkeeping
    * columns (the changelog kind for upsert-kafka/CDC views).
    */
  private[sql] def applyDeclared(df0: DataFrame, d: TableDef,
                                 metaSource: String => Column,
                                 extraLead: Seq[String] = Nil): DataFrame = {
    var df = df0
    d.metaCols.foreach { mc =>
      df = df.withColumn(mc.name, metaSource(mc.key).cast(mc.dataType))
    }
    d.computed.foreach { cc => df = df.withColumn(cc.name, expr(cc.exprText)) }
    df.select((extraLead ++ d.declaredOrder).map(col): _*)
  }

  /** Apply the declared watermark if the frame is streaming (batch
    * frames record it only — Spark watermarks are a streaming concept).
    */
  private def applyWatermark(df: DataFrame, d: TableDef): DataFrame =
    d.watermark match {
      case Some((c, delay)) if df.isStreaming => df.withWatermark(c, delay)
      case _ => df
    }

  /** Register a readable filesystem table as a temp view. */
  def register(spark: SparkSession, d: TableDef): Unit = {
    // 'json.ignore-parse-errors' / 'csv.ignore-parse-errors'
    // (flink-json JsonFormatOptions.java:37, flink-csv CsvFormatOptions):
    // skip unparseable records instead of failing — Spark's
    // DROPMALFORMED mode is the same row-skipping contract.
    def parseMode(fmt: String): String =
      if (d.options.getOrElse(s"$fmt.ignore-parse-errors", "false") == "true")
        "DROPMALFORMED" else "FAILFAST"
    // TIME(p) columns ride CSV/JSON as ISO text (the reference's
    // RowDataToCsv/JsonConverters contract; Spark's datasources reject
    // TimeType) — read the wire schema, cast back to the declared one.
    import graft.sources.TimeFormats
    val base = d.format match {
      case "parquet" => spark.read.schema(d.schema).parquet(d.path)
      // TIME(p) rides ORC as the reference's numeric wire (int
      // millis-of-day; RowDataVectorizer.java:120) — see TimeFormats
      case "orc" => TimeFormats.decodeOrcTimes(
        spark.read.schema(TimeFormats.orcWireSchema(d.schema)).orc(d.path),
        d.schema)
      case "json" => TimeFormats.decodeTimes(
        spark.read.schema(TimeFormats.textSchema(d.schema))
          .option("mode", parseMode("json")).json(d.path),
        d.schema,
        // ignore-parse-errors drops a record on ANY field parse
        // failure in the reference — including its TIME text
        dropMalformed = parseMode("json") == "DROPMALFORMED")
      case "csv" => TimeFormats.decodeTimes(
        spark.read.schema(TimeFormats.textSchema(d.schema))
          .option("header", d.options.getOrElse("csv.include-header", "false"))
          .option("sep", d.options.getOrElse("csv.field-delimiter", ","))
          .option("mode", parseMode("csv"))
          .csv(d.path),
        d.schema,
        dropMalformed = parseMode("csv") == "DROPMALFORMED")
      case "avro" => graft.sources.Avro.read(spark, d.path, Some(d.schema))
      case "raw" => spark.read.text(d.path)
        .select(col("value").as(d.schema.fieldNames.head))
      case other => throw new IllegalArgumentException(s"unsupported format '$other'")
    }
    val declared = applyDeclared(base, d, fsMetadata)
    applyWatermark(declared, d).createOrReplaceTempView(d.name)
  }

  // ---- INSERT ----------------------------------------------------------

  /** Execute `INSERT INTO/OVERWRITE <t> SELECT ...` against a table
    * DEFINED via CREATE TABLE: runs the query (through `runSql`, so
    * nested graft SQL surfaces work), writes with the table's format,
    * then (re)registers the view over the path.
    */
  def executeInsert(spark: SparkSession, defs: Map[String, TableDef],
                    sql: String, runSql: String => DataFrame): DataFrame = {
    val (kind, name, spec, source) = sql match { case insertRe(k, n, p, q) => (k, n, p, q) }
    val mode = if (kind.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append"
    val d = defs.getOrElse(name, throw new IllegalArgumentException(
      s"INSERT target '$name' was not defined via CREATE TABLE"))
    // Static partitions (RichSqlInsert.getStaticPartitions:71): values
    // appended as literal columns, NOT expected in the SELECT list;
    // OVERWRITE with a static spec replaces only the touched
    // partitions (Spark's dynamic partitionOverwriteMode), like the
    // reference's filesystem sink.
    val staticParts = Option(spec).toSeq.flatMap(parsePartSpec)
    staticParts.foreach { case (k, _) => require(d.partitionedBy.contains(k),
      s"static partition column '$k' is not in PARTITIONED BY (${d.partitionedBy.mkString(", ")})") }
    val data0 = runSql(source)
    // The SELECT list omits the static partition columns (reference
    // semantics), so rename its output positionally to the declared
    // NON-static columns, add the static literals, then restore
    // declared order.
    val data = if (staticParts.isEmpty) data0 else {
      val nonStatic = d.schema.fieldNames.filterNot(staticParts.map(_._1).toSet)
      staticParts.foldLeft(data0.toDF(nonStatic.toIndexedSeq: _*)) {
        case (df, (k, v)) =>
          df.withColumn(k, lit(v).cast(d.schema.fields.find(_.name == k)
            .map(_.dataType).getOrElse(StringType)))
      }.select(d.schema.fieldNames.toIndexedSeq.map(col): _*)
    }
    d.connector match {
      case "blackhole" => data.write.format("noop").mode("overwrite").save()
      case "print" => data.show(20, truncate = false)
      case "filesystem" =>
        // Partitioned OVERWRITE replaces only the partitions the write
        // touches — static-spec AND dynamic alike ("only the
        // corresponding partition will be overwritten, not the entire
        // table", filesystem.md:87; FileSystemCommitter deletes just the
        // committed partitions). Spark's static mode would wipe the
        // whole table on a dynamic overwrite, so dynamic mode is keyed
        // on the table being partitioned, not on a static spec.
        writeFilesystem(spark, d, data.toDF(d.schema.fieldNames.toIndexedSeq: _*),
          mode, dynamicPartitions = d.partitionedBy.nonEmpty)
        // ANALYZE TABLE on a graft temp view caches the relation
        // (SqlEnv's analyze handler); without invalidation the
        // re-registered view would keep serving PRE-insert rows — the
        // replacement scan is sameResult with the cached plan because
        // InMemoryFileIndex equality is rootPaths-based. Drop the
        // cache and the path's file-index caches before re-registering.
        try if (spark.catalog.tableExists(d.name) && spark.catalog.isCached(d.name))
          spark.catalog.uncacheTable(d.name)
        catch { case _: Throwable => () }
        spark.catalog.refreshByPath(d.path)
        register(spark, d) // now readable — (re)register the view
      case other => throw new IllegalArgumentException(
        s"INSERT into connector '$other' unsupported")
    }
    spark.emptyDataFrame
  }

  /** Write `aligned` (already in declared column order) at the table's
    * path with the table's format — shared by INSERT and CTAS. TIME(p)
    * columns ride the per-format wire (ISO text for the text formats,
    * numeric millis/micros-of-day for ORC — see [[graft.sources
    * .TimeFormats]]); the ORC wire width depends on the DECLARED
    * precision, so TIME columns coerce to it before encoding.
    */
  private def writeFilesystem(spark: SparkSession, d: TableDef,
                              aligned0: DataFrame, mode: String,
                              dynamicPartitions: Boolean): Unit = {
    val aligned = d.format match {
      case "json" | "csv" => graft.sources.TimeFormats.encodeTimes(aligned0)
      case "orc" =>
        graft.sources.TimeFormats.encodeOrcTimes(
          aligned0.select(d.schema.fields.map { f =>
            f.dataType match {
              case t: TimeType => col(f.name).cast(t).as(f.name)
              case _ => col(f.name)
            }
          }.toIndexedSeq: _*))
      case _ => aligned0
    }
    val writer0 = aligned.write.mode(mode)
      .option("partitionOverwriteMode",
        if (dynamicPartitions) "dynamic" else "static")
    val writer = if (d.partitionedBy.nonEmpty)
      writer0.partitionBy(d.partitionedBy: _*) else writer0
    d.format match {
      case "parquet" => writer.parquet(d.path)
      case "orc" => writer.orc(d.path)
      case "json" => writer.json(d.path)
      case "csv" => writer
        .option("header", d.options.getOrElse("csv.include-header", "false"))
        .csv(d.path)
      case "avro" =>
        require(mode == "overwrite" || !new java.io.File(d.path).exists(),
          "avro INSERT supports overwrite/initial write")
        graft.sources.Avro.write(aligned, d.path)
      case other => throw new IllegalArgumentException(s"unsupported format '$other'")
    }
  }

  /** Execute `CREATE TABLE ... AS SELECT` (FLIP-218 — reference:
    * flink-sql-parser `ddl/SqlCreateTableAs.java`, converted by
    * SqlNodeToOperationConversion into create-then-insert): materialize
    * the query result at the table's path with the table's format, then
    * register the view so the table is readable, SHOW CREATE-able and
    * INSERT-able. Non-atomic like the reference release (atomic CTAS
    * landed after 1.16). Sinks: `filesystem` (all formats) and
    * `blackhole`; anything else is rejected the way the reference
    * rejects a connector without a batch sink.
    */
  def executeCtas(spark: SparkSession, d: TableDef, data: DataFrame): Unit =
    d.connector match {
      case "filesystem" =>
        writeFilesystem(spark, d, data, "overwrite", dynamicPartitions = false)
        spark.catalog.refreshByPath(d.path)
        register(spark, d)
      case "blackhole" =>
        data.write.format("noop").mode("overwrite").save()
      case other => throw new IllegalArgumentException(
        s"CREATE TABLE AS: connector '$other' does not support CTAS " +
          "(filesystem/blackhole)")
    }
}
