package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Thin `TableEnvironment`-style facade (reference:
  * flink-table/flink-table-api-java/.../api/internal/TableEnvironmentImpl.java:722
  * `executeSql`, `sqlQuery` :702) over a SparkSession.
  *
  * A user of the reference writes:
  * {{{
  *   val env = TableEnvironment.create(settings)
  *   env.executeSql("CREATE TABLE t (...) WITH ('connector'='filesystem', ...)")
  *   val result = env.executeSql("SELECT ... FROM t")
  * }}}
  * and here writes:
  * {{{
  *   val env = SqlEnv(spark)
  *   env.registerParquet("t", "/data/t.parquet")
  *   val result = env.executeSql("SELECT ... FROM t")
  * }}}
  * The SQL dialect is Spark SQL (no custom parser — SURVEY §7.1);
  * graft's extra functions (minhash/simhash/hamming64/cosine_sim/…)
  * are installed on construction so they work in SQL text
  * ([[graft.functions.functions.register]]: expression builders only,
  * so it runs no SQL statement, and it restores a graft function the
  * user dropped).
  */
class SqlEnv private (val spark: SparkSession) {
  import StatementRe.{lit, lit1}

  graft.functions.functions.register(spark)

  /** Parse+plan+execute a SQL statement (query or command). Three
    * reference SQL surfaces Spark lacks are accepted before Spark
    * parses the statement:
    *  - Flink DDL: `CREATE TABLE ... WITH ('connector'=...)` and
    *    `INSERT INTO/OVERWRITE <created table> SELECT ...` via [[Ddl]];
    *  - window-TVF text `TUMBLE/HOP/CUMULATE(TABLE t, DESCRIPTOR(ts),
    *    INTERVAL ...)` (SqlTumbleTableFunction et al.) onto
    *    [[graft.streaming.Windows]];
    *  - `MATCH_RECOGNIZE (...)` (CommonExecMatch.java:82) onto
    *    [[graft.streaming.Cep]] via [[MatchRecognizeSql]].
    * Comments never decide a statement's kind: they are blanked to
    * spaces of the same length before dispatch ([[SqlText]]; hints are
    * not comments to Spark's lexer, so they stay).
    */
  def executeSql(statement: String): DataFrame = {
    val sql = SqlText(statement).withoutComments
    // Interactive statement-set mode — `BEGIN STATEMENT SET;` ...
    // INSERTs/CTAS buffered ... `END;` (dml/SqlBeginStatementSet /
    // SqlEndStatementSet; session semantics per the SQL client,
    // CliClient.java:618-630 callBeginStatementSet/callEndStatementSet:
    // only inserts and CTAS may be buffered, END submits them, END
    // without BEGIN errors — messages verbatim from CliStrings.java).
    if (statementSetMode) {
      sql match {
        case endStmtRe() =>
          statementSetMode = false
          val stmts = statementSetBuffer.toSeq
          statementSetBuffer.clear()
          stmts.foreach(executeSql)
          return spark.emptyDataFrame
        case _ if Ddl.isInsert(sql) || ctasRe.matches(sql) =>
          statementSetBuffer += sql
          return spark.emptyDataFrame
        case _ =>
          // unsupported CTAS forms fail at statement time with the CTAS
          // messages (the CLI parses each buffered statement too), not a
          // misleading insert-only rejection or a deferred END failure
          rejectUnsupportedCtas(sql)
          throw new IllegalArgumentException(
            "Only INSERT statement is allowed in Statement Set.")
      }
    }
    sql match {
      case beginSetRe() =>
        statementSetMode = true; statementSetBuffer.clear()
        return spark.emptyDataFrame
      case endStmtRe() =>
        throw new IllegalArgumentException(
          "No Statement Set to submit, \"END;\" command should be used " +
            "after \"BEGIN STATEMENT SET;\".")
      // SET 'key' = 'value' — SQL-client session config (reference:
      // flink-table-planner SetOperationParseStrategy +
      // operations/command/SetOperation.java). Config keys the
      // reference reads are mapped onto their Spark/graft analogs;
      // anything else lands in the session conf verbatim.
      case setKvRe(k, v) => applySet(k, v); return spark.emptyDataFrame
      // bare SET — list the session configuration, like the client does
      case setListRe() =>
        import spark.implicits._
        return spark.conf.getAll.toSeq.sortBy(_._1).toDF("key", "value")
      case resetRe(k) =>
        spark.conf.unset(translateConfKey(k)._1); return spark.emptyDataFrame
      // CREATE [TEMPORARY] VIEW v AS <query> (SqlCreateView) — the
      // body runs back through executeSql so every graft SQL surface
      // (DDL tables, window TVFs, MATCH_RECOGNIZE) works in a view.
      case createViewRe(name, body) =>
        executeSql(body).createOrReplaceTempView(name)
        createdViews.put(name, body.trim)
        return spark.emptyDataFrame
      case dropRe(name) =>
        tableDefs.remove(name); createdViews.remove(name); tableDb.remove(name)
        dirtyTables.remove(name)
        partitionProps.keySet.removeIf(_.startsWith(s"$name/"))
        spark.catalog.dropTempView(name)
        return spark.emptyDataFrame
      // EXECUTE STATEMENT SET BEGIN <insert>; <insert>; END
      // (parserImpls.ftl:1943 SqlStatementSet): every statement must be
      // an INSERT, executed in order against this env — the multi-sink
      // pipeline shape. Spark analog: the inserts share this session's
      // temp views; each sink is its own job (micro-batch sinks would
      // each own their trigger, like the reference's per-sink chains).
      case stmtSetRe(body) =>
        statementSetInserts(body).foreach(executeSql)
        return spark.emptyDataFrame
      // SHOW TABLES [FROM|IN db] [[NOT] LIKE 'p'] (SqlShowTables'
      // optional database + SQL-LIKE pattern, parserImpls.ftl:475) /
      // SHOW VIEWS / SHOW [USER] FUNCTIONS (SqlShowFunctions:442 —
      // USER lists only catalog functions, i.e. CREATE FUNCTION's) —
      // catalog listings with Flink's literal result headers.
      case showTablesRe(db, notLike, pat) =>
        import spark.implicits._
        val dbKey = Option(db) match {
          // `catalog.db` qualified form addresses any catalog directly
          case Some(d0) if d0.contains(".") => d0
          case Some(d0) if inDefaultCatalog =>
            require(databases.containsKey(d0),
              s"SHOW TABLES: database '$d0' does not exist")
            s"default_catalog.$d0"
          // non-default catalogs keep the free-form database surface
          // (same contract as USE there)
          case Some(d0) => s"$currentCatalog.$d0"
          case None => currentDbKey
        }
        // scoped to the database: DDL tables carry their owning database
        // (tableDb); plain catalog temp views (e.g. registerTestdata)
        // live in the default database
        val ddlTables = tableDefs.keySet.toArray.map(_.toString)
          .filter(t => tableDb.getOrDefault(t, "default_catalog.default_database") == dbKey)
        // catalog temp views from another database's MATERIALIZED
        // filesystem tables are session-global — exclude any name
        // the registry assigns elsewhere
        val catalogViews =
          if (dbKey == "default_catalog.default_database")
            spark.catalog.listTables().collect().map(_.name)
              .filterNot(t => tableDb.containsKey(t) && tableDb.get(t) != dbKey)
          else Array.empty[String]
        val like = likeFilter(Option(pat), notLike != null)
        return (ddlTables ++ catalogViews).distinct.filter(like)
          .sorted.toSeq.toDF("table name")
      case showUserFnRe() =>
        import spark.implicits._
        return createdFunctions.keySet.toArray.map(_.toString)
          .distinct.sorted.toSeq.toDF("function name")
      case showRe(what) =>
        import spark.implicits._
        return what.toUpperCase match {
          // only objects created with CREATE VIEW (SqlShowViews lists
          // catalog views, not every temp table registration)
          case "VIEWS" =>
            spark.catalog.listTables().collect()
              .filter(t => t.tableType == "TEMPORARY" && createdViews.containsKey(t.name))
              .map(_.name).distinct.sorted.toSeq.toDF("view name")
          case _ =>
            spark.catalog.listFunctions().collect()
              .map(_.name).distinct.sorted.toSeq.toDF("function name")
        }
      // SHOW CREATE TABLE t — reconstruct the DDL (SqlShowCreateTable →
      // ShowCreateUtil); only tables declared through OUR CREATE TABLE
      // carry enough metadata, like the reference restricting to
      // catalog tables.
      case showCreateRe(name) =>
        import spark.implicits._
        val d = Option(tableDefs.get(name)).getOrElse(throw new IllegalArgumentException(
          s"SHOW CREATE TABLE: '$name' was not created via CREATE TABLE"))
        return Seq(Ddl.showCreate(d)).toDF("result")
      // SHOW COLUMNS FROM t [[NOT] LIKE 'p'] ≡ DESCRIBE t filtered by
      // column name (SqlShowColumns shares DESCRIBE's six-column shape
      // in the reference; the LIKE leg is parserImpls.ftl:524)
      case showColumnsRe(name, notLike, pat) =>
        val desc = executeSql(s"DESCRIBE $name")
        if (pat == null) return desc
        val m = col("name").like(pat)
        return desc.filter(if (notLike != null) !m else m)
      // USE CATALOG c / USE db — session-scoped like the SQL client;
      // SHOW CATALOGS / SHOW DATABASES list them with Flink's literal
      // one-column headers. In the default catalog USE validates
      // against the database registry (the reference's
      // UseDatabaseOperation throws on a missing database).
      case useCatalogRe(c) =>
        require(catalogs.containsKey(c),
          s"USE CATALOG: '$c' does not exist (CREATE CATALOG $c first)")
        currentCatalog = c; return spark.emptyDataFrame
      case useDbRe(db) =>
        require(!inDefaultCatalog || databases.containsKey(db),
          s"USE: database '$db' does not exist (CREATE DATABASE $db first)")
        currentDatabase = db; return spark.emptyDataFrame
      case showCatalogsRe() =>
        import spark.implicits._
        return catalogs.keySet.toArray.map(_.toString)
          .toSeq.distinct.sorted.toDF("catalog name")
      case showDatabasesRe() =>
        import spark.implicits._
        return (if (inDefaultCatalog) databases.keySet.toArray.map(_.toString).toSeq
                else Seq(currentDatabase)).distinct.sorted.toDF("database name")
      // CREATE / DROP / ALTER DATABASE (SqlCreateDatabase.java,
      // SqlDropDatabase.java, SqlAlterDatabase.java — the remaining
      // catalog DDL a SQL-client user scripts against)
      case createDbRe(ifNotExists, name, props) =>
        require(inDefaultCatalog,
          "database DDL is supported in default_catalog only " +
            "(non-default catalogs are session-scoped)")
        if (databases.containsKey(name))
          require(ifNotExists != null, s"CREATE DATABASE: '$name' already exists")
        else databases.put(name,
          Option(props).map(Ddl.parseOptionPairs).getOrElse(Map.empty))
        return spark.emptyDataFrame
      case dropDbRe(ifExists, name, mode) =>
        require(inDefaultCatalog,
          "database DDL is supported in default_catalog only " +
            "(non-default catalogs are session-scoped)")
        if (!databases.containsKey(name)) {
          require(ifExists != null, s"DROP DATABASE: '$name' does not exist")
          return spark.emptyDataFrame
        }
        require(name != currentDatabase,
          s"DROP DATABASE: '$name' is the current database (USE another first)")
        require(name != "default_database",
          "DROP DATABASE: the default database cannot be dropped")
        val contained = { import scala.jdk.CollectionConverters._
          tableDb.asScala.filter(_._2 == s"default_catalog.$name").keys.toSeq.sorted }
        if (contained.nonEmpty) {
          // RESTRICT is the reference's default drop behavior
          require(Option(mode).exists(_.equalsIgnoreCase("CASCADE")),
            s"DROP DATABASE: '$name' is not empty " +
              s"(${contained.mkString(", ")}) — use DROP DATABASE $name CASCADE")
          contained.foreach { t =>
            tableDefs.remove(t); tableDb.remove(t)
            spark.catalog.dropTempView(t)
          }
        }
        databases.remove(name)
        return spark.emptyDataFrame
      case alterDbRe(name, props) =>
        require(inDefaultCatalog,
          "database DDL is supported in default_catalog only " +
            "(non-default catalogs are session-scoped)")
        val cur = Option(databases.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER DATABASE: '$name' does not exist"))
        databases.put(name, cur ++ Ddl.parseOptionPairs(props))
        return spark.emptyDataFrame
      // ALTER VIEW (SqlAlterViewRename.java / SqlAlterViewAs.java):
      // only objects created through CREATE VIEW qualify, like the
      // reference's convertAlterView validation
      case alterViewRenameRe(oldName, newName) =>
        require(createdViews.containsKey(oldName),
          s"ALTER VIEW: '$oldName' was not created via CREATE VIEW")
        require(!spark.catalog.tableExists(newName) &&
          !createdViews.containsKey(newName) && !tableDefs.containsKey(newName),
          s"ALTER VIEW RENAME: target '$newName' already exists")
        spark.table(oldName).createOrReplaceTempView(newName)
        spark.catalog.dropTempView(oldName)
        createdViews.put(newName, createdViews.remove(oldName))
        return spark.emptyDataFrame
      case alterViewAsRe(name, body) =>
        require(createdViews.containsKey(name),
          s"ALTER VIEW: '$name' was not created via CREATE VIEW")
        executeSql(body).createOrReplaceTempView(name)
        createdViews.put(name, body.trim)
        return spark.emptyDataFrame
      // ---- round-17 SQL-client completion sweep ----
      // SHOW CURRENT CATALOG / DATABASE (TableEnvironmentImpl.java:1252,
      // 1257 — literal one-column headers)
      case showCurrentCatRe() =>
        import spark.implicits._
        return Seq(currentCatalog).toDF("current catalog name")
      case showCurrentDbRe() =>
        import spark.implicits._
        return Seq(currentDatabase).toDF("current database name")
      // SHOW CREATE VIEW (dql/SqlShowCreateView — reconstructs from the
      // stored view query like ShowCreateUtil.buildShowCreateViewRow)
      case showCreateViewRe(name) =>
        import spark.implicits._
        val body = Option(createdViews.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"SHOW CREATE VIEW: '$name' was not created via CREATE VIEW"))
        return Seq(s"CREATE VIEW `$name` AS\n$body").toDF("result")
      // CREATE / DROP CATALOG (ddl/SqlCreateCatalog, SqlDropCatalog)
      case createCatalogRe(ifNotExists, name, props) =>
        if (catalogs.containsKey(name))
          require(ifNotExists != null, s"CREATE CATALOG: '$name' already exists")
        else catalogs.put(name,
          Option(props).map(Ddl.parseOptionPairs).getOrElse(Map.empty))
        return spark.emptyDataFrame
      case dropCatalogRe(ifExists, name) =>
        if (!catalogs.containsKey(name)) {
          require(ifExists != null, s"DROP CATALOG: '$name' does not exist")
          return spark.emptyDataFrame
        }
        require(name != currentCatalog,
          s"DROP CATALOG: '$name' is the current catalog (USE CATALOG another first)")
        require(name != "default_catalog",
          "DROP CATALOG: the default catalog cannot be dropped")
        catalogs.remove(name)
        return spark.emptyDataFrame
      // DESCRIBE DATABASE [EXTENDED] / DESCRIBE CATALOG (dql/
      // SqlDescribeDatabase, SqlDescribeCatalog): (info, value) rows
      case descDbRe(extended, name) =>
        import spark.implicits._
        val props = Option(databases.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"DESCRIBE DATABASE: '$name' does not exist"))
        // the registry is default_catalog-only, so that IS the owner —
        // not whatever catalog happens to be current
        val base = Seq("name" -> name, "catalog" -> "default_catalog")
        val rows = if (extended == null) base
          else base ++ props.toSeq.sortBy(_._1).map { case (k, v) => s"property:$k" -> v }
        return rows.toDF("info", "value")
      case descCatalogRe(name) =>
        import spark.implicits._
        val props = Option(catalogs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"DESCRIBE CATALOG: '$name' does not exist"))
        return (Seq("name" -> name) ++
          props.toSeq.sortBy(_._1).map { case (k, v) => s"property:$k" -> v })
          .toDF("info", "value")
      // CREATE / DROP / ALTER FUNCTION (ddl/SqlCreateFunction,
      // SqlDropFunction, SqlAlterFunction): the class is resolved from
      // the session classpath like the reference's FunctionCatalog;
      // JVM languages only (no Python runtime in this engine build),
      // classes implement Spark's java UDF0..UDF22 interfaces — the
      // engine-appropriate analog of extending ScalarFunction.
      case createFnRe(ifNotExists, name, className, language) =>
        require(language == null || !language.equalsIgnoreCase("PYTHON"),
          "CREATE FUNCTION LANGUAGE PYTHON: no Python runtime in this engine build")
        if (createdFunctions.containsKey(name)) {
          require(ifNotExists != null, s"CREATE FUNCTION: '$name' already exists")
          return spark.emptyDataFrame
        }
        // registering over a resolvable name would silently shadow it
        // session-wide — reject, but with the REAL provenance: Spark
        // built-ins are permanent (IF NOT EXISTS skipping would
        // silently serve the built-in instead of the user's class);
        // names registered on the shared SparkSession by graft or
        // another SqlEnv instance DO satisfy IF NOT EXISTS (existence
        // is session-level, not per-instance)
        require(!org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
            .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"CREATE FUNCTION: '$name' is a built-in function — choose another name")
        if (spark.catalog.functionExists(name)) {
          if (ifNotExists != null) return spark.emptyDataFrame
          throw new IllegalArgumentException(
            s"CREATE FUNCTION: '$name' is already registered on the shared " +
              "session (a graft function or another SqlEnv's CREATE FUNCTION) — " +
              "IF NOT EXISTS skips, or choose another name")
        }
        spark.udf.registerJava(name, className, null)
        createdFunctions.put(name, className)
        return spark.emptyDataFrame
      case dropFnRe(ifExists, name) =>
        // only functions created through CREATE FUNCTION may be dropped —
        // the raw registry would happily drop Spark built-ins and break
        // the shared session (the reference likewise rejects dropping
        // system functions)
        if (!createdFunctions.containsKey(name)) {
          require(ifExists != null,
            s"DROP FUNCTION: '$name' was not created via CREATE FUNCTION")
          return spark.emptyDataFrame
        }
        spark.sessionState.functionRegistry.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))
        createdFunctions.remove(name)
        return spark.emptyDataFrame
      case alterFnRe(name, className, language) =>
        require(language == null || !language.equalsIgnoreCase("PYTHON"),
          "ALTER FUNCTION LANGUAGE PYTHON: no Python runtime in this engine build")
        require(createdFunctions.containsKey(name),
          s"ALTER FUNCTION: '$name' was not created via CREATE FUNCTION")
        spark.udf.registerJava(name, className, null)
        createdFunctions.put(name, className)
        return spark.emptyDataFrame
      // ALTER TABLE ADD/DROP PRIMARY KEY (converter-wired in 1.16:
      // SqlAlterTableAddConstraint/DropConstraint) — registry update,
      // SHOW CREATE/DESCRIBE reflect it; PK drives upsert sinks
      case alterAddPkRe(name, cols) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        require(d.primaryKey.isEmpty,
          s"ALTER TABLE ADD PRIMARY KEY: '$name' already has one (drop it first)")
        val pk = Ddl.nameList(cols)
        val unknown = pk.filterNot(d.schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"ALTER TABLE ADD PRIMARY KEY: unknown columns ${unknown.mkString(", ")}")
        tableDefs.put(name, d.copy(primaryKey = pk))
        return spark.emptyDataFrame
      case alterDropPkRe(name) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        tableDefs.put(name, d.copy(primaryKey = Nil))
        return spark.emptyDataFrame
      // ALTER TABLE ... COMPACT (ddl/SqlAlterTableCompact, FLINK-26392 —
      // converter-wired in 1.16 for managed tables; the filesystem DDL
      // table is this dialect's analog): rewrite the table's files to
      // ~target-sized ones via ops.Compact, swap directories, refresh +
      // re-register. Non-atomic like the reference's batch compact job.
      case alterSchemaRe(name, verb) =>
        throw new IllegalArgumentException(
          s"ALTER TABLE ${verb.toUpperCase} (schema change) is not supported — " +
            "the 1.16 reference parses but never converts it either " +
            "(SqlToOperationConverter has no SqlAlterTableAdd/Modify branch); " +
            s"recreate '$name' with the new schema")
      case alterCompactRe(name, specTxt) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        require(d.connector == "filesystem" && d.format == "parquet",
          s"ALTER TABLE COMPACT supports filesystem parquet tables (got " +
            s"${d.connector}/${d.format})")
        // `PARTITION (spec) COMPACT` targets the matching leaves only —
        // PARTIAL specs legal, keys validated with the reference's
        // messages (convertAlterTableCompact:644-663)
        val compactSpec = Option(specTxt).map(Ddl.parsePartSpec).getOrElse(Nil)
        if (compactSpec.nonEmpty)
          Partitions.validatePartialSpec(name, d.partitionedBy, compactSpec)
        // the reference option is a MemorySize ('128mb') — parse the
        // unit notation instead of choking on a raw .toLong
        val target = d.options.get("compaction.target-file-size")
          .map(graft.ops.Compact.parseMemorySize).getOrElse(128L << 20)
        if (d.partitionedBy.nonEmpty)
          // partitioned tables compact PER LEAF, preserving the Hive
          // layout — a flat rewrite would fold the partition columns
          // into the data files and corrupt later partitioned reads
          graft.ops.Compact.compactPartitioned(spark, d.path, target,
            d.partitionedBy.length,
            partCols = d.partitionedBy, spec = compactSpec)
        else {
          val hPath = new org.apache.hadoop.fs.Path(d.path)
          val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val tmp = new org.apache.hadoop.fs.Path(d.path + "__compact_tmp")
          val old = new org.apache.hadoop.fs.Path(d.path + "__compact_old")
          // crash-residue recovery (staging dirs are SIBLINGS of the
          // table root, never visible to its readers): a stale old dir
          // with the root missing means a crash between the two renames
          if (!fs.exists(hPath) && fs.exists(old))
            require(fs.rename(old, hPath), s"COMPACT: could not restore $name from $old")
          fs.delete(tmp, true)
          if (fs.exists(hPath) && fs.exists(old)) fs.delete(old, true)
          graft.ops.Compact.compact(spark, d.path, tmp.toString, target)
          require(fs.rename(hPath, old), s"COMPACT: could not stage $name's files")
          require(fs.rename(tmp, hPath),
            s"COMPACT: could not move compacted files for $name")
          fs.delete(old, true)
        }
        spark.catalog.refreshByPath(d.path)
        dirtyTables.add(name) // stale index points at deleted files
        return spark.emptyDataFrame
      // ALTER TABLE ADD/DROP PARTITION (ddl/SqlAddPartitions.java /
      // SqlDropPartitions.java — the last converter-wired 1.16 table
      // statements; executed per-spec in TableEnvironmentImpl.java:1024
      // via Catalog.createPartition/dropPartition). The filesystem
      // analog manipulates the Hive leaf directories directly — see
      // [[Partitions]]. ADD's optional per-spec WITH props (the
      // reference's CatalogPartition properties) land in a session
      // registry: the filesystem layout has no metadata sidecar.
      case alterAddPartRe(name, ifNotExists, tail) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        require(d.connector == "filesystem",
          s"ALTER TABLE ADD PARTITION supports filesystem tables (got ${d.connector})")
        require(d.partitionedBy.nonEmpty,
          s"ALTER TABLE ADD PARTITION: '$name' is not a partitioned table")
        validateSpecTail(tail, "ALTER TABLE ADD PARTITION")
        val specs = partSpecRe.findAllMatchIn(tail)
          .map(m => (Ddl.parsePartSpec(m.group(1)), Option(m.group(2)))).toSeq
        require(specs.nonEmpty, "ALTER TABLE ADD PARTITION: no PARTITION (...) spec")
        val added = Partitions.add(spark, d.path, d.partitionedBy,
          specs.map(_._1), ifNotExists != null)
        val addedSet = added.toSet
        specs.foreach { case (spec, props) =>
          props.filter(_.trim.nonEmpty).foreach { p =>
            val leaf = Partitions.specLeaf(new org.apache.hadoop.fs.Path(d.path),
              d.partitionedBy, spec, "ALTER TABLE ADD PARTITION")
            val pn = Partitions.partName(leaf, d.partitionedBy.length)
            // a spec skipped under IF NOT EXISTS skips its props too —
            // the reference's createPartition(ignoreIfExists) never
            // touches the existing partition's properties
            if (addedSet(pn)) {
              val parsed = Ddl.parseOptionPairs(p)
              partitionProps.put(s"$name/$pn", parsed)
              // durable like the reference's CatalogPartition state —
              // a hidden sidecar under the leaf (r18 left these
              // session-only; see Partitions.writeProps)
              val fs = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
              Partitions.writeProps(fs, leaf, parsed)
            }
          }
        }
        if (added.nonEmpty) {
          spark.catalog.refreshByPath(d.path)
          dirtyTables.add(name) // re-registered lazily at next read
        }
        return spark.emptyDataFrame
      case alterDropPartRe(name, ifExists, tail) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        require(d.connector == "filesystem",
          s"ALTER TABLE DROP PARTITION supports filesystem tables (got ${d.connector})")
        require(d.partitionedBy.nonEmpty,
          s"ALTER TABLE DROP PARTITION: '$name' is not a partitioned table")
        validateSpecTail(tail, "ALTER TABLE DROP PARTITION")
        require(partSpecRe.findAllMatchIn(tail).forall(_.group(2) == null),
          "ALTER TABLE DROP PARTITION does not take WITH (...) properties")
        val specs = partSpecRe.findAllMatchIn(tail).map(m => Ddl.parsePartSpec(m.group(1))).toSeq
        require(specs.nonEmpty, "ALTER TABLE DROP PARTITION: no PARTITION (...) spec")
        val dropped = Partitions.drop(spark, d.path, d.partitionedBy,
          specs, ifExists != null)
        dropped.foreach(p => partitionProps.remove(s"$name/$p"))
        if (dropped.nonEmpty) {
          spark.catalog.refreshByPath(d.path)
          dirtyTables.add(name) // re-registered lazily at next read
        }
        return spark.emptyDataFrame
      // SHOW PARTITIONS (dql/SqlShowPartitions): Hive-style k=v[/k=v]
      // strings under the reference's literal header. The DISTINCT over
      // the partition columns is metadata-scale (bounded by partition
      // count, prunes to the partition columns at the scan).
      case showPartitionsRe(name, specTxt) =>
        import spark.implicits._
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"SHOW PARTITIONS: '$name' was not created via CREATE TABLE"))
        require(d.partitionedBy.nonEmpty,
          s"SHOW PARTITIONS: '$name' is not a partitioned table")
        // optional PARTIAL spec filters the listing (SqlShowPartitions'
        // partitionSpec; keys validated like the compact converter)
        val showSpec = Option(specTxt).map(Ddl.parsePartSpec).getOrElse(Nil)
        if (showSpec.nonEmpty)
          Partitions.validatePartialSpec(name, d.partitionedBy, showSpec)
        // filesystem tables list the on-disk Hive leaves — the
        // reference's listPartitions is a catalog call, not a scan, and
        // the directory listing is what makes an ADD PARTITION'ed empty
        // partition visible before any row lands; a null value's leaf
        // is __HIVE_DEFAULT_PARTITION__, rendered verbatim like the
        // reference (and the layout) rather than as 'k=null'. The spec
        // filter matches ESCAPED path segments, so a value containing
        // '/' or '=' filters correctly too.
        if (d.connector == "filesystem")
          return Partitions.listPartitionNames(spark, d.path, d.partitionedBy, showSpec)
            .toDF("partition name")
        def keepPart(vals: Seq[String]): Boolean =
          showSpec.forall { case (k, v) =>
            vals(d.partitionedBy.indexOf(k)) == v }
        // non-filesystem: fall back to a distinct over the partition
        // columns (prunes to those columns at the scan); a table with
        // no view yet lists empty, like the reference on an empty table
        if (!spark.catalog.tableExists(name))
          return Seq.empty[String].toDF("partition name")
        val rows = spark.table(name)
          .select(d.partitionedBy.map(col): _*).distinct().collect()
        return rows.map(r => d.partitionedBy.indices.map(i =>
            Option(r.get(i)).map(_.toString).getOrElse(
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)))
          .filter(keepPart)
          .map(vals => d.partitionedBy.zip(vals)
            .map { case (k, v) => s"$k=$v" }.mkString("/"))
          .sorted.toSeq.toDF("partition name")
      // FLIP-190 plan persistence (ddl/SqlCompilePlan.java,
      // dml/SqlExecutePlan.java + SqlCompileAndExecutePlan.java,
      // converter-wired SqlToOperationConverter.java:366-372) — honest
      // adaptation via [[PlanFiles]]: the file persists the statement +
      // referenced-table DDL; EXECUTE PLAN restores missing tables and
      // re-executes, with Catalyst re-deriving the physical plan
      // (README §COMPILE PLAN documents the contract difference).
      case compilePlanRe(file, ifNotExists, body) =>
        compilePlanFile(file, ifNotExists != null, body)
        return spark.emptyDataFrame
      case compileExecPlanRe(file, body) =>
        compilePlanFile(file, ifNotExists = false, body)
        return executeSql(body.trim.replaceAll(";\\s*$", ""))
      case executePlanRe(file) =>
        val (stmt, tables, views, functions) = PlanFiles.read(new java.io.File(file))
        // restore user functions FIRST (a restored view body may call
        // one, and CREATE VIEW analyzes the body): create-only —
        // IF NOT EXISTS semantics, an existing registration wins.
        // The plan file is user-editable on disk
        // and these values are interpolated into SQL text — validate
        // the shapes (identifier / dotted Java class name) so a
        // crafted envelope cannot smuggle statements through the
        // quotes, and reject loudly with graft provenance.
        val fnNameRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
        val clsNameRe = "^[A-Za-z_$][A-Za-z0-9_$]*(\\.[A-Za-z_$][A-Za-z0-9_$]*)*$".r
        functions.foreach { case (fn, cls) =>
          if (fnNameRe.findFirstIn(fn).isEmpty)
            throw new IllegalArgumentException(
              s"graft EXECUTE PLAN: invalid function name '$fn' in plan envelope " +
                s"'$file' (expected a bare identifier) — refusing to restore")
          if (clsNameRe.findFirstIn(cls).isEmpty)
            throw new IllegalArgumentException(
              s"graft EXECUTE PLAN: invalid function class '$cls' in plan envelope " +
                s"'$file' (expected a dotted Java class name) — refusing to restore")
          if (!createdFunctions.containsKey(fn))
            executeSql(s"CREATE FUNCTION IF NOT EXISTS $fn AS '$cls'")
        }
        // restore referenced dialect tables absent from this session
        // (create-only — an existing same-name table wins, like the
        // reference resolving against the live catalog)
        tables.foreach { case (t, ddl) =>
          if (!tableDefs.containsKey(t)) executeSql(ddl)
        }
        // restore the view closure (create-only, like tables). The
        // envelope stores discovery order, not dependency order, so
        // retry to a fixpoint: a view over a not-yet-created view
        // fails this pass and succeeds once its dependency lands (the
        // closure is a DAG, so each pass creates at least one).
        var pending = views.filterNot { case (v, _) => createdViews.containsKey(v) }
        var progress = true
        while (pending.nonEmpty && progress) {
          val failed = pending.filter { case (v, body) =>
            scala.util.Try(executeSql(s"CREATE VIEW $v AS $body")).isFailure
          }
          progress = failed.size < pending.size
          pending = failed
        }
        if (pending.nonEmpty) // surface the real error, not a swallow
          executeSql(s"CREATE VIEW ${pending.head._1} AS ${pending.head._2}")
        return executeSql(stmt)
      // modules (ModuleManager): 'core' is the only module shipped in
      // this engine build; loading anything else fails exactly like the
      // reference when the module's factory is absent from the classpath
      case showModulesRe(full) =>
        import spark.implicits._
        return if (full == null) {
          import scala.jdk.CollectionConverters._
          modules.asScala.toSeq.toDF("module name")
        } else {
          import scala.jdk.CollectionConverters._
          modules.asScala.toSeq.map(m => (m, true)).toDF("module name", "used")
        }
      case loadModuleRe(name, _) =>
        require(name == "core",
          s"LOAD MODULE: no factory for module '$name' on the classpath " +
            "('core' is the only module in this engine build)")
        if (!modules.contains(name)) modules.add(name)
        return spark.emptyDataFrame
      case unloadModuleRe(name) =>
        require(modules.remove(name), s"UNLOAD MODULE: '$name' is not loaded")
        return spark.emptyDataFrame
      case useModulesRe(list) if list.trim.nonEmpty &&
          list.split(",").forall(_.trim.matches("`?[\\w.]+`?")) =>
        val names = Ddl.nameList(list)
        names.foreach(n => require(modules.contains(n),
          s"USE MODULES: module '$n' is not loaded"))
        modules.clear(); names.distinct.foreach(modules.add)
        return spark.emptyDataFrame
      // jars: ADD JAR passes the path to the loader Spark's own ADD JAR
      // uses, not back through SQL text (the executor-side distribution
      // is real); REMOVE JAR is rejected — a JVM cannot unload classes
      // from a live classloader, and Spark has no LIST-remove either
      // (documented narrowing)
      case addJarRe(path) =>
        spark.sessionState.resourceLoader.addJar(path)
        addedJars.add(path)
        return spark.emptyDataFrame
      case showJarsRe() =>
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        return addedJars.asScala.toSeq.sorted.toDF("jars")
      case removeJarRe(_) =>
        throw new IllegalArgumentException(
          "REMOVE JAR is not supported: the JVM cannot unload a jar from " +
            "a live session classloader (restart the session without ADD JAR)")
      // DESCRIBE t — Flink's six-column shape (name, type, null, key,
      // extras, watermark: SqlRichDescribeTable → DescribeTableOperation).
      // key/extras/watermark come from OUR CREATE TABLE def when the
      // table was declared through DDL, else null.
      case descRe(name) =>
        import spark.implicits._
        val d = Option(tableDefs.get(name))
        val pk = d.map(_.primaryKey).getOrElse(Nil).toSet
        val wm = d.flatMap(_.watermark).map { case (c, delay) =>
          c -> s"`$c` - INTERVAL '$delay'" }.toMap
        val computed = d.map { td =>
          td.computed.map(c => c.name -> s"AS ${c.exprText}").toMap ++
            td.metaCols.map(m => m.name -> s"METADATA FROM '${m.key}'").toMap
        }.getOrElse(Map.empty[String, String])
        // DDL tables describe their DECLARED shape (the table may not be
        // materialized yet — filesystem CREATE defers to first INSERT);
        // plain views fall back to the catalog schema. Computed columns
        // carry no declared type (it is derived), matching their extras.
        val fields: Seq[(String, String, Boolean)] = d match {
          case Some(td) =>
            val declared = td.schema.fields.map(f =>
              (f.name, f.dataType.sql, f.nullable)).toSeq ++
              td.metaCols.map(m => (m.name, m.dataType.sql, true)) ++
              td.computed.map(c => (c.name, null: String, true))
            val byName = declared.map(x => x._1 -> x).toMap
            td.declaredOrder.flatMap(byName.get)
          case None => spark.table(name).schema.fields.toSeq.map(f =>
            (f.name, f.dataType.sql, f.nullable))
        }
        return fields.map { case (n, t, nl) =>
          (n, t, nl,
            if (pk(n)) "PRI" else null,
            computed.getOrElse(n, null),
            wm.getOrElse(n, null))
        }.toDF("name", "type", "null", "key", "extras", "watermark")
      // EXPLAIN [PLAN FOR] <query|insert> — PLANS ONLY, never executes
      // (SqlExplain → ExplainOperation only calls the planner). An
      // INSERT body explains its SOURCE query (Ddl.executeInsert
      // writes eagerly, so routing it through executeSql would perform
      // the write); command statements (SET/CREATE/DROP/SHOW/...) are
      // rejected like the reference's parser does.
      // ALTER TABLE — registry + catalog updates (rename moves the
      // temp view; SET merges options; RESET drops keys)
      case alterRenameRe(oldName, newName) =>
        require(!tableDefs.containsKey(newName) &&
          !createdViews.containsKey(newName) && !spark.catalog.tableExists(newName),
          s"ALTER TABLE RENAME: target '$newName' already exists")
        val d = Option(tableDefs.remove(oldName)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$oldName' was not created via CREATE TABLE"))
        tableDefs.put(newName, d.copy(name = newName))
        Option(tableDb.remove(oldName)).foreach(tableDb.put(newName, _))
        if (dirtyTables.remove(oldName)) dirtyTables.add(newName)
        locally { // partition props follow the rename
          import scala.jdk.CollectionConverters._
          partitionProps.asScala.keys.filter(_.startsWith(s"$oldName/")).toSeq
            .foreach { k =>
              partitionProps.put(s"$newName/${k.stripPrefix(s"$oldName/")}",
                partitionProps.remove(k))
            }
        }
        if (spark.catalog.tableExists(oldName)) {
          spark.table(oldName).createOrReplaceTempView(newName)
          spark.catalog.dropTempView(oldName)
        }
        return spark.emptyDataFrame
      case alterSetRe(name, props) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        tableDefs.put(name, d.copy(options = d.options ++ Ddl.parseOptionPairs(props)))
        return spark.emptyDataFrame
      case alterResetRe(name, keysTxt) =>
        val d = Option(tableDefs.get(name)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE: '$name' was not created via CREATE TABLE"))
        val drop = Ddl.parseOptionKeys(keysTxt).toSet
        require(!drop.contains("connector"),
          "ALTER TABLE RESET: 'connector' cannot be reset (reference restriction)")
        tableDefs.put(name, d.copy(options = d.options.filterNot(kv => drop(kv._1))))
        return spark.emptyDataFrame
      // ANALYZE TABLE t [PARTITION(...)] COMPUTE STATISTICS
      // [FOR COLUMNS c1, c2 | FOR ALL COLUMNS] — FLIP-240's
      // SqlAnalyzeTable (reference: flink-table/flink-sql-parser
      // SqlAnalyzeTable + operations/SqlNodeToOperationConversion's
      // AnalyzeTableOperation). The spelling is IDENTICAL to Spark's
      // native command, so catalog tables pass through verbatim and
      // their stats land in the session catalog (DESC EXTENDED
      // Statistics / per-column stats). Graft DDL tables are TEMP
      // VIEWS, which Spark's analyzer only accepts CACHED and only
      // through the FOR COLUMNS form (BASELINE.md, "Spark 4.1 surface probes") —
      // so the dialect caches the view and upgrades a bare COMPUTE
      // STATISTICS to FOR ALL COLUMNS; the stats then live on the
      // cached relation (optimizedPlan.stats rowCount/attributeStats),
      // Spark's temp-view analog of the reference's catalog stats, and
      // feed the SAME join-planning decisions. Note the reference's
      // ANALYZE is a full scan job too; the cache materialization is
      // the Spark-shaped cost of statistics on a view-backed table
      // (persist a catalog table for the 100 TB path — README §ANALYZE).
      case analyzeRe(name, tail) =>
        refreshDirty(name) // stats scan the live layout
        val t = tail.trim.replaceAll("\\s+", " ")
        require(t.toUpperCase.startsWith("COMPUTE STATISTICS") ||
          t.toUpperCase.startsWith("PARTITION"),
          s"ANALYZE TABLE expects COMPUTE STATISTICS..., got: '$tail'")
        val isTempView =
          try spark.catalog.getTable(name).tableType == "TEMPORARY"
          catch { case _: Throwable => false }
        if (isTempView) {
          // Spark's analyzer accepts cached temp views only through the
          // FOR COLUMNS form (BASELINE.md): NOSCAN and PARTITION(...)
          // would fail with a raw Spark error, so reject them here with
          // the graft-level recipe instead.
          // exact NOSCAN spelling only — a FOR COLUMNS list may contain
          // a column whose NAME contains "noscan"
          require(!t.toUpperCase.replaceAll("\\s+", " ").trim
              .equals("COMPUTE STATISTICS NOSCAN") &&
            !t.toUpperCase.startsWith("PARTITION"),
            s"ANALYZE TABLE on a graft temp view supports COMPUTE STATISTICS " +
              "[FOR COLUMNS ... | FOR ALL COLUMNS] only — NOSCAN and " +
              "PARTITION forms need a catalog table (persist with " +
              "CREATE TABLE ... USING parquet AS SELECT, README §ANALYZE)")
          spark.catalog.cacheTable(name)
          val upgraded =
            if (t.equalsIgnoreCase("COMPUTE STATISTICS"))
              "COMPUTE STATISTICS FOR ALL COLUMNS"
            else t
          spark.sql(s"ANALYZE TABLE $name $upgraded")
        } else spark.sql(s"ANALYZE TABLE $name $t")
        return spark.emptyDataFrame
      // EXECUTE <query|insert> (dml/SqlExecute — converter unwraps to the
      // inner statement, SqlToOperationConverter.java:363-365); the
      // STATEMENT SET and PLAN forms have their own branches above/below
      case executeStmtRe(inner) =>
        return executeSql(inner)
      case explainRe(detailsTxt, body) =>
        import spark.implicits._
        // FLIP-162 detail flags (SqlRichExplain + ParseExplainDetail;
        // ExplainDetail.java) — duplicates rejected with the parser's
        // exact message
        val details = Option(detailsTxt).map(
          _.toUpperCase.split(",").map(_.trim).toSeq).getOrElse(Nil)
        require(details.distinct == details,
          "Duplicate EXPLAIN DETAIL is not allowed.")
        val trimmed = body.trim
        // EXPLAIN STATEMENT SET plans EVERY insert's source (the
        // grammar's SqlStatementSet branch) — one section per statement,
        // nothing executed
        trimmed match {
          case stmtSetRe(setBody) =>
            return Seq(statementSetInserts(setBody).zipWithIndex.map { case (s, i) =>
              s"== Statement ${i + 1} ==\n${explainOne(s, details)}"
            }.mkString("\n\n")).toDF("result")
          case _ =>
        }
        val isCommand = trimmed match {
          case setKvRe(_, _) | setListRe() | resetRe(_) | createViewRe(_, _)
               | dropRe(_) | showRe(_) | descRe(_)
               | showTablesRe(_, _, _) | showUserFnRe()
               | beginSetRe() | endStmtRe()
               | showCreateRe(_) | showColumnsRe(_, _, _) | useCatalogRe(_)
               | useDbRe(_) | showCatalogsRe() | showDatabasesRe()
               | alterRenameRe(_, _) | alterSetRe(_, _) | alterResetRe(_, _)
               | createDbRe(_, _, _) | dropDbRe(_, _, _) | alterDbRe(_, _)
               | alterViewRenameRe(_, _) | alterViewAsRe(_, _)
               | showCurrentCatRe() | showCurrentDbRe() | showCreateViewRe(_)
               | createCatalogRe(_, _, _) | dropCatalogRe(_, _)
               | descDbRe(_, _) | descCatalogRe(_)
               | createFnRe(_, _, _, _) | dropFnRe(_, _) | alterFnRe(_, _, _)
               | alterAddPkRe(_, _) | alterDropPkRe(_) | alterCompactRe(_, _)
               | alterSchemaRe(_, _)
               | alterAddPartRe(_, _, _) | alterDropPartRe(_, _, _)
               | compilePlanRe(_, _, _) | compileExecPlanRe(_, _) | executePlanRe(_)
               | showPartitionsRe(_, _) | showModulesRe(_) | loadModuleRe(_, _)
               | unloadModuleRe(_) | addJarRe(_) | removeJarRe(_) | showJarsRe()
               | analyzeRe(_, _) => true
          case _ =>
            Ddl.isCreateTable(trimmed) || ctasRe.matches(trimmed) ||
              ctasColsRe.matches(trimmed)
        }
        require(!isCommand,
          "EXPLAIN supports queries, INSERT statements and STATEMENT SETs only")
        return Seq(explainOne(trimmed, details)).toDF("result")
      case _ =>
    }
    // CREATE TABLE ... AS <query> (FLIP-218, new in the 1.16 release —
    // reference: flink-sql-parser ddl/SqlCreateTableAs.java, converted
    // to create-then-insert by SqlNodeToOperationConversion). Tried
    // BEFORE the LIKE and plain forms: the plain regex's greedy WITH
    // group would otherwise swallow the AS tail and silently drop the
    // query. The reference's validate() rejections are reproduced with
    // its messages.
    rejectUnsupportedCtas(sql)
    ctasRe.findFirstMatchIn(sql).foreach { m =>
      val ifNotExists = m.group(1) != null
      val name = m.group(2)
      val opts = Option(m.group(3)).map(Ddl.parseOptionPairs)
        .getOrElse(Map.empty[String, String])
      require(opts.contains("connector"),
        s"CREATE TABLE AS: table '$name' needs WITH ('connector' = ...) — " +
          "the dialect has no default sink connector")
      // an existing object of ANY kind blocks the CTAS — clobbering a
      // registered view/dataset would silently replace it session-wide
      // (the reference rejects CTAS onto an existing object)
      if (tableDefs.containsKey(name) || createdViews.containsKey(name) ||
          spark.catalog.tableExists(name)) {
        if (ifNotExists) return spark.emptyDataFrame
        throw new IllegalArgumentException(
          s"CREATE TABLE AS: object '$name' already exists " +
            "(IF NOT EXISTS skips instead)")
      }
      // the derived schema IS the query's schema (no explicit columns
      // by validation above); runs back through executeSql so every
      // graft SQL surface works as the CTAS body
      val data = executeSql(m.group(4))
      val d = Ddl.TableDef(name, data.schema, None, Nil, Nil, opts)
      Ddl.executeCtas(spark, d, data)
      tableDefs.put(name, d)
      tableDb.put(name, currentDbKey)
      return spark.emptyDataFrame
    }
    // CREATE TABLE ... LIKE must be tried BEFORE the plain create (the
    // plain regex's greedy WITH group would swallow a LIKE tail)
    createLikeRe.findFirstMatchIn(sql).foreach { m =>
      val (name, base) = (m.group(1), m.group(4))
      val baseDef = Option(tableDefs.get(base)).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE TABLE LIKE: base '$base' was not created via CREATE TABLE"))
      val mods = Option(m.group(5)).map(_.toUpperCase).getOrElse("")
      // parse the new columns/options by synthesizing a plain CREATE
      // (dummy column keeps the body non-empty; placeholder option
      // keeps WITH parseable when absent)
      val colsTxt = Option(m.group(2)).map(_.trim).filter(_.nonEmpty)
        .map(_ + ", __like_dummy INT").getOrElse("__like_dummy INT")
      val withTxt = Option(m.group(3)).filter(_.trim.nonEmpty)
        .getOrElse("'__like_ph'='1'")
      val d0 = Ddl.parseCreateTable(s"CREATE TABLE $name ($colsTxt) WITH ($withTxt)")
      val newOpts = d0.options - "__like_ph"
      val dupCols = d0.schema.fieldNames.toSet.intersect(baseDef.schema.fieldNames.toSet)
      require(dupCols.isEmpty, s"CREATE TABLE LIKE: duplicate columns $dupCols")
      val merged = baseDef.copy(
        name = name,
        schema = org.apache.spark.sql.types.StructType(
          baseDef.schema.fields ++ d0.schema.fields.filterNot(_.name == "__like_dummy")),
        watermark = d0.watermark.orElse(baseDef.watermark),
        primaryKey = if (d0.primaryKey.nonEmpty) d0.primaryKey else baseDef.primaryKey,
        partitionedBy =
          if (d0.partitionedBy.nonEmpty) d0.partitionedBy else baseDef.partitionedBy,
        // default = INCLUDING ALL + OVERWRITING OPTIONS (FLIP-110's
        // default merge); EXCLUDING OPTIONS starts from the new WITH
        options =
          if (mods.contains("EXCLUDING OPTIONS")) newOpts
          else baseDef.options ++ newOpts,
        computed = baseDef.computed ++ d0.computed,
        metaCols = baseDef.metaCols ++ d0.metaCols,
        columnOrder = baseDef.declaredOrder ++
          d0.declaredOrder.filterNot(_ == "__like_dummy"))
      tableDefs.put(name, merged)
      tableDb.put(name, currentDbKey)
      Ddl.executeCreate(spark, merged)
      return spark.emptyDataFrame
    }
    if (Ddl.isCreateTable(sql)) {
      val d = Ddl.parseCreateTable(sql)
      tableDefs.put(d.name, d)
      tableDb.put(d.name, currentDbKey)
      Ddl.executeCreate(spark, d) // false = deferred until first INSERT
      return spark.emptyDataFrame
    }
    // only route INSERTs whose target came from OUR CREATE TABLE;
    // anything else stays Spark-native. Dirty SOURCES refresh through
    // the body's recursive executeSql; the TARGET re-registers inside
    // executeInsert after the write, clearing any dirty mark.
    if (Ddl.insertTarget(sql).exists(tableDefs.containsKey)) {
      val out = Ddl.executeInsert(spark, asScala.toMap, sql, executeSql)
      Ddl.insertTarget(sql).foreach(dirtyTables.remove)
      return out
    }
    refreshDirty(sql) // layout-changed tables re-register before a read
    val afterTj = TemporalJoinSql.rewrite(spark, asScala.toMap, sql,
      () => s"__graft_tj_${viewCounter.incrementAndGet()}")
    val afterMr = MatchRecognizeSql.rewrite(spark, afterTj,
      () => s"__graft_mr_${viewCounter.incrementAndGet()}")
    wrapTimeArithmetic(spark.sql(rewriteLegacyGroupWindows(rewriteWindowTvfs(
      rewriteJsonSyntax(rewriteTimeCasts(afterMr))))))
  }

  /** The reference (and DuckDB) wrap TIME ± interval modulo 24 h; Spark's
    * native `TimeAddInterval` raises `DATETIME_OVERFLOW` at midnight. The
    * operand types aren't visible at SQL-text time, so this pass runs on
    * the ANALYZED plan instead: every `TimeAddInterval` node is replaced
    * with the all-builtin `TimeAddWrap` RuntimeReplaceable (identical
    * in-range, wraps out-of-range — strictly widening). Subtraction
    * arrives here too (Spark resolves `t - i` to TimeAddInterval with a
    * negated interval). The DataFrame path is untouched — only the Flink
    * dialect gets Flink's arithmetic. Subquery-aware: the transform
    * descends into PlanExpression bodies (scalar/EXISTS/IN subqueries),
    * so TIME arithmetic nested inside a subquery wraps too. */
  private def wrapTimeArithmetic(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.TimeAddInterval
    val analyzed = df.queryExecution.analyzed
    val rewritten = analyzed.transformAllExpressionsWithSubqueries {
      case TimeAddInterval(t, i) => graft.functions.TimeAddWrap(t, i)
    }
    if (rewritten fastEquals analyzed) df
    else org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
  }

  private val timeCastTargetRe =
    """(?is)^(.+)\s+AS\s+TIME\s*(?:\(\s*(\d+)\s*\))?\s*$""".r
  // TIMESTAMP-family targets (late r14, the reverse cast-matrix leg):
  // Flink's precision suffix `(p)` (Spark is always micros — stripped),
  // `_NTZ`/`_LTZ` forms, and the verbose `WITHOUT TIME ZONE` /
  // `WITH LOCAL TIME ZONE` zone clauses. Bare TIMESTAMP keeps Spark's
  // native TimestampType semantics (CastTimestamp falls back to the
  // native Cast for every non-TIME operand, so pre-existing dialect
  // queries plan byte-identically); only a TIME operand changes
  // behavior — from analysis error to the reference's epoch-anchored
  // time-of-day (TimeToTimestampCastRule.java).
  private val tsCastTargetRe =
    ("""(?is)^(.+)\s+AS\s+TIMESTAMP(_NTZ|_LTZ)?\s*(?:\(\s*\d+\s*\))?""" +
      """\s*(WITHOUT\s+TIME\s+ZONE|WITH\s+LOCAL\s+TIME\s+ZONE)?\s*$""").r

  /** FlinkSQL `CAST(x AS TIME[(p)])` / `TRY_CAST(x AS TIME[(p)])` →
    * `cast_time(x, p)` / `try_cast_time(x, p)` (graft.functions.times).
    * Spark 4.1's native Cast rejects TIMESTAMP→TIME (BASELINE.md), and
    * at string-rewrite time the operand type is unknown, so every
    * TIME-targeted cast routes through the RuntimeReplaceable
    * `CastTime`, which dispatches on the RESOLVED operand type: the
    * timestamp derivation for TIMESTAMP[_NTZ], Spark's own Cast for
    * everything else. Flink's bare `TIME` is TIME(0) (seconds
    * precision, truncating — `LogicalTypeParser` default), `TIME(p)`
    * clamps to Spark's max 6 like the DDL mapping. TIMESTAMP-family
    * targets route through `CastTimestamp` the same way (the reverse
    * cast-matrix leg: a TIME operand anchors on the epoch date like the
    * reference's TimeToTimestampCastRule; everything else falls back to
    * the native Cast, so pre-existing casts plan identically — and
    * Flink's `TIMESTAMP(p)`/zone-clause spellings Spark's parser
    * rejects become legal). Other casts are
    * left byte-identical; their argument text is re-scanned so a TIME
    * cast nested inside another cast is still found. */
  private[graft] def rewriteTimeCasts(sql: String): String =
    rewriteCalls(sql, Set("CAST", "TRY_CAST")) { (name, args, orig) =>
      val open = orig.indexOf('(')
      val argsText = orig.substring(open + 1, orig.length - 1)
      argsText match {
        case timeCastTargetRe(expr, p) if args.length == 1 =>
          val prec = Option(p).map(_.toInt.min(6)).getOrElse(0)
          val fn = if (name == "TRY_CAST") "try_cast_time" else "cast_time"
          s"$fn(${rewriteTimeCasts(expr)}, $prec)"
        case tsCastTargetRe(expr, suffix, zone) if args.length == 1 =>
          val ntz = Option(suffix).exists(_.equalsIgnoreCase("_NTZ")) ||
            Option(zone).exists(_.toUpperCase.startsWith("WITHOUT"))
          val fn = (if (name == "TRY_CAST") "try_" else "") +
            (if (ntz) "cast_timestamp_ntz" else "cast_timestamp")
          s"$fn(${rewriteTimeCasts(expr)})"
        case _ =>
          s"${orig.substring(0, open)}(${rewriteTimeCasts(argsText)})"
      }
    }

  /** SQL/JSON call syntax Spark's parser rejects, rewritten onto the
    * registered function names (reference: SqlJsonObjectFunction /
    * SqlJsonArrayFunction KEY..VALUE + ON NULL clauses, and the
    * `IS JSON` predicate — Calcite SqlJsonValueExpressionOperator):
    *  - `JSON_OBJECT(KEY k VALUE v [, ...] [NULL|ABSENT ON NULL])`
    *    → `json_object(k, v, ...)` / `json_object_absent(...)`
    *  - `JSON_ARRAY(v, ... [ABSENT|NULL ON NULL])` → `json_array[_null]`
    *  - `JSON_OBJECTAGG/JSON_ARRAYAGG(...)` likewise
    *  - `<col|'str'|(expr)|fn(...)> IS [NOT] JSON` → `[NOT] is_json(x)`
    */
  private[graft] def rewriteJsonSyntax(sql: String): String = {
    if (!"""(?is).*(JSON_(OBJECT|ARRAY)|IS\s+(NOT\s+)?JSON\b).*""".r
          .matches(sql)) return sql
    rewriteJsonCalls(rewriteIsJson(sql))
  }

  private val jsonCalls = Set("JSON_OBJECT", "JSON_OBJECTAGG", "JSON_ARRAY", "JSON_ARRAYAGG")
  private val keyValueRe = """(?is)\bKEY\s+(.+?)\s+VALUE\s+""".r
  private val onNullRe = """(?is)\s+(NULL|ABSENT)\s+ON\s+NULL\s*$""".r

  /** `JSON_*(...)` calls onto the registered names; inner calls first. */
  private def rewriteJsonCalls(sql: String): String =
    rewriteCalls(sql, jsonCalls) { (name, _, orig) =>
      val args = SqlText(rewriteJsonCalls(orig.substring(orig.indexOf('(') + 1, orig.length - 1)))
      val pairs = SqlText(args.replaceAll(keyValueRe)(m => args.source(m, 1) + ", "))
      var behavior: String = null
      val inner = pairs.replaceAll(onNullRe) { m => behavior = m.group(1).toUpperCase; "" }
      val target = name match {
        case "JSON_OBJECT" =>
          if (behavior == "ABSENT") "json_object_absent" else "json_object"
        case "JSON_ARRAY" =>
          if (behavior == "NULL") "json_array_null" else "json_array"
        case other => other.toLowerCase
      }
      s"$target($inner)"
    }

  private val isJsonRe = """(?is)\bIS\s+(NOT\s+)?JSON\b""".r

  /** `<operand> IS [NOT] JSON` → `[NOT] is_json(<operand>)`.
    *
    * The operand is captured by scanning backwards from the predicate:
    * a string literal, a dotted (possibly back-quoted) identifier, a
    * parenthesized expression, or a call `ident( ... )` with arbitrarily
    * nested parens. Predicates inside literals and comments are left
    * alone; an operand shape the scanner cannot capture raises a clear
    * error instead of leaking `IS JSON` to Spark's parser.
    */
  private[sql] def rewriteIsJson(s0: String): String = {
    val t = SqlText(s0)
    val ms = isJsonRe.findAllMatchIn(t.code).toList
    if (ms.isEmpty) return s0
    def identChar(k: Int): Boolean = t.isQuotedIdentifier(k) || t.isCode(k) && {
      val c = s0.charAt(k); c.isLetterOrDigit || c == '_' || c == '.' }
    def identStart(e: Int, last: Int): Int = {
      var b = e
      while (b > last && identChar(b - 1)) b -= 1
      b
    }
    // java.lang.StringBuilder: scala's lacks append(CharSequence,Int,Int)
    // and silently auto-tuples the three arguments.
    val sb = new java.lang.StringBuilder
    var last = 0
    for (m <- ms; if m.start >= last) {
      var e = m.start
      while (e > last && (t.isComment(e - 1) ||
          t.isCode(e - 1) && s0.charAt(e - 1).isWhitespace)) e -= 1
      val b =
        if (e == last) e
        else if (t.isCode(e - 1) && s0.charAt(e - 1) == ')') {
          val open = t.pairedParen(e - 1, last)
          if (open < 0) e else identStart(open, last)
        } else if (identChar(e - 1)) identStart(e, last)
        else if (!t.isCode(e - 1)) t.tokenStart(e - 1)
        else e
      if (b == e)
        throw new IllegalArgumentException(
          "unsupported IS JSON operand near: '" +
            s0.substring(math.max(last, m.start - 40), m.end) + "'")
      val not = if (m.group(1) != null) "NOT " else ""
      sb.append(s0, last, b).append(not)
        .append("is_json(").append(s0, b, e).append(")")
      last = m.end
    }
    sb.append(s0, last, s0.length)
    sb.toString
  }

  /** CREATE TABLE definitions by name (drives INSERT routing). */
  private val tableDefs =
    new java.util.concurrent.ConcurrentHashMap[String, Ddl.TableDef]()
  /** Tables whose on-disk layout changed under a registered view
    * (partition ADD/DROP, COMPACT). Re-registration costs a FULL file
    * listing — O(partitions) — so the DDL statements MARK instead of
    * re-listing (a bulk-ADD session touching 10k partitions must not
    * pay 10k listings; the reference's catalog mutations are O(1) and
    * queries resolve against the live catalog at plan time). The next
    * statement that can read the table re-registers it lazily. */
  private val dirtyTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def refreshDirty(sql: String): Unit =
    if (!dirtyTables.isEmpty) {
      import scala.jdk.CollectionConverters._
      val text = SqlText(sql)
      dirtyTables.asScala.toSeq.foreach { t =>
        if (mentions(t, text)) {
          dirtyTables.remove(t)
          Option(tableDefs.get(t)).foreach(Ddl.executeCreate(spark, _))
        }
      }
    }
  /** Views created through CREATE VIEW: name → body SQL (drives SHOW
    * VIEWS and SHOW CREATE VIEW — the reference's ShowCreateUtil
    * reconstructs the view from its stored expanded query). */
  private val createdViews =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def asScala = { import scala.jdk.CollectionConverters._; tableDefs.asScala }

  // ---- command statements (SET / views / statement sets) ---------------

  private val setKvRe = new StatementRe(raw"""(?is)^\s*SET\s+$lit1\s*=\s*$lit\s*;?\s*$$""")
  private val setListRe = """(?is)^\s*SET\s*;?\s*$""".r
  private val resetRe = new StatementRe(raw"""(?is)^\s*RESET\s+$lit1\s*;?\s*$$""")
  private val createViewRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+)$""".r
  private val dropRe =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+)?(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val stmtSetRe =
    """(?is)^\s*(?:EXECUTE\s+)?STATEMENT\s+SET\s+BEGIN\s+(.+?)\s*;?\s*END\s*;?\s*$""".r
  /** The statements of a STATEMENT SET body, cut at top-level `;`. */
  private def statementSetInserts(body: String): Seq[String] = {
    val stmts = SqlText(body).splitTopLevel(';').filter(_.nonEmpty)
    require(stmts.nonEmpty && stmts.forall(Ddl.isInsert),
      "STATEMENT SET supports INSERT statements only")
    stmts
  }
  private val showRe =
    """(?is)^\s*SHOW\s+(TABLES|VIEWS|FUNCTIONS)\s*;?\s*$""".r
  // SHOW TABLES [FROM|IN db] [[NOT] LIKE 'p'] (SqlShowTables:475)
  private val showTablesRe =
    new StatementRe(raw"""(?is)^\s*SHOW\s+TABLES\s*(?:(?:FROM|IN)\s+`?([\w.]+)`?\s*)?""" +
      raw"""(?:(NOT\s+)?LIKE\s+$lit\s*)?;?\s*$$""")
  private val showUserFnRe =
    """(?is)^\s*SHOW\s+USER\s+FUNCTIONS\s*;?\s*$""".r
  /** SQL-LIKE predicate for the SHOW ... LIKE legs (% = any run,
    * _ = one char), with NOT inversion; no pattern = keep all. */
  private def likeFilter(pat: Option[String], not: Boolean): String => Boolean =
    pat match {
      case None => _ => true
      case Some(p) =>
        val rx = java.util.regex.Pattern.compile(
          "(?s)" + java.util.regex.Pattern.quote(p)
            .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q"))
        s => rx.matcher(s).matches() != not
    }
  // interactive statement-set session mode (SqlBeginStatementSet /
  // SqlEndStatementSet — see executeSql's head)
  private val beginSetRe =
    """(?is)^\s*BEGIN\s+STATEMENT\s+SET\s*;?\s*$""".r
  private val endStmtRe = """(?is)^\s*END\s*;?\s*$""".r
  @volatile private var statementSetMode = false
  private val statementSetBuffer = scala.collection.mutable.ArrayBuffer.empty[String]
  private val showCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  // ALTER TABLE (SqlAlterTableRename / SqlAlterTableOptions /
  // SqlAlterTableReset — parserImpls.ftl:600)
  private val alterRenameRe =
    """(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+RENAME\s+TO\s+`?([\w.]+)`?\s*;?\s*$""".r
  private val alterSetRe =
    """(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+SET\s*\((.*)\)\s*;?\s*$""".r
  private val alterResetRe =
    """(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+RESET\s*\((.*)\)\s*;?\s*$""".r
  // CREATE TABLE ... LIKE base [(mods)] (SqlTableLike — parserImpls.ftl,
  // FLIP-110): columns/WITH optional, base supplies the rest
  private val createLikeRe =
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*(?:\((.*?)\)\s*)?(?:WITH\s*\((.*?)\)\s*)?LIKE\s+`?([\w.]+)`?\s*(?:\(\s*([^)]*)\)\s*)?;?\s*$""".r
  private val showColumnsRe =
    new StatementRe(raw"""(?is)^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.]+)\s*""" +
      raw"""(?:(NOT\s+)?LIKE\s+$lit\s*)?;?\s*$$""")
  private val useCatalogRe = """(?is)^\s*USE\s+CATALOG\s+([\w.]+)\s*;?\s*$""".r
  private val useDbRe = """(?is)^\s*USE\s+(?!CATALOG\b)([\w.]+)\s*;?\s*$""".r
  private val showCatalogsRe = """(?is)^\s*SHOW\s+CATALOGS\s*;?\s*$""".r
  private val showDatabasesRe = """(?is)^\s*SHOW\s+DATABASES\s*;?\s*$""".r
  // CREATE TABLE ... AS <query> (FLIP-218 SqlCreateTableAs — new in the
  // 1.16 release): optional WITH, NO column list/watermark/partition/PK
  // (the reference's validate() rejects each — the column-group form is
  // detected separately so it fails with the reference's message, not a
  // silent mis-parse into the plain-create regex).
  private val ctasRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*(?:WITH\s*\((.*?)\)\s*)?AS\s+((?:SELECT|VALUES|WITH|TABLE)\b.*)$""".r
  private val ctasColsRe =
    """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?[\w.]+`?\s*\(.*\)\s*(?:WITH\s*\(.*?\)\s*)?AS\s+(?:SELECT|VALUES|WITH|TABLE)\b.*$""".r
  private val ctasTempRe =
    """(?is)^\s*CREATE\s+TEMPORARY\s+TABLE\s+.*\bAS\s+(?:SELECT|VALUES|WITH|TABLE)\b.*$""".r
  private def rejectUnsupportedCtas(sql: String): Unit =
    if (ctasTempRe.matches(sql)) throw new IllegalArgumentException(
      "CREATE TABLE AS SELECT syntax does not support to create temporary table yet.")
    else if (ctasColsRe.matches(sql)) throw new IllegalArgumentException(
      "CREATE TABLE AS SELECT syntax does not support to specify explicit columns yet.")
  // Catalog database DDL (reference: flink-sql-parser ddl/
  // SqlCreateDatabase.java, SqlDropDatabase.java, SqlAlterDatabase.java)
  private val createDbRe =
    """(?is)^\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*(?:COMMENT\s+'[^']*'\s*)?(?:WITH\s*\((.*)\)\s*)?;?\s*$""".r
  private val dropDbRe =
    """(?is)^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?`?([\w.]+)`?\s*(RESTRICT|CASCADE)?\s*;?\s*$""".r
  private val alterDbRe =
    """(?is)^\s*ALTER\s+DATABASE\s+`?([\w.]+)`?\s+SET\s*\((.*)\)\s*;?\s*$""".r
  // ALTER VIEW (reference: ddl/SqlAlterViewAs.java, SqlAlterViewRename.java)
  private val alterViewRenameRe =
    """(?is)^\s*ALTER\s+(?:TEMPORARY\s+)?VIEW\s+`?([\w.]+)`?\s+RENAME\s+TO\s+`?([\w.]+)`?\s*;?\s*$""".r
  private val alterViewAsRe =
    """(?is)^\s*ALTER\s+(?:TEMPORARY\s+)?VIEW\s+`?([\w.]+)`?\s+AS\s+(.+)$""".r
  // SQL-client completion sweep (round 17) — the remaining statement
  // classes of the reference parser (flink-sql-parser ddl/ + dql/)
  private val showCurrentCatRe =
    """(?is)^\s*SHOW\s+CURRENT\s+CATALOG\s*;?\s*$""".r
  private val showCurrentDbRe =
    """(?is)^\s*SHOW\s+CURRENT\s+DATABASE\s*;?\s*$""".r
  private val showCreateViewRe =
    """(?is)^\s*SHOW\s+CREATE\s+VIEW\s+`?([\w.]+)`?\s*;?\s*$""".r
  private val createCatalogRe =
    """(?is)^\s*CREATE\s+CATALOG\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*(?:WITH\s*\((.*)\)\s*)?;?\s*$""".r
  private val dropCatalogRe =
    """(?is)^\s*DROP\s+CATALOG\s+(IF\s+EXISTS\s+)?`?([\w.]+)`?\s*;?\s*$""".r
  private val descDbRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DATABASE\s+(EXTENDED\s+)?`?([\w.]+)`?\s*;?\s*$""".r
  private val descCatalogRe =
    """(?is)^\s*DESC(?:RIBE)?\s+CATALOG\s+`?([\w.]+)`?\s*;?\s*$""".r
  // CREATE [TEMPORARY] [SYSTEM] FUNCTION f AS 'class' [LANGUAGE ...]
  // (ddl/SqlCreateFunction.java — USING JAR is a 1.17 addition)
  private val createFnRe =
    new StatementRe(raw"""(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+""" +
      raw"""(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s+AS\s+$lit1""" +
      raw"""\s*(?:LANGUAGE\s+(\w+)\s*)?;?\s*$$""")
  private val dropFnRe =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?`?([\w.]+)`?\s*;?\s*$""".r
  private val alterFnRe =
    new StatementRe(raw"""(?is)^\s*ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+""" +
      raw"""`?([\w.]+)`?\s+AS\s+$lit1\s*(?:LANGUAGE\s+(\w+)\s*)?;?\s*$$""")
  // ALTER TABLE constraint + compaction (ddl/SqlAlterTableAddConstraint,
  // SqlAlterTableDropConstraint, SqlAlterTableCompact — all three are
  // converter-wired in the 1.16 release; the ADD/MODIFY column forms
  // are parse-only there and rejected the same way here)
  private val alterAddPkRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+ADD\s+(?:CONSTRAINT\s+`?[\w.]+`?\s+)?""" +
      """PRIMARY\s+KEY\s*\(([^)]*)\)\s*(?:NOT\s+ENFORCED\s*)?;?\s*$""").r
  private val alterDropPkRe =
    """(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+DROP\s+(?:CONSTRAINT\s+`?[\w.]+`?|PRIMARY\s+KEY)\s*;?\s*$""".r
  // the spec/props groups are QUOTE-AWARE (a quoted value may contain
  // ')'): an unquoted ')' ends the group, a quoted run is skipped whole
  private val specBody = """(?:[^)']|'[^']*')*"""
  // optional PARTITION (spec) — PARTIAL specs legal (parserImpls.ftl:689
  // SqlAlterTableCompact's PartitionSpecCommaList; key validation per
  // convertAlterTableCompact:644)
  private val alterCompactRe =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+`?([\\w.]+)`?\\s+(?:PARTITION\\s*\\(($specBody)\\)\\s*)?COMPACT\\s*;?\\s*$$""".r
  // ALTER TABLE ADD/DROP PARTITION (ddl/SqlAddPartitions.java /
  // SqlDropPartitions.java): ADD takes one or more space-separated
  // PARTITION (spec) [WITH (props)] groups; DROP takes comma-separated
  // PARTITION (spec) groups — both per the reference grammar
  // (parserImpls.ftl SqlAlterTable's partition branches)
  // The tail is captured FLAT (`PARTITION\b.+`) and validated by
  // [[validateSpecTail]], not by a `(PARTITION...)+` repetition: the
  // java.util.regex engine recurses per repetition element, so a bulk
  // statement naming thousands of partitions — routine at catalog
  // scale, and exactly what BASELINE.md's partition-statement probe
  // drove — would StackOverflow in the matcher before the handler ran.
  private val alterAddPartRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """(PARTITION\b.+?);?\s*$""").r
  private val alterDropPartRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+DROP\s+(IF\s+EXISTS\s+)?""" +
      """(PARTITION\b.+?);?\s*$""").r
  /** One PARTITION (spec) [WITH (props)] group inside the ADD/DROP tail. */
  private val partSpecRe =
    s"""(?is)PARTITION\\s*\\(($specBody)\\)(?:\\s*WITH\\s*\\(($specBody)\\))?""".r
  /** Reject a spec-list tail that is not PURELY `PARTITION (...)
    * [WITH (...)]` groups separated by whitespace/commas — the
    * validation the old repetition regex did structurally, now done
    * iteratively (scan + residue check) so it scales to bulk DDL. */
  private def validateSpecTail(tail: String, stmt: String): Unit = {
    val residue = partSpecRe.replaceAllIn(tail, "").replaceAll("[\\s,]+", "")
    require(residue.isEmpty,
      s"$stmt: malformed PARTITION spec list near '${residue.take(40)}'")
  }
  /** ADD PARTITION ... WITH (...) properties (table/partition-name →
    * props) — the reference's CatalogPartition properties; the
    * filesystem layout has no metadata sidecar, so they live here. */
  private val partitionProps =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  /** Properties attached by `ADD PARTITION ... WITH (...)` — the API
    * analog of the reference's `Catalog.getPartition().getProperties()`
    * (the 1.16 dialect ships no SQL statement that reads them back;
    * Table-API users read them through exactly this kind of accessor).
    * `partitionName` is the SHOW PARTITIONS rendering (`k=v[/k2=v2]`).
    * Reads through to the durable leaf sidecar when the session map
    * misses — props written in one session are catalog state, visible
    * in a fresh session that re-declares the table (the leaf is
    * matched by its RENDERED name, so escaped values resolve exactly). */
  def partitionProperties(table: String, partitionName: String): Map[String, String] =
    Option(partitionProps.get(s"$table/$partitionName")).getOrElse {
      Option(tableDefs.get(table))
        .filter(d => d.connector == "filesystem" && d.partitionedBy.nonEmpty)
        .map { d =>
          val rootP = new org.apache.hadoop.fs.Path(d.path)
          val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val n = d.partitionedBy.length
          val props = Partitions.leafDirs(fs, rootP, n)
            .find(Partitions.partName(_, n) == partitionName)
            .map(Partitions.readProps(fs, _)).getOrElse(Map.empty)
          if (props.nonEmpty) partitionProps.put(s"$table/$partitionName", props)
          props
        }.getOrElse(Map.empty)
    }
  // FLIP-190 plan statements (ddl/SqlCompilePlan.java: file path first,
  // then optional IF NOT EXISTS, then FOR <insert|statement set>)
  private val compilePlanRe =
    new StatementRe(raw"""(?is)^\s*COMPILE\s+PLAN\s+$lit1\s+(IF\s+NOT\s+EXISTS\s+)?FOR\s+(.+)$$""")
  private val compileExecPlanRe =
    new StatementRe(raw"""(?is)^\s*COMPILE\s+AND\s+EXECUTE\s+PLAN\s+$lit1\s+FOR\s+(.+)$$""")
  private val executePlanRe =
    new StatementRe(raw"""(?is)^\s*EXECUTE\s+PLAN\s+$lit1\s*;?\s*$$""")
  /** Validate + persist a COMPILE PLAN body (see [[PlanFiles]]). */
  private def compilePlanFile(file: String, ifNotExists: Boolean, body: String): Unit = {
    val stmt = body.trim.replaceAll(";\\s*$", "")
    require(Ddl.isInsert(stmt) || stmtSetRe.matches(stmt),
      "COMPILE PLAN supports INSERT and STATEMENT SET statements only " +
        "(the reference grammar: SqlCompilePlan FOR RichSqlInsert|SqlStatementSet)")
    val f = new java.io.File(file)
    if (f.exists) {
      if (ifNotExists) return
      // the reference's escape hatch option, same key
      // (TableConfigOptions.PLAN_FORCE_RECOMPILE)
      if (spark.conf.getOption("table.plan.force-recompile").forall(_ != "true"))
        throw new IllegalArgumentException(
          s"Cannot overwrite the plan file '$file'. Either manually remove the " +
            "file or, if you're debugging your job, set the option " +
            "'table.plan.force-recompile' to true.")
    }
    // dialect tables, views AND user functions the statement reaches
    // ride along so EXECUTE PLAN can restore them in a fresh session.
    // The reach is TRANSITIVE through the view registry: the
    // statement's text is scanned for registered names, and each
    // matched view's body is scanned in turn — so an INSERT that reads
    // only a view still persists the view DDL, the underlying tables'
    // DDL, and any CREATE FUNCTION the chain calls (the closure analog
    // of the reference persisting the fully-inlined ExecNodeGraph with
    // its function references,
    // TableEnvironmentImpl.compilePlanAndWrite:771).
    val (tables, views, functions) = planClosure(stmt)
    PlanFiles.write(f, stmt,
      tables.map { case (t, d) => t -> Ddl.showCreate(d) }, views, functions)
  }

  /** Whether the statement names `name` in code, as a word or as a
    * back-quoted identifier — never inside a literal or comment. */
  private def mentions(name: String, t: SqlText): Boolean =
    ("""(?i)\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
      .findFirstIn(t.code).isDefined || t.quoted('`').exists(_._3.equalsIgnoreCase(name))

  /** Transitive (tables, views, functions) closure of a statement's
    * text through the view + function registries — views in DISCOVERY
    * order (statement first, then each view body as it is reached).
    * Names are matched in code only, never inside a literal or
    * comment (see [[mentions]]). */
  private def planClosure(stmt: String)
      : (Map[String, Ddl.TableDef], Seq[(String, String)], Seq[(String, String)]) = {
    import scala.jdk.CollectionConverters._
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, Ddl.TableDef]
    val views = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val functions = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def scan(raw: String): Unit = {
      val text = SqlText(raw)
      asScala.foreach { case (t, d) =>
        if (!tables.contains(t) && mentions(t, text)) tables += t -> d
      }
      createdFunctions.asScala.foreach { case (fn, cls) =>
        if (!functions.contains(fn) && mentions(fn, text)) functions += fn -> cls
      }
      createdViews.asScala.foreach { case (v, body) =>
        if (!views.contains(v) && mentions(v, text)) {
          views += v -> body
          scan(body)
        }
      }
    }
    scan(stmt)
    (tables.toMap, views.toSeq, functions.toSeq)
  }
  // ALTER TABLE ADD/MODIFY (column) — parse-only in the 1.16 reference:
  // SqlAlterTableAdd/Modify exist in the parser but
  // SqlToOperationConverter never wires them, so the statement fails
  // there too; rejected here with that provenance instead of a raw
  // Spark temp-view error
  private val alterSchemaRe =
    """(?is)^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+(ADD|MODIFY)\s*\(.*\)\s*;?\s*$""".r
  // optional PARTITION (spec) filter — SqlShowPartitions carries the
  // spec (dql/SqlShowPartitions.java:49; hive-dialect-parsed, shared
  // ShowPartitionsOperation converter); partial specs legal
  private val showPartitionsRe =
    s"""(?is)^\\s*SHOW\\s+PARTITIONS\\s+`?([\\w.]+)`?\\s*(?:PARTITION\\s*\\(($specBody)\\)\\s*)?;?\\s*$$""".r
  // modules (dql/SqlShowModules, SqlLoadModule, SqlUnloadModule,
  // ddl/SqlUseModules)
  private val showModulesRe =
    """(?is)^\s*SHOW\s+(FULL\s+)?MODULES\s*;?\s*$""".r
  private val loadModuleRe =
    """(?is)^\s*LOAD\s+MODULE\s+`?([\w.]+)`?\s*(?:WITH\s*\((.*)\)\s*)?;?\s*$""".r
  private val unloadModuleRe =
    """(?is)^\s*UNLOAD\s+MODULE\s+`?([\w.]+)`?\s*;?\s*$""".r
  private val useModulesRe =
    """(?is)^\s*USE\s+MODULES\s+(.+?)\s*;?\s*$""".r
  // jars (ddl/SqlAddJar, SqlRemoveJar, dql/SqlShowJars)
  private val addJarRe = new StatementRe(raw"""(?is)^\s*ADD\s+JAR\s+$lit1\s*;?\s*$$""")
  private val removeJarRe = new StatementRe(raw"""(?is)^\s*REMOVE\s+JAR\s+$lit1\s*;?\s*$$""")
  private val showJarsRe = """(?is)^\s*SHOW\s+JARS\s*;?\s*$""".r
  @volatile private var currentCatalog = "default_catalog"
  @volatile private var currentDatabase = "default_database"
  /** Databases of the default catalog (name → properties). The registry
    * backs CREATE/DROP/ALTER DATABASE and scopes SHOW TABLES; inside a
    * non-default catalog (USE CATALOG x) the database surface stays
    * session-scoped free-form, like the pre-registry behavior — the
    * sandbox has a single real catalog underneath.
    */
  private val databases =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  databases.put("default_database", Map.empty)
  /** Catalogs (name → properties) — CREATE/DROP CATALOG registry; USE
    * CATALOG validates against it like the reference's CatalogManager. */
  private val catalogs =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  catalogs.put("default_catalog", Map.empty)
  /** Enabled modules in resolution order (LOAD/UNLOAD/USE MODULES —
    * reference ModuleManager). This engine build ships exactly one
    * module ('core', the built-in functions); loading anything else
    * fails like the reference does when the module jar is absent. */
  private val modules =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[String](java.util.List.of("core")))
  /** Jars added through ADD JAR (drives SHOW JARS). */
  private val addedJars =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  /** Owning `catalog.database` of each CREATE TABLE'd table (DROP …
    * RESTRICT and SHOW TABLES scoping) — CATALOG-qualified so a table
    * created in another catalog can never leak into (or be CASCADE-
    * dropped with) a same-named default-catalog database. */
  private val tableDb =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def inDefaultCatalog: Boolean = currentCatalog == "default_catalog"
  private def currentDbKey: String = s"$currentCatalog.$currentDatabase"
  /** Functions created through CREATE FUNCTION (name → class) — DROP/
    * ALTER FUNCTION may only touch these, never built-ins. */
  private val createdFunctions =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // DESCRIBE [EXTENDED] t (SqlRichDescribeTable:573) — graft's
  // six-column shape already carries the extended info (key/extras/
  // watermark), so EXTENDED is accepted and serves the same rows
  private val descRe =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:EXTENDED\s+)?(?!DATABASE\b|CATALOG\b)([\w.]+)\s*;?\s*$""".r
  // EXPLAIN [PLAN FOR | <detail>[, <detail>]...] <stmt> — the FLIP-162
  // detail flags of SqlRichExplain (parserImpls.ftl:1969 +
  // ParseExplainDetail; api/ExplainDetail.java)
  private val explainRe =
    ("""(?is)^\s*EXPLAIN\s+(?:PLAN\s+FOR\s+)?""" +
      """(?:((?:ESTIMATED_COST|CHANGELOG_MODE|JSON_EXECUTION_PLAN)""" +
      """(?:\s*,\s*(?:ESTIMATED_COST|CHANGELOG_MODE|JSON_EXECUTION_PLAN))*)\s+)?(.+)$""").r
  // EXECUTE <stmt> (dml/SqlExecute) — PLAN/STATEMENT SET excluded, they
  // have dedicated statements
  private val executeStmtRe =
    """(?is)^\s*EXECUTE\s+(?!PLAN\b|STATEMENT\b)(.+)$""".r

  /** Render one statement's plan with the requested FLIP-162 detail
    * sections. ESTIMATED_COST maps onto Spark's cost explain mode
    * (per-node `Statistics(sizeInBytes, rowCount)` — the optimizer's
    * estimates, the analog of the reference's cumulative-cost rows);
    * JSON_EXECUTION_PLAN appends the physical plan's JSON rendering;
    * CHANGELOG_MODE reports the frame-level mode — Spark has no
    * per-node changelog annotation, and graft changelog frames carry
    * their kind in the `row_kind` column (honest adaptation, README
    * dialect notes). An INSERT explains its SOURCE (executeInsert
    * writes eagerly, so planning the full statement would perform the
    * write).
    */
  private def explainOne(stmt: String, details: Seq[String]): String = {
    val toPlan = if (Ddl.isInsert(stmt)) Ddl.insertSource(stmt).get else stmt
    val df = executeSql(toPlan)
    val qe = df.queryExecution
    val base = qe.explainString(
      if (details.contains("ESTIMATED_COST")) org.apache.spark.sql.execution.CostMode
      else org.apache.spark.sql.execution.ExtendedMode)
    val changelog =
      if (!details.contains("CHANGELOG_MODE")) Nil
      else if (df.columns.contains(graft.streaming.Changelog.KindCol))
        Seq("== Changelog Mode ==\nchangelogMode=[I,UB,UA,D] " +
          "(retract-encoded: kinds ride the 'row_kind' column)")
      else Seq("== Changelog Mode ==\nchangelogMode=[I] (insert-only)")
    val json =
      if (!details.contains("JSON_EXECUTION_PLAN")) Nil
      else Seq("== Physical Execution Plan (JSON) ==\n" +
        (try qe.executedPlan.toJSON
         catch { case e: Throwable => s"<not JSON-serializable: ${e.getMessage}>" }))
    (Seq(base) ++ changelog ++ json).mkString("\n\n")
  }
  private val analyzeRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+([\w.]+)\s+(.+?)\s*;?\s*$""".r

  /** Reference config keys → their analog here. Durations accept
    * Flink's notation ('1 h', '30 s', '100 ms', bare millis).
    */
  private def translateConfKey(k: String): (String, String => String) = k match {
    case "table.exec.state.ttl" =>
      ("graft.exec.state.ttl", v => flinkDurationSec(v).toString)
    case "table.exec.resource.default-parallelism" =>
      ("spark.sql.shuffle.partitions", identity)
    case "table.optimizer.join.broadcast-threshold" =>
      ("spark.sql.autoBroadcastJoinThreshold", identity)
    case other => (other, identity)
  }

  private def applySet(k: String, v: String): Unit = {
    val (key, conv) = translateConfKey(k)
    spark.conf.set(key, conv(v))
  }

  /** Flink duration text → whole seconds ('1 h', '10 min', '30 s',
    * '500 ms', bare number = millis — org.apache.flink.util.TimeUtils).
    */
  private def flinkDurationSec(v: String): Long = {
    val m = """(?i)^\s*(\d+)\s*([a-z]*)\s*$""".r.findFirstMatchIn(v).getOrElse(
      throw new IllegalArgumentException(s"cannot parse duration: '$v'"))
    val n = m.group(1).toLong
    m.group(2).toLowerCase match {
      case "" | "ms" | "milli" | "millisecond" | "milliseconds" => n / 1000
      case "s" | "sec" | "second" | "seconds" => n
      case "min" | "minute" | "minutes" => n * 60
      case "h" | "hour" | "hours" => n * 3600
      case "d" | "day" | "days" => n * 86400
      case u => throw new IllegalArgumentException(s"unknown duration unit '$u'")
    }
  }

  // ---- window TVF text support ----------------------------------------

  // TUMBLE(TABLE t, DESCRIPTOR(c), INTERVAL '15' MINUTE)
  // HOP(TABLE t, DESCRIPTOR(c), INTERVAL slide, INTERVAL size)
  // CUMULATE(TABLE t, DESCRIPTOR(c), INTERVAL step, INTERVAL max)
  // Intervals carry no parentheses, so `[^()]+` safely spans the tail
  // (matched in the code view, where a literal is an opaque quote run).
  private val tvfRe =
    """(?i)\b(TUMBLE|HOP|CUMULATE)\s*\(\s*TABLE\s+([\w.]+)\s*,\s*DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,([^()]+)\)""".r
  private val intervalRe =
    """(?i)INTERVAL\s*'(\d+)'\s*(SECOND|MINUTE|HOUR|DAY)S?""".r
  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger()

  private def intervalSec(text: String): Long = text.trim match {
    case intervalRe(n, unit) => n.toLong * (unit.toUpperCase match {
      case "SECOND" => 1L
      case "MINUTE" => 60L
      case "HOUR" => 3600L
      case "DAY" => 86400L
    })
    case other => throw new IllegalArgumentException(
      s"window TVF: cannot parse interval '$other' (expected INTERVAL '<n>' <unit>)")
  }

  /** Replace each window-TVF call with a temp view carrying the
    * reference's output columns: every input column plus window_start,
    * window_end, window_time (= end − 1ms, the event-time attribute).
    * The view body is the corresponding [[graft.streaming.Windows]]
    * assignment, so the SQL-text path and the DataFrame path share one
    * implementation — and one physical plan.
    */
  private[sql] def rewriteWindowTvfs(sql: String): String = {
    val t = SqlText(sql)
    t.replaceAll(tvfRe) { m =>
      val fn = m.group(1).toUpperCase
      val table = m.group(2)
      val ts = col(m.group(3))
      val ivals = t.splitTopLevel(',', m.start(4), m.end(4)).map(intervalSec)
      val base = spark.table(table)
      val withWin = fn match {
        case "TUMBLE" =>
          require(ivals.length == 1, "TUMBLE(TABLE t, DESCRIPTOR(ts), size)")
          base.withColumn("window", graft.streaming.Windows.tumble(ts, s"${ivals(0)} seconds"))
        case "HOP" => // Flink arg order: slide, then size
          require(ivals.length == 2, "HOP(TABLE t, DESCRIPTOR(ts), slide, size)")
          base.withColumn("window", graft.streaming.Windows.hop(ts, s"${ivals(1)} seconds", s"${ivals(0)} seconds"))
        case "CUMULATE" => // step, then max size
          require(ivals.length == 2, "CUMULATE(TABLE t, DESCRIPTOR(ts), step, maxSize)")
          graft.streaming.Windows.cumulate(base, ts, ivals(0), ivals(1))
      }
      val out = withWin
        .withColumn("window_start", col("window.start"))
        .withColumn("window_end", col("window.end"))
        .withColumn("window_time", col("window.end") - expr("INTERVAL 1 MILLISECOND"))
        .drop("window")
      val view = s"__graft_tvf_${viewCounter.incrementAndGet()}"
      out.createOrReplaceTempView(view)
      view
    }
  }

  // ---- legacy group-window text support --------------------------------

  // Flink 1.16's pre-TVF window syntax (FlinkSqlOperatorTable's
  // TUMBLE/HOP/SESSION group functions and their _START/_END/_ROWTIME
  // auxiliaries; planned by StreamExecGroupWindowAggregate):
  //   SELECT k, SESSION_START(ts, INTERVAL '30' MINUTE), COUNT(*)
  //   FROM t GROUP BY SESSION(ts, INTERVAL '30' MINUTE), k
  // The auxiliaries repeat the assigner's arguments, so they rewrite to
  // plain field accesses on the grouped struct column: Spark names the
  // grouped column `window` for window() and `session_window` for
  // session_window(). _ROWTIME is the window's event-time attribute
  // (end − 1ms), like the TVF rewrite's window_time.
  // Calls are captured paren-balanced, so a dynamic gap like `CASE WHEN
  // ... THEN INTERVAL '45' MINUTE ... END` (the SessionWindowTimeGap-
  // Extractor analog, q87) passes through the SQL-text surface whole.

  /** Rewrite every `NAME(args...)` call in code whose upper-cased NAME
    * is in `names`. `f` receives (NAME, topLevelArgs, originalCallText)
    * and returns the replacement; the original text leaves it alone. */
  private def rewriteCalls(sql: String, names: Set[String])(
      f: (String, Seq[String], String) => String): String = {
    val t = SqlText(sql)
    val sb = new java.lang.StringBuilder
    var last = 0
    for (m <- callRe.findAllMatchIn(t.code); name = m.group(1).toUpperCase
         if m.start >= last && names(name)) {
      val close = t.pairedParen(m.end - 1)
      require(close > 0, s"unbalanced parentheses after $name in: $sql")
      sb.append(sql, last, m.start)
        .append(f(name, t.splitTopLevel(',', m.end, close), sql.substring(m.start, close + 1)))
      last = close + 1
    }
    if (last == 0) sql else sb.append(sql, last, sql.length).toString
  }
  private val callRe = """(?U)\b(\w+)\s*\(""".r

  // an INTERVAL literal as the code view shows it (its count a quote run)
  private val intervalCodeRe = """(?i)INTERVAL\s*'+\s*(?:SECOND|MINUTE|HOUR|DAY)S?""".r

  private val legacyAuxNames = Set(
    "TUMBLE_START", "TUMBLE_END", "TUMBLE_ROWTIME",
    "HOP_START", "HOP_END", "HOP_ROWTIME",
    "SESSION_START", "SESSION_END", "SESSION_ROWTIME")
  private val legacyGroupNames = Set("TUMBLE", "HOP", "SESSION")

  private[graft] def rewriteLegacyGroupWindows(sql: String): String = {
    // Collect the legacy group assigners present, so each auxiliary call
    // can be validated against them: Flink resolves SESSION_START(a, b)
    // only when (a, b) textually repeats a SESSION(a, b) group clause —
    // a mismatched aux silently mapping to the grouped struct would
    // return the wrong window. Validation is existential
    // (some assigner of the same family matches) so multi-subquery SQL
    // with different windows per subquery still passes.
    def norm(s: String) = s.replaceAll("\\s+", " ").trim.toUpperCase
    // Bare or dot-qualified column (t.ts) — anything window()/
    // session_window() accept as a direct time-attribute reference. The
    // TVF form's `TABLE t,` first argument contains a space, so it
    // never matches.
    val timeAttrRe = "\\w+(?:\\.\\w+)*"
    // Supported assigners (time attribute is a column ref) are rewrite
    // targets; expression-form assigners (e.g. TUMBLE(CAST(ts AS ..),..))
    // are collected separately so an aux call naming one gets an error
    // about the REAL limitation, not a phantom "no matching clause".
    val assigners = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    val exprAssigners = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    rewriteCalls(sql, legacyGroupNames) { (name, args, orig) =>
      if (args.nonEmpty && args.head.matches(timeAttrRe)) assigners += ((name, args.map(norm)))
      else if (args.length >= 2) exprAssigners += ((name, args.map(norm)))
      orig
    }
    val aux = rewriteCalls(sql, legacyAuxNames) { (name, args, orig) =>
      val family = name.substring(0, name.indexOf('_'))
      val familyAssigners = assigners.filter(_._1 == family)
      // The TVF rewrite runs before this pass, so by now a legacy aux
      // call without a same-family, same-arguments GROUP BY assigner is
      // always invalid — Flink's dialect resolves SESSION_START only
      // against a matching SESSION group clause.
      val normArgs = args.map(norm)
      if (exprAssigners.exists(a => a._1 == family && a._2 == normArgs))
        throw new IllegalArgumentException(
          s"$family(${args.mkString(", ")}) uses an expression as its time " +
            "attribute, which the legacy group-window rewrite does not " +
            "support — project the expression to a column in a subquery " +
            "and window over that column")
      require(familyAssigners.exists(_._2 == normArgs),
        s"$name(${args.mkString(", ")}) does not match any $family group " +
          s"clause in this query (found: ${
            if (familyAssigners.isEmpty) "none"
            else familyAssigners.map(a => s"$family(${a._2.mkString(", ")})").mkString("; ")}) " +
          "— legacy window auxiliaries must repeat the assigner's arguments")
      val structCol =
        if (name.startsWith("SESSION")) "session_window" else "window"
      name.substring(name.indexOf('_') + 1) match {
        case "START" => s"$structCol.start"
        case "END" => s"$structCol.end"
        case "ROWTIME" => s"($structCol.end - INTERVAL 1 MILLISECOND)"
      }
    }
    rewriteCalls(aux, legacyGroupNames) { (name, args, orig) =>
      // First argument must be a column reference — bare or
      // dot-qualified (t.ts), the SAME set the validation pass above
      // registered as supported assigners; window(t.ts, ...) is valid
      // Spark SQL. The TVF form's `TABLE t,` first argument contains a
      // space, so it never matches — leave anything else untouched.
      if (args.isEmpty || !args.head.matches(timeAttrRe)) orig
      else {
        val ts = args.head
        name match {
          case "TUMBLE" =>
            require(args.length == 2, "TUMBLE(ts, size)")
            s"window($ts, '${intervalSec(args(1))} seconds')"
          case "HOP" => // Flink legacy arg order: slide, then size
            require(args.length == 3, "HOP(ts, slide, size)")
            s"window($ts, '${intervalSec(args(2))} seconds', '${intervalSec(args(1))} seconds')"
          case "SESSION" =>
            require(args.length == 2, "SESSION(ts, gap)")
            // Fixed INTERVAL literal → canonical '<n> seconds' string;
            // anything else is a per-row gap EXPRESSION (the reference's
            // withDynamicGap analog) passed straight to Spark's
            // session_window, which accepts gap expressions natively —
            // same physical MergingSessions plan as the q87 DataFrame path.
            scala.util.Try(intervalSec(args(1))).toOption match {
              case Some(secs) => s"session_window($ts, '$secs seconds')"
              case None =>
                // Each INTERVAL literal inside the expression becomes the
                // canonical '<n> seconds' STRING literal: Spark's ANSI
                // INTERVAL '45' MINUTE is DayTimeIntervalType, which the
                // SessionWindowing analyzer rejects — the string form is
                // what the DataFrame path (q87) passes too.
                // Substitute only in code: an INTERVAL-shaped substring
                // inside a string literal in the gap expression must
                // survive verbatim.
                val gap = SqlText(args(1))
                val canonical = gap.replaceAll(intervalCodeRe) { m =>
                  gap.source(m) match {
                    case lit @ intervalRe(_, _) => s"'${intervalSec(lit)} seconds'"
                    case other => other
                  }
                }
                s"session_window($ts, $canonical)"
            }
        }
      }
    }
  }

  /** Register a parquet-backed table under `name`. */
  def registerParquet(name: String, path: String): SqlEnv = {
    spark.read.parquet(path).createOrReplaceTempView(name)
    this
  }

  /** Register a DataFrame as a temporary view. */
  def registerTable(name: String, df: DataFrame): SqlEnv = {
    df.createOrReplaceTempView(name)
    this
  }

  /** Register all driver testdata tables from a scale-factor dir. */
  def registerTestdata(dir: String): SqlEnv = {
    graft.Tables.registerAll(spark, dir)
    this
  }
}

object SqlEnv {
  def apply(spark: SparkSession): SqlEnv = new SqlEnv(spark)
}
