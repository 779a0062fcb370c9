package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet // optional subset for local iteration
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // native TIME type (Flink TIME(p) analog) — see sql/Ddl.scala
      .config("spark.sql.timeType.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a query that throws gets an entry in
    // <outDir>/_errors.json (query -> exception), and check.py reds every
    // declared query that has neither a parquet dir nor an error entry.
    // (Rounds 7 and 9 both shipped silently-vanished correctness rows
    // because the old catch printed to stderr and moved on.)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(5).foreach(f => System.err.println(s"[verify]   at $f"))
        errors(name) = e.toString.take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle SQL names the side-table directory __SIDE__, so the SAME
    // oracle map is correct for every fixture directory the driver runs.
    val side = graft.queries.Staging.sideDir(sfDir)
    val interpolated = SparkEntry.oracleSql
      .map { case (k, v) => k -> v.replace("__SIDE__", side) }
    // Self-healing sweep (r11's one red row): the DuckDB oracle phase runs
    // AFTER this JVM exits, so every side table an oracle references must
    // still be on disk NOW — not merely "was staged earlier this JVM". If
    // a /tmp cleaner (or an overwrite race) removed one mid-battery, re-run
    // the owning queries: the Staging helpers see the missing files and
    // re-stage, and the engine output is rewritten from the same rows so
    // engine and oracle stay consistent.
    val sideGlob = ("'(" + java.util.regex.Pattern.quote(side) + """/[^']+)/\*\.parquet'""").r
    def missingSide(): Seq[(String, String)] = interpolated.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, sql) =>
        sideGlob.findAllMatchIn(sql).map(_.group(1)).toSeq.distinct
          .filterNot(graft.queries.Staging.hasParquet).map(name -> _)
      }
    var healAttempt = 0
    var gone = missingSide()
    while (gone.nonEmpty && healAttempt < 2) {
      healAttempt += 1
      System.err.println(s"[verify] heal pass $healAttempt: missing oracle side tables ${gone.map(_._2).distinct.mkString(", ")}")
      gone.map(_._1).distinct.filterNot(errors.contains).foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] heal re-run of $name failed: $e")
            errors(name) = e.toString.take(500)
          }
        }
      }
      gone = missingSide()
    }
    if (gone.nonEmpty)
      System.err.println(s"[verify] UNHEALED oracle side tables: ${gone.map(_._2).distinct.mkString(", ")}")
    val json = interpolated
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // Declared battery membership, so the gate can red on ABSENCE itself
    // (a query list that shrinks between rounds must never look green).
    val declared = SparkEntry.queries.keys.toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/_declared.json"),
      declared.map(q).mkString("[", ",", "]"))
    spark.stop()
    // NOT a nonzero exit: the driver must still compare the queries that
    // DID run; _errors.json + check.py turn the failures red downstream.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
