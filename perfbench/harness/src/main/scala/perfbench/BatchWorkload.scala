package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import perfbench.Main.{log, median, quantile, M, Outcome}

/** batch_light: a closed loop where one client runs a fixed query list at
  * sf0.01, one query after the other, in passes. The queries' time is
  * set-up rather than data: table resolution, DataFrame construction,
  * eager jobs, SQL DDL. The seed permutes the query order of each pass;
  * the tables are fixed (gen_tables.py), so every query's result hash is
  * known in advance (expected_hashes.json).
  */
object BatchWorkload {
  /** Fixed-cost queries: SQL plan lifecycle, a BPE localCheckpoint
    * chain, SQL JSON functions, a format round-trip and small text and
    * vector queries. */
  val Light: Seq[String] = Seq(
    "q98_plan_lifecycle", "t55_bpe_merges", "q85_sql_json", "q57_csv_roundtrip",
    "t47_blocklist_filter", "v40_vector_stats")

  val Scale = "sf0.01"

  def run(a: Main.Args): Outcome = {
    val dir = s"${a.data}/perfbench_$Scale"
    val cores = Main.cores()
    val all = graft.SparkEntry.queries
    val missing = Light.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val list = Light.map(n => n -> all(n))
    val expected = readExpected(a.expected)
    var spark = Main.session(cores, a.work)
    log(f"session ready at ${Main.sinceJvmStart()}%.3f s")
    var attempted, failed = 0L

    // Set-up: session start plus one checking pass, which stages side
    // tables, warms the JIT and compares every result with its expected hash.
    list.foreach { case (n, fn) =>
      attempted += 1
      val c0 = System.nanoTime()
      try {
        val (h, rows) = ResultHash.of(fn(spark, dir))
        log(f"checked $n in ${(System.nanoTime() - c0) / 1e9}%.3f s")
        if (!expected.get(s"$Scale/$n").contains(h)) {
          failed += 1
          log(s"WRONG RESULT $n: hash $h ($rows rows), expected ${expected.getOrElse(s"$Scale/$n", "none")}")
        }
      } catch { case e: Throwable => failed += 1; log(s"FAILED $n: $e") }
    }
    log(s"$failed of $attempted result checks failed")
    val rnd = new scala.util.Random(a.seed)

    /** One pass in a seeded order: its wall seconds and each query's latency. */
    final case class Pass(wallS: Double, latencies: Map[String, Double])
    def pass(s: SparkSession, trace: Option[Trace]): Pass = {
      def in[T](kind: String, name: String)(body: => T): T =
        trace.fold(body)(_.span(kind, name)(body))
      val latencies = mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      in("pass", "pass") {
        rnd.shuffle(list).foreach { case (n, fn) =>
          attempted += 1
          val q0 = System.nanoTime()
          try {
            in("query", n) {
              val df = in("build", n)(fn(s, dir))
              in("exec", n)(df.write.format("noop").mode("overwrite").save())
            }
            latencies(n) = (System.nanoTime() - q0) / 1e9
          } catch { case e: Throwable => failed += 1; log(s"FAILED $n: $e") }
        }
      }
      val p = Pass((System.nanoTime() - t0) / 1e9, latencies.toMap)
      log(f"pass: ${p.wallS}%.3f s" +
        latencies.map { case (n, l) => f"$n $l%.3f" }.mkString(" (", ", ", ")"))
      p
    }

    /** Quantile over the queries of each query's median latency in `ps`;
      * each query weighs the same. */
    def queryLatency(ps: Seq[Pass], q: Double): Double = quantile(Light.map { n =>
      val ls = ps.flatMap(_.latencies.get(n))
      if (ls.isEmpty) Double.NaN else median(ls)
    }, q)

    val setupS = Main.sinceJvmStart()
    log(f"setup done at $setupS%.3f s")

    val metrics: Seq[(String, M)] = if (!a.trace) {
      // Passes for `seconds`, at least 4. The JIT keeps speeding the
      // passes up for a minute or more (README.md, "Warm-up"), so the
      // first half of them is warm-up and only the later half counts.
      val t0 = System.nanoTime()
      val ps = mutable.ArrayBuffer.empty[Pass]
      while (ps.length < 4 || (System.nanoTime() - t0) / 1e9 < a.seconds) ps += pass(spark, None)
      val kept = ps.drop(ps.length / 2).toSeq
      log(f"${ps.length} passes, the last ${kept.length} kept; query latency " +
        f"p50 ${queryLatency(kept, 0.5)}%.3f s, p90 ${queryLatency(kept, 0.9)}%.3f s")
      Seq(
        "setup_s" -> M(setupS, "s"),
        "pass_s" -> M(median(kept.map(_.wallS)), "s"))
    } else {
      val calibBefore = Main.calibrate(spark)
      val loadS = tablesLoad(spark, dir)
      // Untraced and traced passes alternate, so that warm-up drift does
      // not read as tracing overhead.
      val trace = new Trace(spark)
      val plain = mutable.ArrayBuffer.empty[Pass]
      val tracedWall = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (tracedWall.length < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        plain += pass(spark, None)
        trace.attach()
        tracedWall += pass(spark, Some(trace)).wallS
        trace.detach()
        log(f"untraced pass ${plain.last.wallS}%.3f s, traced pass ${tracedWall.last}%.3f s")
      }
      val calibAfter = Main.calibrate(spark)
      trace.write(s"${a.work}/trace-${a.workload}-${a.seed}.jsonl")
      Main.stopSession(spark)
      spark = Main.session(1, a.work)
      val local1 = pass(spark, None).wallS
      log(f"calibration before $calibBefore%.4f s, after $calibAfter%.4f s; local[1] pass $local1%.3f s")
      val perPass = trace.allSpans.filter(_.kind == "pass").map(p => passLayers(trace, p))
      Metrics.layers(Seq(
        "host.calib_s" -> median(Seq(calibBefore, calibAfter)),
        "trace.overhead_s" -> (median(tracedWall.toSeq) - median(plain.map(_.wallS).toSeq)),
        "tables.load_s" -> loadS,
        "query.latency_p50_s" -> queryLatency(plain.toSeq, 0.5),
        "query.latency_p90_s" -> queryLatency(plain.toSeq, 0.9),
        "exec.local1_pass_s" -> local1) ++ Metrics.medianOfPasses(perPass))
    }
    Main.stopSession(spark)
    Outcome(attempted, failed, metrics)
  }

  /** Per-layer numbers of one traced pass. */
  private def passLayers(t: Trace, pass: Span): Seq[(String, Double)] = {
    val spans = t.allSpans
    val children = spans.filter(s => s.startMs >= pass.startMs && s.endMs <= pass.endMs)
    def dur(s: Span) = (s.endMs - s.startMs) / 1e3
    val builds = children.filter(_.kind == "build")
    val execs = children.filter(_.kind == "exec")
    val jobs = t.jobsUnder(pass)
    val buildJobs = builds.flatMap(t.jobsUnder)
    val execJobs = execs.flatMap(t.jobsUnder)
    val plans = t.plansIn(pass)
    val sqlNames = graft.queries.SqlSurface.queries.keySet
    def site(f: String) = jobs.filter(_.callSite == f)
    Seq(
      "tables.jobs" -> site("Tables").size.toDouble,
      "tables.job_s" -> site("Tables").map(_.seconds).sum,
      "staging.jobs" -> site("Staging").size.toDouble,
      "staging.job_s" -> site("Staging").map(_.seconds).sum,
      "build.s" -> builds.map(dur).sum,
      "build.jobs" -> buildJobs.size.toDouble,
      "sql.build_s" -> builds.filter(b => sqlNames(b.name)).map(dur).sum,
      "plan.s" -> plans.map(_.planS).sum,
      "plan.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "plan.joins" -> plans.map(_.joins).sum.toDouble,
      "plan.aggregates" -> plans.map(_.aggregates).sum.toDouble,
      "plan.scans" -> plans.map(_.scans).sum.toDouble,
      "exec.s" -> execs.map(dur).sum) ++ Metrics.work(execJobs)
  }

  /** Direct Tables.load of every fixture table, outside any pass: the
    * median of three rounds of the summed per-table time. */
  private def tablesLoad(spark: SparkSession, dir: String): Double = median((1 to 3).map { _ =>
    graft.Tables.names.map { n =>
      val t0 = System.nanoTime()
      graft.Tables.load(spark, dir, n)
      (System.nanoTime() - t0) / 1e9
    }.sum
  })

  private def readExpected(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    """"([^"]+)"\s*:\s*"([0-9a-f]{64})"""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}
