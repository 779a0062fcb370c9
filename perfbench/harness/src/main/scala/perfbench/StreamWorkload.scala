package perfbench

import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.streaming.{Changelog, StatefulOps}
import perfbench.Main.{log, median, quantile, M, Outcome}

/** Input row of the keep-first and running-aggregate ops. */
final case class Ev(event_id: Long, k: String, ts: Timestamp, v: Long)

/** Input row of the retracting aggregate: a +I/-D changelog. */
final case class Chg(row_kind: String, event_id: Long, k: String, v: Long)

/** stream_keyed: three graft keyed ops, each its own streaming query over a
  * MemoryStream, run one after another. Each op has
  *  - an open-loop paced phase: the generator adds a chunk of events every
  *    `TickMs` at `Rate` events/s, stamping each chunk with its scheduled
  *    time; an event's latency is the commit time of the micro-batch that
  *    ingested it minus that scheduled time;
  *  - a closed-loop drain phase: a backlog of `Drain` events is added at
  *    once; its drain time is the duration of the micro-batch that
  *    processes it.
  * The seed drives the event generator: Zipf-skewed keys scoped to event-
  * time epochs (so state keeps growing and old keys expire), a share of
  * out-of-order events and a few events far behind the watermark.
  */
object StreamWorkload {
  /** Paced rate, events/s: a sixth or less of what the slowest op sustains
    * in small micro-batches on a 4-vCPU host, so that per-batch costs
    * dominate a paced micro-batch and the backlog stays flat even while
    * the host runs twice as slow (README.md, "Paced rate"). */
  val Rate = 2500
  val TickMs = 20
  val Prime = 2000
  val Drain = 150000
  val WatermarkDelay = "10 seconds"
  val TtlSec = 300L

  private val EpochEvents = 20000 // 200 s of event time per key epoch
  private val KeyRanks = 50000
  private val BaseMs = 1700000000000L

  /** The three keyed ops, run in this order. */
  private sealed trait Op { def name: String }
  private case object KeepFirst extends Op { val name = "keep_first" }
  private case object RunningAgg extends Op { val name = "running_agg" }
  private case object RetractAgg extends Op { val name = "retract_agg" }
  private val Ops = Seq(KeepFirst, RunningAgg, RetractAgg)

  /** Results of one op run. */
  private final case class OpRun(op: Op, attempted: Long, failed: Long, drainS: Double,
                                 latencies: Seq[Double], genLateS: Double, backlog: Seq[Long],
                                 progress: Seq[StreamingQueryProgress], buildS: Double)

  def run(a: Main.Args): Outcome = {
    val cores = Main.cores()
    val spark = Main.session(cores, a.work)
    log(f"session ready at ${Main.sinceJvmStart()}%.3f s")
    val paced = math.max(1.0, a.seconds / Ops.size)
    val genT0 = System.nanoTime()
    val gen = new Gen(a.seed, Prime + (Rate * paced).toInt + Drain)
    val genS = (System.nanoTime() - genT0) / 1e9

    // Warm pass: every op once on a small input (codegen, state store set-up).
    var runId = 0
    def once(op: Op, pacedS: Double, drain: Int, trace: Option[Trace]): OpRun = {
      runId += 1
      runOp(spark, a.work, s"${op.name}-$runId", op, gen, pacedS, drain, trace)
    }
    Ops.foreach { op =>
      once(op, 0.0, 5000, None)
      log(f"warmed ${op.name} at ${Main.sinceJvmStart()}%.3f s")
    }
    val setupS = Main.sinceJvmStart() - genS
    log(f"setup done at $setupS%.3f s (event generation ${genS}%.3f s excluded)")

    def summary(runs: Seq[OpRun]): Unit = runs.foreach { r =>
      log(f"${r.op.name}: drain ${r.drainS}%.3f s (${Drain / r.drainS}%.0f rows/s), " +
        f"latency p50 ${median(r.latencies)}%.3f s p90 ${quantile(r.latencies, 0.9)}%.3f s, " +
        f"${r.progress.size} batches, generator late (p90) ${r.genLateS}%.4f s, paced backlog " +
        s"max ${r.backlog.maxOption.getOrElse(0L)} rows (per batch: ${r.backlog.mkString(" ")})")
    }

    val (runs, metrics) = if (!a.trace) {
      val runs = Ops.map(op => once(op, paced, Drain, None))
      summary(runs)
      log(f"paced latency p50 ${pacedLatency(runs, 0.5)}%.3f s, p90 ${pacedLatency(runs, 0.9)}%.3f s")
      (runs, Seq(
        "setup_s" -> M(setupS, "s"),
        "pass_s" -> M(runs.map(_.drainS).sum, "s")))
    } else {
      val calibBefore = Main.calibrate(spark)
      // Each op runs untraced and traced, in alternating order, so that
      // warm-up drift does not read as tracing overhead; each run gets
      // half the paced phase, so the traced run takes about as long.
      val half = paced / 2
      val trace = new Trace(spark)
      val pairs = Ops.zipWithIndex.map { case (op, i) =>
        def traced(): OpRun = {
          trace.attach()
          try trace.span("op", op.name)(once(op, half, Drain, Some(trace)))
          finally trace.detach()
        }
        if (i % 2 == 0) { val p = once(op, half, Drain, None); (p, traced()) }
        else { val t = traced(); (once(op, half, Drain, None), t) }
      }
      val (plain, traced) = (pairs.map(_._1), pairs.map(_._2))
      summary(traced)
      val calibAfter = Main.calibrate(spark)
      trace.write(s"${a.work}/trace-${a.workload}-${a.seed}.jsonl")
      log(f"calibration before $calibBefore%.4f s, after $calibAfter%.4f s")
      val progress = trace.progress.asScala.toSeq
      val opSpans = trace.allSpans.filter(_.kind == "op")
      (plain ++ traced, Metrics.layers(Seq(
        "host.calib_s" -> median(Seq(calibBefore, calibAfter)),
        "trace.overhead_s" -> (traced.map(_.drainS).sum - plain.map(_.drainS).sum),
        "build.s" -> traced.map(_.buildS).sum,
        "gen.late_s" -> traced.map(_.genLateS).max,
        "source.backlog_rows_max" -> traced.map(_.backlog.maxOption.getOrElse(0L)).max.toDouble,
        "paced.latency_p50_s" -> pacedLatency(plain, 0.5),
        "paced.latency_p90_s" -> pacedLatency(plain, 0.9)) ++
        progressLayers(progress) ++
        Metrics.work(opSpans.flatMap(trace.jobsUnder)) ++
        traced.flatMap { r => Seq(
          s"${r.op.name}.batches" -> r.progress.size.toDouble,
          s"${r.op.name}.drain_s" -> r.drainS,
          s"${r.op.name}.latency_p50_s" -> median(r.latencies),
          s"${r.op.name}.state_commit_s" -> stateSum(r.progress)(_.commitTimeMs) / 1e3)
        }))
    }
    Main.stopSession(spark)
    Outcome(runs.map(_.attempted).sum, runs.map(_.failed).sum, metrics)
  }

  /** Mean over the ops of each op's latency quantile over its paced chunks;
    * each op weighs the same. */
  private def pacedLatency(runs: Seq[OpRun], q: Double): Double =
    runs.map(r => quantile(r.latencies, q)).sum / runs.size

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3

  private def stateSum(ps: Seq[StreamingQueryProgress])(
      f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
    ps.flatMap(_.stateOperators.toSeq).map(f).sum.toDouble

  /** Stream and state-store layer metrics from micro-batch progress. */
  private def progressLayers(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    val lastPerQuery = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    Seq(
      "stream.batches" -> ps.size.toDouble,
      "stream.wal_commit_s" -> ps.map(dur(_, "walCommit")).sum,
      "stream.commit_offsets_s" -> ps.map(dur(_, "commitOffsets")).sum,
      "plan.s" -> ps.map(dur(_, "queryPlanning")).sum,
      "exec.s" -> ps.map(dur(_, "addBatch")).sum,
      "state.commit_s" -> stateSum(ps)(_.commitTimeMs) / 1e3,
      "state.rows_updated" -> stateSum(ps)(_.numRowsUpdated),
      "state.rows_removed" -> stateSum(ps)(_.numRowsRemoved),
      "state.rows_total" -> stateSum(lastPerQuery)(_.numRowsTotal),
      "state.memory_bytes" -> stateSum(lastPerQuery)(_.memoryUsedBytes),
      "state.dropped_late_rows" -> stateSum(ps)(_.numRowsDroppedByWatermark))
  }

  /** Rows each paced micro-batch picked up, in batch order: the backlog
    * waiting when it started. Paced batches are those whose source offsets
    * lie after the priming data and up to the last paced chunk. */
  private def pacedBacklog(ps: Seq[StreamingQueryProgress], primeOffset: Long,
                           lastChunk: Long): Seq[Long] =
    ps.filter { p =>
      val (start, end) = offsets(p)
      p.numInputRows > 0 && start >= primeOffset && end <= lastChunk
    }.sortBy(_.batchId).map(_.numInputRows)

  /** Why the paced numbers of an op are void, if they are: the backlog
    * grew over the phase, or the generator ran late (more than a tenth of
    * the chunks were added over a tick after they were due). Growth
    * compares the median batch of the second half with that of the first.
    * It leaves out the first two batches, which ramp up from an idle query
    * (one chunk, then what arrived while it ran), and the last, which
    * holds only the tail of the phase. More than 1.4x means the op fell
    * behind the rate (README.md, "Checks"). */
  private def voidPaced(backlog: Seq[Long], genLateS: Double): Seq[String] = {
    val steady = backlog.drop(2).dropRight(1)
    val (first, second) = steady.splitAt(steady.size / 2)
    def med(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else median(xs.map(_.toDouble))
    Seq(
      Option.when(med(second) > 1.4 * med(first))(
        s"paced backlog grew: median ${med(first)} then ${med(second)} rows per batch"),
      Option.when(genLateS > TickMs / 1e3)(
        f"generator ran late: p90 lateness $genLateS%.4f s over a $TickMs ms tick")).flatten
  }

  /** Runs one op through prime, paced and drain phases and checks it. */
  private def runOp(spark: SparkSession, work: String, id: String, op: Op, gen: Gen,
                    pacedS: Double, drain: Int, trace: Option[Trace]): OpRun = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def in[T](kind: String)(body: => T): T = trace.fold(body)(_.span(kind, op.name)(body))
    val ticks = math.max(1, (pacedS * 1000 / TickMs).toInt)
    val perTick = Rate * TickMs / 1000
    val total = Prime + ticks * perTick + drain
    val out = mutable.ArrayBuffer.empty[(Long, Array[Row])]
    val (source, add) = op match {
      case RetractAgg =>
        val s = MemoryStream[Chg]
        (s: MemoryStream[_], (from: Int, until: Int) => offsetOf(s.addData(gen.changes(from, until))))
      case _ =>
        val s = MemoryStream[Ev]
        (s: MemoryStream[_], (from: Int, until: Int) => offsetOf(s.addData(gen.events(from, until))))
    }
    val b0 = System.nanoTime()
    val df: DataFrame = in("build") {
      val input = source.toDF()
      op match {
        case KeepFirst =>
          StatefulOps.keepFirstStreaming(input.withWatermark("ts", WatermarkDelay), Seq("k"), "ts", TtlSec)
            .select("k", "ts", "event_id")
        case RunningAgg =>
          StatefulOps.runningAggStreaming(input, Seq("k"), "ts", "v")
            .select("k", "running_count", "running_sum")
        case RetractAgg =>
          Changelog.retractGroupAgg(input, Seq("k"), "v").select("k", "cnt", "sum_val")
      }
    }
    val buildS = (System.nanoTime() - b0) / 1e9
    val mode = if (op == RunningAgg) OutputMode.Append else OutputMode.Update
    val q: StreamingQuery = in("start") {
      df.writeStream.outputMode(mode)
        .option("checkpointLocation", s"$work/ckpt/$id")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          out.synchronized(out += ((batchId, lastPerKey(batch, op))))
          ()
        }.start()
    }
    try {
      val primeOffset = add(0, Prime)
      q.processAllAvailable()
      // Paced phase: chunk k is due at start + k * TickMs.
      val chunks = mutable.ArrayBuffer.empty[(Long, Double)] // (offset, scheduled epoch ms)
      val lateness = mutable.ArrayBuffer.empty[Double]
      in("paced") {
        val startMs = System.currentTimeMillis() + TickMs.toDouble
        val startNs = System.nanoTime() + TickMs * 1000000L
        for (k <- 0 until ticks) {
          val dueNs = startNs + k.toLong * TickMs * 1000000L
          var now = System.nanoTime()
          while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
          lateness += (now - dueNs) / 1e9
          val from = Prime + k * perTick
          chunks += ((add(from, from + perTick), startMs + k.toDouble * TickMs))
        }
        q.processAllAvailable()
      }
      val drainOffset = in("drain") {
        val o = add(total - drain, total)
        q.processAllAvailable()
        o
      }
      val progress = q.recentProgress.toSeq
      // The backlog is one offset, so one micro-batch drains it; its own
      // duration excludes any batch that was still running when it arrived.
      val drainS = batchOf(progress, drainOffset).map(dur(_, "triggerExecution")).getOrElse(0.0)
      val latencies = pacedLatencies(progress, chunks.toSeq)
      q.stop()
      val backlog = pacedBacklog(progress, primeOffset, chunks.last._1)
      val genLateS = quantile(lateness.toSeq, 0.9)
      val void = if (pacedS > 0) voidPaced(backlog, genLateS) else Nil
      void.foreach(m => log(s"VOID PACED ${op.name}: $m"))
      val failures = check(op, gen, total, out.toSeq, progress) + void.size
      OpRun(op, 1 + chunks.size, failures, drainS, latencies, genLateS, backlog, progress, buildS)
    } finally if (q.isActive) q.stop()
  }

  private def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json.trim.toLong

  /** Source (start, end] offsets of a micro-batch; -1 for none. */
  private def offsets(p: StreamingQueryProgress): (Long, Long) = {
    def off(s: String) = Option(s).map(_.trim).filter(_.matches("-?\\d+")).map(_.toLong).getOrElse(-1L)
    (off(p.sources.head.startOffset), off(p.sources.head.endOffset))
  }

  /** The micro-batch whose source offset range holds `offset`. */
  private def batchOf(ps: Seq[StreamingQueryProgress], offset: Long): Option[StreamingQueryProgress] =
    ps.find { p =>
      val (start, end) = offsets(p)
      p.numInputRows > 0 && offset > start && offset <= end
    }

  /** Latency of each paced chunk: commit time of the batch that ingested
    * it minus its scheduled time. */
  private def pacedLatencies(ps: Seq[StreamingQueryProgress],
                             chunks: Seq[(Long, Double)]): Seq[Double] =
    chunks.flatMap { case (offset, dueMs) =>
      batchOf(ps, offset).map { p =>
        val commitMs = java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution") * 1e3
        (commitMs - dueMs) / 1e3
      }
    }

  /** Reduces one output micro-batch to one row per key: the row with the
    * highest running count for the running aggregate (its output holds a
    * row per input row), the only row otherwise. Output is partitioned by
    * key, so the reduction needs no shuffle. */
  private def lastPerKey(batch: Dataset[Row], op: Op): Array[Row] = op match {
    case RunningAgg =>
      import batch.sparkSession.implicits._
      batch.select(col("k"), col("running_count"), col("running_sum"))
        .as[(String, Long, Double)]
        .mapPartitions { it =>
          val best = mutable.HashMap.empty[String, (Long, Double)]
          it.foreach { case (k, c, s) => if (best.get(k).forall(_._1 < c)) best(k) = (c, s) }
          best.iterator.map { case (k, (c, s)) => (k, c, s) }
        }.toDF().collect()
    case _ => batch.collect()
  }

  /** Differential check of an op's final keyed result against the same
    * computation done directly over the generated input, plus row
    * conservation at the source. Returns the number of failed checks. */
  private def check(op: Op, gen: Gen, total: Int, out: Seq[(Long, Array[Row])],
                    progress: Seq[StreamingQueryProgress]): Long = {
    var failed = 0L
    def fail(msg: String): Unit = { failed += 1; log(s"WRONG RESULT ${op.name}: $msg") }
    val ingested = progress.map(_.numInputRows).sum
    if (ingested != total) fail(s"source ingested $ingested rows, generated $total")
    val last = mutable.HashMap.empty[String, Row]
    out.sortBy(_._1).foreach { case (_, rows) => rows.foreach(r => last(r.getString(0)) = r) }
    op match {
      case KeepFirst =>
        val dropped = stateSumL(progress)(_.numRowsDroppedByWatermark)
        val late = (Prime until total).count(gen.isLate)
        if (dropped != late) fail(s"dropped $dropped late rows, generated $late")
        val exp = mutable.HashMap.empty[String, (Long, mutable.Set[Long])]
        (0 until total).filterNot(gen.isLate).foreach { i =>
          val (k, ts) = (gen.key(i), gen.tsMs(i))
          exp.get(k) match {
            case Some((t, ids)) if t == ts => ids += i.toLong
            case Some((t, _)) if t < ts =>
            case _ => exp(k) = (ts, mutable.Set(i.toLong))
          }
        }
        if (exp.keySet != last.keySet) fail(s"${last.size} keys emitted, expected ${exp.size}")
        val bad = exp.count { case (k, (ts, ids)) =>
          last.get(k).forall(r => r.getTimestamp(1).getTime != ts || !ids(r.getLong(2)))
        }
        if (bad > 0) fail(s"$bad keys kept a row that is not their earliest")
      case RunningAgg =>
        val exp = mutable.HashMap.empty[String, (Long, Double)]
        (0 until total).foreach { i =>
          val (c, s) = exp.getOrElse(gen.key(i), (0L, 0.0))
          exp(gen.key(i)) = (c + 1, s + gen.value(i))
        }
        if (exp.keySet != last.keySet) fail(s"${last.size} keys emitted, expected ${exp.size}")
        val bad = exp.count { case (k, (c, s)) =>
          last.get(k).forall(r => r.getLong(1) != c || r.getDouble(2) != s)
        }
        if (bad > 0) fail(s"$bad keys with a wrong running count or sum")
      case RetractAgg =>
        val exp = mutable.HashMap.empty[String, (Long, Double)]
        (0 until total).foreach { i =>
          val (k, sign, v) = gen.change(i)
          val (c, s) = exp.getOrElse(k, (0L, 0.0))
          exp(k) = (c + sign, s + sign * v)
        }
        if (exp.keySet != last.keySet) fail(s"${last.size} keys emitted, expected ${exp.size}")
        val bad = exp.count { case (k, (c, s)) =>
          last.get(k).forall(r => r.getLong(1) != c || r.getDouble(2) != (if (c == 0) 0.0 else s))
        }
        if (bad > 0) fail(s"$bad keys with a wrong count or sum")
    }
    failed
  }

  private def stateSumL(ps: Seq[StreamingQueryProgress])(
      f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
    ps.flatMap(_.stateOperators.toSeq).map(f).sum

  /** Seeded event source. Event i is due in order; its key is a Zipf-
    * skewed rank scoped to the event-time epoch of i, so a key is only
    * live for one epoch (its state expires by TTL afterwards). About 5% of
    * events are out of order by up to 3 s of event time (inside the
    * watermark delay); 0.1% are an hour late and are dropped. The
    * changelog deletes (-D) a live earlier insert with probability 1/4. */
  final class Gen(seed: Long, n: Int) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(KeyRanks)(r => 1.0 / math.pow(r + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      if (i >= 0) i else -i - 1
    }
    private val keys = Array.tabulate(n)(i => s"${i / EpochEvents}:${zipf()}")
    private val values = Array.fill(n)(rnd.nextLong(1000L))
    private val late = Array.tabulate(n)(i => i >= Prime && rnd.nextInt(1000) == 0)
    private val ts = Array.tabulate(n) { i =>
      if (late(i)) BaseMs - 3600000L - i
      else if (rnd.nextInt(20) == 0) BaseMs + (i - 1 - rnd.nextInt(300)).max(0) * 10L + 1 + i % 9
      else BaseMs + i * 10L
    }
    // Changelog: -D of a live earlier insert (key, value), else +I.
    private val (chKind, chKey, chVal) = {
      val kind = new Array[Boolean](n); val k = new Array[String](n); val v = new Array[Long](n)
      val live = mutable.ArrayBuffer.empty[Int]
      for (i <- 0 until n) {
        if (live.size > 100 && rnd.nextInt(4) == 0) {
          val j = rnd.nextInt(live.size)
          val src = live(j)
          live(j) = live.last; live.remove(live.size - 1)
          kind(i) = false; k(i) = keys(src); v(i) = values(src)
        } else {
          kind(i) = true; k(i) = keys(i); v(i) = values(i)
          live += i
        }
      }
      (kind, k, v)
    }

    def key(i: Int): String = keys(i)
    def value(i: Int): Long = values(i)
    def tsMs(i: Int): Long = ts(i)
    def isLate(i: Int): Boolean = late(i)
    def change(i: Int): (String, Long, Long) = (chKey(i), if (chKind(i)) 1L else -1L, chVal(i))

    def events(from: Int, until: Int): Seq[Ev] =
      (from until until).map(i => Ev(i.toLong, keys(i), new Timestamp(ts(i)), values(i)))
    def changes(from: Int, until: Int): Seq[Chg] =
      (from until until).map(i => Chg(if (chKind(i)) Changelog.Insert else Changelog.Delete,
        i.toLong, chKey(i), chVal(i)))
  }
}
