package perfbench

import perfbench.Main.{median, M}

/** The per-layer metric set. Every traced run reports all of it; a layer
  * a workload does not use reads 0 there (no stream state on the batch
  * workloads, no batch passes on stream_keyed). */
object Metrics {
  val StreamOps: Seq[String] = Seq("keep_first", "running_agg", "retract_agg")

  val PerLayer: Seq[(String, String)] = Seq(
    "host.calib_s" -> "s", "trace.overhead_s" -> "s", "tables.load_s" -> "s",
    "tables.jobs" -> "count", "tables.job_s" -> "s",
    "staging.jobs" -> "count", "staging.job_s" -> "s",
    "build.s" -> "s", "build.jobs" -> "count", "sql.build_s" -> "s",
    "plan.s" -> "s", "plan.exchanges" -> "count", "plan.joins" -> "count",
    "plan.aggregates" -> "count", "plan.scans" -> "count",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.input_bytes" -> "bytes", "exec.spill_bytes" -> "bytes", "exec.local1_pass_s" -> "s",
    "query.latency_p50_s" -> "s", "query.latency_p90_s" -> "s",
    "stream.batches" -> "count", "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
    "state.commit_s" -> "s", "state.rows_updated" -> "count", "state.rows_removed" -> "count",
    "state.rows_total" -> "count", "state.memory_bytes" -> "bytes",
    "state.dropped_late_rows" -> "count", "gen.late_s" -> "s", "source.backlog_rows_max" -> "count",
    "paced.latency_p50_s" -> "s", "paced.latency_p90_s" -> "s",
  ) ++ StreamOps.flatMap(op => Seq(
    s"$op.batches" -> "count", s"$op.drain_s" -> "s",
    s"$op.latency_p50_s" -> "s", s"$op.state_commit_s" -> "s"))

  /** The full per-layer set in its fixed order; names not measured read 0. */
  def layers(measured: Seq[(String, Double)]): Seq[(String, M)] = {
    val byName = measured.toMap
    val unknown = byName.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (n, unit) => n -> M(byName.getOrElse(n, 0.0), unit) }
  }

  /** Median over passes of each per-pass metric. Exact counters should
    * repeat in every pass; a counter that does not is reported. */
  def medianOfPasses(passes: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    if (passes.isEmpty) Nil
    else passes.head.map(_._1).map { n =>
      val vs = passes.map(_.toMap.apply(n))
      if (PerLayer.toMap.get(n).contains("count") && vs.distinct.size > 1)
        Main.log(s"counter $n varied across passes: ${vs.mkString(", ")}")
      n -> median(vs)
    }

  /** Summed task work of a set of jobs. */
  def work(jobs: Seq[JobRec]): Seq[(String, Double)] = Seq(
    "exec.jobs" -> jobs.size.toDouble,
    "exec.stages" -> jobs.map(_.stages).sum.toDouble,
    "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
    "exec.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
    "exec.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
    "exec.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
    "exec.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
    "exec.input_bytes" -> jobs.map(_.input).sum.toDouble,
    "exec.spill_bytes" -> jobs.map(_.spill).sum.toDouble)
}
