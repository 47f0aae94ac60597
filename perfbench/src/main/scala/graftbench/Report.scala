package graftbench

/** Turns the runner's op records and the listener's counters into the
  * metrics named in BENCHMARK.json.
  */
object Report {
  val DekerKinds: Seq[String] = Seq("read", "patch", "place")
  val CurationKinds: Seq[String] = Curation.Flow.map(_._1)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** End-to-end metrics over the timed, successful ops: requests on
    * deker_session, operator runs on curation_pass. Throughput divides by
    * the time spent inside the program's calls, so the benchmark's own
    * checking does not count against it. No upper percentile over all ops:
    * patches are a quarter of the deker mix and the slowest kind, so the
    * 75th percentile falls between the slowest other request and the
    * fastest patch; per-kind percentiles are in the run's stamp.
    */
  def endToEnd(r: Runner, setupS: Double): Map[String, Double] = {
    val ms = r.timed.map(_.totalMs)
    Map(
      "setup_s" -> setupS,
      "ops_per_s" -> ms.size / (ms.sum / 1000.0),
      "op_p50_ms" -> percentile(ms, 0.5))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer metrics from the instrumented timed ops. Kinds the
    * workload does not run read 0.
    */
  def perLayer(r: Runner, layers: Layers): Map[String, Double] = {
    val traced = r.timed.filter(_.traced)
    val jobsBySpan = layers.jobs.groupBy(_.span)
    def counts(o: OpRec) = layers.bySpan.getOrElse(o.id, new Layers.Counts)
    val perKind = (DekerKinds ++ CurationKinds).flatMap { kind =>
      val ops = traced.filter(_.kind == kind)
      def perOp(f: OpRec => Double): Double = mean(ops.map(f))
      val jobs = (o: OpRec) => jobsBySpan.getOrElse(o.id, Nil)
      val wall = ops.map(_.totalMs).sum
      val common = Seq(
        "construct_ms" -> perOp(_.constructMs),
        "construct_jobs" -> perOp(o => jobs(o).count(_.startMs < o.execStartMs).toDouble),
        "plan_ms" -> perOp(_.planMs),
        "exec_ms" -> perOp(_.execMs),
        "jobs" -> perOp(o => jobs(o).size.toDouble),
        "tasks" -> perOp(o => counts(o).tasks.toDouble),
        "sched_delay_ms" -> perOp(o => counts(o).schedDelayMs.toDouble),
        "exec_cpu_ms" -> perOp(o => counts(o).cpuNs / 1e6),
        "parallelism" -> (if (wall > 0) ops.map(o => counts(o).runMs.toDouble).sum / wall else 0.0))
      val extra =
        if (DekerKinds.contains(kind)) Seq(
          "scan_rows" -> perOp(o => counts(o).scanRows.toDouble),
          "scan_bytes" -> perOp(o => counts(o).scanBytes.toDouble))
        else Seq(
          "shuffle_bytes" -> perOp(o => counts(o).shuffleBytes.toDouble),
          "shuffle_records" -> perOp(o => counts(o).shuffleRecords.toDouble),
          "spill_bytes" -> perOp(o => counts(o).spillBytes.toDouble))
      (common ++ extra).map { case (m, v) => s"$kind.$m" -> v }
    }
    perKind.toMap + ("task_retries" -> layers.bySpan.values.map(_.retries).sum.toDouble) +
      ("trace.overhead_pct" -> overheadPct(r))
  }

  /** Extra latency of instrumented timed ops over plain ones, per kind by
    * medians, weighted by each kind's op count, in percent.
    */
  def overheadPct(r: Runner): Double = {
    val byKind = r.timed.groupBy(_.kind).toSeq.flatMap { case (_, ops) =>
      val (t, u) = ops.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((ops.size, percentile(t.map(_.totalMs), 0.5) / percentile(u.map(_.totalMs), 0.5) - 1))
    }
    val n = byKind.map(_._1).sum
    if (n == 0) 0.0 else 100.0 * byKind.map { case (k, d) => k * d }.sum / n
  }
}
