package perfbench

/** The per-layer metric catalogue of the traced run, and how each is read
  * off the recorded spans. A span that a workload never opens reports 0.
  */
object Layers {

  /** Spans that report all six span metrics. */
  val FullSpans: Seq[String] = Seq(
    "queries.all",
    "ops.dedup", "ops.components", "ops.dup_spans", "ops.dsir", "ops.select",
    "io.read", "io.arrow_sink",
    "processor.fit", "processor.transform",
    "stream.assign", "stream.drain")

  val SpanMetrics: Seq[String] =
    Seq("self_s", "jobs", "task_s", "idle_core_s", "shuffle_write_mb", "spill_mb")

  /** Corpus queries whose job count and task time are reported one by one. */
  val NamedQueries: Seq[String] = Corpus.Queries.map(Corpus.short)

  val Extras: Seq[String] = Seq(
    "ops.dedup.verify_yield", "curate.dup_share", "ops.dup_spans.kept_token_share",
    "io.arrow_sink.bytes_per_row", "stream.delivered_share", "stream.fetch_jobs",
    "functions.kernels.mb_per_cpu_s")

  val names: Seq[String] =
    Seq("core.session.self_s") ++
      FullSpans.flatMap(s => SpanMetrics.map(m => s"$s.$m")) ++
      NamedQueries.flatMap(q => Seq(s"queries.$q.jobs", s"queries.$q.task_s")) ++
      Seq("functions.kernels.self_s", "functions.kernels.task_s") ++
      Extras ++ Seq("failed_tasks", "traced_wall_s")

  def unitOf(name: String): String = name.split('.').last match {
    case "self_s" | "task_s" | "idle_core_s" | "traced_wall_s" => "s"
    case "shuffle_write_mb" | "spill_mb" => "MB"
    case "jobs" | "fetch_jobs" | "failed_tasks" => "count"
    case "bytes_per_row" => "B"
    case "mb_per_cpu_s" => "MB/s"
    case _ => "ratio"
  }

  def values(st: SpanStats): Map[String, Double] = Map(
    "self_s" -> st.selfS,
    "jobs" -> st.counts.jobs.toDouble,
    "task_s" -> st.counts.taskMs / 1000.0,
    "idle_core_s" -> st.idleCoreS,
    "shuffle_write_mb" -> st.counts.shuffleWriteBytes / 1e6,
    "spill_mb" -> st.counts.spillBytes / 1e6)

  /** Each span's sums over the first measured iteration, the one the
    * untraced run times. Corpus spans `queries.<q>` carry the query's short
    * name (`q208`).
    */
  def metrics(t: Tracer, sessionS: Double): Seq[(String, Double, String)] = {
    val perSpan = t.table(1).toSeq.flatMap { case (s, st) =>
      SpanMetrics.map(m => (s"$s.$m", values(st)(m), unitOf(m)))
    }
    val kernels = t.table(Tracer.ExtrasIteration).get("functions.kernels").toSeq.flatMap { st =>
      Seq(("functions.kernels.self_s", st.selfS, "s"),
        ("functions.kernels.task_s", st.counts.taskMs / 1000.0, "s"))
    }
    (("core.session.self_s", sessionS, "s") +: perSpan) ++ kernels
  }

  /** Spans whose jobs, tasks, shuffle records or shuffle bytes differ
    * between the first two measured iterations, which run the same inputs.
    * Bytes alone can differ when only the order of rows inside a shuffle
    * block changes (the compressed size follows the order); a change in
    * jobs, tasks or records means the executed plan changed.
    */
  def determinism(t: Tracer): Seq[String] = {
    val (a, b) = (t.table(1), t.table(2))
    (a.keySet ++ b.keySet).toSeq.sorted.flatMap { s =>
      val ca = a.get(s).map(_.counts).getOrElse(new Counts)
      val cb = b.get(s).map(_.counts).getOrElse(new Counts)
      val diffs = Seq(
        ("jobs", ca.jobs.toLong, cb.jobs.toLong),
        ("tasks", ca.tasks.toLong, cb.tasks.toLong),
        ("shuffle_write_records", ca.shuffleWriteRecords, cb.shuffleWriteRecords),
        ("shuffle_write_bytes", ca.shuffleWriteBytes, cb.shuffleWriteBytes))
        .collect { case (k, x, y) if x != y => s"$k $x vs $y" }
      if (diffs.isEmpty) None else Some(s"$s: ${diffs.mkString(", ")}")
    }
  }
}
