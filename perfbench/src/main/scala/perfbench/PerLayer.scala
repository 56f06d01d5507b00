package perfbench

/** The per-layer metrics every traced run reports, in order, with their
  * units. A layer a workload never calls reports 0. */
object PerLayer {
  val names: Seq[String] =
    Seq("catalog.read_s", "catalog.write_s", "catalog.calls_per_job",
      "catalog.bytes", "pipeline.job_self_s", "io.csv_read_s",
      "pipeline.clean_ai_s", "io.csv_write_s",
      "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
      "ops.build_s", "ops.sink_s") ++
      OlapMix.QueryNames.map(q => s"query.${q}_p50_s") ++
      Seq("dedup.read_index_s", "dedup.screen_s", "sim.emb_read_index_s",
        "sim.emb_probe_s", "dedup.append_s", "sim.emb_append_s",
        "index.bytes_per_append", "dedup.reject_frac", "sim.emb_recall_at_1") ++
      Seq("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.exec_cpu_s_per_op", "spark.exec_run_s_per_op", "spark.slot_util",
        "spark.shuffle_mb_per_op", "spark.spill_mb_per_op", "jvm.gc_s_per_op") ++
      Main.Layers.map(l => s"self.${l}_s") ++
      Seq("trace.overhead_s", "trace.ops", "tail.pct", "tail.samples")

  def unit(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_s") || n.endsWith("_s_per_op")) "s"
    else if (n.endsWith("_mb_per_op")) "MB"
    else if (n == "catalog.bytes" || n == "index.bytes_per_append") "bytes"
    else if (n.endsWith("_per_op") || n.endsWith("_per_job") || n == "trace.ops" ||
      n == "tail.samples") "count"
    else "ratio"
}
