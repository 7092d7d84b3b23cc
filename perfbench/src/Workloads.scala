package perfbench

/** The workloads, the per-layer metric names and how each workload's own
  * metric names map onto the generic end-to-end ones.
  */
object Workloads {
  val names: Seq[String] = Seq("pipeline", "operators")

  /** Layers named after the program's modules; each reports its failures. */
  val Layers: Seq[String] = Seq("etl", "mart", "streaming", "ops", "core")

  /** Every per-layer metric with its unit. A traced run of any workload
    * prints all of them; a layer the workload does not use reads 0.
    */
  val perLayerUnits: Seq[(String, String)] =
    Seq("etl.extract_s" -> "s", "etl.extract_rows" -> "count", "etl.quarantine_rows" -> "count",
      "etl.dims_s" -> "s", "etl.new_items_s" -> "s", "etl.facts_s" -> "s",
      "mart.rollup_s" -> "s", "mart.rank_s" -> "s", "mart.variant_s" -> "s",
      "mart.fold_s" -> "s", "mart.serve_s" -> "s", "mart.state_bytes" -> "B",
      "streaming.batch_s" -> "s", "streaming.input_rows_per_s" -> "1/s",
      "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "B") ++
    OperatorsWorkload.cohort.map(e => s"${e.layer}.${e.name}_s" -> "s") ++
    OperatorsWorkload.cohort.filter(_.name.startsWith("rec_als")).flatMap { e =>
      Seq(s"ops.${e.name}.tasks" -> "count", s"ops.${e.name}.executor_cpu_s" -> "s",
        s"ops.${e.name}.cpu_utilisation" -> "ratio")
    } ++
    Seq("spark.construct_s" -> "s", "spark.construct_jobs" -> "count", "spark.plan_s" -> "s",
      "spark.exec_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
      "spark.gc_s" -> "s", "spark.cpu_utilisation" -> "ratio",
      "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.task_skew" -> "ratio") ++
    (PipelineWorkload.artifactKinds ++ OperatorsWorkload.cohort.flatMap(_.artifact))
      .map(k => s"artifacts.${k}_build_s" -> "s") ++
    Seq("artifacts.bytes" -> "B") ++
    Layers.map(l => s"$l.failed" -> "count") ++
    Seq("error_rate" -> "ratio", "jvm.peak_heap_mb" -> "MB",
      "trace.overhead_s" -> "s", "trace.overhead_pct" -> "%")

  val perLayer: Seq[String] = perLayerUnits.map(_._1)

  /** Each workload's own names for its end-to-end metrics, printed beside
    * the generic ones.
    */
  def aliases(workload: String): Seq[(String, String)] = workload match {
    case "pipeline" => Seq("pipeline_load_s" -> "pass_s", "pipeline_refresh_p50_s" -> "op_latency_s",
      "pipeline_refresh_tail_s" -> "refresh.tail_s")
    case "operators" => Seq("operators_total_s" -> "pass_s", "operators_geomean_s" -> "op_latency_s")
    case _ => Nil
  }

  def run(workload: String, c: Ctx): Unit = {
    workload match {
      case "pipeline"  => PipelineWorkload.run(c)
      case "operators" => OperatorsWorkload.run(c)
    }
    // layers this workload does not exercise read 0
    if (c.tracer.isDefined) perLayerUnits.foreach { case (n, u) =>
      if (!c.report.metrics.contains(n)) c.report.put(n, 0.0, u)
    }
  }

  /** Bytes under a directory (0 when it does not exist). */
  def bytesUnder(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
