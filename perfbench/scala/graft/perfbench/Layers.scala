package graft.perfbench

/** Per-layer metrics of a traced run, from the per-op engine counters,
  * the spans and the op samples. Per-op figures are means over the
  * traced ops; the `sources.*_ms` latencies are means over all measured
  * ops of that kind. A layer a workload does not load reports 0. */
object Layers {
  val Families = Seq("postings", "ann", "ivf", "band")
  val TracedLayers = Seq("gyrfalcon", "streaming", "converter", "queries", "sources")

  def summarize(tel: Telemetry, tracer: Tracer, samples: Seq[Sample],
      measured: Seq[Sample], cores: Int): Map[String, Double] = {
    val ops = samples.flatMap(s => tel.ops.get(s.id).map(s -> _))
    val n = math.max(1, ops.size).toDouble
    def mean(f: OpStats => Double): Double = ops.map(o => f(o._2)).sum / n
    val mb = 1048576.0
    val wallS = ops.map(_._2.wallNs / 1e9).sum
    val cpuS = ops.map(_._2.cpuNs / 1e9).sum
    val runS = ops.map(_._2.runMs / 1e3).sum
    val batches = ops.map(_._2.batches).sum.toDouble
    val batchMs = ops.map(_._2.batchMs).sum.toDouble
    def perBatch(f: OpStats => Long): Double =
      if (batches > 0) ops.map(o => f(o._2)).sum / batches else 0.0
    val spans = tracer.all
    def spanMeanS(name: String): Double = {
      val ss = spans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(s => s.endNs - s.startNs).sum / 1e9 / n
    }
    def meanMs(pred: Sample => Boolean): Double = {
      val xs = measured.filter(pred).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def familyOps(f: String) = ops.filter(o => o._1.kind == "probe" && o._1.family == f)
    def familyMean(f: String)(g: OpStats => Long): Double = {
      val xs = familyOps(f)
      if (xs.isEmpty) 0.0 else xs.map(o => g(o._2)).sum.toDouble / xs.size
    }
    val self = tracer.selfSeconds
    Map(
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_cpu_s" -> cpuS / n,
      "spark.task_run_s" -> runS / n,
      "spark.gc_s" -> mean(_.gcMs / 1e3),
      "spark.shuffle_write_mb" -> mean(_.shuffleWrite / mb),
      "spark.shuffle_read_mb" -> mean(_.shuffleRead / mb),
      "spark.spill_mb" -> mean(_.spill / mb),
      "spark.peak_exec_mem_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_._2.peakMem).max / mb),
      "spark.input_mb" -> mean(_.input / mb),
      "spark.output_mb" -> mean(_.output / mb),
      "spark.cpu_util" -> (if (wallS > 0) cpuS / (wallS * cores) else 0.0),
      "spark.idle_core_s" -> (wallS * cores - runS) / n,
      "planning.analysis_ms" -> mean(_.analysisMs.toDouble),
      "planning.optimization_ms" -> mean(_.optimizationMs.toDouble),
      "planning.physical_ms" -> mean(_.physicalMs.toDouble),
      "planning.executions" -> mean(_.executions.toDouble),
      "streaming.batches" -> batches / n,
      "streaming.batch_ms" -> perBatch(_.batchMs),
      "streaming.add_batch_ms" -> perBatch(_.addBatchMs),
      "streaming.wal_commit_ms" -> perBatch(_.walMs),
      "streaming.rows_per_s" ->
        (if (batchMs > 0) ops.map(_._2.rows).sum / (batchMs / 1e3) else 0.0),
      // the conversion DAG runs inside each micro-batch's addBatch
      "converter.convert_s" -> ops.map(_._2.addBatchMs).sum / 1e3 / n,
      "converter.dialect_s" -> spanMeanS("SpanConverter.convertRecordsDialect"),
      "gyrfalcon.synth_s" -> spanMeanS("SynthesisPipeline.synthesize"),
      "sources.append_ms" -> meanMs(_.family == "append"),
      "sources.delete_ms" -> meanMs(s => s.family == "delete" || s.family == "delete_deferred"),
      "sources.compact_ms" -> meanMs(_.family == "compact"),
      "bench.spans" -> spans.size.toDouble
    ) ++ Families.flatMap(f => Seq(
      s"sources.$f.probe_ms" -> meanMs(s => s.kind == "probe" && s.family == f),
      s"sources.$f.files_read" -> familyMean(f)(_.filesRead),
      s"sources.$f.bytes_read" -> familyMean(f)(_.scanBytes)
    )) ++ TracedLayers.map(l => s"trace.$l.self_s" -> self.getOrElse(l, 0.0) / n)
  }
}
