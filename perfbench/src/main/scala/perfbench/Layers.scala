package perfbench

/** Per-layer metrics of the traced phase, from its spans and listener
  * counts. Layers are named after the program's modules; see README.md for
  * which end-to-end metric each one should move. */
object Layers {
  def derive(
      p: Phase,
      untraced: Seq[Phase],
      cores: Int,
      warmupS: Double,
      canaryS: Double): Seq[(String, Double)] = {
    val l = p.listener.get
    val spans = p.tracer.get.all
    def dur(s: Span): Double = (s.endNs - s.startNs) / 1e9
    def total(name: String): Double = spans.filter(_.name == name).map(dur).sum
    val childrenOf = spans.groupBy(_.parent)
    def childTime(s: Span): Double = childrenOf.getOrElse(s.id, Nil).map(dur).sum
    val builds = spans.filter(_.name == "metaframe")
    val opSpans = spans.filter(_.name == "op")
    val windows = p.records.map(r => (r.startMs, r.endMs))
    val opWallMs = windows.map { case (a, b) => b - a }.sum.toDouble
    val lats = if (l.batches > 0) p.records.map(_.latencyS) else Nil
    val quarter = math.max(1, lats.size / 4)
    val first = if (lats.isEmpty) 0.0 else lats.take(quarter).sum / quarter
    val last = if (lats.isEmpty) 0.0 else lats.takeRight(quarter).sum / quarter
    // the traced phase's extra time over the mean of the untraced phases
    // before and after it, for as many operations as all three completed
    val n = (p +: untraced).map(_.records.size).min
    def busy(q: Phase): Double = q.records.take(n).map(_.latencyS).sum
    val overhead = busy(p) * untraced.size / untraced.map(busy).sum - 1.0
    def stat(k: String): Double = p.stats.toMap.get(k).map(_.toString.toDouble).getOrElse(0.0)
    Seq(
      "sources.load_calls" -> spans.count(_.name == "sources").toDouble,
      "sources.load_s" -> total("sources"),
      "sources.load_jobs" -> l.sourcesJobs.toDouble,
      "metaframe.build_s" -> builds.map(s => dur(s) - childTime(s)).sum,
      "action_s" -> total("action"),
      "catalyst.actions" -> l.actions.toDouble,
      "catalyst.analysis_s" -> l.analysisMs / 1e3,
      "catalyst.optimization_s" -> l.optimizationMs / 1e3,
      "catalyst.planning_s" -> l.planningMs / 1e3,
      "spark.jobs" -> l.jobs.toDouble,
      "spark.stages" -> (l.stagesTotal - l.stagesSkipped).toDouble,
      "spark.stages_skipped" -> l.stagesSkipped.toDouble,
      "spark.tasks" -> l.tasks.toDouble,
      "spark.task_run_s" -> l.taskRunMs / 1e3,
      "spark.task_cpu_s" -> l.taskCpuNs / 1e9,
      "spark.gc_s" -> l.gcMs / 1e3,
      "spark.shuffle_read_bytes" -> l.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> l.shuffleWrite.toDouble,
      "spark.spill_bytes" -> l.spill.toDouble,
      "spark.input_bytes" -> l.inputBytes.toDouble,
      "spark.output_bytes" -> l.outputBytes.toDouble,
      "spark.no_task_s" -> l.noTaskMs(windows) / 1e3,
      "spark.core_busy_frac" -> (if (opWallMs > 0) l.taskRunMs / (cores * opWallMs) else 0.0)
    ) ++ l.modules.flatMap(m => Seq(
      s"operators.$m.jobs" -> l.moduleJobs(m).toDouble,
      s"operators.$m.task_run_s" -> l.moduleTaskRunMs(m) / 1e3)) ++ Seq(
      "pins.peak_bytes" -> l.peakRddBytes.toDouble,
      "pins.blocks_left" -> p.records.map(_.blocksLeft).maxOption.getOrElse(0).toDouble,
      "pins.ckpt_files_left" -> p.records.map(_.ckptFilesLeft).maxOption.getOrElse(0).toDouble,
      "streaming.batches" -> l.batches.toDouble,
      "streaming.add_batch_s" -> l.addBatchMs / 1e3,
      "streaming.trigger_overhead_s" -> (l.triggerMs - l.addBatchMs) / 1e3,
      "ingest.batch_first_s" -> first,
      "ingest.batch_last_s" -> last,
      "ingest.batch_growth" -> (if (first > 0) last / first else 0.0),
      "ingest.compact_s" -> stat("compact_s"),
      "ingest.compact_bytes" -> stat("compact_bytes"),
      "ingest.accept_frac" -> stat("accept_frac"),
      "ingest.store_bytes_per_doc_byte" -> stat("store_bytes_per_doc_byte"),
      // share of each operation's wall time its direct child spans cover
      "trace.op_coverage" -> opSpans.map(childTime).sum / opSpans.map(dur).sum,
      "trace.overhead_frac" -> overhead,
      "setup.warmup_s" -> warmupS,
      "context.canary_s" -> canaryS)
  }
}
