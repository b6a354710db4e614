package perfbench

/** Per-layer metrics of one traced job run, from the stages its call
  * submitted. Busy time is summed executor run time (task-seconds). */
object Layers {
  /** Metrics of layers only some workloads reach; 0 where unreached. */
  val Optional = Seq("ops.dedup_exact_s", "ops.minhash_bands_s", "ops.jaccard_verify_s",
    "ops.dedup_clusters_s", "ops.candidate_pairs", "ops.verified_pairs", "ops.lsh_precision",
    "ops.repetition_s", "ops.host_cap_s", "ops.shuffle_bytes_per_doc", "ops.task_skew",
    "store.committed_input_files_ms", "store.data_dirs_ms", "store.chain_identity_ms",
    "store.manifests")

  /** Run-time-weighted mean of max/median task time over `stages`. */
  def weightedSkew(stages: Seq[StageRec]): Double = {
    val w = stages.map(_.runMs.toDouble).sum
    if (w <= 0) 0.0 else stages.map(s => s.skew * s.runMs).sum / w
  }

  def perRun(submitted: (Seq[StageRec], Int), tracer: Tracer, jobSpan: Int, it: Iter,
             workload: String): Map[String, Double] = {
    val (stages, jobs) = submitted
    def of(layer: String) = stages.filter(_.layer == layer)
    def busy(layer: String) = of(layer).map(_.runMs).sum / 1e3
    val scan = of("scan_extract")
    val write = of("write")
    val resume = of("resume")
    val run = tracer.spans.find(_.id == jobSpan).get
    val stageSpans = tracer.spans.filter(s => s.parent == jobSpan && s.name.startsWith("stage."))
    val base = Map(
      "job.scan_extract.busy_s" -> busy("scan_extract"),
      "job.scan_extract.cpu_s" -> scan.map(_.cpuNs).sum / 1e9,
      "job.scan_extract.input_rows" -> scan.map(_.inputRecords).sum.toDouble,
      "job.exchange.shuffle_write_bytes" -> scan.map(_.shuffleWrite).sum.toDouble,
      "job.exchange.shuffle_read_bytes" -> write.map(_.shuffleRead).sum.toDouble,
      "job.write.busy_s" -> busy("write"),
      "job.write.task_skew" -> weightedSkew(write),
      "job.lineage.busy_s" -> busy("lineage"),
      "job.artifacts.busy_s" -> busy("artifacts"),
      "job.events.busy_s" -> busy("events"),
      "job.resume.busy_s" -> busy("resume"),
      "job.resume.rows_read" -> resume.map(_.inputRecords).sum.toDouble,
      "job.driver_s" -> tracer.selfNs(run, stageSpans) / 1e9,
      "job.jobs" -> jobs.toDouble,
      "job.stages" -> stages.size.toDouble,
      "job.tasks" -> stages.map(_.taskMs.size).sum.toDouble,
      "job.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "job.gc_s" -> stages.map(_.gcMs).sum / 1e3)
    if (workload != "curate") base
    else base ++ Map(
      "ops.shuffle_bytes_per_doc" -> stages.map(_.shuffleWrite).sum.toDouble / math.max(1L, it.docs),
      "ops.task_skew" -> weightedSkew(stages))
  }
}
