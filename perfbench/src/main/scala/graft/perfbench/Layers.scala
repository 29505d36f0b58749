package graft.perfbench

/** The per-layer metric names a traced run reports, on every workload. A
  * layer a workload does not run reports 0: the prediction for it there is
  * "no change". BENCHMARK.json lists the same names; run.py refuses a
  * result whose names differ. */
object Layers {
  /** Call scopes whose Spark counters are reported as `spark.<scope>.*`;
    * `run` is every traced call of the measured phase. */
  val SparkScopes: Seq[String] = Seq("run", "stages.derive", "stages.merge",
    "dedup.prefix_pairs", "dedup.resolve", "similarity.srp_candidates",
    "stream.add_batch")

  val SparkParts: Seq[String] =
    Seq("shuffle_bytes", "spill_bytes", "task_s", "jobs", "max_task_ratio")

  val names: Seq[String] = Seq(
    "stages.stage_s", "stages.load_s", "stages.derive_s", "stages.publish_s",
    "stages.merge_s", "stages.uncovered_s",
    "ingest.rows_loaded", "stages.load_input_bytes",
    "stages.derive_shuffle_bytes",
    "snapshot.merge_files_rewritten", "snapshot.merge_files_carried",
    "snapshot.merge_rewrite_ratio",
    "snapshot.read_point_s", "snapshot.range_count_s",
    "snapshot.time_travel_s", "snapshot.manifest_s",
    "snapshot.versions_live", "snapshot.files_live",
    "snapshot.compact_s", "snapshot.compact_bytes_rewritten",
    "snapshot.expire_s", "snapshot.reads_during_maintenance_p50_s",
    "snapshot.sink_ms_per_version",
    "sipjoin.join_s", "sipjoin.files_scanned_ratio",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.query_planning_ms", "stream.latest_offset_ms", "stream.trigger_ms",
    "stream.backlog_files", "stream.generator_late_s",
    "textops.quality_gate_s", "textops.docs_kept",
    "dedup.exact_s", "dedup.shingle_s", "dedup.prefix_pairs_s",
    "dedup.candidate_pairs", "dedup.verified_pairs",
    "dedup.candidate_precision", "dedup.max_shingle_df", "dedup.simhash_s",
    "dedup.simhash_pairs", "dedup.resolve_s", "dedup.resolve_rounds",
    "similarity.srp_candidates_s", "similarity.srp_candidate_pairs",
    "similarity.srp_precision", "similarity.knn_s", "similarity.ivf_build_s",
    "corpus.decontaminate_s", "corpus.pack_s",
  ) ++ (for (s <- SparkScopes; p <- SparkParts) yield s"spark.$s.$p") ++
    Seq("jvm.gc_s", "jvm.heap_peak_mb", "jvm.peak_rss_mb")

  /** Mean self time (s) per call of the spans named `name`. */
  def selfS(t: Tracer, name: String): Double = {
    val ss = t.named(name)
    if (ss.isEmpty) 0.0 else ss.map(t.selfNs).sum / 1e9 / ss.size
  }

  /** `spark.<scope>.*`: per-call means of the scope's counters (totals for
    * `run`), and the widest-stage skew ratio over the scope. */
  def sparkScopes(t: Tracer, out: Outcome): Unit = SparkScopes.foreach { s =>
    val c = t.scoped(s)
    val calls = if (s == "run") 1 else t.named(s).size.max(1)
    out.layers(s"spark.$s.shuffle_bytes") = c.shuffleBytes.toDouble / calls
    out.layers(s"spark.$s.spill_bytes") = c.spillBytes.toDouble / calls
    out.layers(s"spark.$s.task_s") = c.taskNs / 1e9 / calls
    out.layers(s"spark.$s.jobs") = c.jobs.toDouble / calls
    out.layers(s"spark.$s.max_task_ratio") = c.maxTaskRatio
  }
}
