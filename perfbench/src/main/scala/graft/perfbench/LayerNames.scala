package graft.perfbench

/** Every per-layer metric a traced run prints, with its unit. A metric
  * a workload does not touch prints 0. The `Ingest` metrics come only
  * from `ifcb_feed`, which `BENCHMARK.json` does not list, so only that
  * workload prints them.
  */
object LayerNames {
  val Families: Seq[String] = Seq("core_relational", "ordered_non_equi", "scalar_battery",
    "domain", "training_data", "feature_extract", "taxonomy", "corpus_battery", "skew_bench")

  val all: Seq[String] = Seq(
    "spark.jobs", "spark.tasks", "spark.driver_s", "spark.task_busy_frac",
    "spark.task_cpu_s", "spark.shuffle_write_mb", "spark.gc_s", "spark.spill_mb",
    "spark.failed_tasks",
    "queries.build_s", "queries.plan_s", "queries.exec_s") ++
    Families.map(f => s"queries.${f}_s") ++ Seq(
    "functions.annotate_s", "jobs.gate_s", "operators.exact_dedup_s",
    "operators.lsh_pairs_s", "operators.clusters_s",
    "operators.candidate_pairs", "operators.lsh_max_bucket", "operators.pair_yield",
    "bench.unattributed_frac", "bench.trace_overhead_frac")

  val Ingest: Seq[String] = Seq(
    "sources.index_s", "sources.files_listed", "sources.hdr_s",
    "operators.cruise_s", "operators.ferrybox_s",
    "features.extract_s", "features.rois", "features.rois_per_cpu_s", "agg.psd_s",
    "sources.state_read_s", "sources.state_rows", "sources.sink_s", "sources.rows_appended")

  def of(workload: String): Seq[String] = if (workload == "ifcb_feed") all ++ Ingest else all

  def unit(name: String): String =
    if (name == "features.rois_per_cpu_s") "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name == "operators.pair_yield") "ratio"
    else "count"
}
