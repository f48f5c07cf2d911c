package perfbench

/** Every per-layer metric a traced run prints, with its unit. A workload
  * reports 0 for the layers it does not exercise. Timings are means per
  * call over the traced rounds; counts are means per call or per round as
  * named in perfbench/README.md. */
object Layers {
  val Tiers = Seq("exact", "ivf", "hnsw", "filtered")

  val all: Seq[(String, String)] =
    Tiers.flatMap(t => Seq(
      s"$t.construct_s" -> "s", s"$t.execute_s" -> "s", s"$t.jobs" -> "count",
      s"$t.tasks" -> "count", s"$t.input_rows" -> "rows", s"$t.scan_frac" -> "ratio")) ++
    Seq(
      "ivf.build_s" -> "s", "hnsw.build_s" -> "s",
      "deltalog.deltas" -> "count", "storage.files" -> "count",
      "storage.bytes_per_user_byte" -> "ratio",
      "ingest.jobs" -> "count", "ingest.tasks" -> "count", "ingest.bytes_written" -> "B",
      "delete.jobs" -> "count", "delete.tasks" -> "count", "delete.bytes_written" -> "B",
      "compact.jobs" -> "count", "compact.tasks" -> "count", "compact.bytes_written" -> "B") ++
    Analytics.Subset.flatMap(q => Seq(
      s"q.$q.construct_s" -> "s", s"q.$q.execute_s" -> "s", s"q.$q.jobs" -> "count")) ++
    Seq(
      "spark.executor_run_s" -> "s", "spark.busy_frac" -> "ratio", "spark.gc_s" -> "s",
      "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
      "trace.overhead_frac" -> "ratio")
}
