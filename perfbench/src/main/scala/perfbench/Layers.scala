package perfbench

/** Every per-layer metric a traced run prints, with its unit. A workload
  * that does not reach a layer reports 0 for it. */
object Layers {
  val extraction: Vector[(String, String)] = Vector(
    "plan.parse_s" -> "s",
    "ledger.admit_s" -> "s",
    "ledger.put_s" -> "s",
    "ledger.admit_bytes" -> "bytes",
    "ledger.admit_lines" -> "count",
    "ledger.lines" -> "count",
    "sources.read_s" -> "s",
    "sources.rows" -> "rows",
    "run.read_count_s" -> "s",
    "run.cached_mb" -> "MiB",
    "run.plan_p50_s" -> "s",
    "run.plan_p90_s" -> "s",
    "run.readmit_s" -> "s",
    "operators.transform_s" -> "s",
    "sinks.write_s" -> "s",
    "sinks.files" -> "count",
    "sinks.partitions" -> "count",
    "sinks.bytes" -> "bytes",
    "sinks.catalog_s" -> "s",
    "sinks.catalog_jobs" -> "count")

  val spark: Vector[(String, String)] = Vector(
    "spark.jobs" -> "count",
    "spark.executor_cpu_s" -> "cpu-s",
    "spark.gc_s" -> "s",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.driver_gap_s" -> "s",
    "jvm.heap_peak_mb" -> "MiB")

  val queries: Vector[(String, String)] = QueryMix.layerNames.map { n =>
    n -> (if (n.endsWith("_s")) (if (n.endsWith(".cpu_s")) "cpu-s" else "s")
          else if (n.endsWith("_bytes")) "bytes" else "count")
  }

  val trace: Vector[(String, String)] = Vector(
    "trace_overhead_s" -> "s",
    "trace.uncovered_frac" -> "ratio")

  val all: Vector[(String, String)] = extraction ++ spark ++ queries ++ trace

  /** Units of the workload-named end-to-end figures in the report lines. */
  def extraUnit(name: String): String = name match {
    case "plans_per_s" => "plans/s"
    case _ => "s"
  }
}
