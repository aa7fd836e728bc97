package lakebench

/** The benchmark's metric names. `BENCHMARK.json` lists the same names (a
  * test keeps the two equal). */
object Layers {

  final case class Metric(name: String, unit: String, better: String)

  /** End-to-end metrics, reported by every workload with tracing off. The
    * write operation is a refresh (medallion_refresh) or an upsert commit
    * (cdc_upsert); the read operation an HTTP request or a head read. */
  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("write_p50_ms", "ms", "lower"),
    Metric("read_ms", "ms", "lower"),
    Metric("live_heap_mb", "MB", "lower"))

  private val spark = Seq("plan_ms", "jobs", "tasks", "driver_gap_ms", "cpu_ms")

  /** Span name → the measures reported for it. The full set (every span ×
    * every measure) exceeds the 128-name budget, so each span keeps the
    * measures a change to that layer is likely to move. */
  val SpanMeasures: Seq[(String, Seq[String])] = Seq(
    "core.session" -> Seq("wall_ms", "jobs"),
    "medallion.refresh" -> Seq("wall_ms", "self_ms")) ++
    Seq("bronze", "silver", "gold").map(l => s"medallion.$l" -> (Seq("wall_ms") ++ spark ++
      Seq("task_wait_ms", "shuffle_bytes", "spill_bytes", "input_bytes",
        "rows_in", "rows_out", "bytes_out", "files_out") ++
      (if (l == "silver") Seq("keep_ratio") else Nil))) ++ Seq(
    "txlog.upsert" -> (Seq("wall_ms") ++ spark ++ Seq("task_wait_ms", "shuffle_bytes",
      "input_bytes", "files_added", "files_removed", "files_live", "write_amp",
      "ckpt_commits")),
    "txlog.snapshot" -> Seq("wall_ms")) ++
    Seq("read_head", "read_version", "change_feed").map(o =>
      s"txlog.$o" -> (Seq("wall_ms") ++ spark ++ Seq("input_bytes"))) ++ Seq(
    "txlog.compact" -> Seq("wall_ms", "plan_ms", "jobs", "driver_gap_ms", "cpu_ms",
      "input_bytes", "bytes_rewritten")) ++
    Seq("point", "range", "join", "topk").map(c => s"http.$c" -> (Seq("wall_ms") ++ spark ++
      Seq("task_wait_ms", "overhead_ms") ++
      (if (c == "point") Nil else Seq("shuffle_bytes"))))

  /** Counters summed over a run rather than taken as a per-call median. */
  val Summed: Set[String] = Set("ckpt_commits")

  private def unitOf(measure: String): String = measure match {
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_bytes") || m.startsWith("bytes_") => "bytes"
    case "keep_ratio" | "write_amp" => "ratio"
    case "rows_in" | "rows_out" => "rows"
    case _ => "count"
  }

  private def betterOf(measure: String): String = measure match {
    case "keep_ratio" | "rows_in" | "rows_out" => "higher"
    case _ => "lower"
  }

  /** Per-layer metrics, reported with tracing on. */
  val PerLayer: Seq[Metric] =
    SpanMeasures.flatMap { case (span, ms) =>
      ms.map(m => Metric(s"$span.$m", unitOf(m), betterOf(m)))
    } ++ Seq(
      // traced minus untraced phase of the same run
      Metric("trace.overhead_write_p50_ms", "ms", "lower"),
      Metric("trace.overhead_read_ms", "ms", "lower"))
}
