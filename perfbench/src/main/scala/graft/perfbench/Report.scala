package graft.perfbench

import scala.collection.mutable

/** Minimal JSON writing: the benchmark emits flat objects only. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; `null` for NaN or infinity. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

/** Every metric the benchmark can report, with its unit. BENCHMARK.json
  * lists the same names (checked by the self-tests). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "work_per_s" -> "1/s",
    "out_rows_per_s" -> "1/s",
    "peak_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "server.pulls" -> "count",
    "server.pull_ms_p50" -> "ms",
    "server.pull_ms_p99" -> "ms",
    "server.pushes" -> "count",
    "server.push_ms_p50" -> "ms",
    "server.push_ms_p99" -> "ms",
    "server.wire_bytes" -> "bytes",
    "server.errors" -> "count",
    "server.staleness_p50" -> "count",
    "server.staleness_max" -> "count",
    "server.worker_time_share" -> "ratio",
    "nn.fwdbwd_ms" -> "ms",
    "nn.fwdbwd_ms_per_batch" -> "ms",
    "nn.encode_ms_per_call" -> "ms",
    "nn.decode_ms_per_call" -> "ms",
    "nn.optimizer_step_ms" -> "ms",
    "nn.local_samples_per_s" -> "1/s",
    "nn.local_final_loss" -> "nats",
    "nn.worker_time_share" -> "ratio",
    "ml.fit_s" -> "s",
    "ml.transform_s" -> "s",
    "ml.final_loss" -> "nats",
    "train.spark_tasks" -> "count",
    "train.executor_run_ms" -> "ms",
    "train.gc_ms" -> "ms",
    "train.untraced_samples_per_s" -> "1/s",
    "train.traced_samples_per_s" -> "1/s",
    "train.tracing_overhead_pct" -> "%",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.sched_gap_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.fetch_wait_ms" -> "ms",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "operators.dedup_s" -> "s",
    "operators.graph_s" -> "s",
    "operators.similarity_s" -> "s",
    "operators.relational_s" -> "s",
    "operators.events_text_s" -> "s",
    "operators.plan_sort_aggregates" -> "count",
    "operators.plan_exchanges" -> "count",
    "operators.query_set_s" -> "s",
    "operators.query_p50_s" -> "s",
    "sources.scan_bytes" -> "bytes",
    "sources.records_read" -> "count",
    "failed_ratio" -> "ratio")

  val Units: Map[String, String] = (EndToEnd ++ PerLayer).toMap
}

/** Values measured by one run, keyed by metric name. */
final class Measured {
  private val values = mutable.LinkedHashMap.empty[String, Double]

  def update(name: String, v: Double): Unit = {
    require(Metrics.Units.contains(name), s"unknown metric $name")
    values(name) = v
  }
  def get(name: String): Option[Double] = values.get(name)

  /** `{"name": {"value": v, "unit": u}, ...}` over `names`, in order;
    * a name this run did not measure reads 0. */
  def json(names: Seq[(String, String)]): String = names.map { case (n, u) =>
    s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(values.getOrElse(n, 0.0))}, " +
      s"${Json.str("unit")}: ${Json.str(u)}}"
  }.mkString("{", ", ", "}")

  /** Every metric, measured ones with their value, the rest `null`. */
  def fullJson: String = (Metrics.EndToEnd ++ Metrics.PerLayer).map { case (n, _) =>
    s"${Json.str(n)}: ${values.get(n).map(Json.num).getOrElse("null")}"
  }.mkString("{", ", ", "}")
}
