package perfbench

import scala.io.Source

/** Turns a run's samples, spans and listener totals into metrics. */
object Metrics {

  /** VmHWM of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def endToEnd(r: Runner, setupS: Double): Map[String, Double] = {
    val ms = r.samples.map(_.ms).toSeq
    Map(
      "setup_s" -> setupS,
      "throughput_ops_s" -> ms.size / (ms.sum / 1000),
      "latency_p50_ms" -> Stats.median(ms),
      "latency_p90_ms" -> Stats.pct(ms, 90),
      "peak_rss_mb" -> peakRssMb())
  }

  val BackendCalls = Seq("describeTable", "describeTables", "listTables",
    "listNamespaces", "tableExists", "declareTable", "dropTable")

  /** Per-layer metrics from the traced batches of a traced run. A metric
    * whose layer the workload does not reach reads 0. */
  def layers(r: Runner, w: Workload, listener: ExecListener): Map[String, Double] = {
    val traced = r.samples.filter(_.traced).toSeq
    val untraced = r.samples.filterNot(_.traced).toSeq
    val ops = traced.size.max(1).toDouble
    val spans = Trace.recorded
    val byId = spans.map(s => s.id -> s).toMap
    def named(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(_.ms)
    val backend = spans.filter(_.layer == "backend")
    def backendUnder(phase: String): Double = {
      val n = spans.count(s => s.layer == "plans" && s.name == phase)
      if (n == 0) 0.0
      else backend.count(b => Trace.ancestorIn(b, byId, "plans")
        .exists(_.name == phase)).toDouble / n
    }
    val exec = traced.flatMap(s => listener.totals(s"op-${s.op}"))
    def execSum(f: listener.Totals => Long) = exec.map(f).sum.toDouble / ops
    Map(
      "backend.calls_per_op" -> backend.size / ops,
      "backend.time_ms_per_op" -> backend.map(_.ms).sum / ops,
      "backend.errors" -> TimedBackend.errors.get.toDouble,
      "plans.analyze_ms" -> Stats.mean(named("plans", "analyze")),
      "plans.optimize_ms" -> Stats.mean(named("plans", "optimize")),
      "plans.physical_ms" -> Stats.mean(named("plans", "physical")),
      "plans.analyze.backend_calls" -> backendUnder("analyze"),
      "plans.optimize.backend_calls" -> backendUnder("optimize"),
      "exec.wall_ms" -> Stats.mean(spans.filter(_.layer == "exec").map(_.ms)),
      "op_ms" -> Stats.mean(traced.map(_.ms)),
      "exec.executor_cpu_ms" -> execSum(_.cpuNs) / 1e6,
      "exec.tasks" -> execSum(_.tasks),
      "exec.shuffle_bytes" -> execSum(_.shuffleBytes),
      "exec.spill_bytes" -> execSum(_.spillBytes),
      "exec.gc_ms" -> execSum(_.gcMs),
      "trace_overhead" -> Stats.median(traced.map(_.ms)) / Stats.median(untraced.map(_.ms))) ++
      BackendCalls.map(c => s"backend.$c.p50_ms" -> Stats.median(named("backend", c))) ++
      Seq("loadTable", "createTable", "dropTable", "listTables", "tableExists")
        .map(c => s"catalog.$c.p50_ms" -> Stats.median(named("catalog", c))) ++
      Seq("insert", "delete", "update", "merge")
        .map(c => s"commit.$c.p50_ms" -> Stats.median(named("commit", s"commit.$c"))) ++
      Seq("refresh_index", "compact_index", "compact_table")
        .map(c => s"ops.$c.p50_ms" -> Stats.median(named("ops", s"ops.$c"))) ++
      Map("catalog.self_ms_per_op" -> {
        val self = Trace.selfMs(spans)
        spans.filter(_.layer == "catalog").map(s => self(s.id)).sum / ops
      }) ++
      // metrics only some workloads measure; they override these zeros
      Seq("plans.route_served_ratio", "commit.files_written", "commit.write_amplification",
        "commit.space_amplification").map(_ -> 0.0) ++
      w.layerMetrics
  }
}
