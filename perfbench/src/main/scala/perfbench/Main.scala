package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point; `run.py` builds the program, makes the inputs and
  * launches this with:
  *
  *   --workload campaign|operator_registry
  *   --seed N --seconds S --trace 0|1 --cores C
  *   --work DIR   scratch directory (campaign inputs in DIR/inputs)
  *   --data DIR   oracle tables of the registry workload
  *   --out FILE   where the run record is written
  *   [--queries all]  time the whole registry instead of its sample
  *
  * The record holds the result line (`correct`, `attempted`, `failed`,
  * `metrics`: the end-to-end metrics untraced, the per-layer ones traced),
  * every named failure and check, and in traced runs the layer detail,
  * spans and per-query records.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val outcome = o.workload match {
      case "campaign" => new CampaignBench(o).run()
      case "operator_registry" => new RegistryBench(o).run()
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val metrics = if (o.trace) outcome.perLayer else outcome.endToEnd
    val result = Map(
      "correct" -> (outcome.checks.forall(_._2) && outcome.failures.isEmpty),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failures.size,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .to(scala.collection.immutable.ListMap))
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> o.cores,
      "result" -> result,
      "end_to_end" -> outcome.endToEnd.map { case (n, v, _) => n -> v }.toMap,
      "failures" -> outcome.failures.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "failed_frac" -> outcome.failures.size.toDouble / math.max(outcome.attempted, 1),
      "checks" -> outcome.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) }
    ) ++ outcome.record
    Files.write(Paths.get(o.out), Json.render(record).getBytes("UTF-8"))
    System.exit(0)
  }

  /** One line of progress in the JVM's log. */
  def progress(line: String): Unit = System.err.println(f"[perfbench $uptimeS%7.2f] $line")

  private def uptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def unitOf(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_frac")) "fraction"
    else "count"

  /** Tracing overhead from (traced, untraced) walls of the same phase. */
  def overheadMetrics(o: Option[(Double, Double)]): Seq[(String, Double, String)] = o match {
    case Some((traced, plain)) => Seq(
      ("trace.overhead_s", traced - plain, "s"),
      ("trace.overhead_frac", (traced - plain) / plain, "fraction"))
    case None => Nil
  }

  def spansJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.map { s =>
    Map("phase" -> s.phase, "layer" -> s.layer, "call" -> s.call,
      "start_s" -> s.startS, "wall_s" -> s.wallS,
      "plan_ms" -> s.delta.planMs, "jobs" -> s.delta.jobs, "tasks" -> s.delta.tasks,
      "exec_run_s" -> s.delta.runMs / 1e3, "exec_cpu_s" -> s.delta.cpuNs / 1e9,
      "shuffle_write_bytes" -> s.delta.shuffleWriteB, "shuffle_read_bytes" -> s.delta.shuffleReadB,
      "file_write_s" -> s.delta.fileWriteNs / 1e9, "gc_s" -> s.delta.gcMs / 1e3,
      "error" -> s.error)
  }
}
