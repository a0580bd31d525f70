package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String, samples: Int)

object Metric {
  def timing(name: String, xs: Seq[Double], p: Double): Metric =
    Metric(name, if (xs.isEmpty) 0.0 else Harness.percentile(xs, p), "s", xs.size)
}

/** One benchmark workload: a checked setup, and a cycle of ops that the
  * harness repeats for the measured time. */
trait Workload {
  /** Builds inputs and warms up (checked ops go through the harness);
    * returns failures of setup steps that are not ops. */
  def setup(h: Harness): Seq[String]
  def cycle(i: Int): Seq[Op]
  /** Workload-specific end-to-end metrics over the measured ops. */
  def endToEnd(ops: Seq[OpRecord]): Seq[Metric]
  /** Workload-specific per-layer metrics over the traced ops. */
  def layers(traces: Seq[OpTrace], ops: Seq[OpRecord]): Map[String, Double]
  def sizes: Map[String, Any]
}

/** Benchmark entry point (see perfbench/README.md):
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR
  *  --expected FILE --out FILE [--trace-out FILE] [--write-expected 1]`.
  * Writes one result JSON to `--out`; the launcher prints it. */
object Main {

  val Floor: Seq[String] = Seq("q01", "q04", "q09", "q12", "q14", "q16", "q29", "q35", "q41",
    "q44", "q57", "q101")
  val Kernels: Seq[String] = Seq("q23", "q144", "q191", "q193", "q220")

  /** Operator families reported one by one: those the suites' queries run.
    * Any other `operators` module sums into "other". */
  val Families: Seq[String] = Seq("Dedup", "Similarity", "TextAnalysis", "Graph", "Profiling")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workloadName = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()

    // the stock profile of Verify and the test suites, on all cores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark)
    val h = new Harness(spark, tracer)
    val wl: Workload = workloadName match {
      case "epss_store" =>
        new EpssStore(spark, work, seed)
      case "suite_floor" | "suite_kernels" =>
        val floor = workloadName == "suite_floor"
        // two timed passes each: ten kernel samples, so latency_p90_s is not
        // one execution's time; the cheap floor queries still speed up by
        // 10-40 % in their first pass after the check pass, so it is untimed
        new Suites(spark, if (floor) Floor else Kernels, passes = 2, warm = floor, o("data"),
          Paths.get(o("expected")), seed, o.get("write-expected").contains("1"))
      case other => sys.error(s"unknown workload $other")
    }

    val setupErrors = wl.setup(h)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val measured = h.measure(seconds)(wl.cycle)
    val metrics =
      if (!traced) {
        val lat = measured.map(_.seconds)
        Seq(
          Metric("setup_s", setupS, "s", 1),
          Metric("ops_per_s", measured.size / lat.sum, "1/s", measured.size),
          Metric.timing("latency_p50_s", lat, 0.5),
          Metric.timing("latency_p90_s", lat, 0.9),
          Metric("peak_rss_mb", Harness.peakRssMb(), "MiB", 1)) ++ wl.endToEnd(measured)
      } else {
        // the same length again with listeners and spans on, then once more
        // without: traced throughput against the untraced runs on either
        // side of it is the tracing overhead, net of warm-up drift
        tracer.install()
        val tracedOps = h.measure(seconds)(wl.cycle)
        tracer.uninstall()
        val untraced = measured ++ h.measure(seconds)(wl.cycle)
        val traces = tracer.opTraces(tracedOps)
        val (spans, self) = tracer.spanTree(traces)
        o.get("trace-out").foreach { f =>
          Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
          Files.writeString(Paths.get(f), Json.render(Map(
            "workload" -> workloadName, "seed" -> seed,
            "self_s_by_layer" -> self,
            "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
              "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)))))
        }
        val untracedRate = untraced.size / untraced.map(_.seconds).sum
        val tracedRate = tracedOps.size / tracedOps.map(_.seconds).sum
        val all = layerMetrics(traces, tracedOps, cores) ++ wl.layers(traces, tracedOps) ++ Map(
          "trace.ops_per_s" -> tracedRate,
          "trace.untraced_ops_per_s" -> untracedRate,
          "trace.overhead" -> (untracedRate / tracedRate - 1.0))
        LayerNames.map(n => Metric(n, all.getOrElse(n, 0.0), unitOf(n), traces.size))
      }

    val failures = setupErrors ++ h.records.flatMap(_.error)
    val attempted = h.records.size + setupErrors.size
    val conf = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sortBy(_._1).toMap
    val result = Map(
      "workload" -> workloadName, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures, "error_rate" -> failures.size.toDouble / attempted,
      "metrics" -> metrics.map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit,
        "samples" -> m.samples)),
      "sizes" -> wl.sizes, "spark_conf" -> conf)
    Files.writeString(Paths.get(o("out")), Json.render(result) + "\n")
    spark.stop()
  }

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val LayerNames: Seq[String] = Seq(
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "SparkEntry.build_s", "driver.gap_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s", "spark.task_busy_s",
    "spark.utilization", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_bytes", "spark.gc_s") ++ Families.map(f => s"operators.$f.busy_s") ++ Seq(
    "operators.other.busy_s", "SparkEntry.busy_s", "share.task_busy", "share.driver_plan",
    "ScoreStore.scan_s", "ScoreStore.files_read", "ScoreStore.partitions_read",
    "ScoreStore.rows_scanned_per_row_returned", "ScoreStore.listing_s", "ScoreStore.maxdate_s", "Changes.window_s",
    "Changes.rows_in", "Changes.keep_ratio", "Changes.exchange_write_bytes",
    "EpssQuery.filter_selectivity", "EpssQuery.pushed_filters", "Outputs.write_s", "Outputs.bytes_out",
    "ScoreStore.ingest_s", "ScoreStore.bytes_written_per_input_byte", "ScoreStore.ingest_skipped",
    "trace.ops_per_s", "trace.untraced_ops_per_s", "trace.overhead")

  def unitOf(n: String): String =
    if (n.endsWith("ops_per_s")) "1/s"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_bytes") || n.endsWith("bytes_out")) "bytes"
    else if (n.startsWith("share.") || n.endsWith("ratio") || n.endsWith("utilization") ||
      n.endsWith("selectivity") || n.endsWith("_per_row_returned") || n.endsWith("per_input_byte") ||
      n == "trace.overhead") "ratio"
    else "count"

  /** Per-op means of the layers every workload has. */
  private def layerMetrics(traces: Seq[OpTrace], ops: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val n = math.max(1, traces.size).toDouble
    def perOp(f: OpTrace => Double) = traces.map(f).sum / n
    val wall = perOp(_.wallS)
    val busy = traces.map(_.moduleBusy)
    def moduleMean(p: String => Boolean) = busy.map(_.filter(kv => p(kv._1)).values.sum).sum / n
    val plan = Seq("analysis", "optimization", "planning").map(ph => ph -> perOp(_.planS(ph))).toMap
    val taskBusy = perOp(_.stages.map(_.busyS).sum)
    val gap = perOp(_.driverGapS)
    Map(
      "plan.analysis_s" -> plan("analysis"),
      "plan.optimization_s" -> plan("optimization"),
      "plan.planning_s" -> plan("planning"),
      "SparkEntry.build_s" -> perOp(_.calls.filter(_.name == "SparkEntry.queries").map(s => (s.endUs - s.startUs) / 1e6).sum),
      "driver.gap_s" -> gap,
      "spark.jobs" -> perOp(_.jobs.size.toDouble),
      "spark.stages" -> perOp(_.stages.size.toDouble),
      "spark.tasks" -> perOp(_.stages.map(_.tasks).sum.toDouble),
      "spark.scheduler_delay_s" -> perOp(_.stages.map(_.delayS).sum),
      "spark.task_busy_s" -> taskBusy,
      "spark.utilization" -> (if (wall == 0) 0.0 else taskBusy / (wall * cores)),
      "spark.shuffle_write_bytes" -> perOp(_.stages.map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.stages.map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> perOp(_.stages.map(_.spill).sum.toDouble),
      "spark.peak_exec_mem_bytes" -> traces.flatMap(_.stages.map(_.peakMem.toDouble)).maxOption.getOrElse(0.0),
      "spark.gc_s" -> perOp(_.stages.map(_.gcS).sum),
      "operators.other.busy_s" -> moduleMean(m => m.startsWith("operators.") &&
        !Families.exists(f => m == s"operators.$f")),
      "SparkEntry.busy_s" -> moduleMean(_ == "SparkEntry"),
      "share.task_busy" -> (if (wall == 0) 0.0 else taskBusy / wall),
      "share.driver_plan" -> (if (wall == 0) 0.0 else (gap + plan.values.sum) / wall)
    ) ++ Families.map(f => s"operators.$f.busy_s" -> moduleMean(_ == s"operators.$f"))
  }
}
