package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.Sessions

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Runs from the checkout root; everything it writes goes under
  * `.bench_build/perfbench/`. Set-up time is session start + input
  * generation + the median of `SetupReps` warehouse builds from nothing
  * + the warm-up operations. The run then measures for the given
  * seconds, checks its outputs, writes a result record and, for a traced
  * run, the spans, and prints as its last stdout line one JSON object:
  * end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
  */
object Main {
  val SetupReps = 3
  val Workloads = Set("webhook_respond", "incremental_pipeline", "graph_batch")

  /** Metric names and units printed on the last line; BENCHMARK.json
    * lists the same names. `op_p90_ms` and `late_op_p50_ms` rest on a
    * handful of samples per run, so they go to the record and the named
    * report only. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "rows_per_s" -> "rows/s",
    "storage_amp" -> "ratio")
  /** Per-layer metrics of the gated workloads (`graph_batch` has no
    * ingest or stream layer and prints the rest). Workload-specific
    * layers go to the record and the named report. */
  val PerLayer: Seq[(String, String)] = Seq(
    "runner.exec_ms" -> "ms", "runner.exec_self_ms" -> "ms",
    "runner.ingest_ms" -> "ms", "stream.open_ms" -> "ms",
    "stream.checkpoint_ms" -> "ms",
    "node.body_ms" -> "ms", "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.job_busy_ms" -> "ms", "driver.idle_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.input_bytes" -> "bytes", "spark.input_records" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.output_files" -> "count", "spark.gc_ms" -> "ms",
    "table.versions_per_op" -> "count", "trace.overhead_ms" -> "ms")

  /** Spans may not miss or double-count more than this share of an
    * operation's wall time. */
  val ReconcileTolerance = 0.05

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace")
    require(args.length % 2 == 0 && opts.keySet.subsetOf(known) && opts.size == 4 &&
      Workloads(opts("--workload")) && Set("0", "1")(opts("--trace")),
      s"usage: --workload <${Workloads.mkString("|")}> --seed <n> --seconds <s> " +
        s"--trace <0|1> (got ${args.mkString(" ")})")
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts("--trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val out = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val runDir = out.resolve(s"run-$workload-${ProcessHandle.current.pid}")
    Files.createDirectories(runDir)
    val spark = Sessions.local(cpus.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val jobs = new JobListener
    if (traced) spark.sparkContext.addSparkListener(jobs)

    val ctx = new RunContext(spark, seed, seconds, traced, runDir, jobs)
    val w: Workload = workload match {
      case "webhook_respond" => new WebhookRespond(ctx)
      case "incremental_pipeline" => new IncrementalPipeline(ctx)
      case "graph_batch" => new GraphBatch(ctx)
    }
    try {
      def timedS(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val prepareS = timedS(w.prepare())
      val setupRepS = (1 to SetupReps).map { i =>
        if (i > 1) Files2.delete(runDir.resolve(s"setup${i - 1}"))
        timedS(w.setup(runDir.resolve(s"setup$i")))
      }
      val warmupS = timedS(w.warmup())
      val ops = w.measure()
      val settled = !traced || jobs.settle()
      val errors = w.check() ++
        (if (settled) Nil else Seq("Spark listener still saw running jobs"))
      val main = ops.filter(_.kind == ops.head.kind)
      val spanS = (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9
      val lastQuarter = main.drop(main.size - math.max(1, main.size / 4))
      val e2e = Map(
        "setup_s" -> (sessionS + prepareS + Stats.median(setupRepS) + warmupS),
        "op_p50_ms" -> Stats.median(main.map(_.ms)),
        "op_p90_ms" -> Stats.quantile(main.map(_.ms), 0.9),
        "late_op_p50_ms" -> Stats.median(lastQuarter.map(_.ms)),
        "rows_per_s" -> w.rowsDelivered / spanS,
        "storage_amp" -> w.storageAmp)
      val layers = if (traced) w.layers(ops) else Map.empty[String, Double]
      val allErrors = errors ++
        (e2e ++ layers).collect { case (n, v) if v.isNaN || v.isInfinite => s"metric $n is $v" } ++
        (if (traced && layers("trace.reconcile_err") > ReconcileTolerance)
          Seq(f"span self times miss op wall time by ${layers("trace.reconcile_err") * 100}%.1f%%")
        else Nil)
      val failed = math.min(ops.size, ops.count(!_.ok) + allErrors.size)
      allErrors.foreach(e => System.err.println(s"[perfbench] check failed: $e"))

      val (calib, calibMc) = Record.calibration(out, cpus)
      val named = Seq(("setup_s", e2e("setup_s"), "s"),
        ("error_ratio", failed.toDouble / ops.size, "ratio")) ++ w.named(e2e)
      Record.write(out, workload, seed, traced, cpus, calib, calibMc, spark.version,
        Seq("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmupS),
        setupRepS, ops, e2e, named, layers, allErrors)
      if (traced) Record.writeSpans(out, workload, seed, cpus, Trace.all)

      named.foreach { case (n, v, u) => println(f"# $workload $n = $v%.4f $u") }
      layers.toSeq.sortBy(_._1).foreach { case (n, v) => println(f"# $workload layer $n = $v%.4f") }
      val values = if (traced) layers else e2e
      val metrics = (if (traced) PerLayer else EndToEnd).collect {
        case (n, u) if values.contains(n) =>
          s""""$n": {"value": ${Record.num(values(n))}, "unit": "$u"}"""
      }
      println(s"""{"correct": ${allErrors.isEmpty && failed == 0}, "attempted": ${ops.size}, """ +
        s""""failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
    } finally {
      w.close()
      spark.stop()
      Files2.delete(runDir)
    }
  }
}
