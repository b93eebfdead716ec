package graft.perfbench

import java.nio.file.{Files, Path}

/** Result records and span dumps under `.bench_build/perfbench/`. Every
  * file name carries the core count, so runs on different core counts
  * never overwrite each other. */
object Record {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** Host calibration from the engine's own kernels (`Bench.calibrate`,
    * `Bench.calibrationMulti`), measured once per checkout and core
    * count and reused by later runs, so it costs no run its budget. */
  def calibration(out: Path, cpus: Int): (Double, Double) = {
    val f = out.resolve(s"calibration_c$cpus.txt")
    if (!Files.exists(f)) {
      val single = graft.Bench.calibrate()
      val multi = graft.Bench.calibrationMulti(cpus)
      Files.writeString(f, s"$single $multi")
    }
    val Array(a, b) = Files.readString(f).trim.split(" ")
    (a.toDouble, b.toDouble)
  }

  def write(out: Path, workload: String, seed: Long, traced: Boolean, cpus: Int,
      calib: Double, calibMc: Double, sparkVersion: String,
      setupParts: Seq[(String, Double)], setupRepS: Seq[Double], ops: Seq[Op], e2e: Map[String, Double],
      named: Seq[(String, Double, String)], layers: Map[String, Double],
      errors: Seq[String]): Path = {
    val dir = Files.createDirectories(out.resolve("results"))
    val f = dir.resolve(s"${workload}_c${cpus}_t${if (traced) 1 else 0}_s$seed.json")
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      k -> os.map(o => num(o.ms)).mkString("[", ", ", "]")
    }
    Files.writeString(f, obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"), "cpus" -> cpus.toString,
      "calibration_sec" -> num(calib), "calib_mc_sec" -> num(calibMc),
      "commit" -> str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "spark_version" -> str(sparkVersion),
      "setup_parts_s" -> obj(setupParts.map { case (k, v) => k -> num(v) }),
      "setup_reps_s" -> setupRepS.map(num).mkString("[", ", ", "]"),
      "attempted" -> ops.size.toString,
      "failed_ops" -> ops.count(!_.ok).toString,
      "errors" -> errors.map(str).mkString("[", ", ", "]"),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "named" -> obj(named.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "per_layer" -> obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "op_ms" -> obj(byKind))) + "\n")
    f
  }

  /** All spans of a traced run, one JSON object a line, written once. */
  def writeSpans(out: Path, workload: String, seed: Long, cpus: Int,
      spans: Seq[Span]): Path = {
    val dir = Files.createDirectories(out.resolve("traces"))
    val f = dir.resolve(s"${workload}_c${cpus}_s$seed.jsonl")
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    Files.writeString(f, spans.sortBy(_.startNs).map(s => obj(Seq(
      "name" -> str(s.name), "op" -> s.op.toString, "id" -> s.id.toString,
      "parent" -> s.parent.toString, "start_us" -> ((s.startNs - t0) / 1000).toString,
      "end_us" -> ((s.endNs - t0) / 1000).toString))).mkString("", "\n", "\n"))
    f
  }
}
