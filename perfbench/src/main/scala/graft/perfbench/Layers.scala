package graft.perfbench

/** Per-layer numbers of a traced run, derived once at the end from the
  * recorded spans and the Spark listener. Every value is per traced
  * operation unless its name says otherwise.
  */
object Layers {
  /** Span-tree view of the traced operations of one kind. */
  final class Tree(ops: Seq[Op], all: Seq[Span]) {
    private val ids = ops.map(_.opId).toSet
    val spans: Seq[Span] = all.filter(s => ids(s.op))
    val self: Map[Long, Double] = Trace.selfMs(spans)
    val n: Int = math.max(1, ops.size)

    /** Mean total duration per operation of the spans named `name`. */
    def ms(name: String): Double =
      spans.filter(_.name == name).map(_.durMs).sum / n

    /** Mean total self time per operation of the spans named `name`. */
    def selfMs(name: String): Double =
      spans.filter(_.name == name).map(s => self(s.id)).sum / n

    /** Largest relative gap, over the operations, between the sum of the
      * self times of an operation's spans and its wall time. Spans that
      * overlap (double-counted work) or escape their parent push it up. */
    def reconcileErr: Double =
      spans.groupBy(_.op).values.map { ss =>
        val root = ss.find(_.parent == 0L).get
        math.abs(ss.map(s => self(s.id)).sum - root.durMs) / root.durMs
      }.maxOption.getOrElse(0.0)
  }

  /** Spark execution metrics per operation: the jobs submitted inside
    * each operation's interval. */
  def spark(ops: Seq[Op], jobs: JobListener): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val per = ops.map(o => o -> jobs.jobsIn(o.startMs, o.endMs))
    def sum(f: JobListener#Job => Double): Double =
      per.map(_._2.map(f).sum).sum / n
    val busyMs = per.map { case (o, js) =>
      Trace.union(js.map(j => (math.max(j.startMs, o.startMs),
        math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs)))).toDouble
    }
    Map(
      "spark.jobs_per_op" -> sum(_ => 1.0),
      "spark.stages_per_op" -> sum(_.stages.toDouble),
      "spark.tasks_per_op" -> sum(_.tasks.toDouble),
      "spark.job_busy_ms" -> busyMs.sum / n,
      "driver.idle_ms" -> ops.zip(busyMs).map { case (o, b) => o.ms - b }.sum / n,
      "spark.executor_run_ms" -> sum(_.runMs.toDouble),
      "spark.executor_cpu_ms" -> sum(_.cpuNs / 1e6),
      "spark.input_bytes" -> sum(_.inBytes.toDouble),
      "spark.input_records" -> sum(_.inRecords.toDouble),
      "spark.shuffle_read_bytes" -> sum(_.shReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> sum(_.shWriteBytes.toDouble),
      "spark.spill_bytes" -> sum(_.spillBytes.toDouble),
      "spark.output_bytes" -> sum(_.outBytes.toDouble),
      "spark.gc_ms" -> ops.map(_.gcMs).sum / n)
  }

  /** Traced minus untraced median wall time of one kind of operation. */
  def overheadMs(traced: Seq[Op], untraced: Seq[Op]): Double =
    Stats.median(traced.map(_.ms)) - Stats.median(untraced.map(_.ms))
}
