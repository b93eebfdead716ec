package graft

import org.apache.spark.sql.DataFrame

/** The one timer behind Bench, OptProbe and the probe tools. */
object Measure {

  /** Wall seconds of one evaluation of `body`. */
  def seconds(body: => Any): Double = timed(body)._2

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Upper median: the middle sample of an odd count, the upper of the
    * two middle samples of an even one.
    */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Executes the whole plan of `df` into the `noop` sink (a bare
    * `count()` would let Catalyst prune projections away).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Bench's protocol: an explicit GC, so heap fragmentation left by
    * earlier work is not billed to this one (allocation-heavy queries
    * measured up to 6× slower late in the suite than in isolation);
    * one unmeasured warm-up that pays the plan's codegen compile; then
    * `runs` samples in run order. `warmup = false` skips the warm-up.
    */
  def samples(runs: Int, warmup: Boolean = true)(sample: => Double): Seq[Double] = {
    System.gc()
    if (warmup) sample
    Seq.fill(runs)(sample)
  }

  /** Sorted noop-sink seconds of three executions of `df` under
    * [[samples]].
    */
  def noopRuns(df: => DataFrame): Seq[Double] =
    samples(3)(seconds(noop(df))).sorted
}
