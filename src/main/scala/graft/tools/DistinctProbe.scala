package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Measure, Sessions}

/** Round-14 multi-distinct formulation shoot-out (VERDICT r13 item 3).
  *
  * q11's single-pass multi-distinct plans as an Expand: every input
  * row is replicated once per DISTINCT aggregate (3× here → 1.8 B rows
  * at the 1000× corpus) through ONE shuffle whose partial aggregation
  * barely dedups the high-cardinality streams — 131.5 s and ~25 GB of
  * shuffle write with sort-fallback spills (SCALING round-13).
  *
  * The alternative measured here: per-distinct PRE-AGGREGATION — one
  * `select(key, col).distinct` per distinct aggregate (map-side hash
  * dedup shrinks each stream to its per-partition-distinct pairs
  * BEFORE the exchange), then a 3-way join of 3-row results. Three
  * small shuffles instead of one 3×-expanded shuffle; the join is
  * driver-trivial (group-key cardinality rows).
  *
  * Both formulations must return IDENTICAL rows (asserted here) — the
  * choice is pure plan shape, which is why the registry entry can
  * adopt the winner while the DuckDB oracle keeps the declarative
  * count(distinct ...) SQL.
  *
  * Usage: runMain graft.tools.DistinctProbe [sfDir] [runs]
  */
object DistinctProbe {
  /** The Expand-plan formulation: one SQL multi-distinct aggregate. */
  def expandPlan(li: DataFrame): DataFrame = {
    li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("d_supp"),
        countDistinct(col("l_partkey")).as("d_part"),
        sum_distinct(col("l_quantity").cast("bigint")).cast("bigint").as("sd_qty"))
  }

  /** The adopted pre-aggregated formulation — the q11 registry plan
    * (graft.queries.MultiDistinct); referenced here so the probe
    * always measures exactly what the registry ships.
    */
  def preAggPlan(li: DataFrame): DataFrame =
    graft.queries.MultiDistinct.preAgg(li)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val runs = if (args.length > 1) args(1).toInt else 1
    val spark = Sessions.local(Sessions.cpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = graft.Fixtures.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_suppkey", "l_partkey", "l_quantity")

    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // equality first (3-row results — cheap), then timing
    val a = canon(expandPlan(li))
    val b = canon(preAggPlan(li))
    require(a == b, s"formulations disagree:\n  expand=$a\n  preagg=$b")
    println(s"[distinct-probe] results identical across formulations: $a")

    for (r <- 1 to runs) {
      val tE = Measure.seconds(expandPlan(li).collect())
      println(f"[distinct-probe] run$r expand_multi_distinct: ${tE}%.1f s")
      val tP = Measure.seconds(preAggPlan(li).collect())
      println(f"[distinct-probe] run$r preagg_join:           ${tP}%.1f s")
    }
    spark.stop()
  }
}
