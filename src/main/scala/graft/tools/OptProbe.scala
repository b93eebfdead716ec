package graft.tools

import graft.{Measure, Sessions, SparkEntry}

/** Same-JVM query timer: times registry queries with the bench
  * methodology ([[graft.Measure.noopRuns]]: noop sink, GC, warm-up +
  * median of 3) so a hot query's cost can be compared before and after
  * a rewrite without a full bench run. The r14 plan-fragment A/Bs that
  * used to live here are recorded in OPTIMIZATION_r14.md.
  *
  * Run: sbt "runMain graft.tools.OptProbe q:<query> [q:<query> ...]"
  */
object OptProbe {
  val usage = "usage: OptProbe q:<registered query name> [q:<name> ...]"

  /** The query names named by `args`, or the usage line (with the
    * offending arguments) when there are none or any argument is not
    * `q:<registered query name>`.
    */
  private[graft] def parseArgs(args: Seq[String],
      registered: String => Boolean): Either[String, Seq[String]] = {
    val bad = args.filterNot(a => a.startsWith("q:") && registered(a.drop(2)))
    if (args.isEmpty) Left(usage)
    else if (bad.nonEmpty) Left(s"$usage\nunknown: ${bad.mkString(" ")}")
    else Right(args.map(_.drop(2)))
  }

  def main(args: Array[String]): Unit = {
    val names = parseArgs(args.toSeq, SparkEntry.queries.contains) match {
      case Right(ns) => ns
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val spark = Sessions.local(Sessions.cpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names.foreach { n =>
      val runs = Measure.noopRuns(SparkEntry.queries(n)(spark, sf))
      println(f"[optprobe] q:$n%-40s median=${Measure.median(runs)}%.3f s " +
        f"(min=${runs.head}%.3f max=${runs.last}%.3f)")
    }
    spark.stop()
  }
}
