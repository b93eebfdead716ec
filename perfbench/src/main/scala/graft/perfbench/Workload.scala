package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a run needs besides the workload: the session, the seed, the
  * time budget, the run's scratch directory and the traced-run tools. */
final class RunContext(val spark: SparkSession, val seed: Long,
    val seconds: Double, val traced: Boolean, val dir: Path,
    val jobs: JobListener)

/** One timed operation: its wall interval (monotonic and epoch clocks),
  * whether it succeeded (a wrong output counts as a failure), its kind,
  * its span-tree id when it was traced (0 otherwise) and the JVM's GC
  * time during it. */
final case class Op(kind: String, startNs: Long, endNs: Long, startMs: Long,
    endMs: Long, ok: Boolean, opId: Long, gcMs: Double) {
  def ms: Double = (endNs - startNs) / 1e6
  def traced: Boolean = opId != 0L
}

object Op {
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcTotalMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `f` as one operation, traced when `traced`. An exception is
    * reported on stderr and counts as a failed operation. */
  def timed(kind: String, traced: Boolean)(f: => Boolean): Op = {
    val gc0 = gcTotalMs
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Trace.on = traced
    val (id, ok) = try Trace.op(kind) {
      try f catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind failed: $e"); false
      }
    } finally Trace.on = false
    Op(kind, t0, System.nanoTime(), ms0, System.currentTimeMillis(), ok, id,
      (gcTotalMs - gc0).toDouble)
  }
}

/** A benchmark workload. Set-up has three parts: `prepare` generates
  * the seeded inputs once; `setup` builds the warehouse and graph from
  * nothing into a fresh `dir` (the runner repeats it and takes the
  * median); `warmup` runs untimed operations on the last set-up state.
  * `measure` then runs the timed operations until the time budget is
  * spent, and `check` compares the program's outputs with an oracle.
  */
abstract class Workload(val ctx: RunContext) {
  def prepare(): Unit = ()
  def setup(dir: Path): Unit
  def warmup(): Unit
  def measure(): Seq[Op]
  /** Output errors found after the timed phase (empty = correct). */
  def check(): Seq[String]
  /** Input rows the timed operations delivered or read. */
  def rowsDelivered: Long
  /** Warehouse bytes over input bytes delivered, taken at the end of
    * the warm-up: a fixed, seeded operation sequence, so it does not
    * depend on how many timed operations fit in the budget. */
  var storageAmp: Double = Double.NaN
  /** Per-layer metrics of a traced run (`ops` holds every timed op). */
  def layers(ops: Seq[Op]): Map[String, Double]
  /** This workload's named metrics (README), from the generic ones:
    * (name, value, unit). */
  def named(e2e: Map[String, Double]): Seq[(String, Double, String)]

  /** Stop whatever the workload started (servers, pools). */
  def close(): Unit = ()

  /** Warehouse root of the current set-up state. */
  protected def warehouse: Path

  private val filesOut = mutable.Map.empty[Long, Int]

  /** One timed operation; a traced one also counts the parquet files it
    * wrote (new inodes in the warehouse, listed outside its interval). */
  protected def op(kind: String, traced: Boolean)(f: => Boolean): Op =
    if (!traced) Op.timed(kind, traced = false)(f)
    else {
      val before = Files2.dataInodes(warehouse)
      val o = Op.timed(kind, traced = true)(f)
      filesOut(o.opId) = (Files2.dataInodes(warehouse) -- before).size
      o
    }

  /** Layer numbers every workload shares: Spark execution per op, files
    * written per op and the span bookkeeping checks. */
  protected def common(traced: Seq[Op], tree: Layers.Tree): Map[String, Double] =
    Layers.spark(traced, ctx.jobs) ++ Map(
      "spark.output_files" ->
        traced.map(o => filesOut.getOrElse(o.opId, 0)).sum.toDouble / math.max(1, traced.size),
      "trace.reconcile_err" -> tree.reconcileErr)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles`
    * inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Files2 {
  /** Bytes of every regular file under `p`, each inode counted once
    * (upserts hardlink unchanged files into the next version). */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val seen = mutable.Set.empty[AnyRef]
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        if (seen.add(Files.getAttribute(f, "unix:ino"))) Files.size(f) else 0L
      }.sum
      finally s.close()
    }

  /** Inodes of the parquet data files under `p`. */
  def dataInodes(p: Path): Set[AnyRef] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => Files.getAttribute(f, "unix:ino")).toSet
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
