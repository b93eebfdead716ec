package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Template
import graft.graph.{CodeNode, GraphManifest, GraphRunner, NodeContext}
import graft.llm.Corpus

/** `graph_batch`: repeated `GraphRunner.run()` of a two-wave graph over
  * the four sf0.1-shaped source tables, which set-up seeds into the
  * catalog through `TableHandle` appends (so every source is a
  * multi-file version in the engine's own layout).
  *
  * Wave 1: a lineitem aggregate (SQL), lineitem ⋈ orders ⋈ customer
  * (SQL) and the `Corpus.curationPipeline` code node; wave 2: a SQL
  * summary over the three wave-1 outputs. The oracle runs the same SQL
  * and the same curation call directly over the generated parquet.
  *
  * Traced runs cycle three kinds of operation: `run()` traced, every node
  * once through a sequential `runNode` traced, and `run()` untraced.
  */
final class GraphBatch(c: RunContext) extends Workload(c) {
  /** Parquet files per source table version at seeding. */
  private val Slices = Map("lineitem" -> 4, "orders" -> 4, "customer" -> 2, "documents" -> 2)

  private val Sql = Map(
    "li_agg" ->
      """select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
        |  count(*) as count_order
        |from {{ lineitem }}
        |where l_shipdate <= timestamp '1998-09-02 00:00:00'
        |group by l_returnflag, l_linestatus""".stripMargin,
    "cust_rev" ->
      """select c.c_mktsegment, year(o.o_orderdate) as o_year, count(*) as n_lines,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue
        |from {{ lineitem }} l
        |join {{ orders }} o on l.l_orderkey = o.o_orderkey
        |join {{ customer }} c on o.o_custkey = c.c_custkey
        |group by c.c_mktsegment, year(o.o_orderdate)""".stripMargin,
    "summary" ->
      """select 'lineitem' as source, sum(count_order) as n,
        |  round(sum(sum_disc_price), 2) as amount from {{ li_agg }}
        |union all
        |select 'revenue', sum(n_lines), round(sum(revenue), 2) from {{ cust_rev }}
        |union all
        |select concat('docs_', disposition), count(*), cast(0 as double)
        |from {{ dispositions }} group by disposition""".stripMargin)

  private var raw: Path = _
  private var runner: GraphRunner = _
  private var wh: Path = _
  protected def warehouse: Path = wh
  private var sourceRows = 0L
  private var sourceBytes = 0L
  private var versionsMade = 0
  private var runs = 0

  private def curate(docs: DataFrame): DataFrame =
    Corpus.curationPipeline(docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")

  private val curator = new CodeNode {
    def run(nc: NodeContext): Unit = Trace.span("node.curate") {
      val docs = Trace.span("table.read")(nc.table("docs").read.select("doc_id", "text"))
      val out = nc.table("out")
      Trace.span("table.replace")(out.replace(curate(docs)))
    }
  }

  override def prepare(): Unit = {
    raw = ctx.dir.resolve("raw")
    Gen.writeGraphSources(ctx.spark, ctx.seed, raw.toString)
    sourceBytes = Files2.bytes(raw)
  }

  def setup(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("graph.yml"),
      """functions:
        |  - node_file: li_agg.sql
        |    id: liagg001
        |    inputs: {lineitem: lineitem}
        |    outputs: {out: li_agg}
        |  - node_file: cust_rev.sql
        |    id: custrev1
        |    inputs: {lineitem: lineitem, orders: orders, customer: customer}
        |    outputs: {out: cust_rev}
        |  - node_file: curate.scala
        |    id: curate01
        |    inputs: {docs: documents}
        |    outputs: {out: dispositions}
        |  - node_file: summary.sql
        |    id: summary1
        |    inputs: {li_agg: li_agg, cust_rev: cust_rev, dispositions: dispositions}
        |    outputs: {out: summary}
        |stores:
        |  - table: lineitem
        |  - table: orders
        |  - table: customer
        |  - table: documents
        |  - table: li_agg
        |  - table: cust_rev
        |  - table: dispositions
        |  - table: summary
        |""".stripMargin)
    Sql.foreach { case (n, q) => Files.writeString(dir.resolve(s"$n.sql"), q) }
    wh = dir.resolve("wh")
    runner = new GraphRunner(ctx.spark, GraphManifest.load(dir.toString), wh.toString,
      codeNodes = Map("curate.scala" -> curator))
    // one append per table, hash-sliced by the seed into `Slices(t)`
    // partitions, so each version holds that many parquet files
    Slices.foreach { case (t, n) =>
      val df = ctx.spark.read.parquet(raw.resolve(s"$t.parquet").toString)
      val h = runner.tableHandle(t)
      h.append(df.repartition(n, xxhash64(lit(ctx.seed), col(df.columns.head))))
      h.flush()
    }
    sourceRows = Seq("lineitem", "lineitem", "orders", "customer", "documents")
      .map(runner.tableHandle(_).recordCount).sum
  }

  def warmup(): Unit = {
    runner.run()
    storageAmp = Files2.bytes(wh).toDouble / sourceBytes
  }

  private def versionDirs: Int = {
    val s = Files.walk(wh, 2)
    try s.filter(p => p.getFileName.toString.matches("v\\d{8}")).count().toInt
    finally s.close()
  }

  private def outputsPresent: Boolean =
    Seq("li_agg", "cust_rev", "dispositions", "summary").forall(runner.tableHandle(_).exists)

  def measure(): Seq[Op] = {
    val before = versionDirs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[Op]
    def once(kind: String, traced: Boolean)(f: => Unit): Unit = {
      ops += op(kind, traced) { f; outputsPresent }
      if (kind == "run") runs += 1
    }
    while (System.nanoTime() < deadline) {
      once("run", ctx.traced)(Trace.span("runner.run")(runner.run()))
      if (ctx.traced) {
        once("seq", traced = true)(runner.topoOrder.foreach(id =>
          Trace.span(s"node.$id")(runner.runNode(id))))
        once("run", traced = false)(runner.run())
      }
    }
    versionsMade = versionDirs - before
    ops.toSeq
  }

  def check(): Seq[String] = {
    val spark = ctx.spark
    val views = Seq("lineitem", "orders", "customer", "documents").map { t =>
      val v = s"oracle_$t"
      spark.read.parquet(raw.resolve(s"$t.parquet").toString).createOrReplaceTempView(v)
      t -> v
    }.toMap
    def sql(n: String, m: Map[String, String]) = spark.sql(Template.substitute(Sql(n), m))
    val liAgg = sql("li_agg", views)
    val custRev = sql("cust_rev", views)
    val dispo = curate(spark.table(views("documents")).select("doc_id", "text"))
    liAgg.createOrReplaceTempView("oracle_li_agg")
    custRev.createOrReplaceTempView("oracle_cust_rev")
    dispo.createOrReplaceTempView("oracle_dispositions")
    val summary = sql("summary", Map("li_agg" -> "oracle_li_agg",
      "cust_rev" -> "oracle_cust_rev", "dispositions" -> "oracle_dispositions"))
    Seq("li_agg" -> liAgg, "cust_rev" -> custRev, "dispositions" -> dispo,
      "summary" -> summary).flatMap { case (t, want) =>
      val got = runner.tableHandle(t).read
      val diff = Oracle.diff(got, want)
      diff.map(d => s"$t: $d")
    }
  }

  def rowsDelivered: Long = sourceRows * runs

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val tracedRuns = ops.filter(o => o.kind == "run" && o.traced)
    val seqOps = ops.filter(_.kind == "seq")
    val runTree = new Layers.Tree(tracedRuns, Trace.all)
    val seqTree = new Layers.Tree(seqOps, Trace.all)
    val ids = runner.topoOrder
    val nodeMs = ids.map(id => id -> seqTree.ms(s"node.$id")).toMap
    // critical path of the two waves: the slowest wave-1 node, then wave 2
    val critical = ids.filterNot(_ == "summary1").map(nodeMs).max + nodeMs("summary1")
    val runMs = runTree.ms("runner.run")
    // Spark counts per graph run; the span checks cover both kinds
    common(tracedRuns, new Layers.Tree(tracedRuns ++ seqOps, Trace.all)) ++ Map(
      "runner.exec_ms" -> runMs,
      "runner.exec_self_ms" -> (runMs - critical),
      "node.body_ms" -> runTree.ms("node.curate"),
      "table.versions_per_op" -> versionsMade.toDouble / ops.size,
      "trace.overhead_ms" -> Layers.overheadMs(tracedRuns,
        ops.filter(o => o.kind == "run" && !o.traced)),
      "runner.run_self_ms" -> (runMs - critical),
      "runner.wave_overlap" -> nodeMs.values.sum / runMs,
      "table.read_ms" -> runTree.ms("table.read"),
      "table.replace_ms" -> runTree.ms("table.replace")) ++
      nodeMs.map { case (id, ms) => s"node.${id}_ms" -> ms }
  }

  def named(e: Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("graph_run_p50_s", e("op_p50_ms") / 1000, "s"),
    ("graph_rows_per_s", e("rows_per_s"), "rows/s"))
}

/** Row-multiset comparison of an engine output with its oracle: columns
  * matched by name, doubles compared to 1e-6 relative or 0.011 absolute
  * (money sums are rounded to cents after a partition-order-dependent
  * double sum). */
object Oracle {
  def diff(got: DataFrame, want: DataFrame): Option[String] = {
    val cols = want.columns.sorted
    if (!got.columns.toSet.equals(cols.toSet))
      return Some(s"columns ${got.columns.sorted.mkString(",")} != ${cols.mkString(",")}")
    // order rows by their exact columns first, so a cent of rounding
    // difference cannot pair a row with the wrong oracle row
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.select(cols.toSeq.map(col): _*).collect().toSeq.map(_.toSeq).sortBy { r =>
        val (d, exact) = r.partition(_.isInstanceOf[Double])
        (exact ++ d).map(String.valueOf).mkString("|")
      }
    val (g, w) = (rows(got), rows(want))
    if (g.size != w.size) return Some(s"${g.size} rows, oracle has ${w.size}")
    val bad = g.zip(w).count { case (a, b) => !a.zip(b).forall {
      case (x: Double, y: Double) =>
        math.abs(x - y) <= math.max(0.011, 1e-6 * math.abs(y))
      case (x, y) => x == y
    } }
    if (bad > 0) Some(s"$bad of ${g.size} rows differ") else None
  }
}
