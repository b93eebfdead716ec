package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.graph.{CodeNode, GraphManifest, GraphRunner, NodeContext}

/** `incremental_pipeline`: arrival rounds over a growing history.
  *
  * Each round sends a seeded batch of `events` rows — new events plus a
  * fixed share of earlier `event_id`s re-sent with changed values —
  * through `GraphRunner.ingestWebhookJson` under the round's request key,
  * then propagates: a code node reads the hook table's stream cursor
  * ordered on that key and upserts the slice into `events_by_id` (keyed
  * by `event_id`, hash-bucketed), then a SQL node replaces the per-user
  * aggregate. Every `VacuumEvery` rounds a vacuum operation drops the
  * retired versions of all three tables. The warm-up backfills an eighth
  * of the events in one round, then runs `WarmupRounds` regular rounds,
  * so the timed rounds run over a history of 22.5k+.
  */
final class IncrementalPipeline(c: RunContext) extends Workload(c) {
  /** New events per round: every five rounds take each size once, in a
    * seeded order, so every seed delivers the same volume. */
  private val BatchSizes = Seq(1600, 1800, 2000, 2200, 2400)
  /** Share of a batch that re-sends earlier event ids. */
  private val ResendShare = 0.1
  /** Events the warm-up round delivers before the timed rounds. */
  private val Backfill = (Gen.Events / 8).toInt
  /** Regular rounds after the backfill, before the timed ones. */
  private val WarmupRounds = 5
  private val VacuumEvery = 3
  private val Tables = Seq("events_in", "events_by_id", "user_agg")

  private var runner: GraphRunner = _
  private var wh: Path = _
  protected def warehouse: Path = wh

  // the seeded arrival sequence and its last-write-wins model
  private var rng: java.util.SplittableRandom = _
  private var nextId = 0L
  private var seq = 0L
  private var round = 0
  private val latest = mutable.HashMap.empty[Long, Gen.Event]
  private var inputBytes = 0L

  private var consumed = 0L
  private var arrived = 0L
  private var versionsMade = 0
  private var vacuumed = 0
  private var timedRounds = 0

  private val upserter = new CodeNode {
    def run(nc: NodeContext): Unit = Trace.span("node.upsert") {
      val cur = Trace.span("stream.open")(nc.stream("in", Some("patterns_request_key")))
      val obs = Observation()
      val slice = Trace.span("table.read")(cur.df())
        .observe(obs, max("patterns_request_key").as("last"), count(lit(1)).as("n"))
      val out = nc.table("out")
      Trace.span("table.upsert_flush") {
        out.upsert(slice.drop("patterns_request_key"), Seq(col("seq")))
        out.flush()
      }
      val m = obs.get
      Option(m("last")).foreach(last => cur.seek(last))
      Trace.span("stream.checkpoint")(cur.checkpoint())
      consumed += m("n").asInstanceOf[Long]
    }
  }

  def setup(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("graph.yml"),
      """functions:
        |  - webhook: events_in
        |  - node_file: upsert.scala
        |    id: upsert01
        |    inputs: {in: events_in}
        |    outputs: {out: events_by_id}
        |  - node_file: user_agg.sql
        |    id: useragg1
        |    inputs: {events: events_by_id}
        |    outputs: {out: user_agg}
        |stores:
        |  - table: events_by_id
        |  - table: user_agg
        |""".stripMargin)
    Files.writeString(dir.resolve("user_agg.sql"),
      """select user_id, count(*) as n_events, round(sum(value), 2) as total_value,
        |  max(ts_us) as last_ts_us
        |from {{ events }}
        |group by user_id
        |""".stripMargin)
    wh = dir.resolve("wh")
    runner = new GraphRunner(ctx.spark, GraphManifest.load(dir.toString), wh.toString,
      codeNodes = Map("upsert.scala" -> upserter))
    runner.tableHandle("events_by_id").init(uniqueOn = Seq("event_id"), hashBuckets = Some(8))
    rng = new java.util.SplittableRandom(ctx.seed)
    nextId = 0L; seq = 0L; round = 0; inputBytes = 0L; sizes = Nil
    latest.clear()
  }

  private var sizes = List.empty[Int]
  private def nextSize(): Int = {
    if (sizes.isEmpty) sizes = BatchSizes.sortBy(_ => rng.nextLong()).toList
    val n = sizes.head
    sizes = sizes.tail
    n
  }

  /** The next seeded batch: new events, then re-sends of earlier ids. */
  private def batch(newRows: Int): Seq[Gen.Event] = {
    val fresh = (0 until math.min(newRows.toLong, Gen.Events - nextId).toInt).map { _ =>
      seq += 1; nextId += 1; Gen.event(rng, nextId - 1, seq)
    }
    val resend = if (nextId == 0) Nil else
      (0 until (newRows * ResendShare).toInt).map { _ =>
        seq += 1; Gen.event(rng, rng.nextLong(nextId), seq)
      }
    fresh ++ resend
  }

  /** One arrival round: ingest, then propagate until the aggregate is
    * committed (first wave: upsert node; second wave: SQL node). */
  private def runRound(events: Seq[Gen.Event]): Boolean = {
    round += 1
    val bodies = events.map(_.json)
    Trace.span("runner.ingest")(
      runner.ingestWebhookJson("events_in", bodies, f"round-$round%08d"))
    val ran = mutable.ArrayBuffer.empty[String]
    var wave = Trace.span("runner.propagate")(runner.propagateOnce())
    while (wave.nonEmpty) {
      ran ++= wave
      wave = Trace.span("runner.propagate")(runner.propagateOnce())
    }
    events.foreach(e => latest(e.eventId) = e)
    inputBytes += bodies.map(_.length.toLong).sum
    ran.toSeq == Seq("upsert01", "useragg1")
  }

  def warmup(): Unit = {
    require(runRound(batch(Backfill)), "backfill round did not run both nodes")
    (1 to WarmupRounds).foreach(_ =>
      require(runRound(batch(nextSize())), "warm-up round did not run both nodes"))
    storageAmp = Files2.bytes(wh).toDouble / inputBytes
  }

  private def versionDirs: Int = Tables.map { t =>
    val d = wh.resolve(t)
    if (!Files.exists(d)) 0
    else {
      val s = Files.list(d)
      try s.filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_")).count().toInt
      finally s.close()
    }
  }.sum

  def measure(): Seq[Op] = {
    val before = versionDirs
    consumed = 0L
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[Op]
    var traceNext = ctx.traced
    while (System.nanoTime() < deadline) {
      val events = batch(nextSize())
      val consumed0 = consumed
      ops += op("round", traceNext)(runRound(events) && consumed - consumed0 == events.size)
      arrived += events.size
      timedRounds += 1
      if (ctx.traced) traceNext = !traceNext
      if (timedRounds % VacuumEvery == 0)
        ops += op("vacuum", ctx.traced) {
          vacuumed += Trace.span("catalog.vacuum")(Tables.map(runner.catalog.vacuum(_).size).sum)
          true
        }
    }
    versionsMade = versionDirs - before + vacuumed
    ops.toSeq
  }

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (consumed < arrived) errs += s"upsert node consumed $consumed of $arrived arrived rows"
    val got = runner.tableHandle("events_by_id").read
      .select("event_id", "seq", "user_id", "event_type", "value", "ts_us", "props")
      .collect().map(r => r.getLong(0) -> r).toMap
    if (got.size != latest.size)
      errs += s"events_by_id holds ${got.size} events, expected ${latest.size}"
    val wrong = latest.values.count { e =>
      got.get(e.eventId).forall(r => r.getLong(1) != e.seq || r.getLong(2) != e.userId ||
        r.getString(3) != e.eventType || r.getDouble(4) != e.value ||
        r.getLong(5) != e.tsMicros || r.getString(6) != e.props)
    }
    if (wrong > 0) errs += s"$wrong events differ from last-write-wins"
    val expect = latest.values.groupBy(_.userId).map { case (u, es) =>
      u -> (es.size.toLong, es.map(_.value).sum, es.map(_.tsMicros).max)
    }
    val agg = runner.tableHandle("user_agg").read.collect()
    if (agg.length != expect.size) errs += s"user_agg has ${agg.length} users, expected ${expect.size}"
    val badAgg = agg.count { r =>
      expect.get(r.getAs[Long]("user_id")).forall { case (n, total, last) =>
        r.getAs[Long]("n_events") != n || r.getAs[Long]("last_ts_us") != last ||
          math.abs(r.getAs[Double]("total_value") - total) > 0.011
      }
    }
    if (badAgg > 0) errs += s"$badAgg user aggregates differ from recomputation"
    errs.toSeq
  }

  def rowsDelivered: Long = arrived

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val rounds = ops.filter(_.kind == "round")
    val traced = rounds.filter(_.traced)
    val tree = new Layers.Tree(traced, Trace.all)
    val vac = new Layers.Tree(ops.filter(o => o.kind == "vacuum" && o.traced), Trace.all)
    val active = runner.catalog.activePath("events_by_id")
      .map(p => Files2.dataInodes(java.nio.file.Paths.get(p)).size).getOrElse(0)
    common(traced, tree) ++ Map(
      "runner.exec_ms" -> tree.ms("runner.propagate"),
      "runner.exec_self_ms" -> tree.selfMs("runner.propagate"),
      "node.body_ms" -> tree.ms("node.upsert"),
      "table.versions_per_op" -> versionsMade.toDouble / rounds.size,
      "trace.overhead_ms" -> Layers.overheadMs(traced, rounds.filterNot(_.traced)),
      "runner.ingest_ms" -> tree.ms("runner.ingest"),
      "runner.propagate_ms" -> tree.ms("runner.propagate"),
      "runner.propagate_self_ms" -> tree.selfMs("runner.propagate"),
      "stream.open_ms" -> tree.ms("stream.open"),
      "table.read_ms" -> tree.ms("table.read"),
      "table.upsert_flush_ms" -> tree.ms("table.upsert_flush"),
      "stream.checkpoint_ms" -> tree.ms("stream.checkpoint"),
      "stream.rows_consumed_ratio" -> consumed.toDouble / arrived,
      "table.active_files" -> active.toDouble,
      "catalog.vacuum_ms" -> vac.ms("catalog.vacuum"),
      "catalog.vacuum_versions" -> vacuumed.toDouble / math.max(1, vac.n))
  }

  def named(e: Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("round_p50_s", e("op_p50_ms") / 1000, "s"),
    ("round_late_p50_s", e("late_op_p50_ms") / 1000, "s"),
    ("ingest_rows_per_s", e("rows_per_s"), "rows/s"),
    ("storage_amp", e("storage_amp"), "ratio"))
}
