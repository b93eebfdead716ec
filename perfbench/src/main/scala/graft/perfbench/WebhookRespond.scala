package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.graph.{CodeNode, GraphManifest, GraphRunner, NodeContext, WebhookServer}

/** `webhook_respond`: a closed loop of HTTP clients POSTing small JSON
  * objects to `/webhooks/hook?wait=true`; a responder code node drains
  * the hook table's stream cursor, answers every record through
  * `respondToRequest`, and checkpoints. About one payload in five
  * carries an optional `coupon` field.
  *
  * Traced runs use one client and cycle three kinds of operation: an
  * HTTP request, then the same request made by calling the functions
  * the edge calls (`ingestWebhookJson`, `propagateOnce`,
  * `webhookResponse`) traced, then that direct request untraced.
  */
final class WebhookRespond(c: RunContext) extends Workload(c) {
  private val Clients = 2
  /** Single-client requests before the timed phase; storage is measured
    * after them, so it does not depend on timing. */
  private val WarmupOps = 10

  private var runner: GraphRunner = _
  private var server: WebhookServer = _
  private var wh: Path = _
  protected def warehouse: Path = wh

  private val consumed = new AtomicLong(0L)
  private val arrived = new AtomicLong(0L)
  private val inputBytes = new AtomicLong(0L)
  private var versionsBefore = 0
  private var versionsAfter = 0
  private var timedOps = 0

  private val responder = new CodeNode {
    def run(nc: NodeContext): Unit = Trace.span("node.respond") {
      val cur = Trace.span("stream.open")(nc.stream("in"))
      val recs = Trace.span("stream.records")(cur.records().toVector)
      recs.foreach { r =>
        val payload = r.collect {
          case (k, v) if v != null && k != "patterns_request_key" && k != "arrival_id" => k -> v
        }
        Trace.span("runner.respond")(runner.respondToRequest("hook",
          r("patterns_request_key").toString, payload))
      }
      Trace.span("stream.checkpoint")(cur.checkpoint())
      consumed.addAndGet(recs.size.toLong)
    }
  }

  def setup(dir: Path): Unit = {
    Option(server).foreach(_.stop())
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("graph.yml"),
      """functions:
        |  - webhook: hook
        |  - node_file: respond.scala
        |    id: respond1
        |    inputs: {in: hook}
        |stores:
        |  - table: hook_responses
        |""".stripMargin)
    wh = dir.resolve("wh")
    runner = new GraphRunner(ctx.spark, GraphManifest.load(dir.toString), wh.toString,
      codeNodes = Map("respond.scala" -> responder))
    // arrival order: a monotonic id minted inside the ingest's commit
    runner.tableHandle("hook").init(addMonotonicId = Some("arrival_id"))
    server = new WebhookServer(runner)
  }

  def warmup(): Unit = {
    inputBytes.set(0L)
    val warm = new Client(-1)
    (0 until WarmupOps).foreach { _ =>
      require(warm.http(warm.next()), "warm-up request failed")
    }
    storageAmp = Files2.bytes(wh).toDouble / inputBytes.get
  }

  /** One closed-loop client: a seeded payload sequence of its own. Every
    * fifth payload, starting with the first, carries the optional
    * `coupon` field; the seed draws every value. A fixed schedule keeps
    * the number of widen rewrites, and so storage, the same for every
    * seed. */
  private final class Client(id: Int) {
    private val rng = new java.util.SplittableRandom(ctx.seed * 1000003L + id)
    private val http0 = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
    private var seq = 0L

    def next(): String = {
      val fields = Seq[(String, Any)]("client" -> id, "seq" -> seq,
        "user" -> rng.nextInt(1500),
        "amount" -> BigDecimal(rng.nextInt(100, 100000), 2),
        "tag" -> s"t${rng.nextInt(8)}") ++
        (if (seq % 5 == 0) Seq("coupon" -> s"C${rng.nextInt(1000)}") else Nil)
      seq += 1
      val body = fields.map {
        case (k, v: String) => s""""$k":"$v""""
        case (k, v) => s""""$k":$v"""
      }.mkString("{", ",", "}")
      inputBytes.addAndGet(body.length.toLong)
      arrived.incrementAndGet()
      body
    }

    /** POST with `?wait=true`; true when the reply echoes the payload. */
    def http(body: String): Boolean = {
      val req = HttpRequest.newBuilder(URI.create(server.url("hook") + "?wait=true"))
        .timeout(Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = http0.send(req, HttpResponse.BodyHandlers.ofString())
      resp.statusCode == 200 && echoes(resp.body, body)
    }
  }

  private var directKeys = 0L

  /** The HTTP edge's three calls, made directly. */
  private def direct(body: String): Boolean = {
    directKeys += 1
    val key = f"direct-$directKeys%08d"
    Trace.span("runner.ingest")(runner.ingestWebhookJson("hook", Seq(body), key))
    Trace.span("runner.propagate")(runner.propagateOnce())
    Trace.span("runner.response_read")(runner.webhookResponse("hook", key))
      .exists(echoes(_, body))
  }

  private def echoes(reply: String, sent: String): Boolean = {
    def fields(s: String) = JsonMethods.parse(s) match {
      case JObject(fs) => fs.sortBy(_._1)
      case _ => Nil
    }
    fields(reply) == fields(sent)
  }

  private def versionDirs: Int = {
    val d = wh.resolve("hook")
    val s = Files.list(d)
    try s.filter(p => Files.isDirectory(p)).count().toInt finally s.close()
  }

  def measure(): Seq[Op] = {
    consumed.set(0L); arrived.set(0L)
    versionsBefore = versionDirs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val ops =
      if (ctx.traced) {
        val cl = new Client(0)
        val out = mutable.ArrayBuffer.empty[Op]
        while (System.nanoTime() < deadline || out.size < 3 * 6) {
          out += op("http", traced = false)(cl.http(cl.next()))
          out += op("direct", traced = true)(direct(cl.next()))
          out += op("direct", traced = false)(direct(cl.next()))
        }
        out.toSeq
      } else {
        val results = Array.fill(Clients)(mutable.ArrayBuffer.empty[Op])
        val threads = (0 until Clients).map { i =>
          new Thread(() => {
            val cl = new Client(i)
            while (System.nanoTime() < deadline) {
              val body = cl.next()
              results(i) += Op.timed("http", traced = false)(cl.http(body))
            }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        results.toSeq.flatten.sortBy(_.startNs)
      }
    versionsAfter = versionDirs
    timedOps = ops.size
    ops
  }

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (consumed.get != arrived.get)
      errs += s"responder consumed ${consumed.get} rows, ${arrived.get} arrived"
    // the warm-up requests of the last set-up are the only other rows
    val expected = arrived.get + WarmupOps
    Seq("hook", "hook_responses").foreach { t =>
      val rows = runner.tableHandle(t).read.count()
      if (rows != expected) errs += s"table $t holds $rows rows, expected $expected"
    }
    errs.toSeq
  }

  def rowsDelivered: Long = arrived.get

  def layers(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val untracedDirect = ops.filter(o => o.kind == "direct" && !o.traced)
    val tree = new Layers.Tree(traced, Trace.all)
    common(traced, tree) ++ Map(
      "runner.exec_ms" -> tree.ms("runner.propagate"),
      "runner.exec_self_ms" -> tree.selfMs("runner.propagate"),
      "node.body_ms" -> tree.ms("node.respond"),
      "table.versions_per_op" -> (versionsAfter - versionsBefore).toDouble / timedOps,
      "trace.overhead_ms" -> Layers.overheadMs(traced, untracedDirect),
      "edge.self_ms" -> (Stats.median(ops.filter(_.kind == "http").map(_.ms)) -
        Stats.median(untracedDirect.map(_.ms))),
      "runner.ingest_ms" -> tree.ms("runner.ingest"),
      "runner.propagate_ms" -> tree.ms("runner.propagate"),
      "runner.propagate_self_ms" -> tree.selfMs("runner.propagate"),
      "runner.respond_ms" -> tree.ms("runner.respond"),
      "runner.response_read_ms" -> tree.ms("runner.response_read"),
      "stream.open_ms" -> tree.ms("stream.open"),
      "stream.records_ms" -> tree.ms("stream.records"),
      "stream.checkpoint_ms" -> tree.ms("stream.checkpoint"),
      "stream.rows_consumed_ratio" -> consumed.get.toDouble / arrived.get,
      "table.rewrite_ratio" -> (versionsAfter - versionsBefore).toDouble / timedOps)
  }

  def named(e: Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("webhook_p50_ms", e("op_p50_ms"), "ms"),
    ("webhook_p90_ms", e("op_p90_ms"), "ms"),
    ("webhook_rps", e("rows_per_s"), "1/s"),
    ("storage_amp", e("storage_amp"), "ratio"))

  override def close(): Unit = Option(server).foreach(_.stop())
}
