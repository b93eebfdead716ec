package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.graph.{CodeNode, GraphManifest, GraphRunner, NodeContext}

/** End-to-end drive of the engine through its public API: the
  * SURVEY §7.2 minimum slice plus an incremental stream→upsert node.
  * Run: sbt "runMain graft.tools.EngineDemo"
  */
object EngineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = Files.createTempDirectory("demo-graph").toString
    val wh = Files.createTempDirectory("demo-wh").toString
    Files.writeString(Paths.get(dir, "agg.sql"),
      """select l_returnflag, l_linestatus,
        |  sum(l_quantity) as qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) as rev,
        |  count(*) as cnt
        |from {{ lineitem }}
        |where l_quantity <= {{ max_qty }}
        |group by 1, 2 order by 1, 2""".stripMargin)
    Files.writeString(Paths.get(dir, "graph.yml"),
      """title: demo
        |functions:
        |  - node_file: agg.sql
        |    id: aggnode01
        |    inputs: {lineitem: lineitem_raw}
        |    outputs: {out: lineitem_agg}
        |    parameters: {max_qty: 50}
        |  - node_file: enrich.scala
        |    id: enrich001
        |    inputs: {events: events}
        |    outputs: {out: enriched}
        |stores:
        |  - table: lineitem_raw
        |  - table: events
        |  - table: enriched
        |  - table: lineitem_agg
        |""".stripMargin)

    val enrich = new CodeNode {
      def run(ctx: NodeContext): Unit = {
        val out = ctx.table("out").init(uniqueOn = Seq("event_id"),
          addMonotonicId = Some("mid"))
        val stream = ctx.stream("events", orderBy = Some("event_id"))
        val slice = stream.df()
        if (!slice.isEmpty) {
          out.upsert(slice.withColumn("seen", lit(1)))
          out.flush()
          stream.seek(slice.agg(max("event_id")).head().get(0))
          stream.checkpoint()
        }
      }
    }

    val runner = new GraphRunner(spark, GraphManifest.load(dir), wh,
      codeNodes = Map("enrich.scala" -> enrich))

    println("== validate() on a healthy graph: " + runner.validate())

    // seed stores through the public Table API
    import spark.implicits._
    val li = runner.tableHandle("lineitem_raw")
    li.append(graft.Fixtures.table(spark, "/root/testdata/sf0.001", "lineitem"))
    li.flush()
    val ev = runner.tableHandle("events")
      .init(strictlyMonotonicOrdering = Some("event_id"))
    ev.append(Seq((1L, "click"), (2L, "view")).toDF("event_id", "etype"))
    ev.flush()

    runner.run()
    println("== lineitem_agg after run:")
    runner.tableHandle("lineitem_agg").read.show(10, false)
    println("== enriched after run 1:")
    runner.tableHandle("enriched").read.show(10, false)

    // incremental second execution: one new event only
    ev.append(Seq((3L, "purchase")).toDF("event_id", "etype")); ev.flush()
    runner.run()
    println("== enriched after run 2 (no dups, event 3 added):")
    runner.tableHandle("enriched").read.orderBy("event_id").show(10, false)

    println("== warehouse layout:")
    Files.walk(Paths.get(wh)).iterator().forEachRemaining { p =>
      val rel = Paths.get(wh).relativize(p).toString
      if (rel.endsWith("meta.json") || rel.endsWith(".json") || rel.count(_ == '/') <= 1)
        println("   " + rel)
    }
    println("== lineitem_agg meta: " +
      Files.readString(Paths.get(wh, "lineitem_agg", "meta.json")))

    // Structured Streaming surface: windowed watermark agg over the
    // stored events table, drained into a versioned output table
    val evFix = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val src = runner.tableHandle("events_stream_src")
    src.append(evFix); src.flush()
    val streamed = graft.streaming.StreamingBridge.windowedCounts(
      graft.streaming.StreamingBridge.readStream(spark, runner.catalog, "events_stream_src"),
      tsCol = "ts", keyCol = "event_type")
    val n = graft.streaming.StreamingBridge.drainTo(
      spark, runner.catalog, streamed, "events_windowed", wh)
    println(s"== streaming drain wrote $n finalized windows:")
    runner.tableHandle("events_windowed").read
      .orderBy("window_start", "event_type").show(5, false)

    // webhook response + cron due-check through the public API
    runner.respondToRequest("hook_demo", "req-42", Map("status" -> "ok"))
    println("== webhook response row:")
    runner.tableHandle("hook_demo_responses").read.show(2, false)
    println("== cron '1 * * * *' due at 10:01? " +
      runner.dueNodes(java.time.LocalDateTime.of(2026, 1, 1, 10, 1)))

    // hash-bucketed partition-pruned upsert: one key touched → one
    // bucket rewritten, the rest hardlinked into the new version
    val bt = runner.tableHandle("bucketed")
      .init(uniqueOn = Seq("id"), hashBuckets = Some(8))
    bt.append(spark.range(1000).selectExpr("id", "concat('v', id) as s")); bt.flush()
    val bv1 = bt.meta.activeVersion.get
    bt.upsert(Seq((500L, "UPDATED")).toDF("id", "s")); bt.flush()
    val bv2 = bt.meta.activeVersion.get
    println(s"== bucketed upsert: $bv1 -> $bv2, rows=${bt.read.count()}, " +
      s"id500=${bt.read.where(col("id") === 500).select("s").head().getString(0)}")
    def inos(v: String) = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(runner.catalog.versionPath("bucketed", v))
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Files.getAttribute(p, "unix:ino")).toSet
    }
    println(s"== hardlinked files shared between versions: ${(inos(bv1) intersect inos(bv2)).size} " +
      s"of ${inos(bv2).size} in v2")
    println("== partition-pruned scan of one bucket:")
    println(bt.read.where(col("_gr_bucket") === 3).queryExecution.executedPlan
      .toString.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n").take(300))

    // training-data pipeline: dedup a document corpus end-to-end —
    // exact collapse, then near-dup cluster collapse (LSH pairs →
    // connected components → min-id survivors), then quality gating
    val docs = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "documents")
    val afterExact = graft.llm.TextDedup.exact(
      docs.withColumn("fp", graft.llm.TextAnalysis.fingerprint(col("text"))),
      idCol = "doc_id", on = "fp")
    val survivors = graft.llm.TextDedup.dropNearDuplicates(docs, "doc_id", "text")
    val gated = survivors.filter(
      graft.llm.TextAnalysis.langId(col("text")) =!= "und" &&
        graft.llm.TextAnalysis.nWords(col("text")) >= 5)
    println(s"== dedup pipeline: ${docs.count()} docs -> " +
      s"${afterExact.count()} exact-distinct -> " +
      s"${survivors.count()} after near-dup collapse -> " +
      s"${gated.count()} after lang/quality gate")
    // embedding near-dup scale path + IVF ANN probe
    val emb = graft.Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val nd = graft.llm.Similarity.nearDupPairs(
      graft.queries.Llm.plantedCorpus(emb), "vec_id", "embedding", minCos = 0.99)
    println(s"== embedding near-dup pairs (LSH prefilter + verify): ${nd.count()}")

    // probe: broken graph must fail compile with platform-style errors
    Files.writeString(Paths.get(dir, "graph.yml"),
      """functions:
        |  - node_file: agg.sql
        |    id: aggnode01
        |    inputs: {lineitem: nosuchstore}
        |    outputs: {out: lineitem_agg}
        |    parameters: {max_qty: MISSING}
        |stores:
        |  - table: lineitem_agg
        |""".stripMargin)
    val bad = new GraphRunner(spark, GraphManifest.load(dir), wh)
    println("== validate() on broken graph:")
    bad.validate().foreach(e => println("   error: " + e))
    try { bad.run() } catch {
      case e: IllegalArgumentException =>
        println("== run() refused: " + e.getMessage.linesIterator.next())
    }
    spark.stop()
  }
}
