package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the workloads' inputs. Shapes follow the sf0.1
  * fixture tables (same column names and types, same row counts), but
  * every value is a pure function of the seed, so the benchmark needs
  * no file outside its checkout and one seed always yields one input.
  */
object Gen {
  val Lineitem = 600000L
  val Orders = 150000L
  val Customers = 15000L
  val Documents = 5000L
  val Events = 100000L
  val Users = 1500

  private val EventTypes = Vector("view", "click", "signup", "purchase", "error")
  private val Vocab = Seq("spark", "table", "stream", "query", "scan", "join",
    "sort", "hash", "group", "filter", "window", "merge", "batch", "row",
    "column", "key", "value", "data", "order", "line", "part", "customer",
    "vector", "agg", "fast", "slow", "big", "small", "the", "a")

  /** Uniform [0, 1) from the seed, a per-column tag and the row id. */
  private def u(seed: Long, tag: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(1000003L)).cast("double") / 1000003.0

  private def pick(seed: Long, tag: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*),
      (floor(u(seed, tag) * xs.size) + 1).cast("int"))

  private def money(seed: Long, tag: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, tag) * (hi - lo), 2)

  private def day(seed: Long, tag: Int, from: String, days: Int): Column =
    timestamp_seconds(unix_timestamp(lit(from).cast("timestamp")) +
      floor(u(seed, tag) * days) * 86400L)

  /** The four graph_batch source tables, one parquet directory each
    * under `dir`. */
  def writeGraphSources(spark: SparkSession, seed: Long, dir: String): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("lineitem", spark.range(Lineitem).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (floor(u(seed, 1) * 20000)).cast("long").as("l_partkey"),
      (floor(u(seed, 2) * 1000)).cast("long").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 3) * 50) + 1).cast("double").as("l_quantity"),
      money(seed, 4, 900.0, 105000.0).as("l_extendedprice"),
      round(u(seed, 5) * 0.1, 2).as("l_discount"),
      round(u(seed, 6) * 0.08, 2).as("l_tax"),
      pick(seed, 7, Seq("R", "A", "N")).as("l_returnflag"),
      pick(seed, 8, Seq("O", "F")).as("l_linestatus"),
      day(seed, 9, "1992-01-02", 2500).as("l_shipdate")))
    write("orders", spark.range(Orders).select(
      col("id").as("o_orderkey"),
      (floor(u(seed, 11) * Customers)).cast("long").as("o_custkey"),
      pick(seed, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      money(seed, 13, 850.0, 550000.0).as("o_totalprice"),
      day(seed, 14, "1992-01-01", 2400).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write("customer", spark.range(Customers).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (floor(u(seed, 21) * 25)).cast("int").as("c_nationkey"),
      money(seed, 22, -999.0, 9999.0).as("c_acctbal"),
      pick(seed, 23, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    // every 40th document repeats its predecessor's text (the curation
    // pipeline's exact-duplicate path), every 25th is too short to pass
    // its quality filter
    val textId = when(col("id") % 40 === 39, col("id") - 1).otherwise(col("id"))
    val nWords = when(textId % 25 === 0, lit(6))
      .otherwise((floor(u(seed, 31, textId) * 90) + 12).cast("int"))
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(32), textId, i), lit(Vocab.size.toLong)) + 1)
          .cast("int")))
    write("documents", spark.range(Documents)
      .withColumn("text", concat_ws(" ", words))
      .select(col("id").as("doc_id"), col("text"),
        pick(seed, 33, Seq("en", "fr", "de", "es", "zh")).as("lang"),
        concat(lit("src"), (floor(u(seed, 34) * 20)).cast("int")).as("source"),
        length(col("text")).cast("long").as("n_chars")))
  }

  /** One `events` row (the sf0.1 `events` shape, with `ts` as epoch
    * microseconds) and its global send position `seq`; a re-send of an
    * earlier `eventId` carries new values and a higher `seq`. */
  final case class Event(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String, seq: Long) {
    def json: String =
      s"""{"event_id":$eventId,"ts_us":$tsMicros,"user_id":$userId,""" +
        s""""event_type":"$eventType","value":$value,""" +
        s""""props":${quote(props)},"seq":$seq}"""
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A seeded event for `eventId`. */
  def event(rng: java.util.SplittableRandom, eventId: Long, seq: Long): Event =
    Event(eventId,
      1704067200000000L + eventId * 25000000L + rng.nextLong(25000000L),
      rng.nextLong(Users.toLong),
      EventTypes(rng.nextInt(EventTypes.size)),
      rng.nextInt(1, 20000) / 100.0,
      s"""{"k": ${rng.nextInt(100)}}""", seq)
}
