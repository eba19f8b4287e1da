package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming contract rows (q71/q72/q77/q78/q79) drive a MemoryStream
  * harness whose FINAL-emission selectors (cumulative max, largest buffer,
  * sentinel-flushed append) are load-bearing: a wrong selector reads an
  * intermediate emission and only passes the oracle if no micro-batch ever
  * splits a user. These tests pin each row against a batch-computed
  * equivalent ON THE SAME SparkSession (no DuckDB needed), with the
  * time-ordered two-batch feed guaranteeing users ARE split across
  * batches. They are the in-repo killers for mutation batch 14's selector
  * mutants, and a row-count floor for the streaming family.
  */
class StreamingContractSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("q71 final n_matches equals the batch purchase count per user") {
    val got = run("q71_stream_seq_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id").cast("long").as("u"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exp)
    assert(got.values.exists(_ > 0), "no purchases — test is vacuous")
  }

  test("q72 final next_node equals the batch lead-after-first-signup per user") {
    val got = run("q72_stream_next_node").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val ev = graft.sources.Tables.events(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val exp = ev
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .withColumn("first_signup",
        min(when(col("event_type") === "signup", col("ts"))).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id").cast("long").as("u"))
      .agg(max(when(col("ts") === col("first_signup") &&
        col("event_type") === "signup", col("nxt"))).as("nn"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === exp)
    assert(got.values.exists(_.isDefined), "no signup successors — vacuous")
  }

  test("q77 flushed sessions equal the batch gap-labeling aggregated to sessions") {
    val got = run("q77_stream_sessionize").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ev = graft.sources.Tables.events(spark, sfDir)
    val wo = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val exp = ev
      .withColumn("prev", lag(col("ts"), 1).over(wo))
      .withColumn("newsess", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("newsess")).over(
        wo.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id").cast("long").as("u"), col("sid"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        (max(unix_micros(col("ts"))) + 1800000000L).as("e"),
        count(lit(1)).as("n"))
      .select(col("u"), col("s"), col("e"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === exp)
    assert(got.size > 100, s"implausibly few sessions flushed: ${got.size}")
  }

  test("q78 final flags equal the batch anchor-gated retention per user") {
    val got = run("q78_stream_retention").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    val ev = graft.sources.Tables.events(spark, sfDir)
    val exp = ev.groupBy(col("user_id").cast("long").as("u"))
      .agg(max(to_date(col("ts")) === lit("2024-01-01")).as("a"),
        max(to_date(col("ts")) === lit("2024-01-02")).as("b"),
        max(to_date(col("ts")) === lit("2024-01-03")).as("c"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(1) && r.getBoolean(2),
          r.getBoolean(1) && r.getBoolean(3)))).toMap
    assert(got === exp)
    assert(got.values.exists(_._2), "no retained users — vacuous")
  }

  test("q79 final steps equal the batch window_funnel per user") {
    val got = run("q79_stream_funnel").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.behavioral.BehavioralFunctions.register(spark)
    val ev = graft.sources.Tables.events(spark, sfDir)
    val exp = ev.groupBy(col("user_id").cast("long").as("u"))
      .agg(graft.behavioral.BehavioralFunctions.window_funnel(
        expr("INTERVAL '1' HOUR"), col("ts"),
        col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase").as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === exp)
    // sf0.001 has no depth-3 chains inside the 1h window; depth 2 is enough
    // to prove multi-step advancement across the micro-batch split
    assert(got.values.exists(_ >= 2), "no multi-step funnels — vacuous")
  }

  test("q80 final matched equals the batch sequence_match per user") {
    val got = run("q80_stream_seq_match").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    graft.behavioral.BehavioralFunctions.register(spark)
    val ev = graft.sources.Tables.events(spark, sfDir)
    val exp = ev.groupBy(col("user_id").cast("long").as("u"))
      .agg(graft.behavioral.BehavioralFunctions.sequence_match("(?1).*(?2)",
        col("ts"), col("event_type") === "view",
        col("event_type") === "purchase").as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === exp)
    assert(got.values.exists(identity), "no matches — vacuous")
  }

  test("q81 final step timestamps equal the batch sequence_match_events per user") {
    val got = run("q81_stream_seq_match_events").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    graft.behavioral.BehavioralFunctions.register(spark)
    val ev = graft.sources.Tables.events(spark, sfDir)
    val exp = ev.groupBy(col("user_id").cast("long").as("u"))
      .agg(graft.behavioral.BehavioralFunctions.sequence_match_events("(?1)(?2)",
        col("ts"), col("event_type") === "view",
        col("event_type") === "click").as("r"))
      .select(col("u"), unix_micros(get(col("r"), lit(0))).as("e1"),
        unix_micros(get(col("r"), lit(1))).as("e2"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got === exp)
    assert(got.exists(_._2.isDefined), "no matched step timestamps — vacuous")
  }

  test("q83 suppression equals the batch earlier-doc Hamming screen") {
    val got = run("q83_stream_simhash_dedup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // batch equivalent over the same md5 fingerprints: near-dup iff an
    // EARLIER-id doc (the synthetic event-time order) is within Hamming 3
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val fp = graft.ops.Dedup.simhashIndexMd5(d).cache()
    val suppressed = fp.as("a").join(fp.as("b"),
        col("a.id") < col("b.id") &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("b.id").as("id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val exp = fp.collect().map(r => r.getLong(0) -> suppressed(r.getLong(0))).toMap
    fp.unpersist()
    assert(got === exp)
    assert(got.values.exists(identity), "no near-dups — vacuous")
    assert(got.values.exists(!_), "all docs near-dup — vacuous")
  }

  test("q84 accumulated sink pairs equal the batch incremental probe") {
    val got = run("q84_stream_neardup_ingest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d = graft.sources.Tables.load(spark, sfDir, "documents")
    val idx = graft.ops.OpCaches.track(
      graft.ops.Dedup.minhashIndex(d.filter(col("doc_id") % 10 =!= 0)).persist())
    val exp = graft.ops.Dedup.minhashLshJoinAgainst(
        d.filter(col("doc_id") % 10 === 0), idx, threshold = 0.8)
      .select(col("new_id"), col("idx_id"), round(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.ops.OpCaches.unpersistAll()
    assert(got === exp)
    assert(got.nonEmpty, "no cross pairs — vacuous")
  }

  test("q80 selector latches matched across emissions (synthetic straddle)") {
    import spark.implicits._
    val emissions = Seq((1L, false), (1L, true), (2L, false))
      .toDF("user_id", "matched")
    val got = contracts.StreamingContracts.finalMatchedFlag(emissions)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> false))
  }

  test("q72 selector picks the LARGEST-buffer emission (synthetic straddle)") {
    import spark.implicits._
    // user 1's signup successor arrived only in a later batch: the first
    // emission has next_node = null at n_buffered = 1, the final one
    // "click" at n_buffered = 3. Whether the sf fixture ever produces this
    // straddle is data luck, so the selector is pinned here directly.
    val emissions = Seq(
      (1L, null.asInstanceOf[String], 1),
      (1L, "click", 3),
      (2L, "view", 2)).toDF("user_id", "next_node", "n_buffered")
    val got = contracts.StreamingContracts.lastNextNodeEmission(emissions)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === Map(1L -> Some("click"), 2L -> Some("view")))
  }

  test("q78 selector picks the accumulated flags, not an early emission (synthetic straddle)") {
    import spark.implicits._
    // user 1's day-2 event arrived in a later batch: first emission
    // (true,false,false), final (true,true,false) — the selector must OR
    // across emissions (per-flag max), not read the first
    val emissions = Seq(
      (1L, Seq(true, false, false)),
      (1L, Seq(true, true, false)),
      (2L, Seq(false, false, false))).toDF("user_id", "flags")
    val got = contracts.StreamingContracts.finalRetentionFlags(emissions)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got === Map(1L -> ((true, true, false)), 2L -> ((false, false, false))))
  }

  test("q79 selector picks the deepest step, not an early emission (synthetic straddle)") {
    import spark.implicits._
    val emissions = Seq((1L, 1), (1L, 3), (2L, 0)).toDF("user_id", "steps")
    val got = contracts.StreamingContracts.finalFunnelSteps(emissions)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 0))
  }

  test("streaming funnel survives a first micro-batch of conds=0 noise (expiry clamp)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val name = "graft_clamp_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val input = MemoryStream[streaming.StreamingBehavioral.FunnelEvent]
    val q = streaming.StreamingBehavioral
      .streamingFunnel(input.toDS(), windowMicros = 3600L * 1000000, numConds = 2,
        watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      // batch 1: only a conds=0 event — pre-clamp this armed a timeout at
      // (Long.MinValue + window)/1000 + 1, behind the watermark, and the
      // query crashed with an IllegalArgumentException
      input.addData(streaming.StreamingBehavioral.FunnelEvent(7L,
        ts("2024-01-01T00:00:00Z"), 0))
      q.processAllAvailable()
      input.addData(
        streaming.StreamingBehavioral.FunnelEvent(7L, ts("2024-01-01T00:01:00Z"), 1),
        streaming.StreamingBehavioral.FunnelEvent(7L, ts("2024-01-01T00:02:00Z"), 2))
      q.processAllAvailable()
      val steps = spark.table(name).groupBy(col("user_id"))
        .agg(max(col("steps")).as("s")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(steps === Map(7L -> 2))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("streaming funnel drops a late event behind the watermark before the state function") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val name = "graft_late_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val input = MemoryStream[streaming.StreamingBehavioral.FunnelEvent]
    val q = streaming.StreamingBehavioral
      .streamingFunnel(input.toDS(), windowMicros = 3600L * 1000000, numConds = 2,
        watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      // batch 1 advances the watermark to 01:50
      input.addData(streaming.StreamingBehavioral.FunnelEvent(8L,
        ts("2024-01-01T02:00:00Z"), 1))
      q.processAllAvailable()
      // batch 2: an event at 00:05, behind the 01:50 watermark. Observed
      // (and pinned here): Spark PRE-FILTERS late input rows for
      // flatMapGroupsWithState under event-time timeout, so the row is
      // dropped silently — it neither crashes the query nor creates state
      // for user 9. This is why the armExpiry watermark clamp is
      // defensive-only on this path: every row that reaches the state
      // function has ts >= watermark, so maxTs + horizon > watermark.
      input.addData(streaming.StreamingBehavioral.FunnelEvent(9L,
        ts("2024-01-01T00:05:00Z"), 1))
      q.processAllAvailable()
      val steps = spark.table(name).groupBy(col("user_id"))
        .agg(max(col("steps")).as("s")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(steps === Map(8L -> 1))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
