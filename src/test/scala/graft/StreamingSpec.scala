package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingBehavioral
import graft.streaming.StreamingBehavioral.{FunnelEvent, FunnelUpdate}

import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming sessionize via session_window groups by gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val q = StreamingBehavioral.sessionStats(events, "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
        (1L, ts("2024-01-01 02:00:00")),
        (2L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // user 1: one 2-event session + one 1-event session; user 2: one session
      assert(rows === Seq((1L, 1L), (1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("streaming funnel advances steps across micro-batches and times out state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val out = StreamingBehavioral.streamingFunnel(
      input.toDS(), windowMicros = 3600L * 1000000, numConds = 3,
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      // batch 1: view only → step 1
      input.addData(FunnelEvent(7L, ts("2024-01-01 00:00:00"), 1))
      q.processAllAvailable()
      // batch 2: click + purchase arrive later → step 3
      input.addData(
        FunnelEvent(7L, ts("2024-01-01 00:05:00"), 2),
        FunnelEvent(7L, ts("2024-01-01 00:10:00"), 4))
      q.processAllAvailable()
      val updates = spark.table("funnel").as[FunnelUpdate].collect()
        .filter(_.user_id == 7L).map(_.steps).toSeq
      assert(updates.contains(1) && updates.contains(3), updates.toString)

      // advance the watermark far beyond maxTs + window → state times out;
      // a new event afterwards starts a fresh chain at step 1
      input.addData(FunnelEvent(99L, ts("2024-01-02 12:00:00"), 1))
      q.processAllAvailable()
      input.addData(FunnelEvent(7L, ts("2024-01-02 12:00:01"), 2))
      q.processAllAvailable()
      val after = spark.table("funnel").as[FunnelUpdate].collect()
        .filter(u => u.user_id == 7L).map(_.steps).toSeq
      // the final update for user 7 (fresh state, click with no view) is step 0
      assert(after.last === 0, after.toString)
    } finally q.stop()
  }

  test("streaming funnel rejects numConds outside 1..32 (step 33 would read the entry bit)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    // the FunnelEvent mask has 32 bits: condition 33 would test bit 32,
    // which the JVM shift masks to bit 0, so a conds = -1 event would
    // "reach" step 33
    for (bad <- Seq(0, 33))
      intercept[IllegalArgumentException] {
        StreamingBehavioral.streamingFunnel(input.toDS(), windowMicros = 3600L * 1000000,
          numConds = bad)
      }
  }

  test("funnel prune keeps an event exactly at watermark - window (boundary chain still completes)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val out = StreamingBehavioral.streamingFunnel(
      input.toDS(), windowMicros = 3600L * 1000000, numConds = 2,
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("funnel_boundary")
      .outputMode("update").start()
    try {
      // entry at 00:00:00
      input.addData(FunnelEvent(5L, ts("2024-01-01 00:00:00"), 1))
      q.processAllAvailable()
      // the click at exactly entry+window (strictly-greater break: still
      // inside) rides in the SAME batch as the watermark-pusher — late
      // filtering uses the PREVIOUS batch's watermark, so it is admitted;
      // after this batch the watermark is exactly 01:00:00
      input.addData(
        FunnelEvent(5L, ts("2024-01-01 01:00:00"), 2),
        FunnelEvent(99L, ts("2024-01-01 01:10:00"), 1))
      q.processAllAvailable()
      // a condition-less tick re-invokes user 5 with watermark = 01:00:00:
      // the prune horizon (watermark - window) lands exactly ON the entry's
      // ts, and the `>=` must keep it — observable as state size 2, not 1
      // (steps can't regress: the monotone best would mask an over-prune)
      input.addData(FunnelEvent(5L, ts("2024-01-01 02:00:00"), 0))
      q.processAllAvailable()
      val updates = spark.table("funnel_boundary").as[FunnelUpdate].collect()
        .filter(_.user_id == 5L).toSeq
      assert(updates.map(_.steps).max === 2, updates.toString)
      assert(updates.last.n_events === 2,
        s"event exactly at watermark - window was pruned: $updates")
    } finally q.stop()
  }
}

class SessionBoundarySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("gap == threshold stays in-session in BOTH batch sessionize and streaming session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two events exactly 30 minutes apart
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 00:30:00")))
    rows.toDF("user_id", "ts").createOrReplaceTempView("sb_events")
    val batchSessions = spark.sql(
      """SELECT max(sid) FROM (
        |  SELECT sessionize(ts, INTERVAL '30' MINUTE)
        |    OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |  FROM sb_events)""".stripMargin).collect()(0).getLong(0)
    assert(batchSessions === 1L) // gap == threshold stays in-session (reference rule)
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamingBehavioral.sessionStats(input.toDF().toDF("user_id", "ts"), "30 minutes")
      .writeStream.format("memory").queryName("sb_sessions")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamingSessions = spark.table("sb_sessions").count()
      // Spark's session_window merges an event exactly gap-distant from the
      // previous one — the same boundary rule as the reference's
      // strictly-greater sessionize gap. Pinned so a Spark behavior change
      // (or a gap-rule refactor here) shows up as a divergence.
      assert(streamingSessions === 1L)
    } finally q.stop()
  }
}

class StreamingBatchDifferentialSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("streaming funnel's final state equals the batch aggregate on random data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    // unique per-event timestamps (both paths sort unstably, so ties could
    // legitimately order differently); random users and condition bits
    val perm = rnd.shuffle((0 until 3600).toVector).take(600)
    val events = perm.map { s =>
      StreamingBehavioral.FunnelEvent(
        rnd.nextInt(23).toLong,
        new Timestamp(1704067200000L + s * 1000L),
        1 << rnd.nextInt(3))
    }
    val input = MemoryStream[StreamingBehavioral.FunnelEvent]
    // watermark delay far beyond the data span: no pruning, no timeout —
    // the final streaming answer must equal the batch aggregate exactly
    val out = StreamingBehavioral.streamingFunnel(
      input.toDS(), windowMicros = 1800L * 1000000, numConds = 3,
      watermark = "10000 hours")
    val q = out.writeStream.format("memory").queryName("funnel_diff")
      .outputMode("update").start()
    try {
      events.grouped(97).foreach { batch => input.addData(batch); q.processAllAvailable() }
      val streaming = spark.table("funnel_diff")
        .as[StreamingBehavioral.FunnelUpdate].collect()
        .groupBy(_.user_id)
        // steps are monotone per user (best never decreases), so the max
        // update IS the final state regardless of sink row order
        .map { case (u, ups) => u -> ups.map(_.steps).max }
      events.toDF("user_id", "ts", "conds").createOrReplaceTempView("sd_events")
      val batchRes = spark.sql(
        """SELECT user_id, window_funnel(INTERVAL '30' MINUTE, ts,
          |  (conds & 1) > 0, (conds & 2) > 0, (conds & 4) > 0) AS s
          |FROM sd_events GROUP BY user_id""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streaming.keySet === batchRes.keySet)
      for ((u, s) <- streaming) {
        assert(s === batchRes(u), s"user=$u streaming=$s batch=${batchRes(u)}")
      }
    } finally q.stop()
  }
}

class StreamingRetentionSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("random events across micro-batches: final flags == batch retention aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val numConds = 4
    val rnd = new scala.util.Random(61)
    // 30 users × ~20 events with random condition bitmasks over 4 conds;
    // monotone-ish timestamps so nothing is late
    val events = (0 until 600).map { i =>
      StreamingBehavioral.RetentionEvent(
        rnd.nextInt(30).toLong,
        ts(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
        rnd.nextInt(1 << numConds))
    }
    val input = MemoryStream[StreamingBehavioral.RetentionEvent]
    val q = StreamingBehavioral
      .streamingRetention(input.toDS(), numConds, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("ret_out")
      .outputMode("update").start()
    try {
      events.grouped(97).foreach { b => input.addData(b); q.processAllAvailable() }
      // flags are monotone (the mask only grows), so the per-user OR of
      // every update emission equals the final state
      val aggCols = (0 until numConds).map(i =>
        max(element_at(col("flags"), i + 1).cast("int")).as(s"f$i"))
      val got = spark.table("ret_out")
        .groupBy(col("user_id"))
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()
        .map(r => r.getLong(0) -> (0 until numConds).map(i => r.getInt(i + 1) == 1))
        .toMap
      val batch = events.toDF()
        .groupBy(col("user_id"))
        .agg(graft.behavioral.BehavioralFunctions.retention(
          (0 until numConds).map(i =>
            (col("conds").bitwiseAND(lit(1 << i))) =!= 0): _*).as("r"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Boolean](1).toIndexedSeq)
        .toMap
      assert(got.keySet === batch.keySet)
      for ((u, flags) <- batch)
        assert(got(u) === flags, s"user $u: streaming ${got(u)} vs batch $flags")
    } finally q.stop()
  }

  test("state expires past the horizon: an idle user's mask restarts from zero") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingBehavioral.RetentionEvent]
    // horizon = 1 hour: user 1's anchor (bit 0) expires before cond 1 arrives
    val q = StreamingBehavioral
      .streamingRetention(input.toDS(), numConds = 2,
        watermark = "1 minute", horizonMicros = 3600L * 1000000)
      .toDF().writeStream.format("memory").queryName("ret_expiry")
      .outputMode("update").start()
    try {
      input.addData(StreamingBehavioral.RetentionEvent(1L, ts("2024-01-01 00:00:00"), 1))
      q.processAllAvailable()
      // advance the watermark far past 00:00 + 1h so user 1's state times out
      input.addData(StreamingBehavioral.RetentionEvent(2L, ts("2024-01-01 06:00:00"), 1))
      q.processAllAvailable()
      // user 1 returns with ONLY condition 1: anchor is gone, so both
      // flags gate to false (the horizon is the retention product's
      // cohort window — forgetting is the contract, like the dedup ops)
      input.addData(StreamingBehavioral.RetentionEvent(1L, ts("2024-01-01 06:05:00"), 2))
      q.processAllAvailable()
      val rows = spark.table("ret_expiry")
        .collect().map(r => (r.getLong(0), r.getSeq[Boolean](1).toIndexedSeq))
      val user1Last = rows.filter(_._1 == 1L).last._2
      assert(user1Last === IndexedSeq(false, false),
        s"expired anchor must not gate new flags: $rows")
    } finally q.stop()
  }
}

class StreamingDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("streaming exact dedup keeps first occurrence within the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val q = graft.streaming.StreamingBehavioral
      .streamingExactDedup(docs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 00:00:00"), "doc A"),
        (ts("2024-01-01 00:01:00"), "doc B"),
        (ts("2024-01-01 00:02:00"), "doc A")) // dup of first
      q.processAllAvailable()
      // advance watermark far enough to emit append results
      input.addData((ts("2024-01-01 01:00:00"), "doc C"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(texts.count(_ == "doc A") === 1, texts)
      assert(texts.contains("doc B"))
    } finally q.stop()
  }

  test("dedup state is watermark-bounded: a dup after state expiry re-emits (and that is the contract)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val q = graft.streaming.StreamingBehavioral
      .streamingExactDedup(docs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_expiry")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:00"), "doc A"))
      q.processAllAvailable()
      // watermark sails past 00:00 + 10min → doc A's digest is GC'd (this
      // bounded state is the whole point at stream scale)
      input.addData((ts("2024-01-01 02:00:00"), "filler"))
      q.processAllAvailable()
      // same text re-arrives AFTER its state expired: emitted again —
      // dedup is guaranteed only within the watermark horizon
      input.addData((ts("2024-01-01 02:05:00"), "doc A"))
      q.processAllAvailable()
      // flush append results
      input.addData((ts("2024-01-01 04:00:00"), "flush"))
      q.processAllAvailable()
      val texts = spark.table("dedup_expiry").select("text")
        .collect().map(_.getString(0)).toSeq
      assert(texts.count(_ == "doc A") === 2, texts.toString)
    } finally q.stop()
  }
}

class StreamingSimhashDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming simhash dedup flags near-dups within the watermark, keeps distinct docs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the vote stage emits same-batch with original event times, which the
    // static chained-stateful-operator check cannot prove (see scaladoc)
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.StreamingBehavioral
      .streamingSimhashDedup(docs, maxDist = 3, watermark = "10 minutes")
      .writeStream.format("memory").queryName("simdedup_out")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again today"
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), base),
        (2L, ts("2024-01-01 00:01:00"), base), // identical -> hamming 0
        (3L, ts("2024-01-01 00:02:00"),
          "completely unrelated content about spark aggregation engines instead"))
      q.processAllAvailable()
      // doc 4: near-dup of doc 1 arriving in a LATER micro-batch
      input.addData((4L, ts("2024-01-01 00:03:00"), base))
      q.processAllAvailable()
      // push the watermark far enough to flush all append results
      input.addData((9L, ts("2024-01-01 02:00:00"), "watermark flush filler row"))
      q.processAllAvailable()
      val got = spark.table("simdedup_out")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup"))
        .toMap
      assert(got(1L) === false)
      assert(got(2L) === true)  // same-batch near-dup of doc 1
      assert(got(3L) === false) // distinct content
      assert(got(4L) === true)  // cross-batch near-dup via band state
    } finally q.stop()
  }

  test("simhash dedup state is watermark-bounded: near-dup after expiry is new again") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the vote stage emits same-batch with original event times, which the
    // static chained-stateful-operator check cannot prove (see scaladoc)
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.StreamingBehavioral
      .streamingSimhashDedup(docs, maxDist = 3, watermark = "10 minutes")
      .writeStream.format("memory").queryName("simdedup_expiry")
      .outputMode("append").start()
    try {
      val base = "some boilerplate paragraph that web pages copy everywhere verbatim"
      input.addData((1L, ts("2024-01-01 00:00:00"), base))
      q.processAllAvailable()
      // watermark sails far past 00:00 + 10min -> doc 1's fingerprints GC
      input.addData((2L, ts("2024-01-01 03:00:00"), "totally different filler text here"))
      q.processAllAvailable()
      // the same text re-arrives AFTER expiry: new again (the contract)
      input.addData((3L, ts("2024-01-01 03:05:00"), base))
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-01 06:00:00"), "final watermark flush row"))
      q.processAllAvailable()
      val got = spark.table("simdedup_expiry")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup"))
        .toMap
      assert(got(1L) === false)
      assert(got(3L) === false, "expired fingerprint must not suppress")
    } finally q.stop()
  }

  test("a doc arriving behind the watermark in a later batch is dropped entirely") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the vote stage emits same-batch with original event times, which the
    // static chained-stateful-operator check cannot prove (see scaladoc)
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.StreamingBehavioral
      .streamingSimhashDedup(docs, maxDist = 3, watermark = "10 minutes")
      .writeStream.format("memory").queryName("simdedup_late")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"), "the first on-time document row"))
      q.processAllAvailable()
      // push the watermark to 01:50 (02:00 - 10 min)
      input.addData((2L, ts("2024-01-01 02:00:00"), "watermark advancing filler text"))
      q.processAllAvailable()
      // doc 3 is event-timed 00:30 — far behind the 01:50 watermark: the
      // standard streaming-lateness contract drops it before the stateful
      // operators, so it must never surface in the output
      input.addData((3L, ts("2024-01-01 00:30:00"), "a very late straggler document"))
      q.processAllAvailable()
      // flush append results
      input.addData((9L, ts("2024-01-01 04:00:00"), "final flush row for emission"))
      q.processAllAvailable()
      val ids = spark.table("simdedup_late")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids.contains(1L))
      assert(ids.contains(2L))
      assert(!ids.contains(3L), s"late doc must be dropped, got $ids")
    } finally q.stop()
  }
}

class StreamingSimhashDifferentialSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("random corpus: streaming flags == batch seen-based suppression reference") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    // corpus with planted near-dup families: base docs + light perturbations
    val rnd = new scala.util.Random(23)
    val words = (0 until 30).map(i => s"w$i")
    val bases = (0 until 12).map(_ =>
      Seq.fill(10)(words(rnd.nextInt(words.length))))
    val docs = (0 until 40).map { i =>
      val base = bases(rnd.nextInt(bases.length))
      // perturb 0..2 token positions: mostly within hamming 3, sometimes not
      val toks = base.toArray
      for (_ <- 0 until rnd.nextInt(3))
        toks(rnd.nextInt(toks.length)) = words(rnd.nextInt(words.length))
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 00:${10 + i}:00"),
        toks.mkString(" "))
    }
    // batch reference: doc i is a near-dup iff ANY earlier doc (by ts, then
    // id — the operator's within-batch order) is within hamming 3. All ts
    // fit inside the watermark horizon, so no expiry in this window.
    val fps = graft.ops.Dedup.simhash(docs.toDF("doc_id", "ts", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ordered = docs.sortBy(d => (d._2.getTime, d._1))
    val expected = scala.collection.mutable.Map.empty[Long, Boolean]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    for ((id, _, _) <- ordered) {
      val fp = fps(id)
      expected(id) = seen.exists(s => java.lang.Long.bitCount(s ^ fp) <= 3)
      seen += fp
    }
    // stream the same corpus in 4 micro-batches
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingBehavioral
      .streamingSimhashDedup(input.toDF().toDF("doc_id", "ts", "text"),
        maxDist = 3, watermark = "2 hours")
      .writeStream.format("memory").queryName("simdedup_diff")
      .outputMode("append").start()
    try {
      ordered.grouped(10).foreach { g => input.addData(g); q.processAllAvailable() }
      input.addData((999L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"),
        "flush row far in the future"))
      q.processAllAvailable()
      val got = spark.table("simdedup_diff")
        .filter(org.apache.spark.sql.functions.col("doc_id") =!= 999L)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup"))
        .toMap
      assert(got.keySet === expected.keys.toSet)
      for ((id, want) <- expected) assert(got(id) === want, s"doc $id")
    } finally q.stop()
  }
}

/** Killer tests for the batch-5 streaming mutation survivors — each
  * constructs the exact boundary its mutant hides behind. The magic
  * docs/tokens were found by search over the (fixed) XXH64 hash space and
  * are re-verified by assertion here, so a hash-function change fails the
  * precondition loudly instead of silently weakening the test. */
class StreamingMutantKillSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  // base with token 1 replaced: simhash hamming to base is EXACTLY 3
  private val atThree = "alpha repl47 gamma delta epsilon zeta eta theta iota kappa"
  // single tokens whose xxhash64 matches base's fingerprint on exactly the
  // given 16-bit band (and is > 3 away overall) — they invoke base's state
  // buckets without being near-dups
  private val bandMatchers = Seq("e94009", "e39636", "e57338", "e67174")

  private def fpOf(texts: (Long, String)*): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.Dedup.simhash(texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("near-dup at EXACTLY hamming == maxDist is suppressed (boundary <=)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val fps = fpOf(1L -> base, 2L -> atThree)
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(2L)) === 3, "precondition")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingBehavioral
      .streamingSimhashDedup(input.toDF().toDF("doc_id", "ts", "text"),
        maxDist = 3, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sm1_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"), base))
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 00:01:00"), atThree))
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-01 03:00:00"), "flush far future"))
      q.processAllAvailable()
      val got = spark.table("sm1_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup")).toMap
      assert(got(2L) === true, "hamming == maxDist must suppress")
    } finally q.stop()
  }

  test("a fingerprint exactly AT the watermark still suppresses (GC boundary >=)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val pusher = "totally unrelated watermark pusher content here"
    val fps = fpOf((1L -> base) +: (10L -> pusher) +:
      bandMatchers.zipWithIndex.map { case (t, i) => (20L + i) -> t }: _*)
    // preconditions: each matcher shares ITS band with base, none is a
    // near-dup of base, the pusher shares no band at all
    for (b <- 0 until 4) {
      val m = fps(20L + b)
      assert(((m >>> (b * 16)) & 0xFFFFL) === ((fps(1L) >>> (b * 16)) & 0xFFFFL))
      assert(java.lang.Long.bitCount(m ^ fps(1L)) > 3)
    }
    assert((0 until 4).forall(b =>
      ((fps(10L) >>> (b * 16)) & 0xFFFFL) != ((fps(1L) >>> (b * 16)) & 0xFFFFL)))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingBehavioral
      .streamingSimhashDedup(input.toDF().toDF("doc_id", "ts", "text"),
        maxDist = 3, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sm3_out")
      .outputMode("append").start()
    try {
      // base's fingerprints enter all 4 band buckets at 00:00:00
      input.addData((1L, ts("2024-01-01 00:00:00"), base))
      q.processAllAvailable()
      // watermark -> exactly base's event time
      input.addData((10L, ts("2024-01-01 00:10:00"), pusher))
      q.processAllAvailable()
      // invoke ALL FOUR of base's buckets while watermark == base's ts: the
      // GC horizon lands exactly ON base's fingerprint in each of them
      input.addData(bandMatchers.zipWithIndex.map { case (t, i) =>
        ((20L + i), ts(s"2024-01-01 00:09:0$i"), t) }: _*)
      q.processAllAvailable()
      // a copy of base arrives: only the at-watermark fingerprints can
      // suppress it — an over-eager GC (>) already dropped every one
      input.addData((2L, ts("2024-01-01 00:09:30"), base))
      q.processAllAvailable()
      input.addData((9L, ts("2024-01-01 03:00:00"), "flush far future"))
      q.processAllAvailable()
      val got = spark.table("sm3_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup")).toMap
      assert(got(2L) === true,
        "fingerprint exactly at the watermark must still suppress")
    } finally q.stop()
  }

  test("funnel pruning never lowers a previously reported step (monotone best)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingBehavioral.{FunnelEvent, FunnelUpdate}
    val input = MemoryStream[FunnelEvent]
    val out = graft.streaming.StreamingBehavioral.streamingFunnel(
      input.toDS(), windowMicros = 3600L * 1000000, numConds = 3,
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sm5_out")
      .outputMode("update").start()
    try {
      // a completed 2-step chain
      input.addData(
        FunnelEvent(5L, ts("2024-01-01 00:00:00"), 1),
        FunnelEvent(5L, ts("2024-01-01 00:30:00"), 2))
      q.processAllAvailable()
      // watermark -> 01:10 (above entry+window for the 00:00 event, below
      // the state timeout at maxTs+window = 01:30)
      input.addData(FunnelEvent(99L, ts("2024-01-01 01:20:00"), 1))
      q.processAllAvailable()
      // re-invoke user 5: the prune horizon (01:10 - 1h = 00:10) drops the
      // chain's entry event; the rescan alone would report 0 — the
      // monotone best must hold the reported step at 2
      input.addData(FunnelEvent(5L, ts("2024-01-01 01:15:00"), 4))
      q.processAllAvailable()
      val updates = spark.table("sm5_out").as[FunnelUpdate].collect()
        .filter(_.user_id == 5L).map(_.steps).toSeq
      assert(updates.head === 2)
      assert(updates.last === 2,
        s"pruning regressed the reported funnel step: $updates")
    } finally q.stop()
  }
}
