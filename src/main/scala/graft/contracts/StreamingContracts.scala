package graft
package contracts

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Harness._

object StreamingContracts {

  /** The streaming funnel's window in microseconds. */
  private val HourUs = 3600L * 1000000

  /** Streams `rows` through `operator` into a memory sink in output mode
    * `mode`: two time-ordered halves, one micro-batch each, then the
    * optional far-future `sentinel`, whose batch advances the watermark so
    * the engine's no-data micro-batch flushes an append-mode operator's
    * open state. Returns `readOut` of the sink table, which must be
    * materialized: the query is stopped and its view dropped on exit. */
  private def viaMemorySink[T: Encoder](s: SparkSession, row: String, rows: Array[T],
      mode: String, sentinel: Option[T] = None)(operator: Dataset[T] => Dataset[_])(
      readOut: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: SQLContext = s.sqlContext
    val name = s"graft_${row.takeWhile(_ != '_')}_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val input = MemoryStream[T]
    val q = operator(input.toDS()).toDF().writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      rows.grouped(math.max(rows.length / 2, 1)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      sentinel.foreach { e => input.addData(e); q.processAllAvailable() }
      readOut(s.table(name))
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
    }
  }

  /** A sentinel event time 200 days and a minute past the latest of `ts`:
    * far enough that its watermark closes every session and band bucket. */
  private def sentinelTs(ts: Iterator[java.sql.Timestamp]): java.sql.Timestamp =
    new java.sql.Timestamp(ts.map(_.getTime).foldLeft(0L)(math.max) + 200L * 86400 * 1000 + 60000)

  /** The horizon of the update-mode streaming rows: ten years, wide enough
    * that the forgetting contract is not in play. */
  private val WideHorizonUs = 3650L * 86400 * 1000000

  /** Final-emission selector for the q72 next-node stream: the per-user
    * buffer only grows under the wide harness horizon, so the final
    * update-mode emission is the one with the largest `n_buffered` —
    * strictly larger whenever a later batch added an event for the user,
    * single emission otherwise. Extracted (and unit-pinned with a
    * synthetic straddle in StreamingContractSpec) because whether the
    * FIXTURE ever splits a user's signup from its successor across the
    * two-batch feed is data luck — a wrong selector must fail a test
    * either way. */
  private[graft] def lastNextNodeEmission(tbl: DataFrame): DataFrame =
    tbl.withColumn("__rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("n_buffered").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("next_node"))

  /** Final-emission selectors for the q78/q79 update-mode streams: both
    * emit MONOTONE per-user values (the retention mask only accumulates;
    * the funnel's best-step guard never lowers a reached depth), so the
    * final emission is the per-user max. Extracted and unit-pinned with
    * synthetic straddles (StreamingContractSpec) for the same reason as
    * `lastNextNodeEmission`: at the fixture's time span the two-batch
    * midpoint split never splits the Jan 1-3 retention window or an
    * active 1h funnel, so an end-to-end differential alone cannot tell
    * max from min. */
  private[graft] def finalRetentionFlags(tbl: DataFrame): DataFrame =
    tbl.groupBy(col("user_id"))
      .agg(max(element_at(col("flags"), 1)).as("d1"),
           max(element_at(col("flags"), 2)).as("d2"),
           max(element_at(col("flags"), 3)).as("d3"))

  private[graft] def finalFunnelSteps(tbl: DataFrame): DataFrame =
    tbl.groupBy(col("user_id")).agg(max(col("steps")).as("steps"))

  /** q80's final-emission selector: `matched` is a LATCH (monotone
    * false -> true), so the final emission is the per-user max. Same
    * data-luck rationale as the other selectors — at sf0.001 most users
    * latch within the first micro-batch, so only the synthetic straddle
    * test exercises the flip deterministically. */
  private[graft] def finalMatchedFlag(tbl: DataFrame): DataFrame =
    tbl.groupBy(col("user_id")).agg(max(col("matched")).as("matched"))

  /** [[harnessRow]] plus `noDataMicroBatches` OFF — for the UPDATE-mode
    * streaming contract rows (q71/q72/q78–q81) and the immediate-append
    * dedup (q82), whose output a no-data micro-batch can never change:
    * their stateful operators emit ONLY from data batches (every
    * `hasTimedOut` branch returns `Iterator.empty`, and
    * `dropDuplicatesWithinWatermark` emits first occurrences in the
    * arriving batch), so the engine's watermark-driven idle batches after
    * each data batch only fire state-expiry timeouts that, under the
    * harness's multi-year horizons, can never be armed below the
    * watermark anyway. Profiled (round 22, guide §1.2): each idle batch
    * costs a full micro-batch cycle — planning, offset/commit WAL, one
    * state-store commit per partition per stateful op — ~0.2–0.5 s here,
    * HALF the micro-batches of a 2-data-batch feed. The APPEND-mode rows
    * (q77/q83) keep the default: their final emission IS a no-data batch
    * (the sentinel advances the watermark, the idle batch flushes).
    * Production guidance unchanged: the knob trades state-GC latency for
    * per-batch overhead and is safe exactly when emission never depends
    * on idle-time watermark passage (SCALE.md, Streaming). */
  private def harnessRowNoIdle(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    harnessRow { (s, dir) =>
      withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled", "false")(fn(s, dir))
    }

  // ---- streaming contract rows: the streaming operators vs the same ----
  // DuckDB oracles the batch aggregates use. The events table streams
  // through MemoryStream in two time-ordered micro-batches (state carry,
  // watermark advance, and the consumed-prefix drop all exercised), and
  // the final per-user emission must hash-match the batch oracle. The
  // collect feeding MemoryStream is harness-bounded driver state (the
  // production path reads a real source); the horizon is set wide so the
  // forgetting contract is not in play — these rows pin EQUALITY with
  // batch semantics, the lateness/horizon contracts are unit-tested.
  val q71 = Contract("q71_stream_seq_count", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "events", "q71_stream_seq_count")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("conds"))
        .as[streaming.StreamingBehavioral.SeqEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q71_stream_seq_count", rows, "update")(
        streaming.StreamingBehavioral.streamingSequenceCount(_, "(?1)",
          watermark = "10 minutes", horizonMicros = WideHorizonUs)) { tbl =>
        // n_matches is cumulative and monotone: max = the final count
        tbl.groupBy(col("user_id"))
          .agg(max(col("n_matches")).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          .toDF("user_id", "n")
      }
    },
    // the streaming rows answer the same questions as q06/q08, so their
    // oracles are the same SQL — the point is that the STREAMING execution
    // path (MemoryStream, state carry across two micro-batches, consumed
    // prefix, update-mode emissions) lands on the identical hash
    oracleSql = BehavioralContracts.q06.oracleSql)

  val q72 = Contract("q72_stream_next_node", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      assertTieFreePerUserTs(events(s, dir), "q72_stream_next_node", dir)
      val rows = harnessFeed(s, dir, "events", "q72_stream_next_node")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("event_type").as("value"),
          (col("event_type") === "signup").as("base_cond"),
          when(col("event_type") === "signup", 1).otherwise(0).as("conds"))
        .as[streaming.StreamingBehavioral.NNEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q72_stream_next_node", rows, "update")(
        streaming.StreamingBehavioral.streamingSequenceNextNode(_, "forward", "head",
          numSteps = 1, watermark = "10 minutes", horizonMicros = WideHorizonUs)) { tbl =>
        lastNextNodeEmission(tbl)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
          .toDF("user_id", "next_node")
      }
    },
    oracleSql = BehavioralContracts.q08.oracleSql)

  // streaming sessionize vs the q01 oracle aggregated to sessions. The
  // operator is Spark's native session_window (merging session store) in
  // APPEND mode — a session only emits once the watermark passes its end,
  // so after the two data batches ONE far-future sentinel batch (user
  // -1, filtered out) advances the watermark and flushes every real
  // session via the engine's no-data micro-batch (noDataMicroBatches, on
  // by default; mutation SS141 pins the flush margin; a second sentinel
  // was measured as pure fixed cost).
  // Probed (GapProbe, round 10): session_window merges at diff == gap
  // exactly like the batch sessionize's `> gap` new-session rule, so the
  // q01 lag/sum labeling and the session store agree on boundaries, and
  // session_end == last event ts + gap.
  val q77 = Contract("q77_stream_sessionize", run = harnessRow { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "events", "q77_stream_sessionize")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          lit(0).as("conds"))
        .as[streaming.StreamingBehavioral.SeqEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q77_stream_sessionize", rows, "append",
        sentinel = Some(streaming.StreamingBehavioral.SeqEvent(-1L,
          sentinelTs(rows.iterator.map(_.ts)), 0)))(in =>
        streaming.StreamingBehavioral.sessionStats(in.select(col("user_id"), col("ts")),
          gap = "30 minutes", watermark = "10 minutes")) { tbl =>
        tbl.filter(col("user_id") >= 0)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("session_start_us"),
            unix_micros(col("session_end")).as("session_end_us"),
            col("n_events"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
          .toDF("user_id", "session_start_us", "session_end_us", "n_events")
      }
    },
    // q01's lag/sum session labeling aggregated to sessions: same gap
    // convention as the session store (diff > gap starts a new session —
    // session_window merges at == gap, probed in round 10), session end =
    // last event + gap, matching session_window.end
    oracleSql = """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |lab AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l)
        |SELECT user_id,
        |  min(epoch_us(ts)) AS session_start_us,
        |  max(epoch_us(ts)) + 1800000000 AS session_end_us,
        |  count(*) AS n_events
        |FROM lab GROUP BY user_id, sid""".stripMargin)

  // streaming retention vs the q02 oracle: per-user O(1) OR-mask state in
  // update mode. The anchor-gated flags are monotone (the mask only
  // accumulates), so each user's final emission is the per-flag max.
  val q78 = Contract("q78_stream_retention", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "events", "q78_stream_retention")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          (when(to_date(col("ts")) === lit("2024-01-01"), 1).otherwise(0)
            + when(to_date(col("ts")) === lit("2024-01-02"), 2).otherwise(0)
            + when(to_date(col("ts")) === lit("2024-01-03"), 4).otherwise(0)).as("conds"))
        .as[streaming.StreamingBehavioral.RetentionEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q78_stream_retention", rows, "update")(
        streaming.StreamingBehavioral.streamingRetention(_, numConds = 3,
          watermark = "10 minutes", horizonMicros = WideHorizonUs)) { tbl =>
        finalRetentionFlags(tbl)
          .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq
          .toDF("user_id", "d1", "d2", "d3")
      }
    },
    // same oracle as q02 — the streaming execution path (O(1) OR-mask
    // state, two micro-batches, update-mode re-emission) must land on the
    // identical anchor-gated flags
    oracleSql = BehavioralContracts.q02.oracleSql)

  // streaming window_funnel vs the q03 oracle: per-user packed event
  // buffer re-scanned per micro-batch, best-step monotone guard — the
  // final emission is the per-user max. conds=0 events (signup/error)
  // still flow so every user emits, matching the oracle's DISTINCT-user
  // completion.
  val q79 = Contract("q79_stream_funnel", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "events", "q79_stream_funnel")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          (when(col("event_type") === "view", 1).otherwise(0)
            + when(col("event_type") === "click", 2).otherwise(0)
            + when(col("event_type") === "purchase", 4).otherwise(0)).as("conds"))
        .as[streaming.StreamingBehavioral.FunnelEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q79_stream_funnel", rows, "update")(
        streaming.StreamingBehavioral.streamingFunnel(_, windowMicros = HourUs,
          numConds = 3, watermark = "10 minutes")) { tbl =>
        finalFunnelSteps(tbl)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
          .toDF("user_id", "steps")
      }
    },
    // same oracle as q03 — the streaming funnel's per-batch re-scan with
    // the monotone best-step guard must reach exactly the batch depth
    oracleSql = BehavioralContracts.q03.oracleSql)

  // streaming sequence_match vs the q04 oracle (wildcard pattern
  // "(?1).*(?2)" view->purchase): per-user packed buffer + the batch
  // pattern engine per micro-batch, with a match LATCH that drops the
  // buffer (O(1) state once matched). matched is monotone -> max.
  val q80 = Contract("q80_stream_seq_match", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "events", "q80_stream_seq_match")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          (when(col("event_type") === "view", 1).otherwise(0)
            + when(col("event_type") === "purchase", 2).otherwise(0)).as("conds"))
        .as[streaming.StreamingBehavioral.SeqEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q80_stream_seq_match", rows, "update")(
        streaming.StreamingBehavioral.streamingSequenceMatch(_, "(?1).*(?2)",
          watermark = "10 minutes", horizonMicros = WideHorizonUs)) { tbl =>
        finalMatchedFlag(tbl)
          .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
          .toDF("user_id", "matched")
      }
    },
    // same oracle as q04 — the streaming pattern engine's latch across two
    // micro-batches must land on the batch wildcard-match answer
    oracleSql = BehavioralContracts.q04.oracleSql)

  // streaming sequence_match_events vs the q07 oracle (adjacency
  // "(?1)(?2)" view->click): the latch captures the first match's (?N)
  // step timestamps; with a time-ordered feed the latched match IS the
  // batch first match. matched_ts is null-until-latched then constant,
  // so max over the guarded elements selects the final emission.
  val q81 = Contract("q81_stream_seq_match_events", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "events", "q81_stream_seq_match_events")(
        _.select(col("user_id").cast("long").as("user_id"), col("ts"),
          (when(col("event_type") === "view", 1).otherwise(0)
            + when(col("event_type") === "click", 2).otherwise(0)).as("conds"))
        .as[streaming.StreamingBehavioral.SeqEvent])(e => (e.ts.getTime, e.user_id))
      viaMemorySink(s, "q81_stream_seq_match_events", rows, "update")(
        streaming.StreamingBehavioral.streamingSequenceMatchEvents(_, "(?1)(?2)",
          watermark = "10 minutes", horizonMicros = WideHorizonUs)) { tbl =>
        tbl.groupBy(col("user_id"))
          .agg(max(when(col("matched"), try_element_at(col("matched_ts"), lit(1)))).as("ev1_us"),
               max(when(col("matched"), try_element_at(col("matched_ts"), lit(2)))).as("ev2_us"))
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
            if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toSeq
          .toDF("user_id", "ev1_us", "ev2_us")
      }
    },
    // same oracle as q07 — the latched (?N) step timestamps must be the
    // batch FIRST match's
    oracleSql = BehavioralContracts.q07.oracleSql)

  // streaming exact dedup over the documents table: the operator's
  // dropDuplicatesWithinWatermark state must keep EXACTLY the first
  // occurrence of each text digest across the two micro-batches — the
  // output counts emissions per digest, so a leaked cross-batch (or
  // in-batch) duplicate hash-mismatches as n_emitted = 2. Event time is
  // synthesized deterministically from doc_id (the documents table has
  // no timestamp; which COPY survives is the operator's arbitrary choice
  // within a batch, so the contract row pins digest-level exactly-once,
  // and StreamingSpec pins first-wins ordering on crafted feeds).
  val q82 = Contract("q82_stream_exact_dedup", run = harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(s, dir, "documents", "q82_stream_exact_dedup")(
        _.select(col("doc_id").cast("long"), col("text"),
          timestamp_micros(lit(1700000000000000L) + col("doc_id").cast("long")).as("ts"))
        .as[(Long, String, java.sql.Timestamp)])(_._1)
      viaMemorySink(s, "q82_stream_exact_dedup", rows, "append")(in =>
        streaming.StreamingBehavioral.streamingExactDedup(
          in.toDF("doc_id", "text", "ts"), watermark = "10 minutes")) { tbl =>
        tbl.groupBy(sha2(col("text"), 256).as("text_hash"))
          .agg(count(lit(1)).as("n_emitted"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          .toDF("text_hash", "n_emitted")
      }
    },
    // digest-level exactly-once: one emission per distinct text across the
    // whole stream (a leaked duplicate shows up as n_emitted = 2, a lost
    // text as a missing row)
    oracleSql = """SELECT sha256(text) AS text_hash, CAST(1 AS BIGINT) AS n_emitted
        |FROM (SELECT DISTINCT text FROM documents)""".stripMargin)

  // streaming SimHash near-dup screen vs the md5 simhash DuckDB oracle:
  // a doc is near-dup iff an EARLIER doc (synthetic event time = doc_id
  // order, so "earlier" is deterministic) sits within Hamming <= 3 —
  // banded bucket state + per-doc OR of the 4 band votes, flushed by the
  // watermark like q77 (one sentinel: its batch advances the watermark
  // and the no-data micro-batch evicts the expired band state). The md5
  // fingerprint variant is used so DuckDB can recompute the exact
  // fingerprints; the xxh64 production kernel shares every other code
  // path (band split, state, votes) and is differential-tested in
  // StreamingSpec.
  val q83 = Contract("q83_stream_simhash_dedup", run = harnessRow { (s, dir) =>
      withConf(s, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false") {
        import s.implicits._
        val rows = harnessFeed(s, dir, "documents", "q83_stream_simhash_dedup")(
          _.select(col("doc_id").cast("long"), col("text"),
            timestamp_micros(lit(1700000000000000L) + col("doc_id").cast("long")).as("ts"))
          .as[(Long, String, java.sql.Timestamp)])(_._1)
        viaMemorySink(s, "q83_stream_simhash_dedup", rows, "append",
          sentinel = Some((-1L, "sentinel flush doc", sentinelTs(rows.iterator.map(_._3)))))(in =>
          streaming.StreamingBehavioral.streamingSimhashDedup(in.toDF("doc_id", "text", "ts"),
            maxDist = 3, watermark = "10 minutes",
            fingerprint = streaming.StreamingBehavioral.simhashMd5Fingerprint)) { tbl =>
          tbl.filter(col("doc_id") >= 0)
            .select(col("doc_id"), col("is_near_dup"))
            .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
            .toDF("doc_id", "is_near_dup")
        }
      }
    },
    // seen-based suppression over the md5 simhash fingerprints: near-dup
    // iff an earlier-id doc sits within Hamming <= 3 (the q41 Hamming
    // computation, directed by doc_id order = the synthetic event-time
    // order the harness feeds)
    oracleSql = s"""WITH fp AS (${CurationContracts.q28.oracleSql}),
         |d AS (SELECT DISTINCT b.doc_id AS id
         |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |      WHERE ${CurationContracts.simhashHammingSql} <= 3)
         |SELECT fp.doc_id, d.id IS NOT NULL AS is_near_dup
         |FROM fp LEFT JOIN d ON fp.doc_id = d.id""".stripMargin)

  // the streaming ingest screen end-to-end vs the SAME exact-Jaccard
  // oracle as q74: the new-docs split streams through nearDupIngest in
  // three micro-batches against the persisted index and the per-batch
  // sink outputs are unioned — per-batch results are bit-identical to
  // the batch probe (StreamingIngestSpec), so the union must hash-match
  // the monolithic q74 answer. This closes the last member of the
  // streaming family on the oracle gate.
  val q84 = Contract("q84_stream_neardup_ingest", run = harnessRow { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      val d = table(s, dir, "documents")
      // materialize the index EAGERLY: each micro-batch's probe references
      // it from three parallel broadcast subtrees (banding + two verify
      // stages), and a lazy persist lets batch 1's three subtrees race the
      // unpopulated cache — profiled as three CONCURRENT ~0.8 s jobs each
      // recomputing the full index sketch (round 22, guide §1.2/§5)
      val idx = ops.OpCaches.materialize(
        ops.Dedup.minhashIndex(d.filter(col("doc_id") % 10 =!= 0)))
      val rows = harnessFeed(s, dir, "documents", "q84_stream_neardup_ingest")(
        _.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").cast("long"), col("text")).as[(Long, String)])(_._1)
      val received = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val input = MemoryStream[(Long, String)]
      val q = streaming.StreamingBehavioral.nearDupIngest(
        input.toDF().toDF("doc_id", "text"), idx, threshold = 0.8) { (pairs, _) =>
        received ++= pairs
          .select(col("new_id"), col("idx_id"), round(col("jaccard"), 6))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      try {
        rows.grouped(math.max(rows.length / 3, 1)).foreach { b =>
          input.addData(b.toSeq); q.processAllAvailable()
        }
        received.toSeq.toDF("new_id", "idx_id", "jaccard")
      } finally q.stop()
    },
    oracleSql = CurationContracts.q74.oracleSql)

  val all: Seq[Contract] = Seq(q71, q72, q77, q78, q79, q80, q81, q82, q83, q84)
}
