package graft.streaming

import graft.behavioral.{EventBuf, FunnelMode, FunnelScan, NNBuf, NextNodeScan}
import graft.behavioral.pattern.{PStep, PatternExecutor, PatternParser}

import java.util.Arrays

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming versions of the behavioral operators.
  *
  * The reference is batch-only (DuckDB); these are the extension phases from
  * SURVEY.md §7: unbounded event streams with watermark-driven state expiry.
  *
  *   - streaming sessionize → Spark's native `session_window` (merging
  *     session state store, watermark handles late data and state GC);
  *   - exact and SimHash near-duplicate dedup within the watermark;
  *   - window_funnel, retention, sequence_match, sequence_count,
  *     sequence_match_events and sequence_next_node → one per-user state
  *     step each, run by [[perUser]]: the batch kernel re-evaluated per
  *     micro-batch over the user's bounded state.
  */
object StreamingBehavioral {

  /** One user's step inside [[perUser]]. It is built from the restored
    * state (`None` for a new or expired user); `add` folds each batch event
    * that has a timestamp, with that timestamp in µs; `finish` returns the
    * state to store and the row to emit. */
  private trait UserStep[E, S, U] {
    def add(e: E, us: Long): Unit
    def finish(maxTsUs: Long, watermarkUs: Long): (S, U)
  }

  /** The per-user lifecycle shared by the keyed behavioral operators. Its
    * contract:
    *   - lateness: events behind the watermark (`watermark` below the
    *     largest event time seen) are dropped before the step sees them;
    *   - horizon forgetting: a step keeps only buffered events at or after
    *     watermark − `horizonMicros` ([[pruneBelow]]), so a chain wider than
    *     the horizon can be missed;
    *   - expiry: a user's state is dropped once the watermark passes its
    *     largest event time + `horizonMicros`. The expiry is clamped above
    *     the current watermark: `setTimeoutTimestamp` throws on a time the
    *     watermark has passed, which a user whose late or all-filtered
    *     batch left the max behind can produce; that state then expires at
    *     the next watermark advance instead of crashing the query;
    *   - Update-mode emission: each micro-batch emits one row per user it
    *     touched, and an expiring user emits nothing. */
  private def perUser[E, S: Encoder, U: Encoder](events: Dataset[E], watermark: String,
      horizonMicros: Long)(user: E => Long, ts: E => java.sql.Timestamp, maxTsOf: S => Long)(
      open: (Long, Option[S]) => UserStep[E, S, U]): Dataset[U] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(user)
      .flatMapGroupsWithState[S, U](OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[E], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption
            val step = open(userId, prior)
            var maxTsUs = prior.fold(Long.MinValue)(maxTsOf)
            batch.foreach { e =>
              val t = ts(e)
              if (t != null) {
                val us = t.getTime * 1000 + (t.getNanos / 1000) % 1000
                if (us > maxTsUs) maxTsUs = us
                step.add(e, us)
              }
            }
            val watermarkMs = state.getCurrentWatermarkMs()
            val (next, out) = step.finish(maxTsUs, watermarkMs * 1000)
            state.update(next)
            state.setTimeoutTimestamp(
              math.max((maxTsUs + horizonMicros) / 1000 + 1, watermarkMs + 1))
            Iterator.single(out)
          }
      }
  }

  /** An event buffer holding a stored state's (ts, conds) arrays. */
  private def restore(saved: Option[(Array[Long], Array[Int])]): EventBuf =
    saved.fold(EventBuf.empty()) { case (ts, conds) =>
      new EventBuf(ts.clone(), conds.clone(), ts.length)
    }

  /** Index of the first of `n` ascending times at or after `horizonUs`. */
  private def firstKept(ts: Array[Long], n: Int, horizonUs: Long): Int = {
    var i = 0
    while (i < n && ts(i) < horizonUs) i += 1
    i
  }

  /** Sorts `buf` by time and forgets the events before `horizonUs`;
    * returns `buf` itself when none is dropped. */
  private def pruneBelow(buf: EventBuf, horizonUs: Long): EventBuf = {
    buf.sortByTs()
    val from = firstKept(buf.ts, buf.n, horizonUs)
    if (from == 0) buf
    else new EventBuf(Arrays.copyOfRange(buf.ts, from, buf.n),
      Arrays.copyOfRange(buf.conds, from, buf.n), buf.n - from)
  }

  /** [[pruneBelow]] for the next-node row buffer. */
  private def pruneBelow(buf: NNBuf, horizonUs: Long): NNBuf = {
    buf.sortByTs()
    val from = firstKept(buf.ts, buf.n, horizonUs)
    if (from == 0) buf
    else {
      val kept = new NNBuf(math.max(buf.n - from, 16))
      for (i <- from until buf.n)
        kept.append(buf.ts(i), buf.flags(i), kept.intern(buf.valueAt(i)))
      kept
    }
  }

  private def parsePattern(function: String, pattern: String): Array[PStep] =
    PatternParser.parse(pattern) match {
      case Right(steps) => steps
      case Left(e) => throw new IllegalArgumentException(s"$function pattern error: $e")
    }

  private def requirePositiveHorizon(horizonMicros: Long): Unit =
    require(horizonMicros > 0, s"horizonMicros must be positive, got $horizonMicros")

  /** Gap-based streaming session stats, one row per closed (or updated)
    * session: (user_id, session start/end, n_events).
    *
    * `events` needs columns `user_id` and `ts` (timestamp). `gap` is e.g.
    * "30 minutes"; `watermark` bounds lateness AND state size. */
  def sessionStats(events: DataFrame, gap: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup: keeps the first occurrence of each text digest
    * within the watermark horizon — the streaming counterpart of
    * `Dedup.exactDupGroups`. State is one 32-byte digest per distinct doc,
    * GC'd by the watermark. */
  def streamingExactDedup(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .drop("text_hash")

  /** One banded fingerprint row for the streaming near-dup dedup: `bucket`
    * packs (band index, 16 fingerprint bits) so each of the 4 bands keys
    * its own state partition. */
  case class SimhashBandEvent(bucket: Long, doc_id: Long,
      ts: java.sql.Timestamp, simhash: Long)

  /** Per-band vote: was this doc within `maxDist` of anything previously
    * seen in this band bucket? */
  case class NearDupVote(doc_id: Long, ts: java.sql.Timestamp, dup: Boolean)

  /** Fingerprints seen in one band bucket within the watermark horizon. */
  case class BandState(sim: Array[Long], tsUs: Array[Long])

  /** Default per-row fingerprint for `streamingSimhashDedup`: `simhash64`
    * (xxhash64 token votes) over whitespace tokens — the production kernel. */
  def simhash64Fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Simhash64(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          graft.ops.TextAnalysis.tokensWs(text))))

  /** Oracle-mirrorable md5 fingerprint packed to the same 64-bit layout
    * (4×16-bit bands), the streaming twin of `Dedup.simhashIndexMd5`'s
    * conversion — lets the streaming near-dup screen be gated against the
    * DuckDB md5 simhash oracle (q83). */
  def simhashMd5Fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hex = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.SimhashMd5Hex(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          graft.ops.TextAnalysis.tokensWs(text))))
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Streaming NEAR-duplicate suppression by SimHash Hamming distance —
    * the streaming counterpart of `Dedup.simhashPairs`. A document is
    * flagged `is_near_dup` iff a document within Hamming distance
    * `maxDist` (≤ 3: the 4×16-bit pigeonhole bound, like the batch join)
    * was seen earlier within the watermark horizon; suppression is
    * seen-based (a suppressed doc still suppresses its own later
    * near-dups), and — exactly like `streamingExactDedup` — the guarantee
    * only spans the watermark: expired fingerprints are GC'd and a late
    * near-dup of an expired doc re-emits as new.
    *
    * Shape: the fingerprint is the per-row `simhash64` kernel (no
    * shuffle), each doc fans out to its 4 band buckets (the only
    * exchange), per-bucket state is a pruned fingerprint list keyed by
    * (band, 16 bits) — state cardinality is bounded by docs-in-horizon ×
    * 4, spread over 2^18 bucket keys, with event-time timeout dropping
    * idle buckets — and a final per-(doc, ts) aggregate ORs the 4 band
    * votes — any band finding a within-distance prior fingerprint makes
    * the doc a near-dup (multiple stateful operators in append mode).
    * Output:
    * (doc_id, ts, is_near_dup), emitted once the watermark passes ts.
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness
    * .enabled=false`: Spark's static check cannot see that the vote
    * stage emits each row in the SAME micro-batch with its ORIGINAL
    * event time (never late for the downstream aggregate), so it flags
    * the flatMapGroupsWithState → aggregation chain as a possible
    * late-row hazard. Documents arriving behind the watermark are
    * dropped (the standard streaming-lateness contract).
    */
  def streamingSimhashDedup(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts", watermark: String = "1 hour",
      fingerprint: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        simhash64Fingerprint): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be in [0,3] for the 4-band pigeonhole guarantee, got $maxDist")
    val spark = docs.sparkSession
    import spark.implicits._
    val fp = docs.select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        fingerprint(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)
    val banded = fp.select(col("doc_id"), col("ts"), col("simhash"),
        explode(array((0 until 4).map(b =>
          lit(b.toLong << 16) + shiftrightunsigned(col("simhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL))): _*)).as("bucket"))
      .withWatermark("ts", watermark)
      .select(col("bucket"), col("doc_id"), col("ts"), col("simhash"))
      .as[SimhashBandEvent]
    val votes = banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BandState, NearDupVote](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, batch: Iterator[SimhashBandEvent], state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sims = scala.collection.mutable.ArrayBuffer.empty[Long]
            val tss = scala.collection.mutable.ArrayBuffer.empty[Long]
            state.getOption.foreach { s => sims ++= s.sim; tss ++= s.tsUs }
            // deterministic within-batch order: earlier (ts, id) suppresses
            val events = batch.toArray.sortBy(e =>
              (e.ts.getTime, e.doc_id))
            val out = events.map { e =>
              var dup = false
              var i = 0
              while (!dup && i < sims.length) {
                if (java.lang.Long.bitCount(sims(i) ^ e.simhash) <= maxDist)
                  dup = true
                i += 1
              }
              sims += e.simhash
              tss += e.ts.getTime * 1000
              NearDupVote(e.doc_id, e.ts, dup)
            }
            // GC: fingerprints behind the watermark can never suppress a
            // future (non-late) document
            val horizonUs = state.getCurrentWatermarkMs() * 1000
            val keep = tss.indices.filter(i => tss(i) >= horizonUs)
            if (keep.isEmpty) state.remove()
            else {
              state.update(BandState(keep.map(sims).toArray, keep.map(tss).toArray))
              val maxTsMs = keep.map(i => tss(i) / 1000).max
              state.setTimeoutTimestamp(
                math.max(maxTsMs, state.getCurrentWatermarkMs()) + 1)
            }
            out.iterator
          }
      }
    // OR the 4 band votes per (doc, ts): near-dup iff ANY band saw a
    // within-distance prior fingerprint
    votes.toDF()
      .withWatermark("ts", watermark)
      .groupBy(col("doc_id"), col("ts"))
      .agg((max(col("dup").cast("int")) === 1).as("is_near_dup"))
  }

  /** One input event for the streaming funnel: condition bitmask packed
    * exactly like the batch EventBuf (bit i = condition i). */
  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, conds: Int)

  /** Streaming funnel output: the user's current max step. */
  case class FunnelUpdate(user_id: Long, steps: Int, n_events: Int)

  /** Per-user state: the packed event arrays (kept sorted lazily by the
    * batch scan) plus the max event time seen. */
  case class FunnelState(ts: Array[Long], conds: Array[Int], maxTsUs: Long, best: Int)

  /** Streaming window_funnel over an unbounded keyed stream.
    *
    * Same semantics as the batch aggregate, re-evaluated per micro-batch.
    * The funnel window is the horizon of the [[perUser]] contract: events
    * older than (watermark - window) can no longer participate in any
    * chain that includes a future event. The emitted step is monotone:
    * pruning never lowers a depth an expired chain already reached.
    */
  def streamingFunnel(events: Dataset[FunnelEvent], windowMicros: Long,
      numConds: Int, mode: Int = FunnelMode.Default,
      watermark: String = "1 hour"): Dataset[FunnelUpdate] = {
    require(numConds >= 1 && numConds <= 32,
      s"streaming funnel supports 1..32 conditions (the FunnelEvent mask width), got $numConds")
    import events.sparkSession.implicits._
    perUser[FunnelEvent, FunnelState, FunnelUpdate](events, watermark, windowMicros)(
        _.user_id, _.ts, _.maxTsUs) { (userId, prior) =>
      new UserStep[FunnelEvent, FunnelState, FunnelUpdate] {
        private val buf = restore(prior.map(s => (s.ts, s.conds)))
        def add(e: FunnelEvent, us: Long): Unit = if (e.conds != 0) buf.append(us, e.conds)
        def finish(maxTsUs: Long, watermarkUs: Long) = {
          val kept = pruneBelow(buf, watermarkUs - windowMicros)
          val steps = math.max(prior.fold(0)(_.best),
            FunnelScan.maxStep(kept, windowMicros, mode, numConds))
          (FunnelState(Arrays.copyOf(kept.ts, kept.n), Arrays.copyOf(kept.conds, kept.n),
            maxTsUs, steps), FunnelUpdate(userId, steps, kept.n))
        }
      }
    }
  }

  /** One input event for streaming retention: condition bitmask packed
    * like the batch RetentionAgg buffer (bit i = condition i). */
  case class RetentionEvent(user_id: Long, ts: java.sql.Timestamp, conds: Int)

  /** Streaming retention output: the user's anchor-gated flags, one per
    * condition — identical semantics to the batch `retention` aggregate
    * (flag 0 = anchor seen; flag i = anchor seen AND condition i seen). */
  case class RetentionUpdate(user_id: Long, flags: Seq[Boolean])

  /** Per-user retention state: the OR of all condition bitmasks seen plus
    * the max event time (for expiry). O(1) — retention is the ideal
    * streaming aggregate: the state is a single Int however many events
    * arrive. */
  case class RetentionState(mask: Int, maxTsUs: Long)

  /** Streaming `retention` over an unbounded keyed stream: per-user
    * bitmask-OR state updated per micro-batch, anchor gating applied at
    * emission exactly like the batch aggregate's finalize. The mask is
    * O(1), so nothing is pruned: the horizon only expires idle users. */
  def streamingRetention(events: Dataset[RetentionEvent], numConds: Int,
      watermark: String = "1 hour",
      horizonMicros: Long = 30L * 86400 * 1000000): Dataset[RetentionUpdate] = {
    require(numConds >= 1 && numConds <= 32,
      s"retention supports 1..32 conditions, got $numConds")
    requirePositiveHorizon(horizonMicros)
    import events.sparkSession.implicits._
    perUser[RetentionEvent, RetentionState, RetentionUpdate](events, watermark, horizonMicros)(
        _.user_id, _.ts, _.maxTsUs) { (userId, prior) =>
      new UserStep[RetentionEvent, RetentionState, RetentionUpdate] {
        private var mask = prior.fold(0)(_.mask)
        def add(e: RetentionEvent, us: Long): Unit = mask |= e.conds
        def finish(maxTsUs: Long, watermarkUs: Long) = {
          // anchor gating at emission, same as the batch finalize:
          // flag 0 = anchor bit; flag i = anchor AND bit i
          val anchor = (mask & 1) != 0
          val flags = (0 until numConds).map(i =>
            if (i == 0) anchor else anchor && ((mask >> i) & 1) != 0)
          (RetentionState(mask, maxTsUs), RetentionUpdate(userId, flags))
        }
      }
    }
  }

  /** One input event for streaming sequence_match: condition bitmask
    * packed like the batch `EventBuf` (bit i = condition i+1 of the
    * pattern, i.e. `(?1)` tests bit 0). */
  case class SeqEvent(user_id: Long, ts: java.sql.Timestamp, conds: Int)

  /** Streaming sequence_match output: whether the user's buffered event
    * history matches the pattern (monotone — once true it stays true for
    * the lifetime of the user's state), plus the buffered-event count
    * (0 once matched: the buffer is dropped on latch). */
  case class SeqMatchUpdate(user_id: Long, matched: Boolean, n_buffered: Int)

  /** Per-user state: packed event buffer + max event time + the latch. */
  case class SeqMatchState(ts: Array[Long], conds: Array[Int],
      maxTsUs: Long, matched: Boolean)

  /** Streaming `sequence_match` over an unbounded keyed stream: the batch
    * pattern engine (`PatternExecutor` — same fast paths, same NFA, same
    * 10k-state guard) re-evaluated per micro-batch over a per-user packed
    * event buffer.
    *
    * Match latching: a match can never be un-matched by later events, so
    * the first successful evaluation LATCHES `matched` and drops the
    * buffer — matched users cost O(1) state from then on, and evaluation
    * stops for them.
    *
    * Under the horizon contract a match whose WHOLE SPAN exceeds the
    * horizon can be missed — size the horizon to the longest chain the
    * product cares about. A user who expires (latched or not) restarts
    * from scratch if they return.
    *
    * Only condition-bearing events enter the buffer (conds != 0), exactly
    * like the batch aggregate — `.`/`.*` see condition-bearing events
    * only (SURVEY.md §1.4). */
  def streamingSequenceMatch(events: Dataset[SeqEvent], pattern: String,
      watermark: String = "1 hour",
      horizonMicros: Long = 30L * 86400 * 1000000): Dataset[SeqMatchUpdate] = {
    val steps = parsePattern("sequence_match", pattern)
    requirePositiveHorizon(horizonMicros)
    import events.sparkSession.implicits._
    perUser[SeqEvent, SeqMatchState, SeqMatchUpdate](events, watermark, horizonMicros)(
        _.user_id, _.ts, _.maxTsUs) { (userId, prior) =>
      new UserStep[SeqEvent, SeqMatchState, SeqMatchUpdate] {
        private val latched = prior.exists(_.matched)
        private val buf = restore(prior.map(s => (s.ts, s.conds)))
        def add(e: SeqEvent, us: Long): Unit =
          if (!latched && e.conds != 0) buf.append(us, e.conds)
        def finish(maxTsUs: Long, watermarkUs: Long) = {
          val kept = if (latched) buf else pruneBelow(buf, watermarkUs - horizonMicros)
          if (latched || PatternExecutor.execute(steps, kept, countAll = false) > 0)
            // latch: drop the buffer, O(1) state from here on
            (SeqMatchState(Array.emptyLongArray, Array.emptyIntArray, maxTsUs, matched = true),
              SeqMatchUpdate(userId, matched = true, 0))
          else
            (SeqMatchState(Arrays.copyOf(kept.ts, kept.n), Arrays.copyOf(kept.conds, kept.n),
              maxTsUs, matched = false), SeqMatchUpdate(userId, matched = false, kept.n))
        }
      }
    }
  }

  /** Streaming sequence_count output: cumulative non-overlapping match
    * count (monotone) plus the events still buffered (those not yet
    * consumed by a counted match and inside the horizon). */
  case class SeqCountUpdate(user_id: Long, n_matches: Long, n_buffered: Int)

  /** Per-user state: completed-match count + the unconsumed event suffix. */
  case class SeqCountState(count: Long, ts: Array[Long], conds: Array[Int],
      maxTsUs: Long)

  /** Streaming `sequence_count` (non-overlapping, resume at match end + 1)
    * over an unbounded keyed stream — the counting sibling of
    * `streamingSequenceMatch`, sharing the batch pattern engine unchanged.
    *
    * The per-batch step counts matches in (state suffix ++ new events) and
    * then DROPS the consumed prefix: in non-overlapping semantics the
    * search resumes at match end + 1, so nothing at or before the last
    * counted match's end can ever participate again. The consumed boundary
    * is reported by the counting pass itself
    * (`PatternExecutor.executeWithConsumed`), so count and boundary agree
    * by construction — also under the `MaxNfaStates` abort guard, where a
    * start position's outcome depends on how much buffer follows it
    * (StreamingSeqCountSpec pins a guard-straddling pattern).
    *
    * Under the horizon contract a match spanning wider than the horizon
    * may be missed. The emitted count is cumulative and monotone within a
    * state lifetime.
    *
    * Counted matches are FINAL: an event that arrives later (above the
    * watermark, so not "late" by the lateness contract) but whose
    * timestamp sorts before an already-counted match joins only the
    * unconsumed suffix — it cannot retroactively re-partition matches the
    * operator already emitted, where the batch aggregate re-sorting full
    * history might. Emitted counts never need correction; that finality
    * is the streaming contract. */
  def streamingSequenceCount(events: Dataset[SeqEvent], pattern: String,
      watermark: String = "1 hour",
      horizonMicros: Long = 30L * 86400 * 1000000): Dataset[SeqCountUpdate] = {
    val steps = parsePattern("sequence_count", pattern)
    requirePositiveHorizon(horizonMicros)
    import events.sparkSession.implicits._
    perUser[SeqEvent, SeqCountState, SeqCountUpdate](events, watermark, horizonMicros)(
        _.user_id, _.ts, _.maxTsUs) { (userId, prior) =>
      new UserStep[SeqEvent, SeqCountState, SeqCountUpdate] {
        private val buf = restore(prior.map(s => (s.ts, s.conds)))
        def add(e: SeqEvent, us: Long): Unit = if (e.conds != 0) buf.append(us, e.conds)
        def finish(maxTsUs: Long, watermarkUs: Long) = {
          val kept = pruneBelow(buf, watermarkUs - horizonMicros)
          val (newMatches, consumed) = PatternExecutor.executeWithConsumed(steps, kept)
          val count = prior.fold(0L)(_.count) + newMatches
          val restTs = Arrays.copyOfRange(kept.ts, consumed, kept.n)
          val restConds = Arrays.copyOfRange(kept.conds, consumed, kept.n)
          (SeqCountState(count, restTs, restConds, maxTsUs),
            SeqCountUpdate(userId, count, restTs.length))
        }
      }
    }
  }

  /** Streaming sequence_match_events output: `matched_ts` holds the epoch-µs
    * timestamps the first match's `(?N)` steps consumed (empty until matched
    * — the batch aggregate's no-match result is the empty array too). */
  case class SeqMatchEventsUpdate(user_id: Long, matched: Boolean,
      matched_ts: Array[Long], n_buffered: Int)

  /** Per-user state: packed buffer + the latched step timestamps. */
  case class SeqMatchEventsState(ts: Array[Long], conds: Array[Int],
      maxTsUs: Long, matched: Boolean, matchedTs: Array[Long])

  /** Streaming `sequence_match_events`: like `streamingSequenceMatch`, but
    * the latch captures the `(?N)` step timestamps of the match that fired
    * (`PatternExecutor.executeCollect` — the batch engine unchanged).
    *
    * Finality: the FIRST match found over the buffered in-horizon history
    * latches and the buffer drops (O(1) state from then on). An event
    * arriving later — above the watermark but with an earlier timestamp —
    * might have enabled an earlier-starting match in full-history batch
    * semantics; the streamed result never retracts (the same finality
    * contract as `streamingSequenceCount`'s counted matches). With events
    * in timestamp order the latched match IS the batch first match over
    * the history seen so far. */
  def streamingSequenceMatchEvents(events: Dataset[SeqEvent], pattern: String,
      watermark: String = "1 hour",
      horizonMicros: Long = 30L * 86400 * 1000000): Dataset[SeqMatchEventsUpdate] = {
    val steps = parsePattern("sequence_match_events", pattern)
    requirePositiveHorizon(horizonMicros)
    import events.sparkSession.implicits._
    perUser[SeqEvent, SeqMatchEventsState, SeqMatchEventsUpdate](events, watermark,
        horizonMicros)(_.user_id, _.ts, _.maxTsUs) { (userId, prior) =>
      new UserStep[SeqEvent, SeqMatchEventsState, SeqMatchEventsUpdate] {
        private val latchedTs = prior.filter(_.matched).map(_.matchedTs)
        private val buf = restore(prior.map(s => (s.ts, s.conds)))
        def add(e: SeqEvent, us: Long): Unit =
          if (latchedTs.isEmpty && e.conds != 0) buf.append(us, e.conds)
        def finish(maxTsUs: Long, watermarkUs: Long) = {
          val kept = if (latchedTs.isDefined) buf else pruneBelow(buf, watermarkUs - horizonMicros)
          latchedTs.getOrElse(PatternExecutor.executeCollect(steps, kept)) match {
            case null =>
              (SeqMatchEventsState(Arrays.copyOf(kept.ts, kept.n),
                Arrays.copyOf(kept.conds, kept.n), maxTsUs, matched = false,
                Array.emptyLongArray),
                SeqMatchEventsUpdate(userId, matched = false, Array.emptyLongArray, kept.n))
            case got =>
              (SeqMatchEventsState(Array.emptyLongArray, Array.emptyIntArray, maxTsUs,
                matched = true, got), SeqMatchEventsUpdate(userId, matched = true, got, 0))
          }
        }
      }
    }
  }

  /** One input row for streaming sequence_next_node: `conds` packs the step
    * conditions (bit i = step i+1), `base_cond` is the base-condition flag.
    * Rows with conds == 0 and base_cond == false STILL enter the buffer —
    * any event can be the adjacent "next node" answer (the batch aggregate
    * buffers all rows for the same reason; reference
    * `src/sequence_next_node.rs:186-192`). */
  case class NNEvent(user_id: Long, ts: java.sql.Timestamp, value: String,
      base_cond: Boolean, conds: Int)

  /** Streaming sequence_next_node output: the CURRENT adjacent-value answer
    * over the in-horizon history (update semantics — later events can
    * change it, e.g. a tail base re-anchors, or the answer event itself
    * arrives after the matched chain). */
  case class NextNodeUpdate(user_id: Long, next_node: String, n_buffered: Int)

  /** Per-user state: the full in-horizon row buffer (ts, packed flags,
    * value strings — `flags` bit 32 is the base condition, bits 0..31 the
    * steps, the batch `NNBuf` layout). */
  case class NextNodeState(ts: Array[Long], flags: Array[Long],
      values: Array[String], maxTsUs: Long)

  /** Streaming `sequence_next_node` (2 directions × 4 bases, the batch
    * aggregate's scan shared verbatim via `NextNodeScan`): per micro-batch
    * the user's in-horizon buffer is re-scanned and the CURRENT answer
    * emitted in Update mode.
    *
    * Unlike match/count there is no latch or consumed prefix — the answer
    * is not monotone (a `tail`/`last_match` base re-anchors on new events,
    * and even a `head` match's adjacent event can arrive later), so the
    * state must hold every in-horizon row, values included. That is the
    * same O(group-size) state the batch aggregate buffers (all rows, no
    * condition pre-filter); the horizon is the bound, so size it to the
    * chain span the product cares about. Within the horizon the emitted
    * answer ALWAYS equals the batch aggregate over the same rows. */
  def streamingSequenceNextNode(events: Dataset[NNEvent], direction: String,
      base: String, numSteps: Int, watermark: String = "1 hour",
      horizonMicros: Long = 30L * 86400 * 1000000): Dataset[NextNodeUpdate] = {
    require(numSteps >= 1 && numSteps <= 32,
      s"numSteps must be in 1..32 (the batch aggregate's step-condition arity), got $numSteps")
    val forward = direction.trim.toLowerCase match {
      case "forward" => true
      case "backward" => false
      case other => throw new IllegalArgumentException(
        s"sequence_next_node direction must be forward|backward, got '$other'")
    }
    val baseId = base.trim.toLowerCase match {
      case "head" => 0
      case "tail" => 1
      case "first_match" => 2
      case "last_match" => 3
      case other => throw new IllegalArgumentException(
        s"sequence_next_node base must be head|tail|first_match|last_match, got '$other'")
    }
    requirePositiveHorizon(horizonMicros)
    import events.sparkSession.implicits._
    perUser[NNEvent, NextNodeState, NextNodeUpdate](events, watermark, horizonMicros)(
        _.user_id, _.ts, _.maxTsUs) { (userId, prior) =>
      new UserStep[NNEvent, NextNodeState, NextNodeUpdate] {
        private val buf = new NNBuf(16)
        prior.foreach { s =>
          for (i <- s.ts.indices)
            buf.append(s.ts(i), s.flags(i), buf.intern(utf8(s.values(i))))
        }
        def add(e: NNEvent, us: Long): Unit = {
          var f = e.conds.toLong & 0xFFFFFFFFL
          if (e.base_cond) f |= 1L << 32
          buf.append(us, f, buf.intern(utf8(e.value)))
        }
        def finish(maxTsUs: Long, watermarkUs: Long) = {
          val kept = pruneBelow(buf, watermarkUs - horizonMicros)
          val answer = Option(NextNodeScan.scan(kept, forward, baseId, numSteps))
            .map(_.toString).orNull
          val values = Array.tabulate(kept.n)(i => Option(kept.valueAt(i)).map(_.toString).orNull)
          (NextNodeState(Arrays.copyOf(kept.ts, kept.n), Arrays.copyOf(kept.flags, kept.n),
            values, maxTsUs), NextNodeUpdate(userId, answer, kept.n))
        }
      }
    }
  }

  private def utf8(v: String): UTF8String = if (v == null) null else UTF8String.fromString(v)

  /** Continuous near-dup screening of a DOCUMENT STREAM against a stored
    * `Dedup.minhashIndex` — the streaming face of the incremental-ingest
    * dedup (q74): each micro-batch runs the batch-exact probe
    * `Dedup.minhashLshJoinAgainst` against the static index and hands the
    * (new_id, idx_id, jaccard) pair frame to `sink` with the batch id.
    *
    * foreachBatch is the right idiom here, not a reformulated stateful
    * pipeline: the probe's internals (candidate-pair dropDuplicates,
    * two-stage exact verification, multi-pass joins over the index) would
    * each become an unbounded stateful operator in pure streaming, yet the
    * operation needs NO cross-batch state at all — a doc's near-dups
    * against a static index are fully determined within its own
    * micro-batch. State: none; the index re-scans column-pruned per batch
    * (persist it when it fits executor storage, leave it on parquet when
    * it does not).
    *
    * Per micro-batch the result is bit-identical to the batch operator
    * (differential-tested in StreamingIngestSpec). Pairs BETWEEN two
    * streamed docs are out of scope by design — that is the batch
    * self-join's job at compaction time, when the index generation is
    * rebuilt; a streamed doc is screened against the index generation it
    * probes. */
  def nearDupIngest(docs: DataFrame, index: DataFrame, threshold: Double,
      k: Int = 3, numHashes: Int = 96, bands: Int = 24,
      idCol: String = "doc_id", textCol: String = "text")
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the probe persists the batch-side sketch (it feeds both candidate
        // generation and verification within one action); release it as soon
        // as the sink has consumed the result — a long-running stream must
        // not accumulate one cached sketch per micro-batch. The result frame
        // is only valid INSIDE `sink`; a sink that needs it later must copy.
        val (res, batchSketch) = graft.ops.Dedup.minhashLshJoinAgainstTracked(
          batch.toDF(), index, threshold, k, numHashes, bands, idCol, textCol)
        try sink(res, batchId)
        finally graft.ops.OpCaches.release(batchSketch)
      }
      .start()
}
