package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.IncrementalSession

/** Incremental sessionization (`IncrementalSession.appendBatch/read`):
  * batch-at-a-time folding with an O(users) stitch state must reproduce
  * the full-scan session ids exactly, survive a crash at every step
  * boundary without losing or double-labeling a batch, and reject input
  * that interleaves in time with history. q106 pins the answer under the
  * DuckDB hash; this spec pins the machinery.
  */
class IncrementalSessionSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val GapUs = 1800L * 1000000 // 30 min, q01's threshold

  private def df(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "us").select(col("user_id"),
      timestamp_micros(col("us")).as("ts"))
  }

  /** The full-scan answer: classic lag+sum sessionize over everything. */
  private def fullScan(all: DataFrame): Map[(Long, Long), Long] =
    fullScanRows(all).map { case (u, us, sid) => (u, us) -> sid }.toMap

  private def incremental(base: String): Map[(Long, Long), Long] =
    incrementalRows(base).map { case (u, us, sid) => (u, us) -> sid }.toMap

  /** Every (user, us, session id) row, sorted: a multiset compare for
    * batches with duplicate timestamps, which the id maps collapse. */
  private def fullScanRows(all: DataFrame): Seq[(Long, Long, Long)] = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    rowsOf(all.withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("session_id", sum(when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > GapUs, 1L)
        .otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  private def incrementalRows(base: String): Seq[(Long, Long, Long)] =
    rowsOf(IncrementalSession.read(spark, base))

  private def rowsOf(sessions: DataFrame): Seq[(Long, Long, Long)] =
    sessions.select(col("user_id"), unix_micros(col("ts")),
        col("session_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  private def append(rows: Seq[(Long, Long)], base: String): Long =
    IncrementalSession.appendBatch(df(rows), base, "user_id", "ts", GapUs)

  /** The stitch state a committed batch left: user -> (last us, sessions). */
  private def stateOf(base: String, batch: Int): Map[Long, (Long, Long)] = {
    val st = spark.read.parquet(s"$base/batch_$batch/state")
    assert(st.columns.toSeq ===
      Seq("user_id", "__graft_last_ts", "__graft_sessions"))
    st.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  private def fresh(name: String): String = {
    val p = graft.sources.Sinks.scratchDir("inc_session_spec") + s"/$name"
    graft.sources.Sinks.clearDir(p)
    p
  }

  private val M = 60L * 1000000 // a minute in micros

  test("three batches stitch to the full-scan ids across every boundary case") {
    val base = fresh("basic")
    // user 1: session continues across batch 0->1 (gap 10 min), new session
    //         in batch 2 (gap 2 h)
    // user 2: new session across 0->1 (gap 31 min, strictly > threshold)
    // user 3: only in batch 0;  user 4: first appears in batch 2
    // user 5: boundary gap EXACTLY the threshold -> stays in session
    val b0 = Seq((1L, 0 * M), (1L, 5 * M), (2L, 0 * M), (3L, 0 * M),
      (5L, 0 * M))
    val b1 = Seq((1L, 15 * M), (2L, 31 * M), (5L, 30 * M))
    val b2 = Seq((1L, 135 * M), (4L, 0 * M))
    for (b <- Seq(b0, b1, b2))
      IncrementalSession.appendBatch(df(b), base, "user_id", "ts", GapUs)
    val all = df(b0 ++ b1 ++ b2)
    assert(incremental(base) === fullScan(all))
    // spot-check the semantics, not just consistency
    val got = incremental(base)
    assert(got((1L, 15 * M)) === 1L) // merged across the boundary
    assert(got((1L, 135 * M)) === 2L)
    assert(got((2L, 31 * M)) === 2L) // strictly greater -> new session
    assert(got((5L, 30 * M)) === 1L) // exactly the gap -> stays
  }

  test("randomized: any time-ordered split into batches matches the full scan") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { _ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(3000).toLong * M / 2)
    }.distinct.sorted
    val all = df(rows)
    // split at two random time cuts (per-user order preserved because the
    // cuts are on time, matching the daily-ingest contract)
    val cuts = Seq(rows(150)._2, rows(350)._2).sorted
    val base = fresh("random")
    IncrementalSession.appendBatch(
      df(rows.filter(_._2 <= cuts(0))), base, "user_id", "ts", GapUs)
    IncrementalSession.appendBatch(
      df(rows.filter(r => r._2 > cuts(0) && r._2 <= cuts(1))),
      base, "user_id", "ts", GapUs)
    IncrementalSession.appendBatch(
      df(rows.filter(_._2 > cuts(1))), base, "user_id", "ts", GapUs)
    assert(incremental(base) === fullScan(all))
  }

  test("a crash at every step boundary loses nothing and double-labels nothing") {
    for (failAt <- Seq("recovered", "written")) {
      val base = fresh(s"crash_$failAt")
      IncrementalSession.appendBatch(df(Seq((1L, 0 * M), (2L, 0 * M))),
        base, "user_id", "ts", GapUs)
      val b1 = Seq((1L, 10 * M), (2L, 60 * M))
      intercept[RuntimeException] {
        IncrementalSession.appendBatch(df(b1), base, "user_id", "ts", GapUs,
          step => if (step == failAt) sys.error(s"injected crash at $failAt"),
          graft.sources.Sinks.DefaultLeaseStaleMs)
      }
      // the crashed batch is invisible: reader serves exactly batch 0
      assert(incremental(base).keySet === Set((1L, 0 * M), (2L, 0 * M)))
      // re-running the SAME batch succeeds and lands exactly once
      IncrementalSession.appendBatch(df(b1), base, "user_id", "ts", GapUs)
      assert(incremental(base) ===
        fullScan(df(Seq((1L, 0 * M), (2L, 0 * M)) ++ b1)))
    }
    // crash AFTER commit: the batch is durable; recovery must not redo it
    val base = fresh("crash_committed")
    intercept[RuntimeException] {
      IncrementalSession.appendBatch(df(Seq((1L, 0 * M))), base,
        "user_id", "ts", GapUs,
        step => if (step == "committed") sys.error("injected crash"),
        graft.sources.Sinks.DefaultLeaseStaleMs)
    }
    IncrementalSession.appendBatch(df(Seq((1L, 40 * M))), base,
      "user_id", "ts", GapUs)
    assert(incremental(base) ===
      fullScan(df(Seq((1L, 0 * M), (1L, 40 * M)))))
  }

  test("a batch that interleaves in time with history is rejected loudly") {
    val base = fresh("reject")
    IncrementalSession.appendBatch(df(Seq((1L, 100 * M))), base,
      "user_id", "ts", GapUs)
    val e = intercept[IllegalArgumentException] {
      IncrementalSession.appendBatch(df(Seq((1L, 50 * M))), base,
        "user_id", "ts", GapUs)
    }
    assert(e.getMessage.contains("time-ordered"))
    // the gates ride the out WRITE (round 21): the rejected batch's
    // unpublished dir must be deleted, not merely left marker-less for
    // recover() to reap — the on-disk state after a reject is identical
    // to the pre-write refusal's
    assert(!new java.io.File(base, "batch_1").exists(),
      "a rejected batch left its unpublished dir behind")
    // the rejected batch left no residue; a valid one still lands
    IncrementalSession.appendBatch(df(Seq((1L, 200 * M))), base,
      "user_id", "ts", GapUs)
    assert(incremental(base) ===
      fullScan(df(Seq((1L, 100 * M), (1L, 200 * M)))))
  }

  test("a batch event just after the user's last seen ts is accepted and merges") {
    val base = fresh("tie")
    IncrementalSession.appendBatch(df(Seq((1L, 10 * M))), base,
      "user_id", "ts", GapUs)
    IncrementalSession.appendBatch(df(Seq((1L, 10 * M + 1))), base,
      "user_id", "ts", GapUs)
    assert(incremental(base).values.toSet === Set(1L))
  }

  test("a batch event at exactly the user's last seen ts is accepted and continues the session") {
    val base = fresh("tie_equal")
    val b0 = Seq((1L, 10 * M), (2L, 0 * M))
    val b1 = Seq((1L, 10 * M), (1L, 20 * M), (2L, 0 * M))
    append(b0, base)
    append(b1, base)
    assert(incrementalRows(base) === fullScanRows(df(b0 ++ b1)))
    assert(incrementalRows(base).map(_._3).toSet === Set(1L))
    assert(stateOf(base, 1) === Map(1L -> (20 * M, 1L), 2L -> (0 * M, 1L)))
  }

  test("duplicate timestamps inside a batch, straddling a session boundary, match the full scan") {
    val base = fresh("dups")
    // user 1: duplicates continuing history, then duplicates opening a
    // new session 31 min later; batch 2 repeats the last seen ts twice.
    // user 2 first appears with a duplicated first event.
    val b0 = Seq((1L, 0 * M))
    val b1 = Seq((1L, 10 * M), (1L, 10 * M), (1L, 41 * M), (1L, 41 * M),
      (1L, 41 * M), (2L, 5 * M), (2L, 5 * M))
    val b2 = Seq((1L, 41 * M), (1L, 41 * M), (1L, 100 * M), (2L, 5 * M))
    for (b <- Seq(b0, b1, b2)) append(b, base)
    val got = incrementalRows(base)
    assert(got.size === (b0 ++ b1 ++ b2).size)
    assert(got === fullScanRows(df(b0 ++ b1 ++ b2)))
    assert(got.filter(_._1 == 1L).map(r => r._2 -> r._3).distinct ===
      Seq(0 * M -> 1L, 10 * M -> 1L, 41 * M -> 2L, 100 * M -> 3L))
  }

  test("extra batch columns stay in out, in order, before session_id; state keeps its three") {
    val base = fresh("extra_cols")
    import spark.implicits._
    def batch(rows: Seq[(String, Long, Long)]): DataFrame =
      rows.toDF("event_type", "user_id", "us").select(col("event_type"),
        col("user_id"), timestamp_micros(col("us")).as("ts"))
    IncrementalSession.appendBatch(batch(Seq(("view", 1L, 0 * M))), base,
      "user_id", "ts", GapUs)
    IncrementalSession.appendBatch(
      batch(Seq(("click", 1L, 5 * M), ("buy", 1L, 60 * M))), base,
      "user_id", "ts", GapUs)
    val out = IncrementalSession.read(spark, base)
    assert(out.columns.toSeq === Seq("event_type", "user_id", "ts", "session_id"))
    assert(out.select(col("event_type"), unix_micros(col("ts")),
        col("session_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ===
      Set(("view", 0 * M, 1L), ("click", 5 * M, 1L), ("buy", 60 * M, 2L)))
    assert(stateOf(base, 1) === Map(1L -> (60 * M, 2L)))
  }

  test("a user seen only in history keeps their state across later appends and stitches after") {
    val base = fresh("history_only")
    val b0 = Seq((1L, 0 * M), (1L, 100 * M), (2L, 0 * M))
    val b1 = Seq((2L, 10 * M))
    val b2 = Seq((2L, 100 * M))
    val b3 = Seq((1L, 110 * M), (1L, 200 * M))
    for (b <- Seq(b0, b1, b2)) append(b, base)
    assert(stateOf(base, 1)(1L) === (100 * M, 2L))
    assert(stateOf(base, 2) === Map(1L -> (100 * M, 2L), 2L -> (100 * M, 2L)))
    append(b3, base)
    assert(incrementalRows(base) === fullScanRows(df(b0 ++ b1 ++ b2 ++ b3)))
    assert(incremental(base)((1L, 110 * M)) === 2L) // continues session 2
    assert(incremental(base)((1L, 200 * M)) === 3L)
  }

  test("an append onto a store with one committed batch starts at most 4 Spark jobs") {
    val base = fresh("job_count")
    append(Seq((1L, 0 * M), (2L, 0 * M), (3L, 0 * M)), base)
    val b1 = df(Seq((1L, 10 * M), (2L, 60 * M), (4L, 0 * M)))
    val (n, jobs) = JobCount(spark) {
      IncrementalSession.appendBatch(b1, base, "user_id", "ts", GapUs)
    }
    assert(n === 3L)
    assert(jobs <= 4, s"appendBatch started $jobs Spark jobs")
  }

  test("empty batch is a committed no-op; missing base dir reads fail loudly") {
    val base = fresh("empty")
    // a quiet day BEFORE any data: succeeds, stores nothing
    assert(IncrementalSession.appendBatch(
      df(Seq((1L, 0L))).filter(col("user_id") === 99), base,
      "user_id", "ts", GapUs) === 0L)
    intercept[IllegalArgumentException] {
      IncrementalSession.read(spark, base) // still no committed batches
    }
    // data lands, then another quiet day, then more data: the no-op is
    // invisible — the final ids match the full scan over the real batches
    IncrementalSession.appendBatch(df(Seq((1L, 0 * M))), base,
      "user_id", "ts", GapUs)
    assert(IncrementalSession.appendBatch(
      df(Seq((1L, 0L))).filter(col("user_id") === 99), base,
      "user_id", "ts", GapUs) === 0L)
    IncrementalSession.appendBatch(df(Seq((1L, 40 * M))), base,
      "user_id", "ts", GapUs)
    assert(incremental(base) ===
      fullScan(df(Seq((1L, 0 * M), (1L, 40 * M)))))
    intercept[IllegalArgumentException] {
      IncrementalSession.read(spark, base + "/nope")
    }
  }

  // ---- compaction: the generational fold of the batch directories ------

  test("compaction folds every batch into one dir and changes nothing observable") {
    val base = fresh("compact")
    val b0 = Seq((1L, 0 * M), (1L, 5 * M), (2L, 0 * M))
    val b1 = Seq((1L, 15 * M), (2L, 31 * M), (3L, 0 * M))
    val b2 = Seq((1L, 135 * M), (4L, 0 * M))
    for (b <- Seq(b0, b1, b2))
      IncrementalSession.appendBatch(df(b), base, "user_id", "ts", GapUs)
    assert(IncrementalSession.liveBatchCount(spark, base) === 3)
    val before = incremental(base)
    val n = IncrementalSession.compactBatches(spark, base, targetPartitions = 2)
    assert(n === (b0 ++ b1 ++ b2).size.toLong)
    assert(IncrementalSession.liveBatchCount(spark, base) === 1)
    assert(incremental(base) === before, "compaction changed the answer")
    // the stitch state survived verbatim: the next append still merges /
    // splits across the boundary exactly as without compaction
    val b3 = Seq((1L, 140 * M), (2L, 200 * M), (5L, 0 * M))
    IncrementalSession.appendBatch(df(b3), base, "user_id", "ts", GapUs)
    assert(incremental(base) === fullScan(df(b0 ++ b1 ++ b2 ++ b3)))
    assert(IncrementalSession.liveBatchCount(spark, base) === 2)
    IncrementalSession.compactBatches(spark, base, targetPartitions = 2)
    assert(IncrementalSession.liveBatchCount(spark, base) === 1)
    // compacting a single-batch store is a no-op, not an error
    IncrementalSession.compactBatches(spark, base, targetPartitions = 2)
    assert(IncrementalSession.liveBatchCount(spark, base) === 1)
    assert(incremental(base) === fullScan(df(b0 ++ b1 ++ b2 ++ b3)))
  }

  test("a crash at every compaction step boundary loses nothing and double-counts nothing") {
    for (failAt <- Seq("recovered", "written", "committed")) {
      val base = fresh(s"compact_crash_$failAt")
      val batches = Seq(
        Seq((1L, 0 * M), (2L, 0 * M)),
        Seq((1L, 10 * M), (2L, 60 * M)),
        Seq((1L, 200 * M)))
      for (b <- batches)
        IncrementalSession.appendBatch(df(b), base, "user_id", "ts", GapUs)
      val expected = fullScan(df(batches.flatten))
      intercept[RuntimeException] {
        IncrementalSession.compactBatches(spark, base, 2,
          step => if (step == failAt) sys.error(s"injected crash at $failAt"),
          graft.sources.Sinks.DefaultLeaseStaleMs)
      }
      // reads stay exact THROUGH the crash window (in particular after
      // "committed": folded dirs still on disk must not be double-served).
      // The count pin matters as much as the id map: a double-served
      // batch duplicates (user, ts, sid) rows that a map-compare would
      // silently collapse (mutation IS281 — read() serving committed
      // instead of live batches survived the map-compare alone)
      assert(IncrementalSession.read(spark, base).count()
        === expected.size.toLong,
        s"crash at '$failAt' changed the served row count")
      assert(incremental(base) === expected,
        s"crash at '$failAt' changed what readers see")
      // re-running self-recovers and finishes the fold
      IncrementalSession.compactBatches(spark, base, 2)
      assert(IncrementalSession.liveBatchCount(spark, base) === 1)
      assert(incremental(base) === expected)
      // and ingest continues unharmed on the compacted store
      IncrementalSession.appendBatch(df(Seq((1L, 230 * M))), base,
        "user_id", "ts", GapUs)
      assert(incremental(base) ===
        fullScan(df(batches.flatten :+ (1L, 230 * M))))
    }
  }

  test("compacting an empty store is a harmless no-op") {
    val base = fresh("compact_empty")
    assert(IncrementalSession.compactBatches(spark, base) === 0L)
  }
}
