package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` has a DuckDB-runnable ANSI SQL twin in `oracleSql`
  * computing the same result with the SAME column names and (cast-normalized)
  * types. Timestamps are compared as epoch microseconds (BIGINT): the events
  * parquet's `ts` has shipped as TIMESTAMP(NANOS), timestamp[us], and raw
  * int64 micros across testdata generations, and Tables.events normalizes all
  * of them to a µs-precision TimestampType under the UTC session timezone —
  * the same value DuckDB sees — so the µs longs agree exactly. Floating-point
  * aggregates are rounded to keep sum-order noise out of the hash compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Per-user session stats over the events stream (reference README's
    * session-analysis demo re-expressed Spark-first). */
  def entry(spark: SparkSession): DataFrame = {
    BehavioralFunctions.register(spark)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    ev.select(col("user_id"), col("ts"),
        BehavioralFunctions.sessionize(col("ts"), expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           unix_micros(max(col("ts"))).minus(unix_micros(min(col("ts")))).as("duration_us"))
      .groupBy("user_id")
      .agg(max(col("session_id")).as("n_sessions"),
           round(avg(col("n_events")), 2).as("avg_events_per_session"),
           round(avg(col("duration_us")) / 1e6, 2).as("avg_session_sec"))
      .orderBy("user_id")
  }

  private def prep(s: SparkSession, dir: String): Unit =
    BehavioralFunctions.register(s)

  private def events(s: SparkSession, dir: String): DataFrame = {
    prep(s, dir)
    Tables.events(s, dir)
  }

  // Shared window gap / funnel window in microseconds.
  private val GapUs = 30L * 60 * 1000000
  private val HourUs = 3600L * 1000000

  /** Hard cap on the fixture rows a streaming contract row may read into
    * its driver-side feed. sf0.1 is ~60k events; anything near this bound
    * means the harness is being pointed at a scale it was never meant for —
    * fail loudly instead of OOMing the driver. The streamed OPERATORS are
    * state-bounded; only this test-harness feed collects. */
  private val MaxStreamHarnessRows = 2000000L

  /** Fingerprint of fixture table `table` at `dir` — file count, total
    * bytes, max mtime. The per-fixture memos below key on this instead of
    * the bare path, so a fixture REGENERATED under a live JVM (long-lived
    * test/bench session) invalidates the memo instead of silently reusing
    * a stale verdict. */
  private def tableFingerprint(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val files: Seq[java.io.File] =
      if (root.isDirectory) root.listFiles().toSeq.filter(_.isFile) else Seq(root)
    val parts = files.filter(_.getName.endsWith(".parquet"))
    s"$dir/$table|n=${parts.size}|bytes=${parts.map(_.length).sum}|mtime=${parts.map(_.lastModified).foldLeft(0L)(math.max)}"
  }

  /** Memoized row count per table fingerprint: one count job per fixture
    * and table, not one per streaming row per run. */
  private val tableCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** A streaming contract row's driver-side feed: counts `source` (fixture
    * table `table`, memoized) against MaxStreamHarnessRows BEFORE anything
    * is collected, then collects `feed(source)` ordered by `key`. */
  private def harnessFeed[T, K: Ordering](source: DataFrame, table: String, row: String,
      dir: String)(feed: DataFrame => Dataset[T])(key: T => K): Array[T] = {
    val n = tableCounts.computeIfAbsent(tableFingerprint(dir, table),
      _ => source.count()).longValue()
    require(n <= MaxStreamHarnessRows,
      s"$row streaming-harness feed reads $n $table rows (> $MaxStreamHarnessRows) onto the driver; " +
      "point the contract run at a smaller SF or feed a real streaming source")
    feed(source).collect().sortBy(key)
  }

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

  /** `lead(...) OVER (ORDER BY ts)` in the DuckDB oracle and the operator's
    * internal event ordering are both nondeterministic when two events share
    * a (user_id, ts) — SURVEY §7.4's same-ts trap, shared by every
    * next-node contract row (q08/q17/q26/q27/q35/q36/q39/q40/q72). The
    * driver-generated events tables are tie-free; assert that loudly so a
    * regenerated fixture with ties fails with a clear message instead of a
    * flaky hash mismatch. The check is a fact about the DATA in `dir`, so
    * it memoizes per directory — repeated runs in one JVM pay one
    * limit-1 aggregate total, not one per query per run. The memo keys on
    * the fixture FINGERPRINT (size/mtime), not the path, so a regenerated
    * fixture re-runs the check instead of inheriting a stale verdict. */
  private val tieFreeDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def assertTieFreePerUserTs(ev: DataFrame, name: String,
      dir: String): DataFrame = {
    val key = tableFingerprint(dir, "events")
    if (!tieFreeDirs.contains(key)) {
      val ties = ev.groupBy(col("user_id"), col("ts")).count()
        .filter(col("count") > 1).limit(1).collect()
      require(ties.isEmpty,
        s"$name oracle assumes tie-free (user_id, ts); found duplicate at ${ties.headOption}")
      tieFreeDirs.add(key)
    }
    ev
  }

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

  /** Wrap a streaming contract row so its query runs with few shuffle
    * partitions: state-store instances scale with partitions × stateful
    * operators × micro-batches, and at the harness's tiny per-batch
    * cardinality that per-store fixed cost dominates wall time (measured:
    * q83 13 s at 32 partitions → 5 s at 4, identical result). This is the
    * harness-scale setting of a knob production must size too — partition
    * streaming state by key cardinality and executor count, not by the
    * batch session default (SCALE.md, Streaming). Restores the session
    * value on exit; contract rows execute sequentially in Verify/Bench, so
    * the temporary session-conf change cannot leak into a concurrent
    * query. */
  private def harnessRow(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => withConf(s, "spark.sql.shuffle.partitions", "4")(fn(s, dir))

  /** Runs `body` with session conf `key` set to `value`, then restores the
    * previous value (or unsets a key that had none). */
  private def withConf[A](s: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- 2.1 sessionize ------------------------------------------------
    "q01_sessionize" -> { (s, dir) =>
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      ev.select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          BehavioralFunctions.sessionize(col("ts"), expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
    },

    // ---- 2.2 retention -------------------------------------------------
    "q02_retention" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.retention(
          to_date(col("ts")) === lit("2024-01-01"),
          to_date(col("ts")) === lit("2024-01-02"),
          to_date(col("ts")) === lit("2024-01-03")).as("r"))
        .select(col("user_id"),
          get(col("r"), lit(0)).as("d1"),
          get(col("r"), lit(1)).as("d2"),
          get(col("r"), lit(2)).as("d3"))
    },

    // ---- 2.3 window_funnel (default mode) ------------------------------
    "q03_window_funnel" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.4 sequence_match --------------------------------------------
    "q04_seq_match_wild" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1).*(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "purchase").as("matched"))
    },

    "q05_seq_match_adj" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("matched"))
    },

    // ---- 2.5 sequence_count --------------------------------------------
    "q06_seq_count" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_count("(?1)", col("ts"),
          col("event_type") === "purchase").as("n"))
    },

    // ---- 2.6 sequence_match_events -------------------------------------
    "q07_seq_match_events" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match_events("(?1)(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("r"))
        .select(col("user_id"),
          unix_micros(get(col("r"), lit(0))).as("ev1_us"),
          unix_micros(get(col("r"), lit(1))).as("ev2_us"))
    },

    // ---- 2.7 sequence_next_node ----------------------------------------
    "q08_seq_next_node" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q08_seq_next_node", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "head", col("ts"),
          col("event_type"),
          col("event_type") === "signup",
          col("event_type") === "signup").as("next_node"))
    },

    // ---- 2.9 host-engine surface: scan + agg + window (TPC-H Q1-ish) ----
    "q09_tpch_q1" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice")), 2).as("sum_price"),
             round(avg(col("l_discount")), 6).as("avg_disc"),
             count(lit(1)).as("n_rows"))
    },

    // ---- 2.9 host-engine surface: joins (broadcast dims) ---------------
    "q10_join_revenue" -> { (s, dir) =>
      prep(s, dir)
      val orders = Tables.load(s, dir, "orders")
      val customer = Tables.load(s, dir, "customer")
      val nation = Tables.load(s, dir, "nation")
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
             count(lit(1)).as("n_orders"))
    },

    // ---- 2.9 host-engine surface: bucketed co-located fact-fact join ----
    // same logical answer as a plain orders x lineitem join (the oracle is
    // that plain SQL); what's under test is the LAYOUT: both sides written
    // as 8-bucket tables on the join key, so the join plans with ZERO
    // exchanges (PlanSpec pins it). At 100 TB the bucketed layout deletes
    // both shuffles of the biggest join in the schema; writing it costs
    // one shuffle-equivalent up front and amortizes over every downstream
    // join — the standard warehouse trade.
    "q91_bucketed_join" -> { (s, dir) =>
      prep(s, dir)
      val tmp = sources.Sinks.scratchDir("q91_bucketed")
      val tOrders = sources.Sinks.sessionTable(s, "graft_b_orders")
      val tLineitem = sources.Sinks.sessionTable(s, "graft_b_lineitem")
      sources.Sinks.writeBucketed(
        Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        tOrders, s"$tmp/o", nBuckets = 8, "o_orderkey")
      sources.Sinks.writeBucketed(
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        tLineitem, s"$tmp/l", nBuckets = 8, "l_orderkey")
      sources.Sinks.readBucketed(s, tOrders)
        .join(sources.Sinks.readBucketed(s, tLineitem),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             count(lit(1)).as("n_items"))
    },

    // ---- skew-mitigated fact join: salted equi-join ---------------------
    // same logical answer as the plain orders x lineitem join (the oracle
    // IS q91's plain SQL); what's under test is the SKEW REWRITE: the
    // fact side salted 8 ways, the mid-size side replicated per salt, so
    // a heavy-hitter orderkey spreads over 8 tasks instead of one. The
    // salt changes task placement only — never the rows (SkewSpec pins
    // row equality and the (key, salt) partitioning).
    "q95_salted_join" -> { (s, dir) =>
      prep(s, dir)
      val lineitem = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val orders = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
      ops.Skew.saltedEquiJoin(lineitem, orders,
          "l_orderkey", "o_orderkey", salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             count(lit(1)).as("n_items"))
    },

    // ---- bucketed EVENTS layout: shuffle-free behavioral aggregation ----
    // the reference's entire behavioral surface is GROUP BY user_id /
    // PARTITION BY user_id over the event log — at 100 TB that per-query
    // shuffle IS the dominant cost. Writing events bucketed by user_id
    // pays it ONCE at ingest; every funnel / retention / sequence query
    // then plans with ZERO exchanges (the bucketed scan's HashPartitioning
    // already satisfies the aggregate's ClusteredDistribution; PlanSpec
    // pins it). The oracle is q03's plain funnel SQL — layout must not
    // change the answer.
    "q92_bucketed_funnel" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts", "event_type")
      val tmp = sources.Sinks.scratchDir("q92_bucketed")
      val tEvents = sources.Sinks.sessionTable(s, "graft_b_events")
      sources.Sinks.writeBucketed(ev, tEvents, s"$tmp/events",
        nBuckets = 8, "user_id")
      sources.Sinks.readBucketed(s, tEvents)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- date-partitioned EVENTS layout: time-sliced funnel -------------
    // the other half of the layout story (q92 kills the key shuffle; this
    // kills the time scan): events written one directory per day, then a
    // 7-day funnel whose date filter PRUNES 23 of the 30 day-partitions at
    // planning time (PlanSpec pins PartitionFilters + the pruned file
    // count). The oracle is the plain funnel SQL with the same date
    // predicate — layout must not change the answer.
    "q96_datepart_funnel" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts", "event_type")
      val tmp = sources.Sinks.scratchDir("q96_datepart")
      sources.Sinks.writeDatePartitioned(ev, s"$tmp/events", "ts")
      sources.Sinks.readDatePartitioned(s, s"$tmp/events")
        .filter(col("event_date").between(lit("2024-01-01"), lit("2024-01-07")))
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- COMBINED layout: date-partitioned + user-bucketed --------------
    // both levers in one table: the 7-day funnel prunes 23 of 30
    // day-directories at planning time AND aggregates with zero
    // exchanges (PlanSpec pins both on the same plan). Same oracle as
    // q96 — layout must not change the answer.
    "q97_layout_funnel" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"),
          to_date(col("ts")).as("event_date"))
      val tmp = sources.Sinks.scratchDir("q97_layout")
      val tEvents = sources.Sinks.sessionTable(s, "graft_pb_events")
      sources.Sinks.writePartitionedBucketed(ev, tEvents, s"$tmp/events",
        partCol = "event_date", nBuckets = 8, key = "user_id")
      sources.Sinks.readBucketed(s, tEvents)
        .filter(col("event_date").between(lit("2024-01-01"), lit("2024-01-07")))
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- compacted incremental index under the HASH gate ----------------
    // the maintenance closing of the incremental family: q76's digest
    // index built by INCREMENTAL APPENDS instead of one shot — four
    // id-ordered batches through appendExactDigestIndex (first-writer-
    // wins, which under id-ordered ingest equals the one-shot min(doc_id)
    // build) — then compactParquet'd from the accreted small files into
    // exactly 4, then probed by the q76 batch. Same oracle as q76:
    // neither the append path nor the compaction may change the answer,
    // and the in-query file-count check pins that the compaction
    // demonstrably ran (q92/q96/q97's standard, applied to maintenance).
    "q101_compacted_index" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      val idxDir = sources.Sinks.scratchDir("q101_exact_idx") + "/idx"
      sources.Sinks.clearDir(idxDir) // appends accumulate otherwise
      val maxId = corpus.agg(max(col("doc_id")).cast("long")).head().getLong(0)
      var lo = -1L
      for (i <- 1 to 4) {
        val hi = if (i == 4) maxId else maxId * i / 4
        ops.Dedup.appendExactDigestIndex(
          corpus.filter(col("doc_id") > lo && col("doc_id") <= hi), idxDir)
        lo = hi
      }
      val target = 4
      sources.Sinks.compactParquet(s, idxDir, target)
      // Hadoop FS listing, not java.io: the pin must hold on hdfs://
      // and s3a:// index locations too (same standard as the sink's
      // one-file-per-bucket check)
      val hp = new org.apache.hadoop.fs.Path(idxDir)
      val nFiles = hp.getFileSystem(s.sessionState.newHadoopConf())
        .listStatus(hp)
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      require(nFiles == target,
        s"compaction left $nFiles parquet files, expected $target")
      ops.Dedup.exactDupAgainst(
        d.filter(col("doc_id") % 10 === 0), s.read.parquet(idxDir))
        .select(col("new_id"), col("is_dup"), col("keep_id"))
    },

    // ---- SORT-ELIDING layout: sessionize with zero exchanges AND zero
    // sorts. q92 deletes the window path's shuffle; this layout (one
    // sorted file per bucket) additionally deletes its SORT — for the
    // sort-dominated sessionize (the sort is ~all of its cost at 100M
    // rows) the per-query sort becomes a one-time write-side cost.
    // PlanSpec pins both absences; the oracle is q01's sessionize SQL —
    // layout must not change the answer (tied timestamps share their
    // session id, so the on-disk reorder is hash-invariant).
    "q102_sorted_sessionize" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val tmp = sources.Sinks.scratchDir("q102_sorted")
      val tEvents = sources.Sinks.sessionTable(s, "graft_sb_events")
      sources.Sinks.writeBucketedSortedSingleFile(ev, tEvents,
        s"$tmp/events", nBuckets = 8, "user_id", "ts")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      sources.Sinks.readBucketedSorted(s, tEvents)
        .select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          BehavioralFunctions.sessionize(col("ts"),
            expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
    },

    // ---- the layout carries the WHOLE session pipeline: sessionize +
    // per-session statistics on one scan. The window's output keeps the
    // scan's HashPartitioning(user_id), which satisfies the aggregate's
    // (user_id, session_id) clustering (partitioning on a SUBSET of the
    // group keys co-locates every group), so scan -> window -> aggregate
    // runs with zero exchanges and zero sorts end to end — the
    // session-analytics composite a behavioral warehouse serves all day.
    "q103_session_stats" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val tmp = sources.Sinks.scratchDir("q103_sorted")
      val tEvents = sources.Sinks.sessionTable(s, "graft_ss_events")
      sources.Sinks.writeBucketedSortedSingleFile(ev, tEvents,
        s"$tmp/events", nBuckets = 8, "user_id", "ts")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      sources.Sinks.readBucketedSorted(s, tEvents)
        .select(col("user_id"), col("ts"),
          BehavioralFunctions.sessionize(col("ts"),
            expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("duration_us"))
    },

    // ---- the sorted layout's INGEST CYCLE: deltas land in staging
    // (O(delta), no sort), each compaction folds them into a fresh
    // generation, and the final table still serves sessionize with the
    // zero-exchange/zero-sort plan (SortedIngestSpec pins the plan and
    // the crash-recovery invariants; this row pins the ANSWER — three
    // interleaved deltas folded through three generations must match the
    // one-shot oracle exactly). Same maintainable-store standard q101
    // set for the digest index, applied to the event layout.
    "q104_sorted_ingest" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val tmp = sources.Sinks.scratchDir("q104_sorted")
      val base = s"$tmp/events"
      val staging = s"$tmp/staging"
      sources.Sinks.clearDir(base) // generations accumulate otherwise
      sources.Sinks.clearDir(staging)
      val tEvents = sources.Sinks.sessionTable(s, "graft_si_events")
      // deltas interleave in time (worst case for the merge: every
      // compaction re-sorts, nothing is append-ordered)
      for (slice <- 0 to 2) {
        sources.Sinks.stageSortedDelta(
          ev.filter(pmod(unix_micros(col("ts")), lit(3)) === slice),
          staging)
        sources.Sinks.compactSortedBucketed(s, tEvents, base, staging,
          nBuckets = 8, "user_id", "ts")
      }
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      sources.Sinks.readBucketedSorted(s, tEvents)
        .select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          BehavioralFunctions.sessionize(col("ts"),
            expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
    },

    // ---- MERGEABLE RETENTION ROLLUP: the raw log is folded ONCE into a
    // per-(user, day) table of 8-byte retention_state partials; the
    // dashboard query OR-merges states from that table — O(users x days)
    // input instead of O(events), exact because OR is associative. The
    // oracle is q02's raw-scan retention SQL: the rollup must not change
    // the answer, the same standard the layout rows (q92/q96/q97/q104)
    // meet for storage, applied to pre-aggregation.
    "q105_retention_rollup" -> { (s, dir) =>
      val ev = events(s, dir)
      val conds = Seq("2024-01-01", "2024-01-02", "2024-01-03")
        .map(d => to_date(col("ts")) === lit(d))
      val rollupPath = sources.Sinks.scratchDir("q105_rollup") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.retention_state(conds: _*).as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.retention_merge(col("state"), 3).as("r"))
        .select(col("user_id"),
          get(col("r"), lit(0)).as("d1"),
          get(col("r"), lit(1)).as("d2"),
          get(col("r"), lit(2)).as("d3"))
    },

    // ---- MERGEABLE FUNNEL ROLLUP: q105's pattern applied to the funnel
    // family. The raw log folds ONCE into a per-(user, day) table of
    // funnel_state partials (the serialized condition-event buffer — see
    // the size trade in FunnelStateAgg's scaladoc); the dashboard query
    // funnel_merges them with the window and mode supplied AT MERGE TIME,
    // so one rollup serves every funnel variant. Exact, not approximate
    // (the merge sees the identical event multiset a raw scan would);
    // the oracle is q03's raw-scan funnel SQL.
    "q108_funnel_rollup" -> { (s, dir) =>
      val ev = events(s, dir)
      val rollupPath = sources.Sinks.scratchDir("q108_funnel") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- the SAME rollup serves a different funnel variant: strict mode
    // over the q108-shaped per-(user, day) states — mode lives at merge
    // time, so no second scan of the raw log. Oracle: q34's strict SQL.
    "q109_funnel_rollup_strict" -> { (s, dir) =>
      val ev = events(s, dir)
      val rollupPath = sources.Sinks.scratchDir("q109_funnel") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          "strict", col("state")).as("steps"))
    },

    // ---- the state table serves the SEQUENCE family too: funnel_state's
    // partials are byte-identical to the buffer the sequence aggregates
    // build (same update rules), so sequence_count over the rollup needs
    // only the pattern at merge time. Oracle: q06's raw-scan count SQL.
    "q110_seqcount_rollup" -> { (s, dir) =>
      val ev = events(s, dir)
      val rollupPath = sources.Sinks.scratchDir("q110_seq") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "purchase").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_count_merge("(?1)", col("state"))
          .as("n"))
    },

    // ---- sequence_match over the rollup — wildcard chain across grain
    // boundaries must still be found. Oracle: q04's raw-scan match SQL.
    "q111_seqmatch_rollup" -> { (s, dir) =>
      val ev = events(s, dir)
      val rollupPath = sources.Sinks.scratchDir("q111_seq") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "purchase").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match_merge("(?1).*(?2)",
          col("state")).as("matched"))
    },

    // ---- sequence_match_events over the rollup — ADJACENCY is relative
    // to condition-bearing events only, and the state drops exactly the
    // same non-condition events the raw aggregate does, so the first
    // match's step timestamps survive the rollup. Oracle: q07's SQL.
    "q112_seqevents_rollup" -> { (s, dir) =>
      val ev = events(s, dir)
      val rollupPath = sources.Sinks.scratchDir("q112_seq") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match_events_merge("(?1)(?2)",
          col("state")).as("r"))
        .select(col("user_id"),
          unix_micros(get(col("r"), lit(0))).as("ev1_us"),
          unix_micros(get(col("r"), lit(1))).as("ev2_us"))
    },

    // ---- next_node rollup: the LAST behavioral function gains its
    // mergeable twin. sequence_next_node needs its own state (funnel_state
    // drops condition-less events and carries no values; here ANY event's
    // value can be the answer, so the state keeps every row with its
    // dictionary-encoded value — the family's heaviest partial, see
    // NextNodeStateAgg's scaladoc). Direction and base live at merge
    // time: one per-(user, day) table serves all 8 variants. Oracle:
    // q08's raw-scan forward/head SQL.
    "q113_nextnode_rollup" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q113_nextnode_rollup", dir)
      val rollupPath = sources.Sinks.scratchDir("q113_nextnode") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.next_node_state(col("ts"), col("event_type"),
          col("event_type") === "signup",
          col("event_type") === "signup").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.next_node_merge("forward", "head",
          col("state")).as("next_node"))
    },

    // ---- the SAME state shape serves the opposite direction x base at
    // merge time — backward/tail over per-(user, day) partials, where the
    // matched chain and its adjacent predecessor can straddle a day
    // boundary. Oracle: q17's raw-scan backward/tail SQL.
    "q114_nextnode_rollup_bwd" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q114_nextnode_rollup_bwd", dir)
      val rollupPath = sources.Sinks.scratchDir("q114_nextnode") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.next_node_state(col("ts"), col("event_type"),
          col("event_type") === "purchase",
          col("event_type") === "purchase").as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.next_node_merge("backward", "tail",
          col("state")).as("prev_node"))
    },

    // ---- STATE-TO-STATE combine closes the rollup algebra: the q108
    // day-grain table RE-GRAINS to per-(user, week) by folding states
    // with funnel_state_combine — the raw log is touched once (building
    // the day table) and never again; the week table then serves the
    // same funnel_merge. Combine is multiset union over the condition
    // events, so the answer is exact at any grain. Oracle: q03's
    // raw-scan SQL, the third re-expression it gates (q03, q108, here).
    "q115_funnel_combine_regrain" -> { (s, dir) =>
      val ev = events(s, dir)
      val dayPath = sources.Sinks.scratchDir("q115_funnel") + "/day"
      val weekPath = sources.Sinks.scratchDir("q115_funnel") + "/week"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
        .write.mode("overwrite").parquet(dayPath)
      s.read.parquet(dayPath)
        .groupBy(col("user_id"), weekofyear(col("day")).as("week"))
        .agg(BehavioralFunctions.funnel_state_combine(col("state")).as("state"))
        .write.mode("overwrite").parquet(weekPath)
      s.read.parquet(weekPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- the next-node family's combine: q113's day table re-grains to
    // per-(user, week) partials — dictionary pools re-interned so a
    // value's bytes appear once per combined partial — and the week
    // table answers the same forward/head merge. Oracle: q08's SQL.
    "q116_nextnode_combine_regrain" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q116_nextnode_combine_regrain", dir)
      val dayPath = sources.Sinks.scratchDir("q116_nextnode") + "/day"
      val weekPath = sources.Sinks.scratchDir("q116_nextnode") + "/week"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.next_node_state(col("ts"), col("event_type"),
          col("event_type") === "signup",
          col("event_type") === "signup").as("state"))
        .write.mode("overwrite").parquet(dayPath)
      s.read.parquet(dayPath)
        .groupBy(col("user_id"), weekofyear(col("day")).as("week"))
        .agg(BehavioralFunctions.next_node_state_combine(col("state")).as("state"))
        .write.mode("overwrite").parquet(weekPath)
      s.read.parquet(weekPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.next_node_merge("forward", "head",
          col("state")).as("next_node"))
    },

    // ---- the ROLLUP STORE's maintenance cycle: the state table itself
    // becomes incrementally maintained. Three hash-cut ingest slices (so
    // every (user, day) key recurs across batches and compaction
    // genuinely folds multi-row keys), COMPACT via funnel_state_combine,
    // ingest more (including an empty delta — a quiet day commits as a
    // no-op), compact again. In-query pins: the live batch-dir count
    // drops at each fold; the oracle (q03's raw-scan funnel SQL) pins
    // that no step of the cycle changed the merged answer — the raw log
    // was scanned exactly once per slice, never by maintenance.
    "q118_rollup_store" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q118_rollup") + "/store"
      sources.Sinks.clearDir(base) // committed batches accumulate otherwise
      val keys = Seq("user_id", "day")
      def states(slice: Column) = ev.filter(slice)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      def live = ops.RollupStore.liveBatchCount(s, base)
      def slice(i: Int) = pmod(xxhash64(col("ts")), lit(3)) === i
      ops.RollupStore.appendStates(states(slice(0)), base, keys)
      ops.RollupStore.appendStates(states(slice(1)), base, keys)
      require(live == 2, s"expected 2 batch dirs before compaction, got $live")
      ops.RollupStore.compact(s, base, keys,
        BehavioralFunctions.funnel_state_combine, targetPartitions = 8)
      require(live == 1, s"compaction left $live batch dirs, expected 1")
      val quiet = ops.RollupStore.appendStates(states(lit(false)), base, keys)
      require(quiet == 0L && live == 1,
        s"empty delta was not a no-op (rows $quiet, dirs $live)")
      ops.RollupStore.appendStates(states(slice(2)), base, keys)
      require(live == 2, s"expected 2 batch dirs before recompaction, got $live")
      ops.RollupStore.compact(s, base, keys,
        BehavioralFunctions.funnel_state_combine, targetPartitions = 8)
      require(live == 1, s"recompaction left $live batch dirs, expected 1")
      ops.RollupStore.read(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- the store is FAMILY-GENERIC: the same ingest/compact cycle
    // runs retention's 8-byte BIGINT states folded with
    // retention_state_combine — the third member of the combine algebra
    // (funnel q118, next-node via RollupStoreSpec). Two hash-cut slices,
    // compact, one more slice: the merged cohort flags must match q02's
    // raw-scan oracle at the end of the cycle.
    "q119_rollup_store_retention" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q119_rollup") + "/store"
      sources.Sinks.clearDir(base)
      val keys = Seq("user_id", "day")
      val cs = Seq("2024-01-01", "2024-01-02", "2024-01-03")
        .map(d => to_date(col("ts")) === lit(d))
      def states(slice: Column) = ev.filter(slice)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.retention_state(cs: _*).as("state"))
      def live = ops.RollupStore.liveBatchCount(s, base)
      def slice(i: Int) = pmod(xxhash64(col("ts")), lit(3)) === i
      ops.RollupStore.appendStates(states(slice(0)), base, keys)
      ops.RollupStore.appendStates(states(slice(1)), base, keys)
      ops.RollupStore.compact(s, base, keys,
        BehavioralFunctions.retention_state_combine, targetPartitions = 8)
      require(live == 1, s"compaction left $live batch dirs, expected 1")
      ops.RollupStore.appendStates(states(slice(2)), base, keys)
      require(live == 2, s"expected 2 batch dirs after re-ingest, got $live")
      ops.RollupStore.read(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.retention_merge(col("state"), 3).as("r"))
        .select(col("user_id"),
          get(col("r"), lit(0)).as("d1"),
          get(col("r"), lit(1)).as("d2"),
          get(col("r"), lit(2)).as("d3"))
    },

    // ---- TIME-CONSTRAINED patterns over merged states: a `(?t>N)` step
    // must measure the gap between events that can sit in DIFFERENT
    // day-grain partials — the merged buffer re-sorts by ts before the
    // NFA runs, so the elapsed-time comparison is grain-blind. Same
    // hour-thinned view->click stream and comparator as q59; oracle is
    // q59's lead/lag SQL verbatim.
    "q117_seqmatch_time_rollup" -> { (s, dir) =>
      val ev = events(s, dir)
      val rollupPath = sources.Sinks.scratchDir("q117_seq") + "/rollup"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view" && epochHourTs === 3,
          col("event_type") === "click" && epochHourTs === 4).as("state"))
        .write.mode("overwrite").parquet(rollupPath)
      s.read.parquet(rollupPath)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match_merge("(?1)(?t>500000)(?2)",
          col("state")).as("matched"))
    },

    // ---- REPLAY-SAFE ingest: q118's cycle driven through an
    // at-least-once delivery channel. Each slice appends tagged with an
    // ingestId (what a foreachBatch sink passes as its batchId) and is
    // then RE-DELIVERED — Spark's documented restart behavior — which
    // must be a committed no-op, before AND after a compaction folds the
    // ids forward. In-query pins: every replay returns 0 rows and adds
    // no batch dir; the oracle (q03's raw-scan funnel SQL) pins that the
    // replays changed nothing — an un-keyed store would double the
    // replayed slices' event multisets and diverge.
    "q120_rollup_store_replay" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q120_rollup") + "/store"
      sources.Sinks.clearDir(base)
      val keys = Seq("user_id", "day")
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(3)) === i)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      def live = ops.RollupStore.liveBatchCount(s, base)
      def append(i: Int) = ops.RollupStore.appendStates(states(i), base,
        keys, ingestId = Some(s"nightly/$i"))
      require(append(0) > 0 && append(1) > 0, "ingest slices did not land")
      // redelivery of slice 1 (same id, same data): committed no-op
      val r1 = append(1)
      require(r1 == 0L && live == 2,
        s"replayed ingest was not a no-op (rows $r1, dirs $live)")
      ops.RollupStore.compact(s, base, keys,
        BehavioralFunctions.funnel_state_combine, targetPartitions = 8)
      // the ids were folded forward: replays stay no-ops after compaction
      val r0 = append(0)
      require(r0 == 0L && live == 1,
        s"replay after compaction landed (rows $r0, dirs $live)")
      require(append(2) > 0 && live == 2, "fresh ingest blocked")
      val r2 = append(2)
      require(r2 == 0L && live == 2,
        s"replayed ingest was not a no-op (rows $r2, dirs $live)")
      ops.RollupStore.read(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- GRAIN-PARTITIONED store + retention: one sub-store per week
    // (`week=2024-01-08/batch_k`), so maintenance touches only the
    // grains it names — compaction folds a RANGE (O(touched grains),
    // not O(store)) and dropGrains retires the oldest weeks atomically.
    // In-query pins: the grain inventory before/after the drop, a
    // dashboard read of ONE week listing only that week's files, and
    // batch-dir arithmetic per step. The oracle is q03's funnel SQL
    // restricted to events on/after the cutoff — dropping a grain IS a
    // deliberate answer change, exactly those weeks' events leaving
    // every merge.
    "q121_rollup_store_grained" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q121_rollup") + "/store"
      sources.Sinks.clearDir(base)
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      ops.RollupStore.appendStatesByGrain(states(0), base, keys, "week")
      ops.RollupStore.appendStatesByGrain(states(1), base, keys, "week")
      val weeks = ops.RollupStore.grainValues(s, base)
      require(weeks.size == 5 && weeks.head == "2024-01-01",
        s"expected 5 week grains from January, got $weeks")
      require(ops.RollupStore.liveBatchCount(s, base) == 10,
        "each week grain should hold one batch per ingest slice")
      // range compaction: fold ONLY the weeks that survive the upcoming
      // drop; the doomed weeks are never read again, so never folded
      ops.RollupStore.compactGrains(s, base, keys,
        BehavioralFunctions.funnel_state_combine,
        grains = _ >= cutoff, targetPartitions = 4)
      require(ops.RollupStore.liveBatchCount(s, base) == 3 + 2 * 2,
        "range compaction did not fold exactly the selected grains")
      val dropped = ops.RollupStore.dropGrains(s, base, olderThan = cutoff)
      require(dropped == 2 && ops.RollupStore.grainValues(s, base) ==
        weeks.drop(2), s"dropGrains retired $dropped grains")
      // a one-week dashboard read prunes every other grain at listing time
      val oneWeek = ops.RollupStore.readGrains(s, base, _ == cutoff)
      require(oneWeek.inputFiles.nonEmpty &&
        oneWeek.inputFiles.forall(_.contains(s"week=$cutoff")),
        "a pruned read listed files outside its grain")
      ops.RollupStore.readGrains(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- STORE-LEVEL RE-GRAIN: q115 proved day->week re-graining per
    // query; regrain() rewrites the STORE itself at the coarser grain as
    // a maintenance op (same lease/marker/footer cycle as compact), so
    // every later dashboard read pays one row per (user, week) instead
    // of per (user, day) — without ever touching the raw log. In-query
    // pins: one live batch and the flipped (user_id, week) schema after
    // the rewrite; the oracle (q03's raw-scan SQL) pins that the rewrite
    // changed no merged answer.
    "q122_rollup_store_regrain" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q122_rollup") + "/store"
      sources.Sinks.clearDir(base)
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(3)) === i)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      for (i <- 0 until 3)
        ops.RollupStore.appendStates(states(i), base, Seq("user_id", "day"))
      val dayRows = ops.RollupStore.read(s, base).count()
      val n = ops.RollupStore.regrain(s, base, Seq("user_id", "day"), "day",
        date_trunc("week", col("day")).cast("date"), "week",
        BehavioralFunctions.funnel_state_combine, targetPartitions = 8)
      require(ops.RollupStore.liveBatchCount(s, base) == 1,
        "regrain must leave one live batch")
      require(n < dayRows, s"weekly rows $n did not shrink from $dayRows")
      val cols = ops.RollupStore.read(s, base).columns.sorted.toSeq
      require(cols == Seq("state", "user_id", "week"),
        s"re-grained store schema is $cols")
      ops.RollupStore.read(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- GRAINED RE-GRAIN: regrainInto folds a week-grained store into
    // a FRESH month-grained store — the in-place regrain can't rewrite a
    // grain that lives in the directory layout (a multi-dir atomic swap
    // the commit protocol doesn't have); the fold into a fresh store
    // needs no swap at all and resumes exactly-once per new grain under
    // its ingest id (GrainedRollupStoreSpec pins the crash/resume).
    // In-query pins: the destination is a real grained store (month
    // grain values, one batch per month, a one-month read lists only
    // that month's files) and the source keeps its week grains
    // untouched. Oracle = q03's raw-scan SQL: the rewrite changed no
    // merged answer.
    "q124_rollup_store_regrain_into" -> { (s, dir) =>
      val ev = events(s, dir)
      val root = sources.Sinks.scratchDir("q124_rollup")
      val src = root + "/weeks"
      val dst = root + "/months"
      sources.Sinks.clearDir(src); sources.Sinks.clearDir(dst)
      val states = ev
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      ops.RollupStore.appendStatesByGrain(states, src,
        Seq("user_id", "week"), "week")
      val weeks = ops.RollupStore.grainValues(s, src)
      ops.RollupStore.regrainInto(s, src, dst, Seq("user_id", "week"),
        "week", date_trunc("month", col("week")).cast("date"), "month",
        BehavioralFunctions.funnel_state_combine, targetPartitions = 4)
      val months = ops.RollupStore.grainValues(s, dst)
      require(months.nonEmpty && months.size < weeks.size,
        s"expected fewer month grains than week grains ($months vs $weeks)")
      require(ops.RollupStore.liveBatchCount(s, dst) == months.size,
        "regrainInto should land exactly one batch per month grain")
      val oneMonth = ops.RollupStore.readGrains(s, dst, _ == months.head)
      require(oneMonth.inputFiles.nonEmpty &&
        oneMonth.inputFiles.forall(_.contains(s"month=${months.head}")),
        "a one-month read listed files outside its grain")
      require(ops.RollupStore.grainValues(s, src) == weeks,
        "regrainInto modified its source store")
      ops.RollupStore.readGrains(s, dst)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- GRAINED STORE, RETENTION BRANCH: the grain layout is
    // family-generic, and this row drives its OTHER schema branch —
    // 8-byte BIGINT retention states (q121/q122/q124 are all BINARY
    // funnel states) — through a full grained cycle. It also pins the
    // round's two read-path upgrades in-query: the one-week dashboard
    // read must resolve through the grain's _MANIFEST (the scan's input
    // files are EXACTLY the manifest's list — one metadata file read per
    // grain instead of per-batch listings), and a range compaction run
    // with a `cleanupDelayMs` grace window must leave the folded dirs'
    // bytes on disk (dead to every reader — the live-batch count proves
    // it) so a snapshot reader planned before the fold can finish.
    // Oracle = q02's raw-scan retention SQL: the whole cycle is
    // answer-invisible.
    "q125_rollup_store_grained_retention" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q125_rollup") + "/store"
      sources.Sinks.clearDir(base)
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      val cs = Seq("2024-01-01", "2024-01-02", "2024-01-03")
        .map(d => to_date(col("ts")) === lit(d))
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(BehavioralFunctions.retention_state(cs: _*).as("state"))
      ops.RollupStore.appendStatesByGrain(states(0), base, keys, "week")
      ops.RollupStore.appendStatesByGrain(states(1), base, keys, "week")
      val weeks = ops.RollupStore.grainValues(s, base)
      require(weeks.size == 5 && ops.RollupStore.liveBatchCount(s, base) == 10,
        s"expected 5 week grains x 2 batches, got $weeks")
      // range compaction of the older weeks under a grace window: the
      // fold commits (live count drops) but the folded dirs' bytes stay
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sessionState.newHadoopConf())
      def batchDirCount = ops.RollupStore.grainValues(s, base).map { g =>
        fs.listStatus(new org.apache.hadoop.fs.Path(base, s"week=$g"))
          .count(_.getPath.getName.startsWith("batch_"))
      }.sum
      ops.RollupStore.compactGrains(s, base, keys,
        BehavioralFunctions.retention_state_combine,
        grains = _ < cutoff, targetPartitions = 4,
        cleanupDelayMs = 10L * 60 * 1000)
      require(ops.RollupStore.liveBatchCount(s, base) == 2 * 1 + 3 * 2,
        "range compaction did not fold exactly the selected grains")
      require(batchDirCount == 2 * 3 + 3 * 2,
        "the grace window did not keep the folded dirs' bytes on disk")
      // the one-week dashboard read resolves through the manifest: its
      // scan pins exactly the manifest's file list for that grain
      val gdir = new org.apache.hadoop.fs.Path(base, s"week=$cutoff")
      val manFiles = ops.GenerationalBatches.readManifest(fs, gdir)
        .getOrElse(sys.error(s"no manifest under $gdir"))._3
        .map(rel => new org.apache.hadoop.fs.Path(gdir, rel).toUri.getPath)
        .toSet
      val oneWeek = ops.RollupStore.readGrains(s, base, _ == cutoff)
      require(oneWeek.inputFiles.nonEmpty && oneWeek.inputFiles.map(f =>
          new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet == manFiles,
        "a one-week read did not pin exactly its grain's manifest files")
      ops.RollupStore.readGrains(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.retention_merge(col("state"), 3).as("r"))
        .select(col("user_id"),
          get(col("r"), lit(0)).as("d1"),
          get(col("r"), lit(1)).as("d2"),
          get(col("r"), lit(2)).as("d3"))
    },

    // ---- STORE LIFECYCLE JANITOR + GENESIS GATE, IN-QUERY: the two
    // round-18 protocol additions driven through one day-grained funnel
    // cycle. Pins, in order: (1) a WRONG-FAMILY ingest (BIGINT retention
    // states into the funnel store) is REFUSED at the `_STORE_GENESIS`
    // verify and leaves the store untouched — the loud failure that
    // replaced the silent mixed-store creation; (2) `sweepExpired` run
    // with the SAME grace window the fold passed deletes NOTHING (the
    // janitor honors the horizon, folded bytes stay readable for
    // snapshot plans); (3) a janitor pass with a zero window — the
    // documented smallest-window-wins horizon shortening — clears every
    // expired dir EXCEPT the one grain whose stripe a concurrent op
    // holds (skip-on-collision: the janitor never blocks live work and
    // never deletes under someone else's stripe); (4) after the stripe
    // releases, the next cadence collects exactly that grain's tail and
    // the store's batch dirs equal its live count; (5) a post-sweep
    // dashboard read still resolves through the grain's healed
    // _MANIFEST. Oracle = q03's raw-scan funnel SQL over ALL events:
    // the entire janitor cycle is answer-invisible.
    "q126_rollup_store_janitor" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q126_rollup") + "/store"
      sources.Sinks.clearDir(base)
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      ops.RollupStore.appendStatesByGrain(states(0), base, keys, "week")
      ops.RollupStore.appendStatesByGrain(states(1), base, keys, "week")
      val liveBefore = ops.RollupStore.liveBatchCount(s, base)
      // (1) genesis gate: a retention-family batch must be refused
      // loudly, before any grain stripe is taken, store unchanged
      val wrong = ev
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(BehavioralFunctions.retention_state(
          to_date(col("ts")) === lit("2024-01-01"),
          to_date(col("ts")) === lit("2024-01-02")).as("state"))
      val refusal =
        try { ops.RollupStore.appendStatesByGrain(wrong, base, keys, "week")
              None }
        catch { case e: IllegalArgumentException => Option(e.getMessage) }
      require(refusal.exists(_.contains("genesis")),
        s"wrong-family ingest was not refused at the genesis gate: $refusal")
      require(ops.RollupStore.liveBatchCount(s, base) == liveBefore,
        "the refused ingest changed the store")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sessionState.newHadoopConf())
      def grainDir(g: String) =
        new org.apache.hadoop.fs.Path(base, s"week=$g")
      def deadDirs(g: String): Int = {
        val d = grainDir(g)
        ops.GenerationalBatches.batchDirs(fs, d).size -
          ops.GenerationalBatches.liveBatches(fs, d).size
      }
      val grace = 10L * 60 * 1000
      ops.RollupStore.compactGrains(s, base, keys,
        BehavioralFunctions.funnel_state_combine,
        grains = _ < cutoff, targetPartitions = 4, cleanupDelayMs = grace)
      val folded = ops.RollupStore.grainValues(s, base).filter(_ < cutoff)
      val deadTotal = folded.map(deadDirs).sum
      require(folded.nonEmpty && deadTotal >= folded.size,
        s"range compaction under the grace window left no dead dirs " +
          s"(${folded.size} grains, $deadTotal dead)")
      // (2) janitor at the fold's own window: nothing has expired
      require(ops.RollupStore.sweepExpired(s, base, grace) == 0 &&
          folded.map(deadDirs).sum == deadTotal,
        "sweepExpired deleted inside the grace window")
      // (3) zero-window sweep with one grain's stripe held by a
      // concurrent op: that grain is skipped, every other tail clears
      val held = folded.head
      val stripe = ops.RollupStore.grainLeasePath(
        new org.apache.hadoop.fs.Path(base), held)
      val token = sources.Sinks.acquireLease(fs, stripe, 60L * 1000)
      val sweptAround =
        try ops.RollupStore.sweepExpired(s, base, 0L)
        finally sources.Sinks.releaseLease(fs, stripe, token)
      require(sweptAround == deadTotal - deadDirs(held) &&
          deadDirs(held) > 0,
        s"janitor did not skip exactly the held grain ($sweptAround " +
          s"swept, ${deadDirs(held)} left under the stripe)")
      // (4) next cadence collects the released grain's tail; the store
      // is now exactly its live batches
      val sweptTail = ops.RollupStore.sweepExpired(s, base, 0L)
      require(sweptTail > 0 && folded.map(deadDirs).sum == 0,
        s"post-release sweep left dead dirs (swept $sweptTail)")
      // (5) the post-sweep dashboard read resolves through the healed
      // manifest: the scan pins exactly the manifest's file list
      val manFiles = ops.GenerationalBatches.readManifest(fs, grainDir(held))
        .getOrElse(sys.error(s"no manifest under ${grainDir(held)}"))._3
        .map(rel => new org.apache.hadoop.fs.Path(grainDir(held), rel)
          .toUri.getPath)
        .toSet
      val oneWeek = ops.RollupStore.readGrains(s, base, _ == held)
      require(oneWeek.inputFiles.nonEmpty && oneWeek.inputFiles.map(f =>
          new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet == manFiles,
        "a post-sweep read did not pin exactly its grain's manifest files")
      ops.RollupStore.readGrains(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- SNAPSHOT READER, EVALUATED THROUGH THE GRACE WINDOW: q125/
    // q126 pin that a fold under `cleanupDelayMs` leaves the folded
    // dirs' BYTES on disk — this row pins the promise those bytes
    // exist FOR: a read PLANNED before the fold (readGrains resolves
    // manifests to explicit files at call time — a built-in snapshot)
    // still evaluates EXACTLY after the fold commits, and its rows are
    // part of this query's oracle-gated answer. Pins: (1) post-fold,
    // the snapshot's input files are disjoint from a fresh read's (it
    // genuinely reads superseded bytes); (2) a pre-fold plan over the
    // OTHER grain range, evaluated after the janitor clears that
    // range's tail at a zero window, dies with a vanished-file error —
    // availability, never wrong data; (3) the final answer UNIONs the
    // snapshot half (dead bytes) with a fresh post-sweep read of the
    // swept half and must match q03's raw-scan funnel SQL exactly.
    "q127_rollup_store_snapshot_reader" -> { (s, dir) =>
      val ev = events(s, dir)
      val base = sources.Sinks.scratchDir("q127_rollup") + "/store"
      sources.Sinks.clearDir(base)
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      ops.RollupStore.appendStatesByGrain(states(0), base, keys, "week")
      ops.RollupStore.appendStatesByGrain(states(1), base, keys, "week")
      // two plans pinned BEFORE the fold: explicit pre-fold file lists
      val snapHigh = ops.RollupStore.readGrains(s, base, _ >= cutoff)
      val doomedLow = ops.RollupStore.readGrains(s, base, _ < cutoff)
      require(doomedLow.count() > 0, "pre-fold plan read nothing")
      val grace = 10L * 60 * 1000
      ops.RollupStore.compactGrains(s, base, keys,
        BehavioralFunctions.funnel_state_combine,
        targetPartitions = 4, cleanupDelayMs = grace)
      // (1) the snapshot reads only bytes the fold superseded
      val freshHighFiles = ops.RollupStore.readGrains(s, base, _ >= cutoff)
        .inputFiles.toSet
      require(snapHigh.inputFiles.nonEmpty &&
          snapHigh.inputFiles.toSet.intersect(freshHighFiles).isEmpty,
        "the fold did not supersede the snapshot's files")
      // (2) the janitor clears the LOW range's tail at a zero window;
      // the pre-fold plan over it now fails on vanished files
      require(ops.RollupStore.sweepExpired(s, base, 0L, _ < cutoff) > 0,
        "the zero-window sweep collected nothing")
      val died =
        try { doomedLow.count(); false }
        catch {
          case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
              .exists { t =>
                t.isInstanceOf[java.io.FileNotFoundException] ||
                  Option(t.getMessage).exists(m =>
                    m.contains("FileNotFound") ||
                      m.contains("does not exist"))
              }
        }
      require(died,
        "a pre-fold plan outlived the swept grace window without failing")
      // (3) snapshot half (superseded bytes, still exact) + fresh half
      val freshLow = ops.RollupStore.readGrains(s, base, _ < cutoff)
      snapHigh.unionByName(freshLow)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- STREAMING INGEST BRIDGE, DRIVEN END-TO-END: a real
    // foreachBatch stream feeds the store (the continuous version of
    // q118's nightly cycle) — each micro-batch folds to per-(user, day)
    // funnel partials and lands keyed by its batchId. In-query pins:
    // after the stream stops, the sink's append is RE-INVOKED with the
    // LAST batchId and the same data (exactly the call Spark makes on
    // restart recovery — foreachBatch is at-least-once) and must be a
    // committed no-op leaving the live-batch count unchanged; a
    // mid-stream compaction ran between micro-batches, so the guard
    // demonstrably survives the fold. Oracle = q03's raw-scan funnel SQL:
    // the streamed store answers exactly what one batch scan would.
    "q123_stream_rollup_ingest" -> harnessRow { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      val base = sources.Sinks.scratchDir("q123_rollup") + "/store"
      sources.Sinks.clearDir(base)
      def toStates(df: DataFrame) = df
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      var lastBatchId = -1L
      def sink(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long): Unit = {
        lastBatchId = batchId
        ops.RollupStore.appendStates(toStates(batch.toDF()), base,
          Seq("user_id", "day"), ingestId = Some(s"q123/$batchId"))
        ()
      }
      val rows = harnessFeed(events(s, dir), "events", "q123_stream_rollup_ingest", dir)(
        _.select(col("user_id").cast("long"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)])(e => (e._2.getTime, e._1))
      def slices = rows.grouped(math.max(rows.length / 3, 1))
      val input = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = input.toDF().toDF("user_id", "ts", "event_type").writeStream
        .foreachBatch(sink _).start()
      try {
        slices.zipWithIndex.foreach { case (b, i) =>
          input.addData(b.toSeq)
          q.processAllAvailable()
          // maintenance between micro-batches, the production cadence
          if (i == 1)
            ops.RollupStore.compact(s, base, Seq("user_id", "day"),
              BehavioralFunctions.funnel_state_combine, targetPartitions = 8)
        }
      } finally q.stop()
      val live = ops.RollupStore.liveBatchCount(s, base)
      val replayed = ops.RollupStore.appendStates(
        toStates(slices.toSeq.last.toSeq.toDF("user_id", "ts", "event_type")),
        base, Seq("user_id", "day"), ingestId = Some(s"q123/$lastBatchId"))
      require(replayed == 0L && ops.RollupStore.liveBatchCount(s, base) == live,
        s"restart redelivery landed (rows $replayed)")
      ops.RollupStore.read(s, base)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
    },

    // ---- INCREMENTAL SESSIONIZE: the log folds in one time-ordered
    // batch at a time (three ten-day slices here); each batch pays a
    // window over ITSELF plus a join against the O(users) stitch state,
    // never a rescan of history. The accumulated per-event ids must match
    // q01's full-scan oracle exactly — session ids are append-stable, so
    // the incremental decomposition is exact, not approximate
    // (IncrementalSessionSpec pins the crash-recovery invariants; this
    // row pins the answer).
    "q106_incremental_sessionize" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val base = sources.Sinks.scratchDir("q106_incsess") + "/sess"
      sources.Sinks.clearDir(base) // committed batches accumulate otherwise
      val slices = Seq(
        to_date(col("ts")) <= lit("2024-01-10"),
        to_date(col("ts")) > lit("2024-01-10") &&
          to_date(col("ts")) <= lit("2024-01-20"),
        to_date(col("ts")) > lit("2024-01-20"))
      for (slice <- slices)
        ops.IncrementalSession.appendBatch(ev.filter(slice), base,
          "user_id", "ts", 1800000000L)
      ops.IncrementalSession.read(s, base)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("session_id"))
    },

    // ---- the incremental store's MAINTENANCE cycle: append, COMPACT,
    // append more (including an EMPTY delta — a quiet day must commit as
    // a no-op), compact again. The generational fold bounds the read
    // path's directory list at daily-ingest horizons — without it q106's
    // store unions one dir per ingest forever, the small-files wall the
    // sorted layout's ingest cycle (q104) already solved for storage.
    // In-query pins: the live batch-dir count actually DROPS at each
    // compaction; the oracle (q01's full-scan SQL) pins that none of the
    // maintenance changed a single session id.
    "q107_incsess_compacted" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val base = sources.Sinks.scratchDir("q107_incsess") + "/sess"
      sources.Sinks.clearDir(base) // committed batches accumulate otherwise
      val slices = Seq(
        to_date(col("ts")) <= lit("2024-01-08"),
        to_date(col("ts")) > lit("2024-01-08") &&
          to_date(col("ts")) <= lit("2024-01-16"),
        to_date(col("ts")) > lit("2024-01-16") &&
          to_date(col("ts")) <= lit("2024-01-24"),
        to_date(col("ts")) > lit("2024-01-24"))
      def live = ops.IncrementalSession.liveBatchCount(s, base)
      def add(slice: Column): Long = ops.IncrementalSession.appendBatch(
        ev.filter(slice), base, "user_id", "ts", 1800000000L)
      slices.take(2).foreach(add)
      require(live == 2, s"expected 2 batch dirs before compaction, got $live")
      ops.IncrementalSession.compactBatches(s, base, targetPartitions = 8)
      require(live == 1, s"compaction left $live batch dirs, expected 1")
      val quiet = add(lit(false))
      require(quiet == 0L && live == 1,
        s"empty delta was not a no-op (rows $quiet, dirs $live)")
      slices.drop(2).foreach(add)
      require(live == 3, s"expected 3 batch dirs before recompaction, got $live")
      ops.IncrementalSession.compactBatches(s, base, targetPartitions = 8)
      require(live == 1, s"recompaction left $live batch dirs, expected 1")
      ops.IncrementalSession.read(s, base)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("session_id"))
    },

    // ---- LLM pipeline: exact dedup -------------------------------------
    "q11_dedup_exact" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
             count(lit(1)).as("dup_count"))
        .select(col("keep_id"), col("dup_count"))
    },

    // ---- LLM pipeline: text stats (tokens / chars) ----------------------
    "q12_text_stats" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
    },

    // ---- LLM pipeline: per-language quality roll-up ---------------------
    "q13_lang_stats" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             round(avg(col("n_chars")), 4).as("avg_chars"))
    },

    // ---- 2.3 window_funnel strict_order mode (rows-only check) ---------
    "q15_funnel_strict_order" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "strict_order", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.4 time-constrained pattern (?t<=N) ---------------------------
    "q16_seq_match_time" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t<=600)(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("matched"))
    },

    // ---- 2.7 sequence_next_node backward/tail ---------------------------
    "q17_next_node_backward" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q17_next_node_backward", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "tail", col("ts"),
          col("event_type"),
          col("event_type") === "purchase",
          col("event_type") === "purchase").as("prev_node"))
    },

    // ---- LLM pipeline: exact n-gram Jaccard dedup (inverted index) ------
    "q18_jaccard_dups" -> { (s, dir) =>
      prep(s, dir)
      ops.Dedup.jaccardJoin(Tables.load(s, dir, "documents"), threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // ---- LLM pipeline: MinHash + LSH dedup (verified-exact output) ------
    "q19_minhash_lsh" -> { (s, dir) =>
      prep(s, dir)
      // 96 hashes / 24 bands (r=4): banding miss probability at the J=0.8
      // query threshold is (1-0.8^4)^24 ≈ 3e-6, ≈ 1e-11 at J=0.9 — the
      // oracle (exact join at 0.8) and this LSH+exact-verify agree up to
      // that bound. LSH is the high-similarity tool; moderate thresholds
      // are q18's exact inverted-index join.
      ops.Dedup.minhashLshJoin(Tables.load(s, dir, "documents"), threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // ---- LLM pipeline: embedding cosine near-dup self-join --------------
    "q20_embed_neardup" -> { (s, dir) =>
      prep(s, dir)
      // exact threshold join, but as a block-pair equi-join (no cartesian /
      // nested-loop node): see Similarity.blockedSelfJoinPairs for why the
      // exact path must stay O(n²)-compute yet can still distribute
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      ops.Similarity.blockedSelfJoinPairs(emb, threshold = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
    },

    // ---- LLM pipeline: language-ID heuristic ----------------------------
    "q21_langid" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), ops.TextAnalysis.langId(col("text")).as("lang_guess"))
    },

    // ---- LLM pipeline: quality scoring ----------------------------------
    "q22_quality" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          ops.TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          round(ops.TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(ops.TextAnalysis.qualityScore(col("text")), 6).as("quality"))
    },

    // ---- LLM pipeline: winnowing fingerprints ---------------------------
    "q23_fingerprint" -> { (s, dir) =>
      prep(s, dir)
      // fused kernel: k-gram md5 + deque winnowing in one codegen'd
      // expression (see TextAnalysis.winnowFingerprintsFused — the HOF
      // forms fall out of whole-stage codegen via ArrayTransform)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          ops.TextAnalysis.winnowFingerprintsFused(col("text"), 8, 4).as("fp"))
        .select(col("doc_id"),
          size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("min_fp"))
    },

    // ---- LLM pipeline: binary-column stats (multimodal plumbing) --------
    "q24_binary_stats" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          substring(md5(col("text").cast("binary")), 1, 8).as("header_hex"))
    },

    // ---- 2.3 remaining funnel modes (rows-only checks) ------------------
    "q25_funnel_modes" -> { (s, dir) =>
      val ev = events(s, dir)
      def f(mode: String) = BehavioralFunctions.window_funnel(
        expr("INTERVAL '1' HOUR"), mode, col("ts"),
        col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase")
      ev.groupBy(col("user_id"))
        .agg(f("strict").as("strict"),
          f("strict_once").as("strict_once"),
          f("timestamp_dedup").as("ts_dedup"),
          f("strict_increase").as("strict_inc"),
          f("allow_reentry").as("reentry"),
          f("strict_increase, strict_once").as("combined"))
    },

    // ---- 2.7 next-node forward/tail ------------------------------------
    "q26_next_node_fwd_tail" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q26_next_node_fwd_tail", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "tail", col("ts"),
          col("event_type"),
          col("event_type") === "signup",
          col("event_type") === "signup").as("next_node"))
    },

    // ---- 2.7 next-node backward/head ------------------------------------
    "q27_next_node_bwd_head" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q27_next_node_bwd_head", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "head", col("ts"),
          col("event_type"),
          col("event_type") === "purchase",
          col("event_type") === "purchase").as("prev_node"))
    },

    // ---- LLM pipeline: SimHash fingerprints (md5-based, oracle-checked
    // bit-for-bit; the xxhash64 production variant is differential- and
    // determinism-tested in OpsSpec) -------------------------------------
    "q28_simhash" -> { (s, dir) =>
      prep(s, dir)
      ops.Dedup.simhashMd5(Tables.load(s, dir, "documents"))
    },

    // ---- LLM pipeline: composed curation (dedup -> lang/quality gate) ---
    "q31_curation" -> { (s, dir) =>
      prep(s, dir)
      ops.Pipeline.curate(Tables.load(s, dir, "documents"),
        dupThreshold = 0.5, minQuality = 0.5)
    },

    // ---- LLM pipeline: duplicate-cluster assignment ---------------------
    "q30_dup_components" -> { (s, dir) =>
      prep(s, dir)
      val pairs = ops.Dedup.jaccardJoin(Tables.load(s, dir, "documents"), threshold = 0.5)
      ops.Dedup.dupComponents(pairs)
    },

    // ---- LLM pipeline: IVF ANN (full probe == exact; partial-probe path
    // unit-tested) --------------------------------------------------------
    "q29_ivf_ann" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      emb.filter(col("vec_id") === 0).take(1).headOption match {
        case None => // no query vector: empty result, same schema
          emb.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
        case Some(row) =>
          val queryVec = row.getSeq[Double](1).toArray
          val (indexed, centroids) =
            ops.Similarity.ivfIndex(emb.filter(col("vec_id") =!= 0), nCells = 8, iterations = 2)
          ops.Similarity.ivfTopK(indexed, centroids, queryVec, k = 10, nProbe = 8)
            .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
      }
    },

    // ---- LLM pipeline: brute-force cosine top-k -------------------------
    "q14_ann_cosine" -> { (s, dir) =>
      prep(s, dir)
      // single query vector collected to the driver (bounded state, same
      // pattern as the IVF coarse quantizer) and attached as a literal: the
      // corpus scan has NO join node at all — one codegen'd pass, then the
      // top-k sort. The DataFrame-in/DataFrame-out variant for query
      // batches is Similarity.bruteTopK.
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      emb.filter(col("vec_id") === 0).take(1).headOption match {
        case None => // no query vector: empty result, same schema
          emb.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
        case Some(row) =>
          val qArr = array(row.getSeq[Double](1).map(lit): _*)
          emb.filter(col("vec_id") =!= 0)
            .select(col("vec_id"), ops.Similarity.cosine(col("v"), qArr).as("sim"))
            .orderBy(col("sim").desc, col("vec_id"))
            .limit(10)
            .select(col("vec_id"), round(col("sim"), 6).as("sim"))
      }
    },

    // ---- 2.3 funnel mode strict_increase (disjoint conds: the mode's
    // skip-on-equal-ts rule is a no-op on tie-free data, so the default-mode
    // min-ts cascade is a valid oracle for THIS data; the distinguishing
    // same-ts behavior is golden-tested) ---------------------------------
    "q32_funnel_strict_increase" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "strict_increase", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.3 funnel mode strict_once with OVERLAPPING conditions: an
    // event matching both cond2 and cond3 may advance only ONE step, which
    // distinguishes strict_once from default multi-advance on this data ---
    "q33_funnel_strict_once" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "strict_once", col("ts"),
          col("event_type").isin("view", "click"),
          col("event_type").isin("click", "purchase"),
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.3 funnel mode strict: a re-fire of the just-completed
    // condition breaks the chain ------------------------------------------
    "q34_funnel_strict" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "strict", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.3 funnel mode timestamp_dedup (tie-free data: the same-ts
    // advance skip is a no-op, so the default cascade is a valid oracle for
    // THIS data; the same-ts behavior itself is golden-tested) ------------
    "q37_funnel_ts_dedup" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "timestamp_dedup", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.3 funnel mode allow_reentry: a mid-chain entry event resets
    // the scan to step 1 (the final step of the walk is the per-entry
    // result, NOT the max reached — forgetting pre-reset progress is the
    // reference behavior). Oracle: recursive-CTE walk of the same state
    // machine. --------------------------------------------------------
    "q38_funnel_reentry" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "allow_reentry", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))
    },

    // ---- 2.7 next-node forward/first_match ------------------------------
    "q35_next_node_fwd_first" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q35_next_node_fwd_first", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "first_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("next_node"))
    },

    // ---- 2.7 next-node backward/last_match ------------------------------
    "q36_next_node_bwd_last" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q36_next_node_bwd_last", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "last_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("prev_node"))
    },

    // ---- LLM pipeline: SimHash Hamming pair join (the operator a user
    // actually runs; md5 fingerprints so the band join + pigeonhole are
    // oracle-reproducible end-to-end) -------------------------------------
    "q41_simhash_pairs" -> { (s, dir) =>
      prep(s, dir)
      ops.Dedup.simhashPairsMd5(Tables.load(s, dir, "documents"), maxDist = 3)
    },

    // ---- LLM pipeline: leakage-safe train/test split --------------------
    // the split unit is the near-dup CLUSTER, not the document — a random
    // per-doc split leaks near-duplicate pairs across train/test
    "q43_leakage_split" -> { (s, dir) =>
      prep(s, dir)
      ops.Pipeline.leakageSafeSplit(Tables.load(s, dir, "documents"))
    },

    // ---- LLM pipeline: per-language token-budget sampling ---------------
    "q44_token_budget" -> { (s, dir) =>
      prep(s, dir)
      ops.Pipeline.sampleByTokenBudget(Tables.load(s, dir, "documents"), 2000L)
    },

    // ---- LLM pipeline: deterministic hash sampling ----------------------
    "q45_sample_det" -> { (s, dir) =>
      prep(s, dir)
      // keepBuckets 16384/65536 = a reproducible 25% sample
      ops.Pipeline.sampleDeterministic(Tables.load(s, dir, "documents"), 16384)
        .select(col("doc_id"))
    },

    // ---- LLM pipeline: corpus n-gram vocabulary -------------------------
    "q46_ngram_freq" -> { (s, dir) =>
      prep(s, dir)
      ops.TextAnalysis.ngramFreq(Tables.load(s, dir, "documents"), n = 2, topK = 50)
    },

    // ---- LLM pipeline: Gopher-style repetition signals (fused native
    // kernel, no shuffle; docs with <2 tokens have no bigrams -> omitted) --
    "q47_repetition" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"),
          ops.TextAnalysis.repetitionStats(
            ops.TextAnalysis.tokensWs(col("text")), 2).as("r"))
        .filter(col("r").isNotNull)
        .select(col("doc_id"),
          round(col("r.top_share"), 6).as("top_share"),
          round(col("r.dup_frac"), 6).as("dup_frac"))
    },

    // ---- LLM pipeline: PII redaction (scrubbed text + span count) -------
    "q48_redact" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.redact(col("text")).as("clean_text"),
        ops.TextAnalysis.redactCount(col("text")).cast("long").as("n_redacted"))
    },

    // ---- LLM pipeline: cross-doc repeated-passage (chunk) statistics ----
    "q49_chunk_dups" -> { (s, dir) =>
      prep(s, dir)
      ops.Dedup.chunkDupStats(Tables.load(s, dir, "documents"), n = 5)
        .select(col("id").as("doc_id"), col("n_chunks"), col("shared_chunks"),
          round(col("shared_frac"), 6).as("shared_frac"))
    },

    // ---- LLM pipeline: deterministic domain-mixture resampling ----------
    // src2 rate 0 (drop all), src0 25%, src1 50%, everything else kept —
    // exercises the absent-source default and the zero edge
    "q50_source_mix" -> { (s, dir) =>
      prep(s, dir)
      ops.Pipeline.mixBySourceWeight(Tables.load(s, dir, "documents"),
          Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0))
        .select(col("doc_id"), col("source"))
    },

    // ---- LLM pipeline: benchmark decontamination ------------------------
    // benchmark = every 20th doc, corpus = the rest: the q49 chunk-dup
    // signal showed cross-doc repeated 5-gram passages exist in this data,
    // so the containment join has real positives to find
    "q51_decontaminate" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      ops.Pipeline.decontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), n = 5)
    },

    // ---- LLM pipeline: token-window chunking (size 8, stride 4) ---------
    "q52_chunks" -> { (s, dir) =>
      prep(s, dir)
      ops.TextAnalysis.chunkByTokens(Tables.load(s, dir, "documents"),
        size = 8, stride = 4)
    },

    // ---- LLM pipeline: batched exact top-k similarity search ------------
    // every 100th vector is a probe; per-query top-5 over the rest via the
    // score_topk bounded-heap aggregate (no window sort, no join node)
    "q53_batch_topk" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      ops.Similarity.batchTopK(
        emb.filter(col("vec_id") % 100 =!= 0),
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        k = 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
    },

    // ---- LLM pipeline: deterministic sequence packing --------------------
    // 8 buckets / 512-token sequences on the test corpus; real runs size
    // buckets so one bucket's tokens fit a task
    "q54_pack" -> { (s, dir) =>
      prep(s, dir)
      ops.Pipeline.packSequences(Tables.load(s, dir, "documents"),
        seqLen = 512, buckets = 8)
    },

    // ---- LLM pipeline: batched IVF top-k (full probe -> exact) -----------
    // same probe/corpus split as q53; full-probe batched IVF must equal
    // the exact batch, so the brute-force oracle covers the whole
    // cell-assign + probe + per-cell-scoring + heap pipeline
    "q56_ivf_batch" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (indexed, centroids) = ops.Similarity.ivfIndex(
        emb.filter(col("vec_id") % 100 =!= 0), nCells = 8, iterations = 2)
      ops.Similarity.ivfBatchTopK(indexed, centroids,
          emb.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("v").as("qv")),
          k = 5, nProbe = 8)
        .select(col("qid"), col("rank"), col("id").as("vec_id"),
          round(col("sim"), 6).as("sim"))
    },

    // ---- similarity: incremental IVF ingest (index maintenance) ----------
    // the ANN counterpart of q74-q76: the index is TRAINED on the stored
    // corpus only (vec_id % 10 != 0); the held-out batch is ivfAppend'ed to
    // the existing centroids (O(batch), no retrain), and the queries — all
    // from the appended batch — must find exact top-k over corpus+batch at
    // nProbe = nCells. Equality proves appended vectors are immediately
    // searchable AND that append-time cell assignment agrees with the
    // probe-time cell selection (a drifted assignment would drop rank-1
    // self-matches at partial probe; at full probe it proves the union
    // index is complete and correctly scored).
    "q90_incremental_ann" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (indexed, centroids) = ops.Similarity.ivfIndex(
        emb.filter(col("vec_id") % 10 =!= 0), nCells = 8, iterations = 2)
      val appended = ops.Similarity.ivfAppend(
        emb.filter(col("vec_id") % 10 === 0), centroids)
      ops.Similarity.ivfBatchTopK(indexed.unionByName(appended), centroids,
          emb.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("v").as("qv")),
          k = 5, nProbe = 8)
        .select(col("qid"), col("rank"), col("id").as("vec_id"),
          round(col("sim"), 6).as("sim"))
    },

    // ---- LLM pipeline: unigram LM quality score --------------------------
    // vocab 500 so the OOV floor path is exercised on this corpus
    "q55_lm_quality" -> { (s, dir) =>
      prep(s, dir)
      ops.TextAnalysis.lmQuality(Tables.load(s, dir, "documents"),
          vocabSize = 500)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
    },

    // ---- registered SQL surface, exercised as SQL TEXT ------------------
    // the other behavioral queries go through the Column API; this one
    // pins the spark.sql(...) string path end-to-end — FunctionRegistry
    // name resolution, INTERVAL literal coercion, varargs — the layer the
    // reference's own LESSONS.md calls out as breakable while every unit
    // test stays green
    "q42_sql_surface" -> { (s, dir) =>
      events(s, dir).createOrReplaceTempView("events_v")
      s.sql("""SELECT user_id,
              |  window_funnel(INTERVAL '1' HOUR, ts,
              |    event_type = 'view', event_type = 'click',
              |    event_type = 'purchase') AS steps,
              |  sequence_match('(?1).*(?2)', ts,
              |    event_type = 'view', event_type = 'purchase') AS matched,
              |  sequence_count('(?1)', ts, event_type = 'purchase') AS n
              |FROM events_v GROUP BY user_id""".stripMargin)
    },

    // ---- 2.7 next-node forward/last_match (8/8 combo coverage) ----------
    "q39_next_node_fwd_last" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q39_next_node_fwd_last", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "last_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("next_node"))
    },

    // ---- 2.7 next-node backward/first_match -----------------------------
    "q40_next_node_bwd_first" -> { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q40_next_node_bwd_first", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "first_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("prev_node"))
    },

    // ---- multimodal: binary-column feature extraction -------------------
    // writes the deterministic demo media table to parquet, reads it back
    // through the typed Dataset path, and extracts features with the
    // mapPartitions kernel — the oracle recomputes n_bytes / mean_byte /
    // header_ok byte-by-byte from the SAME parquet (hex-decoded in SQL),
    // so the binary-column round-trip and the per-partition kernel are
    // both under the hash gate. The decode body itself stays the honest
    // environment-limited stub (fake 4-byte magic header).
    "q57_media_features" -> { (s, dir) =>
      prep(s, dir)
      ops.Multimodal.demoTable(s, 300).write.mode("overwrite")
        .parquet(MediaParquetPath)
      import s.implicits._
      val media = s.read.parquet(MediaParquetPath).as[ops.Multimodal.MediaRow]
      ops.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"), col("header_ok"))
    },

    // ---- LLM pipeline: hyperplane-LSH near-neighbor self-join ------------
    // full-recall regime on this corpus: planes=3 x tables=24 at
    // threshold 0.45 provably finds every qualifying pair of the sf0.01
    // embeddings (LshRecallSpec pins recall == 1 vs the exact join), and
    // candidates verify exactly, so the result is hash-identical to the
    // exact O(n^2) oracle while the operator itself only compares
    // bucket-colliding pairs.
    "q58_lsh_selfjoin" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      ops.Similarity.lshSelfJoin(emb, threshold = 0.45, dim = 64,
          nPlanes = 3, tables = 24)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
    },

    // ---- 2.8 time comparator (?t>N) --------------------------------------
    // hour-of-day conds (pure epoch arithmetic — timezone-free on both
    // engines) thin the stream so the single view->click adjacency per
    // user makes the strict-greater comparison observable: gaps at
    // exactly/below 500000 s flip users to false
    "q59_seq_match_time_gt" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t>500000)(?2)", col("ts"),
          col("event_type") === "view" && epochHourTs === 3,
          col("event_type") === "click" && epochHourTs === 4).as("matched"))
    },

    // ---- 2.8 time comparator (?t!=N) -------------------------------------
    // N = 2901 is the exact gap of one user's ONLY qualifying adjacency in
    // the sf0.01 data, so != genuinely excludes a user that the
    // unconstrained pattern matches (a mutant ignoring the comparator
    // hash-mismatches)
    "q60_seq_match_time_ne" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t!=2901)(?2)", col("ts"),
          col("event_type") === "view" && epochHourTs === 3,
          col("event_type") === "click" && epochHourTs === 4).as("matched"))
    },

    // ---- 2.8 time comparator (?t==N) -------------------------------------
    // same N as q60: exactly one user's single adjacency has this gap, so
    // == is true for precisely that user
    "q61_seq_match_time_eq" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t==2901)(?2)", col("ts"),
          col("event_type") === "view" && epochHourTs === 3,
          col("event_type") === "click" && epochHourTs === 4).as("matched"))
    },

    // ---- 2.8 time comparator (?t<N) --------------------------------------
    "q62_seq_match_time_lt" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t<500000)(?2)", col("ts"),
          col("event_type") === "view" && epochHourTs === 3,
          col("event_type") === "click" && epochHourTs === 4).as("matched"))
    },

    // ---- 2.8 time comparator (?t>=N) -------------------------------------
    // N = 609075 is one user's exact gap: >= keeps that user, > would not,
    // so the boundary itself is under the hash gate
    "q63_seq_match_time_ge" -> { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t>=609075)(?2)", col("ts"),
          col("event_type") === "view" && epochHourTs === 3,
          col("event_type") === "click" && epochHourTs === 4).as("matched"))
    },

    // ---- multimodal: frame sampling over the binary column ----------------
    // self-contained (writes its own parquet — query-map iteration order is
    // unspecified, so it cannot rely on q57 having run first); the oracle
    // re-slices every stride-th 16-byte frame out of hex(bytes) in SQL
    "q64_media_frames" -> { (s, dir) =>
      prep(s, dir)
      ops.Multimodal.demoTable(s, 300).write.mode("overwrite")
        .parquet(MediaFramesPath)
      import s.implicits._
      val media = s.read.parquet(MediaFramesPath).as[ops.Multimodal.MediaRow]
      ops.Multimodal.sampleFrames(media, stride = 4).toDF()
        .select(col("media_id"), col("frame_idx"),
          hex(col("frame_bytes")).as("frame_hex"))
    },

    // ---- multimodal: nearest-neighbor resize over the binary column -------
    // the oracle recomputes the downsample pixel-by-pixel from hex(bytes):
    // out(y, x) reads payload[(((y*h div 16) * w) + (x*w div 16)) mod plen]
    "q66_media_resize" -> { (s, dir) =>
      prep(s, dir)
      ops.Multimodal.demoTable(s, 300).write.mode("overwrite")
        .parquet(MediaResizePath)
      import s.implicits._
      val media = s.read.parquet(MediaResizePath).as[ops.Multimodal.MediaRow]
      ops.Multimodal.resize(media, 16, 16).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          hex(col("bytes")).as("bytes_hex"))
    },

    // ---- LLM pipeline: int8 embedding quantization ------------------------
    // scale binds to an attribute between the two selects so array_max
    // runs once per row; q is serialized to a comma-joined string because
    // the harness sort-hashes columns and a raw array<int> is unhashable
    // on the pandas side (the operator itself stores bytes)
    "q67_quantize" -> { (s, dir) =>
      prep(s, dir)
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), col("v"),
          ops.Similarity.quantScale(col("v")).as("__scale"))
        .select(col("vec_id"), round(col("__scale"), 9).as("scale"),
          array_join(ops.Similarity.quantizeInt8(col("v"), col("__scale"))
            .cast("array<int>"), ",").as("q"))
    },

    // ---- LLM pipeline: SemDeDup semantic dedup (nCells=1: exact regime) --
    // nCells = 1 makes the within-cell pairing compare EVERY pair, so the
    // oracle is the exact lower-id-neighbor rule with no k-means dependence;
    // SemanticDedupSpec pins nCells > 1 against this on separated clusters
    "q68_semantic_dedup" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      ops.Similarity.semanticDedup(emb, threshold = 0.4, nCells = 1)
        .select(col("id").as("vec_id"), col("is_dup"), col("dup_of"))
    },

    // ---- streaming contract rows: the streaming operators vs the same ----
    // DuckDB oracles the batch aggregates use. The events table streams
    // through MemoryStream in two time-ordered micro-batches (state carry,
    // watermark advance, and the consumed-prefix drop all exercised), and
    // the final per-user emission must hash-match the batch oracle. The
    // collect feeding MemoryStream is harness-bounded driver state (the
    // production path reads a real source); the horizon is set wide so the
    // forgetting contract is not in play — these rows pin EQUALITY with
    // batch semantics, the lateness/horizon contracts are unit-tested.
    "q71_stream_seq_count" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(events(s, dir), "events", "q71_stream_seq_count", dir)(
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
    "q72_stream_next_node" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(
          assertTieFreePerUserTs(events(s, dir), "q72_stream_next_node", dir),
          "events", "q72_stream_next_node", dir)(
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
    "q77_stream_sessionize" -> harnessRow { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(events(s, dir), "events", "q77_stream_sessionize", dir)(
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

    // streaming retention vs the q02 oracle: per-user O(1) OR-mask state in
    // update mode. The anchor-gated flags are monotone (the mask only
    // accumulates), so each user's final emission is the per-flag max.
    "q78_stream_retention" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(events(s, dir), "events", "q78_stream_retention", dir)(
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

    // streaming window_funnel vs the q03 oracle: per-user packed event
    // buffer re-scanned per micro-batch, best-step monotone guard — the
    // final emission is the per-user max. conds=0 events (signup/error)
    // still flow so every user emits, matching the oracle's DISTINCT-user
    // completion.
    "q79_stream_funnel" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(events(s, dir), "events", "q79_stream_funnel", dir)(
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

    // streaming sequence_match vs the q04 oracle (wildcard pattern
    // "(?1).*(?2)" view->purchase): per-user packed buffer + the batch
    // pattern engine per micro-batch, with a match LATCH that drops the
    // buffer (O(1) state once matched). matched is monotone -> max.
    "q80_stream_seq_match" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(events(s, dir), "events", "q80_stream_seq_match", dir)(
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

    // streaming sequence_match_events vs the q07 oracle (adjacency
    // "(?1)(?2)" view->click): the latch captures the first match's (?N)
    // step timestamps; with a time-ordered feed the latched match IS the
    // batch first match. matched_ts is null-until-latched then constant,
    // so max over the guarded elements selects the final emission.
    "q81_stream_seq_match_events" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(events(s, dir), "events", "q81_stream_seq_match_events", dir)(
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

    // streaming exact dedup over the documents table: the operator's
    // dropDuplicatesWithinWatermark state must keep EXACTLY the first
    // occurrence of each text digest across the two micro-batches — the
    // output counts emissions per digest, so a leaked cross-batch (or
    // in-batch) duplicate hash-mismatches as n_emitted = 2. Event time is
    // synthesized deterministically from doc_id (the documents table has
    // no timestamp; which COPY survives is the operator's arbitrary choice
    // within a batch, so the contract row pins digest-level exactly-once,
    // and StreamingSpec pins first-wins ordering on crafted feeds).
    "q82_stream_exact_dedup" -> harnessRowNoIdle { (s, dir) =>
      import s.implicits._
      val rows = harnessFeed(Tables.load(s, dir, "documents"), "documents",
          "q82_stream_exact_dedup", dir)(
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
    "q83_stream_simhash_dedup" -> harnessRow { (s, dir) =>
      withConf(s, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false") {
        import s.implicits._
        val rows = harnessFeed(Tables.load(s, dir, "documents"), "documents",
            "q83_stream_simhash_dedup", dir)(
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

    // the streaming ingest screen end-to-end vs the SAME exact-Jaccard
    // oracle as q74: the new-docs split streams through nearDupIngest in
    // three micro-batches against the persisted index and the per-batch
    // sink outputs are unioned — per-batch results are bit-identical to
    // the batch probe (StreamingIngestSpec), so the union must hash-match
    // the monolithic q74 answer. This closes the last member of the
    // streaming family on the oracle gate.
    "q84_stream_neardup_ingest" -> harnessRow { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      val d = Tables.load(s, dir, "documents")
      val idx = ops.OpCaches.track(
        ops.Dedup.minhashIndex(d.filter(col("doc_id") % 10 =!= 0)).persist())
      // materialize the index EAGERLY: each micro-batch's probe references
      // it from three parallel broadcast subtrees (banding + two verify
      // stages), and a lazy persist lets batch 1's three subtrees race the
      // unpopulated cache — profiled as three CONCURRENT ~0.8 s jobs each
      // recomputing the full index sketch (round 22, guide §1.2/§5)
      idx.count()
      val rows = harnessFeed(d, "documents", "q84_stream_neardup_ingest", dir)(
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

    // ---- multimodal: REAL image codec (JDK javax.imageio), oracle-gated --
    // One 32x16 PNG is synthesized per doc_id — r = id%256 solid,
    // g = (id*7)%256 solid, b = (x+id)%256 gradient — then decoded by the
    // ACTUAL PNG codec and reduced to per-channel means. PNG is lossless
    // and the means have closed forms in doc_id, so DuckDB can verify the
    // real decode path bit-for-bit (sums of integers divided by a
    // power-of-two pixel count are exact doubles).
    "q85_image_decode" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val images = ids.mapPartitions(_.map(id =>
        ops.Multimodal.ImageRow(id, ops.Multimodal.encodePng(32, 16) { (x, _) =>
          (((id % 256).toInt) << 16) | (((id * 7 % 256).toInt) << 8) |
            ((x + id) % 256).toInt
        })))
      ops.Multimodal.decodeImages(images)
        .select(col("media_id").as("doc_id"), col("ok"),
          col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // resize 32x16 -> 8x4 through the real decode -> nearest-neighbor ->
    // PNG re-encode -> real decode round trip. The NN source map is
    // sx = x*32/8 = 4x (exact multiples), so the surviving b-gradient
    // samples have the same closed form shifted to stride 4.
    "q86_image_resize" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val images = ids.mapPartitions(_.map(id =>
        ops.Multimodal.ImageRow(id, ops.Multimodal.encodePng(32, 16) { (x, _) =>
          (((id % 256).toInt) << 16) | (((id * 7 % 256).toInt) << 8) |
            ((x + id) % 256).toInt
        })))
      ops.Multimodal.decodeImages(ops.Multimodal.resizeImages(images, 8, 4))
        .select(col("media_id").as("doc_id"), col("ok"),
          col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // ---- multimodal: REAL audio codec (JDK javax.sound.sampled) ---------
    // One 64-frame mono PCM16 WAV is synthesized per doc_id — sample i is
    // ((id*31 + i*17) % 65536) - 32768 — encoded by the ACTUAL WAV writer,
    // decoded by the ACTUAL WAV reader, and reduced to exact sample means
    // (sums of integers over a power-of-two frame count). DuckDB recomputes
    // the means in closed form; equality proves the real codec round trip.
    "q87_audio_decode" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val audio = ids.mapPartitions(_.map(id =>
        ops.Multimodal.AudioRow(id, ops.Multimodal.encodeWav(8000,
          Array.tabulate(64)(i => (((id * 31 + i * 17) % 65536) - 32768).toShort)))))
      ops.Multimodal.decodeAudio(audio)
        .select(col("media_id").as("doc_id"), col("ok"),
          col("sample_rate"), col("channels"), col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_amp"), 6).as("mean_amp"),
          round(col("mean_abs"), 6).as("mean_abs"))
    },

    // stride-2 downsample through the real decode -> every-2nd-frame ->
    // WAV re-encode at 4000 Hz -> real decode round trip: surviving
    // samples are s'_i = s_{2i}, same closed form at stride 2.
    "q88_audio_downsample" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val audio = ids.mapPartitions(_.map(id =>
        ops.Multimodal.AudioRow(id, ops.Multimodal.encodeWav(8000,
          Array.tabulate(64)(i => (((id * 31 + i * 17) % 65536) - 32768).toShort)))))
      ops.Multimodal.decodeAudio(ops.Multimodal.downsampleAudio(audio, 2))
        .select(col("media_id").as("doc_id"), col("ok"),
          col("sample_rate"), col("channels"), col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_amp"), 6).as("mean_amp"),
          round(col("mean_abs"), 6).as("mean_abs"))
    },

    // stereo variant: interleaved L/R PCM16 (L_i and R_i have distinct
    // closed forms), frame-wise stride-2 downsample — channels must stay
    // paired and count-preserved (a de-interleaving stride or channel swap
    // changes both means). decodeAudio's means run over ALL interleaved
    // samples, so the oracle averages the two per-frame channel values.
    "q94_audio_stereo" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val audio = ids.mapPartitions(_.map { id =>
        val inter = new Array[Short](64 * 2)
        var i = 0
        while (i < 64) {
          inter(2 * i) = (((id * 31 + i * 17) % 65536) - 32768).toShort
          inter(2 * i + 1) = (((id * 13 + i * 23) % 65536) - 32768).toShort
          i += 1
        }
        ops.Multimodal.AudioRow(id, ops.Multimodal.encodeWav(8000, inter, channels = 2))
      })
      ops.Multimodal.decodeAudio(ops.Multimodal.downsampleAudio(audio, 2))
        .select(col("media_id").as("doc_id"), col("ok"),
          col("sample_rate"), col("channels"), col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_amp"), 6).as("mean_amp"),
          round(col("mean_abs"), 6).as("mean_abs"))
    },

    // ---- multimodal: robustness mix through the RESIZE path -------------
    // composes two seams under one hash: resizeImages must pass
    // undecodable rows THROUGH unchanged (junk / truncated / bomb-header
    // from the q93 mix), and the downstream decode must then flow them as
    // ok=false — while valid rows carry q86's resized closed form. A
    // regression in either seam (resize throwing on bad bytes, or
    // passthrough mangling them into accidental decodability) flips rows.
    "q100_resize_robustness" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val images = ids.mapPartitions(_.map { id =>
        def valid = ops.Multimodal.encodePng(32, 16) { (x, _) =>
          (((id % 256).toInt) << 16) | (((id * 7 % 256).toInt) << 8) |
            ((x + id) % 256).toInt
        }
        val bytes = (id % 4) match {
          case 0 => valid
          case 1 => Array[Byte](1, 2, 3, 4, 5)
          case 2 => valid.take(40)
          case _ => ops.Multimodal.bombHeaderPng(16384, 16384)
        }
        ops.Multimodal.ImageRow(id, bytes)
      })
      ops.Multimodal.decodeImages(ops.Multimodal.resizeImages(images, 8, 4))
        .select(col("media_id").as("doc_id"), col("ok"),
          col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // ---- multimodal: undecodable-AUDIO contract under the HASH gate -----
    // q93's principle for the audio path — doc_id % 4: 0 = valid PCM16
    // WAV (q87's closed form), 1 = junk bytes (no parser claims them),
    // 2 = WAV truncated mid-header, 3 = real 8-bit unsigned WAV (parses,
    // but non-PCM16 is DATA the decoder declines, not an error). Every
    // non-zero class flows as ok=false with zeroed stats under the hash.
    "q98_audio_robustness" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val audio = ids.mapPartitions(_.map { id =>
        def valid = ops.Multimodal.encodeWav(8000,
          Array.tabulate(64)(i => (((id * 31 + i * 17) % 65536) - 32768).toShort))
        def wav8bit: Array[Byte] = {
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
            /* signed = */ false, /* bigEndian = */ false)
          val pcm = Array.tabulate[Byte](64)(i => ((id + i) % 256).toByte)
          val st = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, 64L)
          val out = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(st,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
          out.toByteArray
        }
        val bytes = (id % 4) match {
          case 0 => valid
          case 1 => Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
          case 2 => valid.take(30)
          case _ => wav8bit
        }
        ops.Multimodal.AudioRow(id, bytes)
      })
      ops.Multimodal.decodeAudio(audio)
        .select(col("media_id").as("doc_id"), col("ok"),
          col("sample_rate"), col("channels"), col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_amp"), 6).as("mean_amp"),
          round(col("mean_abs"), 6).as("mean_abs"))
    },

    // ---- multimodal: REAL video path (MJPEG-AVI, JDK JPEG codec) --------
    // One 8-frame MJPEG-AVI is synthesized per doc_id — frame i is solid
    // gray 32*((i+id)%8)+16, JPEG-encoded by the ACTUAL codec, wrapped in
    // a spec-conformant RIFF/AVI container — then frame-sampled at stride
    // 2 through the real container walk + JPEG decode. JPEG is lossy, so
    // the oracle checks floor(mean_gray/32): solid frames decode within
    // ±2 of the encoded level against a ±15 bucket margin, making the
    // statistic exact AND sensitive to the actual decoded pixel content.
    "q89_video_frames" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val videos = ids.mapPartitions(_.map { id =>
        val frames = (0 until 8).map { i =>
          val v = 32 * ((i + id) % 8).toInt + 16
          ops.Multimodal.encodeJpeg(16, 16)((_, _) => (v << 16) | (v << 8) | v)
        }
        ops.Multimodal.VideoRow(id, ops.Multimodal.encodeMjpegAvi(16, 16, 10, frames))
      })
      ops.Multimodal.sampleVideoFrames(videos, 2)
        .select(col("media_id").as("doc_id"), col("frame_idx"), col("ok"),
          col("width"), col("height"), col("level").as("gray_level"))
    },

    // ---- multimodal: undecodable-bytes contract under the HASH gate -----
    // a deterministic per-doc mix — doc_id % 4: 0 = valid PNG (q85's
    // closed form), 1 = junk bytes (wrong magic, no reader claims them),
    // 2 = PNG truncated mid-stream (header parses, pixel read EOFs),
    // 3 = decompression-bomb header (valid IHDR declaring 16384x16384 =
    // 2^28 px > the 2^26 guard). Every non-zero class must flow through
    // as ok=false with zeroed stats, never a thrown task: corrupt rows
    // are DATA at corpus scale. The oracle computes ok and the zeros in
    // closed form from the mix rule, so the hash covers ok=false rows.
    "q93_media_robustness" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val images = ids.mapPartitions(_.map { id =>
        def valid = ops.Multimodal.encodePng(32, 16) { (x, _) =>
          (((id % 256).toInt) << 16) | (((id * 7 % 256).toInt) << 8) |
            ((x + id) % 256).toInt
        }
        val bytes = (id % 4) match {
          case 0 => valid
          case 1 => Array[Byte](1, 2, 3, 4, 5)
          case 2 => valid.take(40)
          case _ => ops.Multimodal.bombHeaderPng(16384, 16384)
        }
        ops.Multimodal.ImageRow(id, bytes)
      })
      ops.Multimodal.decodeImages(images)
        .select(col("media_id").as("doc_id"), col("ok"),
          col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },

    // ---- multimodal: undecodable-VIDEO contract under the HASH gate -----
    // completes the robustness triad (q93 image, q98 audio) — doc_id % 4:
    // 0 = valid MJPEG-AVI (q89's closed form), 1 = junk bytes and
    // 2 = truncated container (both: ONE frame_idx=-1 ok=false row),
    // 3 = intact container whose frames are garbage bytes (the walk
    // succeeds; each sampled frame decodes to an ok=false row). The
    // oracle enumerates all three shapes in closed form.
    "q99_video_robustness" -> { (s, dir) =>
      prep(s, dir)
      import s.implicits._
      val ids = Tables.load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      val videos = ids.mapPartitions(_.map { id =>
        def goodFrames = (0 until 8).map { i =>
          val v = 32 * ((i + id) % 8).toInt + 16
          ops.Multimodal.encodeJpeg(16, 16)((_, _) => (v << 16) | (v << 8) | v)
        }
        def junkFrames = (0 until 8).map(i =>
          Array.tabulate[Byte](32)(j => ((id + i * 7 + j) % 251).toByte))
        val bytes = (id % 4) match {
          case 0 => ops.Multimodal.encodeMjpegAvi(16, 16, 10, goodFrames)
          case 1 => Array[Byte](9, 9, 9, 9)
          // header-level cut (< the 12-byte RIFF/AVI magic) — a MID-STREAM
          // cut deliberately salvages the fully-contained frames instead
          // (VideoCodecSpec pins that), which would be mix-0-shaped here
          case 2 => ops.Multimodal.encodeMjpegAvi(16, 16, 10, goodFrames).take(10)
          case _ => ops.Multimodal.encodeMjpegAvi(16, 16, 10, junkFrames)
        }
        ops.Multimodal.VideoRow(id, bytes)
      })
      ops.Multimodal.sampleVideoFrames(videos, 2)
        .select(col("media_id").as("doc_id"), col("frame_idx"), col("ok"),
          col("width"), col("height"), col("level").as("gray_level"))
    },

    // ---- LLM pipeline: Bloom-prefiltered decontamination ------------------
    // same question and SAME ORACLE as q51: the Bloom filter over
    // xxhash64(gram) prunes the corpus gram stream (codegen'd might_contain,
    // no join node) and only survivors reach an exact string-equality
    // verification join — sketch FPs affect cost, never the answer, so the
    // hash must match the exact broadcast formulation bit-for-bit
    "q73_decontaminate_bloom" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      ops.Pipeline.decontaminateBloom(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), n = 5)
    },

    // ---- LLM pipeline: incremental dedup against a stored sketch index ----
    // the daily-ingest shape: the accumulated corpus (doc_id % 10 != 0) is
    // sketched ONCE into a minhashIndex; the incoming batch (doc_id % 10
    // == 0) sketches only itself and probes the stored band keys. Exact
    // verification makes the result equal to the exact cross-split jaccard
    // join up to the q19 banding recall bound, so the oracle is exact SQL.
    "q74_incremental_dedup" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      // the probe scans the index three times (banding + two verify
      // stages); a STORED index re-scans cheap column-pruned parquet, so a
      // live-built one must be persisted to stand in for it (14 s -> ~2 s)
      val idx = ops.OpCaches.track(
        ops.Dedup.minhashIndex(d.filter(col("doc_id") % 10 =!= 0)).persist())
      // eager materialization, same rationale as q84: the probe's three
      // parallel index subtrees must read a POPULATED cache, not race to
      // fill it with three redundant sketch computations (round 22)
      idx.count()
      ops.Dedup.minhashLshJoinAgainst(
        d.filter(col("doc_id") % 10 === 0), idx, threshold = 0.8)
        .select(col("new_id"), col("idx_id"), round(col("jaccard"), 6).as("jaccard"))
    },

    // ---- LLM pipeline: incremental exact-dedup screening ------------------
    // the exact member of the incremental family: a stored (digest, keep_id)
    // index; the batch digests per-row and left-joins on the 32-byte hash.
    // The oracle joins on raw text equality — same answer, since sha2 is
    // injective on this fixture by construction (a collision would also
    // break q11's grouping).
    "q76_incremental_exact" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      ops.Dedup.exactDupAgainst(
        d.filter(col("doc_id") % 10 === 0),
        ops.Dedup.exactDigestIndex(d.filter(col("doc_id") % 10 =!= 0)))
        .select(col("new_id"), col("is_dup"), col("keep_id"))
    },

    // ---- LLM pipeline: incremental SimHash screening ----------------------
    // the Hamming-regime twin of q74: the accumulated corpus persists as a
    // 16-byte-per-doc fingerprint index; the batch fingerprints per-row and
    // band-joins the stored index. No verification stage — Hamming is exact
    // from the fingerprints, so the oracle recomputes it directly.
    "q75_incremental_simhash" -> { (s, dir) =>
      prep(s, dir)
      val d = Tables.load(s, dir, "documents")
      ops.Dedup.simhashPairsAgainstMd5(
        d.filter(col("doc_id") % 10 === 0),
        ops.Dedup.simhashIndexMd5(d.filter(col("doc_id") % 10 =!= 0)),
        maxDist = 3)
    },

    // ---- LLM pipeline: batched top-k served from the int8 corpus ----------
    // the corpus side exists ONLY in quantized form (scale + int8 codes);
    // scoring dequantizes in-expression, so the oracle recomputes the same
    // rounding arithmetic (q67's) and the same cosine — results are
    // bit-identical, not merely close
    "q70_quantized_topk" -> { (s, dir) =>
      prep(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val quant = emb
        .select(col("vec_id"), col("v"),
          ops.Similarity.quantScale(col("v")).as("__scale"))
        .select(col("vec_id"), col("__scale").as("scale"),
          ops.Similarity.quantizeInt8(col("v"), col("__scale")).as("q"))
      ops.Similarity.quantizedBatchTopK(
        quant.filter(col("vec_id") % 100 =!= 0),
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        k = 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
    },

    // ---- LLM pipeline: SemDeDup CLUSTERED regime (nCells=4) ---------------
    // the fixture is generated arithmetically (IEEE division of small ints
    // is exactly rounded, so Spark and DuckDB produce bit-identical
    // doubles): 4 orthogonal clusters in 8-d, id i belongs to cluster
    // i % 4, jitter_j(i) = (((i*31 + j*17) % 7) - 3) / 200. Ids 0..3 are
    // one per cluster, so ivfIndex's first-nCells-by-id init places one
    // centroid in each cluster and Lloyd provably keeps them there
    // (within-cluster cos >= 0.93, cross-cluster <= 0.04) — within-cell
    // recall is 1 and the exact all-pairs lower-id-neighbor oracle matches
    // the celled result, pinning argmin_cell + within-cell blocking
    // end-to-end (q68 only covers the nCells=1 exact regime)
    "q69_semdedup_cells" -> { (s, _) =>
      val dim = 8
      // one partition for a 200-row fixture (round 22, VERDICT r21 #3): a
      // bare s.range(200) splits into one ~6-row partition PER CORE, and
      // every Lloyd-iteration job over the persisted base then pays 32
      // task launches for microseconds of work each — measured as q69
      // running ~2x SLOWER at 32 cores than at 8. Partitioning follows
      // the data (200 rows), not the machine.
      val fixture = s.range(0, 200, 1, 1).select(col("id").as("vec_id"),
        array((0 until dim).map { j =>
          when(pmod(col("id"), lit(4)) === j, lit(1.0)).otherwise(lit(0.0)) +
            ((col("id") * 31 + lit(j * 17)) % 7 - 3).cast("double") / 200.0
        }: _*).as("v"))
      ops.Similarity.semanticDedup(fixture, threshold = 0.9, nCells = 4)
        .select(col("id").as("vec_id"), col("is_dup"), col("dup_of"))
    },

    // ---- LLM pipeline: cross-doc boilerplate spans ------------------------
    // minDocs = 25 because the synthetic corpus shares a tight vocabulary:
    // at df >= 2 nearly every fingerprint is "common" (frac ~1.0 for all
    // docs); 25 spreads boilerplate_frac across 0.4..1.0 so the aggregate
    // actually discriminates under the hash gate
    "q65_boilerplate" -> { (s, dir) =>
      prep(s, dir)
      ops.Dedup.boilerplateStats(Tables.load(s, dir, "documents"),
          k = 8, w = 4, minDocs = 25)
        .select(col("doc_id"), col("n_fp"), col("n_common"),
          round(col("boilerplate_frac"), 6).as("boilerplate_frac"))
    },

    // ---- BENCH ANCHOR: the parallel-shaped floor (VERDICT r19 #2) --------
    // q12 (the scan floor) is one single-threaded codegen pipeline — host
    // contention that lands on shuffle / state-store / fsync paths can
    // leave it FLAT while every multithreaded query slows (the r19 capture:
    // floor read 0.93x the previous round while the streaming family read
    // 2-5x slower, so the floor-relative trigger over-fired on exactly the
    // queries contention hits hardest). q128 is the second anchor: one
    // map-side partial count + a 32-partition exchange + final aggregate
    // over the events table, no behavioral code, nothing this library can
    // regress — its time tracks the machine's parallel/shuffle health, and
    // Bench normalizes the parallel-shaped families (streaming, store
    // protocol, incremental) by it instead of the scan floor.
    "q128_floor_shuffle" -> { (s, dir) =>
      events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
    }
  )

  /** Per-process suffix for the media fixture paths: the oracle SQL is
    * generated in the same JVM that writes the fixtures, so Verify's dump
    * and its oracle_sql.json always agree — but a CONCURRENT harness run
    * (e.g. the driver's bench racing its correctness pass) is a different
    * JVM and gets its own files instead of overwriting these mid-read. */
  private val MediaPathSuffix = ProcessHandle.current().pid().toString

  /** q64's own media parquet (distinct from q57's — see q64's comment). */
  private val MediaFramesPath = s"/tmp/graft_q64_media_$MediaPathSuffix"

  /** q66's own media parquet (same isolation reasoning as q64). */
  private val MediaResizePath = s"/tmp/graft_q66_media_$MediaPathSuffix"

  /** Absolute path (same JVM-default /tmp for Spark and the driver's
    * DuckDB) where q57 materializes the demo media table; the oracle SQL
    * reads the same files back. */
  private val MediaParquetPath = s"/tmp/graft_q57_media_$MediaPathSuffix"

  /** UTC hour-of-day of the `ts` column as pure integer arithmetic on epoch
    * microseconds — identical on any engine regardless of session timezone
    * (DuckDB twin: `(epoch_us(ts) // 3600000000) % 24`). */
  private def epochHourTs: org.apache.spark.sql.Column =
    expr("(unix_micros(ts) div 3600000000) % 24")

  /** DuckDB twin of Dedup.simhashMd5, generated (64 majority votes is
    * mechanical): decode nibble j of md5(token), vote per bit, re-encode 16
    * hex chars. Mirrors the Scala layout exactly — char j covers bits
    * 4(j-1)..4(j-1)+3 with bit p = (nibble >> p) & 1. */
  private lazy val simhashMd5OracleSql: String = {
    val votes = (for { j <- 1 to 16; p <- 0 until 4 } yield
      s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(m, $j, 1)) - 1) >> $p) & 1) = 1" +
        s" THEN 1 ELSE -1 END) AS v${j}_$p").mkString(",\n        ")
    val chars = (1 to 16).map { j =>
      val nib = (0 until 4).map(p => s"(CASE WHEN v${j}_$p > 0 THEN ${1 << p} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', 1 + $nib, 1)"
    }.mkString(" ||\n  ")
    s"""WITH tok AS (SELECT doc_id,
       |        unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
       |      FROM documents),
       |h AS (SELECT doc_id, md5(t) AS m FROM tok),
       |v AS (SELECT doc_id,
       |        $votes
       |      FROM h GROUP BY doc_id)
       |SELECT doc_id,
       |  $chars AS simhash_hex
       |FROM v""".stripMargin
  }

  /** The allow_reentry oracle's recursive walk (shared verbatim by q38 and
    * q25's reentry column so the two can never drift apart): from each view
    * entry, step 1 → first click → step 2; then first purchase-before-view
    * completes (3) while a first view RESETS to step 1 at that view, the
    * window still anchored at the entry. The emitted value is the walk's
    * FINAL step. Terminates: pos strictly increases within the window.
    * Expects CTEs `e` (user_id, t µs, event_type) and `entries`
    * (user_id, t1) in scope. */
  private lazy val reentryWalkCte: String =
    """walk AS (
      |  SELECT user_id, t1, t1 AS pos, 1 AS step, false AS done FROM entries
      |  UNION ALL
      |  SELECT user_id, t1,
      |    coalesce(CASE WHEN step = 1 THEN nc
      |                  WHEN np IS NOT NULL AND (nv IS NULL OR np < nv) THEN np
      |                  ELSE nv END, pos) AS pos,
      |    CASE WHEN step = 1 AND nc IS NOT NULL THEN 2
      |         WHEN step = 1 THEN 1
      |         WHEN np IS NOT NULL AND (nv IS NULL OR np < nv) THEN 3
      |         WHEN nv IS NOT NULL THEN 1
      |         ELSE 2 END AS step,
      |    CASE WHEN step = 1 THEN nc IS NULL
      |         WHEN np IS NOT NULL AND (nv IS NULL OR np < nv) THEN true
      |         WHEN nv IS NOT NULL THEN false
      |         ELSE true END AS done
      |  FROM (
      |    SELECT w.*,
      |      (SELECT min(x.t) FROM e x WHERE x.user_id = w.user_id AND x.event_type = 'click'
      |         AND x.t > w.pos AND x.t <= w.t1 + 3600000000) AS nc,
      |      (SELECT min(x.t) FROM e x WHERE x.user_id = w.user_id AND x.event_type = 'purchase'
      |         AND x.t > w.pos AND x.t <= w.t1 + 3600000000) AS np,
      |      (SELECT min(x.t) FROM e x WHERE x.user_id = w.user_id AND x.event_type = 'view'
      |         AND x.t > w.pos AND x.t <= w.t1 + 3600000000) AS nv
      |    FROM walk w WHERE NOT w.done)
      |)""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // q108/q109: the per-(user, day) funnel_state rollup + funnel_merge
    // must be INVISIBLE to the answer — the oracles ARE the raw-scan
    // q03/q34 SQL they re-express (same standard as q105's reuse of q02)
    "q108_funnel_rollup" -> oracleSqlBase("q03_window_funnel"),
    "q109_funnel_rollup_strict" -> oracleSqlBase("q34_funnel_strict"),
    // q110-q112: the same state table answers the sequence family — the
    // oracles ARE the raw-scan q06/q04/q07 SQL they re-express
    "q110_seqcount_rollup" -> oracleSqlBase("q06_seq_count"),
    "q111_seqmatch_rollup" -> oracleSqlBase("q04_seq_match_wild"),
    "q112_seqevents_rollup" -> oracleSqlBase("q07_seq_match_events"),
    "q113_nextnode_rollup" -> oracleSqlBase("q08_seq_next_node"),
    "q114_nextnode_rollup_bwd" -> oracleSqlBase("q17_next_node_backward"),
    // q115/q116: the state-to-state combine re-grain must be invisible —
    // the oracles ARE the raw-scan q03/q08 SQL (q108/q113's standard);
    // q117: a (?t>) comparator over cross-grain merged states, q59's SQL
    "q115_funnel_combine_regrain" -> oracleSqlBase("q03_window_funnel"),
    "q116_nextnode_combine_regrain" -> oracleSqlBase("q08_seq_next_node"),
    "q117_seqmatch_time_rollup" -> oracleSqlBase("q59_seq_match_time_gt"),
    // q118/q119: the rollup store's whole maintenance cycle must be
    // invisible to the merged answer — the oracles are q03's/q02's
    // raw-scan SQL once more
    "q118_rollup_store" -> oracleSqlBase("q03_window_funnel"),
    "q119_rollup_store_retention" -> oracleSqlBase("q02_retention"),
    // q120/q122: replayed (id-keyed) ingest and the store-level re-grain
    // must both be invisible to the merged answer — q03's raw-scan SQL
    // again. q121: dropGrains IS a deliberate answer change — the oracle
    // is q03's SQL over only the events on/after the retention cutoff
    // (weeks start Monday; 2024-01-15 is one, so week >= cutoff is
    // exactly date >= cutoff)
    "q120_rollup_store_replay" -> oracleSqlBase("q03_window_funnel"),
    "q121_rollup_store_grained" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE CAST(ts AS DATE) >= DATE '2024-01-15'),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,
    "q122_rollup_store_regrain" -> oracleSqlBase("q03_window_funnel"),
    "q123_stream_rollup_ingest" -> oracleSqlBase("q03_window_funnel"),
    "q124_rollup_store_regrain_into" -> oracleSqlBase("q03_window_funnel"),
    // q125: the grained cycle on the BIGINT retention branch (manifest
    // + grace window pinned in-query) — answer-invisible, so the oracle
    // is q02's raw-scan retention SQL
    "q125_rollup_store_grained_retention" -> oracleSqlBase("q02_retention"),
    "q126_rollup_store_janitor" -> oracleSqlBase("q03_window_funnel"),
    "q127_rollup_store_snapshot_reader" -> oracleSqlBase("q03_window_funnel"),
    // q128: the bench harness's parallel-shaped floor anchor — a plain
    // shuffle groupBy-count, trivially SQL-expressible, oracle-gated like
    // every other query so the anchor itself can never silently break
    "q128_floor_shuffle" ->
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id")

  private lazy val oracleSqlBase: Map[String, String] = Map(

    "q01_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM l""".stripMargin,

    "q02_retention" ->
      """SELECT user_id,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false) AS d1,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-02'), false) AS d2,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-03'), false) AS d3
        |FROM events GROUP BY user_id""".stripMargin,

    "q03_window_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    "q04_seq_match_wild" ->
      """SELECT user_id,
        |  (min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) IS NOT NULL
        |   AND max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) IS NOT NULL
        |   AND min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |     < max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS matched
        |FROM events GROUP BY user_id""".stripMargin,

    "q05_seq_match_adj" ->
      """WITH f AS (SELECT user_id, ts, event_type FROM events WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, event_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt FROM f)
        |SELECT e.user_id, coalesce(m.matched, false) AS matched
        |FROM (SELECT DISTINCT user_id FROM events) e
        |LEFT JOIN (SELECT user_id, bool_or(event_type = 'view' AND nxt = 'click') AS matched
        |           FROM l GROUP BY user_id) m ON e.user_id = m.user_id""".stripMargin,

    "q06_seq_count" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "q07_seq_match_events" ->
      """WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, t, event_type,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY t) AS ne FROM f),
        |mm AS (SELECT user_id, t AS ev1, nt AS ev2,
        |         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
        |       FROM l WHERE event_type = 'view' AND ne = 'click')
        |SELECT u.user_id, mm.ev1 AS ev1_us, mm.ev2 AS ev2_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN mm ON u.user_id = mm.user_id AND mm.rn = 1""".stripMargin,

    "q08_seq_next_node" ->
      """WITH o AS (SELECT user_id, ts,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |a AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT u.user_id, o.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin,

    "q09_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price,
        |  CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q10_join_revenue" ->
      """SELECT n_name,
        |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    // q91: the oracle is the PLAIN join — bucketing is a physical layout
    // and must not change the answer
    "q91_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // q95: oracle is the PLAIN join — salting moves task placement, never
    // rows
    "q95_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // q96: the plain funnel SQL restricted to the 7-day slice — the
    // date-partitioned layout must not change the answer
    "q96_datepart_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // q97: same oracle as q96 — the combined layout must not change the
    // 7-day answer
    "q97_layout_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // q92: oracle is q03's PLAIN funnel SQL — the bucketed layout must not
    // change the answer
    "q92_bucketed_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    "q11_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY text""".stripMargin,

    "q12_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
        |FROM documents""".stripMargin,

    "q13_lang_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(round(avg(n_chars), 4) AS DOUBLE) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // q25_funnel_modes: all six columns are oracle-expressible on THIS data —
    // with disjoint conditions and tie-free timestamps, strict_once /
    // timestamp_dedup / strict_increase / the combined mask all coincide
    // with the default cascade (their distinguishing rules are no-ops here;
    // the distinguishing behavior itself is oracled by q33/q37/q32 and
    // golden+differential tested), `strict` gets its break-cascade, and
    // allow_reentry the recursive walk.
    "q25_funnel_modes" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |dc2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |dc3 AS (SELECT dc2.user_id, dc2.t1, dc2.t2, min(x.t) AS t3
        |       FROM dc2 LEFT JOIN e x
        |         ON x.user_id = dc2.user_id AND x.event_type = 'purchase'
        |        AND dc2.t2 IS NOT NULL AND x.t > dc2.t2 AND x.t <= dc2.t1 + 3600000000
        |       GROUP BY dc2.user_id, dc2.t1, dc2.t2),
        |dd AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS d
        |      FROM dc3 GROUP BY user_id),
        |ss2 AS (SELECT en.user_id, en.t1,
        |         min(CASE WHEN x.event_type = 'click' THEN x.t END) AS nc,
        |         min(CASE WHEN x.event_type = 'view' THEN x.t END) AS nv
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type IN ('view', 'click')
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |sc2 AS (SELECT user_id, t1,
        |         CASE WHEN nc IS NOT NULL AND (nv IS NULL OR nc < nv) THEN nc END AS t2
        |       FROM ss2),
        |ss3 AS (SELECT sc2.user_id, sc2.t1, sc2.t2,
        |         min(CASE WHEN y.event_type = 'purchase' THEN y.t END) AS np,
        |         min(CASE WHEN y.event_type = 'click' THEN y.t END) AS ncl
        |       FROM sc2 LEFT JOIN e y
        |         ON y.user_id = sc2.user_id AND sc2.t2 IS NOT NULL
        |        AND y.t > sc2.t2 AND y.t <= sc2.t1 + 3600000000
        |       GROUP BY sc2.user_id, sc2.t1, sc2.t2),
        |sd AS (SELECT user_id,
        |        max(CASE WHEN t2 IS NOT NULL AND np IS NOT NULL AND (ncl IS NULL OR np < ncl) THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS s
        |      FROM ss3 GROUP BY user_id),
        |__REENTRY_WALK__,
        |fin AS (SELECT user_id, max(step) AS r FROM walk WHERE done GROUP BY user_id)
        |SELECT u.user_id,
        |  CAST(coalesce(sd.s, 0) AS INTEGER) AS strict,
        |  CAST(coalesce(dd.d, 0) AS INTEGER) AS strict_once,
        |  CAST(coalesce(dd.d, 0) AS INTEGER) AS ts_dedup,
        |  CAST(coalesce(dd.d, 0) AS INTEGER) AS strict_inc,
        |  CAST(coalesce(fin.r, 0) AS INTEGER) AS reentry,
        |  CAST(coalesce(dd.d, 0) AS INTEGER) AS combined
        |FROM u
        |LEFT JOIN dd ON u.user_id = dd.user_id
        |LEFT JOIN sd ON u.user_id = sd.user_id
        |LEFT JOIN fin ON u.user_id = fin.user_id""".stripMargin
        .replace("__REENTRY_WALK__", reentryWalkCte),

    // strict_order: an event matching any EARLIER condition kills the chain.
    // Stage 1: first view-or-click after the entry must be a click; stage 2:
    // first view-click-or-purchase after the click must be a purchase.
    "q15_funnel_strict_order" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |s2 AS (SELECT en.user_id, en.t1,
        |         min(CASE WHEN x.event_type = 'click' THEN x.t END) AS nc,
        |         min(CASE WHEN x.event_type = 'view' THEN x.t END) AS nv
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type IN ('view', 'click')
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c2 AS (SELECT user_id, t1,
        |         CASE WHEN nc IS NOT NULL AND (nv IS NULL OR nc < nv) THEN nc END AS t2
        |       FROM s2),
        |s3 AS (SELECT c2.user_id, c2.t1, c2.t2,
        |         min(CASE WHEN y.event_type = 'purchase' THEN y.t END) AS np,
        |         min(CASE WHEN y.event_type IN ('view', 'click') THEN y.t END) AS nb
        |       FROM c2 LEFT JOIN e y
        |         ON y.user_id = c2.user_id AND c2.t2 IS NOT NULL
        |        AND y.t > c2.t2 AND y.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t2 IS NOT NULL AND np IS NOT NULL AND (nb IS NULL OR np < nb) THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM s3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // strict_increase ≡ default mode on tie-free timestamps with disjoint
    // conditions (the mode only skips same-ts advances) → q03's cascade.
    "q32_funnel_strict_increase" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // strict_once with overlapping conds: one event advances at most one
    // step, so step 2 is the first click-or-purchase after the entry and
    // step 3 needs a purchase STRICTLY after that event (default mode would
    // let a single purchase jump both steps — the oracle distinguishes).
    "q33_funnel_strict_once" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type IN ('view', 'click')),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type IN ('click', 'purchase')
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(y.t) AS t3
        |       FROM c2 LEFT JOIN e y
        |         ON y.user_id = c2.user_id AND y.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND y.t > c2.t2 AND y.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // strict: only a re-fire of the JUST-completed condition breaks (views
    // between click and purchase are harmless, unlike strict_order).
    "q34_funnel_strict" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |s2 AS (SELECT en.user_id, en.t1,
        |         min(CASE WHEN x.event_type = 'click' THEN x.t END) AS nc,
        |         min(CASE WHEN x.event_type = 'view' THEN x.t END) AS nv
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type IN ('view', 'click')
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c2 AS (SELECT user_id, t1,
        |         CASE WHEN nc IS NOT NULL AND (nv IS NULL OR nc < nv) THEN nc END AS t2
        |       FROM s2),
        |s3 AS (SELECT c2.user_id, c2.t1, c2.t2,
        |         min(CASE WHEN y.event_type = 'purchase' THEN y.t END) AS np,
        |         min(CASE WHEN y.event_type = 'click' THEN y.t END) AS ncl
        |       FROM c2 LEFT JOIN e y
        |         ON y.user_id = c2.user_id AND c2.t2 IS NOT NULL
        |        AND y.t > c2.t2 AND y.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t2 IS NOT NULL AND np IS NOT NULL AND (ncl IS NULL OR np < ncl) THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM s3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // timestamp_dedup ≡ default on tie-free timestamps (the mode only skips
    // same-ts advances; events.parquet has no (user, ts) duplicates).
    "q37_funnel_ts_dedup" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // allow_reentry walk: from each view entry, step 1 → first click → step
    // 2; then first purchase-before-view → 3 (done), or first view → RESET
    // to step 1 at that view (window stays anchored at the entry). The
    // emitted value is the walk's FINAL step. Terminates: pos strictly
    // increases within the 1h window.
    "q38_funnel_reentry" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |__REENTRY_WALK__,
        |fin AS (SELECT user_id, max(step) AS steps FROM walk WHERE done GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(fin.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN fin ON u.user_id = fin.user_id""".stripMargin
        .replace("__REENTRY_WALK__", reentryWalkCte),

    // forward/first_match, single step: the first click (ascending ts) that
    // has a successor event; the answer is that successor's type.
    "q35_next_node_fwd_first" ->
      """WITH o AS (SELECT user_id, ts, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |m AS (SELECT user_id, nxt,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |      FROM o WHERE event_type = 'click' AND nxt IS NOT NULL)
        |SELECT u.user_id, m.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin,

    // backward/last_match: the right-to-left scan's LAST successful base is
    // the first click (ascending ts) that has a predecessor event.
    "q36_next_node_bwd_last" ->
      """WITH o AS (SELECT user_id, ts, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |m AS (SELECT user_id, prv,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |      FROM o WHERE event_type = 'click' AND prv IS NOT NULL)
        |SELECT u.user_id, m.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin,

    // same recursive-CTE components as q30; the split bucket is the first
    // byte of md5 of the cluster representative (singletons: the doc id)
    "q43_leakage_split" -> {
      def bucket(e: String) =
        s"((strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), 1, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), 2, 1)) - 1))"
      s"""WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, len(toks) - 1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |      FROM t WHERE len(toks) >= 3),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
         |),
         |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u),
         |g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
         |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         |SELECT doc_id, group_id,
         |  CASE WHEN ${bucket("group_id")} < 26 THEN 'test' ELSE 'train' END AS split
         |FROM g""".stripMargin
    },

    // q22's quality + q21's langid feeding a per-language running token sum
    "q44_token_budget" ->
      """WITH t AS (SELECT doc_id, text,
        |             string_split_regex(trim(lower(text)), '\s+') AS ltoks,
        |             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
        |             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |               / length(text) AS punct_ratio
        |           FROM documents),
        |c AS (SELECT doc_id, text, n_tok, punct_ratio,
        |        CAST(len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS DOUBLE)
        |          / len(ltoks) AS stop_ratio,
        |        len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS c_en,
        |        len(list_intersect(ltoks, ['el','la','de','que','y','en','los'])) AS c_es,
        |        len(list_intersect(ltoks, ['der','die','das','und','ist','von','mit'])) AS c_de,
        |        len(list_intersect(ltoks, ['le','les','et','des','une','est','dans'])) AS c_fr
        |      FROM t),
        |q AS (SELECT doc_id,
        |        CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |             WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |             WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |             WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |             WHEN c_fr > 0 THEN 'fr'
        |             ELSE 'und' END AS lang_guess,
        |        round(least(1.0, n_tok / 50.0) * 0.5
        |          + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |          + least(1.0, stop_ratio * 5.0) * 0.2, 6) AS quality,
        |        CAST(n_tok AS BIGINT) AS n_tokens
        |      FROM c),
        |w AS (SELECT doc_id, lang_guess, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY lang_guess
        |          ORDER BY quality DESC, doc_id) AS cum_tokens
        |      FROM q)
        |SELECT doc_id, lang_guess, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM w WHERE cum_tokens - n_tokens < 2000""".stripMargin,

    // first 16 bits of md5(doc_id) under 16384 — the same arithmetic the
    // Spark side's conv(substr(md5,1,4),16,10) computes
    "q45_sample_det" -> {
      def nib(j: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $j, 1)) - 1)"
      s"""SELECT doc_id FROM documents
         |WHERE ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} < 16384""".stripMargin
    },

    "q46_ngram_freq" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(toks)),
        |               i -> toks[i] || ' ' || toks[i+1])) AS ngram
        |      FROM t WHERE len(toks) >= 2)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS freq
        |FROM g GROUP BY ngram ORDER BY freq DESC, ngram LIMIT 50""".stripMargin,

    // the kernel groups grams by hashed token span; the oracle groups the
    // space-joined gram strings — identical partitions because whitespace
    // tokens are space-free (the documented NgramRepetition contract)
    "q47_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        |SELECT doc_id,
        |  round(max(cnt) / sum(cnt), 6) AS top_share,
        |  round(1.0 - count(*) / sum(cnt), 6) AS dup_frac
        |FROM c GROUP BY doc_id""".stripMargin,

    // same rule chain, counts on the PROGRESSIVELY scrubbed text (DuckDB
    // regexp_replace needs explicit 'g'; the patterns live in the
    // Java/RE2-common subset so both engines match identical spans)
    "q48_redact" ->
      """WITH r1 AS (SELECT doc_id,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t1,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS c1
        |       FROM documents),
        |r2 AS (SELECT doc_id, regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2,
        |         c1, len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS c2 FROM r1),
        |r3 AS (SELECT doc_id, regexp_replace(t2, '\+?\(?[0-9](?:[()\-]?[0-9]){6,}', '<PHONE>', 'g') AS t3,
        |         c1, c2, len(regexp_extract_all(t2, '\+?\(?[0-9](?:[()\-]?[0-9]){6,}')) AS c3 FROM r2),
        |r4 AS (SELECT doc_id, regexp_replace(t3, '[0-9]+', '<NUM>', 'g') AS t4,
        |         c1, c2, c3, len(regexp_extract_all(t3, '[0-9]+')) AS c4 FROM r3)
        |SELECT doc_id, t4 AS clean_text, CAST(c1 + c2 + c3 + c4 AS BIGINT) AS n_redacted
        |FROM r4""".stripMargin,

    "q49_chunk_dups" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS chunk
        |      FROM t WHERE len(toks) >= 5),
        |df AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY chunk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
        |  round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS shared_frac
        |FROM g JOIN df USING (chunk) GROUP BY doc_id""".stripMargin,

    // distinct 5-grams per corpus doc, left-joined against the distinct
    // benchmark gram set (benchmark = doc_id % 20 == 0)
    "q51_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
        |      FROM t WHERE len(toks) >= 5),
        |cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
        |SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(bg.gram) AS BIGINT) AS matched_grams,
        |  count(bg.gram) > 0 AS contaminated
        |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
        |GROUP BY cg.doc_id""".stripMargin,

    // q74: exact cross-split jaccard join — the incremental probe and the
    // q19 monolithic join share the banding recall bound, so both oracle
    // against exact SQL at threshold 0.8
    "q74_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
        |  CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE) AS jaccard
        |FROM s a JOIN s b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8""".stripMargin,

    // q84: the q74 oracle verbatim — streaming delivery across three
    // micro-batches must not change the incremental probe's answer
    "q84_stream_neardup_ingest" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
        |  CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE) AS jaccard
        |FROM s a JOIN s b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8""".stripMargin,

    // q85: closed-form pixel statistics of the synthesized 32x16 PNGs —
    // r/g are solid so their means are the channel values; b's gradient
    // mean is avg over x in [0,32) of (x+id)%256, computable by a range
    // cross join. Equality proves the REAL codec round trip (encode ->
    // PNG bytes -> decode) is lossless and the channel order is right.
    "q85_image_decode" ->
      """WITH xs AS (SELECT unnest(range(0, 32)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(32 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  round(CAST(m.doc_id % 256 AS DOUBLE), 6) AS mean_r,
        |  round(CAST((m.doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
        |  round(mb, 6) AS mean_b
        |FROM m""".stripMargin,

    // q86: nearest-neighbor 32x16 -> 8x4 keeps b-samples at x' = 4x
    "q86_image_resize" ->
      """WITH xs AS (SELECT unnest(range(0, 8)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((4 * xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  round(CAST(m.doc_id % 256 AS DOUBLE), 6) AS mean_r,
        |  round(CAST((m.doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
        |  round(mb, 6) AS mean_b
        |FROM m""".stripMargin,

    // q87: closed-form sample statistics of the synthesized 64-frame mono
    // PCM16 WAVs — sample i is ((id*31 + i*17) % 65536) - 32768, so the
    // means are exact (integer sums over 64 frames). Equality proves the
    // REAL WAV codec round trip (encode -> container bytes -> decode) is
    // lossless with the right endianness and header fields.
    "q87_audio_decode" ->
      """WITH fs AS (SELECT unnest(range(0, 64)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE)) AS ma,
        |        avg(abs(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE))) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        |  CAST(64 AS BIGINT) AS n_frames, round(CAST(8.0 AS DOUBLE), 6) AS duration_ms,
        |  round(ma, 6) AS mean_amp, round(mabs, 6) AS mean_abs
        |FROM m""".stripMargin,

    // q88: every-2nd-frame downsample keeps samples at i' = 2i, re-encoded
    // at 4000 Hz — 32 frames, unchanged 8 ms duration
    "q88_audio_downsample" ->
      """WITH fs AS (SELECT unnest(range(0, 32)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg(CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE)) AS ma,
        |        avg(abs(CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE))) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(4000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
        |  CAST(32 AS BIGINT) AS n_frames, round(CAST(8.0 AS DOUBLE), 6) AS duration_ms,
        |  round(ma, 6) AS mean_amp, round(mabs, 6) AS mean_abs
        |FROM m""".stripMargin,

    // q94: stereo stride-2 downsample keeps frames i' = 2i with both
    // channels; means run over the interleaved samples, i.e. the average
    // of the per-frame L and R closed forms
    "q94_audio_stereo" ->
      """WITH fs AS (SELECT unnest(range(0, 32)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg((CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE)
        |           + CAST((d.doc_id * 13 + 2 * fs.i * 23) % 65536 - 32768 AS DOUBLE)) / 2) AS ma,
        |        avg((abs(CAST((d.doc_id * 31 + 2 * fs.i * 17) % 65536 - 32768 AS DOUBLE))
        |           + abs(CAST((d.doc_id * 13 + 2 * fs.i * 23) % 65536 - 32768 AS DOUBLE))) / 2) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, true AS ok,
        |  CAST(4000 AS INTEGER) AS sample_rate, CAST(2 AS INTEGER) AS channels,
        |  CAST(32 AS BIGINT) AS n_frames, round(CAST(8.0 AS DOUBLE), 6) AS duration_ms,
        |  round(ma, 6) AS mean_amp, round(mabs, 6) AS mean_abs
        |FROM m""".stripMargin,

    // q100: the q93 mix through resize — valid rows carry q86's 8x4
    // closed form, every other class survives passthrough and decodes
    // ok=false
    "q100_resize_robustness" ->
      """WITH xs AS (SELECT unnest(range(0, 8)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((4 * xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, (m.doc_id % 4 = 0) AS ok,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 8 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 4 ELSE 0 END AS INTEGER) AS height,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST(m.doc_id % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_r,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST((m.doc_id * 7) % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_g,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN mb ELSE 0 END, 6) AS mean_b
        |FROM m""".stripMargin,

    // q98: the undecodable-audio mix in closed form — only doc_id % 4 == 0
    // decodes; junk, truncated, and non-PCM16 classes surface as ok=false
    // with zeroed stats under the hash gate
    "q98_audio_robustness" ->
      """WITH fs AS (SELECT unnest(range(0, 64)) AS i),
        |m AS (SELECT d.doc_id,
        |        avg(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE)) AS ma,
        |        avg(abs(CAST((d.doc_id * 31 + fs.i * 17) % 65536 - 32768 AS DOUBLE))) AS mabs
        |      FROM documents d CROSS JOIN fs GROUP BY d.doc_id)
        |SELECT m.doc_id, (m.doc_id % 4 = 0) AS ok,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 8000 ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 1 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 64 ELSE 0 END AS BIGINT) AS n_frames,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN 8.0 ELSE 0 END, 6) AS duration_ms,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN ma ELSE 0 END, 6) AS mean_amp,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN mabs ELSE 0 END, 6) AS mean_abs
        |FROM m""".stripMargin,

    // q89: stride-2 sampling of the 8-frame MJPEG-AVI keeps frames
    // 0,2,4,6; each frame's gray bucket floor(mean/32) has the closed form
    // (frame_idx + doc_id) % 8 — exact despite JPEG loss (±2 decode noise
    // against a ±15 bucket margin), and wrong if the container walk, the
    // frame order, the stride, or the pixel path is wrong.
    "q89_video_frames" ->
      """WITH fs AS (SELECT unnest(range(0, 8, 2)) AS i)
        |SELECT d.doc_id, CAST(fs.i AS INTEGER) AS frame_idx, true AS ok,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  CAST((fs.i + d.doc_id) % 8 AS INTEGER) AS gray_level
        |FROM documents d CROSS JOIN fs""".stripMargin,

    // q93: the undecodable-media mix in closed form — doc_id % 4 == 0 is
    // the only decodable class; every other class must surface as
    // ok=false with zeroed stats (the hash gate covers the ok=false rows)
    "q93_media_robustness" ->
      """WITH xs AS (SELECT unnest(range(0, 32)) AS x),
        |m AS (SELECT d.doc_id, avg(CAST((xs.x + d.doc_id) % 256 AS DOUBLE)) AS mb
        |      FROM documents d CROSS JOIN xs GROUP BY d.doc_id)
        |SELECT m.doc_id, (m.doc_id % 4 = 0) AS ok,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 32 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN m.doc_id % 4 = 0 THEN 16 ELSE 0 END AS INTEGER) AS height,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST(m.doc_id % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_r,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN CAST((m.doc_id * 7) % 256 AS DOUBLE) ELSE 0 END, 6) AS mean_g,
        |  round(CASE WHEN m.doc_id % 4 = 0 THEN mb ELSE 0 END, 6) AS mean_b
        |FROM m""".stripMargin,

    // q99: the undecodable-video mix — valid frames / broken container
    // (one frame_idx=-1 row) / garbage frames (per-sample ok=false rows),
    // each shape in closed form from the doc_id % 4 rule
    "q99_video_robustness" ->
      """WITH fs AS (SELECT unnest(range(0, 8, 2)) AS i),
        |ok0 AS (SELECT d.doc_id, CAST(fs.i AS INTEGER) AS frame_idx, true AS ok,
        |          CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |          CAST((fs.i + d.doc_id) % 8 AS INTEGER) AS gray_level
        |        FROM documents d CROSS JOIN fs WHERE d.doc_id % 4 = 0),
        |bad AS (SELECT d.doc_id, CAST(-1 AS INTEGER) AS frame_idx, false AS ok,
        |          CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height,
        |          CAST(-1 AS INTEGER) AS gray_level
        |        FROM documents d WHERE d.doc_id % 4 IN (1, 2)),
        |badf AS (SELECT d.doc_id, CAST(fs.i AS INTEGER) AS frame_idx, false AS ok,
        |          CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height,
        |          CAST(-1 AS INTEGER) AS gray_level
        |        FROM documents d CROSS JOIN fs WHERE d.doc_id % 4 = 3)
        |SELECT * FROM ok0 UNION ALL SELECT * FROM bad UNION ALL SELECT * FROM badf""".stripMargin,

    // q73 is the bloom-prefiltered path to the exact same answer as q51 —
    // one oracle text, two physical strategies under test
    "q73_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
        |      FROM t WHERE len(toks) >= 5),
        |cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
        |SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(bg.gram) AS BIGINT) AS matched_grams,
        |  count(bg.gram) > 0 AS contaminated
        |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
        |GROUP BY cg.doc_id""".stripMargin,

    // chunk i covers tokens [i*4+1, i*4+8]; DuckDB list slices are
    // 1-based inclusive, range() is end-exclusive
    "q52_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |        unnest(range(0, CAST(floor((len(toks) - 1) / 4.0) AS BIGINT) + 1)) AS chunk_idx
        |      FROM t WHERE toks IS NOT NULL)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx * 4 + 1 : chunk_idx * 4 + 8], ' ') AS chunk_text,
        |  CAST(least(8, n - chunk_idx * 4) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    // per-query rank by (sim desc, id asc) — the heap aggregate's order
    "q53_batch_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id % 100 <> 0),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin,

    // full-probe batched IVF is exact: same oracle as the brute-force batch
    "q56_ivf_batch" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id % 100 <> 0),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin,

    // q90: full-probe IVF over corpus + appended batch is exact, so the
    // oracle is exact cosine top-k over ALL embeddings (self-matches at
    // rank 1 included — the query vectors are in the appended batch)
    "q90_incremental_ann" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin,

    // q45's md5-nibble bucket sharded % 8, then a per-bucket running sum
    // in doc_id order — the concatenate-and-chop layout
    "q54_pack" -> {
      def nib(j: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $j, 1)) - 1)"
      s"""WITH t AS (SELECT doc_id,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |        CAST((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 8 AS BIGINT) AS bucket
         |      FROM documents),
         |w AS (SELECT doc_id, bucket, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens AS start
         |      FROM t)
         |SELECT doc_id, bucket, n_tokens, CAST(start AS BIGINT) AS start,
         |  CAST(floor(start / 512) AS BIGINT) AS seq_idx,
         |  CAST(start % 512 AS BIGINT) AS offset
         |FROM w""".stripMargin
    },

    // corpus unigram distribution, top-500 vocab cut, OOV floor 1/total
    "q55_lm_quality" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |v AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 500)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / (SELECT total FROM tot))), 6)
        |    AS avg_logprob
        |FROM t LEFT JOIN v ON t.tok = v.tok
        |GROUP BY t.doc_id""".stripMargin,

    // q45's md5-nibble bucket, gated per-source
    "q50_source_mix" -> {
      def nib(j: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $j, 1)) - 1)"
      s"""SELECT doc_id, source FROM documents
         |WHERE ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}
         |  < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
         |            WHEN 'src2' THEN 0.0 ELSE 1.0 END) * 65536""".stripMargin
    },

    // the funnel cascade is q03's, the wildcard match q04's, the count
    // q06's — one combined result so the SQL-text path hash-checks against
    // the same semantics the Column API queries pin individually
    "q42_sql_surface" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id),
        |sm AS (SELECT user_id,
        |         (min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) IS NOT NULL
        |          AND max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) IS NOT NULL
        |          AND min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |            < max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS matched
        |       FROM events GROUP BY user_id),
        |sc AS (SELECT user_id,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n
        |       FROM events GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps,
        |  sm.matched, sc.n
        |FROM u LEFT JOIN s ON u.user_id = s.user_id
        |LEFT JOIN sm ON u.user_id = sm.user_id
        |LEFT JOIN sc ON u.user_id = sc.user_id""".stripMargin,

    // forward/last_match: the LAST click (ascending ts) that has a
    // successor — the walk keeps overwriting the answer as it scans bases
    // in direction order, so the final non-null successor wins.
    "q39_next_node_fwd_last" ->
      """WITH o AS (SELECT user_id, ts, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |m AS (SELECT user_id, nxt,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |      FROM o WHERE event_type = 'click' AND nxt IS NOT NULL)
        |SELECT u.user_id, m.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin,

    // backward/first_match: the scan order follows the direction, so the
    // FIRST success is the latest click (descending ts) with a predecessor.
    "q40_next_node_bwd_first" ->
      """WITH o AS (SELECT user_id, ts, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |m AS (SELECT user_id, prv,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |      FROM o WHERE event_type = 'click' AND prv IS NOT NULL)
        |SELECT u.user_id, m.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin,

    "q28_simhash" -> simhashMd5OracleSql,

    // every pair within Hamming <= 3 over the md5 simhash fingerprints; the
    // naive cross join is the oracle, the banded equi-join is under test —
    // equality proves the 4x16-bit pigeonhole loses nothing
    "q41_simhash_pairs" -> {
      val ham = (1 to 16).map(j =>
        s"bit_count(xor(strpos('0123456789abcdef', substr(a.simhash_hex, $j, 1)) - 1, " +
          s"strpos('0123456789abcdef', substr(b.simhash_hex, $j, 1)) - 1))")
        .mkString(" + ")
      s"""WITH fp AS ($simhashMd5OracleSql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST($ham AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE $ham <= 3""".stripMargin
    },

    // q76: text-equality left join against the index side's min-id groups —
    // digest join and raw-text join agree whenever sha256 is injective on
    // the corpus (a collision would equally break q11's grouping)
    "q76_incremental_exact" ->
      """WITH idx AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id
        |             FROM documents WHERE doc_id % 10 <> 0 GROUP BY text)
        |SELECT d.doc_id AS new_id, idx.keep_id IS NOT NULL AS is_dup, idx.keep_id
        |FROM documents d LEFT JOIN idx ON d.text = idx.text
        |WHERE d.doc_id % 10 = 0""".stripMargin,

    // q101: same oracle as q76 — the index grown by id-ordered incremental
    // appends and then compacted must answer the probe exactly like the
    // one-shot build (first-writer-wins == global min under id order;
    // compaction is pure layout)
    "q101_compacted_index" ->
      """WITH idx AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id
        |             FROM documents WHERE doc_id % 10 <> 0 GROUP BY text)
        |SELECT d.doc_id AS new_id, idx.keep_id IS NOT NULL AS is_dup, idx.keep_id
        |FROM documents d LEFT JOIN idx ON d.text = idx.text
        |WHERE d.doc_id % 10 = 0""".stripMargin,

    // q103: the q01 session assignment aggregated per (user, session) —
    // layout-independent SQL; the Spark side must produce it from one
    // sorted scan with no exchange and no sort
    "q103_session_stats" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM l)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // q102: q01's oracle — the sort-eliding layout must not change the
    // sessionize answer (tied ts rows share a session id, so the on-disk
    // reorder is invisible to the output multiset)
    "q102_sorted_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM l""".stripMargin,

    // q104: q01's oracle again — the generational ingest cycle (stage ->
    // fold -> new generation, three times) must be invisible to the
    // sessionize answer, exactly like q102's one-shot layout
    "q104_sorted_ingest" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM l""".stripMargin,

    // q105: q02's raw-scan retention SQL — the per-(user, day) rollup of
    // mergeable states must be invisible to the answer (OR-merge of
    // partials == one scan), like the layout rows' oracles
    "q105_retention_rollup" ->
      """SELECT user_id,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false) AS d1,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-02'), false) AS d2,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-03'), false) AS d3
        |FROM events GROUP BY user_id""".stripMargin,

    // q107: q01's full-scan sessionize SQL once more — append/compact/
    // append/compact (with an empty mid-cycle delta) is pure maintenance;
    // the per-event ids must not move
    "q107_incsess_compacted" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM l""".stripMargin,

    // q106: q01's full-scan sessionize SQL — the batch-at-a-time fold plus
    // O(users) stitch state must reproduce the global ids exactly
    "q106_incremental_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM l""".stripMargin,

    // q75: the q41 Hamming computation restricted to cross-split pairs,
    // oriented (new, idx) — band join and pigeonhole change the plan, not
    // the answer
    "q75_incremental_simhash" -> {
      val ham = (1 to 16).map(j =>
        s"bit_count(xor(strpos('0123456789abcdef', substr(a.simhash_hex, $j, 1)) - 1, " +
          s"strpos('0123456789abcdef', substr(b.simhash_hex, $j, 1)) - 1))")
        .mkString(" + ")
      s"""WITH fp AS ($simhashMd5OracleSql)
         |SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
         |  CAST($ham AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |WHERE $ham <= 3""".stripMargin
    },

    "q26_next_node_fwd_tail" ->
      """WITH o AS (SELECT user_id, ts,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |a AS (SELECT user_id, max(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT u.user_id, o.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin,

    "q27_next_node_bwd_head" ->
      """WITH o AS (SELECT user_id, ts,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |a AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT u.user_id, o.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin,

    "q16_seq_match_time" ->
      """WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, t, event_type,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY t) AS ne FROM f)
        |SELECT e.user_id, coalesce(m.matched, false) AS matched
        |FROM (SELECT DISTINCT user_id FROM events) e
        |LEFT JOIN (SELECT user_id,
        |             bool_or(event_type = 'view' AND ne = 'click'
        |                     AND (nt - t) // 1000000 <= 600) AS matched
        |           FROM l GROUP BY user_id) m ON e.user_id = m.user_id""".stripMargin,

    "q17_next_node_backward" ->
      """WITH o AS (SELECT user_id, ts,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |a AS (SELECT user_id, max(ts) AS t0 FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT u.user_id, o.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin,

    "q18_jaccard_dups" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5""".stripMargin,

    "q19_minhash_lsh" -> // threshold 0.8: where the banding recall bound holds
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8""".stripMargin,

    "q20_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS DOUBLE) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin,

    "q21_langid" ->
      """WITH t AS (SELECT doc_id, text,
        |             string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, text,
        |        len(list_intersect(toks, ['the','a','of','and','to','in','is'])) AS c_en,
        |        len(list_intersect(toks, ['el','la','de','que','y','en','los'])) AS c_es,
        |        len(list_intersect(toks, ['der','die','das','und','ist','von','mit'])) AS c_de,
        |        len(list_intersect(toks, ['le','les','et','des','une','est','dans'])) AS c_fr
        |      FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |       WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |       WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |       WHEN c_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_guess
        |FROM c""".stripMargin,

    "q22_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
        |             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |               / length(text) AS punct_ratio,
        |             CAST(len(list_intersect(string_split_regex(trim(lower(text)), '\s+'),
        |                  ['the','a','of','and','to','in','is'])) AS DOUBLE)
        |               / len(string_split_regex(trim(lower(text)), '\s+')) AS stop_ratio
        |      FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |  CAST(round(punct_ratio, 6) AS DOUBLE) AS punct_ratio,
        |  CAST(round(least(1.0, n_tok / 50.0) * 0.5
        |       + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |       + least(1.0, stop_ratio * 5.0) * 0.2, 6) AS DOUBLE) AS quality
        |FROM t""".stripMargin,

    "q23_fingerprint" ->
      """WITH g AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id, L,
        |        list_transform(range(1, L - 8 + 2),
        |          i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS hs
        |      FROM g),
        |f AS (SELECT doc_id,
        |        CASE WHEN L >= 11 THEN
        |          list_distinct(list_transform(range(1, L - 8 + 2 - 3),
        |            j -> list_aggregate(hs[j:j+3], 'min')))
        |        ELSE [] END AS fps
        |      FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, list_aggregate(fps, 'min') AS min_fp
        |FROM f""".stripMargin,

    "q24_binary_stats" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substr(md5(text), 1, 8) AS header_hex
        |FROM documents""".stripMargin,

    "q31_curation" -> // dup-representative filter + language/quality gate
      """WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
        |),
        |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u),
        |kept AS (SELECT d.* FROM documents d
        |         LEFT JOIN comp c ON d.doc_id = c.id AND c.component <> c.id
        |         WHERE c.id IS NULL),
        |sc AS (SELECT doc_id, text,
        |         string_split_regex(trim(lower(text)), '\s+') AS ltoks,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
        |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |           / length(text) AS punct_ratio
        |       FROM kept),
        |sc2 AS (SELECT doc_id, text, n_tok,
        |          CAST(len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS DOUBLE)
        |            / len(ltoks) AS stop_ratio,
        |          punct_ratio,
        |          len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS c_en,
        |          len(list_intersect(ltoks, ['el','la','de','que','y','en','los'])) AS c_es,
        |          len(list_intersect(ltoks, ['der','die','das','und','ist','von','mit'])) AS c_de,
        |          len(list_intersect(ltoks, ['le','les','et','des','une','est','dans'])) AS c_fr
        |        FROM sc)
        |SELECT doc_id,
        |  CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |       WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |       WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |       WHEN c_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_guess,
        |  CAST(round(least(1.0, n_tok / 50.0) * 0.5
        |       + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |       + least(1.0, stop_ratio * 5.0) * 0.2, 6) AS DOUBLE) AS quality,
        |  CAST(n_tok AS BIGINT) AS n_tokens
        |FROM sc2
        |WHERE round(least(1.0, n_tok / 50.0) * 0.5
        |       + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |       + least(1.0, stop_ratio * 5.0) * 0.2, 6) >= 0.5""".stripMargin,

    "q30_dup_components" -> // transitive closure of the exact-Jaccard dup pairs
      """WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
        |)
        |SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u""".stripMargin,

    "q29_ivf_ann" -> // full-probe IVF is exact -> same oracle as brute force
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |        list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))) AS sim
        |      FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM s ORDER BY s.sim DESC, vec_id LIMIT 10""".stripMargin,

    "q14_ann_cosine" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |        list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))) AS sim
        |      FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM s ORDER BY s.sim DESC, vec_id LIMIT 10""".stripMargin,

    // recomputes the media features byte-by-byte from the SAME parquet q57
    // wrote: payload bytes decoded from hex(bytes) two nibbles at a time,
    // header check against hex('GFT0') = 47465430
    "q57_media_features" ->
      s"""WITH m AS (SELECT media_id, kind, hex(bytes) AS h,
         |             octet_length(bytes) AS nb
         |           FROM read_parquet('$MediaParquetPath/*.parquet')),
         |s AS (SELECT media_id, kind, nb,
         |        CASE WHEN nb > 4 THEN
         |          list_sum(list_transform(range(0, nb - 4), j ->
         |            (strpos('0123456789ABCDEF', h[9 + 2 * j]) - 1) * 16
         |            + strpos('0123456789ABCDEF', h[10 + 2 * j]) - 1))
         |        ELSE 0 END AS paysum, h
         |      FROM m)
         |SELECT media_id, kind, CAST(nb AS BIGINT) AS n_bytes,
         |  CAST(round(CASE WHEN nb > 4
         |                  THEN paysum / CAST(nb - 4 AS DOUBLE)
         |                  ELSE 0.0 END, 6) AS DOUBLE) AS mean_byte,
         |  (nb >= 4 AND h[1:8] = '47465430') AS header_ok
         |FROM s""".stripMargin,

    "q58_lsh_selfjoin" -> // full recall on this corpus -> exact-join oracle
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS DOUBLE) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45""".stripMargin,

    "q59_seq_match_time_gt" -> seqMatchTimeOracle("> 500000"),

    "q60_seq_match_time_ne" -> seqMatchTimeOracle("<> 2901"),

    "q61_seq_match_time_eq" -> seqMatchTimeOracle("= 2901"),

    "q62_seq_match_time_lt" -> seqMatchTimeOracle("< 500000"),

    "q63_seq_match_time_ge" -> seqMatchTimeOracle(">= 609075"),

    // every stride-th 16-byte payload frame of each video, re-sliced from
    // hex(bytes): frame f covers hex chars [9 + 32f, 9 + 32f + 31] (after
    // the 8 magic chars), for f in 0, 4, 8, ... below (nb - 4) / 16
    "q64_media_frames" ->
      s"""WITH m AS (SELECT media_id, hex(bytes) AS h, octet_length(bytes) AS nb
         |           FROM read_parquet('$MediaFramesPath/*.parquet')
         |           WHERE kind = 'video'),
         |f AS (SELECT media_id, h,
         |        unnest(range(0, greatest((nb - 4) // 16, 0))) AS j
         |      FROM m)
         |SELECT media_id, CAST(j AS INTEGER) AS frame_idx,
         |  substr(h, CAST(9 + 32 * j AS INTEGER), 32) AS frame_hex
         |FROM f WHERE j % 4 = 0""".stripMargin,

    // nearest-neighbor 16x16 downsample recomputed pixel-by-pixel: pixel
    // p (row-major) samples source byte ((p//16 * height // 16) * width +
    // (p%16 * width // 16)) mod plen of the payload; non-images pass
    // through untouched
    "q66_media_resize" ->
      s"""WITH m AS (SELECT media_id, kind, width, height, hex(bytes) AS h,
         |             octet_length(bytes) AS nb
         |           FROM read_parquet('$MediaResizePath/*.parquet')),
         |px AS (SELECT media_id, width, height, h, nb,
         |         unnest(range(0, 256)) AS p
         |       FROM m WHERE kind = 'image' AND width > 0 AND height > 0),
         |rs AS (SELECT media_id,
         |         '47465430' || string_agg(
         |           substr(h, CAST(9 + 2 * ((((p // 16) * height // 16) * width
         |                                    + ((p % 16) * width // 16)) % (nb - 4))
         |                  AS INTEGER), 2), '' ORDER BY p) AS rh
         |       FROM px GROUP BY media_id)
         |SELECT m.media_id, m.kind,
         |  CASE WHEN rs.media_id IS NOT NULL THEN 16 ELSE m.width END AS width,
         |  CASE WHEN rs.media_id IS NOT NULL THEN 16 ELSE m.height END AS height,
         |  CASE WHEN rs.media_id IS NOT NULL THEN rs.rh ELSE m.h END AS bytes_hex
         |FROM m LEFT JOIN rs USING (media_id)""".stripMargin,

    // symmetric int8 quantization recomputed per element; the zero-scale
    // branch mirrors the operator's divide-by-zero guard; q is joined to a
    // comma string to match the Spark side (arrays break the harness hash)
    "q67_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |      FROM e)
        |SELECT vec_id, CAST(round(scale, 9) AS DOUBLE) AS scale,
        |  array_to_string(
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) END,
        |    ',') AS q
        |FROM s""".stripMargin,

    // the nCells=1 regime compares every pair, so the oracle is q20's
    // cosine join folded into the greedy lower-id marker rule
    "q68_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT b.vec_id AS id, min(a.vec_id) AS dup_of
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        |      GROUP BY b.vec_id)
        |SELECT e.vec_id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
        |FROM e LEFT JOIN d ON e.vec_id = d.id""".stripMargin,

    // the streaming rows answer the same questions as q06/q08, so their
    // oracles are the same SQL — the point is that the STREAMING execution
    // path (MemoryStream, state carry across two micro-batches, consumed
    // prefix, update-mode emissions) lands on the identical hash
    "q71_stream_seq_count" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "q72_stream_next_node" ->
      """WITH o AS (SELECT user_id, ts,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |a AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT u.user_id, o.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin,

    // q01's lag/sum session labeling aggregated to sessions: same gap
    // convention as the session store (diff > gap starts a new session —
    // session_window merges at == gap, probed in round 10), session end =
    // last event + gap, matching session_window.end
    "q77_stream_sessionize" ->
      """WITH l AS (
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
        |FROM lab GROUP BY user_id, sid""".stripMargin,

    // same oracle as q02 — the streaming execution path (O(1) OR-mask
    // state, two micro-batches, update-mode re-emission) must land on the
    // identical anchor-gated flags
    "q78_stream_retention" ->
      """SELECT user_id,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false) AS d1,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-02'), false) AS d2,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-03'), false) AS d3
        |FROM events GROUP BY user_id""".stripMargin,

    // same oracle as q04 — the streaming pattern engine's latch across two
    // micro-batches must land on the batch wildcard-match answer
    "q80_stream_seq_match" ->
      """SELECT user_id,
        |  (min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) IS NOT NULL
        |   AND max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) IS NOT NULL
        |   AND min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |     < max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS matched
        |FROM events GROUP BY user_id""".stripMargin,

    // same oracle as q07 — the latched (?N) step timestamps must be the
    // batch FIRST match's
    "q81_stream_seq_match_events" ->
      """WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, t, event_type,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY t) AS ne FROM f),
        |mm AS (SELECT user_id, t AS ev1, nt AS ev2,
        |         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
        |       FROM l WHERE event_type = 'view' AND ne = 'click')
        |SELECT u.user_id, mm.ev1 AS ev1_us, mm.ev2 AS ev2_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN mm ON u.user_id = mm.user_id AND mm.rn = 1""".stripMargin,

    // digest-level exactly-once: one emission per distinct text across the
    // whole stream (a leaked duplicate shows up as n_emitted = 2, a lost
    // text as a missing row)
    "q82_stream_exact_dedup" ->
      """SELECT sha256(text) AS text_hash, CAST(1 AS BIGINT) AS n_emitted
        |FROM (SELECT DISTINCT text FROM documents)""".stripMargin,

    // seen-based suppression over the md5 simhash fingerprints: near-dup
    // iff an earlier-id doc sits within Hamming <= 3 (the q41 Hamming
    // computation, directed by doc_id order = the synthetic event-time
    // order the harness feeds)
    "q83_stream_simhash_dedup" -> {
      val ham = (1 to 16).map(j =>
        s"bit_count(xor(strpos('0123456789abcdef', substr(a.simhash_hex, $j, 1)) - 1, " +
          s"strpos('0123456789abcdef', substr(b.simhash_hex, $j, 1)) - 1))")
        .mkString(" + ")
      s"""WITH fp AS ($simhashMd5OracleSql),
         |d AS (SELECT DISTINCT b.doc_id AS id
         |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |      WHERE $ham <= 3)
         |SELECT fp.doc_id, d.id IS NOT NULL AS is_near_dup
         |FROM fp LEFT JOIN d ON fp.doc_id = d.id""".stripMargin
    },

    // same oracle as q03 — the streaming funnel's per-batch re-scan with
    // the monotone best-step guard must reach exactly the batch depth
    "q79_stream_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |c2 AS (SELECT en.user_id, en.t1, min(x.t) AS t2
        |       FROM entries en LEFT JOIN e x
        |         ON x.user_id = en.user_id AND x.event_type = 'click'
        |        AND x.t > en.t1 AND x.t <= en.t1 + 3600000000
        |       GROUP BY en.user_id, en.t1),
        |c3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(x.t) AS t3
        |       FROM c2 LEFT JOIN e x
        |         ON x.user_id = c2.user_id AND x.event_type = 'purchase'
        |        AND c2.t2 IS NOT NULL AND x.t > c2.t2 AND x.t <= c2.t1 + 3600000000
        |       GROUP BY c2.user_id, c2.t1, c2.t2),
        |s AS (SELECT user_id,
        |        max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END) AS steps
        |      FROM c3 GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(s.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin,

    // q53's brute-force batch oracle over the DEQUANTIZED corpus: the
    // int8 codes and scale are recomputed with q67's arithmetic, then
    // x -> round(x/scale)*scale replaces the raw corpus value before the
    // identical cosine/rank pipeline (queries stay exact doubles)
    "q70_quantized_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |       FROM e WHERE vec_id % 100 <> 0),
        |c AS (SELECT vec_id,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |             ELSE list_transform(v, x -> CAST(round(x / scale) AS INTEGER) * scale)
        |        END AS v
        |      FROM sc),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id % 100 = 0),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin,

    // the celled fixture regenerated arithmetically (same exactly-rounded
    // IEEE divisions as the Spark side), judged by the exact all-pairs
    // lower-id-neighbor rule — valid because the clusters are separated
    // (no cross-cell pair can reach the threshold) and cluster-to-cell
    // assignment is 1:1 by construction
    "q69_semdedup_cells" ->
      """WITH e AS (SELECT i AS vec_id,
        |        list_transform(range(0, 8), j ->
        |          CAST(CASE WHEN i % 4 = j THEN 1 ELSE 0 END AS DOUBLE)
        |          + CAST(((i*31 + j*17) % 7) - 3 AS DOUBLE) / 200.0) AS v
        |      FROM range(0, 200) t(i)),
        |d AS (SELECT b.vec_id AS id, min(a.vec_id) AS dup_of
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
        |      GROUP BY b.vec_id)
        |SELECT e.vec_id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
        |FROM e LEFT JOIN d ON e.vec_id = d.id""".stripMargin,

    // q23's winnow-fingerprint pipeline (k=8, w=4, md5 grams), extended
    // with corpus doc-frequency: fingerprints are distinct per doc, so
    // count(*) per fingerprint IS the doc frequency
    "q65_boilerplate" ->
      """WITH g AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id, L,
        |        list_transform(range(1, L - 8 + 2),
        |          i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS hs
        |      FROM g),
        |f AS (SELECT doc_id,
        |        CASE WHEN L >= 11 THEN
        |          list_distinct(list_transform(range(1, L - 8 + 2 - 3),
        |            j -> list_aggregate(hs[j:j+3], 'min')))
        |        ELSE [] END AS fps
        |      FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |d AS (SELECT fp, count(*) AS df FROM e GROUP BY fp),
        |p AS (SELECT e.doc_id, count(*) AS n_fp,
        |        sum(CASE WHEN d.df >= 25 THEN 1 ELSE 0 END) AS n_common
        |      FROM e JOIN d USING (fp) GROUP BY e.doc_id)
        |SELECT f.doc_id, CAST(coalesce(p.n_fp, 0) AS BIGINT) AS n_fp,
        |  CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(round(coalesce(CAST(p.n_common AS DOUBLE) / p.n_fp, 0), 6) AS DOUBLE)
        |    AS boilerplate_frac
        |FROM f LEFT JOIN p USING (doc_id)""".stripMargin
  )

  /** q16's lead/lag adjacency oracle, specialized to the hour-thinned
    * view->click stream of q59/q60 with a pluggable elapsed-seconds
    * comparison (`//` floor division mirrors the executor's integer
    * microseconds-to-seconds truncation). */
  private def seqMatchTimeOracle(gapCmp: String): String =
    s"""WITH f AS (SELECT user_id, epoch_us(ts) AS t,
       |             CASE WHEN event_type = 'view'
       |                       AND (epoch_us(ts) // 3600000000) % 24 = 3 THEN 1
       |                  WHEN event_type = 'click'
       |                       AND (epoch_us(ts) // 3600000000) % 24 = 4 THEN 2 END AS c
       |           FROM events
       |           WHERE (event_type = 'view' AND (epoch_us(ts) // 3600000000) % 24 = 3)
       |              OR (event_type = 'click' AND (epoch_us(ts) // 3600000000) % 24 = 4)),
       |l AS (SELECT user_id, t, c,
       |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt,
       |        lead(c) OVER (PARTITION BY user_id ORDER BY t) AS nc FROM f)
       |SELECT e.user_id, coalesce(m.matched, false) AS matched
       |FROM (SELECT DISTINCT user_id FROM events) e
       |LEFT JOIN (SELECT user_id,
       |             bool_or(c = 1 AND nc = 2 AND (nt - t) // 1000000 $gapCmp) AS matched
       |           FROM l GROUP BY user_id) m ON e.user_id = m.user_id""".stripMargin
}
