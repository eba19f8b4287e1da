package graft
package contracts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import Harness._

object StoreContracts {

  /** Folds `ev` once into per-(user, day) `state` partials under scratch
    * dir `name`, then merges each user's partials with `merge` — the
    * mergeable-rollup shape whose answer must equal a raw scan's. */
  private def dayRollup(s: SparkSession, ev: DataFrame, name: String, state: Column)(
      merge: Column): DataFrame = {
    val rollupPath = sources.Sinks.scratchDir(name) + "/rollup"
    ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(state)
      .write.mode("overwrite").parquet(rollupPath)
    s.read.parquet(rollupPath)
      .groupBy(col("user_id"))
      .agg(merge)
  }

  // ---- MERGEABLE RETENTION ROLLUP: the raw log is folded ONCE into a
  // per-(user, day) table of 8-byte retention_state partials; the
  // dashboard query OR-merges states from that table — O(users x days)
  // input instead of O(events), exact because OR is associative. The
  // oracle is q02's raw-scan retention SQL: the rollup must not change
  // the answer, the same standard the layout rows (q92/q96/q97/q104)
  // meet for storage, applied to pre-aggregation.
  val q105 = Contract("q105_retention_rollup", run = { (s, dir) =>
      val conds = Seq("2024-01-01", "2024-01-02", "2024-01-03")
        .map(d => to_date(col("ts")) === lit(d))
      dayRollup(s, events(s, dir), "q105_rollup",
          BehavioralFunctions.retention_state(conds: _*).as("state"))(
          BehavioralFunctions.retention_merge(col("state"), 3).as("r"))
        .select(col("user_id"),
          get(col("r"), lit(0)).as("d1"),
          get(col("r"), lit(1)).as("d2"),
          get(col("r"), lit(2)).as("d3"))
    },
    // q105: q02's raw-scan retention SQL — the per-(user, day) rollup of
    // mergeable states must be invisible to the answer (OR-merge of
    // partials == one scan), like the layout rows' oracles
    oracleSql = BehavioralContracts.q02.oracleSql)

  // ---- INCREMENTAL SESSIONIZE: the log folds in one time-ordered
  // batch at a time (three ten-day slices here); each batch pays a
  // window over ITSELF plus a join against the O(users) stitch state,
  // never a rescan of history. The accumulated per-event ids must match
  // q01's full-scan oracle exactly — session ids are append-stable, so
  // the incremental decomposition is exact, not approximate
  // (IncrementalSessionSpec pins the crash-recovery invariants; this
  // row pins the answer).
  val q106 = Contract("q106_incremental_sessionize", run = { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val base = freshDir("q106_incsess", "sess")
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
    // q106: q01's full-scan sessionize SQL — the batch-at-a-time fold plus
    // O(users) stitch state must reproduce the global ids exactly
    oracleSql = BehavioralContracts.q01.oracleSql)

  // ---- the incremental store's MAINTENANCE cycle: append, COMPACT,
  // append more (including an EMPTY delta — a quiet day must commit as
  // a no-op), compact again. The generational fold bounds the read
  // path's directory list at daily-ingest horizons — without it q106's
  // store unions one dir per ingest forever, the small-files wall the
  // sorted layout's ingest cycle (q104) already solved for storage.
  // In-query pins: the live batch-dir count actually DROPS at each
  // compaction; the oracle (q01's full-scan SQL) pins that none of the
  // maintenance changed a single session id.
  val q107 = Contract("q107_incsess_compacted", run = { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val base = freshDir("q107_incsess", "sess")
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
    // q107: q01's full-scan sessionize SQL once more — append/compact/
    // append/compact (with an empty mid-cycle delta) is pure maintenance;
    // the per-event ids must not move
    oracleSql = BehavioralContracts.q01.oracleSql)

  // ---- MERGEABLE FUNNEL ROLLUP: q105's pattern applied to the funnel
  // family. The raw log folds ONCE into a per-(user, day) table of
  // funnel_state partials (the serialized condition-event buffer — see
  // the size trade in FunnelStateAgg's scaladoc); the dashboard query
  // funnel_merges them with the window and mode supplied AT MERGE TIME,
  // so one rollup serves every funnel variant. Exact, not approximate
  // (the merge sees the identical event multiset a raw scan would);
  // the oracle is q03's raw-scan funnel SQL.
  val q108 = Contract("q108_funnel_rollup", run = { (s, dir) =>
      dayRollup(s, events(s, dir), "q108_funnel", funnelState)(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

  // ---- the SAME rollup serves a different funnel variant: strict mode
  // over the q108-shaped per-(user, day) states — mode lives at merge
  // time, so no second scan of the raw log. Oracle: q34's strict SQL.
  val q109 = Contract("q109_funnel_rollup_strict", run = { (s, dir) =>
      dayRollup(s, events(s, dir), "q109_funnel", funnelState)(
        BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          "strict", col("state")).as("steps"))
    },
    oracleSql = BehavioralContracts.q34.oracleSql)

  // ---- the state table serves the SEQUENCE family too: funnel_state's
  // partials are byte-identical to the buffer the sequence aggregates
  // build (same update rules), so sequence_count over the rollup needs
  // only the pattern at merge time. Oracle: q06's raw-scan count SQL.
  val q110 = Contract("q110_seqcount_rollup", run = { (s, dir) =>
      dayRollup(s, events(s, dir), "q110_seq",
          BehavioralFunctions.funnel_state(col("ts"),
            col("event_type") === "purchase").as("state"))(
          BehavioralFunctions.sequence_count_merge("(?1)", col("state")).as("n"))
    },
    oracleSql = BehavioralContracts.q06.oracleSql)

  // ---- sequence_match over the rollup — wildcard chain across grain
  // boundaries must still be found. Oracle: q04's raw-scan match SQL.
  val q111 = Contract("q111_seqmatch_rollup", run = { (s, dir) =>
      dayRollup(s, events(s, dir), "q111_seq",
          BehavioralFunctions.funnel_state(col("ts"),
            col("event_type") === "view",
            col("event_type") === "purchase").as("state"))(
          BehavioralFunctions.sequence_match_merge("(?1).*(?2)",
            col("state")).as("matched"))
    },
    oracleSql = BehavioralContracts.q04.oracleSql)

  // ---- sequence_match_events over the rollup — ADJACENCY is relative
  // to condition-bearing events only, and the state drops exactly the
  // same non-condition events the raw aggregate does, so the first
  // match's step timestamps survive the rollup. Oracle: q07's SQL.
  val q112 = Contract("q112_seqevents_rollup", run = { (s, dir) =>
      dayRollup(s, events(s, dir), "q112_seq",
          BehavioralFunctions.funnel_state(col("ts"),
            col("event_type") === "view",
            col("event_type") === "click").as("state"))(
          BehavioralFunctions.sequence_match_events_merge("(?1)(?2)",
            col("state")).as("r"))
        .select(col("user_id"),
          unix_micros(get(col("r"), lit(0))).as("ev1_us"),
          unix_micros(get(col("r"), lit(1))).as("ev2_us"))
    },
    oracleSql = BehavioralContracts.q07.oracleSql)

  // ---- next_node rollup: the LAST behavioral function gains its
  // mergeable twin. sequence_next_node needs its own state (funnel_state
  // drops condition-less events and carries no values; here ANY event's
  // value can be the answer, so the state keeps every row with its
  // dictionary-encoded value — the family's heaviest partial, see
  // NextNodeStateAgg's scaladoc). Direction and base live at merge
  // time: one per-(user, day) table serves all 8 variants. Oracle:
  // q08's raw-scan forward/head SQL.
  val q113 = Contract("q113_nextnode_rollup", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q113_nextnode_rollup", dir)
      dayRollup(s, ev, "q113_nextnode",
          BehavioralFunctions.next_node_state(col("ts"), col("event_type"),
            col("event_type") === "signup",
            col("event_type") === "signup").as("state"))(
          BehavioralFunctions.next_node_merge("forward", "head",
            col("state")).as("next_node"))
    },
    oracleSql = BehavioralContracts.q08.oracleSql)

  // ---- the SAME state shape serves the opposite direction x base at
  // merge time — backward/tail over per-(user, day) partials, where the
  // matched chain and its adjacent predecessor can straddle a day
  // boundary. Oracle: q17's raw-scan backward/tail SQL.
  val q114 = Contract("q114_nextnode_rollup_bwd", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q114_nextnode_rollup_bwd", dir)
      dayRollup(s, ev, "q114_nextnode",
          BehavioralFunctions.next_node_state(col("ts"), col("event_type"),
            col("event_type") === "purchase",
            col("event_type") === "purchase").as("state"))(
          BehavioralFunctions.next_node_merge("backward", "tail",
            col("state")).as("prev_node"))
    },
    oracleSql = BehavioralContracts.q17.oracleSql)

  // ---- STATE-TO-STATE combine closes the rollup algebra: the q108
  // day-grain table RE-GRAINS to per-(user, week) by folding states
  // with funnel_state_combine — the raw log is touched once (building
  // the day table) and never again; the week table then serves the
  // same funnel_merge. Combine is multiset union over the condition
  // events, so the answer is exact at any grain. Oracle: q03's
  // raw-scan SQL, the third re-expression it gates (q03, q108, here).
  val q115 = Contract("q115_funnel_combine_regrain", run = { (s, dir) =>
      val ev = events(s, dir)
      val dayPath = sources.Sinks.scratchDir("q115_funnel") + "/day"
      val weekPath = sources.Sinks.scratchDir("q115_funnel") + "/week"
      ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(funnelState)
        .write.mode("overwrite").parquet(dayPath)
      s.read.parquet(dayPath)
        .groupBy(col("user_id"), weekofyear(col("day")).as("week"))
        .agg(BehavioralFunctions.funnel_state_combine(col("state")).as("state"))
        .write.mode("overwrite").parquet(weekPath)
      s.read.parquet(weekPath)
        .groupBy(col("user_id"))
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

  // ---- the next-node family's combine: q113's day table re-grains to
  // per-(user, week) partials — dictionary pools re-interned so a
  // value's bytes appear once per combined partial — and the week
  // table answers the same forward/head merge. Oracle: q08's SQL.
  val q116 = Contract("q116_nextnode_combine_regrain", run = { (s, dir) =>
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
    oracleSql = BehavioralContracts.q08.oracleSql)

  // ---- TIME-CONSTRAINED patterns over merged states: a `(?t>N)` step
  // must measure the gap between events that can sit in DIFFERENT
  // day-grain partials — the merged buffer re-sorts by ts before the
  // NFA runs, so the elapsed-time comparison is grain-blind. Same
  // hour-thinned view->click stream and comparator as q59; oracle is
  // q59's lead/lag SQL verbatim.
  val q117 = Contract("q117_seqmatch_time_rollup", run = { (s, dir) =>
      dayRollup(s, events(s, dir), "q117_seq",
          BehavioralFunctions.funnel_state(col("ts"),
            BehavioralContracts.hourThinnedViewClick: _*).as("state"))(
          BehavioralFunctions.sequence_match_merge("(?1)(?t>500000)(?2)",
            col("state")).as("matched"))
    },
    oracleSql = BehavioralContracts.q59.oracleSql)

  // ---- the ROLLUP STORE's maintenance cycle: the state table itself
  // becomes incrementally maintained. Three hash-cut ingest slices (so
  // every (user, day) key recurs across batches and compaction
  // genuinely folds multi-row keys), COMPACT via funnel_state_combine,
  // ingest more (including an empty delta — a quiet day commits as a
  // no-op), compact again. In-query pins: the live batch-dir count
  // drops at each fold; the oracle (q03's raw-scan funnel SQL) pins
  // that no step of the cycle changed the merged answer — the raw log
  // was scanned exactly once per slice, never by maintenance.
  val q118 = Contract("q118_rollup_store", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q118_rollup", "store")
      val keys = Seq("user_id", "day")
      def states(slice: Column) = ev.filter(slice)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

  // ---- the store is FAMILY-GENERIC: the same ingest/compact cycle
  // runs retention's 8-byte BIGINT states folded with
  // retention_state_combine — the third member of the combine algebra
  // (funnel q118, next-node via RollupStoreSpec). Two hash-cut slices,
  // compact, one more slice: the merged cohort flags must match q02's
  // raw-scan oracle at the end of the cycle.
  val q119 = Contract("q119_rollup_store_retention", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q119_rollup", "store")
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
    oracleSql = BehavioralContracts.q02.oracleSql)

  // ---- REPLAY-SAFE ingest: q118's cycle driven through an
  // at-least-once delivery channel. Each slice appends tagged with an
  // ingestId (what a foreachBatch sink passes as its batchId) and is
  // then RE-DELIVERED — Spark's documented restart behavior — which
  // must be a committed no-op, before AND after a compaction folds the
  // ids forward. In-query pins: every replay returns 0 rows and adds
  // no batch dir; the oracle (q03's raw-scan funnel SQL) pins that the
  // replays changed nothing — an un-keyed store would double the
  // replayed slices' event multisets and diverge.
  val q120 = Contract("q120_rollup_store_replay", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q120_rollup", "store")
      val keys = Seq("user_id", "day")
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(3)) === i)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

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
  val q121 = Contract("q121_rollup_store_grained", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q121_rollup", "store")
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    // dropGrains IS a deliberate answer change — the oracle is q03's SQL
    // over only the events on/after the retention cutoff (weeks start
    // Monday; 2024-01-15 is one, so week >= cutoff is exactly date >= cutoff)
    oracleSql = BehavioralContracts.funnelCascadeSql("CAST(ts AS DATE) >= DATE '2024-01-15'"))

  // ---- STORE-LEVEL RE-GRAIN: q115 proved day->week re-graining per
  // query; regrain() rewrites the STORE itself at the coarser grain as
  // a maintenance op (same lease/marker/footer cycle as compact), so
  // every later dashboard read pays one row per (user, week) instead
  // of per (user, day) — without ever touching the raw log. In-query
  // pins: one live batch and the flipped (user_id, week) schema after
  // the rewrite; the oracle (q03's raw-scan SQL) pins that the rewrite
  // changed no merged answer.
  val q122 = Contract("q122_rollup_store_regrain", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q122_rollup", "store")
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(3)) === i)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

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
  val q123 = Contract("q123_stream_rollup_ingest", run = harnessRow { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      val base = freshDir("q123_rollup", "store")
      def toStates(df: DataFrame) = df
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(funnelState)
      var lastBatchId = -1L
      def sink(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long): Unit = {
        lastBatchId = batchId
        ops.RollupStore.appendStates(toStates(batch.toDF()), base,
          Seq("user_id", "day"), ingestId = Some(s"q123/$batchId"))
        ()
      }
      val rows = harnessFeed(s, dir, "events", "q123_stream_rollup_ingest")(
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

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
  val q124 = Contract("q124_rollup_store_regrain_into", run = { (s, dir) =>
      val ev = events(s, dir)
      val src = freshDir("q124_rollup", "weeks")
      val dst = freshDir("q124_rollup", "months")
      val states = ev
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

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
  val q125 = Contract("q125_rollup_store_grained_retention", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q125_rollup", "store")
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
    oracleSql = BehavioralContracts.q02.oracleSql)

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
  val q126 = Contract("q126_rollup_store_janitor", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q126_rollup", "store")
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

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
  val q127 = Contract("q127_rollup_store_snapshot_reader", run = { (s, dir) =>
      val ev = events(s, dir)
      val base = freshDir("q127_rollup", "store")
      val keys = Seq("user_id", "week")
      val cutoff = "2024-01-15"
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(funnelState)
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
        .agg(funnelSteps)
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

  val all: Seq[Contract] = Seq(q105, q106, q107, q108, q109, q110, q111, q112, q113, q114,
    q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125, q126, q127)
}
