package graft
package contracts

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.sources.Tables
import Harness._

object LayoutContracts {

  // ---- 2.9 host-engine surface: scan + agg + window (TPC-H Q1-ish) ----
  val q09 = Contract("q09_tpch_q1", run = { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice")), 2).as("sum_price"),
             round(avg(col("l_discount")), 6).as("avg_disc"),
             count(lit(1)).as("n_rows"))
    },
    oracleSql = """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price,
        |  CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)

  // ---- 2.9 host-engine surface: joins (broadcast dims) ---------------
  val q10 = Contract("q10_join_revenue", run = { (s, dir) =>
      val orders = table(s, dir, "orders")
      val customer = Tables.load(s, dir, "customer")
      val nation = Tables.load(s, dir, "nation")
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
             count(lit(1)).as("n_orders"))
    },
    oracleSql = """SELECT n_name,
        |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)

  // ---- 2.9 host-engine surface: bucketed co-located fact-fact join ----
  // same logical answer as a plain orders x lineitem join (the oracle is
  // that plain SQL); what's under test is the LAYOUT: both sides written
  // as 8-bucket tables on the join key, so the join plans with ZERO
  // exchanges (PlanSpec pins it). At 100 TB the bucketed layout deletes
  // both shuffles of the biggest join in the schema; writing it costs
  // one shuffle-equivalent up front and amortizes over every downstream
  // join — the standard warehouse trade.
  val q91 = Contract("q91_bucketed_join", run = { (s, dir) =>
      BehavioralFunctions.register(s)
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
    // q91: the oracle is the PLAIN join — bucketing is a physical layout
    // and must not change the answer
    oracleSql = """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin)

  // ---- bucketed EVENTS layout: shuffle-free behavioral aggregation ----
  // the reference's entire behavioral surface is GROUP BY user_id /
  // PARTITION BY user_id over the event log — at 100 TB that per-query
  // shuffle IS the dominant cost. Writing events bucketed by user_id
  // pays it ONCE at ingest; every funnel / retention / sequence query
  // then plans with ZERO exchanges (the bucketed scan's HashPartitioning
  // already satisfies the aggregate's ClusteredDistribution; PlanSpec
  // pins it). The oracle is q03's plain funnel SQL — layout must not
  // change the answer.
  val q92 = Contract("q92_bucketed_funnel", run = { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts", "event_type")
      val tmp = sources.Sinks.scratchDir("q92_bucketed")
      val tEvents = sources.Sinks.sessionTable(s, "graft_b_events")
      sources.Sinks.writeBucketed(ev, tEvents, s"$tmp/events",
        nBuckets = 8, "user_id")
      sources.Sinks.readBucketed(s, tEvents)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          viewClickPurchase: _*).as("steps"))
    },
    oracleSql = BehavioralContracts.q03.oracleSql)

  // ---- skew-mitigated fact join: salted equi-join ---------------------
  // same logical answer as the plain orders x lineitem join (the oracle
  // IS q91's plain SQL); what's under test is the SKEW REWRITE: the
  // fact side salted 8 ways, the mid-size side replicated per salt, so
  // a heavy-hitter orderkey spreads over 8 tasks instead of one. The
  // salt changes task placement only — never the rows (SkewSpec pins
  // row equality and the (key, salt) partitioning).
  val q95 = Contract("q95_salted_join", run = { (s, dir) =>
      val lineitem = table(s, dir, "lineitem")
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
    oracleSql = q91.oracleSql)

  // ---- date-partitioned EVENTS layout: time-sliced funnel -------------
  // the other half of the layout story (q92 kills the key shuffle; this
  // kills the time scan): events written one directory per day, then a
  // 7-day funnel whose date filter PRUNES 23 of the 30 day-partitions at
  // planning time (PlanSpec pins PartitionFilters + the pruned file
  // count). The oracle is the plain funnel SQL with the same date
  // predicate — layout must not change the answer.
  val q96 = Contract("q96_datepart_funnel", run = { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts", "event_type")
      val tmp = sources.Sinks.scratchDir("q96_datepart")
      sources.Sinks.writeDatePartitioned(ev, s"$tmp/events", "ts")
      sources.Sinks.readDatePartitioned(s, s"$tmp/events")
        .filter(col("event_date").between(lit("2024-01-01"), lit("2024-01-07")))
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          viewClickPurchase: _*).as("steps"))
    },
    // q96: the plain funnel SQL restricted to the 7-day slice — the
    // date-partitioned layout must not change the answer
    oracleSql = BehavioralContracts.funnelCascadeSql(
      "CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'"))

  // ---- COMBINED layout: date-partitioned + user-bucketed --------------
  // both levers in one table: the 7-day funnel prunes 23 of 30
  // day-directories at planning time AND aggregates with zero
  // exchanges (PlanSpec pins both on the same plan). Same oracle as
  // q96 — layout must not change the answer.
  val q97 = Contract("q97_layout_funnel", run = { (s, dir) =>
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
          viewClickPurchase: _*).as("steps"))
    },
    oracleSql = q96.oracleSql)

  // ---- SORT-ELIDING layout: sessionize with zero exchanges AND zero
  // sorts. q92 deletes the window path's shuffle; this layout (one
  // sorted file per bucket) additionally deletes its SORT — for the
  // sort-dominated sessionize (the sort is ~all of its cost at 100M
  // rows) the per-query sort becomes a one-time write-side cost.
  // PlanSpec pins both absences; the oracle is q01's sessionize SQL —
  // layout must not change the answer (tied timestamps share their
  // session id, so the on-disk reorder is hash-invariant).
  val q102 = Contract("q102_sorted_sessionize", run = { (s, dir) =>
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
    oracleSql = BehavioralContracts.q01.oracleSql)

  // ---- the layout carries the WHOLE session pipeline: sessionize +
  // per-session statistics on one scan. The window's output keeps the
  // scan's HashPartitioning(user_id), which satisfies the aggregate's
  // (user_id, session_id) clustering (partitioning on a SUBSET of the
  // group keys co-locates every group), so scan -> window -> aggregate
  // runs with zero exchanges and zero sorts end to end — the
  // session-analytics composite a behavioral warehouse serves all day.
  val q103 = Contract("q103_session_stats", run = { (s, dir) =>
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
    // q103: the q01 session assignment aggregated per (user, session) —
    // layout-independent SQL; the Spark side must produce it from one
    // sorted scan with no exchange and no sort
    oracleSql = """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM l)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM s GROUP BY user_id, session_id""".stripMargin)

  // ---- the sorted layout's INGEST CYCLE: deltas land in staging
  // (O(delta), no sort), each compaction folds them into a fresh
  // generation, and the final table still serves sessionize with the
  // zero-exchange/zero-sort plan (SortedIngestSpec pins the plan and
  // the crash-recovery invariants; this row pins the ANSWER — three
  // interleaved deltas folded through three generations must match the
  // one-shot oracle exactly). Same maintainable-store standard q101
  // set for the digest index, applied to the event layout.
  val q104 = Contract("q104_sorted_ingest", run = { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts")
      val base = freshDir("q104_sorted", "events")
      val staging = freshDir("q104_sorted", "staging")
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
    // q104: q01's oracle again — the generational ingest cycle (stage ->
    // fold -> new generation, three times) must be invisible to the
    // sessionize answer, exactly like q102's one-shot layout
    oracleSql = BehavioralContracts.q01.oracleSql)

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
  val q128 = Contract("q128_floor_shuffle", run = { (s, dir) =>
      events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
    },
    // oracle-gated like every other query, so the anchor itself can never
    // silently break
    oracleSql = "SELECT user_id, count(*) AS n FROM events GROUP BY user_id")

  val all: Seq[Contract] = Seq(q09, q10, q91, q92, q95, q96, q97, q102, q103, q104, q128)
}
