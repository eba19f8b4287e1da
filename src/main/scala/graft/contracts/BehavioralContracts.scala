package graft
package contracts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import Harness._

object BehavioralContracts {

  /** q03's default-mode funnel cascade in DuckDB SQL, over the events that
    * `where` keeps ("" keeps every event). */
  private[contracts] def funnelCascadeSql(where: String): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events${
        if (where.isEmpty) "" else s"\n           WHERE $where"}),
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
      |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin

  /** The one-hour view -> click -> purchase window_funnel in `mode`, per user. */
  private def funnelIn(mode: String): (SparkSession, String) => DataFrame = (s, dir) =>
    events(s, dir).groupBy(col("user_id"))
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), mode, col("ts"),
        viewClickPurchase: _*).as("steps"))

  /** UTC hour-of-day of the `ts` column as pure integer arithmetic on epoch
    * microseconds — identical on any engine regardless of session timezone
    * (DuckDB twin: `(epoch_us(ts) // 3600000000) % 24`). */
  private def epochHourTs: Column =
    expr("(unix_micros(ts) div 3600000000) % 24")

  /** The view -> click conditions of the time-comparator rows, thinned to
    * views at hour 3 and clicks at hour 4 (UTC). */
  private[contracts] def hourThinnedViewClick: Seq[Column] = Seq(
    col("event_type") === "view" && epochHourTs === 3,
    col("event_type") === "click" && epochHourTs === 4)

  /** sequence_match of `pattern` over [[hourThinnedViewClick]], per user. */
  private def hourThinnedMatch(pattern: String): (SparkSession, String) => DataFrame = (s, dir) =>
    events(s, dir).groupBy(col("user_id"))
      .agg(BehavioralFunctions.sequence_match(pattern, col("ts"),
        hourThinnedViewClick: _*).as("matched"))

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

  /** The allow_reentry oracle's recursive walk (shared verbatim by q38 and
    * q25's reentry column so the two can never drift apart): from each view
    * entry, step 1 → first click → step 2; then first purchase-before-view
    * completes (3) while a first view RESETS to step 1 at that view, the
    * window still anchored at the entry. The emitted value is the walk's
    * FINAL step. Terminates: pos strictly increases within the window.
    * Expects CTEs `e` (user_id, t µs, event_type) and `entries`
    * (user_id, t1) in scope. */
  private val reentryWalkCte: String =
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

  // ---- 2.1 sessionize ------------------------------------------------
  val q01 = Contract("q01_sessionize", run = { (s, dir) =>
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      ev.select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          BehavioralFunctions.sessionize(col("ts"), expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
    },
    oracleSql = """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM l""".stripMargin)

  // ---- 2.2 retention -------------------------------------------------
  val q02 = Contract("q02_retention", run = { (s, dir) =>
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
    oracleSql = """SELECT user_id,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false) AS d1,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-02'), false) AS d2,
        |  coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-01'), false)
        |    AND coalesce(bool_or(CAST(ts AS DATE) = DATE '2024-01-03'), false) AS d3
        |FROM events GROUP BY user_id""".stripMargin)

  // ---- 2.3 window_funnel (default mode) ------------------------------
  val q03 = Contract("q03_window_funnel", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
          viewClickPurchase: _*).as("steps"))
    },
    oracleSql = funnelCascadeSql(""))

  // ---- 2.4 sequence_match --------------------------------------------
  val q04 = Contract("q04_seq_match_wild", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1).*(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "purchase").as("matched"))
    },
    oracleSql = """SELECT user_id,
        |  (min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) IS NOT NULL
        |   AND max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) IS NOT NULL
        |   AND min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |     < max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS matched
        |FROM events GROUP BY user_id""".stripMargin)

  val q05 = Contract("q05_seq_match_adj", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("matched"))
    },
    oracleSql = """WITH f AS (SELECT user_id, ts, event_type FROM events WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, event_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt FROM f)
        |SELECT e.user_id, coalesce(m.matched, false) AS matched
        |FROM (SELECT DISTINCT user_id FROM events) e
        |LEFT JOIN (SELECT user_id, bool_or(event_type = 'view' AND nxt = 'click') AS matched
        |           FROM l GROUP BY user_id) m ON e.user_id = m.user_id""".stripMargin)

  // ---- 2.5 sequence_count --------------------------------------------
  val q06 = Contract("q06_seq_count", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_count("(?1)", col("ts"),
          col("event_type") === "purchase").as("n"))
    },
    oracleSql = """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n
        |FROM events GROUP BY user_id""".stripMargin)

  // ---- 2.6 sequence_match_events -------------------------------------
  val q07 = Contract("q07_seq_match_events", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match_events("(?1)(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("r"))
        .select(col("user_id"),
          unix_micros(get(col("r"), lit(0))).as("ev1_us"),
          unix_micros(get(col("r"), lit(1))).as("ev2_us"))
    },
    oracleSql = """WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, t, event_type,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY t) AS ne FROM f),
        |mm AS (SELECT user_id, t AS ev1, nt AS ev2,
        |         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
        |       FROM l WHERE event_type = 'view' AND ne = 'click')
        |SELECT u.user_id, mm.ev1 AS ev1_us, mm.ev2 AS ev2_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN mm ON u.user_id = mm.user_id AND mm.rn = 1""".stripMargin)

  // ---- 2.7 sequence_next_node ----------------------------------------
  val q08 = Contract("q08_seq_next_node", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q08_seq_next_node", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "head", col("ts"),
          col("event_type"),
          col("event_type") === "signup",
          col("event_type") === "signup").as("next_node"))
    },
    oracleSql = """WITH o AS (SELECT user_id, ts,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |a AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT u.user_id, o.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin)

  // ---- 2.3 window_funnel strict_order mode (rows-only check) ---------
  val q15 = Contract("q15_funnel_strict_order", run = funnelIn("strict_order"),
    // strict_order: an event matching any EARLIER condition kills the chain.
    // Stage 1: first view-or-click after the entry must be a click; stage 2:
    // first view-click-or-purchase after the click must be a purchase.
    oracleSql = """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
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
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin)

  // ---- 2.4 time-constrained pattern (?t<=N) ---------------------------
  val q16 = Contract("q16_seq_match_time", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_match("(?1)(?t<=600)(?2)", col("ts"),
          col("event_type") === "view",
          col("event_type") === "click").as("matched"))
    },
    oracleSql = """WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |           WHERE event_type IN ('view', 'click')),
        |l AS (SELECT user_id, t, event_type,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY t) AS ne FROM f)
        |SELECT e.user_id, coalesce(m.matched, false) AS matched
        |FROM (SELECT DISTINCT user_id FROM events) e
        |LEFT JOIN (SELECT user_id,
        |             bool_or(event_type = 'view' AND ne = 'click'
        |                     AND (nt - t) // 1000000 <= 600) AS matched
        |           FROM l GROUP BY user_id) m ON e.user_id = m.user_id""".stripMargin)

  // ---- 2.7 sequence_next_node backward/tail ---------------------------
  val q17 = Contract("q17_next_node_backward", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q17_next_node_backward", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "tail", col("ts"),
          col("event_type"),
          col("event_type") === "purchase",
          col("event_type") === "purchase").as("prev_node"))
    },
    oracleSql = """WITH o AS (SELECT user_id, ts,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |a AS (SELECT user_id, max(ts) AS t0 FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT u.user_id, o.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin)

  // ---- 2.3 remaining funnel modes (rows-only checks) ------------------
  val q25 = Contract("q25_funnel_modes", run = { (s, dir) =>
      val ev = events(s, dir)
      def f(mode: String) = BehavioralFunctions.window_funnel(
        expr("INTERVAL '1' HOUR"), mode, col("ts"),
        viewClickPurchase: _*)
      ev.groupBy(col("user_id"))
        .agg(f("strict").as("strict"),
          f("strict_once").as("strict_once"),
          f("timestamp_dedup").as("ts_dedup"),
          f("strict_increase").as("strict_inc"),
          f("allow_reentry").as("reentry"),
          f("strict_increase, strict_once").as("combined"))
    },
    // q25_funnel_modes: all six columns are oracle-expressible on THIS data —
    // with disjoint conditions and tie-free timestamps, strict_once /
    // timestamp_dedup / strict_increase / the combined mask all coincide
    // with the default cascade (their distinguishing rules are no-ops here;
    // the distinguishing behavior itself is oracled by q33/q37/q32 and
    // golden+differential tested), `strict` gets its break-cascade, and
    // allow_reentry the recursive walk.
    oracleSql = """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
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
        .replace("__REENTRY_WALK__", reentryWalkCte))

  // ---- 2.7 next-node forward/tail ------------------------------------
  val q26 = Contract("q26_next_node_fwd_tail", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q26_next_node_fwd_tail", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "tail", col("ts"),
          col("event_type"),
          col("event_type") === "signup",
          col("event_type") === "signup").as("next_node"))
    },
    oracleSql = """WITH o AS (SELECT user_id, ts,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |a AS (SELECT user_id, max(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT u.user_id, o.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin)

  // ---- 2.7 next-node backward/head ------------------------------------
  val q27 = Contract("q27_next_node_bwd_head", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q27_next_node_bwd_head", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "head", col("ts"),
          col("event_type"),
          col("event_type") === "purchase",
          col("event_type") === "purchase").as("prev_node"))
    },
    oracleSql = """WITH o AS (SELECT user_id, ts,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |a AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT u.user_id, o.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN a ON a.user_id = u.user_id
        |LEFT JOIN o ON o.user_id = u.user_id AND o.ts = a.t0""".stripMargin)

  // ---- 2.3 funnel mode strict_increase (disjoint conds: the mode's
  // skip-on-equal-ts rule is a no-op on tie-free data, so the default-mode
  // min-ts cascade is a valid oracle for THIS data; the distinguishing
  // same-ts behavior is golden-tested) ---------------------------------
  val q32 = Contract("q32_funnel_strict_increase", run = funnelIn("strict_increase"),
    // strict_increase ≡ default mode on tie-free timestamps with disjoint
    // conditions (the mode only skips same-ts advances) → q03's cascade.
    oracleSql = q03.oracleSql)

  // ---- 2.3 funnel mode strict_once with OVERLAPPING conditions: an
  // event matching both cond2 and cond3 may advance only ONE step, which
  // distinguishes strict_once from default multi-advance on this data ---
  val q33 = Contract("q33_funnel_strict_once", run = { (s, dir) =>
      val ev = events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"), "strict_once", col("ts"),
          col("event_type").isin("view", "click"),
          col("event_type").isin("click", "purchase"),
          col("event_type") === "purchase").as("steps"))
    },
    // strict_once with overlapping conds: one event advances at most one
    // step, so step 2 is the first click-or-purchase after the entry and
    // step 3 needs a purchase STRICTLY after that event (default mode would
    // let a single purchase jump both steps — the oracle distinguishes).
    oracleSql = """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
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
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin)

  // ---- 2.3 funnel mode strict: a re-fire of the just-completed
  // condition breaks the chain ------------------------------------------
  val q34 = Contract("q34_funnel_strict", run = funnelIn("strict"),
    // strict: only a re-fire of the JUST-completed condition breaks (views
    // between click and purchase are harmless, unlike strict_order).
    oracleSql = """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
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
        |FROM u LEFT JOIN s ON u.user_id = s.user_id""".stripMargin)

  // ---- 2.7 next-node forward/first_match ------------------------------
  val q35 = Contract("q35_next_node_fwd_first", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q35_next_node_fwd_first", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "first_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("next_node"))
    },
    // forward/first_match, single step: the first click (ascending ts) that
    // has a successor event; the answer is that successor's type.
    oracleSql = """WITH o AS (SELECT user_id, ts, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |m AS (SELECT user_id, nxt,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |      FROM o WHERE event_type = 'click' AND nxt IS NOT NULL)
        |SELECT u.user_id, m.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin)

  // ---- 2.7 next-node backward/last_match ------------------------------
  val q36 = Contract("q36_next_node_bwd_last", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q36_next_node_bwd_last", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "last_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("prev_node"))
    },
    // backward/last_match: the right-to-left scan's LAST successful base is
    // the first click (ascending ts) that has a predecessor event.
    oracleSql = """WITH o AS (SELECT user_id, ts, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |m AS (SELECT user_id, prv,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |      FROM o WHERE event_type = 'click' AND prv IS NOT NULL)
        |SELECT u.user_id, m.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin)

  // ---- 2.3 funnel mode timestamp_dedup (tie-free data: the same-ts
  // advance skip is a no-op, so the default cascade is a valid oracle for
  // THIS data; the same-ts behavior itself is golden-tested) ------------
  val q37 = Contract("q37_funnel_ts_dedup", run = funnelIn("timestamp_dedup"),
    // timestamp_dedup ≡ default on tie-free timestamps (the mode only skips
    // same-ts advances; events.parquet has no (user, ts) duplicates).
    oracleSql = q03.oracleSql)

  // ---- 2.3 funnel mode allow_reentry: a mid-chain entry event resets
  // the scan to step 1 (the final step of the walk is the per-entry
  // result, NOT the max reached — forgetting pre-reset progress is the
  // reference behavior). Oracle: recursive-CTE walk of the same state
  // machine. --------------------------------------------------------
  val q38 = Contract("q38_funnel_reentry", run = funnelIn("allow_reentry"),
    oracleSql = """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |entries AS (SELECT user_id, t AS t1 FROM e WHERE event_type = 'view'),
        |__REENTRY_WALK__,
        |fin AS (SELECT user_id, max(step) AS steps FROM walk WHERE done GROUP BY user_id)
        |SELECT u.user_id, CAST(coalesce(fin.steps, 0) AS INTEGER) AS steps
        |FROM u LEFT JOIN fin ON u.user_id = fin.user_id""".stripMargin
        .replace("__REENTRY_WALK__", reentryWalkCte))

  // ---- 2.7 next-node forward/last_match (8/8 combo coverage) ----------
  val q39 = Contract("q39_next_node_fwd_last", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q39_next_node_fwd_last", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("forward", "last_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("next_node"))
    },
    // forward/last_match: the LAST click (ascending ts) that has a
    // successor — the walk keeps overwriting the answer as it scans bases
    // in direction order, so the final non-null successor wins.
    oracleSql = """WITH o AS (SELECT user_id, ts, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |           FROM events),
        |m AS (SELECT user_id, nxt,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |      FROM o WHERE event_type = 'click' AND nxt IS NOT NULL)
        |SELECT u.user_id, m.nxt AS next_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin)

  // ---- 2.7 next-node backward/first_match -----------------------------
  val q40 = Contract("q40_next_node_bwd_first", run = { (s, dir) =>
      val ev = assertTieFreePerUserTs(events(s, dir), "q40_next_node_bwd_first", dir)
      ev.groupBy(col("user_id"))
        .agg(BehavioralFunctions.sequence_next_node("backward", "first_match", col("ts"),
          col("event_type"),
          col("event_type") === "click",
          col("event_type") === "click").as("prev_node"))
    },
    // backward/first_match: the scan order follows the direction, so the
    // FIRST success is the latest click (descending ts) with a predecessor.
    oracleSql = """WITH o AS (SELECT user_id, ts, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prv
        |           FROM events),
        |m AS (SELECT user_id, prv,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |      FROM o WHERE event_type = 'click' AND prv IS NOT NULL)
        |SELECT u.user_id, m.prv AS prev_node
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN m ON u.user_id = m.user_id AND m.rn = 1""".stripMargin)

  // ---- registered SQL surface, exercised as SQL TEXT ------------------
  // the other behavioral queries go through the Column API; this one
  // pins the spark.sql(...) string path end-to-end — FunctionRegistry
  // name resolution, INTERVAL literal coercion, varargs — the layer the
  // reference's own LESSONS.md calls out as breakable while every unit
  // test stays green
  val q42 = Contract("q42_sql_surface", run = { (s, dir) =>
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
    // the funnel cascade is q03's, the wildcard match q04's, the count
    // q06's — one combined result so the SQL-text path hash-checks against
    // the same semantics the Column API queries pin individually
    oracleSql = """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
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
        |LEFT JOIN sc ON u.user_id = sc.user_id""".stripMargin)

  // ---- 2.8 time comparator (?t>N) --------------------------------------
  // hour-of-day conds (pure epoch arithmetic — timezone-free on both
  // engines) thin the stream so the single view->click adjacency per
  // user makes the strict-greater comparison observable: gaps at
  // exactly/below 500000 s flip users to false
  val q59 = Contract("q59_seq_match_time_gt", run = hourThinnedMatch("(?1)(?t>500000)(?2)"),
    oracleSql = seqMatchTimeOracle("> 500000"))

  // ---- 2.8 time comparator (?t!=N) -------------------------------------
  // N = 2901 is the exact gap of one user's ONLY qualifying adjacency in
  // the sf0.01 data, so != genuinely excludes a user that the
  // unconstrained pattern matches (a mutant ignoring the comparator
  // hash-mismatches)
  val q60 = Contract("q60_seq_match_time_ne", run = hourThinnedMatch("(?1)(?t!=2901)(?2)"),
    oracleSql = seqMatchTimeOracle("<> 2901"))

  // ---- 2.8 time comparator (?t==N) -------------------------------------
  // same N as q60: exactly one user's single adjacency has this gap, so
  // == is true for precisely that user
  val q61 = Contract("q61_seq_match_time_eq", run = hourThinnedMatch("(?1)(?t==2901)(?2)"),
    oracleSql = seqMatchTimeOracle("= 2901"))

  // ---- 2.8 time comparator (?t<N) --------------------------------------
  val q62 = Contract("q62_seq_match_time_lt", run = hourThinnedMatch("(?1)(?t<500000)(?2)"),
    oracleSql = seqMatchTimeOracle("< 500000"))

  // ---- 2.8 time comparator (?t>=N) -------------------------------------
  // N = 609075 is one user's exact gap: >= keeps that user, > would not,
  // so the boundary itself is under the hash gate
  val q63 = Contract("q63_seq_match_time_ge", run = hourThinnedMatch("(?1)(?t>=609075)(?2)"),
    oracleSql = seqMatchTimeOracle(">= 609075"))

  val all: Seq[Contract] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q15, q16, q17, q25,
    q26, q27, q32, q33, q34, q35, q36, q37, q38, q39, q40, q42, q59, q60, q61, q62, q63)
}
