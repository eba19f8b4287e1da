package graft.behavioral

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}

/** Registration + typed Column API for the behavioral function family.
  *
  * SQL:  `BehavioralFunctions.register(spark)` then
  *       `SELECT user_id, window_funnel(INTERVAL '1' HOUR, ts, a, b, c) FROM t GROUP BY 1`
  * DataFrame: `df.groupBy($"u").agg(window_funnel(lit(...), $"ts", $"a", $"b"))`
  *
  * Registration mirrors the reference's one-call extension load
  * (`src/ffi/mod.rs:64-84`) — but Spark function builders are natively
  * variadic, so the reference's 31-overloads-per-arity workaround
  * (`docs/src/internals/architecture.md:68-77`) is unnecessary.
  */
object BehavioralFunctions {

  private def agg(a: AggregateFunction): Column =
    ExpressionUtils.column(a.toAggregateExpression())

  private def e(c: Column): Expression = ExpressionUtils.expression(c)

  // ---- DataFrame/Column API --------------------------------------------

  /** Window function: use `.over(Window.partitionBy(...).orderBy(ts))`.
    * Requires `register(spark)` first (like the reference's `LOAD behavioral`):
    * a directly-embedded WindowFunction expression trips Spark 4's
    * WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE check in the Column API path, so we
    * resolve through the FunctionRegistry exactly as the SQL path does. */
  def sessionize(ts: Column, gap: Column): Column =
    ExpressionUtils.fn("sessionize", ts, gap)

  def retention(conds: Column*): Column =
    agg(RetentionAgg(conds.map(e)))

  /** Mergeable retention partial (BIGINT) for pre-aggregated rollups; fold
    * with [[retention_merge]] — see RetentionStateAgg's scaladoc. */
  def retention_state(conds: Column*): Column =
    agg(RetentionStateAgg(conds.map(e)))

  /** Fold [[retention_state]] partials into `retention`'s ARRAY<BOOLEAN>;
    * `nConds` is the condition count the states were built with. */
  def retention_merge(state: Column, nConds: Int): Column =
    agg(RetentionMergeAgg(Seq(e(state),
      org.apache.spark.sql.catalyst.expressions.Literal(nConds))))

  /** State-to-state fold of [[retention_state]] partials (BIGINT ->
    * BIGINT): re-grain a rollup or compact a RollupStore state table —
    * the retention member of the combine family. */
  def retention_state_combine(state: Column): Column =
    agg(RetentionStateCombineAgg(Seq(e(state))))

  /** Mergeable funnel partial (BINARY: the serialized condition-filtered
    * event buffer) for pre-aggregated rollups; fold with [[funnel_merge]],
    * which is where window and mode go — see FunnelStateAgg's scaladoc
    * for the size trade vs retention's 8-byte partial. */
  def funnel_state(ts: Column, conds: Column*): Column =
    agg(FunnelStateAgg(e(ts) +: conds.map(e)))

  /** STATE-TO-STATE fold of [[funnel_state]] partials (BINARY -> BINARY):
    * re-grain a rollup (day -> week) or compact an incrementally-ingested
    * state table, all without rescanning the raw log — see
    * FunnelStateCombineAgg's scaladoc for the associativity argument. */
  def funnel_state_combine(state: Column): Column =
    agg(FunnelStateCombineAgg(Seq(e(state))))

  /** Fold [[funnel_state]] partials into `window_funnel`'s INT answer. */
  def funnel_merge(window: Column, state: Column): Column =
    agg(FunnelMergeAgg(Seq(e(window), e(state))))

  def funnel_merge(window: Column, mode: String, state: Column): Column =
    agg(FunnelMergeAgg(Seq(e(window), strLit(mode), e(state))))

  def window_funnel(window: Column, ts: Column, conds: Column*): Column =
    agg(WindowFunnelAgg(e(window) +: e(ts) +: conds.map(e)))

  def window_funnel(window: Column, mode: String, ts: Column, conds: Column*): Column =
    agg(WindowFunnelAgg(e(window) +:
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(mode),
        org.apache.spark.sql.types.StringType) +: e(ts) +: conds.map(e)))

  /** `sequence_match` over merged [[funnel_state]] partials — the ONE
    * state table serves the sequence family too (pattern at merge time). */
  def sequence_match_merge(pattern: String, state: Column): Column =
    agg(SequenceMatchMergeAgg(Seq(strLit(pattern), e(state))))

  def sequence_count_merge(pattern: String, state: Column): Column =
    agg(SequenceCountMergeAgg(Seq(strLit(pattern), e(state))))

  def sequence_match_events_merge(pattern: String, state: Column): Column =
    agg(SequenceMatchEventsMergeAgg(Seq(strLit(pattern), e(state))))

  def sequence_match(pattern: String, ts: Column, conds: Column*): Column =
    agg(SequenceMatchAgg(strLit(pattern) +: e(ts) +: conds.map(e)))

  def sequence_count(pattern: String, ts: Column, conds: Column*): Column =
    agg(SequenceCountAgg(strLit(pattern) +: e(ts) +: conds.map(e)))

  def sequence_match_events(pattern: String, ts: Column, conds: Column*): Column =
    agg(SequenceMatchEventsAgg(strLit(pattern) +: e(ts) +: conds.map(e)))

  def sequence_next_node(direction: String, base: String, ts: Column, value: Column,
      baseCond: Column, stepConds: Column*): Column =
    agg(SequenceNextNodeAgg(strLit(direction) +: strLit(base) +: e(ts) +: e(value) +:
      e(baseCond) +: stepConds.map(e)))

  /** Mergeable `sequence_next_node` partial (BINARY: the serialized
    * dictionary-encoded event+value buffer) for pre-aggregated rollups;
    * fold with [[next_node_merge]], which is where direction and base go —
    * see NextNodeStateAgg's scaladoc for the size trade (keeps EVERY
    * event, unlike funnel_state). */
  def next_node_state(ts: Column, value: Column, baseCond: Column,
      stepConds: Column*): Column =
    agg(NextNodeStateAgg(e(ts) +: e(value) +: e(baseCond) +: stepConds.map(e)))

  /** Fold [[next_node_state]] partials into `sequence_next_node`'s STRING
    * answer; one state table serves all 8 direction × base variants. */
  def next_node_merge(direction: String, base: String, state: Column): Column =
    agg(NextNodeMergeAgg(Seq(strLit(direction), strLit(base), e(state))))

  /** State-to-state fold of [[next_node_state]] partials, mirroring
    * [[funnel_state_combine]]. */
  def next_node_state_combine(state: Column): Column =
    agg(NextNodeStateCombineAgg(Seq(e(state))))

  private def strLit(s: String): Expression =
    org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)

  // ---- SQL registration -------------------------------------------------

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // bind only the names the session lacks: every contract fixture load
    // calls this, and a rebind replaces the builder and logs a WARN each
    Seq[(String, Seq[Expression] => Expression)](
      "sessionize" -> (exprs => SessionizeWindow(exprs(0), exprs(1))),
      "retention" -> (exprs => RetentionAgg(exprs)),
      "retention_state" -> (exprs => RetentionStateAgg(exprs)),
      "retention_merge" -> (exprs => RetentionMergeAgg(exprs)),
      "window_funnel" -> (exprs => WindowFunnelAgg(exprs)),
      "funnel_state" -> (exprs => FunnelStateAgg(exprs)),
      "funnel_merge" -> (exprs => FunnelMergeAgg(exprs)),
      "sequence_match_merge" -> (exprs => SequenceMatchMergeAgg(exprs)),
      "sequence_count_merge" -> (exprs => SequenceCountMergeAgg(exprs)),
      "sequence_match_events_merge" -> (exprs => SequenceMatchEventsMergeAgg(exprs)),
      "sequence_match" -> (exprs => SequenceMatchAgg(exprs)),
      "sequence_count" -> (exprs => SequenceCountAgg(exprs)),
      "sequence_match_events" -> (exprs => SequenceMatchEventsAgg(exprs)),
      "sequence_next_node" -> (exprs => SequenceNextNodeAgg(exprs)),
      "next_node_state" -> (exprs => NextNodeStateAgg(exprs)),
      "next_node_merge" -> (exprs => NextNodeMergeAgg(exprs)),
      "funnel_state_combine" -> (exprs => FunnelStateCombineAgg(exprs)),
      "next_node_state_combine" -> (exprs => NextNodeStateCombineAgg(exprs)),
      "retention_state_combine" -> (exprs => RetentionStateCombineAgg(exprs))
    ).foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
