package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.ops.RollupStore

/** `RollupStore.regrain`: rewrite a state store at a coarser grain as a
  * MAINTENANCE op (q115/q116 proved the combine twins re-grain per
  * query; this promotes it to the store itself). Pins: for every family
  * with a combine twin (funnel / next-node / retention) the re-grained
  * store answers exactly what the day-grain store did — and what the
  * raw scan does; the store's schema flips to the new key set and the
  * re-stamped genesis then refuses old-grain ingest; the crash matrix
  * holds at every step boundary, each crash leaving the genesis absent
  * and re-derivable; ingest ids survive the rewrite. q122 runs the rewrite
  * under q03's DuckDB oracle.
  */
class RegrainSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val M = 60L * 1000000

  private def ev(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("u", "us", "t")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("t"))
  }

  private def conds(df: DataFrame) =
    Seq("a", "b", "c").map(t => df("t") === t)

  private def fresh(name: String): String = {
    val p = graft.sources.Sinks.scratchDir("regrain_spec") + s"/$name"
    graft.sources.Sinks.clearDir(p)
    p
  }

  private lazy val all: DataFrame = {
    val rnd = new scala.util.Random(3141592)
    val types = Array("a", "b", "c", "x")
    ev(Seq.fill(600)((rnd.nextInt(10).toLong,
      rnd.nextInt(30000).toLong * M, types(rnd.nextInt(types.length))))
      .distinct: _*)
  }

  /** Build a day-grain store from three hash-cut slices. */
  private def buildDayStore(base: String,
      states: DataFrame => DataFrame): Unit =
    for (i <- 0 until 3)
      RollupStore.appendStates(
        states(all.filter(pmod(xxhash64(col("ts")), lit(3)) === i)),
        base, Seq("u", "day"), ingestId = Some(s"build/$i"))

  test("funnel: the re-grained (weekly) store answers like the day store and the raw scan") {
    val base = fresh("funnel")
    buildDayStore(base, df => df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"), conds(df): _*).as("state")))
    def answer(modeWindow: (String, String)) =
      RollupStore.read(spark, base).groupBy("u")
        .agg(BehavioralFunctions.funnel_merge(expr(modeWindow._2),
          modeWindow._1, col("state")).as("steps"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val variants = Seq("default" -> "INTERVAL '1' HOUR",
      "strict_deduplication" -> "INTERVAL '2' HOUR",
      "strict_order" -> "INTERVAL '1' DAY")
    val before = variants.map(answer)

    val n = RollupStore.regrain(spark, base, Seq("u", "day"), "day",
      weekofyear(col("day")), "week",
      BehavioralFunctions.funnel_state_combine, targetPartitions = 2)
    // one row per (u, week), one live batch
    assert(n === RollupStore.read(spark, base).count())
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    assert(RollupStore.read(spark, base).columns.sorted ===
      Array("state", "u", "week"))
    // the rewrite is answer-invariant for EVERY merge-time variant — the
    // merged event multiset per user never changed
    assert(variants.map(answer) === before)
    // and both equal the raw scan
    val raw = all.groupBy("u")
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"),
        col("ts"), conds(all): _*).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(answer(variants.head) === raw)

    // the store's key set flipped: day-grain ingest is now refused by the
    // re-stamped genesis, week-grain ingest lands
    val e = intercept[IllegalArgumentException] {
      RollupStore.appendStates(
        all.limit(10).groupBy(col("u"), to_date(col("ts")).as("day"))
          .agg(BehavioralFunctions.funnel_state(col("ts"),
            conds(all): _*).as("state")),
        base, Seq("u", "day"))
    }
    assert(e.getMessage.contains("schema"))
    RollupStore.appendStates(
      all.limit(10).groupBy(col("u"),
          weekofyear(to_date(col("ts"))).as("week"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          conds(all): _*).as("state")),
      base, Seq("u", "week"))
    assert(RollupStore.liveBatchCount(spark, base) === 2)

    // ingest ids survived the rewrite: the build slices still replay as
    // no-ops against the week-grain store
    assert(RollupStore.appendStates(
      all.limit(5).groupBy(col("u"),
          weekofyear(to_date(col("ts"))).as("week"))
        .agg(BehavioralFunctions.funnel_state(col("ts"),
          conds(all): _*).as("state")),
      base, Seq("u", "week"), ingestId = Some("build/1")) === 0L)
  }

  test("retention: BIGINT states re-grain with the OR combine") {
    val base = fresh("retention")
    val cs = conds(all)
    buildDayStore(base, df => df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.retention_state(conds(df): _*).as("state")))
    val raw = all.groupBy("u")
      .agg(BehavioralFunctions.retention(cs: _*).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Boolean](1)).toMap
    RollupStore.regrain(spark, base, Seq("u", "day"), "day",
      weekofyear(col("day")), "week",
      BehavioralFunctions.retention_state_combine, targetPartitions = 2)
    val got = RollupStore.read(spark, base).groupBy("u")
      .agg(BehavioralFunctions.retention_merge(col("state"), 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Boolean](1)).toMap
    assert(got === raw)
  }

  test("next-node: dictionary-pooled states re-grain and answer all 8 merge combos") {
    val base = fresh("nextnode")
    // tie-free per (u, ts) so next-node answers are deterministic
    val rnd = new scala.util.Random(1618033)
    val types = Array("a", "b", "c", "x")
    val nn = ev(Seq.fill(400)((rnd.nextInt(8).toLong,
        rnd.nextInt(20000).toLong * M, types(rnd.nextInt(types.length))))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq: _*)
    nn.cache().count()
    try {
      for (i <- 0 until 3)
        RollupStore.appendStates(
          nn.filter(pmod(xxhash64(col("ts")), lit(3)) === i)
            .groupBy(col("u"), to_date(col("ts")).as("day"))
            .agg(BehavioralFunctions.next_node_state(col("ts"), col("t"),
              nn("t") === "a", nn("t") === "a", nn("t") === "b").as("state")),
          base, Seq("u", "day"))
      RollupStore.regrain(spark, base, Seq("u", "day"), "day",
        weekofyear(col("day")), "week",
        BehavioralFunctions.next_node_state_combine, targetPartitions = 2)
      assert(RollupStore.liveBatchCount(spark, base) === 1)
      for (dir <- Seq("forward", "backward");
           b <- Seq("head", "tail", "first_match", "last_match")) {
        val raw = nn.groupBy("u")
          .agg(BehavioralFunctions.sequence_next_node(dir, b, col("ts"),
            col("t"), nn("t") === "a", nn("t") === "a", nn("t") === "b").as("v"))
          .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        val got = RollupStore.read(spark, base).groupBy("u")
          .agg(BehavioralFunctions.next_node_merge(dir, b, col("state")).as("v"))
          .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        assert(got === raw, s"re-grained store diverges for ($dir, $b)")
      }
    } finally nn.unpersist()
  }

  test("a crash at every regrain step boundary loses nothing and double-serves nothing") {
    def dayStates(df: DataFrame) =
      df.groupBy(col("u"), to_date(col("ts")).as("day"))
        .agg(BehavioralFunctions.funnel_state(col("ts"), conds(df): _*).as("state"))
    def answer(base: String) =
      RollupStore.read(spark, base).groupBy("u")
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = all.groupBy("u")
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"),
        col("ts"), conds(all): _*).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (failAt <- Seq("recovered", "written", "committed")) {
      val base = fresh(s"crash_$failAt")
      buildDayStore(base, dayStates)
      intercept[RuntimeException] {
        RollupStore.regrain(spark, base, Seq("u", "day"), "day",
          weekofyear(col("day")), "week",
          BehavioralFunctions.funnel_state_combine, "state", 2,
          (step: String) => if (step == failAt) sys.error("injected crash"),
          graft.sources.Sinks.DefaultLeaseStaleMs, 0L)
      }
      // reads stay exact through the crash window
      assert(answer(base) === expected, s"crash at '$failAt' changed answers")
      if (failAt == "committed") {
        // the rewrite IS committed, but the crash landed BEFORE the
        // manifest rewrite: a fresh read serves the previous (day)
        // snapshot through the stale manifest — consistent staleness,
        // same answer, never torn. The next maintenance op heals the
        // manifest first thing after its recover() (which also sweeps
        // the dead day dirs), after which reads serve the week store
        assert(RollupStore.read(spark, base).columns.contains("day"))
        RollupStore.compact(spark, base, Seq("u", "week"),
          BehavioralFunctions.funnel_state_combine, targetPartitions = 2)
        assert(RollupStore.read(spark, base).columns.contains("week"))
      } else {
        // the rewrite never happened: the day store is intact; re-running
        // it completes
        assert(RollupStore.read(spark, base).columns.contains("day"))
        RollupStore.regrain(spark, base, Seq("u", "day"), "day",
          weekofyear(col("day")), "week",
          BehavioralFunctions.funnel_state_combine, targetPartitions = 2)
      }
      assert(RollupStore.liveBatchCount(spark, base) === 1)
      assert(answer(base) === expected)
    }
  }

  test("regrain guards: grain must be a key, the new name must not collide") {
    val base = fresh("guards")
    buildDayStore(base, df => df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"), conds(df): _*).as("state")))
    intercept[IllegalArgumentException] {
      RollupStore.regrain(spark, base, Seq("u", "day"), "week",
        weekofyear(col("day")), "week",
        BehavioralFunctions.funnel_state_combine)
    }
    intercept[IllegalArgumentException] {
      RollupStore.regrain(spark, base, Seq("u", "day"), "day",
        weekofyear(col("day")), "u",
        BehavioralFunctions.funnel_state_combine)
    }
    intercept[IllegalArgumentException] {
      RollupStore.regrain(spark, base, Seq("u", "day"), "day",
        weekofyear(col("day")), "state",
        BehavioralFunctions.funnel_state_combine)
    }
    // keeping the SAME column name at a coarser grain is legal (an
    // in-name re-grain): day -> first day of week, still called "day"
    RollupStore.regrain(spark, base, Seq("u", "day"), "day",
      date_trunc("week", col("day")).cast("date"), "day",
      BehavioralFunctions.funnel_state_combine, targetPartitions = 2)
    assert(RollupStore.read(spark, base).columns.sorted ===
      Array("day", "state", "u"))
  }

  private def funnelStates(df: DataFrame, grain: Column, name: String) =
    df.groupBy(col("u"), grain.as(name))
      .agg(BehavioralFunctions.funnel_state(col("ts"), conds(df): _*).as("state"))

  private def dayOf(df: DataFrame) = funnelStates(df, to_date(col("ts")), "day")

  private def weekOf(df: DataFrame) =
    funnelStates(df, weekofyear(to_date(col("ts"))), "week")

  private def rawFunnel(df: DataFrame) =
    df.groupBy("u")
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"),
        col("ts"), conds(df): _*).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def storeFunnel(base: String) =
    RollupStore.read(spark, base).groupBy("u")
      .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
        col("state")).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def weekly(base: String, onStep: String => Unit): Long =
    RollupStore.regrain(spark, base, Seq("u", "day"), "day",
      weekofyear(col("day")), "week",
      BehavioralFunctions.funnel_state_combine, "state", 2, onStep,
      graft.sources.Sinks.DefaultLeaseStaleMs, 0L)

  private def genesisOf(base: String) = new org.apache.hadoop.fs.Path(
    new org.apache.hadoop.fs.Path(base), RollupStore.GenesisFile)

  private lazy val fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("a crash at every genesis seam leaves the genesis absent: the next ingest re-derives the family of the newest commit") {
    val extra = ev((99L, 0L, "a"), (99L, 10 * M, "b"))
    val expected = rawFunnel(all.union(extra))
    // before the commit the store is still the day store; from the
    // commit on it is the week store
    for ((failAt, committed) <- Seq("genesis-deleted" -> false,
        "written" -> false, "committed" -> true, "restamp" -> true)) {
      val base = fresh(s"genesis_$failAt")
      buildDayStore(base, dayOf)
      assert(fs.exists(genesisOf(base)))
      intercept[RuntimeException] {
        weekly(base, step => if (step == failAt) sys.error("injected crash"))
      }
      assert(!fs.exists(genesisOf(base)),
        s"a crash at '$failAt' left a genesis behind")
      assert(storeFunnel(base) === rawFunnel(all),
        s"a crash at '$failAt' changed answers")
      val (matching, other) =
        if (committed) (weekOf _, dayOf _) else (dayOf _, weekOf _)
      val e = intercept[IllegalArgumentException] {
        RollupStore.appendStates(other(extra), base,
          other(extra).columns.filter(_ != "state").toSeq)
      }
      assert(e.getMessage.contains("genesis"),
        s"the other family after a crash at '$failAt' failed with: $e")
      assert(RollupStore.appendStates(matching(extra), base,
        matching(extra).columns.filter(_ != "state").toSeq) > 0L,
        s"the matching family did not land after a crash at '$failAt'")
      assert(fs.exists(genesisOf(base)))
      assert(storeFunnel(base) === expected,
        s"the store diverged from the raw scan after a crash at '$failAt'")
    }
  }

  test("an append meeting a regrain's absent genesis fails fast on the genesis lease and does not re-stamp it") {
    val extra = ev((99L, 0L, "a"))
    for (seam <- Seq("genesis-deleted", "written")) {
      val base = fresh(s"genesis_lease_$seam")
      buildDayStore(base, dayOf)
      var collided: Option[Throwable] = None
      weekly(base, step => if (step == seam) {
        assert(!fs.exists(genesisOf(base)))
        collided = scala.util.Try(RollupStore.appendStates(
          dayOf(extra), base, Seq("u", "day"))).failed.toOption
        assert(!fs.exists(genesisOf(base)),
          "a concurrent append re-stamped the genesis mid-regrain")
      })
      assert(collided.exists(e => e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("lease")),
        s"a concurrent append at '$seam' did not fail fast: $collided")
      // the regrain finished and stamped the week family
      assert(fs.exists(genesisOf(base)), "the regrain did not re-stamp the genesis")
      assert(storeFunnel(base) === rawFunnel(all))
      intercept[IllegalArgumentException] {
        RollupStore.appendStates(dayOf(extra), base, Seq("u", "day"))
      }
      assert(RollupStore.appendStates(weekOf(extra), base,
        Seq("u", "week")) > 0L)
    }
  }

  test("an append that verified the old family before a regrain committed is refused under its stripe") {
    val base = fresh("genesis_recheck")
    buildDayStore(base, dayOf)
    val extra = ev((99L, 0L, "a"))
    val e = intercept[IllegalArgumentException] {
      RollupStore.appendStates(dayOf(extra), base, Seq("u", "day"), "state",
        None, (step: String) => if (step == "genesis")
          weekly(base, _ => ()),
        graft.sources.Sinks.DefaultLeaseStaleMs, 0L)
    }
    assert(e.getMessage.contains("genesis"))
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    assert(RollupStore.read(spark, base).columns.contains("week"))
    assert(storeFunnel(base) === rawFunnel(all))
  }
}
