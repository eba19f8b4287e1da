package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.behavioral.BehavioralFunctions
import graft.ops.{GenerationalBatches, RollupStore}

/** Round-18 review fixes, pinned: (1) the genesis file carries a
  * completeness terminator and a TORN or PRE-TERMINATOR genesis heals
  * (re-derived from the store's own batches — never bricking ingest,
  * never adopting a mismatched incoming family); (2) an ABSENT or torn
  * manifest is healed by the next op's recover even when that op
  * commits nothing (the janitor), not only by a committing fold; (3)
  * `sweepExpired` clears ROOT garbage — crashed stage dirs, drop
  * tombstones, and stale stripes of since-dropped grains — while
  * leaving fresh (possibly live) foreign artifacts alone.
  */
class StoreHygieneSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val M = 60L * 1000000

  private def ev(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("u", "us", "t")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("t"))
  }

  private def dayStates(df: DataFrame): DataFrame =
    df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"),
        Seq("a", "b", "c").map(t => df("t") === t): _*).as("state"))

  private def fresh(name: String): String = {
    val p = graft.sources.Sinks.scratchDir("store_hygiene_spec") + s"/$name"
    graft.sources.Sinks.clearDir(p)
    p
  }

  private def fsFor(base: String) =
    new Path(base).getFileSystem(spark.sessionState.newHadoopConf())

  private def slice(i: Int): DataFrame =
    ev((0L until 40L).map(u => (u, u * M + i * M, Seq("a", "b", "c")(i))): _*)

  private def ingest(base: String, i: Int): Long =
    RollupStore.appendStatesByGrain(dayStates(slice(i)), base,
      Seq("u", "day"), "day")

  private def genesisText(base: String): String = {
    val fs = fsFor(base)
    val in = fs.open(new Path(base, RollupStore.GenesisFile))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def overwriteGenesis(base: String, text: String): Unit = {
    val fs = fsFor(base)
    val out = fs.create(new Path(base, RollupStore.GenesisFile), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("genesis publishes with a completeness terminator") {
    val base = fresh("genesis_terminator")
    ingest(base, 0)
    val lines = genesisText(base).split("\n", -1).toSeq
    assert(lines.size >= 2 && lines.last == s"e ${lines.size - 1}",
      s"genesis must end with a matching terminator, got: $lines")
  }

  test("a torn genesis heals from the store's own batches, never bricks") {
    val base = fresh("genesis_torn")
    ingest(base, 0)
    val whole = genesisText(base)
    overwriteGenesis(base, whole.substring(0, whole.length / 2))
    // same-family ingest proceeds (re-derivation, not a brick) …
    assert(ingest(base, 1) > 0)
    // … the file is complete again …
    val lines = genesisText(base).split("\n", -1).toSeq
    assert(lines.last == s"e ${lines.size - 1}")
    assert(genesisText(base) == whole, "healed genesis must equal the original")
    // … and the gate still refuses a wrong family afterwards
    val wrong = slice(2)
      .groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.retention_state(
        col("t") === "a", col("t") === "b").as("state"))
    val e = intercept[IllegalArgumentException] {
      RollupStore.appendStatesByGrain(wrong, base, Seq("u", "day"), "day")
    }
    assert(e.getMessage.contains("genesis"))
  }

  test("a pre-terminator genesis (older store) upgrades in place") {
    val base = fresh("genesis_preterm")
    ingest(base, 0)
    val whole = genesisText(base)
    val fp = whole.split("\n", -1).dropRight(1).mkString("\n")
    overwriteGenesis(base, fp) // the pre-terminator on-disk format
    assert(ingest(base, 1) > 0)
    assert(genesisText(base) == whole,
      "upgrade must restore the terminated format with the same family")
  }

  test("an ABSENT manifest heals on a no-commit op (the janitor)") {
    val base = fresh("manifest_absent")
    ingest(base, 0)
    ingest(base, 1)
    val fs = fsFor(base)
    val g = RollupStore.grainValues(spark, base).head
    val gdir = new Path(base, s"day=$g")
    assert(fs.delete(new Path(gdir, GenerationalBatches.Manifest), false))
    assert(GenerationalBatches.readManifest(fs, gdir).isEmpty)
    RollupStore.sweepExpired(spark, base, 10L * 60 * 1000)
    val healed = GenerationalBatches.readManifest(fs, gdir)
    assert(healed.nonEmpty, "the janitor must heal a missing manifest")
    assert(healed.get._1.toSet ==
      GenerationalBatches.liveBatches(fs, gdir).map(_._2.getName).toSet)
  }

  test("stats: live/dead counts, dead bytes, manifest state, per grain") {
    val base = fresh("stats")
    ingest(base, 0)
    ingest(base, 1)
    val grace = 10L * 60 * 1000
    val weeks = RollupStore.grainValues(spark, base)
    RollupStore.compactGrains(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine,
      grains = _ == weeks.head, cleanupDelayMs = grace)
    def byGrain = RollupStore.stats(spark, base).collect()
      .map(r => r.getAs[String]("grain") -> r).toMap
    val s0 = byGrain
    val folded = s0(weeks.head)
    assert(folded.getAs[Int]("live_batches") == 1 &&
      folded.getAs[Int]("dead_dirs") == 2 &&
      folded.getAs[Long]("dead_bytes") > 0 &&
      folded.getAs[String]("manifest") == "ok",
      s"folded grain stats wrong: $folded")
    weeks.tail.foreach { g =>
      assert(s0(g).getAs[Int]("live_batches") == 2 &&
        s0(g).getAs[Int]("dead_dirs") == 0 &&
        s0(g).getAs[String]("manifest") == "ok", s"grain $g: ${s0(g)}")
    }
    // an absent manifest is reported, not healed (stats is read-only)
    val fs = fsFor(base)
    val gdir = new Path(base, s"day=${weeks.head}")
    fs.delete(new Path(gdir, GenerationalBatches.Manifest), false)
    assert(byGrain(weeks.head).getAs[String]("manifest") == "absent")
    assert(GenerationalBatches.readManifest(fs, gdir).isEmpty,
      "stats must not mutate the store")
    // after the janitor: dead bytes reclaimed, manifest healed
    RollupStore.sweepExpired(spark, base, 0L)
    val s1 = byGrain
    assert(s1(weeks.head).getAs[Int]("dead_dirs") == 0 &&
      s1(weeks.head).getAs[Long]("dead_bytes") == 0L &&
      s1(weeks.head).getAs[String]("manifest") == "ok",
      s"post-sweep stats wrong: ${s1(weeks.head)}")
    // flat store: one row for its fixed grain + the store-level root row
    val flat = fresh("stats_flat")
    RollupStore.appendStates(dayStates(slice(0)), flat, Seq("u", "day"))
    val rows = RollupStore.stats(spark, flat).collect()
      .map(r => r.getAs[String]("grain") -> r).toMap
    assert(rows.size == 2 && rows.contains(RollupStore.FlatGrain) &&
      rows.contains(RollupStore.StatsRootGrain))
    assert(rows(RollupStore.FlatGrain).getAs[Int]("live_batches") == 1 &&
      rows(RollupStore.FlatGrain).getAs[String]("manifest") == "ok")
  }

  test("stats' root row inventories crashed stage bytes; sweepIfWorthIt gates the janitor on them") {
    val base = fresh("stats_root")
    ingest(base, 0)
    val fs = fsFor(base)
    // a crashed fold's stage dir holding real bytes — the largest
    // dead-byte class, invisible to the per-grain rows (ADVICE r18)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    val crashed = new Path(base, ".compact-crashed")
    fs.mkdirs(crashed)
    val out = fs.create(new Path(crashed, "part-0.parquet"), true)
    try out.write(Array.fill[Byte](4096)(7)) finally out.close()
    fs.setTimes(crashed, old, old)
    def rootRow = RollupStore.stats(spark, base).collect()
      .find(_.getAs[String]("grain") == RollupStore.StatsRootGrain).get
    val r0 = rootRow
    assert(r0.getAs[Int]("dead_dirs") == 1 &&
      r0.getAs[Long]("dead_bytes") >= 4096L &&
      r0.getAs[String]("manifest") == "root", s"root row wrong: $r0")
    // below threshold: the janitor SKIPS (the stage dir survives) …
    assert(RollupStore.sweepIfWorthIt(spark, base, 0L,
      minDeadBytes = 1L << 20) == 0)
    assert(fs.exists(crashed), "a skipped sweep must not delete anything")
    // … at-or-below the inventory: it sweeps, and the root row zeroes
    RollupStore.sweepIfWorthIt(spark, base, 0L, minDeadBytes = 4096L)
    assert(!fs.exists(crashed), "the gated sweep must clear stale stages")
    val r1 = rootRow
    assert(r1.getAs[Int]("dead_dirs") == 0 &&
      r1.getAs[Long]("dead_bytes") == 0L, s"post-sweep root row: $r1")
  }

  test("a LIVE op's young stage bytes never escalate the janitor's cadence (ADVICE r19)") {
    val base = fresh("young_stage")
    ingest(base, 0)
    val fs = fsFor(base)
    val staleMs = 60L * 60 * 1000
    // a long-running ingest's YOUNG stage holding real bytes: the
    // dashboard reports it, but the janitor's cadence must not count it
    // — the sweep defers young entries, so escalating on them makes
    // every scheduled pass a full sweep that reclaims nothing, exactly
    // while the store is busiest
    val young = new Path(base, ".ingest-live-big")
    fs.mkdirs(young)
    val out = fs.create(new Path(young, "part-0.parquet"), true)
    try out.write(Array.fill[Byte](8192)(3)) finally out.close()
    val rootRow = RollupStore.stats(spark, base).collect()
      .find(_.getAs[String]("grain") == RollupStore.StatsRootGrain).get
    assert(rootRow.getAs[Long]("dead_bytes") >= 8192L,
      "the DASHBOARD still inventories a young stage (it judges nothing)")
    assert(RollupStore.sweepIfWorthIt(spark, base, 0L,
      minDeadBytes = 4096L, leaseStaleMs = staleMs) == 0,
      "the janitor must skip when the only dead bytes are a live op's young stage")
    assert(fs.exists(young), "a skipped pass must not touch the stage")
    // once the stage outlives the lease horizon it IS reclaimable — the
    // same bytes now escalate the pass and the sweep clears them
    val old = System.currentTimeMillis() - 2 * staleMs
    fs.setTimes(young, old, old)
    RollupStore.sweepIfWorthIt(spark, base, 0L,
      minDeadBytes = 4096L, leaseStaleMs = staleMs)
    assert(!fs.exists(young),
      "an outlived stage must escalate the cadence and be swept")
  }

  test("sweepExpired clears stale root garbage, spares fresh artifacts") {
    val base = fresh("root_garbage")
    ingest(base, 0)
    val fs = fsFor(base)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    // stale crashed artifacts: stage dirs of both kinds and a tombstone
    val staleDirs = Seq(".ingest-crashed", ".compact-crashed",
      ".dropped-crashed").map(n => new Path(base, n))
    staleDirs.foreach { p => fs.mkdirs(p); fs.setTimes(p, old, old) }
    // a stale stripe of a grain that no longer exists (dropped long ago)
    val orphan = new Path(base,
      "_WRITER_LEASE.g-" + "2099-01-01".getBytes("UTF-8")
        .map(b => f"${b & 0xff}%02X").mkString)
    val out = fs.create(orphan, true)
    try out.write(
      s"pid=999999999\nhost=nowhere\nstart_ms=$old\ntoken=x\n"
        .getBytes("UTF-8"))
    finally out.close()
    // fresh foreign artifacts: a live op's stripe and its young stage
    val freshStripe = new Path(base,
      "_WRITER_LEASE.g-" + "2099-01-02".getBytes("UTF-8")
        .map(b => f"${b & 0xff}%02X").mkString)
    val out2 = fs.create(freshStripe, true)
    try out2.write((s"pid=${ProcessHandle.current().pid()}\n" +
      s"host=${java.net.InetAddress.getLocalHost.getHostName}\n" +
      s"start_ms=${System.currentTimeMillis()}\ntoken=y\n")
      .getBytes("UTF-8"))
    finally out2.close()
    val freshStage = new Path(base, ".ingest-live")
    fs.mkdirs(freshStage)

    RollupStore.sweepExpired(spark, base, 10L * 60 * 1000)

    staleDirs.foreach(p =>
      assert(!fs.exists(p), s"stale root garbage $p must be swept"))
    assert(!fs.exists(orphan), "a stale orphan stripe must be collected")
    assert(fs.exists(freshStripe), "a fresh foreign stripe must survive")
    assert(fs.exists(freshStage),
      "a young stage dir guarded by a fresh stripe must survive")
    // the store still answers
    assert(RollupStore.readGrains(spark, base).count() > 0)
  }
}
