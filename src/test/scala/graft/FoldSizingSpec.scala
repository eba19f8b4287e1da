package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.behavioral.BehavioralFunctions
import graft.ops.{GenerationalBatches, RollupStore}
import graft.sources.Sinks

/** AUTO-SIZED fold partitions (`targetPartitions = 0`): a fixed count
  * cannot be right across a store's life — 32 partitions on a
  * year-long backfill fold puts tens of GB in one shuffle partition
  * (spill/OOM/straggler), while 32 on a quiet day's fold writes 32
  * near-empty files. Auto sizes the fold at one partition per
  * `spark.sql.files.maxPartitionBytes` of INPUT bytes (the same knob
  * that sizes scan splits), clamped to [1, 4096]. This spec pins the
  * sizing function exactly, the end-to-end effect on the written file
  * counts at both ends (tiny fold → ONE file; tiny knob → MANY files),
  * answer-exactness under auto, and the door check (negative counts
  * still refused).
  */
class FoldSizingSpec extends AnyFunSuite {
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
    val p = graft.sources.Sinks.scratchDir("fold_sizing_spec") + s"/$name"
    graft.sources.Sinks.clearDir(p)
    p
  }

  private def slices: Seq[DataFrame] = {
    // 120 users × 2 slices across two days — enough rows that a
    // tiny maxPartitionBytes fans the fold out over many partitions
    val a = ev((0L until 120L).flatMap(u =>
      Seq((u, u * M, "a"), (u, u * M + M, "b"))): _*)
    val b = ev((0L until 120L).map(u => (u, u * M + 2 * M, "c")): _*)
    Seq(a, b)
  }

  private def rawAnswer: Map[Long, Int] = {
    val all = slices.reduce(_ unionByName _)
    all.groupBy("u")
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"),
        col("ts"),
        Seq("a", "b", "c").map(t => all("t") === t): _*).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def foldedDataFileCount(base: String): Int = {
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val live = GenerationalBatches.liveBatches(fs,
      RollupStore.flatDir(new Path(base)))
    assert(live.size == 1, s"expected one live batch, got ${live.size}")
    GenerationalBatches.dataFiles(fs, new Path(live.head._2, "states")).size
  }

  test("autoFoldPartitions: one partition per maxPartitionBytes, clamped") {
    val mb128 = 128L * 1024 * 1024
    assert(Sinks.autoFoldPartitions(BigInt(0), mb128) == 1)
    assert(Sinks.autoFoldPartitions(BigInt(1), mb128) == 1)
    assert(Sinks.autoFoldPartitions(BigInt(mb128), mb128) == 1)
    assert(Sinks.autoFoldPartitions(BigInt(mb128) + 1, mb128) == 2)
    assert(Sinks.autoFoldPartitions(BigInt(10) * mb128, mb128) == 10)
    // upper clamp: a 10 PB fold does not ask for 80M partitions
    assert(Sinks.autoFoldPartitions(
      BigInt("11258999068426240"), mb128) == 4096)
    intercept[IllegalArgumentException] {
      Sinks.autoFoldPartitions(BigInt(1), 0L)
    }
  }

  test("flat compact at auto: a tiny fold writes ONE file, answers exact") {
    val base = fresh("flat_auto_small")
    slices.foreach(s =>
      RollupStore.appendStates(dayStates(s), base, Seq("u", "day")))
    RollupStore.compact(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, targetPartitions = 0)
    assert(foldedDataFileCount(base) == 1,
      "a fold far under one maxPartitionBytes must write one file")
    val merged = RollupStore.read(spark, base)
      .groupBy("u")
      .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
        col("state")).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged == rawAnswer)
  }

  test("flat compact at auto: a shrunken byte knob fans the fold out") {
    val base = fresh("flat_auto_wide")
    slices.foreach(s =>
      RollupStore.appendStates(dayStates(s), base, Seq("u", "day")))
    val prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
      RollupStore.compact(spark, base, Seq("u", "day"),
        BehavioralFunctions.funnel_state_combine, targetPartitions = 0)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
    assert(foldedDataFileCount(base) > 1,
      "at 512 bytes per partition a multi-KB fold must fan out")
  }

  test("grained compactGrains at auto: one file per grain, answers exact") {
    val base = fresh("grained_auto")
    slices.foreach(s => RollupStore.appendStatesByGrain(
      dayStates(s), base, Seq("u", "day"), "day"))
    RollupStore.compactGrains(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, targetPartitions = 0)
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    RollupStore.grainValues(spark, base).foreach { g =>
      val gdir = new Path(base, s"day=$g")
      val live = GenerationalBatches.liveBatches(fs, gdir)
      assert(live.size == 1)
      assert(GenerationalBatches.dataFiles(fs,
        new Path(live.head._2, "states")).size == 1,
        s"grain $g: a tiny per-grain fold must write one file")
    }
    val merged = RollupStore.readGrains(spark, base)
      .groupBy("u")
      .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
        col("state")).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged == rawAnswer)
  }

  test("negative targetPartitions is still refused at the door") {
    val base = fresh("door")
    slices.foreach(s =>
      RollupStore.appendStates(dayStates(s), base, Seq("u", "day")))
    val e = intercept[IllegalArgumentException] {
      RollupStore.compact(spark, base, Seq("u", "day"),
        BehavioralFunctions.funnel_state_combine, targetPartitions = -1)
    }
    assert(e.getMessage.contains("targetPartitions"))
    // regrainInto shares the door (it must not silently auto-size)
    val e2 = intercept[IllegalArgumentException] {
      RollupStore.regrainInto(spark, base, base + "_dst", Seq("u", "day"),
        "day", date_trunc("week", col("day")).cast("date"), "week",
        BehavioralFunctions.funnel_state_combine, targetPartitions = -1)
    }
    assert(e2.getMessage.contains("targetPartitions"))
  }
}
