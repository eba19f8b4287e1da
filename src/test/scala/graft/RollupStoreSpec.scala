package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.ops.RollupStore

/** The incremental state-table store (`RollupStore`): ingest appends
  * partial-state rows per (key, grain), compaction folds them back to
  * one row per key with the family's combine twin — and the MERGED
  * answer must equal the raw-scan aggregate at EVERY point of the
  * append/compact/append cycle, because every step is a multiset-union
  * re-arrangement of the same condition events. q118 pins the cycle
  * under the DuckDB hash; this spec pins the machinery: the cycle
  * differential, the crash matrix at every step boundary, the ingest
  * guards (schema, NULL states, empty delta), the snapshot read, and
  * the next-node family over the same store.
  */
class RollupStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val M = 60L * 1000000
  private val D = 24 * 60 * M

  private def ev(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("u", "us", "t")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("t"))
  }

  private def conds(df: DataFrame) =
    Seq("a", "b", "c").map(t => df("t") === t)

  /** Day-grain funnel states for one ingest slice. */
  private def dayStates(df: DataFrame): DataFrame =
    df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"), conds(df): _*).as("state"))

  private def rawAnswer(df: DataFrame): Map[Long, Int] =
    df.groupBy("u")
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"),
        col("ts"), conds(df): _*).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def storeAnswer(base: String): Map[Long, Int] =
    RollupStore.read(spark, base)
      .groupBy("u")
      .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
        col("state")).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def fresh(name: String): String = {
    val p = graft.sources.Sinks.scratchDir("rollup_store_spec") + s"/$name"
    graft.sources.Sinks.clearDir(p)
    p
  }

  private def compactFunnel(base: String,
      onStep: String => Unit = _ => ()): Long =
    RollupStore.compact(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, "state", 2, onStep,
      graft.sources.Sinks.DefaultLeaseStaleMs, 0L)

  test("append/compact/append cycle: the merged answer equals the raw scan at every step") {
    val rnd = new scala.util.Random(577215)
    val types = Array("a", "b", "c", "x")
    val rows = Seq.fill(600)((rnd.nextInt(12).toLong,
      rnd.nextInt(20000).toLong * M / 3, types(rnd.nextInt(types.length)))).distinct
    val all = ev(rows: _*)
    all.cache().count()
    try {
      // three ingest slices cut by hash, NOT by time: every (u, day) key
      // recurs across slices, so compaction genuinely folds multi-row keys
      def slice(i: Int) = all.filter(pmod(xxhash64(col("ts")), lit(3)) === i)
      val base = fresh("cycle")
      val expect1 = rawAnswer(slice(0).union(slice(1)))
      val expectAll = rawAnswer(all)

      RollupStore.appendStates(dayStates(slice(0)), base, Seq("u", "day"))
      RollupStore.appendStates(dayStates(slice(1)), base, Seq("u", "day"))
      assert(RollupStore.liveBatchCount(spark, base) === 2)
      assert(storeAnswer(base) === expect1, "answer before compaction")

      val keys = RollupStore.read(spark, base).select("u", "day").distinct().count()
      val n = compactFunnel(base)
      assert(n === keys, "compaction must yield one row per key")
      assert(RollupStore.liveBatchCount(spark, base) === 1)
      assert(RollupStore.read(spark, base).count() === keys)
      assert(storeAnswer(base) === expect1, "compaction changed the answer")

      RollupStore.appendStates(dayStates(slice(2)), base, Seq("u", "day"))
      assert(RollupStore.liveBatchCount(spark, base) === 2)
      assert(storeAnswer(base) === expectAll, "answer after post-compaction ingest")
      compactFunnel(base)
      assert(RollupStore.liveBatchCount(spark, base) === 1)
      assert(storeAnswer(base) === expectAll, "answer after recompaction")

      // the compacted store still serves every merge-time variant — one
      // table, all windows/modes/patterns
      val strict = RollupStore.read(spark, base).groupBy("u")
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '2' HOUR"),
          "strict", col("state")).as("steps"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val strictRaw = all.groupBy("u")
        .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '2' HOUR"),
          "strict", col("ts"), conds(all): _*).as("steps"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(strict === strictRaw)
    } finally all.unpersist()
  }

  test("a crash at every compaction step boundary loses nothing and double-serves nothing") {
    val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 0L, "a"))
    val b1 = ev((1L, 20 * M, "c"), (2L, D + M, "b"), (3L, 0L, "a"))
    val allRows = Seq((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 0L, "a"),
      (1L, 20 * M, "c"), (2L, D + M, "b"), (3L, 0L, "a"))
    val expected = rawAnswer(ev(allRows: _*))
    for (failAt <- Seq("recovered", "written", "committed")) {
      val base = fresh(s"crash_$failAt")
      RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"))
      RollupStore.appendStates(dayStates(b1), base, Seq("u", "day"))
      val servedBefore = RollupStore.read(spark, base).count()
      intercept[RuntimeException] {
        compactFunnel(base,
          step => if (step == failAt) sys.error(s"injected crash at $failAt"))
      }
      // reads stay exact THROUGH the crash window: same answer AND (except
      // after commit, where the fold is the new truth) the same row count —
      // after "committed" the folded dirs still exist on disk and must not
      // be double-served alongside the compacted batch
      assert(storeAnswer(base) === expected,
        s"crash at '$failAt' changed what readers see")
      if (failAt == "committed")
        assert(RollupStore.read(spark, base).count() <= servedBefore,
          "folded dirs double-served alongside the compacted batch")
      // re-running self-recovers and finishes the fold
      compactFunnel(base)
      assert(RollupStore.liveBatchCount(spark, base) === 1)
      assert(storeAnswer(base) === expected)
      // ingest continues unharmed on the compacted store
      RollupStore.appendStates(
        dayStates(ev((1L, 3 * D, "a"))), base, Seq("u", "day"))
      assert(storeAnswer(base) ===
        rawAnswer(ev(allRows :+ ((1L, 3 * D, "a")): _*)))
    }
  }

  test("a crashed append is invisible and re-running it lands exactly once") {
    val base = fresh("append_crash")
    val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"))
    RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"))
    val st1 = dayStates(ev((1L, 20 * M, "c")))
    intercept[RuntimeException] {
      RollupStore.appendStates(st1, base, Seq("u", "day"), "state", None,
        (step: String) => if (step == "written") sys.error("injected crash"),
        graft.sources.Sinks.DefaultLeaseStaleMs, 0L)
    }
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    assert(storeAnswer(base) === rawAnswer(b0))
    RollupStore.appendStates(st1, base, Seq("u", "day"))
    assert(storeAnswer(base) ===
      rawAnswer(ev((1L, 0L, "a"), (1L, 10 * M, "b"), (1L, 20 * M, "c"))))
  }

  test("ingest guards: wrong columns, non-binary state, NULL states, empty delta") {
    import spark.implicits._
    val base = fresh("guards")
    val good = dayStates(ev((1L, 0L, "a")))
    // wrong column set
    val e1 = intercept[IllegalArgumentException] {
      RollupStore.appendStates(good.withColumnRenamed("day", "d"),
        base, Seq("u", "day"))
    }
    assert(e1.getMessage.contains("columns"))
    // non-binary state
    val e2 = intercept[IllegalArgumentException] {
      RollupStore.appendStates(
        good.withColumn("state", lit("not binary")), base, Seq("u", "day"))
    }
    assert(e2.getMessage.contains("BINARY"))
    // NULL states are refused (inside the store they'd be indistinguishable
    // from an absent key)
    val e3 = intercept[Exception] {
      RollupStore.appendStates(
        good.withColumn("state", lit(null).cast("binary")), base, Seq("u", "day"))
    }
    assert(e3.getMessage.contains("NULL"))
    // nothing landed; an empty delta commits as a no-op
    assert(RollupStore.appendStates(good.filter(col("u") === 99L),
      base, Seq("u", "day")) === 0L)
    intercept[IllegalArgumentException] { RollupStore.read(spark, base) }
    // a valid batch still lands after all the rejections
    RollupStore.appendStates(good, base, Seq("u", "day"))
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    // a DIFFERENT state family (BIGINT retention states) passes the door
    // type gate but must be refused against the existing funnel store —
    // schema drift would otherwise only explode at compact/read time
    val retention = ev((1L, 0L, "a"))
      .groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.retention_state(
        col("t") === "a", col("t") === "b").as("state"))
    val e4 = intercept[IllegalArgumentException] {
      RollupStore.appendStates(retention, base, Seq("u", "day"))
    }
    assert(e4.getMessage.contains("schema"))
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    // compacting an empty or single-batch... empty store first:
    assert(RollupStore.compact(spark, fresh("empty"), Seq("u"),
      BehavioralFunctions.funnel_state_combine) === 0L)
  }

  test("the next-node family runs the same cycle: ingest, compact with its combine, merge all 8 ways") {
    val rnd = new scala.util.Random(141421)
    val types = Array("a", "b", "c", "x")
    val rows = Seq.fill(400)((rnd.nextInt(10).toLong,
        rnd.nextInt(15000).toLong * M / 4, types(rnd.nextInt(types.length))))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // tie-free
    val all = ev(rows: _*)
    all.cache().count()
    try {
      def nnStates(df: DataFrame) =
        df.groupBy(col("u"), to_date(col("ts")).as("day"))
          .agg(BehavioralFunctions.next_node_state(col("ts"), col("t"),
            df("t") === "a", df("t") === "a", df("t") === "b").as("state"))
      val base = fresh("nextnode")
      for (i <- 0 until 3)
        RollupStore.appendStates(
          nnStates(all.filter(pmod(xxhash64(col("ts")), lit(3)) === i)),
          base, Seq("u", "day"))
      assert(RollupStore.liveBatchCount(spark, base) === 3)
      RollupStore.compact(spark, base, Seq("u", "day"),
        BehavioralFunctions.next_node_state_combine, "state", 2)
      assert(RollupStore.liveBatchCount(spark, base) === 1)
      for (dir <- Seq("forward", "backward");
           b <- Seq("head", "tail", "first_match", "last_match")) {
        val raw = all.groupBy("u")
          .agg(BehavioralFunctions.sequence_next_node(dir, b, col("ts"),
            col("t"), all("t") === "a", all("t") === "a", all("t") === "b").as("v"))
          .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        val got = RollupStore.read(spark, base).groupBy("u")
          .agg(BehavioralFunctions.next_node_merge(dir, b, col("state")).as("v"))
          .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        assert(got === raw, s"store answer diverges for ($dir, $b)")
      }
    } finally all.unpersist()
  }

  test("the retention family runs the cycle too: BIGINT states, OR combine") {
    val rnd = new scala.util.Random(271801)
    val types = Array("a", "b", "c", "x")
    val rows = Seq.fill(400)((rnd.nextInt(10).toLong,
      rnd.nextInt(15000).toLong * M, types(rnd.nextInt(types.length)))).distinct
    val all = ev(rows: _*)
    val cs = conds(all)
    val raw = all.groupBy("u")
      .agg(BehavioralFunctions.retention(cs: _*).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Boolean](1)).toMap
    val base = fresh("retention")
    for (i <- 0 until 3)
      RollupStore.appendStates(
        all.filter(pmod(xxhash64(col("ts")), lit(3)) === i)
          .groupBy(col("u"), to_date(col("ts")).as("day"))
          .agg(BehavioralFunctions.retention_state(cs: _*).as("state")),
        base, Seq("u", "day"))
    // a long-maintenance call site raises the lease expiry (ADVICE knob)
    RollupStore.compact(spark, base, Seq("u", "day"),
      BehavioralFunctions.retention_state_combine, "state", 2,
      leaseStaleMs = 6L * 60 * 60 * 1000)
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    val got = RollupStore.read(spark, base).groupBy("u")
      .agg(BehavioralFunctions.retention_merge(col("state"), 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Boolean](1)).toMap
    assert(got === raw)
  }

  test("an id-tagged ingest replays as a committed no-op — before and after compaction") {
    val base = fresh("replay")
    val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 0L, "a"))
    val b1 = ev((1L, 20 * M, "c"), (3L, 0L, "a"))
    val n0 = RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
      ingestId = Some("q/0"))
    assert(n0 > 0)
    // redelivery of the SAME micro-batch (Spark's documented foreachBatch
    // restart contract: same batchId, same data) must be a committed no-op
    assert(RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
      ingestId = Some("q/0")) === 0L)
    assert(RollupStore.liveBatchCount(spark, base) === 1,
      "replayed batch landed a second dir")
    assert(RollupStore.read(spark, base).count() ===
      dayStates(b0).count(), "replayed batch double-appended rows")
    assert(storeAnswer(base) === rawAnswer(b0))
    // a NEW id lands normally
    RollupStore.appendStates(dayStates(b1), base, Seq("u", "day"),
      ingestId = Some("q/1"))
    assert(RollupStore.liveBatchCount(spark, base) === 2)
    // ids are carried through the fold: replay after compaction is STILL
    // a no-op (the guard must survive any number of maintenance cycles)
    compactFunnel(base)
    assert(RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
      ingestId = Some("q/0")) === 0L)
    assert(RollupStore.appendStates(dayStates(b1), base, Seq("u", "day"),
      ingestId = Some("q/1")) === 0L)
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    assert(storeAnswer(base) === rawAnswer(b0.union(b1)))
    // untagged appends coexist (ids are per-delivery, not mandatory)
    RollupStore.appendStates(dayStates(ev((4L, 0L, "a"))), base, Seq("u", "day"))
    assert(storeAnswer(base) === rawAnswer(b0.union(b1).union(ev((4L, 0L, "a")))))
    // malformed ids are refused at the door
    intercept[IllegalArgumentException] {
      RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
        ingestId = Some(""))
    }
    intercept[IllegalArgumentException] {
      RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
        ingestId = Some("a\nb"))
    }
  }

  test("a crashed id-tagged append leaves no id behind: the redelivery lands the data") {
    // the id becomes durable WITH the commit marker — a crash before the
    // marker must not record the id, or the redelivery would be skipped
    // and the micro-batch lost forever (the opposite failure mode of
    // double-append)
    val base = fresh("replay_crash")
    val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"))
    intercept[RuntimeException] {
      RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"), "state",
        Some("q/0"),
        (step: String) => if (step == "written") sys.error("injected crash"),
        graft.sources.Sinks.DefaultLeaseStaleMs, 0L)
    }
    // redelivery with the same id: must LAND (the first attempt never
    // committed), exactly once
    assert(RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
      ingestId = Some("q/0")) > 0L)
    assert(RollupStore.liveBatchCount(spark, base) === 1)
    assert(storeAnswer(base) === rawAnswer(b0))
  }

  test("footer row counts equal full-scan counts (the verify mechanism itself)") {
    // the maintenance cycles verify writes from parquet FOOTERS instead of
    // re-scanning — this pins that the metadata count IS the scan count on
    // a real multi-file Spark write
    import spark.implicits._
    val dir = fresh("footer") + "/t"
    (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(7).write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val footer = graft.sources.Sinks.parquetRowCount(fs,
      new org.apache.hadoop.fs.Path(dir), spark.sessionState.newHadoopConf())
    assert(footer === spark.read.parquet(dir).count())
    assert(footer === 1000L)
  }

  test("snapshot read pins files eagerly and serves the same rows") {
    val base = fresh("snapshot")
    val df = ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 0L, "c"))
    RollupStore.appendStates(dayStates(df), base, Seq("u", "day"))
    RollupStore.appendStates(dayStates(ev((2L, D, "a"))), base, Seq("u", "day"))
    val lazyRows = RollupStore.read(spark, base)
      .select("u", "day").collect().map(_.toSeq).toSet
    val snapRows = RollupStore.read(spark, base, snapshot = true)
      .select("u", "day").collect().map(_.toSeq).toSet
    assert(snapRows === lazyRows)
    // the snapshot plan survives a compaction's COMMIT (files pinned
    // before the fold are still on disk until cleanup)
    val snap = RollupStore.read(spark, base, snapshot = true)
    snap.count() // resolve
    compactFunnel(base)
    assert(storeAnswer(base) === rawAnswer(
      ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 0L, "c"), (2L, D, "a"))))
  }

  test("an append onto a flat store with one committed batch starts at most 1 Spark job") {
    val base = fresh("job_count")
    RollupStore.appendStates(dayStates(ev((1L, 0L, "a"))), base, Seq("u", "day"))
    // a local batch, so the count is the append's own jobs and not the
    // producer's shuffle
    val st = dayStates(ev((1L, 10 * M, "b"), (2L, 0L, "a")))
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(st.collect().toSeq.asJava, st.schema)
    val (n, jobs) = JobCount(spark) {
      RollupStore.appendStates(local, base, Seq("u", "day"))
    }
    assert(n === 2L)
    assert(jobs <= 1, s"appendStates started $jobs Spark jobs")
  }

  test("a store in the retired flat layout (batches at its root) is refused by name and left untouched") {
    import org.apache.hadoop.fs.Path
    import graft.ops.GenerationalBatches
    val base = fresh("legacy")
    val root = new Path(base)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val st = dayStates(ev((1L, 0L, "a"), (2L, 10 * M, "b")))
    GenerationalBatches.publish(fs, root, Nil, Nil, Set.empty, 0L, _ => ()) {
      batchPath =>
        st.write.parquet(new Path(batchPath, "states").toString)
        val n = st.count()
        Some(GenerationalBatches.Landed(n, n))
    }
    assert(fs.exists(new Path(root, s"batch_0/${GenerationalBatches.Marker}")))
    def tree: Seq[(String, Long, Long)] = {
      val out = Seq.newBuilder[(String, Long, Long)]
      def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
        out += ((st.getPath.toString, st.getLen, st.getModificationTime))
        if (st.isDirectory) walk(st.getPath)
      }
      walk(root)
      out.result().sorted
    }
    val before = tree
    val ops: Seq[(String, () => Any)] = Seq(
      "appendStates" -> (() => RollupStore.appendStates(st, base,
        Seq("u", "day"))),
      "compact" -> (() => RollupStore.compact(spark, base, Seq("u", "day"),
        BehavioralFunctions.funnel_state_combine)),
      "read" -> (() => RollupStore.read(spark, base)),
      "regrain" -> (() => RollupStore.regrain(spark, base, Seq("u", "day"),
        "day", weekofyear(col("day")), "week",
        BehavioralFunctions.funnel_state_combine)),
      "stats" -> (() => RollupStore.stats(spark, base)),
      "sweepExpired" -> (() => RollupStore.sweepExpired(spark, base, 0L)))
    for ((name, op) <- ops) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(root.toString) &&
        e.getMessage.contains("batch_"),
        s"$name failed with an unrelated error: $e")
      assert(tree === before, s"$name wrote into the retired-layout store")
    }
  }
}
