package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.ops.{GenerationalBatches, RollupStore}

/** The per-grain READER MANIFEST and the CLEANUP GRACE WINDOW — the two
  * knobs that make the store's read path production-shaped at 100 TB:
  * a dashboard read resolves each grain in ONE file read (no per-batch
  * listStatus/marker/ingest-id round-trips — at years × daily grains ×
  * object-store latency, the listing IS the read's cost), and a
  * compaction's cleanup no longer yanks files out from under a snapshot
  * reader mid-plan. Pins: manifest agrees with the listing after every
  * successful op; a manifest-resolved read pins EXACTLY the manifest's
  * files (proved with a poison file the listing would serve); a crash
  * between commit and manifest rewrite leaves readers on the previous
  * committed snapshot until the next op heals it; folded dirs outlive
  * their fold's commit by `cleanupDelayMs` and are swept by the first
  * maintenance op past the horizon.
  */
class StoreManifestSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val M = 60L * 1000000
  private val D = 24 * 60 * M
  private val Stale = graft.sources.Sinks.DefaultLeaseStaleMs

  private def ev(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("u", "us", "t")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("t"))
  }

  private def conds(df: DataFrame) =
    Seq("a", "b", "c").map(t => df("t") === t)

  private def dayStates(df: DataFrame): DataFrame =
    df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"), conds(df): _*).as("state"))

  private def rawAnswer(df: DataFrame): Map[Long, Int] =
    df.groupBy("u")
      .agg(BehavioralFunctions.window_funnel(expr("INTERVAL '1' HOUR"),
        col("ts"), conds(df): _*).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def merged(df: DataFrame): Map[Long, Int] =
    df.groupBy("u")
      .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
        col("state")).as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def storeAnswer(base: String): Map[Long, Int] =
    merged(RollupStore.readGrains(spark, base))

  private def fresh(name: String): String = {
    val p = graft.sources.Sinks.scratchDir("store_manifest_spec") + s"/$name"
    graft.sources.Sinks.clearDir(p)
    p
  }

  private def fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())

  /** What the manifest MUST say: recompute (batches, ids, files) from
    * the grain dir's listing through the marker protocol. */
  private def fromListing(gdir: Path): (Seq[String], Set[String], Seq[String]) = {
    val live = GenerationalBatches.liveBatches(fs, gdir).sortBy(_._1)
    (live.map(_._2.getName),
      GenerationalBatches.seenIngestIds(fs, live),
      live.flatMap { case (_, p) =>
        GenerationalBatches.dataFiles(fs, new Path(p, "states")).sorted
          .map(f => s"${p.getName}/states/$f")
      })
  }

  private def assertManifestsAgree(base: String, clue: String): Unit =
    fs.listStatus(new Path(base)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("=")
        && !st.getPath.getName.startsWith("."))
      .foreach { st =>
        val m = GenerationalBatches.readManifest(fs, st.getPath)
        assert(m.isDefined, s"$clue: no manifest in ${st.getPath.getName}")
        assert(m.get === fromListing(st.getPath),
          s"$clue: manifest of ${st.getPath.getName} disagrees with listing")
      }

  private lazy val allRows: Seq[(Long, Long, String)] = {
    val rnd = new scala.util.Random(170303)
    val types = Array("a", "b", "c", "x")
    Seq.fill(300)((rnd.nextInt(8).toLong,
      rnd.nextInt((4 * D / M).toInt).toLong * M,
      types(rnd.nextInt(types.length)))).distinct
  }

  test("manifest agrees with the listing after every op of the grained cycle") {
    val all = ev(allRows: _*)
    all.cache().count()
    try {
      val base = fresh("agree")
      def slice(i: Int) = all.filter(pmod(xxhash64(col("ts")), lit(2)) === i)
      RollupStore.appendStatesByGrain(dayStates(slice(0)), base,
        Seq("u", "day"), "day", ingestId = Some("m/0"))
      assertManifestsAgree(base, "after first ingest")
      RollupStore.appendStatesByGrain(dayStates(slice(1)), base,
        Seq("u", "day"), "day", ingestId = Some("m/1"))
      assertManifestsAgree(base, "after second ingest")
      val grains = RollupStore.grainValues(spark, base)
      RollupStore.compactGrains(spark, base, Seq("u", "day"),
        BehavioralFunctions.funnel_state_combine,
        grains = _ < grains(2), targetPartitions = 2)
      assertManifestsAgree(base, "after range compaction")
      // a full replay (no-op) keeps them agreeing too
      assert(RollupStore.appendStatesByGrain(dayStates(slice(1)), base,
        Seq("u", "day"), "day", ingestId = Some("m/1")) === 0L)
      assertManifestsAgree(base, "after replayed ingest")
      assert(storeAnswer(base) === rawAnswer(all))
    } finally all.unpersist()
  }

  test("a read resolves through the manifest and pins exactly its files, not the listing") {
    val all = ev(allRows: _*)
    all.cache().count()
    try {
      val base = fresh("pin")
      RollupStore.appendStatesByGrain(dayStates(all), base,
        Seq("u", "day"), "day")
      val grains = RollupStore.grainValues(spark, base)
      val g0 = grains.head
      val gdir = new Path(base, RollupStore.grainDirName("day", g0))
      val (_, _, manFiles) = GenerationalBatches.readManifest(fs, gdir).get
      val expected = merged(RollupStore.readGrains(spark, base, _ == g0))

      // POISON: copy a real data file next to itself under a name the
      // manifest does not list — a listing-based read would pick it up
      // (and double its rows); the manifest-resolved read must not
      val victim = new Path(gdir, manFiles.head)
      val poison = new Path(victim.getParent, "zzz-poison.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, victim, fs, poison, false,
        spark.sessionState.newHadoopConf())

      val viaManifest = RollupStore.readGrains(spark, base, _ == g0)
      assert(viaManifest.inputFiles
          .map(f => new Path(f).toUri.getPath).toSet ===
        manFiles.map(rel => new Path(gdir, rel).toUri.getPath).toSet,
        s"manifest read pinned other files: ${viaManifest.inputFiles.toSet}")
      assert(!viaManifest.inputFiles.exists(_.contains("zzz-poison")),
        "the manifest-resolved read served a file outside the manifest")
      assert(merged(viaManifest) === expected)

      // remove the manifest: the fallback LISTING read sees the poison —
      // proof the manifest was doing the pruning above
      fs.delete(new Path(gdir, GenerationalBatches.Manifest), false)
      val viaListing = RollupStore.readGrains(spark, base, _ == g0,
        snapshot = true)
      assert(viaListing.inputFiles.exists(_.contains("zzz-poison")))

      // hygiene: restore the grain for any later asserts
      fs.delete(poison, false)
      GenerationalBatches.writeManifest(fs, gdir)
      assert(merged(RollupStore.readGrains(spark, base, _ == g0)) === expected)
    } finally all.unpersist()
  }

  test("crash between commit and manifest rewrite: readers serve the previous snapshot until healed") {
    val rows = ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 20 * M, "a"))
    val more = ev((1L, 30 * M, "c"), (2L, 40 * M, "b"))
    val base = fresh("stale")
    RollupStore.appendStatesByGrain(dayStates(rows), base,
      Seq("u", "day"), "day", ingestId = Some("s/0"))
    val before = storeAnswer(base)

    // second ingest CRASHES on the onStep seam between the marker commit
    // and the manifest rewrite
    intercept[RuntimeException] {
      RollupStore.appendStatesByGrain(dayStates(more), base,
        Seq("u", "day"), "day", "state", Some("s/1"),
        (step: String) =>
          if (step == "committed") sys.error("crash before manifest"),
        Stale, 0L)
    }
    val gdir = new Path(base, RollupStore.grainDirName("day", "1970-01-01"))
    // the LISTING sees two committed batches; the manifest still one —
    // readers are one op behind, on the previous COMMITTED snapshot
    assert(GenerationalBatches.liveBatches(fs, gdir).size === 2)
    val manifest = GenerationalBatches.readManifest(fs, gdir)
    assert(manifest.isDefined && manifest.get._1.size === 1,
      "expected the manifest to be one op stale after the crash")
    assert(storeAnswer(base) === before,
      "a stale-manifest read did not serve the previous committed snapshot")

    // the REDELIVERY (same id) is absorbed by the replay guard but HEALS
    // the manifest on its touch; readers then see the committed batch
    assert(RollupStore.appendStatesByGrain(dayStates(more), base,
      Seq("u", "day"), "day", ingestId = Some("s/1")) === 0L)
    assert(GenerationalBatches.readManifest(fs, gdir).get._1.size === 2)
    assert(storeAnswer(base) === rawAnswer(rows.union(more)))
  }

  test("a TORN manifest (S3A partial copy) is refused; readers fall back to the listing") {
    val rows = ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, D + M, "a"))
    val base = fresh("torn")
    RollupStore.appendStatesByGrain(dayStates(rows), base,
      Seq("u", "day"), "day")
    val expected = storeAnswer(base)
    val gdir = new Path(base, RollupStore.grainDirName("day", "1970-01-01"))
    val mpath = new Path(gdir, GenerationalBatches.Manifest)
    val full = {
      val in = fs.open(mpath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(full.linesIterator.toSeq.last.startsWith("e "),
      "manifest lacks the completeness terminator")
    // simulate S3A's rename-as-copy dying mid-copy: a PREFIX of the
    // manifest lands (terminator and some f-lines missing)
    val torn = full.linesIterator.toSeq.dropRight(2).mkString("\n")
    val out = fs.create(mpath, true)
    try out.write(torn.getBytes("UTF-8")) finally out.close()
    // the torn manifest is treated as ABSENT — never trusted with a
    // subset of the store's files
    assert(GenerationalBatches.readManifest(fs, gdir).isEmpty,
      "a torn manifest was parsed as complete")
    assert(storeAnswer(base) === expected,
      "the torn-manifest fallback did not serve the full listing")
    // the next op heals it back to a complete, terminated manifest
    RollupStore.compactGrains(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, targetPartitions = 2)
    assert(GenerationalBatches.readManifest(fs, gdir).isDefined)
    assert(storeAnswer(base) === expected)
  }

  test("sweepExpired SKIPS a grain whose stripe a live op holds, and sweeps the rest") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val all = ev(allRows: _*)
    all.cache().count()
    try {
      val base = fresh("sweep_skip")
      def slice(i: Int) = all.filter(pmod(xxhash64(col("ts")), lit(2)) === i)
      RollupStore.appendStatesByGrain(dayStates(slice(0)), base,
        Seq("u", "day"), "day")
      RollupStore.appendStatesByGrain(dayStates(slice(1)), base,
        Seq("u", "day"), "day")
      val grains = RollupStore.grainValues(spark, base)
      val g0 = grains.head
      // compact ALL grains under a grace window, then age past it:
      // every grain now carries expired dead dirs
      RollupStore.compactGrains(spark, base, Seq("u", "day"),
        BehavioralFunctions.funnel_state_combine, targetPartitions = 2,
        cleanupDelayMs = 1200L)
      Thread.sleep(1500)
      // a compactor holds g0's stripe, paused mid-flight (its own
      // recover already cleaned g0's expired dirs)
      val staged = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      @volatile var err: Option[Throwable] = None
      val t = new Thread(() => {
        try RollupStore.compactGrains(spark, base, Seq("u", "day"),
          BehavioralFunctions.funnel_state_combine, "state", _ == g0, 2,
          (step: String) => if (step == "staged") {
            staged.countDown()
            assert(resume.await(120, TimeUnit.SECONDS))
          }, Stale, 0L)
        catch { case e: Throwable => err = Some(e) }
      })
      t.start()
      try {
        assert(staged.await(120, TimeUnit.SECONDS))
        // the janitor must not abort on g0's held stripe: it skips g0
        // and clears the OTHER grains' expired dirs (2 dead dirs each)
        val swept = RollupStore.sweepExpired(spark, base, 1200L)
        assert(swept === 2 * (grains.size - 1),
          s"janitor swept $swept, expected ${2 * (grains.size - 1)}")
      } finally {
        resume.countDown()
        t.join(120000)
      }
      assert(!t.isAlive && err.isEmpty, s"compactor failed: $err")
      assert(storeAnswer(base) === rawAnswer(all))
    } finally all.unpersist()
  }

  test("a stale manifest is healed AT RECOVER TIME, before the op's fold job (ADVICE r17)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val all = ev(allRows: _*)
    all.cache().count()
    try {
      val base = fresh("heal_timing")
      def slice(i: Int) = all.filter(pmod(xxhash64(col("ts")), lit(2)) === i)
      RollupStore.appendStatesByGrain(dayStates(slice(0)), base,
        Seq("u", "day"), "day")
      RollupStore.appendStatesByGrain(dayStates(slice(1)), base,
        Seq("u", "day"), "day")
      val g0 = RollupStore.grainValues(spark, base).head
      val gdir = new Path(base, RollupStore.grainDirName("day", g0))
      assert(GenerationalBatches.liveBatches(fs, gdir).size === 2)
      // a compaction of g0 crashes between its commit and the manifest
      // rewrite: the manifest still lists the two folded batches, whose
      // bytes survive (the crash also predates cleanup)
      intercept[RuntimeException] {
        RollupStore.compactGrains(spark, base, Seq("u", "day"),
          BehavioralFunctions.funnel_state_combine, "state", _ == g0, 2,
          (step: String) =>
            if (step == "committed") sys.error("crash before manifest"),
          Stale, 0L)
      }
      assert(GenerationalBatches.readManifest(fs, gdir).get._1.toSet ===
        Set("batch_0", "batch_1"))
      assert(storeAnswer(base) === rawAnswer(all))
      // the NEXT maintenance op, paused at its "recovered" step: its
      // recover() has just DELETED the folded dirs the stale manifest
      // listed — the heal must already have run, not wait for the
      // minutes-long fold job that follows
      val recoveredL = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      @volatile var err: Option[Throwable] = None
      val t = new Thread(() => {
        try RollupStore.compactGrains(spark, base, Seq("u", "day"),
          BehavioralFunctions.funnel_state_combine, "state", _ == g0, 2,
          (step: String) => if (step == "recovered") {
            recoveredL.countDown()
            assert(resume.await(120, TimeUnit.SECONDS))
          }, Stale, 0L)
        catch { case e: Throwable => err = Some(e) }
      })
      t.start()
      try {
        assert(recoveredL.await(120, TimeUnit.SECONDS), "op never recovered")
        val healed = GenerationalBatches.readManifest(fs, gdir).get
        assert(healed._1 === Seq("batch_2"),
          s"manifest not healed at recover time: ${healed._1}")
        // every file the healed manifest lists exists — a reader in this
        // window resolves cleanly instead of FileNotFound
        assert(healed._3.forall(rel => fs.exists(new Path(gdir, rel))))
        assert(storeAnswer(base) === rawAnswer(all))
      } finally {
        resume.countDown()
        t.join(120000)
      }
      assert(!t.isAlive && err.isEmpty, s"compactor failed: $err")
      assert(storeAnswer(base) === rawAnswer(all))
      assertManifestsAgree(base, "after the healing compaction")
    } finally all.unpersist()
  }

  test("the grace horizon survives a filesystem clock behind the writers (#ts in the marker)") {
    val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"))
    val b1 = ev((2L, 5 * M, "b"), (3L, 0L, "a"))
    val base = fresh("skew")
    RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"))
    RollupStore.appendStates(dayStates(b1), base, Seq("u", "day"))
    val expected = merged(RollupStore.read(spark, base))
    RollupStore.compact(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, cleanupDelayMs = 60000L)
    val basePath = RollupStore.flatDir(new Path(base))
    val folded = Seq("batch_0", "batch_1")
    assert(folded.forall(d => fs.exists(new Path(basePath, d))))
    val marker = new Path(basePath, s"batch_2/${GenerationalBatches.Marker}")
    val content = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(content.linesIterator.exists(_.startsWith("#ts=")),
      "the fold's marker does not embed the writer clock")
    // FS clock 2 h BEHIND the writer fleet: the marker's modification
    // time says the fold is ancient; the embedded writer clock says it
    // just happened. The horizon takes the LATER of the two — the folded
    // dirs must stay inside the window
    val twoHoursAgo = System.currentTimeMillis() - 2 * 3600 * 1000L
    fs.setTimes(marker, twoHoursAgo, -1)
    GenerationalBatches.recover(fs, basePath, 60000L)
    assert(folded.forall(d => fs.exists(new Path(basePath, d))),
      "a skewed filesystem clock deleted folded dirs inside the window")
    // an OLD-FORMAT marker (no #ts line) falls back to modification
    // time alone: the same recover now sweeps past the horizon
    val stripped = content.linesIterator
      .filterNot(_.startsWith("#")).mkString("\n")
    val out = fs.create(marker, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    fs.setTimes(marker, twoHoursAgo, -1)
    GenerationalBatches.recover(fs, basePath, 60000L)
    assert(folded.forall(d => !fs.exists(new Path(basePath, d))),
      "an old-format marker did not fall back to modification time")
    // the store stayed healthy and exact throughout
    assert(merged(RollupStore.read(spark, base)) === expected)
  }

  test("sweepExpired clears the dead tail of a store whose maintenance ended (grained + flat)") {
    // under a grace window, deferred cleanup happens in a LATER op's
    // recover() — a grain never touched again keeps its dead bytes
    // forever (the round-17 watch item). sweepExpired is the janitor:
    // metadata-only, same horizon, answers untouched
    val all = ev(allRows: _*)
    all.cache().count()
    try {
      val base = fresh("sweep")
      def slice(i: Int) = all.filter(pmod(xxhash64(col("ts")), lit(2)) === i)
      RollupStore.appendStatesByGrain(dayStates(slice(0)), base,
        Seq("u", "day"), "day")
      RollupStore.appendStatesByGrain(dayStates(slice(1)), base,
        Seq("u", "day"), "day")
      val expected = rawAnswer(all)
      RollupStore.compactGrains(spark, base, Seq("u", "day"),
        BehavioralFunctions.funnel_state_combine, targetPartitions = 2,
        cleanupDelayMs = 2000L)
      def deadDirs: Int = {
        val grains = fs.listStatus(new Path(base)).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains("=")
            && !st.getPath.getName.startsWith("."))
        grains.map(st => GenerationalBatches.batchDirs(fs, st.getPath).size -
          GenerationalBatches.liveBatches(fs, st.getPath).size).sum
      }
      val dead = deadDirs
      assert(dead > 0, "the grace window left no dead dirs to sweep")
      // INSIDE the horizon: the janitor deletes nothing
      assert(RollupStore.sweepExpired(spark, base, 2000L) === 0)
      assert(deadDirs === dead)
      Thread.sleep(2300)
      // PAST it: exactly the dead dirs go; answers and manifests intact
      assert(RollupStore.sweepExpired(spark, base, 2000L) === dead)
      assert(deadDirs === 0)
      assert(storeAnswer(base) === expected)
      assertManifestsAgree(base, "after the grained sweep")
      // idempotent
      assert(RollupStore.sweepExpired(spark, base, 2000L) === 0)

      // FLAT store: same janitor on its one fixed grain — and the fold's
      // writer CRASHED before its manifest rewrite, so the manifest
      // still lists the folded dirs the sweep is about to delete. The
      // sweep must heal it (its recover-time heal), or readers resolving
      // through the stale manifest would get FileNotFound
      val fbase = fresh("sweep_flat")
      val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"))
      val b1 = ev((2L, 5 * M, "b"), (3L, 0L, "a"))
      RollupStore.appendStates(dayStates(b0), fbase, Seq("u", "day"))
      RollupStore.appendStates(dayStates(b1), fbase, Seq("u", "day"))
      val fExpected = merged(RollupStore.read(spark, fbase))
      intercept[RuntimeException] {
        RollupStore.compact(spark, fbase, Seq("u", "day"),
          BehavioralFunctions.funnel_state_combine, "state", 32,
          (step: String) =>
            if (step == "committed") sys.error("crash before manifest"),
          Stale, 2000L)
      }
      // the stale manifest serves the previous snapshot over the
      // surviving bytes until the sweep
      assert(merged(RollupStore.read(spark, fbase)) === fExpected)
      Thread.sleep(2300)
      // ONE sweep past the horizon must BOTH delete the expired dirs and
      // heal the manifest that still lists them — in that order safety
      // comes from the heal being part of the same recover pass
      assert(RollupStore.sweepExpired(spark, fbase, 2000L) === 2)
      val fdir = RollupStore.flatDir(new Path(fbase))
      assert(!fs.exists(new Path(fdir, "batch_0")) &&
        !fs.exists(new Path(fdir, "batch_1")))
      assert(GenerationalBatches.readManifest(fs, fdir).get._1
        === Seq("batch_2"),
        "the sweep deleted dirs the stale manifest lists without healing it")
      assert(merged(RollupStore.read(spark, fbase)) === fExpected)
    } finally all.unpersist()
  }

  test("cleanupDelayMs: folded dirs outlive the fold's commit; a snapshot read survives; the first op past the horizon sweeps") {
    val b0 = ev((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, 0L, "a"))
    val b1 = ev((1L, 20 * M, "c"), (2L, 5 * M, "b"), (3L, 0L, "a"))
    val base = fresh("grace")
    val dir = RollupStore.flatDir(new Path(base))
    RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
      ingestId = Some("grace/0"))
    RollupStore.appendStates(dayStates(b1), base, Seq("u", "day"))
    val expected = merged(RollupStore.read(spark, base))
    val preFoldDirs = GenerationalBatches.liveBatches(fs, dir)
      .map(_._2.getName).toSet
    assert(preFoldDirs.size === 2)

    // reader pins a snapshot, then the store compacts WITH a grace window
    val snap = RollupStore.read(spark, base, snapshot = true)
    RollupStore.compact(spark, base, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, cleanupDelayMs = 60000L)
    // the folded dirs are DEAD (fresh reads serve only the fold) but
    // their files remain — the pinned snapshot still answers exactly
    assert(merged(RollupStore.read(spark, base)) === expected)
    assert(GenerationalBatches.liveBatches(fs, dir)
      .map(_._2.getName).toSet.intersect(preFoldDirs).isEmpty)
    assert(preFoldDirs.forall(d => fs.exists(new Path(dir, d))),
      "cleanup ignored the grace window and deleted the folded dirs")
    assert(merged(snap) === expected,
      "a snapshot read died inside the grace window")

    // a maintenance op INSIDE the horizon must not sweep them either (a
    // replayed ingest: recovers its grain, lands nothing)
    assert(RollupStore.appendStates(dayStates(b0), base, Seq("u", "day"),
      ingestId = Some("grace/0"), cleanupDelayMs = 60000L) === 0L)
    assert(preFoldDirs.forall(d => fs.exists(new Path(dir, d))),
      "an op inside the horizon swept the folded dirs")
    assert(merged(snap) === expected)

    // PAST the horizon the first op sweeps; the snapshot then fails
    // LOUDLY (the documented availability cliff, now bounded)
    val base2 = fresh("grace2")
    val dir2 = RollupStore.flatDir(new Path(base2))
    RollupStore.appendStates(dayStates(b0), base2, Seq("u", "day"),
      ingestId = Some("grace/0"))
    RollupStore.appendStates(dayStates(b1), base2, Seq("u", "day"))
    val snap2 = RollupStore.read(spark, base2, snapshot = true)
    val pre2 = GenerationalBatches.liveBatches(fs, dir2)
      .map(_._2.getName).toSet
    RollupStore.compact(spark, base2, Seq("u", "day"),
      BehavioralFunctions.funnel_state_combine, cleanupDelayMs = 300L)
    assert(merged(snap2) === expected)
    Thread.sleep(500)
    assert(RollupStore.appendStates(dayStates(b0), base2, Seq("u", "day"),
      ingestId = Some("grace/0"), cleanupDelayMs = 300L) === 0L)
    assert(pre2.forall(d => !fs.exists(new Path(dir2, d))),
      "the folded dirs survived past the horizon")
    intercept[Throwable] { merged(snap2) }
    assert(merged(RollupStore.read(spark, base2)) === expected)
  }
}
