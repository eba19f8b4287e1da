package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. An untimed warmup (tiny session-init query) runs
  * first so JVM/classloader/codegen startup is not charged to whichever
  * query happens to run first; each query then gets one DISCARDED warmup
  * execution of its own before its timed samples, so per-query codegen /
  * JIT / listing costs never appear in a reported number; queries are
  * timed in sorted name order.
  */
object Bench {
  /** The host-floor anchor: a pure no-shuffle codegen'd scan whose time
    * is the per-query floor of the machine at that moment. Every
    * cross-round comparison normalizes by it (see [[floorRelOf]]) —
    * except the parallel-shaped families, which track [[FloorQuery2]]. */
  private[graft] val FloorQuery = "q12_text_stats"

  /** The PARALLEL-SHAPED anchor (VERDICT r19 #2): a plain groupBy-count
    * shuffle over the events table — one map-side partial, one
    * 32-partition exchange, one final aggregate, no behavioral code.
    * A single scalar floor cannot represent non-uniform contention: the
    * r19 capture's scan floor read 0.93x the previous round while the
    * streaming family read 2-5x slower, because contention hit the
    * multithreaded shuffle/state-store/fsync paths the scan never
    * touches. Queries in [[Floor2Queries]] normalize by this anchor. */
  private[graft] val FloorQuery2 = "q128_floor_shuffle"

  /** Short names of the queries whose wall time is dominated by parallel
    * infrastructure — micro-batch state stores and their commit-log
    * fsyncs (the streaming family), store-protocol metadata passes and
    * many small jobs (the rollup-store and incremental families) —
    * rather than a single codegen pipeline. Their round-over-round
    * comparison uses the [[FloorQuery2]] anchor; everything else uses
    * the scan floor. Both anchors self-normalize (an anchor compared
    * against itself is 1.0 by construction). */
  private[graft] val Floor2Queries: Set[String] =
    (Set(71, 72) ++ (77 to 84) ++ Set(106, 107) ++ (118 to 128))
      .map("q" + _)

  /** Short query key: `q12_text_stats` -> `q12` — the compact line's
    * namespace, also how prev-round maps are keyed regardless of which
    * record (full-name detail vs short-name tail) they came from. */
  private[graft] def short(n: String): String = n.takeWhile(_ != '_')

  /** One parsed bench record: per-query seconds keyed by SHORT name plus
    * the record's own two floor anchors (NaN when absent — records from
    * before round 20 carry no `floor2_sec`). */
  private[graft] final case class BenchRec(
      queries: Map[String, Double], floor: Double, floor2: Double,
      fsMode: String = "unknown")

  /** Parse a bench record — either the BENCH_DETAIL.json line or a
    * driver BENCH_r*.json tail (already unescaped). The queries object
    * taken is the LAST `"queries":{...}` in the text: a clipped tail
    * loses its HEAD, so the last occurrence is the one that survived
    * whole; same rule for the floors. Empty map / NaN when absent. */
  private[graft] def parseQueriesAndFloor(text: String): BenchRec = {
    val blocks = "\"queries\":\\{([^}]*)\\}".r.findAllMatchIn(text).toSeq
    val qs =
      if (blocks.isEmpty) Map.empty[String, Double]
      else "\"(q\\w+)\":(-?\\d+(?:\\.\\d+)?)".r
        .findAllMatchIn(blocks.last.group(1))
        .map(m => short(m.group(1)) -> m.group(2).toDouble).toMap
    def lastNum(key: String): Double =
      ("\"" + key + "\":(-?[\\d.]+)").r.findAllMatchIn(text).toSeq
        .lastOption.map(_.group(1).toDouble).getOrElse(Double.NaN)
    // the record's filesystem regime: stamped since round 22; records
    // from before the stamp parse as "unknown" (transitional — they are
    // still accepted as baselines, documented in [[baselineRecords]])
    val fsMode = "\"fs_mode\":\"(\\w+)\"".r.findAllMatchIn(text).toSeq
      .lastOption.map(_.group(1)).getOrElse("unknown")
    BenchRec(qs, lastNum("floor_sec"), lastNum("floor2_sec"), fsMode)
  }

  /** Does a record's recorded sf match this run's sf dir? Accepts a
    * full path ("/root/testdata/sf0.1"), a basename ("sf0.1"), or the
    * driver header's bare number ("0.1"). A prev record at a DIFFERENT
    * scale factor is not a baseline — comparing sf0.01 numbers against
    * an sf0.1 run would fire a spurious probe per query. When BOTH
    * sides carry a directory the full paths must also agree (ADVICE
    * r19): a /tmp/sf0.1 local fixture is not /root/testdata/sf0.1's
    * baseline even though the basenames — the scale identity for
    * bare-name records like the driver's header — coincide. */
  private[graft] def sfMatches(recorded: String, sfDir: String): Boolean = {
    val mine = new java.io.File(sfDir).getName
    val byName =
      new java.io.File(recorded).getName == mine || ("sf" + recorded) == mine
    if (byName && recorded.contains('/') && sfDir.contains('/')) {
      // CANONICAL paths (ADVICE r20): getAbsolutePath does no
      // normalization or symlink resolution, so a prior record of the
      // SAME dataset written via a symlinked, relative, or
      // '..'-containing SPARK_GRAFT_SF_DIR would be silently rejected —
      // an empty baseline, no probes, no warning. Canonicalization can
      // throw on IO errors; fall back to the absolute form then.
      def canon(p: String) =
        try new java.io.File(p).getCanonicalPath
        catch { case _: java.io.IOException =>
          new java.io.File(p).getAbsolutePath }
      val ok = canon(recorded) == canon(sfDir)
      if (!ok)
        System.err.println(s"[bench] baseline record for '$recorded' " +
          s"matches this run's sf by NAME but not by canonical path " +
          s"('$sfDir') — record skipped, round-over-round adjudication " +
          "may run without it")
      ok
    } else byName
  }

  /** FS-REGIME GUARD (VERDICT r21 #5, same-kind rule as coherentAnchors):
    * a record measured under the OTHER local filesystem is not this run's
    * baseline — the round-21 A/B showed up to 3.8x per-query movement
    * from the FS alone (q97 3.17 vs 0.83 s), so mixing regimes in one
    * query's candidate set would fire spurious probes or mask real
    * movement. Records from before the fs_mode stamp parse as "unknown"
    * and are ACCEPTED (transitional: refusing them would empty the
    * baseline for the first stamped round; they age out of the
    * newest-three window). Cold-scan records are never baselines for the
    * (cached-protocol) comparison runs. */
  private[graft] def regimeOk(recName: String, text: String, rec: BenchRec,
      runFsMode: String, warn: String => Unit = System.err.println): Boolean =
    if (text.contains("\"cold_scans\":true")) {
      warn(s"[bench] baseline record $recName is a cold-scans capture — " +
        "skipped")
      false
    } else if (rec.fsMode != "unknown" && rec.fsMode != runFsMode) {
      warn(s"[bench] baseline record $recName was measured under " +
        s"fs_mode=${rec.fsMode}, this run is $runFsMode — record skipped " +
        "(FS regimes must not mix in one baseline)")
      false
    } else true

  /** The floor anchor a query tracks, out of a record's pair: the
    * parallel-shaped families take `floor2` when the record carries one
    * (pre-round-20 records don't — they degrade to the scan floor, so
    * old baselines stay usable); everything else takes `floor`. */
  private[graft] def anchorOf(
      name: String, floor: Double, floor2: Double): Double =
    if (Floor2Queries(short(name)) && !floor2.isNaN && floor2 > 0) floor2
    else floor

  /** The anchor pair for a two-sided comparison, SAME KIND on both
    * sides: floor2 only when the query tracks it and BOTH sides carry a
    * valid one; otherwise the scan floor on both sides. Mixing kinds —
    * this run's floor2 against a pre-round-20 baseline's floor1 — would
    * bias every floor2-family ratio by floor2now/floor1now (~1.25 on
    * this host), masking regressions up to that factor during the
    * transition rounds; measured on the round-20 run, q118's drift
    * reads 1.43 mixed but 1.80 coherent. */
  private[graft] def coherentAnchors(name: String,
      nowF: Double, nowF2: Double,
      prevF: Double, prevF2: Double): (Double, Double) = {
    def ok(v: Double) = !v.isNaN && v > 0
    if (Floor2Queries(short(name)) && ok(nowF2) && ok(prevF2))
      (nowF2, prevF2)
    else (nowF, prevF)
  }

  /** COMPOSITE per-query baseline (VERDICT r19 #1): for each query, the
    * entry with the MINIMUM anchor-relative time across several recent
    * records. One contended capture must not become the baseline — the
    * r19 driver capture recorded q71 at 10.07 s where a same-host
    * hand-run read 2.66 s; had that record alone been next round's
    * baseline, a real 3-4x streaming regression would have read as an
    * improvement. Taking the per-query minimum RATIO (seconds over the
    * record's own anchor, so each entry stays coherent with the floors
    * it was measured beside) means an inflated record loses to any
    * quieter one, and the surviving baseline is the hardest to beat —
    * the trigger errs toward firing, never toward masking. Entries with
    * no usable anchor fall back to minimum absolute seconds. */
  private[graft] def compositeBaseline(
      recs: Seq[BenchRec]): Map[String, (Double, Double, Double)] = {
    val entries = recs.flatMap { r =>
      r.queries.toSeq.map { case (q, s) => q -> (s, r.floor, r.floor2) }
    }
    entries.groupBy(_._1).map { case (q, es) =>
      val cands = es.map(_._2).filter(_._1 > 0)
      def ratio(e: (Double, Double, Double)): Double = {
        val a = anchorOf(q, e._2, e._3)
        if (a.isNaN || a <= 0) Double.NaN else e._1 / a
      }
      val anchored = cands.filter(e => !ratio(e).isNaN)
      // TRANSITIONAL BIAS, documented (ADVICE r20): when a floor2-family
      // query's candidates mix pre-round-20 records (floor1 only) with
      // round-20+ records (floor2), each candidate's selection ratio uses
      // its OWN record's tracked anchor — so the "hardest to beat" pick
      // is skewed by this host's floor2/floor1 scale (~1.25×) until the
      // pre-r20 records age out of the newest-three window. The
      // SUBSEQUENT comparison is always same-kind ([[coherentAnchors]]),
      // so only which entry wins selection is affected, and the skew errs
      // toward keeping the quieter-host record — the firing direction.
      val best =
        if (anchored.nonEmpty) anchored.minBy(ratio)
        else if (cands.nonEmpty) cands.minBy(_._1)
        else es.head._2
      q -> best
    }
  }

  /** This round's anchor-ratio over the baseline's: the host term
    * cancels when both anchors are present (a uniformly slower machine
    * moves sec and anchor together), leaving pure per-query movement;
    * with either anchor missing it degrades to the absolute ratio
    * (better than probing nothing). NaN when prev is missing, tiny
    * (<= 0.05 s — below that the ratio is noise), or sec is invalid. */
  private[graft] def floorRelOf(sec: Double, prev: Double,
      floorNow: Double, prevFloor: Double): Double = {
    if (prev.isNaN || prev <= 0.05 || sec <= 0) return Double.NaN
    if (!floorNow.isNaN && floorNow > 0 && !prevFloor.isNaN && prevFloor > 0)
      (sec / floorNow) / (prev / prevFloor)
    else sec / prev
  }

  /** JSON numeric formatting MUST be locale-independent: the
    * f-interpolator delegates to String.format under the JVM default
    * locale, which emits comma decimals (invalid JSON) under e.g.
    * de_DE. */
  private[graft] def jf(fmt: String, v: Double): String =
    String.format(java.util.Locale.ROOT, fmt, java.lang.Double.valueOf(v))

  /** One rung of the compact line's degrade ladder: per-query seconds at
    * `prec` decimals, both floors, the unstable list capped at
    * `maxUnstable` entries (the remainder as a count), the first five
    * errors unless `dropErrors` (then just their count). */
  private[graft] def compactJson(prec: Int, total: Double,
      entries: Seq[(String, Double)], unstable: Seq[String],
      errors: Seq[(String, String)], floor: Option[Double],
      floor2: Option[Double], sfName: String,
      dropErrors: Boolean, maxUnstable: Int,
      fsMode: String = "unknown", coldScans: Boolean = false): String = {
    def numC(v: Double): String = if (v.isNaN) "-1" else jf(s"%.${prec}f", v)
    val cQs = entries.map { case (k, v) => "\"" + short(k) + "\":" + numC(v) }
      .mkString("{", ",", "}")
    val kept = unstable.take(maxUnstable)
    val cUnstable = kept.map("\"" + short(_) + "\"").mkString("[", ",", "]") +
      (if (unstable.size > kept.size)
         ",\"unstable_more\":" + (unstable.size - kept.size)
       else "")
    val cErr =
      if (errors.isEmpty) ""
      else if (dropErrors) ",\"errors_n\":" + errors.size
      else errors.take(5).map { case (k, v) =>
        "\"" + short(k) + "\":\"" + v.take(40) + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val cFloor = floor.map(f => ",\"floor_sec\":" + jf("%.4f", f))
      .getOrElse("") +
      floor2.map(f => ",\"floor2_sec\":" + jf("%.4f", f)).getOrElse("")
    val cMode = s""","fs_mode":"$fsMode"""" +
      (if (coldScans) ",\"cold_scans\":true" else "")
    s"""{"metric":"total","value":${jf("%.2f", total)},"unit":"sec","queries":$cQs$cFloor,"unstable":$cUnstable$cErr$cMode,"sf":"$sfName"}"""
  }

  private[graft] val CompactBudget = 1850

  /** Pick the first ladder rung that fits the budget. The rungs only
    * remove or shorten content, and the final rung (precision 0, errors
    * as a count, unstable as a count) stays under the budget up to
    * ~160 queries — the backstop warning fires only if the suite ever
    * outgrows even that, and then the oversized final rung is emitted
    * anyway (the committed BENCH_DETAIL.json is the full record either
    * way; a long line merely risks the driver tail clipping its head,
    * which [[parseQueriesAndFloor]]'s last-occurrence rule tolerates). */
  private[graft] def fitCompact(steps: Seq[() => String],
      budget: Int = CompactBudget,
      warn: String => Unit = m => System.err.println(m)): String =
    steps.view.map(_.apply()).find(_.length <= budget).getOrElse {
      val last = steps.last()
      warn(s"[bench] WARNING: compact line ${last.length} chars exceeds " +
        s"the $budget budget even fully degraded — the driver tail may " +
        "clip its head")
      last
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Streaming state-store checkpoints go to a ramdisk when one exists
    // (VERDICT r19 #3): every micro-batch writes offset/commit WAL files
    // and state-store deltas with fsync, and on a contended disk that
    // latency dominated the streaming family's max/min spread (r19
    // capture: q78 min 4.29 / max 12.41 on untouched code). Harness
    // plumbing only — the queries and their oracles are unchanged, and
    // Verify keeps Spark's default temp checkpoint location.
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
      ()
    }
    val ckptBase: Option[java.io.File] = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) {
        // sweep siblings of DEAD benches first (ADVICE r20): the shutdown
        // hook never runs under SIGKILL/OOM, so a killed bench would
        // otherwise occupy ramdisk forever — only dirs whose pid is no
        // longer alive are touched, a concurrent live bench keeps its own
        Option(shm.listFiles()).getOrElse(Array.empty).foreach { f =>
          val n = f.getName
          if (n.startsWith("graft_bench_ckpt_"))
            n.drop("graft_bench_ckpt_".length).toLongOption.foreach { pid =>
              if (!ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))
                deleteRec(f)
            }
        }
        // and only redirect checkpoints here when the ramdisk has real
        // headroom — every streaming run writes WAL/state deltas into it,
        // and filling /dev/shm fails queries in a far more confusing way
        // than the default temp location's slower fsync
        val d = new java.io.File(shm,
          s"graft_bench_ckpt_${ProcessHandle.current().pid()}")
        if (shm.getUsableSpace > 256L * 1024 * 1024 &&
            (d.mkdirs() || d.isDirectory)) Some(d)
        else None
      } else None
    }
    // shutdown hook, not finally: the error path exits via sys.exit(1)
    ckptBase.foreach(d => Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRec(d))))
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    // fork-free, sidecar-free local filesystem (round 21, guide §7.3):
    // without libhadoop.so every local file create forks a shell chmod
    // and writes a .crc sibling — per lease, marker, manifest, parquet
    // part, and streaming WAL/state delta. Production filesystems
    // (HDFS/S3A) have neither cost; see FastLocalFileSystem. Verify and
    // QueryJobProfile resolve the SAME mode through HarnessFs, so the
    // oracle gate covers exactly this configuration in either mode.
    // SPARK_GRAFT_LOCAL_FS=stock opts back into Hadoop's default local
    // filesystem — the same-host A/B switch behind the round-21 numbers.
    // The active mode is stamped into every emitted record (`fs_mode`)
    // so cross-record comparisons never silently mix regimes (VERDICT
    // r21 #5).
    val fsMode = graft.sources.HarnessFs.mode
    val builderFs = graft.sources.HarnessFs.configure(builder0)
    val spark = ckptBase.fold(builderFs)(d => builderFs
      .config("spark.sql.streaming.checkpointLocation", d.getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: spin up executors/codegen, and cache the shared input tables —
    // Spark's cache manager matches by logical plan, so the Tables.load
    // calls inside every query read the in-memory columnar copy instead of
    // re-scanning parquet per query. SPARK_GRAFT_BENCH_COLD_SCANS=1 skips
    // the table cache (VERDICT r21 #6): every query then re-scans parquet,
    // so the record puts the scan-inclusive cost of each family on the
    // books; the cached protocol stays the round-over-round comparison
    // default (it predates round 21, applies identically to both sides of
    // every comparison, and mirrors the Rust baseline's in-memory
    // measurement). A cold record never overwrites the comparison
    // baseline: it is stamped `cold_scans` and written to
    // BENCH_DETAIL_COLD.json, which baselineRecords never reads.
    val coldScans = sys.env.get("SPARK_GRAFT_BENCH_COLD_SCANS").contains("1")
    spark.range(1000000).selectExpr("sum(id)").collect()
    if (!coldScans)
      for (t <- graft.sources.Tables.names) {
        try graft.sources.Tables.load(spark, sfDir, t).cache().count()
        catch { case _: Throwable => () }
      }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // optional comma-separated substring filter for targeted local runs,
    // e.g. SPARK_GRAFT_BENCH_ONLY=q23,q21 — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.exists(name.contains))
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // one timed run; noop sink forces full evaluation of every output
    // column — count() would let Catalyst prune the very expressions being
    // measured. Returns NaN on failure so a failing query can never
    // contribute a plausible ~0 s entry (poisoned, excluded from total).
    def timedRun(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // full cold start per run: memoized pair lists and operator-internal
      // sketch caches (OpCaches) must not leak across runs or queries, or
      // best-of-N measures a cache hit instead of the operator
      graft.ops.OpCaches.unpersistAll()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(300)
          Double.NaN
      }
    }
    // per-run min/max + bounded auto-rerun: three consecutive driver rounds
    // produced contention artifacts (a co-running process inflating a
    // contiguous alphabetical block 15-35x on unchanged code). A burst that
    // hits some runs but not others shows up as max/min spread; re-measuring
    // once after the burst usually lands a clean min. Queries whose spread
    // stays >3x after the rerun are flagged in the JSON ("unstable") so the
    // artifact is visibly suspect instead of silently wrong.
    val spreadLimit = sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD", "3.0").toDouble
    val results = selected.map { case (name, fn) =>
      // DISCARDED warmup execution first: the initial run of a query pays
      // codegen compilation, JIT warmup, scratch-layout builds, and file
      // listing — deterministic one-time costs that are NOT the query.
      // Rounds 10/11 charged them to sample 1 of 2, so any co-running
      // process during sample 2 doubled the reported min on unchanged
      // code (q18 2.6 -> 4.4 s, q30 2.2 -> 4.9 s in r11 with untouched
      // plans). With the warmup off the books, every timed sample
      // measures a warm-process cold-cache run and the spread reflects
      // contention alone. A warmup failure records the error and skips
      // the timed runs (a broken query must not cost runs × timeout).
      val warm = timedRun(name, fn)
      var times =
        if (errors.contains(name)) Seq.empty[Double]
        else (0 until runs).map(_ => timedRun(name, fn)).filterNot(_.isNaN)
      // heavy queries get one extra sample: a contention burst that spans
      // both of two samples inflates the min SILENTLY (spread stays under
      // the rerun limit even though both numbers are wrong — observed
      // round 8/9: q18 min-of-2 5.2 s vs min-of-4 2.3 s on unchanged
      // code). One more run costs ~the query itself only where the query
      // is already expensive, and usually lands outside the burst.
      if (!errors.contains(name) && times.nonEmpty && times.min > 1.0 && times.size < 3)
        times = times ++ Seq(timedRun(name, fn)).filterNot(_.isNaN)
      def spread = if (times.size < 2) 1.0 else times.max / math.max(times.min, 1e-9)
      val rerun = !errors.contains(name) && times.nonEmpty && spread > spreadLimit
      if (rerun) times = times ++ (0 until runs).map(_ => timedRun(name, fn)).filterNot(_.isNaN)
      graft.ops.OpCaches.unpersistAll()
      val sec = if (errors.contains(name) || times.isEmpty) Double.NaN else times.min
      val mn = if (times.isEmpty) Double.NaN else times.min
      val mx = if (times.isEmpty) Double.NaN else times.max
      // trimmed median alongside min: a robust location estimate the
      // round-over-round comparison can fall back on when a burst does
      // slip past the warmup + rerun defenses
      val med = if (times.isEmpty) Double.NaN else {
        val s = times.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      // the final instability verdict drops the single largest sample —
      // warmup already absorbed the deterministic first-run cost, so what
      // this trims is a lone contention spike; a genuine sustained burst
      // inflates several samples and still exceeds the limit after
      // trimming
      val trimmed = if (times.size >= 3) times.sorted.dropRight(1) else times
      val unstable = trimmed.size >= 2 &&
        trimmed.max / math.max(trimmed.min, 1e-9) > spreadLimit
      System.err.println(f"[bench] $name $sec%.2f s (warm $warm%.2f, min $mn%.2f / med $med%.2f / max $mx%.2f" +
        (if (rerun) ", rerun" else "") + (if (unstable) ", UNSTABLE" else "") + ")" +
        errors.get(name).map(m => s" ERROR: $m").getOrElse(""))
      (name, sec, mn, mx, med, unstable)
    }
    def num(v: Double): String = if (v.isNaN) "-1" else v.toString

    // ROUND-OVER-ROUND SELF-ADJUDICATION (VERDICT r17 #3, r18 #2, r19
    // #1/#2): any query whose ANCHOR-RELATIVE time moved >2x against the
    // composite baseline — or that this run flagged unstable — gets an
    // automatic ISOLATED re-probe: a fresh single-query JVM (same flags
    // and classpath — run is forked, so java.class.path is the real app
    // classpath), med of 3 timed runs, reported in a `probes` block.
    // Round 17's headline "regression" (q109 "5.8x") was pure
    // suite-neighbor contention; round 18 probed ~8 queries of which ~6
    // were pure host-floor shift; round 19's capture proved one scalar
    // floor cannot represent NON-uniform contention (scan floor calm,
    // streaming 2-5x slow), hence the per-family anchor. Disabled inside
    // a probe child.
    val isProbe = sys.env.contains("SPARK_GRAFT_BENCH_PROBE")
    // BASELINE RECORDS (VERDICT r19 #1): the committed BENCH_DETAIL.json
    // plus the newest three driver BENCH_r*.json tails, each sf-guarded,
    // feed the per-query-min composite — a single contended capture
    // (r19's recorded q71 at 10.07 s vs a 2.66 s same-host hand-run)
    // can no longer become the sole baseline and mask a genuine
    // regression behind its inflated prev.
    def baselineRecords(): Seq[(String, BenchRec)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, BenchRec)]()
      val detail = new java.io.File("BENCH_DETAIL.json")
      if (detail.isFile) {
        val text = new String(
          java.nio.file.Files.readAllBytes(detail.toPath), "UTF-8")
        val sfOk = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(text)
          .exists(m => sfMatches(m.group(1), sfDir))
        if (sfOk) {
          val rec = parseQueriesAndFloor(text)
          if (rec.queries.nonEmpty && regimeOk(detail.getName, text, rec, fsMode))
            out += detail.getName -> rec
        }
      }
      // newest-first, stopping after three USABLE records — an unusable
      // capture (clipped tail with no surviving queries block, wrong sf)
      // must not consume a slot a quieter older record could fill
      val files = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => -"\\d+".r.findFirstIn(f.getName).map(_.toInt).getOrElse(0))
      var tailSlots = 3
      for (f <- files if tailSlots > 0) {
        // the tail blob is a JSON-escaped string (quotes arrive as \") —
        // unescape before matching; the COMPACT line's queries object is
        // the LAST one in the text. Same sf guard as the detail path
        // (the driver's own header records bare numbers — "sf": 0.1).
        val text = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .replace("\\\"", "\"")
        val sfOk = "\"sf\":\\s*\"?([^\",}]*)\"?".r.findAllMatchIn(text).toSeq
          .lastOption.exists(m => sfMatches(m.group(1), sfDir))
        if (sfOk) {
          val rec = parseQueriesAndFloor(text)
          if (rec.queries.nonEmpty && regimeOk(f.getName, text, rec, fsMode)) {
            out += f.getName -> rec; tailSlots -= 1
          }
        }
      }
      out.toSeq
    }
    // one probe child: runs the mover AND both floor anchors in the same
    // fresh JVM, so the probe's number is anchor-NORMALIZABLE — r18's
    // children read up to 5x high because the paused 32-thread parent
    // still held its session; the parent is now stopped before any fork
    // (below), and the in-child anchors let the record say "isolated
    // med = N x the child's own anchor" even if the host is busy.
    // Returns (moverMed, floorMed, floor2Med).
    def isolatedMed(name: String): (Double, Double, Double) = {
      import scala.jdk.CollectionConverters._
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq.filterNot(_.startsWith("-agentlib"))
      // resolve the JVM from java.home, not PATH — the bench may run
      // from a launcher whose environment never exported one
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java")
        .getAbsolutePath
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava
      val tmp = java.io.File.createTempFile("bench_probe_", ".out")
      try {
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_BENCH_PROBE", "1")
        // the ONLY filter is substring-match on full query names, so
        // "q12_text_stats" selects exactly the floor query (a bare
        // "q12" would also catch q120-q128)
        pb.environment().put("SPARK_GRAFT_BENCH_ONLY",
          (Seq(name, FloorQuery, FloorQuery2).distinct).mkString(","))
        pb.environment().put("SPARK_GRAFT_BENCH_RUNS", "3")
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.redirectOutput(tmp)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val proc = pb.start()
        if (!proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)) {
          proc.destroyForcibly(); return (Double.NaN, Double.NaN, Double.NaN)
        }
        val text = new String(
          java.nio.file.Files.readAllBytes(tmp.toPath), "UTF-8")
        def medOf(q: String): Double =
          ("\"" + java.util.regex.Pattern.quote(q) +
            "\":\\{\"min\":(-?[\\d.]+),\"med\":(-?[\\d.]+)").r
            .findFirstMatchIn(text).map(_.group(2).toDouble)
            .getOrElse(Double.NaN)
        (medOf(name), medOf(FloorQuery), medOf(FloorQuery2))
      } finally tmp.delete()
    }
    // contention self-diagnosis anchors: FloorQuery is a pure no-shuffle
    // codegen'd scan (the single-thread floor); FloorQuery2 is a pure
    // shuffle groupBy-count (the parallel floor). Each query's
    // anchor-ratio is scale-invariant across hosts.
    val floor = results.collectFirst {
      case (FloorQuery, s, _, _, _, _) if s > 0 => s }
    val floor2 = results.collectFirst {
      case (FloorQuery2, s, _, _, _, _) if s > 0 => s }
    // a probe child adjudicates nothing, and a cold-scans run has no
    // baseline of its own kind (baselineRecords reads cached-protocol
    // records only, against which every scan reads as a mover): both
    // skip the baseline and the probe pass
    val noBaseline = isProbe || coldScans
    val (baseFiles, baseline) =
      if (noBaseline) (Seq.empty[String], Map.empty[String, (Double, Double, Double)])
      else {
        val recs = baselineRecords()
        (recs.map(_._1), compositeBaseline(recs.map(_._2)))
      }
    // this-round anchor-ratio / baseline anchor-ratio, same anchor KIND
    // on both sides ([[coherentAnchors]]) — see [[floorRelOf]] for the
    // arithmetic and its degradations
    def floorRel(name: String, sec: Double): Double =
      baseline.get(short(name)) match {
        case None => Double.NaN
        case Some((prev, pf, pf2)) =>
          val (now, prevA) = coherentAnchors(name,
            floor.getOrElse(Double.NaN), floor2.getOrElse(Double.NaN),
            pf, pf2)
          floorRelOf(sec, prev, now, prevA)
      }
    def moveRatio(name: String, sec: Double): Double = {
      val r = floorRel(name, sec)
      if (r.isNaN) 1.0 else math.max(r, 1.0 / r)
    }
    // The probe pass runs AFTER every measurement but BEFORE any result
    // line is printed — a probe-infrastructure failure (unreadable
    // BENCH_r*.json, a JVM that cannot fork, a malformed budget env)
    // must degrade to "no probes", never abort a finished ~2-minute run
    // with its output unprinted. Probes protect the measurements'
    // interpretation; they must not be able to destroy the measurements.
    // Fatal JVM errors (OutOfMemoryError, InterruptedException) DO
    // propagate (ADVICE r18): a corrupted process must not print
    // results as if healthy.
    val probes: Seq[(String, Double, Double, Double, Double)] =
      if (noBaseline) Seq.empty else try {
      val movers = results.collect {
        case (name, sec, _, _, _, unstable)
            if moveRatio(name, sec) > 2.0 || (unstable && baseline.nonEmpty) =>
          (name, sec)
      }.sortBy { case (n, s) => -moveRatio(n, s) }.take(8)
      // the main session still holds 32 executor threads and the cached
      // input tables — r18's probe children read up to 5x high under
      // it (q78 16.97 s probed vs 3.24 s hand-run). All measurements
      // are done; release the machine before the first fork.
      if (movers.nonEmpty) {
        graft.ops.OpCaches.unpersistAll()
        spark.stop()
      }
      // GLOBAL probe budget: a contended host is exactly when many
      // queries look moved, and 8 probes x the per-child timeout must
      // not risk the driver's bench capture — biggest movers first,
      // remaining candidates dropped (visibly) once the budget is spent
      val budgetMs = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_BUDGET",
        "900").toLong * 1000
      val deadline = System.currentTimeMillis() + budgetMs
      movers.flatMap { case (name, sec) =>
        if (System.currentTimeMillis() >= deadline) {
          System.err.println(s"[bench] probe budget spent; skipping $name")
          None
        } else {
          System.err.println(f"[bench] probing $name (sec $sec%.2f vs prev " +
            f"${baseline.get(short(name)).map(_._1).getOrElse(Double.NaN)}%.2f, " +
            f"anchor-rel ${floorRel(name, sec)}%.2f)")
          var (iso, isoFloor, isoFloor2) = isolatedMed(name)
          // a probe child whose OWN tracked anchor reads >2x the main
          // pass's is itself contended — its mover number adjudicates
          // nothing (observed: a mid-pass host burst put one child's
          // floor at 3x and its mover at 9x the idle-host hand-run).
          // One retry, keeping whichever attempt saw the calmer host.
          // Child-vs-main compares the SAME anchor kind on both sides
          // ([[coherentAnchors]]; a child whose floor2 leg failed falls
          // back to scan-floor-vs-scan-floor, never floor1-vs-floor2).
          def childVsMain(cf: Double, cf2: Double): (Double, Double) =
            coherentAnchors(name, cf, cf2,
              floor.getOrElse(Double.NaN), floor2.getOrElse(Double.NaN))
          def contended(cf: Double, cf2: Double): Boolean = {
            val (c, m) = childVsMain(cf, cf2)
            !c.isNaN && !m.isNaN && c > 2 * m
          }
          if (contended(isoFloor, isoFloor2) &&
              System.currentTimeMillis() < deadline) {
            System.err.println(f"[bench] probe $name child anchor " +
              f"${childVsMain(isoFloor, isoFloor2)._1}%.4f > 2x main anchor " +
              "— contended child, retrying")
            val (iso2, isoF2, isoF22) = isolatedMed(name)
            val newC = childVsMain(isoF2, isoF22)._1
            val oldC = childVsMain(isoFloor, isoFloor2)._1
            if (!newC.isNaN && (oldC.isNaN || newC < oldC)) {
              iso = iso2; isoFloor = isoF2; isoFloor2 = isoF22
            }
          }
          val isoAnchor = childVsMain(isoFloor, isoFloor2)._1
          System.err.println(
            f"[bench] probe $name isolated med $iso%.2f s (child anchor " +
              f"$isoAnchor%.4f)")
          Some((short(name), sec,
            baseline.get(short(name)).map(_._1).getOrElse(Double.NaN),
            iso, isoAnchor))
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[bench] probe pass failed ($e); reporting without probes")
        Seq.empty
    }
    def probeNum(v: Double): String = if (v.isNaN) "-1" else jf("%.2f", v)
    def probesJsonOf(ps: Seq[(String, Double, Double, Double, Double)]): String =
      if (ps.isEmpty) ""
      else ps.map { case (k, sec, p, iso, isoAnchor) =>
        "\"" + k + "\":{\"sec\":" + probeNum(sec) + ",\"prev\":" +
          probeNum(p) + ",\"isolated\":" + probeNum(iso) +
          ",\"iso_floor\":" + (if (isoAnchor.isNaN) "-1"
            else jf("%.4f", isoAnchor)) + "}"
      }.mkString(",\"probes\":{", ",", "}")
    val probesJson = probesJsonOf(probes)
    val qs = results.map { case (k, v, _, _, _, _) => s"\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, mn, mx, med, unstable) =>
      s"\"" + k + "\":{\"min\":" + num(mn) + ",\"med\":" + num(med) +
        ",\"max\":" + num(mx) +
        (if (unstable) ",\"unstable\":true" else "") + "}"
    }.mkString(",\"runs\":{", ",", "}")
    val good = results.collect { case (_, v, _, _, _, _) if !v.isNaN => v }
    val total = good.sum
    // floor_ratios: each query / this run's scan floor (scale-invariant
    // across hosts — a run where EVERY ratio looks normal but the floor
    // itself is 4x is contended; one exploded ratio is a regression).
    // floor2_sec: the parallel anchor alongside it. floor_rel: this
    // round's ANCHOR-ratio / the composite baseline's (VERDICT r18 #2,
    // r19 #1/#2), with the per-query baseline pair in `baseline` so the
    // arithmetic is checkable from the artifact alone.
    val ratios = floor.map { f =>
      results.map { case (k, v, _, _, _, _) =>
        s"\"" + k + "\":" + (if (v.isNaN) "-1" else jf("%.2f", v / f))
      }.mkString(",\"floor_sec\":" + jf("%.4f", f) +
        floor2.map(f2 => ",\"floor2_sec\":" + jf("%.4f", f2)).getOrElse("") +
        ",\"floor_ratios\":{", ",", "}")
    }.getOrElse(floor2.map(f2 => ",\"floor2_sec\":" + jf("%.4f", f2))
      .getOrElse(""))
    val frel =
      if (baseline.isEmpty) ""
      else {
        // the emitted prev anchor is the one floorRel USED (the
        // coherent-kind prev side), so [prev, prev_anchor] + floor_sec/
        // floor2_sec reproduce each floor_rel entry from the artifact
        val baseJson = results.flatMap { case (k, _, _, _, _, _) =>
          baseline.get(short(k)).map { case (p, pf, pf2) =>
            val prevA = coherentAnchors(k,
              floor.getOrElse(Double.NaN), floor2.getOrElse(Double.NaN),
              pf, pf2)._2
            "\"" + short(k) + "\":[" + probeNum(p) + "," +
              (if (prevA.isNaN) "-1" else jf("%.4f", prevA)) + "]"
          }
        }.mkString(",\"baseline_files\":" +
          baseFiles.map("\"" + _ + "\"").mkString("[", ",", "]") +
          ",\"baseline\":{", ",", "}")
        baseJson + results.flatMap { case (k, v, _, _, _, _) =>
          val r = floorRel(k, v)
          if (r.isNaN) None else Some(s"\"" + k + "\":" + jf("%.2f", r))
        }.mkString(",\"floor_rel\":{", ",", "}")
      }
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val modeJson = s""","fs_mode":"$fsMode"""" +
      (if (coldScans) ",\"cold_scans\":true" else "")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$runsJson$ratios$frel$errJson$probesJson$modeJson,"sf":"$sfDir"}"""
    println(detail)
    // the driver's bench capture keeps only the LAST 2000 chars of output
    // (BENCH_r09.json: "tail": 2000) — the detailed line above is ~10 KB,
    // so its head would be truncated away; persist the full record to a
    // file (this is the committed permanent record), then print the
    // budgeted COMPACT line LAST (below). A FILTERED run
    // (SPARK_GRAFT_BENCH_ONLY) is a local iteration, not a full record —
    // writing it would clobber the committed full-suite baseline that
    // the composite baseline (and the judge) read
    if (!isProbe && only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(
        if (coldScans) "BENCH_DETAIL_COLD.json" else "BENCH_DETAIL.json"),
        (detail + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // COMPACT line BUDGET (the r18 lesson): the driver keeps the last
    // 2000 chars of output, and sbt appends its own ~80-char "[success]
    // Total time" line AFTER ours — r18's compact line carried spread
    // (~450 chars) + med (~450 chars) blocks and overflowed, clipping
    // its own head, so BENCH_r18.json's tail lost data. Spread, med,
    // min/max, floor_ratios, baseline, and floor_rel live ONLY in
    // BENCH_DETAIL.json (written above and committed every round — that
    // IS the permanent full record); the compact line keeps exactly what
    // round-over-round comparison needs inline: per-query seconds, both
    // floors, unstable flags, first errors. The degrade ladder
    // ([[fitCompact]]) guarantees the budget for any plausible suite
    // size, with a warning backstop beyond it.
    val sfName = new java.io.File(sfDir).getName
    val entries = results.map { case (k, v, _, _, _, _) => (k, v) }
    val unstableList = results.collect { case (k, _, _, _, _, true) => k }
    val errList = errors.toSeq
    def rung(prec: Int, dropErrors: Boolean, maxUnstable: Int)(): String =
      compactJson(prec, total, entries, unstableList, errList,
        floor, floor2, sfName, dropErrors, maxUnstable, fsMode, coldScans)
    val compact = fitCompact(Seq(
      rung(2, dropErrors = false, maxUnstable = Int.MaxValue) _,
      rung(1, dropErrors = false, maxUnstable = Int.MaxValue) _,
      rung(1, dropErrors = true, maxUnstable = Int.MaxValue) _,
      rung(1, dropErrors = true, maxUnstable = 8) _,
      rung(0, dropErrors = true, maxUnstable = 0) _))
    // probes go on their OWN line just before the compact line: the
    // driver keeps the last 2000 chars of output, and a separate line
    // degrades gracefully (its head clips first) instead of pushing the
    // compact line's head out of the tail window. The stdout line lists
    // probes in REVERSE significance order — head-clipping then eats
    // the least significant movers first, and the biggest (nearest the
    // tail) survive; BENCH_DETAIL.json keeps the full ordered set.
    if (probesJson.nonEmpty)
      println(s"""{"metric":"probes"${probesJsonOf(probes.reverse)}}""")
    println(compact)
    spark.stop() // idempotent if the probe pass already stopped it
    if (errors.nonEmpty) sys.exit(1)
  }
}
