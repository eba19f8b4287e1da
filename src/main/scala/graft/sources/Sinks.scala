package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table sink: the storage-layout half of co-located joins.
  *
  * `writeBucketed` persists a frame hash-partitioned into `nBuckets` files
  * per partition by the bucket keys (Spark's Hive-compatible bucketing:
  * `bucketBy` + `sortBy`, registered in the session catalog with an
  * explicit external path so nothing lands in a default warehouse).
  * A join or aggregation whose keys cover the bucket keys then plans
  * WITHOUT an Exchange on the bucketed side(s) — at 100 TB that deletes
  * the single largest cost of a fact-fact join: both shuffles. Writing
  * the layout costs one shuffle-equivalent up front and amortizes over
  * every downstream join against it, which is the standard warehouse
  * trade (layout once, join forever).
  *
  * Reference scope note: the reference engine (DuckDB extension) inherits
  * DuckDB's storage and has no bucketing concept; this is Spark-native
  * scale plumbing, same category as `writeIvfPartitioned`.
  */
object Sinks {

  /** Fixed per-PROCESS scratch directory for layout experiments (bucketed
    * copies, stress indexes). A fresh `createTempDirectory` per execution
    * accumulates unbounded /tmp residue when the bench harness runs a
    * query several times — instead each name maps to ONE stable path that
    * is overwritten (not duplicated) by repeated runs within the JVM and
    * recursively deleted at JVM exit. The root is scoped by pid so two
    * concurrently running harness JVMs (bench + verify, or two users on
    * one host) never share — and therefore never wipe — each other's live
    * scratch data; residue from a crashed (kill -9) sibling is reaped on
    * first use by checking its pid is no longer alive. Safe to call from
    * concurrent query executions. */
  def scratchDir(name: String): String =
    scratchRoots.computeIfAbsent(name, _ => {
      val p = processScratchRoot.resolve(name)
      java.nio.file.Files.createDirectories(p)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursive(p)))
      p
    }).toString

  private val scratchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** `<tmpdir>/graft_scratch/pid_<pid>` — created once per JVM; on first
    * use, sibling `pid_*` roots whose process is gone (crashed without
    * running its shutdown hooks) are deleted so abnormal exits don't
    * accumulate residue the way the old clear-on-first-use did, without
    * the old scheme's cross-process wipe hazard. */
  private lazy val processScratchRoot: java.nio.file.Path = {
    val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_scratch")
    val pid = ProcessHandle.current().pid()
    if (java.nio.file.Files.isDirectory(base)) {
      val sibs = base.toFile.listFiles()
      if (sibs != null) sibs.foreach { f =>
        val n = f.getName
        val deadSibling = n.startsWith("pid_") && n != s"pid_$pid" &&
          n.stripPrefix("pid_").toLongOption.exists { sibPid =>
            val h = ProcessHandle.of(sibPid)
            !(h.isPresent && h.get.isAlive)
          }
        // non-pid entries are residue of the pre-pid flat layout (older
        // builds wrote <base>/<name> directly); no current process writes
        // them, so they are always safe to reap
        val legacy = !n.startsWith("pid_")
        if (deadSibling || legacy) deleteRecursive(f.toPath)
      }
    }
    val p = base.resolve(s"pid_$pid")
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** Best-effort recursive delete: per-file IOExceptions are swallowed —
    * right for shutdown-hook cleanup and stale-residue reaping, where a
    * locked file must not abort the JVM exit or the caller. Paths whose
    * continued existence the caller depends on (the compaction swap) use
    * [[deleteRecursiveStrict]] instead. */
  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch {
          case _: java.io.IOException => ()
        })
    }

  /** Recursive delete that SURFACES failure: if any entry survives, throws
    * with the leftover paths instead of returning with the directory
    * half-deleted — a caller about to move something into `p`'s place must
    * know `p` is really gone, not discover it via a confusing
    * DirectoryNotEmpty from the subsequent move. */
  private def deleteRecursiveStrict(p: java.nio.file.Path): Unit = {
    deleteRecursive(p)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val left = java.nio.file.Files.walk(p).iterator().asScala.take(5).toSeq
      throw new java.io.IOException(
        s"could not fully delete $p; leftovers include: ${left.mkString(", ")}")
    }
  }

  /** Write `df` as a bucketed external parquet table at `path`, replacing
    * any previous table of the same name. Keys order matters: joins
    * co-locate when their keys cover the bucket keys with equal bucket
    * counts on both sides. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      nBuckets: Int, key: String, moreKeys: String*): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // no manual location clear needed: CTAS in overwrite mode replaces the
    // external location's files itself (mutation-verified — removing a
    // pre-clear changes nothing observable), and scratchDir clears any
    // previous JVM's residue on first use
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog,
    * so this must go through the table name, not the path). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** The SORT-ELIDING event layout: exactly ONE file per bucket, each
    * sorted by (bucketKey, sortKeys...). `writeBucketed` already deletes
    * the exchange from key-clustered plans; with one sorted file per
    * bucket the scan additionally reports its sort order, so a window or
    * sort-consuming aggregate over (bucketKey, sortKeys...) plans with
    * ZERO exchanges AND ZERO sorts — for sort-dominated behavioral
    * queries (sessionize: the sort is ~all of its 100M-row cost) the
    * layout replaces the whole per-query sort with one at write time.
    *
    * Mechanics: `repartition(nBuckets, bucketKey)` aligns write tasks
    * with bucket ids (both are murmur3-pmod on the key), so each bucket's
    * rows land in exactly one task → one file; enforced post-write. The
    * scan-side ordering claim is gated by Spark behind
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (planner default
    * changed in 3.0 because multi-file buckets would need a merge);
    * [[readBucketedSorted]] enables it — Spark still claims ordering ONLY
    * for single-file buckets, so leaving the conf on is safe for every
    * other scan in the session.
    *
    * The trade vs `writeBucketed`: write parallelism is capped at
    * `nBuckets` (one task per bucket) and buckets must fit a task — size
    * `nBuckets` to the cluster, same rule as shuffle partitions. */
  def writeBucketedSortedSingleFile(df: DataFrame, table: String,
      path: String, nBuckets: Int, bucketKey: String,
      sortKeys: String*): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(bucketKey))
      .write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketKey)
      .sortBy(bucketKey, sortKeys: _*)
      .saveAsTable(table)
    // Hadoop FS listing, not java.io: this sink is a production path and
    // must verify its invariant on hdfs:// and s3a:// locations too
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val nFiles = fs.listStatus(hp)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(nFiles <= nBuckets,
      s"expected <= $nBuckets files (one per bucket), found $nFiles at $path" +
        " — the repartition/bucket hash alignment broke; the scan would" +
        " silently stop claiming its sort order")
  }

  /** Read a [[writeBucketedSortedSingleFile]] table with the scan-side
    * ordering claim enabled (see there for why the conf is safe to leave
    * on session-wide). */
  def readBucketedSorted(spark: SparkSession, table: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    spark.table(table)
  }

  // --------------------------------------------------------------------
  // INGEST CYCLE for the sort-eliding layout. The layout's invariant
  // (one sorted file per bucket) cannot absorb appends in place — a
  // second file per bucket silently forfeits the scan's ordering claim
  // and the per-query sort returns. So ingest works the way every
  // LSM/snapshot store's does:
  //   1. deltas LAND cheaply via [[stageSortedDelta]] — plain parquet
  //      append into a staging directory; no shuffle, no sort, arrival
  //      cost O(delta);
  //   2. readers between compactions use [[readSortedWithStaging]] —
  //      the ANSWER stays exact, the PLAN degrades gracefully (the
  //      union drops the scan's partitioning/ordering claims, so the
  //      per-query exchange+sort return until the next compaction);
  //   3. [[compactSortedBucketed]] folds staging into a new GENERATION
  //      directory (`gen_<k+1>` under the base dir) and re-points the
  //      table — one shuffle+sort, amortized over every query until the
  //      next delta. Generations make the rewrite crash-safe without
  //      ever overwriting the directory a reader may be scanning: a
  //      generation is visible only once its `_GEN_COMMITTED` marker
  //      exists, and the marker records which staged files it folded so
  //      a crash between "new gen committed" and "staging cleared"
  //      cannot double-fold a delta on the next run. Single compactor
  //      at a time (the usual table-maintenance contract) — ENFORCED by
  //      the create-exclusive `_COMPACT_LEASE` marker (see
  //      withSingleWriterLease: fail-fast on contention, stale takeover
  //      on a crashed holder); readers are safe concurrently with it on
  //      stores with atomic marker creation.
  // --------------------------------------------------------------------

  /** Land a delta batch in the staging directory. O(delta): no shuffle,
    * no sort — the cost of making it queryable moves to the next
    * [[compactSortedBucketed]].
    *
    * The write `coalesce`s to one partition per
    * `spark.sql.files.maxPartitionBytes` of the delta's ESTIMATED bytes
    * (round 22, guide §6 / VERDICT r21 #3): unsized, a delta inherits its
    * source's partitioning — typically the session's core count — so file
    * counts scaled with CORES, not data (32 near-empty staged files per
    * slice at local[32], 4x fewer at local[8]: the q104 inverse-core-
    * scaling the round-21 work cured in IncrementalSession, applied here).
    * Every staged file is later listed, footer-read, and folded, so the
    * per-file cost is paid several times over. coalesce, not repartition:
    * staging is layout-only, a shuffle would be pure overhead. */
  def stageSortedDelta(delta: DataFrame, stagingDir: String): Unit = {
    val parts = autoFoldPartitions(
      delta.queryExecution.optimizedPlan.stats.sizeInBytes,
      delta.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    delta.coalesce(parts).write.mode("append").parquet(stagingDir)
  }

  /** Merge-on-read view: the sorted main table plus any not-yet-folded
    * staging rows. Exact answers at any point in the ingest cycle; the
    * zero-exchange/zero-sort plan claim only holds again after the next
    * compaction (the union erases the scan's layout guarantees). */
  def readSortedWithStaging(spark: SparkSession, table: String,
      stagingDir: String): DataFrame = {
    val main = readBucketedSorted(spark, table)
    if (stagingParquetFiles(spark, stagingDir).nonEmpty)
      main.unionByName(
        spark.read.schema(main.schema).parquet(stagingDir))
    else main
  }

  def compactSortedBucketed(spark: SparkSession, table: String,
      baseDir: String, stagingDir: String, nBuckets: Int,
      bucketKey: String, sortKeys: String*): Long =
    compactSortedBucketed(spark, table, baseDir, stagingDir, nBuckets,
      bucketKey, sortKeys, _ => ())

  /** Fold staging into a fresh generation of the sorted-bucketed layout
    * and re-point `table` at it. Returns the new generation's row count.
    *
    * Crash-ordering (each step leaves a recoverable state; `onStep` is
    * the fault-injection seam SortedIngestSpec drives):
    *   recover  — reap uncommitted generation dirs (partial writes) and
    *              older committed generations (crash before cleanup);
    *              delete staged files the latest committed generation's
    *              marker says it already folded (crash before staging
    *              clear) — this is what makes re-running idempotent;
    *   written  — gen_<k+1> data + table registration complete, counts
    *              verified against main+staging; marker NOT yet written,
    *              so a crash here makes the next run reap it and redo;
    *   committed— `_GEN_COMMITTED` written with the folded staging file
    *              names; the generation is now the truth;
    *   cleaned  — folded staging files and the previous generation
    *              removed.
    * The filesystem (not the catalog) is the source of truth: a crash
    * between `writeBucketedSortedSingleFile`'s DROP TABLE and its
    * saveAsTable leaves the table unregistered, but the committed
    * generation survives and the next compaction re-registers it. */
  private[graft] def compactSortedBucketed(spark: SparkSession,
      table: String, baseDir: String, stagingDir: String, nBuckets: Int,
      bucketKey: String, sortKeys: Seq[String],
      onStep: String => Unit): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(baseDir)
    val fs = base.getFileSystem(hconf)
    // the whole recover->fold->commit->clean cycle runs under the
    // single-writer lease: two concurrent compactors would both pass
    // recovery and race the generation number
    withSingleWriterLease(fs,
      new org.apache.hadoop.fs.Path(base, "_COMPACT_LEASE")) {
    // -- recover -------------------------------------------------------
    val gens =
      if (fs.exists(base))
        fs.listStatus(base).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen_"))
          .flatMap(st => st.getPath.getName.stripPrefix("gen_").toLongOption
            .map(_ -> st.getPath))
      else Seq.empty
    val committed = gens.filter { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_GEN_COMMITTED")) }
    // partial writes (no marker) are garbage from a crashed run
    gens.filterNot(committed.contains).foreach { case (_, p) =>
      fs.delete(p, true) }
    val latest = committed.sortBy(_._1).lastOption
    // older committed gens survive only a crash before step "cleaned"
    committed.filter(g => latest.exists(_._1 > g._1)).foreach { case (_, p) =>
      fs.delete(p, true) }
    latest.foreach { case (_, p) =>
      foldedFiles(fs, p).foreach { name =>
        fs.delete(new org.apache.hadoop.fs.Path(stagingDir, name), false) } }
    onStep("recovered")
    // -- fold ----------------------------------------------------------
    val stagedNow = stagingParquetFiles(spark, stagingDir)
    val main = latest.map { case (_, p) => spark.read.parquet(p.toString) }
    if (stagedNow.isEmpty && main.isDefined &&
        spark.catalog.tableExists(table))
      // nothing to fold; table already current — report the count from
      // the committed generation's parquet footers (driver metadata),
      // not a full re-scan job (round 22, guide §1.2)
      return latest.map { case (_, p) => parquetRowCount(fs, p, hconf) }
        .getOrElse(0L)
    require(stagedNow.nonEmpty || main.isDefined,
      s"nothing to compact: no staging data at $stagingDir and no " +
        s"committed generation under $baseDir")
    val staged = if (stagedNow.isEmpty) None else Some {
      val schema = main.map(_.schema)
      schema.fold(spark.read)(s => spark.read.schema(s))
        .parquet(stagingDir)
    }
    val all = (main, staged) match {
      case (Some(m), Some(s)) => m.unionByName(s)
      case (Some(m), None)    => m
      case (None, Some(s))    => s
      case (None, None)       => sys.error("unreachable")
    }
    // ONE pass (round 22, guide §1.2; the same observed-write-vs-footer
    // verification as RollupStore/compactParquet since round 21): the
    // fold previously paid a count() scan of main, a count() scan of
    // staging, the rewrite, and a FOURTH full scan of the new generation
    // just to compare the numbers. Now the rewrite itself observes the
    // union's row count as it flows (what SHOULD be on disk), and the
    // new generation's parquet footers report what IS on disk — write
    // loss still fails the require, with three full scans removed per
    // compaction.
    val nextGen = latest.map(_._1 + 1).getOrElse(0L)
    val genPath = new org.apache.hadoop.fs.Path(base, s"gen_$nextGen")
    val obs = org.apache.spark.sql.Observation()
    writeBucketedSortedSingleFile(
      all.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")),
      table, genPath.toString, nBuckets, bucketKey, sortKeys: _*)
    val expected = observedLong(obs.get, "n")
    val written = parquetRowCount(fs, genPath, hconf)
    require(written == expected,
      s"generation rewrite changed the row count ($expected -> $written);" +
        s" gen_$nextGen left uncommitted, previous state intact")
    onStep("written")
    // -- commit --------------------------------------------------------
    publishFile(fs, new org.apache.hadoop.fs.Path(genPath, "_GEN_COMMITTED"),
      stagedNow.mkString("\n"))
    onStep("committed")
    // -- clean ---------------------------------------------------------
    stagedNow.foreach { name =>
      fs.delete(new org.apache.hadoop.fs.Path(stagingDir, name), false) }
    latest.foreach { case (_, p) => fs.delete(p, true) }
    onStep("cleaned")
    expected
    }
  }

  /** Staged parquet file NAMES (not paths) — the unit the commit marker
    * records and the clean step deletes. */
  private def stagingParquetFiles(spark: SparkSession,
      stagingDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
  }

  private def foldedFiles(fs: org.apache.hadoop.fs.FileSystem,
      genPath: org.apache.hadoop.fs.Path): Seq[String] = {
    val marker = new org.apache.hadoop.fs.Path(genPath, "_GEN_COMMITTED")
    if (!fs.exists(marker)) Seq.empty
    else {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Write `df` date-partitioned on `to_date(tsCol)` — the standard
    * event-log layout: one directory per day, so any time-sliced query
    * (the dominant access pattern for behavioral data) PRUNES whole
    * partitions at planning time instead of scanning the full log. The
    * complement of `writeBucketed`: bucketing kills the per-query
    * key shuffle, date partitioning kills the per-query time scan. At
    * 100 TB a 7-day funnel over a 3-year log reads ~0.6% of the files. */
  def writeDatePartitioned(df: DataFrame, path: String,
      tsCol: String = "ts"): Unit =
    df.withColumn("event_date",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col(tsCol)))
      .write.mode("overwrite").partitionBy("event_date").parquet(path)

  /** Read a date-partitioned log back; `event_date` filters prune. */
  def readDatePartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The combined production layout: directory-partitioned on `partCol`
    * AND bucketed by `key` within each partition. A time-sliced
    * behavioral query then prunes whole day-directories at planning time
    * AND aggregates with zero exchanges — both layout levers in one
    * table. `partCol` must already exist on `df` (e.g. a `to_date(ts)`
    * column), because it leaves the file schema and becomes directory
    * structure. */
  def writePartitionedBucketed(df: DataFrame, table: String, path: String,
      partCol: String, nBuckets: Int, key: String): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .partitionBy(partCol)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Compact a fragmented parquet directory in place: incremental ingest
    * (digest/MinHash/SimHash/IVF appends) accretes one small file batch at
    * a time, and at 100 TB the listing + per-file open cost of thousands
    * of KB-sized files eventually dominates the probe itself. Rewrites
    * the data into `targetPartitions` files in a sibling temp directory,
    * VERIFIES the row count survived, then swaps via MOVE-ASIDE:
    * `path -> path.compact_old`, `tmp -> path`, delete `.compact_old`.
    * A crash between ANY two steps leaves a complete copy of the data at
    * `path` or at `path.compact_old` (CompactionSpec injects a failure at
    * every step boundary and asserts exactly that) — delete-then-move
    * would instead leave a window where `path` is simply absent. A
    * verification failure leaves the original untouched. Returns the row
    * count.
    *
    * The swap goes through the Hadoop FileSystem API (like
    * [[writeBucketedSortedSingleFile]]'s file-count check), so the same
    * code runs on `file://`, `hdfs://`, and `s3a://` locations. On HDFS a
    * directory rename is atomic and the crash invariant holds exactly as
    * on a local disk; on S3A rename is copy+delete (not atomic), so for
    * object stores a table format's commit (Iceberg/Delta rewrite-files)
    * remains the production answer — the verify-then-swap contract is the
    * part that carries over. */
  def compactParquet(spark: SparkSession, path: String,
      targetPartitions: Int,
      leaseStaleMs: Long = DefaultLeaseStaleMs): Long =
    compactParquet(spark, path, targetPartitions, _ => (), leaseStaleMs)

  /** `onStep` is a fault-injection seam for CompactionSpec: called with a
    * step name at each swap-step boundary ("verified", "moved-aside",
    * "swapped") so a test can simulate a crash at every point and check
    * the recovery invariant. Production callers use the 3-arg overload. */
  private[graft] def compactParquet(spark: SparkSession, path: String,
      targetPartitions: Int, onStep: String => Unit,
      leaseStaleMs: Long): Long = {
    require(targetPartitions > 0,
      s"targetPartitions must be positive, got $targetPartitions")
    val dst = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".compact_old")
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    // single-writer lease as a SIBLING (not inside `dst` — the swap
    // renames that directory away mid-cycle and would carry the lease
    // with it): two concurrent compactions would race the three-way swap
    withSingleWriterLease(fs,
      new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".compact_lease"),
      leaseStaleMs) {
    // a leftover .compact_old means a previous compaction crashed mid-swap;
    // if `path` also exists the swap completed (or never started) and the
    // leftover is pure residue — reap it. If `path` does NOT exist the
    // previous crash landed between move-aside and swap: recover by
    // restoring the old copy before reading anything.
    if (fs.exists(old)) {
      if (fs.exists(dst)) hadoopDeleteStrict(fs, old)
      else hadoopRename(fs, old, dst)
    }
    val before = spark.read.parquet(dst.toString)
    hadoopDeleteStrict(fs, tmp)
    // ONE job: the rewrite itself observes its input row count — the old
    // separate count() was a second full scan of the directory being
    // compacted (guide §1.2: no extra passes)
    val n = observedLong(writeParquetObserved(
      before.repartition(targetPartitions), tmp.toString,
      Seq(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))), "n")
    // footer-metadata verify of the rewrite, no re-scan (parquetRowCount)
    val nAfter = parquetRowCount(fs, tmp, spark.sessionState.newHadoopConf())
    require(nAfter == n,
      s"compaction row count changed ($n -> $nAfter); original left untouched at $path")
    onStep("verified")
    hadoopRename(fs, dst, old)
    onStep("moved-aside")
    hadoopRename(fs, tmp, dst)
    onStep("swapped")
    hadoopDeleteStrict(fs, old)
    n
    }
  }

  /** Row count of a written parquet directory from FILE FOOTERS — the
    * maintenance cycles' post-write verification
    * (IncrementalSession/RollupStore) without re-scanning the data they
    * just wrote. The footer is written with (and after) the data, so a
    * truncated or partial file fails to parse here — the count either
    * reflects complete files or the verify step throws. At 100 TB this is
    * the difference between a metadata read per file (file counts are
    * bounded by `targetPartitions`) and re-reading the whole output after
    * every ingest. The one thing it does not re-verify is page-level
    * payload corruption, which the full-scan verify would only catch
    * incidentally anyway — checksums are the storage layer's job. */
  private[graft] def parquetRowCount(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val files = fs.listStatus(dir).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    // each footer is an independent ~ms metadata read — on an object
    // store an RPC — so a multi-file batch verified serially pays
    // files x latency on the driver after every ingest
    inParallel(files) { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Driver-side parallelism for metadata reads (footers, manifests,
    * listings). Sized for object-store RPC latency hiding, small enough
    * not to trip request-rate throttles (S3 allows thousands of GETs/s
    * per prefix; 16 concurrent opens is far under any limit). */
  private val MetadataReadParallelism = 16

  /** Run `f` over `xs` on a bounded pool, preserving order; the first
    * failure propagates with its ORIGINAL exception (unwrapped from the
    * pool's ExecutionException) so callers' error contracts are the same
    * as the serial loop's. Single-element and empty inputs stay on the
    * calling thread — no pool churn on the common pruned-dashboard read
    * of one grain. */
  private[graft] def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.lengthCompare(1) <= 0) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(MetadataReadParallelism, xs.size))
    try {
      val futures = xs.map { x =>
        pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        })
      }
      futures.map { fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }

  /** Write `df` as parquet at `path` while computing the given AGGREGATE
    * metrics IN THE SAME JOB via `observe` (CollectMetrics). This is the
    * single-pass form of the maintenance cycles' persist/count/write
    * triple: the old shape paid one job to materialize the cache, one per
    * bookkeeping aggregate, and one to write — and the persist pinned the
    * cached plan's shuffle partitioning, defeating AQE's small-partition
    * coalescing, so a tiny delta still wrote one file per shuffle
    * partition (32 near-empty files whose footers every verify then had
    * to read). One observed write = one pass over the data, no cache
    * memory, and AQE-coalesced output file counts that scale with the
    * data instead of the partition config. Returns the observed metrics
    * row keyed by each metric's alias (a metric over zero rows yields
    * count 0 / sum NULL, exactly like any empty aggregate). */
  private[graft] def writeParquetObserved(df: DataFrame, path: String,
      metrics: Seq[org.apache.spark.sql.Column],
      partitionBy: Seq[String] = Nil,
      dropCols: Seq[String] = Nil): Map[String, Any] = {
    val obs = org.apache.spark.sql.Observation()
    // dropCols are gate-only inputs (e.g. a per-row violation flag): the
    // metrics see them, the files must not — the observe node sits below
    // the project, so the same single job serves both
    val w = df.observe(obs, metrics.head, metrics.tail: _*)
      .drop(dropCols: _*)
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
    obs.get
  }

  /** A LONG metric off a [[writeParquetObserved]] row; NULL (an aggregate
    * over zero rows) reads as `orElse`. */
  private[graft] def observedLong(row: Map[String, Any], key: String,
      orElse: Long = 0L): Long =
    row.get(key) match {
      case Some(n: Number) => n.longValue()
      case _ => orElse
    }

  /** Partition count for a fold/stage write sized by BYTES: one partition
    * per `bytesPerPartition` (callers pass
    * `spark.sql.files.maxPartitionBytes`, so one knob governs scan splits
    * and write sizing), clamped to [1, 4096]. A FIXED count cannot be
    * right across a store's life — 32 partitions on a year-long backfill
    * fold puts tens of GB in one shuffle partition (spill, OOM, a single
    * straggler task), while 32 on a single quiet day's delta writes 32
    * near-empty files whose footers every verify then re-reads. Lives
    * here so the Sinks-layer ingest paths and the stores share one rule
    * without a sources->ops dependency. */
  private[graft] def autoFoldPartitions(totalBytes: BigInt,
      bytesPerPartition: Long): Int = {
    require(bytesPerPartition > 0,
      s"bytesPerPartition must be positive, got $bytesPerPartition")
    val want = (totalBytes + bytesPerPartition - 1) / bytesPerPartition
    want.max(1).min(4096).toInt
  }

  /** Default single-writer lease expiry. A maintenance run expected to
    * outlive this (a 100 TB compaction) should pass a larger `staleMs`
    * to its store API — an expired-but-alive holder can be legitimately
    * usurped, and while the fencing keeps the lease file consistent, two
    * writers mutating one store is exactly what the lease exists to
    * prevent. */
  val DefaultLeaseStaleMs: Long = 60L * 60 * 1000

  private val leaseCreateMutex = new Object

  /** The `pid=…/host=…/start_ms=…/token=…` lines of a lease file, or
    * None if it does not exist (or vanishes mid-read: a concurrent
    * release between the exists check and the open throws
    * FileNotFoundException, which IS the vanished-holder case, not an
    * acquire failure). */
  private def readLeaseFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Map[String, String]] =
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v); case _ => None
        }).toMap)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Claim a lease judged stale, by atomic rename — never by blind
    * delete: with delete, two racing takeovers interleave as
    * T1-delete/T1-create/T2-delete(T1's FRESH lease!)/T2-create — two
    * concurrent holders. Rename removes the source atomically, so at
    * most one racer claims the file. The claimed file is then VERIFIED
    * against the content the caller judged stale (`observed`): between
    * that read and the rename the stale holder can have released and a
    * NEW writer acquired, in which case the file just renamed away is
    * the new holder's FRESH lease — destroying it would admit two
    * writers. Mirror of the release path's fencing: matching content is
    * deleted (the genuine stale lease), anything else is renamed back;
    * if the restore loses to a third writer's create in that instant the
    * claimed file is dropped and the store keeps exactly one current
    * lease (the newest holder's — same overlap caveat as release,
    * documented there). Whether or not this racer's claim won, everyone
    * retries the create-exclusive, which is the single arbiter of who
    * acquires. */
  private[graft] def claimStaleLease(fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path, observed: Map[String, String],
      token: String): Unit = {
    val grave = new org.apache.hadoop.fs.Path(
      lease.getParent, s".${lease.getName}.stale-$token")
    val won = try fs.rename(lease, grave)
      catch { case _: java.io.IOException => false }
    if (won) {
      if (readLeaseFile(fs, grave).contains(observed)) fs.delete(grave, false)
      else if (!fs.rename(grave, lease)) fs.delete(grave, false)
    }
  }

  /** Run `body` holding a SINGLE-WRITER lease: an atomic create-exclusive
    * marker file recording pid + host + start time. The maintenance
    * cycles document "one compactor at a time" — two concurrent
    * compactions could both pass recovery and race the generation
    * number — and this enforces it: a second writer finds the marker and
    * fails fast with a clear error instead of corrupting the store.
    *
    * Takeover: a lease whose holder is provably gone (its pid is dead,
    * checked only when the lease was taken on THIS host) or older than
    * `staleMs` is stale — a crashed compactor must not wedge the store
    * forever. The takeover itself re-runs the atomic create, so two
    * simultaneous takeover attempts still end with exactly one winner.
    *
    * `FileSystem.create(overwrite = false)` is atomic on HDFS and a
    * local FS; on S3A it is conditional-put-backed on recent Hadoop —
    * where it isn't, use an external lock service (the contract carried
    * over is lease-then-write). */
  private[graft] def withSingleWriterLease[T](
      fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path,
      staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val token = acquireLease(fs, lease, staleMs)
    try body finally releaseLease(fs, lease, token)
  }

  /** Hold SEVERAL single-writer leases at once — the grained store's
    * RANGE STRIPING: one stripe file per touched grain, so maintenance
    * over DISJOINT grain ranges runs concurrently while overlapping
    * ranges still serialize. Acquired strictly in the order given (every
    * grained call site sorts by grain value, so two ops with overlapping
    * ranges collide on their first SHARED stripe instead of
    * deadlocking); a failed acquisition releases everything already held
    * before rethrowing, and release runs in reverse order — contention
    * never leaves orphan stripes behind. Every per-stripe release is
    * ATTEMPTED even when an earlier one throws (a transient IOException
    * from one fs.delete must not abandon the remaining stripes until the
    * staleMs usurpation horizon); the first release error is rethrown
    * after all attempts — or suppressed under the body's own error, which
    * stays primary (a body exiting via non-local `return` counts as
    * success: the release error is rethrown, never silently attached to
    * the suppression-disabled ControlThrowable). Each stripe carries the
    * full fencing protocol of [[withSingleWriterLease]]. */
  private[graft] def withLeases[T](
      fs: org.apache.hadoop.fs.FileSystem,
      leases: Seq[org.apache.hadoop.fs.Path],
      staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val held =
      new scala.collection.mutable.ArrayBuffer[
        (org.apache.hadoop.fs.Path, String)]()
    var primary: Throwable = null
    try {
      leases.foreach(p => held += p -> acquireLease(fs, p, staleMs))
      body
    } catch { case e: Throwable => primary = e; throw e }
    finally {
      var releaseErr: Throwable = null
      // a non-local `return` from the body unwinds as a ControlThrowable
      // built with suppression DISABLED — addSuppressed on it is a no-op
      // and the release error would vanish; treat that exit as the
      // body-succeeded case (the error is rethrown, replacing the return)
      val suppressible = primary != null &&
        !primary.isInstanceOf[scala.util.control.ControlThrowable]
      held.reverseIterator.foreach { case (p, t) =>
        try releaseLease(fs, p, t)
        catch { case e: Throwable =>
          if (suppressible) primary.addSuppressed(e)
          else if (releaseErr == null) releaseErr = e
          else releaseErr.addSuppressed(e)
        }
      }
      if (releaseErr != null) throw releaseErr
    }
  }

  /** Acquire the lease (the first half of [[withSingleWriterLease]],
    * whose scaladoc is the contract); returns the fencing token the
    * matching [[releaseLease]] must present. */
  private[graft] def acquireLease(
      fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path,
      staleMs: Long): String = {
    val pid = ProcessHandle.current().pid()
    val host = java.net.InetAddress.getLocalHost.getHostName
    // FENCING token, unique per acquisition: a holder that outlives
    // `staleMs` can be legitimately usurped (time-based expiry is the only
    // liveness signal a remote host offers), and its release must then be
    // a NO-OP — an unconditional delete would remove the USURPER's lease
    // and admit a third concurrent writer. Call sites whose body can
    // legitimately run long should pass a larger `staleMs` instead of
    // relying on the default.
    val token = s"$pid-${java.util.UUID.randomUUID()}"
    // leaseCreateMutex serializes the create-exclusive across THREADS of
    // this JVM: LocalFileSystem's create(overwrite = false) is an
    // exists-check-then-create (a TOCTOU window two same-process writers
    // can race through); cross-PROCESS the FS's own create is the arbiter
    // (atomic on HDFS, conditional-put-backed on recent S3A)
    def tryAcquire(): Boolean = leaseCreateMutex.synchronized {
      try {
        val out = fs.create(lease, false)
        try out.write(
          s"pid=$pid\nhost=$host\nstart_ms=${System.currentTimeMillis()}\ntoken=$token\n"
            .getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
    if (!tryAcquire()) {
      val h = readLeaseFile(fs, lease)
      val stale = h match {
        case None => true // holder released between our create and read
        case Some(m) =>
          val deadPid = m.get("host").contains(host) &&
            m.get("pid").flatMap(_.toLongOption).exists { p =>
              val ph = ProcessHandle.of(p)
              !(ph.isPresent && ph.get.isAlive)
            }
          val expired = m.get("start_ms").flatMap(_.toLongOption)
            .exists(System.currentTimeMillis() - _ > staleMs)
          deadPid || expired
      }
      if (!stale)
        throw new IllegalStateException(
          s"another compactor holds the lease at $lease" +
            h.map(m => s" ($m)").getOrElse("") +
            "; the maintenance cycle runs one writer at a time")
      h.foreach(observed => claimStaleLease(fs, lease, observed, token))
      if (!tryAcquire())
        throw new IllegalStateException(
          s"another compactor holds the lease at $lease" +
            h.map(m => s" ($m)").getOrElse("") +
            "; the maintenance cycle runs one writer at a time")
    }
    token
  }

  /** Release a lease acquired by [[acquireLease]], presenting its
    * fencing token. */
  private[graft] def releaseLease(
      fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path,
      token: String): Unit = {
    // FENCED release, also by atomic claim: rename the lease away, verify
    // the claimed file carries THIS acquisition's token, then delete.
    // Read-then-delete would leave a window where a (legitimately usurping)
    // writer's fresh lease lands between the read and the delete and gets
    // deleted; rename removes exactly one concrete file. If the claimed
    // file turns out to be a usurper's, it is put back; should a THIRD
    // writer have created a fresh lease in that instant, the restore fails
    // and the usurper's file is dropped — the store still has exactly one
    // current lease (the newest holder's), never zero-protection. That
    // "one current lease" is a FILE invariant, not a no-overlap
    // guarantee: between the rename and the restore, a create-exclusive
    // can succeed while the usurper's BODY is still running — two writers
    // briefly overlap. File-based leases cannot close that window without
    // a compare-and-swap primitive; it opens only after a legitimate
    // expiry-based usurpation (i.e. after a holder exceeded `staleMs` —
    // size `staleMs` to the job, see DefaultLeaseStaleMs), and long-lived
    // or object-store deployments should use an external lock service, as
    // the acquire-side scaladoc already directs.
    val grave = new org.apache.hadoop.fs.Path(
      lease.getParent, s".${lease.getName}.release-$token")
    val claimed = try fs.rename(lease, grave)
      catch { case _: java.io.IOException => false }
    if (claimed) {
      val ours = readLeaseFile(fs, grave)
        .exists(_.get("token").contains(token))
      if (ours) fs.delete(grave, false)
      else if (!fs.rename(grave, lease)) fs.delete(grave, false)
    }
  }

  /** Publish a small metadata file (a commit marker, manifest or
    * genesis) ATOMICALLY: the text goes to a `.`-prefixed temp file
    * beside `dst`, any old `dst` is deleted, and the temp is renamed into
    * place. Create-write-close on `dst` itself would expose a crash
    * window in which the file exists TRUNCATED — a commit marker that
    * lists only part of what it folded. The temp name is `.`-prefixed,
    * so a crashed leftover is invisible to readers and parquet scans
    * alike; writers hold the path's single-writer lease, so nothing
    * contends for the final name. Deleting first lets a replacement
    * land (rename onto an existing path fails on HDFS) and opens a brief
    * absent window, which every reader treats as "not yet written".
    * Atomic wherever rename is; the S3A caveat is stated on
    * `GenerationalBatches.publish`. */
  private[graft] def publishFile(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, text: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    hadoopRename(fs, tmp, dst)
  }

  /** Rename that SURFACES failure: Hadoop's `FileSystem.rename` reports
    * most failure modes (missing source, existing destination on some
    * stores) by returning false, and a swap step that silently didn't
    * happen would break the crash invariant the caller documents. */
  private[graft] def hadoopRename(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Recursive delete that SURFACES failure, Hadoop-FS edition of
    * [[deleteRecursiveStrict]]: a caller about to move something into
    * `p`'s place must know `p` is really gone. */
  private def hadoopDeleteStrict(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(p) && (!fs.delete(p, true) || fs.exists(p)))
      throw new java.io.IOException(s"could not fully delete $p")

  /** Reset a scratch dataset directory (recursive delete, SURFACING
    * failure): the rebuild companion for incrementally-appended indexes —
    * a fresh append-driven build (q101) must start from empty, or the
    * appends of successive runs accumulate. */
  def clearDir(path: String): Unit =
    deleteRecursiveStrict(java.nio.file.Paths.get(path))

  /** Session-unique catalog name for a scratch table: stable across
    * re-executions within one SparkContext (so overwrites land on the
    * same table) but distinct across sessions — fixed names would collide
    * between concurrent sessions sharing a metastore. */
  def sessionTable(spark: SparkSession, base: String): String =
    s"${base}_${math.abs(spark.sparkContext.applicationId.hashCode.toLong)}"
}
