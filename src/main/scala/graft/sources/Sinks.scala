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
    * locked file must not abort the JVM exit or the caller. A caller that
    * must know the path is gone ([[clearDir]]) uses
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
  //      append into a staging directory; no shuffle, no sort, no lease,
  //      arrival cost O(delta), so deltas keep landing during a fold;
  //   2. [[compactSortedBucketed]] folds the live generation plus the
  //      staged files it listed into a new GENERATION — a `batch_<k>` of
  //      the generational protocol under the base dir, published by
  //      `GenerationalBatches.publish` under the store's writer lease.
  //      Its marker, written last, names the generation and the staged
  //      files it folded; only then is the table re-pointed at it;
  //   3. readers between compactions use [[readSortedWithStaging]] — the
  //      latest live generation plus the staged files no committed marker
  //      folded. The ANSWER is exactly the committed rows at every step
  //      of a fold, and after a crash at any of them; the PLAN degrades
  //      gracefully (the union drops the scan's partitioning/ordering
  //      claims, so the per-query exchange+sort return until the next
  //      compaction).
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

  /** Merge-on-read view: the latest live generation plus every staged
    * file no committed marker has folded — exactly the committed rows at
    * any point of the ingest cycle. The generation is read through
    * `table` (the bucketed scan) when the table points at it, and by path
    * when a fold committed but has not re-pointed the table yet. The
    * zero-exchange/zero-sort plan claim only holds again after the next
    * compaction (the union erases the scan's layout guarantees). */
  def readSortedWithStaging(spark: SparkSession, table: String,
      stagingDir: String): DataFrame = {
    val main = readBucketedSorted(spark, table)
    val at = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location)
    val fs = at.getFileSystem(spark.sessionState.newHadoopConf())
    val live = graft.ops.GenerationalBatches.liveBatches(fs, at.getParent)
    require(live.nonEmpty, s"no committed generation beside $at")
    val gen = live.maxBy(_._1)._2
    val current =
      if (fs.makeQualified(at) == gen) main
      else spark.read.schema(main.schema).parquet(gen.toString)
    val folded = graft.ops.GenerationalBatches.foldedDirs(fs, live)
    val staged = stagingParquetFiles(spark, stagingDir).filterNot(folded)
    if (staged.isEmpty) current
    else current.unionByName(spark.read.schema(main.schema).parquet(
      staged.map(n => new org.apache.hadoop.fs.Path(stagingDir, n).toString): _*))
  }

  def compactSortedBucketed(spark: SparkSession, table: String,
      baseDir: String, stagingDir: String, nBuckets: Int,
      bucketKey: String, sortKeys: String*): Long =
    compactSortedBucketed(spark, table, baseDir, stagingDir, nBuckets,
      bucketKey, sortKeys, _ => ())

  /** Fold the staged deltas into a fresh generation of the
    * sorted-bucketed layout and re-point `table` at it. Returns the new
    * generation's row count.
    *
    * Crash-ordering (`onStep` is the fault-injection seam SortedIngestSpec
    * drives; the steps after "recovered" are `GenerationalBatches.publish`'s):
    *   recovered — `GenerationalBatches.recover` reaped marker-less
    *               generations and folded ones, and the staged files a
    *               live marker names are deleted — what makes re-running
    *               idempotent;
    *   written   — `batch_<k>` holds the live generation plus the listed
    *               staged files, footer count verified against the fold's
    *               observed count; no marker, so a crash here is
    *               invisible and the next run reaps it;
    *   committed — the marker names the folded generation and staged
    *               files: the new generation is the truth for every
    *               reader; the table is re-pointed after this step;
    *   cleaned   — folded generation and staged files deleted.
    * The filesystem (not the catalog) is the source of truth: every
    * compaction, a no-op included, re-points the table at the latest live
    * generation, which heals a crash between a commit and its re-point. */
  private[graft] def compactSortedBucketed(spark: SparkSession,
      table: String, baseDir: String, stagingDir: String, nBuckets: Int,
      bucketKey: String, sortKeys: Seq[String],
      onStep: String => Unit): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(baseDir)
    val fs = base.getFileSystem(hconf)
    def repoint(): Unit = {
      val gen = graft.ops.GenerationalBatches.liveBatches(fs, base)
        .maxBy(_._1)._2
      val keys = (bucketKey +: sortKeys).map(k => s"`$k`").mkString(", ")
      val cols = spark.read.parquet(gen.toString).schema.toDDL
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      spark.sql(s"CREATE TABLE `$table` ($cols) USING parquet " +
        s"CLUSTERED BY (`$bucketKey`) SORTED BY ($keys) " +
        s"INTO $nBuckets BUCKETS LOCATION '$gen'")
    }
    withSingleWriterLease(fs, graft.ops.GenerationalBatches.leasePath(base)) {
      val live = graft.ops.GenerationalBatches.recover(fs, base)
      val folded = graft.ops.GenerationalBatches.foldedDirs(fs, live)
      stagingParquetFiles(spark, stagingDir).filter(folded).foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(stagingDir, n), false) }
      onStep("recovered")
      // the fold reads exactly the files it lists — and its marker names
      // exactly those: a delta landing mid-fold waits for the next one
      val staged = stagingParquetFiles(spark, stagingDir)
        .map(n => new org.apache.hadoop.fs.Path(stagingDir, n))
      require(staged.nonEmpty || live.nonEmpty,
        s"nothing to compact: no staging data at $stagingDir and no " +
          s"committed generation under $baseDir")
      if (staged.isEmpty) {
        // nothing to fold: report the count from the generation's parquet
        // footers (driver metadata), not a full re-scan job
        repoint()
        live.map { case (_, p) => parquetRowCount(fs, p, hconf) }.sum
      } else {
        // one multi-path scan of the generation and the staged files
        // (parquet resolves columns by name, so file column order is moot)
        val all = spark.read.parquet(
          (live.map(_._2) ++ staged).map(_.toString): _*)
        // ONE pass: the rewrite observes the fold's row count as it flows
        // (what SHOULD be on disk) and the generation's footers report
        // what IS — write loss fails publish's check, no re-scan
        val obs = org.apache.spark.sql.Observation()
        // a staged file folds like a batch dir (publish names it in the
        // marker and deletes it at clean); it has no batch number
        graft.ops.GenerationalBatches.publish(fs, base, live,
            live ++ staged.map(-1L -> _), Set.empty, 0L, onStep,
            afterCommit = repoint()) { batchPath =>
          // bucketed files can only be written through the catalog: a
          // landing name carries the write and is dropped (an external
          // table — its files stay), so `table` is never re-pointed at a
          // generation that is not committed yet
          val landing = s"${table}_landing"
          writeBucketedSortedSingleFile(
            all.observe(obs, org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n")),
            landing, batchPath.toString, nBuckets, bucketKey, sortKeys: _*)
          spark.sql(s"DROP TABLE IF EXISTS `$landing`")
          Some(graft.ops.GenerationalBatches.Landed(observedLong(obs.get, "n"),
            parquetRowCount(fs, batchPath, hconf)))
        }
      }
    }
  }

  /** Staged parquet file NAMES (not paths) — the unit a generation's
    * marker records and its clean step deletes. */
  private def stagingParquetFiles(spark: SparkSession,
      stagingDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
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

  /** `spark.read.parquet(path)` without its schema-inference job. The
    * schema comes from one driver-side footer read, through the
    * conversion Spark's inference applies under the session conf: the
    * Spark schema the writer stored, else the parquet types under the
    * session's binaryAsString / int96 / NTZ / nanosAsLong settings. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat.readSchemaFromFooter(firstFooter(spark, path),
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .parquet(path)

  /** The footer of the first parquet data file under `path` (itself when
    * it is one), skipping `_`/`.`-prefixed files as Spark's listing does.
    * Like inference without `mergeSchema`, callers take every file to
    * share its schema. */
  private[graft] def firstFooter(spark: SparkSession,
      path: String): org.apache.parquet.hadoop.Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(conf).listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      val n = f.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try return new org.apache.parquet.hadoop.Footer(f, reader.getFooter)
        finally reader.close()
      }
    }
    throw new IllegalArgumentException(s"no parquet data file under $path")
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
    * stores) by returning false, and a publish step that silently didn't
    * happen would break the crash invariant the caller documents. */
  private[graft] def hadoopRename(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

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
