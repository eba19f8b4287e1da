package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** INCREMENTAL sessionization: fold the event log one time-ordered batch
  * (a day, an hour) at a time, producing per-event session ids IDENTICAL
  * to a full-scan `sessionize` — without ever re-scanning history.
  *
  * Why this exists: at 100 TB the full-scan form re-sorts the entire log
  * per run, but session ids are append-stable — a new event can only
  * extend or follow the LAST session of its user, never relabel an old
  * one. So the whole history collapses into an O(users) stitch state:
  * (last event ts, sessions so far). Each new batch costs one window over
  * the BATCH plus a join against that tiny state — O(day), not O(log).
  * The same decomposition the q104 layout applies to storage, applied to
  * the computation.
  *
  * Exactness argument (q106 pins it under the oracle hash): within a
  * batch, local ids come from the same strictly-greater-gap rule as
  * `sessionize` (`src/sessionize.rs:310-312`); across the boundary, the
  * user's first batch event either continues the previous session
  * (boundary gap <= threshold → all local ids shift by sessions-1) or
  * opens a new one (shift by sessions). Events never arrive out of order
  * across batches — enforced per user, not assumed — so no other seam
  * exists.
  *
  * Storage contract (same generational style as Sinks.compactSortedBucketed):
  * each batch k writes `batch_k/out` (the sessionized events), `batch_k/state`
  * (the complete per-user stitch state AFTER the batch), then an atomic
  * `_BATCH_COMMITTED` marker. Recovery reaps marker-less batch dirs, so a
  * crashed append is invisible and re-running it is idempotent. Readers
  * union committed `out` dirs; the marker-last ordering means they never
  * see a partial batch.
  *
  * Daily ingest accretes one `batch_k` dir per run forever — the same
  * small-files problem the storage layout solves with its generational
  * fold — so [[compactBatches]] periodically folds all committed batches
  * into ONE: pure layout (the union of `out` data plus the latest
  * `state`, byte-equal answers), crash-safe the same way the append is.
  * The compacted batch's `_BATCH_COMMITTED` marker records WHICH batch
  * dirs it folded (an empty marker = a normal append), so a crash between
  * commit and cleanup cannot double-count a folded batch: readers and
  * recovery treat marker-listed dirs as gone even while they still exist.
  */
object IncrementalSession {

  private val LastTsCol = "__graft_last_ts"
  private val SessionsCol = "__graft_sessions"

  /** Append one time-ordered batch; returns the batch's row count.
    * `gap` follows `sessionize`'s rule: a strictly-greater inter-event gap
    * (microseconds) opens a new session. Batches must not interleave in
    * time per user (each user's new events at or after their last seen
    * ts) — violated input fails loudly rather than mislabeling. */
  def appendBatch(batch: DataFrame, baseDir: String, userCol: String,
      tsCol: String, gapMicros: Long,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs): Long =
    appendBatch(batch, baseDir, userCol, tsCol, gapMicros, _ => (),
      leaseStaleMs)

  /** `onStep` is the fault-injection seam IncrementalSessionSpec drives:
    * called at "recovered", "written", "committed". */
  private[graft] def appendBatch(batch: DataFrame, baseDir: String,
      userCol: String, tsCol: String, gapMicros: Long,
      onStep: String => Unit,
      leaseStaleMs: Long): Long = {
    require(gapMicros >= 0, s"gap must be >= 0 microseconds, got $gapMicros")
    val spark = batch.sparkSession
    val fs = fsOf(spark, baseDir)
    val base = new org.apache.hadoop.fs.Path(baseDir)
    // append and compact share the store's single-writer lease: both pick
    // the next batch number off the committed list, so any two concurrent
    // writers race it (readers need no lease — the marker protocol keeps
    // them exact throughout)
    graft.sources.Sinks.withSingleWriterLease(fs,
        GenerationalBatches.leasePath(base), leaseStaleMs) {
    // -- recover: reap marker-less (crashed) batch dirs, plus dirs a
    // committed compaction folded but crashed before deleting ------------
    val committed = GenerationalBatches.recover(fs, base)
    onStep("recovered")
    val prev = committed.sortBy(_._1).lastOption
    val state = prev.map { case (_, p) =>
      spark.read.parquet(new org.apache.hadoop.fs.Path(p, "state").toString) }

    // -- local session ids within the batch (the only window; over the
    // batch alone, never history) ----------------------------------------
    val u = col(userCol)
    val ts = unix_micros(col(tsCol))
    val w = Window.partitionBy(u).orderBy(col(tsCol))
    val local = batch
      .withColumn("__graft_prev", lag(col(tsCol), 1).over(w))
      .withColumn("__graft_local",
        sum(when(col("__graft_prev").isNull
            || ts - unix_micros(col("__graft_prev")) > gapMicros, 1L)
          .otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__graft_prev")
    local.persist()
    try {
    // -- stitch: per-user batch summary joined against the O(users) state
    // (the empty-delta and interleave gates ride the OUT WRITE below —
    // no separate checks pass over the batch)
    val summary = local.groupBy(u.as("__u"))
      .agg(min(ts).as("__first"), max(col(tsCol)).as("__last"),
        max(col("__graft_local")).as("__n"))
    val joined = state match {
      case Some(st) => summary.join(st, summary("__u") === st(userCol), "left")
      case None => summary.withColumn(LastTsCol, lit(null).cast("long"))
        .withColumn(SessionsCol, lit(null).cast("long"))
    }
    val adjusted0 = joined.select(col("__u"), col("__last"),
      coalesce(col(SessionsCol), lit(0L)).as("__base"),
      when(col(LastTsCol).isNotNull &&
        col("__first") - col(LastTsCol) <= gapMicros, 1L).otherwise(0L)
        .as("__merged"),
      col("__n"),
      // a batch event BEFORE the user's last seen ts would have needed to
      // relabel history — reject the batch instead of mislabeling it
      (col(LastTsCol).isNotNull && col("__first") < col(LastTsCol))
        .as("__violates"))
    val adjusted = adjusted0.persist()
    try {
    // -- write out WHILE checking; GenerationalBatches.publish verifies
    // and commits ---------------------------------------------------------
    // The empty-delta and interleave gates ride the out write itself via
    // observe() (the same one-pass shape as RollupStore's observed
    // ingest, guide §1.2): every out row carries its user's __violates
    // flag through the stitch join, so ONE job computes the session ids,
    // writes them, and aggregates the gates. The batch dir is
    // marker-less until commit, so a violating delta just deletes the
    // unpublished dir — readers never saw it.
    GenerationalBatches.publish(fs, base, committed, Nil, Set.empty, 0L,
        onStep) { batchPath =>
      // Output file sizing (guide §6): the windowed batch is PERSISTED, so
      // its partitioning is pinned at the session shuffle count and AQE
      // cannot coalesce the write; coalesce it to one partition per
      // `spark.sql.files.maxPartitionBytes` of the batch's estimated
      // bytes. The estimate precedes materialization, so it can run high
      // (a filter over a cached log estimates at the log's size) —
      // coalesce is capped by the actual partition count, so an
      // overestimate never writes more files than the shuffle count.
      val outParts = graft.sources.Sinks.autoFoldPartitions(
        local.queryExecution.optimizedPlan.stats.sizeInBytes,
        spark.sessionState.conf.filesMaxPartitionBytes)
      val outPath = new org.apache.hadoop.fs.Path(batchPath, "out")
      val m = graft.sources.Sinks.writeParquetObserved(
        local.join(adjusted.select(col("__u"), col("__base"), col("__merged"),
            col("__violates")),
            u === col("__u"))
          .withColumn("session_id",
            col("__graft_local") + col("__base") - col("__merged"))
          .drop("__u", "__base", "__merged", "__graft_local")
          .coalesce(outParts),
        outPath.toString,
        Seq(count(lit(1)).as("n"),
          max(when(col("__violates"), u)).as("bad")),
        dropCols = Seq("__violates"))
      val nBatch = graft.sources.Sinks.observedLong(m, "n")
      // an empty delta is a NORMAL day, not an error: it commits as a
      // no-op (state untouched), so a quiet-day nightly run succeeds and
      // subsequent batches are unaffected
      if (nBatch == 0) None
      else {
        val bad = m.get("bad").filter(_ != null)
        if (bad.nonEmpty) fs.delete(batchPath, true)
        require(bad.isEmpty,
          s"batch interleaves in time with history for user $bad; " +
            "incremental sessionize requires per-user time-ordered batches")
        val updated = adjusted.select(col("__u").as(userCol),
          unix_micros(col("__last")).as(LastTsCol),
          (col("__base") - col("__merged") + col("__n")).as(SessionsCol))
        val newState = state match {
          case Some(st) => updated.unionByName(
            st.join(updated.select(col(userCol).as("__u")),
              st(userCol) === col("__u"), "left_anti"))
          case None => updated
        }
        // the state carries EVERY user ever seen, not just this batch's —
        // a quiet day's tiny batch must not coalesce a year of accumulated
        // state into one file, so its sizing adds the previous state's
        // own on-disk bytes (one driver metadata call)
        val stateParts = graft.sources.Sinks.autoFoldPartitions(
          BigInt(prev.map { case (_, p) =>
            fs.getContentSummary(new org.apache.hadoop.fs.Path(p, "state"))
              .getLength }.getOrElse(0L)) +
            local.queryExecution.optimizedPlan.stats.sizeInBytes,
          spark.sessionState.conf.filesMaxPartitionBytes)
        newState.coalesce(stateParts).write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(batchPath, "state").toString)
        // the observed count and the out files' FOOTERS come from
        // independent machinery, so write loss shows as their
        // disagreement — no re-scan of what was just written
        Some(GenerationalBatches.Landed(nBatch,
          graft.sources.Sinks.parquetRowCount(fs, outPath,
            spark.sessionState.newHadoopConf())))
      }
    }
    } finally adjusted.unpersist()
    } finally local.unpersist()
    }
  }

  def compactBatches(spark: SparkSession, baseDir: String,
      targetPartitions: Int = 32,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs): Long =
    compactBatches(spark, baseDir, targetPartitions, _ => (), leaseStaleMs)

  /** Fold every committed batch into ONE — the store's generational
    * maintenance op, run after every N appends so the read path unions a
    * bounded directory list instead of one-per-ingest-forever. Pure
    * layout: the compacted batch's `out` is the union of the folded
    * `out`s (repartitioned to `targetPartitions` files — the small-file
    * fix), its `state` is the latest batch's state verbatim, so answers
    * and subsequent appends are byte-identical.
    *
    * Crash-ordering (the `Sinks.compactSortedBucketed` cycle; `onStep` is
    * IncrementalSessionSpec's fault-injection seam):
    *   recovered — crashed appends/compactions reaped, previously-folded
    *               dirs deleted;
    *   written   — `batch_<k+1>/out` + `/state` complete, count verified;
    *               no marker yet, so a crash here is invisible;
    *   committed — `_BATCH_COMMITTED` written listing the folded batch
    *               dir names: the compacted batch is now the truth, and
    *               readers stop seeing the folded dirs even though they
    *               still exist;
    *   cleaned   — folded dirs deleted.
    * Returns the compacted row count (0 with nothing to fold). */
  private[graft] def compactBatches(spark: SparkSession, baseDir: String,
      targetPartitions: Int, onStep: String => Unit,
      leaseStaleMs: Long): Long = {
    require(targetPartitions > 0,
      s"targetPartitions must be positive, got $targetPartitions")
    val fs = fsOf(spark, baseDir)
    val base = new org.apache.hadoop.fs.Path(baseDir)
    graft.sources.Sinks.withSingleWriterLease(fs,
        GenerationalBatches.leasePath(base), leaseStaleMs) {
    val committed = GenerationalBatches.recover(fs, base).sortBy(_._1)
    onStep("recovered")
    if (committed.isEmpty) return 0L
    val hconf = spark.sessionState.newHadoopConf()
    if (committed.size == 1)
      return graft.sources.Sinks.parquetRowCount(fs,
        new org.apache.hadoop.fs.Path(committed.head._2, "out"), hconf)
    // ONE multi-path scan, not a reduce of unions: at daily-ingest
    // horizons the fold may span hundreds of dirs, and a union chain
    // that deep costs the analyzer per dir while this stays one node
    val all = spark.read.parquet(committed.map { case (_, p) =>
      new org.apache.hadoop.fs.Path(p, "out").toString }: _*)
    // the fold-input count from the inputs' own footers — the fold's one
    // data scan is the rewrite itself, not bookkeeping
    val expected = committed.map { case (_, p) =>
      graft.sources.Sinks.parquetRowCount(fs,
        new org.apache.hadoop.fs.Path(p, "out"), hconf) }.sum
    GenerationalBatches.publish(fs, base, committed, committed, Set.empty,
        0L, onStep) { batchPath =>
      val outPath = new org.apache.hadoop.fs.Path(batchPath, "out")
      // coalesce, not repartition: the fold is pure LAYOUT (union the out
      // dirs into <= targetPartitions files) and the scan's splits are
      // already the right rows — a repartition would move every byte
      // through a full shuffle (plus the keyless round-robin's
      // sort-before-repartition, SPARK-23207) only to land them in files
      // again (guide §2.4: an exchange that exists only to make layout).
      all.coalesce(targetPartitions).write.mode("overwrite")
        .parquet(outPath.toString)
      // the latest state IS the post-fold state: it already reflects every
      // folded batch (each append writes the COMPLETE per-user state) — so
      // carry it forward as a VERBATIM byte copy (driver-side FileUtil, no
      // Spark job to decode and re-encode parquet whose bytes are already
      // exactly right)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(committed.last._2, "state"), fs,
        new org.apache.hadoop.fs.Path(batchPath, "state"), false, hconf)
      Some(GenerationalBatches.Landed(expected,
        graft.sources.Sinks.parquetRowCount(fs, outPath, hconf)))
    }
    }
  }

  /** Committed, not-yet-reaped batch dirs the store should serve. How many
    * directories a reader's union spans — q107 pins that compaction
    * actually shrinks it. */
  def liveBatchCount(spark: SparkSession, baseDir: String): Int = {
    val fs = fsOf(spark, baseDir)
    GenerationalBatches.liveBatches(fs, new org.apache.hadoop.fs.Path(baseDir))
      .size
  }

  /** All committed sessionized events (the union never sees a crashed
    * batch — the marker is written last — nor a batch a committed
    * compaction already folded, even if its dir still exists).
    *
    * The DataFrame is LAZY over the resolved dir list: readers take no
    * lease, so a plan held across a concurrent compaction's commit+cleanup
    * can hit deleted files when finally acted on — an availability error
    * (FileNotFoundException), never wrong data. Act on the plan promptly;
    * for maintenance-concurrent readers, `RollupStore.read(snapshot=true)`
    * shows the eager-file-listing variant of this protocol, and a table
    * format (Iceberg/Delta) is the production answer for true snapshot
    * isolation on object stores.
    *
    * Metadata contract (why no `_MANIFEST` here, unlike RollupStore):
    * this store's nightly compaction folds history back to ONE batch
    * (IncrementalSessionSpec pins it), so a read lists O(1) directories
    * — and each batch is O(events), so the scan, not the listing,
    * dominates. A manifest would save one listStatus per read while
    * adding a second commit artifact to keep consistent across the
    * out/state subdir pair; the trade only pays at the rollup store's
    * years-of-grains metadata scale, where it is implemented. */
  def read(spark: SparkSession, baseDir: String): DataFrame = {
    val fs = fsOf(spark, baseDir)
    val outs = GenerationalBatches.liveBatches(fs,
        new org.apache.hadoop.fs.Path(baseDir))
      .sortBy(_._1)
      .map { case (_, p) => new org.apache.hadoop.fs.Path(p, "out").toString }
    require(outs.nonEmpty, s"no committed batches under $baseDir")
    spark.read.parquet(outs: _*)
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
}
