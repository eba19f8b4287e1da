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
  * the BATCH plus one SEAM ROW per known user — O(day + users), not
  * O(log). The same decomposition the q104 layout applies to storage,
  * applied to the computation.
  *
  * Exactness argument (q106 pins it under the oracle hash): each state
  * row joins the batch as its user's seam row — the last seen event, at
  * `ts = last_ts`, weighing `sessions`. One window per user, ordered by
  * ts with the seam first among equal ts, runs `sessionize`'s own
  * strictly-greater-gap rule (`src/sessionize.rs:310-312`): a batch event
  * weighs 1 (a new session) when its predecessor is absent or more than
  * the gap earlier, else 0, and the running sum of the weights is the
  * global session id — the full scan's, since the seam IS the predecessor
  * the full scan sees and stands in for the `sessions` before it. Events
  * never arrive out of order across batches — an event before its user's
  * seam is rejected, not assumed away — so no other seam exists. Each
  * user's last row (the seam itself if the batch missed them) is their
  * new state row.
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
  private val PrevCol = "__graft_prev"
  private val LastRowCol = "__graft_last_row"
  private val SidCol = "__graft_sid"
  private val ViolatesCol = "__graft_violates"

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
    val prevState = committed.sortBy(_._1).lastOption.map { case (_, p) =>
      new org.apache.hadoop.fs.Path(p, "state") }

    // -- the one window: the batch plus each known user's seam row (a
    // non-null SessionsCol marks it), labeled in one pass ---------------
    val rows = prevState match {
      case Some(st) => batch.unionByName(
        graft.sources.Sinks.readParquet(spark, st.toString).select(
          col(userCol), timestamp_micros(col(LastTsCol)).as(tsCol),
          col(SessionsCol)),
        allowMissingColumns = true)
      case None => batch.withColumn(SessionsCol, lit(null).cast("long"))
    }
    val seam = col(SessionsCol).isNotNull
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(SessionsCol).asc_nulls_last)
    val labeled = rows
      .withColumn(PrevCol, lag(col(tsCol), 1).over(w))
      // a batch event BEFORE its user's last seen ts would have needed to
      // relabel history: the out write's gate rejects the batch instead
      .withColumn(ViolatesCol, col(tsCol) < max(when(seam, col(tsCol)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn(LastRowCol, lead(lit(1), 1).over(w).isNull)
      .withColumn(SidCol, sum(when(seam, col(SessionsCol))
          .when(col(PrevCol).isNull || unix_micros(col(tsCol)) -
            unix_micros(col(PrevCol)) > gapMicros, 1L)
          .otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // `labeled` is not persisted: each of the two writes below re-runs the
    // batch's exchange and window. On perfbench store_ingest (4 cores, 4
    // alternating pairs) persisting it raised the live-heap median 1.6 %
    // (94.0 -> 95.5 MB) and lowered p50 latency in only 1 of 4 pairs.

    // -- write out WHILE checking (the empty-delta and interleave gates
    // ride the out write via observe(), guide §1.2); publish verifies and
    // commits. The batch dir is marker-less until commit, so a violating
    // delta just deletes the unpublished dir — readers never saw it.
    GenerationalBatches.publish(fs, base, committed, Nil, Set.empty, 0L,
        onStep) { batchPath =>
      // Output file sizing (guide §6): one partition per
      // `spark.sql.files.maxPartitionBytes` of the batch's estimated
      // bytes. The estimate precedes materialization, so it can run high
      // (a filter over a cached log estimates at the log's size) —
      // coalesce is capped by the actual partition count, so an
      // overestimate never writes more files than the shuffle count.
      val batchBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val internal = Seq(SessionsCol, PrevCol, LastRowCol, SidCol)
      val outPath = new org.apache.hadoop.fs.Path(batchPath, "out")
      val m = graft.sources.Sinks.writeParquetObserved(
        labeled.filter(!seam)
          .withColumn("session_id", col(SidCol))
          .drop(internal: _*)
          .coalesce(graft.sources.Sinks.autoFoldPartitions(batchBytes, maxBytes)),
        outPath.toString,
        Seq(count(lit(1)).as("n"),
          max(when(col(ViolatesCol), col(userCol))).as("bad")),
        dropCols = Seq(ViolatesCol))
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
        // the state carries EVERY user ever seen, not just this batch's —
        // a quiet day's tiny batch must not coalesce a year of accumulated
        // state into one file, so its sizing adds the previous state's
        // own on-disk bytes (one driver metadata call)
        val stateParts = graft.sources.Sinks.autoFoldPartitions(
          BigInt(prevState.map(fs.getContentSummary(_).getLength)
            .getOrElse(0L)) + batchBytes, maxBytes)
        labeled.filter(col(LastRowCol))
          .select(col(userCol), unix_micros(col(tsCol)).as(LastTsCol),
            col(SidCol).as(SessionsCol))
          .coalesce(stateParts).write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(batchPath, "state").toString)
        // the observed count and the out files' FOOTERS come from
        // independent machinery, so write loss shows as their
        // disagreement — no re-scan of what was just written
        Some(GenerationalBatches.Landed(nBatch,
          graft.sources.Sinks.parquetRowCount(fs, outPath,
            spark.sessionState.newHadoopConf())))
      }
    }
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
