package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructType}

/** An INCREMENTALLY-INGESTED STATE TABLE: the rollup pattern
  * (q105/q108–q116 — fold the raw log once into mergeable partials,
  * answer dashboards from the partials) made maintainable. Each ingest
  * run appends one batch of `(key columns..., state)` rows built with a
  * state producer (`funnel_state`/`next_node_state` emit BINARY,
  * `retention_state` BIGINT); dashboard queries read the union and
  * re-merge with the matching `*_merge`, whose window/mode/pattern/
  * direction arguments live at MERGE time — so one store serves every
  * variant of its family.
  *
  * Why a store and not just a parquet dir: daily ingest accretes (a) one
  * directory per run forever — the small-files wall — and (b) MULTIPLE
  * partial rows per (key, grain), so every dashboard query re-pays the
  * union of all history. [[compact]] periodically folds both back: all
  * committed batches collapse to ONE batch holding ONE row per key, the
  * partials folded state-to-state with the family's combine twin
  * (`funnel_state_combine` / `next_node_state_combine` /
  * `retention_state_combine`) — the raw event log is NEVER rescanned.
  * Exactness is the combine twins' associativity argument (multiset
  * union over the event buffer, see `FunnelStateCombineAgg`): any fold
  * tree merges to the answer a raw scan would give, which
  * RollupStoreSpec and q118 pin oracle-side at every step of the cycle.
  *
  * Replay safety: an ingest may tag itself with an `ingestId` — the
  * idempotence key for at-least-once delivery channels. Spark's
  * `foreachBatch` documents that a restarted query RE-DELIVERS its last
  * micro-batch with the same batchId; an id-tagged append whose id the
  * store has already committed is a committed no-op (exactly like the
  * empty delta), so the redelivery cannot double-append its partials —
  * which would change answers for every multiset family (funnel /
  * sequence / next-node; only retention's OR happens to be idempotent).
  * Ids are recorded in the batch's `_INGEST_IDS` file durable with the
  * commit marker and carried forward through compaction, so the guard
  * survives any number of folds (StreamingRollupIngestSpec pins the
  * same-id re-invoke, including after a mid-stream compaction).
  *
  * Layout: one sub-store per grain value (`day=2024-01-05/…`, see
  * [[appendStatesByGrain]]), each a self-contained
  * [[GenerationalBatches]] store. Maintenance touches only the grains it
  * names — [[compactGrains]] folds a RANGE (compact = O(touched grains),
  * not O(store)), [[dropGrains]] retires old grains atomically, and
  * [[readGrains]] prunes unqueried grains' files at listing time — the
  * difference between a store that survives years of daily ingest at
  * 100 TB and one whose every maintenance run re-folds all history. A
  * FLAT store ([[appendStates]], [[compact]], [[read]], [[regrain]]) is
  * the same layout with one fixed grain: the flat ops add the constant
  * column `graft_flat = 'all'` on the way in, drop it on the way out, and
  * so run on the one sub-store `graft_flat=all`. A store whose root holds
  * `batch_*` dirs (the retired flat layout) is not migrated; every op
  * refuses it by name.
  *
  * Storage protocol: [[GenerationalBatches]] — the same marker-last
  * commit, folded-dir tombstones, crashed-dir recovery, and single-writer
  * lease the incremental session store uses, crash-matrixed by both
  * specs. Every op takes one lease STRIPE per grain it touches
  * (`_WRITER_LEASE.g-<hex>` at the store root, acquired in sorted grain
  * order): maintenance over DISJOINT grain ranges runs concurrently — a
  * month-long backfill compaction does not stop the streaming ingest's
  * next append — while overlapping ranges collide fail-fast on their
  * first shared stripe (the lease never blocks, so there is nothing to
  * deadlock; the sorted order just makes the collision point
  * deterministic). The store's state family is pinned by a one-time
  * STORE-GENESIS marker (see [[ensureGenesis]]): written under its own
  * root stripe before any grain stripe is taken and verified by every
  * ingest as a string compare, so two simultaneous FIRST ingests with
  * different families cannot both create a mixed store (one writes the
  * genesis, the other fails loudly against it). Readers take no lease; a
  * read that must not straddle a compaction's cleanup window should
  * snapshot (see [[read]]) — and `cleanupDelayMs` on the maintenance ops
  * turns that cleanup cliff into a bounded grace window (folded files
  * linger, dead but readable, until the fold's commit is older than the
  * window).
  *
  * Read metadata is BOUNDED by a manifest per sub-store
  * ([[GenerationalBatches.Manifest]]): every maintenance op rewrites,
  * after its last commit, one `_MANIFEST` file per touched sub-store
  * listing its live batches, ingest ids, and data files. [[readGrains]]
  * and [[read]] resolve through the manifest with ONE file read — no
  * per-batch listStatus/marker/ingest-id reads — and pin exactly the
  * manifest's files (a built-in snapshot); a missing manifest falls back
  * to listing. Writers never consult manifests (recovery and the replay
  * guard re-list — the marker protocol stays the truth), so a crash
  * between a commit and the manifest rewrite costs readers only
  * staleness: they serve the previous committed snapshot until the next
  * maintenance op heals it — and the heal runs FIRST thing after that
  * op's recover() (see [[healManifestIfStale]]), so a stale manifest
  * whose files recovery deletes is rewritten before the op's Spark job,
  * not after it.
  *
  * Object stores: ingest and compaction publish each grain by RENAMING a
  * staged partition dir into its batch dir — see
  * [[GenerationalBatches.publish]] for what that means on S3A.
  *
  * At 100 TB: the store is O(keys × grain) — dashboard-sized by
  * construction — while the log it summarizes is O(events); ingest costs
  * one scan of the DELTA, compaction one scan of the touched grains, and
  * queries never touch the log.
  */
/** One row of [[RollupStore.stats]]: the metadata a maintenance
  * scheduler or capacity dashboard reads per sub-store. `grain` is the
  * grain value; a flat store has one row, for its fixed grain `all`. */
case class StoreGrainStats(
    grain: String,
    live_batches: Int,
    dead_dirs: Int,
    data_files: Int,
    bytes: Long,
    dead_bytes: Long,
    ingest_ids: Int,
    manifest: String)

object RollupStore {

  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Append one batch of state rows (`keyCols` + a BINARY `stateCol`;
    * exactly those columns, so every batch unions cleanly) to a flat
    * store: [[appendStatesByGrain]] on its one fixed grain. Returns the
    * row count. NULL states are refused at the door: inside the store a
    * NULL state is indistinguishable from "key absent in this batch",
    * and the producer aggregates never emit one anyway.
    *
    * `ingestId` is the optional idempotence key: an id the store has
    * already committed makes the whole call a committed no-op returning
    * 0 — wire `foreachBatch`'s batchId through it (e.g.
    * `Some(s"$queryName/$batchId")`) and a restarted stream's redelivery
    * of its last micro-batch lands exactly once. The guard assumes
    * Spark's redelivery contract (same id = same data). */
  def appendStates(states: DataFrame, baseDir: String,
      keyCols: Seq[String], stateCol: String = "state",
      ingestId: Option[String] = None,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs,
      cleanupDelayMs: Long = 0L): Long =
    appendStates(states, baseDir, keyCols, stateCol, ingestId, _ => (),
      leaseStaleMs, cleanupDelayMs)

  private[graft] def appendStates(states: DataFrame, baseDir: String,
      keyCols: Seq[String], stateCol: String, ingestId: Option[String],
      onStep: String => Unit,
      leaseStaleMs: Long, cleanupDelayMs: Long): Long = {
    requireStateBatch(states, keyCols, stateCol)
    appendStatesByGrain(states.withColumn(FlatGrainCol, lit(FlatGrain)),
      baseDir, flatKeys(keyCols, stateCol), FlatGrainCol, stateCol,
      ingestId, onStep, leaseStaleMs, cleanupDelayMs)
  }

  /** The fixed grain of a FLAT store: the flat ops add this constant
    * column on the way in and drop it on the way out, so a flat store is
    * the one sub-store `graft_flat=all` of the grained layout. */
  private[graft] val FlatGrainCol = "graft_flat"
  private[graft] val FlatGrain = "all"

  private[graft] def flatDir(base: Path): Path =
    new Path(base, grainDirName(FlatGrainCol, FlatGrain))

  /** A flat store's key columns plus its fixed grain column. */
  private def flatKeys(keyCols: Seq[String], stateCol: String): Seq[String] = {
    require(!(keyCols :+ stateCol).contains(FlatGrainCol),
      s"$FlatGrainCol is the flat store's reserved grain column")
    keyCols :+ FlatGrainCol
  }

  /** [[appendStates]] for a GRAIN-PARTITIONED store: the delta is split
    * by `grainCol` (one of `keyCols`) and lands as one batch per grain
    * value under `baseDir/<grainCol>=<value>/` — each grain value a
    * self-contained [[GenerationalBatches]] sub-store. The ingest takes
    * one lease STRIPE per grain in the delta (sorted order), so it runs
    * concurrently with maintenance over disjoint grain ranges and
    * collides fail-fast with maintenance that overlaps it.
    *
    * The write side is ONE Spark job regardless of how many grains the
    * delta spans: the delta is staged with a partitioned write into a
    * hidden `.ingest-*` dir under the store root, then each staged
    * partition is RENAMED into its grain's next batch dir,
    * footer-verified against a per-grain count from the same scan, and
    * marker-committed — a 365-day backfill costs one job plus 365
    * renames, not 365 filtered scans of the delta. The stage partitions
    * on a HEX encoding of the grain string so any value round-trips
    * through the directory name (Spark's own partition escaping never
    * has to agree with the store's); the data files keep every original
    * column. A crash leaves the stage dir hidden and unreadable (reads
    * list only visible `<col>=` dirs); the next ingest sweeps it.
    *
    * The replay guard is per grain: a crash mid-ingest commits some
    * grains and not others, and the redelivery then skips the committed
    * grains and lands only the missing ones — exactly-once per grain,
    * hence exactly-once overall. Returns the rows newly appended (0 on a
    * full replay). */
  def appendStatesByGrain(states: DataFrame, baseDir: String,
      keyCols: Seq[String], grainCol: String, stateCol: String = "state",
      ingestId: Option[String] = None,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs,
      cleanupDelayMs: Long = 0L): Long =
    appendStatesByGrain(states, baseDir, keyCols, grainCol, stateCol,
      ingestId, _ => (), leaseStaleMs, cleanupDelayMs)

  private[graft] def appendStatesByGrain(states: DataFrame, baseDir: String,
      keyCols: Seq[String], grainCol: String, stateCol: String,
      ingestId: Option[String], onStep: String => Unit,
      leaseStaleMs: Long, cleanupDelayMs: Long): Long = {
    requireStateBatch(states, keyCols, stateCol)
    require(keyCols.contains(grainCol),
      s"grain column $grainCol must be one of the key columns $keyCols")
    requireValidIngestId(ingestId)
    val spark = states.sparkSession
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    // ONE pass over the delta: the hidden staged partitioned write IS
    // the delta's only computation, observing the NULL gates in the same
    // job; the grain inventory and per-grain row counts then come from
    // the staged files' own footers — driver metadata reads, not jobs.
    // Staging before the stripes is safe: the stage dir is hidden and
    // UUID-named, and a crashed stage is swept by a later op. Replays
    // stage and then discard instead of skipping the write: at-least-once
    // channels replay rarely.
    fs.mkdirs(base)
    // STORE-GENESIS gate FIRST — before the staged write, before any
    // stripe (see [[ensureGenesis]]): a mismatched family fails without
    // paying a staged write of its delta. A refused ingest can leave a
    // fresh store with a stamped genesis and no batches — the same state
    // as a first ingest that crashed right after its genesis.
    ensureGenesis(spark, fs, base, states.schema, grainCol, leaseStaleMs)
    onStep("genesis")
    val stageId = java.util.UUID.randomUUID().toString
    val stage = new Path(base, s".ingest-$stageId")
    // STAGE GUARD: a stripe-prefixed lease held for the whole op, taken
    // BEFORE the staged write, which precedes the grain stripes (the
    // grain set is only known from the staged footers): a concurrent
    // op's stage sweep sees a fresh foreign stripe and leaves our live
    // stage alone. Unique path per op; released on every exit; a crashed
    // op's guard goes stale and is collected like any orphan stripe.
    val stageGuard = new Path(base, StripePrefix + hexOf(s"stage:$stageId"))
    val guardToken = graft.sources.Sinks.acquireLease(fs, stageGuard,
      leaseStaleMs)
    try {
    val grainStr = col(grainCol).cast("string")
    val m = graft.sources.Sinks.writeParquetObserved(
      states.withColumn(StageHexCol, hex(grainStr)), stage.toString,
      Seq(count(lit(1)).as("n"),
        sum(when(grainStr.isNull, 1L).otherwise(0L)).as("null_grains"),
        sum(when(grainStr === "", 1L).otherwise(0L)).as("empty_grains"),
        sum(when(col(stateCol).isNull, 1L).otherwise(0L)).as("null_states")),
      Seq(StageHexCol))
    def refuse(cond: Boolean, msg: => String): Unit =
      if (!cond) { fs.delete(stage, true); require(cond, msg) }
    val nullGrains = graft.sources.Sinks.observedLong(m, "null_grains")
    refuse(nullGrains == 0,
      s"$nullGrains NULL $grainCol rows; a NULL grain names no " +
        "partition — filter placeholder rows before ingest")
    val nullStates = graft.sources.Sinks.observedLong(m, "null_states")
    refuse(nullStates == 0,
      s"$nullStates NULL $stateCol rows; the *_state producers never " +
        "emit NULL — filter placeholder rows before ingest")
    if (graft.sources.Sinks.observedLong(m, "n") == 0) {
      fs.delete(stage, true); onStep("committed"); return 0L
    }
    refuse(graft.sources.Sinks.observedLong(m, "empty_grains") == 0,
      "empty-string grain value names no directory — filter or " +
        "re-encode placeholder rows before ingest")
    val staged = stagedGrains(spark, fs, stage,
      graft.sources.Sinks.observedLong(m, "n"))
    val grains = staged.keys.toSeq.sorted
    // one stripe per delta grain, sorted: disjoint ingests proceed in
    // parallel, overlapping ones fail fast on the first shared stripe
    graft.sources.Sinks.withLeases(fs,
      grains.map(g => grainLeasePath(base, g)), leaseStaleMs) {
      // the genesis again, now under the stripes: an in-place [[regrain]]
      // re-stamps it while holding its stripe, so the family verified
      // before the staged write may no longer be the store's
      ensureGenesis(spark, fs, base, states.schema, grainCol, leaseStaleMs)
      sweepStageDirs(fs, base, ".ingest-", grains.toSet, leaseStaleMs,
        exclude = Set(stage.getName),
        heldStripes = Set(stageGuard.getName))
      // per-grain replay guard BEFORE any rename: already-committed
      // grains' staged partitions are discarded, never published. The
      // recover() pass also heals each existing grain's stale manifest
      // IMMEDIATELY (healManifestIfStale)
      val recovered = grains.map { g =>
        val gdir = new Path(base, grainDirName(grainCol, g))
        (g, gdir, GenerationalBatches.recover(fs, gdir, cleanupDelayMs))
      }
      recovered.foreach { case (_, gdir, live) =>
        if (fs.exists(gdir)) healManifestIfStale(fs, gdir, live) }
      onStep("recovered")
      val pending = recovered.collect { case (g, _, live)
          if !ingestId.exists(
            GenerationalBatches.seenIngestIds(fs, live).contains) =>
        (g, live) }
      if (pending.isEmpty) {
        fs.delete(stage, true); onStep("committed-all"); return 0L
      }
      onStep("staged")
      // batch numbering reuses the recover() pass above: the grain
      // stripes are held for the whole op and this loop touches each
      // grain once (a crashed RETRY's own first recover reaps any
      // marker-less batch_k this run leaves behind)
      val appended = pending.map { case (g, live) =>
        val gdir = new Path(base, grainDirName(grainCol, g))
        GenerationalBatches.publish(fs, gdir, live, Nil, ingestId.toSet, 0L,
          onStep, GenerationalBatches.writeManifest(fs, gdir))(
          renameIn(fs, staged(g)))
      }.sum
      // (replay-skipped grains were already healed by the post-recover
      // healManifestIfStale pass above; their staged partitions vanish
      // with the stage dir)
      fs.delete(stage, true)
      onStep("committed-all")
      appended
    }
    } finally graft.sources.Sinks.releaseLease(fs, stageGuard, guardToken)
  }

  /** Heal a sub-store's manifest IMMEDIATELY when it disagrees with the
    * live listing — called right after every recover(), BEFORE the op's
    * possibly minutes-long Spark job (ADVICE r17): recover may just have
    * deleted folded dirs a crash-stale manifest still listed, and until
    * the heal a reader resolving through that manifest gets FileNotFound,
    * not mere staleness. One manifest read per sub-store; rewritten only
    * on disagreement, so the steady state pays no extra write. Also
    * covers the commit→manifest crash window (the manifest then lags the
    * listing by one batch). An ABSENT or torn manifest also heals (round
    * 18): readers fall back to listing — always correct, but a sub-store
    * that thereafter sees only no-commit ops (replayed ingests, janitor
    * passes) would never regain its manifest and every read would pay
    * the per-batch listing fallback forever. */
  private def healManifestIfStale(fs: FileSystem, dir: Path,
      live: Seq[(Long, Path)]): Unit =
    GenerationalBatches.readManifest(fs, dir) match {
      case Some((bNames, _, _))
          if bNames.toSet != live.map(_._2.getName).toSet =>
        GenerationalBatches.writeManifest(fs, dir)
      case None if live.nonEmpty =>
        GenerationalBatches.writeManifest(fs, dir)
      case _ => ()
    }

  /** Stage-dir partition column for the grained one-job ingest/compact:
    * hex of the grain string, so the stage directory names are [0-9A-F]
    * on both the writer and the lookup side. */
  private val StageHexCol = "__graft_grain_hex"

  private def hexOf(v: String): String =
    v.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString

  /** Inverse of [[hexOf]] — decodes a staged partition dir's hex back to
    * the grain string (the staged footers are the ingest's inventory). */
  private def unhexOf(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      "UTF-8")

  /** The STAGED-GRAIN INVENTORY of a grained ingest or compaction: grain
    * -> (its hex partition dir under `stage`, that partition's footer row
    * count), the footers read on the bounded pool. Their sum must equal
    * the op's `observed` total before any grain commits: write loss in
    * the staged write fails here, with every live batch intact. */
  private def stagedGrains(spark: SparkSession, fs: FileSystem, stage: Path,
      observed: Long): Map[String, (Path, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = fs.listStatus(stage).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(StageHexCol + "="))
      .map(st => unhexOf(st.getPath.getName.drop(StageHexCol.length + 1))
        -> st.getPath)
    val staged = graft.sources.Sinks.inParallel(parts) { case (g, p) =>
      g -> (p, graft.sources.Sinks.parquetRowCount(fs, p, conf)) }.toMap
    val total = staged.values.map(_._2).sum
    require(total == observed,
      s"staged footers under $stage carry $total of $observed rows; " +
        "nothing committed, batches intact")
    staged
  }

  /** Landing step of the grained ops: RENAME one staged partition (its
    * dir and inventory row count) in as the batch's `states` dir. */
  private def renameIn(fs: FileSystem, part: (Path, Long))(
      batchPath: Path): Option[GenerationalBatches.Landed] = {
    fs.mkdirs(batchPath)
    graft.sources.Sinks.hadoopRename(fs, part._1, new Path(batchPath, "states"))
    Some(GenerationalBatches.Landed(part._2, part._2))
  }

  /** Lease stripe for one grain, AT THE STORE ROOT (not inside the grain
    * dir, so a dropped-and-recreated grain reuses the same stripe path
    * and a drop's dir rename never moves a held lease). Named by the
    * grain's hex so any value maps to a legal file name. */
  private val StripePrefix = "_WRITER_LEASE.g-"

  private[graft] def grainLeasePath(base: Path, grain: String): Path =
    new Path(base, s"$StripePrefix${hexOf(grain)}")

  /** Root stage/tombstone dir prefixes — what [[sweepExpired]]'s root
    * pass deletes when stale and what [[stats]]'s `<root>` row counts. */
  private val StageDirPrefixes = Seq(".ingest-", ".compact-", ".dropped-")

  /** Delete hidden garbage dirs (`.ingest-*` / `.compact-*` stages,
    * `.dropped-*` tombstones) a crashed earlier maintenance run left
    * behind — hygiene under the caller's stripes. Never served either
    * way: readers list only visible `<col>=` grain dirs. Striping makes
    * the sweep conditional: a FOREIGN stripe file at the root means a
    * concurrent op may own one of these dirs as its live stage, so only
    * entries older than `staleMs` are swept (an op that old has exceeded
    * its lease and is usurpable anyway — size `staleMs` to the job);
    * with no foreign stripe present, no concurrent grained op exists and
    * everything matching is garbage. */
  private def sweepStageDirs(fs: FileSystem, base: Path, prefix: String,
      heldGrains: Set[String], staleMs: Long,
      exclude: Set[String] = Set.empty,
      heldStripes: Set[String] = Set.empty): Unit = {
    if (!fs.exists(base)) return
    val entries = fs.listStatus(base).toSeq
    val held =
      heldGrains.map(g => grainLeasePath(base, g).getName) ++ heldStripes
    val now = System.currentTimeMillis()
    // a foreign stripe OLDER than staleMs is a crashed op's leftover
    // (usurpable by the lease rules) — it must not disable the
    // unguarded sweep forever on a store whose crashed grain is never
    // touched again (sweepExpired clears such stripes on its cadence)
    val foreignStripe = entries.exists(st => st.isFile &&
      st.getPath.getName.startsWith(StripePrefix) &&
      !held.contains(st.getPath.getName) &&
      now - st.getModificationTime <= staleMs)
    entries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix)
        && !exclude.contains(st.getPath.getName))
      .filter(st => !foreignStripe ||
        now - st.getModificationTime > staleMs)
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Collect stale stripes of grains that NO LONGER EXIST (dropped, or
    * a crashed first ingest that never landed a dir) — the per-grain
    * maintenance passes collect stale stripes only by acquiring them,
    * which never happens for a grain nothing lists anymore. Usurps and
    * releases through the lease rules, so a FRESH foreign stripe (a
    * live op mid-first-ingest re-creating the grain) throws and is
    * skipped, never deleted. */
  private def collectOrphanStripes(fs: FileSystem, base: Path,
      staleMs: Long): Unit = {
    if (!fs.exists(base)) return
    val liveGrainStripes = listGrainDirs(fs, base)
      .map { case (g, _) => grainLeasePath(base, g).getName }.toSet
    fs.listStatus(base).toSeq
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(StripePrefix) &&
        !liveGrainStripes.contains(st.getPath.getName))
      .foreach { st =>
        try {
          val t = graft.sources.Sinks.acquireLease(fs, st.getPath, staleMs)
          graft.sources.Sinks.releaseLease(fs, st.getPath, t)
        } catch { case _: IllegalStateException => () }
      }
  }

  /** STORE-GENESIS marker: `_STORE_GENESIS` at the root records the
    * state family + layout fingerprint (grain column + every column's
    * name:type), written ONCE under its own root stripe
    * (`_WRITER_LEASE.genesis` — the name cannot collide with a grain
    * stripe, whose prefix is `_WRITER_LEASE.g-`) BEFORE any grain stripe
    * is taken, then verified by every ingest as a pure string compare,
    * before its staged write and again under its grain stripes. Of two
    * SIMULTANEOUS first ingests with different families exactly one
    * writes the marker (create-exclusive root stripe) and the other
    * verifies against it and fails LOUDLY — or, when truly simultaneous
    * inside the marker-write window, fails fast on the genesis stripe
    * itself and succeeds on retry. A store without a genesis (from
    * before it existed, or mid-[[regrain]]) re-derives it lazily: the
    * first ingest that finds batches but no genesis takes the fingerprint
    * of the newest committed batch (under the stripe, with the vanished-
    * batch retry) and writes it before verifying. The genesis outlives
    * [[dropGrainsWhere]] retiring every grain — the store's family is
    * part of its identity, not of its contents; [[regrain]] is the one
    * op that re-stamps it. */
  private[graft] val GenesisFile = "_STORE_GENESIS"
  private val GenesisLease = "_WRITER_LEASE.genesis"

  /** One line per column plus the grain line, newline-joined — with
    * embedded newlines ESCAPED, or a crafted column name (e.g.
    * `"day:date\ncol=u"`) would make two different layouts render the
    * same fingerprint text and pass the genesis verify. */
  private[graft] def fingerprintOf(schema: StructType,
      grainCol: String): String = {
    def esc(s: String) = s.replace("\\", "\\\\")
      .replace("\n", "\\n").replace("\r", "\\r")
    (s"grain=${esc(grainCol)}" +:
      schema.map(f => "col=" + esc(s"${f.name}:${f.dataType.catalogString}"))
        .sorted)
      .mkString("\n")
  }

  /** Read the genesis fingerprint, refusing a TORN file: the last line
    * is a completeness terminator (`e <fingerprint line count>`) under
    * the same tear model as the manifest — on S3A a rename is a COPY,
    * so a reader can observe a partially-copied file, and a crash
    * mid-copy leaves a byte prefix behind. A missing or disagreeing
    * terminator (torn copy, or a pre-terminator genesis from an older
    * store) reads as ABSENT, which is SAFE: [[ensureGenesis]]'s None
    * path re-derives the fingerprint under the genesis lease — from the
    * store's own batches when any exist, so the store's family wins,
    * never a torn read or a mismatched ingest — and rewrites the file
    * complete (an EMPTY store checks the remnant against the incoming
    * family instead). Without the terminator a torn genesis would brick every
    * subsequent ingest on a fingerprint compare that can never match. */
  private def readGenesis(fs: FileSystem, base: Path): Option[String] =
    try {
      val in = fs.open(new Path(base, GenesisFile))
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n", -1).toSeq
      if (lines.size < 2 || lines.last != s"e ${lines.size - 1}") None
      else Some(lines.dropRight(1).mkString("\n"))
    } catch { case _: java.io.FileNotFoundException => None }

  /** The on-disk form: fingerprint + completeness terminator. */
  private def terminatedGenesis(fp: String): String =
    fp + s"\ne ${fp.split("\n", -1).length}"

  /** Raw genesis file text, terminator-checked or not — None only when
    * the FILE is absent. Lets [[ensureGenesis]] distinguish "no genesis
    * was ever written" from "a genesis exists but is torn". */
  private def readRawGenesis(fs: FileSystem, base: Path): Option[String] =
    try {
      val in = fs.open(new Path(base, GenesisFile))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Published by `Sinks.publishFile` with a completeness terminator
    * (see [[readGenesis]]): complete or observably-absent, never silently
    * torn. Its replace-in-place lets a heal REWRITE a torn or
    * pre-terminator file; the brief absent window is serialized away by
    * the genesis lease — a concurrent ingest's fast-path read of the
    * window falls into its own None path and collides loudly on that
    * lease. */
  private def writeGenesis(fs: FileSystem, base: Path, fp: String): Unit = {
    fs.mkdirs(base)
    graft.sources.Sinks.publishFile(fs, new Path(base, GenesisFile),
      terminatedGenesis(fp))
  }

  private def ensureGenesis(spark: SparkSession, fs: FileSystem,
      base: Path, schema: StructType,
      grainCol: String, staleMs: Long): Unit = {
    val incoming = fingerprintOf(schema, grainCol)
    def verify(genesis: String): Unit =
      require(genesis == incoming,
        s"state batch schema fingerprint [${incoming.replace('\n', ' ')}] " +
          s"does not match the store's genesis " +
          s"[${genesis.replace('\n', ' ')}]; one store holds one state " +
          "family at one grain layout")
    readGenesis(fs, base) match {
      case Some(g) => verify(g)
      case None =>
        listGrainDirs(fs, base) // refuses the retired layout before any write
        graft.sources.Sinks.withSingleWriterLease(fs,
          new Path(base, GenesisLease), staleMs) {
          readGenesis(fs, base) match {
            case Some(g) => verify(g)
            case None =>
              // lazy upgrade: an existing pre-genesis store's family wins
              // over the incoming batch — write the TRUE genesis first,
              // then verify (a mismatched ingest must not stamp its own
              // family onto someone else's store)
              genesisFromExistingStore(spark, fs, base) match {
                case Some(derived) =>
                  writeGenesis(fs, base, derived)
                  verify(derived)
                case None =>
                  // EMPTY store (e.g. every grain dropped): a torn or
                  // pre-terminator genesis read as absent above must
                  // still BIND the store's identity. Under the tear
                  // model the remnant is a byte prefix of the complete
                  // text, so a crash-retried first ingest of the SAME
                  // family heals and proceeds, while a remnant of a
                  // DIFFERENT family fails loudly. Deliberate
                  // re-stamping = delete the torn file first.
                  readRawGenesis(fs, base).foreach { raw =>
                    require(terminatedGenesis(incoming).startsWith(raw),
                      s"the store at $base holds a torn or pre-terminator " +
                        s"genesis that does not match the incoming family " +
                        s"[${incoming.replace('\n', ' ')}], and no committed " +
                        "batch remains to re-derive it from; refusing to " +
                        "re-stamp the store's identity — delete " +
                        s"$GenesisFile to deliberately adopt a new family")
                  }
                  writeGenesis(fs, base, incoming)
                  verify(incoming)
              }
          }
        }
    }
  }

  /** Fingerprint of a pre-genesis store's newest committed batch, with
    * the vanished-batch retry (the batch may live in a grain this op
    * holds no stripe for; a concurrent compaction can fold-and-delete it
    * between listing and read — re-resolve and retry, bounded: each
    * retry needs another concurrent fold to land in the window). None on
    * an empty store. */
  private def genesisFromExistingStore(spark: SparkSession,
      fs: FileSystem, base: Path): Option[String] = {
    var attempts = 0
    while (true) {
      latestBatchAcrossGrains(fs, base) match {
        case None => return None
        case Some(p) =>
          val grainCol = p.getParent.getName.split("=", 2)(0)
          try return Some(fingerprintOf(
            spark.read.parquet(new Path(p, "states").toString).schema,
            grainCol))
          catch {
            case e: Exception if attempts < 5 && isVanishedPath(e) =>
              attempts += 1
          }
      }
    }
    None
  }

  private def isVanishedPath(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      case _: java.io.FileNotFoundException => true
      case t => Option(t.getMessage).exists(m =>
        m.contains("Path does not exist") || m.contains("FileNotFound"))
    }

  /** Fold every committed batch of a flat store into ONE batch with ONE
    * row per key — [[compactGrains]] on its one fixed grain: the
    * partials of each key combined state-to-state via `combine` (the
    * family's combine twin, e.g. `BehavioralFunctions.funnel_state_combine`).
    * Pure maintenance — any downstream merge reads the same event
    * multiset before and after (the combine twins' associativity).
    * Ingest ids of the folded batches are carried into the compacted
    * batch, so the replay guard survives the fold. A positive
    * `cleanupDelayMs` is the SNAPSHOT-READER GRACE WINDOW of
    * [[GenerationalBatches.recover]]: folded files outlive the fold's
    * commit by that long, and [[sweepExpired]] reclaims them once a
    * grain's maintenance ends. Returns the compacted row count. */
  def compact(spark: SparkSession, baseDir: String, keyCols: Seq[String],
      combine: Column => Column, stateCol: String = "state",
      targetPartitions: Int = 32,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs,
      cleanupDelayMs: Long = 0L): Long =
    compact(spark, baseDir, keyCols, combine, stateCol, targetPartitions,
      _ => (), leaseStaleMs, cleanupDelayMs)

  private[graft] def compact(spark: SparkSession, baseDir: String,
      keyCols: Seq[String], combine: Column => Column, stateCol: String,
      targetPartitions: Int, onStep: String => Unit,
      leaseStaleMs: Long, cleanupDelayMs: Long): Long =
    compactGrains(spark, baseDir, flatKeys(keyCols, stateCol), combine,
      stateCol, _ => true, targetPartitions, onStep, leaseStaleMs,
      cleanupDelayMs)

  /** RANGE compaction for a grain-partitioned store: fold only the grain
    * values `grains` selects (default: all), under one lease stripe PER
    * SELECTED GRAIN (sorted) — so compacting last month runs concurrently
    * with this hour's ingest into today's grain, and two compactors over
    * disjoint ranges don't serialize. Untouched grains' files are left
    * byte-identical — compact is O(touched grains), not O(store), so a
    * year of daily grains stays maintainable by compacting only the days
    * the last ingest touched.
    *
    * Like the ingest, the fold is ONE Spark job regardless of how many
    * grains it touches: one multi-path scan of every selected grain's
    * live batches, one groupBy (the grain key is in the data, so groups
    * can never mix grains), staged with a partitioned write into a
    * hidden `.compact-*` dir, then per grain rename + footer verify +
    * marker commit (folded dirs recorded, ingest ids carried) + cleanup
    * — compacting a 365-grain backfill costs one job plus 365 renames,
    * not 365 fold jobs. A crash mid-commit leaves some grains compacted
    * and the rest intact with their stage hidden; the next maintenance
    * run sweeps and re-folds only what's still unfolded. Returns the
    * total compacted row count. */
  def compactGrains(spark: SparkSession, baseDir: String,
      keyCols: Seq[String], combine: Column => Column,
      stateCol: String = "state", grains: String => Boolean = _ => true,
      targetPartitions: Int = 32,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs,
      cleanupDelayMs: Long = 0L): Long =
    compactGrains(spark, baseDir, keyCols, combine, stateCol, grains,
      targetPartitions, _ => (), leaseStaleMs, cleanupDelayMs)

  private[graft] def compactGrains(spark: SparkSession, baseDir: String,
      keyCols: Seq[String], combine: Column => Column, stateCol: String,
      grains: String => Boolean, targetPartitions: Int,
      onStep: String => Unit, leaseStaleMs: Long,
      cleanupDelayMs: Long): Long = {
    requireTargetPartitions(targetPartitions)
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    val targets = listGrainDirs(fs, base)
      .filter { case (v, _) => grains(v) }.sortBy(_._1)
    onStep("selected")
    if (targets.isEmpty) return 0L
    graft.sources.Sinks.withLeases(fs,
      targets.map { case (g, _) => grainLeasePath(base, g) },
      leaseStaleMs) {
      foldGrains(spark, fs, base, targets, keyCols.map(col), combine,
        stateCol, targetPartitions, onStep, leaseStaleMs, cleanupDelayMs)
        .fold(0L)(_._1)
    }
  }

  /** The fold of [[compactGrains]] and [[regrain]], run under the
    * targets' stripes: each target grain's live batches fold into one
    * batch grouped by `groupCols` (which must keep the grain column).
    * Returns the folded row count and schema, None when no target holds
    * a live batch. */
  private def foldGrains(spark: SparkSession, fs: FileSystem, base: Path,
      targets: Seq[(String, Path)], groupCols: Seq[Column],
      combine: Column => Column, stateCol: String, targetPartitions: Int,
      onStep: String => Unit, leaseStaleMs: Long,
      cleanupDelayMs: Long): Option[(Long, StructType)] = {
    sweepStageDirs(fs, base, ".compact-", targets.map(_._1).toSet,
      leaseStaleMs)
    // mutating recovery per selected grain (crashed-dir cleanup and the
    // expired-horizon sweep), and the live batches each grain's fold
    // replaces; re-check existence under the stripes — a concurrent
    // drop can retire a grain between our listing and the lock
    val recoveredAll = targets
      .filter { case (_, gdir) => fs.exists(gdir) }
      .map { case (g, gdir) =>
        (g, gdir,
          GenerationalBatches.recover(fs, gdir, cleanupDelayMs)
            .sortBy(_._1)) }
    // heal stale manifests IMMEDIATELY after recover, BEFORE the fold
    // job (ADVICE r17): recover may just have deleted folded dirs a
    // crash-stale manifest still listed
    recoveredAll.foreach { case (_, gdir, committed) =>
      healManifestIfStale(fs, gdir, committed) }
    val perGrain = recoveredAll
      .filter { case (_, _, committed) => committed.nonEmpty }
    onStep("recovered")
    if (perGrain.isEmpty) return None
    val grainCol = perGrain.head._2.getName.split("=", 2)(0)
    // ONE multi-path scan and ONE shuffle fold every selected grain —
    // the grain key is one of the group keys, so groups cannot mix
    // grains; the repartition bounds files per grain at
    // targetPartitions while keeping the write parallel
    val allPaths = perGrain.flatMap { case (_, _, committed) =>
      committed.map { case (_, p) => new Path(p, "states").toString } }
    val scan = spark.read.parquet(allPaths: _*)
    val folded = scan
      .groupBy(groupCols: _*)
      .agg(combine(col(stateCol)).as(stateCol))
    val stage = new Path(base,
      s".compact-${java.util.UUID.randomUUID()}")
    // ONE job: the staged partitioned write observes the fold's total
    // row count, and the staged files' own footers give the per-grain
    // counts
    val observedTotal = graft.sources.Sinks.observedLong(
      graft.sources.Sinks.writeParquetObserved(
        folded.repartition(foldPartitions(spark, scan, targetPartitions),
          folded.columns.filter(_ != stateCol).map(col): _*)
          .withColumn(StageHexCol, hex(col(grainCol).cast("string"))),
        stage.toString, Seq(count(lit(1)).as("n")), Seq(StageHexCol)),
      "n")
    onStep("staged")
    val staged = stagedGrains(spark, fs, stage, observedTotal)
    perGrain.foreach { case (g, _, _) =>
      require(staged.contains(g),
        s"staged fold missing for grain '$g' under $stage; nothing " +
          "committed, batches intact")
    }
    val total = perGrain.map { case (g, gdir, live) =>
      GenerationalBatches.publish(fs, gdir, live, live,
        GenerationalBatches.seenIngestIds(fs, live), cleanupDelayMs,
        onStep, GenerationalBatches.writeManifest(fs, gdir))(
        renameIn(fs, staged(g)))
    }.sum
    fs.delete(stage, true)
    Some((total, folded.schema))
  }

  /** REWRITE a flat store at a coarser grain, in place: every committed
    * batch folds into one batch keyed by `keyCols` with `grainCol`
    * replaced by `newGrain` (named `newGrainCol`) — e.g.
    * `regrain(…, "day", date_trunc("week", col("day")), "week",
    * funnel_state_combine)` turns a per-(user, day) store into a
    * per-(user, week) one. It is [[compact]]'s fold with coarser groups,
    * so exactness is the same associativity argument (the merged event
    * multiset per user is unchanged, which RegrainSpec pins per family
    * and q122 pins against the raw-scan oracle).
    *
    * The fold changes the key schema the store's genesis pins, so it
    * runs under the genesis lease for the whole op: the genesis is
    * deleted before the fold (`genesis-deleted`) and the new family is
    * stamped after the marker (`restamp`). A crash at any step leaves
    * the genesis absent, and the next ingest re-derives it from the
    * newest committed batch — the old family before the commit, the new
    * one after it. Subsequent ingest must use the NEW key set. A
    * grain-partitioned store's grain lives in its directory layout, so it
    * re-grains with [[regrainInto]], which folds into a FRESH store. */
  def regrain(spark: SparkSession, baseDir: String, keyCols: Seq[String],
      grainCol: String, newGrain: Column, newGrainCol: String,
      combine: Column => Column, stateCol: String = "state",
      targetPartitions: Int = 32,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs,
      cleanupDelayMs: Long = 0L): Long =
    regrain(spark, baseDir, keyCols, grainCol, newGrain, newGrainCol,
      combine, stateCol, targetPartitions, _ => (), leaseStaleMs,
      cleanupDelayMs)

  private[graft] def regrain(spark: SparkSession, baseDir: String,
      keyCols: Seq[String], grainCol: String, newGrain: Column,
      newGrainCol: String, combine: Column => Column, stateCol: String,
      targetPartitions: Int, onStep: String => Unit,
      leaseStaleMs: Long, cleanupDelayMs: Long): Long = {
    require(keyCols.contains(grainCol),
      s"grain column $grainCol must be one of the key columns $keyCols")
    require(!keyCols.filterNot(_ == grainCol).contains(newGrainCol) &&
        newGrainCol != stateCol && newGrainCol != FlatGrainCol,
      s"new grain column $newGrainCol collides with an existing column")
    requireTargetPartitions(targetPartitions)
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    val groupCols = flatKeys(keyCols, stateCol).map(kc =>
      if (kc == grainCol) newGrain.as(newGrainCol) else col(kc))
    val targets = listGrainDirs(fs, base)
      .filter { case (_, gdir) => gdir.getName == flatDir(base).getName }
    if (targets.isEmpty) return 0L
    graft.sources.Sinks.withSingleWriterLease(fs,
      new Path(base, GenesisLease), leaseStaleMs) {
      graft.sources.Sinks.withLeases(fs,
        Seq(grainLeasePath(base, FlatGrain)), leaseStaleMs) {
        fs.delete(new Path(base, GenesisFile), false)
        onStep("genesis-deleted")
        foldGrains(spark, fs, base, targets, groupCols, combine, stateCol,
          targetPartitions, onStep, leaseStaleMs, cleanupDelayMs) match {
          case None => 0L
          case Some((n, schema)) =>
            onStep("restamp")
            writeGenesis(fs, base, fingerprintOf(schema, FlatGrainCol))
            n
        }
      }
    }
  }

  /** Re-grain a GRAIN-PARTITIONED store by folding it into a FRESH
    * grained store at the coarser grain: `day=…` sub-stores become
    * `week=…` sub-stores under `dstDir`, each key's partials combined
    * with the family's combine twin (a grain that lives in the directory
    * layout cannot be rewritten in place without a multi-dir atomic swap;
    * a fresh store needs no swap at all). The source is only READ —
    * retire it with its own [[dropGrainsWhere]] (or delete the dir) once
    * the destination is verified.
    *
    * Crash safety is [[appendStatesByGrain]]'s per-grain replay guard:
    * the whole rewrite lands under ONE `ingestId`, so a rerun after a
    * crash skips the new grains that already committed and lands only
    * the missing ones — exactly-once per grain with no coordination
    * beyond the id. When `ingestId` is None (the default) the id is
    * DERIVED FROM THE SOURCE PATH (`regrain-into:<srcDir>`), so layering
    * several sources into one destination with defaults cannot collide —
    * each source's rewrite resumes independently. The id still pins the
    * rewrite's IDENTITY, not the source's contents: re-running after the
    * SAME source gained more data is absorbed per already-committed
    * grain by the guard — pass an explicit fresh id for a genuine second
    * pass over a changed source. The derived id NORMALIZES the source
    * path (`fs.makeQualified`), so resuming a crashed rewrite with an
    * equivalent but differently-spelled source (bare vs scheme-qualified,
    * relative vs absolute) derives the SAME id and resumes instead of
    * double-landing. The source is read through a SNAPSHOT
    * (files pinned at plan time), so a concurrent source compaction's
    * commit cannot change what the fold reads; its cleanup deleting
    * pinned files still fails the rewrite loudly — quiesce source
    * maintenance or give it a `cleanupDelayMs` grace window that
    * outlives the rewrite. Exactness is the same associativity argument
    * as [[regrain]] (GrainedRollupStoreSpec pins the differential and
    * the crash-resume). Returns the rows written into the destination
    * (0 on a full replay). */
  def regrainInto(spark: SparkSession, srcDir: String, dstDir: String,
      keyCols: Seq[String], grainCol: String, newGrain: Column,
      newGrainCol: String, combine: Column => Column,
      stateCol: String = "state",
      ingestId: Option[String] = None,
      targetPartitions: Int = 32,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs,
      cleanupDelayMs: Long = 0L): Long =
    regrainInto(spark, srcDir, dstDir, keyCols, grainCol, newGrain,
      newGrainCol, combine, stateCol, ingestId, targetPartitions, _ => (),
      leaseStaleMs, cleanupDelayMs)

  private[graft] def regrainInto(spark: SparkSession, srcDir: String,
      dstDir: String, keyCols: Seq[String], grainCol: String,
      newGrain: Column, newGrainCol: String, combine: Column => Column,
      stateCol: String, ingestId: Option[String], targetPartitions: Int,
      onStep: String => Unit, leaseStaleMs: Long,
      cleanupDelayMs: Long): Long = {
    require(new Path(srcDir) != new Path(dstDir),
      s"regrainInto must fold into a FRESH store, not $srcDir itself")
    require(keyCols.contains(grainCol),
      s"grain column $grainCol must be one of the key columns $keyCols")
    require(!keyCols.filterNot(_ == grainCol).contains(newGrainCol) &&
        newGrainCol != stateCol,
      s"new grain column $newGrainCol collides with an existing column")
    requireTargetPartitions(targetPartitions)
    val id = ingestId.getOrElse(
      s"regrain-into:${fsOf(spark, srcDir).makeQualified(new Path(srcDir))}")
    val foldKeys = keyCols.map(kc =>
      if (kc == grainCol) newGrain.as(newGrainCol) else col(kc))
    val src = readGrains(spark, srcDir, snapshot = true)
    val folded = src
      .groupBy(foldKeys: _*)
      .agg(combine(col(stateCol)).as(stateCol))
      .repartition(foldPartitions(spark, src, targetPartitions))
    appendStatesByGrain(folded, dstDir,
      keyCols.map(kc => if (kc == grainCol) newGrainCol else kc),
      newGrainCol, stateCol, Some(id), onStep, leaseStaleMs,
      cleanupDelayMs)
  }

  /** Delete folded dirs whose grace window has EXPIRED — without
    * folding, ingesting, or changing any answer. Under `cleanupDelayMs`
    * deferred cleanup happens in a LATER op's recover(), so a grain
    * that stops receiving maintenance keeps its dead folded bytes
    * forever; this is the retention knob for that tail: a cheap
    * metadata-only pass — recover + heal per grain under its stripe, no
    * Spark job — that a janitor can run on any cadence. Pass the SAME
    * `cleanupDelayMs` the store's maintenance uses (a smaller value here
    * shortens the real horizon, as everywhere). Also sweeps crashed marker-less dirs and
    * heals stale, torn, or MISSING manifests, like any op's recovery —
    * plus the ROOT garbage no grain-scoped op reliably reaches: crashed
    * `.ingest-*`/`.compact-*` stage dirs (a crashed fold's stage can
    * hold a full copy of the folded bytes), crashed drop tombstones,
    * and stale stripes of since-DROPPED grains (usurp-and-release;
    * fresh foreign stripes are always skipped — root hygiene is
    * store-wide, the `grains` filter scopes only the per-grain pass).
    * Returns the number of batch dirs deleted.
    *
    * Collision behavior differs from the fail-fast maintenance ops ON
    * PURPOSE: the janitor takes its grains ONE STRIPE AT A TIME and
    * SKIPS any grain whose stripe a concurrent op holds (it will get it
    * on the next cadence) — a janitor that needed every stripe at once
    * would abort entirely whenever a busy store has any op in flight,
    * which is exactly when it runs. Acquiring a crashed op's stale
    * stripe also usurps-and-releases it, so the janitor doubles as the
    * stale-stripe collector for grains nothing else touches. */
  def sweepExpired(spark: SparkSession, baseDir: String,
      cleanupDelayMs: Long, grains: String => Boolean = _ => true,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs): Int = {
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    val targets = listGrainDirs(fs, base)
      .filter { case (v, _) => grains(v) }.sortBy(_._1)
    // ROOT hygiene first, before any stripe is held: crashed stage dirs
    // (.ingest-*/.compact-* — a crashed fold's stage can hold a full
    // copy of the folded bytes, the largest dead-byte class), crashed
    // drop tombstones, and stale stripes of since-DROPPED grains (the
    // per-grain pass below collects stale stripes only for grains that
    // still list). All guarded exactly like an op's own sweep: a fresh
    // foreign stripe defers young stage entries to that op, and a fresh
    // orphan stripe (a live first ingest re-creating a grain) is
    // skipped, never deleted. Store-wide on purpose — root garbage
    // belongs to no grain, so the `grains` filter does not apply.
    StageDirPrefixes.foreach(p =>
      sweepStageDirs(fs, base, p, Set.empty, leaseStaleMs))
    collectOrphanStripes(fs, base, leaseStaleMs)
    targets.map { case (g, gdir) =>
      try graft.sources.Sinks.withLeases(fs,
        Seq(grainLeasePath(base, g)), leaseStaleMs) {
        if (!fs.exists(gdir)) 0
        else {
          val before = GenerationalBatches.batchDirs(fs, gdir).size
          val live = GenerationalBatches.recover(fs, gdir, cleanupDelayMs)
          healManifestIfStale(fs, gdir, live)
          before - GenerationalBatches.batchDirs(fs, gdir).size
        }
      } catch {
        // a held stripe = a live op owns this grain; skip, next cadence
        case e: IllegalStateException
            if Option(e.getMessage).exists(_.contains("lease")) => 0
      }
    }.sum
  }

  /** The janitor's CADENCE POLICY in code: run
    * [[sweepExpired]] only when the store's reclaimable inventory says
    * it is worth a pass. Reads [[statsRows]] — no Spark job, no lease —
    * and sums the dead bytes of the selected grains (grace-window
    * folded dirs) plus the store-level root row (crashed stage dirs and
    * tombstones, the largest dead-byte class — counting only entries
    * older than `leaseStaleMs`, since a LIVE op's young stage is not
    * reclaimable and must not trigger futile sweeps); sweeps only when
    * the sum meets `minDeadBytes`. The skip path costs one metadata
    * listing pass, so a deployment may schedule this hourly. Folded dirs
    * younger than the grace horizon and stage dirs guarded by a fresh
    * stripe survive the sweep (by design) and count toward the next
    * cadence's threshold instead. Returns the batch dirs deleted, 0 when
    * skipped.
    *
    * Sizing `minDeadBytes`: the sweep costs O(grains) listings plus one
    * delete per dead dir, so set the threshold to a few multiples of a
    * typical batch (e.g. 256 MiB–1 GiB at 100 TB scale) — small enough
    * that dead bytes never dominate live bytes, large enough that a
    * quiet store skips every pass. */
  def sweepIfWorthIt(spark: SparkSession, baseDir: String,
      cleanupDelayMs: Long, minDeadBytes: Long,
      grains: String => Boolean = _ => true,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs): Int = {
    // the JANITOR'S root inventory: a live op's young stage is not
    // reclaimable, and the sweep uses the same age horizon
    val rows = statsRows(spark, baseDir, minStageAgeMs = leaseStaleMs)
    val reclaimable = rows.collect {
      case r if r.grain == StatsRootGrain || grains(r.grain) => r.dead_bytes
    }.sum
    if (reclaimable < minDeadBytes) 0
    else sweepExpired(spark, baseDir, cleanupDelayMs, grains, leaseStaleMs)
  }

  /** Retire whole grains from a grain-partitioned store: every grain
    * value `drop` selects vanishes ATOMICALLY (the grain dir is renamed
    * to a hidden tombstone — readers listing the store never see a
    * half-deleted grain — then deleted). This is the retention knob that
    * keeps years of daily ingest bounded: state older than the
    * dashboard's horizon stops costing storage, listing, and compaction.
    * Dropping a grain is a DELIBERATE answer change (those days' events
    * leave every merge), which is the point. It also forgets ingest ids
    * recorded only in the dropped grains; the replay guard covers
    * delivery restarts, which replay only their most recent batch — by
    * construction in recent grains. Returns the number of grains
    * dropped. */
  def dropGrainsWhere(spark: SparkSession, baseDir: String,
      drop: String => Boolean,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs): Int = {
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    val targets = listGrainDirs(fs, base)
      .filter { case (v, _) => drop(v) }.sortBy(_._1)
    graft.sources.Sinks.withLeases(fs,
      targets.map { case (g, _) => grainLeasePath(base, g) },
      leaseStaleMs) {
      // sweep tombstones a crashed earlier drop left behind (hidden, so
      // never served — hygiene, guarded like the stage-dir sweep)
      sweepStageDirs(fs, base, ".dropped-", targets.map(_._1).toSet,
        leaseStaleMs)
      // re-check under the stripes: a concurrent op cannot hold these
      // grains, but an earlier drop may already have retired one
      val present = targets.filter { case (_, gdir) => fs.exists(gdir) }
      present.foreach { case (_, gdir) =>
        val tomb = new Path(base,
          s".dropped-${java.util.UUID.randomUUID()}-${gdir.getName}")
        if (!fs.rename(gdir, tomb))
          throw new java.io.IOException(s"could not retire grain $gdir")
        fs.delete(tomb, true)
      }
      present.size
    }
  }

  /** [[dropGrainsWhere]] with the common predicate: drop every grain
    * whose STRING value sorts before `olderThan` — exact for ISO dates
    * (`day=2024-01-05`) and any zero-padded encoding. */
  def dropGrains(spark: SparkSession, baseDir: String, olderThan: String,
      leaseStaleMs: Long = graft.sources.Sinks.DefaultLeaseStaleMs): Int =
    dropGrainsWhere(spark, baseDir, _ < olderThan, leaseStaleMs)

  /** [[readGrains]] of a flat store: resolves its one fixed-grain
    * sub-store directly (no root listing), with the same manifest,
    * laziness and `snapshot` contract, and drops the fixed grain
    * column. */
  def read(spark: SparkSession, baseDir: String,
      snapshot: Boolean = false): DataFrame = {
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    val grain = resolveGrain(fs, flatDir(base))
    // an empty sub-store is also what a store in the retired layout
    // shows here: list the root, which refuses that one by name
    if (grain.merge.isEmpty) listGrainDirs(fs, base)
    readResolved(spark, fs, baseDir, Seq(grain), snapshot)
      .drop(FlatGrainCol)
  }

  /** All committed state rows of the grains `grains` selects (default:
    * all), PRUNED at listing time — a dashboard query over one week never
    * lists, opens, or schedules the other grains' files (PlanSpec pins
    * the scan's input-file set). Between compactions a key can appear in
    * several rows; every `*_merge` consumer folds them anyway.
    *
    * Metadata cost is bounded by the per-grain MANIFEST: a grain with a
    * `_MANIFEST` resolves in ONE file read — no per-batch
    * listStatus/marker/ingest-id round-trips — and the scan pins exactly
    * the manifest's files (a built-in snapshot: a compaction committing
    * after this point cannot change what the plan reads, though its
    * cleanup can still delete the files once the grace window passes). A
    * grain without a manifest (its last writer crashed before the
    * rewrite) falls back to listing, lazy over the resolved dirs: a plan
    * held across a compaction's CLEANUP can hit deleted files
    * (availability, not wrong data). Act on it promptly, or pass
    * `snapshot = true` to pin the files eagerly. */
  def readGrains(spark: SparkSession, baseDir: String,
      grains: String => Boolean = _ => true,
      snapshot: Boolean = false): DataFrame = {
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    val selected = listGrainDirs(fs, base)
      .filter { case (v, _) => grains(v) }.sortBy(_._1)
    // Grains resolve CONCURRENTLY: each is an independent metadata read
    // (one manifest open, or the listing fallback), and on an object
    // store each read is an ~ms RPC — serial resolution makes a wide
    // dashboard read O(grains × RPC) on the DRIVER before the scan even
    // plans (a year of daily grains ≈ 365 ms; 100k grains ≈ 100 s).
    // Order is preserved (futures joined in `selected` order), so the
    // resolved file list is identical to the serial one.
    readResolved(spark, fs, baseDir,
      graft.sources.Sinks.inParallel(selected) { case (_, gdir) =>
        resolveGrain(fs, gdir) },
      snapshot)
  }

  /** One grain's read set: its manifest's data files (Left), or — when
    * the manifest is missing, torn or empty — its live batch dirs
    * (Right). */
  private def resolveGrain(fs: FileSystem,
      gdir: Path): Either[Seq[Path], Seq[Path]] =
    GenerationalBatches.readManifest(fs, gdir) match {
      case Some((_, _, relFiles)) if relFiles.nonEmpty =>
        Left(relFiles.map(rel => new Path(gdir, rel)))
      case _ =>
        Right(GenerationalBatches.liveBatches(fs, gdir).sortBy(_._1)
          .map { case (_, p) => new Path(p, "states") })
    }

  /** Scan resolved grains. Listed batch dirs stay lazy unless `snapshot`
    * pins their files now: explicit file paths bypass Spark's default
    * path filter, so [[GenerationalBatches.dataFiles]] applies the
    * data-file rules (no '_' markers/_SUCCESS, no '.'-prefixed
    * hidden/checksum/temp). A compaction's cleanup can still delete
    * pinned files mid-action — at that point re-read; for true snapshot
    * isolation over object stores use a table format. */
  private def readResolved(spark: SparkSession, fs: FileSystem,
      baseDir: String, resolved: Seq[Either[Seq[Path], Seq[Path]]],
      snapshot: Boolean): DataFrame = {
    val files = resolved.collect { case Left(fsq) => fsq }.flatten
    val dirs = resolved.collect { case Right(d) => d }.flatten
    require(files.nonEmpty || dirs.nonEmpty,
      s"no committed state batches under $baseDir for the selected grains")
    val dirFiles =
      if (!snapshot) dirs.map(_.toString)
      else dirs.flatMap(d =>
        GenerationalBatches.dataFiles(fs, d)
          .map(f => new Path(d, f).toString))
    spark.read.parquet(files.map(_.toString) ++ dirFiles: _*)
  }

  /** The grain values currently present in a grain-partitioned store,
    * sorted. */
  def grainValues(spark: SparkSession, baseDir: String): Seq[String] = {
    val fs = fsOf(spark, baseDir)
    listGrainDirs(fs, new Path(baseDir)).map(_._1).sorted
  }

  /** Committed, not-yet-folded batch dirs, summed over all grains —
    * q118 pins that compaction actually shrinks it. */
  def liveBatchCount(spark: SparkSession, baseDir: String): Int = {
    val fs = fsOf(spark, baseDir)
    listGrainDirs(fs, new Path(baseDir)).map { case (_, g) =>
      GenerationalBatches.liveBatches(fs, g).size }.sum
  }

  /** Per-sub-store METADATA inventory — the observability view a
    * maintenance scheduler or capacity dashboard reads: one row per
    * grain (a flat store's one row is its fixed grain) with the live batch
    * count, the folded-but-not-yet-swept dir count and their DEAD BYTES
    * (the grace-window bytes [[sweepExpired]] reclaims once the horizon
    * passes), the data files and bytes currently served, the distinct
    * ingest ids carried (replay-guard growth), and the manifest's state
    * (`ok` — matches the live listing; `stale` — one op behind, readers
    * serve the previous snapshot; `absent` — listing fallback in
    * effect, healed by the next op; `none` — empty sub-store). PLUS one
    * store-level `<root>` row (ADVICE r18): crashed root stage dirs and
    * drop tombstones — `.ingest-*`/`.compact-*`/`.dropped-*`, the
    * largest dead-byte class (a crashed fold's stage can hold a full
    * copy of the folded bytes) — as `dead_dirs`/`dead_bytes`, so the
    * janitor's full payoff is visible, not just the grace-window tail.
    * The root row counts ALL such dirs including a live op's young
    * stage (a dashboard cannot judge staleness; the janitor itself only
    * deletes stale ones) and is marked `manifest = "root"`; a grain
    * VALUE literally equal to `<root>` would collide with the label —
    * grain values are dates/weeks in practice, documented edge.
    * Metadata-only: listings plus one manifest read per grain, resolved
    * on the same bounded driver pool as [[readGrains]]; no Spark job,
    * no lease — numbers can move under a concurrent op, which is fine
    * for a dashboard and wrong for a commit decision (the marker
    * protocol stays the truth). */
  def stats(spark: SparkSession, baseDir: String): DataFrame =
    spark.createDataFrame(statsRows(spark, baseDir))

  /** [[stats]] as driver-local rows — what [[sweepIfWorthIt]] reads
    * (no Spark job for a cadence decision). `minStageAgeMs` > 0 makes
    * the `<root>` row a JANITOR'S inventory: stage dirs younger than
    * the horizon are excluded from its dead count/bytes, because a
    * live op's working set is not reclaimable and the sweep itself
    * defers such entries (ADVICE r19). The dashboard ([[stats]]) keeps
    * 0 — it reports everything and judges nothing. */
  private[graft] def statsRows(spark: SparkSession,
      baseDir: String, minStageAgeMs: Long = 0L): Seq[StoreGrainStats] = {
    val fs = fsOf(spark, baseDir)
    val base = new Path(baseDir)
    def one(grain: String, dir: Path): StoreGrainStats = {
      val committed = GenerationalBatches.committedBatches(fs, dir)
      val deadNames = GenerationalBatches.foldedDirs(fs, committed)
      val (dead, live) = committed.partition { case (_, p) =>
        deadNames.contains(p.getName) }
      def filesOf(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
        val states = new Path(p, "states")
        if (!fs.exists(states)) Seq.empty
        else fs.listStatus(states).toSeq.filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      }
      val liveFiles = live.flatMap { case (_, p) => filesOf(p) }
      val manifest = GenerationalBatches.readManifest(fs, dir) match {
        case None => if (committed.isEmpty) "none" else "absent"
        case Some((b, _, _)) =>
          if (b.toSet == live.map(_._2.getName).toSet) "ok" else "stale"
      }
      StoreGrainStats(grain, live.size, dead.size, liveFiles.size,
        liveFiles.map(_.getLen).sum,
        dead.flatMap { case (_, p) => filesOf(p) }.map(_.getLen).sum,
        GenerationalBatches.seenIngestIds(fs, live).size, manifest)
    }
    val grains = listGrainDirs(fs, base).sortBy(_._1)
    val rootRow = {
      val entries =
        if (fs.exists(base)) fs.listStatus(base).toSeq else Seq.empty
      val now = System.currentTimeMillis()
      val stage = entries.filter(st => st.isDirectory &&
        StageDirPrefixes.exists(st.getPath.getName.startsWith) &&
        (minStageAgeMs <= 0 || now - st.getModificationTime > minStageAgeMs))
      // per-dir recursive byte count; a dir a concurrent op deletes
      // mid-listing counts 0 (read-only dashboard, not a commit input)
      val bytes = stage.map { st =>
        try fs.getContentSummary(st.getPath).getLength
        catch { case _: java.io.IOException => 0L }
      }.sum
      StoreGrainStats(StatsRootGrain, 0, stage.size, 0, 0L, bytes, 0,
        "root")
    }
    graft.sources.Sinks.inParallel(grains) { case (g, gdir) =>
      one(g, gdir) } :+ rootRow
  }

  /** The `grain` label of [[stats]]'s store-level row. */
  val StatsRootGrain = "<root>"

  // ---- shared internals ----------------------------------------------

  /** Resolve a fold's partition count: explicit when positive, AUTO
    * (`targetPartitions = 0`) from the scan's own file statistics (the
    * FileIndex already stat'ed every file — no extra RPCs) via
    * `Sinks.autoFoldPartitions`. */
  private def foldPartitions(spark: SparkSession, scan: DataFrame,
      targetPartitions: Int): Int =
    if (targetPartitions > 0) targetPartitions
    else graft.sources.Sinks.autoFoldPartitions(
      scan.queryExecution.optimizedPlan.stats.sizeInBytes,
      spark.sessionState.conf.filesMaxPartitionBytes)

  /** Column-set and state-type door checks, batch in isolation. */
  private def requireStateBatch(states: DataFrame, keyCols: Seq[String],
      stateCol: String): Unit = {
    require(keyCols.nonEmpty, "rollup store needs at least one key column")
    val expected = (keyCols :+ stateCol).toSet
    require(states.columns.toSet == expected,
      s"state batch columns ${states.columns.toSet} != $expected")
    // BINARY covers the funnel/next-node families, BIGINT retention's
    // 8-byte bitmask — whatever the family's *_state producer emits
    require(states.schema(stateCol).dataType == BinaryType
        || states.schema(stateCol).dataType == LongType,
      s"$stateCol must be a *_state partial column (BINARY or BIGINT), got " +
        states.schema(stateCol).dataType)
  }

  private def requireTargetPartitions(targetPartitions: Int): Unit =
    require(targetPartitions >= 0,
      s"targetPartitions must be positive (or 0 for auto-sizing from " +
        s"input bytes), got $targetPartitions")

  private def requireValidIngestId(ingestId: Option[String]): Unit =
    ingestId.foreach(id => require(id.nonEmpty && !id.contains('\n'),
      s"ingest id must be non-empty and newline-free: '$id'"))

  // ---- grain directory layout ----------------------------------------

  /** `<col>=<escaped value>` — the value percent-encoded so any string
    * round-trips through a single path segment (ISO dates pass through
    * verbatim). */
  private[graft] def grainDirName(grainCol: String, value: String): String =
    s"$grainCol=${escapeGrain(value)}"

  /** Walks CODE POINTS, not chars: a supplementary-plane value (emoji,
    * rare CJK) is a surrogate PAIR, and escaping each lone surrogate's
    * UTF-8 bytes would mangle every astral value to the same '?' bytes —
    * distinct grains colliding into one directory. */
  private def escapeGrain(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val cp = v.codePointAt(i)
      val n = Character.charCount(cp)
      val c = v.charAt(i)
      if (n == 1 && ((c.isLetterOrDigit && c < 0x80) || c == '.' ||
          c == '_' || c == '-'))
        sb.append(c)
      else v.substring(i, i + n).getBytes("UTF-8")
        .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
      i += n
    }
    sb.toString
  }

  private def unescapeGrain(s: String): String = {
    val bytes = new scala.collection.mutable.ArrayBuffer[Byte]()
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        bytes += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
        i += 3
      } else {
        bytes ++= s.charAt(i).toString.getBytes("UTF-8")
        i += 1
      }
    }
    new String(bytes.toArray, "UTF-8")
  }

  /** (unescaped grain value, grain dir) for every grain partition. The
    * root listing every op starts from also refuses a store in the
    * retired flat layout (`batch_*` dirs at the root): it is not
    * migrated, and no op may serve or write it. */
  private def listGrainDirs(fs: FileSystem, base: Path): Seq[(String, Path)] =
    if (!fs.exists(base)) Seq.empty
    else {
      val entries = fs.listStatus(base).toSeq
      require(!entries.exists(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch_")),
        s"$base holds batch_* dirs at its root: that flat-store layout is " +
          "retired and not migrated; rebuild the store (a flat store now " +
          s"lives in its sub-store ${flatDir(base).getName})")
      entries
        .filter(st => st.isDirectory && st.getPath.getName.contains("=")
          && !st.getPath.getName.startsWith("."))
        .map { st =>
          unescapeGrain(st.getPath.getName.split("=", 2)(1)) -> st.getPath
        }
    }

  /** The newest committed batch across every grain (None on first
    * ingest) — the lazy genesis derivation's reference. */
  private def latestBatchAcrossGrains(fs: FileSystem,
      base: Path): Option[Path] =
    listGrainDirs(fs, base).sortBy(_._1).reverse.iterator
      .flatMap { case (_, g) =>
        GenerationalBatches.committedBatches(fs, g).sortBy(_._1).lastOption
          .map(_._2)
      }.nextOption()

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
}
