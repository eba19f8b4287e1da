package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.Sinks

/** The GENERATIONAL BATCH PROTOCOL shared by [[IncrementalSession]] (an
  * event store) and [[RollupStore]] (a state table): a store is a flat
  * directory of `batch_<k>` dirs, each made visible by an atomic
  * `_BATCH_COMMITTED` marker written LAST — so readers never see a
  * partial batch and a crashed writer's dir is invisible garbage. A
  * compaction's marker additionally RECORDS the batch dir names it
  * folded: from commit until cleanup those dirs still exist but are
  * dead, and both readers and recovery must treat them so — otherwise a
  * crash inside that window double-serves every folded row.
  *
  * All paths go through the Hadoop FileSystem API, so the same protocol
  * runs on `file://`, `hdfs://`, and (with the rename caveat stated on
  * [[publish]]) `s3a://`.
  */
private[graft] object GenerationalBatches {

  val Marker = "_BATCH_COMMITTED"

  /** Per-batch INGEST-ID record, the store's replay guard: each line is
    * an id the batch's rows (transitively, after compaction) came from.
    * An at-least-once delivery channel — Spark's `foreachBatch` is the
    * canonical one — re-invokes the sink with the same (queryId, batchId)
    * after a restart; an ingest that records its id here lets the store
    * turn that replay into a committed no-op instead of a double-append. */
  val IngestIds = "_INGEST_IDS"

  def leasePath(base: Path): Path = new Path(base, "_WRITER_LEASE")

  def batchDirs(fs: FileSystem, base: Path): Seq[(Long, Path)] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_"))
      .flatMap(st => st.getPath.getName.stripPrefix("batch_").toLongOption
        .map(_ -> st.getPath))

  def committedBatches(fs: FileSystem, base: Path): Seq[(Long, Path)] =
    batchDirs(fs, base).filter { case (_, p) =>
      fs.exists(new Path(p, Marker)) }

  /** Batch dir names every committed compaction marker says it folded —
    * dead even if the dir still exists (crash before cleanup). Parses
    * names ONLY (no per-marker getFileStatus): this runs on every read's
    * liveBatches resolution, where an extra metadata RPC per folded
    * marker is exactly the cost the manifests exist to avoid — commit
    * times are computed only by [[foldedDirsWithCommitTime]], whose sole
    * caller is recover()'s horizon. */
  def foldedDirs(fs: FileSystem,
      committed: Seq[(Long, Path)]): Set[String] =
    committed.flatMap { case (_, p) =>
      markerLines(fs, new Path(p, Marker)).filterNot(_.startsWith("#"))
    }.toSet

  private def markerLines(fs: FileSystem, marker: Path): List[String] = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** (folded dir name -> the folding marker's commit time): the
    * cleanup-horizon input — a folded dir is DEAD from its fold's commit
    * on, but under a `cleanupDelayMs` grace window its FILES may only be
    * deleted once that commit is older than the window, so a snapshot
    * reader whose plan predates the fold keeps a bounded time to finish
    * (see `RollupStore.compact`).
    *
    * CLOCK SKEW: the horizon is evaluated against the NEXT maintenance
    * op's `System.currentTimeMillis` — usually a host from the same
    * writer fleet — so the commit time used is the LATER of the marker's
    * filesystem modification time and the `#ts=` writer-clock line the
    * commit embeds (max only ever DELAYS deletion, never deletes early
    * relative to either clock; markers written before the line existed
    * fall back to modification time alone). Writer-vs-filesystem skew —
    * an HDFS namenode or object-store clock behind the writers — is thus
    * absorbed; residual writer-vs-writer skew should be padded into
    * `cleanupDelayMs` (it is a grace window, not a fence). */
  def foldedDirsWithCommitTime(fs: FileSystem,
      committed: Seq[(Long, Path)]): Map[String, Long] =
    committed.flatMap { case (_, p) =>
      val marker = new Path(p, Marker)
      val lines = markerLines(fs, marker)
      val names = lines.filterNot(_.startsWith("#"))
      if (names.isEmpty) Nil
      else {
        val writerTs = lines.collectFirst {
          case s if s.startsWith("#ts=") =>
            s.stripPrefix("#ts=").toLongOption
        }.flatten
        val t = math.max(fs.getFileStatus(marker).getModificationTime,
          writerTs.getOrElse(Long.MinValue))
        names.map(_ -> t)
      }
    }.toMap

  /** Committed minus folded: what a read-only caller may serve. */
  def liveBatches(fs: FileSystem, base: Path): Seq[(Long, Path)] = {
    val committed = committedBatches(fs, base)
    val dead = foldedDirs(fs, committed)
    committed.filterNot { case (_, p) => dead.contains(p.getName) }
  }

  /** Mutating recovery (writers only — readers use [[liveBatches]]):
    * delete marker-less (crashed) dirs and folded-but-not-yet-cleaned
    * dirs; returns the live batches. A positive `cleanupDelayMs` is the
    * snapshot-reader GRACE WINDOW: a folded dir's files are deleted only
    * once the compaction that killed it committed more than
    * `cleanupDelayMs` ago — folded dirs are dead for every reader either
    * way (the marker decides), the horizon only bounds when their BYTES
    * vanish, so a snapshot plan pinned before the fold keeps a bounded
    * time window to finish instead of dying the instant cleanup runs.
    * Every maintenance op on one store should pass the same window, or
    * the op with the smallest value defines the real horizon. */
  def recover(fs: FileSystem, base: Path,
      cleanupDelayMs: Long = 0L): Seq[(Long, Path)] = {
    val committed = committedBatches(fs, base)
    batchDirs(fs, base).filterNot(b => committed.exists(_._1 == b._1))
      .foreach { case (_, p) => fs.delete(p, true) }
    val deadAt = foldedDirsWithCommitTime(fs, committed)
    val (folded, live) = committed.partition { case (_, p) =>
      deadAt.contains(p.getName) }
    val now = System.currentTimeMillis()
    folded.foreach { case (_, p) =>
      if (now - deadAt(p.getName) >= cleanupDelayMs) fs.delete(p, true) }
    live
  }

  /** Ingest ids recorded in one batch dir (empty when the batch was not
    * id-tagged). */
  def ingestIds(fs: FileSystem, batchPath: Path): Set[String] = {
    val p = new Path(batchPath, IngestIds)
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Every ingest id the given (live) batches carry — the set a replayed
    * delivery is checked against. Compaction unions the folded batches'
    * ids into the compacted batch (see [[commit]]), so the set survives
    * any number of folds. Growth is one short line per id-tagged ingest,
    * held once per store and read once per append — a metadata read that
    * stays trivial next to the append's own Spark job even after years
    * of minutely micro-batches (~20 MB/year). */
  def seenIngestIds(fs: FileSystem, live: Seq[(Long, Path)]): Set[String] =
    live.iterator.flatMap { case (_, p) => ingestIds(fs, p) }.toSet

  /** Per-sub-store READER MANIFEST: one `i <ingestId>` line per live
    * ingest id, one `b <batch dir>` line per live batch, one
    * `f <batch>/states/<file>` line per data file. Bounds the read path's
    * metadata cost: resolving a grain through its manifest is ONE file
    * read instead of one listStatus plus per-batch marker and ingest-id
    * reads — at years × daily grains × object-store listing latency,
    * that is the difference between a dashboard read that opens O(grains)
    * small files and one that walks O(grains × batches) directory
    * listings. The manifest is a CACHE of the listing, not the commit:
    * the marker protocol stays the truth, WRITERS never consult it (the
    * replay guard and recovery always re-list), and every maintenance op
    * rewrites it after its last commit — a crash in between leaves it
    * one op stale, in which case readers serve the PREVIOUS committed
    * snapshot (consistent, never torn or uncommitted) until the next
    * maintenance op on this sub-store heals it. */
  val Manifest = "_MANIFEST"

  /** The data files of one batch's `states` dir — the same filter the
    * snapshot read applies (data files only: no `_` markers/_SUCCESS, no
    * hidden/checksum/temp files). */
  def dataFiles(fs: FileSystem, states: Path): Seq[String] =
    fs.listStatus(states).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
        && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)

  /** Rewrite `base`'s manifest from the CURRENT listing (writer-side,
    * lease held), published by `Sinks.publishFile`; its brief
    * no-manifest window reads as "fall back to listing" (always
    * correct). The last line is a TERMINATOR (`e <line count>`):
    * [[readManifest]] refuses any manifest whose terminator is missing
    * or disagrees, so a partially-copied manifest (see [[publish]] on
    * S3A) degrades to the listing fallback instead of silently serving a
    * subset of the store's files. (Manifests written before the
    * terminator existed are likewise treated as absent; the next
    * maintenance op's heal rewrites them.) */
  def writeManifest(fs: FileSystem, base: Path): Unit = {
    val live = liveBatches(fs, base).sortBy(_._1)
    val sb = new StringBuilder
    var n = 0
    def line(prefix: String, v: String): Unit = {
      sb.append(prefix).append(v).append('\n'); n += 1
    }
    seenIngestIds(fs, live).toSeq.sorted.foreach(id => line("i ", id))
    live.foreach { case (_, p) =>
      line("b ", p.getName)
      dataFiles(fs, new Path(p, "states")).sorted.foreach { f =>
        line("f ", s"${p.getName}/states/$f")
      }
    }
    sb.append("e ").append(n).append('\n')
    Sinks.publishFile(fs, new Path(base, Manifest), sb.toString)
  }

  /** Parsed manifest: (live batch dir names, ingest ids, data-file paths
    * relative to `base`), or None when absent/vanished/TORN (no
    * terminator, or a terminator that disagrees with the line count —
    * the S3A partial-copy case) — the caller falls back to listing. */
  def readManifest(fs: FileSystem,
      base: Path): Option[(Seq[String], Set[String], Seq[String])] =
    try {
      val in = fs.open(new Path(base, Manifest))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList
      finally in.close()
      val body = lines.filterNot(_.startsWith("e "))
      val complete = lines.lastOption.exists(l =>
        l.startsWith("e ") && l.drop(2).toIntOption.contains(body.size))
      if (!complete) None
      else Some((body.collect { case s if s.startsWith("b ") => s.drop(2) },
        body.collect { case s if s.startsWith("i ") => s.drop(2) }.toSet,
        body.collect { case s if s.startsWith("f ") => s.drop(2) }))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Rows a landing step put in its batch dir: `expected` by the op's
    * own count of what it wrote, `footers` by the landed files' parquet
    * footers. */
  final case class Landed(expected: Long, footers: Long)

  /** The ONE publish path of every generational op. The op says only
    * how its rows reach the next batch dir (`land`, handed
    * `dir/batch_<k>`; None = an empty delta, which commits as a no-op),
    * which live batches it `folds` (none for an append) and which ingest
    * `ids` the batch carries; `live` numbers the batch. The rest runs
    * here, in crash order, with `onStep` (the specs' fault-injection
    * seam) between the steps:
    *   written   — the footer count matches the expected count; no
    *               marker yet, so a crash here is invisible and the next
    *               recover() deletes the dir;
    *   committed — [[commit]] published the marker: the batch is the
    *               truth and the folded dirs are dead for every reader;
    *               `afterCommit` then runs (RollupStore's manifest
    *               rewrite — before the folded files vanish, so manifest
    *               readers switch while the old files still exist);
    *   cleaned   — folded dirs deleted, or left to a later recover()
    *               when a positive `cleanupDelayMs` grace window is
    *               open (only ops that fold reach this step).
    * Returns the batch's row count (0 for an empty delta).
    *
    * OBJECT STORES: a batch whose rows are RENAMED in (the grained ops
    * move a staged partition dir to `batch_<k>/states`) and every
    * [[Sinks.publishFile]] rely on rename. On HDFS/local that rename is
    * atomic; on S3A it is a non-atomic COPY+DELETE. A copy that dies
    * mid-way throws before the marker, leaving an unmarked partial dir
    * that recovery deletes and the replay guard re-lands
    * (MidRenameCrashSpec). A renamed-in batch's `footers` are the staged
    * files' counts, verified against the op's observed total before any
    * grain commits, so its check here trusts the rename to have moved
    * every file; a reader can also observe a partially-copied small file,
    * which is why the manifest and genesis end with terminators. The
    * costs on S3A are the copied bytes and a longer crash-replay window;
    * deployments there should prefer an S3A committer-style layout or a
    * table format for the data plane. */
  def publish(fs: FileSystem, dir: Path, live: Seq[(Long, Path)],
      folds: Seq[(Long, Path)], ids: Set[String], cleanupDelayMs: Long,
      onStep: String => Unit, afterCommit: => Unit = ())(
      land: Path => Option[Landed]): Long = {
    val k = live.map(_._1).maxOption.fold(0L)(_ + 1)
    val batchPath = new Path(dir, s"batch_$k")
    land(batchPath) match {
      case None =>
        fs.delete(batchPath, true); onStep("committed"); 0L
      case Some(Landed(expected, footers)) =>
        require(footers == expected,
          s"batch_$k under $dir has $footers of $expected rows on disk; " +
            "left uncommitted, live batches intact")
        onStep("written")
        commit(fs, batchPath, folds.map(_._2.getName), ids)
        onStep("committed")
        afterCommit
        if (folds.nonEmpty) {
          if (cleanupDelayMs <= 0L)
            folds.foreach { case (_, p) => fs.delete(p, true) }
          onStep("cleaned")
        }
        expected
    }
  }

  /** Write the commit marker LAST; `folded` non-empty marks a
    * compaction and lists the dirs it replaced; `ids` non-empty records
    * the batch's ingest ids (its own on an append, the union of the
    * folded batches' on a compaction) in [[IngestIds]] BEFORE the marker
    * — the ids become durable exactly when the batch does, and a crash
    * in between leaves a marker-less dir that recovery deletes, ids and
    * all (correct: the data those ids guard was never served either, so
    * the redelivery must re-append). The marker goes through
    * `Sinks.publishFile`: a torn marker would list only part of the
    * dirs a compaction replaced, double-serving the rest. */
  private def commit(fs: FileSystem, batchPath: Path, folded: Seq[String],
      ids: Set[String]): Unit = {
    if (ids.nonEmpty) {
      require(ids.forall(id => id.nonEmpty && !id.contains('\n')),
        s"ingest ids must be non-empty and newline-free: $ids")
      val out = fs.create(new Path(batchPath, IngestIds), true)
      try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    // a compaction marker also records the WRITER's clock (`#ts=` line):
    // the grace horizon takes max(file modification time, this) — see
    // foldedDirsWithCommitTime — so a filesystem clock behind the writer
    // fleet cannot shorten the promised cleanupDelayMs window. A `#` line
    // can never collide with a dir name (batch dirs are `batch_<k>`), so
    // even a parser that misread it as a folded name would match nothing
    Sinks.publishFile(fs, new Path(batchPath, Marker),
      if (folded.isEmpty) ""
      else folded.mkString("\n") + s"\n#ts=${System.currentTimeMillis()}")
  }
}
