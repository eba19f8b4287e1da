package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.sources.Sinks

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design notes (the point of each shape):
  *   - exact dedup is a single hash aggregation on a text digest — one
  *     shuffle on a 32-byte key, never on the document body;
  *   - the exact Jaccard join uses an INVERTED INDEX on shingles (shuffle on
  *     shingle, then on the pair key) instead of a cross join: cost is
  *     sum-over-shingles(df²) not n² — the only exact-similarity shape that
  *     survives 100 TB;
  *   - MinHash compresses each document to a fixed k-long signature
  *     (k·8 bytes, independent of document size), and LSH banding turns the
  *     similarity join into an equi-join on (band, bandHash) — candidates
  *     are then verified exactly. Tune bands/rows for the target threshold:
  *     P(candidate) = 1 - (1 - J^r)^b;
  *   - SimHash compresses to a single 64-bit fingerprint; near-dups are
  *     pairs within small Hamming distance, found by equi-joining on
  *     16-bit bands (any pair with distance ≤ 3 shares at least one of 4
  *     bands — pigeonhole).
  *
  * Everything is built-in columns (codegen'd); no UDFs, no driver loops.
  */
object Dedup {

  /** Max shingles a single document may buffer inside the prefix-ranking
    * hash aggregate; docs above this rank via a spillable window sort
    * instead (see jaccardJoinImpl). 64k shingles ≈ a ~300 KB aggregation
    * row — comfortably in-memory; beyond it, one mega-document must not
    * be able to OOM an executor. */
  private val MaxBufferedPrefixShingles = 1 << 16

  /** Persist + eagerly materialize: within a single action, parallel
    * (broadcast) subtrees race the lazy cache population and each recompute
    * the lineage; materializing first guarantees every branch reads the
    * cache. The frames this wraps are small sketches (ids, shingles,
    * signatures), never full documents. */
  private def materialize(df: DataFrame): DataFrame = materializeN(df)._1

  /** Same as `materialize`, returning the row count the eager action
    * already computed — callers that branch on cardinality (e.g. the
    * driver union-find cutoff) reuse it instead of paying a second job. */
  private def materializeN(df: DataFrame): (DataFrame, Long) = {
    val p = OpCaches.track(df.persist())
    val n = p.count()
    (p, n)
  }

  /** Word k-shingles (distinct, sorted), the unit of n-gram similarity.
    *
    * IMPORTANT: pass a BOUND tokens column (an attribute), not the
    * `split(...)` expression itself — an expression is re-evaluated inside
    * every lambda element reference, turning shingling quadratic. Use
    * `shingleFrame` for the standard two-step projection.
    * Arrays come out lexicographically sorted so the verification kernel
    * (`sorted_intersect_count`) can two-pointer-merge them. */
  def shinglesOfTokens(toks: Column, k: Int = 3): Column = {
    val n = size(toks)
    when(n >= k,
      array_sort(array_distinct(transform(
        sequence(lit(1), n - lit(k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + lit(o))): _*)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Convenience for tests / small frames: tokenizes and shingles in one
    * column expression. Do NOT use on large data (see shinglesOfTokens). */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOfTokens(TextAnalysis.tokensWs(text), k)

  /** (id, sh) with tokens bound to an attribute between the two
    * projections — shingling is one pass per document.
    *
    * Deliberately NO `filter(size(sh) > 0)` here: predicate pushdown would
    * substitute the whole shingle expression into the filter and evaluate
    * the pipeline twice per row (observed 13s vs <1s at 5k docs). Empty
    * arrays are harmless downstream — explode() emits nothing for them. */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextAnalysis.tokensWs(col(textCol)).as("toks"))
      .select(col("id"), shinglesOfTokens(col("toks"), k).as("sh"))

  /** `shingleFrame` + the derived columns every dedup join needs:
    * `shh` (sorted xxhash64 of each shingle) and `n_sh`. Hashing the
    * shingle STRINGS is the one per-byte pass over the corpus; computing it
    * once here — inside the frame the joins materialize anyway — means the
    * inverted index, the MinHash signatures, and both verification sides
    * all reuse the 8-byte hashes instead of re-hashing the strings (the
    * string pass used to run 3-4 times per join: index build + twice in
    * verification). */
  private[graft] def shingleFrameHashed(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    shingleFrame(docs, idCol, textCol, k).select(col("id"), col("sh"),
      array_sort(transform(col("sh"), s => xxhash64(s))).as("shh"),
      size(col("sh")).as("n_sh"))

  private def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def sortedIntersectCountLong(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.SortedIntersectCountLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact verification of candidate (doc_a, doc_b) pairs against the
    * HASHED shingle frame (`shingleFrameHashed`), in two stages:
    *
    *   1. HASHED pass: join 8-byte sorted shingle-hash arrays (cheap to
    *      shuffle, two-pointer codegen'd intersect) and keep pairs whose
    *      hash-Jaccard clears the threshold. A hash collision can only
    *      INFLATE the intersection, so this pass-set is a SUPERSET of the
    *      true pairs — nothing is ever missed;
    *   2. STRING pass: re-verify the (tiny) survivor set on the true
    *      shingle arrays for exact Jaccard values, filtering any
    *      collision-induced false positives.
    *
    * Output is therefore bit-identical to verifying every candidate on
    * strings, at ~1/3 the shuffle bytes and comparison cost — the stage-1
    * arrays are the precomputed `shh` hashes of sorted-distinct string
    * shingles, and `n_sh` always counts the string arrays.
    */
  private def verifyPairsExact(sh: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame =
    verifyPairsExactTwoSided(sh, sh, cands, threshold)

  /** Two-frame variant of the exact pair verification: `doc_a` ids resolve
    * against `shA`, `doc_b` ids against `shB` (both in `shingleFrameHashed`
    * layout). The self-join case passes the same frame twice; the
    * incremental case resolves the index side against its PERSISTED
    * shingle columns. */
  private def verifyPairsExactTwoSided(shA: DataFrame, shB: DataFrame,
      cands: DataFrame, threshold: Double): DataFrame = {
    val aHash = shA.select(col("id").as("doc_a"), col("shh").as("ha"), col("n_sh").as("na"))
    val bHash = shB.select(col("id").as("doc_b"), col("shh").as("hb"), col("n_sh").as("nb"))
    val passed = cands
      .join(aHash, "doc_a")
      .join(bHash, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        sortedIntersectCountLong(col("ha"), col("hb")).cast("double").as("common"))
      .filter(col("common") / (col("na") + col("nb") - col("common")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val aSh = shA.select(col("id").as("doc_a"), col("sh").as("sha"), col("n_sh").as("na"))
    val bSh = shB.select(col("id").as("doc_b"), col("sh").as("shb"), col("n_sh").as("nb"))
    passed
      .join(aSh, "doc_a")
      .join(bSh, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        sortedIntersectCount(col("sha"), col("shb")).cast("double").as("common"))
      .select(col("doc_a"), col("doc_b"),
        (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact duplicate groups: documents with byte-identical text, keyed by a
    * 256-bit digest so the shuffle never carries the body. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Persistable exact-dedup digest index: one (text_hash, keep_id) row per
    * distinct text — the accumulated corpus's dedup state, 32 bytes + id
    * per DISTINCT document. The exact-dedup member of the incremental
    * family (`minhashIndex` / `simhashIndexMd5`). */
  def exactDigestIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"))

  /** Screen a NEW batch against a stored `exactDigestIndex`: one row per
    * new doc with `is_dup` (byte-identical text already in the corpus) and
    * the stored representative's id (NULL when new). Within-batch
    * duplicates are NOT flagged here by design — they are the compaction
    * self-dedup's job (`exactDupGroups` on the batch), keeping this probe a
    * single equi-join with no batch-internal aggregate.
    *
    * Scale shape: the batch digests per-row and left-joins the index on the
    * 32-byte digest — the corpus body is never read, the join shuffles
    * digests only, and ingest cost is O(batch), never O(corpus). */
  def exactDupAgainst(newDocs: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    newDocs
      .select(col(idCol).as("new_id"), sha2(col(textCol), 256).as("text_hash"))
      .join(index, Seq("text_hash"), "left")
      .select(col("new_id"), col("keep_id").isNotNull.as("is_dup"),
        col("keep_id"))

  /** Append a NEW batch to a STORED `exactDigestIndex` at `path`: digests
    * already present keep their stored representative (first-writer-wins —
    * the incremental-ingest contract: the earliest-ingested document owns
    * its text); only previously-unseen digests land, as one new batch.
    * When batches arrive in id order (the normal ingest stream),
    * first-writer-wins coincides with the global `min(doc_id)` the
    * one-shot `exactDigestIndex` build produces, so an index grown by this
    * function answers probes identically (q101 pins that under the q76
    * oracle, through a [[compactDigestIndex]] of the accreted batches).
    *
    * Storage: `path` is a generational store (`GenerationalBatches`):
    * each append lands straight into the next `batch_<k>` dir in ONE
    * observed write and commits by its marker, so a crashed append is
    * invisible and reaped by the next writer. The anti-join and the
    * publish run under the store's single-writer lease — two appends
    * carrying the same new text would otherwise both pass the anti-join
    * and both publish it, and the probe would fan out; a second writer
    * fails fast on the lease. An empty delta commits as a no-op.
    *
    * Scale shape: digest the batch, LEFT ANTI join against the live
    * batches' digests (32-byte keys, corpus bodies never read), write
    * O(new) rows. */
  def appendExactDigestIndex(newDocs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    Sinks.withSingleWriterLease(fs, GenerationalBatches.leasePath(base)) {
      val live = GenerationalBatches.recover(fs, base)
      val batchIdx = exactDigestIndex(newDocs, idCol, textCol)
      val toAppend =
        if (live.isEmpty) batchIdx
        else batchIdx.join(spark.read.parquet(live.map(_._2.toString): _*)
          .select("text_hash"), Seq("text_hash"), "left_anti")
      GenerationalBatches.publish(fs, base, live, Nil, Set.empty, 0L,
          _ => ()) { batchPath =>
        Some(landIndex(toAppend, batchPath)).filter(_.expected > 0)
      }
    }
  }

  /** Write `rows` into a digest-index batch dir in ONE observed job: the
    * count the write saw and the count its parquet footers hold. */
  private def landIndex(rows: DataFrame,
      batchPath: org.apache.hadoop.fs.Path): GenerationalBatches.Landed = {
    val hconf = rows.sparkSession.sessionState.newHadoopConf()
    GenerationalBatches.Landed(
      Sinks.observedLong(Sinks.writeParquetObserved(rows, batchPath.toString,
        Seq(count(lit(1)).as("n"))), "n"),
      Sinks.parquetRowCount(batchPath.getFileSystem(hconf), batchPath, hconf))
  }

  /** The stored exact-digest index at `path`: its live batches' parquet
    * (committed, not folded by a committed compaction) — the frame every
    * probe (`exactDupAgainst`) reads. */
  def readDigestIndex(spark: SparkSession, path: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(path)
    val live = GenerationalBatches.liveBatches(
      base.getFileSystem(spark.sessionState.newHadoopConf()), base)
    require(live.nonEmpty, s"no committed digest index batches under $path")
    spark.read.parquet(live.map(_._2.toString): _*)
  }

  def compactDigestIndex(spark: SparkSession, path: String,
      targetPartitions: Int): Long =
    compactDigestIndex(spark, path, targetPartitions, _ => ())

  /** Fold every live batch of the digest index at `path` into ONE batch of
    * exactly `targetPartitions` files: incremental ingest accretes one
    * small batch per append, and at 100 TB the listing + per-file open cost
    * of thousands of KB-sized files eventually dominates the probe itself.
    * Pure layout (the same rows), published by `GenerationalBatches.publish`
    * under the store's writer lease — the crash order is publish's
    * (`onStep` is CompactionSpec's seam: "written", "committed",
    * "cleaned"), and an append racing it refuses on the lease instead of
    * landing rows the fold does not carry. Returns the row count (0 for a
    * store with no batch). */
  private[graft] def compactDigestIndex(spark: SparkSession, path: String,
      targetPartitions: Int, onStep: String => Unit): Long = {
    require(targetPartitions > 0,
      s"targetPartitions must be positive, got $targetPartitions")
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    Sinks.withSingleWriterLease(fs, GenerationalBatches.leasePath(base)) {
      val live = GenerationalBatches.recover(fs, base)
      if (live.isEmpty) 0L
      else GenerationalBatches.publish(fs, base, live, live, Set.empty, 0L,
          onStep) { batchPath =>
        // repartition, not coalesce: the fold must land exactly
        // `targetPartitions` files whatever the input's file count
        Some(landIndex(spark.read.parquet(live.map(_._2.toString): _*)
            .repartition(targetPartitions), batchPath))
      }
    }
  }

  /** Per-document cross-corpus repeated-passage statistics at word-n-gram
    * ("chunk") granularity — the passage-level analog of exact dedup, in
    * the deduplicating-training-data tradition (Lee et al. '22): a chunk
    * that appears in more than one document is boilerplate / a copied
    * passage, and the per-doc fraction of such chunks is the curation
    * signal.
    *
    * Returns (id, n_chunks, shared_chunks, shared_frac): total chunk
    * instances in the doc, instances whose chunk text occurs in >= 2
    * distinct docs, and their ratio. Docs with fewer than n tokens have no
    * chunks and are omitted (no 0/0 row).
    *
    * Scale shape: explode chunks → ONE hash aggregate per chunk computing
    * its distinct-doc count (map-side partial aggregation absorbs hot
    * boilerplate chunks) → join back → per-doc aggregate. Chunks shuffle
    * as strings here to stay exactly oracle-reproducible; at 100 TB key
    * the aggregate by `xxhash64(chunk)` instead (8-byte shuffle keys; a
    * 64-bit collision merges two chunks' doc sets — odds ~(distinct²/2^65),
    * negligible against the shuffle savings, same trade the jaccard index
    * makes). */
  def chunkDupStats(docs: DataFrame, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // both the doc-frequency aggregate and the join probe side re-read this
    // exploded frame; persist so the tokenize+explode pass runs once (the
    // same recompute hazard jaccardJoinImpl materializes its shingles for)
    val chunks = materialize(docs.select(col(idCol).as("id"),
        TextAnalysis.tokensWs(col(textCol)).as("toks"))
      .select(col("id"), explode(TextAnalysis.ngramsOfTokens(col("toks"), n)).as("chunk")))
    // distinct-doc count per chunk: two-level aggregate (chunk,id) -> chunk
    // instead of count(DISTINCT id) so the partial aggregation stays
    // map-side combinable on the exploded frame
    val docFreq = chunks.select(col("chunk"), col("id")).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("n_docs"))
    chunks.join(docFreq, "chunk")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("n_docs") >= 2, lit(1))).as("shared_chunks"))
      .select(col("id"), col("n_chunks"), col("shared_chunks"),
        (col("shared_chunks").cast("double") / col("n_chunks")).as("shared_frac"))
  }

  /** Cross-document BOILERPLATE detection by winnowing fingerprints: the
    * fraction of each document's winnow fingerprints (char k-grams,
    * window w — the same sketch as `TextAnalysis.winnowFingerprintsFused`
    * / q23) that appear in at least `minDocs` documents. A high
    * `boilerplate_frac` marks documents dominated by SPANS shared across
    * the corpus (headers, footers, license blocks, templates) — the
    * span-level complement of whole-document (`dedupExact`) and
    * token-window (`chunkDupStats`) duplication.
    *
    * Output: (idCol, n_fp, n_common, boilerplate_frac).
    *
    * Scale shape: fingerprints are distinct within a doc, so doc
    * frequency is a map-side-combinable `count` over the exploded frame —
    * no count-distinct; the exploded frame persists once and feeds both
    * the df aggregate and the join probe (the chunkDupStats recompute
    * fix); docs too short to fingerprint (under k + w - 1 chars) surface
    * with n_fp = 0 through the restore join against the pruned id scan.
    * At corpus scale swap the md5-string fingerprints for xxhash64
    * (8-byte shuffle keys) — kept as strings here for oracle fidelity,
    * like chunkDupStats. */
  def boilerplateStats(docs: DataFrame, k: Int = 8, w: Int = 4,
      minDocs: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val fps = materialize(docs.select(col(idCol).as("id"),
      explode(TextAnalysis.winnowFingerprintsFused(col(textCol), k, w)).as("f")))
    val docFreq = fps.groupBy(col("f")).agg(count(lit(1)).as("df"))
    val perDoc = fps.join(docFreq, "f")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"),
        count(when(col("df") >= minDocs, lit(1))).as("n_common"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("n_common").cast("double") / col("n_fp"), lit(0.0))
          .as("boilerplate_frac"))
  }

  /** Exact n-gram Jaccard self-join via inverted index.
    * Returns (doc_a, doc_b, jaccard) for all pairs with J >= threshold.
    *
    * @param maxShingleFreq drop shingles appearing in more than this many
    *   docs before pairing (classic stop-shingle skew guard for web-scale
    *   corpora. None = exact semantics; set it at scale, where a shingle in
    *   100k docs would otherwise emit 10^10 pairs).
    */
  def jaccardJoin(docs: DataFrame, threshold: Double, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      maxShingleFreq: Option[Int] = None): DataFrame = {
    // Memoized per (input plan, params): the pair list is the expensive
    // artifact of a dedup pipeline, and downstream passes (connected
    // components, curation) reuse it instead of re-running the join.
    // Keyed on a 128-bit digest of the canonicalized plan string PLUS the
    // resolved input file list — the plan alone does not see files replaced
    // at the same path mid-session, which would silently serve stale pairs.
    // (Files OVERWRITTEN in place with identical names remain the caller's
    // responsibility: call OpCaches.unpersistAll() after rewriting inputs.)
    // PLUS per-leaf data identity for non-file leaves: a LocalRelation
    // canonicalizes to its schema alone (no data!) and a LogicalRDD to its
    // attributes, so two different in-memory corpora with the same shape
    // would otherwise collide and serve each other's pair list.
    val analyzed = docs.queryExecution.analyzed
    val leafIdentity = analyzed.collectLeaves().map {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        // row hashCodes are content-based (UnsafeRow hashes its bytes) —
        // stable for the session lifetime this memo lives in
        s"local:${l.data.length}:${l.data.hashCode()}"
      case r: org.apache.spark.sql.execution.LogicalRDD => s"rdd:${r.rdd.id}"
      case other => other.getClass.getName
    }.mkString("|")
    val planDigest = java.security.MessageDigest.getInstance("MD5")
      .digest((analyzed.canonicalized.toString() +
          docs.inputFiles.sorted.mkString("|") + "#" + leafIdentity)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val key = s"jaccardJoin:$planDigest:$threshold:$k:$idCol:$textCol:$maxShingleFreq"
    OpCaches.memo(key)(jaccardJoinImpl(docs, threshold, k, idCol, textCol, maxShingleFreq))
  }

  private def jaccardJoinImpl(docs: DataFrame, threshold: Double, k: Int,
      idCol: String, textCol: String,
      maxShingleFreq: Option[Int]): DataFrame = {
    // self-join sides and the verification joins all reference these
    // frames; persist so the shingle/window lineage runs once, not once
    // per branch (a self-join recomputes each side's whole subtree)
    val sh = materialize(shingleFrameHashed(docs, idCol, textCol, k))
    // exact verification on candidates only (hashed pass + string re-verify)
    verifyPairsExact(sh, jaccardCandidates(sh, threshold, maxShingleFreq), threshold)
  }

  /** Candidate-pair generation stage of the jaccard join (everything before
    * exact verification), over a materialized `shingleFrameHashed` frame.
    * `private[graft]` so tests can pin the FILTERING POWER of the AllPairs
    * index-prefix and PPJoin positional bounds directly: weakening a bound
    * only admits extra candidates that exact verification later rejects, so
    * the final output cannot distinguish a correct bound from a uselessly
    * loose one — only this stage can. */
  private[graft] def jaccardCandidates(sh: DataFrame, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    // The ENTIRE candidate-generation index runs on xxhash64(shingle):
    // 8-byte keys through the explode → df → rank → self-join shuffles
    // instead of multi-word strings. Exactness is unaffected: two distinct
    // shingles colliding merely merge their posting lists (a SUPERSET of
    // candidates — the prefix theorem needs only a consistent total order
    // on tokens, which (df, hash) is), and verification is exact.
    // The hashes come straight off the cached `shh` column — the strings
    // were hashed exactly once, in the materialize pass.
    val inv0 = sh.select(col("id"), col("n_sh"), explode(col("shh")).as("shingle"))
    val inv = maxShingleFreq match {
      case Some(cap) =>
        val freq = inv0.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("shingle")
        inv0.join(freq, "shingle")
      case None => inv0
    }
    // PREFIX FILTERING (AllPairs/PPJoin): rank shingles by ascending global
    // frequency; a pair with J >= t must share a shingle within each doc's
    // first (n - ceil(t*n) + 1) rarest shingles. Only that prefix enters the
    // inverted index, so frequent "stop shingles" never explode the join.
    // Candidates are then verified with the exact intersection, so the
    // result is EXACT — identical to the naive all-pairs join.
    //
    // The per-doc ranking runs as a HASH aggregate over a BOUNDED top-k
    // heap (`prefix_topk`), not a row_number window and not a
    // collect_list: a window would sort every posting within each shuffle
    // partition to rank lists that individually fit in a cache line, and
    // a collect_list would buffer AND shuffle each doc's entire posting
    // list just to slice a prefix from it. The heap keeps only the
    // prefixLen globally-rarest (df, shingle) pairs per doc — O(prefixLen)
    // buffer memory, and map-side partial aggregation ships at most
    // prefixLen entries per (doc, partition) instead of every posting.
    //
    // The oversized-document guard stays: docs above
    // MaxBufferedPrefixShingles take a sort-based row_number window over
    // the SAME (df, shingle) order — identical prefix, fully spillable —
    // and union back in, so even a heap of prefixLen entries cannot
    // concentrate an arbitrary buffer in one aggregation row.
    val df_ = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = inv.join(df_, "shingle")
    val prefixLen =
      (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")
    // each prefix entry carries its 1-based POSITION in the doc's full
    // (df, shingle)-sorted order — the input to the positional filter below
    val prefixSmall = ranked
      .filter(col("n_sh") <= MaxBufferedPrefixShingles)
      .groupBy(col("id"))
      .agg(first(col("n_sh")).as("n_sh"),
        ColumnBridge.column(graft.functions.PrefixTopK(
          Seq(prefixLen.cast("long"), col("df"), col("shingle"))
            .map(ColumnBridge.expression)).toAggregateExpression()).as("ps"))
      .select(col("id"), col("n_sh"), posexplode(col("ps")))
      .select(col("id"), col("n_sh"), col("col.h").as("shingle"),
        (col("pos") + 1).as("pos"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val prefixLarge = ranked
      .filter(col("n_sh") > MaxBufferedPrefixShingles)
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= prefixLen)
      .select(col("id"), col("n_sh"), col("shingle"), col("rk").cast("int").as("pos"))
    val prefixM = materialize(prefixSmall.unionByName(prefixLarge))
    // Join-side exact filters (all necessary conditions, so the candidate
    // set stays a superset of the true pairs):
    //   - LENGTH: J >= t forces t·|a| <= |b| <= |a|/t;
    //   - POSITIONAL (PPJoin, Xiao et al. '08): J >= t forces
    //     |a ∩ b| >= α = ceil(t/(1+t)·(na+nb)), and for ANY shingle shared
    //     at sorted positions (pa, pb) the overlap is at most
    //     min(pa,pb)-1 (before it) + min(na-pa, nb-pb)+1 (from it on), so
    //     a true pair passes the bound on EVERY shared prefix entry while
    //     a false candidate whose shared entries all sit too deep is
    //     dropped inside the join — before the pair-dedup shuffle and the
    //     verification arrays ever see it;
    //   - INDEX PREFIX (AllPairs, Bayardo et al. '07): roles are canonical —
    //     x is the SHORTER doc (ties by id) — and the FIRST shared shingle
    //     in the global (df, hash) order must fall within x's first
    //     nx - ceil(2t/(1+t)·nx) + 1 postings. Proof of exactness: with
    //     ny >= nx the overlap bound α >= ceil(2t/(1+t)·nx); were the first
    //     shared entry deeper, ALL shared entries would sit in x's last
    //     ceil(2t/(1+t)·nx) - 1 positions — fewer than α of them. At
    //     t = 0.5 this shrinks the shorter side's effective prefix from
    //     n/2 + 1 to n/3 + 1, and the candidate set superlinearly with it.
    //     (The join can't see "first shared" directly; requiring SOME
    //     shared entry inside the index prefix is implied by it, still
    //     necessary, and keeps the per-row predicate stateless.)
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("x.n_sh") + col("y.n_sh")))
    val xIsShorter = col("x.n_sh") < col("y.n_sh") ||
      (col("x.n_sh") === col("y.n_sh") && col("x.id") < col("y.id"))
    val idxPrefixLen =
      col("x.n_sh") - ceil(lit(2 * threshold / (1 + threshold)) * col("x.n_sh")) + 1
    val cands = prefixM.as("x").join(prefixM.as("y"),
        col("x.shingle") === col("y.shingle") && xIsShorter &&
        col("x.pos") <= idxPrefixLen &&
        // length filter: t·ny <= nx (the ny >= t·nx direction is implied
        // by the canonical ny >= nx)
        col("x.n_sh") >= ceil(lit(threshold) * col("y.n_sh")) &&
        least(col("x.pos"), col("y.pos")) +
          least(col("x.n_sh") - col("x.pos"), col("y.n_sh") - col("y.pos"))
          >= alpha)
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
  }

  /** MinHash signature: array of `numHashes` minima of a seeded hash
    * family over the shingle set — a fixed-size sketch per document.
    * Shingle strings are hashed to 8 bytes once (xxhash64), then the
    * per-seed minima come from the `minhash_signature` per-row kernel in
    * ONE compiled pass (the per-seed `transform` + `array_min` chain this
    * replaces re-walked the string array `numHashes` times through
    * interpreted HOF lambdas). NULL/empty shingle sets → NULL.
    *
    * SKETCH FORMAT v2 — incompatible with signatures persisted before the
    * kernel rewrite: the hash family changed (was per-seed xxhash64 over
    * the shingle STRING; now seeded XXH64.hashLong over xxhash64(string))
    * and so did NULL/empty semantics (empty array now yields a NULL
    * signature, not an array of NULLs). Stored v1 sketches never compare
    * equal to v2 — regenerate any persisted signature columns rather
    * than mixing generations in one join. */
  def minhashSignature(sh: Column, numHashes: Int = 64): Column =
    ColumnBridge.column(graft.functions.MinhashSignature(
      ColumnBridge.expression(transform(sh, s => xxhash64(s))), numHashes))

  /** MinHash + LSH banding + exact verification.
    * Returns (doc_a, doc_b, jaccard) with exact J >= threshold among LSH
    * candidates. Banding recall at similarity J is 1 - (1 - J^r)^b with
    * r = numHashes/bands: the defaults (96 hashes, 24 bands, r=4) give a
    * miss probability of (1 - 0.8^4)^24 ≈ 3e-6 at J = 0.8 and ≈ 1e-11 at
    * J = 0.9 — pick a `threshold` at or above the J where that bound is
    * acceptable (LSH is the HIGH-similarity near-dup tool; for moderate
    * thresholds use the exact `jaccardJoin`).
    *
    * Scale shape: the banded frame carries only (id, band, band_hash) — 24
    * bytes/row — so the candidate self-join shuffles sketches, never shingle
    * arrays; candidate pairs dedup as bare id pairs and only the surviving
    * pairs rejoin the shingle frame for exact verification.
    */
  def minhashLshJoin(docs: DataFrame, threshold: Double, k: Int = 3,
      numHashes: Int = 96, bands: Int = 24,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bandKeys = minhashBandKeys(col("sig"), numHashes, bands)
    val sh = materialize(shingleFrameHashed(docs, idCol, textCol, k))
    // the signature is a PER-ROW kernel (graft.functions.MinhashSignature):
    // all `numHashes` minima in one compiled pass over the cached `shh`
    // array — no explode, no 96-column hash aggregate, and crucially NO
    // SHUFFLE: the explode→groupBy(id) formulation this replaces exchanged
    // the entire (doc, shingle) inverted index just to regroup rows that
    // started on the same row. Same min-wise family (XXH64.hashLong ==
    // seeded XxHash64 over the 8-byte shingle hashes), so signatures are
    // bit-identical (SketchExprsSpec proves it differentially). Docs with
    // no shingles get a NULL signature and drop out, exactly as they
    // emitted no exploded rows before.
    val sig = sh.select(col("id"),
        ColumnBridge.column(graft.functions.MinhashSignature(
          ColumnBridge.expression(col("shh")), numHashes)).as("sig"))
      .filter(col("sig").isNotNull)
    // one (band, bandHash) row per band; equi-join key for candidates
    val banded = materialize(sig.select(col("id"), posexplode(bandKeys))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash")))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // exact verification on the deduped candidate pairs only
    verifyPairsExact(sh, cands, threshold)
  }

  /** MinHash band keys of a signature column: band b is the xxhash64 of
    * signature slots [b*r, (b+1)*r), r = numHashes / bands. This is the
    * sketch format a stored `minhashIndex` carries and a probe batch must
    * reproduce, so the self-join and the index build both spell it here. */
  private def minhashBandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    array((0 until bands).map(b =>
      xxhash64((b * r until (b + 1) * r).map(s => element_at(sig, s + 1)): _*)): _*)
  }

  /** Persistent MinHash+LSH sketch index of a corpus — build once, write
    * to parquet, probe with `minhashLshJoinAgainst` as new batches arrive.
    * The daily-ingest shape: the accumulated corpus is sketched exactly
    * once; each incoming batch sketches only itself (per-row kernels, no
    * shuffle) and equi-joins the stored band keys, so ingest cost is
    * O(batch), never O(corpus).
    *
    * One row per doc with >= 1 shingle:
    * (id, n_sh, sh, shh, band_hashes: array<long>[bands]).
    * The layout is column-pruning-friendly on purpose: candidate
    * generation reads only (id, band_hashes) from the stored parquet
    * (IncrementalLshSpec pins the ReadSchema); the shingle columns are
    * read only for the candidate ids that reach exact verification.
    * SKETCH FORMAT v2 (see `minhashSignature`) — `k`/`numHashes`/`bands`
    * must match between index build and probe. */
  def minhashIndex(docs: DataFrame, k: Int = 3, numHashes: Int = 96,
      bands: Int = 24, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bandKeys = minhashBandKeys(col("__sig"), numHashes, bands)
    shingleFrameHashed(docs, idCol, textCol, k)
      .select(col("id"), col("sh"), col("shh"), col("n_sh"),
        ColumnBridge.column(graft.functions.MinhashSignature(
          ColumnBridge.expression(col("shh")), numHashes)).as("__sig"))
      // NO row filter here, by design: a `__sig IS NOT NULL` filter gets
      // pushed below every projection with the WHOLE sketch pipeline
      // substituted into it (tokenizer inside HOF lambdas re-evaluates per
      // element — the q73 hazard; measured 4x on this builder). Shingle-less
      // docs instead carry a NULL band_hashes, which the probe's posexplode
      // drops — they can never generate candidates.
      .select(col("id"), col("sh"), col("shh"), col("n_sh"),
        when(col("__sig").isNotNull, bandKeys).as("band_hashes"))
  }

  /** Near-dup pairs between a NEW batch and an EXISTING `minhashIndex`
    * frame (typically `spark.read.parquet` of a stored index). Returns
    * (new_id, idx_id, jaccard) with exact J >= threshold among LSH
    * candidates — the same banding recall bound as `minhashLshJoin`
    * (build and probe use the same hash family, so a new doc's band key
    * equals a stored doc's whenever their signatures agree on the band).
    * Rows whose ids appear on BOTH sides are excluded (a re-ingested doc
    * is not its own duplicate); cross pairs between such ids still
    * surface.
    *
    * Scale shape: the batch side sketches per-row (no shuffle); the
    * candidate equi-join shuffles (id, band, band_hash) triples — 24
    * bytes/row — against a column-pruned scan of the stored index; only
    * surviving candidate ids read the stored shingle columns for exact
    * two-stage verification. */
  def minhashLshJoinAgainst(newDocs: DataFrame, index: DataFrame,
      threshold: Double, k: Int = 3, numHashes: Int = 96, bands: Int = 24,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashLshJoinAgainstTracked(newDocs, index, threshold, k, numHashes,
      bands, idCol, textCol)._1

  /** `minhashLshJoinAgainst` that also returns the persisted batch-side
    * sketch, so a bounded-lifetime caller (one streaming micro-batch) can
    * `OpCaches.release` it as soon as the result is consumed instead of
    * leaking one cached frame per batch into the session-level registry. */
  private[graft] def minhashLshJoinAgainstTracked(newDocs: DataFrame,
      index: DataFrame, threshold: Double, k: Int = 3, numHashes: Int = 96,
      bands: Int = 24, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val newIdx = materialize(minhashIndex(newDocs, k, numHashes, bands, idCol, textCol))
    def banded(df: DataFrame) = df
      .select(col("id"), posexplode(col("band_hashes")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    val cands = banded(newIdx).as("x")
      .join(banded(index).as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.id") =!= col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    (verifyPairsExactTwoSided(newIdx, index, cands, threshold)
      .withColumnsRenamed(Map("doc_a" -> "new_id", "doc_b" -> "idx_id")),
      newIdx)
  }

  /** Connected components over a near-duplicate pair list: assigns every
    * document the MINIMUM doc id reachable through dup pairs — the
    * "keep one representative per duplicate cluster" step that follows any
    * of the similarity joins.
    *
    * Iterative min-label propagation with POINTER DOUBLING: each round
    * takes label := min(label, neighbors' labels, label-of-label). The
    * doubling hop halves the remaining distance to the component minimum,
    * so rounds scale with log2(diameter), not diameter — a path component
    * of 1000 docs converges in ~10 rounds, not 1000 (dense dup clusters
    * still finish in 2-3). Fixpoint is checked with a cheap aggregate on
    * the same cached frame (one action per round).
    *
    * Throws IllegalStateException if the loop exits before fixpoint —
    * a silently split component is a wrong answer, not a degraded one.
    * Returns (id, component) for every id appearing in `pairs`.
    *
    * Graphs with at most `driverThreshold` (directed) edges solve with a
    * DRIVER-SIDE union-find instead: the pair list of a selective
    * similarity join is usually tiny relative to the corpus, and the
    * distributed loop's fixed cost (3+ jobs of shuffles) dwarfs a
    * microsecond union-find over bounded driver state — the same class of
    * exception as collecting k-means centroids. Pass 0 to force the
    * distributed path. The union-find path needs long ids; other id types
    * always take the distributed path. The default cutoff (100k directed
    * edges ≈ a few MB of primitive pairs on the driver) bounds driver
    * memory; the cardinality check reuses the count the eager
    * materialization already ran, so choosing a path costs no extra job.
    */
  def dupComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 20,
      driverThreshold: Long = 100000): DataFrame = {
    // both edge directions from ONE pass over the pair list (a self-union
    // would reference `pairs` from two parallel subtrees and race its lazy
    // cache, recomputing the join)
    val (edges, nEdges) = materializeN(
      pairs.select(explode(array(
          struct(col(aCol).as("u"), col(bCol).as("v")),
          struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct())
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && nEdges <= driverThreshold) {
      return driverUnionFind(edges)
    }
    // each round references the previous labels frame THREE times (neighbor
    // min, pointer double, self), so carrying lineage would grow the logical
    // plan 3^rounds — localCheckpoint truncates it to a LogicalRDD per
    // round (the GraphFrames pattern for iterative algorithms; the frame is
    // three long columns, and ContextCleaner frees unreferenced round
    // blocks). On a real cluster prefer reliable checkpointing if executor
    // loss mid-computation must be survivable.
    var labels = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("c"))
      .select(col("id"), least(col("id"), col("c")).as("c"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val viaNeighbors = edges.join(labels, edges("v") === labels("id"))
        .groupBy(col("u").as("id")).agg(min(col("c")).as("nc"))
      // pointer doubling: the label of my label (c is always itself an id
      // in the edge set, so the lookup is total; left join guards anyway).
      // Only from round 3 — dup clusters are usually dense pairs/triples
      // that one-hop propagation finishes in 2 rounds, so the doubling
      // join would be a pure extra shuffle there; a component still alive
      // at round 3 is chain-shaped, and doubling keeps its total O(log d).
      val oneHop = labels.join(viaNeighbors, Seq("id"), "left")
      // carry the previous label alongside the new one so the convergence
      // check is a plain aggregate over the checkpointed frame — one job
      // materializes the round, one cheap aggregate answers "did anything
      // change"
      val next = (if (round < 2) {
        oneHop.select(labels("id"),
          least(labels("c"), coalesce(col("nc"), labels("c"))).as("c"),
          labels("c").as("pc"))
      } else {
        val viaDouble = labels.select(col("id").as("dbl_id"), col("c").as("dc"))
        oneHop.join(viaDouble, labels("c") === viaDouble("dbl_id"), "left")
          .select(labels("id"), least(labels("c"),
              coalesce(col("nc"), labels("c")),
              coalesce(col("dc"), labels("c"))).as("c"),
            labels("c").as("pc"))
      }).localCheckpoint()
      val changed = next.agg(count(when(col("c") =!= col("pc"), lit(1))).as("n"))
        .first().getLong(0)
      labels = next
      converged = changed == 0
      round += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"dupComponents did not converge within $maxRounds rounds — " +
          s"component diameter exceeds 2^$maxRounds; raise maxRounds")
    }
    labels.select(col("id"), col("c").as("component"))
  }

  /** Exact union-find (path halving + union by min label) over a collected
    * edge list — the small-graph fast path of `dupComponents`. */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    // typed collect: primitive-pair tuples, not GenericRow wrappers —
    // ~an order of magnitude less driver garbage at the 100k cutoff
    val es = edges.select(col("u").as("_1"), col("v").as("_2"))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      parent.putIfAbsent(x, x)
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        // union by MIN root so the final label is the component minimum
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val rows = ids.toSeq.map(id => (id, find(id)))
    val spark = edges.sparkSession
    import spark.implicits._
    rows.toDF("id", "component")
  }

  /** 64-bit SimHash fingerprint per document: per-bit majority vote over
    * the xxHash64 of each distinct token.
    *
    * A PER-ROW kernel (graft.functions.Simhash64): the fingerprint depends
    * only on the document's own tokens, so it computes in one compiled pass
    * per row — no explode, no groupBy, no shuffle (the formulation this
    * replaces exchanged every (doc, token) pair through a 64-sum-column
    * aggregate). Docs whose text is NULL get a NULL fingerprint and drop
    * out, exactly as they emitted no exploded rows before. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        ColumnBridge.column(graft.functions.Simhash64(
          ColumnBridge.expression(TextAnalysis.tokensWs(col(textCol)))))
          .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Oracle-reproducible SimHash variant: the per-token 64-bit hash is the
    * first 16 hex chars of md5(token), and the fingerprint is emitted as a
    * 16-char hex string. Every step — md5, per-nibble bit decode, majority
    * vote, hex re-encode — has an exact ANSI-SQL twin, so an independent
    * engine can verify the whole fingerprint bit-for-bit (xxhash64's
    * internals can't be reproduced in SQL; md5's hex output can). Use
    * `simhash` (xxhash64 → single LONG) on the hot path; this variant
    * exists so the fingerprint FUNCTION itself is covered by the
    * differential oracle, not just determinism-tested.
    *
    * Layout: hex char j of the output (1-based) is the majority-vote result
    * of bits 4(j-1)..4(j-1)+3, where bit p of char j of a token's hash is
    * `(nibble_j >> p) & 1` and nibble_j decodes hex char j of md5(token).
    */
  def simhashMd5(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // per-row kernel (graft.functions.SimhashMd5Hex) — same no-shuffle shape
    // as `simhash` above, same nibble/vote layout as the SQL oracle twin
    docs.select(col(idCol).as("doc_id"),
        ColumnBridge.column(graft.functions.SimhashMd5Hex(
          ColumnBridge.expression(TextAnalysis.tokensWs(col(textCol)))))
          .as("simhash_hex"))
      .filter(col("simhash_hex").isNotNull)

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist (≤ 3 with the
    * 4-band split: pigeonhole guarantees one identical 16-bit band). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simhashPairsOf(
      simhash(docs, idCol, textCol).select(col(idCol).as("id"), col("simhash")),
      maxDist)

  /** The md5-fingerprint twin of `simhashPairs` — same band join over
    * `simhashMd5` fingerprints, so the whole PAIR operator (not just the
    * fingerprint function) is reproducible bit-for-bit by an ANSI-SQL
    * oracle. Use `simhashPairs` (xxhash64) on the hot path. */
  def simhashPairsMd5(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // hex → i64 via two 32-bit halves (a single 64-bit conv would wrap
    // through an unsigned decimal string that overflows LongType's cast)
    val hi = conv(substring(col("simhash_hex"), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(col("simhash_hex"), 9, 8), 16, 10).cast("long")
    simhashPairsOf(
      simhashMd5(docs, idCol, textCol)
        .select(col("doc_id").as("id"),
          shiftleft(hi, 32).bitwiseOR(lo).as("simhash")),
      maxDist)
  }

  /** Band join over a prepared (id, simhash: long) fingerprint frame.
    * maxDist ≤ 3 keeps the 4×16-bit pigeonhole guarantee EXACT (4 bands
    * can absorb at most 3 differing bits with one band still identical);
    * larger distances would need more/narrower bands, so reject them
    * rather than silently under-recall. */
  def simhashPairsOf(fp: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be in [0,3] for the 4-band pigeonhole guarantee, got $maxDist")
    val banded = materialize(simhashBanded(fp)) // both sides of the self-join
    simhashBandJoin(banded, banded, _ < _, maxDist, "doc_a", "doc_b")
  }

  /** Band b of a 64-bit SimHash fingerprint: bits [16b, 16b+16). */
  private def simhashBand(fp: Column, b: Int): Column =
    shiftrightunsigned(fp, b * 16).bitwiseAND(lit(0xFFFFL))

  /** One (id, simhash, band, band_bits) row per band of each fingerprint. */
  private def simhashBanded(fp: DataFrame): DataFrame =
    fp.select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(b => simhashBand(col("simhash"), b)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_bits"))

  /** The SimHash band equi-join between two `simhashBanded` frames,
    * returning (aName, bName, hamming) for the id pairs `idPred` keeps.
    * A pair sharing k bands would surface k times from the band
    * equi-join; instead of paying a dropDuplicates shuffle on the pair
    * list, each pair is emitted exactly once — from its FIRST shared
    * band — via a codegen'd join-side predicate over the full
    * fingerprints both sides already carry (all lower bands must differ).
    * The hamming cut also runs join-side, so far pairs never leave the
    * join. */
  private def simhashBandJoin(x: DataFrame, y: DataFrame,
      idPred: (Column, Column) => Column, maxDist: Int,
      aName: String, bName: String): DataFrame = {
    def bandBits(side: String, b: Int): Column = simhashBand(col(s"$side.simhash"), b)
    val firstSharedBand = (0 until 4).map { b =>
      (0 until b).map(k => bandBits("x", k) =!= bandBits("y", k))
        .foldLeft(col("x.band") === b)(_ && _)
    }.reduce(_ || _)
    x.as("x").join(y.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_bits") === col("y.band_bits") &&
        idPred(col("x.id"), col("y.id")) && firstSharedBand)
      .select(col("x.id").as(aName), col("y.id").as(bName),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Persistable SimHash fingerprint index — (id, simhash) at 16 bytes per
    * doc, the md5 family so probes stay oracle-reproducible. Build once,
    * write to parquet, probe with `simhashPairsAgainstMd5` as batches
    * arrive — the SimHash twin of `minhashIndex`, for the Hamming-distance
    * near-dup regime. */
  def simhashIndexMd5(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hi = conv(substring(col("simhash_hex"), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(col("simhash_hex"), 9, 8), 16, 10).cast("long")
    simhashMd5(docs, idCol, textCol)
      .select(col("doc_id").as("id"),
        shiftleft(hi, 32).bitwiseOR(lo).as("simhash"))
  }

  /** Hamming near-dup pairs between a NEW batch and an EXISTING
    * `simhashIndexMd5` frame: (new_id, idx_id, hamming ≤ maxDist). Exact —
    * the 4×16-bit band pigeonhole guarantees every pair within maxDist ≤ 3
    * shares a band, and the first-shared-band predicate emits each pair
    * exactly once with no dedup aggregate. Rows with the same id on both
    * sides are excluded (a re-ingested doc is not its own duplicate).
    *
    * Scale shape: the batch side fingerprints per-row (no shuffle, no
    * verification rejoin — Hamming is exact from the fingerprints), both
    * sides shuffle only (id, simhash, band_bits) triples, and each side is
    * scanned exactly once. Ingest cost is O(batch + matched bands), never
    * O(corpus). */
  def simhashPairsAgainstMd5(newDocs: DataFrame, index: DataFrame,
      maxDist: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be in [0,3] for the 4-band pigeonhole guarantee, got $maxDist")
    simhashBandJoin(simhashBanded(simhashIndexMd5(newDocs, idCol, textCol)),
      simhashBanded(index), _ =!= _, maxDist, "new_id", "idx_id")
  }
}
