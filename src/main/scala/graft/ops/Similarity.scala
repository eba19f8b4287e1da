package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import OpCaches.materialize

/** Similarity search over embedding columns (`array<float>` /
  * `array<double>`).
  *
  * Two tiers, mirroring how ANN actually deploys on Spark:
  *   - brute force: exact, one pass, no index — the correctness baseline
  *     and the right answer when one side is small (a query batch
  *     broadcast against the corpus);
  *   - random-hyperplane LSH: each vector is bucketed by the sign pattern
  *     of `planes` fixed random projections, turning the self-join into an
  *     equi-join on the bucket key; multi-table repetition recovers recall.
  *     This is the shape that survives a corpus that no longer fits one
  *     executor: bucket keys shuffle, vectors stream.
  *
  * Dot products run through `zip_with`/`aggregate` higher-order functions —
  * Catalyst expressions, distributed, no UDF.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Dot product via the native codegen'd DotProduct expression (tight
    * primitive loop; same left-to-right summation as the HOF chain and
    * DuckDB's list_dot_product, so values are bit-identical). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** Exact top-k nearest to one query vector (given as a 1-row DataFrame
    * with column `qv`), by cosine. The query side is broadcast; the corpus
    * is scanned once — the canonical "small queries × huge corpus" plan. */
  def bruteTopK(corpus: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame =
    corpus.crossJoin(broadcast(query))
      .select(col(idCol), cosine(col(vecCol), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Exact BATCHED top-k: the k nearest corpus vectors (cosine, ties by
    * ascending id) for EVERY query in `queries` at once — the realistic
    * serving/eval shape (a batch of probe embeddings against a huge
    * corpus). Output: (qid, rank, idCol, sim), rank 1-based.
    *
    * Scale shape: the query batch is collected to the driver (bounded
    * state, the same exception as the IVF coarse quantizer — a query
    * batch is thousands of vectors, not billions) and attached as ONE
    * literal array, so the corpus side has NO join node: one codegen'd
    * pass computes Q sims per corpus row, and the per-query top-k runs
    * as the `score_topk` bounded-heap aggregate — map-side partials keep
    * at most k entries per (query, partition), the one shuffle carries
    * Q × k × partitions rows regardless of corpus size, and no
    * partition-wide sort ever runs (a row_number window would sort
    * N × Q rows in Q skewed partitions). For very large query batches,
    * chunk the batch or use `ivfTopK` per query. Zero-norm vectors yield
    * NaN cosines (0/0); `score_topk` skips NaN scores (SQL ordering: NaN
    * never outranks a real value), so such rows are simply absent from
    * the top-k rather than displacing genuine neighbors. */
  def batchTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qs = queries.select(col(qidCol).cast("long"), col(qvecCol)).collect()
    // the batch becomes a literal in every task's plan: dim × |batch|
    // doubles. Bound it so a mistaken full-table "batch" fails fast
    // instead of OOMing the driver or generating a megabyte plan — chunk
    // the batch (union the results) or switch to ivfTopK beyond this.
    require(qs.length <= 4096,
      s"batchTopK got ${qs.length} query vectors; chunk the batch to <= 4096 " +
        "per call (results union cleanly) or use ivfTopK")
    validateBatch(qs, "batchTopK")
    if (qs.isEmpty) {
      return corpus.sparkSession.emptyDataFrame
        .withColumn("qid", lit(0L)).withColumn("rank", lit(0L))
        .withColumn(idCol, lit(0L)).withColumn("sim", lit(0.0))
        .limit(0)
    }
    // query norms precomputed on the driver, corpus norms once per row
    // BEFORE the explode — per (row, query) work is one dot product, and
    // sqrt(v·v) * sqrt(q·q) is the oracle's own arithmetic shape
    val qLit = array(qs.map { r =>
      val v = r.getSeq[Double](1)
      struct(lit(r.getLong(0)).as("qid"),
        array(v.map(lit): _*).as("qv"),
        lit(math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))).as("qn"))
    }: _*)
    val scored = corpus
      .select(col(idCol).cast("long").as("__cid"), col(vecCol).as("__v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("__nrm"))
      .select(col("__cid"), col("__nrm"), col("__v"), explode(qLit).as("q"))
      .select(col("q.qid").as("qid"), col("__cid"),
        (dot(col("__v"), col("q.qv")) / (col("__nrm") * col("q.qn"))).as("sim"))
    val topk = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ScoreTopK(Seq(lit(k.toLong), col("sim"), col("__cid"))
        .map(org.apache.spark.sql.graftbridge.ColumnBridge.expression))
        .toAggregateExpression())
    scored.groupBy(col("qid")).agg(topk.as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.score").as("sim"))
  }

  /** A collected query batch must be well-formed before it becomes plan
    * literals: a NULL query vector would NPE deep in the driver-side norm
    * fold, and duplicate qids would silently merge two different query
    * vectors into one score_topk group (a mixed, meaningless top-k). */
  private def validateBatch(qs: Array[org.apache.spark.sql.Row], fn: String): Unit = {
    val nullQids = qs.filter(_.isNullAt(0))
    require(nullQids.isEmpty, s"$fn: ${nullQids.length} query rows have NULL qid")
    val nulls = qs.filter(_.isNullAt(1))
    require(nulls.isEmpty,
      s"$fn: query vectors must be non-null; NULL for qid(s) " +
        nulls.take(5).map(_.getLong(0)).mkString(", "))
    val dups = qs.groupBy(_.getLong(0)).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"$fn: duplicate qid(s) ${dups.take(5).mkString(", ")} — each qid must " +
        "map to exactly one query vector, or the per-qid top-k mixes vectors")
  }

  /** Exact all-pairs self-join with cosine >= threshold. O(n²) — the
    * verification baseline; use `lshSelfJoin` when n is large.
    * Norms are computed once per vector BEFORE the join (n sqrt+dot calls,
    * not n²); per-pair work is a single dot product. The arithmetic
    * (dot / (norm_a * norm_b)) is unchanged, so values match the per-pair
    * formulation bit-for-bit. */
  def selfJoinPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val normed = materialize(corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm")))
    normed.as("a").join(normed.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact all-pairs cosine self-join (sim >= threshold) executed WITHOUT a
    * cartesian / nested-loop plan node: ids are hashed into `blocks` blocks,
    * every unordered block pair (i <= j) becomes one equi-join key, and the
    * pairwise comparisons run inside SortMergeJoin key groups.
    *
    * The n²/2 comparisons are inherent to EXACT threshold search over dense
    * embeddings — no sketch prunes a smooth similarity distribution without
    * losing recall (hyperplane-LSH recall at cos=0.4 is ~2% at any sane
    * table count). What a cluster needs is for that work to DISTRIBUTE:
    * B(B+1)/2 independent key groups spread over executors, each side
    * shuffling n·(B+1)/2 sketch-sized rows, no corpus broadcast, no single
    * nested-loop task. Size `blocks` ≈ sqrt(2 × parallelism). Use
    * `lshSelfJoin` / IVF when approximate recall at high thresholds is
    * acceptable; this is the exact path.
    */
  def blockedSelfJoinPairs(corpus: DataFrame, threshold: Double, blocks: Int = 8,
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val normed = materialize(corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      pmod(hash(col(idCol)), lit(blocks)).as("blk")))
    // a vector in block k is the LEFT side of block pairs (k, j >= k) and the
    // RIGHT side of (i <= k, k): every unordered block pair joins exactly once
    val left = normed.select(col("id"), col("v"), col("nrm"),
      col("blk").as("bi"), explode(sequence(col("blk"), lit(blocks - 1))).as("bj"))
    val right = normed.select(col("id").as("rid"), col("v").as("rv"), col("nrm").as("rnrm"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"))
    left.join(right, Seq("bi", "bj"))
      // same-block groups produce both orientations; keep one. Cross-block
      // groups produce exactly one orientation (left = lower block id).
      .filter(col("bi") =!= col("bj") || col("id") < col("rid"))
      .select(least(col("id"), col("rid")).as("vec_a"),
        greatest(col("id"), col("rid")).as("vec_b"),
        (dot(col("v"), col("rv")) / (col("nrm") * col("rnrm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Deterministic pseudo-random unit-free hyperplanes (fixed seed so plans
    * are stable across runs and executors). */
  private def planesFor(dim: Int, planes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern bucket key of `v` under `nPlanes` fixed hyperplanes. */
  def lshBucket(v: Column, dim: Int, nPlanes: Int = 12, seed: Long = 42L): Column = {
    val ps = planesFor(dim, nPlanes, seed)
    val bits = ps.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(v, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** IVF (inverted-file) approximate top-k: k-means-style coarse
    * quantization, then exact search inside the `nProbe` clusters nearest
    * to the query.
    *
    * Training is a fixed number of Lloyd iterations run as DataFrame
    * aggregations (assign = argmin over broadcast centroids, update =
    * per-cluster mean), with deterministic initialization (first `nCells`
    * vectors by id). At scale the corpus is written PARTITIONED BY cell, so
    * a query scans only nProbe/nCells of the data — the IVF counterpart of
    * partition pruning.
    */
  def ivfIndex(corpus: DataFrame, nCells: Int, iterations: Int = 3,
      idCol: String = "vec_id", vecCol: String = "v"): (DataFrame, Array[Array[Double]]) = {
    val base = materialize(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
    var centroids: Array[Array[Double]] = base.orderBy(col("id")).limit(nCells)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 0 until iterations) {
      val assigned = assignCells(base, centroids)
      val dim = centroids(0).length
      val sums = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = Array.tabulate(centroids.length)(c => centroids(c).clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("m")
      }
      centroids = next
    }
    (assignCells(base, centroids), centroids)
  }

  /** argmin-distance cell id per vector via the `argmin_cell` native
    * kernel: the centroid matrix is ONE plan-level reference object, not
    * nCells × dim literal nodes, and the per-row work is a tight primitive
    * loop instead of building + sorting an nCells struct array. Squared L2
    * distance to each centroid is |v|² - 2 v·c + |c|²; |v|² is common to
    * all cells, so argmin needs only (-2 v·c + |c|²) — the kernel computes
    * exactly that, bit-identically to the literal formulation it replaced
    * (ArgminCellSpec pins equality, ties and NaN included). */
  private def assignCells(base: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    base.withColumn("cell", org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ArgminCell(centroids,
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")))))

  /** Exact top-k within the `nProbe` cells nearest to the query vector. */
  def ivfTopK(indexed: DataFrame, centroids: Array[Array[Double]],
      query: Array[Double], k: Int, nProbe: Int,
      idCol: String = "id"): DataFrame = {
    def d2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val t = c(i) - query(i); s += t * t; i += 1 }
      s
    }
    val probes = centroids.zipWithIndex.sortBy(p => d2(p._1)).take(nProbe).map(_._2)
    val qArr = array(query.map(lit): _*)
    indexed.filter(col("cell").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol), cosine(col("v"), qArr).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batched IVF top-k: every query in `queries` at once against a
    * cell-indexed corpus. Per-query probe cells are computed on the driver
    * (centroids are already driver state); the scan filters to the UNION
    * of all probed cells — on cell-partitioned storage that is partition
    * pruning, so the read touches only the probed fraction of the bytes —
    * then each surviving row scores ONLY against the queries that probed
    * its cell (an `array_contains` guard on the per-query cell list), and
    * per-query top-k runs as the `score_topk` bounded heap, exactly like
    * `batchTopK`. With nProbe = nCells this is exact and equals
    * `batchTopK`; smaller nProbe trades recall for scan fraction.
    * Output: (qid, rank, idCol, sim). */
  def ivfBatchTopK(indexed: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, k: Int, nProbe: Int, idCol: String = "id",
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"k and nProbe must be >= 1, got k=$k nProbe=$nProbe")
    val qs = queries.select(col(qidCol).cast("long"), col(qvecCol)).collect()
    require(qs.length <= 4096,
      s"ivfBatchTopK got ${qs.length} query vectors; chunk the batch to <= 4096 per call")
    validateBatch(qs, "ivfBatchTopK")
    if (qs.isEmpty) {
      return indexed.sparkSession.emptyDataFrame
        .withColumn("qid", lit(0L)).withColumn("rank", lit(0L))
        .withColumn(idCol, lit(0L)).withColumn("sim", lit(0.0)).limit(0)
    }
    def probesOf(q: Seq[Double]): Array[Int] =
      centroids.zipWithIndex.sortBy { case (c, _) =>
        var s = 0.0; var i = 0
        while (i < c.length) { val t = c(i) - q(i); s += t * t; i += 1 }
        s
      }.take(nProbe).map(_._2)
    val perQuery = qs.map { r =>
      val v = r.getSeq[Double](1)
      (r.getLong(0), v, math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x)), probesOf(v))
    }
    val allCells = perQuery.flatMap(_._4).distinct.sorted
    val qLit = array(perQuery.map { case (qid, v, qn, cells) =>
      struct(lit(qid).as("qid"), array(v.map(lit): _*).as("qv"),
        lit(qn).as("qn"), array(cells.map(lit): _*).as("cells"))
    }: _*)
    val scored = indexed
      .filter(col("cell").isin(allCells.map(Integer.valueOf): _*))
      .select(col(idCol).cast("long").as("__cid"), col("v").as("__v"),
        col("cell"), sqrt(dot(col("v"), col("v"))).as("__nrm"))
      .select(col("__cid"), col("__v"), col("__nrm"), col("cell"),
        explode(qLit).as("q"))
      .filter(array_contains(col("q.cells"), col("cell")))
      .select(col("q.qid").as("qid"), col("__cid"),
        (dot(col("__v"), col("q.qv")) / (col("__nrm") * col("q.qn"))).as("sim"))
    val topk = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ScoreTopK(Seq(lit(k.toLong), col("sim"), col("__cid"))
        .map(org.apache.spark.sql.graftbridge.ColumnBridge.expression))
        .toAggregateExpression())
    scored.groupBy(col("qid")).agg(topk.as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.score").as("sim"))
  }

  /** Writes the IVF-indexed corpus PARTITIONED BY cell: queries that filter
    * on the probed cells then PRUNE partitions at the file listing — the
    * read-side scan touches only nProbe/nCells of the stored bytes, which
    * is the entire point of IVF at 100 TB. Read back with
    * `spark.read.parquet(path)` and use `ivfTopK` as usual (`cell` is a
    * partition column, so the `isin` probe filter becomes a
    * PartitionFilters entry, verifiable in `.explain`). */
  def writeIvfPartitioned(indexed: DataFrame, path: String): Unit =
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Incremental IVF maintenance: assign a NEW batch of vectors to the
    * EXISTING centroids — no retraining, no touch of the stored corpus.
    * This is the daily-ingest shape at 100 TB: cost is O(batch) (one
    * per-row argmin_cell pass over the batch), the result appends to the
    * cell-partitioned store (`writeIvfPartitioned`'s layout gains files
    * only in the cells the batch lands in), and appended vectors are
    * immediately searchable because `ivfTopK`/`ivfBatchTopK` read only
    * (id, v, cell). Centroids go stale as the distribution drifts —
    * recall at fixed nProbe decays, never correctness of the verify
    * scoring — so retraining is a scheduled background rebuild, exactly
    * like re-clustering an IVF index in any vector store. */
  def ivfAppend(batch: DataFrame, centroids: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame =
    assignCells(batch.select(col(idCol).as("id"), col(vecCol).as("v")), centroids)

  /** LSH-bucketed near-neighbor self-join: only vectors sharing a bucket in
    * at least one of `tables` independent hashings are compared, then
    * filtered by exact cosine >= threshold. Recall is tunable via
    * tables × planes; candidates verify exactly, so precision is 1.
    *
    * Pair-dedup is a deliberate `dropDuplicates` on bare 16-byte id pairs
    * (NOT the join-side first-shared-band predicate the SimHash join
    * uses): SimHash's 4 bands are slices of one fingerprint both sides
    * already carry, but here the equivalent predicate must compare up to
    * `tables` array elements per collision row — measured at sf0.1
    * (24 tables): interpreted `exists` lambda 5.1 s, statically unrolled
    * 23-branch comparison 41 s (codegen blowup), id-pair dedup 4.1 s. The
    * dedup exchange carries only ids, never vectors or bucket arrays. */
  def lshSelfJoin(corpus: DataFrame, threshold: Double, dim: Int,
      nPlanes: Int = 12, tables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    // hash-repartition the corpus BEFORE banding (round 22, guide §2/§8):
    // the banding explode and a broadcast pair join run map-side, so
    // their parallelism IS this frame's partitioning — a corpus that
    // scans as one split (one parquet file) serialized the entire
    // candidate explosion into a single task. The exchange carries
    // one row per vector, BEFORE the `tables`x banding fan-out and the
    // quadratic pair fan-out. Keyed by id (deterministic, no round-robin
    // pre-sort); count = the session's shuffle parallelism, the same
    // scale knob every other shuffle in the job obeys.
    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val base = materialize(corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(parts, col("id")))
    val buckets = (0 until tables).map(t =>
      lshBucket(col("v"), dim, nPlanes, seed = 1000L + t))
    // each vector's `tables` hyperplane hashes are computed ONCE, in the
    // Project below the explode: a hash column selected beside the
    // Generate is re-evaluated per exploded row (`tables`x the hashing).
    // The banded frame carries (id, table, bucket) — 20 bytes/row; the
    // vectors rejoin AFTER candidate pairing as bare id pairs, so the
    // self-join never shuffles embedding arrays
    val bucketed = materialize(base.select(col("id"), array(buckets: _*).as("bs"))
      .select(col("id"), posexplode(col("bs")))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket")))
    val cands = bucketed.as("a").join(bucketed.as("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cands
      .join(base.select(col("id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(base.select(col("id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embeddings with the same Lloyd
    * k-means as `ivfIndex`, then WITHIN each cell mark every vector that
    * has a lower-id neighbor at cosine >= threshold as a duplicate.
    * Output: (id, cell, is_dup, dup_of) — `dup_of` is the SMALLEST
    * lower-id in-cell neighbor (deterministic; NULL when not a dup).
    *
    * The marker rule is "any lower-id neighbor above threshold", the same
    * greedy-by-id rule as the exact and MinHash dedups here — NOT
    * transitive closure (that is `Dedup.dupComponents` over the pair
    * list). Near-dup pairs that k-means separates into different cells
    * are never compared; that is the SemDeDup trade — the n² is bounded
    * by the largest cell, not the corpus. With nCells = 1 the result is
    * exact (every pair compared) and oracle-expressible, which is how the
    * contract query pins it; SemanticDedupSpec pins nCells > 1 against
    * the exact result on cluster-separated data where within-cell recall
    * is provably 1.
    *
    * Scale shape: the within-cell pairing is keyed by (cell, block-pair)
    * — `blocks` spreads even one skew-heavy cell over B(B+1)/2 equi-join
    * groups, exactly like `blockedSelfJoinPairs` — and the join sides
    * carry (id, vector, norm) only; the dup markers group-by 8-byte ids.
    * Centroid training is the documented bounded driver state
    * (nCells × dim doubles), shared with ivfIndex. */
  def semanticDedup(corpus: DataFrame, threshold: Double, nCells: Int,
      iterations: Int = 3, blocks: Int = 4,
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    require(nCells >= 1 && blocks >= 1,
      s"nCells and blocks must be >= 1, got nCells=$nCells blocks=$blocks")
    val (assigned, _) = ivfIndex(corpus, nCells, iterations, idCol, vecCol)
    val normed = materialize(assigned.select(col("id"), col("v"), col("cell"),
      sqrt(dot(col("v"), col("v"))).as("nrm"),
      pmod(hash(col("id")), lit(blocks)).as("blk")))
    val left = normed.select(col("id"), col("v"), col("nrm"), col("cell"),
      col("blk").as("bi"), explode(sequence(col("blk"), lit(blocks - 1))).as("bj"))
    val right = normed.select(col("id").as("rid"), col("v").as("rv"),
      col("nrm").as("rnrm"), col("cell"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"))
    val dups = left.join(right, Seq("cell", "bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("id") < col("rid"))
      .select(least(col("id"), col("rid")).as("a"),
        greatest(col("id"), col("rid")).as("b"),
        (dot(col("v"), col("rv")) / (col("nrm") * col("rnrm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("b").as("id")).agg(min(col("a")).as("dup_of"))
    normed.select(col("id"), col("cell"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("cell"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  // ---- int8 embedding quantization (storage compression) -----------------

  /** Per-vector symmetric-quantization scale: max|x| / 127. Bind the
    * result to an attribute (a two-step select) before passing it to
    * `quantizeInt8` — inlining the expression would re-evaluate the
    * array_max once per element (the shinglesOfTokens hazard). */
  def quantScale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / 127.0

  /** Symmetric int8 quantization of an embedding against a BOUND scale
    * column: q_i = round(x_i / scale) in [-127, 127]. 4× (float) to 8×
    * (double) smaller at rest — at 100 TB the difference between an
    * embedding corpus that fits the cluster and one that doesn't. The
    * all-zero vector (scale 0) quantizes to zeros rather than dividing
    * by zero. Dequantize with `dequantizeInt8`; cosine degrades by well
    * under 1% at d=64 (QuantizeSpec pins the bound). */
  def quantizeInt8(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0).cast("byte")))
      .otherwise(transform(v, x => round(x / scale).cast("byte")))

  /** Inverse of `quantizeInt8`: x_i ≈ q_i × scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Exact batched top-k SERVED FROM THE INT8 CORPUS: `corpus` holds the
    * quantized representation (idCol, scaleCol, qCol: array<byte>) as
    * written by `quantizeInt8`, and queries score against the dequantized
    * vectors without the double corpus ever existing at rest — the point
    * of int8 storage at 100 TB is that the 8×-smaller table IS the thing
    * you scan. The dequantize runs inside the same codegen'd projection
    * as the dot product (one multiply per element), and everything
    * downstream is `batchTopK`'s shape: no join node, map-side bounded
    * heaps, one Q × k × partitions shuffle.
    *
    * Accuracy: cosine is scale-invariant, so scoring dequantized vectors
    * equals scoring the raw int codes; the only error vs exact double
    * scoring is the per-element rounding |x_i - q_i·scale| <= scale/2 =
    * max|x|/254. For unit-norm d-dim vectors that perturbs a cosine by
    * O(sqrt(d)/254 / ||x||) — well under 1% at d = 64 (QuantizeSpec pins
    * the sim-error bound; the recall test pins top-k overlap vs the
    * double path). Neighbors whose exact sims differ by more than that
    * bound can never swap, so recall loss is confined to near-ties. */
  def quantizedBatchTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qCol: String = "q", scaleCol: String = "scale",
      qidCol: String = "qid", qvecCol: String = "qv"): DataFrame =
    batchTopK(
      corpus.select(col(idCol),
        dequantizeInt8(col(qCol), col(scaleCol)).as("__dq")),
      queries, k, idCol, "__dq", qidCol, qvecCol)
}
