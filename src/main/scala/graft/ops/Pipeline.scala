package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline: near-dup removal (keep the
  * minimum-id representative of every duplicate cluster) followed by
  * language and quality gating — the end-to-end shape of a corpus-prep job,
  * built entirely from the operators in this package.
  *
  * Scale shape: one similarity join (sketch-keyed equi-joins, see Dedup),
  * one label-propagation pass over the (tiny) dup-pair graph, one broadcast
  * anti-join of representatives-to-drop against the corpus, and a codegen'd
  * scoring projection. The corpus is never self-joined row-by-row.
  */
object Pipeline {

  /** Writes a curated corpus PARTITIONED BY detected language — the
    * standard training-data layout: downstream jobs that read one language
    * (`.filter(col("lang_guess") === "en")`) prune every other language's
    * files at the listing, and per-language file sizes stay balanced
    * because the partition column has low cardinality. Read back with
    * `spark.read.parquet(path)`. */
  def writeCuratedByLang(curated: DataFrame, path: String): Unit =
    curated.write.mode("overwrite").partitionBy("lang_guess").parquet(path)

  /** Curate `docs`: drop non-representative near-duplicates (exact n-gram
    * Jaccard >= dupThreshold, min-id representative kept), then keep rows
    * with qualityScore >= minQuality. Output: doc_id, lang_guess, quality,
    * n_tokens. */
  def curate(docs: DataFrame, dupThreshold: Double = 0.5,
      minQuality: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = Dedup.jaccardJoin(docs, dupThreshold, idCol = idCol, textCol = textCol)
    val comps = Dedup.dupComponents(pairs)
    // every id in `comps` with component != id is a non-representative dup
    val drop = comps.filter(col("component") =!= col("id")).select(col("id"))
    docs.join(broadcast(drop), docs(idCol) === drop("id"), "left_anti")
      .select(col(idCol),
        TextAnalysis.langId(col(textCol)).as("lang_guess"),
        round(TextAnalysis.qualityScore(col(textCol)), 6).as("quality"),
        size(TextAnalysis.tokensWs(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("quality") >= minQuality)
  }

  /** Leakage-safe train/test split: a random per-DOCUMENT split leaks — a
    * near-duplicate pair straddling train and test inflates eval scores.
    * Here the split unit is the near-dup CLUSTER: every document is
    * assigned the bucket of its duplicate-cluster representative
    * (`dupComponents` min-id; singletons represent themselves), so a
    * cluster lands wholly in train or wholly in test by construction.
    *
    * The bucket is the first byte of md5 of the representative id
    * (deterministic, engine-reproducible — no RNG, no seed state):
    * bucket < testBuckets (out of 256) → "test", else "train".
    * Output: (doc_id, group_id, split) for every input document.
    *
    * Scale shape: the expensive artifact is the pair list (memoized
    * sketch-keyed join, see Dedup.jaccardJoin); components cover only
    * docs that appear in a pair, so the join back to the corpus
    * broadcasts a small frame. */
  def leakageSafeSplit(docs: DataFrame, dupThreshold: Double = 0.5,
      testBuckets: Int = 26, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(testBuckets >= 0 && testBuckets <= 256,
      s"testBuckets must be in [0,256], got $testBuckets")
    val pairs = Dedup.jaccardJoin(docs, dupThreshold, idCol = idCol, textCol = textCol)
    val comps = Dedup.dupComponents(pairs)
    val bucket = conv(substring(md5(col("group_id").cast("string")), 1, 2), 16, 10)
      .cast("int")
    docs.select(col(idCol))
      .join(broadcast(comps), docs(idCol) === comps("id"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("group_id"))
      .select(col(idCol), col("group_id"),
        when(bucket < testBuckets, "test").otherwise("train").as("split"))
  }

  /** Deterministic hash sampling: keep a document iff the first two bytes
    * of md5 of its id fall under `keepBuckets` (out of 65536). No RNG, no
    * seed state, no `sample()` nondeterminism — the same subset comes back
    * on every run, engine, and partitioning, which is what a reproducible
    * pipeline (and its oracle) needs. Rate = keepBuckets / 65536. */
  def sampleDeterministic(docs: DataFrame, keepBuckets: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(keepBuckets >= 0 && keepBuckets <= 65536,
      s"keepBuckets must be in [0,65536], got $keepBuckets")
    docs.filter(
      conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10).cast("int")
        < keepBuckets)
  }

  /** Deterministic domain-mixture resampling: per-source keep RATES (the
    * data-mixing step that reweights a crawl toward a target domain
    * mixture — downsample boilerplate-heavy sources, keep curated ones).
    * A document survives iff its md5 bucket (out of 65536, same
    * deterministic hash as `sampleDeterministic`) falls under
    * `rate(source) * 65536`; sources absent from `rates` keep everything
    * (rate 1.0).
    *
    * Scale shape: the rates table is a tiny dimension — it BROADCAST-joins
    * onto the corpus (plan-guarded in PlanSpec), and the filter is a
    * codegen'd projection; no shuffle of the corpus at any size. */
  def mixBySourceWeight(docs: DataFrame, rates: Map[String, Double],
      sourceCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0,1], got $rates")
    val spark = docs.sparkSession
    import spark.implicits._
    // collision-proof internal name: a corpus column named `keep_rate`
    // would otherwise become ambiguous after the join and drop() could
    // remove the caller's column
    val rateCol = "__graft_keep_rate"
    val ratesDf = rates.toSeq.toDF(sourceCol, rateCol)
    val bucket =
      conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10).cast("int")
    docs.join(broadcast(ratesDf), Seq(sourceCol), "left")
      .filter(bucket < coalesce(col(rateCol), lit(1.0)) * 65536)
      .drop(rateCol)
  }

  /** Benchmark decontamination by n-gram containment (the GPT-3/PaLM-style
    * eval-leak scrub): a training document that shares ANY word n-gram with
    * an evaluation benchmark may leak that benchmark's answers, so it must
    * be flagged/dropped before training. Returns one row per corpus doc
    * with at least n tokens: (idCol, n_grams, matched_grams, contaminated)
    * — the doc's distinct n-gram count, how many of them occur anywhere in
    * the benchmark, and the drop flag.
    *
    * Scale shape: per-doc DISTINCT grams come from a per-row
    * `array_distinct` (no corpus-wide distinct shuffle); the benchmark gram
    * set is tiny by nature (eval sets are thousands of rows, not billions)
    * and BROADCASTs, so the corpus is never shuffled by gram — the only
    * exchange is the final map-side-combinable groupBy(id). Set
    * `broadcastBench = false` for an abnormally large benchmark to fall
    * back to a shuffle join. With `hashGrams = true` the join keys are
    * xxhash64(gram) — 8-byte keys instead of ~13-word strings; a collision
    * can only add a false POSITIVE flag (odds ~|bench grams|/2^64 per doc
    * gram), the right direction for a safety scrub — the default keys
    * strings so the operator stays oracle-reproducible. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text", hashGrams: Boolean = false,
      broadcastBench: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    def grams(df: DataFrame, tc: String, id: Option[String]) =
      explodedGrams(df, tc, id, n)
    val key = if (hashGrams) xxhash64(col("__gram")) else col("__gram")
    val docGrams = grams(corpus, textCol, Some(idCol))
      .select(col("__id"), key.as("__g"))
    val benchGrams0 = grams(benchmark, benchTextCol, None)
      .select(key.as("__g")).distinct()
      .withColumn("__hit", lit(1))
    val benchGrams = if (broadcastBench) broadcast(benchGrams0) else benchGrams0
    docGrams.join(benchGrams, Seq("__g"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("matched_grams"))
      .select(col("__id").as(idCol), col("n_grams"), col("matched_grams"),
        (col("matched_grams") > 0).as("contaminated"))
  }

  /** Per-doc distinct word n-grams as an exploded (\_\_id?, \_\_gram) stream.
    *
    * The projection discipline here is deliberate and measured, not style:
    * tokens materialize in their own projection (ngramsOfTokens references
    * the token array n+1 times — nesting tokensWs inline re-runs the regex
    * split per reference), and the gram expression stays INSIDE the explode
    * rather than in a projection of its own. An attribute-child explode
    * trips `InferFiltersFromGenerate`, whose inferred `size(...) > 0`
    * predicate then gets pushed below the projections with the full gram
    * expression substituted in — and a pushed HOF lambda re-evaluates the
    * substituted split() per element: measured 24 s vs 0.7 s at sf0.1 on
    * this exact pipeline. For the same reason, callers must not filter on
    * a derived gram-count column; derive counts from this exploded stream.
    */
  private def explodedGrams(df: DataFrame, tc: String, id: Option[String],
      n: Int): DataFrame =
    df.select(id.map(c => col(c).as("__id")).toSeq :+
        TextAnalysis.tokensWs(col(tc)).as("__toks"): _*)
      .select(id.map(_ => col("__id")).toSeq :+ explode(array_distinct(
        TextAnalysis.ngramsOfTokens(col("__toks"), n))).as("__gram"): _*)

  /** `decontaminate` with a Bloom-filter pre-filter in place of the
    * benchmark-set broadcast — the shape for a LARGE benchmark suite.
    *
    * `decontaminate(broadcastBench = true)` ships the full distinct gram
    * set to every executor (GBs once the combined eval suites reach ~10⁸
    * grams); `broadcastBench = false` shuffles the ENTIRE corpus gram
    * stream by gram. This variant does neither: a Bloom filter over
    * xxhash64(gram) (~1.2 GB bits at 10⁹ grams / 1% fpp, built with one
    * distributed pass and shipped once per executor as a plan literal)
    * prunes the corpus gram stream to probable hits inside the scan
    * projection — codegen'd `might_contain`, no join node — and only the
    * survivors (true matches + ~fpp of the stream) shuffle into an EXACT
    * string-equality verification join. Bloom false positives and
    * xxhash64 collisions both die in that join, so the output is
    * bit-identical to `decontaminate` for every (expectedGrams, fpp) —
    * the sketch affects cost only, never the answer
    * (DecontamBloomSpec pins this at fpp = 0.5).
    *
    * The corpus is tokenized twice (once for per-doc gram counts, once
    * for the probe stream) — two map-only passes instead of persisting a
    * corpus-sized gram set, the right trade at 100 TB. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 13,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text", expectedGrams: Long = 4L << 20,
      fpp: Double = 0.01, maxLiteralBytes: Long = 64L << 10): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    // NON-distinct and NOT persisted, deliberately: bloom inserts are
    // idempotent, and the verification join below is a left_semi — each
    // surviving doc gram counts once regardless of bench-side duplicates.
    // Dropping the distinct removes a bench-gram shuffle and a cache fill;
    // the bench side is instead scanned twice map-only (bloom + semi join).
    val benchGrams = explodedGrams(benchmark, benchTextCol, None, n)
    // The bloom build aggregates ONE full-size filter PER PARTITION and
    // merges them (expectedGrams=4M at 1% fpp is ~4.8 MB of bits each) —
    // on a session with 32 scan partitions over a small benchmark that is
    // ~150 MB of bitmap allocation + OR-merging for a kilobyte of grams.
    // Coalesce the gram stream to partitions sized from the benchmark's
    // own byte estimate (the autoFoldPartitions rule): a small suite
    // builds exactly one filter with no merge at all, a 10⁹-gram suite
    // keeps one partition per maxPartitionBytes of input. Map-only
    // hashing loses nothing from the narrower stage.
    val benchParts = graft.sources.Sinks.autoFoldPartitions(
      benchmark.queryExecution.optimizedPlan.stats.sizeInBytes,
      corpus.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val bloom = benchGrams.select(xxhash64(col("__gram")).as("__h"))
      .coalesce(benchParts)
      .stat.bloomFilter("__h", math.max(expectedGrams, 1L), fpp)
    val bloomBits = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    // two shipping shapes for the same probe, both codegen'd in the scan
    // projection: a small filter rides the plan as a literal; a filter
    // above `maxLiteralBytes` ships once per executor as a broadcast
    // variable — a GB-class literal would otherwise live on the driver
    // inside the expression tree, be byte-compared during plan
    // canonicalization, and serialize into every stage's task binary
    // (round-9 ADVICE; the 10⁹-gram design point is ~1.2 GB of bits).
    // The threshold is 64 KB, NOT "whatever fits a task binary": a binary
    // literal is also STRINGIFIED by every plan description the listener
    // bus asks for — driver sampling showed ~50% of this operator's
    // driver time in Literal.toString/verboseStringWithOperatorId
    // formatting the default filter's 4.8 MB of bits, per action, even
    // with the UI off (guide §7.3 frames; measured round 21).
    val hashExpr = org.apache.spark.sql.graftbridge.ColumnBridge.expression(
      xxhash64(col("__gram")))
    val mightContain = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      if (bloomBits.length <= maxLiteralBytes)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(bloomBits)),
          hashExpr)
      else
        graft.functions.BloomMightContainBroadcast(
          corpus.sparkSession.sparkContext.broadcast(bloomBits), hashExpr))
    // corpus grams stream twice (match counting + total counting) — two
    // map-only passes instead of persisting a corpus-sized gram set, the
    // right trade at 100 TB. Total counts shuffle only (id, partial-count)
    // pairs; gram STRINGS shuffle only for bloom survivors.
    val corpusGrams = explodedGrams(corpus, textCol, Some(idCol), n)
    val matched = corpusGrams
      .filter(mightContain)
      .join(benchGrams, Seq("__gram"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).as("__matched"))
    corpusGrams
      .groupBy(col("__id")).agg(count(lit(1)).as("__n"))
      .join(matched, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__n").as("n_grams"),
        coalesce(col("__matched"), lit(0L)).as("matched_grams"),
        (coalesce(col("__matched"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic sequence packing (the concatenate-and-chop training
    * layout): documents are concatenated in a deterministic order and
    * chopped into fixed `seqLen`-token training sequences; each doc's row
    * reports where its tokens land — (bucket, start, seq_idx, offset):
    * the doc's first token is token `start` of its bucket's stream, i.e.
    * token `offset` of sequence `seq_idx`. A doc may straddle sequences
    * (standard GPT-style packing; no padding is modeled).
    *
    * Scale shape: packing is inherently sequential, so the corpus is
    * sharded into `buckets` independent streams by an md5 bucket of the
    * id (the same seedless hash as `sampleDeterministic` — rerun-stable,
    * engine-reproducible) and each bucket packs independently: one
    * shuffle by bucket, one within-bucket sort (Spark's spillable window
    * path), no global sort, no driver state. Size `buckets` so a
    * bucket's docs fit a task (corpus_tokens / buckets ≈ 10-100M). */
  def packSequences(docs: DataFrame, seqLen: Int, buckets: Int = 1024,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val bucket = (conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("int") % buckets).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col(idCol))
    docs.select(col(idCol),
        size(TextAnalysis.tokensWs(col(textCol))).cast("long").as("n_tokens"),
        bucket.as("bucket"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col("bucket"), col("n_tokens"), col("start"),
        floor(col("start") / seqLen).as("seq_idx"),
        (col("start") % seqLen).as("offset"))
  }

  /** Deterministic per-language token-budget sampling: rank each
    * language's documents by quality (doc_id tie-break), and keep docs
    * while the language's cumulative token count stays within `budget` —
    * the data-mixing step that caps each language/domain at a token
    * quota with the best documents first. A doc that crosses the budget
    * boundary is kept (budgets are quotas, not hard truncation).
    *
    * Output: (doc_id, lang_guess, n_tokens, cum_tokens). One shuffle by
    * language; the running sum is a window over the language partition —
    * low-cardinality partitions with millions of rows each are the
    * documented skew case for window functions, so at corpus scale set
    * `qualityBuckets > 0` to pre-aggregate per (lang, quality-bucket).
    *
    * The bucketed form computes the SAME cum_tokens exactly: quality is in
    * [0,1], so `floor(quality * B)` buckets are quality ranges whose
    * descending order agrees with the global (quality desc, id) order;
    * each doc's running sum becomes [prefix of all strictly-better
    * buckets' token totals — a tiny per-lang window over at most B
    * aggregate rows, broadcast back] + [within-bucket running sum — a
    * window partitioned by (lang, bucket), which is what breaks a
    * dominant language's single window partition into B parallel ones].
    * A whole bucket below the already-spent budget short-circuits via the
    * same start-of-doc filter. */
  def sampleByTokenBudget(docs: DataFrame, budget: Long,
      idCol: String = "doc_id", textCol: String = "text",
      qualityBuckets: Int = 0): DataFrame = {
    val base = docs.select(col(idCol),
      TextAnalysis.langId(col(textCol)).as("lang_guess"),
      round(TextAnalysis.qualityScore(col(textCol)), 6).as("quality"),
      size(TextAnalysis.tokensWs(col(textCol))).cast("long").as("n_tokens"))
    val cum = if (qualityBuckets <= 0) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang_guess"))
        .orderBy(col("quality").desc, col(idCol))
      base.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
    } else {
      // clamped so quality exactly 1.0 (or any out-of-range input) still
      // lands in a valid bucket; monotone in quality, so bucket-desc order
      // refines the global quality-desc order
      val qb = least(greatest(floor(col("quality") * qualityBuckets), lit(0)),
        lit(qualityBuckets - 1)).cast("int")
      val bucketed = base.withColumn("__qb", qb)
      val wPrefix = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang_guess")).orderBy(col("__qb").desc)
      // per-(lang, bucket) token totals pre-combine map-side; the prefix
      // window runs over <= qualityBuckets rows per language
      val prefixes = bucketed.groupBy(col("lang_guess"), col("__qb"))
        .agg(sum(col("n_tokens")).as("__bucket_tokens"))
        .withColumn("__prefix",
          sum(col("__bucket_tokens")).over(wPrefix) - col("__bucket_tokens"))
        .select(col("lang_guess"), col("__qb"), col("__prefix"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang_guess"), col("__qb"))
        .orderBy(col("quality").desc, col(idCol))
      bucketed
        .join(broadcast(prefixes), Seq("lang_guess", "__qb"))
        .withColumn("cum_tokens", col("__prefix") + sum(col("n_tokens")).over(wIn))
    }
    cum.filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col(idCol), col("lang_guess"), col("n_tokens"), col("cum_tokens"))
  }
}
