package graft
package contracts

import org.apache.spark.sql.functions._
import Harness._

object CurationContracts {

  /** DuckDB: the exact word-3-shingle Jaccard pairs at or above `threshold`. */
  private def jaccardPairsSql(threshold: String): String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, len(toks) - 1),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |      FROM t WHERE len(toks) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $threshold""".stripMargin

  /** DuckDB: the exact cosine pairs of the embeddings at or above `threshold`. */
  private def cosinePairsSql(threshold: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  CAST(round(list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS DOUBLE) AS sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $threshold""".stripMargin

  /** DuckDB: the Hamming distance between the `simhash_hex` fingerprints of
    * rows `a` and `b`, summed over their 16 hex nibbles. */
  private[contracts] val simhashHammingSql: String = (1 to 16).map(j =>
    s"bit_count(xor(strpos('0123456789abcdef', substr(a.simhash_hex, $j, 1)) - 1, " +
      s"strpos('0123456789abcdef', substr(b.simhash_hex, $j, 1)) - 1))")
    .mkString(" + ")

  // ---- LLM pipeline: exact dedup -------------------------------------
  val q11 = Contract("q11_dedup_exact", run = { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
             count(lit(1)).as("dup_count"))
        .select(col("keep_id"), col("dup_count"))
    },
    oracleSql = """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY text""".stripMargin)

  // ---- LLM pipeline: brute-force cosine top-k -------------------------
  val q14 = Contract("q14_ann_cosine", run = { (s, dir) =>
      // single query vector collected to the driver (bounded state, same
      // pattern as the IVF coarse quantizer) and attached as a literal: the
      // corpus scan has NO join node at all — one codegen'd pass, then the
      // top-k sort. The DataFrame-in/DataFrame-out variant for query
      // batches is Similarity.bruteTopK.
      val emb = vectors(s, dir)
      emb.filter(col("vec_id") === 0).take(1).headOption match {
        case None => // no query vector: empty result, same schema
          emb.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
        case Some(row) =>
          val qArr = array(row.getSeq[Double](1).map(lit): _*)
          emb.filter(col("vec_id") =!= 0)
            .select(col("vec_id"), ops.Similarity.cosine(col("v"), qArr).as("sim"))
            .orderBy(col("sim").desc, col("vec_id"))
            .limit(10)
            .select(col("vec_id"), round(col("sim"), 6).as("sim"))
      }
    },
    oracleSql = """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |        list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |             * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))) AS sim
        |      FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM s ORDER BY s.sim DESC, vec_id LIMIT 10""".stripMargin)

  // ---- LLM pipeline: exact n-gram Jaccard dedup (inverted index) ------
  val q18 = Contract("q18_jaccard_dups", run = { (s, dir) =>
      ops.Dedup.jaccardJoin(table(s, dir, "documents"), threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    oracleSql = jaccardPairsSql("0.5"))

  // ---- LLM pipeline: MinHash + LSH dedup (verified-exact output) ------
  val q19 = Contract("q19_minhash_lsh", run = { (s, dir) =>
      // 96 hashes / 24 bands (r=4): banding miss probability at the J=0.8
      // query threshold is (1-0.8^4)^24 ≈ 3e-6, ≈ 1e-11 at J=0.9 — the
      // oracle (exact join at 0.8) and this LSH+exact-verify agree up to
      // that bound. LSH is the high-similarity tool; moderate thresholds
      // are q18's exact inverted-index join.
      ops.Dedup.minhashLshJoin(table(s, dir, "documents"), threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    // threshold 0.8: where the banding recall bound holds
    oracleSql = jaccardPairsSql("0.8"))

  // ---- LLM pipeline: embedding cosine near-dup self-join --------------
  val q20 = Contract("q20_embed_neardup", run = { (s, dir) =>
      // exact threshold join, but as a block-pair equi-join (no cartesian /
      // nested-loop node): see Similarity.blockedSelfJoinPairs for why the
      // exact path must stay O(n²)-compute yet can still distribute
      val emb = vectors(s, dir)
      ops.Similarity.blockedSelfJoinPairs(emb, threshold = 0.4)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
    },
    oracleSql = cosinePairsSql("0.4"))

  // ---- LLM pipeline: SimHash fingerprints (md5-based, oracle-checked
  // bit-for-bit; the xxhash64 production variant is differential- and
  // determinism-tested in OpsSpec) -------------------------------------
  val q28 = Contract("q28_simhash", run = { (s, dir) =>
      ops.Dedup.simhashMd5(table(s, dir, "documents"))
    },
    // DuckDB twin of Dedup.simhashMd5, generated (64 majority votes is
    // mechanical): decode nibble j of md5(token), vote per bit, re-encode 16
    // hex chars. Mirrors the Scala layout exactly — char j covers bits
    // 4(j-1)..4(j-1)+3 with bit p = (nibble >> p) & 1.
    oracleSql = {
      val votes = (for { j <- 1 to 16; p <- 0 until 4 } yield
        s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(m, $j, 1)) - 1) >> $p) & 1) = 1" +
          s" THEN 1 ELSE -1 END) AS v${j}_$p").mkString(",\n        ")
      val chars = (1 to 16).map { j =>
        val digit = (0 until 4).map(p => s"(CASE WHEN v${j}_$p > 0 THEN ${1 << p} ELSE 0 END)")
          .mkString(" + ")
        s"substr('0123456789abcdef', 1 + $digit, 1)"
      }.mkString(" ||\n  ")
      s"""WITH tok AS (SELECT doc_id,
         |        unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
         |      FROM documents),
         |h AS (SELECT doc_id, md5(t) AS m FROM tok),
         |v AS (SELECT doc_id,
         |        $votes
         |      FROM h GROUP BY doc_id)
         |SELECT doc_id,
         |  $chars AS simhash_hex
         |FROM v""".stripMargin
    })

  // ---- LLM pipeline: IVF ANN (full probe == exact; partial-probe path
  // unit-tested) --------------------------------------------------------
  val q29 = Contract("q29_ivf_ann", run = { (s, dir) =>
      val emb = vectors(s, dir)
      emb.filter(col("vec_id") === 0).take(1).headOption match {
        case None => // no query vector: empty result, same schema
          emb.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
        case Some(row) =>
          val queryVec = row.getSeq[Double](1).toArray
          val (indexed, centroids) =
            ops.Similarity.ivfIndex(emb.filter(col("vec_id") =!= 0), nCells = 8, iterations = 2)
          ops.Similarity.ivfTopK(indexed, centroids, queryVec, k = 10, nProbe = 8)
            .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
      }
    },
    // full-probe IVF is exact -> same oracle as brute force
    oracleSql = q14.oracleSql)

  // ---- LLM pipeline: duplicate-cluster assignment ---------------------
  val q30 = Contract("q30_dup_components", run = { (s, dir) =>
      val pairs = ops.Dedup.jaccardJoin(table(s, dir, "documents"), threshold = 0.5)
      ops.Dedup.dupComponents(pairs)
    },
    // transitive closure of the exact-Jaccard dup pairs
    oracleSql = """WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
        |)
        |SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u""".stripMargin)

  // ---- LLM pipeline: composed curation (dedup -> lang/quality gate) ---
  val q31 = Contract("q31_curation", run = { (s, dir) =>
      ops.Pipeline.curate(table(s, dir, "documents"),
        dupThreshold = 0.5, minQuality = 0.5)
    },
    // dup-representative filter + language/quality gate
    oracleSql = """WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
        |),
        |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u),
        |kept AS (SELECT d.* FROM documents d
        |         LEFT JOIN comp c ON d.doc_id = c.id AND c.component <> c.id
        |         WHERE c.id IS NULL),
        |sc AS (SELECT doc_id, text,
        |         string_split_regex(trim(lower(text)), '\s+') AS ltoks,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
        |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |           / length(text) AS punct_ratio
        |       FROM kept),
        |sc2 AS (SELECT doc_id, text, n_tok,
        |          CAST(len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS DOUBLE)
        |            / len(ltoks) AS stop_ratio,
        |          punct_ratio,
        |          len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS c_en,
        |          len(list_intersect(ltoks, ['el','la','de','que','y','en','los'])) AS c_es,
        |          len(list_intersect(ltoks, ['der','die','das','und','ist','von','mit'])) AS c_de,
        |          len(list_intersect(ltoks, ['le','les','et','des','une','est','dans'])) AS c_fr
        |        FROM sc)
        |SELECT doc_id,
        |  CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |       WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |       WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |       WHEN c_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_guess,
        |  CAST(round(least(1.0, n_tok / 50.0) * 0.5
        |       + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |       + least(1.0, stop_ratio * 5.0) * 0.2, 6) AS DOUBLE) AS quality,
        |  CAST(n_tok AS BIGINT) AS n_tokens
        |FROM sc2
        |WHERE round(least(1.0, n_tok / 50.0) * 0.5
        |       + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |       + least(1.0, stop_ratio * 5.0) * 0.2, 6) >= 0.5""".stripMargin)

  // ---- LLM pipeline: SimHash Hamming pair join (the operator a user
  // actually runs; md5 fingerprints so the band join + pigeonhole are
  // oracle-reproducible end-to-end) -------------------------------------
  val q41 = Contract("q41_simhash_pairs", run = { (s, dir) =>
      ops.Dedup.simhashPairsMd5(table(s, dir, "documents"), maxDist = 3)
    },
    // every pair within Hamming <= 3 over the md5 simhash fingerprints; the
    // naive cross join is the oracle, the banded equi-join is under test —
    // equality proves the 4x16-bit pigeonhole loses nothing
    oracleSql = s"""WITH fp AS (${q28.oracleSql})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST($simhashHammingSql AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE $simhashHammingSql <= 3""".stripMargin)

  // ---- LLM pipeline: leakage-safe train/test split --------------------
  // the split unit is the near-dup CLUSTER, not the document — a random
  // per-doc split leaks near-duplicate pairs across train/test
  val q43 = Contract("q43_leakage_split", run = { (s, dir) =>
      ops.Pipeline.leakageSafeSplit(table(s, dir, "documents"))
    },
    // same recursive-CTE components as q30; the split bucket is the first
    // byte of md5 of the cluster representative (singletons: the doc id)
    oracleSql = {
      def bucket(e: String) =
        s"((strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), 1, 1)) - 1) * 16" +
          s" + (strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), 2, 1)) - 1))"
      s"""WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, len(toks) - 1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |      FROM t WHERE len(toks) >= 3),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
         |),
         |comp AS (SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u),
         |g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
         |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         |SELECT doc_id, group_id,
         |  CASE WHEN ${bucket("group_id")} < 26 THEN 'test' ELSE 'train' END AS split
         |FROM g""".stripMargin
    })

  // ---- LLM pipeline: batched exact top-k similarity search ------------
  // every 100th vector is a probe; per-query top-5 over the rest via the
  // score_topk bounded-heap aggregate (no window sort, no join node)
  val q53 = Contract("q53_batch_topk", run = { (s, dir) =>
      val emb = vectors(s, dir)
      ops.Similarity.batchTopK(
        emb.filter(col("vec_id") % 100 =!= 0),
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        k = 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
    },
    // per-query rank by (sim desc, id asc) — the heap aggregate's order
    oracleSql = """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id % 100 <> 0),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin)

  // ---- LLM pipeline: batched IVF top-k (full probe -> exact) -----------
  // same probe/corpus split as q53; full-probe batched IVF must equal
  // the exact batch, so the brute-force oracle covers the whole
  // cell-assign + probe + per-cell-scoring + heap pipeline
  val q56 = Contract("q56_ivf_batch", run = { (s, dir) =>
      val emb = vectors(s, dir)
      val (indexed, centroids) = ops.Similarity.ivfIndex(
        emb.filter(col("vec_id") % 100 =!= 0), nCells = 8, iterations = 2)
      ops.Similarity.ivfBatchTopK(indexed, centroids,
          emb.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("v").as("qv")),
          k = 5, nProbe = 8)
        .select(col("qid"), col("rank"), col("id").as("vec_id"),
          round(col("sim"), 6).as("sim"))
    },
    // full-probe batched IVF is exact: same oracle as the brute-force batch
    oracleSql = q53.oracleSql)

  // ---- LLM pipeline: hyperplane-LSH near-neighbor self-join ------------
  // full-recall regime on this corpus: planes=3 x tables=24 at
  // threshold 0.45 provably finds every qualifying pair of the sf0.01
  // embeddings (LshRecallSpec pins recall == 1 vs the exact join), and
  // candidates verify exactly, so the result is hash-identical to the
  // exact O(n^2) oracle while the operator itself only compares
  // bucket-colliding pairs.
  val q58 = Contract("q58_lsh_selfjoin", run = { (s, dir) =>
      val emb = vectors(s, dir)
      ops.Similarity.lshSelfJoin(emb, threshold = 0.45, dim = 64,
          nPlanes = 3, tables = 24)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))
    },
    // full recall on this corpus -> exact-join oracle
    oracleSql = cosinePairsSql("0.45"))

  // ---- LLM pipeline: int8 embedding quantization ------------------------
  // scale binds to an attribute between the two selects so array_max
  // runs once per row; q is serialized to a comma-joined string because
  // the harness sort-hashes columns and a raw array<int> is unhashable
  // on the pandas side (the operator itself stores bytes)
  val q67 = Contract("q67_quantize", run = { (s, dir) =>
      vectors(s, dir)
        .select(col("vec_id"), col("v"),
          ops.Similarity.quantScale(col("v")).as("__scale"))
        .select(col("vec_id"), round(col("__scale"), 9).as("scale"),
          array_join(ops.Similarity.quantizeInt8(col("v"), col("__scale"))
            .cast("array<int>"), ",").as("q"))
    },
    // symmetric int8 quantization recomputed per element; the zero-scale
    // branch mirrors the operator's divide-by-zero guard; q is joined to a
    // comma string to match the Spark side (arrays break the harness hash)
    oracleSql = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |      FROM e)
        |SELECT vec_id, CAST(round(scale, 9) AS DOUBLE) AS scale,
        |  array_to_string(
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) END,
        |    ',') AS q
        |FROM s""".stripMargin)

  // ---- LLM pipeline: SemDeDup semantic dedup (nCells=1: exact regime) --
  // nCells = 1 makes the within-cell pairing compare EVERY pair, so the
  // oracle is the exact lower-id-neighbor rule with no k-means dependence;
  // SemanticDedupSpec pins nCells > 1 against this on separated clusters
  val q68 = Contract("q68_semantic_dedup", run = { (s, dir) =>
      val emb = vectors(s, dir)
      ops.Similarity.semanticDedup(emb, threshold = 0.4, nCells = 1)
        .select(col("id").as("vec_id"), col("is_dup"), col("dup_of"))
    },
    // the nCells=1 regime compares every pair, so the oracle is q20's
    // cosine join folded into the greedy lower-id marker rule
    oracleSql = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT b.vec_id AS id, min(a.vec_id) AS dup_of
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        |      GROUP BY b.vec_id)
        |SELECT e.vec_id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
        |FROM e LEFT JOIN d ON e.vec_id = d.id""".stripMargin)

  // ---- LLM pipeline: SemDeDup CLUSTERED regime (nCells=4) ---------------
  // the fixture is generated arithmetically (IEEE division of small ints
  // is exactly rounded, so Spark and DuckDB produce bit-identical
  // doubles): 4 orthogonal clusters in 8-d, id i belongs to cluster
  // i % 4, jitter_j(i) = (((i*31 + j*17) % 7) - 3) / 200. Ids 0..3 are
  // one per cluster, so ivfIndex's first-nCells-by-id init places one
  // centroid in each cluster and Lloyd provably keeps them there
  // (within-cluster cos >= 0.93, cross-cluster <= 0.04) — within-cell
  // recall is 1 and the exact all-pairs lower-id-neighbor oracle matches
  // the celled result, pinning argmin_cell + within-cell blocking
  // end-to-end (q68 only covers the nCells=1 exact regime)
  val q69 = Contract("q69_semdedup_cells", run = { (s, _) =>
      val dim = 8
      // one partition for a 200-row fixture (round 22, VERDICT r21 #3): a
      // bare s.range(200) splits into one ~6-row partition PER CORE, and
      // every Lloyd-iteration job over the persisted base then pays 32
      // task launches for microseconds of work each — measured as q69
      // running ~2x SLOWER at 32 cores than at 8. Partitioning follows
      // the data (200 rows), not the machine.
      val fixture = s.range(0, 200, 1, 1).select(col("id").as("vec_id"),
        array((0 until dim).map { j =>
          when(pmod(col("id"), lit(4)) === j, lit(1.0)).otherwise(lit(0.0)) +
            ((col("id") * 31 + lit(j * 17)) % 7 - 3).cast("double") / 200.0
        }: _*).as("v"))
      ops.Similarity.semanticDedup(fixture, threshold = 0.9, nCells = 4)
        .select(col("id").as("vec_id"), col("is_dup"), col("dup_of"))
    },
    // the celled fixture regenerated arithmetically (same exactly-rounded
    // IEEE divisions as the Spark side), judged by the exact all-pairs
    // lower-id-neighbor rule — valid because the clusters are separated
    // (no cross-cell pair can reach the threshold) and cluster-to-cell
    // assignment is 1:1 by construction
    oracleSql = """WITH e AS (SELECT i AS vec_id,
        |        list_transform(range(0, 8), j ->
        |          CAST(CASE WHEN i % 4 = j THEN 1 ELSE 0 END AS DOUBLE)
        |          + CAST(((i*31 + j*17) % 7) - 3 AS DOUBLE) / 200.0) AS v
        |      FROM range(0, 200) t(i)),
        |d AS (SELECT b.vec_id AS id, min(a.vec_id) AS dup_of
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
        |      GROUP BY b.vec_id)
        |SELECT e.vec_id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
        |FROM e LEFT JOIN d ON e.vec_id = d.id""".stripMargin)

  // ---- LLM pipeline: batched top-k served from the int8 corpus ----------
  // the corpus side exists ONLY in quantized form (scale + int8 codes);
  // scoring dequantizes in-expression, so the oracle recomputes the same
  // rounding arithmetic (q67's) and the same cosine — results are
  // bit-identical, not merely close
  val q70 = Contract("q70_quantized_topk", run = { (s, dir) =>
      val emb = vectors(s, dir)
      val quant = emb
        .select(col("vec_id"), col("v"),
          ops.Similarity.quantScale(col("v")).as("__scale"))
        .select(col("vec_id"), col("__scale").as("scale"),
          ops.Similarity.quantizeInt8(col("v"), col("__scale")).as("q"))
      ops.Similarity.quantizedBatchTopK(
        quant.filter(col("vec_id") % 100 =!= 0),
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        k = 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
    },
    // q53's brute-force batch oracle over the DEQUANTIZED corpus: the
    // int8 codes and scale are recomputed with q67's arithmetic, then
    // x -> round(x/scale)*scale replaces the raw corpus value before the
    // identical cosine/rank pipeline (queries stay exact doubles)
    oracleSql = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |       FROM e WHERE vec_id % 100 <> 0),
        |c AS (SELECT vec_id,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |             ELSE list_transform(v, x -> CAST(round(x / scale) AS INTEGER) * scale)
        |        END AS v
        |      FROM sc),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id % 100 = 0),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin)

  // ---- LLM pipeline: incremental dedup against a stored sketch index ----
  // the daily-ingest shape: the accumulated corpus (doc_id % 10 != 0) is
  // sketched ONCE into a minhashIndex; the incoming batch (doc_id % 10
  // == 0) sketches only itself and probes the stored band keys. Exact
  // verification makes the result equal to the exact cross-split jaccard
  // join up to the q19 banding recall bound, so the oracle is exact SQL.
  val q74 = Contract("q74_incremental_dedup", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      // the probe scans the index three times (banding + two verify
      // stages); a STORED index re-scans cheap column-pruned parquet, so a
      // live-built one must be persisted to stand in for it (14 s -> ~2 s)
      // eager materialization, same rationale as q84: the probe's three
      // parallel index subtrees must read a POPULATED cache, not race to
      // fill it with three redundant sketch computations (round 22)
      val idx = ops.OpCaches.materialize(
        ops.Dedup.minhashIndex(d.filter(col("doc_id") % 10 =!= 0)))
      ops.Dedup.minhashLshJoinAgainst(
        d.filter(col("doc_id") % 10 === 0), idx, threshold = 0.8)
        .select(col("new_id"), col("idx_id"), round(col("jaccard"), 6).as("jaccard"))
    },
    // q74: exact cross-split jaccard join — the incremental probe and the
    // q19 monolithic join share the banding recall bound, so both oracle
    // against exact SQL at threshold 0.8
    oracleSql = """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |      FROM t WHERE len(toks) >= 3)
        |SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
        |  CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE) AS jaccard
        |FROM s a JOIN s b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8""".stripMargin)

  // ---- LLM pipeline: incremental SimHash screening ----------------------
  // the Hamming-regime twin of q74: the accumulated corpus persists as a
  // 16-byte-per-doc fingerprint index; the batch fingerprints per-row and
  // band-joins the stored index. No verification stage — Hamming is exact
  // from the fingerprints, so the oracle recomputes it directly.
  val q75 = Contract("q75_incremental_simhash", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      ops.Dedup.simhashPairsAgainstMd5(
        d.filter(col("doc_id") % 10 === 0),
        ops.Dedup.simhashIndexMd5(d.filter(col("doc_id") % 10 =!= 0)),
        maxDist = 3)
    },
    // q75: the q41 Hamming computation restricted to cross-split pairs,
    // oriented (new, idx) — band join and pigeonhole change the plan, not
    // the answer
    oracleSql = s"""WITH fp AS (${q28.oracleSql})
         |SELECT a.doc_id AS new_id, b.doc_id AS idx_id,
         |  CAST($simhashHammingSql AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |WHERE $simhashHammingSql <= 3""".stripMargin)

  // ---- LLM pipeline: incremental exact-dedup screening ------------------
  // the exact member of the incremental family: a stored (digest, keep_id)
  // index; the batch digests per-row and left-joins on the 32-byte hash.
  // The oracle joins on raw text equality — same answer, since sha2 is
  // injective on this fixture by construction (a collision would also
  // break q11's grouping).
  val q76 = Contract("q76_incremental_exact", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      ops.Dedup.exactDupAgainst(
        d.filter(col("doc_id") % 10 === 0),
        ops.Dedup.exactDigestIndex(d.filter(col("doc_id") % 10 =!= 0)))
        .select(col("new_id"), col("is_dup"), col("keep_id"))
    },
    // q76: text-equality left join against the index side's min-id groups —
    // digest join and raw-text join agree whenever sha256 is injective on
    // the corpus (a collision would equally break q11's grouping)
    oracleSql = """WITH idx AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id
        |             FROM documents WHERE doc_id % 10 <> 0 GROUP BY text)
        |SELECT d.doc_id AS new_id, idx.keep_id IS NOT NULL AS is_dup, idx.keep_id
        |FROM documents d LEFT JOIN idx ON d.text = idx.text
        |WHERE d.doc_id % 10 = 0""".stripMargin)

  // ---- similarity: incremental IVF ingest (index maintenance) ----------
  // the ANN counterpart of q74-q76: the index is TRAINED on the stored
  // corpus only (vec_id % 10 != 0); the held-out batch is ivfAppend'ed to
  // the existing centroids (O(batch), no retrain), and the queries — all
  // from the appended batch — must find exact top-k over corpus+batch at
  // nProbe = nCells. Equality proves appended vectors are immediately
  // searchable AND that append-time cell assignment agrees with the
  // probe-time cell selection (a drifted assignment would drop rank-1
  // self-matches at partial probe; at full probe it proves the union
  // index is complete and correctly scored).
  val q90 = Contract("q90_incremental_ann", run = { (s, dir) =>
      val emb = vectors(s, dir)
      val (indexed, centroids) = ops.Similarity.ivfIndex(
        emb.filter(col("vec_id") % 10 =!= 0), nCells = 8, iterations = 2)
      val appended = ops.Similarity.ivfAppend(
        emb.filter(col("vec_id") % 10 === 0), centroids)
      ops.Similarity.ivfBatchTopK(indexed.unionByName(appended), centroids,
          emb.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("v").as("qv")),
          k = 5, nProbe = 8)
        .select(col("qid"), col("rank"), col("id").as("vec_id"),
          round(col("sim"), 6).as("sim"))
    },
    // q90: full-probe IVF over corpus + appended batch is exact, so the
    // oracle is exact cosine top-k over ALL embeddings (self-matches at
    // rank 1 included — the query vectors are in the appended batch)
    oracleSql = """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(round(sim, 6) AS DOUBLE) AS sim
        |FROM r WHERE rank <= 5""".stripMargin)

  // ---- compacted incremental index under the HASH gate ----------------
  // the maintenance closing of the incremental family: q76's digest
  // index built by INCREMENTAL APPENDS instead of one shot — four
  // id-ordered batches through appendExactDigestIndex (first-writer-
  // wins, which under id-ordered ingest equals the one-shot min(doc_id)
  // build) — then compactDigestIndex'd from the accreted batches into one
  // batch of exactly 4 files, then probed by the q76 batch. Same oracle
  // as q76: neither the append path nor the compaction may change the
  // answer, and the in-query file-count check pins that the compaction
  // demonstrably ran (q92/q96/q97's standard, applied to maintenance).
  val q101 = Contract("q101_compacted_index", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      val idxDir = freshDir("q101_exact_idx", "idx")
      val maxId = corpus.agg(max(col("doc_id")).cast("long")).head().getLong(0)
      var lo = -1L
      for (i <- 1 to 4) {
        val hi = if (i == 4) maxId else maxId * i / 4
        ops.Dedup.appendExactDigestIndex(
          corpus.filter(col("doc_id") > lo && col("doc_id") <= hi), idxDir)
        lo = hi
      }
      val target = 4
      ops.Dedup.compactDigestIndex(s, idxDir, target)
      // Hadoop FS listing, not java.io: the pin must hold on hdfs://
      // and s3a:// index locations too (same standard as the sink's
      // one-file-per-bucket check)
      val hp = new org.apache.hadoop.fs.Path(idxDir)
      val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
      val nFiles = ops.GenerationalBatches.liveBatches(fs, hp)
        .map { case (_, p) => ops.GenerationalBatches.dataFiles(fs, p).size }
      require(nFiles == Seq(target),
        s"compaction left live batches of $nFiles parquet files, expected " +
          s"one batch of $target")
      ops.Dedup.exactDupAgainst(
        d.filter(col("doc_id") % 10 === 0), ops.Dedup.readDigestIndex(s, idxDir))
        .select(col("new_id"), col("is_dup"), col("keep_id"))
    },
    // q101: same oracle as q76 — the index grown by id-ordered incremental
    // appends and then compacted must answer the probe exactly like the
    // one-shot build (first-writer-wins == global min under id order;
    // compaction is pure layout)
    oracleSql = q76.oracleSql)

  val all: Seq[Contract] = Seq(q11, q14, q18, q19, q20, q28, q29, q30, q31, q41, q43, q53,
    q56, q58, q67, q68, q69, q70, q74, q75, q76, q90, q101)
}
