package graft
package contracts

import org.apache.spark.sql.functions._
import Harness._

object TextContracts {

  /** DuckDB: nibble `j` of md5(doc_id) as an integer — the md5 hash bucket
    * the sampling, mixing and packing operators draw from. */
  private def nib(j: Int) =
    s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $j, 1)) - 1)"

  // ---- LLM pipeline: text stats (tokens / chars) ----------------------
  val q12 = Contract("q12_text_stats", run = { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
    },
    oracleSql = """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tokens
        |FROM documents""".stripMargin)

  // ---- LLM pipeline: per-language quality roll-up ---------------------
  val q13 = Contract("q13_lang_stats", run = { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             round(avg(col("n_chars")), 4).as("avg_chars"))
    },
    oracleSql = """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(round(avg(n_chars), 4) AS DOUBLE) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin)

  // ---- LLM pipeline: language-ID heuristic ----------------------------
  val q21 = Contract("q21_langid", run = { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), ops.TextAnalysis.langId(col("text")).as("lang_guess"))
    },
    oracleSql = """WITH t AS (SELECT doc_id, text,
        |             string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, text,
        |        len(list_intersect(toks, ['the','a','of','and','to','in','is'])) AS c_en,
        |        len(list_intersect(toks, ['el','la','de','que','y','en','los'])) AS c_es,
        |        len(list_intersect(toks, ['der','die','das','und','ist','von','mit'])) AS c_de,
        |        len(list_intersect(toks, ['le','les','et','des','une','est','dans'])) AS c_fr
        |      FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |       WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |       WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |       WHEN c_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_guess
        |FROM c""".stripMargin)

  // ---- LLM pipeline: quality scoring ----------------------------------
  val q22 = Contract("q22_quality", run = { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          ops.TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          round(ops.TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(ops.TextAnalysis.qualityScore(col("text")), 6).as("quality"))
    },
    oracleSql = """WITH t AS (SELECT doc_id, text,
        |             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
        |             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |               / length(text) AS punct_ratio,
        |             CAST(len(list_intersect(string_split_regex(trim(lower(text)), '\s+'),
        |                  ['the','a','of','and','to','in','is'])) AS DOUBLE)
        |               / len(string_split_regex(trim(lower(text)), '\s+')) AS stop_ratio
        |      FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |  CAST(round(punct_ratio, 6) AS DOUBLE) AS punct_ratio,
        |  CAST(round(least(1.0, n_tok / 50.0) * 0.5
        |       + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |       + least(1.0, stop_ratio * 5.0) * 0.2, 6) AS DOUBLE) AS quality
        |FROM t""".stripMargin)

  // ---- LLM pipeline: winnowing fingerprints ---------------------------
  val q23 = Contract("q23_fingerprint", run = { (s, dir) =>
      // fused kernel: k-gram md5 + deque winnowing in one codegen'd
      // expression (see TextAnalysis.winnowFingerprintsFused — the HOF
      // forms fall out of whole-stage codegen via ArrayTransform)
      table(s, dir, "documents")
        .select(col("doc_id"),
          ops.TextAnalysis.winnowFingerprintsFused(col("text"), 8, 4).as("fp"))
        .select(col("doc_id"),
          size(col("fp")).cast("long").as("n_fp"),
          array_min(col("fp")).as("min_fp"))
    },
    oracleSql = """WITH g AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id, L,
        |        list_transform(range(1, L - 8 + 2),
        |          i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS hs
        |      FROM g),
        |f AS (SELECT doc_id,
        |        CASE WHEN L >= 11 THEN
        |          list_distinct(list_transform(range(1, L - 8 + 2 - 3),
        |            j -> list_aggregate(hs[j:j+3], 'min')))
        |        ELSE [] END AS fps
        |      FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, list_aggregate(fps, 'min') AS min_fp
        |FROM f""".stripMargin)

  // ---- LLM pipeline: per-language token-budget sampling ---------------
  val q44 = Contract("q44_token_budget", run = { (s, dir) =>
      ops.Pipeline.sampleByTokenBudget(table(s, dir, "documents"), 2000L)
    },
    // q22's quality + q21's langid feeding a per-language running token sum
    oracleSql = """WITH t AS (SELECT doc_id, text,
        |             string_split_regex(trim(lower(text)), '\s+') AS ltoks,
        |             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
        |             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        |               / length(text) AS punct_ratio
        |           FROM documents),
        |c AS (SELECT doc_id, text, n_tok, punct_ratio,
        |        CAST(len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS DOUBLE)
        |          / len(ltoks) AS stop_ratio,
        |        len(list_intersect(ltoks, ['the','a','of','and','to','in','is'])) AS c_en,
        |        len(list_intersect(ltoks, ['el','la','de','que','y','en','los'])) AS c_es,
        |        len(list_intersect(ltoks, ['der','die','das','und','ist','von','mit'])) AS c_de,
        |        len(list_intersect(ltoks, ['le','les','et','des','une','est','dans'])) AS c_fr
        |      FROM t),
        |q AS (SELECT doc_id,
        |        CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
        |             WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |             WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |             WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |             WHEN c_fr > 0 THEN 'fr'
        |             ELSE 'und' END AS lang_guess,
        |        round(least(1.0, n_tok / 50.0) * 0.5
        |          + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3
        |          + least(1.0, stop_ratio * 5.0) * 0.2, 6) AS quality,
        |        CAST(n_tok AS BIGINT) AS n_tokens
        |      FROM c),
        |w AS (SELECT doc_id, lang_guess, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY lang_guess
        |          ORDER BY quality DESC, doc_id) AS cum_tokens
        |      FROM q)
        |SELECT doc_id, lang_guess, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM w WHERE cum_tokens - n_tokens < 2000""".stripMargin)

  // ---- LLM pipeline: deterministic hash sampling ----------------------
  val q45 = Contract("q45_sample_det", run = { (s, dir) =>
      // keepBuckets 16384/65536 = a reproducible 25% sample
      ops.Pipeline.sampleDeterministic(table(s, dir, "documents"), 16384)
        .select(col("doc_id"))
    },
    // first 16 bits of md5(doc_id) under 16384 — the same arithmetic the
    // Spark side's conv(substr(md5,1,4),16,10) computes
    oracleSql = s"""SELECT doc_id FROM documents
         |WHERE ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} < 16384""".stripMargin)

  // ---- LLM pipeline: corpus n-gram vocabulary -------------------------
  val q46 = Contract("q46_ngram_freq", run = { (s, dir) =>
      ops.TextAnalysis.ngramFreq(table(s, dir, "documents"), n = 2, topK = 50)
    },
    oracleSql = """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(toks)),
        |               i -> toks[i] || ' ' || toks[i+1])) AS ngram
        |      FROM t WHERE len(toks) >= 2)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS freq
        |FROM g GROUP BY ngram ORDER BY freq DESC, ngram LIMIT 50""".stripMargin)

  // ---- LLM pipeline: Gopher-style repetition signals (fused native
  // kernel, no shuffle; docs with <2 tokens have no bigrams -> omitted) --
  val q47 = Contract("q47_repetition", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
          ops.TextAnalysis.repetitionStats(
            ops.TextAnalysis.tokensWs(col("text")), 2).as("r"))
        .filter(col("r").isNotNull)
        .select(col("doc_id"),
          round(col("r.top_share"), 6).as("top_share"),
          round(col("r.dup_frac"), 6).as("dup_frac"))
    },
    // the kernel groups grams by hashed token span; the oracle groups the
    // space-joined gram strings — identical partitions because whitespace
    // tokens are space-free (the documented NgramRepetition contract)
    oracleSql = """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        |SELECT doc_id,
        |  round(max(cnt) / sum(cnt), 6) AS top_share,
        |  round(1.0 - count(*) / sum(cnt), 6) AS dup_frac
        |FROM c GROUP BY doc_id""".stripMargin)

  // ---- LLM pipeline: PII redaction (scrubbed text + span count) -------
  val q48 = Contract("q48_redact", run = { (s, dir) =>
      table(s, dir, "documents").select(col("doc_id"),
        ops.TextAnalysis.redact(col("text")).as("clean_text"),
        ops.TextAnalysis.redactCount(col("text")).cast("long").as("n_redacted"))
    },
    // same rule chain, counts on the PROGRESSIVELY scrubbed text (DuckDB
    // regexp_replace needs explicit 'g'; the patterns live in the
    // Java/RE2-common subset so both engines match identical spans)
    oracleSql = """WITH r1 AS (SELECT doc_id,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t1,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS c1
        |       FROM documents),
        |r2 AS (SELECT doc_id, regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2,
        |         c1, len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS c2 FROM r1),
        |r3 AS (SELECT doc_id, regexp_replace(t2, '\+?\(?[0-9](?:[()\-]?[0-9]){6,}', '<PHONE>', 'g') AS t3,
        |         c1, c2, len(regexp_extract_all(t2, '\+?\(?[0-9](?:[()\-]?[0-9]){6,}')) AS c3 FROM r2),
        |r4 AS (SELECT doc_id, regexp_replace(t3, '[0-9]+', '<NUM>', 'g') AS t4,
        |         c1, c2, c3, len(regexp_extract_all(t3, '[0-9]+')) AS c4 FROM r3)
        |SELECT doc_id, t4 AS clean_text, CAST(c1 + c2 + c3 + c4 AS BIGINT) AS n_redacted
        |FROM r4""".stripMargin)

  // ---- LLM pipeline: cross-doc repeated-passage (chunk) statistics ----
  val q49 = Contract("q49_chunk_dups", run = { (s, dir) =>
      ops.Dedup.chunkDupStats(table(s, dir, "documents"), n = 5)
        .select(col("id").as("doc_id"), col("n_chunks"), col("shared_chunks"),
          round(col("shared_frac"), 6).as("shared_frac"))
    },
    oracleSql = """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS chunk
        |      FROM t WHERE len(toks) >= 5),
        |df AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY chunk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
        |  round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS shared_frac
        |FROM g JOIN df USING (chunk) GROUP BY doc_id""".stripMargin)

  // ---- LLM pipeline: deterministic domain-mixture resampling ----------
  // src2 rate 0 (drop all), src0 25%, src1 50%, everything else kept —
  // exercises the absent-source default and the zero edge
  val q50 = Contract("q50_source_mix", run = { (s, dir) =>
      ops.Pipeline.mixBySourceWeight(table(s, dir, "documents"),
          Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0))
        .select(col("doc_id"), col("source"))
    },
    // q45's md5-nibble bucket, gated per-source
    oracleSql = s"""SELECT doc_id, source FROM documents
         |WHERE ${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}
         |  < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
         |            WHEN 'src2' THEN 0.0 ELSE 1.0 END) * 65536""".stripMargin)

  // ---- LLM pipeline: benchmark decontamination ------------------------
  // benchmark = every 20th doc, corpus = the rest: the q49 chunk-dup
  // signal showed cross-doc repeated 5-gram passages exist in this data,
  // so the containment join has real positives to find
  val q51 = Contract("q51_decontaminate", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      ops.Pipeline.decontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), n = 5)
    },
    // distinct 5-grams per corpus doc, left-joined against the distinct
    // benchmark gram set (benchmark = doc_id % 20 == 0)
    oracleSql = """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS gram
        |      FROM t WHERE len(toks) >= 5),
        |cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
        |SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(bg.gram) AS BIGINT) AS matched_grams,
        |  count(bg.gram) > 0 AS contaminated
        |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
        |GROUP BY cg.doc_id""".stripMargin)

  // ---- LLM pipeline: token-window chunking (size 8, stride 4) ---------
  val q52 = Contract("q52_chunks", run = { (s, dir) =>
      ops.TextAnalysis.chunkByTokens(table(s, dir, "documents"),
        size = 8, stride = 4)
    },
    // chunk i covers tokens [i*4+1, i*4+8]; DuckDB list slices are
    // 1-based inclusive, range() is end-exclusive
    oracleSql = """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |        unnest(range(0, CAST(floor((len(toks) - 1) / 4.0) AS BIGINT) + 1)) AS chunk_idx
        |      FROM t WHERE toks IS NOT NULL)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx * 4 + 1 : chunk_idx * 4 + 8], ' ') AS chunk_text,
        |  CAST(least(8, n - chunk_idx * 4) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin)

  // ---- LLM pipeline: deterministic sequence packing --------------------
  // 8 buckets / 512-token sequences on the test corpus; real runs size
  // buckets so one bucket's tokens fit a task
  val q54 = Contract("q54_pack", run = { (s, dir) =>
      ops.Pipeline.packSequences(table(s, dir, "documents"),
        seqLen = 512, buckets = 8)
    },
    // q45's md5-nibble bucket sharded % 8, then a per-bucket running sum
    // in doc_id order — the concatenate-and-chop layout
    oracleSql = s"""WITH t AS (SELECT doc_id,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |        CAST((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 8 AS BIGINT) AS bucket
         |      FROM documents),
         |w AS (SELECT doc_id, bucket, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens AS start
         |      FROM t)
         |SELECT doc_id, bucket, n_tokens, CAST(start AS BIGINT) AS start,
         |  CAST(floor(start / 512) AS BIGINT) AS seq_idx,
         |  CAST(start % 512 AS BIGINT) AS offset
         |FROM w""".stripMargin)

  // ---- LLM pipeline: unigram LM quality score --------------------------
  // vocab 500 so the OOV floor path is exercised on this corpus
  val q55 = Contract("q55_lm_quality", run = { (s, dir) =>
      ops.TextAnalysis.lmQuality(table(s, dir, "documents"),
          vocabSize = 500)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
    },
    // corpus unigram distribution, top-500 vocab cut, OOV floor 1/total
    oracleSql = """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |v AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 500)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / (SELECT total FROM tot))), 6)
        |    AS avg_logprob
        |FROM t LEFT JOIN v ON t.tok = v.tok
        |GROUP BY t.doc_id""".stripMargin)

  // ---- LLM pipeline: cross-doc boilerplate spans ------------------------
  // minDocs = 25 because the synthetic corpus shares a tight vocabulary:
  // at df >= 2 nearly every fingerprint is "common" (frac ~1.0 for all
  // docs); 25 spreads boilerplate_frac across 0.4..1.0 so the aggregate
  // actually discriminates under the hash gate
  val q65 = Contract("q65_boilerplate", run = { (s, dir) =>
      ops.Dedup.boilerplateStats(table(s, dir, "documents"),
          k = 8, w = 4, minDocs = 25)
        .select(col("doc_id"), col("n_fp"), col("n_common"),
          round(col("boilerplate_frac"), 6).as("boilerplate_frac"))
    },
    // q23's winnow-fingerprint pipeline (k=8, w=4, md5 grams), extended
    // with corpus doc-frequency: fingerprints are distinct per doc, so
    // count(*) per fingerprint IS the doc frequency
    oracleSql = """WITH g AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id, L,
        |        list_transform(range(1, L - 8 + 2),
        |          i -> md5(substr(text, CAST(i AS INTEGER), 8))) AS hs
        |      FROM g),
        |f AS (SELECT doc_id,
        |        CASE WHEN L >= 11 THEN
        |          list_distinct(list_transform(range(1, L - 8 + 2 - 3),
        |            j -> list_aggregate(hs[j:j+3], 'min')))
        |        ELSE [] END AS fps
        |      FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |d AS (SELECT fp, count(*) AS df FROM e GROUP BY fp),
        |p AS (SELECT e.doc_id, count(*) AS n_fp,
        |        sum(CASE WHEN d.df >= 25 THEN 1 ELSE 0 END) AS n_common
        |      FROM e JOIN d USING (fp) GROUP BY e.doc_id)
        |SELECT f.doc_id, CAST(coalesce(p.n_fp, 0) AS BIGINT) AS n_fp,
        |  CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(round(coalesce(CAST(p.n_common AS DOUBLE) / p.n_fp, 0), 6) AS DOUBLE)
        |    AS boilerplate_frac
        |FROM f LEFT JOIN p USING (doc_id)""".stripMargin)

  // ---- LLM pipeline: Bloom-prefiltered decontamination ------------------
  // same question and SAME ORACLE as q51: the Bloom filter over
  // xxhash64(gram) prunes the corpus gram stream (codegen'd might_contain,
  // no join node) and only survivors reach an exact string-equality
  // verification join — sketch FPs affect cost, never the answer, so the
  // hash must match the exact broadcast formulation bit-for-bit
  val q73 = Contract("q73_decontaminate_bloom", run = { (s, dir) =>
      val d = table(s, dir, "documents")
      ops.Pipeline.decontaminateBloom(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0), n = 5)
    },
    oracleSql = q51.oracleSql)

  val all: Seq[Contract] = Seq(q12, q13, q21, q22, q23, q44, q45, q46, q47, q48, q49, q50,
    q51, q52, q54, q55, q65, q73)
}
