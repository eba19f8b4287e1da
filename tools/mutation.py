#!/usr/bin/env python3
"""Hand-rolled mutation run over the behavioral state machines.

Offline substitute for Stryker4s (no dependency resolution in this
environment): applies one semantic mutant at a time to pattern/ +
FunnelScan, runs the focused behavioral suites, and records whether the
net kills it. Mutants are classic mutation-operator instances (boundary
flips, off-by-ones, guard deletions, arithmetic/op swaps, order swaps)
chosen at the semantics-bearing sites the reference's own mutation run
targets (reference README reports 88.4% kill rate).

Usage: python3 tools/mutation.py   (from the repo root; restores files)
Writes MUTATION.md with the per-mutant verdicts.
"""
import json
import subprocess
import sys
from pathlib import Path

EXEC = "src/main/scala/graft/behavioral/pattern/Executor.scala"
PAT = "src/main/scala/graft/behavioral/pattern/Pattern.scala"
FUNNEL = "src/main/scala/graft/behavioral/WindowFunnelAgg.scala"
SESS = "src/main/scala/graft/behavioral/SessionizeWindow.scala"
RET = "src/main/scala/graft/behavioral/RetentionAgg.scala"
NN = "src/main/scala/graft/behavioral/SequenceNextNodeAgg.scala"
DEDUP = "src/main/scala/graft/ops/Dedup.scala"
PIPE = "src/main/scala/graft/ops/Pipeline.scala"
TSE = "src/main/scala/graft/functions/TextStatExprs.scala"
VEC = "src/main/scala/graft/functions/VectorExprs.scala"

SUITES = [
    "graft.PatternParserSpec", "graft.PatternExecutorSpec",
    "graft.ZeroWidthPatternSpec", "graft.PropertySpec",
    "graft.SequenceGoldenSpec", "graft.WindowFunnelGoldenSpec",
    "graft.FunnelModeDifferentialSpec", "graft.BoundarySpec",
    "graft.ReferenceSurfaceSpec", "graft.GitMiningSpec",
    "graft.MutationKillSpec",  # written to kill the first run's survivors
    # batch-2 targets
    "graft.SessionizeGoldenSpec", "graft.SessionBoundarySpec",
    "graft.RetentionGoldenSpec", "graft.SequenceNextNodeGoldenSpec",
    "graft.NextNodeDifferentialSpec",
]

# (id, file, description, old, new) — `old` must be unique in `file`.
MUTANTS = [
    ("EX1", EXEC, "non-overlap resume end+1 -> end",
     "searchStart = math.max(matchEnd + 1, searchStart + 1)",
     "searchStart = math.max(matchEnd, searchStart + 1)"),
    ("EX2", EXEC, "adjacent scan boundary <= -> <",
     "while (i + k <= buf.n) {",
     "while (i + k < buf.n) {"),
    ("EX3", EXEC, "wildcard completion >= -> >",
     "if (step >= k) {",
     "if (step > k) {"),
    ("EX4", EXEC, "drop idx<32 bitmask guard (shift wraps)",
     "idx < 32 && ((buf.conds(i) >>> idx) & 1) != 0",
     "idx < 33 && ((buf.conds(i) >>> idx) & 1) != 0"),
    ("EX5", EXEC, "time elapsed / -> * (unit explosion)",
     "val elapsedSeconds = (buf.ts(eIdx) - lts) / MicrosPerSecond",
     "val elapsedSeconds = (buf.ts(eIdx) - lts) * MicrosPerSecond"),
    ("EX6", EXEC, "lazy .* -> greedy (push order swap)",
     """            // consume-one (stays in step) pushed first = lower priority
            stack.push(eIdx + 1, sIdx, lts, hl)
            // zero-width advance pushed last = popped first (lazy `.*`)
            stack.push(eIdx, sIdx + 1, lts, hl)""",
     """            stack.push(eIdx, sIdx + 1, lts, hl)
            stack.push(eIdx + 1, sIdx, lts, hl)"""),
    ("PA1", PAT, "(?N) index off-by-one (drop the -1)",
     "steps += PCond(num.toInt - 1)",
     "steps += PCond(num.toInt)"),
    ("PA2", PAT, "parse >= as >",
     "case ('>', '=') => pos += 2; TimeOp.Gte",
     "case ('>', '=') => pos += 2; TimeOp.Gt"),
    ("PA3", PAT, "Lte boundary <= -> <",
     "case object Lte extends TimeOp { def eval(e: Long, t: Long): Boolean = e <= t }",
     "case object Lte extends TimeOp { def eval(e: Long, t: Long): Boolean = e < t }"),
    ("FU1", FUNNEL, "window break > -> >= (boundary)",
     "if (evTs - entryTs > windowMicros) return currentStep",
     "if (evTs - entryTs >= windowMicros) return currentStep"),
    ("FU2", FUNNEL, "strict: drop same-event-advance exception",
     "condAt(buf, j, currentStep - 1) && !condAt(buf, j, currentStep)) {",
     "condAt(buf, j, currentStep - 1)) {"),
    ("FU3", FUNNEL, "strict_increase <= -> < (same-ts advances)",
     "condAt(buf, j, currentStep) && evTs <= prevMatchedTs) {",
     "condAt(buf, j, currentStep) && evTs < prevMatchedTs) {"),
    ("FU4", FUNNEL, "default multi-advance -> single advance",
     """        var advancing = true
        while (advancing && condAt(buf, j, currentStep)) {""",
     """        var advancing = true
        if (advancing && condAt(buf, j, currentStep)) {"""),
    ("FU5", FUNNEL, "entry condition bit test != 0 -> == 0",
     "if ((buf.conds(i) & 1) != 0) { // entry condition",
     "if ((buf.conds(i) & 1) == 0) { // entry condition"),
    # ---- batch 2: sessionize / retention / next-node ----
    ("SE1", SESS, "session gap strictly-greater -> >=",
     "If(GreaterThan(Subtract(cur, lastTs), Literal(gapMicros)),",
     "If(GreaterThanOrEqual(Subtract(cur, lastTs), Literal(gapMicros)),"),
    ("SE2", SESS, "NULL ts row clobbers last-ts state",
     "val newLast = If(IsNull(ts), lastTs, cur)",
     "val newLast = cur"),
    ("SE3", SESS, "NULL ts row emits session id instead of NULL",
     "If(curNull, Literal(null, LongType), sess)",
     "sess"),
    ("RE1", RET, "retention drops the anchor gate",
     "out(i) = anchor && ((bits >>> i) & 1L) != 0",
     "out(i) = ((bits >>> i) & 1L) != 0"),
    ("RE2", RET, "update overwrites instead of ORing the mask",
     "buf(0) |= mask | SeenBit",
     "buf(0) = mask | SeenBit"),
    ("RE3", RET, "anchor reads bit 1 instead of bit 0",
     "val anchor = (bits & 1L) != 0",
     "val anchor = (bits & 2L) != 0"),
    ("NN1", NN, "next node reads the matched event, not its successor",
     "val nextIdx = lastMatched + 1",
     "val nextIdx = lastMatched"),
    ("NN2", NN, "backward first_match scans left-to-right",
     """      case 2 => // first_match scans right-to-left (reference :352-363)
        var s = n - 1""",
     """      case 2 => // first_match scans right-to-left (reference :352-363)
        var s = 0"""),
    ("NN3", NN, "partial chain match returns a value",
     "if (step != numSteps) return null\n    val nextIdx",
     "if (step > numSteps) return null\n    val nextIdx"),
]

# batch 3: dedup / similarity / text kernels. Run with
# `python3 tools/mutation.py 3`; focused suites in SUITES3.
SUITES3 = [
    "graft.JaccardExactnessSpec", "graft.OpsSpec", "graft.BlockedJoinSpec",
    "graft.DedupBoundarySpec", "graft.JaccardMemoKeySpec",
    "graft.NgramRepetitionSpec", "graft.RedactionSpec", "graft.ChunkDupSpec",
    "graft.SourceMixSpec", "graft.SimhashMd5Spec", "graft.WinnowMinimaSpec",
    "graft.LeakageSplitSpec",
]

MUTANTS3 = [
    ("DD1", DEDUP, "prefix length off-by-one (drop the +1)",
     '(col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")',
     '(col("n_sh") - ceil(lit(threshold) * col("n_sh"))).cast("int")'),
    ("DD2", DEDUP, "positional-filter alpha t/(1+t) -> t (over-prunes)",
     'val alpha = ceil(lit(threshold / (1 + threshold)) *',
     'val alpha = ceil(lit(threshold) *'),
    ("DD3", DEDUP, "length filter boundary >= -> >",
     'col("x.n_sh") >= ceil(lit(threshold) * col("y.n_sh")) &&',
     'col("x.n_sh") > ceil(lit(threshold) * col("y.n_sh")) &&'),
    ("DD4", DEDUP, "hashed-verify threshold >= -> >",
     '.filter(col("common") / (col("na") + col("nb") - col("common")) >= threshold)',
     '.filter(col("common") / (col("na") + col("nb") - col("common")) > threshold)'),
    ("DD5", DEDUP, "simhash hamming cut <= -> <",
     '.filter(col("hamming") <= maxDist)',
     '.filter(col("hamming") < maxDist)'),
    ("DD6", DEDUP, "chunk sharing threshold 2 docs -> 3",
     'count(when(col("n_docs") >= 2, lit(1))).as("shared_chunks"))',
     'count(when(col("n_docs") >= 3, lit(1))).as("shared_chunks"))'),
    ("PL1", PIPE, "leakage test-bucket boundary < -> <=",
     'when(bucket < testBuckets, "test")',
     'when(bucket <= testBuckets, "test")'),
    ("TS1", TSE, "ngram_repetition: first-placement top update dropped",
     """          distinct += 1
          if (top < 1) top = 1
          placed = true""",
     """          distinct += 1
          placed = true"""),
    ("TS2", TSE, "ngram_repetition: gram equality ignores null elements",
     """        val n1 = toks.isNullAt(s1 + j)
        val n2 = toks.isNullAt(s2 + j)
        if (n1 != n2) return false
        if (!n1 &&
            !toks.getUTF8String(s1 + j).equals(toks.getUTF8String(s2 + j)))
          return false""",
     """        if (!toks.getUTF8String(s1 + j).equals(toks.getUTF8String(s2 + j)))
          return false"""),
    ("VC1", VEC, "sorted-intersect codegen comparison < -> > (advance swap)",
     '|  else if ($xv < $yv) { $i++; } else { $j++; }',
     '|  else if ($xv > $yv) { $i++; } else { $j++; }'),
]


# batch 4: per-row sketch kernels + round-5 curation ops. Run with
# `python3 tools/mutation.py 4`; focused suites in SUITES4.
SKETCH = "src/main/scala/graft/functions/SketchExprs.scala"
TA = "src/main/scala/graft/ops/TextAnalysis.scala"
PTK = "src/main/scala/graft/functions/PrefixTopK.scala"
STK = "src/main/scala/graft/functions/ScoreTopK.scala"

SUITES4 = [
    "graft.SketchExprsSpec", "graft.DecontaminateSpec",
    "graft.ChunkByTokensSpec", "graft.DedupSpec", "graft.SimhashMd5Spec",
    "graft.JaccardExactnessSpec", "graft.OpsSpec", "graft.PrefixTopKSpec",
    "graft.ScoreTopKSpec", "graft.BatchTopKSpec", "graft.PackSequencesSpec",
    "graft.LmQualitySpec",
]

MUTANTS4 = [
    ("MS1", SKETCH, "minhash keeps MAX instead of min",
     "if (v < out(s)) out(s) = v",
     "if (v > out(s)) out(s) = v"),
    ("MS2", SKETCH, "minhash seed family shifted by one",
     "val v = XXH64.hashLong(h, s.toLong)",
     "val v = XXH64.hashLong(h, (s + 1).toLong)"),
    ("SH1", SKETCH, "simhash64 tie votes set the bit (> -> >=)",
     """      if (votes(b) > 0) fp |= (1L << b)
      b += 1""",
     """      if (votes(b) >= 0) fp |= (1L << b)
      b += 1"""),
    ("SH2", SKETCH, "simhash64 votes per occurrence, not per distinct token",
     """        if (seen.add(t)) {
          val h = XXH64.hashUTF8String(t, 42L)""",
     """        if ({ seen.add(t); true }) {
          val h = XXH64.hashUTF8String(t, 42L)"""),
    ("MD1", SKETCH, "md5 simhash nibble order swapped (high<->low)",
     "val nib = if ((j & 1) == 0) byte >>> 4 else byte & 0xF",
     "val nib = if ((j & 1) == 0) byte & 0xF else byte >>> 4"),
    ("DC1", PIPE, "decontaminate inner-joins (clean docs vanish)",
     'docGrams.join(benchGrams, Seq("__g"), "left")',
     'docGrams.join(benchGrams, Seq("__g"), "inner")'),
    ("DC2", PIPE, "decontaminate counts every gram as matched",
     'count(col("__hit")).as("matched_grams"))',
     'count(lit(1)).as("matched_grams"))'),
    ("CK1", TA, "chunk windows all start at token 1 (stride ignored)",
     'i => concat_ws(" ", slice(col("__toks"), i * stride + 1, lit(size))))))',
     'i => concat_ws(" ", slice(col("__toks"), lit(1), lit(size))))))'),
    ("CK2", TA, "partial tail chunk dropped",
     "sequence(lit(0), floor((nTok - 1) / stride).cast(\"int\")),",
     "sequence(lit(0), floor((nTok - size) / stride).cast(\"int\")),"),
    ("DD7", DEDUP, "index-prefix length off-by-one (drop the +1)",
     'col("x.n_sh") - ceil(lit(2 * threshold / (1 + threshold)) * col("x.n_sh")) + 1',
     'col("x.n_sh") - ceil(lit(2 * threshold / (1 + threshold)) * col("x.n_sh"))'),
    ("PT1", PTK, "heap tie-break inverted on equal df",
     "d1 < d2 || (d1 == d2 && h1 < h2)",
     "d1 < d2 || (d1 == d2 && h1 > h2)"),
    ("PT2", PTK, "heap keeps the k LARGEST (eviction comparison flipped)",
     "} else if (k > 0 && less(df, h, dfs(0), hs(0))) {",
     "} else if (k > 0 && less(dfs(0), hs(0), df, h)) {"),
    ("ST1", STK, "score heap tie-break prefers LARGER id",
     "s1 < s2 || (s1 == s2 && i1 > i2)",
     "s1 < s2 || (s1 == s2 && i1 < i2)"),
    ("ST2", STK, "score heap keeps the k WORST (eviction flipped)",
     "} else if (k > 0 && worse(scores(0), ids(0), score, id)) {",
     "} else if (k > 0 && worse(score, id, scores(0), ids(0))) {"),
    ("LM1", TA, "lmQuality OOV floor dropped (OOV counts as frequency 0... NULL)",
     'avg(log(coalesce(col("__cnt"), lit(1L)).cast("double") / total))',
     'avg(log(col("__cnt").cast("double") / total))'),
    ("LM2", TA, "lmQuality vocab cut keeps the RAREST tokens",
     'counted.orderBy(col("__cnt").desc, col("__tok")).limit(vocabSize))',
     'counted.orderBy(col("__cnt").asc, col("__tok")).limit(vocabSize))'),
]


# batch 5: streaming operators. Run with `python3 tools/mutation.py 5`.
STREAM = "src/main/scala/graft/streaming/StreamingBehavioral.scala"

SUITES5 = [
    "graft.StreamingSpec", "graft.SessionBoundarySpec",
    "graft.StreamingBatchDifferentialSpec", "graft.StreamingDedupSpec",
    "graft.StreamingSimhashDedupSpec", "graft.StreamingSimhashDifferentialSpec",
    "graft.StreamingMutantKillSpec",  # written to kill the first run's survivors
]

MUTANTS5 = [
    ("SM1", STREAM, "simhash dedup hamming cut <= -> <",
     "if (java.lang.Long.bitCount(sims(i) ^ e.simhash) <= maxDist)",
     "if (java.lang.Long.bitCount(sims(i) ^ e.simhash) < maxDist)"),
    ("SM2", STREAM, "within-batch suppression order reversed",
     "val events = batch.toArray.sortBy(e =>\n              (e.ts.getTime, e.doc_id))",
     "val events = batch.toArray.sortBy(e =>\n              (-e.ts.getTime, e.doc_id))"),
    ("SM3", STREAM, "simhash state GC drops the at-watermark fingerprint",
     "val keep = tss.indices.filter(i => tss(i) >= horizonUs)",
     "val keep = tss.indices.filter(i => tss(i) > horizonUs)"),
    ("SM4", STREAM, "funnel prune drops the at-horizon event (>= -> >)",
     "if (buf.ts(i) >= horizonUs) pruned.append(buf.ts(i), buf.conds(i))",
     "if (buf.ts(i) > horizonUs) pruned.append(buf.ts(i), buf.conds(i))"),
    ("SM5", STREAM, "funnel monotone-best dropped (pruning can regress steps)",
     "val steps = math.max(best,\n              FunnelScan.maxStep(kept, windowMicros, mode, numConds))",
     "val steps =\n              FunnelScan.maxStep(kept, windowMicros, mode, numConds)"),
]


# batch 6: the AllPairs index-prefix bound (a filtering-POWER property the
# final output cannot see — pinned at the candidate stage) + ScoreTopK's
# serialize/deserialize round-trip. Run with `python3 tools/mutation.py 6`.
TOPK = "src/main/scala/graft/functions/ScoreTopK.scala"

SUITES6 = [
    "graft.JaccardCandidateStageSpec", "graft.ScoreTopKRoundTripSpec",
    "graft.BatchTopKSpec", "graft.PrefixTopKSpec",
    "graft.Round5Spec", "graft.OpsSpec",
]

MUTANTS6 = [
    ("DD61", DEDUP, "index prefix bound 2t/(1+t) -> t/(1+t) (classic weakening)",
     "ceil(lit(2 * threshold / (1 + threshold)) * col(\"x.n_sh\")) + 1",
     "ceil(lit(threshold / (1 + threshold)) * col(\"x.n_sh\")) + 1"),
    ("DD62", DEDUP, "canonical tie-break < -> <= (admits self-pairs)",
     "(col(\"x.n_sh\") === col(\"y.n_sh\") && col(\"x.id\") < col(\"y.id\"))",
     "(col(\"x.n_sh\") === col(\"y.n_sh\") && col(\"x.id\") <= col(\"y.id\"))"),
    ("DD63", DEDUP, "index prefix drops the +1 (bound too tight: loses pairs)",
     "col(\"x.n_sh\") - ceil(lit(2 * threshold / (1 + threshold)) * col(\"x.n_sh\")) + 1",
     "col(\"x.n_sh\") - ceil(lit(2 * threshold / (1 + threshold)) * col(\"x.n_sh\"))"),
    ("TK61", TOPK, "deserialize drops the last serialized entry",
     "    val n = bb.getInt\n    var i = 0\n    while (i < n) {",
     "    val n = bb.getInt\n    var i = 0\n    while (i < n - 1) {"),
    ("TK62", TOPK, "serialize writes size where k belongs (k collapses to size)",
     "bb.putInt(buf.k).putInt(buf.size)",
     "bb.putInt(buf.size).putInt(buf.size)"),
    ("TK63", TOPK, "NaN guard removed (NaN can squat an under-full slot)",
     "    if (java.lang.Double.isNaN(score)) return buf\n",
     ""),
    ("TK64", TOPK, "merge never adopts k from the incoming buffer",
     "    if (buf.k == 0) buf.k = other.k\n",
     ""),
]

# batch 7: round-6 operators — semantic dedup (cell key, orientation,
# min-neighbor), int8 quantization (rounding, scale denominator),
# boilerplate stats (df boundary, short-doc left join), multimodal stubs
# (frame stride origin, resize pixel mapping), and streaming retention
# (anchor gate, mask OR). The SD73/MM72 killer tests were written BEFORE
# this run (cell-key drops are invisible on cluster-separated fixtures;
# ResizeSpec only pinned shape/determinism). Run with
# `python3 tools/mutation.py 7`.
SIM = "src/main/scala/graft/ops/Similarity.scala"
MM = "src/main/scala/graft/ops/Multimodal.scala"

SUITES7 = [
    "graft.SemanticDedupSpec", "graft.QuantizeSpec",
    "graft.BoilerplateStatsSpec", "graft.ResizeSpec",
    # MultimodalSpec, not "OpsSpec" — OpsSpec.scala holds several suites
    # and no class is literally named OpsSpec; the first batch-7 run listed
    # it, ran nothing for the frame test, and MM71 "survived" on a harness
    # no-op rather than a coverage gap
    "graft.MultimodalSpec", "graft.StreamingRetentionSpec",
]

MUTANTS7 = [
    ("SD71", SIM, "semantic dedup pair orientation < -> <= (admits self-pairs)",
     'val dups = left.join(right, Seq("cell", "bi", "bj"))\n'
     '      .filter(col("bi") =!= col("bj") || col("id") < col("rid"))',
     'val dups = left.join(right, Seq("cell", "bi", "bj"))\n'
     '      .filter(col("bi") =!= col("bj") || col("id") <= col("rid"))'),
    ("SD72", SIM, "dup_of takes the max lower-id neighbor, not the min",
     '.groupBy(col("b").as("id")).agg(min(col("a")).as("dup_of"))',
     '.groupBy(col("b").as("id")).agg(max(col("a")).as("dup_of"))'),
    ("SD73", SIM, "within-cell pairing drops the cell key (compares across cells)",
     'left.join(right, Seq("cell", "bi", "bj"))',
     'left.join(right, Seq("bi", "bj"))'),
    ("QZ71", SIM, "quantize round -> truncate",
     '.otherwise(transform(v, x => round(x / scale).cast("byte")))',
     '.otherwise(transform(v, x => (x / scale).cast("byte")))'),
    ("QZ72", SIM, "quant scale denominator 127 -> 128 (overflow wraps the byte)",
     'array_max(transform(v, x => abs(x))) / 127.0',
     'array_max(transform(v, x => abs(x))) / 128.0'),
    ("BP71", DEDUP, "boilerplate df boundary >= minDocs -> >",
     'count(when(col("df") >= minDocs, lit(1))).as("n_common")',
     'count(when(col("df") > minDocs, lit(1))).as("n_common")'),
    ("BP72", DEDUP, "fingerprint-less docs dropped (left join -> inner)",
     'docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")',
     'docs.select(col(idCol).as("id")).join(perDoc, Seq("id"))'),
    ("MM71", MM, "frame sampling starts at frame 1, not 0",
     '(0 until nFrames by stride).iterator',
     '(1 until nFrames by stride).iterator'),
    ("MM72", MM, "resize source-x mapping inverted (x*newW/width)",
     'val sx = x * r.width / newW',
     'val sx = x * newW / r.width'),
    ("SR71", STREAM, "streaming retention drops the anchor gate on flags 1..n",
     'if (i == 0) anchor else anchor && ((mask >> i) & 1) != 0',
     'if (i == 0) anchor else ((mask >> i) & 1) != 0'),
    ("SR72", STREAM, "retention mask overwrites instead of ORing",
     'mask |= e.conds',
     'mask = e.conds'),
]


# batch 8: streaming sequence_match (latch buffer drop, horizon prune
# boundary, condition-bearing filter) + the argmin_cell kernel (tie rule in
# BOTH the eval and codegen paths, distance arithmetic). The boundary and
# per-path tie killer tests were written before this run. Run with
# `python3 tools/mutation.py 8`.
SUITES8 = [
    "graft.StreamingSeqMatchSpec", "graft.ArgminCellSpec",
    "graft.SimilaritySpec", "graft.IvfPartialProbeRecallSpec",
]

MUTANTS8 = [
    ("SQ81", STREAM, "match latch keeps the event buffer (state no longer O(1))",
     '''              if (matched) {
                // latch: drop the buffer, O(1) state from here on
                state.update(SeqMatchState(Array.emptyLongArray,
                  Array.emptyIntArray, maxTsUs, matched = true))
              } else {''',
     '''              if (matched) {
                state.update(SeqMatchState(
                  java.util.Arrays.copyOf(kept.ts, kept.n),
                  java.util.Arrays.copyOf(kept.conds, kept.n),
                  maxTsUs, matched = true))
              } else {'''),
    ("SQ82", STREAM, "horizon prune boundary >= -> > (drops the at-horizon event)",
     '''              buf.sortByTs()
              var i = 0
              while (i < buf.n) {
                if (buf.ts(i) >= horizonUs) pruned.append(buf.ts(i), buf.conds(i))''',
     '''              buf.sortByTs()
              var i = 0
              while (i < buf.n) {
                if (buf.ts(i) > horizonUs) pruned.append(buf.ts(i), buf.conds(i))'''),
    ("SQ83", STREAM, "zero-mask events enter the buffer (breaks adjacency semantics)",
     "if (!matched && e.conds != 0) buf.append(us, e.conds)",
     "if (!matched) buf.append(us, e.conds)"),
    ("AC81", VEC, "argmin_cell codegen tie < -> <= (ties to the largest cell)",
     "|  if ($d < $best) { $best = $d; $bestC = $c; }",
     "|  if ($d <= $best) { $best = $d; $bestC = $c; }"),
    ("AC82", VEC, "argmin_cell eval tie < -> <= (interpreted path drifts alone)",
     "      if (d < best) { best = d; bestC = c }",
     "      if (d <= best) { best = d; bestC = c }"),
    ("AC83", VEC, "argmin_cell distance factor -2 -> -1",
     "|  double $d = $s * -2.0 + $sq[$c];",
     "|  double $d = $s * -1.0 + $sq[$c];"),
]


# batch 9: streaming sequence_count's consumed-prefix logic — the
# binary-search boundary, the prefix drop itself, and count accumulation.
# Run with `python3 tools/mutation.py 9`.
SUITES9 = ["graft.StreamingSeqCountSpec", "graft.StreamingSeqMatchSpec"]

MUTANTS9 = [
    ("SC91", STREAM, "consumed-boundary search >= total -> > total (consumes skipped suffix)",
     "          .execute(steps, prefix, countAll = true) >= total) hi = mid",
     "          .execute(steps, prefix, countAll = true) > total) hi = mid"),
    ("SC92", STREAM, "consumed prefix never dropped (double counting across batches)",
     "val from = if (newMatches > 0) consumedEnd(kept, newMatches) else 0",
     "val from = 0"),
    ("SC93", STREAM, "count overwrites instead of accumulating",
     "count += newMatches",
     "count = newMatches"),
]


# batch 10: round-8 seams — bucketed token-budget arithmetic, the strict
# budget boundary, int8 quantize rounding, lshSelfJoin's per-table seed
# offset, executeWithConsumed's boundary tracking in all three executor
# tiers, streaming next-node's no-pre-filter contract, and the
# match-events latch state. Run with `python3 tools/mutation.py 10`.
SIM = "src/main/scala/graft/ops/Similarity.scala"
SUITES10 = [
    "graft.TokenBudgetBucketedSpec", "graft.LeakageSplitSpec",
    "graft.QuantizeSpec", "graft.LshRecallSpec",
    "graft.StreamingSeqCountSpec", "graft.StreamingSeqMatchEventsSpec",
    "graft.StreamingNextNodeSpec",
]

MUTANTS10 = [
    ("TB101", PIPE, "bucket prefix includes its own bucket (double-counts the first bucket)",
     '          sum(col("__bucket_tokens")).over(wPrefix) - col("__bucket_tokens"))',
     '          sum(col("__bucket_tokens")).over(wPrefix))'),
    ("TB102", PIPE, "budget boundary < -> <= (admits the doc starting exactly at budget)",
     'cum.filter(col("cum_tokens") - col("n_tokens") < budget)',
     'cum.filter(col("cum_tokens") - col("n_tokens") <= budget)'),
    ("QZ101", SIM, "int8 quantize round -> floor (x.5 codes drop one level)",
     ".otherwise(transform(v, x => round(x / scale).cast(\"byte\")))",
     ".otherwise(transform(v, x => floor(x / scale).cast(\"byte\")))"),
    ("LS101", SIM, "lshSelfJoin per-table seed offset dropped (24 identical tables)",
     "lshBucket(col(\"v\"), dim, nPlanes, seed = 1000L + t)): _*)))",
     "lshBucket(col(\"v\"), dim, nPlanes, seed = 1000L)): _*)))"),
    ("EW101", EXEC, "wildcard consumed boundary i+1 -> i (completing event re-exposed)",
     "          total += 1\n          lastEnd = i + 1",
     "          total += 1\n          lastEnd = i"),
    ("EA101", EXEC, "adjacent consumed boundary tracks match START (whole chain re-exposed)",
     "        total += 1\n        i += k // non-overlapping\n        lastEnd = i",
     "        total += 1\n        lastEnd = i\n        i += k // non-overlapping"),
    ("NF101", EXEC, "NFA consumed boundary off by one (last consumed event re-exposed)",
     "        searchStart = math.max(matchEnd + 1, searchStart + 1)\n        lastEnd = searchStart",
     "        searchStart = math.max(matchEnd + 1, searchStart + 1)\n        lastEnd = searchStart - 1"),
    ("SN101", STREAM, "streaming next-node pre-filters zero-condition rows",
     "                buf.append(us, f, buf.intern(v))",
     "                if (f != 0L) buf.append(us, f, buf.intern(v))"),
    ("SM101", STREAM, "match-events latch state drops the captured timestamps",
     "                  Array.emptyIntArray, maxTsUs, matched = true, got))",
     "                  Array.emptyIntArray, maxTsUs, matched = true, Array.emptyLongArray))"),
]


# batch 32: round-16 store seams — the ingest-id replay guard (flat and
# per-grain), id carry-forward through compaction, the grained range /
# pruned-read / drop predicates, the regrain key rewrite, the cross-grain
# schema gate, and the stale-claim content verification. Run with
# `python3 tools/mutation.py 32`.
ROLLUP = "src/main/scala/graft/ops/RollupStore.scala"
GENB = "src/main/scala/graft/ops/GenerationalBatches.scala"
SINKS = "src/main/scala/graft/sources/Sinks.scala"
SUITES32 = [
    "graft.RollupStoreSpec", "graft.GrainedRollupStoreSpec",
    "graft.RegrainSpec", "graft.StreamingRollupIngestSpec",
    "graft.LeaseSpec", "graft.PlanSpec",
]

MUTANTS32 = [
    ("RS321", ROLLUP, "flat replay guard dropped (replayed id re-appends)",
     """      if (ingestId.exists(
          GenerationalBatches.seenIngestIds(fs, committed).contains)) {
        onStep("committed"); return 0L
      }""",
     """      if (false) {
        onStep("committed"); return 0L
      }"""),
    ("RS322", ROLLUP, "per-grain replay guard dropped (grained replay re-appends)",
     """          if (!ingestId.exists(
              GenerationalBatches.seenIngestIds(fs, committed).contains))""",
     """          if (true)"""),
    ("GB321", GENB, "commit never records ingest ids (guard forgets everything)",
     "    if (ids.nonEmpty) {",
     "    if (false) {"),
    ("GB322", GENB, "seenIngestIds reads no batch (guard's read side blind; ids not carried through folds)",
     """  def seenIngestIds(fs: FileSystem, live: Seq[(Long, Path)]): Set[String] =
    live.iterator.flatMap { case (_, p) => ingestIds(fs, p) }.toSet""",
     """  def seenIngestIds(fs: FileSystem, live: Seq[(Long, Path)]): Set[String] =
    live.iterator.take(0).flatMap { case (_, p) => ingestIds(fs, p) }.toSet"""),
    ("RS323", ROLLUP, "range compaction ignores its grain predicate (folds every grain)",
     """      val targets = listGrainDirs(fs, base)
        .filter { case (v, _) => grains(v) }.sortBy(_._1)
      onStep("selected")""",
     """      val targets = listGrainDirs(fs, base)
        .sortBy(_._1)
      onStep("selected")"""),
    ("RS324", ROLLUP, "readGrains ignores its grain predicate (no listing-time pruning)",
     """    val dirs = listGrainDirs(fs, base)
      .filter { case (v, _) => grains(v) }.sortBy(_._1)""",
     """    val dirs = listGrainDirs(fs, base)
      .sortBy(_._1)"""),
    ("DG321", ROLLUP, "dropGrains boundary < -> <= (retires the cutoff grain too)",
     "    dropGrainsWhere(spark, baseDir, _ < olderThan, leaseStaleMs)",
     "    dropGrainsWhere(spark, baseDir, _ <= olderThan, leaseStaleMs)"),
    ("RG321", ROLLUP, "regrain keeps the old grain key (never applies the new grain expression)",
     """    val groupCols = keyCols.map(kc =>
      if (kc == grainCol) newGrain.as(newGrainCol) else col(kc))""",
     """    val groupCols = keyCols.map(kc => col(kc))"""),
    ("GB323", ROLLUP, "cross-grain schema gate dropped (a grained store mixes families)",
     """        latestBatchAcrossGrains(fs, base).foreach(p =>
          schemaGate(spark, new Path(p, "states"), states))""",
     """        latestBatchAcrossGrains(fs, base).filter(_ => false).foreach(p =>
          schemaGate(spark, new Path(p, "states"), states))"""),
    ("WL321", SINKS, "stale claim deletes without verifying content (destroys a fresh lease)",
     """      if (readLeaseFile(fs, grave).contains(observed)) fs.delete(grave, false)
      else if (!fs.rename(grave, lease)) fs.delete(grave, false)""",
     """      fs.delete(grave, false)"""),
]

SUITES33 = ["graft.GrainedRollupStoreSpec"]

SUITES34 = ["graft.GrainedRollupStoreSpec", "graft.StreamingRollupIngestSpec"]

SUITES35 = ["graft.GrainedRollupStoreSpec"]

MUTANTS35 = [
    ("RC351", ROLLUP, "grained compaction commits with an empty folded list (old batches stay live — double-serve)",
     """          GenerationalBatches.commit(fs, batchPath,
            committed.map(_._2.getName),
            GenerationalBatches.seenIngestIds(fs, committed))""",
     """          GenerationalBatches.commit(fs, batchPath,
            Seq.empty,
            GenerationalBatches.seenIngestIds(fs, committed))"""),
    ("RC352", ROLLUP, "grained compaction drops the folded batches' ingest ids (replay guard forgets after a fold)",
     """          GenerationalBatches.commit(fs, batchPath,
            committed.map(_._2.getName),
            GenerationalBatches.seenIngestIds(fs, committed))""",
     """          GenerationalBatches.commit(fs, batchPath,
            committed.map(_._2.getName),
            Set.empty)"""),
    ("RC353", ROLLUP, "grained fold reads only each grain's first batch (later ingests vanish from the fold)",
     """      val allPaths = perGrain.flatMap { case (_, _, committed) =>
        committed.map { case (_, p) => new Path(p, "states").toString } }""",
     """      val allPaths = perGrain.flatMap { case (_, _, committed) =>
        committed.take(1).map { case (_, p) => new Path(p, "states").toString } }"""),
    ("RC354", ROLLUP, "grained compaction reuses the last batch number instead of the next",
     """        for ((g, gdir, committed) <- perGrain) {
          val k = committed.last._1 + 1""",
     """        for ((g, gdir, committed) <- perGrain) {
          val k = committed.last._1"""),
]

MUTANTS34 = [
    ("RS341", ROLLUP, "pre-write replay filter dropped (a replayed grained ingest re-stages and re-commits every grain)",
     """        val pending = grains.filter { g =>
          val gdir = new Path(base, grainDirName(grainCol, g))
          !ingestId.exists(GenerationalBatches
            .seenIngestIds(fs, GenerationalBatches.recover(fs, gdir))
            .contains)
        }""",
     """        val pending = grains"""),
    ("RS342", ROLLUP, "stale stage-dir sweep dropped (crashed ingests accrete hidden dirs forever)",
     """        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, true))""",
     """        .filter(st => false)
        .foreach(st => fs.delete(st.getPath, true))"""),
    ("RS343", ROLLUP, "staged partition lookup skips the hex encoding (writer and reader disagree on dir names)",
     """          val part = new Path(stage, s"$StageHexCol=${hexOf(g)}")""",
     """          val part = new Path(stage, s"$StageHexCol=$g")"""),
    ("RS344", ROLLUP, "NULL-grain gate dropped (placeholder rows land in a null partition)",
     """        require(nullGrains == 0,
          s"$nullGrains NULL $grainCol rows; a NULL grain names no " +
            "partition — filter placeholder rows before ingest")""",
     """        require(nullGrains >= 0,
          s"$nullGrains NULL $grainCol rows; a NULL grain names no " +
            "partition — filter placeholder rows before ingest")"""),
]

MUTANTS33 = [
    ("RI331", ROLLUP, "regrainInto keeps the old grain key (never applies the new grain)",
     """    val foldKeys = keyCols.map(kc =>
      if (kc == grainCol) newGrain.as(newGrainCol) else col(kc))""",
     """    val foldKeys = keyCols.map(kc => col(kc))"""),
    ("RI332", ROLLUP, "regrainInto drops its ingest id (a crashed rewrite double-appends on resume)",
     """    appendStatesByGrain(folded, dstDir,
      keyCols.map(kc => if (kc == grainCol) newGrainCol else kc),
      newGrainCol, stateCol, ingestId, onStep, leaseStaleMs)""",
     """    appendStatesByGrain(folded, dstDir,
      keyCols.map(kc => if (kc == grainCol) newGrainCol else kc),
      newGrainCol, stateCol, None, onStep, leaseStaleMs)"""),
    ("RI333", ROLLUP, "regrainInto keeps one partial per coarse key instead of combining",
     """    val folded = readGrains(spark, srcDir)
      .groupBy(foldKeys: _*)
      .agg(combine(col(stateCol)).as(stateCol))""",
     """    val folded = readGrains(spark, srcDir)
      .groupBy(foldKeys: _*)
      .agg(first(col(stateCol)).as(stateCol))"""),
]

# batch 46: the one publish path of the generational stores
# (GenerationalBatches.publish) — its crash order. Run with
# `python3 tools/mutation.py 46`.
SUITES46 = [
    "graft.RollupStoreSpec", "graft.GrainedRollupStoreSpec",
    "graft.IncrementalSessionSpec",
]

MUTANTS46 = [
    ("GB461", GENB, "marker written before the footer-count check (a short batch commits, and a crash at 'written' leaves it visible)",
     """        require(footers == expected,
          s"batch_$k under $dir has $footers of $expected rows on disk; " +
            "left uncommitted, live batches intact")
        onStep("written")
        commit(fs, batchPath, folds.map(_._2.getName), ids)""",
     """        commit(fs, batchPath, folds.map(_._2.getName), ids)
        require(footers == expected,
          s"batch_$k under $dir has $footers of $expected rows on disk; " +
            "left uncommitted, live batches intact")
        onStep("written")"""),
    ("GB462", GENB, "folded dirs deleted before the marker (a crash before commit loses the folded rows)",
     """        onStep("written")
        commit(fs, batchPath, folds.map(_._2.getName), ids)
        onStep("committed")
        afterCommit
        if (folds.nonEmpty) {
          if (cleanupDelayMs <= 0L)
            folds.foreach { case (_, p) => fs.delete(p, true) }
          onStep("cleaned")
        }""",
     """        if (cleanupDelayMs <= 0L)
          folds.foreach { case (_, p) => fs.delete(p, true) }
        onStep("written")
        commit(fs, batchPath, folds.map(_._2.getName), ids)
        onStep("committed")
        afterCommit
        if (folds.nonEmpty) {
          onStep("cleaned")
        }"""),
]


def run(cmd, timeout=1800):
    return subprocess.run(cmd, shell=True, capture_output=True, text=True,
                          timeout=timeout)


def main():
    batch = sys.argv[1] if len(sys.argv) > 1 else "1"
    batch3 = batch == "3"
    batch4 = batch == "4"
    batch5 = batch == "5"
    batch6 = batch == "6"
    batch7 = batch == "7"
    batch8 = batch == "8"
    batch9 = batch == "9"
    batch10 = batch == "10"
    batch32 = batch == "32"
    batch33 = batch == "33"
    batch34 = batch == "34"
    batch35 = batch == "35"
    batch46 = batch == "46"
    mutants = (MUTANTS46 if batch46 else MUTANTS35 if batch35 else (MUTANTS34 if batch34 else (MUTANTS33 if batch33 else (MUTANTS32 if batch32 else
               (MUTANTS10 if batch10 else (MUTANTS9 if batch9 else (MUTANTS8 if batch8 else
               (MUTANTS7 if batch7 else (MUTANTS6 if batch6 else
               (MUTANTS5 if batch5 else (MUTANTS4 if batch4 else
               (MUTANTS3 if batch3 else MUTANTS))))))))))))
    suites = (SUITES46 if batch46 else SUITES35 if batch35 else (SUITES34 if batch34 else (SUITES33 if batch33 else (SUITES32 if batch32 else
              (SUITES10 if batch10 else (SUITES9 if batch9 else (SUITES8 if batch8 else
              (SUITES7 if batch7 else (SUITES6 if batch6 else
              (SUITES5 if batch5 else (SUITES4 if batch4 else
              (SUITES3 if batch3 else SUITES))))))))))))
    root = Path(".")
    results = []
    for mid, fname, desc, old, new in mutants:
        path = root / fname
        src = path.read_text()
        if src.count(old) != 1:
            print(f"[{mid}] SKIP: pattern not unique ({src.count(old)} hits)")
            results.append((mid, fname, desc, "invalid"))
            continue
        path.write_text(src.replace(old, new))
        try:
            r = run(f"sbt -batch 'testOnly {' '.join(suites)}'")
            out = r.stdout + r.stderr
            if "compilation failed" in out.lower() or "[error] (Compile" in out:
                verdict = "stillborn"  # does not compile: excluded from rate
            elif r.returncode != 0:
                verdict = "killed"
            else:
                verdict = "SURVIVED"
        finally:
            path.write_text(src)
        print(f"[{mid}] {verdict}: {desc}")
        results.append((mid, fname, desc, verdict))

    valid = [x for x in results if x[3] in ("killed", "SURVIVED")]
    killed = [x for x in valid if x[3] == "killed"]
    rate = 100.0 * len(killed) / len(valid) if valid else 0.0
    if batch46:
        marker = "\n## Batch 46 \u2014 one publish path for the generational stores\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Every generational op (flat and grained rollup ingest and",
            "compaction, session append and compaction) now publishes its",
            "batch through `GenerationalBatches.publish`. Mutants reorder",
            "its crash order: the marker before the footer-count check,",
            "and the folded dirs deleted before the marker.",
            "",
            f"**Batch-46 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-46 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch35:
        marker = "\n## Batch 35 \u2014 one-job range-compaction seams\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "compactGrains was rewritten (after batch 34) from one fold",
            "job per grain to ONE multi-path fold staged with a",
            "partitioned write + per-grain rename/verify/commit. Mutants",
            "over the moved seams: the per-grain folded-dir list in the",
            "commit marker, the ingest-id union across the fold, the",
            "multi-path scan's batch coverage, and the per-grain batch",
            "numbering.",
            "",
            f"**Batch-35 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-35 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch34:
        marker = "\n## Batch 34 \u2014 one-job grained ingest seams\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "The grained ingest was rewritten late in round 16 from one",
            "filtered write per grain to ONE partitioned write staged into",
            "a hidden dir + per-grain rename/verify/commit. These mutants",
            "re-cover the seams at their new locations (batch 32's RS322",
            "text no longer exists): the pre-write per-grain replay",
            "filter, the stale-stage sweep, the hex partition-name",
            "agreement between writer and lookup, and the NULL-grain gate.",
            "",
            f"**Batch-34 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-34 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch33:
        marker = "\n## Batch 33 — grained-store re-grain seams\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants over `RollupStore.regrainInto` (the",
            "grained-store re-grain landed after batch 32): the new-grain",
            "key rewrite, the ingest id that makes a crashed rewrite",
            "resume exactly-once per grain, and the combine fold itself",
            "(first() instead of the combine twin keeps one arbitrary",
            "partial per coarse key).",
            "",
            f"**Batch-33 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-33 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch32:
        marker = "\n## Batch 32 — round-16 store seams\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants at the round-16 seams: the ingest-id replay",
            "guard on both the flat and the per-grain append path, the id",
            "record in the commit protocol and its read side, the grained",
            "store's range-compaction / pruned-read / dropGrains",
            "predicates (the drop cutoff is a boundary mutant), the",
            "regrain key rewrite, the cross-grain schema gate, and the",
            "stale-lease claim's content verification.",
            "",
            f"**Batch-32 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-32 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch10:
        marker = "\n## Batch 10 — round-8 seams\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants at the round-8 seams: bucketed token-budget",
            "prefix arithmetic and the strict budget boundary (killer test",
            "written before the run — the boundary is invisible without a",
            "cum==budget fixture), int8 quantize rounding, lshSelfJoin's",
            "per-table seed offset, executeWithConsumed's boundary tracking",
            "in all three executor tiers, streaming next-node's",
            "no-pre-filter contract, and the match-events latch state.",
            "",
            f"**Batch-10 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-10 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch9:
        marker = "\n## Batch 9 — streaming sequence_count consumed-prefix logic\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants at the consumed-prefix machinery that keeps",
            "streaming sequence_count state bounded and counts final: the",
            "binary-search boundary (>= total), the prefix drop itself,",
            "and count accumulation. Suites: both streaming sequence",
            "specs.",
            "",
            f"**Batch-9 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-9 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch8:
        marker = "\n## Batch 8 — streaming sequence_match + argmin_cell\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants in streaming sequence_match (latch buffer",
            "drop, horizon-prune boundary, condition-bearing filter) and",
            "the argmin_cell kernel — tie rule mutated SEPARATELY in the",
            "eval and codegen paths so neither can drift alone, plus the",
            "distance arithmetic. The boundary and per-path tie killer",
            "tests were written before the run.",
            "",
            f"**Batch-8 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-8 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch7:
        marker = "\n## Batch 7 — round-6 operators\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants in the round-6 operators: semantic dedup",
            "(cell key, pair orientation, min-neighbor), int8 quantization",
            "(rounding, scale denominator), boilerplate stats (df boundary,",
            "short-doc left join), the multimodal stubs (frame stride",
            "origin, resize pixel mapping), and streaming retention (anchor",
            "gate, mask OR). The SD73/MM72 killer tests were written BEFORE",
            "the run: a cell-key drop is invisible on cluster-separated",
            "fixtures and ResizeSpec only pinned shape/determinism.",
            "",
            f"**Batch-7 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-7 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch6:
        marker = "\n## Batch 6 — jaccard candidate-stage bounds + ScoreTopK round-trip\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants at the AllPairs index-prefix bound — its",
            "classic weakening (2t/(1+t) -> t/(1+t)) is EXACTNESS-PRESERVING,",
            "so only the exposed candidate stage can kill it — the canonical",
            "tie-break, and ScoreTopK's serialize/deserialize path (entry",
            "loss, k collapse, NaN guard, merge k-adoption). Suites: the",
            "candidate-stage + round-trip specs, batch top-k, prefix heap,",
            "Round-5 boundary, and ops exactness.",
            "",
            f"**Batch-6 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-6 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch5:
        marker = "\n## Batch 5 — streaming operators\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants in the stateful streaming operators: the",
            "simhash-dedup hamming boundary, within-batch suppression order,",
            "state-GC horizon boundaries (simhash fingerprints + funnel",
            "events), and the funnel's monotone-best guard. Suites: all",
            "streaming specs incl. both streaming-vs-batch differentials.",
            "",
            f"**Batch-5 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-5 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch4:
        marker = "\n## Batch 4 — per-row sketch kernels + round-5 curation ops\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants in the per-row MinHash/SimHash kernels (min",
            "direction, seed family, vote tie, distinctness, nibble order),",
            "the decontamination join/count, token-window chunking bounds,",
            "and the AllPairs index-prefix length. Suites: the sketch",
            "differential spec + decontam/chunk specs + dedup exactness.",
            "",
            f"**Batch-4 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-4 kill rate {rate:.1f}% -> MUTATION.md")
        return
    if batch3:
        # merge: keep the batch-1/2 report, replace any prior batch-3 section
        marker = "\n## Batch 3 — dedup / similarity / text kernels\n"
        existing = Path("MUTATION.md").read_text()
        head = existing.split(marker)[0].rstrip() + "\n"
        lines = [
            head,
            marker.strip(),
            "",
            "Semantic mutants at the exact-filter boundaries of the jaccard",
            "join (prefix length, length filter, positional filter alpha,",
            "verification threshold), the simhash hamming cut, the leakage",
            "split bucket, and the native text kernels. Suites:",
            "dedup/boundary/exactness + the Round-5 specs.",
            "",
            f"**Batch-3 kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
            "",
            "| id | file | mutant | verdict |",
            "|---|---|---|---|",
        ]
        for mid, fname, desc, verdict in results:
            lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
        lines.append("")
        Path("MUTATION.md").write_text("\n".join(lines))
        print(f"\nbatch-3 kill rate {rate:.1f}% -> MUTATION.md")
        return
    lines = [
        "# MUTATION — hand-rolled mutation run over the behavioral core",
        "",
        "Stryker4s cannot resolve in this offline environment, so this is a",
        "manual mutation run: `tools/mutation.py` applies each mutant below,",
        "runs the focused behavioral suites (pattern parser/executor, golden,",
        "property, differential, boundary, reference-surface), and restores.",
        "A mutant SURVIVING means no test distinguishes it — a coverage gap.",
        "",
        f"**Kill rate: {len(killed)}/{len(valid)} = {rate:.1f}%**",
        "(reference reports 88.4% with cargo-mutants on its Rust core)",
        "",
        "| id | file | mutant | verdict |",
        "|---|---|---|---|",
    ]
    for mid, fname, desc, verdict in results:
        lines.append(f"| {mid} | {Path(fname).name} | {desc} | {verdict} |")
    lines.append("")
    Path("MUTATION.md").write_text("\n".join(lines))
    print(f"\nkill rate {rate:.1f}% -> MUTATION.md")


if __name__ == "__main__":
    sys.exit(main())
