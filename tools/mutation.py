#!/usr/bin/env python3
"""Hand-rolled mutation run over the behavioral state machines.

Offline substitute for Stryker4s (no dependency resolution in this
environment): applies one semantic mutant at a time to pattern/ +
FunnelScan, runs the focused behavioral suites, and records whether the
net kills it. Mutants are classic mutation-operator instances (boundary
flips, off-by-ones, guard deletions, arithmetic/op swaps, order swaps)
chosen at the semantics-bearing sites the reference's own mutation run
targets (reference README reports 88.4% kill rate).

Usage (from the root of a scratch copy of the repo; restores each file):
  python3 tools/mutation.py BATCH [ID...]  run a batch, or only the named
      mutants, and update their rows and the batch's kill rate in
      MUTATION.md (other sections are left as they are)
  python3 tools/mutation.py check          list every mutant whose text
      does not occur exactly once in its file (runs no sbt; exit 1 if any)
"""
import json
import signal
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
     "  // codegen'd input projection \u2014 see WindowFunnelAgg.inputProj\n"
     "  @transient private lazy val inputProj =\n"
     "    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(children.toIndexedSeq)\n\n"
     "  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {\n"
     "    buf(0) |= RetentionBits.maskOf(inputProj(input), children.size)",
     "  // codegen'd input projection \u2014 see WindowFunnelAgg.inputProj\n"
     "  @transient private lazy val inputProj =\n"
     "    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(children.toIndexedSeq)\n\n"
     "  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {\n"
     "    buf(0) = RetentionBits.maskOf(inputProj(input), children.size)"),
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
    ("SM4", STREAM, "horizon prune drops the at-horizon event (< -> <=; every buffered operator)",
     "    while (i < n && ts(i) < horizonUs) i += 1",
     "    while (i < n && ts(i) <= horizonUs) i += 1"),
    ("SM5", STREAM, "funnel monotone-best dropped (pruning can regress steps)",
     "val steps = math.max(prior.fold(0)(_.best),\n            FunnelScan.maxStep(kept, windowMicros, mode, numConds))",
     "val steps =\n            FunnelScan.maxStep(kept, windowMicros, mode, numConds)"),
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


# batch 8: streaming sequence_match (latch buffer drop, condition-bearing
# filter; its horizon prune is batch 5's SM4) + the argmin_cell kernel (tie rule in
# BOTH the eval and codegen paths, distance arithmetic). The boundary and
# per-path tie killer tests were written before this run. Run with
# `python3 tools/mutation.py 8`.
SUITES8 = [
    "graft.StreamingSeqMatchSpec", "graft.ArgminCellSpec",
    "graft.SimilaritySpec", "graft.IvfPartialProbeRecallSpec",
]

MUTANTS8 = [
    ("SQ81", STREAM, "match latch keeps the event buffer (state no longer O(1))",
     '''            (SeqMatchState(Array.emptyLongArray, Array.emptyIntArray, maxTsUs, matched = true),
              SeqMatchUpdate(userId, matched = true, 0))''',
     '''            (SeqMatchState(Arrays.copyOf(kept.ts, kept.n), Arrays.copyOf(kept.conds, kept.n),
              maxTsUs, matched = true), SeqMatchUpdate(userId, matched = true, kept.n))'''),
    ("SQ83", STREAM, "zero-mask events enter the buffer (breaks adjacency semantics)",
     "if (!latched && e.conds != 0) buf.append(us, e.conds)",
     "if (!latched) buf.append(us, e.conds)"),
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


# batch 9: streaming sequence_count's consumed-prefix logic — the prefix
# drop after executeWithConsumed (one short, never dropped) and count
# accumulation.
# Run with `python3 tools/mutation.py 9`.
SUITES9 = ["graft.StreamingSeqCountSpec", "graft.StreamingSeqMatchSpec"]

MUTANTS9 = [
    ("SC91", STREAM, "consumed-prefix drop keeps the last consumed event (re-counted next batch)",
     "val restTs = Arrays.copyOfRange(kept.ts, consumed, kept.n)\n"
     "          val restConds = Arrays.copyOfRange(kept.conds, consumed, kept.n)",
     "val restTs = Arrays.copyOfRange(kept.ts, math.max(consumed - 1, 0), kept.n)\n"
     "          val restConds = Arrays.copyOfRange(kept.conds, math.max(consumed - 1, 0), kept.n)"),
    ("SC92", STREAM, "consumed prefix never dropped (double counting across batches)",
     "val restTs = Arrays.copyOfRange(kept.ts, consumed, kept.n)\n"
     "          val restConds = Arrays.copyOfRange(kept.conds, consumed, kept.n)",
     "val restTs = Arrays.copyOfRange(kept.ts, 0, kept.n)\n"
     "          val restConds = Arrays.copyOfRange(kept.conds, 0, kept.n)"),
    ("SC93", STREAM, "count overwrites instead of accumulating",
     "val count = prior.fold(0L)(_.count) + newMatches",
     "val count = newMatches"),
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
    ("LS101", SIM, "lshSelfJoin per-table seed offset dropped (identical tables)",
     "lshBucket(col(\"v\"), dim, nPlanes, seed = 1000L + t))",
     "lshBucket(col(\"v\"), dim, nPlanes, seed = 1000L))"),
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
     "buf.append(us, f, buf.intern(utf8(e.value)))",
     "if (f != 0L) buf.append(us, f, buf.intern(utf8(e.value)))"),
    ("SM101", STREAM, "match-events latch state drops the captured timestamps",
     "matched = true, got), SeqMatchEventsUpdate(userId, matched = true, got, 0))",
     "matched = true, Array.emptyLongArray), SeqMatchEventsUpdate(userId, matched = true, got, 0))"),
]


# batch 32: round-16 store seams — the ingest-id replay guard (flat and
# per-grain), id carry-forward through compaction, the grained range /
# pruned-read / drop predicates, the regrain key rewrite, the cross-grain
# schema gate, and the stale-claim content verification. Run with
# `python3 tools/mutation.py 32`.
ROLLUP = "src/main/scala/graft/ops/RollupStore.scala"
GENB = "src/main/scala/graft/ops/GenerationalBatches.scala"
SINKS = "src/main/scala/graft/sources/Sinks.scala"
BENCH = "src/main/scala/graft/Bench.scala"
SUITES32 = [
    "graft.RollupStoreSpec", "graft.GrainedRollupStoreSpec",
    "graft.RegrainSpec", "graft.StreamingRollupIngestSpec",
    "graft.LeaseSpec", "graft.PlanSpec",
]

MUTANTS32 = [
    ("RS322", ROLLUP, "per-grain replay guard dropped (a replayed grained ingest re-commits every grain)",
     '''      val pending = recovered.collect { case (g, _, live)
          if !ingestId.exists(
            GenerationalBatches.seenIngestIds(fs, live).contains) =>
        (g, live) }''',
     '''      val pending = recovered.collect { case (g, _, live) =>
        (g, live) }'''),
    ("GB321", GENB, "commit never records ingest ids (guard forgets everything)",
     "    if (ids.nonEmpty) {",
     "    if (false) {"),
    ("GB322", GENB, "seenIngestIds reads no batch (guard's read side blind; ids not carried through folds)",
     """  def seenIngestIds(fs: FileSystem, live: Seq[(Long, Path)]): Set[String] =
    live.iterator.flatMap { case (_, p) => ingestIds(fs, p) }.toSet""",
     """  def seenIngestIds(fs: FileSystem, live: Seq[(Long, Path)]): Set[String] =
    live.iterator.take(0).flatMap { case (_, p) => ingestIds(fs, p) }.toSet"""),
    ("RS323", ROLLUP, "range compaction ignores its grain predicate (folds every grain)",
     '''    val targets = listGrainDirs(fs, base)
      .filter { case (v, _) => grains(v) }.sortBy(_._1)
    onStep("selected")''',
     '''    val targets = listGrainDirs(fs, base)
      .sortBy(_._1)
    onStep("selected")'''),
    ("RS324", ROLLUP, "readGrains ignores its grain predicate (no listing-time pruning)",
     '''    val selected = listGrainDirs(fs, base)
      .filter { case (v, _) => grains(v) }.sortBy(_._1)''',
     '''    val selected = listGrainDirs(fs, base)
      .sortBy(_._1)'''),
    ("DG321", ROLLUP, "dropGrains boundary < -> <= (retires the cutoff grain too)",
     "    dropGrainsWhere(spark, baseDir, _ < olderThan, leaseStaleMs)",
     "    dropGrainsWhere(spark, baseDir, _ <= olderThan, leaseStaleMs)"),
    ("RG321", ROLLUP, "regrain keeps the old grain key (never applies the new grain expression)",
     """    val groupCols = flatKeys(keyCols, stateCol).map(kc =>
      if (kc == grainCol) newGrain.as(newGrainCol) else col(kc))""",
     """    val groupCols = flatKeys(keyCols, stateCol).map(kc => col(kc))"""),
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
     '''      GenerationalBatches.publish(fs, gdir, live, live,
        GenerationalBatches.seenIngestIds(fs, live), cleanupDelayMs,
        onStep, GenerationalBatches.writeManifest(fs, gdir))(
        renameIn(fs, staged(g)))''',
     '''      GenerationalBatches.publish(fs, gdir, live, Nil,
        GenerationalBatches.seenIngestIds(fs, live), cleanupDelayMs,
        onStep, GenerationalBatches.writeManifest(fs, gdir))(
        renameIn(fs, staged(g)))'''),
    ("RC352", ROLLUP, "grained compaction drops the folded batches' ingest ids (replay guard forgets after a fold)",
     '''      GenerationalBatches.publish(fs, gdir, live, live,
        GenerationalBatches.seenIngestIds(fs, live), cleanupDelayMs,
        onStep, GenerationalBatches.writeManifest(fs, gdir))(
        renameIn(fs, staged(g)))''',
     '''      GenerationalBatches.publish(fs, gdir, live, live,
        Set.empty, cleanupDelayMs,
        onStep, GenerationalBatches.writeManifest(fs, gdir))(
        renameIn(fs, staged(g)))'''),
    ("RC353", ROLLUP, "grained fold reads only each grain's first batch (later ingests vanish from the fold)",
     """    val allPaths = perGrain.flatMap { case (_, _, committed) =>
      committed.map { case (_, p) => new Path(p, "states").toString } }""",
     """    val allPaths = perGrain.flatMap { case (_, _, committed) =>
      committed.take(1).map { case (_, p) => new Path(p, "states").toString } }"""),
    ("RC354", GENB, "batch numbering reuses the last live number instead of the next (every generational op)",
     "    val k = live.map(_._1).maxOption.fold(0L)(_ + 1)",
     "    val k = live.map(_._1).maxOption.getOrElse(0L)"),
]

MUTANTS34 = [
    ("RS342", ROLLUP, "stale stage-dir sweep dropped (crashed ingests accrete hidden dirs forever)",
     '''      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix)
        && !exclude.contains(st.getPath.getName))''',
     '''      .filter(st => false
        && !exclude.contains(st.getPath.getName))'''),
    ("RS343", ROLLUP, "staged inventory skips the hex decoding (grains land under their hex names)",
     '''      .map(st => unhexOf(st.getPath.getName.drop(StageHexCol.length + 1))''',
     '''      .map(st => st.getPath.getName.drop(StageHexCol.length + 1)'''),
    ("RS344", ROLLUP, "NULL-grain gate dropped (placeholder rows land in a null partition)",
     '''    refuse(nullGrains == 0,''',
     '''    refuse(nullGrains >= 0,'''),
]

MUTANTS33 = [
    ("RI331", ROLLUP, "regrainInto keeps the old grain key (never applies the new grain)",
     """    val foldKeys = keyCols.map(kc =>
      if (kc == grainCol) newGrain.as(newGrainCol) else col(kc))""",
     """    val foldKeys = keyCols.map(kc => col(kc))"""),
    ("RI332", ROLLUP, "regrainInto drops its ingest id (a crashed rewrite double-appends on resume)",
     '''      newGrainCol, stateCol, Some(id), onStep, leaseStaleMs,''',
     '''      newGrainCol, stateCol, None, onStep, leaseStaleMs,'''),
    ("RI333", ROLLUP, "regrainInto keeps one partial per coarse key instead of combining",
     '''    val folded = src
      .groupBy(foldKeys: _*)
      .agg(combine(col(stateCol)).as(stateCol))''',
     '''    val folded = src
      .groupBy(foldKeys: _*)
      .agg(first(col(stateCol)).as(stateCol))'''),
]

# batch 36 — round-17 seams (lease striping, manifests, grace window). Run with
# `python3 tools/mutation.py 36`.
SUITES36 = [
    "graft.ConcurrentGrainMaintenanceSpec", "graft.StoreManifestSpec",
    "graft.GrainedRollupStoreSpec",
]

MUTANTS36 = [
    ("ST361", SINKS, "withLeases: failed acquisition keeps earlier stripes (rollback dropped)",
     "      held.reverseIterator.foreach { case (p, t) =>\n"
     "        try releaseLease(fs, p, t)",
     "      if (held.size == leases.size) held.reverseIterator.foreach { case (p, t) =>\n"
     "        try releaseLease(fs, p, t)"),
    ("ST362", SINKS, "withLeases releases dropped entirely (held cleared before the release loop)",
     "      held.reverseIterator.foreach { case (p, t) =>\n"
     "        try releaseLease(fs, p, t)\n"
     "        catch",
     "      held.clear(); held.reverseIterator.foreach { case (p, t) =>\n"
     "        try releaseLease(fs, p, t)\n"
     "        catch"),
    ("ST363", ROLLUP, "grainLeasePath ignores the grain value (all grains share one stripe)",
     "    new Path(base, s\"$StripePrefix${hexOf(grain)}\")",
     "    new Path(base, s\"$StripePrefix\" + \"X\")"),
    ("SW361", ROLLUP, "stage sweep ignores foreign stripes (deletes a concurrent op's live stage)",
     "      .filter(st => !foreignStripe ||\n"
     "        now - st.getModificationTime > staleMs)",
     "      .filter(st => true ||\n"
     "        now - st.getModificationTime > staleMs)"),
    ("MF361", ROLLUP, "readGrains distrusts the manifest (always falls back to listing)",
     "    GenerationalBatches.readManifest(fs, gdir) match {\n"
     "      case Some((_, _, relFiles)) if relFiles.nonEmpty =>\n"
     "        Left(relFiles.map(rel => new Path(gdir, rel)))",
     "    GenerationalBatches.readManifest(fs, gdir) match {\n"
     "      case Some((_, _, relFiles)) if false && relFiles.nonEmpty =>\n"
     "        Left(relFiles.map(rel => new Path(gdir, rel)))"),
    ("MF362", GENB, "writeManifest records COMMITTED batches (folded dirs leak into the manifest)",
     "  def writeManifest(fs: FileSystem, base: Path): Unit = {\n"
     "    val live = liveBatches(fs, base).sortBy(_._1)",
     "  def writeManifest(fs: FileSystem, base: Path): Unit = {\n"
     "    val live = committedBatches(fs, base).sortBy(_._1)"),
    ("GR361", GENB, "cleanup horizon flipped (folded dirs deleted INSIDE the grace window)",
     "      if (now - deadAt(p.getName) >= cleanupDelayMs) fs.delete(p, true) }",
     "      if (now - deadAt(p.getName) < cleanupDelayMs) fs.delete(p, true) }"),
    ("RI361", ROLLUP, "regrainInto default id no longer derived from the source (constant again)",
     "    val id = ingestId.getOrElse(\n"
     "      s\"regrain-into:${fsOf(spark, srcDir).makeQualified(new Path(srcDir))}\")",
     "    val id = ingestId.getOrElse(\"regrain-into\")"),
    ("EG361", ROLLUP, "escapeGrain advances one CHAR per code point (surrogate pairs mangled)",
     "      else v.substring(i, i + n).getBytes(\"UTF-8\")\n"
     "        .foreach(b => sb.append(f\"%%${b & 0xff}%02X\"))\n"
     "      i += n",
     "      else v.substring(i, i + n).getBytes(\"UTF-8\")\n"
     "        .foreach(b => sb.append(f\"%%${b & 0xff}%02X\"))\n"
     "      i += 1"),
]

# batch 37 — round-18 seams (genesis, flat manifests, heal timing, clock skew). Run with
# `python3 tools/mutation.py 37`.
SUITES37 = [
    "graft.StoreGenesisSpec", "graft.StoreManifestSpec",
    "graft.CountingFsSpec", "graft.StoreSnapshotInterleaveSpec",
    "graft.LeaseReleaseFailureSpec", "graft.GrainedRollupStoreSpec",
]

MUTANTS37 = [
    ("GN371", ROLLUP, "genesis verify dropped (any family passes against any genesis)",
     "      require(genesis == incoming,",
     "      require(true || genesis == incoming,"),
    ("GN372", ROLLUP, "lazy upgrade stamps the INCOMING family instead of the store's",
     "                  writeGenesis(fs, base, derived)\n"
     "                  verify(derived)",
     "                  writeGenesis(fs, base, incoming)\n"
     "                  verify(incoming)"),
    ("HM371", ROLLUP, "healManifestIfStale never rewrites (stale manifests heal only after the op's job)",
     "      case Some((bNames, _, _))\n"
     "          if bNames.toSet != live.map(_._2.getName).toSet =>",
     "      case Some((bNames, _, _))\n"
     "          if false && bNames.toSet != live.map(_._2.getName).toSet =>"),
    ("FM372", ROLLUP, "flat append skips the manifest rewrite (manifest goes stale on every ingest)",
     "        GenerationalBatches.publish(fs, gdir, live, Nil, ingestId.toSet, 0L,\n"
     "          onStep, GenerationalBatches.writeManifest(fs, gdir))(",
     "        GenerationalBatches.publish(fs, gdir, live, Nil, ingestId.toSet, 0L,\n"
     "          onStep, ())("),
    ("TS371", GENB, "commit writes no #ts writer-clock line (horizon trusts the FS clock alone)",
     "      else folded.mkString(\"\\n\") + s\"\\n#ts=${System.currentTimeMillis()}\")",
     "      else folded.mkString(\"\\n\"))"),
    ("TS372", GENB, "grace horizon ignores the embedded writer clock (modtime only)",
     "        val t = math.max(fs.getFileStatus(marker).getModificationTime,\n"
     "          writerTs.getOrElse(Long.MinValue))",
     "        val t = fs.getFileStatus(marker).getModificationTime"),
    ("RL371", SINKS, "withLeases release reverts to fail-stop (one failed release abandons the rest)",
     "        try releaseLease(fs, p, t)\n"
     "        catch { case e: Throwable =>",
     "        try releaseLease(fs, p, t)\n"
     "        catch { case e: Throwable if false =>"),
    ("RQ371", ROLLUP, "regrainInto default id uses the raw source spelling again",
     "    val id = ingestId.getOrElse(\n"
     "      s\"regrain-into:${fsOf(spark, srcDir).makeQualified(new Path(srcDir))}\")",
     "    val id = ingestId.getOrElse(s\"regrain-into:${new Path(srcDir)}\")"),
]

# batch 38 — the sweepExpired janitor. Run with
# `python3 tools/mutation.py 38`.
SUITES38 = [
    "graft.StoreManifestSpec",
]

MUTANTS38 = [
    ("SE381", ROLLUP, "sweepExpired skips the manifest heal (readers strand on files the sweep deleted)",
     "          val live = GenerationalBatches.recover(fs, gdir, cleanupDelayMs)\n"
     "          healManifestIfStale(fs, gdir, live)",
     "          val live = GenerationalBatches.recover(fs, gdir, cleanupDelayMs)"),
    ("SE382", ROLLUP, "sweepExpired ignores the horizon (deletes folded dirs inside the grace window)",
     "          val before = GenerationalBatches.batchDirs(fs, gdir).size\n"
     "          val live = GenerationalBatches.recover(fs, gdir, cleanupDelayMs)",
     "          val before = GenerationalBatches.batchDirs(fs, gdir).size\n"
     "          val live = GenerationalBatches.recover(fs, gdir, 0L)"),
]

# batch 39 — round-18 self-review fixes. Run with
# `python3 tools/mutation.py 39`.
SUITES39 = [
    "graft.StoreManifestSpec", "graft.CountingFsSpec",
    "graft.ConcurrentGrainMaintenanceSpec",
    "graft.LeaseReleaseFailureSpec",
]

MUTANTS39 = [
    ("MT391", GENB, "readManifest trusts a terminator-less (torn) manifest",
     "      if (!complete) None",
     "      if (false) None"),
    ("MT392", GENB, "writeManifest writes no completeness terminator (every manifest reads as torn)",
     "    sb.append(\"e \").append(n).append('\\n')",
     "    ()"),
    ("SJ391", ROLLUP, "sweepExpired aborts on a held stripe instead of skipping the grain",
     "        case e: IllegalStateException\n"
     "            if Option(e.getMessage).exists(_.contains(\"lease\")) => 0",
     "        case e: IllegalStateException\n"
     "            if Option(e.getMessage).exists(_.contains(\"lease\")) => throw e"),
    ("SS391", ROLLUP, "sweepStageDirs counts a STALE foreign stripe as live (garbage deferred forever)",
     "      !held.contains(st.getPath.getName) &&\n"
     "      now - st.getModificationTime <= staleMs)",
     "      !held.contains(st.getPath.getName))"),
    ("NL391", SINKS, "withLeases suppresses release errors onto a non-local return's ControlThrowable (no-op: error vanishes)",
     "      val suppressible = primary != null &&\n"
     "        !primary.isInstanceOf[scala.util.control.ControlThrowable]",
     "      val suppressible = primary != null"),
]

# batch 40 — auto-sized folds and parallel manifest resolution. Run with
# `python3 tools/mutation.py 40`.
SUITES40 = [
    "graft.FoldSizingSpec", "graft.GrainedRollupStoreSpec",
]

MUTANTS40 = [
    ("AP401", SINKS, "autoFoldPartitions ignores input bytes (always one partition)",
     "    val want = (totalBytes + bytesPerPartition - 1) / bytesPerPartition",
     "    val want = BigInt(1)"),
    ("AP402", SINKS, "upper clamp dropped (a PB fold asks for millions of partitions)",
     "    want.max(1).min(4096).toInt",
     "    want.max(1).toInt"),
    ("AP403", ROLLUP, "auto dispatch reverts to the fixed default (0 behaves like 32)",
     "    else graft.sources.Sinks.autoFoldPartitions(\n"
     "      scan.queryExecution.optimizedPlan.stats.sizeInBytes,\n"
     "      spark.sessionState.conf.filesMaxPartitionBytes)",
     "    else 32"),
    ("FP401", ROLLUP, "auto sizing hardcodes 128 MiB instead of the session's maxPartitionBytes knob",
     "      spark.sessionState.conf.filesMaxPartitionBytes)",
     "      134217728L)"),
    ("PR401", SINKS, "parallel resolver submits only the first grain (wide reads lose grains)",
     "      val futures = xs.map { x =>",
     "      val futures = xs.take(1).map { x =>"),
]

# batch 41 — round-18 review fixes (second pass). Run with
# `python3 tools/mutation.py 41`.
SUITES41 = [
    "graft.StoreHygieneSpec",
]

MUTANTS41 = [
    ("GN411", ROLLUP, "readGenesis trusts a terminator-less (torn) genesis — a tear bricks ingest",
     "      if (lines.size < 2 || lines.last != s\"e ${lines.size - 1}\") None",
     "      if (false) None"),
    ("GN412", ROLLUP, "writeGenesis writes no completeness terminator",
     "    graft.sources.Sinks.publishFile(fs, new Path(base, GenesisFile),\n"
     "      terminatedGenesis(fp))",
     "    graft.sources.Sinks.publishFile(fs, new Path(base, GenesisFile),\n"
     "      fp)"),
    ("HM411", ROLLUP, "heal skips ABSENT manifests again (only committing ops restore them)",
     "      case None if live.nonEmpty =>\n"
     "        GenerationalBatches.writeManifest(fs, dir)",
     "      case None if false =>\n"
     "        GenerationalBatches.writeManifest(fs, dir)"),
    ("RG411", ROLLUP, "sweepExpired skips the root-garbage sweep (stage dirs / tombstones / orphan stripes leak)",
     "    StageDirPrefixes.foreach(p =>\n"
     "      sweepStageDirs(fs, base, p, Set.empty, leaseStaleMs))\n"
     "    collectOrphanStripes(fs, base, leaseStaleMs)",
     "    ()"),
    ("OS411", ROLLUP, "orphan-stripe collector deletes unconditionally (a live first ingest's fresh stripe vanishes)",
     "        try {\n"
     "          val t = graft.sources.Sinks.acquireLease(fs, st.getPath, staleMs)\n"
     "          graft.sources.Sinks.releaseLease(fs, st.getPath, t)\n"
     "        } catch { case _: IllegalStateException => () }",
     "        fs.delete(st.getPath, false)"),
]

# batch 42 — RollupStore.stats observability view. Run with
# `python3 tools/mutation.py 42`.
SUITES42 = [
    "graft.StoreHygieneSpec",
]

MUTANTS42 = [
    ("ST421", ROLLUP, "stats never sees folded dirs (dead_dirs/dead_bytes always 0)",
     "      val deadNames = GenerationalBatches.foldedDirs(fs, committed)\n"
     "      val (dead, live) = committed.partition { case (_, p) =>\n"
     "        deadNames.contains(p.getName) }",
     "      val deadNames = Set.empty[String]\n"
     "      val (dead, live) = committed.partition { case (_, p) =>\n"
     "        deadNames.contains(p.getName) }"),
    ("ST422", ROLLUP, "stats reports every manifest as ok (stale/absent invisible)",
     "      val manifest = GenerationalBatches.readManifest(fs, dir) match {\n"
     "        case None => if (committed.isEmpty) \"none\" else \"absent\"\n"
     "        case Some((b, _, _)) =>\n"
     "          if (b.toSet == live.map(_._2.getName).toSet) \"ok\" else \"stale\"\n"
     "      }",
     "      val manifest = \"ok\""),
]

# batch 43 — round-19 hygiene seams. Run with
# `python3 tools/mutation.py 43`.
SUITES43 = [
    "graft.StoreGenesisSpec", "graft.StoreHygieneSpec",
]

MUTANTS43 = [
    ("GE431", ROLLUP, "empty-store torn-genesis guard removed: a foreign family silently re-stamps the store",
     "                  readRawGenesis(fs, base).foreach { raw =>\n"
     "                    require(terminatedGenesis(incoming).startsWith(raw),",
     "                  readRawGenesis(fs, base).foreach { raw =>\n"
     "                    require(true || terminatedGenesis(incoming).startsWith(raw),"),
    ("GE432", ROLLUP, "prefix check reversed (raw.startsWith(terminated)): a crash-retried SAME-family first ingest bricks",
     "                    require(terminatedGenesis(incoming).startsWith(raw),",
     "                    require(raw.startsWith(terminatedGenesis(incoming)),"),
    ("RT431", ROLLUP, "stats root row counts no bytes: crashed stage dirs invisible to the cadence decision",
     "      val bytes = stage.map { st =>\n"
     "        try fs.getContentSummary(st.getPath).getLength\n"
     "        catch { case _: java.io.IOException => 0L }\n"
     "      }.sum",
     "      val bytes = 0L"),
    ("RT432", ROLLUP, "stats omits the `<root>` row entirely",
     "    graft.sources.Sinks.inParallel(grains) { case (g, gdir) =>\n"
     "      one(g, gdir) } :+ rootRow",
     "    graft.sources.Sinks.inParallel(grains) { case (g, gdir) =>\n"
     "      one(g, gdir) }"),
    ("SW431", ROLLUP, "sweepIfWorthIt ignores the threshold (always sweeps — the skip path is the whole point)",
     "    if (reclaimable < minDeadBytes) 0\n"
     "    else sweepExpired(spark, baseDir, cleanupDelayMs, grains, leaseStaleMs)",
     "    if (reclaimable < 0) 0\n"
     "    else sweepExpired(spark, baseDir, cleanupDelayMs, grains, leaseStaleMs)"),
    ("SW432", ROLLUP, "sweepIfWorthIt never sweeps (threshold comparison inverted)",
     "    if (reclaimable < minDeadBytes) 0\n"
     "    else sweepExpired(spark, baseDir, cleanupDelayMs, grains, leaseStaleMs)",
     "    if (reclaimable >= minDeadBytes) 0\n"
     "    else sweepExpired(spark, baseDir, cleanupDelayMs, grains, leaseStaleMs)"),
]

# batch 44 — bench artifact-pipeline logic. Run with
# `python3 tools/mutation.py 44`.
SUITES44 = [
    "graft.BenchRecordSpec",
]

MUTANTS44 = [
    ("BP441", BENCH, "parseQueriesAndFloor reads the FIRST queries block (a clipped tail's half-eaten detail line wins)",
     "        .findAllMatchIn(blocks.last.group(1))",
     "        .findAllMatchIn(blocks.head.group(1))"),
    ("BP442", BENCH, "short() stops truncating — detail (full-name) and tail (short-name) records stop interoperating",
     "  private[graft] def short(n: String): String = n.takeWhile(_ != '_')",
     "  private[graft] def short(n: String): String = n"),
    ("BP443", BENCH, "sfMatches name check always true — a different-scale record becomes the baseline",
     "    val byName =\n"
     "      new java.io.File(recorded).getName == mine || (\"sf\" + recorded) == mine",
     "    val byName =\n"
     "      new java.io.File(recorded).getName == mine || (\"sf\" + recorded) == mine || true"),
    ("BP444", BENCH, "floorRelOf never cancels the host term (always the absolute ratio)",
     "    if (!floorNow.isNaN && floorNow > 0 && !prevFloor.isNaN && prevFloor > 0)\n"
     "      (sec / floorNow) / (prev / prevFloor)\n"
     "    else sec / prev",
     "    sec / prev"),
    ("BP445", BENCH, "floorRelOf noise-floor guard dropped — a 0.05s prev adjudicates",
     "    if (prev.isNaN || prev <= 0.05 || sec <= 0) return Double.NaN",
     "    if (prev.isNaN || prev <= 0 || sec <= 0) return Double.NaN"),
]

# batch 45 — round-20 measurement hardening. Run with
# `python3 tools/mutation.py 45`.
SUITES45 = [
    "graft.BenchRecordSpec", "graft.StoreHygieneSpec",
]

MUTANTS45 = [
    ("CB451", BENCH, "compositeBaseline keeps the WORST anchor-ratio — the contended capture becomes the baseline",
     "        if (anchored.nonEmpty) anchored.minBy(ratio)",
     "        if (anchored.nonEmpty) anchored.maxBy(ratio)"),
    ("CB452", BENCH, "anchor-less fallback keeps max seconds instead of min",
     "        else if (cands.nonEmpty) cands.minBy(_._1)",
     "        else if (cands.nonEmpty) cands.maxBy(_._1)"),
    ("CB453", BENCH, "poisoned (-1 error marker) entries admitted as baseline candidates",
     "      val cands = es.map(_._2).filter(_._1 > 0)",
     "      val cands = es.map(_._2)"),
    ("AN451", BENCH, "anchorOf ignores the family set — every query tracks floor2",
     "    if (Floor2Queries(short(name)) && !floor2.isNaN && floor2 > 0) floor2",
     "    if (!floor2.isNaN && floor2 > 0) floor2"),
    ("AN452", BENCH, "anchorOf stops degrading — a pre-round-20 record (no floor2) poisons the family's anchor with NaN",
     "    if (Floor2Queries(short(name)) && !floor2.isNaN && floor2 > 0) floor2",
     "    if (Floor2Queries(short(name))) floor2"),
    ("PF451", BENCH, "floor2_sec never parsed — every baseline record loses its parallel anchor",
     "    BenchRec(qs, lastNum(\"floor_sec\"), lastNum(\"floor2_sec\"), fsMode)",
     "    BenchRec(qs, lastNum(\"floor_sec\"), Double.NaN, fsMode)"),
    ("FC451", BENCH, "fitCompact stops degrading — always the first (possibly oversized) rung",
     "    steps.view.map(_.apply()).find(_.length <= budget).getOrElse {",
     "    steps.view.map(_.apply()).headOption.getOrElse {"),
    ("SM451", BENCH, "sfMatches full-path guard dropped — a same-basename fixture from another directory becomes the baseline",
     "    if (byName && recorded.contains('/') && sfDir.contains('/')) {",
     "    if (false) {"),
    ("CA451", BENCH, "coherentAnchors mixes kinds — this run's floor2 ratios against a pre-round-20 baseline's floor1",
     "    if (Floor2Queries(short(name)) && ok(nowF2) && ok(prevF2))\n"
     "      (nowF2, prevF2)\n"
     "    else (nowF, prevF)",
     "    if (Floor2Queries(short(name)) && ok(nowF2))\n"
     "      (nowF2, if (ok(prevF2)) prevF2 else prevF)\n"
     "    else (nowF, prevF)"),
    ("SR451", ROLLUP, "janitor's root inventory counts a live op's young stage — every busy pass escalates to a futile sweep",
     "        (minStageAgeMs <= 0 || now - st.getModificationTime > minStageAgeMs))",
     "        true)"),
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

# batch 47: one commit protocol for every store — the sorted-ingest
# generations and the exact-digest index on GenerationalBatches. Run with
# `python3 tools/mutation.py 47`.
SUITES47 = ["graft.SortedIngestSpec", "graft.CompactionSpec"]

MUTANTS47 = [
    ("SI471", SINKS, "table re-pointed at the new generation inside the land step, before its commit",
     """          val landing = s"${table}_landing"
          writeBucketedSortedSingleFile(
            all.observe(obs, org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n")),
            landing, batchPath.toString, nBuckets, bucketKey, sortKeys: _*)
          spark.sql(s"DROP TABLE IF EXISTS `$landing`")""",
     """          val landing = table
          writeBucketedSortedSingleFile(
            all.observe(obs, org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n")),
            landing, batchPath.toString, nBuckets, bucketKey, sortKeys: _*)"""),
    ("SI472", SINKS, "readSortedWithStaging ignores the staged names a committed marker folded",
     "    val staged = stagingParquetFiles(spark, stagingDir).filterNot(folded)",
     "    val staged = stagingParquetFiles(spark, stagingDir)"),
    ("SI473", SINKS, "recovery keeps the staged files a live marker folded (the next fold folds them again)",
     """      stagingParquetFiles(spark, stagingDir).filter(folded).foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(stagingDir, n), false) }""",
     ""),
    ("DX471", DEDUP, "digest append runs outside the store's writer lease",
     """    Sinks.withSingleWriterLease(fs, GenerationalBatches.leasePath(base)) {
      val live = GenerationalBatches.recover(fs, base)
      val batchIdx = exactDigestIndex(newDocs, idCol, textCol)""",
     """    locally {
      val live = GenerationalBatches.recover(fs, base)
      val batchIdx = exactDigestIndex(newDocs, idCol, textCol)"""),
    ("DX472", DEDUP, "compactDigestIndex coalesces instead of repartitioning (fewer files than the target)",
     "            .repartition(targetPartitions),",
     "            .coalesce(targetPartitions),"),
]


# batch 48: the one-window session append — each known user's seam row
# joins the batch's window. Run with `python3 tools/mutation.py 48`.
INCSESS = "src/main/scala/graft/ops/IncrementalSession.scala"
SUITES48 = ["graft.IncrementalSessionSpec"]

MUTANTS48 = [
    ("IS481", INCSESS, "the seam row sorts after tied batch rows (a tie opens a new session)",
     "      .orderBy(col(tsCol), col(SessionsCol).asc_nulls_last)",
     "      .orderBy(col(tsCol), col(SessionsCol).asc_nulls_first)"),
    ("IS482", INCSESS, "the seen-ts gate is dropped (an interleaving batch commits)",
     "      .withColumn(ViolatesCol, col(tsCol) < max(when(seam, col(tsCol)))",
     "      .withColumn(ViolatesCol, col(tsCol) < min(when(lit(false), col(tsCol)))"),
    ("IS483", INCSESS, "the state row is the user's first row instead of the last",
     "      .withColumn(LastRowCol, lead(lit(1), 1).over(w).isNull)",
     "      .withColumn(LastRowCol, lag(lit(1), 1).over(w).isNull)"),
    ("IS484", INCSESS, "the seam weight is ignored (the sessions base is dropped)",
     "      .withColumn(SidCol, sum(when(seam, col(SessionsCol))",
     "      .withColumn(SidCol, sum(when(seam, lit(0L))"),
    ("IS485", INCSESS, "gap rule > -> >= (a gap of exactly the threshold opens a session)",
     "            unix_micros(col(PrevCol)) > gapMicros, 1L)",
     "            unix_micros(col(PrevCol)) >= gapMicros, 1L)"),
]

# batch 49: one rollup-store layout — a flat store is the grained store's
# fixed sub-store, the in-place regrain re-stamps the genesis, and a store
# in the retired root-batch layout is refused. Run with
# `python3 tools/mutation.py 49`.
SUITES49 = ["graft.RollupStoreSpec", "graft.RegrainSpec",
            "graft.CountingFsSpec"]

MUTANTS49 = [
    ("OL491", ROLLUP, "regrain keeps the old genesis (a crash before the commit leaves a genesis behind)",
     "        fs.delete(new Path(base, GenesisFile), false)\n",
     ""),
    ("OL492", ROLLUP, "regrain never re-stamps the genesis after its marker",
     "            writeGenesis(fs, base, fingerprintOf(schema, FlatGrainCol))\n",
     ""),
    ("OL493", ROLLUP, "an append re-verifies no genesis under its stripes (a family checked before a regrain lands after it)",
     "      ensureGenesis(spark, fs, base, states.schema, grainCol, leaseStaleMs)\n"
     "      sweepStageDirs(",
     "      sweepStageDirs("),
    ("OL494", ROLLUP, "the retired root-batch layout is no longer refused",
     "      require(!entries.exists(st => st.isDirectory &&",
     "      require(true || !entries.exists(st => st.isDirectory &&"),
    ("OL495", ROLLUP, "the flat read resolves a different sub-store than the flat append lands in",
     "    new Path(base, grainDirName(FlatGrainCol, FlatGrain))",
     "    new Path(base, grainDirName(FlatGrainCol, FlatGrain + \"_\"))"),
]

# Mutants whose seam no longer exists: (batch, id, file, mutant, reason).
# They stay in MUTATION.md with the reason instead of a verdict.
RETIRED = [
    ("8", "SQ82", STREAM, "horizon prune boundary >= -> > (drops the at-horizon event)",
     "merged into SM4: one horizon prune serves every buffered streaming operator"),
    ("32", "GB323", ROLLUP, "cross-grain schema gate dropped (a grained store mixes families)",
     "the grained store gates families by its _STORE_GENESIS fingerprint (batch 37)"),
    ("32", "RS321", ROLLUP, "flat replay guard dropped (replayed id re-appends)",
     "a flat append is the grained append on one fixed grain; its replay guard is RS322"),
    ("37", "FM371", ROLLUP, "flat read distrusts the manifest (always falls back to listing)",
     "a flat read resolves its fixed grain through readGrains' resolver, which MF361 mutates"),
    ("34", "RS341", ROLLUP, "pre-write replay filter dropped (a replayed grained ingest re-stages and re-commits every grain)",
     "the pre-write filter and the per-grain replay guard are one filter now (RS322)"),
]

# batch -> (mutants, focused suites, MUTATION.md section heading; None =
# the report's head table)
BATCHES = {
    "1": (MUTANTS, SUITES, None),
    "3": (MUTANTS3, SUITES3, "Batch 3 \u2014 dedup / similarity / text kernels"),
    "4": (MUTANTS4, SUITES4, "Batch 4 \u2014 per-row sketch kernels + round-5 curation ops"),
    "5": (MUTANTS5, SUITES5, "Batch 5 \u2014 streaming operators"),
    "6": (MUTANTS6, SUITES6, "Batch 6 \u2014 jaccard candidate-stage bounds + ScoreTopK round-trip"),
    "7": (MUTANTS7, SUITES7, "Batch 7 \u2014 round-6 operators"),
    "8": (MUTANTS8, SUITES8, "Batch 8 \u2014 streaming sequence_match + argmin_cell"),
    "9": (MUTANTS9, SUITES9, "Batch 9 \u2014 streaming sequence_count consumed-prefix logic"),
    "10": (MUTANTS10, SUITES10, "Batch 10 \u2014 round-8 seams"),
    "32": (MUTANTS32, SUITES32, "Batch 32 \u2014 round-16 store seams"),
    "33": (MUTANTS33, SUITES33, "Batch 33 \u2014 grained-store re-grain seams"),
    "34": (MUTANTS34, SUITES34, "Batch 34 \u2014 one-job grained ingest seams"),
    "35": (MUTANTS35, SUITES35, "Batch 35 \u2014 one-job range-compaction seams"),
    "36": (MUTANTS36, SUITES36, "Batch 36 \u2014 round-17 seams (lease striping, manifests, grace window)"),
    "37": (MUTANTS37, SUITES37, "Batch 37 \u2014 round-18 seams (genesis, flat manifests, heal timing, clock skew)"),
    "38": (MUTANTS38, SUITES38, "Batch 38 \u2014 the sweepExpired janitor"),
    "39": (MUTANTS39, SUITES39, "Batch 39 \u2014 round-18 self-review fixes"),
    "40": (MUTANTS40, SUITES40, "Batch 40 \u2014 auto-sized folds and parallel manifest resolution"),
    "41": (MUTANTS41, SUITES41, "Batch 41 \u2014 round-18 review fixes (second pass)"),
    "42": (MUTANTS42, SUITES42, "Batch 42 \u2014 RollupStore.stats observability view"),
    "43": (MUTANTS43, SUITES43, "Batch 43 \u2014 round-19 hygiene seams"),
    "44": (MUTANTS44, SUITES44, "Batch 44 \u2014 bench artifact-pipeline logic"),
    "45": (MUTANTS45, SUITES45, "Batch 45 \u2014 round-20 measurement hardening"),
    "46": (MUTANTS46, SUITES46, "Batch 46 \u2014 one publish path for the generational stores"),
    "47": (MUTANTS47, SUITES47, "Batch 47 \u2014 one commit protocol for every store"),
    "48": (MUTANTS48, SUITES48, "Batch 48 \u2014 one window per session append"),
    "49": (MUTANTS49, SUITES49, "Batch 49 \u2014 one rollup-store layout"),
}


def run(cmd, timeout=1800):
    return subprocess.run(cmd, shell=True, capture_output=True, text=True,
                          timeout=timeout)


def check():
    """Lists every mutant whose `old` text does not occur exactly once in
    its file; exit 1 if there is any. Runs no sbt."""
    bad = []
    for name in sorted(n for n in globals() if n.startswith("MUTANTS")):
        for mid, fname, _desc, old, _new in globals()[name]:
            hits = Path(fname).read_text().count(old)
            if hits != 1:
                bad.append(f"{name} {mid} {fname}: {hits} hits")
    print("\n".join(bad) if bad else "every mutant's text occurs exactly once")
    return 1 if bad else 0


def row(mid, fname, desc, verdict):
    return f"| {mid} | {Path(fname).name} | {desc} | {verdict} |"


def report(batch, results):
    """Writes `results` into the batch's table in MUTATION.md, in place:
    re-run rows are replaced, new ones appended, retired ones get their
    reason, and the section's kill-rate line is recounted from its table.
    The other sections and the prose stay as they are."""
    title = BATCHES[batch][2]
    text = Path("MUTATION.md").read_text()
    if title is None:
        start = 0
    elif f"\n## {title}\n" in text:
        start = text.index(f"\n## {title}\n") + 1
    else:
        text = text.rstrip() + f"\n\n## {title}\n\n**Batch-{batch} kill rate: **\n\n" \
            "| id | file | mutant | verdict |\n|---|---|---|---|\n"
        start = text.index(f"\n## {title}\n") + 1
    end = text.find("\n## ", start + 1)
    end = len(text) if end < 0 else end + 1
    lines = text[start:end].split("\n")
    table = [i for i, l in enumerate(lines) if l.startswith("| ")]
    rows = {lines[i].split(" | ")[0][2:]: lines[i] for i in table[1:]}
    order = [lines[i].split(" | ")[0][2:] for i in table[1:]]
    for mid, fname, desc, verdict in results:
        rows[mid] = row(mid, fname, desc, verdict)
        if mid not in order:
            order.append(mid)
    for b, mid, fname, desc, reason in RETIRED:
        if b == batch:
            rows[mid] = row(mid, fname, desc, f"retired: {reason}")
    verdicts = [rows[m].rstrip(" |").rsplit(" | ", 1)[1] for m in order]
    killed = verdicts.count("killed")
    valid = killed + verdicts.count("SURVIVED")
    rate = 100.0 * killed / valid if valid else 0.0
    # a new section's table has no row yet: its rows go below the header
    # and its |---| line
    body = slice(table[1], table[-1] + 1) if len(table) > 1 \
        else slice(table[0] + 2, table[0] + 2)
    lines[body] = [rows[m] for m in order]
    prefix = f"**Batch-{batch} kill rate: "
    for i, l in enumerate(lines):
        if l.startswith(prefix):
            lines[i] = f"{prefix}{killed}/{valid} = {rate:.1f}%**"
    Path("MUTATION.md").write_text(text[:start] + "\n".join(lines) + text[end:])
    print(f"\nbatch-{batch} kill rate {killed}/{valid} -> MUTATION.md")


def main():
    """`mutation.py check` checks every table's texts; `mutation.py
    BATCH [ID...]` runs the batch's mutants (or only the named ones) and
    updates their rows in MUTATION.md."""
    args = sys.argv[1:]
    if args[:1] == ["check"]:
        return check()
    # SIGTERM (an outer `timeout`, a `kill`) exits through SystemExit, so
    # the `finally` below restores the mutated file before the run ends
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    batch = args[0] if args else "1"
    mutants, suites, _ = BATCHES[batch]
    if args[1:]:
        mutants = [m for m in mutants if m[0] in args[1:]]
    results = []
    for mid, fname, desc, old, new in mutants:
        path = Path(fname)
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
    report(batch, results)


if __name__ == "__main__":
    sys.exit(main())
