package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the physical plans these queries produce
  * ARE the scale design (pushdown, pruning, map-side partial aggregation,
  * broadcast dimensions). If a refactor silently loses one of these, the
  * query still returns correct rows — only these assertions catch the
  * 100×-scale regression.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q09: filter pushed to the parquet scan, columns pruned") {
    val p = plan("q09_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("q03: funnel aggregates partially on the map side (one shuffle of buffers)") {
    val p = plan("q03_window_funnel")
    assert(p.contains("partial_window_funnel"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    // exactly one exchange: the group-key shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q108: funnel_merge over the rollup aggregates partially on the map side") {
    // the merge side must keep q03's shape: ObjectHashAggregate with a
    // partial pass before the single group-key shuffle — partials combine
    // partials (EventBuf appendAll), so the shuffle carries one packed
    // buffer per (user, mapper), not one row per state
    val p = plan("q108_funnel_rollup")
    assert(p.contains("partial_funnel_merge"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q110: sequence_count_merge keeps the same partial-aggregation shape") {
    // SequenceMergeBase is a separate class from FunnelMergeAgg — q108's
    // pin would not notice this family losing its map-side partial pass
    val p = plan("q110_seqcount_rollup")
    assert(p.contains("partial_sequence_count_merge"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q113: next_node_merge keeps the same partial-aggregation shape") {
    // NextNodeMergeAgg is its own class (NNMergeBuf, not FunnelMergeBuf) —
    // the q108/q110 pins would not notice THIS family losing its map-side
    // partial pass (partials combine partials via NNBuf.appendAll with
    // dictionary-pool remap, so the shuffle carries one packed buffer per
    // (user, mapper), values deduplicated per partial)
    val p = plan("q113_nextnode_rollup")
    assert(p.contains("partial_next_node_merge"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("state-to-state combines keep the map-side partial pass") {
    // the combine twins are their own aggregate classes — the q108/q110/
    // q113 pins would not notice a re-grain losing ITS partial pass; the
    // re-grain shuffle must carry one folded buffer per (key, mapper)
    import org.apache.spark.sql.functions._
    import graft.behavioral.BehavioralFunctions
    val ev = graft.sources.Tables.events(spark, sfDir)
    val path = graft.sources.Sinks.scratchDir("planspec_combine") + "/day"
    ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"),
        col("event_type") === "view", col("event_type") === "click").as("state"))
      .write.mode("overwrite").parquet(path)
    val day = spark.read.parquet(path)
    val p = day.groupBy("user_id")
      .agg(BehavioralFunctions.funnel_state_combine(col("state")).as("state"))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_funnel_state_combine"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    val rpath = graft.sources.Sinks.scratchDir("planspec_combine") + "/rday"
    ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.retention_state(
        to_date(col("ts")) === lit("2024-01-01"),
        to_date(col("ts")) === lit("2024-01-02")).as("state"))
      .write.mode("overwrite").parquet(rpath)
    val pr = spark.read.parquet(rpath).groupBy("user_id")
      .agg(BehavioralFunctions.retention_state_combine(col("state")).as("state"))
      .queryExecution.executedPlan.toString
    assert(pr.contains("partial_retention_state_combine"), pr)
  }

  test("q10: dimension table is broadcast, not shuffled") {
    val p = plan("q10_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q91: bucketed fact-fact join plans with zero shuffles on the join") {
    // force the sort-merge path (at sf0.001 the small side would broadcast
    // and hide the layout property the bucketing exists to provide)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q91_bucketed_join")
      assert(p.contains("SortMergeJoin"), p)
      // the ONLY exchange is the 5-group final aggregation, never the join:
      // both join inputs read pre-bucketed on the key
      assert("Exchange hashpartitioning\\(o_orderkey".r.findAllIn(p).isEmpty, p)
      assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).isEmpty, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q92: bucketed events funnel plans with ZERO exchanges") {
    // the core-surface extension of q91's layout lever: GROUP BY user_id
    // over events bucketed by user_id must need NO shuffle at all — the
    // bucketed scan's HashPartitioning(user_id) satisfies the aggregate's
    // ClusteredDistribution, so the plan is scan -> partial -> final
    val p = plan("q92_bucketed_funnel")
    assert(p.contains("partial_window_funnel"), p)
    assert(p.contains("Bucketed: true"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"bucketed behavioral aggregation still shuffles:\n$p")
  }

  test("q96: date filter prunes day-partitions at planning time") {
    val df = SparkEntry.queries("q96_datepart_funnel")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the date predicate must land INSIDE the PartitionFilters bracket
    // (pruned at listing) — a scan line always prints "PartitionFilters:
    // []" and the same line carries PushedFilters, so merely co-occurring
    // strings prove nothing (mutation DP211 survived that first draft)
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pf.contains("event_date"),
      s"event_date bounds not inside PartitionFilters (got '$pf'):\n$p")
    // and the pruning is real: the scan reads ~7 of the 30 day-partitions.
    // AQE hides the scan inside query stages `collect` can't traverse, so
    // probe with AQE off — pruning happens at listing time either way.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df2 = SparkEntry.queries("q96_datepart_funnel")(spark, sfDir)
      df2.collect()
      val scans = df2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, df2.queryExecution.executedPlan.toString)
      // the layout really is one directory per DISTINCT event date in the
      // fixture (derived from the data, not hard-coded — a different sf's
      // time span must not fail this without a pruning regression) ...
      val expectedDays = graft.sources.Tables.load(spark, sfDir, "events")
        .select(org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("ts")))).head().getLong(0)
      val root = new java.io.File(
        graft.sources.Sinks.scratchDir("q96_datepart"), "events")
      val dayDirList = root.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      assert(dayDirList.length.toLong == expectedDays,
        s"expected $expectedDays day-partitions on disk, found ${dayDirList.length}")
      assert(expectedDays > 7, s"fixture spans only $expectedDays days — pruning unobservable")
      // ...and the 7-day slice reads EXACTLY the files of the 7 in-range
      // day directories, strictly fewer than exist (files-per-day scales
      // with writer parallelism, so compare against the actual on-disk
      // counts rather than an absolute number)
      def pq(f: java.io.File): Long = f.listFiles()
        .count(x => x.isFile && x.getName.endsWith(".parquet")).toLong
      val inRange = dayDirList.filter { f =>
        val d = f.getName.stripPrefix("event_date=")
        d >= "2024-01-01" && d <= "2024-01-07"
      }
      val prunedExpected = inRange.map(pq).sum
      val totalFiles = dayDirList.map(pq).sum
      val numFiles = scans.map(_.metrics("numFiles").value).sum
      assert(numFiles == prunedExpected && numFiles > 0 && numFiles < totalFiles,
        s"expected exactly $prunedExpected of $totalFiles files after pruning, scan read $numFiles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q97: combined layout prunes day-partitions AND aggregates with zero exchanges") {
    val p = plan("q97_layout_funnel")
    // both levers on ONE plan: the date predicate inside the
    // PartitionFilters bracket (pruned at listing) ...
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pf.contains("event_date"),
      s"event_date bounds not inside PartitionFilters (got '$pf'):\n$p")
    // ... and the bucketed scan satisfying the aggregate's distribution
    assert(p.contains("partial_window_funnel"), p)
    assert(p.contains("Bucketed: true"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"combined layout still shuffles:\n$p")
  }

  test("q102: sorted single-file buckets serve sessionize with ZERO exchanges AND ZERO sorts") {
    // q92's layout deletes the window's shuffle but still sorts within
    // partitions; the one-sorted-file-per-bucket layout deletes the sort
    // too — the scan itself satisfies (user_id, ts) ordering. Both
    // operators must be absent from the plan.
    val p = plan("q102_sorted_sessionize")
    assert(p.contains("Window"), p)
    assert(p.contains("Bucketed: true"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"sorted-bucketed sessionize still shuffles:\n$p")
    assert(!p.contains("+- Sort "),
      s"sorted-bucketed sessionize still sorts:\n$p")
  }

  test("q103: window + per-session aggregate run on ONE scan — zero exchanges, zero sorts") {
    // the window preserves the scan's HashPartitioning(user_id), which
    // satisfies the aggregate's (user_id, session_id) clustering — the
    // whole session pipeline must plan without a single exchange or sort
    val p = plan("q103_session_stats")
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"session-stats pipeline still shuffles:\n$p")
    assert(!p.contains("+- Sort "),
      s"session-stats pipeline still sorts:\n$p")
  }

  test("sorted single-file layout holds from MANY input partitions") {
    // the q102 fixture reads as ONE partition at sf0.001, so a missing
    // write-side repartition is invisible there (mutation SB251's
    // first-run survival) — with 16 input partitions an unaligned write
    // makes files-per-bucket = partitions and the sink's one-file
    // invariant must catch it
    import org.apache.spark.sql.functions._
    val df = spark.range(20000).repartition(16)
      .select((col("id") % 500).as("user_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"))
    val tmp = graft.sources.Sinks.scratchDir("sorted_multi")
    val table = graft.sources.Sinks.sessionTable(spark, "graft_sorted_multi")
    graft.sources.Sinks.writeBucketedSortedSingleFile(
      df, table, s"$tmp/t", nBuckets = 4, "user_id", "ts")
    val nFiles = new java.io.File(s"$tmp/t").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(nFiles <= 4, s"expected <= 4 files (one per bucket), found $nFiles")
    // and the ordering claim engages: window plan has neither op
    import org.apache.spark.sql.expressions.Window
    graft.behavioral.BehavioralFunctions.register(spark)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val p = graft.sources.Sinks.readBucketedSorted(spark, table)
      .select(col("user_id"),
        graft.behavioral.BehavioralFunctions.sessionize(col("ts"),
          expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("+- Sort "), p)
  }

  test("bucketed events also serve the WINDOW path shuffle-free (sessionize)") {
    // the aggregate path is pinned by q92; the window functions
    // (sessionize et al run PARTITION BY user_id) use the same
    // ClusteredDistribution machinery — over the bucketed table the plan
    // must be scan -> sort-within-partitions -> window, no exchange
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    graft.behavioral.BehavioralFunctions.register(spark)
    // q92's query writes/refreshes the bucketed table as a side effect
    SparkEntry.queries("q92_bucketed_funnel")(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val p = graft.sources.Sinks.readBucketed(spark, graft.sources.Sinks.sessionTable(spark, "graft_b_events"))
      .select(col("user_id"),
        graft.behavioral.BehavioralFunctions.sessionize(col("ts"),
          expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(p.contains("Sort"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"bucketed window partitioning still shuffles:\n$p")
  }

  test("q01: sessionize is one shuffle + sort + window (no extra exchange)") {
    val p = plan("q01_sessionize")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("no contract query plans a cartesian product, nested-loop join, or per-element re-tokenization") {
    // a CartesianProduct / BroadcastNestedLoopJoin anywhere in the contract
    // surface is a 100-TB scale-killer even when the local run is fast (the
    // r1 q20 lesson: an O(n²) non-equi self-join benches fine at sf0.1).
    // `element_at(split(` inside any node is the pushed-predicate
    // substitution hazard (q73/q74 lesson): a filter on a derived column
    // pushed below the token projection re-runs the tokenizer per HOF
    // element — a measured 20-30x. (Kernel-arg duplication like
    // isnotnull(simhash(split(...))) is a separate, benign ~2x class,
    // audited in SCALE.md.)
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join:\n$p")
      assert(!p.contains("element_at(split("),
        s"$q re-tokenizes per element in a pushed expression:\n$p")
      graft.ops.OpCaches.unpersistAll()
    }
  }

  test("q20: blocked exact cosine join runs as an equi-join on block keys") {
    val p = plan("q20_embed_neardup")
    // the n²/2 comparisons must live inside key-grouped join tasks — any of
    // the equi-join strategies is fine, a nested loop is not (guarded above)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("bi") && p.contains("bj"), p)
    graft.ops.OpCaches.unpersistAll()
  }

  test("q23: winnow fingerprint projection stays whole-stage codegen'd") {
    val p = plan("q23_fingerprint")
    // the fingerprint expression must NOT be CodegenFallback: one fallback
    // ejects the whole collapsed projection from whole-stage codegen — the
    // r2 q23 regression (3.15 s → 6.86 s, md5 pass interpreted). The plan
    // line carrying winnow_fingerprint must be inside a *(n)-marked stage.
    val winnowLines = p.linesIterator.filter(_.contains("winnow_fingerprint")).toSeq
    assert(winnowLines.nonEmpty, p)
    assert(winnowLines.forall(l => l.trim.matches("^[+:\\-\\s]*\\*\\(\\d+\\).*") ||
      !l.trim.replaceAll("^[+:\\-\\s]*", "").startsWith("Project")),
      s"winnow_fingerprint projection not codegen'd:\n$p")
    assert(p.contains("*(1) Project"), p)
    assert(!p.contains("Exchange"), "doc-level map must not shuffle")
  }

  test("q41: pair list is emitted join-side — no dedup aggregate, hamming in the join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val lp = SparkEntry.queries("q41_simhash_pairs")(spark, sfDir)
      .queryExecution.optimizedPlan
    // the first-shared-band predicate makes each pair surface exactly once,
    // so there must be NO pair-dedup aggregate (a dropDuplicates here would
    // mean an extra shuffle of the full candidate list at scale)...
    val pairDedupAggs = lp.collect {
      case a: Aggregate if a.groupingExpressions.size == 2 => a
    }
    assert(pairDedupAggs.isEmpty, s"unexpected pair-dedup aggregate:\n$lp")
    // ...and far pairs must die inside the join (hamming folded into the
    // join condition or a filter directly above it), never shuffled onward
    val hammingInJoin = lp.collect {
      case f: Filter if f.condition.toString.contains("bit_count") => f
      case j: Join if j.condition.exists(_.toString.contains("bit_count")) => j
    }
    assert(hammingInJoin.nonEmpty, s"hamming predicate missing from the join:\n$lp")
    graft.ops.OpCaches.unpersistAll()
  }

  test("lshSelfJoin: hashes each vector once below the explode, dedups pairs in one aggregate") {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qe = graft.ops.Similarity.lshSelfJoin(emb, threshold = 0.45, dim = 64,
      nPlanes = 3, tables = 24).queryExecution
    // the banded frame is materialized, so its Generate lives in a cached
    // plan: walk every plan tree the query reads, cached ones included
    // (the helper descends into adaptive plans and their query stages)
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def trees(p: SparkPlan): Seq[SparkPlan] = p +: aqe.collect(p) {
      case s: InMemoryTableScanExec => trees(s.relation.cachedPlan)
    }.flatten
    val all = trees(qe.executedPlan)
    def hasGenerate(p: SparkPlan) = aqe.find(p)(_.isInstanceOf[GenerateExec]).isDefined
    def hashes(p: ProjectExec) =
      p.projectList.exists(_.exists(_.isInstanceOf[graft.functions.DotProduct]))
    assert(all.exists(hasGenerate), s"no banding explode:\n$all")
    // a hash column projected ABOVE the Generate re-runs every table's
    // hyperplane dot products once per exploded row
    val hashAboveGenerate = all.flatMap(t => aqe.collect(t) {
      case p: ProjectExec if hashes(p) && hasGenerate(p) => p
    })
    assert(hashAboveGenerate.isEmpty,
      s"dot_product projected above the banding Generate:\n$hashAboveGenerate")
    // colliding pairs dedup as bare id pairs, in exactly one aggregate
    val pairDedups = qe.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.collect {
          case n: NamedExpression => n.name } == Seq("vec_a", "vec_b") => a
    }
    assert(pairDedups.size === 1, s"expected one (vec_a, vec_b) dedup:\n${qe.optimizedPlan}")
    graft.ops.OpCaches.unpersistAll()
  }

  test("q46: vocabulary top-K plans as partial counts + TakeOrderedAndProject") {
    val p = plan("q46_ngram_freq")
    // a global Sort here would shuffle-sort every distinct n-gram; the
    // scale-right plan is per-partition top-K merged on the driver, over
    // map-side-combined counts (one exchange on the ngram key)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q45: deterministic sample is a stateless filter — no shuffle, pruned scan") {
    val p = plan("q45_sample_det")
    assert(!p.contains("Exchange"), "hash sampling must not shuffle:\n" + p)
    assert(!p.contains("text#"), "sample reads columns it never uses")
  }

  test("q12: text stats stay inside whole-stage codegen with a bare scan") {
    val p = plan("q12_text_stats")
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(p.contains("*(1) Project"), p)
    assert(!p.contains("Exchange"), "doc-level map must not shuffle")
  }

  test("q28: per-row simhash fingerprint plans with zero exchanges and no aggregate") {
    val p = plan("q28_simhash")
    // the kernel rewrite's whole point: a sketch that depends only on its
    // own row must not explode + regroup (the old shape shuffled the full
    // exploded token index through a 64-column aggregate)
    assert(!p.contains("Exchange"), "per-row sketch must not shuffle:\n" + p)
    assert(!p.contains("HashAggregate"), "per-row sketch must not aggregate:\n" + p)
  }

  test("minhash signature build is a pure projection (no exchange, no aggregate)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val sig = docs.select(col("doc_id"),
      graft.ops.Dedup.minhashSignature(
        graft.ops.Dedup.shingles(col("text")), 16).as("sig"))
    val p = sig.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q51: benchmark gram set broadcasts; scan reads only id + text") {
    val p = plan("q51_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // the CORPUS must never shuffle by gram: its exchanges are the final
    // map-side-combinable groupBy(id) only. The benchmark side may shuffle
    // for its distinct — it is tiny by contract and feeds a broadcast.
    val exchanges = "Exchange hashpartitioning\\(([^,]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.count(_.startsWith("__id")) === 1, p)
    assert(exchanges.forall(k => k.startsWith("__id") || k.startsWith("__g")), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("lang#") && !p.contains("n_chars#"),
      "decontaminate reads columns it never uses:\n" + p)
  }

  test("q52: token-window chunking is a pure per-row transform on a pruned scan") {
    val p = plan("q52_chunks")
    assert(!p.contains("Exchange"), "chunking must not shuffle:\n" + p)
    assert(!p.contains("lang#") && !p.contains("source#"),
      "chunking reads columns it never uses:\n" + p)
  }

  test("grained RollupStore: a one-week dashboard read scans EXACTLY that grain's files") {
    // the grained store prunes at LISTING time — unqueried grains' files
    // are never handed to the scan at all, so the scan's numFiles metric
    // must equal the selected grain's on-disk file count, strictly fewer
    // than the store holds (the file-skipping story for years of grains)
    import org.apache.spark.sql.functions._
    import graft.behavioral.BehavioralFunctions
    val base = graft.sources.Sinks.scratchDir("planspec_grained") + "/store"
    graft.sources.Sinks.clearDir(base)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    def states(i: Int) = ev
      .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
      .groupBy(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .agg(BehavioralFunctions.funnel_state(col("ts"),
        col("event_type") === "view",
        col("event_type") === "click").as("state"))
    graft.ops.RollupStore.appendStatesByGrain(states(0), base,
      Seq("user_id", "week"), "week")
    graft.ops.RollupStore.appendStatesByGrain(states(1), base,
      Seq("user_id", "week"), "week")
    val weeks = graft.ops.RollupStore.grainValues(spark, base)
    assert(weeks.size > 1, s"fixture spans only $weeks — pruning unobservable")
    val target = weeks(1)
    def parquetFilesUnder(dir: java.io.File): Long =
      if (!dir.exists()) 0L
      else dir.listFiles().map { f =>
        if (f.isDirectory) parquetFilesUnder(f)
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      }.sum
    val grainFiles = parquetFilesUnder(new java.io.File(base, s"week=$target"))
    val totalFiles = parquetFilesUnder(new java.io.File(base))
    assert(grainFiles > 0 && grainFiles < totalFiles)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ops.RollupStore.readGrains(spark, base, _ == target)
        .groupBy(col("user_id"))
        .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
          col("state")).as("steps"))
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
      val numFiles = scans.map(_.metrics("numFiles").value).sum
      assert(numFiles == grainFiles,
        s"one-grain read scanned $numFiles files, expected exactly " +
          s"$grainFiles of the store's $totalFiles")
      // and the merge over the pruned scan still aggregates partially on
      // the map side (two ObjectHashAggregate passes around the exchange)
      val p = df.queryExecution.executedPlan.toString
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2 &&
        p.contains("partial_funnel_merge"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}

class MultimodalPruningSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("metadata-only media query prunes the bytes column at the parquet scan") {
    // the whole point of "opaque binary + typed metadata" at 100 TB: a
    // metadata aggregate must not read the payload bytes. ReadSchema (the
    // columns the scan decodes) has to carry only the metadata fields.
    val dir = java.nio.file.Files.createTempDirectory("graft_media_prune").toString
    graft.ops.Multimodal.demoTable(spark, 50).write.mode("overwrite").parquet(dir)
    val stats = graft.ops.Multimodal.metadataStats(spark.read.parquet(dir))
    val plan = stats.queryExecution.executedPlan.toString
    val readSchema = plan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1")
    assert(plan.contains("ReadSchema"), plan)
    assert(readSchema.contains("kind") && readSchema.contains("width"), readSchema)
    assert(!readSchema.contains("bytes"), s"scan decodes the payload: $readSchema")
    assert(stats.collect().nonEmpty)
  }
}

class IvfPruningSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("cell-partitioned IVF storage prunes partitions for the probe filter") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val grid = (for (x <- 0 until 8; y <- 0 until 8)
      yield ((x * 8 + y).toLong, Array(x.toDouble + 0.1, y.toDouble + 0.1)))
      .toDF("vec_id", "v")
    val (indexed, centroids) = graft.ops.Similarity.ivfIndex(grid, nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    graft.ops.Similarity.writeIvfPartitioned(indexed, dir)
    val stored = spark.read.parquet(dir)
    val probed = graft.ops.Similarity.ivfTopK(stored, centroids,
      Array(7.0, 7.0), k = 3, nProbe = 1)
    val plan = probed.queryExecution.executedPlan.toString
    // the cell probe must land in PartitionFilters (file pruning), not in a
    // post-scan data filter
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cell"), plan)
    assert(probed.collect().nonEmpty)
    graft.ops.OpCaches.unpersistAll()
  }
}
