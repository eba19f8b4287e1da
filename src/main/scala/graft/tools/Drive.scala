package graft.tools

/** Manual end-to-end drive of the behavioral library over the real testdata
  * parquet — the library's public surface (register + SQL / Column API), not
  * unit tests. Used by the project verify recipe:
  *   sbt "runMain graft.tools.Drive [sfDir]"
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.sources.HarnessFs.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    graft.behavioral.BehavioralFunctions.register(spark)
    graft.sources.Tables.events(spark, sfDir).createOrReplaceTempView("events")

    println("=== sessionize over real events (30 min gap), first 10 rows ===")
    spark.sql(
      """SELECT user_id, ts, sessionize(ts, INTERVAL '30' MINUTE)
        |         OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        |FROM events ORDER BY user_id, ts LIMIT 10""".stripMargin).show(false)

    println("=== sessions per user (top 5) ===")
    spark.sql(
      """WITH s AS (SELECT user_id, sessionize(ts, INTERVAL '30' MINUTE)
        |                    OVER (PARTITION BY user_id ORDER BY ts) AS sid
        |            FROM events)
        |SELECT user_id, max(sid) AS n_sessions FROM s GROUP BY user_id
        |ORDER BY n_sessions DESC, user_id LIMIT 5""".stripMargin).show(false)

    println("=== window_funnel view->click->purchase, 1h, default + strict_order ===")
    spark.sql(
      """SELECT user_id,
        |  window_funnel(INTERVAL '1' HOUR, ts,
        |    event_type='view', event_type='click', event_type='purchase') AS steps,
        |  window_funnel(INTERVAL '1' HOUR, 'strict_order', ts,
        |    event_type='view', event_type='click', event_type='purchase') AS steps_strict
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 8""".stripMargin).show(false)

    println("=== retention: active day1 / day1&2 / day1&3 ===")
    spark.sql(
      """SELECT retention(CAST(ts AS DATE)=DATE'2024-01-01',
        |                 CAST(ts AS DATE)=DATE'2024-01-02',
        |                 CAST(ts AS DATE)=DATE'2024-01-03') AS r
        |FROM events""".stripMargin).show(false)

    println("=== mergeable rollup twins via SQL: one per-(user, day) state table, many answers ===")
    spark.sql(
      """WITH st AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |              retention_state(CAST(ts AS DATE)=DATE'2024-01-01',
        |                              CAST(ts AS DATE)=DATE'2024-01-02') AS rs,
        |              funnel_state(ts, event_type='view', event_type='click',
        |                           event_type='purchase') AS fs
        |            FROM events GROUP BY user_id, CAST(ts AS DATE))
        |SELECT user_id, retention_merge(rs, 2) AS r,
        |       funnel_merge(INTERVAL '1' HOUR, fs) AS steps,
        |       funnel_merge(INTERVAL '1' HOUR, 'strict_order', fs) AS steps_strict,
        |       sequence_match_merge('(?1).*(?3)', fs) AS seq_m,
        |       sequence_count_merge('(?1)', fs) AS seq_n
        |FROM st GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin).show(false)

    println("=== next_node rollup twins via SQL: direction/base chosen at merge time ===")
    spark.sql(
      """WITH st AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |              next_node_state(ts, event_type, event_type='signup',
        |                              event_type='signup') AS ns
        |            FROM events GROUP BY user_id, CAST(ts AS DATE))
        |SELECT user_id,
        |       next_node_merge('forward', 'head', ns) AS next_after_signup,
        |       next_node_merge('backward', 'tail', ns) AS before_last_signup
        |FROM st GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin).show(false)

    println("=== state-to-state combine via SQL: day table re-grains to week, raw log untouched ===")
    spark.sql(
      """WITH day AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |               funnel_state(ts, event_type='view', event_type='click',
        |                            event_type='purchase') AS fs
        |             FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |week AS (SELECT user_id, weekofyear(day) AS wk,
        |           funnel_state_combine(fs) AS fs
        |         FROM day GROUP BY user_id, weekofyear(day))
        |SELECT user_id, funnel_merge(INTERVAL '1' HOUR, fs) AS steps,
        |       sequence_count_merge('(?1)', fs) AS views
        |FROM week GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin).show(false)

    println("=== retention combine via SQL: the third family of the combine algebra ===")
    spark.sql(
      """WITH day AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |               retention_state(CAST(ts AS DATE)=DATE'2024-01-01',
        |                               CAST(ts AS DATE)=DATE'2024-01-02') AS rs
        |             FROM events GROUP BY user_id, CAST(ts AS DATE))
        |SELECT user_id, retention_merge(rs2, 2) AS r
        |FROM (SELECT user_id, retention_state_combine(rs) AS rs2
        |      FROM day GROUP BY user_id)
        |GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin).show(false)

    println("=== RollupStore: incremental state-table ingest + combine-twin compaction ===")
    locally {
      val base = graft.sources.Sinks.scratchDir("drive_rollup_store") + "/store"
      graft.sources.Sinks.clearDir(base)
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.load(spark, sfDir, "events")
      def states(i: Int) = ev
        .filter(pmod(xxhash64(col("ts")), lit(2)) === i)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(graft.behavioral.BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      for (i <- 0 until 2)
        graft.ops.RollupStore.appendStates(states(i), base, Seq("user_id", "day"))
      println(s"-- live batches before compaction: ${graft.ops.RollupStore.liveBatchCount(spark, base)}")
      graft.ops.RollupStore.compact(spark, base, Seq("user_id", "day"),
        graft.behavioral.BehavioralFunctions.funnel_state_combine)
      println(s"-- live batches after compaction:  ${graft.ops.RollupStore.liveBatchCount(spark, base)}")
      graft.ops.RollupStore.read(spark, base)
        .groupBy(col("user_id"))
        .agg(graft.behavioral.BehavioralFunctions.funnel_merge(
          expr("INTERVAL '1' HOUR"), col("state")).as("steps"))
        .orderBy(col("user_id")).show(5, false)
      // replay-safe ingest: re-delivering slice 0 with its id is a no-op
      val first = graft.ops.RollupStore.appendStates(states(0), base,
        Seq("user_id", "day"), ingestId = Some("drive/0"))
      val replay = graft.ops.RollupStore.appendStates(states(0), base,
        Seq("user_id", "day"), ingestId = Some("drive/0"))
      println(s"-- id-tagged ingest: first=$first rows, replayed=$replay rows (no-op)")
      // store-level re-grain: the day table becomes a week table in place
      val weekly = graft.ops.RollupStore.regrain(spark, base,
        Seq("user_id", "day"), "day",
        date_trunc("week", col("day")).cast("date"), "week",
        graft.behavioral.BehavioralFunctions.funnel_state_combine)
      println(s"-- regrained day->week in place: $weekly (user, week) rows")
    }

    println("=== RollupStore: grain-partitioned layout (range compact, drop, pruned read) ===")
    locally {
      val base = graft.sources.Sinks.scratchDir("drive_rollup_store") + "/grained"
      graft.sources.Sinks.clearDir(base)
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.load(spark, sfDir, "events")
      val states = ev
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(graft.behavioral.BehavioralFunctions.funnel_state(col("ts"),
          col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase").as("state"))
      graft.ops.RollupStore.appendStatesByGrain(states, base,
        Seq("user_id", "week"), "week")
      println(s"-- week grains: ${graft.ops.RollupStore.grainValues(spark, base)}")
      val dropped = graft.ops.RollupStore.dropGrains(spark, base,
        olderThan = "2024-01-08")
      println(s"-- dropped $dropped grain(s) older than 2024-01-08; " +
        s"left: ${graft.ops.RollupStore.grainValues(spark, base)}")
      val oneWeek = graft.ops.RollupStore.readGrains(spark, base,
        _ == "2024-01-08")
      println(s"-- one-week dashboard read scans ${oneWeek.inputFiles.length} " +
        "file(s), all inside week=2024-01-08: " +
        oneWeek.inputFiles.forall(_.contains("week=2024-01-08")))
    }

    println("=== sequence_match / count / events per user ===")
    spark.sql(
      """SELECT user_id,
        |  sequence_match('(?1).*(?2)', ts, event_type='view', event_type='purchase') AS m,
        |  sequence_count('(?1).*(?2)', ts, event_type='view', event_type='purchase') AS c,
        |  sequence_match_events('(?1)(?2)', ts, event_type='view', event_type='click') AS ev
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 5""".stripMargin).show(false)

    println("=== sequence_next_node: what follows signup? ===")
    spark.sql(
      """SELECT user_id,
        |  sequence_next_node('forward', 'first_match', ts, event_type,
        |                     event_type='signup', event_type='signup') AS next_after_signup
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 8""".stripMargin).show(false)

    println("=== probes ===")
    println("-- invalid pattern -> NULL, garbage mode ignored, month interval:")
    spark.sql(
      """SELECT sequence_match('(?0', ts, event_type='view') AS bad_pattern,
        |       sequence_count('garbage', ts, event_type='view') AS bad_pattern2
        |FROM events""".stripMargin).show(false)
    try {
      spark.sql(
        """SELECT sessionize(ts, INTERVAL '1' MONTH) OVER (ORDER BY ts)
          |FROM events LIMIT 1""".stripMargin).collect()
      println("month interval: NO ERROR (unexpected?)")
    } catch { case e: Throwable =>
      println(s"month interval rejected: ${e.getMessage.linesIterator.next()}") }
    try {
      spark.sql(
        """SELECT window_funnel(INTERVAL '1' HOUR, 'bogus_mode', ts, event_type='view', event_type='click')
          |FROM events""".stripMargin).show(false)
    } catch { case e: Throwable =>
      println(s"bogus mode: ${e.getMessage.linesIterator.next()}") }

    println("=== Column API (DataFrame, no SQL) ===")
    import graft.behavioral.BehavioralFunctions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = spark.table("events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    ev.select(col("user_id"), col("ts"),
        sessionize(col("ts"), expr("INTERVAL '30' MINUTE")).over(w).as("sid"))
      .groupBy("user_id").agg(max("sid").as("n_sessions"))
      .orderBy("user_id").show(5, false)
    ev.groupBy("user_id")
      .agg(window_funnel(expr("INTERVAL '1' HOUR"), col("ts"),
        col("event_type") === "view", col("event_type") === "purchase").as("steps"))
      .orderBy("user_id").show(5, false)

    println("=== LLM-pipeline ops over documents/embeddings ===")
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    println("-- exact dup groups (top counts):")
    graft.ops.Dedup.exactDupGroups(docs)
      .orderBy(col("dup_count").desc, col("keep_id")).show(3, false)
    println("-- near-dup pairs (MinHash LSH, J>=0.5):")
    graft.ops.Dedup.minhashLshJoin(docs, 0.5)
      .orderBy(col("doc_a")).show(5, false)
    println("-- language ID + quality + tokens (first 5 docs):")
    docs.select(col("doc_id"),
        graft.ops.TextAnalysis.langId(col("text")).as("lang"),
        round(graft.ops.TextAnalysis.qualityScore(col("text")), 3).as("quality"),
        graft.ops.TextAnalysis.tokenCountBpe(col("text")).as("bpe_tokens"))
      .orderBy("doc_id").show(5, false)
    println("-- cosine top-5 neighbors of vec 0:")
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.ops.Similarity.bruteTopK(
      emb.filter(col("vec_id") =!= 0),
      emb.filter(col("vec_id") === 0).select(col("v").as("qv")), 5).show(false)
    println("-- batched top-3 for 2 probe vectors at once:")
    graft.ops.Similarity.batchTopK(
      emb.filter(col("vec_id") > 1),
      emb.filter(col("vec_id") <= 1).select(col("vec_id").as("qid"), col("v").as("qv")),
      k = 3).orderBy("qid", "rank").show(false)
    println("-- semantic dedup (SemDeDup cluster-then-prune, 4 cells, t>=0.4):")
    graft.ops.Similarity.semanticDedup(emb, threshold = 0.4, nCells = 4)
      .orderBy(col("id")).show(5, false)
    println("-- int8 quantization round-trip fidelity (first 3 vectors):")
    emb.select(col("vec_id"), col("v"),
        graft.ops.Similarity.quantScale(col("v")).as("s"))
      .select(col("vec_id"), round(graft.ops.Similarity.cosine(col("v"),
        graft.ops.Similarity.dequantizeInt8(
          graft.ops.Similarity.quantizeInt8(col("v"), col("s")), col("s"))), 6)
        .as("fidelity"))
      .orderBy("vec_id").show(3, false)
    println("-- benchmark decontamination (every 20th doc is the benchmark):")
    graft.ops.Pipeline.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), n = 5)
      .orderBy(col("contaminated").desc, col("doc_id")).show(5, false)
    println("-- token-window chunks (size 8 / stride 4) of doc 0:")
    graft.ops.TextAnalysis.chunkByTokens(
        docs.filter(col("doc_id") === 0), size = 8, stride = 4)
      .show(4, false)
    println("-- sequence packing (512-token sequences, 4 buckets):")
    graft.ops.Pipeline.packSequences(docs, seqLen = 512, buckets = 4)
      .orderBy("bucket", "start").show(5, false)
    println("-- pipeline kernels via SQL text:")
    graft.functions.PipelineFunctions.register(spark)
    docs.createOrReplaceTempView("docs_v")
    spark.sql(
      """SELECT doc_id, simhash_md5_hex(split(trim(text), '\\s+')) AS fp,
        |       winnow_fingerprint(text, 8, 4)[0] AS first_winnow
        |FROM docs_v ORDER BY doc_id LIMIT 3""".stripMargin).show(false)
    println("-- bloom-prefiltered decontamination (same answer, sketch-pruned plan):")
    graft.ops.Pipeline.decontaminateBloom(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), n = 5)
      .orderBy(col("contaminated").desc, col("doc_id")).show(3, false)
    println("=== incremental ingest family: batch vs stored index ===")
    val newBatch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    println("-- exact digest screen (first 5 of the batch):")
    graft.ops.Dedup.exactDupAgainst(
        newBatch, graft.ops.Dedup.exactDigestIndex(corpus))
      .orderBy(col("is_dup").desc, col("new_id")).show(5, false)
    println("-- MinHash probe vs stored index (J>=0.8):")
    val mIdx = graft.ops.OpCaches.track(
      graft.ops.Dedup.minhashIndex(corpus).persist())
    graft.ops.Dedup.minhashLshJoinAgainst(newBatch, mIdx, threshold = 0.8)
      .orderBy("new_id").show(5, false)
    println("-- SimHash probe vs stored fingerprints (hamming<=3):")
    graft.ops.Dedup.simhashPairsAgainstMd5(
        newBatch, graft.ops.Dedup.simhashIndexMd5(corpus), maxDist = 3)
      .orderBy("new_id", "idx_id").show(5, false)
    graft.ops.OpCaches.unpersistAll()

    println("=== layout ops: incremental IVF append + bucketed co-located join ===")
    locally {
      val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (indexed, centroids) = graft.ops.Similarity.ivfIndex(
        emb.filter(col("vec_id") % 10 =!= 0), nCells = 4, iterations = 2)
      val appended = graft.ops.Similarity.ivfAppend(
        emb.filter(col("vec_id") % 10 === 0), centroids)
      println(s"-- ivfAppend: ${appended.count()} vectors assigned, cells " +
        appended.groupBy("cell").count().orderBy("cell").collect()
          .map(r => s"${r.get(0)}:${r.get(1)}").mkString(" "))
      graft.ops.OpCaches.unpersistAll()

      val tmp = graft.sources.Sinks.scratchDir("drive_bucketed")
      graft.sources.Sinks.writeBucketed(
        graft.sources.Tables.load(spark, sfDir, "orders")
          .select("o_orderkey", "o_orderpriority"),
        graft.sources.Sinks.sessionTable(spark, "drive_b_orders"), s"$tmp/o", nBuckets = 4, "o_orderkey")
      graft.sources.Sinks.writeBucketed(
        graft.sources.Tables.load(spark, sfDir, "lineitem")
          .select("l_orderkey", "l_extendedprice"),
        graft.sources.Sinks.sessionTable(spark, "drive_b_lineitem"), s"$tmp/l", nBuckets = 4, "l_orderkey")
      val joined = graft.sources.Sinks.readBucketed(spark, graft.sources.Sinks.sessionTable(spark, "drive_b_orders"))
        .join(graft.sources.Sinks.readBucketed(spark, graft.sources.Sinks.sessionTable(spark, "drive_b_lineitem")),
          col("o_orderkey") === col("l_orderkey"))
      println("-- bucketed join (no exchange on the join keys):")
      joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items")).orderBy("o_orderpriority").show(5, false)

      println("-- date-partitioned events: 7-day slice prunes day-directories:")
      val dpTmp = graft.sources.Sinks.scratchDir("drive_datepart")
      graft.sources.Sinks.writeDatePartitioned(
        graft.sources.Tables.events(spark, sfDir)
          .select("user_id", "ts", "event_type"), s"$dpTmp/events", "ts")
      val dayDirs = new java.io.File(s"$dpTmp/events").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("event_date="))
      val sliced = graft.sources.Sinks.readDatePartitioned(spark, s"$dpTmp/events")
        .filter(col("event_date").between(lit("2024-01-01"), lit("2024-01-07")))
      println(s"   $dayDirs day-directories on disk; slice reads " +
        s"${sliced.select(countDistinct(col("event_date"))).collect()(0).getLong(0)} of them " +
        s"(${sliced.count()} events)")

      println("-- sort-eliding layout: sessionize straight off the scan:")
      val sbTmp = graft.sources.Sinks.scratchDir("drive_sorted")
      val sbTable = graft.sources.Sinks.sessionTable(spark, "drive_sb_events")
      graft.sources.Sinks.writeBucketedSortedSingleFile(
        graft.sources.Tables.events(spark, sfDir).select("user_id", "ts"),
        sbTable, s"$sbTmp/events", nBuckets = 4, "user_id", "ts")
      val sbw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val sbdf = graft.sources.Sinks.readBucketedSorted(spark, sbTable)
        .select(col("user_id"),
          graft.behavioral.BehavioralFunctions.sessionize(
            col("ts"), expr("INTERVAL '30' MINUTE")).over(sbw).as("session_id"))
      val sbPlan = sbdf.queryExecution.executedPlan.toString
      println(s"   plan has exchange=${sbPlan.contains("Exchange hashpartitioning")} " +
        s"sort=${sbPlan.contains("+- Sort ")}; " +
        s"${sbdf.agg(max(col("session_id"))).collect()(0).get(0)} max sessions/user")

      println("-- sorted-layout ingest cycle: stage -> fold -> generation:")
      val siTmp = graft.sources.Sinks.scratchDir("drive_sorted_ingest")
      graft.sources.Sinks.clearDir(siTmp)
      val siTable = graft.sources.Sinks.sessionTable(spark, "drive_si_events")
      val siEv = graft.sources.Tables.events(spark, sfDir)
        .select("user_id", "ts")
      for (slice <- 0 to 1) {
        graft.sources.Sinks.stageSortedDelta(
          siEv.filter(pmod(unix_micros(col("ts")), lit(2)) === slice),
          s"$siTmp/staging")
        val nFolded = graft.sources.Sinks.compactSortedBucketed(spark,
          siTable, s"$siTmp/events", s"$siTmp/staging",
          nBuckets = 4, "user_id", "ts")
        println(s"   delta $slice folded: generation now holds $nFolded rows")
      }
      val siPlan = graft.sources.Sinks.readBucketedSorted(spark, siTable)
        .select(col("user_id"),
          graft.behavioral.BehavioralFunctions.sessionize(
            col("ts"), expr("INTERVAL '30' MINUTE")).over(sbw).as("session_id"))
        .queryExecution.executedPlan.toString
      println(s"   post-ingest plan has exchange=${siPlan.contains("Exchange hashpartitioning")} " +
        s"sort=${siPlan.contains("+- Sort ")}")

      println("-- incremental digest append + crash-safe compaction + probe:")
      val ciTmp = graft.sources.Sinks.scratchDir("drive_compact") + "/idx"
      graft.sources.Sinks.clearDir(ciTmp)
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      for (half <- Seq(0, 1))
        graft.ops.Dedup.appendExactDigestIndex(
          docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 2 === half), ciTmp)
      val compacted = graft.ops.Dedup.compactDigestIndex(spark, ciTmp, 2)
      val dup = graft.ops.Dedup.exactDupAgainst(
        docs.filter(col("doc_id") % 10 === 0),
        graft.ops.Dedup.readDigestIndex(spark, ciTmp))
      println(s"   $compacted index rows compacted to 2 files; probe: " +
        s"${dup.filter(col("is_dup")).count()} dups / ${dup.count()} new docs")

      println("-- salted skew join (placement-only: same rollup as plain):")
      graft.ops.Skew.saltedEquiJoin(
          graft.sources.Tables.load(spark, sfDir, "lineitem")
            .select("l_orderkey", "l_extendedprice"),
          graft.sources.Tables.load(spark, sfDir, "orders")
            .select("o_orderkey", "o_orderpriority"),
          "l_orderkey", "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items")).orderBy("o_orderpriority").show(5, false)
    }

    println("=== real media codecs (JDK imageio / sound.sampled / MJPEG-AVI) ===")
    locally {
      import spark.implicits._
      import graft.ops.Multimodal
      val media = docs.select(col("doc_id").cast("long")).as[Long]
        .filter(col("doc_id") < 20).map { id =>
          (id,
            Multimodal.encodePng(32, 16)((x, _) =>
              (((id % 256).toInt) << 16) | (((id * 7 % 256).toInt) << 8) | ((x + id) % 256).toInt),
            Multimodal.encodeWav(8000,
              Array.tabulate(64)(i => (((id * 31 + i * 17) % 65536) - 32768).toShort)),
            Multimodal.encodeMjpegAvi(16, 16, 10, (0 until 8).map { i =>
              val v = 32 * ((i + id) % 8).toInt + 16
              Multimodal.encodeJpeg(16, 16)((_, _) => (v << 16) | (v << 8) | v)
            }))
        }.cache()
      println("-- image decode (real PNG codec):")
      Multimodal.decodeImages(media.map(m => Multimodal.ImageRow(m._1, m._2)))
        .orderBy("media_id").show(3, false)
      println("-- robustness: junk / truncated / bomb-header bytes flow as ok=false:")
      Multimodal.decodeImages(media.map { m =>
          Multimodal.ImageRow(m._1, (m._1 % 4) match {
            case 0 => m._2
            case 1 => Array[Byte](1, 2, 3)
            case 2 => m._2.take(40)
            case _ => Multimodal.bombHeaderPng(16384, 16384)
          })
        })
        .groupBy("ok").count().orderBy("ok").show(2, false)
      println("-- audio decode (real WAV codec):")
      Multimodal.decodeAudio(media.map(m => Multimodal.AudioRow(m._1, m._3)))
        .orderBy("media_id").show(3, false)
      println("-- video frame sampling (MJPEG-AVI, real JPEG codec, stride 2):")
      Multimodal.sampleVideoFrames(
          media.map(m => Multimodal.VideoRow(m._1, m._4)), 2)
        .orderBy("media_id", "frame_idx").show(6, false)
      media.unpersist()
    }

    println("=== SparkEntry.entry flagship (driver smoke) ===")
    val e = graft.SparkEntry.entry(spark)
    e.show(5, false)
    println(s"entry rows: ${e.count()}")

    spark.stop()
  }
}
