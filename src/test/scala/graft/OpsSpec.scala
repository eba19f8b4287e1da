package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different content about spark aggregation engines here"),
    (5L, "about content different completely here engines aggregation spark") // permutation of 4

  ).toDF("doc_id", "text")

  test("exact dedup groups byte-identical docs") {
    val got = Dedup.exactDupGroups(docs).collect()
    assert(got.length === 4) // 1+2 merged
    val dupGroup = got.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") === 1L)
  }

  test("jaccard inverted-index join finds exact and near dups") {
    val pairs = Dedup.jaccardJoin(docs, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 === 1.0)
  }

  test("minhash LSH join agrees with the exact join on high-sim pairs") {
    val exact = Dedup.jaccardJoin(docs, 0.5).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshJoin(docs, 0.5).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("minhash signature is deterministic and length-k") {
    val sig1 = docs.select(Dedup.minhashSignature(Dedup.shingles(col("text")), 16).as("s"))
      .collect().map(_.getSeq[Long](0))
    val sig2 = docs.select(Dedup.minhashSignature(Dedup.shingles(col("text")), 16).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sig1.toSeq === sig2.toSeq)
    assert(sig1.forall(_.length == 16))
    // identical docs → identical signatures
    assert(sig1(0) === sig1(1))
  }

  test("simhash: identical docs get identical hashes, near dups small hamming") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) === sh(2L))
    val hamming13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hamming14 = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hamming13 < hamming14) // near-dup closer than unrelated
    val pairs = Dedup.simhashPairs(docs, maxDist = 3).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // 4 and 5 share the same word multiset — same tokens → same simhash
    assert(sh(4L) === sh(5L))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0, 0.0, 0.0)),
    (1L, Array(0.9, 0.1, 0.0)),   // close to 0
    (2L, Array(0.0, 1.0, 0.0)),   // orthogonal to 0
    (3L, Array(-1.0, 0.0, 0.0)),  // opposite of 0
    (4L, Array(0.95, 0.05, 0.0))  // close to 0 and 1
  ).toDF("vec_id", "v")

  test("cosine column computes the exact value") {
    val sim = vecs.filter($"vec_id" === 1L)
      .select(Similarity.cosine($"v", array(lit(1.0), lit(0.0), lit(0.0))).as("s"))
      .collect()(0).getDouble(0)
    assert(math.abs(sim - 0.9 / math.sqrt(0.82)) < 1e-12)
  }

  test("bruteTopK ranks by cosine desc") {
    val q = vecs.filter($"vec_id" === 0L).select($"v".as("qv"))
    val top = Similarity.bruteTopK(vecs.filter($"vec_id" =!= 0L), q, 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(top === Seq(4L, 1L))
  }

  test("IVF index: full probe equals brute force; partial probe is a subset") {
    // deterministic 2D grid of vectors
    val grid = (for (x <- 0 until 8; y <- 0 until 8)
      yield ((x * 8 + y).toLong, Array(x.toDouble + 0.1, y.toDouble + 0.1)))
      .toDF("vec_id", "v")
    val (indexed, centroids) = Similarity.ivfIndex(grid, nCells = 4, iterations = 3)
    assert(indexed.select("cell").distinct().count() <= 4)
    // many grid vectors tie on cosine (all (d,d) diagonals align with the
    // query), so compare SIMILARITIES, which are tie-insensitive
    val query = Array(7.0, 7.0)
    def sims(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.collect().map(r => math.rint(r.getAs[Double]("sim") * 1e12) / 1e12).toSeq
    // probing ALL cells == exact brute-force top-k
    val ivfAll = sims(Similarity.ivfTopK(indexed, centroids, query, k = 5, nProbe = 4))
    val q = Seq((0L, query)).toDF("qid", "qv").select(col("qv"))
    val brute = sims(Similarity.bruteTopK(grid, q, 5))
    assert(ivfAll === brute)
    // probing 1 cell still finds a best-similarity neighbor
    val ivf1 = sims(Similarity.ivfTopK(indexed, centroids, query, k = 1, nProbe = 1))
    assert(ivf1 === brute.take(1))
  }

  test("lshSelfJoin finds the high-cosine pairs the exact join finds") {
    val exact = Similarity.selfJoinPairs(vecs, 0.9)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshSelfJoin(vecs, 0.9, dim = 3, nPlanes = 8, tables = 6)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh === exact) // high-sim vectors collide in ≥1 of 6 tables w.h.p.
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("langId identifies real multilingual samples") {
    val samples = Seq(
      ("the cat is on the roof of a house", "en"),
      ("el perro y la casa de los vecinos que viven en madrid", "es"),
      ("der hund und die katze ist von mit dem haus", "de"),
      ("le chien et les chats dans une maison est grande", "fr"),
      ("这是一个中文句子", "zh"),
      ("xyzzy qwerty asdf", "und")
    ).toDF("text", "expected")
    val got = samples.select(col("expected"), TextAnalysis.langId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0), r.toString))
  }

  test("tokensBpe splits letter runs, digit runs, and marks") {
    val got = Seq("ab12,cd!").toDF("t")
      .select(TextAnalysis.tokensBpe(col("t"))).collect()(0).getSeq[String](0)
    assert(got === Seq("ab", "12", ",", "cd", "!"))
  }

  test("qualityScore is in [0,1] and penalizes punctuation soup") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs to the hills in the morning",
      "!!! ??? ... ;;; :::"
    ).toDF("t").select(TextAnalysis.qualityScore(col("t")).as("q"))
    val Array(good, bad) = df.collect().map(_.getDouble(0))
    assert(good > bad)
    assert(good >= 0.0 && good <= 1.0 && bad >= 0.0 && bad <= 1.0)
  }

  test("two-step winnowing equals the single-expression form") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789"), (2L, "short"), (3L, "exactly11ch")).toDF("id", "t")
    val single = df.select(col("id"),
      TextAnalysis.winnowFingerprints(col("t"), 8, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val twoStep = df
      .select(col("id"), TextAnalysis.kgramHashes(col("t"), 8).as("h"))
      .select(col("id"), TextAnalysis.winnowFromHashes(col("h"), 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(single === twoStep)
  }

  test("winnowing: identical docs share fingerprints, short docs get none") {
    val df = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz"),
      (2L, "abcdefghijklmnopqrstuvwxyz"),
      (3L, "tiny")
    ).toDF("id", "t").select(col("id"),
      TextAnalysis.winnowFingerprints(col("t"), 8, 4).as("fp"))
    val rows = df.collect().map(r => r.getAs[Long]("id") -> r.getSeq[String](1)).toMap
    assert(rows(1L) === rows(2L))
    assert(rows(1L).nonEmpty)
    assert(rows(3L).isEmpty)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("demo table round-trips the binary column with typed metadata") {
    val media = Multimodal.demoTable(spark, 30)
    val rows = media.collect()
    assert(rows.length === 30)
    assert(rows.forall(_.bytes.length > 4))
    assert(rows.count(_.kind == "image") === 10)
  }

  test("feature extraction is deterministic and validates the stub header") {
    val media = Multimodal.demoTable(spark, 30)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.toSeq === f2.toSeq)
    assert(f1.forall(_.header_ok))
    assert(f1.forall(f => f.mean_byte >= 0 && f.mean_byte <= 255))
  }

  test("frame sampling only emits for video and strides the payload") {
    val media = Multimodal.demoTable(spark, 30)
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_bytes.length == 16))
    val videoIds = media.filter(col("kind") === "video").collect().map(_.media_id).toSet
    assert(frames.map(_.media_id).toSet.subsetOf(videoIds))
    assert(frames.forall(_.frame_idx % 2 == 0))
  }

  test("metadata-only query prunes the binary column at the scan") {
    val media = Multimodal.demoTable(spark, 30)
    // write+read as parquet so column pruning is observable in the plan
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    media.write.mode("overwrite").parquet(dir)
    val stats = Multimodal.metadataStats(spark.read.parquet(dir))
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("bytes"), s"binary column not pruned:\n$plan")
    assert(stats.collect().length === 3)
  }
}

class DupComponentsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import org.apache.spark.sql.functions.col

  test("dupComponents assigns min-id labels across transitive clusters") {
    import spark.implicits._
    // clusters: {1,2,3} via 1-2, 2-3; {7,9}; chain {10,11,12,13}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.dupComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("pointer doubling converges a diameter-60 path in O(log d) rounds") {
    import spark.implicits._
    // path 0-1-2-...-60: plain one-hop min propagation needs 60 rounds;
    // the label-of-label hop must finish well inside the default budget
    // (driverThreshold = 0 forces the distributed loop under test)
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.dupComponents(pairs, driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 61 && got.values.forall(_ == 0L), got.toString)
    graft.ops.OpCaches.unpersistAll()
  }

  test("unconverged exit throws instead of silently splitting a component") {
    import spark.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.dupComponents(pairs, maxRounds = 2, driverThreshold = 0)
    }
    assert(e.getMessage.contains("did not converge"))
    graft.ops.OpCaches.unpersistAll()
  }

  test("driver union-find and distributed propagation agree on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // random sparse graph over ~200 ids: mixes singleton pairs, chains,
      // and dense blobs as edge density varies
      val pairs = (0 until 150).map { _ =>
        val a = rnd.nextInt(200).toLong
        val b = rnd.nextInt(200).toLong
        (math.min(a, b), math.max(a, b) + 1) // +1 avoids self-loops
      }.toDF("doc_a", "doc_b")
      val viaDriver = graft.ops.Dedup.dupComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaCluster = graft.ops.Dedup.dupComponents(pairs, driverThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDriver === viaCluster, s"seed=$seed")
      graft.ops.OpCaches.unpersistAll()
    }
  }
}

class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("register binds each name once: a second call keeps every binding") {
    // a rebind replaces the builder (and logs a WARN per name); every
    // contract fixture load calls register, so it must be idempotent
    val spark = GraftSpark.spark.newSession()
    val reg = spark.sessionState.functionRegistry
    val before = reg.listFunction().toSet
    graft.behavioral.BehavioralFunctions.register(spark)
    val names = reg.listFunction().filterNot(before).sortBy(_.funcName)
    assert(names.size === 19, names)
    def bound = names.map(n =>
      (reg.lookupFunction(n).get, reg.lookupFunctionBuilder(n).get))
    val first = bound
    graft.behavioral.BehavioralFunctions.register(spark)
    names.zip(first).zip(bound).foreach { case ((n, (i1, b1)), (i2, b2)) =>
      assert((i1 eq i2) && (b1 eq b2), s"$n was bound again")
    }
  }

  test("GraftExtensions injects all seven functions into a session registry") {
    // spark.sql.extensions is a STATIC conf (applies only when the
    // SparkContext is created), so exercise the same code path directly:
    // build the extensions object and register into a fresh session's
    // registry, then resolve + run through SQL.
    val spark = GraftSpark.spark.newSession()
    org.apache.spark.sql.graftbridge.ColumnBridge.applyFunctionExtensions(
      spark, new graft.behavioral.GraftExtensions())
    val funnel = spark.sql(
      """SELECT window_funnel(INTERVAL '1' HOUR, ts, c1, c2) FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', true, false),
        |  (TIMESTAMP '2024-01-01 00:10:00', false, true) AS t(ts, c1, c2)""".stripMargin)
      .collect()(0).getInt(0)
    assert(funnel === 2)
    val sid = spark.sql(
      """SELECT sessionize(ts, INTERVAL '30' MINUTE) OVER (ORDER BY ts)
        |FROM (SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts)""".stripMargin)
      .collect()(0).getLong(0)
    assert(sid === 1L)
    for (f <- Seq("retention", "sequence_match", "sequence_count",
        "sequence_match_events", "sequence_next_node")) {
      assert(spark.catalog.functionExists(f), f)
    }
    // the rollup twins ride the cluster path too, end to end: build a
    // state and fold it back in one SQL statement per family
    val rolled = spark.sql(
      """WITH st AS (SELECT funnel_state(ts, c1, c2) AS fs,
        |                   retention_state(c1, c2) AS rs FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', true, false),
        |  (TIMESTAMP '2024-01-01 00:10:00', false, true) AS t(ts, c1, c2))
        |SELECT funnel_merge(INTERVAL '1' HOUR, fs) AS f,
        |       retention_merge(rs, 2) AS r,
        |       sequence_match_merge('(?1).*(?2)', fs) AS m,
        |       sequence_count_merge('(?2)', fs) AS n,
        |       size(sequence_match_events_merge('(?1)(?2)', fs)) AS ne
        |FROM st""".stripMargin).collect()(0)
    assert(rolled.getInt(0) === 2)
    assert(rolled.getSeq[Boolean](1) === Seq(true, true))
    assert(rolled.getBoolean(2) === true)
    assert(rolled.getLong(3) === 1L)
    assert(rolled.getInt(4) === 2)
  }
}

class SourcesSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("behavioral queries run identically over parquet, csv, and json sources") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_sources").toString
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_type"))
    ev.write.mode("overwrite").parquet(s"$dir/p")
    ev.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    ev.write.mode("overwrite").json(s"$dir/j")
    ev.write.mode("overwrite").orc(s"$dir/o")
    def funnelOver(df: org.apache.spark.sql.DataFrame): Map[Long, Int] = {
      df.createOrReplaceTempView("src_events")
      spark.sql(
        """SELECT CAST(user_id AS BIGINT) AS user_id,
          |  window_funnel(INTERVAL '1' HOUR, CAST(ts AS TIMESTAMP),
          |  event_type='view', event_type='click') AS s
          |FROM src_events GROUP BY 1""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    val fromParquet = funnelOver(spark.read.parquet(s"$dir/p"))
    val fromCsv = funnelOver(spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/c"))
    val fromJson = funnelOver(spark.read.json(s"$dir/j"))
    val fromOrc = funnelOver(spark.read.orc(s"$dir/o"))
    assert(fromParquet === fromCsv)
    assert(fromParquet === fromJson)
    assert(fromParquet === fromOrc)
    assert(fromParquet.nonEmpty)
  }

  // Format matrix for Tables.events: the driver's testdata generator has
  // shipped `ts` as TIMESTAMP(NANOS), plain timestamp[us] (NTZ), UTC-adjusted
  // TIMESTAMP(MICROS), and could plausibly ship raw int64 micros. The loader
  // must yield byte-identical rows for all of them — the round-8 outage was
  // exactly this class of break (271 tests green while the product couldn't
  // read its own input table).
  test("Tables.events loads µs-NTZ, µs-UTC, TIMESTAMP_NANOS, and long-micros parquet identically") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_evt_formats").toString
    // Base truth in epoch micros; nanos fixtures add sub-µs residue that the
    // ns→µs truncation must drop.
    val base: Seq[(Long, Long, String)] = Seq(
      (1L, 1704067200000000L, "view"),
      (1L, 1704067201500000L, "click"),
      (2L, 1704070800000123L, "view"),
      (2L, 1704070800000123L, "purchase"),
      (3L, 1704153599999999L, "view"))

    // (a) µs NTZ: Spark writes TimestampNTZType as TIMESTAMP(MICROS, adjusted=false)
    spark.createDataFrame(spark.sparkContext.parallelize(base.map { case (u, us, e) =>
        org.apache.spark.sql.Row(u, java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC), e)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampNTZType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ntz")

    // (b) µs instant: TimestampType → TIMESTAMP(MICROS, adjusted=true)
    spark.createDataFrame(spark.sparkContext.parallelize(base.map { case (u, us, e) =>
        org.apache.spark.sql.Row(u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L)), e)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/utc")

    // (c) TIMESTAMP(NANOS): Spark can't write it — use parquet-java directly,
    // with sub-µs residue to exercise the truncation.
    writeNanosFixture(s"$dir/nanos/part-0.parquet",
      base.zipWithIndex.map { case ((u, us, e), i) => (u, us * 1000L + (i * 211L % 1000L), e) })

    // (d) raw int64 micros (no logical annotation) → LongType arm
    writeLongMicrosFixture(s"$dir/longus/part-0.parquet", base)

    def rowsOf(sub: String): Seq[(Long, Long, String)] =
      graft.sources.Tables.events(spark, s"$dir/$sub-AS-events")
        .select(col("user_id"), unix_micros(col("ts")), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted

    // Tables.events expects $sfDir/events.parquet — symlink each fixture dir.
    for (sub <- Seq("ntz", "utc", "nanos", "longus")) {
      val d = java.nio.file.Paths.get(s"$dir/$sub-AS-events")
      java.nio.file.Files.createDirectory(d)
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/$sub"))
    }
    val expected = base.sorted
    for (sub <- Seq("ntz", "utc", "nanos", "longus")) {
      val got = rowsOf(sub)
      assert(got === expected, s"format=$sub")
      assert(graft.sources.Tables.events(spark, s"$dir/$sub-AS-events")
        .schema("ts").dataType === org.apache.spark.sql.types.TimestampType, s"format=$sub dtype")
    }
  }

  test("q08/q72 tie-free guard fires loudly on a fixture with duplicate (user_id, ts)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evt_ties").toString
    writeLongMicrosFixture(s"$dir/d/part-0.parquet", Seq(
      (1L, 1704067200000000L, "signup"),
      (1L, 1704067200000000L, "view"), // same (user_id, ts) — the §7.4 trap
      (1L, 1704067201000000L, "click")))
    val d = java.nio.file.Paths.get(s"$dir/evt")
    java.nio.file.Files.createDirectory(d)
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/d"))
    val ex = intercept[IllegalArgumentException] {
      graft.SparkEntry.queries("q08_seq_next_node")(spark, s"$dir/evt").collect()
    }
    assert(ex.getMessage.contains("tie-free"))
  }

  private def writeNanosFixture(path: String, rows: Seq[(Long, Long, String)]): Unit =
    writeRawParquet(path, rows,
      org.apache.parquet.schema.LogicalTypeAnnotation.timestampType(
        false, org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS))

  private def writeLongMicrosFixture(path: String, rows: Seq[(Long, Long, String)]): Unit =
    writeRawParquet(path, rows, null)

  /** Write (user_id:int64, ts:int64[+annotation], event_type:utf8) with parquet-java. */
  private def writeRawParquet(path: String, rows: Seq[(Long, Long, String)],
      tsAnnotation: org.apache.parquet.schema.LogicalTypeAnnotation): Unit = {
    import org.apache.parquet.schema.{Types, PrimitiveType, LogicalTypeAnnotation}
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val tsField = {
      val b = Types.required(PrimitiveType.PrimitiveTypeName.INT64)
      (if (tsAnnotation != null) b.as(tsAnnotation) else b).named("ts")
    }
    val schema = Types.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.INT64).named("user_id")
      .addField(tsField)
      .required(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("event_type")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { case (u, ts, e) =>
      writer.write(f.newGroup().append("user_id", u).append("ts", ts).append("event_type", e))
    } finally writer.close()
  }
}

class ResizeSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("resize stub rewrites dims and payload for images only, deterministically") {
    val media = graft.ops.Multimodal.demoTable(spark, 12)
    val resized = graft.ops.Multimodal.resize(media, 8, 8).collect()
      .map(r => r.media_id -> r).toMap
    val orig = media.collect().map(r => r.media_id -> r).toMap
    resized.values.filter(_.kind == "image").foreach { r =>
      assert(r.width === 8 && r.height === 8)
      assert(r.bytes.length === 4 + 64) // magic + 8x8 raster
    }
    resized.values.filter(_.kind != "image").foreach { r =>
      assert(r.bytes.sameElements(orig(r.media_id).bytes)) // untouched
    }
    val again = graft.ops.Multimodal.resize(media, 8, 8).collect()
      .map(r => r.media_id -> r.bytes.toSeq).toMap
    assert(resized.view.mapValues(_.bytes.toSeq).toMap === again)
  }

  test("resize picks source pixels by nearest-neighbor index arithmetic") {
    import spark.implicits._
    // 4x4 raster whose byte value IS its index: downsampling to 2x2 must
    // read sources (sx, sy) = (x*4/2, y*4/2) -> bytes 0, 2, 8, 10; any
    // inverted/transposed mapping reads different indices
    val magic = "GFT0".getBytes("US-ASCII")
    val payload = Array.tabulate(16)(_.toByte)
    val row = graft.ops.Multimodal.MediaRow(1L, "image", magic ++ payload,
      width = 4, height = 4, sample_rate = 0, duration_ms = 0)
    val out = graft.ops.Multimodal.resize(Seq(row).toDS(), 2, 2).collect()(0)
    assert(out.bytes.drop(4).toSeq === Seq[Byte](0, 2, 8, 10))
  }
}
