package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** `Sinks.compactParquet`: the maintenance op for incrementally-ingested
  * indexes — many small appended files rewritten into few, rows and
  * values bit-identical, original preserved on verification failure.
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import graft.sources.Sinks

  private def parquetFiles(path: String): Int =
    new java.io.File(path).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  test("compaction reduces file count, preserves every row, and reports the count") {
    import spark.implicits._
    val dir = Sinks.scratchDir("compact_spec") + "/idx"
    // simulate 12 incremental append batches -> >= 12 small files
    for (b <- 0 until 12)
      (0 until 50).map(i => (b * 1000L + i, s"digest_${b}_$i"))
        .toDF("doc_id", "digest")
        .write.mode("append").parquet(dir)
    val filesBefore = parquetFiles(dir)
    assert(filesBefore >= 12, s"fixture not fragmented: $filesBefore files")
    val before = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq

    val n = Sinks.compactParquet(spark, dir, targetPartitions = 2)
    assert(n === 600L)
    val filesAfter = parquetFiles(dir)
    assert(filesAfter <= 2, s"still fragmented after compaction: $filesAfter files")
    assert(filesAfter < filesBefore)
    val after = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq
    assert(after === before, "compaction changed the data")
    // no leftover temp directory
    assert(!new java.io.File(dir + ".compact_tmp").exists())
  }

  test("a crash at ANY swap-step boundary leaves a complete directory at path or path.compact_old") {
    import spark.implicits._
    // inject a simulated crash (exception) after each swap step in turn;
    // after every crash, EITHER `path` or `path.compact_old` must hold the
    // complete original data — the invariant that makes the swap
    // recoverable. Then a fresh compactParquet on the same path must
    // self-recover from the crashed state and finish the job.
    for (crashAt <- Seq("verified", "moved-aside", "swapped")) {
      val dir = Sinks.scratchDir("compact_crash") + s"/idx_$crashAt"
      for (b <- 0 until 6)
        (0 until 50).map(i => (b * 1000L + i, s"digest_${b}_$i"))
          .toDF("doc_id", "digest")
          .write.mode("append").parquet(dir)
      val expected = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq

      val e = intercept[RuntimeException] {
        Sinks.compactParquet(spark, dir, targetPartitions = 2,
          onStep = (s: String) => if (s == crashAt) throw new RuntimeException(s"boom at $s"),
          leaseStaleMs = graft.sources.Sinks.DefaultLeaseStaleMs)
      }
      assert(e.getMessage.contains(crashAt))
      // the recovery invariant: a COMPLETE copy at path or path.compact_old
      val survivor = Seq(dir, dir + ".compact_old")
        .find(p => new java.io.File(p).isDirectory)
        .getOrElse(fail(s"crash at '$crashAt' left neither $dir nor .compact_old"))
      val rows = spark.read.parquet(survivor).orderBy("doc_id").collect().toSeq
      assert(rows === expected,
        s"crash at '$crashAt': survivor $survivor is not the complete data")

      // and the next compaction self-recovers and completes
      val n = Sinks.compactParquet(spark, dir, targetPartitions = 2)
      assert(n === 300L)
      assert(spark.read.parquet(dir).orderBy("doc_id").collect().toSeq === expected)
      assert(!new java.io.File(dir + ".compact_old").exists())
      assert(!new java.io.File(dir + ".compact_tmp").exists())
    }
  }

  test("appendExactDigestIndex: a digest seen in an earlier batch never re-appends") {
    import spark.implicits._
    // engineered so EVERY batch-2 digest already exists in batch 1 — the
    // exact case the anti-join exists for. (The q101==q76 pin below
    // cannot see this on the sf0.001 fixture: no duplicated text there
    // happens to span both an id-quartile boundary and the probe split,
    // so a lost anti-join survived it in mutation batch 24 — AP241.)
    val docs = (0 until 200).map(i => (i.toLong, s"body ${i % 40}"))
      .toDF("doc_id", "text")
    val dir = graft.sources.Sinks.scratchDir("append_idx") + "/d"
    graft.sources.Sinks.clearDir(dir)
    graft.ops.Dedup.appendExactDigestIndex(docs.filter(col("doc_id") < 100), dir)
    graft.ops.Dedup.appendExactDigestIndex(docs.filter(col("doc_id") >= 100), dir)
    val idx = spark.read.parquet(dir)
    assert(idx.count() === 40, "re-appended digests duplicated in the index")
    // first-writer-wins with id-ordered batches == global min doc_id
    val keeps = idx.orderBy("keep_id").select(col("keep_id").cast("long"))
      .as[Long].collect().toSeq
    assert(keeps === (0L until 40L))
    // and the probe emits exactly one verdict per new doc (no fan-out)
    val probe = graft.ops.Dedup.exactDupAgainst(
      docs.filter(col("doc_id") < 50), spark.read.parquet(dir))
    assert(probe.count() === 50)
    assert(probe.filter(!col("is_dup")).count() === 0)
  }

  test("appendExactDigestIndex: empty dst dir and stale/fresh sibling stages") {
    import spark.implicits._
    val dir = graft.sources.Sinks.scratchDir("append_stage") + "/d"
    graft.sources.Sinks.clearDir(dir)
    // a crash between mkdirs(dst) and the first publish rename leaves an
    // EMPTY dst: the next append must treat it as "no index yet", not
    // wedge on schema inference over zero data files
    assert(new java.io.File(dir).mkdirs())
    val docs = (0 until 50).map(i => (i.toLong, s"t ${i % 10}"))
      .toDF("doc_id", "text")
    // plant one STALE leftover stage (crashed prior attempt) and one
    // FRESH one (a live concurrent writer): the append must reap only
    // the stale one
    val stale = new java.io.File(dir + ".append_tmp-stale")
    val fresh = new java.io.File(dir + ".append_tmp-fresh")
    assert(stale.mkdirs() && fresh.mkdirs())
    val longAgo =
      System.currentTimeMillis() - 2 * graft.sources.Sinks.DefaultLeaseStaleMs
    assert(stale.setLastModified(longAgo))
    // a LONG-RUNNING live writer: its stage dir's own mtime is old (set
    // at write start), but its task files keep landing further down the
    // tree — only the newest mtime in the tree says whether it is live
    val live = new java.io.File(dir + ".append_tmp-live")
    val liveTask = new java.io.File(live, "_temporary/0/_temporary/part-0")
    assert(liveTask.getParentFile.mkdirs() && liveTask.createNewFile())
    assert(live.setLastModified(longAgo))
    graft.ops.Dedup.appendExactDigestIndex(docs, dir)
    assert(spark.read.parquet(dir).count() === 10)
    assert(!stale.exists(), "stale leftover stage was not reaped")
    assert(fresh.exists(), "a FRESH (possibly live) sibling stage was deleted")
    assert(liveTask.exists(),
      "a live stage with an old top dir but fresh nested files was deleted")
    fresh.delete()
    graft.sources.Sinks.clearDir(live.getPath)
    // per-attempt stages never linger after a successful append
    assert(Option(new java.io.File(dir).getParentFile.listFiles()).get
      .forall(f => !f.getName.startsWith("d.append_tmp-")),
      "successful append left its own stage behind")
  }

  test("property: ANY id-ordered batch split builds the same index as one shot") {
    import spark.implicits._
    // random corpora with heavy text duplication, random ordered split
    // points: the append-built index must equal exactDigestIndex over the
    // whole corpus row-for-row — the invariant q101 rides on
    for (trial <- 1 to 4) {
      val rnd = new scala.util.Random(trial * 104729)
      val n = 80 + rnd.nextInt(200)
      val nTexts = 1 + rnd.nextInt(30)
      val docs = (0 until n)
        .map(i => (i.toLong, s"t${rnd.nextInt(nTexts)}")).toDF("doc_id", "text")
      docs.cache().count() // freeze the random fixture across reuses
      val cuts = (Seq(n) ++ Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(n)))
        .distinct.sorted
      val dir = graft.sources.Sinks.scratchDir("append_prop") + s"/t$trial"
      graft.sources.Sinks.clearDir(dir)
      var lo = -1L
      for (hi <- cuts) {
        graft.ops.Dedup.appendExactDigestIndex(
          docs.filter(col("doc_id") > lo && col("doc_id") <= hi), dir)
        lo = hi
      }
      val appended = spark.read.parquet(dir)
        .orderBy("text_hash").collect().toSeq
      val oneShot = graft.ops.Dedup.exactDigestIndex(docs)
        .orderBy("text_hash").collect().toSeq
      assert(appended === oneShot,
        s"trial $trial (n=$n texts=$nTexts cuts=$cuts): append-built index diverges")
      docs.unpersist()
    }
  }

  test("out-of-order batches keep the FIRST writer, not the global min id") {
    import spark.implicits._
    // the documented incremental contract: the earliest-INGESTED doc owns
    // its text. Ingest high ids first, then a smaller id with the same
    // text — keep_id must stay the first batch's id (a merge-style
    // min-rewrite would change it, and would also no longer be an append)
    val dir = graft.sources.Sinks.scratchDir("append_order") + "/d"
    graft.sources.Sinks.clearDir(dir)
    graft.ops.Dedup.appendExactDigestIndex(
      Seq((100L, "shared text")).toDF("doc_id", "text"), dir)
    graft.ops.Dedup.appendExactDigestIndex(
      Seq((5L, "shared text"), (6L, "fresh text")).toDF("doc_id", "text"), dir)
    val idx = spark.read.parquet(dir).orderBy("keep_id")
      .select(col("keep_id").cast("long")).as[Long].collect().toSeq
    assert(idx === Seq(6L, 100L),
      s"expected first-writer-wins (6, 100), got $idx")
  }

  test("q101 (append-built, compacted index) answers exactly like q76 (one-shot build)") {
    // the local twin of the driver's oracle gate: the index grown by four
    // id-ordered appendExactDigestIndex batches and then compacted must
    // give the probe the SAME rows as q76's one-shot groupBy build — a
    // lost anti-join (duplicate digests in the index would fan out the
    // left join), a broken batch boundary, or a lossy swap all change the
    // row multiset here
    val dir = "/root/testdata/sf0.001"
    val q101 = SparkEntry.queries("q101_compacted_index")(spark, dir)
      .orderBy("new_id").collect().toSeq
    val q76 = SparkEntry.queries("q76_incremental_exact")(spark, dir)
      .orderBy("new_id").collect().toSeq
    assert(q101.nonEmpty)
    assert(q101 === q76,
      "append-built + compacted index diverges from the one-shot build")
  }

  test("a compacted incremental index answers probes identically") {
    import spark.implicits._
    // the q76-style shape: digest index probed by a batch — compaction is
    // pure layout, the probe answer must be identical
    val docs = (0 until 200).map(i =>
      (i.toLong, s"text body number ${i % 60}")).toDF("doc_id", "text")
    val dir = Sinks.scratchDir("compact_spec") + "/digest"
    for (half <- 0 to 1)
      graft.ops.Dedup.exactDigestIndex(
          docs.filter(col("doc_id") % 2 === half))
        .write.mode("append").parquet(dir)
    val batch = docs.filter(col("doc_id") < 40)
    val beforeRows = graft.ops.Dedup.exactDupAgainst(
      batch, spark.read.parquet(dir)).orderBy("new_id").collect().toSeq
    Sinks.compactParquet(spark, dir, targetPartitions = 1)
    val afterRows = graft.ops.Dedup.exactDupAgainst(
      batch, spark.read.parquet(dir)).orderBy("new_id").collect().toSeq
    assert(afterRows === beforeRows)
  }
}
