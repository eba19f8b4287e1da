package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** `Dedup.compactDigestIndex`: the maintenance op for the incrementally
  * appended digest index — many small appended batches folded into one
  * batch of few files, rows and values bit-identical, every live batch
  * served until the fold commits — plus the append path it maintains.
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import graft.sources.Sinks
  import graft.ops.{Dedup, GenerationalBatches}

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def liveBatches(path: String) =
    GenerationalBatches.liveBatches(fs, new org.apache.hadoop.fs.Path(path))

  private def parquetFiles(path: String): Int =
    liveBatches(path).map { case (_, p) =>
      GenerationalBatches.dataFiles(fs, p).size }.sum

  private def batchDirs(path: String): Seq[String] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .map(_.getName).sorted

  /** `batches` id-disjoint appends of 50 docs with distinct texts. */
  private def appended(dir: String, batches: Int): Unit = {
    import spark.implicits._
    Sinks.clearDir(dir)
    for (b <- 0 until batches)
      Dedup.appendExactDigestIndex((0 until 50)
        .map(i => (b * 1000L + i, s"digest_${b}_$i")).toDF("doc_id", "text"), dir)
  }

  test("compaction reduces file count, preserves every row, and reports the count") {
    val dir = Sinks.scratchDir("compact_spec") + "/idx"
    // 12 incremental append batches -> >= 12 small files
    appended(dir, 12)
    val filesBefore = parquetFiles(dir)
    assert(filesBefore >= 12, s"fixture not fragmented: $filesBefore files")
    val before = Dedup.readDigestIndex(spark, dir).orderBy("keep_id").collect().toSeq

    val n = Dedup.compactDigestIndex(spark, dir, targetPartitions = 2)
    assert(n === 600L)
    val filesAfter = parquetFiles(dir)
    assert(filesAfter === 2, s"compaction left $filesAfter files, expected 2")
    assert(filesAfter < filesBefore)
    val after = Dedup.readDigestIndex(spark, dir).orderBy("keep_id").collect().toSeq
    assert(after === before, "compaction changed the data")
    // no leftover batch: the folded ones are gone, one live batch remains
    assert(batchDirs(dir).size === 1, s"leftover batches: ${batchDirs(dir)}")
    // exactly the target, also above the input's file count
    assert(Dedup.compactDigestIndex(spark, dir, targetPartitions = 3) === 600L)
    assert(parquetFiles(dir) === 3)
  }

  test("a crash at ANY compaction step boundary serves the complete index") {
    // inject a simulated crash (exception) at each publish step in turn;
    // after every crash the index must still serve the complete original
    // data — the invariant that makes the fold recoverable. Then a fresh
    // compactDigestIndex on the same path must self-recover from the
    // crashed state and finish the job.
    for (crashAt <- Seq("written", "committed", "cleaned")) {
      val dir = Sinks.scratchDir("compact_crash") + s"/idx_$crashAt"
      appended(dir, 6)
      val expected = Dedup.readDigestIndex(spark, dir).orderBy("keep_id")
        .collect().toSeq

      val e = intercept[RuntimeException] {
        Dedup.compactDigestIndex(spark, dir, targetPartitions = 2,
          onStep = (s: String) => if (s == crashAt) throw new RuntimeException(s"boom at $s"))
      }
      assert(e.getMessage.contains(crashAt))
      val rows = Dedup.readDigestIndex(spark, dir).orderBy("keep_id").collect().toSeq
      assert(rows === expected,
        s"crash at '$crashAt': the index no longer serves the complete data")

      // and the next compaction self-recovers and completes
      val n = Dedup.compactDigestIndex(spark, dir, targetPartitions = 2)
      assert(n === 300L)
      assert(Dedup.readDigestIndex(spark, dir).orderBy("keep_id").collect().toSeq === expected)
      assert(batchDirs(dir).size === 1,
        s"crash at '$crashAt' leaked batches: ${batchDirs(dir)}")
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
    val idx = Dedup.readDigestIndex(spark, dir)
    assert(idx.count() === 40, "re-appended digests duplicated in the index")
    // the all-seen second batch is an empty delta: a committed no-op
    assert(liveBatches(dir).size === 1, "an empty delta published a batch")
    // first-writer-wins with id-ordered batches == global min doc_id
    val keeps = idx.orderBy("keep_id").select(col("keep_id").cast("long"))
      .as[Long].collect().toSeq
    assert(keeps === (0L until 40L))
    // and the probe emits exactly one verdict per new doc (no fan-out)
    val probe = graft.ops.Dedup.exactDupAgainst(
      docs.filter(col("doc_id") < 50), Dedup.readDigestIndex(spark, dir))
    assert(probe.count() === 50)
    assert(probe.filter(!col("is_dup")).count() === 0)
  }

  test("appendExactDigestIndex: empty dst dir, crashed and leased batch dirs") {
    import spark.implicits._
    val dir = graft.sources.Sinks.scratchDir("append_stage") + "/d"
    graft.sources.Sinks.clearDir(dir)
    // a crash between creating dst and the first commit leaves an EMPTY
    // dst: the next append must treat it as "no index yet", not wedge on
    // schema inference over zero data files
    assert(new java.io.File(dir).mkdirs())
    val docs = (0 until 50).map(i => (i.toLong, s"t ${i % 10}"))
      .toDF("doc_id", "text")
    // plant a CRASHED attempt's leftover: a marker-less batch dir holding
    // a digest no committed append wrote
    val crashed = new java.io.File(dir, "batch_0")
    Seq(("bogus", 999L)).toDF("text_hash", "keep_id")
      .write.parquet(crashed.getPath)
    // while a LIVE writer holds the store's lease, the append refuses and
    // the (possibly live) writer's batch dir survives
    val lease = GenerationalBatches.leasePath(new org.apache.hadoop.fs.Path(dir))
    val out = fs.create(lease, false)
    try out.write(s"pid=${ProcessHandle.current().pid()}\nhost=${
      java.net.InetAddress.getLocalHost.getHostName}\nstart_ms=${
      System.currentTimeMillis()}\n".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.appendExactDigestIndex(docs, dir)
    }
    assert(e.getMessage.contains("lease"))
    assert(crashed.exists(), "a leased writer's batch dir was deleted")
    fs.delete(lease, false)
    // with the lease free, the crashed dir is reaped, never served
    graft.ops.Dedup.appendExactDigestIndex(docs, dir)
    val idx = Dedup.readDigestIndex(spark, dir)
    assert(idx.count() === 10)
    assert(idx.filter(col("keep_id") === 999L).isEmpty,
      "a crashed attempt's batch was served")
    // a successful append leaves no unmarked batch, and nothing beside
    // the store
    assert(batchDirs(dir) === liveBatches(dir).map(_._2.getName),
      s"unmarked batches linger: ${batchDirs(dir)}")
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("d"),
      "the append left files beside the store")
  }

  test("two concurrent appends of one unseen text never index it twice") {
    import spark.implicits._
    // both appends carry the same text no batch holds yet; a barrier
    // inside their digest jobs lets each run only while the other runs
    // too (or after a timeout, when the other refused on the lease).
    // Without a lease both pass the anti-join and both publish the text
    val dir = graft.sources.Sinks.scratchDir("append_race") + "/d"
    graft.sources.Sinks.clearDir(dir)
    CompactionSpec.barrier.set(new java.util.concurrent.CountDownLatch(2))
    val meet = udf { (t: String) =>
      val b = CompactionSpec.barrier.get
      b.countDown(); b.await(3, java.util.concurrent.TimeUnit.SECONDS); t
    }
    def docs(id: Long) = Seq((id, "shared new text")).toDF("doc_id", "text")
      .select(col("doc_id"), meet(col("text")).as("text"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val runs = try Seq(1L, 2L).map(id => pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
      def call(): Option[Throwable] =
        try { Dedup.appendExactDigestIndex(docs(id), dir); None }
        catch { case e: IllegalStateException => Some(e) }
    })).map(_.get()) finally pool.shutdown()
    runs.flatten.foreach(e => assert(e.getMessage.contains("lease"), e))
    assert(runs.exists(_.isEmpty), "neither append committed")
    val idx = Dedup.readDigestIndex(spark, dir)
    assert(idx.count() === 1, "the same digest was indexed twice")
  }

  test("an append racing compactDigestIndex commits or refuses, never loses") {
    import spark.implicits._
    // the append runs while the fold is mid-publish (its rewrite landed,
    // not yet committed): it must either commit rows the index then
    // serves or refuse on the lease — never land rows the fold drops
    val dir = Sinks.scratchDir("compact_race") + "/idx"
    appended(dir, 3)
    val newDocs = Seq((9000L, "late text")).toDF("doc_id", "text")
    var appendErr: Option[Throwable] = None
    Dedup.compactDigestIndex(spark, dir, targetPartitions = 2,
      onStep = (s: String) => if (s == "written") {
        appendErr = try { Dedup.appendExactDigestIndex(newDocs, dir); None }
          catch { case e: IllegalStateException => Some(e) }
      })
    appendErr.foreach(e => assert(e.getMessage.contains("lease"), e))
    val keeps = Dedup.readDigestIndex(spark, dir)
      .select(col("keep_id").cast("long")).as[Long].collect().toSet
    assert(keeps.size === 150 + (if (appendErr.isEmpty) 1 else 0))
    assert(appendErr.nonEmpty || keeps.contains(9000L),
      "a committed append's row was lost by the fold")
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
      val appended = Dedup.readDigestIndex(spark, dir)
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
    val idx = Dedup.readDigestIndex(spark, dir).orderBy("keep_id")
      .select(col("keep_id").cast("long")).as[Long].collect().toSeq
    assert(idx === Seq(6L, 100L),
      s"expected first-writer-wins (6, 100), got $idx")
  }

  test("q101 (append-built, compacted index) answers exactly like q76 (one-shot build)") {
    // the local twin of the driver's oracle gate: the index grown by four
    // id-ordered appendExactDigestIndex batches and then compacted must
    // give the probe the SAME rows as q76's one-shot groupBy build — a
    // lost anti-join (duplicate digests in the index would fan out the
    // left join), a broken batch boundary, or a lossy fold all change the
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
    Sinks.clearDir(dir)
    for (half <- 0 to 1)
      Dedup.appendExactDigestIndex(docs.filter(col("doc_id") % 2 === half), dir)
    val batch = docs.filter(col("doc_id") < 40)
    val beforeRows = graft.ops.Dedup.exactDupAgainst(
      batch, Dedup.readDigestIndex(spark, dir)).orderBy("new_id").collect().toSeq
    Dedup.compactDigestIndex(spark, dir, targetPartitions = 1)
    val afterRows = graft.ops.Dedup.exactDupAgainst(
      batch, Dedup.readDigestIndex(spark, dir)).orderBy("new_id").collect().toSeq
    assert(afterRows === beforeRows)
  }
}

object CompactionSpec {
  /** The two racing appends' meeting point (tasks run in this JVM). */
  val barrier = new java.util.concurrent.atomic.AtomicReference(
    new java.util.concurrent.CountDownLatch(0))
}
