package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A local filesystem whose stream for a `_BATCH_COMMITTED` file, once
  * armed, keeps only the bytes up to the first newline and throws on
  * close — a writer dying mid-write of the generation's commit marker. */
class TornMarkerFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getUri: java.net.URI = java.net.URI.create("tornfs:///")
  override def getScheme: String = "tornfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    tear(f, super.create(f, overwrite, bufferSize, replication, blockSize,
      progress))
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    tear(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  private def tear(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!(f.getName.contains("_BATCH_COMMITTED") &&
        TornMarkerFs.armed.getAndSet(false))) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private var torn = false
      def write(b: Int): Unit = if (!torn) { out.write(b); torn = b == '\n' }
      override def close(): Unit = {
        out.close()
        throw new java.io.IOException("injected crash closing the marker")
      }
    }, null)
}

object TornMarkerFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** The sort-eliding layout's ingest cycle (`Sinks.stageSortedDelta` /
  * `compactSortedBucketed` / `readSortedWithStaging`): deltas land
  * cheaply, generational compaction folds them without ever overwriting
  * the directory a reader may scan, a crash at any step boundary loses
  * nothing and double-folds nothing, and the compacted table keeps the
  * zero-exchange/zero-sort plan the layout exists for. q104 pins the
  * end answer under the DuckDB hash; this spec pins the machinery.
  */
class SortedIngestSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import graft.sources.Sinks

  /** 3 interleaved deltas over a small synthetic event set. */
  private def deltas(): Seq[DataFrame] = {
    import spark.implicits._
    val all = (0 until 900).map { i =>
      (i % 7L, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(i * 11L)))
    }
    (0 until 3).map(s => all.zipWithIndex.collect {
      case ((u, ts), idx) if idx % 3 == s => (u, ts)
    }.toDF("user_id", "ts"))
  }

  private def fresh(name: String): (String, String, String) = {
    val tmp = Sinks.scratchDir("sorted_ingest_spec") + s"/$name"
    Sinks.clearDir(tmp)
    val t = Sinks.sessionTable(spark, s"graft_sis_$name")
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    (s"$tmp/events", s"$tmp/staging", t)
  }

  private def collected(df: DataFrame): Seq[(Long, java.sql.Timestamp)] = {
    import spark.implicits._
    df.select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
  }

  private def genDirs(base: String): Seq[String] = {
    val f = new java.io.File(base)
    if (!f.isDirectory) Seq.empty
    else f.listFiles().filter(d => d.isDirectory &&
      d.getName.startsWith("batch_")).map(_.getName).sorted.toSeq
  }

  test("three staged deltas fold into one generation holding every row") {
    val (base, staging, t) = fresh("basic")
    val ds = deltas()
    var expected = Seq.empty[(Long, java.sql.Timestamp)]
    for (d <- ds) {
      Sinks.stageSortedDelta(d, staging)
      val n = Sinks.compactSortedBucketed(spark, t, base, staging,
        nBuckets = 4, "user_id", "ts")
      expected = (expected ++ collected(d)).sorted
      assert(n === expected.size.toLong)
      assert(collected(Sinks.readBucketedSorted(spark, t)) === expected)
      // exactly ONE generation survives each cycle; staging is drained
      assert(genDirs(base).size === 1, s"generations leaked: ${genDirs(base)}")
      assert(new java.io.File(staging).listFiles()
        .forall(!_.getName.endsWith(".parquet")), "staging not drained")
    }
  }

  test("the compacted table still plans sessionize with zero exchanges and zero sorts") {
    val (base, staging, t) = fresh("plan")
    deltas().foreach { d =>
      Sinks.stageSortedDelta(d, staging)
      Sinks.compactSortedBucketed(spark, t, base, staging,
        nBuckets = 4, "user_id", "ts")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val plan = Sinks.readBucketedSorted(spark, t)
      .select(col("user_id"), col("ts"),
        graft.behavioral.BehavioralFunctions.sessionize(col("ts"),
          expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"ingested layout still shuffles:\n$plan")
    assert(!plan.contains("Sort"), s"ingested layout still sorts:\n$plan")
    // with staging drained, the merge-on-read view is the same bucketed scan
    val mor = Sinks.readSortedWithStaging(spark, t, staging)
      .select(col("user_id"), col("ts"),
        graft.behavioral.BehavioralFunctions.sessionize(col("ts"),
          expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
      .queryExecution.executedPlan.toString
    assert(!mor.contains("Exchange") && !mor.contains("Sort"),
      s"drained merge-on-read view lost the layout:\n$mor")
  }

  test("two deltas staged back-to-back fold together in one compaction") {
    // staging must ACCUMULATE (parquet append): a landing delta can never
    // clobber one already waiting for the next fold
    val (base, staging, t) = fresh("multistage")
    val ds = deltas()
    Sinks.stageSortedDelta(ds(0), staging)
    Sinks.stageSortedDelta(ds(1), staging)
    val n = Sinks.compactSortedBucketed(spark, t, base, staging,
      nBuckets = 4, "user_id", "ts")
    val expected = (collected(ds(0)) ++ collected(ds(1))).sorted
    assert(n === expected.size.toLong)
    assert(collected(Sinks.readBucketedSorted(spark, t)) === expected)
  }

  test("merge-on-read answers exactly while a delta is still staged") {
    val (base, staging, t) = fresh("mor")
    val ds = deltas()
    Sinks.stageSortedDelta(ds(0), staging)
    Sinks.compactSortedBucketed(spark, t, base, staging,
      nBuckets = 4, "user_id", "ts")
    // second delta staged but NOT folded
    Sinks.stageSortedDelta(ds(1), staging)
    val expected = (collected(ds(0)) ++ collected(ds(1))).sorted
    assert(collected(Sinks.readSortedWithStaging(spark, t, staging)) ===
      expected)
    // main-only view is the last committed snapshot
    assert(collected(Sinks.readBucketedSorted(spark, t)) ===
      collected(ds(0)).sorted)
  }

  test("a crash at ANY step boundary loses nothing and double-folds nothing") {
    val ds = deltas()
    for (crashAt <- Seq("written", "committed", "cleaned")) {
      val (base, staging, t) = fresh(s"crash_$crashAt")
      Sinks.stageSortedDelta(ds(0), staging)
      Sinks.compactSortedBucketed(spark, t, base, staging,
        nBuckets = 4, "user_id", "ts")
      Sinks.stageSortedDelta(ds(1), staging)
      val e = intercept[RuntimeException] {
        Sinks.compactSortedBucketed(spark, t, base, staging, 4,
          "user_id", Seq("ts"),
          onStep = s => if (s == crashAt) throw new RuntimeException(s"boom at $s"))
      }
      assert(e.getMessage.contains(crashAt))
      // recovery + re-fold: the next compaction must land EXACTLY
      // delta0 + delta1 — nothing lost (crash before commit) and
      // nothing doubled (crash after commit but before staging clear)
      val n = Sinks.compactSortedBucketed(spark, t, base, staging,
        nBuckets = 4, "user_id", "ts")
      val expected = (collected(ds(0)) ++ collected(ds(1))).sorted
      assert(n === expected.size.toLong,
        s"crash at '$crashAt': recompaction row count $n != ${expected.size}")
      assert(collected(Sinks.readBucketedSorted(spark, t)) === expected,
        s"crash at '$crashAt': data diverged after recovery")
      assert(genDirs(base).size === 1,
        s"crash at '$crashAt' leaked generations: ${genDirs(base)}")
    }
  }

  test("a read after a crash at any fold step serves each staged row once") {
    // the merge-on-read view BEFORE the next compaction: whichever step
    // the fold died at, it must serve delta0 + delta1 exactly once — a
    // table re-pointed at the new generation before its commit, or a
    // staged file still unioned after a committed marker folded it,
    // serves delta1 twice
    val ds = deltas()
    val expected = (collected(ds(0)) ++ collected(ds(1))).sorted
    for (crashAt <- Seq("written", "committed", "cleaned")) {
      val (base, staging, t) = fresh(s"read_crash_$crashAt")
      Sinks.stageSortedDelta(ds(0), staging)
      Sinks.compactSortedBucketed(spark, t, base, staging,
        nBuckets = 4, "user_id", "ts")
      Sinks.stageSortedDelta(ds(1), staging)
      intercept[RuntimeException] {
        Sinks.compactSortedBucketed(spark, t, base, staging, 4,
          "user_id", Seq("ts"),
          onStep = s => if (s == crashAt) throw new RuntimeException(s"boom at $s"))
      }
      assert(collected(Sinks.readSortedWithStaging(spark, t, staging)) ===
        expected, s"crash at '$crashAt': merge-on-read is not the committed rows")
      if (crashAt == "written")
        assert(collected(Sinks.readBucketedSorted(spark, t)) ===
          collected(ds(0)).sorted,
          "the table serves a generation that never committed")
    }
  }

  test("a crash while writing the generation marker never commits a torn list") {
    spark.sparkContext.hadoopConfiguration.set("fs.tornfs.impl",
      classOf[TornMarkerFs].getName)
    val (localBase, localStaging, t) = fresh("torn_marker")
    val (base, staging) = (s"tornfs://$localBase", s"tornfs://$localStaging")
    val ds = deltas()
    Sinks.stageSortedDelta(ds(0), staging)
    Sinks.compactSortedBucketed(spark, t, base, staging,
      nBuckets = 4, "user_id", "ts")
    // two staged files: a torn marker can list the first and lose the second
    Sinks.stageSortedDelta(ds(1), staging)
    Sinks.stageSortedDelta(ds(2), staging)
    TornMarkerFs.armed.set(true)
    try {
      val e = intercept[java.io.IOException] {
        Sinks.compactSortedBucketed(spark, t, base, staging,
          nBuckets = 4, "user_id", "ts")
      }
      assert(e.getMessage.contains("injected"), s"unrelated failure: $e")
    } finally TornMarkerFs.armed.set(false)
    val n = Sinks.compactSortedBucketed(spark, t, base, staging,
      nBuckets = 4, "user_id", "ts")
    val expected = ds.flatMap(collected).sorted
    assert(n === expected.size.toLong, "a staged delta was folded twice or lost")
    assert(collected(Sinks.readSortedWithStaging(spark, t, staging)) ===
      expected)
  }

  test("compaction with an empty staging directory is a no-op") {
    val (base, staging, t) = fresh("noop")
    Sinks.stageSortedDelta(deltas()(0), staging)
    val n1 = Sinks.compactSortedBucketed(spark, t, base, staging,
      nBuckets = 4, "user_id", "ts")
    val gensBefore = genDirs(base)
    val n2 = Sinks.compactSortedBucketed(spark, t, base, staging,
      nBuckets = 4, "user_id", "ts")
    assert(n1 === n2)
    assert(genDirs(base) === gensBefore, "no-op compaction wrote a generation")
  }

  test("compaction refuses an empty cycle (no staging, no generation)") {
    val (base, staging, t) = fresh("empty")
    val e = intercept[IllegalArgumentException] {
      Sinks.compactSortedBucketed(spark, t, base, staging,
        nBuckets = 4, "user_id", "ts")
    }
    assert(e.getMessage.contains("nothing to compact"))
  }
}
