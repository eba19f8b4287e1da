package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.ops.{GenerationalBatches, RollupStore}

/** A LocalFileSystem clone under its own scheme that COUNTS listStatus
  * calls — the instrument behind the manifest's metadata claim. The
  * count lives on the RAW layer (ChecksumFileSystem delegates there),
  * so every listing is counted exactly once. */
class CountingRawLocalFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFileSystem.listCalls.incrementAndGet()
    CountingLocalFileSystem.listed.add(f.toString)
    super.listStatus(f)
  }
}

class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
    new CountingRawLocalFileSystem) {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
}

object CountingLocalFileSystem {
  val listCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The manifest's METADATA bound, counted literally: resolving a pruned
  * grained read costs ONE listStatus (the store root, to enumerate
  * grain dirs) and ZERO per-grain/per-batch listings — each selected
  * grain is one `_MANIFEST` file read. Without manifests the same read
  * pays a listStatus per grain dir on top of the root. At years × daily
  * grains on an object store, that difference is the dashboard read's
  * latency floor. */
class CountingFsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val M = 60L * 1000000
  private val D = 24 * 60 * M

  private def ev(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("u", "us", "t")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("t"))
  }

  private def dayStates(df: DataFrame): DataFrame =
    df.groupBy(col("u"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"),
        df("t") === "a", df("t") === "b", df("t") === "c").as("state"))

  test("a manifest-resolved pruned read does one root listStatus and zero per-batch listings") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl",
      classOf[CountingLocalFileSystem].getName)
    val local = graft.sources.Sinks.scratchDir("counting_fs_spec") + "/store"
    graft.sources.Sinks.clearDir(local)
    val base = s"cntfs://$local"

    val rows = Seq((1L, 0L, "a"), (1L, 10 * M, "b"),
      (2L, D + M, "a"), (2L, D + 5 * M, "b"),
      (3L, 2 * D, "a"), (3L, 2 * D + M, "c"))
    def slice(i: Int) = ev(rows.filter(_._1.toInt % 2 == i): _*)
    RollupStore.appendStatesByGrain(dayStates(ev(rows: _*)), base,
      Seq("u", "day"), "day")
    RollupStore.appendStatesByGrain(dayStates(slice(1)), base,
      Seq("u", "day"), "day")
    val grains = RollupStore.grainValues(spark, base)
    assert(grains.size === 3)
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[CountingLocalFileSystem],
      "the counting scheme did not take")

    // WITH manifests: the resolution enumerates the ROOT once and never
    // lists a directory below it — the only further listStatus calls are
    // Spark's own per-leaf-file index probes (file paths, one per data
    // file, paid identically however the files were resolved)
    import scala.jdk.CollectionConverters._
    val c = CountingLocalFileSystem.listCalls
    def listedDirsBelowRoot: Seq[String] =
      CountingLocalFileSystem.listed.asScala.toSeq
        .filterNot(_.stripSuffix("/") == s"cntfs:$local")
        .filterNot(_.endsWith(".parquet"))
    c.set(0); CountingLocalFileSystem.listed.clear()
    val pruned = RollupStore.readGrains(spark, base, _ == grains.head)
    val withManifest = c.get()
    assert(pruned.inputFiles.nonEmpty)
    assert(withManifest === 1 + pruned.inputFiles.length,
      s"manifest resolution cost $withManifest listStatus calls, expected " +
        s"root + ${pruned.inputFiles.length} leaf-file probes: " +
        s"${CountingLocalFileSystem.listed}")
    assert(listedDirsBelowRoot.isEmpty,
      s"manifest resolution LISTED directories below the root: $listedDirsBelowRoot")

    // WITHOUT manifests (deleted): the fallback must enumerate grain and
    // batch directories below the root — the per-grain cost the manifest
    // removes
    grains.foreach { g =>
      fs.delete(new Path(new Path(base),
        s"${RollupStore.grainDirName("day", g)}/${GenerationalBatches.Manifest}"),
        false)
    }
    c.set(0); CountingLocalFileSystem.listed.clear()
    RollupStore.readGrains(spark, base, _ == grains.head)
    val withoutManifest = c.get()
    assert(withoutManifest > withManifest,
      s"fallback listing cost $withoutManifest, manifest cost $withManifest")
    assert(listedDirsBelowRoot.nonEmpty,
      "expected the fallback to list directories below the root")

    // an UNPRUNED read scales the saving by the grain count: still zero
    // directory listings below the root with manifests present
    grains.foreach(g => GenerationalBatches.writeManifest(fs,
      new Path(new Path(base), RollupStore.grainDirName("day", g))))
    c.set(0); CountingLocalFileSystem.listed.clear()
    val full = RollupStore.readGrains(spark, base)
    assert(c.get() === 1 + full.inputFiles.length)
    assert(listedDirsBelowRoot.isEmpty,
      s"full manifest read LISTED directories below the root: $listedDirsBelowRoot")
  }

  test("a FLAT store read resolves through its manifest: zero directory listings at all") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl",
      classOf[CountingLocalFileSystem].getName)
    val local = graft.sources.Sinks.scratchDir("counting_fs_spec") + "/flat"
    graft.sources.Sinks.clearDir(local)
    val base = s"cntfs://$local"
    val rows = Seq((1L, 0L, "a"), (1L, 10 * M, "b"), (2L, D + M, "a"))
    RollupStore.appendStates(dayStates(ev(rows.take(2): _*)), base,
      Seq("u", "day"))
    RollupStore.appendStates(dayStates(ev(rows.drop(2): _*)), base,
      Seq("u", "day"))
    import scala.jdk.CollectionConverters._
    def listedDirs: Seq[String] =
      CountingLocalFileSystem.listed.asScala.toSeq
        .filterNot(_.endsWith(".parquet"))
    val c = CountingLocalFileSystem.listCalls
    // WITH the manifest: resolution is ONE file read (not a listing) of
    // `_MANIFEST` — the only listStatus calls are Spark's per-leaf-file
    // probes on the manifest's explicit paths; no DIRECTORY (root or
    // batch) is ever listed
    c.set(0); CountingLocalFileSystem.listed.clear()
    val viaManifest = RollupStore.read(spark, base)
    assert(viaManifest.inputFiles.nonEmpty)
    assert(c.get() === viaManifest.inputFiles.length,
      s"flat manifest read cost ${c.get()} listStatus calls, expected " +
        s"only ${viaManifest.inputFiles.length} leaf-file probes: " +
        s"${CountingLocalFileSystem.listed}")
    assert(listedDirs.isEmpty,
      s"flat manifest read LISTED directories: $listedDirs")
    // WITHOUT it (deleted): the fallback lists the sub-store and its
    // batch dirs — the per-batch cost the manifest removes
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new Path(RollupStore.flatDir(new Path(base)),
      GenerationalBatches.Manifest), false)
    c.set(0); CountingLocalFileSystem.listed.clear()
    val viaListing = RollupStore.read(spark, base)
    assert(viaListing.inputFiles.toSet === viaManifest.inputFiles.toSet)
    assert(listedDirs.nonEmpty,
      "expected the flat fallback to list directories")
  }
}
