package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FastLocalFileSystem, NioRawLocalFileSystem}

/** The harness-session local filesystem (Bench/Verify/Profile):
  * fork-free `setPermission` must apply BIT-IDENTICAL modes to the stock
  * shell-chmod path, checksum sidecars must be off, and a Spark write
  * through it must read back identical rows with no `.crc` siblings. */
class FastLocalFileSystemSpec extends AnyFunSuite {

  private def newFastFs(): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    // bypass the scheme-keyed FileSystem cache: the shared test JVM has
    // already cached the STOCK file:// filesystem for other suites
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  private def modeOf(path: String): Int =
    Files.readAttributes(Paths.get(path), "unix:mode")
      .get("mode").asInstanceOf[Integer].intValue() & 0xFFF

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("fastfs_spec_").toFile
    d.deleteOnExit()
    d
  }

  test("setPermission applies exact rwx bits without a shell fork") {
    val fs = newFastFs()
    try {
      val dir = tmpDir()
      for (mode <- Seq(Integer.parseInt("644", 8), Integer.parseInt("755", 8),
          Integer.parseInt("700", 8), Integer.parseInt("640", 8),
          Integer.parseInt("444", 8))) {
        val f = new java.io.File(dir, s"m$mode")
        assert(f.createNewFile())
        fs.setPermission(new Path(f.getAbsolutePath), new FsPermission(mode.toShort))
        assert(modeOf(f.getAbsolutePath) === mode,
          s"mode ${Integer.toOctalString(mode)} not applied exactly")
      }
    } finally fs.close()
  }

  test("modes beyond the 9 rwx bits (sticky) still land via the fallback") {
    val fs = newFastFs()
    try {
      val f = new java.io.File(tmpDir(), "sticky")
      assert(f.createNewFile())
      val sticky = Integer.parseInt("1644", 8)
      fs.setPermission(new Path(f.getAbsolutePath), new FsPermission(sticky.toShort))
      assert(modeOf(f.getAbsolutePath) === sticky)
    } finally fs.close()
  }

  test("mkdirs with explicit permission routes through the nio path") {
    val fs = newFastFs()
    try {
      val d = new java.io.File(tmpDir(), "sub/deeper")
      val mode = Integer.parseInt("750", 8)
      assert(fs.mkdirs(new Path(d.getAbsolutePath), new FsPermission(mode.toShort)))
      assert(modeOf(d.getAbsolutePath) === mode)
    } finally fs.close()
  }

  test("no .crc sidecars; create/read roundtrip is byte-identical") {
    val fs = newFastFs()
    try {
      val dir = tmpDir()
      val p = new Path(new java.io.File(dir, "data.bin").getAbsolutePath)
      val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
      val out = fs.create(p)
      out.write(payload); out.close()
      val names = dir.listFiles().map(_.getName).toSet
      assert(names === Set("data.bin"), s"unexpected sidecars: $names")
      val in = fs.open(p)
      val back = new Array[Byte](payload.length)
      in.readFully(back); in.close()
      assert(back.toSeq === payload.toSeq)
    } finally fs.close()
  }

  test("Spark parquet roundtrip through fs.file.impl reads back identically") {
    val spark = GraftSpark.spark
    import spark.implicits._
    val dir = new java.io.File(tmpDir(), "pq").getAbsolutePath
    val rows = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.5))
    // write through an EXPLICIT FastLocalFileSystem handle so the assertion
    // does not depend on the shared session's cached stock filesystem
    val hconf = new Configuration(spark.sessionState.newHadoopConf())
    hconf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    val fs = FileSystem.newInstance(new URI("file:///"), hconf)
    try {
      assert(fs.isInstanceOf[FastLocalFileSystem])
      // the shared session writes via its own (stock) fs; the point here is
      // data fidelity READING files created by the fast fs and vice versa —
      // parquet bytes are fs-independent, which is the no-behavior-change
      // claim Bench/Verify rely on
      rows.toDF("id", "s", "x").write.mode("overwrite").parquet(dir)
      val viaFast = fs.listStatus(new Path(dir))
        .map(_.getPath.getName).count(_.endsWith(".parquet"))
      assert(viaFast >= 1)
      val back = spark.read.parquet(dir).as[(Long, String, Double)]
        .collect().sortBy(_._1)
      assert(back.toSeq === rows)
    } finally fs.close()
  }

  test("Spark WRITES through FastLocalFileSystem (committer + task files): no .crc anywhere, identical read-back") {
    // round-22 ADVICE: the roundtrip test above never exercised Spark's
    // real WRITE path through the fast fs (the shared session holds the
    // stock fs in Hadoop's scheme-keyed cache). DataFrameWriter options
    // are merged into the write job's Hadoop conf, and disabling the
    // file:// cache makes every resolution honor fs.file.impl — so the
    // committer's _temporary handling, task-file creates, and commit
    // renames all run through FastLocalFileSystem here.
    val spark = GraftSpark.spark
    import spark.implicits._
    val dir = new java.io.File(tmpDir(), "pq_fast").getAbsolutePath
    val rows = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.5))
    rows.toDF("id", "s", "x").write
      .option("fs.file.impl", classOf[FastLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .mode("overwrite").parquet(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(dir))
    assert(files.exists(_.getName.endsWith(".parquet")),
      "write produced no parquet files")
    // the stock ChecksumFileSystem writes a .crc sibling per created
    // file; zero .crc siblings is the proof the fast fs handled the
    // creates (writeChecksum off)
    assert(!files.exists(_.getName.endsWith(".crc")),
      s"checksum sidecars present: ${files.map(_.getName).filter(_.endsWith(".crc"))}")
    val back = spark.read.parquet(dir).as[(Long, String, Double)]
      .collect().sortBy(_._1)
    assert(back.toSeq === rows)
  }

  test("raw delegate reports the scheme and stays a RawLocalFileSystem") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(new URI("file:///"), new Configuration())
    // RawLocalFileSystem carries its scheme in the URI (getScheme is the
    // LocalFileSystem-level override)
    try assert(fs.getUri.getScheme === "file")
    finally fs.close()
  }
}
