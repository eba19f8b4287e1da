package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` whose `setPermission` is a `java.nio` syscall
  * instead of a FORKED SHELL `chmod`.
  *
  * Hadoop's stock local filesystem, when `libhadoop.so` (NativeIO) is not
  * on the classpath — it is not in a plain Spark distribution — applies
  * file permissions by `Shell.execCommand(chmod ...)`: one `fork`+`exec`
  * per created file or directory, because `FileSystem.create` and
  * `mkOneDirWithMode` both route through the virtual `setPermission`.
  * Driver thread-dump sampling of the rollup-store cycle queries (guide
  * §7.3) showed 13-15% of driver wall time inside `Shell.runCommand`
  * under exactly those two callers — every lease file, commit marker,
  * manifest, genesis stamp, and staged parquet part was paying a process
  * fork for a permission bit the shell path and this path set
  * identically. The override translates the `FsPermission` mode to
  * `PosixFilePermission`s and applies it with
  * `Files.setPosixFilePermissions` — same bits, no fork. Modes outside
  * the 9 rwx bits (setuid/setgid/sticky, inexpressible through
  * `PosixFilePermissions`) fall back to the stock shell path; no Spark
  * write path produces them.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt & 0xFFF
    if ((mode & 0xE00) != 0) { // setuid/setgid/sticky: stock (shell) path
      super.setPermission(p, permission)
      return
    }
    import java.nio.file.attribute.PosixFilePermission._
    val perms = java.util.EnumSet.noneOf(
      classOf[java.nio.file.attribute.PosixFilePermission])
    if ((mode & 0x100) != 0) perms.add(OWNER_READ)
    if ((mode & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((mode & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((mode & 0x020) != 0) perms.add(GROUP_READ)
    if ((mode & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((mode & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((mode & 0x004) != 0) perms.add(OTHERS_READ)
    if ((mode & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((mode & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    ()
  }
}

/** Harness-session local filesystem: [[NioRawLocalFileSystem]] underneath
  * (no chmod forks) with checksum SIDECARS off.
  *
  * The stock `file://` filesystem is `ChecksumFileSystem`-wrapped: every
  * created file gets a `.crc` sibling — a second `create` (a second chmod
  * fork), a second tiny file for the OS, and a per-dir file-count doubling
  * that the store protocol's listings, sweeps, and renames all repay. The
  * sidecars guard against local-disk bit rot that none of the production
  * filesystems this engine targets rely on (HDFS checksums at the block
  * layer, S3A at the object layer — neither forks a shell either), so on
  * the LOCAL harness they are pure per-file overhead: this class turns
  * them off at `initialize`, which makes the local measurement reflect
  * the operator's real metadata cost rather than the sandbox's missing
  * `libhadoop.so`.
  *
  * Wired in via `spark.hadoop.fs.file.impl` by the measurement/contract
  * harnesses ONLY (every main, through `HarnessFs.session` — Verify keeps
  * the oracle gate covering exactly what the bench runs). The unit-test
  * session keeps Hadoop's stock local filesystem, so the store protocol's
  * tests keep exercising stock semantics; FastLocalFileSystemSpec pins
  * this class's own contract (bit-identical permissions, no sidecars,
  * identical data roundtrip). Remains a `LocalFileSystem` subclass so
  * `FileSystem.getLocal`'s cast contract holds.
  */
class FastLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** The ONE place the harness mains (Bench, Verify, Profile, Drive, Stress,
  * LayoutStress) resolve which local filesystem their session runs —
  * round-22 ADVICE: Bench honored `SPARK_GRAFT_LOCAL_FS=stock` as the A/B
  * switch while Verify and the profiler hardcoded the fast pair, so
  * benching the stock config ran its oracle gate and profiler under a
  * DIFFERENT filesystem than the one being timed. Every main now builds
  * its session through [[session]], so the gate and the profiler always
  * cover exactly the configuration the bench times, in either mode. */
object HarnessFs {
  /** "fast" (default) or "stock" — the value every emitted bench record
    * stamps as `fs_mode`, so cross-record comparisons can refuse to mix
    * filesystem regimes. */
  def mode: String =
    if (sys.env.get("SPARK_GRAFT_LOCAL_FS").contains("stock")) "stock"
    else "fast"

  /** Apply the mode's filesystem pair to a session builder. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    if (mode == "stock") b
    else b
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.FastLocalFs")

  /** The session every harness main runs: `local[cpus]` with as many
    * shuffle partitions, UTC, no UI, the object-hash aggregate kept
    * hash-based (the default sort-based fallback at 128 groups per
    * partition would dominate any real group cardinality), and this
    * mode's filesystem pair. `conf` adds a caller's own settings. */
  def session(cpus: String, conf: (String, String)*)
      : org.apache.spark.sql.SparkSession = {
    val b = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
    configure(conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) })
      .getOrCreate()
  }
}

/** `AbstractFileSystem` face of the same thing, for the `FileContext` API
  * — Structured Streaming's `CheckpointFileManager` resolves `file://`
  * through `fs.AbstractFileSystem.file.impl`, NOT `fs.file.impl`, so the
  * per-micro-batch offset/commit WAL files and state-store deltas would
  * otherwise keep paying the chmod fork and the `.crc` sidecar per file
  * regardless of [[FastLocalFileSystem]]. Mirrors Hadoop's own
  * `local.RawLocalFs` delegation shape (which is already checksum-free);
  * the delegate swaps in the fork-free `setPermission`. */
class FastLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file",
    false) {
  override def getUriDefaultPort: Int = -1 // file:// has no port
}
