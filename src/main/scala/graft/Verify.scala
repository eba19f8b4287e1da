package graft
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the same session as Bench (HarnessFs resolves the
    // SPARK_GRAFT_LOCAL_FS switch for every harness main): the oracle
    // gate must cover the exact configuration the bench times — in the
    // stock A/B mode too (round-22 ADVICE)
    val spark = graft.sources.HarnessFs.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated substring filter for targeted local runs,
    // e.g. SPARK_GRAFT_VERIFY_ONLY=q67 — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSeq)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) => dumpRow(spark, sfDir, outDir, name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes row `name`'s result over `sfDir` to `<outDir>/<name>/` as one
    * parquet file. The row's directory is deleted first, so a row that
    * throws — before or during its write — leaves no output for the
    * oracle compare to pass on, even in a reused `outDir`. */
  def dumpRow(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Unit = {
    val dir = new Path(outDir, name)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
    graft.ops.OpCaches.unpersistAll()
  }
}
