package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.dumpRow` owns the row's output directory: a row that fails must
  * not leave an earlier run's parquet behind for the oracle compare to
  * pass on when an out dir is reused. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withOutDir(body: Path => Unit): Unit = {
    val out = Files.createTempDirectory("graft_verify_spec")
    try body(out)
    finally sources.Sinks.clearDir(out.toString)
  }

  test("a row that throws before its write leaves no stale output behind") {
    withOutDir { out =>
      val rowDir = out.resolve("q00_broken")
      Files.createDirectories(rowDir)
      Files.write(rowDir.resolve("part-00000-stale.snappy.parquet"), Array[Byte](1, 2, 3))
      Verify.dumpRow(spark, sfDir, out.toString, "q00_broken",
        (_, _) => throw new IllegalArgumentException("requirement failed: in-query pin"))
      assert(!Files.exists(rowDir))
    }
  }

  test("a row that runs replaces its earlier output with one parquet file") {
    withOutDir { out =>
      val rowDir = out.resolve("q00_ok")
      Files.createDirectories(rowDir)
      Files.write(rowDir.resolve("part-00000-stale.snappy.parquet"), Array[Byte](1, 2, 3))
      Verify.dumpRow(spark, sfDir, out.toString, "q00_ok", (s, _) => s.range(3).toDF())
      val parts = rowDir.toFile.list().filter(_.endsWith(".parquet")).toSeq
      assert(parts.size == 1 && !parts.head.contains("stale"), s"parts: $parts")
      assert(spark.read.parquet(rowDir.toString).count() == 3)
    }
  }
}
