package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executes every declared contract query end-to-end at sf0.001.
  *
  * PlanSpec's cartesian guard already ANALYZES all plans, but an execution-
  * only failure (codegen exception, a cast that dies on real data, a
  * streaming harness break) still reaches the driver's per-round gate
  * undetected — the round-8 outage pattern: a green unit suite while the
  * product could not run its own contract surface. This suite is the local
  * pre-commit version of the driver's Verify run. Pair-join and filter
  * queries can legitimately be (near-)empty at tiny SF, but for queries
  * whose cardinality is STRUCTURAL — one row per user / per event / per
  * doc — an accidentally-empty frame is a bug execution-only success
  * would hide, so those carry a row-count floor.
  */
class ContractSmokeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  // sf0.001: 1,000 events over 15 users; 500 documents. Floors sit well
  // under the structural counts so a regenerated fixture with fewer rows
  // does not false-alarm, while an empty/near-empty frame still fails.
  private val perUser = Seq("q02_retention", "q03_window_funnel",
    "q04_seq_match_wild", "q05_seq_match_adj", "q06_seq_count",
    "q07_seq_match_events", "q08_seq_next_node", "q71_stream_seq_count",
    "q72_stream_next_node", "q78_stream_retention", "q79_stream_funnel",
    "q80_stream_seq_match", "q81_stream_seq_match_events")
  private val perDoc = Seq("q12_text_stats", "q21_langid", "q22_quality",
    "q28_simhash", "q83_stream_simhash_dedup",
    "q85_image_decode", "q86_image_resize",
    "q87_audio_decode", "q88_audio_downsample",
    "q93_media_robustness", "q94_audio_stereo", "q98_audio_robustness",
    "q100_resize_robustness")
  private val rowFloors: Map[String, Int] =
    perUser.map(_ -> 10).toMap ++ perDoc.map(_ -> 300).toMap ++ Map(
      "q01_sessionize" -> 800,        // one row per event
      "q77_stream_sessionize" -> 300, // >= one session per user, ~gap-bound
      "q82_stream_exact_dedup" -> 30, // one row per DISTINCT text (~10% of docs)
      "q89_video_frames" -> 1200,     // 4 sampled frames per doc
      "q99_video_robustness" -> 700,  // 4 + 1 + 1 + 4 rows per 4-doc cycle
      "q90_incremental_ann" -> 20,    // 5 queries x k=5 at 500 embeddings
      "q91_bucketed_join" -> 3,       // one row per order priority (5)
      "q92_bucketed_funnel" -> 10,    // one row per user, like q03
      "q95_salted_join" -> 3,         // one row per order priority (5)
      "q96_datepart_funnel" -> 10,    // one row per user active in the slice
      "q97_layout_funnel" -> 10,      // one row per user active in the slice

      "q09_tpch_q1" -> 1, "q10_join_revenue" -> 1, "q13_lang_stats" -> 1)

  test("oracleSql covers exactly the declared query surface") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("the contract rows are numbered q01 to q128, each number once") {
    val numbers = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_')).sorted
    assert(numbers === (1 to 128).map(i => f"q$i%02d").sorted)
  }

  test("deriving the contract maps from a repeated name throws") {
    val row = contracts.Contract("q01_twice", (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      contracts.Contract.byName(Seq(row, row))(_.run)
    }
    assert(e.getMessage.contains("q01_twice"))
  }

  test("flagship entry() runs and returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("row floors only name declared queries") {
    assert(rowFloors.keySet.subsetOf(SparkEntry.queries.keySet),
      s"stale floor entries: ${rowFloors.keySet -- SparkEntry.queries.keySet}")
  }

  test("layout queries leave no accumulating scratch residue") {
    // q91/q92 rewrite bucketed copies per execution; the scratch layout is
    // a FIXED per-JVM path that must be overwritten, not duplicated —
    // repeated runs may not grow /tmp (the round-10 leak: a fresh
    // createTempDirectory per execution, unbounded under bench reruns)
    def fileCount(p: java.nio.file.Path): Long = {
      if (!java.nio.file.Files.exists(p)) return 0L
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    // scope to THIS process's scratch root: a concurrently running
    // harness JVM (bench beside tests) writes its own pid_* sibling, and
    // counting that would fail this test without any leak here
    val scratch = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_scratch",
      s"pid_${ProcessHandle.current().pid()}")
    SparkEntry.queries("q91_bucketed_join")(spark, sfDir).collect()
    val after1 = fileCount(scratch)
    SparkEntry.queries("q91_bucketed_join")(spark, sfDir).collect()
    val after2 = fileCount(scratch)
    assert(after2 <= after1,
      s"repeated q91 runs grew the scratch dir: $after1 -> $after2 files")
    // q101 APPENDS to its scratch index across batches — repeated runs
    // must clear and rebuild, not accrete (the in-query clearDir)
    SparkEntry.queries("q101_compacted_index")(spark, sfDir).collect()
    val after3 = fileCount(scratch)
    SparkEntry.queries("q101_compacted_index")(spark, sfDir).collect()
    val after4 = fileCount(scratch)
    assert(after4 <= after3,
      s"repeated q101 runs grew the scratch dir: $after3 -> $after4 files")
    // and nothing lands under the legacy per-execution temp pattern
    val legacy = new java.io.File(sys.props("java.io.tmpdir")).listFiles()
      .filter(f => f.getName.startsWith("graft_bucketed") && f.isDirectory)
    assert(legacy.isEmpty, s"legacy temp dirs present: ${legacy.mkString(", ")}")
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name executes end-to-end at sf0.001") {
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      assert(rows != null)
      val floor = rowFloors.getOrElse(name, 0)
      assert(rows.length >= floor,
        s"$name returned ${rows.length} rows, below its structural floor $floor")
      graft.ops.OpCaches.unpersistAll()
    }
  }
}
