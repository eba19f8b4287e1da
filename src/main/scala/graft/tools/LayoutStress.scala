package graft.tools

import org.apache.spark.sql.functions._

/** Layout stress-run: measures what the q92 bucketed-events lever actually
  * buys at scale — the same `window_funnel` aggregation over (a) plain
  * parquet (partial agg → SHUFFLE of every user's packed event buffer →
  * final) and (b) the user_id-bucketed table (scan → partial → final, zero
  * exchanges). The write cost of the layout is paid once and excluded; the
  * timings are query-only, which is the amortized regime the layout exists
  * for. Prints one JSON line.
  */
object LayoutStress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nBuckets = 32
    val spark = graft.sources.HarnessFs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    graft.behavioral.BehavioralFunctions.register(spark)
    val events = Stress.events(spark, 0, n)

    val tmp = graft.sources.Sinks.scratchDir("layout_stress")
    events.write.mode("overwrite").parquet(s"$tmp/plain")
    val table = graft.sources.Sinks.sessionTable(spark, "layout_stress_events")
    graft.sources.Sinks.writeBucketed(
      spark.read.parquet(s"$tmp/plain"), table, s"$tmp/bucketed",
      nBuckets = nBuckets, "user_id")

    def funnel(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("user_id"))
        .agg(graft.behavioral.BehavioralFunctions.window_funnel(
          expr("INTERVAL '1' HOUR"), col("ts"),
          col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase").as("steps"))

    def time(label: String, df: => org.apache.spark.sql.DataFrame): Double = {
      // min of 2 runs, noop sink forces full evaluation
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[layout] $label%-9s ${secs.min}%8.2f s (runs: ${secs.map(s => f"$s%.2f").mkString(", ")})")
      secs.min
    }

    val plainSec = time("plain", funnel(spark.read.parquet(s"$tmp/plain")))
    val bucketedSec = time("bucketed", funnel(graft.sources.Sinks.readBucketed(spark, table)))

    // sanity: identical answers and the bucketed plan really has no exchange
    val p = funnel(graft.sources.Sinks.readBucketed(spark, table))
      .queryExecution.executedPlan.toString
    require(!p.contains("Exchange hashpartitioning"),
      s"bucketed funnel still shuffles:\n$p")
    val a = funnel(spark.read.parquet(s"$tmp/plain"))
      .agg(sum("steps"), count(lit(1))).collect()(0)
    val b = funnel(graft.sources.Sinks.readBucketed(spark, table))
      .agg(sum("steps"), count(lit(1))).collect()(0)
    require(a == b, s"layout changed the answer: $a vs $b")

    // ---- sort-eliding layout: sessionize (q102's lever) ----------------
    // sessionize is the sort-DOMINATED behavioral row (the window sort is
    // ~all of its cost at 100M rows); one sorted file per bucket moves
    // that sort to write time. Timings are query-only, same amortized
    // regime as the funnel comparison above.
    val sortedTable = graft.sources.Sinks.sessionTable(spark, "layout_stress_sorted")
    graft.sources.Sinks.writeBucketedSortedSingleFile(
      spark.read.parquet(s"$tmp/plain"), sortedTable, s"$tmp/sorted",
      nBuckets = nBuckets, "user_id", "ts")

    def sess(df: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      df.select(col("user_id"),
        graft.behavioral.BehavioralFunctions.sessionize(
          col("ts"), expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
    }

    val plainSessSec = time("sess_plain", sess(spark.read.parquet(s"$tmp/plain")))
    val sortedSessSec = time("sess_sorted",
      sess(graft.sources.Sinks.readBucketedSorted(spark, sortedTable)))

    val ps = sess(graft.sources.Sinks.readBucketedSorted(spark, sortedTable))
      .queryExecution.executedPlan.toString
    require(!ps.contains("Exchange hashpartitioning") && !ps.contains("+- Sort "),
      s"sorted-bucketed sessionize still shuffles or sorts:\n$ps")
    val sa = sess(spark.read.parquet(s"$tmp/plain"))
      .agg(sum("session_id"), count(lit(1))).collect()(0)
    val sb = sess(graft.sources.Sinks.readBucketedSorted(spark, sortedTable))
      .agg(sum("session_id"), count(lit(1))).collect()(0)
    require(sa == sb, s"sorted layout changed the answer: $sa vs $sb")

    // ---- ingest cycle (q104's lever): the sorted layout as a LIVE store.
    // A daily-sized delta (1% of the table) lands in staging (O(delta),
    // no sort), queries between compactions pay merge-on-read (the union
    // forfeits the layout claims, the per-query sort returns), and the
    // fold rewrites one generation to restore the zero-sort plan. The
    // numbers quantify the LSM trade: fold cost ~= one plain-layout
    // build, amortized over every query until the next delta.
    def wall(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[layout] $label%-9s $s%8.2f s (wall, 1 run)")
      s
    }
    val ingTable = graft.sources.Sinks.sessionTable(spark, "layout_stress_ingest")
    val ingBase = s"$tmp/ingest/events"
    val ingStaging = s"$tmp/ingest/staging"
    graft.sources.Sinks.clearDir(s"$tmp/ingest")
    graft.sources.Sinks.stageSortedDelta(
      spark.read.parquet(s"$tmp/plain"), ingStaging)
    val buildSec = wall("ing_build") {
      graft.sources.Sinks.compactSortedBucketed(spark, ingTable, ingBase,
        ingStaging, nBuckets, "user_id", "ts") }
    val delta = Stress.events(spark, n, n + n / 100)
    val stageSec = wall("ing_stage") {
      graft.sources.Sinks.stageSortedDelta(delta, ingStaging) }
    val morSec = time("sess_mor", sess(
      graft.sources.Sinks.readSortedWithStaging(spark, ingTable, ingStaging)))
    val foldSec = wall("ing_fold") {
      graft.sources.Sinks.compactSortedBucketed(spark, ingTable, ingBase,
        ingStaging, nBuckets, "user_id", "ts") }
    val postSec = time("sess_post",
      sess(graft.sources.Sinks.readBucketedSorted(spark, ingTable)))
    val pp = sess(graft.sources.Sinks.readBucketedSorted(spark, ingTable))
      .queryExecution.executedPlan.toString
    require(!pp.contains("Exchange hashpartitioning") && !pp.contains("+- Sort "),
      s"post-fold sessionize still shuffles or sorts:\n$pp")

    def jf(v: Double) = String.format(java.util.Locale.ROOT, "%.2f",
      java.lang.Double.valueOf(v))
    println(s"""{"metric":"layout_funnel","rows":$n,"users":${Stress.Users},"plain_sec":${jf(plainSec)},"bucketed_sec":${jf(bucketedSec)},"sess_plain_sec":${jf(plainSessSec)},"sess_sorted_sec":${jf(sortedSessSec)},"ingest_build_sec":${jf(buildSec)},"ingest_stage_sec":${jf(stageSec)},"ingest_mor_sec":${jf(morSec)},"ingest_fold_sec":${jf(foldSec)},"ingest_post_sec":${jf(postSec)}}""")
    spark.stop()
  }
}
