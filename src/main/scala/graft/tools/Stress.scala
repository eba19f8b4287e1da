package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress-run: synthesizes an N-row event stream (default 10M — 100×
  * the sf0.1 bench table) IN MEMORY via spark.range and times each
  * behavioral aggregate end-to-end at local[32]. Prints one JSON line of
  * rows/sec per operator.
  *
  * This is the 100×-scale-up probe: the sf tables verify correctness; this
  * verifies the aggregation path (partial agg → shuffle of packed buffers →
  * final merge + scan) holds its throughput when groups are 100× larger.
  */
object Stress {
  val Users = 100000L

  /** The deterministic synthetic event stream over ids `[from, until)`:
    * ~100 events/user at a ~5-minute cadence with hash jitter, 4 event
    * types. LayoutStress builds its table and its delta from it too. */
  def events(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      (col("id") % Users).as("user_id"),
      timestamp_micros(lit(1704067200000000L) // 2024-01-01
        + expr(s"id div $Users") * 300000000L
        + pmod(xxhash64(col("id")), lit(299000000L))).as("ts"),
      element_at(array(lit("view"), lit("click"), lit("purchase"), lit("error")),
        (pmod(xxhash64(col("id"), lit(7)), lit(4)) + 1).cast("int")).as("event_type"))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = graft.sources.HarnessFs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    graft.behavioral.BehavioralFunctions.register(spark)
    events(spark, 0, n).createOrReplaceTempView("stress_events")
    spark.table("stress_events").cache().count() // materialize input off the clock

    def time(name: String, sql: String): (String, Double) = {
      val t0 = System.nanoTime()
      // noop sink: forces full evaluation — count() would let the optimizer
      // prune the aggregate/window expressions and time only the grouping
      spark.sql(sql).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"$name%-22s $sec%8.2f s  ${n / sec / 1e6}%8.1f Melem/s")
      name -> sec
    }

    val results = Seq(
      // Spark-native floors at the same scale: the codegen'd HashAggregate
      // count(*) is the cheapest possible group-by; collect_list is Spark's
      // own event-collecting ObjectHashAggregate — the apples-to-apples
      // ceiling for what a buffer-collecting custom aggregate can cost
      time("floor_count_groupby",
        "SELECT user_id, count(*) FROM stress_events GROUP BY user_id"),
      time("floor_collect_list",
        "SELECT user_id, collect_list(ts) FROM stress_events GROUP BY user_id"),
      time("sessionize",
        """SELECT user_id, sessionize(ts, INTERVAL '30' MINUTE)
          |  OVER (PARTITION BY user_id ORDER BY ts) FROM stress_events""".stripMargin),
      time("window_funnel",
        """SELECT user_id, window_funnel(INTERVAL '1' HOUR, ts,
          |  event_type='view', event_type='click', event_type='purchase')
          |FROM stress_events GROUP BY user_id""".stripMargin),
      time("retention",
        """SELECT user_id, retention(event_type='view', event_type='click',
          |  event_type='purchase') FROM stress_events GROUP BY user_id""".stripMargin),
      time("sequence_match",
        """SELECT user_id, sequence_match('(?1).*(?2)', ts,
          |  event_type='view', event_type='purchase')
          |FROM stress_events GROUP BY user_id""".stripMargin),
      time("sequence_count",
        """SELECT user_id, sequence_count('(?1)(?2)', ts,
          |  event_type='view', event_type='click')
          |FROM stress_events GROUP BY user_id""".stripMargin),
      time("sequence_match_events",
        """SELECT user_id, sequence_match_events('(?1).*(?2)', ts,
          |  event_type='view', event_type='purchase')
          |FROM stress_events GROUP BY user_id""".stripMargin),
      time("sequence_next_node",
        """SELECT user_id, sequence_next_node('forward', 'head', ts, event_type,
          |  event_type='view', event_type='view')
          |FROM stress_events GROUP BY user_id""".stripMargin))

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"stress_total","value":${results.map(_._2).sum},"unit":"sec","rows":$n,"queries":$qs}""")
    spark.stop()
  }
}
