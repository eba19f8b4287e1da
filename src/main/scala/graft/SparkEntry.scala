package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.behavioral.BehavioralFunctions
import graft.contracts._
import graft.sources.Tables

/** Driver contract: the flagship `entry` plus the 128 contract rows, each
  * declared once as a [[graft.contracts.Contract]] in its family file under
  * `graft/contracts/`. `queries` and `oracleSql` are derived from that list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Per-user session stats over the events stream (reference README's
    * session-analysis demo re-expressed Spark-first). */
  def entry(spark: SparkSession): DataFrame = {
    BehavioralFunctions.register(spark)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    ev.select(col("user_id"), col("ts"),
        BehavioralFunctions.sessionize(col("ts"), expr("INTERVAL '30' MINUTE")).over(w).as("session_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           unix_micros(max(col("ts"))).minus(unix_micros(min(col("ts")))).as("duration_us"))
      .groupBy("user_id")
      .agg(max(col("session_id")).as("n_sessions"),
           round(avg(col("n_events")), 2).as("avg_events_per_session"),
           round(avg(col("duration_us")) / 1e6, 2).as("avg_session_sec"))
      .orderBy("user_id")
  }

  private val contracts: Seq[Contract] = Seq(BehavioralContracts.all, LayoutContracts.all,
    TextContracts.all, CurationContracts.all, MultimodalContracts.all,
    StreamingContracts.all, StoreContracts.all).flatten

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Contract.byName(contracts)(_.run)

  val oracleSql: Map[String, String] = Contract.byName(contracts)(_.oracleSql)
}
