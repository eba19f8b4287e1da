package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.behavioral.BehavioralFunctions
import graft.ops.{IncrementalSession, RollupStore}
import graft.streaming.StreamingBehavioral

object StoreIngest {
  /** A period is MaintEvery batches; maintenance (range compaction,
    * session-store compaction, janitor sweep) runs after its last batch.
    * The timed loop runs whole periods, so every pass holds the same mix
    * of plain and maintenance batches. */
  val MaintEvery = 2
  val GapMicros = 1800000000L
  val HourMicros = 3600L * 1000000
  private val Keys = Seq("user_id", "day")

  /** Order-insensitive digest of (user_id, value) rows that
    * perfbench/check.py recomputes from the DuckDB oracle: count and the
    * wrapping 64-bit sum of a multiplicative mix of each row. */
  def pairDigest(rows: Seq[(Long, Long)]): String = {
    var s = 0L
    rows.foreach { case (u, v) =>
      var x = u * 0x9E3779B97F4A7C15L + v * 0xC2B2AE3D27D4EB4FL
      x ^= x >>> 31
      s += x * 0x94D049BB133111EBL
    }
    f"${rows.size}%d:$s%016x"
  }

  /** Bytes written through the Hadoop `file` scheme statistics, summed
    * over every local filesystem class. (The local filesystems keep no
    * operation counts, and their read counter misses parquet's vectored
    * reads, so written bytes are what this hook reports reliably.) */
  def fsWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum
  }

  def duBytes(f: java.io.File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles).getOrElse(Array.empty).map(duBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** Closed loop, one client: each generated batch goes, through one
  * `MemoryStream` per query, into two streaming queries — a `foreachBatch` sink that
  * appends to a day-grained `RollupStore` and to an `IncrementalSession`
  * store (the q123 shape), and a `StreamingBehavioral.streamingFunnel`
  * stateful operator. After every [[StoreIngest.MaintEvery]]-th batch the
  * stores are compacted and swept; after every batch a dashboard read runs
  * (funnel depth per user from the rollup store, session count per user
  * from the session store). Set-up loads the batches into the driver; the
  * queries start in the warm-up. */
final class StoreIngest(spark: SparkSession, cfg: Config) extends Workload {
  import StoreIngest._
  import spark.implicits._

  private var batches: Array[Array[(Long, Timestamp, String)]] = Array.empty
  private var batchBytes: Array[Long] = Array.empty
  private var root = ""
  private def rollup = s"$root/rollup"
  private def sess = s"$root/sess"
  private var inputs: Seq[MemoryStream[(Long, Timestamp, String)]] = Nil
  private var queries: Seq[StreamingQuery] = Nil
  private val funnelMax = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  @volatile private var tracer: Tracer = new Tracer(spark)
  private var next = 0
  private val reads = ArrayBuffer[Map[String, Any]]()
  private val cycleFs = ArrayBuffer[(Boolean, Long)]()
  private var fs0 = 0L
  private var fsEnd = 0L
  private var ingestedEvents = 0L
  private var finalState = Map.empty[String, Any]

  def setup(): Unit = {
    root = s"${cfg.work}/store-${java.util.UUID.randomUUID()}"
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val files = new java.io.File(s"${cfg.data}/events.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    batchBytes = files.map(_.length)
    val index = files.map(_.getName).zipWithIndex.toMap
    // one file per batch; the table loads through sources.Tables like any
    // events table, and the file name gives each row its batch
    val rows = graft.sources.Tables.events(spark, cfg.data)
      .select(col("user_id"), col("ts"), col("event_type"),
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("f"))
      .as[(Long, Timestamp, String, String)].collect()
    batches = rows.groupBy(r => index(r._4)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r._1, r._2, r._3)).sortBy(r => (r._2.getTime, r._1))).toArray
  }

  /** Start both streaming queries over a fresh store. Each reads its own
    * `MemoryStream` fed the same batch, so a cycle runs them one after the
    * other instead of letting their micro-batches race for the cores. */
  private def start(): Unit = {
    implicit val ctx = spark.sqlContext
    inputs = Seq.fill(2)(MemoryStream[(Long, Timestamp, String)])
    def events(i: Int) = inputs(i).toDF().toDF("user_id", "ts", "event_type")
    val sink: (Dataset[Row], Long) => Unit = (b, id) => ingest(b, id)
    val store = events(0).writeStream.queryName("perfbench_store")
      .option("checkpointLocation", s"$root/ckpt/store")
      .foreachBatch(sink).start()
    val fe = events(1).select(col("user_id"), col("ts"),
        (when(col("event_type") === "view", 1).otherwise(0) +
          when(col("event_type") === "click", 2).otherwise(0) +
          when(col("event_type") === "purchase", 4).otherwise(0)).as("conds"))
      .as[StreamingBehavioral.FunnelEvent]
    val keep: (Dataset[Row], Long) => Unit = (b, _) =>
      b.select("user_id", "steps").collect().foreach { r =>
        funnelMax.merge(r.getLong(0), r.getInt(1), (a: Int, c: Int) => math.max(a, c))
      }
    val funnel = StreamingBehavioral.streamingFunnel(fe, HourMicros, numConds = 3,
        watermark = "10 minutes").toDF()
      .writeStream.queryName("perfbench_funnel").outputMode("update")
      .option("checkpointLocation", s"$root/ckpt/funnel")
      .foreachBatch(keep).start()
    queries = Seq(store, funnel)
  }

  private def ingest(batch: Dataset[Row], id: Long): Unit = {
    val states = batch.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(BehavioralFunctions.funnel_state(col("ts"),
        col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase").as("state"))
    tracer.span("RollupStore.appendStatesByGrain") {
      RollupStore.appendStatesByGrain(states, rollup, Keys, "day",
        ingestId = Some(s"perfbench/$id"))
    }
    tracer.span("IncrementalSession.appendBatch") {
      IncrementalSession.appendBatch(batch.select("user_id", "ts"), sess,
        "user_id", "ts", GapMicros)
    }
  }

  private def maintain(i: Int): Unit = {
    val first = batches(math.max(0, i - MaintEvery + 1)).head._2
    val since = new java.text.SimpleDateFormat("yyyy-MM-dd") {
      setTimeZone(java.util.TimeZone.getTimeZone("UTC")) }.format(first)
    tracer.span("RollupStore.compactGrains") {
      RollupStore.compactGrains(spark, rollup, Keys,
        BehavioralFunctions.funnel_state_combine, grains = _ >= since,
        targetPartitions = cfg.cpus)
    }
    tracer.span("IncrementalSession.compactBatches") {
      IncrementalSession.compactBatches(spark, sess, targetPartitions = cfg.cpus)
    }
    tracer.span("RollupStore.sweepExpired") {
      RollupStore.sweepExpired(spark, rollup, cleanupDelayMs = 0L)
    }
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getAs[Number](1).longValue()))

  private def funnelRead(): DataFrame =
    RollupStore.readGrains(spark, rollup).groupBy(col("user_id"))
      .agg(BehavioralFunctions.funnel_merge(expr("INTERVAL '1' HOUR"),
        col("state")).as("steps"))

  /** One batch: ingest (timed from the first addData until both queries
    * committed it, maintenance included when due), then the dashboard
    * read. */
  private def cycle(pass: Int, traced: Boolean, maintenance: Boolean): Boolean = {
    val i = next
    val b = batches(i)
    val f0 = fsWritten()
    val (ingestErr, ingestNs) = tracer.op("ingest") {
      try {
        inputs.zip(queries).foreach { case (in, q) =>
          tracer.span(s"stream.${q.name}") {
            in.addData(b.toSeq)
            q.processAllAvailable()
          }
        }
        if (maintenance) maintain(i)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
    }
    next += 1
    ingestedEvents += b.length
    val ((funnel, sessions, readErr), readNs) = tracer.op("read") {
      try {
        val f = tracer.span("RollupStore.readGrains") { pairs(funnelRead()) }
        val s = tracer.span("IncrementalSession.read") {
          pairs(IncrementalSession.read(spark, sess).groupBy(col("user_id"))
            .agg(max(col("session_id")).as("n")))
        }
        (pairDigest(f), pairDigest(s), None)
      } catch { case e: Throwable =>
        (null, null, Some(String.valueOf(e.getMessage).take(300))) }
    }
    cycleFs += ((traced, fsWritten() - f0))
    if (pass >= 0) {
      ops += OpRec("ingest", ingestNs / 1e9, ingestErr.isEmpty, traced, pass,
        ingestErr.orNull, b.length.toLong)
      ops += OpRec("read", readNs / 1e9, readErr.isEmpty, traced, pass, readErr.orNull)
    }
    reads += Map("batches" -> next, "funnel" -> Option(funnel),
      "sessions" -> Option(sessions), "timed" -> (pass >= 0))
    ingestErr.isEmpty && readErr.isEmpty
  }

  def warm(): Unit = {
    fs0 = fsWritten()
    start()
    // one untimed period, maintenance included, so the first timed period
    // pays no first-run planning or codegen
    for (j <- 0 until MaintEvery)
      cycle(-1, traced = false, maintenance = j == MaintEvery - 1)
  }

  override def hasNextPass: Boolean = next + MaintEvery <= batches.length

  /** One maintenance period: MaintEvery batches, the last with maintenance. */
  def pass(index: Int, traced: Boolean, t: Tracer): Boolean = {
    tracer = t
    (0 until MaintEvery).map(j =>
      cycle(index, traced, maintenance = j == MaintEvery - 1)).forall(identity)
  }

  /** Untimed end-of-run state for the oracle check and the store sizes. */
  override def finish(): Unit = {
    fsEnd = fsWritten()
    val check = s"${cfg.work}/check"
    funnelRead().write.mode("overwrite").parquet(s"$check/store_funnel")
    IncrementalSession.read(spark, sess)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("session_id"))
      .write.mode("overwrite").parquet(s"$check/store_sessions")
    funnelMax.entrySet().toArray(Array.empty[java.util.Map.Entry[Long, Int]])
      .map(e => (e.getKey, e.getValue)).toSeq.toDF("user_id", "steps")
      .write.mode("overwrite").parquet(s"$check/stream_funnel")
    val (bytes, files) = Seq(rollup, sess).map(p => duBytes(new java.io.File(p)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    finalState = Map("ingested_batches" -> next, "ingested_events" -> ingestedEvents,
      "ingested_input_bytes" -> batchBytes.take(next).sum,
      "bytes_written" -> (fsEnd - fs0),
      "store_bytes" -> bytes, "store_files" -> files,
      "live_batches" -> (RollupStore.liveBatchCount(spark, rollup) +
        IncrementalSession.liveBatchCount(spark, sess)),
      "stream_state_bytes" -> queries.last.lastProgress.stateOperators
        .map(_.memoryUsedBytes).sum)
  }

  def layers(t: Tracer): Map[String, Double] = {
    val traced = t.opSpans
    val kids = traced.flatMap(t.childSpans)
    def spanMean(name: String): Double = {
      val xs = kids.filter(_.name == name).map(s => (s.end - s.start) / 1e9)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val ingests = traced.filter(_.name == "ingest")
    val per = traced.map(o => OpLayer.of(t, o))
    val appends = kids.filter(_.name == "RollupStore.appendStatesByGrain")
    val appendJobs = appends.map(a => t.jobsOf(traced.find(_.id == a.op).get)
      .count(j => j.start >= a.start && j.start <= a.end)).sum
    val prog = ingests.flatMap(t.progressOf).filter(_.inputRows > 0)
    def progMean(f: ProgressRec => Double, q: String = null): Double = {
      val xs = prog.filter(p => q == null || p.query == q).map(f)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val tracedFs = cycleFs.filter(_._1).map(_._2)
    val fsMean = if (tracedFs.isEmpty) 0.0 else tracedFs.sum.toDouble / tracedFs.size
    val evPerBatch = ingestedEvents.toDouble / math.max(1, next)
    val perUser = batches.take(next).flatten.groupBy(_._1).values.map { es =>
      val s = es.sortBy(_._2.getTime)
      (s.map(e => e._2.getTime * 1000 + e._2.getNanos / 1000 % 1000),
        s.map(e => Kernels.conds(e._3)))
    }.toSeq
    OpLayer.summary(per, cfg.cpus) ++ Map(
      "behavioral.state_bytes_per_event" ->
        per.zip(traced).filter(_._2.name == "ingest").map(_._1.shuffleBytes).sum.toDouble /
          math.max(1.0, ingests.size * evPerBatch),
      "store.append_s" -> spanMean("RollupStore.appendStatesByGrain"),
      "store.compact_s" -> spanMean("RollupStore.compactGrains"),
      "store.sweep_s" -> spanMean("RollupStore.sweepExpired"),
      "store.read_s" -> spanMean("RollupStore.readGrains"),
      "incsess.append_s" -> spanMean("IncrementalSession.appendBatch"),
      "incsess.compact_s" -> spanMean("IncrementalSession.compactBatches"),
      "incsess.read_s" -> spanMean("IncrementalSession.read"),
      "store.jobs_per_append" -> appendJobs.toDouble / math.max(1, appends.size),
      "store.fs_bytes_written" -> fsMean,
      "store.live_files" -> finalState("store_files").asInstanceOf[Long].toDouble,
      "store.live_batches" -> finalState("live_batches").asInstanceOf[Int].toDouble,
      "stream.trigger_s" -> progMean(_.durationsMs.getOrElse("triggerExecution", 0L) / 1e3),
      "stream.add_batch_s" -> progMean(_.durationsMs.getOrElse("addBatch", 0L) / 1e3),
      "stream.wal_commit_s" -> progMean(p => (p.durationsMs.getOrElse("walCommit", 0L) +
        p.durationsMs.getOrElse("commitOffsets", 0L)) / 1e3),
      "stream.state_commit_s" -> progMean(_.stateCommitMs / 1e3, "perfbench_funnel"),
      "stream.state_bytes" ->
        finalState("stream_state_bytes").asInstanceOf[Long].toDouble,
      "trace.overhead_ratio" -> OpRec.overhead(ops.toSeq)
    ) ++ Kernels.time(perUser) ++ TablesScan(spark, cfg.data, Seq("events"))
  }

  def record: Map[String, Any] = Map(
    "reads" -> reads.toSeq,
    "store" -> finalState,
    "maint_every" -> MaintEvery)

  def close(): Unit = queries.foreach(q => try q.stop() catch { case _: Throwable => () })
}
