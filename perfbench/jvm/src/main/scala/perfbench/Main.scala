package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.behavioral.BehavioralFunctions

final case class Config(workload: String, data: String, work: String,
    seconds: Double, trace: Boolean, cpus: Int, seed: Long, out: String,
    rows: Seq[String])

/** One benchmark operation as measured: wall seconds and whether its
  * result was correct. */
final case class OpRec(name: String, s: Double, ok: Boolean, traced: Boolean,
    pass: Int, error: String = null, events: Long = 0L)

object OpRec {
  /** Tracing overhead: median over operation names of (traced median /
    * untraced median) of the correct executions, leaving out the first
    * pass, which still carries JIT work. */
  def overhead(ops: Seq[OpRec]): Double = {
    def med(xs: Seq[Double]) = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    val r = ops.filter(o => o.ok && o.pass > 0).groupBy(_.name).values.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(med(t.map(_.s)) / med(u.map(_.s)))
    }.toSeq
    if (r.isEmpty) 1.0 else med(r)
  }
}

/** One timed pass: wall seconds, and the live heap after a full
  * collection at its end (taken outside the pass's time). */
final case class PassRec(s: Double, traced: Boolean, ok: Boolean, liveHeapMb: Double)

/** What a workload must provide; [[Main]] runs set-up several times, then
  * the untimed warm-up (which also dumps results for the oracle check),
  * then timed passes. */
trait Workload {
  val ops = ArrayBuffer[OpRec]()
  def setup(): Unit
  def warm(): Unit
  /** Runs one pass of operations into [[ops]]; false if one failed. */
  def pass(index: Int, traced: Boolean, tracer: Tracer): Boolean
  def hasNextPass: Boolean = true
  /** Untimed work after the last pass. */
  def finish(): Unit = ()
  /** Per-layer metrics from the traced operations (trace mode only). */
  def layers(tracer: Tracer): Map[String, Double]
  def record: Map[String, Any]
  def close(): Unit
}

/** Order-insensitive digest of a DataFrame's rows: count, XOR and
  * wrapping sum of the 64-bit xxhash of each row's canonical UnsafeRow
  * bytes. Computed inside the executing job, so the result never travels
  * to the driver. */
object Digest {
  def of(df: DataFrame, tracer: Tracer): String = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var x = 0L
        var s = 0L
        it.foreach { r =>
          val u = proj(r)
          val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          n += 1
          x ^= h
          s += h
        }
        Iterator((n, x, s))
      }.collect()
    }
    tracer.recordQe(qe)
    val (n, x, s) = parts.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (d, e, f)) =>
      (a + d, b ^ e, c + f) }
    f"$n%d:$x%016x:$s%016x"
  }
}

/** Heap occupancy: the live heap after a forced full collection, and the
  * peak heap in use after any collection, from the collectors' GC
  * notifications. */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }
  }

  /** Start recording the peak from now on. */
  def track(): Unit = {
    peak.set(0)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def peakAfterGcMb: Double = peak.get / 1048576.0

  def liveMb(): Double = {
    System.gc()  // the second collection frees what the first one's
    System.gc()  // reference processing released
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Main {
  val Setups = 5

  def session(cfg: Config): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${cfg.work}/tmp")
      .config("spark.sql.streaming.checkpointLocation", s"${cfg.work}/checkpoints")
    val spark = graft.sources.HarnessFs.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    BehavioralFunctions.register(spark)
    spark
  }

  def workload(cfg: Config, spark: SparkSession): Workload = cfg.workload match {
    case "curation_corpus" => new RowsWorkload(spark, cfg)
    case "store_ingest" => new StoreIngest(spark, cfg)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("seed").toLong, m("out"),
      m.get("rows").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  /** Whole passes: at least three, so a median discards one slow pass,
    * and more while the next one is expected to end within `seconds`. In
    * trace mode at least five, alternating untraced / traced. */
  def timed(cfg: Config, wl: Workload, tracer: Tracer): Seq[PassRec] = {
    val passes = ArrayBuffer[PassRec]()
    val minPasses = if (cfg.trace) 5 else 3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def nextEnd = elapsed + passes.map(_.s).sorted.apply(passes.size / 2)
    while (wl.hasNextPass && (passes.size < minPasses || nextEnd <= cfg.seconds)) {
      val traced = cfg.trace && passes.size % 2 == 1
      if (traced) tracer.attach() else tracer.detach()
      val p0 = System.nanoTime()
      val ok = wl.pass(passes.size, traced, tracer)
      val s = (System.nanoTime() - p0) / 1e9
      tracer.detach()
      passes += PassRec(s, traced, ok, Heap.liveMb())
    }
    passes.toSeq
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dump-oracle")) {
      // dump-oracle <out.json> <row...>: the rows' DuckDB twins
      val rows = args.drop(2).toSeq
      Files.write(Paths.get(args(1)), Json.write(rows.map(r => r -> SparkEntry.oracleSql(r)).toMap)
        .getBytes(StandardCharsets.UTF_8))
      return
    }
    val cfg = parse(args)
    val setupS = ArrayBuffer[Double]()
    def setUp(): (SparkSession, Workload) = {
      val t0 = System.nanoTime()
      val spark = session(cfg)
      val wl = workload(cfg, spark)
      wl.setup()
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up ${setupS.size} ${setupS.last}%.2f s")
      (spark, wl)
    }
    def tearDown(spark: SparkSession, wl: Workload): Unit = {
      wl.close()
      graft.ops.OpCaches.unpersistAll()
      spark.stop()
    }
    val (spark, wl) = setUp()
    val tw = System.nanoTime()
    wl.warm()
    System.err.println(f"[perfbench] warm-up ${(System.nanoTime() - tw) / 1e9}%.2f s")
    val tracer = new Tracer(spark)
    val gc0 = jvmGcMs()
    Heap.track()
    val passes = timed(cfg, wl, tracer)
    System.err.println("[perfbench] passes " + passes.map(p => f"${p.s}%.2f").mkString(" ") + " s")
    val gcS = (jvmGcMs() - gc0) / 1e3
    wl.finish()
    val layers =
      if (cfg.trace) {
        tracer.drain()
        val l = wl.layers(tracer) ++ Map(
          "jvm.gc_s" -> gcS / math.max(1, wl.ops.size),
          "jvm.heap_peak_mb" -> Heap.peakAfterGcMb)
        Files.write(Paths.get(s"${cfg.work}/spans.jsonl"),
          tracer.spansJson.mkString("\n").getBytes(StandardCharsets.UTF_8))
        Some(l)
      } else None
    val rec = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cpus" -> cfg.cpus,
      "fs_mode" -> graft.sources.HarnessFs.mode, "trace" -> cfg.trace,
      "jvm_gc_s" -> gcS, "passes" -> passes,
      "ops" -> wl.ops.toSeq, "layers" -> layers) ++ wl.record
    tearDown(spark, wl)
    // The first set-up is the cold one a new process pays. The others run
    // here, fresh session each, in the JVM the passes warmed, so their
    // median (setup_s) is a warm set-up rather than a point on the JIT's
    // warm-up slope.
    for (_ <- 1 until Setups) { val (s, w) = setUp(); tearDown(s, w) }
    Files.write(Paths.get(cfg.out), Json.write(rec + ("setup_s" -> setupS.toSeq)).getBytes(StandardCharsets.UTF_8))
  }
}
