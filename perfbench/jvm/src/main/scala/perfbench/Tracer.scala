package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: a benchmark operation (parent 0), a call from the
  * benchmark into one of graft's layers, or a Spark job / stage reported
  * by the listener. `op` is the id of the operation span it belongs to.
  * Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

final case class TaskRec(stageId: Int, durMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long, peakMem: Long)
final case class StageRec(stageId: Int, start: Long, end: Long)
final case class JobRec(jobId: Int, group: String, start: Long, end: Long,
    stages: Seq[Int])
final case class QeRec(at: Long, qe: QueryExecution)
final case class ProgressRec(at: Long, query: String,
    durationsMs: Map[String, Long], stateCommitMs: Long, stateBytes: Long,
    inputRows: Long)

/** Plan walker over the final adaptive plan and its subqueries. */
object Plans extends AdaptiveSparkPlanHelper {
  def nodes(qe: QueryExecution): Seq[SparkPlan] =
    try collectWithSubqueries(qe.executedPlan) { case p => p }
    catch { case _: Throwable => Seq.empty }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}

/** Span and counter recorder built only from public hooks: a
  * `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (planning phases and plan metrics of every action), a
  * `StreamingQueryListener` (micro-batch progress), Hadoop `FileSystem`
  * statistics, and `setJobGroup` per operation. Everything is kept in
  * memory; [[spansJson]] writes it out at exit.
  *
  * When `enabled` is false every hook is detached and [[op]] / [[span]]
  * only run their body, so untraced passes pay nothing but two
  * `nanoTime` reads. */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = nano0 + (ms - ms0) * 1000000L

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer[Span]()
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val qes = ArrayBuffer[QeRec]()
  private val progress = ArrayBuffer[ProgressRec]()
  private val jobStarts = scala.collection.mutable.Map[Int, (String, Long, Seq[Int])]()
  private val stageStarts = scala.collection.mutable.Map[Int, Long]()

  @volatile var enabled = false
  @volatile private var currentOp = 0L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts(e.jobId) = (g, msToNs(e.time), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (g, s, st) =>
        jobs += JobRec(e.jobId, g, s, msToNs(e.time), st)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized { stageStarts(e.stageInfo.stageId) = System.nanoTime() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        stages += StageRec(id, stageStarts.remove(id).getOrElse(System.nanoTime()),
          System.nanoTime())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      Tracer.this.synchronized { qes += QeRec(System.nanoTime(), qe) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val dm = d.keySet().toArray(Array.empty[String])
        .map(k => k -> d.get(k).longValue()).toMap
      Tracer.this.synchronized {
        progress += ProgressRec(System.nanoTime(), Option(p.name).getOrElse(p.id.toString),
          dm, p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum, p.numInputRows)
      }
    }
  }

  def attach(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def detach(): Unit = if (enabled) {
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Record a query execution the benchmark ran itself (through
    * `QueryExecution.toRdd`, which no `QueryExecutionListener` sees). */
  def recordQe(qe: QueryExecution): Unit =
    if (enabled) synchronized { qes += QeRec(System.nanoTime(), qe) }

  /** Run one benchmark operation; returns its result and wall nanos. */
  def op[T](name: String)(body: => T): (T, Long) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, System.nanoTime() - t0)
    }
    val id = ids.incrementAndGet()
    spark.sparkContext.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    currentOp = id
    stack.set(List(id))
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, System.nanoTime() - t0)
    } finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(id, 0L, id, name, t0, t1) }
      stack.set(Nil)
      currentOp = 0L
      spark.sparkContext.clearJobGroup()
    }
  }

  /** A call into a layer, nested under the calling thread's open span, or
    * under the current operation when called from another thread (a
    * streaming `foreachBatch` sink runs on the query's own thread). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val st = stack.get()
    val op = currentOp
    val parent = st.headOption.getOrElse(op)
    stack.set(id :: st)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(st)
      synchronized { spans += Span(id, parent, op, name, t0, t1) }
    }
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended (bounded), so attribution sees complete records. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(100)
      val (open, n) = synchronized { (jobStarts.size, tasks.size + jobs.size + progress.size) }
      if (open == 0 && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  /** The operation spans, and for each the jobs, stages, tasks and query
    * executions attributed to it: by job group when the job carries the
    * operation's group, otherwise by time (operations never overlap — the
    * loop is closed, one client). */
  def opSpans: Seq[Span] = synchronized { spans.filter(_.parent == 0L).toSeq }

  def jobsOf(op: Span): Seq[JobRec] = synchronized {
    jobs.filter(j => j.group == s"op-${op.id}" ||
      (!j.group.startsWith("op-") && j.start >= op.start && j.start <= op.end)).toSeq
  }

  def qesOf(op: Span): Seq[QueryExecution] = synchronized {
    qes.filter(q => q.at >= op.start && q.at <= op.end).map(_.qe).toSeq
  }

  def progressOf(op: Span): Seq[ProgressRec] = synchronized {
    progress.filter(p => p.at >= op.start && p.at <= op.end).toSeq
  }

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val st = js.flatMap(_.stages).toSet
    synchronized { tasks.filter(t => st(t.stageId)).toSeq }
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val st = js.flatMap(_.stages).toSet
    synchronized { stages.filter(s => st(s.stageId)).toSeq }
  }

  def childSpans(op: Span): Seq[Span] = synchronized {
    spans.filter(s => s.op == op.id && s.parent != 0L).toSeq
  }

  /** Union length of intervals clipped to [lo, hi]. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    c.foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Self time of a span: its length minus the part its children cover. */
  def selfNs(s: Span): Long = {
    val kids = synchronized { spans.filter(_.parent == s.id).toSeq }
    (s.end - s.start) - unionNs(kids.map(k => (k.start, k.end)), s.start, s.end)
  }

  /** Every recorded span plus job and stage spans (linked to their
    * operation), one JSON object per line. */
  def spansJson: Seq[String] = {
    val ops = opSpans
    def opOf(j: JobRec): Long =
      ops.find(o => j.group == s"op-${o.id}").orElse(
        ops.find(o => j.start >= o.start && j.start <= o.end)).map(_.id).getOrElse(0L)
    val own = synchronized(spans.toSeq).map(s => Json.write(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> (s.start - nano0), "end_ns" -> (s.end - nano0),
      "self_ns" -> selfNs(s))))
    val js = synchronized(jobs.toSeq)
    val stageJob = js.flatMap(j => j.stages.map(_ -> j)).toMap
    val jobSpans = js.map { j =>
      val o = opOf(j)
      Json.write(Map("name" -> s"job ${j.jobId}", "parent" -> o, "op" -> o,
        "group" -> j.group, "start_ns" -> (j.start - nano0), "end_ns" -> (j.end - nano0)))
    }
    val stageSpans = synchronized(stages.toSeq).flatMap { s =>
      stageJob.get(s.stageId).map { j =>
        Json.write(Map("name" -> s"stage ${s.stageId}", "job" -> j.jobId,
          "op" -> opOf(j), "start_ns" -> (s.start - nano0),
          "end_ns" -> (s.end - nano0)))
      }
    }
    own ++ jobSpans ++ stageSpans
  }
}

/** Per-operation Spark-layer numbers derived from the recorder. */
final case class OpLayer(wallS: Double, planS: Double, jobs: Int, gapS: Double,
    taskS: Double, cpuS: Double, gcS: Double, shuffleBytes: Long,
    spillBytes: Long, skew: Double, peakMem: Long, aggS: Double,
    fallbackTasks: Long)

object OpLayer {
  /** The Spark-layer and behavioral-aggregate metrics of a workload's
    * traced operations: means per operation, skew as the median over
    * operations, core use over their summed wall time. */
  def summary(per: Seq[OpLayer], cpus: Int): Map[String, Double] = {
    def mean(f: OpLayer => Double): Double =
      if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    Map(
      "spark.plan_s" -> mean(_.planS),
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.driver_gap_s" -> mean(_.gapS),
      "spark.task_s" -> mean(_.taskS),
      "spark.cpu_s" -> mean(_.cpuS),
      "spark.gc_s" -> mean(_.gcS),
      "spark.shuffle_write_bytes" -> mean(_.shuffleBytes.toDouble),
      "spark.spill_bytes" -> mean(_.spillBytes.toDouble),
      "spark.task_skew" -> (if (per.isEmpty) 1.0 else per.map(_.skew).sorted.apply(per.size / 2)),
      "spark.core_util" -> per.map(_.taskS).sum / math.max(1e-9, per.map(_.wallS).sum * cpus),
      "behavioral.agg_s" -> mean(_.aggS),
      "behavioral.sort_fallback_tasks" -> mean(_.fallbackTasks.toDouble),
      "behavioral.peak_mem_bytes" -> (if (per.isEmpty) 0.0 else per.map(_.peakMem).max.toDouble))
  }

  def of(t: Tracer, op: Span): OpLayer = {
    val js = t.jobsOf(op)
    val ts = t.tasksOf(js)
    val wall = op.end - op.start
    val covered = t.unionNs(js.map(j => (j.start, j.end)), op.start, op.end)
    val nodes = t.qesOf(op).flatMap(Plans.nodes)
    val plan = t.qesOf(op).map { qe =>
      qe.tracker.phases.values.map(p => p.durationMs).sum
    }.sum / 1e3
    // skew: max over median task time in the op's slowest stage
    val byStage = ts.groupBy(_.stageId)
    val slowest = t.stagesOf(js).filter(s => byStage.contains(s.stageId))
      .sortBy(s => s.start - s.end).headOption
    val skew = slowest.map { s =>
      val d = byStage(s.stageId).map(_.durMs.toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }.getOrElse(1.0)
    val aggs = nodes.filter {
      case _: ObjectHashAggregateExec | _: SortAggregateExec => true
      case _ => false
    }
    OpLayer(
      wallS = wall / 1e9,
      planS = plan,
      jobs = js.size,
      gapS = (wall - covered) / 1e9,
      taskS = ts.map(_.durMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      skew = skew,
      peakMem = if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
      aggS = aggs.map(Plans.metric(_, "aggTime")).sum / 1e3,
      fallbackTasks = aggs.map(Plans.metric(_, "numTasksFallBacked")).sum)
  }
}

/** Direct timing of the `sources.Tables` layer: full scans (every column
  * hashed, as a row execution consumes them) of the workload's input
  * tables, uncached; median of three. Bytes are the tasks' input bytes of
  * one scan, from the listener (the local filesystem statistics miss
  * parquet's vectored reads). */
object TablesScan {
  def apply(spark: SparkSession, dataDir: String, tables: Seq[String]): Map[String, Double] = {
    val off = new Tracer(spark)
    val bytes = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val times = try (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => Digest.of(graft.sources.Tables.load(spark, dataDir, t), off))
      (System.nanoTime() - t0) / 1e9
    } finally {
      // task-end events arrive asynchronously: wait until the count settles
      var last = -1L
      while (bytes.get() != last) { last = bytes.get(); Thread.sleep(300) }
      spark.sparkContext.removeSparkListener(listener)
    }
    Map("tables.scan_s" -> times.sorted.apply(1), "tables.scan_bytes" -> bytes.get() / 3.0)
  }
}
