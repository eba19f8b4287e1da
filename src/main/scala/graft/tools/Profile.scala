package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one profiler for the contract rows, after DuckDB's per-operator
  * `EXPLAIN ANALYZE`. For each selected `SparkEntry` row it runs one
  * discarded warm-up and one timed noop write, then prints
  *  - every Spark job the timed run submitted: duration, driver gap
  *    before it (since the run began or the last job ended), stage count
  *    and description;
  *  - the row's wall time, its busy time (the union of the job intervals:
  *    AQE submits independent query stages as concurrent jobs, so a plain
  *    sum counts their overlap twice) and its driver gap, wall − busy —
  *    listings, footer reads, planning and commits between the jobs;
  *  - a histogram of the main thread's deepest Spark/graft/Hadoop frame,
  *    sampled every 20 ms, which attributes that gap;
  *  - the final adaptive plan of the row's result in formatted mode, then
  *    every operator's non-zero SQL metrics.
  *
  *   sbt "runMain graft.tools.Profile [sfDir] q18 q58 q121"
  *
  * Rows are picked by substring of their name; cores come from
  * SPARK_GRAFT_CPUS (default 32). The session and the cached input tables
  * are Bench's, so a profile explains what the bench times.
  */
object Profile {
  /** One Spark job; times are epoch milliseconds, `endMs` -1 if no end
    * event arrived. */
  final case class Job(id: Int, desc: String, stages: Int, startMs: Long, endMs: Long)

  final case class Report(name: String, startMs: Long, wallMs: Long, jobs: Seq[Job],
      busyMs: Long, samples: Seq[(String, Int)], plan: String, operators: String) {
    def gapMs: Long = wallMs - busyMs
  }

  /** Length of the union of the intervals `[a, b)`, each clipped to
    * `[lo, hi)` — the busy time of jobs that may overlap (the definition
    * perfbench's `spark.driver_gap_s` uses). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }

  private val SampledPrefixes =
    Seq("org.apache.spark", "graft", "org.apache.hadoop", "org.apache.parquet")

  /** Warm up, then time and profile one `SparkEntry` row on `spark`. */
  def row(spark: SparkSession, sfDir: String, name: String): Report = {
    val fn = graft.SparkEntry.queries(name)
    def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.ops.OpCaches.unpersistAll()
    try run()
    catch { case e: Throwable => println(s"$name WARMUP ERROR: ${e.getMessage}") }
    graft.ops.OpCaches.unpersistAll()

    val jobs = new ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the job's description if one was set, else its result stage's
        // call site ("count at OpCaches.scala:30")
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, desc, e.stageIds.size, e.time, -1L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    }
    // the timed write is the run's last action, so its execution is the
    // last one delivered: a straggler from the warm-up arrives before it
    @volatile var lastQe: QueryExecution = null
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = lastQe = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val hist = new ConcurrentHashMap[String, Integer]()
    val mainThread = Thread.currentThread()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        if (st.nonEmpty) {
          val frames = st.take(24).map(e => e.getClassName + "." + e.getMethodName)
          val key = frames.find(f => SampledPrefixes.exists(f.startsWith))
            .getOrElse(frames.head)
          hist.merge(key, 1, (a, b) => a + b)
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val (t0, t1) = try {
      val t0 = System.currentTimeMillis()
      sampler.start()
      try run() finally { sampling = false; sampler.join() }
      val t1 = System.currentTimeMillis()
      // listener events arrive asynchronously: wait (bounded) until every
      // started job has ended and nothing new came in for three polls
      val deadline = t1 + 10000
      var last = -1
      var stable = 0
      while (System.currentTimeMillis() < deadline && stable < 3) {
        Thread.sleep(100)
        val seen = jobs.values.asScala.toSeq
        val done = lastQe != null && seen.forall(_.endMs >= 0)
        if (done && seen.size == last) stable += 1 else stable = 0
        last = seen.size
      }
      (t0, t1)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      graft.ops.OpCaches.unpersistAll()
    }

    val timed = jobs.values.asScala.toSeq.filter(_.startMs >= t0).sortBy(_.startMs)
    val busy = unionMs(timed.map(j => (j.startMs, if (j.endMs < 0) t1 else j.endMs)), t0, t1)
    val plan = Option(lastQe)
    Report(name, t0, t1 - t0, timed, busy,
      hist.asScala.toSeq.map { case (k, c) => (k, c.intValue) }.sortBy(-_._2),
      plan.map(_.explainString(FormattedMode)).getOrElse("(no execution captured)"),
      plan.map(qe => operatorMetrics(qe.executedPlan)).getOrElse(""))
  }

  /** One line per operator of the final plan (query stages and adaptive
    * wrappers opened), indented by depth, with its non-zero SQL metrics. */
  def operatorMetrics(root: SparkPlan): String = {
    val out = new StringBuilder
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1).collect { case (k, m) if m.value > 0 =>
        val v = m.metricType match {
          case "size" => f"${m.value}%,d B"
          case "timing" => f"${m.value}%,d ms"
          case "nsTiming" => f"${m.value / 1e6}%,.1f ms"
          case _ => f"${m.value}%,d"
        }
        s"${m.name.getOrElse(k)}=$v"
      }
      out ++= "  " * depth + p.nodeName +
        (if (ms.isEmpty) "" else ms.mkString("  [", "; ", "]")) + "\n"
      kids(p).foreach(walk(_, depth + 1))
    }
    walk(root, 0)
    out.toString
  }

  def render(r: Report): String = {
    val sb = new StringBuilder(s"\n==== ${r.name} ====\n")
    var prevEnd = r.startMs
    for (j <- r.jobs) {
      val dur = if (j.endMs < 0) Double.NaN else (j.endMs - j.startMs) / 1e3
      // 0 while an earlier job still runs: concurrent jobs leave no gap
      val gap = math.max(0L, j.startMs - prevEnd) / 1e3
      sb ++= f"job ${j.id}%4d  dur $dur%7.3f s  gap-before $gap%7.3f s  " +
        f"stages ${j.stages}%2d  ${j.desc.take(90)}\n"
      prevEnd = math.max(prevEnd, if (j.endMs < 0) j.startMs else j.endMs)
    }
    sb ++= f"wall ${r.wallMs / 1e3}%.3f s  busy ${r.busyMs / 1e3}%.3f s  " +
      f"driver gap ${r.gapMs / 1e3}%.3f s  (${r.jobs.size} jobs)\n"
    val n = r.samples.map(_._2).sum.max(1)
    sb ++= s"main-thread samples $n (~20 ms each):\n"
    r.samples.take(18).foreach { case (k, c) =>
      sb ++= f"  ${c * 100.0 / n}%5.1f%% ($c%4d) $k\n" }
    sb ++= "final plan:\n" ++= r.plan
    sb ++= "operator metrics:\n" ++= r.operators
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.filterNot(_.startsWith("q"))
      .getOrElse("/root/testdata/sf0.1")
    val names = args.filter(_.startsWith("q"))
    require(names.nonEmpty, "usage: Profile [sfDir] q18 q58 ...")
    val spark = graft.sources.HarnessFs.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (t <- graft.sources.Tables.names) {
      try graft.sources.Tables.load(spark, sfDir, t).cache().count()
      catch { case _: Throwable => () }
    }
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => names.exists(n.contains))
      .foreach(n => println(render(row(spark, sfDir, n))))
    spark.stop()
  }
}
