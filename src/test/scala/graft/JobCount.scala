package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts from the calling thread. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-job-count-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val started = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      // listener events arrive in order on one queue: once the sentinel
      // job's start is delivered, every counted job's start was too
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
