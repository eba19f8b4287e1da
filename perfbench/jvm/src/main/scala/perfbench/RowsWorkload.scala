package graft.perfbench

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ops.{Dedup, OpCaches, Similarity}
import graft.sources.Tables

/** Runs the contract rows named in `cfg.rows` over the cached corpus
  * (`documents`, `embeddings`), with `OpCaches.unpersistAll()` before each
  * execution, as `graft.Bench` does. The warm-up executes each row once,
  * dumps its result as parquet for the oracle check and keeps its digest;
  * every timed execution must reproduce that digest or it counts as
  * failed. */
final class RowsWorkload(spark: SparkSession, cfg: Config) extends Workload {
  private val fns = SparkEntry.queries
  private val warmed = LinkedHashMap[String, Either[String, String]]()
  private var ratios = Map.empty[String, Double]

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).split("\n").head.take(300)

  def setup(): Unit =
    for (t <- Seq("documents", "embeddings"))
      Tables.load(spark, cfg.data, t).cache().count()

  def warm(): Unit = {
    cfg.rows.foreach { name =>
      OpCaches.unpersistAll()
      val t0 = System.nanoTime()
      warmed(name) =
        try {
          val df = fns(name)(spark, cfg.data).persist(StorageLevel.MEMORY_AND_DISK)
          df.write.mode("overwrite").parquet(s"${cfg.work}/results/$name")
          val d = Digest.of(df, new Tracer(spark))
          df.unpersist(blocking = true)
          Right(d)
        } catch { case e: Throwable => Left(message(e)) }
      System.err.println(f"[perfbench] warm-up $name ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        warmed(name).fold(e => s"ERROR $e", _ => "ok"))
    }
    OpCaches.unpersistAll()
  }

  def pass(index: Int, traced: Boolean, tracer: Tracer): Boolean =
    cfg.rows.map { name =>
      OpCaches.unpersistAll()
      val (res, ns) = tracer.op(name) {
        try Right(Digest.of(fns(name)(spark, cfg.data), tracer))
        catch { case e: Throwable => Left(message(e)) }
      }
      val ok = res.isRight && warmed.get(name).contains(res)
      ops += OpRec(name, ns / 1e9, ok, traced, index, res.left.toOption.orNull)
      ok
    }.forall(identity)

  override def finish(): Unit = {
    OpCaches.unpersistAll()
    if (cfg.trace) ratios = usefulRatios()
  }

  /** Pairs emitted / candidate pairs verified, for the LSH self-join (q58's
    * parameters; candidates = every bucket-colliding pair, which is what
    * the operator emits at threshold -1) and the exact Jaccard join (q18's
    * parameters; candidates = the prefix-filter stage's output). */
  private def usefulRatios(): Map[String, Double] = {
    val emb = Tables.load(spark, cfg.data, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def lsh(t: Double) = Similarity.lshSelfJoin(emb, threshold = t, dim = 64,
      nPlanes = 3, tables = 24).count().toDouble
    val lshRatio = lsh(0.45) / math.max(1.0, lsh(-1.0))
    OpCaches.unpersistAll()
    val docs = Tables.load(spark, cfg.data, "documents")
    val emitted = Dedup.jaccardJoin(docs, threshold = 0.5).count().toDouble
    val sh = Dedup.shingleFrameHashed(docs, "doc_id", "text", 3).persist()
    val cands = Dedup.jaccardCandidates(sh, 0.5).count().toDouble
    sh.unpersist()
    OpCaches.unpersistAll()
    Map("similarity.lsh_useful_ratio" -> lshRatio,
      "dedup.jaccard_useful_ratio" -> emitted / math.max(1.0, cands))
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    val per = tracer.opSpans.map(o => o -> OpLayer.of(tracer, o))
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val rowTimes = per.groupBy(_._1.name).map { case (n, xs) =>
      s"row.${n.takeWhile(_ != '_')}_s" -> median(xs.map(_._2.wallS)) }
    OpLayer.summary(per.map(_._2), cfg.cpus) ++ rowTimes ++ ratios ++
      TablesScan(spark, cfg.data, Seq("documents", "embeddings")) ++ Map(
        "behavioral.state_bytes_per_event" -> 0.0,
        "trace.overhead_ratio" -> OpRec.overhead(ops.toSeq))
  }

  def record: Map[String, Any] = Map(
    "warm" -> warmed.map { case (n, r) => n -> Map(
      "ok" -> r.isRight, "digest" -> r.toOption, "error" -> r.left.toOption) })

  def close(): Unit = ()
}
