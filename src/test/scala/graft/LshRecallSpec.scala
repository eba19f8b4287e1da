package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the full-recall regime that q58 relies on: with planes=3 and
  * tables=24 at threshold 0.45, the hyperplane-LSH self-join finds EVERY
  * qualifying pair of the sf0.01 embeddings, so its output is
  * hash-identical to the exact O(n²) join (precision is always 1 — LSH
  * candidates verify against exact cosine). The planes are seeded, the
  * data is fixed, so recall here is deterministic, not probabilistic. */
class LshRecallSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("exactly-once emission equals the driver-side collision set") {
    // lshSelfJoin must emit each distinct colliding (a, b) pair, a < b,
    // exactly once — across q58's 3x24 config, mid-size configs, a wide
    // 16x8 (128-bit) config, and random vectors with duplicate/near
    // points. The reference is a brute-force recomputation of the
    // collision predicate on the driver, compared against the FULL
    // lshSelfJoin output at threshold -1 (every candidate survives).
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 8
    val vecs = (0L until 60L).map { i =>
      // clusters of 3 so collisions and near-duplicates are plentiful
      val c = (i % 20).toInt
      val basev = Array.fill(dim)(new scala.util.Random(c).nextGaussian())
      (i, basev.map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
    }
    val df = vecs.toDF("vec_id", "v")
    for ((planes, tables) <- Seq((3, 24), (8, 6), (5, 4), (16, 8))) {
      val got = graft.ops.Similarity.lshSelfJoin(df, threshold = -1.0,
          dim = dim, nPlanes = planes, tables = tables)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // exactly-once emission: no duplicate pairs
      assert(got.length === got.toSet.size,
        s"planes=$planes tables=$tables emitted duplicate pairs")
      // recompute collisions THROUGH the engine's own lshBucket to avoid
      // reimplementing the hyperplanes: one row per (id, table, bucket)
      val banded = df.select(col("vec_id"),
          posexplode(array((0 until tables).map(t =>
            graft.ops.Similarity.lshBucket(col("v"), dim, planes,
              seed = 1000L + t)): _*)))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val byTable = banded.groupBy(_._2)
      val expect = (for {
        (_, rows) <- byTable.toSeq
        Array(a, b) <- rows.groupBy(_._3).values.flatMap(g =>
          g.map(_._1).sorted.combinations(2))
      } yield (a, b)).toSet
      assert(got.toSet === expect,
        s"planes=$planes tables=$tables pair set diverged from the " +
          s"dedup semantics (${(expect -- got.toSet).size} missing, " +
          s"${(got.toSet -- expect).size} spurious)")
    }
  }

  test("q58 params reach recall == 1 vs the exact join at sf0.01") {
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = graft.ops.Similarity.blockedSelfJoinPairs(emb, threshold = 0.45)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "degenerate regime: no qualifying pairs at 0.45")
    val lsh = graft.ops.Similarity.lshSelfJoin(emb, threshold = 0.45, dim = 64,
        nPlanes = 3, tables = 24)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact -- lsh).isEmpty, s"missed pairs: ${exact -- lsh}")
    assert((lsh -- exact).isEmpty, s"spurious pairs: ${lsh -- exact}")
  }
}
