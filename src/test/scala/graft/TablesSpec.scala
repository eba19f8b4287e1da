package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** `Tables.load` takes each table's schema from one footer read instead of
  * Spark's schema-inference job: the schema must be exactly the one
  * inference gives, and a load must start no job. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("the footer schema equals spark.read.parquet's inferred schema for every table") {
    // under the conf Tables.events reads with, so a TIMESTAMP(NANOS) ts
    // resolves on both sides
    spark.conf.set(NanosAsLong, "true")
    try for (t <- Tables.names) {
      val path = s"$sfDir/$t.parquet"
      val got = graft.sources.Sinks.readParquet(spark, path).schema
      val inferred = spark.read.parquet(path).schema
      assert(got === inferred, s"$t: footer schema differs from inference")
      assert(got.map(_.nullable) === inferred.map(_.nullable), t)
    } finally spark.conf.unset(NanosAsLong)
    for (t <- Tables.names.filterNot(_ == "events"))
      assert(Tables.load(spark, sfDir, t).schema ===
        spark.read.parquet(s"$sfDir/$t.parquet").schema, t)
  }

  test("loading a table starts no Spark job") {
    for (t <- Tables.names) {
      val (_, jobs) = JobCount(spark)(Tables.load(spark, sfDir, t))
      assert(jobs === 0, s"Tables.load($t) started $jobs Spark jobs")
    }
  }
}
