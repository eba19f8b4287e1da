package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * The `events` table's `ts` column has shipped in different parquet physical
  * types across testdata generations (TIMESTAMP(NANOS), plain timestamp[us],
  * raw int64 micros), so the loader is schema-adaptive: it reads under
  * `spark.sql.legacy.parquet.nanosAsLong=true` (a no-op for non-nanos files;
  * for TIMESTAMP(NANOS) files it surfaces the column as LongType instead of
  * failing analysis with [PARQUET_TYPE_ILLEGAL]) and then normalizes on the
  * observed dtype:
  *
  *   - LongType           → footer-sniffed: TIMESTAMP(NANOS) annotation →
  *                          `timestamp_micros(ts div 1000)` (the same ns→µs
  *                          truncation DuckDB applies when it narrows
  *                          TIMESTAMP_NS to its native µs TIMESTAMP);
  *                          un-annotated int64 → treated as epoch micros.
  *   - TimestampNTZType   → `cast(timestamp)` — value-preserving under the
  *                          UTC session timezone every entry point sets, and
  *                          DuckDB reads the same column as naive µs, so
  *                          `unix_micros` comparisons agree exactly.
  *   - TimestampType      → already µs-instant; pass through.
  */
object Tables {

  /** Load one testdata table by name with schema normalization. The
    * schema comes from one footer read ([[Sinks.readParquet]]), so a load
    * starts no Spark job. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") events(spark, sfDir)
    else Sinks.readParquet(spark, s"$sfDir/$name.parquet")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val path = s"$sfDir/events.parquet"
      val raw = Sinks.readParquet(spark, path)
      raw.schema("ts").dataType match {
        case LongType if tsIsNanosAnnotated(spark, path) =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case LongType         => raw.withColumn("ts", timestamp_micros(col("ts")))
        case TimestampNTZType =>
          // cast(NTZ -> instant) reinterprets the naive value in the SESSION
          // timezone; it is only value-preserving (and only agrees with
          // DuckDB's naive-µs read) under UTC. Every shipped entry point sets
          // UTC — fail loudly for a caller that didn't, instead of silently
          // shifting every timestamp and producing flaky oracle mismatches.
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"Tables.events requires spark.sql.session.timeZone=UTC to read a TIMESTAMP_NTZ ts column value-preservingly (got '$tz')")
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType    => raw
        case other => throw new IllegalStateException(
          s"events.ts has unsupported parquet-read dtype $other (expected LongType, TimestampNTZType, or TimestampType)")
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }

  /** A LongType `ts` is ambiguous: TIMESTAMP(NANOS) surfaced via nanosAsLong,
    * or a raw un-annotated int64 of epoch micros. One driver-side footer read
    * settles it — check the parquet logical annotation on the first data file.
    */
  private def tsIsNanosAnnotated(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val schema = Sinks.firstFooter(spark, path).getParquetMetadata
      .getFileMetaData.getSchema
    schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
