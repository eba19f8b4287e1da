package graft
package contracts

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its name, its Spark body and its DuckDB
  * oracle, declared side by side in the row's family file.
  *
  * `run(spark, sfDir)` computes the row over the fixture tables under
  * `sfDir`. `oracleSql` is a DuckDB-runnable ANSI SQL twin computing the
  * same result with the SAME column names and (cast-normalized) types.
  * Timestamps are compared as epoch microseconds (BIGINT): the events
  * parquet's `ts` has shipped as TIMESTAMP(NANOS), timestamp[us], and raw
  * int64 micros across testdata generations, and Tables.events normalizes
  * all of them to a µs-precision TimestampType under the UTC session
  * timezone — the same value DuckDB sees — so the µs longs agree exactly.
  * Floating-point aggregates are rounded to keep sum-order noise out of the
  * hash compare. A row whose answer another row's SQL already states reuses
  * it by value (`BehavioralContracts.q03.oracleSql`).
  */
final case class Contract(name: String, run: (SparkSession, String) => DataFrame,
    oracleSql: String) {
  // a reference to a row declared later in the same object reads null
  require(run != null && oracleSql != null,
    s"$name refers to a contract that is not initialized yet")
}

object Contract {
  /** `f` of every contract, keyed by name. A repeated name throws: a map
    * literal would silently keep the later of two equal keys. */
  def byName[A](contracts: Seq[Contract])(f: Contract => A): Map[String, A] = {
    val repeated = contracts.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(repeated.isEmpty,
      s"contract names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    contracts.map(c => c.name -> f(c)).toMap
  }
}
