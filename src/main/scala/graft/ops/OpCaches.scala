package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry of DataFrames persisted internally by the similarity/dedup
  * operators, so callers (benchmarks, long-lived sessions, pipelines) can
  * release them once a result has been fully consumed. Without this, each
  * operator invocation leaks one or two cached sketch frames and a
  * long-running session eventually thrashes the storage memory pool.
  */
object OpCaches {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val memos = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[graft] def track(df: DataFrame): DataFrame = { tracked.add(df); df }

  /** Persist + eagerly materialize + track: within a single action,
    * parallel (broadcast) subtrees race the lazy cache population and each
    * recompute the lineage; materializing first guarantees every branch
    * reads the cache. The frames the dedup and similarity operators wrap
    * are small sketches (ids, shingles, signatures, vectors), never full
    * documents. Released by `unpersistAll()`. */
  private[graft] def materialize(df: DataFrame): DataFrame = materializeN(df)._1

  /** Same as `materialize`, returning the row count the eager action
    * already computed — callers that branch on cardinality (e.g. the
    * driver union-find cutoff) reuse it instead of paying a second job. */
  private[graft] def materializeN(df: DataFrame): (DataFrame, Long) = {
    val p = track(df.persist())
    (p, p.count())
  }

  /** Unpersist ONE tracked frame now and drop it from the registry — for
    * callers with a bounded lifetime (e.g. one streaming micro-batch) that
    * must release their cache immediately instead of waiting for a session-
    * level `unpersistAll()`. Without this, a long-running ingest stream
    * accumulates one persisted sketch (plus one registry ref) per
    * micro-batch. */
  private[graft] def release(df: DataFrame): Unit = {
    tracked.remove(df)
    df.unpersist(blocking = false)
  }

  /** Memoize an expensive operator result within a session; later calls
    * with the same key reuse the cached frame. Keys must identify the input
    * plan collision-free plus all parameters (see Dedup.jaccardJoin's plan
    * digest). Cleared by `unpersistAll()`. This is what lets a pipeline run
    * `jaccardJoin` once and feed both the pair report and the
    * connected-components pass — at scale the pair list is the expensive
    * artifact and recomputing it doubles the job.
    *
    * LAZY on purpose: the first consuming action populates the cache, so a
    * single-consumer query pays exactly one computation and no extra
    * action. Callers that reference the memoized frame from PARALLEL
    * subtrees of one action must consume it once first (cf.
    * `materialize`'s race note) — dupComponents does this by
    * explode-ing both edge directions out of a single pass instead of
    * self-unioning. */
  private[graft] def memo(key: String)(build: => DataFrame): DataFrame =
    memos.computeIfAbsent(key, _ => track(build.persist()))

  /** Unpersist every operator-internal cache created so far. Safe to call
    * after the consuming action completes; results already computed are
    * unaffected. */
  def unpersistAll(): Unit = {
    memos.clear()
    var df = tracked.poll()
    while (df != null) { df.unpersist(blocking = false); df = tracked.poll() }
  }
}
