package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for cached intermediates whose consumers
  * materialize OUTSIDE the operator that cached them (e.g. the
  * MinHash token-hash cache feeding a result the caller streams out —
  * the operator cannot know when the caller is done with the plan).
  *
  * Operators register a release closure at persist time; loop-shaped
  * callers (benches, services, the driver's per-query harness) call
  * [[drain]] between iterations so a long-lived session never
  * accumulates block-manager entries waiting for the ContextCleaner
  * (which under ParallelGC + a large heap may never run). Draining is
  * idempotent and safe at any point: releasing a persist early only
  * costs recompute, never correctness.
  *
  * Operators whose results ARE dimension-sized (the zonal rollup)
  * don't use this — they materialize eagerly and release inline
  * (see [[graft.operators.ZonalEngine.finishStats]]).
  */
object Caches {
  /** Cap on pending releases per session: a caller that never drains
    * (and would previously have leaked through the ContextCleaner
    * anyway) has its OLDEST cache released on overflow instead of the
    * registry itself pinning an unbounded set of persisted frames —
    * the registry must never leak harder than the leak it fixes.
    * Releasing early only costs recompute. */
  val MaxPending = 8

  // All map access runs under the map's monitor so a register racing
  // a drain can never slip a closure into a queue drain already
  // detached (that closure would never run — exactly the leak this
  // registry exists to fix). Release closures execute under the
  // monitor too: they are cheap (unpersist/destroy bookkeeping) and
  // contention here is a few calls per query. A session stopped
  // without ever draining pins at most MaxPending closures here —
  // weak keys would NOT help (each closure captures a Dataset that
  // strongly references its session, the classic WeakHashMap
  // value→key cycle), so the bound, not collection, is the guarantee.
  private val reg = new java.util.HashMap[
    SparkSession, java.util.ArrayDeque[() => Unit]]()

  private def run(r: () => Unit): Unit =
    try r() catch { case scala.util.control.NonFatal(_) => () }

  def register(spark: SparkSession, release: () => Unit): Unit =
    reg.synchronized {
      var q = reg.get(spark)
      if (q == null) {
        q = new java.util.ArrayDeque[() => Unit]()
        reg.put(spark, q)
      }
      q.add(release)
      while (q.size() > MaxPending) run(q.poll())
    }

  /** Persist `df` (default storage level) and register its release
    * against its session — the one persist an operator hands to the
    * registry. Returns `df`. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    register(df.sparkSession, () => { df.unpersist(false); () })
    df
  }

  /** Release everything registered against `spark`. */
  def drain(spark: SparkSession): Unit = reg.synchronized {
    val q = reg.remove(spark)
    if (q != null) {
      var r = q.poll()
      while (r != null) { run(r); r = q.poll() }
    }
  }

  /** Number of pending releases (test hook). */
  def pending(spark: SparkSession): Int = reg.synchronized {
    val q = reg.get(spark)
    if (q == null) 0 else q.size()
  }
}
