package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Owned lifecycle for the corpus-sized persisted memos the dedup/ANN
  * family pins (joinBackOnce drop sets, hashed-shingle tables, semantic
  * assignment memos) and the metric stages' reserve-bound input. Spark's CacheManager holds strong references, so a
  * long-lived session looping corpora (`graft.Main --watch`) would
  * otherwise accumulate MEMORY_AND_DISK blocks until LRU thrash; the
  * registry gives pipeline drivers one `drain()` to call when a run's
  * consuming actions are done (Planner.runBatch after its sinks,
  * foreachBatch after each micro-batch, Bench/Verify between queries).
  *
  * `memo` is persist-with-registration, NOT eager materialization: the
  * frames it pins are read lazily by the caller's later action, and the
  * whole point of the persist is that the FIRST action fills the cache
  * (see Dedup.joinBackOnce on why un-persisted anti-join sides re-derive
  * per union branch). drain() therefore belongs strictly AFTER the
  * consuming action; draining early is safe for correctness (the plan
  * recomputes) but re-opens the union re-derivation cost.
  *
  * THREAD-scoped, not global: plans are built and consumed on the thread
  * that drives them (runBatch on the caller's thread, each streaming
  * query's foreachBatch on its own micro-batch thread), so a per-thread
  * queue means two concurrent pipelines cannot drain each other's
  * not-yet-consumed memos — a global queue would let query A's
  * post-batch drain unpersist query B's drop-set memo mid-derivation,
  * resurfacing the union re-derivation cost intermittently.
  */
object CacheRegistry {
  private val local =
    ThreadLocal.withInitial[java.util.ArrayDeque[DataFrame]](
      () => new java.util.ArrayDeque[DataFrame]())
  private val localBc =
    ThreadLocal.withInitial[java.util.ArrayDeque[
        org.apache.spark.broadcast.Broadcast[_]]](
      () => new java.util.ArrayDeque[org.apache.spark.broadcast.Broadcast[_]]())

  /** persist(MEMORY_AND_DISK) + register for this thread's next drain(). */
  def memo(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    local.get.add(p)
    p
  }

  /** Register a hand-built Broadcast (kernel models: NgramLm's LmModel,
    * …) for this thread's next drain(). Drained with `unpersist`, NOT
    * `destroy`: executors drop their copies, the driver keeps the value,
    * so a plan object that outlives the drain simply re-fetches — the
    * exact lifecycle the persisted-frame memos have. Without this,
    * every score() call in a long-lived session leaked its model's
    * broadcast blocks for the JVM lifetime (r19 ADVICE). */
  def memoBroadcast[T](
      bc: org.apache.spark.broadcast.Broadcast[T]): org.apache.spark.broadcast.Broadcast[T] = {
    localBc.get.add(bc)
    bc
  }

  /** Unpersist every frame and broadcast registered on this thread.
    * Non-blocking: the executors free the blocks asynchronously while
    * the driver moves on. */
  def drain(): Unit = {
    val q = local.get
    var d = q.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Throwable => () }
      d = q.poll()
    }
    val qb = localBc.get
    var b = qb.poll()
    while (b != null) {
      try b.unpersist(blocking = false) catch { case _: Throwable => () }
      b = qb.poll()
    }
  }

  /** Registered-but-not-yet-drained count on this thread (spec hook). */
  def size: Int = local.get.size + localBc.get.size
}
