package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one barrier module: the lazy registered memo (`memo`,
  * `memoBroadcast`, drained by `drain()`) and the eager lineage cut
  * (`cut`). No other main source calls `localCheckpoint`/`checkpoint`
  * (SourceGuardSpec pins it), so `spark.sql.graft.checkpointDir` covers
  * every eager barrier.
  *
  * **Bounded driver pulls.** Every bounded model (a profile table, a
  * count frame, a gradient, an edge list, a merge list) leaves the
  * executors through [[pull]], one job of one task that lets at most
  * `cap + 1` rows out (SourceGuardSpec pins it). The one-task shape also
  * bounds the driver in bytes: `spark.driver.maxResultSize` applies to
  * that task's result, so an oversized pull fails on the executor,
  * before the driver fetches it.
  *
  * Owned lifecycle for the corpus-sized persisted memos the dedup/ANN
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

  /** Eager lineage cut: materialize `df` now and return a frame that
    * scans the materialized rows through an RDD barrier (`LogicalRDD`).
    * Used where a plan must run exactly once (a count and a write that
    * must see the same rows while a store changes underneath, loop
    * iterations whose lineage would otherwise grow, session fixtures),
    * where its inputs are about to be deleted, and in front of exploding
    * SELF-joins. The last must NOT be `persist`ed: a cached
    * InMemoryRelation advertises its true (tiny) size and AQE then
    * coalesces the join's exchanges to a handful of partitions while the
    * join OUTPUT explodes — measured 17 s → 100 s at 500k docs
    * (tools/profile.scala hamming64-2x2). The RDD scan reports unknown
    * size, keeping full parallelism.
    *
    * Which barrier is a deployment choice: `localCheckpoint()` (default)
    * is fast but trades fault tolerance — a lost executor fails the job.
    * On a real cluster set `spark.sql.graft.checkpointDir` to a DFS path
    * and every cut goes through reliable `checkpoint()` instead:
    * identical plan shape (LogicalRDD, unknown stats ⇒ no AQE coalesce),
    * executor loss recovers from the checkpoint files, at the cost of
    * writing each cut to that directory.
    *
    * A cut is NOT registered for `drain()`: its blocks are freed when the
    * frame becomes unreachable (ContextCleaner), because session
    * fixtures and stress frames must survive the drain that runs between
    * queries. A caller that knows nothing reads the cut again frees it
    * early with [[release]]. */
  def cut(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    ss.conf.getOption("spark.sql.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        pointCheckpointDir(ss.sparkContext, dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** (setting, context checkpoint dir) that [[cut]] last applied. */
  private var applied: Option[(String, String)] = None

  /** Point the context's checkpoint dir at `dir` when it is unset, or
    * when [[cut]] set it from a different value of the setting.
    * setCheckpointDir appends a per-context UUID subdir, so the value is
    * compared with what cut last applied, not with the context's dir. A
    * dir the user set directly is never cut's, and it sticks. */
  private def pointCheckpointDir(sc: org.apache.spark.SparkContext,
      dir: String): Unit = synchronized {
    val current = sc.getCheckpointDir
    if (current.isEmpty || applied.exists { case (setting, ctxDir) =>
        current.contains(ctxDir) && setting != dir }) {
      sc.setCheckpointDir(dir)
      applied = sc.getCheckpointDir.map(dir -> _)
    }
  }

  /** Free a [[cut]] now: its local-checkpoint blocks, or a reliable
    * cut's checkpoint files. Only for a cut that nothing reads again: a
    * later read of a released cut fails. Cuts never released stay on
    * disk for the context's lifetime unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on. */
  def release(cut: DataFrame): Unit = cut.queryExecution.logical match {
    case r: LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(r.rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    case _ => ()
  }

  /** Drain a bounded frame to the driver: `read` gets its rows, lazily,
    * and the result comes back as `Some`; a frame of more than `cap` rows
    * gives `None`, after at most `cap + 1` rows left the executors. `read`
    * sees the first `cap` rows before the overflow is known, and what it
    * made of them is dropped, so `read` only gathers rows (an array, a
    * streamed fold) and the caller builds its model from the `Some`. The
    * pull is `coalesce(1).limit(cap + 1)`, one job of one task, behind a
    * prefix chosen from `df`'s optimized plan (no job):
    *   - none when an aggregate or a global limit (or a union of them)
    *     sits below the top projections and filters, or the frame reads
    *     a cut, a memo or a leaf scan: the one task reads the bounded
    *     reducer outputs, the blocks or the files. A window is cut: its
    *     reducers hold every input row of a partition, not just those the
    *     filter above keeps;
    *   - otherwise a [[cut]], so the plan runs once at full parallelism
    *     instead of collapsing into the one task. The pull reads that cut
    *     once and [[release]]s it when it returns or fails, so a reliable
    *     cut's checkpoint files do not outlive the call. */
  def pull[A](df: DataFrame, cap: Long)(read: Iterator[Row] => A): Option[A] = {
    val n = math.min(cap, Int.MaxValue - 1L).toInt
    val made = if (settled(df)) None else Some(cut(df))
    try {
      val all = made.getOrElse(df).coalesce(1).limit(n + 1)
        .toLocalIterator().asScala
      val rows = all.take(n)
      val a = read(rows)
      rows.foreach(_ => ())
      if (all.hasNext) None else Some(a)
    } finally made.foreach(release)
  }

  /** Whether [[pull]] reads `df` without a cut in front (see there). */
  private def settled(df: DataFrame): Boolean = {
    def go(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Union => p.children.forall(go)
      case _: Aggregate | _: GlobalLimit | _: LeafNode => true
      case _ => false
    }
    go(df.queryExecution.optimizedPlan)
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
