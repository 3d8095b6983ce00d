package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A built IVF index: coarse centroids + per-vector posting-list
  * assignment. `save` writes the posting lists PARTITIONED BY cell so a
  * probe of `nprobe` cells reads only those directories (partition
  * pruning — the on-disk layout that makes IVF sublinear at 100 TB). */
final case class IvfIndex(centroids: DataFrame, assigned: DataFrame) {
  def save(path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$path/assigned")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // drift baseline: per-cell posting-list sizes AT BUILD TIME, the
    // denominator appendToIvfIndex's rebuild policy measures against.
    // Underscore-prefixed → invisible to parquet discovery (the
    // seen-store sidecar convention, Dedup.scala store layout).
    IvfIndex.writeBaseCounts(assigned, path)
  }
}

object IvfIndex {
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$path/centroids"),
      // partition-column inference narrows cell_id to int — restore the
      // build-time long so loaded and freshly-built indexes are
      // schema-identical (union-safe, no cast inside the probe join)
      spark.read.parquet(s"$path/assigned")
        .withColumn("cell_id", col("cell_id").cast("long")))

  private[ml] def writeBaseCounts(assigned: DataFrame, path: String): Unit =
    assigned.groupBy(col("cell_id").cast("long").as("cell_id"))
      .agg(count(lit(1)).as("base_n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_base_counts")
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * All vector math is double-precision left folds over built-in lambda
  * functions — codegen'd, UDF-free, and bit-reproducible across engines
  * (the DuckDB oracle re-derives identical values).
  *
  * Scale paths:
  *   - brute-force top-k: broadcast the (small) query set; one pass over
  *     the corpus, per-partition top-k via window — corpus never shuffles
  *     more than k rows per query.
  *   - SRP-LSH buckets: deterministic random-hyperplane signs bucket the
  *     corpus; queries probe only their bucket — sublinear per query.
  */
object Similarity {

  /** dot(a, b) as a sequential double fold (deterministic order) — the
    * codegen'd DotD kernel, bit-identical to
    * `aggregate(zip_with(a,b,*), 0d, +)` and to DuckDB's list_reduce. */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayFns.dotD(a.cast("array<double>"), b.cast("array<double>"))

  /** num / denom with a NULL (never ANSI-throwing) zero denominator: a
    * zero-norm vector yields null similarity — ranked last by the
    * NULLS LAST desc windows, never ≥ any threshold — instead of one
    * degenerate row killing a corpus-scale job under ANSI mode. */
  private[ml] def overNorm(num: Column, denom: Column): Column =
    num / nullif(denom, lit(0d))

  def cosine(a: Column, b: Column): Column =
    overNorm(dot(a, b), sqrt(dot(a, a) * dot(b, b)))

  /** Brute-force cosine top-k of `corpus` for each row of `queries`.
    * The query side is broadcast — the corpus side is scanned once. */
  /** Pool chunk embeddings into one vector per group — the embed-then-
    * pool step of retrieval pipelines (document = mean of its chunk
    * vectors; `mode = "sum"` skips the divide). Returns
    * (groupCol, n_chunks, embedding).
    *
    * Determinism contract: chunk vectors are collected PER GROUP sorted
    * by `orderCol`, then folded element-wise in that order (double
    * arithmetic) — a plain per-dimension SUM would add in partition
    * order and drift between runs/engines. The collect is bounded by a
    * group's chunk count (documents chunk to dozens, not millions);
    * this is NOT a corpus-wide collect. One shuffle, keyed by group.
    *
    * Malformed input contract: NULL chunk vectors are dropped before the
    * fold (n_chunks counts only real vectors; a group of only nulls
    * emits no row), and a group whose vectors disagree on dimension
    * FAILS the job — `zip_with` would otherwise pad the shorter vector
    * with nulls and silently null the affected dimensions of the pooled
    * embedding. */
  def poolEmbeddings(df: DataFrame, vecCol: String, groupCol: String,
      orderCol: String, mode: String = "mean"): DataFrame = {
    require(mode == "mean" || mode == "sum", s"pool mode mean|sum, got '$mode'")
    val vecs = col("__graft_pool_vecs")
    val acc = aggregate(
      transform(vecs, v => transform(v, x => x.cast("double"))),
      transform(element_at(vecs, 1), _ => lit(0.0d)),
      (a, v) => zip_with(a, v, _ + _))
    val pooled = if (mode == "mean")
      transform(acc, x => x / size(vecs)) else acc
    val dimsAgree = forall(vecs,
      v => size(v) === size(element_at(vecs, 1)))
    df.filter(col(s"`$vecCol`").isNotNull)
      .groupBy(col(s"`$groupCol`"))
      .agg(sort_array(collect_list(struct(
        col(s"`$orderCol`").as("o"), col(s"`$vecCol`").as("v")))).as("__graft_pool_sorted"))
      .withColumn("__graft_pool_vecs",
        transform(col("__graft_pool_sorted"), s => s.getField("v")))
      .filter(size(vecs) > 0)
      .withColumn("__graft_pool_chk", assert_true(dimsAgree,
        concat(lit("poolEmbeddings: inconsistent chunk vector dims in group "),
          col(s"`$groupCol`").cast("string"))))
      .select(col(s"`$groupCol`"), size(vecs).as("n_chunks"),
        when(col("__graft_pool_chk").isNull, pooled).as("embedding"))
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    // self-dots are precomputed per vector so each scored pair costs ONE
    // dot product instead of three — sim values stay bit-identical
    // (same doubles multiplied in the same order)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qsd", dot(col("qv"), col("qv")))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("csd", dot(col("cv"), col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", overNorm(dot(col("qv"), col("cv")), sqrt(col("qsd") * col("csd"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1]: derived
    * from md5("p_i") so any engine can recompute it (the DuckDB oracle
    * re-derives the same planes in SQL). Computed ONCE, driver-side — the
    * plane matrix is a constant, so it enters the plan as a literal array
    * instead of per-row md5 string hashing (the old per-row form cost
    * numPlanes × dim md5 calls per row — ~5s of the sf0.1 bench). */
  private[ml] def planeComponent(plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_${dim}".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    ((java.lang.Long.parseLong(hex.substring(24, 32), 16) % 2001) - 1000) / 1000.0
  }

  private[ml] def planeVector(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => planeComponent(plane, i))

  /** SRP-LSH bucket id: `numPlanes` sign bits of dot(v, r_p). The planes
    * are statically unrolled literal arrays — each bit is one codegen'd
    * zip_with/aggregate fold over doubles. */
  def srpBucket(vec: Column, numPlanes: Int, dim: Int): Column = {
    val v = vec.cast("array<double>")
    (0 until numPlanes).map { p =>
      val plane = typedlit(planeVector(p, dim)).cast("array<double>")
      val d = graft.functions.ArrayFns.dotD(v, plane)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k: queries probe their SRP bucket, plus — with `probes` > 0
    * — the `probes` buckets one bit-flip away (multi-probe LSH, the
    * standard recall knob: a near neighbor that lands across ONE
    * hyperplane is recovered without doubling the plane count). Probe
    * buckets are distinct values, so the bucket join still yields each
    * (query, candidate) pair at most once — no dedup stage. The probe
    * fan-out multiplies only the BROADCAST side (queries × probes+1);
    * the corpus side is untouched, which is what keeps multi-probe
    * nearly free at corpus scale. */
  def annTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, numPlanes: Int = 8,
      dim: Int = 64, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= numPlanes,
      s"probes must be in [0, numPlanes=$numPlanes], got $probes")
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
      srpBucket(col(vecCol), numPlanes, dim).as("bucket"),
      dot(col(vecCol), col(vecCol)).as("csd"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      srpBucket(col(vecCol), numPlanes, dim).as("bucket"),
      dot(col(vecCol), col(vecCol)).as("qsd"))
    val q =
      if (probes == 0) q0
      else q0
        .withColumn("flip",
          explode(array((lit(0L) +: (0 until probes).map(p => lit(1L << p))): _*)))
        .withColumn("bucket", col("bucket").bitwiseXOR(col("flip")))
        .drop("flip")
    val scored = c.join(broadcast(q), "bucket")
      .withColumn("sim", overNorm(dot(col("qv"), col("cv")), sqrt(col("qsd") * col("csd"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  /** IVF (inverted-file) ANN: the classic two-stage scale path.
    *
    *   1. a small set of coarse centroids partitions the corpus into
    *      cells (posting lists); every corpus vector is assigned to its
    *      nearest centroid ONCE (build time, one cross join against the
    *      broadcast centroid set);
    *   2. each query scores only the `nprobe` cells whose centroids are
    *      nearest — candidate set shrinks by ~numCells/nprobe.
    *
    * Centroids here are seeded deterministically (the first `numCells`
    * corpus vectors) so any engine can reproduce the result; a production
    * build would run k-means offline and broadcast the trained centroids —
    * the query path is identical. At cluster scale, `assigned` is written
    * out partitioned by `cell_id` so probes touch only matching files
    * (partition pruning), making the per-query cost sublinear. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, numCells: Int = 16, nprobe: Int = 3): DataFrame =
    ivfSearch(buildIvfIndex(corpus, vecCol, idCol, numCells),
      queries, vecCol, idCol, k, nprobe)

  /** Coarse centroids + posting-list assignment — the BUILD-ONCE half of
    * IVF. Persist with [[IvfIndex.save]] (partitioned by cell) and serve
    * many query batches against the loaded index; re-running the
    * assignment per query batch is the anti-pattern this API removes. */
  /** Lloyd k-means over the embedding column: seeds from the `k`
    * smallest-id vectors (id-INDEPENDENT — a `TakeOrderedAndProject` over
    * (id, hash(v)), so sparse or non-zero-based ids from an upstream
    * dedup stage seed fine; deterministic even under duplicate ids via
    * the hash tiebreak), then `iters` rounds of assign (broadcast
    * centroids, argmax cosine) + recompute (per-cluster component-wise
    * mean via posexplode/groupBy — shuffle key is (cluster, component),
    * bounded by k·dim). A corpus smaller than `k` clamps to one cell per
    * vector, mirroring `buildIvfIndex`'s seeded clamp. Returns a
    * `(cell_id, centroid)` frame for
    * `buildIvfIndex(corpus, …, centroids = Some(trained))`; each round is
    * one job and the driver never holds vector data. */
  def trainKmeansCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    val vecs = corpus.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vsd", dot(col("v"), col("v")))
      // unique per-ROW key for the assignment argmax: partitioning that
      // window by vid would collapse duplicate-id rows to one surviving
      // vector per id — every row must contribute to its cell's mean.
      // Only uniqueness matters (values never leave this function), and
      // the persist below pins one materialization for all rounds.
      .withColumn("__rid", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // corpus-sized memo: lineage survives executor loss; owned here (unpersisted before return)
    // orderBy+limit collapses to TakeOrderedAndProject (no global sort
    // materialization); the k seed rows then get dense cell ids via a
    // single-partition window over just those k rows
    var cents = vecs.orderBy(col("vid"), hash(col("v"))).limit(k)
      .withColumn("cell_id",
        row_number().over(Window.orderBy(col("vid"), hash(col("v"))))
          .cast("long") - 1)
      .select(col("cell_id"), col("v").as("centroid"))
    val seeds = cents.count()
    require(seeds > 0, "trainKmeansCentroids: empty corpus")
    for (_ <- 0 until iters) {
      val c = cents
        .withColumn("centsd", dot(col("centroid"), col("centroid")))
      val wAssign = Window.partitionBy("__rid").orderBy(col("csim").desc, col("cell_id"))
      val assigned = vecs.crossJoin(broadcast(c))
        .withColumn("csim",
          overNorm(dot(col("v"), col("centroid")), sqrt(col("vsd") * col("centsd"))))
        .withColumn("crank", row_number().over(wAssign))
        .filter(col("crank") === 1)
        .select(col("cell_id"), col("v"))
      cents = assigned
        .select(col("cell_id"), posexplode(col("v")))
        .groupBy("cell_id", "pos").agg(avg("col").as("mean"))
        .groupBy("cell_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mean"))))
          .getField("mean").as("centroid"))
        .transform(graft.core.CacheRegistry.cut)
    }
    // every consumer of `vecs` ran inside the loop (each round's cents is
    // cut, losing its lineage to vecs) — owned persist,
    // freed on exit rather than left for a registry drain
    vecs.unpersist(blocking = false)
    cents
  }

  def buildIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      numCells: Int = 16, centroids: Option[DataFrame] = None): IvfIndex = {
    // self-dots ride along (and PERSIST with the index): each scored pair
    // downstream costs one dot product instead of three — same doubles
    // multiplied in the same order, so sim values are bit-identical
    val cents = centroids
      .getOrElse {
        // same guard as trainKmeansCentroids/trainPq: sparse, non-dense or
        // duplicated ids would silently seed a degenerate index (fewer
        // cells than asked — in the worst case zero, making downstream
        // semanticDedup a silent no-op). A corpus SMALLER than numCells
        // with dense-from-0 ids is legal: the cell count clamps to the
        // corpus size (every doc its own cell — still a correct, exact
        // index; the Planner SemanticDedup default of 16 cells must not
        // hard-fail a 10-doc corpus).
        val seeded = corpus.filter(col(idCol) < numCells)
          .select(col(idCol).cast("long").as("cell_id"), col(vecCol).as("centroid"))
        // Validation via a limit, not a full-scan aggregate: each scan
        // task stops at numCells + 1 matching ids, and the limit bounds
        // the pull. numCells + 1 rows back ⇒ a duplicate id exists (only
        // numCells distinct values fit under the filter) ⇒ same
        // degenerate-index rejection as before. The r7 count/count_distinct
        // aggregate paid a full corpus scan plus a distinct exchange on
        // every semanticDedup call — measured 0.205 s vs 0.114 s for the
        // r6 plain count at sf0.1, the one real code cost in the r6→r7
        // gate delta.
        val ids = graft.core.CacheRegistry.pull(
          seeded.select(col("cell_id")).limit(numCells + 1), numCells + 1)(
          _.map(_.getLong(0)).toArray).get
        def dense(upTo: Int) = ids.length == upTo &&
          ids.distinct.length == upTo && ids.forall(i => i >= 0 && i < upTo)
        if (dense(numCells)) seeded
        else {
          // corpus smaller than numCells with ids dense from 0 is legal:
          // the cell count clamps to the corpus size (every doc its own
          // cell — still a correct, exact index; the Planner SemanticDedup
          // default of 16 cells must not hard-fail a 10-doc corpus). Only
          // this degraded path pays the corpus count.
          val total = corpus.count()
          require(total > 0, "buildIvfIndex: empty corpus")
          require(total < numCells && dense(total.toInt),
            s"buildIvfIndex: seeded-centroid path expects $numCells distinct " +
              s"ids in [0, $numCells) (or a corpus smaller than $numCells " +
              s"with ids dense from 0) but found ids " +
              s"[${ids.sorted.take(8).mkString(",")}…] over ≥${ids.length} rows — " +
              "pass trained `centroids` (e.g. trainKmeansCentroids) for " +
              "sparse or non-zero-based ids")
          seeded
        }
      }
      .select(col("cell_id"), col("centroid"),
        dot(col("centroid"), col("centroid")).as("centsd"))
    IvfIndex(cents.select("cell_id", "centroid", "centsd"),
      assignToCells(corpus, vecCol, idCol, cents))
  }

  /** Nearest-centroid assignment — the shared kernel of [[buildIvfIndex]]
    * (initial build) and [[appendToIvfIndex]] (increments).
    *
    * cv is cast to double ONCE here: every downstream consumer (probe
    * scoring, semanticDedup's quadratic within-cell join condition)
    * calls dot(), whose array&lt;double&gt; cast then folds to a no-op.
    * Without this the cast re-allocates both arrays PER PAIR inside the
    * join condition — measured 10×+ on hot cells (stress_semdedup).
    * Same doubles either way, so sims stay bit-identical. */
  private def assignToCells(corpus: DataFrame, vecCol: String, idCol: String,
      cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell_id"))
    corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("cv"),
        dot(col(vecCol), col(vecCol)).as("csd"))
      .crossJoin(broadcast(cents))
      .withColumn("csim",
        overNorm(dot(col("cv"), col("centroid")), sqrt(col("csd") * col("centsd"))))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cv"), col("csd"), col("cell_id"))
  }

  /** Append an increment to a SAVED IVF index: assign each new vector to
    * its nearest EXISTING cell (centroids stay immutable — that is what
    * keeps probes correct between rebuilds) and append to that cell's
    * posting-list partition. Already-indexed vec_ids are dropped first,
    * so re-running a crashed increment adds 0 (the seen-store append
    * contract, [[Dedup.appendToSeenStore]]). Returns rows appended.
    *
    * At-least-once, not transactional: a failure mid-write can leave a
    * partial partition file that a re-run skips via the anti-join; it
    * never corrupts existing posting lists.
    *
    * Rebuild policy: appended vectors are assigned to centroids trained
    * BEFORE they existed, so recall decays as the appended fraction
    * grows. [[ivfDrift]] reports per-cell drift = (cur−base)/base
    * against the build-time baseline; rebuild (buildIvfIndex + save, or
    * trainKmeansCentroids for non-dense ids) when [[ivfNeedsRebuild]]
    * trips — default threshold 0.5 (half the cell arrived after
    * training), the point where the post-append recall spec floor
    * (≥ 0.65 at nprobe=8, IvfIndexSpec) still holds with margin.
    *
    * SINGLE WRITER per index path: the anti-join guards against
    * re-running a crashed increment, not against two appenders racing —
    * concurrent appends can each pass the anti-join before either
    * writes and double-insert a vec_id. Serialize appends per path
    * (the seen-store contract). */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      increment: DataFrame, vecCol: String, idCol: String): Long = {
    val idx = IvfIndex.load(spark, path)
    // self-heal a pre-drift-era index: baseline from the CURRENT posting
    // lists, so drift measures from this append onward (the bloom-sidecar
    // migration pattern)
    if (!pathExists(spark, s"$path/_base_counts"))
      IvfIndex.writeBaseCounts(idx.assigned, path)
    // dedup WITHIN the increment too: an increment carrying the same
    // vec_id twice (a re-crawled page in one batch) would otherwise pass
    // the anti-join as two rows and append two postings for one id
    val fresh = assignToCells(increment, vecCol, idCol, idx.centroids)
      .dropDuplicates("vec_id")
      .join(idx.assigned.select("vec_id"), Seq("vec_id"), "left_anti")
      .filter(col("vec_id").isNotNull)
    // the count rides the write (one evaluation, as in Stores.land)
    graft.streaming.Observability.observedCount(fresh)(
      _.write.mode("append").partitionBy("cell_id").parquet(s"$path/assigned"))
  }

  /** Rebuild a saved index IN PLACE from its own posting lists: re-train
    * centroids (k-means over the stored vectors, k = the current cell
    * count) and re-assign — the recovery path when [[ivfNeedsRebuild]]
    * trips (appends assign against centroids trained before they
    * existed, so recall decays as drift grows; retraining re-centers).
    *
    * Commit is ONE whole-directory swap ([[graft.core.Stores.swapDir]],
    * which holds the crash contract): the new index builds completely
    * under the sibling `<path>.rebuild_tmp` (completeness marker
    * `_base_counts` is written last by save), then swaps in with
    * `<path>.rebuild_old` as the retired generation, so components never
    * mix generations. A crashed rebuild leaves a COMPLETE tmp (the next
    * call finishes the swap — never retrains), an INCOMPLETE tmp
    * (cleaned, full retrain), or a retired-old/absent-root pair (old
    * restored first).
    *
    * Returns the rebuilt index size. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      iters: Int = 5): Long = {
    import graft.core.Stores
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = Stores.hadoopFs(spark, path)
    val tmp = Stores.sibling(path, ".rebuild_tmp")
    val old = Stores.sibling(path, ".rebuild_old")
    def finishSwap(): Long = {
      Stores.swapDir(spark, path, tmp, old)
      IvfIndex.load(spark, path).assigned.count()
    }
    // recovery ladder (order matters): finish a complete crashed swap
    // BEFORE anything else touches tmp; only an incomplete tmp is stale
    if (fs.exists(tmp)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_base_counts")))
        return finishSwap()
      fs.delete(tmp, true)
    }
    // crash after retiring old, before committing tmp (tmp incomplete or
    // lost): restore the retired generation — never train from nothing
    Stores.restoreRetired(spark, path, old)
    // legacy (pre-sibling-tmp) in-root tmp: finish a complete-but-
    // unswapped one component-wise ONCE (the old commit path), then the
    // layout is current; anything else there is stale
    val legacy = new org.apache.hadoop.fs.Path(root, "_rebuild_tmp")
    if (fs.exists(legacy)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(legacy, "_base_counts")) &&
          !fs.exists(new org.apache.hadoop.fs.Path(root, "assigned"))) {
        Seq("assigned", "centroids", "_base_counts").foreach(c =>
          Stores.moveOver(spark, new org.apache.hadoop.fs.Path(legacy, c),
            new org.apache.hadoop.fs.Path(root, c)))
        fs.delete(legacy, true)
        return IvfIndex.load(spark, path).assigned.count()
      }
      fs.delete(legacy, true)
    }
    val idx = IvfIndex.load(spark, path)
    // a saved index has at most thousands of cells
    val k = graft.core.CacheRegistry.pull(idx.centroids.select(col("cell_id")),
      65536)(_.size).filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"rebuildIvfIndex: implausible cell count (0 or over 65536) at $path"))
    // cut lineage from the files the swap will delete — the new index
    // must be fully materialized (save) before any old file goes away
    val corpus = idx.assigned.select(col("vec_id"), col("cv"))
      .transform(graft.core.CacheRegistry.cut)
    val cents = trainKmeansCentroids(corpus, "cv", "vec_id", k, iters)
    buildIvfIndex(corpus, "cv", "vec_id", k, Some(cents)).save(tmp.toString)
    finishSwap()
  }

  /** Per-cell drift report for a saved index: (cell_id, base_n, cur_n,
    * drift) where drift = (cur_n − base_n) / base_n; a cell whose
    * baseline is 0 (or a pre-baseline index) reports null drift and
    * counts as needing rebuild. */
  def ivfDrift(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val cur = IvfIndex.load(spark, path).assigned
      .groupBy("cell_id").agg(count(lit(1)).as("cur_n"))
    val base =
      if (pathExists(spark, s"$path/_base_counts"))
        spark.read.parquet(s"$path/_base_counts")
      else cur.select(col("cell_id"), lit(null).cast("long").as("base_n"))
    base.join(cur, Seq("cell_id"), "full_outer")
      .select(col("cell_id"), col("base_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      .withColumn("drift",
        (col("cur_n") - col("base_n")).cast("double") /
          nullif(col("base_n").cast("double"), lit(0.0d)))
  }

  /** True when any cell's drift exceeds `maxDrift` (or is unmeasurable —
    * null baseline), the documented rebuild trigger. */
  def ivfNeedsRebuild(spark: org.apache.spark.sql.SparkSession, path: String,
      maxDrift: Double = 0.5): Boolean =
    ivfDrift(spark, path)
      .filter(col("drift").isNull || col("drift") > maxDrift)
      .limit(1).count() > 0

  private def pathExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The QUERY half of IVF: rank cells per query, score only the `nprobe`
    * nearest posting lists. Against a saved index the cell join prunes to
    * matching `cell_id=` partitions; candidate self-dots come precomputed
    * from the index. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, nprobe: Int = 3): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell_id"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qsd", dot(col("qv"), col("qv")))
      .crossJoin(broadcast(index.centroids))
      .withColumn("csim",
        overNorm(dot(col("qv"), col("centroid")), sqrt(col("qsd") * col("centsd"))))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qsd"), col("cell_id"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    index.assigned.join(broadcast(probes), "cell_id")
      .withColumn("sim", overNorm(dot(col("qv"), col("cv")), sqrt(col("qsd") * col("csd"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  /** Probe-cost audit for IVF tuning: per query, how many cells the
    * probe set covers and how many candidate vectors those cells hold —
    * the SCAN-COST side of the recall/nprobe dial (recall alone cannot
    * size nprobe: the review-block-7 audit showed q_ann_recall is blind
    * to nprobe at small SF because every top-k hides inside one cell,
    * while the scan cost it buys is always visible). Computed from the
    * index's per-cell SIZES (a frame bounded by numCells), never a
    * per-vector join — at 100 TB this audits a billion-vector index
    * from its cell statistics alone. */
  def ivfProbeStats(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, numCells: Int = 16, nprobe: Int = 3): DataFrame = {
    val index = buildIvfIndex(corpus, vecCol, idCol, numCells)
    val wProbe = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell_id"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qsd", dot(col("qv"), col("qv")))
      .crossJoin(broadcast(index.centroids))
      .withColumn("csim",
        overNorm(dot(col("qv"), col("centroid")), sqrt(col("qsd") * col("centsd"))))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cell_id"))
    val cellSizes = index.assigned.groupBy("cell_id")
      .agg(count(lit(1)).as("cell_n"))
    probes.join(broadcast(cellSizes), Seq("cell_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_cells"),
        sum(coalesce(col("cell_n"), lit(0L))).cast("long").as("n_candidates"))
  }

  /** Symmetric per-vector int8 quantization: q_i = round(127·v_i/‖v‖∞),
    * carried with its scale. 4× less memory and shuffle than float32 —
    * the standard storage form for billion-vector ANN. */
  def quantizeInt8(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val s = array_max(transform(v, x => abs(x)))
    struct(
      transform(v, x => round(x * 127.0 / nullif(s, lit(0d))).cast("int")).as("q"),
      s.as("scale"))
  }

  /** Approximate dot from two quantized vectors (int math + one rescale). */
  def dotInt8(a: Column, b: Column): Column =
    graft.functions.ArrayFns.dotD(
      a.getField("q").cast("array<double>"), b.getField("q").cast("array<double>")) *
      a.getField("scale") * b.getField("scale") / (127.0 * 127.0)

  /** Two-stage top-k over int8-quantized vectors: a wide candidate cut by
    * quantized dot (cheap, 4×-smaller scan), then exact float rerank of
    * `rerank` candidates per query. With rerank ≫ k the output equals the
    * exact brute-force top-k; the quantized pass is what would run against
    * the full 100 TB corpus. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, rerank: Int = 50): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
      quantizeInt8(col(vecCol)).as("cq"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      quantizeInt8(col(vecCol)).as("qq"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val cand = c.crossJoin(broadcast(q))
      .withColumn("approx", dotInt8(col("qq"), col("cq")))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= rerank)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  /** Product-quantization codebooks: `m` subspaces of dim/m dims, `kc`
    * centroids per subspace, seeded deterministically from the first `kc`
    * corpus vectors (same convention as the IVF coarse centroids — a
    * production build would train k-means offline; encode/search are
    * identical). A PQ code is m small ints: dim×4 bytes become m bytes —
    * the storage form that fits billion-vector corpora in memory.
    * The codebook is a bounded model object (m·kc·dim doubles), pulled
    * with take(kc) and embedded as plan literals so encode/ADC stay
    * codegen'd. */
  final case class PqModel(m: Int, subDim: Int,
      centroids: Array[Array[Array[Double]]]) // [subspace][centroid][component]

  def trainPq(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int = 8, kc: Int = 16): PqModel = {
    // an ordered top-k bounded by its own k: the one frame take outside
    // CacheRegistry.pull
    val rows = corpus.filter(col(idCol) < kc).orderBy(col(idCol))
      .select(col(vecCol).cast("array<double>")).take(kc)
    val vecs = rows.map(_.getSeq[Double](0).toArray)
    require(vecs.length == kc, s"need $kc seed vectors with $idCol < $kc")
    val dim = vecs.head.length
    require(dim % m == 0, "m must divide the embedding dim")
    val d = dim / m
    PqModel(m, d,
      Array.tabulate(m)(s => vecs.map(v => v.slice(s * d, (s + 1) * d))))
  }

  /** Per-subspace nearest-centroid code (argmin squared L2; `‖v_s‖²` is
    * constant per candidate so `-2·dot + ‖c‖²` suffices) — the fused
    * one-pass PqEncodeExpr kernel, id-tie-broken exactly like the
    * (dist, id) array_min formulation it replaces. */
  def pqEncode(model: PqModel, vec: Column): Column =
    graft.functions.ArrayFns.pqEncode(vec.cast("array<double>"),
      model.m, model.centroids.head.length, model.subDim,
      model.centroids.flatten.flatten.toSeq)

  /** ADC lookup tables for one query: per subspace, dot(q_s, centroid_c)
    * for every centroid — m·kc dot products per QUERY row (queries are
    * few and broadcast), after which each candidate costs m array
    * lookups + m−1 adds. */
  private def pqLut(model: PqModel, vec: Column, s: Int): Column = {
    val sub = slice(vec.cast("array<double>"), lit(s * model.subDim + 1),
      lit(model.subDim))
    array(model.centroids(s).map(c =>
      graft.functions.ArrayFns.dotD(sub,
        typedlit(c.toSeq).cast("array<double>"))): _*)
  }

  /** PQ two-stage top-k: ADC-approximate dot over the m-byte codes cuts
    * the corpus to `rerank` candidates per query, exact cosine reranks.
    * Same contract as int8TopK with 4×–32× smaller candidate state. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, m: Int = 8, kc: Int = 16,
      rerank: Int = 50): DataFrame = {
    val model = trainPq(corpus, vecCol, idCol, m, kc)
    // repartition barrier: the approx stage reads `code` once per
    // subspace, and without an exchange in between CollapseProject
    // inlines the whole m·kc-dot encode into every element_at — m× the
    // dominant cost (measured 18.7 s → 4.5 s at 200k vectors). At
    // corpus scale the encoded frame is what you'd PERSIST (codes are
    // the PQ index); the barrier is the in-plan analogue.
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
        pqEncode(model, col(vecCol)).as("code"))
      .transform(graft.core.Spread.byKey(_, col("vec_id")))
    val qCols = Seq(col(idCol).as("query_id"), col(vecCol).as("qv")) ++
      (0 until m).map(s => pqLut(model, col(vecCol), s).as(s"lut$s"))
    val q = queries.select(qCols: _*)
    val approx = (0 until m).map(s =>
      element_at(col(s"lut$s"), element_at(col("code"), s + 1) + 1))
      .reduce(_ + _)
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val cand = c.crossJoin(broadcast(q))
      .withColumn("approx", approx)
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= rerank)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): bucket the corpus by nearest coarse centroid, then
    * inside each bucket drop every doc whose embedding sits within
    * cosine ≥ `threshold` of an EARLIER (smaller-id) doc — the policy
    * that catches paraphrases and translations no token-level dedup
    * sees. Keep-first matches `dropDuplicatesHamming64`'s contract,
    * chains included (a<b<c with edges (a,b),(b,c): b and c drop).
    *
    * Scale shape: the assignment is the IVF build (one broadcast cross
    * join against `numCells` centroids — never corpus×corpus); the pair
    * join is quadratic only WITHIN a cell, which is the SemDeDup design
    * point — pick numCells ≈ n/10⁴ (paper setting) so cells stay
    * bounded, or pass k-means `centroids` from
    * [[trainKmeansCentroids]]. The cosine verify lives in the join
    * condition and survivors collapse map-side into the distinct
    * drop-id aggregate, so no quadratic pair set is ever materialized
    * (same fused shape as Dedup.dropDuplicatesHammingBy).
    *
    * The assignment memo is the EAGER RDD barrier
    * ([[graft.core.CacheRegistry.cut]]), not a lazy persist: the
    * self-join's two sides scan it concurrently (a lazy cache gets no
    * hits there — each side computes the assignment before any fill
    * lands), and a persisted join input advertises true size, inviting
    * AQE to coalesce the pair join's exchanges under a quadratic output.
    * The RDD barrier computes the assignment once and reports unknown
    * stats.
    *
    * Executor loss: the assignment cut is a `localCheckpoint` unless
    * `spark.sql.graft.checkpointDir` is set, so by default a lost
    * executor fails the dedup job. Set it to a DFS path on a cluster
    * that must survive executor loss: the cut then writes a reliable
    * checkpoint, with the same plan shape.
    *
    * `maxCellSize > 0` bounds the quadratic against HOT cells (one
    * centroid near a dense mode otherwise makes its cell's join
    * O(cell²) regardless of numCells): cells above the cap re-split on
    * SRP sign bits of the vector itself. Near-parallel vectors — the
    * only pairs that can pass cosine ≥ threshold — agree with a random
    * hyperplane sign with prob 1 − θ/π (≈ 0.90 per bit at θ = 0.95), so
    * true dups still co-bucket with high probability while the hot
    * cell's pair count drops ~4× per split bit. This is the standard
    * LSH recall-for-cost dial; the default 0 keeps exact
    * SemDeDup-within-cell semantics (and is what the driver gate
    * checks). */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      numCells: Int = 16, threshold: Double = 0.95,
      centroids: Option[DataFrame] = None,
      maxCellSize: Long = 0L, dim: Int = 64): DataFrame = {
    // eager cut, not a lazy persist: see the scaladoc above
    val base = graft.core.CacheRegistry.cut(
      buildIvfIndex(df, vecCol, idCol, numCells, centroids).assigned)
    val assigned =
      if (maxCellSize <= 0L) base.withColumn("sub", lit(0L))
      else {
        val maxBits = 12 // 4096-way worst-case split of one hot cell
        // per-cell split width: ceil(log2(n / cap)), capped; the counts
        // frame is numCells rows — broadcast back onto the memoized
        // assignment, so the corpus is still read once
        val bits = least(greatest(
          ceil(log(2.0, col("__n").cast("double") / maxCellSize)), lit(0.0)),
          lit(maxBits.toDouble))
        val cellBits = base.groupBy("cell_id").agg(count(lit(1)).as("__n"))
          .select(col("cell_id"),
            (pow(lit(2.0), bits) - 1).cast("long").as("__mask"))
        base.join(broadcast(cellBits), "cell_id")
          .withColumn("sub",
            when(col("__mask") > 0,
              srpBucket(col("cv"), maxBits, dim).bitwiseAND(col("__mask")))
              .otherwise(lit(0L)))
          .drop("__mask")
      }
    val drops = assigned.as("l").join(assigned.as("r"),
        col("l.cell_id") === col("r.cell_id") &&
          col("l.sub") === col("r.sub") &&
          col("l.vec_id") < col("r.vec_id") &&
          overNorm(dot(col("l.cv"), col("r.cv")),
            sqrt(col("l.csd") * col("r.csd"))) >= threshold)
      .select(col("r.vec_id").as("__drop"))
      .distinct()
    // persist-pinned anti join: see Dedup.joinBackOnce — without it a
    // union-shaped corpus re-runs the whole pair pipeline per branch
    graft.ml.Dedup.joinBackOnce(df, drops,
      col(idCol) === col("__drop"), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, blocked by
    * SRP bucket (same-bucket pairs only — the LSH analogue for vectors). */
  def cosineDupPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    // double-cast once (see buildIvfIndex): the per-pair sim below then
    // reads pre-cast arrays instead of re-allocating casts per pair
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      srpBucket(col(vecCol), numPlanes, dim).as("bucket"),
      dot(col(vecCol), col(vecCol)).as("sd"))
    val l = v.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"), col("sd").as("sd_a"))
    val r = v.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"), col("sd").as("sd_b"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", overNorm(dot(col("v_a"), col("v_b")), sqrt(col("sd_a") * col("sd_b"))))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }
  /** Exact k-nearest-neighbor SELF-join: for every vector, its `k` most
    * cosine-similar OTHER vectors. All-pairs by contract (the verifiable
    * baseline and the right tool up to ~10^5 vectors per broadcast
    * side); [[knnJoin]] is the celled scale path. */
  def knnJoinBrute(df: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    // r19: keyed barrier before the O(n²) scoring — the broadcast
    // nested-loop join runs on the STREAM side's partitions, and a
    // few-split input (the single-row-group testdata parquet) would pin
    // every dot product to one task (measured ~1.3 s of q_knn's 1.5 s).
    // One shuffle of the raw vectors; the joined rows pay the window
    // exchange right after anyway (standard minhashPairs barrier).
    val c = graft.core.Spread.byKey(df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("cv")), col("vec_id"))
      .withColumn("csd", dot(col("cv"), col("cv")))
    val q = c.select(col("vec_id").as("query_id"), col("cv").as("qv"),
      col("csd").as("qsd"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        overNorm(dot(col("qv"), col("cv")), sqrt(col("qsd") * col("csd"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  /** Approximate k-nearest-neighbor SELF-join via IVF cells — the
    * all-to-all companion of [[ivfSearch]] (whose broadcast-the-queries
    * shape is wrong when the query set IS the corpus). Each vector's
    * candidates are the vectors assigned to its `nprobe` nearest cells:
    * corpus and probe sides meet in a shuffled EQUI-join on cell_id —
    * never broadcast, never all-pairs — so the pair count is
    * Σ_cell (cell_size × probes_into_cell), linear in corpus size for
    * balanced cells. One more exchange ranks candidates per query
    * (WindowGroupLimit cuts to k early). Recall is governed by
    * (numCells, nprobe) exactly as in [[ivfSearch]]; on a NEAR-UNIFORM
    * corpus (the hard case — no cluster structure for the quantizer to
    * exploit) measured top-3 recall at 16 cells is np2=0.30 np4=0.48
    * np8=0.74 np16=1.00 seeded, with kmeans-trained centroids lifting
    * np8 to 0.84 — size nprobe to the corpus's clusteredness with the
    * KnnJoinSpec recall harness before trusting a default. */
  def knnJoin(df: DataFrame, vecCol: String, idCol: String, k: Int,
      numCells: Int = 16, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    val idx = buildIvfIndex(df, vecCol, idCol, numCells, centroids)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell_id"))
    val probes = df.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qsd", dot(col("qv"), col("qv")))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("csim",
        overNorm(dot(col("qv"), col("centroid")), sqrt(col("qsd") * col("centsd"))))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qsd"), col("cell_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    idx.assigned.join(probes, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        overNorm(dot(col("qv"), col("cv")), sqrt(col("qsd") * col("csd"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "sim")
  }

  // ---- incremental semantic (embedding) seen-store ------------------------

  private def readVecStoreOpt(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[DataFrame] =
    graft.core.Stores.readParquetIfExists(spark, storePath)

  /** Append the increment's distinct embeddings (one `array<double>` row
    * `v` per distinct vector) to a parquet vector store, skipping vectors
    * already present — exact array equality is the cheap exactness layer;
    * NEAR matching happens at probe time in [[dropSeenSemantic]]. The
    * localCheckpoint is the same barrier the text stores use: count,
    * write, and any sidecar must see one frame while the store changes
    * under them. */
  def appendToVecStore(df: DataFrame, vecCol: String, storePath: String): Long = {
    val spark = df.sparkSession
    val fresh0 = df.select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull).distinct()
    // one-job counted append (r20): count rides the write action, so the
    // old memo barrier (count + write over one frame, executor-loss
    // safety) is structural — graft.core.Stores.appendCountedFiles has
    // the protocol and crash contract
    graft.core.Stores.appendCounted(
      readVecStoreOpt(spark, storePath)
        .map(s => fresh0.join(s, Seq("v"), "left_anti"))
        .getOrElse(fresh0),
      storePath)
  }

  /** Cross-run semantic dedup: drop increment rows whose embedding is
    * NEAR (cosine >= threshold) any stored vector — the embedding twin of
    * `Dedup.dropSeenStore`/`dropSeenNearStore`, with the same scale
    * contract: the store is SRP-bucketed on the fly and joined against
    * the BROADCAST increment, so it streams through one scan and never
    * shuffles; the recurring per-run cost is O(store scan) however many
    * runs have accumulated. Candidate recall is the SRP bucket's —
    * `probes` widens it via one-bit flips, multiplying only the
    * broadcast side (the [[annTopK]] knob). An absent store (first run)
    * passes everything through. */
  def dropSeenSemantic(df: DataFrame, storePath: String, vecCol: String,
      idCol: String, dim: Int, numPlanes: Int = 6, threshold: Double = 0.95,
      probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= numPlanes,
      s"probes must be in [0, numPlanes=$numPlanes], got $probes")
    readVecStoreOpt(df.sparkSession, storePath) match {
      case None => df
      case Some(seen) =>
        val sv = seen.select(col("v"),
          srpBucket(col("v"), numPlanes, dim).as("bucket"),
          dot(col("v"), col("v")).as("ssd"))
        val q0 = df.select(col(idCol).as("_qid"),
            col(vecCol).cast("array<double>").as("qv"))
          .withColumn("bucket", srpBucket(col("qv"), numPlanes, dim))
          .withColumn("qsd", dot(col("qv"), col("qv")))
        val q =
          if (probes == 0) q0
          else q0
            .withColumn("flip", explode(array(
              (lit(0L) +: (0 until probes).map(p => lit(1L << p))): _*)))
            .withColumn("bucket", col("bucket").bitwiseXOR(col("flip")))
            .drop("flip")
        // no distinct on matched: LeftAnti tolerates duplicate right rows,
        // and skipping it keeps the WHOLE plan exchange-free (store scan →
        // broadcast probe join → broadcast anti join; the only data that
        // moves is the increment, twice, by broadcast)
        val matched = sv.join(broadcast(q), "bucket")
          .filter(overNorm(dot(col("qv"), col("v")),
            sqrt(col("qsd") * col("ssd"))) >= threshold)
          .select(col("_qid"))
        df.join(broadcast(matched), col(idCol) === col("_qid"), "left_anti")
    }
  }
}
