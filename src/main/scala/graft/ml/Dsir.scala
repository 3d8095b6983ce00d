package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.QualityClfFns

/** DSIR-style data selection: importance resampling of a raw pool toward
  * a target domain via hashed-ngram bag models (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling") — the
  * published-method complement to [[DatasetOps.planMixture]]'s explicit
  * budgets. No analog in the reference (beyond-reference ML surface).
  *
  * Pipeline shape (the 100 TB form):
  *  1. [[ngramCounts]] — ONE partial-aggregated groupBy per corpus over
  *     the kernel's pre-counted hashed features: ≤ 2^logBuckets+1 rows
  *     out, the vocabulary-store shape (save the frames, reuse across
  *     runs; the target sample is small by definition).
  *  2. [[model]] — drain both bounded count frames (take, never
  *     collect) into per-bucket arrays: smoothed probabilities
  *     p̂[b] = (c[b]+1)/(T+B) for target and raw.
  *  3. [[weigh]] — a ZERO-EXCHANGE narrow map adds the importance
  *     evidence per doc: `log_weight` = Σ_feats (ln p̂_t − ln p̂_r)
  *     (the paper's log-likelihood ratio; ln is engine-side — not
  *     cross-engine reproducible, spec-pinned like NgramLm's log_prob)
  *     and the EXACT lattice the oracle replays bit-for-bit:
  *     `n_feats` and `sum_ratio` = in-order IEEE fold (seed 0.0) of
  *     r[b] = ((ct[b]+1)·(Tr+B)) / ((cr[b]+1)·(Tt+B)) over the ordered
  *     bucket list (unigrams in token order, then bigrams), folded
  *     left (gate `q_dsir`). Bit-replay argument: with totals bounded
  *     at 2^31 ([[model]]'s guard) the products stay exact in int64
  *     (< 2^62, no overflow); both engines then convert int64→double
  *     by IEEE round-to-nearest-even and perform ONE correctly-rounded
  *     divide — identical bits even when a product exceeds the 2^53
  *     exact-double range.
  *  4. Selection, two forms:
  *     [[resampleTopK]] — the paper's Gumbel top-k (keep the k docs
  *     maximizing log_weight + Gumbel(portable01(id, seed))): one
  *     TakeOrdered, deterministic in (id, seed).
  *     [[thresholdKeep]] — hash-threshold acceptance on the EXACT
  *     lattice: keep iff portable01(id, seed)·cap < sum_ratio/n_feats
  *     (accept-probability min(1, mean_ratio/cap)); every term replays
  *     in the oracle, so the keep DECISION is itself hash-gated.
  */
object Dsir {

  /** Hashed-ngram bucket counts of a corpus: (bucket, cnt) rows plus the
    * (bucket = -1, total) sentinel — bounded by 2^logBuckets+1, the
    * save/reuse form. One groupBy with map-side partial aggregation. */
  def ngramCounts(df: DataFrame, textCol: String, logBuckets: Int = 12,
      bigrams: Boolean = true): DataFrame = {
    val feats = df.select(explode(
      QualityClfFns.clfFeatureCounts(col(s"`$textCol`"), logBuckets, bigrams))
      .as("f"))
    val perBucket = feats.groupBy(col("f.bucket").as("bucket"))
      .agg(sum(col("f.cnt").cast("long")).as("cnt"))
    val total = perBucket.agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
      .select(lit(-1).as("bucket"), col("cnt"))
    perBucket.unionByName(total)
  }

  /** Target AND raw bucket counts in ONE corpus pass, for the common
    * case where the target sample is a PREDICATE over the pool (e.g.
    * curated ids, a domain flag): rows matching `targetCond` count into
    * both frames, everything counts into raw. Two separate
    * [[ngramCounts]] calls explode + partial-agg the corpus twice — at
    * 100 TB that pass IS the model-build cost, so fusing halves it. The
    * single pass materializes one bounded (≤ 2^logBuckets rows) frame
    * via CacheRegistry.cut; both returned frames are projections of it
    * and are BIT-IDENTICAL to ngramCounts over the equivalent inputs
    * (same long groupBy-sum lattice, order-free; -1 total sentinels
    * included) — gate oracles are unaffected. */
  def ngramCountsWithTarget(df: DataFrame, textCol: String,
      targetCond: Column, logBuckets: Int = 12,
      bigrams: Boolean = true): (DataFrame, DataFrame) = {
    val feats = df.select(targetCond.as("t"), explode(
      QualityClfFns.clfFeatureCounts(col(s"`$textCol`"), logBuckets, bigrams))
      .as("f"))
    val perBucket = feats.groupBy(col("f.bucket").as("bucket"))
      .agg(
        sum(when(col("t"), col("f.cnt")).otherwise(lit(0)).cast("long"))
          .as("cnt_t"),
        sum(col("f.cnt").cast("long")).as("cnt_r"))
      .transform(graft.core.CacheRegistry.cut)
    def side(c: String) = {
      val pb = perBucket.select(col("bucket"), col(s"`$c`").as("cnt"))
      val total = pb.agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
        .select(lit(-1).as("bucket"), col("cnt"))
      pb.unionByName(total)
    }
    (side("cnt_t"), side("cnt_r"))
  }

  /** Append this corpus's hashed-ngram counts to a COUNTS STORE — the
    * cumulative raw-pool distribution an incremental (daily-run) DSIR
    * weighs against, the vocabulary-store machinery over the bucket key
    * space: partials append, reads sum them — including the -1 total
    * sentinel, which stays correct across increments by construction
    * (a sum of totals is the total of the union). NOT idempotent
    * (counts merge, the vocab-store contract) — register behind
    * PostCommit so a failed run's retry cannot double-count. */
  def appendToCountsStore(df: DataFrame, textCol: String, storePath: String,
      logBuckets: Int = 12, bigrams: Boolean = true): Long =
    // one-job counted append (r20): count rides the write action —
    // graft.core.Stores.appendCountedFiles has the protocol and crash
    // contract (and a counts store is NOT idempotent, so a failed run
    // needs operator care regardless of the write shape)
    graft.core.Stores.appendCounted(
      ngramCounts(df, textCol, logBuckets, bigrams), storePath)

  /** The merged bucket-count view of a counts store (partials summed;
    * empty frame with the Dsir schema for an absent store). */
  def countsFromStore(spark: SparkSession, storePath: String): DataFrame =
    graft.core.Stores.readParquetIfExists(spark, storePath)
      .map(_.groupBy(col("bucket").cast("int").as("bucket"))
        .agg(sum(col("cnt").cast("long")).as("cnt")))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Int, Long)].toDF("bucket", "cnt")
      }

  /** Fold a counts store's accumulated partials into one summed row per
    * bucket across `targetFiles` files. Idempotent; crash contract:
    * [[graft.core.Stores]]. */
  def compactCountsStore(spark: SparkSession, storePath: String,
      targetFiles: Int = 8): Long =
    graft.core.Stores.compact(spark, storePath, targetFiles, None)(
      _.groupBy("bucket").agg(sum(col("cnt")).as("cnt")))

  /** Driver-side model from the two bounded count frames. Arrays are
    * indexed by bucket; ratio[b] and logRatio[b] per the class doc. */
  final case class DsirModel(ratio: Array[Double], logRatio: Array[Double],
      logBuckets: Int, bigrams: Boolean) extends Serializable

  def model(targetCounts: DataFrame, rawCounts: DataFrame,
      logBuckets: Int = 12, bigrams: Boolean = true): DsirModel = {
    val b = 1 << logBuckets
    def drain(counts: DataFrame, which: String): (Array[Long], Long) = {
      val rows = graft.core.CacheRegistry.pull(counts.select(
        col("bucket").cast("int"), col("cnt").cast("long")), b + 1)(_.toArray)
        .getOrElse(throw new IllegalArgumentException(
          s"Dsir.model: $which count frame has more than 2^$logBuckets+1 " +
            "buckets — built with a different logBuckets?"))
      val c = new Array[Long](b)
      var total = -1L
      rows.foreach { r =>
        val k = r.getInt(0)
        if (k == -1) total = r.getLong(1)
        else {
          // a sparse frame built with a LARGER logBuckets passes the
          // row-count require above and would AIOOBE here with no hint
          require(k >= 0 && k < b, s"Dsir.model: $which count frame has " +
            s"bucket $k outside [0, 2^$logBuckets) — built with a " +
            "different logBuckets than this model?")
          c(k) = r.getLong(1)
        }
      }
      require(total >= 0, s"Dsir.model: $which count frame is missing the " +
        "(bucket = -1, total) sentinel — not a Dsir.ngramCounts frame?")
      (c, total)
    }
    val (ct, tt) = drain(targetCounts, "target")
    val (cr, tr) = drain(rawCounts, "raw")
    // the bit-replay contract needs the integer products EXACT IN INT64
    // (no overflow): (c+1)·(T+B) < 2^31·2^31 = 2^62 under this bound.
    // Past 2^53 the double CONVERSION rounds, but it rounds identically
    // (round-to-nearest-even) in both engines — see the class doc.
    require((tt + b) < (1L << 31) && (tr + b) < (1L << 31),
      "Dsir.model: corpus token totals exceed the exact-arithmetic bound " +
        s"(2^31; target=$tt raw=$tr) — count on disjoint shards and sum " +
        "the bounded count frames, or subsample the counting pass")
    val ratio = new Array[Double](b)
    val logRatio = new Array[Double](b)
    var i = 0
    while (i < b) {
      val num = (ct(i) + 1L) * (tr + b)
      val den = (cr(i) + 1L) * (tt + b)
      ratio(i) = num.toDouble / den.toDouble
      logRatio(i) = math.log(num.toDouble) - math.log(den.toDouble)
      i += 1
    }
    DsirModel(ratio, logRatio, logBuckets, bigrams)
  }

  /** Zero-exchange importance evidence per doc: log_weight (the paper's
    * Σ log-ratio — engine-side ln), n_feats, and the exact-replay
    * sum_ratio fold. Token-less docs carry null evidence. */
  def weigh(pool: DataFrame, textCol: String, idCol: String,
      m: DsirModel): DataFrame = {
    Seq("__graft_dsir_fb", "n_feats", "sum_ratio", "log_weight").foreach { c =>
      require(!pool.columns.contains(c),
        s"Dsir.weigh: output column '$c' already exists on the pool")
    }
    // r19: both importance folds fused into one kernel pass
    // (DsirEvidenceExpr) — the composed form walked the bucket list
    // twice through interpreted `aggregate` lambdas probing 2^logBuckets
    // literal arrays per element (and carried those arrays as plan
    // literals). Same in-order IEEE folds, same null-evidence contract
    // for token-less docs (DsirSpec + the unchanged q_dsir oracle hash);
    // the model arrays ride as a broadcast-task reference, not literals.
    val ev = QualityClfFns.dsirEvidence(
      QualityClfFns.clfBucketList(col(s"`$textCol`"), m.logBuckets,
        m.bigrams),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(m.ratio),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(m.logRatio))
    pool.withColumn("__graft_dsir_ev", ev)
      .withColumn("n_feats", col("__graft_dsir_ev.n_feats"))
      .withColumn("sum_ratio", col("__graft_dsir_ev.sum_ratio"))
      .withColumn("log_weight", col("__graft_dsir_ev.log_weight"))
      .drop("__graft_dsir_ev")
  }

  /** The paper's Gumbel top-k resample: keep the k docs maximizing
    * log_weight + Gumbel(u), u = portable01(id, seed) — sampling without
    * replacement ∝ softmax(log_weight), deterministic in (id, seed).
    * One TakeOrdered (global top-k, no full sort at any scale). */
  def resampleTopK(weighed: DataFrame, idCol: String, k: Int,
      seed: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = DatasetOps.portable01(col(s"`$idCol`"), seed)
    // clamp u away from {0,1}: portable01 can emit exact 0 whose
    // double-log would be -inf
    val gumbel = -log(-log(least(greatest(u, lit(1e-12)), lit(1.0 - 1e-12))))
    weighed.filter(col("log_weight").isNotNull)
      .withColumn("__graft_dsir_key", col("log_weight") + gumbel)
      .orderBy(col("__graft_dsir_key").desc)
      .limit(k)
      .drop("__graft_dsir_key")
  }

  /** Exact-arithmetic hash-threshold acceptance (the oracle-replayable
    * selection): keep iff portable01(id, seed) · cap < sum_ratio/n_feats
    * — accept-probability min(1, mean_ratio/cap). */
  def thresholdKeep(weighed: DataFrame, idCol: String, cap: Double = 2.0,
      seed: Int = 5): Column = {
    require(cap > 0, s"cap must be positive, got $cap")
    col("n_feats") > 0 &&
      DatasetOps.portable01(col(s"`$idCol`"), seed) * lit(cap) <
        col("sum_ratio") / col("n_feats").cast("double")
  }
}
