package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{QualityClfFns, QualityClfModel}

/** Model-based quality scoring: a distributed fastText-style linear
  * classifier over hashed bag-of-ngrams — the TRAINED complement to the
  * rule-based filters ([[TextAnalysis.qualityProfile]]'s Gopher/C4
  * rules catch garbage; this ranks *quality* of what survives, the
  * standard pairing in modern pretraining curation). No analog in the
  * reference (beyond-reference ML surface, like [[NgramLm]]).
  *
  * Architecture (the 100 TB shape):
  *  - TRAIN: hashed-bag logistic regression by full-batch gradient
  *    descent — ONE aggregation per epoch. Per-row feature counts come
  *    pre-counted from the codegen kernel
  *    ([[QualityClfModel.featureCountsKernel]]), the bias rides as a
  *    sentinel bucket, and the explode → groupBy(bucket) gradient
  *    shuffles at most 2^logBuckets+1 keys after map-side partial
  *    aggregation. Gradient sums are decimal(38,18) (the repo's exact-
  *    decimal float-agg discipline) so training is BIT-DETERMINISTIC
  *    under any partitioning — same data, same model, any cluster.
  *  - SCORE: a zero-exchange narrow map (the LangId kernel pattern —
  *    weights embedded in the plan via addReferenceObj). At 100 TB it
  *    runs at scan speed; stream-native for the same reason.
  *
  * The scoring arithmetic is oracle-able: the logit is two IEEE
  * left-folds in token order plus the bias (contract pinned in
  * [[QualityClfModel]]), replayed bit-for-bit by DuckDB `list_reduce`
  * (gate `q_quality_clf` — synthetic formula weights so the oracle
  * derives them inline; TRAINED-weight behavior is spec-verified on a
  * labeled fixture, since iterative training is not SQL-expressible).
  */
object QualityClassifier {

  /** The gate's pinned weight formula — portable01-style integer
    * arithmetic both engines compute exactly:
    * w(b) = ((b·2654435761 + 12345) mod 2^32) / 2^32 − 0.5. */
  def syntheticWeights(logBuckets: Int): Array[Double] =
    Array.tabulate(1 << logBuckets)(b =>
      ((b.toLong * 2654435761L + 12345L) % 4294967296L).toDouble /
        4294967296.0 - 0.5)

  /** Train by full-batch logistic gradient descent. `labelCol` must be
    * 0/1 (checked). Returns the embedded-model form [[score]] consumes.
    *
    * One agg per epoch: rows → (error, exploded feature counts + bias
    * sentinel) → groupBy(bucket) partial-agg → ≤ buckets+1 decimal sums
    * drained with the bounded-take contract. The labeled frame is cut
    * once so epochs re-scan materialized rows, not the source plan. */
  def train(labeled: DataFrame, textCol: String, labelCol: String,
      logBuckets: Int = 12, bigrams: Boolean = true, epochs: Int = 20,
      lr: Double = 0.5, l2: Double = 0.0): QualityClfModel = {
    val base = featurize(labeled, textCol, labelCol, logBuckets, bigrams)
      .transform(graft.core.CacheRegistry.cut)
    trainOnFeatures(base, logBuckets, bigrams, epochs, lr, l2)
  }

  /** The (y, f) projection both [[train]] and the feature store share:
    * cast the label, run the codegen feature-count kernel, drop
    * unlabeled/token-less rows. The 0/1 label check happens in
    * [[trainOnFeatures]] so store-loaded rows are checked too. */
  private def featurize(labeled: DataFrame, textCol: String,
      labelCol: String, logBuckets: Int, bigrams: Boolean): DataFrame =
    labeled.select(
      col(s"`$labelCol`").cast("double").as("y"),
      QualityClfFns.clfFeatureCounts(col(s"`$textCol`"), logBuckets, bigrams)
        .as("f"))
      .filter(col("y").isNotNull && size(col("f")) > 0)

  /** The epoch loop over a pre-featurized (y, f) frame. Gradient sums
    * are decimal(38,18) — ORDER-INDEPENDENT, so any frame holding the
    * same multiset of (y, f) rows (one cut, a parquet store
    * re-read, any partitioning) trains to bit-identical weights. */
  private def trainOnFeatures(base: DataFrame, logBuckets: Int,
      bigrams: Boolean, epochs: Int, lr: Double, l2: Double): QualityClfModel = {
    require(epochs >= 1 && epochs <= 1000, s"epochs must be 1..1000, got $epochs")
    require(lr > 0, s"lr must be positive, got $lr")
    val buckets = 1 << logBuckets
    val badLabel = firstRow(base.filter(col("y") =!= 0.0 && col("y") =!= 1.0))
    require(badLabel.isEmpty,
      s"QualityClassifier.train: label must be 0/1, found ${
        badLabel.fold("")(_.getDouble(0).toString)}")

    var weights = new Array[Double](buckets)
    var bias = 0.0
    for (_ <- 0 until epochs) {
      val model = QualityClfModel(weights, logBuckets, bigrams, bias)
      // dot product from the pre-counted features (training-side only —
      // IEEE order here need not match the kernel; scoring does)
      val wref = model
      val logit = aggregate(col("f"), lit(bias),
        (acc: Column, x: Column) => acc +
          element_at(typedlit(wref.weights), x.getField("bucket") + 1) *
            x.getField("cnt"))
      // sigmoid error; the bias gradient rides as sentinel bucket -1
      // with cnt 1 so ONE aggregation carries everything
      val grad = base
        .select((lit(1.0) / (lit(1.0) + exp(-logit)) - col("y")).as("e"),
          explode(concat(col("f"),
            array(struct(lit(-1).as("bucket"), lit(1).as("cnt"))))).as("fb"))
        .groupBy(col("fb.bucket").as("bucket"))
        .agg(sum((col("e") * col("fb.cnt")).cast("decimal(38,18)")).as("g"),
          sum(col("fb.cnt").cast("long")).as("n"))
      val rows = graft.core.CacheRegistry.pull(grad, buckets + 1)(_.toArray)
        .getOrElse(throw new IllegalArgumentException(
          "gradient returned more buckets than the model has — kernel drift"))
      var n = 1L
      rows.foreach { r =>
        if (r.getInt(0) == -1) n = math.max(1L, r.getLong(2))
      }
      val next = weights.clone()
      // L2 decay applies to EVERY weight each epoch (a driver-side array
      // pass — sparse data leaves most buckets out of any one epoch's
      // gradient rows, and decaying only observed buckets is not weight
      // decay). Decay-then-data-gradient; the bias is never decayed.
      if (l2 > 0.0) {
        var i = 0
        while (i < next.length) { next(i) -= lr * l2 * next(i); i += 1 }
      }
      var gBias = 0.0
      rows.foreach { r =>
        val b = r.getInt(0)
        val g = r.getDecimal(1).doubleValue / n
        if (b == -1) gBias = g
        else next(b) = next(b) - lr * g
      }
      weights = next
      bias = bias - lr * gBias
    }
    QualityClfModel(weights, logBuckets, bigrams, bias)
  }

  /** The first row of `df`, if any: a guard's offending example. */
  private def firstRow(df: DataFrame): Option[org.apache.spark.sql.Row] =
    graft.core.CacheRegistry.pull(df.limit(1), 1)(_.nextOption()).flatten

  /** Append labeled rows — PRE-FEATURIZED — to a parquet feature store
    * (the `raw_counts_store` idiom from [[Dsir]], applied to classifier
    * training): the expensive half of a training epoch is re-running
    * the tokenize→hash kernel over raw text, so the store persists each
    * row's (id, y, f) ONCE and a daily re-train featurizes only the
    * increment while every epoch aggregates compact pre-counted rows.
    * Idempotent by `idCol` (anti-join — a replayed batch adds nothing;
    * the seen-store discipline, single writer per path). A
    * `_clf_store_meta` sidecar pins (logBuckets, bigrams): features
    * hashed under a different bucket config would silently corrupt
    * training, so a mixed-config append fails loudly at plan time.
    * Returns the number of rows actually appended. */
  def appendToFeatureStore(labeled: DataFrame, textCol: String,
      labelCol: String, idCol: String, storePath: String,
      logBuckets: Int = 12, bigrams: Boolean = true): Long = {
    val spark = labeled.sparkSession
    // config-compat CHECK against an existing store happens up front (a
    // mixed-config append must fail before any work), but a NEW store's
    // meta is written only after the increment validates below — a first
    // append that fails validation must leave NO store behind, not a
    // meta-only husk that later reads die on
    checkStoreMeta(spark, storePath, logBuckets, bigrams)
    val fresh0 = labeled.select(col(s"`$idCol`").cast("long").as("id"),
        col(s"`$labelCol`").cast("double").as("y"),
        QualityClfFns.clfFeatureCounts(col(s"`$textCol`"), logBuckets, bigrams)
          .as("f"))
      .filter(col("id").isNotNull && col("y").isNotNull && size(col("f")) > 0)
    // count + write must see the SAME frame while the store changes
    // under the anti-join — the seen-store barrier
    val fresh = graft.core.CacheRegistry.cut(
      graft.core.Stores.readParquetIfExists(spark, s"$storePath/rows")
        .map(st => fresh0.join(st.select("id"), Seq("id"), "left_anti"))
        .getOrElse(fresh0))
    // fail BEFORE persisting, not at train time: a poisoned store can't
    // be repaired by re-appending (the anti-join sees the id as stored)
    val badLabel = firstRow(fresh.filter(col("y") =!= 0.0 && col("y") =!= 1.0))
    require(badLabel.isEmpty,
      s"QualityClassifier.appendToFeatureStore: $labelCol must be 0/1, " +
        s"found ${badLabel.fold("")(_.getDouble(1).toString)}")
    // duplicate ids inside one increment would make store-training
    // diverge from full-batch (train aggregates BOTH rows, the store
    // can keep only one) — the bit-parity contract demands loudness
    val dup = firstRow(fresh.groupBy("id").count().filter(col("count") > 1))
    require(dup.isEmpty,
      s"QualityClassifier.appendToFeatureStore: duplicate $idCol ${
        dup.fold("")(_.getLong(0).toString)} in the increment — " +
        "bit-parity with full-batch training requires one row per id; " +
        "dedup the increment first")
    val n = fresh.count()
    if (n > 0) {
      writeStoreMetaIfAbsent(spark, storePath, logBuckets, bigrams)
      fresh.write.mode("append").parquet(s"$storePath/rows")
    }
    n
  }

  /** Train over a feature store's accumulated rows: BIT-IDENTICAL to
    * [[train]] over the same labeled rows (the decimal(38,18) gradient
    * sums are order- and partitioning-independent, so a parquet re-read
    * aggregates to the same lattice values — spec-pinned). The daily
    * idiom: appendToFeatureStore(increment); trainFromFeatureStore(...)
    * — re-train cost scales with store size in COMPACT pre-featurized
    * rows, and only the increment ever pays the text kernel. */
  def trainFromFeatureStore(spark: SparkSession, storePath: String,
      epochs: Int = 20, lr: Double = 0.5, l2: Double = 0.0): QualityClfModel = {
    val (logBuckets, bigrams) = readStoreMeta(spark, storePath)
    // cut, as train() does: epochs re-scan materialized
    // rows — not the store files, which a concurrent append could grow
    // MID-TRAIN (epochs would then disagree about the row multiset)
    val base = graft.core.Stores
      .readParquetIfExists(spark, s"$storePath/rows")
      .getOrElse(sys.error(
        s"QualityClassifier.trainFromFeatureStore: store at $storePath " +
          "has no rows yet — append a labeled increment first " +
          "(appendToFeatureStore)"))
      .select(col("y"), col("f"))
      .transform(graft.core.CacheRegistry.cut)
    trainOnFeatures(base, logBuckets, bigrams, epochs, lr, l2)
  }

  private def checkStoreMeta(spark: SparkSession, storePath: String,
      logBuckets: Int, bigrams: Boolean): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(storePath, "_clf_store_meta")
    if (graft.core.Stores.hadoopFs(spark, storePath).exists(metaPath)) {
      val (lb, bg) = readStoreMeta(spark, storePath)
      require(lb == logBuckets && bg == bigrams,
        s"QualityClassifier.appendToFeatureStore: store at $storePath " +
          s"holds logBuckets=$lb bigrams=$bg features; this append asked " +
          s"for logBuckets=$logBuckets bigrams=$bigrams — configs cannot " +
          "mix, use a new store path")
    }
  }

  private def writeStoreMetaIfAbsent(spark: SparkSession, storePath: String,
      logBuckets: Int, bigrams: Boolean): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(storePath, "_clf_store_meta")
    // atomic: a truncated meta would fail every later read's parse
    if (!graft.core.Stores.hadoopFs(spark, storePath).exists(metaPath))
      graft.core.Stores.writeFileAtomic(spark, metaPath,
          ".tmp-" + java.util.UUID.randomUUID().toString)(
        _.write(s"""{"log_buckets":$logBuckets,"bigrams":$bigrams}""".getBytes("UTF-8")))
  }

  private def readStoreMeta(spark: SparkSession,
      storePath: String): (Int, Boolean) = {
    val fs = graft.core.Stores.hadoopFs(spark, storePath)
    val metaPath = new org.apache.hadoop.fs.Path(storePath, "_clf_store_meta")
    require(fs.exists(metaPath),
      s"QualityClassifier: no feature store at $storePath (missing " +
        "_clf_store_meta) — create one with appendToFeatureStore")
    val in = fs.open(metaPath)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    (jsonField(meta, "log_buckets", "_clf_store_meta").trim.toInt,
      jsonField(meta, "bigrams", "_clf_store_meta").trim.toBoolean)
  }

  private def jsonField(meta: String, name: String, where: String): String = {
    val m = java.util.regex.Pattern.compile("\"" + name + "\":([^,}]+)")
      .matcher(meta)
    require(m.find(), s"QualityClassifier: $where missing $name")
    m.group(1)
  }

  /** Zero-exchange scoring: adds `outCol` (double logit; null for
    * token-less text — score-then-filter decides its fate explicitly).
    * Positive logit = model says `label=1` side. */
  def score(df: DataFrame, textCol: String, model: QualityClfModel,
      outCol: String = "quality_logit"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"QualityClassifier.score: output column '$outCol' already exists — " +
        "rename or drop it first")
    df.withColumn(outCol, QualityClfFns.clfLogit(col(s"`$textCol`"), model))
  }

  /** Fraction of labeled rows the model classifies correctly (logit > 0
    * ⇔ label 1); token-less rows are excluded. Spec/tuning helper. */
  def accuracy(labeled: DataFrame, textCol: String, labelCol: String,
      model: QualityClfModel): Double = {
    val scored = score(labeled, textCol, model, "__graft_clf_logit")
      // null labels are EXCLUDED, like token-less rows — the three-valued
      // comparison otherwise counted them in the denominator as
      // misclassifications (a perfect model read 0.8 on 20% unlabeled)
      .filter(col("__graft_clf_logit").isNotNull &&
        col(s"`$labelCol`").isNotNull)
    val agg = scored.agg(
      sum(when((col("__graft_clf_logit") > 0) ===
        (col(s"`$labelCol`").cast("double") === 1.0), 1L).otherwise(0L)),
      count(lit(1))).head()
    if (agg.getLong(1) == 0L) 0.0
    else agg.getLong(0).toDouble / agg.getLong(1)
  }

  /** Persist: weights parquet rows (bucket, weight) + a `_clf_meta`
    * JSON sidecar (logBuckets, bigrams, bias), built complete under
    * `<path>.tmp-<uuid>` and swapped in with `<path>.old` as the retired
    * generation ([[graft.core.Stores.swapDir]] holds the crash
    * contract; [[load]] restores `<path>.old` when the path is absent).
    * Each save first sweeps `.tmp-*` siblings stranded by crashed saves. */
  def save(spark: SparkSession, model: QualityClfModel, path: String): Unit = {
    import spark.implicits._
    import graft.core.Stores
    val fs = Stores.hadoopFs(spark, path)
    // bounded sweep: only this model's name prefix, never the whole parent
    val name = new org.apache.hadoop.fs.Path(path)
    if (name.getParent != null && fs.exists(name.getParent))
      fs.listStatus(name.getParent).map(_.getPath)
        .filter(_.getName.startsWith(name.getName + ".tmp-"))
        .foreach(p => fs.delete(p, true))
    val tmp = Stores.sibling(path, ".tmp-" + java.util.UUID.randomUUID().toString)
    model.weights.zipWithIndex.map { case (w, b) => (b, w) }.toSeq
      .toDF("bucket", "weight")
      .repartition(1)
      .write.mode("overwrite").parquet(new org.apache.hadoop.fs.Path(tmp, "weights").toString)
    val meta = s"""{"log_buckets":${model.logBuckets},"bigrams":${model.bigrams},"bias":${
      String.format(java.util.Locale.ROOT, "%.17g", Double.box(model.bias))}}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_clf_meta"), true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
    Stores.swapDir(spark, path, tmp, Stores.sibling(path, ".old"))
  }

  def load(spark: SparkSession, path: String): QualityClfModel = {
    val fs = graft.core.Stores.hadoopFs(spark, path)
    // a save that crashed between retire and commit never returned
    // success, so serving the retired (old) model is the correct contract
    graft.core.Stores.restoreRetired(spark, path, graft.core.Stores.sibling(path, ".old"))
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "_clf_meta"))
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(name: String): String = jsonField(meta, name, "_clf_meta")
    val logBuckets = field("log_buckets").trim.toInt
    val bigrams = field("bigrams").trim.toBoolean
    val bias = field("bias").trim.toDouble
    val w = new Array[Double](1 << logBuckets)
    val rows = graft.core.CacheRegistry.pull(spark.read.parquet(s"$path/weights")
      .select(col("bucket").cast("int"), col("weight").cast("double")),
      w.length)(_.toArray)
    require(rows.exists(_.length == w.length),
      s"QualityClassifier.load: expected ${w.length} weights, " +
        s"found ${rows.fold(s"more than ${w.length}")(_.length.toString)}")
    rows.get.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    QualityClfModel(w, logBuckets, bigrams, bias)
  }
}
