package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language model with stupid backoff — the CCNet-style quality
  * signal: score each document's perplexity under a model trained on a
  * trusted reference corpus (Wikipedia-like), then keep/weight by
  * perplexity band. Complements [[TextAnalysis.qualityBand]] (which cuts
  * on surface stats) with a *distributional* fluency measure.
  *
  * Model = plain DataFrame of (lvl, gram, cnt) rows — trivially summable
  * across runs (counts merge by addition), persistable as parquet, and
  * joinable at any scale; there is no driver-side model object.
  *
  * Scoring uses stupid backoff (Brants et al. 2007, "Large Language
  * Models in Machine Translation"): S(w|ctx_k) = cnt_k/cnt_{k-1-ctx} when
  * the k-gram was seen, else alpha * S(w|shorter ctx), bottoming out at
  * S(w) = cnt_1/N; an unseen unigram scores 0 probability mass (and a
  * 1/(2N) floor inside the log for perplexity). Positions near the start
  * of a document use the longest available history without penalty.
  *
  * Plan at scale (the part that matters at 100 TB):
  *  - TRAIN is ONE map-side-combined aggregation over the reference's
  *    exploded (lvl, gram) rows — shuffle key = gram, rows = distinct
  *    grams; the total-token row derives from the counted frame, not a
  *    second corpus scan.
  *  - SCORE is exactly TWO shuffles: the exploded positional grams meet
  *    the model in an equi-join on (lvl, gram) — deliberately un-hinted
  *    like [[TextAnalysis.ngramNovelty]]: a 100-TB reference's gram table
  *    is itself huge and must stay distributed (AQE broadcasts genuinely
  *    small ones unaided) — then ONE groupBy(doc) collects the positional
  *    count lattice and every remaining step (context lookup, backoff
  *    CASE, position-ordered sums) is pure array-expression work inside
  *    the row. No window, no second pass, no driver action; the total-N
  *    scalar enters as a lazily-broadcast 1-row frame (qualityBand
  *    pattern).
  *
  * Reference behavioral contract: the reference engine has no LM scoring;
  * this extends the quality family (reference: filter/filters.go chains)
  * the way CCNet/Gopher pipelines do.
  */
object NgramLm {

  /** Train n-gram counts for orders 1..order on `textCol` (lowercased,
    * whitespace tokens — the tokenCounts/ngramsAll kernel family, so
    * model and scorer agree with the rest of the engine).
    *
    * Output rows: (lvl ∈ 1..order, gram, cnt) pruned to cnt ≥ minCount,
    * plus one (lvl=0, gram="", cnt=N) row carrying the PRE-prune total
    * token count the unigram backoff divides by. Pruning cannot orphan a
    * context: a k-gram's (k−1)-prefix occurs at least as often, so any
    * surviving gram's context also survives. */
  def train(reference: DataFrame, textCol: String, order: Int,
      minCount: Long = 1L, unicode: Boolean = false): DataFrame = {
    require(order >= 1 && order <= 5, s"order must be in 1..5, got $order")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val exploded = reference
      .select(explode(gramLattice(lower(col(textCol)), order, unicode)).as("e"))
      .select(col("e.lvl").as("lvl"), col("e.gram").as("gram"))
    val counts = exploded.groupBy("lvl", "gram")
      .agg(count(lit(1)).as("cnt"))
    val total = counts.filter(col("lvl") === 1)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
      .select(lit(0).as("lvl"), lit("").as("gram"), col("cnt"))
    counts.filter(col("cnt") >= minCount).unionByName(total)
  }

  /** Score `corpus` docs under a trained model. Output per doc:
    *  - n_tokens: token positions scored
    *  - matched_full: positions whose LONGEST available history matched
    *    (no backoff, no penalty)
    *  - backoff: positions that matched only a shorter history
    *  - oov: positions whose unigram is unseen (probability mass 0)
    *  - sum_prob: Σ S(w|ctx) in position order — exact ratio-of-count
    *    arithmetic (IEEE divides/multiplies/adds only, no
    *    transcendentals), so it replays bit-for-bit in the oracle
    *  - log_prob: Σ ln(max(S, 1/(2N))) — engine-side (ln is not
    *    cross-engine reproducible), spec-pinned instead of oracle-gated
    *  - perplexity: exp(−log_prob / n_tokens), null for empty docs */
  def score(corpus: DataFrame, model: DataFrame, textCol: String,
      idCol: String, order: Int, alpha: Double = 0.4,
      unicode: Boolean = false): DataFrame = {
    require(order >= 1 && order <= 5, s"order must be in 1..5, got $order")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    // r19 (guide §2.4 + §8): scoring depends only on (text, bounded
    // model), so the corpus-scale explode → model join → per-doc
    // re-collect (two wide stages over order × tokens rows per doc) is
    // replaced by ONE broadcast-model kernel pass — zero exchanges, the
    // model drained once (bounded, the model-as-frame contract) and
    // shipped via a Broadcast handle so no stage's task binary carries
    // it. Values are bit-identical: same token/gram construction, same
    // longest-available-history scan, same IEEE fold orders
    // (NgramLmSpec pins kernel == composed on the edge battery; the
    // q_ngram_lm oracle hash pins the corpus). The composed plan stays
    // below as scoreComposed — ALSO the graceful-degradation path (r20,
    // ADVICE r19): a model past MaxModelRows no longer throws, it scores
    // through the join plan that handled arbitrarily large models before
    // r19 (same values — the spec's kernel==composed battery is the
    // proof), reusing the already-cut projection.
    val fns = graft.functions.NgramLmFns
    scoreBounded(corpus, model, textCol, idCol, order, alpha, unicode,
      fns.MaxModelRows)
  }

  /** [[score]] with a caller-visible drain cap — the spec drives the
    * fallback seam with a tiny cap; production goes through [[score]]
    * at [[graft.functions.NgramLmFns.MaxModelRows]]. */
  private[graft] def scoreBounded(corpus: DataFrame, model: DataFrame,
      textCol: String, idCol: String, order: Int, alpha: Double,
      unicode: Boolean, cap: Int): DataFrame = {
    // one model evaluation serves the pull and the join fallback
    val ck = graft.core.CacheRegistry.cut(model.select(
      col("lvl").cast("int"), col("gram").cast("string"), col("cnt").cast("long")))
    val rows = graft.core.CacheRegistry.pull(ck, cap)(_.toArray)
    if (rows.isEmpty)
      return scoreComposed(corpus, ck, textCol, idCol, order, alpha, unicode)
    // fast path: the model now lives on the driver, nothing reads the cut
    graft.core.CacheRegistry.release(ck)
    val lm = graft.functions.NgramLmFns.buildModelFromRows(rows.get, order)
    // registered for drain (unpersist, not destroy) — repeated score()
    // calls in a long-lived session no longer accumulate broadcast
    // blocks (r19 ADVICE)
    val bcast = graft.core.CacheRegistry.memoBroadcast(
      corpus.sparkSession.sparkContext.broadcast(lm))
    val ev = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.LmScoreBcastExpr(bcast,
        org.apache.spark.sql.graftbridge.Bridge.expression(col(s"`$textCol`")),
        order, alpha, unicode))
    corpus.select(col(s"`$idCol`").as("id"), ev.as("__graft_lm"))
      .select(col("id"),
        col("__graft_lm.n_tokens").as("n_tokens"),
        col("__graft_lm.matched_full").as("matched_full"),
        col("__graft_lm.backoff").as("backoff"),
        col("__graft_lm.oov").as("oov"),
        col("__graft_lm.sum_prob").as("sum_prob"),
        col("__graft_lm.log_prob").as("log_prob"),
        col("__graft_lm.perplexity").as("perplexity"))
  }

  private[graft] def scoreComposed(corpus: DataFrame, model: DataFrame,
      textCol: String, idCol: String, order: Int, alpha: Double = 0.4,
      unicode: Boolean = false): DataFrame = {
    require(order >= 1 && order <= 5, s"order must be in 1..5, got $order")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")

    val exploded = corpus
      .select(col(idCol).as("id"),
        explode_outer(gramLattice(lower(col(textCol)), order, unicode)).as("e"))
      .select(col("id"), col("e.lvl").as("lvl"), col("e.pos").as("pos"),
        col("e.gram").as("gram"))
    // normalize the model frame so MERGED partials (unioned counts from
    // multiple training runs — the trivially-summable contract the class
    // doc advertises) score correctly: duplicate (lvl, gram) rows would
    // double-join into the per-doc lattice and shift every per-level
    // count slice; a single-run frame (unique rows) is value-identical
    val grams = model.filter(col("lvl") >= 1)
      .groupBy(col("lvl"), col("gram")).agg(sum(col("cnt")).as("cnt"))
    val joined = exploded.join(grams, Seq("lvl", "gram"), "left")

    // One row per doc: the (lvl, pos, cnt) lattice sorted by (lvl, pos) —
    // level k occupies one contiguous run of max(n-k+1, 0) entries in pos
    // order, so each level's count array is a slice, no per-element search.
    val perDoc = joined.groupBy("id").agg(
      sort_array(collect_list(struct(col("lvl"), col("pos"), col("cnt"))))
        .as("__graft_lm_ent"))

    // SUM of total rows, not max: a merged frame carries one lvl-0 row
    // per training run, and max silently under-counted the denominator
    val totals = model.filter(col("lvl") === 0)
      .agg(sum(col("cnt")).as("__graft_lm_n"))
    val withN = perDoc.crossJoin(broadcast(totals))

    val ent = col("__graft_lm_ent")
    val bigN = col("__graft_lm_n")

    // Materialize n and the per-level count arrays as REAL columns so the
    // per-position transforms below look each one up in O(1); cnts(k-1)
    // holds counts for grams ENDING at positions k-1..n-1 (1-based array
    // index j <-> pos = k-1 + j-1), a contiguous slice of the sorted
    // lattice.
    val withCounts = {
      val base = withN.withColumn("__graft_lm_nn",
        size(filter(ent, e => e.getField("lvl") === 1)))
      val n = col("__graft_lm_nn")
      val (frame, _) = (1 to order).foldLeft((base, lit(1): Column)) {
        case ((df, start), k) =>
          val len = greatest(n - lit(k - 1), lit(0))
          (df.withColumn(s"__graft_lm_c$k",
            transform(slice(ent, start, len), e => e.getField("cnt"))),
            start + len)
      }
      frame
    }
    val n = col("__graft_lm_nn")

    // Own count of the level-k gram ending at position p (0-based):
    // cnts(k)[p-k+2] 1-based. Its CONTEXT — the (k-1)-gram ending at
    // p-1 — lands on the SAME index in the level-(k-1) array:
    // (p-1)-(k-1)+2 = p-k+2. Guarded by p >= k-1 so indices stay in
    // range under ANSI element_at; model pruning keeps every surviving
    // gram's prefix, so a non-null count implies a non-null context.
    def cEnd(k: Int, p: Column): Column =
      element_at(col(s"__graft_lm_c$k"), p - lit(k) + lit(2))
    def ctx(k: Int, p: Column): Column =
      element_at(col(s"__graft_lm_c${k - 1}"), p - lit(k) + lit(2))

    def alphaPow(m: Column): Column = {
      val one: Column = lit(1.0)
      (1 until order).foldLeft(when(m === 0, one)) { (acc, i) =>
        acc.when(m === i, (0 until i).foldLeft(one)((a, _) => a * lit(alpha)))
      }
    }

    // Backoff scan per position: longest seen history wins; each level
    // dropped below the longest AVAILABLE one multiplies by alpha.
    def sOf(p: Column): Column = {
      val kmax = least(lit(order), p + 1)
      val branches = (order to 2 by -1).map { k =>
        (p >= lit(k - 1) && cEnd(k, p).isNotNull,
          alphaPow(kmax - lit(k)) *
            (cEnd(k, p).cast("double") / ctx(k, p).cast("double")))
      } :+ ((cEnd(1, p).isNotNull,
        alphaPow(kmax - lit(1)) * (cEnd(1, p).cast("double") / bigN.cast("double"))))
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }.otherwise(lit(0.0))
    }
    def usedOf(p: Column): Column = {
      val branches = (order to 2 by -1).map { k =>
        (p >= lit(k - 1) && cEnd(k, p).isNotNull, lit(k))
      } :+ ((cEnd(1, p).isNotNull, lit(1)))
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }.otherwise(lit(0))
    }

    val scored = withCounts
      .withColumn("__graft_lm_s",
        when(n > 0, transform(sequence(lit(0), n - 1), p => sOf(p)))
          .otherwise(array().cast("array<double>")))
      .withColumn("__graft_lm_u",
        when(n > 0, transform(sequence(lit(0), n - 1), p =>
          struct(usedOf(p).as("used"),
            least(lit(order), p + 1).as("kmax"))))
          .otherwise(array().cast("array<struct<used:int,kmax:int>>")))

    val floorP = lit(1.0) / (lit(2.0) * bigN.cast("double"))
    scored.select(
      col("id"),
      n.cast("long").as("n_tokens"),
      size(filter(col("__graft_lm_u"),
        u => u.getField("used") === u.getField("kmax"))).cast("long")
        .as("matched_full"),
      size(filter(col("__graft_lm_u"),
        u => u.getField("used") > 0 && u.getField("used") < u.getField("kmax")))
        .cast("long").as("backoff"),
      size(filter(col("__graft_lm_u"), u => u.getField("used") === 0))
        .cast("long").as("oov"),
      aggregate(col("__graft_lm_s"), lit(0.0), (a, x) => a + x).as("sum_prob"),
      aggregate(col("__graft_lm_s"), lit(0.0),
        (a, x) => a + log(greatest(x, floorP))).as("log_prob"),
      when(n > 0,
        exp(lit(0.0) - aggregate(col("__graft_lm_s"), lit(0.0),
          (a, x) => a + log(greatest(x, floorP))) / n.cast("double")))
        .as("perplexity"))
  }

  /** The positional gram lattice: for each level k in 1..order, structs
    * (lvl=k, pos=END position of the gram, gram) — ngramsAll index i
    * covers tokens [i, i+k-1], so it ends at pos i+k-1. */
  private def gramLattice(txt: Column, order: Int, unicode: Boolean): Column =
    flatten(array((1 to order).map { k =>
      transform(graft.functions.ShingleFns.ngramsAll(txt, k, unicode),
        (g, i) => struct(lit(k).as("lvl"),
          (i + lit(k - 1)).cast("integer").as("pos"), g.as("gram")))
    }: _*))
}
