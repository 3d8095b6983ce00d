package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  // reference: "a b c a b c a b d" — trigrams: "a b c"=2, "b c a"=2,
  // "c a b"=2, "a b d"=1; bigrams: "a b"=3, "b c"=2, "c a"=2, "b d"=1;
  // unigrams: a=3, b=3, c=2, d=1; N=9.
  private def refDf = Seq((0L, "a b c a b c a b d")).toDF("doc_id", "text")

  test("train counts all orders, prunes by minCount, and carries the pre-prune total") {
    val m = NgramLm.train(refDf, "text", order = 3, minCount = 2)
      .collectAsMap()
    assert(m((0, "")) == 9L)          // total row survives pruning
    assert(m((1, "a")) == 3L)
    assert(m((2, "a b")) == 3L)
    assert(m((3, "a b c")) == 2L)
    assert(!m.contains((3, "a b d")))  // pruned: count 1 < 2
    assert(!m.contains((1, "d")))      // pruned
  }

  implicit class ModelOps(df: org.apache.spark.sql.DataFrame) {
    def collectAsMap(): Map[(Int, String), Long] =
      df.collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("score: full match, backoff with alpha penalty, OOV, and start-of-doc history") {
    val model = NgramLm.train(refDf, "text", order = 3, minCount = 1)
    // "a b c" — pos0: unigram a (kmax=1, full): 3/9
    //           pos1: bigram "a b" (kmax=2, full): 3/3
    //           pos2: trigram "a b c" (kmax=3, full): 2/3
    // "b c d" — pos2: "b c d" unseen, "c d" unseen, "d" seen →
    //           backoff to unigram with alpha² penalty: 0.4*0.4 * (1/9)
    // "z a z" — pos0: z OOV (0); pos1: "z a" unseen → alpha * (3/9);
    //           pos2: "a z" unseen, z OOV again
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "z a z"))
      .toDF("doc_id", "text")
    val out = NgramLm.score(docs, model, "text", "doc_id", order = 3)
      .orderBy("id").collect()

    val r1 = out(0)
    assert(r1.getLong(1) == 3 && r1.getLong(2) == 3 &&
      r1.getLong(3) == 0 && r1.getLong(4) == 0)
    assert(r1.getDouble(5) == (3.0 / 9.0) + (3.0 / 3.0) + (2.0 / 3.0))

    val r2 = out(1)
    assert(r2.getLong(2) == 2 && r2.getLong(3) == 1 && r2.getLong(4) == 0)
    val pos2 = ((1.0 * 0.4) * 0.4) * (1.0 / 9.0)
    assert(r2.getDouble(5) == (3.0 / 9.0) + (2.0 / 3.0) + pos2)

    val r3 = out(2)
    assert(r3.getLong(2) == 0 && r3.getLong(3) == 1 && r3.getLong(4) == 2)
    assert(r3.getDouble(5) == (1.0 * 0.4) * (3.0 / 9.0))
  }

  test("perplexity: fluent text scores lower than noise; empty doc is null") {
    val ref = Seq.tabulate(50)(i => (i.toLong, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val model = NgramLm.train(ref, "text", order = 3, minCount = 1)
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "mat the on cat zzz qqq"),
      (3L, "")).toDF("doc_id", "text")
    val out = NgramLm.score(docs, model, "text", "doc_id", order = 3)
      .orderBy("id").collect()
    val fluent = out(0).getDouble(7)
    val noise = out(1).getDouble(7)
    assert(fluent < noise,
      s"fluent ppl $fluent should be below noise ppl $noise")
    // empty text tokenizes to [""] (split -1 semantics) — one OOV token
    assert(out(2).getLong(1) == 1 && out(2).getLong(4) == 1)
    // log_prob uses the 1/(2N) floor for OOV, never -inf
    assert(!out(1).getDouble(6).isInfinite && !out(2).getDouble(6).isInfinite)
  }

  test("model counts merge across runs by plain addition") {
    val half1 = NgramLm.train(refDf, "text", 3, minCount = 1)
    val half2 = NgramLm.train(refDf, "text", 3, minCount = 1)
    val merged = half1.unionByName(half2)
      .groupBy("lvl", "gram").agg(sum("cnt").as("cnt"))
    val whole = NgramLm.train(
      refDf.unionByName(refDf.withColumn("doc_id", col("doc_id") + 1)),
      "text", 3, minCount = 1)
    assert(merged.collectAsMap() == whole.collectAsMap())
  }

  test("score() accepts RAW merged partials: duplicate gram rows and multiple totals") {
    // the class doc advertises trivially-summable model frames — score
    // previously took max() of the lvl-0 totals (under-counted N for
    // merged frames) and double-joined duplicate gram rows, shifting
    // every per-level count slice (r14 fix: normalize inside score)
    val half = NgramLm.train(refDf, "text", 3, minCount = 1)
    val rawMerged = half.unionByName(half) // two totals, every gram twice
    val whole = NgramLm.train(
      refDf.unionByName(refDf.withColumn("doc_id", col("doc_id") + 1)),
      "text", 3, minCount = 1)
    def scores(m: org.apache.spark.sql.DataFrame) =
      NgramLm.score(refDf, m, "text", "doc_id", 3)
        .select("id", "sum_prob").as[(Long, Double)].collect().toMap
    assert(scores(rawMerged) == scores(whole),
      "raw merged partials must score identically to the equivalent model")
  }

  test("plan shape: scoring is a zero-exchange broadcast-model kernel map") {
    // r19: the corpus-side lattice explode, model join and per-doc
    // re-collect are gone — one kernel projection over the corpus, the
    // model riding a Broadcast handle (never a plan literal)
    val model = NgramLm.train(refDf, "text", order = 3, minCount = 1)
    // non-foldable text over range: a local Seq (or a literal text)
    // lets ConvertToLocalRelation/ConstantFolding evaluate the whole
    // kernel at plan time and leave nothing to pin
    val docs = spark.range(1)
      .selectExpr("id as doc_id", "concat('a b c ', id) as text")
    val plan = NgramLm.score(docs, model, "text", "doc_id", order = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan)
    assert(!plan.contains("Exchange"), s"scoring shuffles:\n$plan")
    assert(!plan.contains("Join"), s"scoring joins:\n$plan")
    assert(plan.contains("lm_score_bcast"), plan)
  }

  test("kernel scoring equals the composed lattice plan (r19 equivalence)") {
    // edge battery: backoff at every level, OOV runs, repeated grams,
    // single-token and empty docs, null text, leading whitespace,
    // mixed case (scoring lowercases), a doc shorter than the order
    val docs = Seq(
      (1L, "a b c a b c d"),
      (2L, "A B C"),
      (3L, "zz yy xx"),
      (4L, "a"),
      (5L, ""),
      (6L, null),
      (7L, "  a b   c  "),
      (8L, "c a b a b c a"),
      (9L, "b c d e f g h a b c")).toDF("doc_id", "text")
    for (minCount <- Seq(1L, 2L); alpha <- Seq(0.4, 0.7)) {
      val model = NgramLm.train(refDf, "text", order = 3, minCount = minCount)
        .localCheckpoint()
      val k = NgramLm.score(docs, model, "text", "doc_id", order = 3,
        alpha = alpha).orderBy("id").collect()
      val c = NgramLm.scoreComposed(docs, model, "text", "doc_id", order = 3,
        alpha = alpha).orderBy("id").collect()
      assert(k.length == c.length)
      k.zip(c).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    }
    // merged partials (duplicate (lvl, gram) rows) normalize identically
    val half = NgramLm.train(refDf, "text", 3, minCount = 1)
    val merged = half.unionByName(half).localCheckpoint()
    val k2 = NgramLm.score(docs, merged, "text", "doc_id", 3).orderBy("id").collect()
    val c2 = NgramLm.scoreComposed(docs, merged, "text", "doc_id", 3).orderBy("id").collect()
    k2.zip(c2).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("score falls back to the composed plan past the drain cap (r20, r19 ADVICE)") {
    // a model larger than the cap must SCORE (through the join plan the
    // pre-r19 path used), not throw — and produce the kernel path's
    // exact rows. Driven through the caller-visible cap seam; the
    // production cap is NgramLmFns.MaxModelRows.
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "z a z"), (4L, ""))
      .toDF("doc_id", "text")
    val model = NgramLm.train(refDf, "text", order = 3, minCount = 1)
      .localCheckpoint()
    assert(model.count() > 2)
    val viaKernel = NgramLm.score(docs, model, "text", "doc_id", order = 3)
      .orderBy("id").collect()
    val viaFallback = NgramLm.scoreBounded(docs, model, "text", "doc_id",
        order = 3, alpha = 0.4, unicode = false, cap = 2)
      .orderBy("id").collect()
    assert(viaKernel.length == viaFallback.length)
    viaKernel.zip(viaFallback).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("score's model broadcast registers for CacheRegistry.drain (r20, r19 ADVICE)") {
    graft.core.CacheRegistry.drain()
    val before = graft.core.CacheRegistry.size
    val model = NgramLm.train(refDf, "text", order = 3, minCount = 1)
    NgramLm.score(Seq((1L, "a b")).toDF("doc_id", "text"), model,
      "text", "doc_id", order = 3).count()
    assert(graft.core.CacheRegistry.size > before,
      "model broadcast not registered for drain")
    graft.core.CacheRegistry.drain()
    assert(graft.core.CacheRegistry.size == 0)
  }

  test("fast-path score frees its cut model's blocks") {
    // the drained model lives on the driver (a broadcast); nothing reads
    // the cut frame again, so its blocks go at once instead of waiting
    // for the frame to become unreachable
    val model = NgramLm.train(refDf, "text", order = 3, minCount = 1)
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val scored = NgramLm.score(docs, model, "text", "doc_id", order = 3)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"score left persisted RDDs ${added.mkString(",")}")
    assert(scored.count() == 1)
  }
}
