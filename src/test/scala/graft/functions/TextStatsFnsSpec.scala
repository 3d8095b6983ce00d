package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The r19 fused per-row kernels must be VALUE-IDENTICAL to the composed
  * forms the DuckDB oracles were written against:
  * - qualityScore (one pass) vs the 3-leg HOF composition;
  * - repetitionStats (zero-exchange struct) vs the old
  *   explode → groupBy → join-back plan;
  * - md5ShingleHashes / affineMinhashSig / minhashCalibPair vs their
  *   transform/conv/substring/md5 compositions. */
class TextStatsFnsSpec extends SparkSpec {
  import spark.implicits._

  private val battery = Seq(
    "the quick brown fox jumps over the lazy dog",
    "  leading whitespace token semantics test case here",
    "trailing whitespace stays significant too   ",
    "tabs\tand\nnewlines\r\nsplit like spaces here now",
    "one",
    "two tokens",
    "exactly five tokens right here now",
    "a a a a a a a a",
    "a b a b a b a b a b",
    "THE Of aNd MiXeD cAsE stopwords",
    "café naïve résumé unicode token lengths",
    "你好 世界 cjk code points",
    "punct, stays. inside! tokens? ok;",
    "x y x y x y repeated five gram x y x y x y repeated five gram tail",
    "",
    null,
  )

  private def batteryDf: DataFrame =
    battery.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")

  test("qualityScore kernel equals the composed 3-leg form bit-for-bit") {
    val df = batteryDf
    val r = df.select(
      graft.ml.TextAnalysis.qualityScore($"t").as("k"),
      graft.ReferenceTwins.qualityScoreComposed($"t").as("c")).collect()
    r.foreach { row =>
      assert(row.isNullAt(0) == row.isNullAt(1), row.toString)
      if (!row.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(row.getDouble(1)), row.toString)
    }
  }

  /** The pre-r19 repetitionStats plan, kept as the equivalence reference. */
  private def repetitionComposed(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      length(col(textCol)).as("len"), col(textCol).as("__t"))
    def gramCounts(n: Int) = base
      .select(col("doc_id"), col("len"),
        explode(graft.ml.TextAnalysis.ngramsAll(col("__t"), n)).as("g"))
      .groupBy("doc_id", "len", "g").agg(count(lit(1)).as("c"))
    val top2 = gramCounts(2)
      .groupBy("doc_id", "len").agg(max(col("c") * length(col("g"))).as("m"))
      .select(col("doc_id"), (col("m").cast("double") / col("len")).as("top2_frac"))
    val dup5 = gramCounts(5)
      .groupBy("doc_id", "len")
      .agg(sum(when(col("c") >= 2, col("c") * length(col("g"))).otherwise(0L)).as("s"))
      .select(col("doc_id"), (col("s").cast("double") / col("len")).as("dup5_frac"))
    df.select(col(idCol).as("doc_id"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("dup5_frac"), lit(0.0)).as("dup5_frac"))
  }

  test("repetitionStats kernel equals the explode/groupBy/join-back plan") {
    val df = batteryDf
    val k = graft.ml.TextAnalysis.repetitionStats(df, "t", "doc_id")
      .orderBy("doc_id").collect()
    val c = repetitionComposed(df, "t", "doc_id").orderBy("doc_id").collect()
    assert(k.length == c.length)
    k.zip(c).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("repetitionStats stays a zero-exchange narrow plan") {
    val plan = graft.ml.TextAnalysis.repetitionStats(batteryDf, "t", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("kernel stopword set matches TextAnalysis.stopwords") {
    // scoring a doc made of every stopword (upper-cased) must yield
    // stopword ratio 1.0 through both forms — a drifted frozen set in
    // the kernel would break equality on this row
    val allStops = graft.ml.TextAnalysis.stopwords.map(_.toUpperCase).mkString(" ")
    val r = Seq(allStops).toDF("t").select(
      graft.ml.TextAnalysis.qualityScore($"t").as("k"),
      graft.ReferenceTwins.qualityScoreComposed($"t").as("c")).head()
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("gopherRules kernel equals the composed rule lattice") {
    // battery + rule-targeted rows: bullets, ellipses (incl. the
    // $-before-\r subtlety), hashes, dot runs, braces, lorem ipsum,
    // stopword case-folding, empty and null text
    val extra = Seq(
      "- bullet line\n * starred\n• dot bullet\nplain",
      "trail dots...\nellipsis…\nnot..\nfour....",
      "ends with dots...\r\nwindows line",
      "   - spaced bullet\n\t- tab stays (not trimmed)",
      "c { brace } doc",
      "Lorem Ipsum dolor sit",
      "the BE tO Of AND that HAVE with",
      "# one # two ## three",
      "a.b...c....d",
      (1 to 60).map(i => s"word$i").mkString(" "),
      (1 to 60).map(_ => "xx").mkString(" "),
    )
    val df = (battery ++ extra).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "t")
    for (minStop <- Seq(1, 2)) {
      val k = graft.ml.TextAnalysis.gopherRules(df, "t", minStopHits = minStop)
        .orderBy("doc_id").collect()
      val c = graft.ReferenceTwins.gopherRulesComposed(df, "t", minStopHits = minStop)
        .orderBy("doc_id").collect()
      assert(k.length == c.length)
      k.zip(c).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
      // drop mode keeps the original schema and the same survivors
      val kd = graft.ml.TextAnalysis.gopherRules(df, "t",
        minStopHits = minStop, drop = true).orderBy("doc_id").collect()
      val cd = graft.ReferenceTwins.gopherRulesComposed(df, "t",
        minStopHits = minStop, drop = true).orderBy("doc_id").collect()
      assert(kd.toSeq == cd.toSeq)
    }
  }

  test("gopher kernel stop set matches TextAnalysis.gopherStopwords") {
    val allStops = graft.ml.TextAnalysis.gopherStopwords.map(_.toUpperCase)
      .mkString(" ")
    val df = Seq(allStops).toDF("t")
    val k = graft.ml.TextAnalysis.gopherRules(df, "t").select("stop_hits").head()
    val c = graft.ReferenceTwins.gopherRulesComposed(df, "t").select("stop_hits").head()
    assert(k == c && k.getInt(0) == graft.ml.TextAnalysis.gopherStopwords.size)
  }

  test("dsirEvidence kernel equals the composed two-fold lattice") {
    val df = batteryDf
    val logBuckets = 6
    val b = 1 << logBuckets
    val rnd = new scala.util.Random(7)
    val ratio = Seq.fill(b)(0.25 + rnd.nextDouble())
    val logRatio = ratio.map(math.log)
    val fb = QualityClfFns.clfBucketList($"t", logBuckets, bigrams = true)
    val ratios = typedlit(ratio)
    val logRatios = typedlit(logRatio)
    val composed = df.withColumn("__fb", fb)
      .withColumn("n_feats", size($"__fb"))
      .withColumn("sum_ratio",
        when($"n_feats" > 0, aggregate($"__fb",
          lit(0.0d), (acc, x) => acc + element_at(ratios, x + 1))))
      .withColumn("log_weight",
        when($"n_feats" > 0, aggregate($"__fb",
          lit(0.0d), (acc, x) => acc + element_at(logRatios, x + 1))))
      .select("doc_id", "n_feats", "sum_ratio", "log_weight")
      .orderBy("doc_id").collect()
    val kernel = df.withColumn("__ev",
        QualityClfFns.dsirEvidence(fb, ratio, logRatio))
      .select($"doc_id", $"__ev.n_feats".as("n_feats"),
        $"__ev.sum_ratio".as("sum_ratio"), $"__ev.log_weight".as("log_weight"))
      .orderBy("doc_id").collect()
    assert(kernel.length == composed.length)
    kernel.zip(composed).foreach { case (k, c) => assert(k == c, s"$k vs $c") }
  }

  private def md5ShingleComposed(c: Column, n: Int): Column =
    array_distinct(transform(graft.ml.Dedup.shingles(c, n),
      s => conv(substring(md5(s), 25, 8), 16, 10).cast("long")))

  test("md5ShingleHashes equals the composed md5/conv/array_distinct form") {
    val df = batteryDf
    for (n <- Seq(1, 3, 5)) {
      val r = df.select(ShingleFns.md5ShingleHashes($"t", n).as("k"),
        md5ShingleComposed($"t", n).as("c")).collect()
      r.foreach { row =>
        assert(row.isNullAt(0) == row.isNullAt(1))
        if (!row.isNullAt(0))
          assert(row.getSeq[Long](0) == row.getSeq[Long](1), row.toString)
      }
    }
  }

  test("affineMinhashSig equals the per-permutation array_min transforms") {
    val df = batteryDf.filter($"t".isNotNull)
    val numHashes = 16
    val hs = ShingleFns.md5ShingleHashes($"t", 3)
    val composed = array((0 until numHashes).map { k =>
      array_min(transform(hs,
        h => (h * lit(1000003L + 2L * k) + lit(12289L * k + 1L)) %
          lit(4294967296L)))
    }: _*)
    val r = df.select(ArrayFns.affineMinhashSig(hs, numHashes).as("k"),
      composed.as("c")).collect()
    r.foreach(row => assert(row.getSeq[Long](0) == row.getSeq[Long](1), row.toString))
  }

  test("minhashCalibPair equals the composed matches/jacc_band lattice") {
    val pairs = battery.filter(_ != null).flatMap(a =>
      battery.filter(_ != null).take(6).map(b => (a, b))).toDF("a", "b")
    def hsOf(c: Column) = md5ShingleComposed(c, 3)
    val numHashes = 16
    def sig(h: Column) = array((0 until numHashes).map { k =>
      array_min(transform(h,
        v => (v * lit(1000003L + 2L * k) + lit(12289L * k + 1L)) %
          lit(4294967296L)))
    }: _*)
    val composed = pairs
      .select(hsOf($"a").as("hsA"), hsOf($"b").as("hsB"))
      .select(
        aggregate(zip_with(sig($"hsA"), sig($"hsB"),
            (a, b) => when(a === b, 1).otherwise(0)), lit(0), _ + _)
          .cast("long").as("matches"),
        size(array_intersect($"hsA", $"hsB")).cast("long").as("inter"),
        $"hsA", $"hsB")
      .select($"matches",
        floor(lit(10) * $"inter" / (size($"hsA") + size($"hsB") - $"inter"))
          .cast("long").as("jacc_band"))
      .collect()
    val kernel = pairs.select(
      ShingleFns.minhashCalibPair($"a", $"b", 3, numHashes).as("c"))
      .select($"c.matches", $"c.jacc_band").collect()
    assert(kernel.length == composed.length)
    kernel.zip(composed).foreach { case (k, c) => assert(k == c, s"$k vs $c") }
  }
}
