package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeCodec, BpeFns}

/** Byte-pair-encoding tokenizer training and application over a corpus —
  * the "train a tokenizer, then budget/pack by REAL token counts" leg of
  * an LLM data pipeline (whitespace and regex proxies under-count code
  * and non-English text by 2-4×; mixture plans sized with them overshoot
  * their budget by the same factor).
  *
  * Scale split, exactly how production BPE trainers work: the CORPUS pass
  * is a distributed word-frequency aggregation (map-side combined; the
  * shuffle carries one row per distinct word — the same kernel the
  * vocabulary family uses), and the MERGE LEARNING runs driver-side over
  * that word-frequency table, which is vocabulary-sized (bounded by
  * `maxWords`, default 50k), not corpus-sized. 100 TB of text changes the
  * first pass's input volume only; the driver never sees more than
  * `maxWords` rows. Incremental twin: [[trainFromCounts]] accepts any
  * (token, cnt) frame, so a [[TextAnalysis.readVocabStore]] view trains
  * the tokenizer from the cross-run vocabulary store without re-scanning
  * history.
  *
  * Merge learning is the textbook algorithm (Sennrich et al. 2016; the
  * reference implementations in subword-nmt and HF tokenizers): count
  * adjacent symbol pairs weighted by word frequency, repeatedly take the
  * most frequent pair (ties broken lexicographically for determinism),
  * merge ALL its occurrences left-to-right in every word containing it,
  * stop after `numMerges` merges or when the best pair drops below
  * `minFrequency`. Pair counts update incrementally (only words containing
  * the merged pair are touched), so learning is O(merges × affected
  * symbols), not O(merges × vocabulary). */
object Bpe {

  /** Largest word table or merge list held on the driver. */
  private val MaxDriverRows = 2000000

  /** Learn a merge list from a (token, cnt) word-frequency frame.
    * @return merges in rank order (rank = position). */
  def trainFromCounts(counts: DataFrame, numMerges: Int,
      maxWords: Int = 50000, minFrequency: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 0, s"Bpe.train: numMerges must be >= 0, got $numMerges")
    require(maxWords > 0 && maxWords <= MaxDriverRows,
      s"Bpe.train: maxWords must be in (0, 2e6] (driver-side table), got $maxWords")
    // top-maxWords by count is TakeOrderedAndProject (per-task top-N
    // merged in one task — the vocabulary never lands on one node even
    // when the corpus is 100 TB); the limit bounds the pull
    val top = graft.core.CacheRegistry.pull(
      counts.groupBy("token").agg(sum(col("cnt")).as("cnt"))
        .filter(col("token").isNotNull && length(col("token")) > 0)
        .orderBy(col("cnt").desc, col("token"))
        .limit(maxWords), maxWords)(_.toArray).get

    // mutable word symbol sequences + frequency
    val words = top.map(r => toSyms(r.getString(0)))
    val freq = top.map(_.getLong(1))

    // pair -> weighted count; pair -> word indexes that contained it when
    // last counted (stale-tolerant: re-checked before use)
    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def countWord(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.size - 1) {
        val p = (s(i), s(i + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * freq(wi)
        if (c <= 0L) pairCount.remove(p) else pairCount(p) = c
        if (sign > 0)
          pairWords.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(countWord(_, 1L))

    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = pairCount.isEmpty
    while (m < numMerges && !done) {
      // max count, then lexicographically smallest pair — deterministic
      // across runs and partitionings (counts are exact integers)
      val best = pairCount.minBy { case ((l, r), c) => (-c, l, r) }
      if (best._2 < minFrequency) done = true
      else {
        val pair = best._1
        merges += pair
        for (wi <- pairWords.getOrElse(pair, Set.empty)) {
          if (containsPair(words(wi), pair)) {
            countWord(wi, -1L)
            mergeAll(words(wi), pair)
            countWord(wi, 1L)
          }
        }
        pairWords.remove(pair)
        m += 1
        done = pairCount.isEmpty
      }
    }
    merges.result()
  }

  /** Learn a merge list from a text column: distributed word counts
    * (lowercased — train and encode on the same casing), then
    * [[trainFromCounts]]. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 50000, minFrequency: Long = 2L,
      unicode: Boolean = false): Seq[(String, String)] =
    trainFromCounts(
      df.select(explode(graft.functions.ShingleFns.tokenCounts(
          lower(col(textCol)), unicode)).as("tc"))
        .select(col("tc.token").as("token"), col("tc.cnt").as("cnt")),
      numMerges, maxWords, minFrequency)

  private def toSyms(w: String): scala.collection.mutable.ArrayBuffer[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      buf += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    buf
  }

  private def containsPair(s: scala.collection.mutable.ArrayBuffer[String],
      p: (String, String)): Boolean = {
    var i = 0
    while (i < s.size - 1) {
      if (s(i) == p._1 && s(i + 1) == p._2) return true
      i += 1
    }
    false
  }

  /** Merge all occurrences of `p`, left to right, non-overlapping — the
    * trainer's step. (The encoder's leftmost-one-at-a-time loop reaches
    * the same result; BpeSpec pins the equivalence.) */
  private def mergeAll(s: scala.collection.mutable.ArrayBuffer[String],
      p: (String, String)): Unit = {
    var i = 0
    while (i < s.size - 1) {
      if (s(i) == p._1 && s(i + 1) == p._2) {
        s(i) = s(i) + s(i + 1)
        s.remove(i + 1)
      }
      i += 1
    }
  }

  // ---- model persistence --------------------------------------------------

  /** Persist merges as parquet (rank, l, r) — tiny (numMerges rows), and
    * readable by any engine for audit. */
  def saveModel(spark: SparkSession, merges: Seq[(String, String)],
      path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "l", "r")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge list saved by [[saveModel]]: one bounded pull, sorted
    * by rank on the driver. */
  def loadModel(spark: SparkSession, path: String): Seq[(String, String)] =
    graft.core.CacheRegistry.pull(spark.read.parquet(path)
        .select(col("rank").cast("long"), col("l"), col("r")), MaxDriverRows)(_.toArray)
      .getOrElse(sys.error(s"Bpe.loadModel: more than $MaxDriverRows merges at $path"))
      .sortBy(_.getLong(0)).toSeq.map(r => (r.getString(1), r.getString(2)))

  // ---- application --------------------------------------------------------

  def codec(merges: Seq[(String, String)], unicode: Boolean = false): BpeCodec =
    BpeCodec(merges, unicode)

  /** Add an array&lt;string&gt; column of the text's BPE tokens. */
  def encode(df: DataFrame, textCol: String, merges: Seq[(String, String)],
      outCol: String = "bpe_tokens", unicode: Boolean = false): DataFrame =
    df.withColumn(outCol, BpeFns.bpeTokens(col(textCol), codec(merges, unicode)))

  /** Add a long column of the text's BPE token count (no token array is
    * materialized — the budget-accounting form). */
  def tokenCount(df: DataFrame, textCol: String, merges: Seq[(String, String)],
      outCol: String = "n_bpe_tokens", unicode: Boolean = false): DataFrame =
    df.withColumn(outCol, BpeFns.bpeTokenCount(col(textCol), codec(merges, unicode)))

  /** Column-level token counter for [[DatasetOps.planMixture]]'s
    * `tokenCounter` seam: mixture budgets sized by REAL tokenizer counts. */
  def tokenCounter(merges: Seq[(String, String)],
      unicode: Boolean = false): Column => Column = {
    val c = codec(merges, unicode)
    text => BpeFns.bpeTokenCount(text, c)
  }
}
