package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Character-trigram language identification (Cavnar & Trenkle 1994,
  * "N-Gram-Based Text Categorization" — the rank-order profile method
  * fastText-era pipelines still fall back to). Entirely INTEGER
  * arithmetic: profiles are rank tables, the score is the out-of-place
  * distance Σ|doc_rank − profile_rank| with a fixed `topK` penalty for
  * unseen grams — so classification is deterministic, reproducible at
  * any partition count, and exactly replayable by the SQL oracle
  * (unlike probability-smoothed classifiers whose float sums drift).
  *
  * The trained profile is a PLAIN (lang, gram, rank) DataFrame — persist
  * as parquet, ship anywhere, no driver-side model object (the same
  * model-as-frame contract as [[NgramLm]]).
  */
object LangId {

  /** Train per-language rank profiles from a labeled corpus:
    * (lang, gram, rank) with rank 1..topK by descending frequency, ties
    * broken by gram — the tiebreak makes training bit-deterministic.
    *
    * Plan: the codegen'd trigram-count kernel pre-counts each doc's
    * multiset IN-ROW, so the explode (and the partial aggregate's
    * input) carries one row per DISTINCT gram per doc, not one per
    * occurrence — repetitive text costs its repetition factor less.
    * Then a partial-agg'd groupBy(lang, gram) (shuffle rows = distinct
    * grams per language, not corpus size) → per-lang rank window whose
    * `<= topK` filter runs as WindowGroupLimit (map-side prune; a
    * language's gram table never funnels unbounded through one
    * reducer). */
  def trainProfiles(df: DataFrame, textCol: String, langCol: String,
      topK: Int = 100): DataFrame =
    df.select(col(s"`$langCol`").as("lang"),
        explode(graft.functions.LangIdFns.trigramCounts(col(s"`$textCol`")))
          .as("gc"))
      .groupBy(col("lang"), col("gc.gram").as("gram"))
      .agg(sum(col("gc.cnt").cast("long")).as("cnt"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))))
      .filter(col("rank") <= topK).drop("cnt")

  /** Classify each document against the profiles: (idCol, lang_guess,
    * distance). Lower distance = better match; ties break to the
    * lexicographically first language (deterministic).
    *
    * Plan: ZERO exchanges — the profile table (≤ |langs| × topK rows by
    * [[trainProfiles]] construction, the same bounded-model contract as
    * BPE's merge list at [[Bpe.encode]]) is drained once and rides
    * inside ONE codegen'd kernel expression
    * ([[graft.functions.LangIdModel]] — trigram counts, top-K rank,
    * hash-probed out-of-place distances, argmin), so classification is a
    * single narrow map over the corpus: no shuffle, no window, nothing
    * leaves the partition, O(L + topK·|langs|) per doc. Docs with no
    * trigrams (null / < 3 chars) emit no row, matching the original
    * explode-based semantics; the kernel scaladoc pins the exact
    * contract the SQL oracle replays. */
  def classify(df: DataFrame, textCol: String, idCol: String,
      profiles: DataFrame, topK: Int = 100): DataFrame =
    annotate(df, textCol, profiles, topK)
      .filter(col("lang_guess").isNotNull)
      .select(col(s"`$idCol`"), col("lang_guess"),
        col("lang_distance").as("distance"))

  /** [[classify]] that KEEPS the payload: adds `lang_guess` and
    * `lang_distance` columns (null for docs with no trigrams) instead of
    * projecting them out — still a zero-exchange narrow map, so a
    * pipeline can classify-then-filter (`keep_langs`) without ever
    * joining the verdicts back. */
  def annotate(df: DataFrame, textCol: String,
      profiles: DataFrame, topK: Int = 100): DataFrame = {
    Seq("lang_guess", "lang_distance").foreach { c =>
      require(!df.columns.contains(c),
        s"LangId.annotate emits '$c' but the input already has it — " +
          "rename or drop the existing column first")
    }
    // ≤ |langs| × topK profile rows
    val profRows = graft.core.CacheRegistry.pull(profiles
      .select(col("lang").cast("string"), col("gram").cast("string"),
        col("rank").cast("int")), 2000000)(_.toArray).getOrElse(
      throw new IllegalArgumentException("profile table too large to embed " +
        "in the plan: >2000000 rows (expected <= |langs| * topK)"))
    val byLang: Seq[(String, Map[String, Int])] = profRows
      .groupBy(_.getString(0))
      .map { case (l, rs) =>
        (l, rs.map(r => r.getString(1) -> r.getInt(2)).toMap)
      }
      .toSeq.sortBy(_._1)

    if (byLang.isEmpty)
      // no profiles → no verdicts, but keep the output schema stable
      return df
        .withColumn("lang_guess", lit(null).cast("string"))
        .withColumn("lang_distance", lit(null).cast("long"))

    // the whole classification is ONE codegen'd kernel call per row
    // (graft.functions.LangIdModel — trigram counts, top-K rank,
    // per-language hash-probed out-of-place distance, argmin); null for
    // sub-trigram docs. An all-builtins form exists but Spark's
    // map-literal element_at is a linear scan — measured 3× slower than
    // even the r11 window-join plan; the kernel's scaladoc pins the
    // exact semantic contract the oracle replays.
    val model = graft.functions.LangIdModel(byLang, topK)
    df.withColumn("__graft_li_best",
        graft.functions.LangIdFns.langIdBest(col(s"`$textCol`"), model))
      .withColumn("lang_guess", col("__graft_li_best.lang"))
      .withColumn("lang_distance", col("__graft_li_best.distance"))
      .drop("__graft_li_best")
  }
}
