package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.TextAnalysis.{distinctTokenRatio, gopherStopwords, meanWordLen, stopwordRatio, tokens}

/** Composed-expression formulations the native kernels replaced, kept as
  * executable SEMANTICS REFERENCES: the kernel specs (TextStatsFnsSpec,
  * ShingleFnsSpec, UrlFnsSpec) run kernel and twin side by side and diff.
  * No main path calls them, so they live in test scope. */
object ReferenceTwins {

  def qualityScoreComposed(text: Column): Column =
    distinctTokenRatio(text) * 0.5 +
      (lit(1.0) - abs(meanWordLen(text) - 5.0) / 10.0) * 0.3 +
      stopwordRatio(text) * 0.2

  /** The composed formulation ngramsAll used before the native kernel —
    * kept as the executable SEMANTICS REFERENCE (ShingleFnsSpec diffs
    * kernel vs this; shinglesComposed builds on it). Zipped shifted
    * slices: positions past `size-n` concat a null tail element and are
    * swept by array_compact. */
  def ngramsAllComposed(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val shifted = (1 until n).map(k =>
      slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))))
    array_compact(shifted.foldLeft(toks)((acc, s) =>
      zip_with(acc, s, (a, b) => concat(a, lit(" "), b))))
  }

  def gopherRulesComposed(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
      drop: Boolean = false): DataFrame = {
    val t = col(s"`$textCol`")
    val words = col("__graft_qr_words")
    val lines = col("__graft_qr_lines")
    val nw = col("n_words")
    val nl = size(lines)
    val bound = df
      .withColumn("__graft_qr_words", filter(tokens(t), w => length(w) > 0))
      .withColumn("__graft_qr_lines", split(t, "\n", -1))
      .withColumn("n_words", size(words))
      .withColumn("stop_hits", size(array_intersect(
        array_distinct(transform(words, w => lower(w))),
        array(gopherStopwords.map(lit(_)): _*))))
    // every ratio rule is in MULTIPLY form (count vs threshold × denom),
    // never count/denom: (a) no division by an empty doc's zero word
    // count — under ANSI mode, subexpression elimination in a fused
    // Filter predicate evaluates shared subexpressions BEFORE the
    // `nonEmpty &&` short-circuit, so a guarded division still throws
    // DIVIDE_BY_ZERO (found live: a streaming drop-mode chain died on a
    // page whose lines were all filtered); (b) exact — threshold × int
    // is one correctly-rounded double op, where count/denom ROUNDS and
    // can flip a knife-edge comparison
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val symCnt = (size(split(t, "#", -1)) - 1) +
      (size(split(t, """\.\.\.""", -1)) - 1)
    val alphaCnt = size(filter(words, w => w.rlike("[A-Za-z]")))
    val bulletCnt = size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
    val ellipsisCnt =
      size(filter(lines, l => rtrim(l).rlike("""(\.\.\.|…)$""")))
    val nonEmpty = nw > 0
    val flagged = bound
      .withColumn("rule_word_count", nw >= minWords && nw <= maxWords)
      .withColumn("rule_mean_word_len", nonEmpty &&
        sumLen.cast("double") >= lit(minMeanWordLen) * nw &&
        sumLen.cast("double") <= lit(maxMeanWordLen) * nw)
      .withColumn("rule_symbol_ratio", nonEmpty &&
        symCnt.cast("double") < lit(maxSymbolRatio) * nw)
      .withColumn("rule_alpha", nonEmpty &&
        alphaCnt.cast("double") >= lit(minAlphaFrac) * nw)
      .withColumn("rule_bullet",
        bulletCnt.cast("double") < lit(maxBulletFrac) * nl)
      .withColumn("rule_ellipsis",
        ellipsisCnt.cast("double") < lit(maxEllipsisFrac) * nl)
      .withColumn("rule_stopwords", col("stop_hits") >= minStopHits)
      .withColumn("rule_no_brace", !t.contains("{"))
      .withColumn("rule_no_lorem", !lower(t).contains("lorem ipsum"))
    val ruleCols = flagged.columns.filter(_.startsWith("rule_"))
    val keep = ruleCols.map(col).reduce(_ && _)
    val out = flagged.withColumn("keep", keep)
      .drop("__graft_qr_words", "__graft_qr_lines")
    if (drop) out.filter(col("keep")).select(df.columns.map(c => col(s"`$c`")): _*)
    else out
  }

  /** The composed-expression formulation shingles used before the native
    * kernel — kept as the executable SEMANTICS REFERENCE
    * (ShingleFnsSpec diffs kernel vs this on the edge battery). */
  def shinglesComposed(text: Column, n: Int): Column = {
    val toks = tokens(text)
    // shared zipped-shifted-slices core (TextAnalysis.ngramsAll); docs
    // shorter than n tokens contribute their single clipped shingle
    array_distinct(when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(ngramsAllComposed(text, n)))
  }

  def simhashTokenHashesComposed(text: Column): Column =
    transform(array_distinct(tokens(text)),
      t => conv(substring(md5(t), 25, 8), 16, 10).cast("long"))

  /** The composed-expression formulation normalizeUrl used before the
    * native kernel — kept as the executable SEMANTICS REFERENCE (the
    * UrlFnsSpec equivalence battery runs both and diffs). Five parses +
    * an interpreted higher-order function per row vs the kernel's one
    * parse: ~5× slower at 100k rows; do not use on the hot path. */
  def normalizeUrlComposed(u0: Column): Column = {
    def part(p: String): Column = try_parse_url(u0, lit(p))
    // Columns are expression TREES: binding `val scheme = …` and
    // referencing it three times embeds three copies of the parse — the
    // naive form cost 14 url parses and two query filter+sorts PER ROW
    // (measured ~6× the whole projection). transform-over-a-1-element-
    // array is the public let-binding idiom: the struct of parts is
    // evaluated once, and the lambda reads fields.
    val parts = struct(
      lower(part("PROTOCOL")).as("scheme"),
      lower(part("HOST")).as("host"),
      // parse_url has no PORT part; a digits-only anchored match on the
      // AUTHORITY is safe past userinfo colons and bracketed IPv6 literals
      regexp_extract(coalesce(part("AUTHORITY"), lit("")), ":([0-9]+)$", 1)
        .as("port"),
      part("PATH").as("rawpath"),
      array_sort(filter(split(coalesce(part("QUERY"), lit("")), "&"),
        p => p =!= "" && !p.startsWith("utm_"))).as("params"))
    element_at(transform(array(parts), { s =>
      val scheme = s.getField("scheme")
      val host = s.getField("host")
      val port = s.getField("port")
      val rawPath = s.getField("rawpath")
      val params = s.getField("params")
      val portOut = when(port === "" ||
          (scheme === "http" && port === "80") ||
          (scheme === "https" && port === "443"), lit(""))
        .otherwise(concat(lit(":"), port))
      val path = when(rawPath.isNull || rawPath === "", lit("/")).otherwise(rawPath)
      val query = when(size(params) === 0, lit(""))
        .otherwise(concat(lit("?"), array_join(params, "&")))
      concat(scheme, lit("://"), host, portOut, path, query)
    }), 1)
  }
}
