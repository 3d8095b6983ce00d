package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token statistics, quality
  * scoring, n-gram language ID, document fingerprinting. Pure built-in
  * expressions (split / regexp / lambda) — codegen'd end to end, and every
  * formula is reproducible in the DuckDB oracle for exact verification. */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, """\s+""")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: word-or-punctuation regex token count. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""\w+|[^\w\s]"""), lit(0)))

  /** Quality heuristics (ratios in exact integer→double division so the
    * oracle matches bit-for-bit):
    *   - mean word length
    *   - stopword ratio (fraction of tokens in a small function-word set)
    *   - punctuation ratio (punct chars / chars)
    *   - distinct-token ratio (vocabulary richness / repetition signal)
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "that", "for",
    "on", "with", "as", "at", "by", "from", "or", "be", "are")

  def meanWordLen(text: Column): Column = meanWordLenOf(tokens(text))

  private def meanWordLenOf(t: Column): Column =
    aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("double") / size(t)

  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  private def stopwordRatioOf(t: Column): Column = {
    val sw = array(stopwords.map(lit(_)): _*)
    size(filter(t, x => array_contains(sw, lower(x)))).cast("double") / size(t)
  }

  def distinctTokenRatio(text: Column): Column =
    distinctTokenRatioOf(tokens(text))

  private def distinctTokenRatioOf(t: Column): Column =
    size(array_distinct(t)).cast("double") / size(t)

  /** Composite quality score in [0,1]-ish: weights chosen to mirror common
    * curation heuristics (richness up, extreme word length down). */
  def qualityScore(text: Column): Column =
    // r19: one fused kernel pass (TextStatsFns.qualityScore) — the
    // composed form re-ran split() in each ratio leg via CollapseProject
    // and paid interpreted HOF eval in aggregate/filter; doubles are
    // bit-identical (same ops, same order; TextStatsFnsSpec pins it
    // against the composed twin in test scope, graft.ReferenceTwins).
    graft.functions.TextStatsFns.qualityScore(text)

  /** Marker-token language ID: score each language by marker hits, take
    * the argmax (ties broken by the fixed language order). N-gram-free but
    * the same shape as a real char-n-gram scorer — and exactly
    * reproducible in SQL. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Rolling-hash document fingerprint: md5 of the normalized text
    * (lowercase, collapsed whitespace). Pair with Dedup.fingerprintCol for
    * the order-insensitive variant. */
  def docFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), """\s+""", " "))

  /** True rolling polynomial hash over the code points:
    * h = fold(h·31 + cp) mod 1e9+7. Cheap, incremental (a streaming
    * ingester can maintain it per chunk), and reproducible in any engine —
    * DuckDB folds the same recurrence with list_reduce. */
  def rollingHash(text: Column): Column = {
    val chars = split(text, "")
    when(length(text) > 0,
      aggregate(chars, lit(0L), (acc, ch) => (acc * 31L + ascii(ch)) % 1000000007L))
      .otherwise(lit(0L))
  }

  /** WITHIN-document duplicate-line statistics — the remaining Gopher
    * repetition rules ([[repetitionStats]] covers the n-gram family;
    * these are "duplicate line fraction" and "duplicate line character
    * fraction"): per document, over its NON-EMPTY lines,
    *  - n_lines
    *  - n_dup_lines: lines whose exact text occurs ≥ 2 times in the doc
    *  - dup_line_frac = n_dup_lines / n_lines
    *  - dup_char_frac = characters in duplicated lines / characters in
    *    all lines (newlines excluded from both sides)
    * Exact integer counts plus one correctly-rounded double divide each,
    * so the DuckDB oracle replays bit-for-bit. Pure array expressions:
    * sort the line list once, then a line is duplicated iff it equals
    * its sorted predecessor or successor — O(n log n) per row, no O(n²)
    * membership scans, no shuffle, no UDF. Zero-line docs yield zero
    * counts and NULL fractions. */
  def dupLineStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // the sorted line array is materialized as a REAL column first: the
    // per-element lambda below indexes into it (element_at), and an
    // attribute reference evaluates once per row where an inline
    // expression tree would re-embed (and re-run) the sort per element
    val base = df.select(col(s"`$idCol`"),
      sortedLines(col(s"`$textCol`")).as("__graft_ls"))
    base.select(col(s"`$idCol`") +: dupLineStatCols(col("__graft_ls"))
      .map { case (n, c) => c.as(n) }: _*)
  }

  /** The sorted non-empty-line array [[dupLineStatCols]] consumes — keep
    * it a REAL column (select/withColumn) before building the stats. */
  def sortedLines(text: Column): Column =
    array_sort(filter(split(text, "\n", -1), l => length(l) > 0))

  /** [[dupLineStats]]'s count/fraction columns from a MATERIALIZED
    * sorted-line array column — shared by the select-shaped scorer and
    * the `DupLines` pipeline stage (which appends them in flag mode). */
  def dupLineStatCols(ls: Column): Seq[(String, Column)] = {
    val n = size(ls)
    // lambda i is 0-based; element_at is 1-based: prev = i, next = i + 2
    val flags = transform(ls, (x, i) =>
      (i > 0 && x === element_at(ls, i)) ||
        (i < size(ls) - 1 && x === element_at(ls, i + 2)))
    val nDup = aggregate(flags, lit(0), (a, f) => a + when(f, 1).otherwise(0))
    val dupChars = aggregate(
      zip_with(ls, flags, (x, f) => when(f, length(x)).otherwise(0)),
      lit(0L), (a, c) => a + c)
    val allChars = aggregate(ls, lit(0L), (a, x) => a + length(x))
    Seq(
      "n_lines" -> n.cast("long"),
      "n_dup_lines" -> nDup.cast("long"),
      "dup_line_frac" -> when(n > 0, nDup.cast("double") / n),
      "dup_char_frac" -> when(allChars > 0, dupChars.cast("double") / allChars))
  }

  /** All word n-grams in order, WITH repeats (unlike Dedup.shingles'
    * distinct sets): size−n+1 grams, none for docs shorter than n
    * tokens. Native one-pass kernel (ShingleFns). */
  def ngramsAll(text: Column, n: Int, unicode: Boolean = false): Column =
    graft.functions.ShingleFns.ngramsAll(text, n, unicode)

  /** Repetition scoring (the Gopher-rules family of quality signals):
    *   - top2_frac: characters covered by the most frequent word 2-gram,
    *     count × len(gram) / len(text)
    *   - dup5_frac: characters in 5-grams occurring ≥ 2 times,
    *     Σ count × len(gram) / len(text)
    * High values flag boilerplate/spam/templated text. All integer
    * arithmetic plus one correctly-rounded double divide — exact in the
    * oracle. Scale shape: explode → two-level agg with map-side combine;
    * shuffle keys are (doc, gram) then doc. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // r19 (guide §2.4): both statistics are PER-DOCUMENT functions, so
    // the old explode → groupBy(doc, gram) → groupBy(doc) → join-back
    // plan (4 exchanges, shuffle rows = grams per corpus) shuffled data
    // that never needed to leave its row. One fused kernel pass
    // (TextStatsFns.repetitionStats), zero exchanges; identical values —
    // same gram multiset (ngramsAll semantics), same count·gramChars
    // masses, same double divisions; the left-join-miss → 0.0 contract
    // becomes coalesce over the kernel's null-for-null-text struct.
    // Spec'd against the old plan in TextStatsFnsSpec.
    df.select(col(s"`$idCol`").as("doc_id"),
        graft.functions.TextStatsFns.repetitionStats(col(s"`$textCol`")).as("__r"))
      .select(col("doc_id"),
        coalesce(col("__r.top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("__r.dup5_frac"), lit(0.0)).as("dup5_frac"))

  /** PII scrubbing for training corpora: emails, IPv4s, and phone-shaped
    * digit runs become typed placeholder tokens. Conservative regexes kept
    * to the RE2-compatible subset (no lookaround) so the same patterns run
    * in Java, RE2, and the DuckDB oracle; order matters (emails first —
    * an address must not first lose its digits to the phone pass).
    * All regexp_replace: codegen'd, no UDF. */
  /** HTML → text extraction, the crawl-corpus first step: script/style
    * blocks go with their CONTENT, remaining tags become spaces, the
    * five ubiquitous entities decode, whitespace collapses. Pure
    * codegen'd regexp_replace/replace chain — no parser dependency, and
    * the regexes are RE2-safe so the DuckDB oracle applies the identical
    * transform. (A browser-grade extractor handles malformed nesting
    * better; at corpus scale this is the standard cheap pass.) */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>")
    val ip = regexp_replace(email,
      """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>")
    regexp_replace(ip, """\b\d{3}[- ]\d{3,4}[- ]\d{4}\b""", "<PHONE>")
  }

  /** Common UTF-8-decoded-as-Latin-1 mojibake signatures, as FIXED
    * literals (é→Ã©, smart quotes→â€™/â€œ, °→Â°, ·→Â·, è/ü/ñ): literal
    * alternation only, so the pattern means exactly the same thing to
    * Java regex and RE2 — no class/anchor semantics to diverge on. */
  private[graft] val MojibakePattern: String = Seq(
    "\u00C3\u00A9", // "\u00C3\u00A9" <- e-acute through latin-1
    "\u00C3\u00A8", // e-grave
    "\u00C3\u00BC", // u-umlaut
    "\u00C3\u00B1", // n-tilde
    "\u00E2\u20AC\u2122", // right single quote (cp1252 convention)
    "\u00E2\u20AC\u0153", // left double quote
    "\u00C2\u00B0", // degree sign
    "\u00C2\u00B7" // middle dot
  ).mkString("|")

  /** Encoding-artifact scoring — the corpus-cleaning signal for text
    * that survived a broken decode chain. Per document, three exact
    * integer counts (CCNet-style cleaners threshold on these; thresholds
    * stay with the caller so the counts remain engine-comparable):
    *  - n_replacement: U+FFFD replacement characters (a decoder already
    *    gave up here)
    *  - n_mojibake: [[MojibakePattern]] hits — UTF-8 bytes re-decoded as
    *    Latin-1 (the classic "Ã©" for "é")
    *  - n_ctrl: C0 control characters other than tab/newline/carriage
    *    return (binary bleed-through)
    * Pure per-row codegen'd regexp counts — no shuffle, no UDF; the
    * DuckDB oracle replays the identical literal patterns. The reference
    * engine has no analog (beyond-reference quality family, like
    * [[repetitionStats]]). */
  def encodingArtifacts(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(s"`$idCol`") +: encodingArtifactCols(col(s"`$textCol`"))
      .map { case (n, c) => c.as(n) }: _*)

  /** The [[encodingArtifacts]] count columns as (name, expression) pairs —
    * shared by the select-shaped scorer above and the pipeline stage
    * (`EncodingArtifacts` in Planner), which appends them in flag mode. */
  def encodingArtifactCols(text: Column): Seq[(String, Column)] = Seq(
    "n_replacement" -> regexp_count(text, lit("�")).cast("long"),
    "n_mojibake" -> regexp_count(text, lit(MojibakePattern)).cast("long"),
    "n_ctrl" -> regexp_count(text, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
      .cast("long"))

  /** Per-document top-k rare terms, tf-idf style. Rarity weight is the
    * LOG-FREE form tf · N / df — a monotone rarity measure whose double
    * arithmetic (integer multiply, one correctly-rounded divide) is
    * bit-identical across engines, unlike libm's log. Plan shape at scale:
    * token explode → (doc, token) partial-agg tf → token-agg df (shuffle
    * keyed by token, cardinality = vocabulary) → join df back on `token`
    * (no broadcast hint: the vocabulary of a web-scale corpus runs to
    * 10⁸+ tokens and must NOT be collected to the driver; AQE broadcasts
    * small ones on its own) → per-doc top-k via row_number
    * (WindowGroupLimit prunes per partition before the shuffle). The one
    * driver action is the corpus count.
    */
  def topTfidfTerms(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame =
    topTfidfBy(df, textCol, idCol, k) { (tf, dfq, n) =>
      (tf * n).cast("double") / dfq
    }

  /** Standard LOG-weighted tf-idf (score = tf · ln(N/df)) beside the
    * log-free form above. libm's ln is not bit-reproducible across math
    * libraries, so the score is quantized to 6 decimals BEFORE ranking:
    * sub-ulp engine differences neither reorder the top-k nor perturb the
    * emitted value, keeping the output exactly comparable while the
    * weighting is the textbook one. Same plan shape (no vocabulary
    * broadcast, WindowGroupLimit top-k). */
  def topTfidfTermsLog(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame =
    topTfidfBy(df, textCol, idCol, k) { (tf, dfq, n) =>
      round(tf * log(n.cast("double") / dfq.cast("double")), 6)
    }

  private def topTfidfBy(df: DataFrame, textCol: String, idCol: String, k: Int)(
      weight: (Column, Column, Column) => Column): DataFrame = {
    // Corpus size N rides the plan as a broadcast 1-row aggregate (the
    // qualityBand lazy scalar-bound pattern) instead of an eager count()
    // action at plan-build time — same value, one fewer synchronous job,
    // and the count's pruned scan overlaps the main query's.
    val nDocs = df.agg(count(lit(1)).cast("long").as("__n_docs"))
    // per-doc term frequencies come pre-aggregated from the kernel: one
    // exploded row per DISTINCT term instead of one per token, and no
    // groupBy(id, token) shuffle at all (ShingleFnsSpec pins the kernel
    // against the explode+groupBy formulation). The frame feeds BOTH the
    // term rows and the document-frequency aggregate; a memo does NOT
    // help here (measured r20): the join's two child stages run
    // CONCURRENTLY, so neither consumer hits a cache the other is still
    // filling — both still tokenize, plus both pay the cache-write
    // (isolated 5-round med 0.626→1.551). The two tokenize passes stand.
    val tf = df.select(col(idCol).as("id"),
        explode(graft.functions.ShingleFns.tokenCounts(lower(col(textCol)))).as("tc"))
      .select(col("id"), col("tc.token").as("token"), col("tc.cnt").as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(nDocs))
      .select(col("id"), col("token"),
        weight(col("tf"), col("df"), col("__n_docs")).as("score"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("score").desc, col("token"))).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Exact corpus heavy hitters: word n-grams (lowercased, whitespace
    * tokens) occurring at least `minCount` times across the corpus.
    * Plan shape: explode → groupBy(gram) with map-side partial
    * aggregation — each mapper emits each distinct gram once, so shuffle
    * volume is per-partition vocabulary, not corpus size. The threshold
    * filter runs post-agg, so OUTPUT is bounded even when the vocabulary
    * is not. For corpora whose per-partition vocabulary itself is the
    * bottleneck (trillions of distinct grams at 100 TB), use
    * [[heavyHittersApprox]], whose first-pass state is bounded by
    * 1/support regardless of vocabulary size. */
  def heavyHitters(df: DataFrame, textCol: String, n: Int,
      minCount: Long): DataFrame =
    df.select(explode(ngramsAll(lower(col(textCol)), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Web-scale heavy hitters, two passes (candidates + exact recount):
    *
    * Pass 1 — `stat.freqItems` (Karp/Misra-Gries streaming summary,
    * ≤ 1/minFrac counters per partition, merged on the driver) yields a
    * candidate SUPERSET: every gram with frequency > minFrac·total is
    * guaranteed present. No full-vocabulary shuffle ever happens — this
    * is the difference from [[heavyHitters]] at 100 TB, where the
    * distinct-gram cardinality exceeds what a groupBy shuffle can carry.
    *
    * Pass 2 — one exact aggregate in which candidate grams keep their
    * identity and every other gram collapses into a single NULL bucket,
    * so the same pass yields both exact candidate counts and the exact
    * corpus total (≤ 1/minFrac + 1 groups). The total is a WINDOW sum
    * over that bounded frame inside the same plan (r20) — the r19 shape
    * paid a localCheckpoint job plus a separate total-sum action; a
    * single-partition window over ≤ 1/minFrac + 1 rows is not the
    * stop-word window hazard (the input is an aggregate, never the
    * corpus).
    *
    * The final strict `cnt > minFrac·total` filter makes the output
    * EXACTLY the true heavy hitters — false-positive candidates are
    * eliminated by their exact counts, and the oracle reproduces the
    * result with a plain GROUP BY. */
  def heavyHittersApprox(df: DataFrame, textCol: String, n: Int,
      minFrac: Double): DataFrame = {
    require(minFrac > 0 && minFrac < 1, "heavyHittersApprox: 0 < minFrac < 1")
    val grams = df.select(explode(ngramsAll(lower(col(textCol)), n)).as("gram"))
    val cands = grams.stat.freqItems(Seq("gram"), minFrac)
      .head.getSeq[Any](0).map(String.valueOf(_))
    import org.apache.spark.sql.expressions.Window
    val counted = grams
      .groupBy(when(col("gram").isInCollection(cands), col("gram")).as("gram"))
      .agg(count(lit(1)).as("cnt"))
    counted
      .withColumn("__total", sum(col("cnt")).over(Window.partitionBy()))
      .filter(col("gram").isNotNull && col("cnt") > lit(minFrac) * col("__total"))
      .select(col("gram"), col("cnt"))
  }

  /** Unicode script classes as closed BMP codepoint ranges — the
    * mislabeled-language / mixed-script curation signal [[scriptProfile]]
    * counts. Latin is two sub-ranges (A-Z, a-z) so the punctuation
    * between them never counts as a letter. Order matters: the dominant-
    * foreign tie-break prefers the FIRST listed class (the `lang_guess`
    * convention of [[profile]]), and the oracle replays the same order. */
  private[graft] val scriptRanges: Seq[(String, Seq[(Int, Int)])] = Seq(
    "latin" -> Seq((0x41, 0x5A), (0x61, 0x7A)),
    "greek" -> Seq((0x370, 0x3FF)),
    "cyrillic" -> Seq((0x400, 0x4FF)),
    "arabic" -> Seq((0x600, 0x6FF)),
    "devanagari" -> Seq((0x900, 0x97F)),
    "hangul" -> Seq((0xAC00, 0xD7AF)),
    "cjk" -> Seq((0x4E00, 0x9FFF)))

  /** Per-class character counts from a MATERIALIZED char-array column
    * (split(text, "") bound as a real attribute — the [[profile]]
    * lesson: a multi-referenced producer re-inlines otherwise). Counts
    * are codepoint-range filters, NOT regex: `ascii()` is codepoint
    * semantics in BOTH Spark and DuckDB (the recorded r13 cross-engine
    * fact), so the oracle replays every count with no regex-dialect
    * risk. Shared by the select-shaped scorer and the `ScriptProfile`
    * pipeline stage. */
  def scriptClassCols(chars: Column): Seq[(String, Column)] =
    scriptRanges.map { case (nm, rs) =>
      s"n_$nm" -> size(filter(chars, c =>
        rs.map { case (lo, hi) => ascii(c) >= lo && ascii(c) <= hi }
          .reduce(_ || _))).cast("long")
    }

  /** The dominant NON-Latin script from materialized count columns:
    * argmax with first-in-[[scriptRanges]]-order tie-break, "none" when
    * no foreign character was seen. A high foreign count on a document
    * labeled as a Latin-script language is the classic
    * mislabeled-or-mixed corpus defect this column flags. */
  def dominantForeignCol: Column = {
    val foreign = scriptRanges.map(_._1).filterNot(_ == "latin")
    val best = foreign.map(n => col(s"n_$n")).reduce(greatest(_, _))
    foreign.reverse.foldLeft(lit("none"): Column) { case (acc, nm) =>
      when(col(s"n_$nm") === best && col(s"n_$nm") > 0, lit(nm))
        .otherwise(acc)
    }
  }

  /** Script/character-class profile: per document, exact counts of
    * characters in each [[scriptRanges]] class plus the dominant
    * non-Latin script. Pure per-row array expressions — zero exchanges,
    * streams natively; at 100 TB this scores at scan speed like the
    * other narrow quality signals. */
  def scriptProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NULL text coalesces to "" (zero counts, dominant_foreign="none"):
    // split(NULL) would yield NULL (ANSI) or -1 counts (legacy), and the
    // Planner ScriptProfile stage already holds this contract — the
    // public API must match it (r16 ADVICE).
    val base = df.select(col(s"`$idCol`"),
      split(coalesce(col(s"`$textCol`"), lit("")), "").as("__graft_chars"))
    val withCounts = scriptClassCols(col("__graft_chars"))
      .foldLeft(base) { case (d, (n, c)) => d.withColumn(n, c) }
    withCounts.withColumn("dominant_foreign", dominantForeignCol)
      .drop("__graft_chars")
  }

  /** One-stop profile projection for a documents table. */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // Column vals referenced N times embed N COPIES of the expression
    // (the normalizeUrl lesson): the naive single-projection form
    // re-tokenized each row ~13× and the language argmax re-ran each
    // language filter ~6× (~40 tokenizer/filter passes per row). Binding
    // the tokenizations, per-language scores, and ratios as real columns
    // makes every later reference an attribute; CollapseProject keeps
    // the projections separate (non-cheap producers, multi-referenced),
    // so each computes exactly once per row. Values are bit-identical —
    // same subexpressions, same order.
    val toks = col("__toks")
    val ltoks = col("__ltoks")
    val withLang = langMarkers.foldLeft(
      df.withColumn("__toks", tokens(t))
        .withColumn("__ltoks", tokens(lower(t)))) {
      case (d, (lang, markers)) =>
        val m = array(markers.map(lit(_)): _*)
        d.withColumn(s"__lang_$lang",
          size(filter(ltoks, x => array_contains(m, x))))
    }
    val best = langMarkers.map { case (l, _) => col(s"__lang_$l") }
      .reduce(greatest(_, _))
    val guess = langMarkers.reverse.foldLeft(lit("und"): Column) {
      case (acc, (lang, _)) =>
        when(col(s"__lang_$lang") === best && col(s"__lang_$lang") > 0,
          lit(lang)).otherwise(acc)
    }
    withLang
      .withColumn("n_tokens", size(toks))
      .withColumn("n_regex_tokens", regexTokenCount(t))
      .withColumn("mean_word_len", meanWordLenOf(toks))
      .withColumn("stopword_ratio", stopwordRatioOf(toks))
      .withColumn("distinct_ratio", distinctTokenRatioOf(toks))
      // same formula over the already-bound ratio columns — identical
      // doubles in the identical order, zero recomputation
      .withColumn("quality", col("distinct_ratio") * 0.5 +
        (lit(1.0) - abs(col("mean_word_len") - 5.0) / 10.0) * 0.3 +
        col("stopword_ratio") * 0.2)
      .withColumn("lang_guess", guess)
      .withColumn("fingerprint", docFingerprint(t))
      .drop("__toks", "__ltoks")
      .drop(langMarkers.map { case (l, _) => s"__lang_$l" }: _*)
  }

  /** Fixed stop-word set of the Gopher rule (Rae et al. 2021 §A1.1):
    * a document must contain at least `minStopHits` DISTINCT of these. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/C4-style heuristic quality rules — the published
    * fixed-threshold curation pass (Rae et al. 2021 "Scaling Language
    * Models" §A1.1 repetition/quality filters; Raffel et al. 2020 "C4"
    * §2.2 brace / lorem-ipsum checks) that precedes any model-based
    * scoring in crawl pipelines. Emits one boolean per rule plus the
    * integer metrics they threshold and `keep` = AND of all rules;
    * `drop = true` instead filters to keepers with the original schema.
    *
    * Rules (each individually visible so a pipeline can audit WHY a
    * document fell):
    *   - `rule_word_count`:    minWords ≤ #words ≤ maxWords
    *   - `rule_mean_word_len`: minMeanWordLen ≤ Σlen/#words ≤ maxMeanWordLen
    *   - `rule_symbol_ratio`:  (#'#' + #'...') / #words < maxSymbolRatio
    *   - `rule_alpha`:         words containing a letter / #words ≥ minAlphaFrac
    *   - `rule_bullet`:        lines starting with a bullet / #lines < maxBulletFrac
    *   - `rule_ellipsis`:      lines ending with an ellipsis / #lines < maxEllipsisFrac
    *   - `rule_stopwords`:     distinct [[gopherStopwords]] present ≥ minStopHits
    *   - `rule_no_brace`:      no '{' (C4's code-page drop)
    *   - `rule_no_lorem`:      no 'lorem ipsum' (case-folded)
    *
    * Determinism contract for the oracle: every ratio rule is in
    * MULTIPLY form — `count ⋛ threshold × denominator`, one
    * correctly-rounded double multiply against an exact integer, never
    * a division. Identical in both engines (the oracle's literals carry
    * `::DOUBLE`; DuckDB folds bare decimals exactly), exact at
    * knife-edge thresholds, and — decisively — safe on empty documents
    * under ANSI mode, where subexpression elimination in a fused Filter
    * predicate evaluates a guarded `x / n_words` BEFORE its
    * `n_words > 0 &&` short-circuit and throws. Plan shape: a pure per-row projection
    * (tokenizations bound once as real columns, the [[profile]] lesson) —
    * no shuffle, no UDF, whole-stage codegen; at 100 TB this runs at
    * scan speed and composes with any downstream stage.
    */
  def gopherRules(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
      drop: Boolean = false): DataFrame = {
    // r19: the whole rule lattice is ONE fused kernel pass
    // (TextStatsFns.gopherRules) — the composed form (kept in test scope
    // as graft.ReferenceTwins.gopherRulesComposed) paid interpreted
    // filter/aggregate HOFs plus per-line/per-word regex Columns.
    // Identical metrics and booleans (TextStatsFnsSpec battery + the
    // unchanged oracle hashes); same output column order.
    val g = graft.functions.TextStatsFns.gopherRules(col(s"`$textCol`"),
      minWords, maxWords, minMeanWordLen, maxMeanWordLen, maxSymbolRatio,
      maxBulletFrac, maxEllipsisFrac, minAlphaFrac, minStopHits)
    val fields = Seq("n_words", "stop_hits", "rule_word_count",
      "rule_mean_word_len", "rule_symbol_ratio", "rule_alpha",
      "rule_bullet", "rule_ellipsis", "rule_stopwords", "rule_no_brace",
      "rule_no_lorem", "keep")
    val bound = df.withColumn("__graft_qr", g)
    val out = fields.foldLeft(bound)((d, f) =>
      d.withColumn(f, col(s"__graft_qr.$f"))).drop("__graft_qr")
    if (drop) out.filter(col("keep")).select(df.columns.map(c => col(s"`$c`")): _*)
    else out
  }

  /** C4's line-level filter (Raffel et al. 2020 §2.2): keep only lines
    * with at least `minWordsPerLine` words that end in terminal
    * punctuation (`.!?"`), rewrite the document from the surviving lines,
    * and flag documents keeping fewer than `minLines` of them. Emits
    * `clean_text`, `n_lines_kept`, `keep`; `drop = true` filters to
    * keepers and substitutes the cleaned text in place.
    *
    * Pure per-row array expressions (a lambda filter over the line
    * split, a nested word count inside it) — no shuffle, no UDF, stays
    * in whole-stage codegen; the DuckDB oracle replays the identical
    * lattice. */
  def c4LineFilter(df: DataFrame, textCol: String,
      minWordsPerLine: Int = 5, minLines: Int = 3,
      drop: Boolean = false): DataFrame = {
    val t = col(s"`$textCol`")
    val kept = filter(split(t, "\n", -1), l =>
      size(filter(tokens(l), w => length(w) > 0)) >= minWordsPerLine &&
        rtrim(l).rlike("""[.!?"]$"""))
    val bound = df.withColumn("__graft_c4_kept", kept)
      .withColumn("clean_text", array_join(col("__graft_c4_kept"), "\n"))
      .withColumn("n_lines_kept", size(col("__graft_c4_kept")))
      .withColumn("keep", col("n_lines_kept") >= minLines)
      .drop("__graft_c4_kept")
    if (drop)
      bound.filter(col("keep")).withColumn(textCol, col("clean_text"))
        .select(df.columns.map(c => col(s"`$c`")): _*)
    else bound
  }

  /** Global quality-band filter: keep documents whose [[qualityScore]] is
    * at or above the corpus-wide p-quantile — "train on the top 30%", the
    * standard curation cut after scoring.
    *
    * The threshold re-enters the plan as a broadcast one-row frame (a
    * 1-row BroadcastNestedLoopJoin), NOT a driver collect: the whole
    * thing is one declarative plan — two scans of the corpus (one to
    * aggregate the threshold, one to filter), which is the floor for any
    * global-quantile cut.
    *
    * `exact = true` uses the exact interpolated percentile — its
    * aggregation buffer grows with the number of DISTINCT scores (fine
    * to ~1e7; this is the form the DuckDB gate checks, `quantile_cont`
    * semantics). `exact = false` swaps in `approx_percentile` (constant
    * memory, rank error ~1/accuracy) — the same plan shape at 100 TB
    * where materializing every distinct double is not an option.
    */
  def qualityBand(df: DataFrame, textCol: String, idCol: String, p: Double,
      exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    // r19: memoize the scored frame — the threshold aggregate and the
    // probe side are two consumers of the same (id, score) projection,
    // and without the persist each re-ran the scoring pass over the
    // corpus (no exchange between them, so ReuseExchange never applies).
    // The memo holds id+double per row; registry-drained like every
    // corpus-sized memo (Dedup.minhashPairs precedent).
    val scored = df.select(col(idCol),
      qualityScore(col(textCol)).as("score"))
      .transform(graft.core.CacheRegistry.memo)
    val thrExpr =
      if (exact) expr(s"percentile(score, $p)")
      else expr(s"approx_percentile(score, $p, $accuracy)")
    val thr = scored.agg(thrExpr.as("__thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("score") >= col("__thr"))
      .drop("__thr")
  }

  /** Corpus vocabulary: the `topN` most frequent tokens occurring at
    * least `minCount` times, with total count and 1-based rank (count
    * desc, token asc tiebreak) — the frequency table a tokenizer-training
    * or stopword-audit pass starts from.
    *
    * Plan at scale: the tokenCounts kernel emits one (token, cnt) pair
    * per DISTINCT token per doc (no per-token explode), the groupBy
    * partial-aggregates map-side, and the global top-N is
    * TakeOrderedAndProject — each task keeps its own top N and the
    * driver merges N·tasks rows, never the vocabulary. The rank window
    * runs over the N survivors only. */
  /** Corpus token counts as a (token, cnt) frame — the partial every
    * vocabulary consumer (direct ranking, the incremental store)
    * aggregates from. Map-side combined; shuffle rows = distinct
    * tokens. */
  private def tokenCountFrame(df: DataFrame, textCol: String,
      unicode: Boolean): DataFrame =
    df.select(explode(graft.functions.ShingleFns.tokenCounts(
        lower(col(textCol)), unicode)).as("tc"))
      .groupBy(col("tc.token").as("token"))
      .agg(sum(col("tc.cnt")).as("cnt"))

  /** Rank a merged (token, cnt) frame: ≥ minCount, top-N by count
    * (token asc tiebreak), 1-based rank. TakeOrderedAndProject keeps
    * the global top-N per-task. */
  private def rankVocabulary(counts: DataFrame, minCount: Long,
      topN: Int): DataFrame = {
    require(topN > 0, s"vocabulary: topN must be positive, got $topN")
    import org.apache.spark.sql.expressions.Window
    counts
      .groupBy("token").agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token"))
      .limit(topN)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
  }

  def vocabulary(df: DataFrame, textCol: String, minCount: Long,
      topN: Int, unicode: Boolean = false): DataFrame =
    rankVocabulary(tokenCountFrame(df, textCol, unicode), minCount, topN)

  // ---- incremental vocabulary store --------------------------------------

  /** Append an increment's token counts to a cross-run vocabulary store
    * (a parquet dir of (token, cnt) PARTIALS — the read path merges by
    * sum, so the store equals the vocabulary of every increment ever
    * appended). The incremental tokenizer-stats path: a daily corpus
    * build extends its frequency table without re-scanning history.
    *
    * Contract differences from the seen-store family, because counts
    * MERGE where fingerprints dedup: an append is NOT idempotent —
    * re-appending the same increment double-counts — so drive it from
    * the PostCommit hook exactly like Dedup's incremental stores (the
    * YAML Vocabulary stage with `store:` does). Partials accumulate one
    * file set per append; [[compactVocabStore]] folds them (tmp+rename
    * crash contract shared with the other stores — a crash leaves
    * either an invisible tmp dir or duplicate PARTIALS, which the
    * summing read tolerates only until the duplicated append is
    * compacted in, hence compaction only ever rewrites what a clean
    * read saw). Returns the number of distinct tokens appended. */
  def appendToVocabStore(df: DataFrame, textCol: String, storePath: String,
      unicode: Boolean = false): Long =
    // one-job counted append (r20): the count rides the write action, so
    // the old memo(count)+write pair — two evaluations' worth of jobs —
    // collapses to one (graft.core.Stores.appendCountedFiles has the
    // protocol and crash contract; the partial-summing read is
    // insensitive to the file names)
    graft.core.Stores.appendCounted(
      tokenCountFrame(df, textCol, unicode).filter(col("token").isNotNull),
      storePath)

  /** The merged (token, cnt) view of a vocabulary store — one row per
    * token, partials summed. Empty frame for an absent store. */
  def readVocabStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String): DataFrame =
    graft.core.Stores.readParquetIfExists(spark, storePath)
      .map(_.groupBy("token").agg(sum(col("cnt")).as("cnt")))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("token", "cnt")
      }

  /** [[vocabulary]] over a store plus an optional not-yet-appended
    * increment — the emit-now/append-post-commit pair the YAML stage
    * uses so a failed run's retry cannot double-count. */
  def vocabularyFromStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, minCount: Long, topN: Int,
      increment: Option[DataFrame] = None, textCol: String = "text",
      unicode: Boolean = false): DataFrame = {
    val stored = readVocabStore(spark, storePath)
    val merged = increment
      .map(inc => stored.unionByName(tokenCountFrame(inc, textCol, unicode)))
      .getOrElse(stored)
    rankVocabulary(merged, minCount, topN)
  }

  /** Fold a vocabulary store's accumulated partials into one summed row
    * per token across `targetFiles` files. Idempotent; crash contract:
    * [[graft.core.Stores]]. */
  def compactVocabStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int = 32): Long =
    graft.core.Stores.compact(spark, storePath, targetFiles, None)(
      _.groupBy("token").agg(sum(col("cnt")).as("cnt")))

  /** Inverted-index build: one row per (token, posting) with the token's
    * document frequency and the posting's 1-based rank — the
    * search-shard artifact (token → sorted doc-id list) in row form,
    * bounded to `maxPostings` docs per token so a stop-word's posting
    * list cannot grow with the corpus.
    *
    * Plan at scale — a stop-word must never become a straggler. The
    * tokenCounts kernel emits one row per DISTINCT (doc, token) (no
    * per-occurrence explode); then df and rank deliberately take
    * SEPARATE bounded paths instead of one shared window:
    *
    *   - df: groupBy(token).count — partial aggregation collapses each
    *     mapper's postings to its distinct tokens BEFORE the shuffle,
    *     so "the"-appears-in-every-doc moves as one long per mapper;
    *   - rank: row_number window whose `<= maxPostings` filter runs as
    *     WindowGroupLimit with a PARTIAL (map-side) pass — each mapper
    *     forwards at most maxPostings rows per token, so the reducer
    *     sees maxPostings × mappers, never the corpus;
    *   - the final equi-join re-uses the token partitioning both
    *     children already have (no third exchange).
    *
    * A single window computing `count().over(token)` + row_number — the
    * "obvious" one-exchange shape — would funnel EVERY posting of every
    * stop-word through that token's one reducer: at web scale that is a
    * corpus-sized partition on one task. Two bounded exchanges beat one
    * unbounded one. */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
      minDf: Long = 1L, maxPostings: Int = Int.MaxValue,
      unicode: Boolean = false): DataFrame = {
    require(maxPostings > 0,
      s"invertedIndex: maxPostings must be positive, got $maxPostings")
    import org.apache.spark.sql.expressions.Window
    // both bounded paths (df partial-agg, rank WindowGroupLimit) consume
    // the same exploded postings; a memo does NOT help (measured r20):
    // the two paths' stages run concurrently, so neither hits a cache
    // the other is still filling — see topTfidfBy. Two tokenize passes.
    val postings = df.select(col(idCol).as("doc_id"),
        explode(graft.functions.ShingleFns.tokenCounts(lower(col(textCol)),
          unicode)).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"))
    val dfCounts = postings.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val ranked = postings
      .withColumn("posting_rank", row_number()
        .over(Window.partitionBy(col("token")).orderBy(col("doc_id")))
        .cast("int"))
      .filter(col("posting_rank") <= maxPostings)
    ranked.join(dfCounts, Seq("token"))
      .select("token", "df", "posting_rank", "doc_id")
  }

  /** Per-document n-gram novelty against a reference corpus: the
    * fraction of a doc's DISTINCT word n-grams absent from the
    * reference — the scoring complement of decontamination (which
    * drops on ANY overlap). Low novelty ≈ memorized/boilerplate/
    * already-trained-on; mixing pipelines weight or drop by it.
    *
    * Plan: both sides expand to distinct grams (tokenCounts-style
    * bounded rows), equi-join on gram — deliberately NO broadcast hint:
    * a reference corpus's gram set at 100 TB is itself huge and must
    * stay distributed (AQE broadcasts genuinely small ones unaided) —
    * then one groupBy(doc). Docs shorter than `n` tokens have no grams
    * and are emitted with novelty 1.0 (nothing matched). */
  def ngramNovelty(corpus: DataFrame, reference: DataFrame, textCol: String,
      idCol: String, refTextCol: String, n: Int,
      unicode: Boolean = false): DataFrame = {
    val grams = corpus.select(col(idCol).as("id"),
      explode_outer(array_distinct(ngramsAll(lower(col(textCol)), n, unicode)))
        .as("gram"))
    val refGrams = reference
      .select(explode(array_distinct(
          ngramsAll(lower(col(refTextCol)), n, unicode)))
        .as("gram"))
      .distinct()
      .withColumn("__graft_seen", lit(1))
    grams.join(refGrams, Seq("gram"), "left")
      .groupBy("id")
      .agg(
        sum(when(col("gram").isNotNull, 1L).otherwise(0L)).as("n_grams"),
        sum(when(col("gram").isNotNull && col("__graft_seen").isNull, 1L)
          .otherwise(0L)).as("__graft_unseen"))
      .select(col("id"), col("n_grams"),
        when(col("n_grams") === 0, lit(1.0))
          .otherwise(col("__graft_unseen").cast("double") / col("n_grams"))
          .as("novelty"))
  }
}
