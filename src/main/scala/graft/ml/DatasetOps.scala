package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge

/** Dataset-assembly operators for training-data pipelines: deterministic
  * sampling / mixing, train-val-test split assignment, sequence packing
  * into fixed token budgets, document chunking into overlapping context
  * windows, URL canonicalization, and Bloom-filter decontamination.
  *
  * Everything is deterministic (hash-derived, never `rand()`): re-running
  * the pipeline over the same corpus reproduces the same sample, the same
  * splits, and the same packing — a hard requirement when a 100-TB mix is
  * assembled incrementally or audited after the fact. All kernels are
  * codegen'd built-ins; the only shuffles are the ones the semantics
  * require (packing's per-shard ordering, URL-dedup's group-by).
  */
object DatasetOps {

  /** Deterministic per-row fraction in [0, 1): xxhash64 of the key column
    * scattered to 9 decimal digits. The production default — keys can be
    * any type (ids, URLs, content digests). */
  def hash01(key: Column, seed: Int = 0): Column =
    pmod(xxhash64(key, lit(seed)), lit(1000000000L)).cast("double") / 1e9

  /** Portable low-discrepancy fraction for NUMERIC ids — the same value
    * is computable in any ANSI SQL engine (the oracle cross-checks it),
    * unlike xxhash64. Knuth multiplicative scatter with all intermediates
    * bounded far under 2^63 so ANSI overflow checking never trips:
    * seed-0 form u = ((id mod 2^20) * 2654435761 + 12345) mod 2^32 scaled
    * to [0,1); seeded draws take a second xor-fold round (see below).
    * Ids denser than 2^20 within one group recycle fractions — use
    * [[hash01]] outside oracle-compared paths. */
  def portable01(id: Column, seed: Int = 0): Column = {
    // A seeded draw needs a NONLINEAR second round: the pre-r15 form was
    // one affine pass ((id%2^20)·K + seed·97 + 12345) mod 2^32, and any
    // affine-in-id map shifts every id's uniform by the same constant
    // when the seed changes — "re-draw with a new seed" changed almost
    // no keep/sample decision (found by the review-block-7 mutation
    // tests: a thresholdKeep seed drift was INVISIBLE to the q_dsir
    // gate; verified analytically — the delta was 97/2^32 ≈ 2e-8 per
    // id). The xor-fold between the two rounds makes the seed delta
    // id-dependent (carry chains + bit fold), measured ~50% decision
    // flips and ~independent joint distribution across seeds. seed = 0
    // keeps the single-round HISTORICAL formula bit-for-bit (oracle
    // continuity for every unseeded gate). All arithmetic stays exact in
    // int64 and replays in DuckDB:
    //   h1 = ((id % 1048576) * 2654435761 + seed*97 + 12345) % 4294967296
    //   u  = seed = 0 ? h1/2^32
    //      : (((xor(h1, h1 >> 12) % 1048576) * 2654435761
    //          + seed*97 + 12345) % 4294967296) / 2^32
    val off = lit(seed.toLong * 97L + 12345L)
    val h1 = pmod(pmod(id.cast("long"), lit(1048576L)) * lit(2654435761L)
      + off, lit(4294967296L))
    val h = if (seed == 0) h1
      else pmod(pmod(h1.bitwiseXOR(shiftright(h1, 12)), lit(1048576L))
        * lit(2654435761L) + off, lit(4294967296L))
    h.cast("double") / 4294967296.0
  }

  /** Deterministic GLOBAL SHUFFLE for training-data export: order the
    * corpus by a seeded md5 of the key — one range shuffle + per-partition
    * sort (the TeraSort plan; Spark's orderBy samples range bounds, so no
    * single-partition stage and no driver state at any scale), and the
    * order is a pure function of (key, seed): re-running on a different
    * cluster size, or re-exporting after an audit, reproduces byte-for-byte
    * the same sequence. Epoch re-shuffles are just a new seed. Full
    * determinism requires the key to uniquely identify a row — rows that
    * SHARE a key value share the hash and the tiebreak, so their mutual
    * order is partition-arbitrary (exact-dedup, or pick a unique key,
    * first). */
  def globalShuffle(df: DataFrame, keyCol: String, seed: String = ""): DataFrame =
    df.orderBy(shuffleHash(col(keyCol), seed), col(keyCol))

  /** [[globalShuffle]] with the 1-based position materialized — the
    * oracle-checkable form (a row-sorted compare can't see ORDER, the
    * (key, pos) mapping carries it). The global window is single-partition
    * by construction: use it for gates and small exports, `globalShuffle`
    * for the corpus-scale path. */
  def shuffleWithPosition(df: DataFrame, keyCol: String,
      seed: String = ""): DataFrame =
    df.select(col(keyCol), row_number()
      .over(Window.orderBy(shuffleHash(col(keyCol), seed), col(keyCol)))
      .cast("long").as("pos"))

  // md5 over "key|seed" — string-ordered; reproducible in any engine
  // (the oracle's ORDER BY md5(concat(coalesce(CAST(k AS VARCHAR), ''),
  // '|', seed))). The explicit coalesce matters: engines disagree on
  // null-in-concat (Spark concat → null, DuckDB concat skips, concat_ws
  // drops the separator too) — pinning null → '' renders "|seed" in all
  // of them.
  private def shuffleHash(key: Column, seed: String): Column =
    md5(concat_ws("|", coalesce(key.cast("string"), lit("")), lit(seed)))

  /** Deterministic per-group QUOTA sampling: keep at most `n` rows per
    * group, chosen by the seeded key hash — the hard-cap companion to
    * rate-based [[sampleByWeights]] (e.g. "≤ 1M docs per domain" for
    * source balance). Re-runs pick the same rows (same caveat as
    * [[globalShuffle]]: rows sharing a key are interchangeable at the
    * quota boundary — use a unique key), and because selection ranks a
    * pure hash, growing a group only ever REPLACES members with
    * lower-hash arrivals — never reshuffles the survivors' order.
    * Plans as WindowGroupLimit (plan-pinned): per-partition top-n per
    * group before the shuffle, so executor state is bounded by n per
    * group regardless of group skew — never a global sort, never a full
    * per-group materialization. */
  def sampleQuota(df: DataFrame, groupCol: String, keyCol: String, n: Int,
      seed: String = ""): DataFrame = {
    require(n > 0, "sampleQuota: n must be positive")
    df.withColumn("__graft_qr", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(shuffleHash(col(keyCol), seed), col(keyCol))))
      .filter(col("__graft_qr") <= n)
      .drop("__graft_qr")
  }

  /** Weighted dataset mixing: keep each row with its group's sampling
    * rate (e.g. {web → 0.3, books → 1.0, code → 0.8}). A pure codegen'd
    * filter — no shuffle, no driver state; the weight table rides in the
    * plan as a map literal. Combined with a deterministic `frac` the
    * same mix is reproducible run-over-run, and complementary rates
    * produce disjoint samples (u < 0.3 vs 0.3 <= u < 0.6). */
  def sampleByWeights(df: DataFrame, groupCol: String,
      weights: Map[String, Double], defaultWeight: Double,
      frac: Column): DataFrame = {
    val table =
      if (weights.isEmpty) typedLit(Map.empty[String, Double])
      else map(weights.toSeq.sortBy(_._1)
        .flatMap { case (k, w) => Seq(lit(k), lit(w)) }: _*)
    df.filter(frac < coalesce(element_at(table, col(groupCol)),
      lit(defaultWeight)))
  }

  /** Token-budget mixture planning: turn RELATIVE source weights plus a
    * TOTAL token budget into per-source sampling rates sized against
    * each source's actual token mass — the step between "we want
    * 30% web / 50% books / 20% code" and a runnable [[sampleByWeights]]
    * filter. Emits one row per source:
    * (group, n_tokens, weight, target_tokens, rate, deficit) where
    * `target_tokens = budget · weight / Σweights`,
    * `rate = min(1, target / n_tokens)` and `deficit` is the token
    * shortfall of a source too small for its target (rate clamped at 1
    * — rerun with redistributed weights, or accept the under-fill; the
    * deficit column is the audit that makes the clamp visible instead
    * of silent).
    *
    * Plan at scale: ONE map-side-combined aggregation over the corpus
    * (shuffle key = source, rows = distinct sources), then the weight
    * normalization over the tiny per-source frame via a broadcast 1-row
    * Σweights — no driver action, composes lazily.
    *
    * `tokenCounter` sets how a row's token mass is measured — default
    * whitespace tokens; pass [[Bpe.tokenCounter]] to size the budget in
    * REAL tokenizer tokens (whitespace under-counts code/CJK text 2-4×,
    * and a budget sized in the wrong unit misses by the same factor). */
  def planMixture(df: DataFrame, groupCol: String, textCol: String,
      weights: Map[String, Double], defaultWeight: Double,
      totalBudget: Long,
      tokenCounter: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(totalBudget > 0, "planMixture: totalBudget must be positive")
    val table =
      if (weights.isEmpty) typedLit(Map.empty[String, Double])
      else map(weights.toSeq.sortBy(_._1)
        .flatMap { case (k, w) => Seq(lit(k), lit(w)) }: _*)
    val perSource = df.groupBy(col(groupCol).as("group"))
      .agg(sum(tokenCounter(col(textCol)).cast("long"))
        .as("n_tokens"))
      .withColumn("weight",
        coalesce(element_at(table, col("group")), lit(defaultWeight)))
    val wsum = perSource.agg(sum(col("weight")).as("__graft_wsum"))
    perSource.crossJoin(broadcast(wsum))
      .withColumn("target_tokens",
        lit(totalBudget.toDouble) * col("weight") / col("__graft_wsum"))
      .withColumn("rate",
        least(lit(1.0), col("target_tokens") / col("n_tokens")))
      .withColumn("deficit",
        greatest(lit(0.0), col("target_tokens") - col("n_tokens")))
      .drop("__graft_wsum")
  }

  /** Temperature-based mixture plan (the mC4/XLM-R sampling method —
    * Xue et al. 2021 §3.1, Conneau et al. 2020 §3.1): per-source weights
    * derive from the DATA ITSELF, w_i = p_i^alpha with p_i = n_i/N, so
    * low-resource sources up-sample as alpha shrinks (alpha = 1 is
    * proportional, alpha → 0 uniform; the published sweet spots are
    * 0.3–0.7). The complement of [[planMixture]]'s explicit budgets and
    * [[Dsir]]'s target-domain selection. Output schema matches
    * planMixture ((group, n_tokens, weight, target_tokens, rate,
    * deficit)) so [[applyMixture]] consumes either plan.
    *
    * Cross-engine exactness: token masses are exact longs; p is one
    * correctly-rounded divide; alpha = 0.5 computes as `sqrt` (IEEE
    * requires sqrt correctly rounded — bit-identical in every engine,
    * the gate's form) and integer alphas as ordered multiplication
    * folds; other alphas use `pow` (engine-side only, like ln — don't
    * oracle them). The weight NORMALIZER is an ordered fold over the
    * per-source array sorted by group (one extra bounded agg), never a
    * partition-order-dependent float sum — the wsum of irrational
    * weights would otherwise differ run to run in the last ulp. */
  def temperatureMixture(df: DataFrame, groupCol: String, textCol: String,
      totalBudget: Long, alpha: Double = 0.5,
      tokenCounter: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(totalBudget > 0, "temperatureMixture: totalBudget must be positive")
    require(alpha > 0 && alpha <= 4.0,
      s"temperatureMixture: alpha must be in (0, 4], got $alpha")
    def weightOf(p: Column): Column =
      if (alpha == 0.5) sqrt(p)
      else if (alpha.isValidInt)
        // left-assoc multiplication fold: exact IEEE order, replayable
        (1 until alpha.toInt).foldLeft(p)((acc, _) => acc * p)
      else pow(p, lit(alpha))
    val perSource = df.groupBy(col(s"`$groupCol`").as("group"))
      .agg(sum(tokenCounter(col(s"`$textCol`")).cast("long")).as("n_tokens"))
    // one bounded agg: the corpus total (exact long) plus the per-source
    // masses as a group-sorted array, folded in that order for a
    // deterministic normalizer
    val tot = perSource.agg(
        sum(col("n_tokens")).as("__graft_tm_N"),
        sort_array(collect_list(struct(col("group"), col("n_tokens"))))
          .as("__graft_tm_arr"))
      .select(col("__graft_tm_N"),
        aggregate(col("__graft_tm_arr"), lit(0.0d), (acc, x) =>
          acc + weightOf(x.getField("n_tokens").cast("double") /
            col("__graft_tm_N").cast("double"))).as("__graft_tm_wsum"))
    perSource.crossJoin(broadcast(tot))
      .withColumn("weight",
        weightOf(col("n_tokens").cast("double") /
          col("__graft_tm_N").cast("double")))
      .withColumn("target_tokens",
        lit(totalBudget.toDouble) * col("weight") / col("__graft_tm_wsum"))
      .withColumn("rate",
        least(lit(1.0), col("target_tokens") / col("n_tokens")))
      .withColumn("deficit",
        greatest(lit(0.0), col("target_tokens") - col("n_tokens")))
      .drop("__graft_tm_N", "__graft_tm_wsum")
  }

  /** Apply a [[planMixture]] plan: keep each row with its source's
    * planned rate, decided by the deterministic `frac` (same contract
    * as [[sampleByWeights]] — reproducible, complementary-rate
    * disjoint). The plan frame is sources-sized and broadcasts; rows
    * never shuffle. Sources absent from the plan are dropped (rate 0) —
    * they contributed no tokens when the plan was made, so keeping them
    * would exceed the budget unaudited. */
  def applyMixture(df: DataFrame, plan: DataFrame, groupCol: String,
      frac: Column): DataFrame = {
    // scratch-prefix the joined rate so a corpus carrying its own `rate`
    // column (an upstream quality score, say) can't make the join
    // ambiguous — the same __graft_ convention as every other operator
    val rateCol = "__graft_mix_rate"
    require(!df.columns.contains(rateCol),
      s"applyMixture: input already carries the scratch column '$rateCol'")
    val rates = plan.select(col("group").as(groupCol), col("rate").as(rateCol))
    df.join(broadcast(rates), Seq(groupCol), "left")
      .filter(frac < coalesce(col(rateCol), lit(0.0)))
      .select(df.columns.map(col): _*) // using-join fronts the key; restore
  }

  /** Train/val/test (or arbitrary) split assignment from cumulative
    * fraction thresholds: `splits = Seq("train" -> 0.9, "val" -> 0.05,
    * "test" -> 0.05)` labels u < 0.90 train, u < 0.95 val, rest test.
    * Pure projection — rows never move; downstream writers partition by
    * the label. Fractions must sum to ~1 (the last split absorbs any
    * remainder).
    *
    * Leakage-free (grouped) splits: key `frac` by the LEAKAGE UNIT, not
    * the row — `assignSplits(df, hash01(col("domain")), …)` sends every
    * page of a domain to the same split, the standard guard against
    * near-duplicate train/test contamination. Any row-level frac splits
    * a domain's near-identical pages across train and test. */
  def assignSplits(df: DataFrame, frac: Column,
      splits: Seq[(String, Double)], splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplits: need at least one split")
    // accumulate exactly: a double scan of 0.8+0.1 yields 0.9000000000000001,
    // a one-ulp disagreement with any literal-threshold reimplementation
    val cum = splits.scanLeft(BigDecimal(0)) { case (acc, (_, w)) =>
      acc + BigDecimal(w.toString)
    }.tail.map(_.toDouble)
    val expr = splits.init.zip(cum.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), upper), rest) =>
      when(frac < upper, name).otherwise(rest)
    }
    df.withColumn(splitCol, expr)
  }

  /** Sequence packing: lay documents head-to-tail per shard and cut the
    * stream into fixed `budget`-token training contexts. Emits, per doc:
    * `n_tokens`, `seq_start` (token offset within the shard's stream),
    * `bin` (context index of the doc's first token), `bin_offset`
    * (offset within that context) and `bins_spanned` (contexts the doc
    * straddles — consumers either split the doc across contexts or
    * re-pad, both standard).
    *
    * Scale shape: ONE window partition per shard (`groupCol`), ordered by
    * id — the per-shard sort is the semantics (packing requires a total
    * order within the stream being packed); shards are the unit of
    * parallelism exactly as they are in a real pretraining mix. Never
    * pack an unsharded 100-TB corpus in one window — that is a
    * single-reducer sort by construction. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, budget: Int): DataFrame = {
    require(budget > 0, "packSequences: budget must be positive")
    val tok = size(TextAnalysis.tokens(col(textCol))).cast("long")
    val prior = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", tok)
      .withColumn("seq_start",
        coalesce(sum(col("n_tokens")).over(prior), lit(0L)))
      .withColumn("bin", floor(col("seq_start") / budget))
      .withColumn("bin_offset", pmod(col("seq_start"), lit(budget.toLong)))
      .withColumn("bins_spanned",
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          floor((col("seq_start") + col("n_tokens") - 1) / budget)
            - col("bin") + 1))
  }

  /** Document chunking — [[packSequences]]'s inverse twin: split LONG
    * documents into fixed `maxTokens`-window chunks with `overlap`
    * carried tokens between consecutive windows (the standard
    * context-window prep for embedding / retrieval corpora). Emits one
    * row per (doc, chunk): `chunk_id` (0-based), `chunk_text` (the
    * window re-joined on single spaces), `n_tokens` (whole-doc count)
    * and `chunk_tokens` (tokens actually in this window — only the last
    * chunk is ever short). A doc that fits in one window emits exactly
    * one chunk; chunk boundaries stride by `maxTokens - overlap`.
    *
    * Scale shape: pure projection + explode — no shuffle, no window, no
    * state; each task chunks its own partition's docs, so this runs at
    * full scan speed on any corpus size. The explode's fan-out is
    * `ceil(tokens/stride)` rows per doc — bounded and proportional to
    * output, never quadratic. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, "chunkDocuments: maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens,
      "chunkDocuments: overlap must be in [0, maxTokens)")
    val step = maxTokens - overlap
    df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      // exact integer form (n - max + step - 1) div step + 1, so the
      // oracle's `//` arithmetic matches bit-for-bit
      .withColumn("_n_chunks",
        when(col("n_tokens") <= maxTokens, lit(1L)).otherwise(
          expr(s"(n_tokens - $maxTokens + ${step - 1}) DIV $step") + 1L))
      .select(col(idCol), col("_toks"), col("n_tokens"),
        explode(sequence(lit(0L), col("_n_chunks") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("_toks"),
          (col("chunk_id") * step + 1).cast("int"), lit(maxTokens)), " ")
          .as("chunk_text"),
        col("n_tokens"),
        least(col("n_tokens") - col("chunk_id") * step, lit(maxTokens.toLong))
          .as("chunk_tokens"))
  }

  /** Canonicalize an absolute http(s) URL so trivially-distinct spellings
    * of the same resource dedup together: lowercase scheme + host, strip
    * the default port (http:80 / https:443), strip the fragment and any
    * userinfo, drop `utm_*` tracking params, sort the remaining query
    * params, and give bare authorities a "/" path. Built on
    * `try_parse_url` (one RFC-grade parse instead of eight hand regexes —
    * userinfo@ and bracketed IPv6 authorities parse correctly); still a
    * pure projection usable inside any filter chain at full scan speed.
    * Non-URL garbage canonicalizes to NULL (try_, never throws) — filter
    * nulls or let them share one dedup group, as the pipeline prefers. */
  def normalizeUrl(u0: Column): Column =
    graft.functions.UrlFns.urlNormalize(u0)

  /** URL-level dedup over [[normalizeUrl]]: one row per canonical URL
    * with the smallest id as keeper and the duplicate count. Shuffle key
    * is the canonical URL string; at web scale swap the key for its
    * 16-byte digest the same way Dedup.exact does. */
  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(normalizeUrl(col(urlCol)).as("url_norm"), col(idCol).as("id"))
      .groupBy("url_norm")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Bloom-filter benchmark decontamination — the at-scale variant of
    * Dedup.decontaminate. The exact-set broadcast caps out when the
    * contamination set reaches ~10^8 distinct n-grams; a Bloom filter at
    * the same count and 1% FPR is ~120 MB regardless of gram length, and
    * false positives only ever REMOVE extra corpus docs (conservative in
    * the decontamination direction — never leaks a benchmark doc in).
    *
    * Build: one pass over the benchmark set (`stat.bloomFilter` tree-
    * aggregates partial sketches; the driver holds only the final
    * `numBits/8`-byte sketch). Probe: the sketch rides a Spark BROADCAST
    * (one torrent copy per executor) probed by the native
    * [[graft.functions.BloomMightContainBcast]] expression over each
    * doc's gram hashes — no join, no shuffle; the corpus streams through
    * a filter. One shape at every size since r19: the pre-r19
    * plan-literal form re-shipped the sketch inside every stage's task
    * binary (a 10^8-gram sketch is ~120 MB — structurally impossible as
    * a literal), and its >threshold UDF fallback broke codegen exactly
    * where scale needed it.
    *
    * Broadcast lifetime: the sketch broadcast is held by the returned
    * plan's probe closure. Executors keep their ~120 MB copy until the
    * caller drops the DataFrame, after which the ContextCleaner
    * garbage-collects the broadcast fleet-wide — so a long-lived session
    * looping over corpora should not retain old frames (or should call
    * `spark.sparkContext.broadcast`-level cleanup via dropping
    * references); sketches do NOT accumulate for the app lifetime unless
    * the frames themselves are retained. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 5,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    // same shingle semantics as Dedup.decontaminate so the two variants
    // agree except for the documented false-positive direction
    val bf = benchmark
      .select(explode(
        graft.functions.ShingleFns.hashedShingles(col(textCol), n)).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val hs = graft.functions.ShingleFns.hashedShingles(col(textCol), n)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    val tainted = exists(hs, h => Bridge.column(
      graft.functions.BloomMightContainBcast(bc, Bridge.expression(h))))
    corpus.filter(!coalesce(tainted, lit(false)))
  }
  /** Distributed column profiling — the corpus-QA pass a data intake
    * runs before anything else (null bleed, cardinality collapse, and
    * range drift all show up here first). One unpivot (cast-to-string
    * melt, column-pruned at the scan) and one groupBy over k column
    * names: fully distributed, no driver collect, shuffle bounded by
    * k × distinct values. Exact distinct counts — at true corpus scale
    * swap `countDistinct` for `approx_count_distinct`, trading the
    * oracle-checkable answer for a sketch merge. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    df.select(cols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(Array.empty[Column], cols.map(col).toArray, "col_name", "value")
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("value")).as("n_distinct"),
        min(col("value")).as("min_val"),
        max(col("value")).as("max_val"))
  }

  /** Range-partitioned, internally-sorted parquet export: every output
    * file covers a DISJOINT key range (and is sorted inside), so any
    * downstream reader — Spark, DuckDB, Trino — prunes files by parquet
    * footer min/max instead of scanning the corpus. At 100 TB this is
    * the difference between a point lookup touching one file and
    * touching all of them; it is also what keeps a later
    * merge-join/as-of pass shuffle-light.
    *
    * Plan: `repartitionByRange` (one range shuffle — bounds come from a
    * distributed sample, the TeraSort plan, no driver materialization)
    * then `sortWithinPartitions` (spillable per-partition sort, no extra
    * exchange). `files` sizes the export: pick corpus_bytes /
    * target_file_bytes (~256 MB–1 GB files keep footer pruning coarse
    * enough to matter and scan tasks well-fed). `maxRecordsPerFile > 0`
    * additionally splits oversized partitions at write time — the rolled
    * files of one partition stay sorted and disjoint because the writer
    * rolls a sorted stream. */
  def writeRangeSorted(df: DataFrame, keyCol: String, path: String,
      files: Int, maxRecordsPerFile: Long = 0L): Unit = {
    require(files > 0, s"writeRangeSorted: files must be positive, got $files")
    val w = df.repartitionByRange(files, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** Equi-width bucket index in [0, 2^bits) for a numeric column, with
    * the domain bounds supplied as columns (from a broadcast 1-row
    * bounds frame — see [[withZValue]]). Exact integer arithmetic in
    * DECIMAL(38,0): ((x − min) · 2^bits) div (max − min + 1). The old
    * long form wrapped on wide domains — withZValue's own error message
    * recommends xxhash64-hashed keys, whose ~2^64 span made
    * (max − min + 1) negative and the layout silently random. At
    * 2^64 · 2^16 ≈ 10^25 the products stay exact in 38 digits, and
    * IntegralDivide on decimals returns the exact integer quotient.
    * NULLs bucket to 0. */
  private def equiWidthBucket(x: Column, mn: Column, mx: Column,
      bits: Int): Column = {
    val idiv = (a: Column, b: Column) => Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        Bridge.expression(a), Bridge.expression(b)))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val nb = 1L << bits
    idiv((dec(coalesce(x.cast("long"), mn)) - dec(mn)) * lit(nb),
      dec(mx) - dec(mn) + lit(1L))
  }

  /** Append a Morton z-value column interleaving `cols`' equi-width
    * bucket indices. The per-column min/max bounds aggregate to a 1-row
    * frame that re-enters the plan via `crossJoin(broadcast(...))` —
    * the whole computation stays one lazy query (no driver action), and
    * the corpus side is scanned once. */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int = 8,
      zName: String = "z"): DataFrame = {
    require(cols.nonEmpty, "withZValue: need at least one column")
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"withZValue: column '$c' is $dt — z-order needs NUMERIC keys; " +
          "cast timestamps with unix_timestamp() and hash string keys " +
          "(e.g. xxhash64) to a long first")
    }
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__graft_zmin_$c"),
      max(col(c).cast("long")).as(s"__graft_zmax_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val buckets = cols.map(c => equiWidthBucket(col(c),
      col(s"__graft_zmin_$c"), col(s"__graft_zmax_$c"), bits))
    df.crossJoin(broadcast(bounds))
      .withColumn(zName,
        graft.functions.ZOrderFns.interleaveBits(buckets, bits))
      .drop(cols.flatMap(c =>
        Seq(s"__graft_zmin_$c", s"__graft_zmax_$c")): _*)
  }

  /** Z-order clustered parquet export: cluster the corpus by the Morton
    * interleave of `cols` so every output file covers a bounded
    * hyper-rectangle of the multi-column key space — footer min/max
    * pruning then works for predicates on ANY clustered column, where
    * [[writeRangeSorted]] prunes only on its single sort key. The
    * at-scale layout for a corpus queried by more than one dimension
    * (e.g. (source, date) or (user, time)).
    *
    * Plan: bounds agg (broadcast 1-row) → z-value (codegen'd
    * interleave) → ONE range shuffle on z → per-partition sort → write
    * with the scratch z column dropped (a projection after the sort —
    * order survives, no extra exchange). */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
      files: Int, bits: Int = 8, maxRecordsPerFile: Long = 0L): Unit = {
    require(files > 0, s"writeZOrdered: files must be positive, got $files")
    val z = "__graft_z"
    val w = withZValue(df, cols, bits, z)
      .repartitionByRange(files, col(z))
      .sortWithinPartitions(z)
      .drop(z)
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** Audit a [[writeZOrdered]] export: one row per file with its row
    * count and each clustered column's [min, max] span — the spans ARE
    * the pruning contract (a predicate on any clustered column skips
    * every file whose span excludes it). Distributed except the final
    * per-file frame (file count rows, never row count). */
  def auditFileRectangles(spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(path)
      .withColumn("__graft_f", input_file_name())
      .groupBy("__graft_f")
      .agg(aggs.head, aggs.tail: _*)
      .drop("__graft_f")
  }

  /** Snapshot diff between two corpus versions: which documents were
    * added, removed, or changed from `oldDf` to `newDf` — the audit a
    * recurring crawl/refresh pipeline runs before committing a new
    * corpus version (unexpected mass-removal or mass-change is the
    * classic sign of an upstream extraction regression).
    *
    * Plan at scale: each side projects to (id, xxhash64(content)) BEFORE
    * the shuffle — the join moves 16-byte rows, never document bodies —
    * then one full-outer sort-merge join on id. Content equality is
    * hash equality (64-bit; a collision misreports `changed` as
    * `unchanged` with probability ~2^-64 per pair). Unchanged rows are
    * dropped by default — at 100 TB they are ~all the corpus and
    * downstream only acts on the delta; pass `includeUnchanged = true`
    * for full-audit exports.
    *
    * Contract: `idCol` uniquely identifies a document within each
    * version (duplicate ids multiply through the join, exactly as in
    * SQL); a null id never matches the other side, so null-id rows
    * surface as removed + added rather than compared. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, includeUnchanged: Boolean = false): DataFrame = {
    def fp(df: DataFrame, h: String) = df.select(col(idCol).as("id"),
      xxhash64(col(textCol)).as(h))
    val joined = fp(oldDf, "__graft_old").join(fp(newDf, "__graft_new"),
      Seq("id"), "full_outer")
    val status = when(col("__graft_old").isNull, "added")
      .when(col("__graft_new").isNull, "removed")
      .when(col("__graft_old") =!= col("__graft_new"), "changed")
      .otherwise("unchanged")
    val tagged = joined.select(col("id"), status.as("status"))
    if (includeUnchanged) tagged
    else tagged.filter(col("status") =!= "unchanged")
  }

  /** Audit a [[writeRangeSorted]] export's pruning contract from the
    * files alone: per file, its key span; globally, whether spans are
    * pairwise disjoint. Returns one row per file ranked by span start —
    * (file_rank, n_rows, disjoint) with `disjoint` true when the file's
    * min key is strictly above the previous file's max. Distributed
    * except the final window over n_files rows (thousands, not
    * billions — file count, never row count). */
  def auditFileRanges(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String): DataFrame = {
    val perFile = spark.read.parquet(path)
      .select(col(keyCol).as("__graft_k"), input_file_name().as("__graft_f"))
      .groupBy("__graft_f")
      .agg(min("__graft_k").as("kmin"), max("__graft_k").as("kmax"),
        count(lit(1)).as("n_rows"))
    val w = Window.orderBy(col("kmin"), col("__graft_f"))
    perFile.select(
      row_number().over(w).cast("int").as("file_rank"),
      col("n_rows"),
      coalesce(col("kmin") > lag(col("kmax"), 1).over(w), lit(true))
        .as("disjoint"))
  }

  /** Topic-balance a corpus by embedding cluster: assign each row to its
    * nearest centroid by cosine, then keep at most `perCluster` rows per
    * cluster — highest `scoreCol` first when given, else lowest id
    * (deterministic either way; ties break by ascending idCol). The
    * cluster-quota complement of [[quotaSample]]'s key-quota: balances a
    * training mix across embedding-space topics instead of metadata
    * groups. Output = input columns + `cluster_id`.
    *
    * Plan: the centroid panel (bounded — a topic balance uses tens to
    * hundreds of clusters) embeds as plan literals and the argmax-cosine
    * assignment runs IN-ROW (the LangId embedded-model shape): zero
    * shuffle until the quota, whose `row_number <= k` filter runs as a
    * map-side WindowGroupLimit — a mega-cluster prunes to perCluster
    * rows per input partition before its exchange. One shuffle total.
    *
    * Centroid norms are folded driver-side in the same sequential order
    * as the DotD kernel, so sims replay bit-identically in the SQL
    * oracle. A zero-norm vector (null cosine against every centroid)
    * coalesces to -2 — below any real cosine — and lands deterministically
    * in the lowest-id cluster. Rows with a NULL embedding are DROPPED
    * (the [[Similarity.poolEmbeddings]] null contract) — silently
    * bucketing them would eat the lowest cluster's quota. */
  def balanceByCluster(df: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, perCluster: Int,
      scoreCol: Option[String] = None): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive, got $perCluster")
    require(!df.columns.contains("cluster_id"),
      "balanceByCluster emits 'cluster_id' but the input already has it — " +
        "rename or drop the existing column first")
    val rows = graft.core.CacheRegistry.pull(centroids.select(
      col("cell_id").cast("long"), col("centroid").cast("array<double>")),
      4096)(_.toArray).getOrElse(throw new IllegalArgumentException(
      "balanceByCluster: more than 4096 centroids is too many to embed " +
        "as plan literals — assign with buildIvfIndex/ivfSearch instead"))
    require(rows.nonEmpty, "balanceByCluster: empty centroid panel")
    // validate the panel before building plan literals: a NULL row would
    // NPE in the norm fold below, and a duplicate cell_id would silently
    // hand one cluster two quota slots
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "balanceByCluster: centroid panel has a row with NULL cell_id or " +
          "centroid — every panel row must be fully defined")
    }
    val cents: Seq[(Long, Seq[Double])] = rows
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    require(cents.map(_._1).distinct.length == cents.length,
      "balanceByCluster: duplicate cell_id in the centroid panel — each " +
        "cluster must appear exactly once")

    val cell = ColOps.letBound(col(s"`$vecCol`").cast("array<double>")) { v =>
      ColOps.letBound(Similarity.dot(v, v)) { vsd =>
        val structs = cents.map { case (cid, cv) =>
          // sequential left fold, the DotD/list_reduce order — replays
          // bit-for-bit in the oracle
          val cnorm = cv.foldLeft(0.0d)((a, x) => a + x * x)
          val sim = Similarity.overNorm(
            Similarity.dot(v, typedlit(cv).cast("array<double>")),
            sqrt(vsd * lit(cnorm)))
          struct((-coalesce(sim, lit(-2.0d))).as("negsim"),
            lit(cid).as("cell"))
        }
        array_min(array(structs: _*)).getField("cell")
      }
    }
    val order = scoreCol match {
      case Some(s) => Seq(col(s"`$s`").desc, col(s"`$idCol`").asc)
      case None => Seq(col(s"`$idCol`").asc)
    }
    val w = Window.partitionBy("cluster_id").orderBy(order: _*)
    df.filter(col(s"`$vecCol`").isNotNull)
      .withColumn("cluster_id", cell)
      .withColumn("__graft_cb_rank", row_number().over(w))
      .filter(col("__graft_cb_rank") <= perCluster)
      .drop("__graft_cb_rank")
  }
}
