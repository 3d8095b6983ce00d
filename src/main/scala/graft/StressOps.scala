package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-scale stress datapoints, grouped into FAMILIES so each family
  * runs in a fresh JVM ([[StressWorker]]): every datapoint then starts
  * from the same JVM state (fresh heap, cold JIT, no page-cache residue
  * from earlier ops), which is what makes cross-round comparisons hold.
  * The datapoint keys and workload shapes are the cross-round contract.
  */
object StressOps {

  /** Ordered (family → op keys) — the worker CLI contract and the
    * parsed-line output order. Constants (doc_copies etc.) are emitted
    * by the families that define them. */
  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("minhash", "hamming64_drop", "passage", "passage_strip",
      "hamming64_drop_skew", "minhash_skew_collapse"),
    "store" -> Seq("store_build", "store_drop", "near_store_build",
      "near_store_drop", "near_store_drop_skew"),
    "index" -> Seq("inverted_index", "inverted_index_stopword"),
    "vec" -> Seq("semdedup"),
    "media" -> Seq("decode_headers", "decode_pixels"),
    "events" -> Seq("asof", "asof_skew", "sessionize", "sessionize_skew",
      "funnel", "funnel_skew", "retention"),
    "graph" -> Seq("pagerank", "pagerank_hub"),
    "langid" -> Seq("langid"),
    "token" -> Seq("bpe_encode", "ngram_lm_score"),
    // round-15 addition (append-only): quantile aggregation at 100×,
    // exact (per-group value buffering) vs the GK sketch, uniform vs a
    // hot (window × group) holding ~1/3 of all rows — the shape where
    // the exact form's memory contract breaks at corpus scale
    "metrics" -> Seq("stats_pct_exact", "stats_pct_approx",
      "stats_pct_exact_skew", "stats_pct_approx_skew"))

  /** One family run: workload constants, and per op its wall-time
    * samples (-1 = that sample errored) and the job counts of each. */
  final class Results {
    val consts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val counters = scala.collection.mutable.LinkedHashMap.empty[String,
      Vector[graft.streaming.Observability.JobCounts]]
  }

  private val hotText = "common boilerplate navigation header about contact " +
    "privacy terms copyright all rights reserved site map search login"

  /** Run one family's datapoints: `runs` samples per op (the min is the
    * contention-robust statistic — noise only ever adds time), each under
    * its own job group so its job counts ride next to its wall time. */
  def runFamily(spark: SparkSession, family: String, sfDir: String,
      stressCopies: Int, semCopies: Int, runs: Int): Results = {
    val res = new Results
    val counter = new graft.streaming.Observability.JobCounter(spark)
    def timed(key: String)(f: => Long): Unit = {
      val xs = (0 until runs).map { _ =>
        System.gc() // settle: don't bill a prior op's garbage to this one
        val sample = counter.count(key) {
          val t0 = System.nanoTime()
          val ok = try { f; true } catch { case _: Throwable => false }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        // between-sample housekeeping stays off the clock: the cache
        // clear/drain is fixture bookkeeping, not op cost
        spark.catalog.clearCache()
        graft.core.CacheRegistry.drain()
        sample
      }.toVector
      res.samples(key) = xs.map(_._1)
      res.counters(key) = xs.map(_._2)
    }
    def bigDocsOf(d1: DataFrame): DataFrame =
      (0 until stressCopies).map(i => d1.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text")))
        .reduce(_ union _)

    family match {
      case "dedup" =>
        val d1 = spark.read.parquet(s"$sfDir/documents.parquet")
        val bigDocs = bigDocsOf(d1)
        res.consts("doc_copies") = stressCopies.toDouble
        timed("minhash")(
          graft.ml.Dedup.minhashPairs(bigDocs, "text", "doc_id").count())
        timed("hamming64_drop")(
          graft.ml.Dedup.dropDuplicatesHamming64(bigDocs, "text", "doc_id").count())
        timed("passage")(
          graft.ml.Dedup.duplicatedPassages(bigDocs, "text", "doc_id").count())
        // the REWRITE form (ExactSubstr removal): detection plus the
        // spans join-back and token-filter rebuild — the additional cost
        // of rewriting documents instead of flagging them. head() (NOT
        // count): under count() Catalyst proves the spans left join
        // row-preserving (grouped right side → distinct keys, no right
        // column referenced) and ELIMINATES the whole detection subtree —
        // the measured op would be a corpus scan
        timed("passage_strip")(
          graft.ml.Dedup.stripDuplicatedPassages(bigDocs, "text", "doc_id")
            .agg(sum(length(col("text")))).head().getLong(0))
        // SKEWED twin (VERDICT r7 task 7): 1% of docs collapse onto one
        // boilerplate text — the hot exact-dup cluster real crawls have.
        // The star-reduction inside the fused drop keeps this linear; the
        // uniform/skew ratio is the driver-visible regression guard.
        val skewDocs = bigDocs.withColumn("text",
          when(pmod(col("doc_id"), lit(100)) === 0, lit(hotText))
            .otherwise(col("text")))
        timed("hamming64_drop_skew")(
          graft.ml.Dedup.dropDuplicatesHamming64(skewDocs, "text", "doc_id").count())
        // star-reduced pair enumeration over the same hot cluster (the raw
        // list is C(5000,2)=12.5M pairs — quadratic by contract;
        // collapse_exact is the at-scale form the clustered stage uses)
        timed("minhash_skew_collapse")(
          graft.ml.Dedup.minhashPairs(skewDocs, "text", "doc_id",
            collapseExact = true).count())

      case "store" =>
        // INCREMENTAL STORE (VERDICT r7 task 3): a seen store ~16× the
        // daily increment. The recurring per-day cost is store_drop —
        // one store scan + Bloom-prefiltered broadcast probes, never a
        // store shuffle — and must sit far below store_build (the
        // one-time backfill, whose anti-join + bloom build DO
        // scan/shuffle the corpus).
        val d1 = spark.read.parquet(s"$sfDir/documents.parquet")
        val bigDocs = bigDocsOf(d1)
        res.consts("doc_copies") = stressCopies.toDouble
        val storeRoot = java.nio.file.Files
          .createTempDirectory("graft-stress-store").toString
        // fresh store per sample — a re-append to the same store is a
        // no-op (anti-join drops everything), and best-of-N would then
        // report the no-op as the "build" cost
        var storeN = 0
        timed("store_build") {
          storeN += 1
          graft.ml.Dedup.appendToSeenStore(bigDocs, "text", s"$storeRoot/fps$storeN")
        }
        val storeDir = s"$storeRoot/fps$storeN"
        val increment = bigDocs
          .filter(pmod(col("doc_id"), lit(20)) === 0) // seen texts, fresh ids
          .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("text"))
          .union(d1.select((col("doc_id") + lit(950000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "zz_$1").as("text"))) // unseen
        timed("store_drop")(
          graft.ml.Dedup.dropSeenStore(increment, storeDir, "text").count())
        // NEAR STORE + SKEWED INCREMENT (VERDICT r9 stretch 8): the banded
        // store probe DISTINCTs increment fingerprints before the join, so
        // a boilerplate-heavy increment (99% of rows one hot text — the
        // shape a crawler re-visiting a template site produces) must cost
        // ≈ the uniform increment, not multiply the probe.
        var nearN = 0
        timed("near_store_build") {
          nearN += 1
          graft.ml.Dedup.appendToNearStore(bigDocs, "text", s"$storeRoot/near$nearN")
        }
        val nearDir = s"$storeRoot/near$nearN"
        timed("near_store_drop")(
          graft.ml.Dedup.dropSeenNearStore(increment, nearDir, "text", "doc_id").count())
        val skewIncrement = increment.withColumn("text",
          when(pmod(col("doc_id"), lit(100)) =!= 0, lit(hotText))
            .otherwise(col("text")))
        timed("near_store_drop_skew")(
          graft.ml.Dedup.dropSeenNearStore(skewIncrement, nearDir, "text", "doc_id").count())
        locally {
          def rmrf(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rmrf))
            f.delete(): Unit
          }
          rmrf(new java.io.File(storeRoot))
        }

      case "index" =>
        // INVERTED INDEX at 100×, uniform vs stop-word twin: the copies'
        // word-prefix salting makes every token copy-local (uniform); the
        // skew twin appends one shared token to EVERY doc — a 500k-row
        // posting chain for a single key, the stop-word shape. The df path
        // collapses it map-side (partial agg) and the rank path cuts it
        // map-side (WindowGroupLimit Partial), so skew/uniform must stay
        // ≈1 — the guard that neither path ever funnels a stop-word's
        // full chain through one reducer.
        val bigDocs = bigDocsOf(spark.read.parquet(s"$sfDir/documents.parquet"))
        res.consts("doc_copies") = stressCopies.toDouble
        timed("inverted_index")(
          graft.ml.TextAnalysis.invertedIndex(bigDocs, "text", "doc_id",
            minDf = 2L, maxPostings = 100).count())
        timed("inverted_index_stopword")(
          graft.ml.TextAnalysis.invertedIndex(
            bigDocs.withColumn("text", concat(col("text"), lit(" thetoken"))),
            "text", "doc_id", minDf = 2L, maxPostings = 100).count())

      case "vec" =>
        val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val bigVecs = (0 until semCopies).map(i => e1.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          transform(col("embedding"), x => x * (1.0f + i / 128.0f)).as("embedding")))
          .reduce(_ union _)
        res.consts("vec_copies") = semCopies.toDouble
        timed("semdedup")(
          graft.ml.Similarity.semanticDedup(bigVecs, "embedding", "vec_id",
            numCells = 16, threshold = 0.95, maxCellSize = 2000L).count())

      case "media" =>
        // MULTIMODAL HEADER THROUGHPUT: synthesize-and-decode a mixed
        // audio/video corpus (WAV/MP4/FLAC/Ogg/WebM by id%5 — PNG excluded
        // because ImageIO *encode* would dominate the fixture side) fused
        // in one pass. The decoders are header-only, so this is the
        // per-row fixed cost a 100 TB media scan pays; a regression here
        // means a decoder started reading payload bytes.
        val bigDocs = bigDocsOf(spark.read.parquet(s"$sfDir/documents.parquet"))
        res.consts("doc_copies") = stressCopies.toDouble
        val mm = graft.ml.Multimodal
        val ids = bigDocs.select(col("doc_id"))
        def cls(m: Int) = ids.filter(pmod(col("doc_id"), lit(5)) === m)
        val bigMedia = mm.synthesizeWavs(cls(0), "doc_id")
          .unionByName(mm.synthesizeMp4s(cls(1), "doc_id"))
          .unionByName(mm.synthesizeFlacs(cls(2), "doc_id"))
          .unionByName(mm.synthesizeOggs(cls(3), "doc_id"))
          .unionByName(mm.synthesizeMkvs(cls(4), "doc_id"))
        // head(), not count(): under count() Catalyst prunes the summed
        // column (and with it any prunable work above the scan); head()
        // forces the aggregate's VALUE, the honest throughput measure
        timed("decode_headers")(
          mm.decodePartitions(bigMedia, mm.HeaderDecoder)
            .agg(sum(col("meta.duration_ms"))).head().getLong(0))
        // PIXEL-DECODE THROUGHPUT: reads EVERY payload byte — full PNG
        // decode plus the aHash/dHash reduction. The fixture is
        // PNG-*encode*-heavy, so it is built and checkpointed OUTSIDE the
        // timed region (the cut survives the between-sample
        // cache clears); the datapoint times decode+hash only.
        val bigPngs = mm.synthesizeImageVariants(
          bigDocs.select(col("doc_id")), "doc_id")
          .transform(graft.core.CacheRegistry.cut)
        timed("decode_pixels")(
          mm.decodeImagePixels(bigPngs)
            .agg(sum(col("px.px_sum"))).head().getLong(0))

      case "events" =>
        // AS-OF JOIN + SESSIONIZE at 100×: both ops are one keyed exchange
        // plus a per-partition sort, so cost should scale ~linearly in
        // rows per key. Uniform twin: copies get DISTINCT user_ids (more
        // keys, same chain length). Skew twin: copies KEEP their user_ids,
        // so every per-key chain grows stressCopies× — the long-sort shape
        // a hot entity produces at 100 TB. The uniform/skew ratio is the
        // guard that neither op degrades super-linearly in chain length.
        val ev = graft.core.Tables.load(spark, sfDir, "events")
        def copies(shiftKeys: Boolean) = (0 until stressCopies).map { i =>
          val uid = if (shiftKeys) col("user_id") + lit(i * 1000000L)
                    else col("user_id")
          ev.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
            uid.as("user_id"), col("ts"), col("event_type"), col("value"))
        }.reduce(_ union _)
        val bigEv     = copies(shiftKeys = true)
        val bigEvSkew = copies(shiftKeys = false)
        res.consts("event_copies") = stressCopies.toDouble
        def asof(d: DataFrame): Long =
          graft.operators.AsOfJoin.leftAsOf(
            d.select(col("event_id"), col("user_id"), col("ts")),
            d.filter(col("event_type") === "purchase")
              .select(col("user_id"), col("ts"), col("value")),
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCols = Seq("value")).count()
        timed("asof")(asof(bigEv))
        timed("asof_skew")(asof(bigEvSkew))
        // head()-consumed sums (the count-pruning audit): session
        // BOUNDARIES drive cardinality so count() ran the gap chain, but
        // the summary aggregates themselves were prunable
        def sess(d: DataFrame): Long =
          graft.operators.Sessionize.summarize(d, "user_id", "ts", 1800L)
            .agg(sum(col("n_events"))).head().getLong(0)
        timed("sessionize")(sess(bigEv))
        timed("sessionize_skew")(sess(bigEvSkew))
        // funnel/retention at 100×: the funnel's per-user DP folds a
        // 100×-longer matched-event list under skew (same users, all
        // copies) — the guard that the fold stays linear in list length
        // head(), not count: funnel groups by user alone, so count()
        // pruned the per-user DP FOLD — the op under test
        def funnelOf(d: DataFrame): Long =
          graft.operators.Funnel.windowFunnel(d, "user_id", "ts",
            Seq(col("event_type") === "view", col("event_type") === "click",
              col("event_type") === "purchase"), 86400L)
            .agg(sum(col("funnel_level"))).head().getLong(0)
        timed("funnel")(funnelOf(bigEv))
        timed("funnel_skew")(funnelOf(bigEvSkew))
        timed("retention")(
          graft.operators.Retention.cohorts(bigEv, "user_id", "ts",
            col("event_type") === "signup", 604800L, 8).count())

      case "graph" =>
        // PAGERANK: 5 iterations of join + partial-agg over a
        // 2-edges-per-doc list. Uniform twin: residue-rule targets spread
        // in-degree. Hub twin: HALF of all edges point at one host — the
        // in-degree skew real webgraphs have. Map-side combine must absorb
        // the hub's rank-mass sum before the shuffle; the uniform/hub
        // ratio is the guard that a hot host never funnels its full
        // in-edge list through one reducer.
        // EXPLICIT cap at 50 copies (recorded as graph_copies, the langid
        // precedent): the r13 head()-consumed definition measures the
        // real iterative rank arithmetic (count() had pruned it — r12's
        // 13.9 s was the join lattice only, the honest 100-copy cost is
        // ~55 s/run), and 3 runs × 2 twins at 100 copies would add ~10
        // driver-minutes for no extra signal.
        val graphCopies = math.min(stressCopies, 50)
        val bigDocs = bigDocsOf(spark.read.parquet(s"$sfDir/documents.parquet"))
          .filter(col("doc_id") < graphCopies * 10000000L)
        res.consts("graph_copies") = graphCopies.toDouble
        def edges(hub: Boolean) = {
          val dst2 = if (hub) lit(0L) else pmod(col("doc_id") * 13 + 1, lit(50000L))
          val src = concat(lit("h"), col("doc_id").cast("string"))
          bigDocs.select(src.as("src"),
              concat(lit("h"), pmod(col("doc_id") * 7 + 3, lit(50000L))
                .cast("string")).as("dst"))
            .union(bigDocs.select(src.as("src"),
              concat(lit("h"), dst2.cast("string")).as("dst")))
        }
        def rank(d: DataFrame): Long =
          // driverEdgeLimit 0: this arm certifies the DISTRIBUTED
          // iterative loop (its calm bands are the r13-r18 history of
          // that path); the r19 bounded driver fast path would flip on
          // near the copied corpus's ~1M edges and change what the
          // datapoint measures
          graft.ml.LinkGraph.pageRank(d, "src", "dst", driverEdgeLimit = 0L)
            .agg(sum("rank_scaled")).head().getLong(0)
        timed("pagerank")(rank(edges(hub = false)))
        timed("pagerank_hub")(rank(edges(hub = true)))

      case "langid" =>
        // LANGID: train + classify fused over the copied corpus (labels
        // synthesized — this measures the training explode/rank and the
        // in-row classify map, not accuracy). EXPLICIT cap at 20 copies
        // (recorded as langid_copies): the r11 window-join classify was
        // ~90 s/run at 100; kept at 20 so the datapoint stays comparable.
        val bigDocs = bigDocsOf(spark.read.parquet(s"$sfDir/documents.parquet"))
        val langidCopies = math.min(stressCopies, 20)
        val labeled = bigDocs
          .filter(col("doc_id") < langidCopies * 10000000L)
          .withColumn("lang",
            concat(lit("l"), pmod(col("doc_id"), lit(5)).cast("string")))
        res.consts("langid_copies") = langidCopies.toDouble
        timed("langid") {
          val prof = graft.ml.LangId.trainProfiles(labeled, "text", "lang")
          graft.ml.LangId.classify(labeled, "text", "doc_id", prof).count()
        }

      case "token" =>
        // TOKENIZATION at 100×: the per-row scan cost every token-budget
        // (bpe_encode) and perplexity (ngram_lm_score) pass pays at
        // 100 TB. Both kernels run the model as plan literals /
        // model-as-frame; a regression here means the plan-literal fold
        // kernels started paying per-row constant costs. Models are
        // trained on the BASE corpus outside the timed region (fixture,
        // deterministic) — the datapoints time ENCODE/SCORE only.
        val d1 = spark.read.parquet(s"$sfDir/documents.parquet")
        val bigDocs = bigDocsOf(d1)
        res.consts("doc_copies") = stressCopies.toDouble
        val merges = graft.ml.Bpe.train(d1, "text", numMerges = 200,
          maxWords = 20000)
        // head(), not count(): the token-count column is a pure
        // projection — count() would prune the BPE kernel entirely and
        // time a bare parquet scan
        timed("bpe_encode")(
          graft.ml.Bpe.tokenCount(bigDocs, "text", merges)
            .agg(sum(col("n_bpe_tokens"))).head().getLong(0))
        // cut: the model frame must survive the
        // between-sample cache clears and not re-derive inside the
        // timed region
        val model = graft.ml.NgramLm.train(d1, "text", order = 3,
          minCount = 2).transform(graft.core.CacheRegistry.cut)
        // head() + sum_prob: the scoring FOLDS are projections over the
        // per-doc lattice — count() would run the lattice for
        // cardinality but prune the folds, under-measuring the kernel
        timed("ngram_lm_score")(
          graft.ml.NgramLm.score(bigDocs, model, "text", "doc_id", order = 3)
            .agg(sum(col("sum_prob"))).head().getDouble(0).toLong)

      case "metrics" =>
        // QUANTILES at 100×: exact per-group percentile buffers every
        // value; the GK sketch caps the buffer at `accuracy`. Copies KEEP
        // ts/event_type (per-(window × type) counts grow 100×); the skew
        // twin collapses a third of all rows onto ONE (window, type) —
        // the hot latency key every metrics pipeline has. The guards:
        // approx must not cost more than exact on the same data, and
        // approx_skew must stay ≈ approx (the sketch is size-oblivious)
        // while exact_skew pays the hot group's full sort.
        val ev = graft.core.Tables.load(spark, sfDir, "events")
        val big = (0 until stressCopies).map(i =>
          ev.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
            col("ts"), col("event_type"), col("value"))).reduce(_ union _)
        val bigSkew = big
          .withColumn("ts", when(pmod(col("event_id"), lit(3)) === 0,
            to_timestamp(lit("2024-01-01 00:00:00"))).otherwise(col("ts")))
          .withColumn("event_type", when(pmod(col("event_id"), lit(3)) === 0,
            lit("hot")).otherwise(col("event_type")))
        res.consts("event_copies") = stressCopies.toDouble
        // head()-consumed p99 sum: count() would prune the quantile
        // aggregates themselves (the head()-consumed-sums audit) and
        // time only the grouping lattice
        def pct(d: DataFrame, approx: Boolean): Long =
          graft.operators.LinkStatsMetric.batch(
            graft.operators.LinkMetric.Config("event_type->value",
              batchWindowSec = 3600, tsColumn = "ts",
              percentiles = Seq(0.5, 0.99), percentilesApprox = approx,
              approxAccuracy = 10000))(d)
            .agg(sum(col("p99"))).head().getDouble(0).toLong
        timed("stats_pct_exact")(pct(big, approx = false))
        timed("stats_pct_approx")(pct(big, approx = true))
        timed("stats_pct_exact_skew")(pct(bigSkew, approx = false))
        timed("stats_pct_approx_skew")(pct(bigSkew, approx = true))

      case other => sys.error(s"unknown stress family '$other' " +
        s"(known: ${families.map(_._1).mkString(", ")})")
    }
    counter.close()
    res
  }
}
