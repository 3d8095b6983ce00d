package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.filters._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is written so Spark and the DuckDB oracle agree bit-for-bit:
  * sums are accumulated in exact DECIMAL and only cast to DOUBLE at the end
  * (decimal → double conversion is deterministic and order-independent,
  * unlike a floating-point sum).
  */
object SparkEntry {

  /** Exact decimal for money/quantity accumulation. Scale 4 means no
    * double value can sit on a rounding midpoint (x.xxxx5 is never a
    * binary fraction), so Spark and DuckDB round identically. */
  private val Dec = DecimalType(18, 4)

  /** Throwaway stores the store-path gates build live under one JVM-owned
    * root, deleted on exit — a bench session runs every gate several
    * times, and orphaned per-run store dirs would otherwise accumulate in
    * the system tmp for the machine's lifetime. */
  private lazy val gateTmpRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-gates")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(p.toFile)
    }))
    p
  }
  /** q_mojibake's planted artifact suffixes — ONE definition shared by
    * the Spark gate and the interpolated oracle SQL so the planted bytes
    * agree on both engines (mojibake: "caf" + e-acute-through-latin-1 +
    * a cp1252 smart quote; then two U+FFFD replacement chars). */
  private val mojibakeSuffix = " cafÃ© â€™quoted"
  private val replacementSuffix = " ��"

  private def gateTmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(gateTmpRoot, prefix).toString

  /** Spark-side invariants for the oracle-less q_compression_ratio gate
    * (DuckDB has no deflate): row count pinned to the source corpus,
    * every non-null text scores, every score in the LENGTH-AWARE
    * deflate contract band (0, 1 + 16/octet_length] — the deflate
    * stream's fixed ~11-byte header dominates tiny inputs (a 3-byte doc
    * legitimately scores ~3.7, found by the hostile-fixture sweep), but
    * can never exceed input + 16 bytes — and the corpus MEAN in
    * (0.05, 0.95): a broken kernel that returns input length (all
    * ratios 1.0) or zero would pass a per-row band but not the mean.
    * Throws on violation, failing the whole Verify run loudly;
    * mutation-tested in CompressionGateSpec. */
  private[graft] def checkCompressionGate(scored: DataFrame,
      expectedRows: Long): DataFrame = {
    val bound = lit(1.0) +
      lit(16.0) / greatest(octet_length(col("text")).cast("double"), lit(1.0))
    val st = scored.agg(
      count(lit(1)).as("n"),
      sum(when(col("text").isNotNull && col("compression_ratio").isNull, 1L)
        .otherwise(0L)).as("unscored"),
      sum(when(col("compression_ratio") <= 0.0 ||
        col("compression_ratio") > bound || col("compression_ratio").isNaN,
        1L).otherwise(0L)).as("out_of_band"),
      avg(col("compression_ratio")).as("mean_ratio")).head()
    require(st.getLong(0) == expectedRows,
      s"q_compression_ratio: ${st.getLong(0)} rows, expected $expectedRows")
    require(st.getLong(1) == 0,
      s"q_compression_ratio: ${st.getLong(1)} non-null texts scored null")
    require(st.getLong(2) == 0,
      s"q_compression_ratio: ${st.getLong(2)} ratios outside " +
        "(0, 1 + 16/len]")
    require(!st.isNullAt(3) && st.getDouble(3) > 0.05 && st.getDouble(3) < 0.95,
      s"q_compression_ratio: corpus mean ratio ${st.get(3)} outside " +
        "(0.05, 0.95) — the deflate kernel is not compressing real text")
    scored
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  /** Session-keyed fixture memo: the verified minhash pair frame is
    * consumed by BOTH q_dedup_minhash and q_dedup_clusters in a
    * Verify/Bench run, and the encode-churn media corpora and seen-store
    * fixtures by several gates each, so each is built once per (session,
    * key). WEAKLY keyed by the session object: a stopped session's
    * entries (and their cut blocks) become collectable instead of
    * leaking for the JVM lifetime, and identity-hash reuse can't alias
    * two sessions.
    *
    * Builds run OUTSIDE the map lock: [[prebuildShared]] overlaps
    * independent fixture builds from a small thread pool (guide §2.6 —
    * one small job's tail leaves 31 cores idle), and holding the lock
    * during a build would serialize them again. Races are
    * benign-but-wasteful (two identical builds, the first stored wins);
    * the only concurrent caller is prebuildShared itself, which submits
    * each key exactly once. */
  private final class SessionMemo[V] {
    private val bySession =
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, V]]()
    def apply(s: SparkSession, key: String)(build: => V): V = {
      val m = bySession.synchronized {
        bySession.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
      }
      m.synchronized(m.get(key)) match {
        case Some(v) => v
        case None =>
          val built = build
          m.synchronized(m.getOrElseUpdate(key, built))
      }
    }
  }
  private val frameMemo = new SessionMemo[DataFrame]
  private val storeMemo = new SessionMemo[String]

  /** A shared fixture frame: built once per (session, key) behind an
    * eager cut, so consumers read materialized rows. */
  private def memoFrame(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame =
    frameMemo(s, key)(graft.core.CacheRegistry.cut(build))

  /** Throwaway seen-store fixtures for the q_dedup_store_* gates,
    * memoized per (session, dir) like [[sharedMinhashPairs]]: the
    * gates' subject is the recurring per-day PROBE cost (store scan +
    * Bloom/banded-sidecar prefilter), not the one-time backfill — r13's
    * q_dedup_store_exact crept 1.85 → 2.24 s purely because every bench
    * round re-built (append + sidecar) a fresh store inside the timed
    * region (VERDICT r13 task 6). Building once in prebuildShared
    * attributes the backfill to `shared`, the fixture-memoization
    * precedent; correctness is untouched (append is deterministic and
    * the probe result over the memoized store is row-identical). The
    * one-time BUILD cost stays measured: stress family `store`
    * (store_build / near_store_build) times it at 100× in a fresh JVM. */
  private def sharedStorePath(s: SparkSession, key: String)(
      build: String => Unit): String =
    storeMemo(s, key) {
      val store = gateTmpDir("store-" + key.replaceAll("[^A-Za-z0-9]", "_")) +
        "/store"
      build(store)
      store
    }
  private def exactStoreFixture(s: SparkSession, dir: String): String =
    sharedStorePath(s, dir + "#exact") { path =>
      graft.ml.Dedup.appendToSeenStore(
        Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 250 || col("doc_id") === 300),
        "text", path)
    }
  private def nearStoreFixture(s: SparkSession, dir: String): String =
    sharedStorePath(s, dir + "#near") { path =>
      graft.ml.Dedup.appendToNearStore(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 250),
        "text", path, graft.ml.Dedup.simhash32, totalBits = 32, bands = 4)
    }
  private def sharedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir)(
      graft.ml.Dedup.minhashPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", shingleSize = 3, numHashes = 64, bands = 32,
        threshold = 0.9))

  /** The synthesized-PNG fixture for q_multimodal_decode is pure ImageIO
    * *encode* churn — identical bytes every build (dims are a function of
    * doc_id). Memoized like [[sharedMinhashPairs]] so bench rounds time
    * the decode seam under test, not 3× re-encoding the fixture corpus. */
  private def sharedSynthImages(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir + "#synth_images")(
      graft.ml.Multimodal.synthesizeImages(
        Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id"))

  /** The mixed-modality fixture (PNG+WAV+MP4+FLAC+Ogg+WebM by doc_id%6)
    * memoized for the same reason: q_multimodal_mixed times the
    * dispatcher and header parses, not per-round fixture synthesis.
    * doc_id%6==4 rows are even ids, so [[graft.ml.Multimodal.synthesizeOggs]]'s
    * parity split makes them all Vorbis — the oracle leans on that. */
  private def sharedSynthMixed(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir + "#synth_mixed")({
          val mm = graft.ml.Multimodal
          val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
          def part(m: Int) = docs.filter(pmod(col("doc_id"), lit(6)) === m)
          mm.synthesizeImages(part(0), "doc_id")
            .unionByName(mm.synthesizeWavs(part(1), "doc_id"))
            .unionByName(mm.synthesizeMp4s(part(2), "doc_id"))
            .unionByName(mm.synthesizeFlacs(part(3), "doc_id"))
            .unionByName(mm.synthesizeOggs(part(4), "doc_id"))
            .unionByName(mm.synthesizeMkvs(part(5), "doc_id"))
        })

  /** The brightness-variant PNG corpus is shared by q_image_phash and
    * q_image_resize and, like [[sharedSynthImages]], is pure ImageIO
    * encode churn — memoized so those gates time pixel decode (and the
    * resample chain), not per-round fixture synthesis. */
  private def sharedSynthVariants(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir + "#synth_variants")(
      graft.ml.Multimodal.synthesizeImageVariants(
        Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id"))

  /** q_script_profile's planted script samples, indexed by doc_id%8 —
    * ONE definition feeds the Spark gate, the generated oracle CASE and
    * the mutation tests so the literals cannot drift. Cyrillic/Greek
    * carry UPPERCASE letters (below the lowercase block start) so a
    * low-bound range drift is fixture-visible; index 6 plants nothing;
    * index 7 is an exact cyrillic/cjk tie (3 vs 3) probing the
    * tie-break order. */
  private[graft] val scriptSamples: Seq[String] = Seq(
    "Привет Мир", // cyrillic ×9 incl. uppercase
    "你好世界",                               // CJK ×4
    "مرحبا",                         // Arabic ×5
    "안녕하세요",                         // Hangul ×5
    "नमस्ते",                   // Devanagari ×6
    "Γειά σου",            // greek ×7 incl. uppercase
    "",                                                        // none
    "Мир 好好好")                  // tie 3:3

  /** The q_script_profile plant itself, shared with the mutation tests
    * (a copy-pasted planting expression could drift from the gate's and
    * silently turn the mutations vacuous — the same no-drift rule as
    * [[scriptSamples]]). */
  private[graft] def scriptPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), lit(" "),
        element_at(array(scriptSamples.map(lit(_)): _*),
          pmod(col("doc_id"), lit(8)).cast("int") + lit(1))).as("text"))

  /** Smooth-gradient corpus for the lossy-transcode gate — memoized for
    * the same reason as [[sharedSynthVariants]] (encode churn). */
  private[graft] def sharedSynthSmooth(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir + "#synth_smooth")(
      graft.ml.Multimodal.synthesizeSmoothImages(
        Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id"))

  /** The smooth corpus PIXEL-DECODED — the reference side of the two
    * transcode gates. q_image_formats compares two transcode arms
    * against the same base decode and q_image_phash_jpeg a third; the
    * seam those gates test is decoding the RE-ENCODED bytes, so the
    * shared base decode is memoized like the fixtures (it was 4 of the
    * 7 decode passes across the pair). */
  private[graft] def sharedSmoothDecoded(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir + "#smooth_px")(
      graft.ml.Multimodal.decodeImagePixels(sharedSynthSmooth(s, dir)))

  /** BMP/GIF re-encodes of the smooth corpus for q_image_formats. The
    * gate's seam is DECODING the re-encoded bytes; the encode is fixture
    * cost (identical bytes every build — same disease q_multimodal_decode
    * had in r10) and was most of the 2.08 s that made it r12's slowest
    * gate. Memoized like the other encode-churn fixtures. */
  private[graft] def sharedSmoothTranscoded(s: SparkSession, dir: String,
      fmt: String): DataFrame =
    memoFrame(s, dir + "#smooth_" + fmt)(
      graft.ml.Multimodal.transcodeImages(sharedSynthSmooth(s, dir), fmt))

  /** Force-build the memoized shared frames for (session, dir). Bench
    * times this call as its own JSON line so the per-query numbers are
    * memo HITS for every consumer regardless of map order — without it,
    * round-over-round comparisons depended on which consumer happened to
    * run first and absorb the build. */
  def prebuildShared(s: SparkSession, dir: String): Unit = {
    // The ten fixture builds are small independent jobs whose task tails
    // leave most cores idle — overlap them from a bounded thread pool
    // (guide §2.6: actions are only sequential because the driver calls
    // them sequentially; FIFO scheduling back-fills freed executors).
    // Wave 2 consumes sharedSynthSmooth, so it only starts after wave 1;
    // within a wave every key is distinct, so the build-outside-lock
    // memo races never duplicate work. r19: 11.5 s sequential → the wall
    // of the longest chain.
    // pool width = the widest wave (7): with 4 threads the first wave
    // ran as ceil(7/4) = 2 serial batches; the builds are small Spark
    // jobs whose task tails leave most of the 32 cores idle, so running
    // all 7 concurrently back-fills better (r20; FIFO scheduling)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
    try {
      def runAll(builds: Seq[() => Any]): Unit = {
        val futs = builds.map(b =>
          pool.submit(new java.util.concurrent.Callable[Any] {
            // drain on the WORKER thread (r19 ADVICE): CacheRegistry is
            // thread-scoped, and memos registered inside a build
            // (minhashPairs' docs persist, joinBackOnce drop sets) would
            // otherwise sit on the pool thread's queue for the session
            // lifetime. Safe here because every build is EAGER (the
            // cut/append materializes inside the task), so
            // the memos' consuming action has completed by the finally.
            override def call(): Any =
              try b() finally graft.core.CacheRegistry.drain()
          }))
        futs.foreach(_.get()) // propagate the first failure
      }
      runAll(Seq(
        () => sharedMinhashPairs(s, dir), // eager cut: building IS materializing
        // store-gate fixtures: the backfill lands in `shared`, the gates
        // time the recurring probe (see sharedStorePath's scaladoc)
        () => exactStoreFixture(s, dir),
        () => nearStoreFixture(s, dir),
        () => sharedSynthImages(s, dir),
        () => sharedSynthMixed(s, dir),
        () => sharedSynthVariants(s, dir),
        () => sharedSynthSmooth(s, dir)))
      runAll(Seq(
        () => sharedSmoothDecoded(s, dir),
        () => sharedSmoothTranscoded(s, dir, "bmp"),
        () => sharedSmoothTranscoded(s, dir, "gif")))
    } finally pool.shutdown()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation core (LinkStatsMetric-style partial/final agg) ----
    "q1_pricing" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity".cast(Dec)).cast("double").as("sum_qty"),
          sum($"l_extendedprice".cast(Dec)).cast("double").as("sum_base_price"),
          sum(($"l_extendedprice".cast(Dec) * ($"l_discount".cast(Dec) * lit(-1) + lit(1))))
            .cast("double").as("sum_disc_price"),
          (sum($"l_quantity".cast(Dec)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    // ---- LinkMetric: event-time tumbling-window multi-level count ----
    // reference: filter/link_metric.go (fieldsLink 'a->b' nested counts)
    "q_link_metric" -> { (s, dir) =>
      graft.operators.LinkMetric.batch(graft.operators.LinkMetric.Config(
        fieldsLink = "event_type->user_id", batchWindowSec = 3600, tsColumn = "ts"))(
        Tables.load(s, dir, "events"))
    },

    // ---- LinkStatsMetric: windowed count/sum/min/max/mean ----
    // reference: filter/link_stats_metric.go
    "q_link_stats" -> { (s, dir) =>
      graft.operators.LinkStatsMetric.batch(graft.operators.LinkMetric.Config(
        fieldsLink = "event_type->value", batchWindowSec = 3600, tsColumn = "ts"))(
        Tables.load(s, dir, "events"))
    },

    // weekly signup-cohort retention matrix (cohort × period offset →
    // distinct active users); one per-user agg + one matrix agg
    "q_retention" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Retention.cohorts(
        Tables.load(s, dir, "events"), "user_id", "ts",
        $"event_type" === "signup", periodSec = 604800L, maxOffset = 8)
    },

    // unique-users-per-hour-per-type: the cardinality metric (exact
    // batch form of LinkUniqMetric; streams/reduce switch to HLL)
    "q_link_uniq" -> { (s, dir) =>
      graft.operators.LinkUniqMetric.batch(graft.operators.LinkMetric.Config(
        fieldsLink = "event_type->user_id", batchWindowSec = 3600,
        tsColumn = "ts"))(Tables.load(s, dir, "events"))
    },

    // windowFunnel view→click→purchase within one day: deepest ordered
    // chain per user (ClickHouse-parity funnel, one aggregation)
    "q_funnel" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Funnel.windowFunnel(
        Tables.load(s, dir, "events"), "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"),
        windowSec = 86400L)
    },

    // ClickHouse windowFunnel strict modes (scan-order semantics, oracle
    // replays the same scan as a recursive CTE): strict_order — a
    // non-step event after the first step-1 event freezes the scan, as
    // does a step whose predecessor level is unreached
    "q_funnel_strict" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Funnel.windowFunnel(
        Tables.load(s, dir, "events"), "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"),
        windowSec = 86400L, strictOrder = true)
    },

    // strict_deduplication — repeating an already-satisfied step freezes
    "q_funnel_dedup" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Funnel.windowFunnel(
        Tables.load(s, dir, "events"), "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"),
        windowSec = 86400L, strictDedup = true)
    },

    // strict_increase — chains only extend on strictly increasing ts.
    // Timestamps are truncated to the HOUR (r15 gate-layer audit): the
    // raw microsecond fixture has no ties, so strict_increase was
    // output-identical to the plain funnel and the mode was invisible;
    // same-hour step events now tie and the strict scan visibly freezes.
    "q_funnel_increase" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Funnel.windowFunnel(
        Tables.load(s, dir, "events")
          .withColumn("ts", date_trunc("hour", $"ts")), "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"),
        windowSec = 86400L, strictIncrease = true)
    },

    // ClickHouse sequenceCount('(?1).*(?2).*(?3)'): greedy non-overlapping
    // chain completions per user, oracle replays the same 2-slot scan
    "q_sequence_count" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Funnel.sequenceCount(
        Tables.load(s, dir, "events"), "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"))
    },

    // ClickHouse sequenceMatch: chain occurs at least once — checked
    // against an INDEPENDENT declarative EXISTS oracle (not the scan
    // replay), pinning greedy-existence == exists-chain
    "q_sequence_match" -> { (s, dir) =>
      import s.implicits._
      // Day-one slice only (r15 gate-layer audit): over the full 30-day
      // fixture EVERY user matches ANY 3-step pattern — the flag was
      // constant true and pattern bugs were invisible. ~2 events/user on
      // day one makes the flag genuinely selective.
      graft.operators.Funnel.sequenceMatch(
        Tables.load(s, dir, "events").filter($"ts" < "2024-01-02"),
        "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"))
    },

    // ClickHouse retention(signup, view, purchase): per-user flag columns.
    // Day-one slice only (r15 gate-layer audit): over the full 30-day
    // fixture every user has all three event types, so the flags were
    // constant (1,1,1) and ANY flag-logic bug (anchoring, condition
    // order) was invisible. Day one yields all 8 flag combinations.
    "q_retention_flags" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Retention.retentionFlags(
        Tables.load(s, dir, "events").filter($"ts" < "2024-01-02"), "user_id",
        Seq($"event_type" === "signup", $"event_type" === "view",
          $"event_type" === "purchase"))
    },

    // the honest cross-pipeline distinct merge: two disjoint halves of
    // the events each emit HLL-sketch partials per (hour × type), the
    // partial streams union, and the merge's estimate must land within
    // 5% (+1) of the exact distinct — only a real set-union sketch can
    // do that (summing partial counts would double-count users active
    // in both halves)
    "q_link_uniq_sketch" -> { (s, dir) =>
      val cfg = graft.operators.LinkMetric.Config(
        fieldsLink = "event_type->user_id", batchWindowSec = 3600,
        tsColumn = "ts")
      val ev = Tables.load(s, dir, "events")
      val p1 = graft.operators.LinkUniqMetric.batchSketch(cfg)(
        ev.filter(pmod(col("event_id"), lit(2)) === 0))
      val p2 = graft.operators.LinkUniqMetric.batchSketch(cfg)(
        ev.filter(pmod(col("event_id"), lit(2)) === 1))
      val merged = graft.operators.LinkUniqMetric.mergeSketches(cfg)(
        p1.unionByName(p2))
      val exact = graft.operators.LinkUniqMetric.batch(cfg)(ev)
        .withColumnRenamed("uniq", "exact_uniq")
      merged.join(exact, Seq("@timestamp", "event_type"))
        .select(col("@timestamp"), col("event_type"), col("exact_uniq"),
          (abs(col("uniq") - col("exact_uniq")) <=
            col("exact_uniq") * 0.05 + 1).as("within_5pct"))
    },

    // the funnel chart itself: users reaching at least each step
    "q_funnel_conversion" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Funnel.conversion(
        graft.operators.Funnel.windowFunnel(
          Tables.load(s, dir, "events"), "user_id", "ts",
          Seq($"event_type" === "view", $"event_type" === "click",
            $"event_type" === "purchase"),
          windowSec = 86400L))
    },

    // LinkStatsMetric with exact latency-style percentiles per (hour ×
    // event_type) — the quantile columns the reference's users compute
    // downstream in ClickHouse, as one windowed aggregation here
    "q_link_stats_pct" -> { (s, dir) =>
      graft.operators.LinkStatsMetric.batch(graft.operators.LinkMetric.Config(
        fieldsLink = "event_type->value", batchWindowSec = 3600,
        tsColumn = "ts", percentiles = Seq(0.5, 0.95, 0.99)))(
        Tables.load(s, dir, "events"))
    },

    // bounded-memory quantile twin: the GK sketch (percentile_approx)
    // with accuracy ≫ group size never compresses and returns the exact
    // DISCRETE quantile — DuckDB's quantile_disc replays it bit-for-bit,
    // so the 100 TB-safe estimator path is hash-compared end to end
    // (at scale the sketch caps executor memory at `accuracy` per
    // window × group where the exact form buffers every value)
    "q_link_stats_pct_approx" -> { (s, dir) =>
      // DAILY windows, unlike q_link_stats_pct's hourly: the r15 gate-
      // layer audit found hourly (window × type) groups hold only 1-7
      // events at sf0.01, so the GK sketch never compressed and an
      // accuracy regression was fixture-invisible at ANY setting. Daily
      // groups hold ~70 events — accuracy ≫ 70 keeps the sketch exact
      // (= quantile_disc, the oracle) while a collapsed accuracy now
      // visibly moves the quantiles (OracleMutation2Spec).
      graft.operators.LinkStatsMetric.batch(graft.operators.LinkMetric.Config(
        fieldsLink = "event_type->value", batchWindowSec = 86400,
        tsColumn = "ts", percentiles = Seq(0.5, 0.95, 0.99),
        percentilesApprox = true, approxAccuracy = 100000))(
        Tables.load(s, dir, "events"))
    },

    // ---- sessionization: native session_window per-session summary ----
    // 30-minute inactivity gap on the events stream; sum decimal-stabilized
    // like q1_pricing so the float total is order-independent.
    "q_sessionize" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Sessionize.summarize(
        Tables.load(s, dir, "events"), "user_id", "ts", gapSec = 1800L,
        extraAggs = Seq(sum($"value".cast(Dec)).cast("double").as("sum_value")))
    },

    // Session-grouped event sequences: user → session → time-ordered
    // event-type string (the behavioral-corpus "document"). Composes
    // Sessionize.assign with an ordered collect; the struct sort key
    // (ts, event_type) keeps tie order deterministic on both engines.
    "q_session_seq" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Sessionize
        .assign(Tables.load(s, dir, "events"), "user_id", "ts", 1800L)
        .groupBy($"user_id", $"session_seq")
        .agg(
          count(lit(1)).as("n_events"),
          array_join(sort_array(collect_list(struct($"ts", $"event_type")))
            .getField("event_type"), ",").as("seq"))
        .drop("session_seq")
    },

    // ---- as-of join: each event → the user's most recent prior purchase
    //      (union + one keyed window; no inequality join, no explosion) ----
    "q_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.operators.AsOfJoin.leftAsOf(
        ev.select($"event_id", $"user_id", $"ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), suffix = "_purchase")
        .select($"event_id", $"user_id", $"ts", $"ts_purchase", $"value_purchase")
    },

    // Nearest as-of (pandas merge_asof direction='nearest'): the
    // purchase minimizing |ts difference|, backward on ties — one
    // union, one exchange, two window walks
    "q_asof_nearest" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.operators.AsOfJoin.leftAsOfNearest(
        ev.select($"event_id", $"user_id", $"ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), suffix = "_purchase")
        .select($"event_id", $"user_id", $"ts", $"ts_purchase", $"value_purchase")
    },

    // Forward as-of: each event → the user's NEXT purchase at-or-after
    // (time-to-next-event enrichment; descending window walk)
    "q_asof_forward" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.operators.AsOfJoin.leftAsOfForward(
        ev.select($"event_id", $"user_id", $"ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), suffix = "_purchase")
        .select($"event_id", $"user_id", $"ts", $"ts_purchase", $"value_purchase")
    },

    // Cross-run temporal store: the purchase history accumulates over two
    // "daily" appends split at Jan 15, then the second half's events
    // enrich against the store — the output must equal a from-scratch
    // as-of against the full history (matches for ts >= T can only come
    // from rows the store retains).
    "q_asof_store" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val T  = lit("2024-01-15 00:00:00").cast("timestamp")
      val purch = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      val store = gateTmpDir("asof-store") + "/versions"
      graft.operators.AsOfJoin.appendToTemporalStore(
        purch.filter($"ts" < T), Seq("user_id"), "ts", Seq("value"), store)
      graft.operators.AsOfJoin.appendToTemporalStore(
        purch.filter($"ts" >= T), Seq("user_id"), "ts", Seq("value"), store)
      graft.operators.AsOfJoin.enrichFromTemporalStore(
        ev.filter($"ts" >= T).select($"event_id", $"user_id", $"ts"), store,
        Seq("user_id"), "ts", "ts", Seq("value"), suffix = "_purchase")
        .select($"event_id", $"user_id", $"ts", $"ts_purchase", $"value_purchase")
    },

    // Same join bounded to a 2-hour lookback: matches older than the
    // tolerance null out atomically (ts and value together).
    "q_asof_tolerance" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.operators.AsOfJoin.leftAsOf(
        ev.select($"event_id", $"user_id", $"ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), suffix = "_purchase",
        toleranceSec = Some(7200L))
        .select($"event_id", $"user_id", $"ts", $"ts_purchase", $"value_purchase")
    },

    // ---- condition DSL (reference: condition_filter) compiled to a
    //      pushed-down Catalyst predicate ----
    "q_condition_dsl" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val dsl = """(EQ(event_type,"error") || HasPrefix(event_type,"sign"))""" +
        """ && !EQ($.props.k,0) && Contains(props,"k")"""
      ev.filter(graft.conditions.ConditionFilter.compile(dsl, ev))
        .select("event_id", "event_type", "value", "user_id")
    },

    // Go-template prefix-call conditions: and/or over parenthesized
    // pipelines (reference README.md:604's form), compiled to one
    // boolean Column tree — the template twin of q_condition_dsl
    "q_template_cond" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val tpl = """{{if and (or (eq .event_type "error") """ +
        """(hasprefix .event_type "sign")) (not (lt .value 10))}}y{{end}}"""
      ev.filter(graft.conditions.ConditionFilter.compile(tpl, ev))
        .select("event_id", "event_type", "value", "user_id")
    },

    // ---- per-event filter operators through the declarative chain ----
    // Grok: synthesize a log line, parse it back (reference: filter/grok.go)
    "q_grok" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .withColumn("message",
          concat($"event_type", lit(" "), $"user_id", lit(" "), $"value".cast("string")))
      val grokked = FilterBox(GrokFilter("message",
        Seq("""^%{WORD:etype} %{INT:uid} %{NUMBER:val}$"""))).stage(ev)
      grokked.select($"event_id", $"etype", $"uid", $"val")
    },

    // Date: format → parse round-trip, first-match-wins across formats
    "q_date" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .withColumn("t", date_format($"ts", "yyyy-MM-dd HH:mm:ss"))
      val dated = FilterBox(DateFilter("t",
        Seq("02/Jan/2006:15:04:05", "2006-01-02 15:04:05"), target = "parsed")).stage(ev)
      dated.select($"event_id", $"parsed")
    },

    // Json + Convert: extract JSON field, cast with failure handling
    "q_json_convert" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val parsed = FilterBox(JsonFilter("props", target = Some("pm"))).stage(ev)
        .withColumn("k", element_at($"pm", "k"))
      val conv = FilterBox(ConvertFilter(Map(
        "k" -> ConvertFilter.Spec("int")))).stage(parsed)
      conv.select($"event_id", $"k")
    },

    // Split + KV over a synthesized payload
    "q_split_kv" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .withColumn("kvline", concat(lit("type="), $"event_type", lit(" uid="), $"user_id"))
        .withColumn("psv", concat($"event_type", lit("|"), $"user_id"))
      val kv = FilterBox(KvFilter("kvline", " ", "=", includeKeys = Seq("type", "uid"))).stage(ev)
      val sp = FilterBox(SplitFilter("psv", "|", Seq("p1", "p2"))).stage(kv)
      sp.select($"event_id", $"type", $"uid", $"p1", $"p2")
    },

    // Gsub / Replace(count) / case folding on documents
    "q_strings" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val st1 = FilterBox(GsubFilter(Seq(("text", """\s+""", "_")))).stage(docs)
      val st2 = FilterBox(ReplaceFilter("text", "spark", "SPARK", count = 2)).stage(st1)
      val st3 = FilterBox(CaseFilter(Seq("lang"), upper = true)).stage(st2)
      st3.select($"doc_id", $"text", $"lang")
    },

    // Add/Rename/Remove + Translate dictionary enrichment
    "q_enrich" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val chain = Seq(
        FilterBox(AddFilter(Map("combo" -> "{{.event_type}}-{{.user_id}}"))).stage,
        FilterBox(TranslateFilter("event_type", "code", Map(
          "error" -> "E", "purchase" -> "P", "signup" -> "S"))).stage,
        FilterBox(RenameFilter(Map("user_id" -> "uid"))).stage,
        FilterBox(RemoveFilter(Seq("props", "value", "ts", "event_type"))).stage,
      )
      chain.foldLeft(ev.toDF())((d, f) => f(d))
    },
    // Rename-clobber + index-render parity (r18, pins the r17 ADVICE
    // fixes through the pipeline surface): the index pattern renders a
    // present NON-string field (value: double) as the literal "null"
    // (reference index_render.go errNotString) and %{+Monday} — a
    // letter-only GO layout — as the weekday name; the rename then
    // OVERWRITES the existing event_type column (reference SetField
    // overwrite=true then delete src) instead of duplicating it. The
    // whole chain is one flat codegen'd projection — no shuffle, scales
    // row-wise at any SF.
    "q_rename_clobber" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events").withColumn("@timestamp", $"ts")
      val chain = Seq(
        FilterBox(AddFilter(Map(
          "idx" -> "ev-%{value}-%{event_type}-%{+Monday}"))).stage,
        FilterBox(RenameFilter(Map("value" -> "event_type"))).stage,
      )
      chain.foldLeft(ev.toDF())((d, f) => f(d))
        .select($"event_id", $"event_type", $"idx")
    },
    // Nested-map delete (r18, pins the r17 ADVICE fix): remove_fields
    // '[m][b][c]' through map<string, map<string,double>> rewrites the
    // inner map under key b (sibling keys at BOTH levels survive) —
    // the reference's maps-of-maps field deleter, which used to be a
    // loud plan-time error here. Scalar probe columns, not the map
    // itself, so the oracle compare stays engine-neutral. Row-wise
    // map_filter/map_concat algebra — no shuffle at any SF.
    "q_map_delete" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .withColumn("m", map(
          lit("b"), map(lit("c"), $"value", lit("keep"), $"value" * 2),
          lit("o"), map(lit("c"), $"value" * 3)))
      val out = FilterBox(RemoveFilter(Seq("[m][b][c]"))).stage(ev)
      out.select($"event_id",
        element_at(element_at($"m", "b"), "keep").as("kept"),
        element_at(element_at($"m", "b"), "c").as("dropped"),
        element_at(element_at($"m", "o"), "c").as("sibling"),
        size(element_at($"m", "b")).as("b_size"))
    },

    // ClickHouse conform projection: the reference's desc-table-driven
    // per-event type conversion (clickhouse_output.go:406-445) as one
    // codegen'd SELECT — cast what exists, default what is missing or
    // fails to cast. Oracle mirrors it with TRY_CAST + COALESCE.
    "q_ch_conform" -> { (s, dir) =>
      import graft.sinks.ClickHouseWriter.ChColumn
      val ev = Tables.load(s, dir, "events")
        .withColumn("etype_num", col("event_type"))
      graft.sinks.ClickHouseWriter.conform(ev, Seq(
        ChColumn("event_id", "Int64"),
        ChColumn("event_type", "LowCardinality(String)"),
        ChColumn("user_id", "Nullable(Int64)"),
        ChColumn("value", "Float64"),
        ChColumn("etype_num", "Int32"), // string → failed cast → default 0
        ChColumn("note", "String")))    // missing column → default ''
    },

    // Translate via a file dictionary (the production form: every real
    // gohangout Translate points at a reloadable YAML path)
    "q_translate_file" -> { (s, dir) =>
      import s.implicits._
      val dictFile = java.nio.file.Files.createTempFile("graft_q_dict", ".yml")
      java.nio.file.Files.writeString(dictFile,
        "error: E\npurchase: P\nsignup: S\n")
      val ev = Tables.load(s, dir, "events")
      FilterBox(TranslateFilter("event_type", "code", Map.empty,
        Some(dictFile.toString), refreshIntervalSec = 300)).stage(ev)
        .select($"event_id", $"event_type", $"code")
    },

    // Sprig template surface through Add (reference registers sprig's
    // FuncMap for every template render: template_value_render.go:41-44).
    // Round-13 additions exercise the list family (splitList/join/uniq/
    // first/last as NESTED calls), the regex family (RE2-compatible
    // patterns), and sha256sum; sha1sum/md5sum are spec-covered (DuckDB
    // has no sha1 scalar).
    "q_sprig" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .withColumn("maybe", when($"event_id" % 3 === 0, $"event_type"))
        .withColumn("is_even", $"event_id" % 2 === 0)
        .withColumn("phrase",
          concat($"event_type", lit(" "), $"event_type", lit(" end")))
      val chain = FilterBox(AddFilter(Map(
        "filled" -> "{{default \"none\" .maybe}}",
        "flag" -> "{{ternary \"even\" \"odd\" .is_even}}",
        "b64" -> "{{b64enc .event_type}}",
        "short" -> "{{trunc 3 .event_type}}",
        "usum" -> "{{add .user_id 7}}",
        "sj" -> "{{join \"|\" (splitList \" \" .phrase)}}",
        "uq" -> "{{join \"|\" (uniq (splitList \" \" .phrase))}}",
        "fw" -> "{{first (splitList \" \" .phrase)}}",
        "lw" -> "{{last (splitList \" \" .phrase)}}",
        "rx" -> "{{regexMatch \"^p\" .event_type}}",
        "rr" -> "{{regexReplaceAll \"[aeiou]\" .event_type \"_\"}}",
        "sha" -> "{{sha256sum .event_type}}"))).stage(ev)
      chain.select($"event_id", $"filled", $"flag", $"b64", $"short",
        $"usum", $"sj", $"uq", $"fw", $"lw", $"rx", $"rr", $"sha")
    },

    // ---- training-data pipeline operators: dedup ----
    "q_dedup_exact" -> { (s, dir) =>
      // r15 gate-layer vacuity sweep: the sf0.01 corpus is 500/500
      // DISTINCT texts, so over the raw table every group was a
      // singleton — the rep-id policy and the count were fixture-
      // invisible (a min→max rep bug passed). Plant a duplicate of
      // every 5th doc so 100 groups carry cnt=2 and a real rep choice.
      val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
      graft.ml.Dedup.exact(docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))),
        "text", "doc_id")
    },
    "q_dedup_fingerprint" -> { (s, dir) =>
      graft.ml.Dedup.fingerprint(Tables.load(s, dir, "documents"), "text", "doc_id")
    },
    // incremental (cross-run) dedup: docs with id < 250 play "yesterday's
    // crawl" whose fingerprints live in the seen store; today's increment
    // (id >= 250) drops anything already seen. r15 vacuity sweep: the two
    // halves share NO text, so the original probe dropped nothing — a
    // dropSeen that drops nothing passed. Today's increment now carries
    // 25 replanted copies of yesterday's texts (must drop) and 5
    // one-token variants (must keep, proving the match is exact).
    "q_dedup_incremental" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val today = docs.filter(col("doc_id") >= 250).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") < 250 && col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") < 250 && col("doc_id") % 50 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      val seen = graft.ml.Dedup.contentFingerprints(
        docs.filter(col("doc_id") < 250), "text")
      graft.ml.Dedup.dropSeen(today, seen, "text")
        .select(col("doc_id"), col("text"))
    },
    // incremental NEAR-dup: same yesterday/today split, but the store
    // holds simhash fingerprints and "seen" means within hamming ≤ 3 —
    // 32-bit md5 simhash so the oracle re-derives identical fingerprints
    "q_dedup_incremental_near" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val seen = docs.filter(col("doc_id") < 250)
        .select(graft.ml.Dedup.simhash32(col("text")).as("sim")).distinct()
      graft.ml.Dedup.dropSeenNearBy(docs.filter(col("doc_id") >= 250), seen,
          "text", "doc_id", graft.ml.Dedup.simhash32, totalBits = 32,
          k = 3, bands = 4)
        .select(col("doc_id"), col("source"))
    },
    // the same yesterday/today splits through the STORE-PATH variants: a
    // throwaway store is appended (compact rows + Bloom / banded sidecar)
    // then today's half dedups against it — the gate drives the whole
    // sidecar write→read path and must produce exactly the frame-level
    // gates' rows, so they share oracle SQL
    "q_dedup_store_exact" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // the backfill is a memoized shared fixture ([[sharedStorePath]]):
      // the gate times the recurring probe, not the one-time build.
      // doc 300 seeds the store from the increment's half: the gate must
      // exercise a TRUE store hit (drop) — without one, a well-sized
      // bloom yields zero candidates and the probe/join path would go
      // untested (its plan shape is pinned in PlanQualitySpec)
      val store = exactStoreFixture(s, dir)
      graft.ml.Dedup.dropSeenStore(
        docs.filter(col("doc_id") >= 250), store, "text")
        .select(col("doc_id"), col("text"))
    },
    "q_dedup_store_near" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val store = nearStoreFixture(s, dir)
      graft.ml.Dedup.dropSeenNearStoreBy(
        docs.filter(col("doc_id") >= 250), store, "text", "doc_id",
        graft.ml.Dedup.simhash32, totalBits = 32, k = 3, bands = 4)
        .select(col("doc_id"), col("source"))
    },
    // EMBEDDING seen-store: the semantic twin of the text stores — run 1
    // banks vectors, run 2 drops increment rows near (cosine >= 0.4) any
    // stored vector via the SRP-bucketed, store-scan-only probe with two
    // one-bit multi-probes
    "q_dedup_store_sem" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val store = gateTmpDir("store-sem") + "/vecs"
      graft.ml.Similarity.appendToVecStore(
        emb.filter(col("vec_id") < 250), "embedding", store)
      graft.ml.Similarity.dropSeenSemantic(
        emb.filter(col("vec_id") >= 250), store, "embedding", "vec_id",
        dim = 64, numPlanes = 6, threshold = 0.4, probes = 2)
        .select(col("vec_id"))
    },

    "q_dedup_minhash" -> { (s, dir) => sharedMinhashPairs(s, dir) },
    // band-count audit (r16): q_dedup_minhash is recall-blind to the
    // band knob at this SF (every true pair j ≥ 0.95 — recorded r13),
    // but the candidate VOLUME each banding generates is always visible;
    // stats come from bucket sizes alone, never a pair join (the
    // ivfProbeStats pattern). 42 → 2200 candidates across r=8..1 at
    // sf0.01 — a slicing/row-count regression visibly moves every row.
    "q_minhash_bands" -> { (s, dir) =>
      graft.ml.Dedup.minhashBandStats(
        Tables.load(s, dir, "documents"), "text", "doc_id")
    },
    // the simhash twin: the hamming-band COST surface (slice width
    // drives bucket occupancy — 9.3k → 445k candidates across
    // w=16..4 at sf0.01); b ≥ k+1 correctness is enforced at plan time
    // by dropSeenNearBy, so cost is the dial this gate certifies
    "q_simhash_bands" -> { (s, dir) =>
      graft.ml.Dedup.simhashBandStats(
        Tables.load(s, dir, "documents"), "text", "doc_id")
    },
    // Estimator-calibration audit: each doc paired with its
    // prefix-dropped variant (doc_id%5 decides the dropped token
    // fraction, 0..40%) gives a controlled jaccard spread — 47 buckets
    // at sf0.01 spanning matches 3..16 × decile bands 5..10, the
    // empirical S-curve behind any band/threshold choice. All-integer
    // output (the band-stats discipline).
    "q_minhash_calibration" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val toks = split(col("text"), """\s+""")
      val start = (floor(size(toks) * (col("doc_id") % 5) / 10) + 1).cast("int")
      val pairs = docs.select(col("text").as("text_a"),
        array_join(slice(toks, start, size(toks)), " ").as("text_b"))
      graft.ml.Dedup.minhashCalibration(pairs, "text_a", "text_b")
    },
    "q_dedup_clusters" -> { (s, dir) =>
      graft.ml.Dedup.clusters(sharedMinhashPairs(s, dir))
    },
    // best-of policy: keep each near-dup cluster's LONGEST member
    // (n_chars score, id tiebreak) instead of the min-id one
    "q_dedup_best" -> { (s, dir) =>
      graft.ml.Dedup.dropDuplicatesClusteredBest(
        Tables.load(s, dir, "documents"), sharedMinhashPairs(s, dir),
        "doc_id", "n_chars").select("doc_id", "n_chars")
    },
    "q_simhash_hamming" -> { (s, dir) =>
      graft.ml.Dedup.simhashHammingPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", k = 3, bands = 4)
    },
    // fused pairs→drop kernel (dropDuplicatesHamming64's plan) gated via
    // the oracle-reproducible 32-bit md5 simhash fingerprint
    "q_hamming_drop" -> { (s, dir) =>
      import s.implicits._
      graft.ml.Dedup.dropDuplicatesHammingBy(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        graft.ml.Dedup.simhash32, totalBits = 32, k = 3, bands = 4)
        .select($"doc_id", $"source")
    },
    // corpus heavy hitters: exact 2-gram counts over the threshold
    "q_heavy_hitters" -> { (s, dir) =>
      graft.ml.TextAnalysis.heavyHitters(
        Tables.load(s, dir, "documents"), "text", n = 2, minCount = 20L)
    },
    // two-pass freqItems path: candidates + exact recount. By design the
    // output is EXACTLY the true heavy hitters above minFrac·total, so the
    // plain GROUP BY oracle applies verbatim.
    "q_heavy_hitters_approx" -> { (s, dir) =>
      graft.ml.TextAnalysis.heavyHittersApprox(
        Tables.load(s, dir, "documents"), "text", n = 2, minFrac = 0.0005)
    },
    "q_dedup_simhash" -> { (s, dir) =>
      graft.ml.Dedup.simhashGroups(Tables.load(s, dir, "documents"), "text", "doc_id")
    },

    // ---- similarity search ----
    "q_embed_topk" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      graft.ml.Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 5)
    },
    "q_ann_lsh" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      graft.ml.Similarity.annTopK(
        emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 5,
        numPlanes = 6, dim = 64)
    },
    "q_ann_int8" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      graft.ml.Similarity.int8TopK(
        emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 5, rerank = 50)
    },
    "q_ann_ivf" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      graft.ml.Similarity.ivfTopK(
        emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 5,
        numCells = 16, nprobe = 3)
    },
    "q_ann_pq" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      graft.ml.Similarity.pqTopK(
        emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 5,
        m = 8, kc = 16, rerank = 50)
    },
    // ANN QUALITY measurement: recall@5 of the IVF and SRP-LSH indexes
    // against the exact brute-force top-5, per query — the metric that
    // decides nprobe/numPlanes at corpus scale. Counts, not ratios, so
    // the compare stays integer-exact.
    // IVF probe-cost audit (review-block-7 follow-up): recall alone is
    // blind to nprobe at this SF (every query's top-5 lives in its own
    // nearest cell — the recorded q_ann_recall fixture finding), but the
    // SCAN COST nprobe buys is always visible: candidates per query must
    // grow with the probe set. Both arms in one gate so the driver
    // certifies the sensitivity directly.
    "q_ann_probes" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 5)
      def stats(np: Int) = graft.ml.Similarity.ivfProbeStats(
          emb, qs, "embedding", "vec_id", numCells = 16, nprobe = np)
        .select(lit(np).as("nprobe"), col("query_id"),
          col("n_cells"), col("n_candidates"))
      stats(1).unionByName(stats(3))
    },

    "q_ann_recall" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 5)
      // the exact top-k base is consumed by all three recall arms, whose
      // union subtrees execute CONCURRENTLY — a lazy memo never gets hit
      // (each arm computes it before any fill lands; measured r20:
      // 0.788→1.744 med). An eager cut instead (the
      // sharedMinhashPairs precedent): the brute-force pass runs exactly
      // once, and the arms consume the tiny (25-row) cut frame.
      val exact = graft.ml.Similarity.bruteForceTopK(
          emb, qs, "embedding", "vec_id", k = 5)
        .select($"query_id", $"vec_id")
        .transform(graft.core.CacheRegistry.cut)
      def arm(name: String, approx: DataFrame) =
        exact.join(approx.select($"query_id", $"vec_id", lit(1).as("hit")),
            Seq("query_id", "vec_id"), "left")
          .groupBy($"query_id")
          .agg(count(lit(1)).as("n_exact"), count($"hit").as("n_hit"))
          .select(lit(name).as("method"), $"query_id", $"n_exact", $"n_hit")
      arm("ivf", graft.ml.Similarity.ivfTopK(
          emb, qs, "embedding", "vec_id", k = 5, numCells = 16, nprobe = 3))
        .unionByName(arm("lsh", graft.ml.Similarity.annTopK(
          emb, qs, "embedding", "vec_id", k = 5, numPlanes = 6, dim = 64)))
        // multi-probe arm: same index, 6 extra one-bit-flip probes —
        // the recall gain this gate exists to make measurable
        .unionByName(arm("lsh_mp", graft.ml.Similarity.annTopK(
          emb, qs, "embedding", "vec_id", k = 5, numPlanes = 6, dim = 64,
          probes = 6)))
    },

    "q_cosine_dup" -> { (s, dir) =>
      graft.ml.Similarity.cosineDupPairs(Tables.load(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.4, numPlanes = 4, dim = 64)
    },
    // SemDeDup: centroid-bucketed keep-first semantic dedup; the synthetic
    // embeddings carry no true near-dups, so the 0.4 threshold (same as
    // q_cosine_dup) is what makes the drop set non-trivial at this SF
    "q_semantic_dedup" -> { (s, dir) =>
      import s.implicits._
      graft.ml.Similarity.semanticDedup(Tables.load(s, dir, "embeddings"),
        "embedding", "vec_id", numCells = 16, threshold = 0.4)
        .select($"vec_id")
    },
    "q_ngram_jaccard" -> { (s, dir) =>
      graft.ml.Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
        "text", "doc_id", blockCol = "source", n = 3, threshold = 0.8)
    },

    // exact duplicated-passage spans: verbatim 8-token windows shared
    // across >= 2 docs, merged to maximal [start, end) token spans
    "q_passage_dedup" -> { (s, dir) =>
      graft.ml.Dedup.duplicatedPassages(Tables.load(s, dir, "documents"),
        "text", "doc_id", k = 8, minDocs = 2)
    },

    // ExactSubstr-style passage REMOVAL (Lee et al. 2022's rewrite form):
    // every 5th doc carries an appended 11-token shared passage; the
    // min-id holder keeps its text verbatim, every other carrier has the
    // merged spans cut out and tokens re-joined — the whole detect →
    // keep-first → span-merge → token-filter rebuild is re-derived by
    // the oracle from the raw table
    "q_passage_strip" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val shared = " the quick brown fox jumps over the lazy sleeping dog tonight"
      val multi = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(shared)).otherwise(lit("")))
          .as("text"))
      graft.ml.Dedup.stripDuplicatedPassages(multi, "text", "doc_id",
          k = 8, minDocs = 2)
        .select(col("doc_id"), col("text"))
    },

    // CCNet-style line-level boilerplate removal: multi-line docs are
    // synthesized (corpus text has no newlines) with a corpus-wide cookie
    // banner (case varies per row — the normalize-then-hash must unify
    // them), a 1-in-3 section header, the unique body, and a unique
    // footer; lines in >= 100 docs get cut, spelling of the rest survives
    "q_line_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id",
        concat_ws("\n",
          when($"doc_id" % 2 === 0, lit("Cookie Notice: We Use Cookies"))
            .otherwise(lit("COOKIE NOTICE: WE USE COOKIES")),
          concat(lit("Section "), ($"doc_id" % 3).cast("string")),
          $"text",
          concat(lit("footer id "), $"doc_id".cast("string"))).as("text"))
      graft.ml.Dedup.removeBoilerplateLines(docs, "text", "doc_id",
        minDocs = 100)
    },

    // ---- failure channel: FilterBox failTag on grok mismatch ----
    // (reference: topology/filter.go:81-91 appends failTag to `tags`)
    "q_fail_tag" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .withColumn("message",
          when($"event_id" % 2 === 0, concat($"event_type", lit(" "), $"user_id"))
            .otherwise(concat(lit("!bad "), $"event_type")))
      FilterBox(GrokFilter("message", Seq("""^%{WORD:w} %{INT:n}$""")),
          failTag = Some("_grokparsefailure")).stage(ev)
        .select($"event_id", $"w", $"n", array_join($"tags", ",").as("tag"))
    },

    // ---- Variant payload: the Spark-4-native overflow-column path ----
    // The schemaless `props` JSON parses ONCE into a Variant; repeated
    // field accesses are then binary extractions instead of re-parsing
    // the JSON text per access (SURVEY §1.4's payload-column design).
    "q_variant_props" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "events")
        .withColumn("v", parse_json($"props"))
        .select($"event_id",
          try_variant_get($"v", "$.k", "bigint").as("k"),
          try_variant_get($"v", "$.source", "string").as("source_tag"))
    },

    // ---- codecs: json encode -> json decode round trip ----
    "q_codec_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id")
      val encoded = graft.codecs.Codecs.jsonEncode(ev)
      graft.codecs.Codecs.jsonDecode(encoded, ev.schema)
        .select($"event_id", $"event_type", $"user_id")
    },

    // ---- GeoIP enrichment: broadcast bucketed range join (IPIP-style) ----
    // IPs are derived deterministically from the events table; the range
    // dim carves the IPv4 space into one block per nation.
    "q_geoip" -> { (s, dir) =>
      import s.implicits._
      // r15 gate-layer audit: no synthesized ip ever lands exactly on a
      // range boundary (P ≈ 25·10⁴/2³²), so an off-by-one in the range
      // join's bound comparisons was fixture-invisible. Events 0..24 now
      // probe each nation's exact ip_to and 25..49 its exact ip_from.
      val ev = Tables.load(s, dir, "events")
        .withColumn("ipl0", ($"user_id".cast("long") * 9973L + $"event_id".cast("long") * 31L) % 4294967296L)
        .withColumn("ipl", when($"event_id" < 25,
            ((($"event_id".cast("long") + 1L) * 4294967296L) / 25L).cast("long") - 1L)
          .when($"event_id" >= 25 && $"event_id" < 50,
            ((($"event_id".cast("long") - 25L) * 4294967296L) / 25L).cast("long"))
          .otherwise($"ipl0"))
        .drop("ipl0")
        .withColumn("ip", graft.operators.GeoIp.longToIp($"ipl"))
      val ranges = Tables.load(s, dir, "nation").select(
        (($"n_nationkey".cast("long") * 4294967296L) / 25L).cast("long").as("ip_from"),
        ((($"n_nationkey".cast("long") + 1L) * 4294967296L) / 25L - 1L).cast("long").as("ip_to"),
        $"n_name".as("country"))
      graft.operators.GeoIp.enrich(ev, ranges, "ip")
        .select($"event_id", $"ip", $"country")
    },

    // ---- multimodal: binary payload + typed metadata, stubbed decode ----
    "q_multimodal" -> { (s, dir) =>
      val media = graft.ml.Multimodal.fromText(
        Tables.load(s, dir, "documents"), "text", "doc_id")
      graft.ml.Multimodal.decodeStub(media)
        .select(col("media_id"), col("byte_len"), col("width"), col("height"),
          col("channels"), col("content_md5"))
    },
    // the mapPartitions decode SEAM itself (one decoder per partition),
    // gated through the deterministic StubDecoder whose md5 arithmetic the
    // oracle reproduces — q_multimodal covers only the expression-level stub
    "q_multimodal_meta" -> { (s, dir) =>
      val media = graft.ml.Multimodal.fromText(
        Tables.load(s, dir, "documents"), "text", "doc_id")
      graft.ml.Multimodal.decodePartitions(media)
        .select(col("media_id"),
          col("meta.media_type").as("media_type"),
          col("meta.byte_len").as("byte_len"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.duration_ms").as("duration_ms"))
    },

    // REAL decode: synthesized PNGs (dims a pure function of doc_id) go
    // through javax.imageio header parsing — the oracle predicts the dims
    // arithmetically, so only a genuine decode matches
    "q_multimodal_decode" -> { (s, dir) =>
      val media = sharedSynthImages(s, dir)
      graft.ml.Multimodal.decodePartitions(media, graft.ml.Multimodal.ImageIoDecoder)
        .select(col("media_id"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.channels").as("channels"),
          col("meta.format").as("format"))
    },

    // REAL audio decode: synthesized 16-bit mono WAVs (rate and sample
    // count pure functions of doc_id) through the RIFF chunk walk — the
    // oracle predicts sample_rate/duration_ms arithmetically, so only a
    // genuine header parse matches
    "q_multimodal_audio" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val media = graft.ml.Multimodal.synthesizeWavs(docs, "doc_id")
      graft.ml.Multimodal.decodePartitions(media, graft.ml.Multimodal.WavDecoder)
        .select(col("media_id"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.format").as("format"))
    },

    // REAL video decode: synthesized minimal MP4s (timescale/duration/
    // dims pure functions of doc_id) through the ISO-BMFF box walk —
    // mdat is skipped by size, mvhd/tkhd must be genuinely parsed
    "q_multimodal_video" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val media = graft.ml.Multimodal.synthesizeMp4s(docs, "doc_id")
      graft.ml.Multimodal.decodePartitions(media, graft.ml.Multimodal.Mp4Decoder)
        .select(col("media_id"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.format").as("format"))
    },

    // MIXED corpus through the media_type/magic dispatcher: one gate
    // proving image+WAV+MP4+FLAC+Ogg+WebM rows coexist in a single frame
    // and each routes to its real header parse (the shape an actual
    // multimodal training corpus has)
    "q_multimodal_mixed" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      mm.decodePartitions(sharedSynthMixed(s, dir), mm.HeaderDecoder)
        .select(col("media_id"),
          col("meta.media_type").as("media_type"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.format").as("format"))
    },

    // REAL MP3 decode: synthesized MPEG-1 Layer III frames (bitrate/rate
    // indices and byte length pure functions of doc_id) — the oracle
    // reproduces the header tables and the CBR duration arithmetic
    "q_multimodal_mp3" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      mm.decodePartitions(mm.synthesizeMp3s(docs, "doc_id"), mm.Mp3Decoder)
        .select(col("media_id"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.format").as("format"))
    },

    // REAL Ogg decode: synthesized two-page Ogg streams alternating
    // Vorbis/Opus id headers by id parity — the oracle predicts
    // channels/sample_rate/duration_ms arithmetically (Vorbis duration
    // from the final granule ÷ rate, Opus from 48 kHz granules minus
    // pre-skip), so only a genuine page+id-header parse matches
    "q_multimodal_ogg" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      mm.decodePartitions(mm.synthesizeOggs(docs, "doc_id"), mm.OggDecoder)
        .select(col("media_id"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.format").as("format"))
    },

    // REAL Matroska/WebM decode: synthesized EBML containers (Info
    // duration/scale + Tracks video dims pure functions of doc_id, plus
    // a filler element the walker must skip by size) — only a genuine
    // EBML varint walk reproduces the oracle's arithmetic
    "q_multimodal_webm" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      mm.decodePartitions(mm.synthesizeMkvs(docs, "doc_id"), mm.MkvDecoder)
        .select(col("media_id"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.format").as("format"))
    },

    // REAL pixel decode → perceptual average-hash near-dup: brightness
    // variants of the same scene (different PNG bytes, different md5)
    // must land in one aHash bucket. The oracle recomputes the full
    // raster sum AND the 8×8 sampled hash arithmetically from doc_id —
    // only genuinely decoding every pixel reproduces both.
    "q_image_phash" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val px = mm.decodeImagePixels(sharedSynthVariants(s, dir))
        .select(col("media_id"),
          col("px.width").as("width"), col("px.height").as("height"),
          col("px.px_sum").as("px_sum"),
          col("px.ahash_hi").as("ahash_hi"), col("px.ahash_lo").as("ahash_lo"),
          col("px.dhash_hi").as("dhash_hi"), col("px.dhash_lo").as("dhash_lo"))
        .withColumn("delta", expr("((media_id div 127) % 3) * 6"))
      // hash-bucket stats: n_variants > 1 proves byte-distinct images
      // collided perceptually; the group frame is tiny (post-decode
      // metadata), so it broadcasts back onto the per-image rows
      val groups = px.groupBy("ahash_hi", "ahash_lo")
        .agg(count(lit(1)).as("n_group"),
          countDistinct(col("delta")).as("n_variants"))
      px.join(broadcast(groups), Seq("ahash_hi", "ahash_lo"))
        .select(col("media_id"), col("width"), col("height"), col("px_sum"),
          col("ahash_hi"), col("ahash_lo"), col("dhash_hi"), col("dhash_lo"),
          col("n_group"), col("n_variants"))
    },

    // Cross-format perceptual dedup — the actual web-crawl near-dup
    // case: the SAME picture JPEG-re-encoded (quality 0.9) is
    // byte-distinct and raster-nonidentical, yet both hashes collide
    // within small hamming balls on the smooth pyramid fixture
    // (measured max 5/64 aHash and 11/128 dHash across the full
    // parameter space at sf0.01 AND sf0.1; thresholds 8/16 with
    // margin). The oracle states the invariants as constants per row —
    // Spark must really decode the JPEG bytes to satisfy them.
    "q_image_phash_jpeg" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val smooth = sharedSynthSmooth(s, dir)
      val jp = mm.transcodeImages(smooth, "jpg", 0.9f)
      def ham(a: Column, b: Column) = bit_count(a.bitwiseXOR(b))
      def sel(d: DataFrame, p: String) = d
        .select(col("media_id"),
          col("px.width").as(p + "w"), col("px.height").as(p + "h"),
          col("px.ahash_hi").as(p + "ah"), col("px.ahash_lo").as(p + "al"),
          col("px.dhash_hi").as(p + "dh"), col("px.dhash_lo").as(p + "dl"))
      def dec(d: DataFrame, p: String) = sel(mm.decodeImagePixels(d), p)
      sel(sharedSmoothDecoded(s, dir), "p").join(dec(jp, "j"), "media_id")
        .select(col("media_id"),
          (col("pw") === col("jw") && col("ph") === col("jh"))
            .as("dims_match"),
          ((ham(col("pdh"), col("jdh")) + ham(col("pdl"), col("jdl"))) <= 16)
            .as("dhash_close"),
          ((ham(col("pah"), col("jah")) + ham(col("pal"), col("jal"))) <= 8)
            .as("ahash_close"))
    },

    // ImageIO's remaining writable formats, proven through the SAME
    // decode path: BMP is lossless by format; GIF is palette-quantized
    // but the smooth fixture keeps ≤231 distinct colors per image, so
    // its round-trip is also bit-exact — px_sum AND both hashes must
    // survive the transcode unchanged, which only a real decode of the
    // re-encoded bytes can demonstrate
    "q_image_formats" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      def sel(d: DataFrame, p: String) = d
        .select(col("media_id"),
          col("px.width").as(p + "w"), col("px.height").as(p + "h"),
          col("px.px_sum").as(p + "s"),
          col("px.ahash_hi").as(p + "ah"), col("px.ahash_lo").as(p + "al"),
          col("px.dhash_hi").as(p + "dh"), col("px.dhash_lo").as(p + "dl"))
      val base = sel(sharedSmoothDecoded(s, dir), "p")
      def arm(fmt: String) =
        base.join(sel(
            mm.decodeImagePixels(sharedSmoothTranscoded(s, dir, fmt)),
            "j"), "media_id")
          .select(lit(fmt).as("fmt"), col("media_id"),
            (col("pw") === col("jw") && col("ph") === col("jh"))
              .as("dims_match"),
            (col("ps") === col("js") && col("pah") === col("jah") &&
              col("pal") === col("jal") && col("pdh") === col("jdh") &&
              col("pdl") === col("jdl")).as("pixel_exact"))
      arm("bmp").unionByName(arm("gif"))
    },

    // REAL resize: decode → integer box-filter downscale to 8×6 →
    // re-encode PNG → decode AGAIN. The oracle re-derives every output
    // pixel's block average from the fixture arithmetic, so the whole
    // decode→resample→encode→decode chain must be bit-exact to match.
    "q_image_resize" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val resized = mm.resizeImages(sharedSynthVariants(s, dir), 8, 6)
      mm.decodeImagePixels(resized)
        .select(col("media_id"),
          col("px.width").as("width"), col("px.height").as("height"),
          col("px.px_sum").as("px_sum"),
          col("px.ahash_hi").as("ahash_hi"), col("px.ahash_lo").as("ahash_lo"))
    },

    // REAL PCM decode: the synthesized WAV samples are a pure function
    // of doc_id, so energy/peak/zero-crossings have closed forms the
    // oracle re-derives — only reading every 16-bit sample matches.
    "q_audio_pcm" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      mm.decodeWavPcm(mm.synthesizeWavs(docs, "doc_id"))
        .select(col("media_id"),
          col("pcm.n_samples").as("n_samples"),
          col("pcm.sum_sq").as("sum_sq"),
          col("pcm.peak").as("peak"),
          col("pcm.zero_cross").as("zero_cross"))
    },

    // REAL container-level frame sampling: fixtures carry a genuine
    // stbl (stsz per-frame sizes + stco absolute offsets); the sampler
    // must walk moov→trak→mdia→minf→stbl, address each chosen frame's
    // byte range, and checksum the actual payload bytes — offsets,
    // sizes, and sums are all id-arithmetic the oracle re-derives
    "q_video_frames" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      mm.sampleFrames(mm.synthesizeMp4sSampled(docs, "doc_id"), n = 4)
    },

    // REAL resample: decode the 16-bit PCM, linearly interpolate to a
    // common 16 kHz in truncating integer arithmetic, re-encode the
    // RIFF container, decode AGAIN and reduce — the oracle re-derives
    // every interpolated sample, so the whole chain must be bit-exact
    "q_audio_resample" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val at16k = mm.resamplePcm(mm.synthesizeWavs(docs, "doc_id"), 16000)
      mm.decodeWavPcm(at16k)
        .select(col("media_id"),
          col("pcm.n_samples").as("n_samples"),
          col("pcm.sum_sq").as("sum_sq"),
          col("pcm.peak").as("peak"),
          col("pcm.zero_cross").as("zero_cross"))
    },

    // END-TO-END multimodal curation in ONE declarative plan: a mixed
    // corpus routes by modality — images through pixel decode +
    // perceptual-hash dedup (first representative per aHash bucket),
    // audio through PCM energy gating (mean-square threshold — silence
    // filtering), video through sampled-frame size gating (bitrate
    // proxy) — and the survivors union. The shape of a real
    // training-corpus intake pass; every rule is oracle-reproducible.
    "q_multimodal_curate" -> { (s, dir) =>
      val mm = graft.ml.Multimodal
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      def cls(m: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === m)
      val imgKeep = mm.decodeImagePixels(mm.synthesizeImageVariants(cls(0), "doc_id"))
        .groupBy(col("px.ahash_hi"), col("px.ahash_lo"))
        .agg(min(col("media_id")).as("media_id"), count(lit(1)).as("metric"))
        .select(col("media_id"), lit("image").as("media_type"), col("metric"))
      val audKeep = mm.decodeWavPcm(mm.synthesizeWavs(cls(1), "doc_id"))
        // `div`, not `/`: float division + cast can be off-by-one on
        // big longs; both engines floor exactly on the integer path
        .select(col("media_id"),
          expr("pcm.sum_sq div pcm.n_samples").as("metric"))
        .filter(col("metric") >= 80000000L)
        .select(col("media_id"), lit("audio").as("media_type"), col("metric"))
      val vidKeep = mm.sampleFrames(mm.synthesizeMp4sSampled(cls(2), "doc_id"), n = 2)
        .groupBy("media_id").agg(sum(col("frame_size")).as("metric"))
        .filter(col("metric") >= 240L)
        .select(col("media_id"), lit("video").as("media_type"), col("metric"))
      imgKeep.unionByName(audKeep).unionByName(vidKeep)
    },

    // Unicode NFC normalization via the codegen'd kernel expression —
    // decomposed combining sequences and the Å singleton appended to
    // every document must compose; the oracle is DuckDB's own
    // nfc_normalize over the identical construction
    "q_text_normalize" -> { (s, dir) =>
      // "e"+U+0301 (combining acute), "A"+U+030A (combining ring),
      // U+212B (ANGSTROM SIGN, an NFC singleton -> U+00C5)
      val pre = concat(col("text"), lit("e\u0301 A\u030A \u212B"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(pre).as("n_pre"),
          graft.functions.NormalizeFns.nfc(pre).as("norm"))
        .withColumn("n_post", length(col("norm")))
    },

    // HTML -> text extraction: wrap every document in a realistic page
    // (head/style/script blocks, tags, double-encoded entities) and
    // recover the text — script/style content must vanish, entities
    // decode once, whitespace collapses
    "q_html_strip" -> { (s, dir) =>
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head><body><h1>T</h1><p>"),
        col("text"),
        lit("</p><script>var x=1;</script>&amp; &lt;tail&gt;&nbsp;&quot;q&quot;" +
          "&amp;lt;keep&amp;gt;</body></html>"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), graft.ml.TextAnalysis.stripHtml(html).as("clean"))
        .withColumn("n_clean", length(col("clean")))
    },

    // Distributed column profiling: unpivot + one groupBy over column
    // names — per-column nulls/cardinality/range, the intake QA pass
    "q_column_profile" -> { (s, dir) =>
      graft.ml.DatasetOps.profileColumns(
        Tables.load(s, dir, "documents"),
        Seq("text", "lang", "source", "n_chars"))
    },

    // Document chunking: 64-token windows striding by 48 (overlap 16) —
    // shuffle-free projection+explode; the oracle re-derives the window
    // arithmetic and the re-joined chunk text
    "q_doc_chunk" -> { (s, dir) =>
      graft.ml.DatasetOps.chunkDocuments(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        maxTokens = 64, overlap = 16)
    },

    "q_rolling_fp" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", graft.ml.TextAnalysis.rollingHash($"text").as("rhash"))
    },

    // ---- end-to-end corpus cleaning: quality filter -> near-dup drop ----
    // The composed training-data pipeline: profile stats gate the corpus,
    // then minhash-LSH pairs drop later near-duplicates.
    "q_corpus_clean" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      // r19: memoized like q_curate_rank's survivors — the LSH base and
      // the final anti-join both consume the filtered prefix
      val good = docs
        .withColumn("n_tokens", graft.ml.TextAnalysis.tokenCount($"text"))
        .withColumn("distinct_ratio", graft.ml.TextAnalysis.distinctTokenRatio($"text"))
        .filter($"n_tokens" >= 20 && $"distinct_ratio" >= 0.5)
        .transform(graft.core.CacheRegistry.memo)
      val pairs = graft.ml.Dedup.minhashPairs(good, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.9)
      graft.ml.Dedup.dropDuplicates(good, pairs, "doc_id")
        .select($"doc_id", $"n_tokens", $"distinct_ratio")
    },

    // ---- text analysis ----
    "q_text_profile" -> { (s, dir) =>
      graft.ml.TextAnalysis.profile(Tables.load(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_regex_tokens", "mean_word_len",
          "stopword_ratio", "distinct_ratio", "quality", "lang_guess", "fingerprint")
    },

    // Unicode script-class counts + dominant non-Latin script (the
    // mislabeled-language signal). The corpus is ASCII, so script
    // samples are PLANTED by doc_id%8 — with UPPERCASE Cyrillic/Greek
    // (a lowercase-only fixture would make a low-bound range drift
    // invisible, the §8.22l lesson) and one cyrillic/cjk TIE row so the
    // first-in-order tie-break is exercised; %8==6 plants nothing
    // ("none"). Counts are codepoint filters, regex-free cross-engine.
    "q_script_profile" -> { (s, dir) =>
      graft.ml.TextAnalysis.scriptProfile(
        scriptPlanted(Tables.load(s, dir, "documents")), "text", "doc_id")
    },

    // Global quality-band cut: keep the top 30% of documents by quality
    // score — threshold is an exact corpus-wide percentile re-entering
    // the plan as a broadcast one-row frame (no driver collect)
    "q_quality_band" -> { (s, dir) =>
      graft.ml.TextAnalysis.qualityBand(
        Tables.load(s, dir, "documents"), "text", "doc_id", p = 0.7)
    },

    // Model-based quality scoring: the hashed-bag linear classifier's
    // zero-exchange logit kernel over every document. Weights are the
    // PINNED synthetic formula (portable01-style integer arithmetic the
    // oracle derives inline) so the full scoring lattice — tokenize →
    // code-point hash fold → Fibonacci bucket → two in-order IEEE folds —
    // replays bit-for-bit in DuckDB; TRAINED-weight behavior is
    // spec-verified (QualityClassifierSpec) since iterative training is
    // not SQL-expressible.
    "q_quality_clf" -> { (s, dir) =>
      val model = graft.functions.QualityClfModel(
        graft.ml.QualityClassifier.syntheticWeights(12), 12,
        bigrams = true, bias = 0.0)
      graft.ml.QualityClassifier.score(
          Tables.load(s, dir, "documents"), "text", model)
        .select(col("doc_id"), col("quality_logit"))
    },

    // DSIR importance resampling: docs 0..49 play the target-domain
    // sample, the whole corpus is the raw pool. Output is the EXACT
    // evidence lattice (per-bucket smoothed-count ratios folded in
    // feature order — integer products below 2^53, correctly-rounded
    // divides) plus the hash-threshold keep decision, all of which the
    // oracle re-derives from the raw table; the paper's log-space weight
    // and Gumbel top-k (ln/exp — not cross-engine reproducible) are
    // spec-pinned in DsirSpec instead.
    "q_dsir" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // fused single-pass counts (target is a predicate over the pool) —
      // bit-identical frames to the two-ngramCounts form, half the scans
      val (tc, rc) = graft.ml.Dsir.ngramCountsWithTarget(
        docs, "text", col("doc_id") < 50, 12)
      val m = graft.ml.Dsir.model(tc, rc, 12)
      val weighed = graft.ml.Dsir.weigh(docs, "text", "doc_id", m)
      weighed.select(col("doc_id"),
        col("n_feats").cast("long").as("n_feats"), col("sum_ratio"),
        graft.ml.Dsir.thresholdKeep(weighed, "doc_id").as("keep"))
    },

    // Classifier-in-the-loop curation (VERDICT r13 task 4): the
    // end-to-end pipeline the LLM operators exist for, composed in ONE
    // oracle-checked plan — Gopher rules (drop mode) → classifier logit
    // (pinned synthetic weights; TRAINED weights are spec-verified since
    // training isn't SQL-expressible) → DSIR importance weigh →
    // hash-threshold keep → near-dedup of the survivors. The whole
    // scoring prefix is narrow (rules, logit, weigh, keep are per-row
    // maps/filters — zero exchanges until the dedup stage's shuffle;
    // pinned in PlanQualitySpec), so at 100 TB curation runs at scan
    // speed and only the survivor set pays a shuffle.
    "q_curate_rank" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val ruled = graft.ml.TextAnalysis.gopherRules(docs, "text",
        minStopHits = 1, drop = true)
      val model = graft.functions.QualityClfModel(
        graft.ml.QualityClassifier.syntheticWeights(12), 12,
        bigrams = true, bias = 0.0)
      val scored = graft.ml.QualityClassifier.score(ruled, "text", model)
        .filter(col("quality_logit") > 0.0)
      val (tc, rc) = graft.ml.Dsir.ngramCountsWithTarget(
        docs, "text", col("doc_id") < 50, 12)
      val m = graft.ml.Dsir.model(tc, rc, 12)
      val weighed = graft.ml.Dsir.weigh(scored, "text", "doc_id", m)
      // r19: memoize the survivors — the LSH base and the final anti-join
      // are two consumers of the same scored prefix, and without the
      // persist each re-ran rules+logit+weigh over the corpus (the
      // qualityBand precedent; registry-drained like every corpus memo)
      val kept = weighed.filter(graft.ml.Dsir.thresholdKeep(weighed, "doc_id"))
        .transform(graft.core.CacheRegistry.memo)
      val pairs = graft.ml.Dedup.minhashPairs(kept, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.9)
      graft.ml.Dedup.dropDuplicates(kept, pairs, "doc_id")
        .select(col("doc_id"), col("quality_logit"),
          col("n_feats").cast("long").as("n_feats"), col("sum_ratio"))
    },

    // Gopher/C4 fixed-threshold heuristic rules, one boolean per rule —
    // the published curation pass that precedes model-based scoring.
    // minStopHits=1 because the fixture's only Gopher stop word is 'the'
    // (382/500 docs); word-count bound splits the corpus near its median.
    "q_quality_rules" -> { (s, dir) =>
      graft.ml.TextAnalysis.gopherRules(
        Tables.load(s, dir, "documents"), "text", minStopHits = 1)
        .select("doc_id", "n_words", "stop_hits", "rule_word_count",
          "rule_mean_word_len", "rule_symbol_ratio", "rule_alpha",
          "rule_bullet", "rule_ellipsis", "rule_stopwords",
          "rule_no_brace", "rule_no_lorem", "keep")
    },

    // C4 line-level filter over synthesized multi-line pages: line 1 is
    // the document with a terminal period, line 2 is too short, line 3
    // qualifies, line 4 qualifies only for even doc_ids (odd ones lack
    // terminal punctuation) — so keep flips with parity
    "q_c4_lines" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val multi = docs.select(col("doc_id"), concat(
        col("text"), lit(".\nshort one\nthis line has six words total."),
        when(col("doc_id") % 2 === 0,
          lit("\nanother full sentence with many words here."))
          .otherwise(lit("\nno punct line here at all"))).as("text"))
      graft.ml.TextAnalysis.c4LineFilter(multi, "text")
        .select("doc_id", "clean_text", "n_lines_kept", "keep")
    },

    // Repetition scoring (Gopher-rule family: boilerplate/spam signal)
    "q_repetition" -> { (s, dir) =>
      graft.ml.TextAnalysis.repetitionStats(
        Tables.load(s, dir, "documents"), "text", "doc_id")
    },

    // Within-doc duplicate-line fractions (the remaining Gopher
    // repetition rules beside q_repetition's n-gram pair). Corpus text
    // is single-line, so multi-line docs are synthesized with 1-3
    // copies of a shared line (residues 2 and 3 overlap at 6) plus
    // per-doc unique lines — fractions take several distinct values
    "q_dup_lines" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val multi = docs.select($"doc_id", concat_ws("\n",
        $"text", lit("shared dup line"),
        when($"doc_id" % 2 === 0, lit("shared dup line"))
          .otherwise(concat(lit("unique a "), $"doc_id".cast("string"))),
        when($"doc_id" % 3 === 0, lit("shared dup line"))
          .otherwise(concat(lit("unique b "), $"doc_id".cast("string"))),
        concat(lit("tail "), $"doc_id".cast("string"))).as("text"))
      graft.ml.TextAnalysis.dupLineStats(multi, "text", "doc_id")
    },

    // Encoding-artifact scoring (mojibake / replacement chars / control
    // bleed-through) — the corpus is clean ASCII, so artifacts are
    // planted deterministically; overlapping residues exercise rows
    // carrying several signals at once
    "q_mojibake" -> { (s, dir) =>
      import s.implicits._
      val planted = Tables.load(s, dir, "documents").select($"doc_id",
        concat($"text",
          when($"doc_id" % 4 === 0, lit(mojibakeSuffix)).otherwise(lit("")),
          when($"doc_id" % 5 === 0, lit(replacementSuffix)).otherwise(lit("")),
          when($"doc_id" % 7 === 0, lit(" x\u0001y")).otherwise(lit("")))
          .as("text"))
      graft.ml.TextAnalysis.encodingArtifacts(planted, "text", "doc_id")
    },

    // PII scrubbing over synthesized addresses/IPs/phones (documents
    // carry no real PII, so the query plants deterministic ones)
    "q_pii_scrub" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .withColumn("text2", concat($"text",
          lit(" contact user"), $"doc_id", lit("@example.com at 10.2."),
          $"doc_id" % 256, lit(".7 or 555-123-4567")))
        .select($"doc_id", graft.ml.TextAnalysis.scrubPii($"text2").as("clean"))
    },

    // per-doc rare-term extraction (log-free tf-idf; see topTfidfTerms)
    "q_tfidf" -> { (s, dir) =>
      graft.ml.TextAnalysis.topTfidfTerms(
        Tables.load(s, dir, "documents"), "text", "doc_id", k = 3)
    },

    // textbook log-weighted tf-idf; score quantized to 6 decimals so the
    // ln() of both engines agrees bit-for-bit in the compare
    "q_tfidf_log" -> { (s, dir) =>
      graft.ml.TextAnalysis.topTfidfTermsLog(
        Tables.load(s, dir, "documents"), "text", "doc_id", k = 3)
    },

    // corpus vocabulary: top-50 tokens by frequency (tokenizer-training /
    // stopword-audit precursor); global top-N is TakeOrderedAndProject —
    // per-task top-N, never the vocabulary on one node
    "q_vocab" -> { (s, dir) =>
      graft.ml.TextAnalysis.vocabulary(
        Tables.load(s, dir, "documents"), "text", minCount = 3, topN = 50)
    },

    // incremental vocabulary: even docs appended as run 1, odds as run 2
    // (with a compaction between), then the ranked view from the STORE —
    // which must equal the whole-corpus vocabulary (the q_vocab oracle)
    "q_vocab_store" -> { (s, dir) =>
      import s.implicits._
      val ta = graft.ml.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
      val store = gateTmpDir("vocab-store") + "/vocab"
      ta.appendToVocabStore(docs.filter($"doc_id" % 2 === 0), "text", store)
      ta.compactVocabStore(s, store, targetFiles = 4)
      ta.appendToVocabStore(docs.filter($"doc_id" % 2 === 1), "text", store)
      ta.vocabularyFromStore(s, store, minCount = 3, topN = 50)
    },

    // BPE encode with a FIXED merge table: the full token sequence and
    // count per doc, which the oracle replays with a recursive CTE
    // applying the same leftmost-lowest-rank merge loop (the CTE itself
    // was validated against an independent Python BPE before landing)
    "q_bpe_encode" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val enc = graft.ml.Bpe.encode(docs, "text", bpeGateMerges)
      enc.filter(size(col("bpe_tokens")) > 0)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_tokens"),
          array_join(col("bpe_tokens"), "|").as("bpe"))
    },

    // BPE end-to-end on TRAINED merges: distributed word counts → driver
    // merge learning → broadcast-free plan-embedded encode; the oracle
    // checks losslessness (tokens re-concatenate to the normalized text)
    // — merge CONTENT is pinned by q_bpe_encode and the BpeSpec trainer
    // fixtures
    "q_bpe_roundtrip" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val merges = graft.ml.Bpe.train(docs, "text", numMerges = 40, maxWords = 1000)
      val codec = graft.functions.BpeCodec(merges, unicode = false)
      docs.select(col("doc_id"),
        array_join(transform(
          filter(split(lower(col("text")), "\\s+"), w => length(w) > 0),
          w => concat_ws("", graft.functions.BpeFns.bpeTokens(w, codec))),
          " ").as("rejoined"))
    },

    // per-doc 5-gram novelty vs a reference corpus (first 10 docs play
    // the already-trained-on set): the scoring complement of
    // decontamination — exact integer-division fractions the oracle
    // reproduces bit-for-bit
    "q_novelty" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      graft.ml.TextAnalysis.ngramNovelty(docs, docs.filter($"doc_id" < 10),
        "text", "doc_id", "text", n = 5)
    },

    // stupid-backoff trigram LM perplexity scoring (the CCNet-style
    // quality arm): model trained on the first 10 docs, every doc scored.
    // Gate columns are the branch-decision integers plus sum_prob, whose
    // ratio-of-counts arithmetic (IEEE divide/multiply/add only, no
    // transcendentals, position-ordered sum) replays bit-for-bit in the
    // oracle — validated against an independent Python stupid-backoff
    // before landing. log_prob/perplexity (ln/exp are not cross-engine
    // reproducible) are spec-pinned in NgramLmSpec instead.
    "q_ngram_lm" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val model = graft.ml.NgramLm.train(docs.filter($"doc_id" < 10),
        "text", order = 3, minCount = 2)
      graft.ml.NgramLm.score(docs, model, "text", "doc_id",
          order = 3, alpha = 0.4)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("matched_full"), col("backoff"), col("oov"), col("sum_prob"))
    },

    // WARC web-crawl ingestion round-trip: the first 200 documents are
    // serialized as per-record gzip members of one .warc.gz (bounded
    // toLocalIterator drain — fixture synthesis, not an operator path),
    // then read back through WarcReader's streaming parser; the oracle
    // is the documents table itself. Proves header parsing, HTTP
    // envelope split, multi-member gzip, and byte-exact payloads.
    "q_warc_read" -> { (s, dir) =>
      import scala.jdk.CollectionConverters._
      val docs = Tables.load(s, dir, "documents")
      val fpath = java.nio.file.Paths.get(gateTmpDir("warc"), "docs.warc.gz")
      val os = java.nio.file.Files.newOutputStream(fpath)
      try {
        docs.filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
          .orderBy("doc_id").toLocalIterator().asScala.foreach { r =>
            os.write(graft.sources.WarcReader.gzipMember(
              graft.sources.WarcReader.responseRecord(
                s"http://docs.example/${r.getLong(0)}",
                "2026-01-01T00:00:00Z", s"<urn:uuid:${r.getLong(0)}>",
                r.getString(1).getBytes("UTF-8"))))
          }
      } finally os.close()
      graft.sources.WarcReader.read(s, fpath.toString)
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long")
            .as("doc_id"),
          decode(col("payload"), "UTF-8").as("text"))
    },

    // the write twin of q_warc_read: the first 200 documents exported as
    // WET-style conversion records by the DISTRIBUTED writer (4 partitions
    // → 4 .warc.gz files), then read back through the glob reader —
    // proves the round trip through both operator paths end to end
    "q_warc_write" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val out = gateTmpDir("warc-write")
      val summary = graft.sources.WarcWriter.write(
        docs.filter(col("doc_id") < 200)
          .select(concat(lit("http://docs.example/"), col("doc_id")).as("uri"),
            col("text")).repartition(4),
        out, "uri", "text", date = "2026-01-01T00:00:00Z")
      assert(summary.agg(sum("records")).head.getLong(0) == 200L)
      graft.sources.WarcReader.read(s, s"$out/*.warc.gz")
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long")
            .as("doc_id"),
          decode(col("payload"), "UTF-8").as("text"))
    },

    // the audit twin of q_decontaminate: WHICH benchmark item leaked
    // into WHICH doc, with the shared distinct-gram count
    "q_contamination_report" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      graft.ml.Dedup.contaminationReport(docs,
        docs.filter($"doc_id" < 10).withColumnRenamed("doc_id", "bid"),
        "text", "doc_id", "bid", n = 5)
    },

    // benchmark decontamination: first 10 docs play the benchmark set
    "q_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      graft.ml.Dedup.decontaminate(docs, docs.filter($"doc_id" < 10),
          "text", "doc_id", n = 5)
        .select($"doc_id", $"source")
    },

    // ---- dataset assembly: deterministic mixing / splits / packing ----
    // (portable01 hash so the oracle computes the identical fractions)
    "q_mix_sample" -> { (s, dir) =>
      import s.implicits._
      graft.ml.DatasetOps.sampleByWeights(
        Tables.load(s, dir, "documents"), "source",
        Map("src0" -> 1.0, "src1" -> 0.25, "src2" -> 0.0),
        defaultWeight = 0.5,
        graft.ml.DatasetOps.portable01($"doc_id", seed = 7))
        .select($"doc_id", $"source")
    },

    "q_split_assign" -> { (s, dir) =>
      import s.implicits._
      graft.ml.DatasetOps.assignSplits(
        Tables.load(s, dir, "documents"),
        graft.ml.DatasetOps.portable01($"doc_id", seed = 1),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select($"doc_id", $"split")
    },

    "q_global_shuffle" -> { (s, dir) =>
      // the (key, pos) mapping carries the shuffle ORDER through the
      // driver's row-sorted compare; the corpus-scale path is
      // globalShuffle (range shuffle + sort, plan-pinned)
      graft.ml.DatasetOps.shuffleWithPosition(
        Tables.load(s, dir, "documents").select("doc_id"), "doc_id", "sd")
    },

    // Range-sorted export + self-audit: write documents range-partitioned
    // by doc_id into 4 internally-sorted parquet files, then prove the
    // pruning contract FROM THE FILES — every file's key span disjoint
    // (rank rows) and the full content round-tripped (count + key sum).
    // Only a real range shuffle + sorted write satisfies both sections.
    "q_sorted_write" -> { (s, dir) =>
      val out = gateTmpDir("sorted-write")
      val ops = graft.ml.DatasetOps
      ops.writeRangeSorted(
        Tables.load(s, dir, "documents").select("doc_id", "text", "source"),
        "doc_id", out, files = 4)
      val files = ops.auditFileRanges(s, out, "doc_id")
        .select(lit("file").as("kind"), col("file_rank"), col("disjoint"),
          lit(null).cast("long").as("n_rows"),
          lit(null).cast("long").as("id_sum"))
      val content = s.read.parquet(out)
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum"))
        .select(lit("content").as("kind"), lit(0).cast("int").as("file_rank"),
          lit(true).as("disjoint"), col("n_rows"), col("id_sum"))
      files.unionByName(content)
    },

    "q_quota_sample" -> { (s, dir) =>
      // n = 18 BINDS at sf0.01 (every source group holds 25 docs): the
      // r15 gate-layer audit found the old n = 30 never truncated
      // anything — the quota logic was invisible to the gate (a
      // mutation of n changed nothing). 18 × 20 sources = 360 rows kept.
      graft.ml.DatasetOps.sampleQuota(
        Tables.load(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", 18, "qs")
    },

    // embedding-space topic balance: in-row nearest-centroid assignment
    // (centroids = the IVF seed convention, vec_id < 8) + per-cluster
    // quota; the cluster-quota complement of q_quota_sample
    "q_cluster_balance" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long").as("cell_id"),
          col("embedding").as("centroid"))
      graft.ml.DatasetOps.balanceByCluster(
        emb.select("vec_id", "embedding"), "embedding", "vec_id",
        cents, perCluster = 40)
        .select("vec_id", "cluster_id")
    },

    "q_seq_pack" -> { (s, dir) =>
      import s.implicits._
      graft.ml.DatasetOps.packSequences(
        Tables.load(s, dir, "documents"), "text", "doc_id", "source",
        budget = 512)
        .select($"doc_id", $"n_tokens", $"seq_start", $"bin", $"bin_offset",
          $"bins_spanned")
    },

    // URL canonicalization + dedup: URLs synthesized from events columns
    // (the corpus tables carry no URL column) — casing, default port,
    // tracking params, fragment and param order all vary per row
    "q_url_dedup" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", concat(
          lit("HTTPS://Cdn.Example.COM:443/"), $"event_type",
          lit("/p?utm_source=t&id="), ($"user_id" % 7).cast("string"),
          lit("&x=1#s"), $"event_id".cast("string")).as("url"))
      graft.ml.DatasetOps.dedupByUrl(ev, "url", "event_id")
    },

    // Crawl outlink extraction: deterministic hrefs (mixed quoting/case)
    // appended to each document, exploded to (doc, url, host)
    "q_outlinks" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val html = docs.select(col("doc_id"), concat(
        col("text"),
        lit(" <a href=\"http://h"), (col("doc_id") % 13).cast("string"),
        lit(".example/p/"), col("doc_id").cast("string"), lit("\">x</a>"),
        lit(" <A HREF='HTTPS://H"), ((col("doc_id") + 5) % 13).cast("string"),
        lit(".EXAMPLE/q'>y</A>")).as("html"))
      graft.ml.LinkGraph.extractOutlinks(html, "html", "doc_id")
        .select(col("doc_id"), col("dst_url"),
          graft.ml.LinkGraph.host(col("dst_url")).as("dst_host"))
    },

    // Host-graph aggregation over synthesized absolute URLs (self-loops
    // at residue 6 are dropped; multiplicities = docs per residue pair)
    "q_host_graph" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val links = docs.select(
        concat(lit("http://h"), (col("doc_id") % 13).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("src_url"),
        concat(lit("https://h"), ((col("doc_id") * 3 + 1) % 13).cast("string"),
          lit(".example/q")).as("dst_url"))
      graft.ml.LinkGraph.hostGraph(links, "src_url", "dst_url")
    },

    // Chunk-embedding mean-pool: 10 consecutive vec_ids per "document";
    // ordered element-wise fold so the double sums replay bit-for-bit
    "q_vec_pool" -> { (s, dir) =>
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      // the vector column itself can't hash-compare (array of doubles) —
      // pin it through one more ordered fold: dim + bit-exact element sum
      graft.ml.Similarity.poolEmbeddings(
        vecs.withColumn("doc", col("vec_id") % 50), "embedding", "doc", "vec_id")
        .select(col("doc"), col("n_chunks"), size(col("embedding")).as("dim"),
          aggregate(col("embedding"), lit(0.0d), (a, x) => a + x).as("vec_sum"))
    },

    // Cavnar–Trenkle trigram language ID: rank profiles trained on the
    // labeled corpus, every doc classified by integer out-of-place
    // distance — training AND inference in one deterministic plan
    "q_langid" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val profiles = graft.ml.LangId.trainProfiles(docs, "text", "lang", topK = 100)
      graft.ml.LangId.classify(docs, "text", "doc_id", profiles, topK = 100)
    },

    // Compression-ratio spam signal (deflate_len codegen Expression).
    // NO SQL ORACLE — DuckDB has no deflate — so the driver can only
    // count rows; the gate is SELF-CHECKING instead (r14 verdict task
    // 3): three rounds of beige `no_oracle` could have hidden any
    // kernel regression. The ratio VALUES are pinned by CompressFnsSpec
    // fixtures; checkCompressionGate (mutation-tested in its own spec)
    // fails the whole Verify run loudly on an out-of-contract frame.
    "q_compression_ratio" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        graft.functions.CompressFns.compressionRatio(col("text"))
          .as("compression_ratio"))
      checkCompressionGate(scored, expectedRows = docs.count())
        .select("doc_id", "compression_ratio")
    },

    // Domain-suffix blocklist: hosts sub.h{k}.example; entries block k=3,7
    // at the registrable-domain level (subdomain matches by suffix) and
    // k=5 only at the exact subdomain
    "q_block_hosts" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), concat(lit("http://sub.h"),
          (col("doc_id") % 10).cast("string"), lit(".example/p/"),
          col("doc_id").cast("string")).as("url"))
      val bl = Seq("h3.example", "h7.example", "sub.h5.example").toDF("domain")
      graft.ml.Blocklist.dropBlockedHosts(docs, "url", bl)
        .select("doc_id", "url")
    },

    // Blocked-term presence (distinct case-folded whole tokens): keep
    // documents with fewer than 2 of the listed terms
    "q_block_terms" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val terms = Seq("slow", "merge").toDF("term")
      graft.ml.Blocklist.flagBlockedTerms(docs, "text", "doc_id", terms,
        maxHits = 2).select("doc_id", "bad_hits", "keep")
    },

    // Cross-crawl webgraph store: the same link set appended as two
    // "crawls" (doc_id halves), partials summed on read — the merged
    // store must reproduce the whole-corpus host graph exactly
    "q_host_graph_store" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def links(d: DataFrame) = d.select(
        concat(lit("http://h"), (col("doc_id") % 13).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("src_url"),
        concat(lit("https://h"), ((col("doc_id") * 3 + 1) % 13).cast("string"),
          lit(".example/q")).as("dst_url"))
      val store = gateTmpDir("host-graph") + "/edges"
      graft.ml.LinkGraph.appendToHostGraphStore(
        links(docs.filter(col("doc_id") < 250)), "src_url", "dst_url", store)
      graft.ml.LinkGraph.appendToHostGraphStore(
        links(docs.filter(col("doc_id") >= 250)), "src_url", "dst_url", store)
      graft.ml.LinkGraph.readHostGraphStore(s, store)
    },

    // Fixed-point PageRank over a host graph derived from doc_id residues
    // (quadratic + affine link rules mod 13 → uneven in-degrees). Scaled
    // INTEGER arithmetic end to end: bit-reproducible at any partition
    // count, and the oracle replays the identical `div`/`%` lattice
    "q_pagerank" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val r = docs.select((col("doc_id") % 13).as("r")).distinct()
      val edges = r.select(
          concat(lit("h"), col("r").cast("string")).as("src"),
          concat(lit("h"), ((col("r") * col("r") + 1) % 13).cast("string")).as("dst"))
        .union(r.select(
          concat(lit("h"), col("r").cast("string")).as("src"),
          concat(lit("h"), ((col("r") * 2 + 5) % 13).cast("string")).as("dst")))
      graft.ml.LinkGraph.pageRank(edges, "src", "dst", iterations = 5)
    },

    // Degree-distribution audit (the pre-flight hub-skew check before
    // iterative graph jobs) over a multiplicity-rich edge list: src
    // spreads over 37 hosts, dst follows the residue-product law
    // (d%11)·(d%13) whose heavy tail gives real percentile variance at
    // sf0.01 (58 in-nodes, degrees 1..100, p99 interpolates FRACTIONALLY
    // — 89.17 vs quantile_disc's 100, so a cont-vs-disc estimator
    // mutation moves the value), plus a planted hub holding 1/6 of all
    // edges (hub_share = 100/600). Scale-dependent: documents grows
    // 500 → 5,000 at sf0.1, shifting every quantile — in SCALE_GATES.
    "q_graph_degrees" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val src = concat(lit("h"), (col("doc_id") % 37).cast("string"))
      val edges = docs.select(src.as("src"),
          concat(lit("h"), ((col("doc_id") % 11) * (col("doc_id") % 13))
            .cast("string")).as("dst"))
        .union(docs.filter(col("doc_id") % 5 === 0)
          .select(src.as("src"), lit("hub").as("dst")))
      graft.ml.LinkGraph.degreeStats(edges, "src", "dst")
    },

    // Bloom-filter decontamination. Probabilistic in general, but the
    // sketch below is ~30x oversized (2^16 capacity vs ~2k inserted
    // grams) so the effective FPR is ≪ 1e-6 and the exact-set SQL is a
    // safe oracle at sf0.01. If a testdata regeneration ever flakes the
    // hash compare, a Bloom false positive removed an extra doc — bump
    // expectedItems rather than chasing an engine bug.
    "q_bloom_decontam" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      graft.ml.DatasetOps.bloomDecontaminate(docs,
          docs.filter($"doc_id" < 10), "text", "doc_id", n = 5,
          expectedItems = 1L << 16)
        .select($"doc_id", $"source")
    },

    // ---- join pipeline (Translate/IPIP-style enrichment at scale:
    //      dims are broadcast, fact side never shuffles for the join) ----
    "q5_region_revenue" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val o  = Tables.load(s, dir, "orders")
      val c  = Tables.load(s, dir, "customer")
      val su = Tables.load(s, dir, "supplier")
      val n  = Tables.load(s, dir, "nation")
      val r  = Tables.load(s, dir, "region")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(su), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .where($"r_name" === "ASIA" &&
          $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
        .groupBy($"n_name")
        .agg(sum(($"l_extendedprice".cast(Dec) * ($"l_discount".cast(Dec) * lit(-1) + lit(1))))
          .cast("double").as("revenue"))
    },

    // Skew-salted shuffle join: the (key, salt) rewrite must be
    // row-for-row the plain equi-join — the oracle IS the unsalted SQL
    // join. Hot left keys spread over 8 reducers instead of one; the
    // SkewJoinSpec pins that the physical join keys carry the salt.
    "q_salted_join" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
      val p = Tables.load(s, dir, "part")
        .select($"p_partkey", $"p_brand", $"p_size")
      graft.operators.SkewJoin.saltedJoin(li, p, "l_partkey", "p_partkey",
          salt = 8)
        .filter($"p_size" <= 5)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"p_brand")
    },

    // Corpus snapshot diff: the old version dropped every %10==3 doc and
    // carried a stale text for %10==5 — the diff must read added/changed
    // exactly, moving only (id, hash) rows through the join
    "q_corpus_diff" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val old = docs.filter($"doc_id" % 10 =!= 3)
        .withColumn("text", when($"doc_id" % 10 === 5,
          concat($"text", lit(" v2"))).otherwise($"text"))
      graft.ml.DatasetOps.corpusDiff(old, docs, "doc_id", "text")
    },

    // Inverted index in row form: tokens seen in ≥5 docs, first 3
    // postings each — df and rank computed in ONE window pass, never a
    // collect_list of a stop-word's full posting chain
    "q_inverted_index" -> { (s, dir) =>
      graft.ml.TextAnalysis.invertedIndex(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        minDf = 5L, maxPostings = 3)
    },

    // Morton z-value over (l_orderkey, l_partkey): equi-width buckets
    // from lazily-broadcast bounds, bit-interleave in a codegen'd
    // kernel — the clustering key writeZOrdered sorts exports by
    "q_zorder" -> { (s, dir) =>
      graft.ml.DatasetOps.withZValue(
        Tables.load(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey"), bits = 8, zName = "z")
        .select(col("l_orderkey"), col("l_linenumber"), col("z"))
    },

    // Token-budget mixture plan: relative weights + a 30k-token budget
    // sized against each source's REAL token mass; src0's 3× weight
    // overshoots its mass, so its rate clamps at 1 and the deficit
    // column carries the shortfall (the audit the clamp would otherwise
    // hide)
    "q_mix_plan" -> { (s, dir) =>
      graft.ml.DatasetOps.planMixture(
        Tables.load(s, dir, "documents"), "source", "text",
        Map("src0" -> 3.0, "src1" -> 2.0), defaultWeight = 1.0,
        totalBudget = 30000L)
    },

    // temperature mixture (mC4/XLM-R): weights derive from the data
    // itself, w = (n/N)^alpha. alpha = 0.5 = sqrt — IEEE requires sqrt
    // correctly rounded, so every double here replays bit-for-bit; the
    // normalizer folds the group-sorted weight array (never a partition-
    // order float sum)
    "q_mix_temperature" -> { (s, dir) =>
      graft.ml.DatasetOps.temperatureMixture(
        Tables.load(s, dir, "documents"), "source", "text",
        totalBudget = 20000L, alpha = 0.5)
    },

    // the plan applied: per-source keep rates decided by the portable
    // per-doc fraction — reproducible, broadcast-rate, shuffle-free
    "q_mix_apply" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val plan = graft.ml.DatasetOps.planMixture(docs, "source", "text",
        Map("src0" -> 3.0, "src1" -> 2.0), 1.0, 30000L)
      graft.ml.DatasetOps.applyMixture(docs, plan, "source",
          graft.ml.DatasetOps.portable01(col("doc_id"), seed = 3))
        .select("doc_id", "source")
    },

    // Exact KNN self-join (every vector's 3 nearest others) — the
    // verifiable baseline; the IVF-celled scale arm is recall-gated in
    // KnnJoinSpec against this exact result. Bounded to a 1k-vector
    // panel (a no-op at verify SF): brute is quadratic BY CONTRACT, and
    // the bench should time the kernel, not pay 25M pairs per round
    "q_knn" -> { (s, dir) =>
      import s.implicits._
      graft.ml.Similarity.knnJoinBrute(
        Tables.load(s, dir, "embeddings").filter($"vec_id" < 1000),
        "embedding", "vec_id", k = 3)
    },
  )

  /** DuckDB SQL for the SRP-LSH bucket id over a DOUBLE[] column `v`:
    * mirrors Similarity.srpBucket bit-for-bit (same md5-derived planes,
    * same left-fold summation order). */
  private def srpBucketSql(numPlanes: Int, dim: Int): String =
    s"""list_sum([CASE WHEN list_reduce([v[i+1] * ((CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 25, 8)) AS BIGINT) % 2001 - 1000) / 1000.0) for i in range(0, $dim)], (x, y) -> x + y) >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END for p in range(0, $numPlanes)])"""

  /** Shared ANN oracle bodies: each is a complete SELECT used both as
    * its own gate's oracle and as a subquery arm of q_ann_recall. */
  /** Fixed merge table for q_bpe_encode — multi-level chains (t+a+b+l+e,
    * s+c+a+n, a+g+g) plus overlapping rules ((t,a) vs (ta,b); (r,o) vs
    * (o,r)) so rank precedence and leftmost choice are both exercised.
    * The oracle inlines the same table as VALUES. */
  private val bpeGateMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
    "s" -> "c", "sc" -> "a", "sca" -> "n", "a" -> "g", "ag" -> "g",
    "r" -> "o", "ro" -> "w", "o" -> "r", "e" -> "r")

  /** Shared by q_vocab (direct) and q_vocab_store (store-merged): the
    * incremental store must reproduce the whole-corpus vocabulary. */
  private val vocabOracle: String =
    """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), counts AS (
        |  SELECT token, count(*) AS cnt FROM toks WHERE token <> ''
        |  GROUP BY 1 HAVING count(*) >= 3
        |)
        |SELECT token, cnt, rank FROM (
        |  SELECT token, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
        |  FROM counts)
        |WHERE rank <= 50""".stripMargin

  private val embTopkOracle: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    list_reduce(list_zip(q.qv, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |    sqrt(list_reduce(list_zip(q.qv, q.qv).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |         list_reduce(list_zip(c.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b)) AS sim
        |  FROM c, q)
        |SELECT query_id, vec_id, rank, sim FROM (
        |  SELECT *, CAST(row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin
  private val annLshOracle: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, ${srpBucketSql(6, 64)} AS bucket FROM c),
        |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, b.vec_id,
        |    list_reduce(list_zip(q.qv, b.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb) /
        |    sqrt(list_reduce(list_zip(q.qv, q.qv).apply(x -> x[1]*x[2]), (a,bb) -> a+bb) *
        |         list_reduce(list_zip(b.v, b.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb)) AS sim
        |  FROM b JOIN q USING (bucket))
        |SELECT query_id, vec_id, rank, sim FROM (
        |  SELECT *, CAST(row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin
  /** The multi-probe arm: q_ann_lsh's oracle plus the 6 one-bit-flip
    * probe buckets per query (bucket XOR 2^p). */
  private val annLshMpOracle: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id, v, ${srpBucketSql(6, 64)} AS bucket FROM c),
      |q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
      |q AS (SELECT query_id, qv, xor(bucket, CAST(f.f AS BIGINT)) AS bucket
      |      FROM q0, (VALUES (0), (1), (2), (4), (8), (16), (32)) f(f)),
      |scored AS (
      |  SELECT q.query_id, b.vec_id,
      |    list_reduce(list_zip(q.qv, b.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb) /
      |    sqrt(list_reduce(list_zip(q.qv, q.qv).apply(x -> x[1]*x[2]), (a,bb) -> a+bb) *
      |         list_reduce(list_zip(b.v, b.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb)) AS sim
      |  FROM b JOIN q USING (bucket))
      |SELECT query_id, vec_id, rank, sim FROM (
      |  SELECT *, CAST(row_number() OVER
      |    (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  private val annIvfOracle: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell_id, v AS cent FROM c WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT c.vec_id, c.v, cents.cell_id,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        list_reduce(list_zip(c.v, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |        sqrt(list_reduce(list_zip(c.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |             list_reduce(list_zip(cents.cent, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b))
        |        DESC, cents.cell_id) AS rn
        |    FROM c, cents) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, qv, cell_id FROM (
        |    SELECT q.vec_id AS query_id, q.v AS qv, cents.cell_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_reduce(list_zip(q.v, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |        sqrt(list_reduce(list_zip(q.v, q.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |             list_reduce(list_zip(cents.cent, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b))
        |        DESC, cents.cell_id) AS rn
        |    FROM c q, cents WHERE q.vec_id < 5) WHERE rn <= 3)
        |SELECT query_id, vec_id, rank, sim FROM (
        |  SELECT sc.query_id, sc.vec_id, sc.sim,
        |    CAST(row_number() OVER (PARTITION BY sc.query_id ORDER BY sc.sim DESC, sc.vec_id) AS INT) AS rank
        |  FROM (
        |    SELECT p.query_id, a.vec_id,
        |      list_reduce(list_zip(p.qv, a.v).apply(x -> x[1]*x[2]), (x,y) -> x+y) /
        |      sqrt(list_reduce(list_zip(p.qv, p.qv).apply(x -> x[1]*x[2]), (x,y) -> x+y) *
        |           list_reduce(list_zip(a.v, a.v).apply(x -> x[1]*x[2]), (x,y) -> x+y)) AS sim
        |    FROM asg a JOIN probes p USING (cell_id)) sc)
        |WHERE rank <= 5""".stripMargin


  /** Strict-mode funnel oracle: the modes are scan-order-defined (a
    * violation freezes the scan), so unlike q_funnel's declarative
    * EXISTS-chain oracle this one REPLAYS the identical scan as a
    * recursive CTE — per user, event rn joins the rn-1 state row, state
    * being the per-level chain starts s1..s3 / last-times l1..l3 and the
    * frozen / first-event flags, exactly the strictLevel fold's slots.
    * Validated against an independent Python reimplementation on the
    * sf0.01 events table (all three modes byte-identical). */
  private def funnelStrictOracle(mode: String,
      tsExpr: String = "epoch_us(ts)"): String = {
    val (evFilter, viol, inc) = mode match {
      case "strict_order" => ("",
        "(q0.s = -1 AND q0.fe) OR (q0.s = 1 AND q0.s1 < 0) OR (q0.s = 2 AND q0.s2 < 0)",
        false)
      case "strict_dedup" => ("WHERE s >= 0",
        "(q0.s = 0 AND q0.s1 >= 0) OR (q0.s = 1 AND q0.s2 >= 0) OR (q0.s = 2 AND q0.s3 >= 0)",
        false)
      case "strict_increase" => ("WHERE s >= 0", "FALSE", true)
    }
    val ext1Inc = if (inc) " AND q2.l1 < q2.t" else ""
    val ext2Inc = if (inc) " AND q2.l2 < q2.t" else ""
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, $tsExpr AS t,
       |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
       |         WHEN 'purchase' THEN 2 ELSE -1 END AS s
       |  FROM events
       |), evf AS (SELECT * FROM ev $evFilter),
       |ordered AS (
       |  SELECT user_id, t, s,
       |         row_number() OVER (PARTITION BY user_id ORDER BY t, s) AS rn
       |  FROM evf
       |),
       |ucnt AS (SELECT user_id, max(rn) AS cnt FROM ordered GROUP BY user_id),
       |st AS (
       |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
       |    CAST(-1 AS BIGINT) AS s1, CAST(-1 AS BIGINT) AS s2, CAST(-1 AS BIGINT) AS s3,
       |    CAST(-1 AS BIGINT) AS l1, CAST(-1 AS BIGINT) AS l2, CAST(-1 AS BIGINT) AS l3,
       |    FALSE AS frozen, FALSE AS fe
       |  FROM ucnt
       |  UNION ALL
       |  SELECT q3.user_id, q3.rn,
       |    CASE WHEN q3.go AND q3.s = 0 THEN q3.t ELSE q3.s1 END,
       |    CASE WHEN q3.ext1 THEN q3.s1 ELSE q3.s2 END,
       |    CASE WHEN q3.ext2 THEN q3.s2 ELSE q3.s3 END,
       |    CASE WHEN q3.go AND q3.s = 0 THEN q3.t ELSE q3.l1 END,
       |    CASE WHEN q3.ext1 THEN q3.t ELSE q3.l2 END,
       |    CASE WHEN q3.ext2 THEN q3.t ELSE q3.l3 END,
       |    q3.frozen OR q3.viol,
       |    q3.fe OR (q3.go AND q3.s = 0)
       |  FROM (
       |    SELECT q2.*,
       |      q2.go AND q2.s = 1 AND q2.s1 >= 0 AND q2.t - q2.s1 <= 86400000000$ext1Inc AS ext1,
       |      q2.go AND q2.s = 2 AND q2.s2 >= 0 AND q2.t - q2.s2 <= 86400000000$ext2Inc AS ext2
       |    FROM (
       |      SELECT q1.*, (NOT q1.frozen) AND NOT q1.viol AS go
       |      FROM (
       |        SELECT q0.*, (NOT q0.frozen) AND ($viol) AS viol
       |        FROM (
       |          SELECT st.user_id, o.rn, o.t, o.s,
       |                 st.s1, st.s2, st.s3, st.l1, st.l2, st.l3, st.frozen, st.fe
       |          FROM st JOIN ordered o
       |            ON o.user_id = st.user_id AND o.rn = st.rn + 1
       |        ) q0
       |      ) q1
       |    ) q2
       |  ) q3
       |)
       |SELECT st.user_id,
       |  CASE WHEN s3 >= 0 THEN 3 WHEN s2 >= 0 THEN 2 ELSE 1 END AS funnel_level
       |FROM st JOIN ucnt USING (user_id)
       |WHERE st.rn = ucnt.cnt AND s1 >= 0""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * ORACLE-AUTHORING DTYPE CHECKLIST (the driver hashes RENDERED pandas
    * values, so dtype splits fail gates even when values are equal —
    * the r11 q_pagerank red):
    *  - DuckDB `SUM(BIGINT)` / integer `*` chains returning HUGEINT
    *    materialize as pandas float64 → wrap the OUTPUT column in
    *    `CAST(... AS BIGINT)` whenever Spark emits int64. COUNT() is
    *    safe (BIGINT); SUM over DOUBLE is safe (double on both sides).
    *  - DuckDB `/` on integers is FLOAT division; use `//` for exact
    *    integer division inside integer lattices.
    *  - tools/check_oracle.py enforces this locally: any int/float kind
    *    split between oracle and engine output is a FAIL. Run it after
    *    adding any oracle whose output flows through SUM or `*`. */
  def oracleSql: Map[String, String] = Map(
    "q_funnel_strict" -> funnelStrictOracle("strict_order"),
    "q_funnel_dedup" -> funnelStrictOracle("strict_dedup"),
    "q_funnel_increase" -> funnelStrictOracle("strict_increase",
      tsExpr = "epoch_us(date_trunc('hour', ts))"),

    // greedy non-overlapping chain count, replayed as a (ptr, cnt) scan —
    // the sequence family's recursive-CTE oracle (steps are disjoint
    // event types here, so one CASE per event suffices)
    "q_sequence_count" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |         WHEN 'purchase' THEN 2 ELSE -1 END AS s
        |  FROM events
        |), evf AS (SELECT * FROM ev WHERE s >= 0),
        |ordered AS (
        |  SELECT user_id, t, s,
        |         row_number() OVER (PARTITION BY user_id ORDER BY t, s) AS rn
        |  FROM evf
        |),
        |ucnt AS (SELECT user_id, max(rn) AS cnt FROM ordered GROUP BY user_id),
        |st AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
        |         CAST(0 AS BIGINT) AS ptr, CAST(0 AS BIGINT) AS cnt
        |  FROM ucnt
        |  UNION ALL
        |  SELECT q.user_id, q.rn,
        |    CASE WHEN q.np = 3 THEN 0 ELSE q.np END,
        |    CASE WHEN q.np = 3 THEN q.cnt + 1 ELSE q.cnt END
        |  FROM (
        |    SELECT st.user_id, o.rn, st.cnt,
        |      CASE WHEN o.s = st.ptr THEN st.ptr + 1 ELSE st.ptr END AS np
        |    FROM st JOIN ordered o
        |      ON o.user_id = st.user_id AND o.rn = st.rn + 1) q
        |)
        |SELECT st.user_id, st.cnt AS n_matches
        |FROM st JOIN ucnt USING (user_id) WHERE st.rn = ucnt.cnt""".stripMargin,

    // INDEPENDENT declarative oracle: exists view ≤ click ≤ purchase —
    // greedy existence must equal the exists-chain reading
    "q_sequence_match" ->
      """WITH d1 AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
        |), m AS (
        |  SELECT DISTINCT v.user_id
        |  FROM (SELECT user_id, ts FROM d1 WHERE event_type = 'view') v
        |  JOIN (SELECT user_id, ts FROM d1 WHERE event_type = 'click') c
        |    ON c.user_id = v.user_id AND c.ts >= v.ts
        |  JOIN (SELECT user_id, ts FROM d1 WHERE event_type = 'purchase') p
        |    ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT user_id, user_id IN (SELECT user_id FROM m) AS matched
        |FROM (SELECT DISTINCT user_id FROM d1
        |      WHERE event_type IN ('view', 'click', 'purchase'))""".stripMargin,

    "q_retention_flags" ->
      """SELECT user_id, c1 AS r1,
        |  CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END AS r2,
        |  CASE WHEN c1 = 1 AND c3 = 1 THEN 1 ELSE 0 END AS r3
        |FROM (SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c1,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3
        |  FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
        |  GROUP BY user_id)""".stripMargin,

    // BMP is lossless and GIF's palette covers the ≤231-color fixture:
    // the round-trip must be bit-exact per row, stated as constants
    "q_image_formats" ->
      """SELECT f.fmt, d.doc_id AS media_id,
        |  TRUE AS dims_match, TRUE AS pixel_exact
        |FROM documents d, (SELECT unnest(['bmp', 'gif']) AS fmt) f""".stripMargin,

    // the JPEG transcode is lossy, so unlike q_image_phash the oracle
    // cannot re-derive pixel values — it states the measured invariants
    // (dims preserved, both hashes within their hamming balls) as
    // per-row constants; only a real JPEG decode on the Spark side
    // satisfies them
    "q_image_phash_jpeg" ->
      """SELECT doc_id AS media_id, TRUE AS dims_match,
        |  TRUE AS dhash_close, TRUE AS ahash_close
        |FROM documents""".stripMargin,
    "q_ann_lsh" -> annLshOracle,

    "q_ann_int8" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qz AS (
        |  SELECT vec_id, v, [CAST(round(x * 127.0 / s) AS INT) for x in v] AS q, s AS scale
        |  FROM (SELECT vec_id, v, list_max([abs(x) for x in v]) AS s FROM c)),
        |qs AS (SELECT vec_id AS query_id, v AS qv, q AS qq, scale AS qscale
        |       FROM qz WHERE vec_id < 5),
        |approx AS (
        |  SELECT qs.query_id, qz.vec_id, qs.qv, qz.v,
        |    list_reduce(list_zip(CAST(qs.qq AS DOUBLE[]), CAST(qz.q AS DOUBLE[]))
        |      .apply(x -> x[1]*x[2]), (a,b) -> a+b) * qs.qscale * qz.scale / (127.0*127.0) AS approx
        |  FROM qz, qs),
        |cand AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS arank
        |    FROM approx)
        |  WHERE arank <= 50)
        |SELECT query_id, vec_id, rank, sim FROM (
        |  SELECT query_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM (
        |    SELECT query_id, vec_id,
        |      list_reduce(list_zip(qv, v).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |      sqrt(list_reduce(list_zip(qv, qv).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |           list_reduce(list_zip(v, v).apply(x -> x[1]*x[2]), (a,b) -> a+b)) AS sim
        |    FROM cand))
        |WHERE rank <= 5""".stripMargin,

    "q_ann_ivf" -> annIvfOracle,

    // probe-cost audit: cell assignment and probe ranking replay the
    // annIvfOracle CTEs; candidates per query = sum of probed cells'
    // sizes. Both nprobe arms derive from ONE ranked probe list.
    "q_ann_probes" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell_id, v AS cent FROM c WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cell_id FROM (
        |    SELECT c.vec_id, cents.cell_id,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        list_reduce(list_zip(c.v, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |        sqrt(list_reduce(list_zip(c.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |             list_reduce(list_zip(cents.cent, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b))
        |        DESC, cents.cell_id) AS rn
        |    FROM c, cents) WHERE rn = 1),
        |sizes AS (SELECT cell_id, count(*)::BIGINT AS cell_n FROM asg GROUP BY 1),
        |pr AS (
        |  SELECT query_id, cell_id, rn FROM (
        |    SELECT q.vec_id AS query_id, cents.cell_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_reduce(list_zip(q.v, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |        sqrt(list_reduce(list_zip(q.v, q.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |             list_reduce(list_zip(cents.cent, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b))
        |        DESC, cents.cell_id) AS rn
        |    FROM c q, cents WHERE q.vec_id < 5) WHERE rn <= 3)
        |SELECT np.np AS nprobe, pr.query_id,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(coalesce(sizes.cell_n, 0)) AS BIGINT) AS n_candidates
        |FROM (VALUES (1), (3)) np(np)
        |JOIN pr ON pr.rn <= np.np
        |LEFT JOIN sizes USING (cell_id)
        |GROUP BY 1, 2""".stripMargin,

    // recall@5 by LEFT JOIN of each index arm onto the exact top-5;
    // count(vec_id) skips the misses' NULLs on both engines. The arms
    // reuse the gate oracles verbatim as subqueries, so membership
    // agreement is already established by those gates
    "q_ann_recall" ->
      s"""WITH exact AS ($embTopkOracle),
        |ivf AS ($annIvfOracle),
        |lsh AS ($annLshOracle),
        |lshmp AS ($annLshMpOracle),
        |arm_ivf AS (
        |  SELECT 'ivf' AS method, e.query_id,
        |    CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(count(a.vec_id) AS BIGINT) AS n_hit
        |  FROM exact e LEFT JOIN ivf a
        |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |  GROUP BY e.query_id),
        |arm_lsh AS (
        |  SELECT 'lsh' AS method, e.query_id,
        |    CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(count(a.vec_id) AS BIGINT) AS n_hit
        |  FROM exact e LEFT JOIN lsh a
        |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |  GROUP BY e.query_id),
        |arm_lshmp AS (
        |  SELECT 'lsh_mp' AS method, e.query_id,
        |    CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(count(a.vec_id) AS BIGINT) AS n_hit
        |  FROM exact e LEFT JOIN lshmp a
        |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |  GROUP BY e.query_id)
        |SELECT * FROM arm_ivf UNION ALL SELECT * FROM arm_lsh
        |UNION ALL SELECT * FROM arm_lshmp""".stripMargin,

    "q_ann_pq" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (SELECT vec_id AS cid, v FROM c WHERE vec_id < 16),
        |cents AS (
        |  SELECT sp.s, seeds.cid, seeds.v[sp.s*8+1 : sp.s*8+8] AS cv,
        |    list_reduce(list_zip(seeds.v[sp.s*8+1 : sp.s*8+8],
        |                         seeds.v[sp.s*8+1 : sp.s*8+8])
        |      .apply(x -> x[1]*x[2]), (a,b) -> a+b) AS csq
        |  FROM seeds, (SELECT unnest(range(0, 8)) AS s) sp),
        |codes AS (
        |  SELECT vec_id, s, cid AS code FROM (
        |    SELECT c.vec_id, cents.s, cents.cid,
        |      row_number() OVER (PARTITION BY c.vec_id, cents.s ORDER BY
        |        (-2.0 * list_reduce(list_zip(c.v[cents.s*8+1 : cents.s*8+8], cents.cv)
        |           .apply(x -> x[1]*x[2]), (a,b) -> a+b)) + cents.csq ASC, cents.cid)
        |        AS rn
        |    FROM c, cents) WHERE rn = 1),
        |qdots AS (
        |  SELECT q.vec_id AS query_id, cents.s, cents.cid,
        |    list_reduce(list_zip(q.v[cents.s*8+1 : cents.s*8+8], cents.cv)
        |      .apply(x -> x[1]*x[2]), (a,b) -> a+b) AS d
        |  FROM c q, cents WHERE q.vec_id < 5),
        |approx AS (
        |  SELECT qd.query_id, codes.vec_id,
        |    list_reduce(list(qd.d ORDER BY qd.s), (a,b) -> a+b) AS approx
        |  FROM codes JOIN qdots qd ON qd.s = codes.s AND qd.cid = codes.code
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY approx DESC, vec_id) AS arank
        |    FROM approx)
        |  WHERE arank <= 50)
        |SELECT query_id, vec_id, rank, sim FROM (
        |  SELECT cand.query_id, cand.vec_id,
        |    list_reduce(list_zip(q.v, t.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |    sqrt(list_reduce(list_zip(q.v, q.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |         list_reduce(list_zip(t.v, t.v).apply(x -> x[1]*x[2]), (a,b) -> a+b)) AS sim,
        |    CAST(row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      list_reduce(list_zip(q.v, t.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |      sqrt(list_reduce(list_zip(q.v, q.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |           list_reduce(list_zip(t.v, t.v).apply(x -> x[1]*x[2]), (a,b) -> a+b))
        |      DESC, cand.vec_id) AS INT) AS rank
        |  FROM cand
        |  JOIN c q ON q.vec_id = cand.query_id
        |  JOIN c t ON t.vec_id = cand.vec_id)
        |WHERE rank <= 5""".stripMargin,

    "q_cosine_dup" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, ${srpBucketSql(4, 64)} AS bucket FROM c)
        |SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id AS id_a, t.vec_id AS id_b,
        |    list_reduce(list_zip(a.v, t.v).apply(x -> x[1]*x[2]), (x,y) -> x+y) /
        |    sqrt(list_reduce(list_zip(a.v, a.v).apply(x -> x[1]*x[2]), (x,y) -> x+y) *
        |         list_reduce(list_zip(t.v, t.v).apply(x -> x[1]*x[2]), (x,y) -> x+y)) AS sim
        |  FROM b a JOIN b t ON a.bucket = t.bucket AND a.vec_id < t.vec_id)
        |WHERE sim >= 0.4""".stripMargin,

    // SemDeDup: the asg CTE mirrors q_ann_ivf's seeded-centroid
    // assignment (same csim tie-break), then keep-first drop within cells
    "q_semantic_dedup" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell_id, v AS cent FROM c WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT c.vec_id, c.v, cents.cell_id,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        list_reduce(list_zip(c.v, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |        sqrt(list_reduce(list_zip(c.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |             list_reduce(list_zip(cents.cent, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b))
        |        DESC, cents.cell_id) AS rn
        |    FROM c, cents) WHERE rn = 1),
        |drops AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_zip(a.v, b.v).apply(x -> x[1]*x[2]), (x,y) -> x+y) /
        |    sqrt(list_reduce(list_zip(a.v, a.v).apply(x -> x[1]*x[2]), (x,y) -> x+y) *
        |         list_reduce(list_zip(b.v, b.v).apply(x -> x[1]*x[2]), (x,y) -> x+y)) >= 0.4
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, source, list_distinct([array_to_string(toks[i+1:i+3], ' ')
        |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
        |  FROM t
        |)
        |SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8""".stripMargin,
    "q_passage_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), w AS (
        |  SELECT doc_id, unnest([{'pos': i, 'gram': array_to_string(toks[i+1:i+8], ' ')}
        |    for i in range(0, greatest(len(toks)-7, 0))], recursive := true)
        |  FROM t
        |), dup AS (
        |  SELECT gram FROM w GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT w.doc_id, w.pos FROM w JOIN dup USING (gram)
        |), b AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > COALESCE(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS boundary
        |  FROM hits
        |), s AS (
        |  SELECT doc_id, pos,
        |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM b
        |)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 8 AS BIGINT) AS span_end
        |FROM s GROUP BY doc_id, span""".stripMargin,

    // the q_passage_dedup lattice extended with keep-first (min doc_id
    // per duplicated gram keeps its text) and the token-filter rebuild;
    // DuckDB lambda index i is 1-based, Spark's is 0-based → i-1
    "q_passage_strip" ->
      """WITH raw AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' the quick brown fox jumps over the lazy sleeping dog tonight'
        |      ELSE '' END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM raw
        |), w AS (
        |  SELECT doc_id, unnest([{'pos': i, 'gram': array_to_string(toks[i+1:i+8], ' ')}
        |    for i in range(0, greatest(len(toks)-7, 0))], recursive := true)
        |  FROM t
        |), dup AS (
        |  SELECT gram, CAST(min(doc_id) AS BIGINT) AS min_id
        |  FROM w GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT w.doc_id, w.pos FROM w JOIN dup USING (gram)
        |  WHERE w.doc_id <> dup.min_id
        |), b AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > COALESCE(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS boundary
        |  FROM hits
        |), s AS (
        |  SELECT doc_id, pos,
        |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM b
        |), spans AS (
        |  SELECT doc_id, list({'s': s0, 'e': e0}) AS sp
        |  FROM (SELECT doc_id, span, min(pos) AS s0, max(pos) + 8 AS e0
        |        FROM s GROUP BY doc_id, span)
        |  GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CASE WHEN sp IS NULL THEN t.text ELSE
        |    -- array_to_string([]) is NULL in DuckDB; Spark's array_join
        |    -- of an empty array is '' (a fully-duplicated doc strips to
        |    -- empty text, not null)
        |    COALESCE(array_to_string(list_filter(t.toks, (tok, i) ->
        |      len(list_filter(sp, x -> (i-1) >= x['s'] AND (i-1) < x['e'])) = 0), ' '), '')
        |  END AS text
        |FROM t LEFT JOIN spans USING (doc_id)""".stripMargin,

    "q_line_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'Cookie Notice: We Use Cookies'
        |          ELSE 'COOKIE NOTICE: WE USE COOKIES' END)
        |    || chr(10) || 'Section ' || CAST(doc_id % 3 AS VARCHAR)
        |    || chr(10) || text
        |    || chr(10) || 'footer id ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, chr(10))) AS line,
        |    unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
        |  FROM raw
        |), bp AS (
        |  SELECT lower(trim(line)) AS nl FROM lines WHERE trim(line) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 100
        |)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM lines
        |WHERE lower(trim(line)) NOT IN (SELECT nl FROM bp)
        |GROUP BY doc_id""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_link_metric" ->
      """SELECT date_trunc('hour', ts) AS "@timestamp", event_type, user_id,
        |  count(*) AS count
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_link_stats" ->
      """SELECT date_trunc('hour', ts) AS "@timestamp", event_type,
        |  count(value) AS count,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum,
        |  min(value) AS min,
        |  max(value) AS max,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS mean
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_link_uniq" ->
      """SELECT date_trunc('hour', ts) AS "@timestamp", event_type,
        |  count(DISTINCT user_id) AS uniq
        |FROM events GROUP BY 1, 2""".stripMargin,

    // exact distinct per cell is SQL; the sketch estimate's 5% envelope
    // is stated as a constant — only a true set-union merge of the two
    // halves' sketches satisfies it on the Spark side
    "q_link_uniq_sketch" ->
      """SELECT date_trunc('hour', ts) AS "@timestamp", event_type,
        |  count(DISTINCT user_id) AS exact_uniq, TRUE AS within_5pct
        |FROM events GROUP BY 1, 2""".stripMargin,

    // anchor = first signup period per user; activity = distinct periods;
    // count(*) is already per-distinct-user after the DISTINCT join
    "q_retention" ->
      """WITH a AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup'
        |             THEN epoch_us(ts) // 604800000000 END) AS cohort_period
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS p
        |        FROM events)
        |SELECT a.cohort_period, act.p - a.cohort_period AS period_offset,
        |  count(*) AS n_users
        |FROM a JOIN act ON a.user_id = act.user_id
        |WHERE a.cohort_period IS NOT NULL
        |  AND act.p - a.cohort_period BETWEEN 0 AND 8
        |GROUP BY 1, 2""".stripMargin,

    "q_funnel_conversion" ->
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |l2 AS (
        |  SELECT DISTINCT v.user_id FROM v JOIN c ON v.user_id = c.user_id
        |  WHERE c.ts >= v.ts
        |    AND epoch_us(c.ts) - epoch_us(v.ts) <= 86400000000),
        |l3 AS (
        |  SELECT DISTINCT v.user_id
        |  FROM v JOIN c ON v.user_id = c.user_id
        |       JOIN p ON v.user_id = p.user_id
        |  WHERE c.ts >= v.ts AND p.ts >= c.ts
        |    AND epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000),
        |f AS (
        |  SELECT user_id,
        |    CASE WHEN user_id IN (SELECT user_id FROM l3) THEN 3
        |         WHEN user_id IN (SELECT user_id FROM l2) THEN 2
        |         ELSE 1 END AS funnel_level
        |  FROM (SELECT DISTINCT user_id FROM v))
        |SELECT level, count(*) AS n_users FROM (
        |  SELECT unnest(generate_series(1, funnel_level)) AS level FROM f)
        |GROUP BY 1""".stripMargin,

    // independent derivation: the DP's level-k is equivalent to an
    // EXISTS chain e1 <= e2 <= ... <= ek within the window (non-strict
    // ties, inclusive window) — spelled as joins, feasible at oracle SF
    "q_funnel" ->
      """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |l2 AS (
        |  SELECT DISTINCT v.user_id FROM v JOIN c ON v.user_id = c.user_id
        |  WHERE c.ts >= v.ts
        |    AND epoch_us(c.ts) - epoch_us(v.ts) <= 86400000000),
        |l3 AS (
        |  SELECT DISTINCT v.user_id
        |  FROM v JOIN c ON v.user_id = c.user_id
        |       JOIN p ON v.user_id = p.user_id
        |  WHERE c.ts >= v.ts AND p.ts >= c.ts
        |    AND epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000)
        |SELECT user_id,
        |  CASE WHEN user_id IN (SELECT user_id FROM l3) THEN 3
        |       WHEN user_id IN (SELECT user_id FROM l2) THEN 2
        |       ELSE 1 END AS funnel_level
        |FROM (SELECT DISTINCT user_id FROM v)""".stripMargin,

    // quantile_cont is bit-identical to Spark's interpolated percentile
    // (same (n-1)*p + lerp definition); the other columns mirror
    // q_link_stats
    "q_link_stats_pct" ->
      """SELECT date_trunc('hour', ts) AS "@timestamp", event_type,
        |  count(value) AS count,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum,
        |  min(value) AS min,
        |  max(value) AS max,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS mean,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the GK sketch at accuracy ≫ n is the exact DISCRETE quantile —
    // quantile_disc, not quantile_cont (no interpolation). DAILY windows
    // (see the gate comment): hourly groups were too small for the
    // sketch path to be mutation-visible.
    "q_link_stats_pct_approx" ->
      """SELECT date_trunc('day', ts) AS "@timestamp", event_type,
        |  count(value) AS count,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum,
        |  min(value) AS min,
        |  max(value) AS max,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS mean,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.95) AS p95,
        |  quantile_disc(value, 0.99) AS p99
        |FROM events GROUP BY 1, 2""".stripMargin,

    // session partition re-derived independently: lag-gap flag → running
    // sum → group. A gap of exactly 1800 s starts a new session (>=),
    // matching session_window's half-open [start, last+gap) range.
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |c AS (
        |  SELECT user_id, ts, value,
        |    sum(s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM c GROUP BY user_id, sid""".stripMargin,

    "q_session_seq" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |c AS (
        |  SELECT user_id, ts, event_type,
        |    sum(s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, count(*) AS n_events,
        |  string_agg(event_type, ',' ORDER BY ts, event_type) AS seq
        |FROM c GROUP BY user_id, sid""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN (inclusive >=) is the independent
    // oracle for the union+window implementation.
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  p.ts AS ts_purchase, p.value AS value_purchase
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,

    // independent oracle for 'nearest': a correlated min-|distance|
    // subquery per event, ORDER BY (abs distance, ts) so equal-distance
    // ties resolve backward — the documented Spark-side convention.
    // (user_id, ts) is unique among purchases at every SF (verified),
    // so the picked row determines value_purchase too.
    "q_asof_nearest" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  (SELECT p.ts FROM
        |     (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |   WHERE p.user_id = e.user_id
        |   ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)), p.ts LIMIT 1)
        |    AS ts_purchase,
        |  (SELECT p.value FROM
        |     (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |   WHERE p.user_id = e.user_id
        |   ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)), p.ts LIMIT 1)
        |    AS value_purchase
        |FROM events e""".stripMargin,

    // DuckDB ASOF with the comparison flipped picks the nearest
    // at-or-after — the independent check of the descending-walk variant
    "q_asof_forward" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  p.ts AS ts_purchase, p.value AS value_purchase
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts <= p.ts""".stripMargin,

    // store-backed enrichment must reproduce the from-scratch as-of over
    // the full purchase history for every event at-or-after the split
    "q_asof_store" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  p.ts AS ts_purchase, p.value AS value_purchase
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,

    "q_asof_tolerance" ->
      """SELECT event_id, user_id, ts,
        |  CASE WHEN epoch_us(ts) - epoch_us(tp) <= 7200000000 THEN tp END AS ts_purchase,
        |  CASE WHEN epoch_us(ts) - epoch_us(tp) <= 7200000000 THEN vp END AS value_purchase
        |FROM (
        |  SELECT e.event_id, e.user_id, e.ts, p.ts AS tp, p.value AS vp
        |  FROM events e ASOF LEFT JOIN (
        |    SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts)""".stripMargin,

    "q_condition_dsl" ->
      """SELECT event_id, event_type, value, user_id
        |FROM events
        |WHERE (event_type = 'error' OR event_type LIKE 'sign%')
        |  AND NOT (CAST(json_extract_string(props, '$.k') AS DOUBLE) = 0)
        |  AND contains(props, 'k')""".stripMargin,

    // template comparisons compare through DOUBLE (Go template numbers
    // are float64), so the oracle casts the same way
    "q_template_cond" ->
      """SELECT event_id, event_type, value, user_id
        |FROM events
        |WHERE (event_type = 'error' OR event_type LIKE 'sign%')
        |  AND NOT (CAST(value AS DOUBLE) < 10)""".stripMargin,

    "q_grok" ->
      """SELECT event_id,
        |  regexp_extract(msg, '^(\w+) ([+-]?[0-9]+) ([+-]?[0-9]+(?:\.[0-9]+)?)$', 1) AS etype,
        |  regexp_extract(msg, '^(\w+) ([+-]?[0-9]+) ([+-]?[0-9]+(?:\.[0-9]+)?)$', 2) AS uid,
        |  regexp_extract(msg, '^(\w+) ([+-]?[0-9]+) ([+-]?[0-9]+(?:\.[0-9]+)?)$', 3) AS val
        |FROM (SELECT event_id,
        |        event_type || ' ' || user_id || ' ' || CAST(value AS VARCHAR) AS msg
        |      FROM events)""".stripMargin,

    "q_date" ->
      """SELECT event_id,
        |  strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM events""".stripMargin,

    "q_json_convert" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_split_kv" ->
      """SELECT event_id, event_type AS type, CAST(user_id AS VARCHAR) AS uid,
        |  event_type AS p1, CAST(user_id AS VARCHAR) AS p2
        |FROM events""".stripMargin,

    "q_strings" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text, '\s+', '_', 'g'),
        |    'spark', 'SPARK'), 'spark', 'SPARK') AS text,
        |  upper(lang) AS lang
        |FROM documents""".stripMargin,

    "q_enrich" ->
      """SELECT event_id,
        |  event_type || '-' || CAST(user_id AS VARCHAR) AS combo,
        |  CASE event_type WHEN 'error' THEN 'E' WHEN 'purchase' THEN 'P'
        |    WHEN 'signup' THEN 'S' ELSE NULL END AS code,
        |  user_id AS uid
        |FROM events""".stripMargin,

    // subquery on purpose: `value AS event_type` must not lateral-shadow
    // the event_type the idx string reads (the idx is built BEFORE the
    // rename); strftime %A = full weekday name = Go layout "Monday"
    "q_rename_clobber" ->
      """SELECT event_id, value AS event_type, idx FROM (
        |  SELECT event_id, value,
        |    'ev-null-' || event_type || '-' || strftime(ts, '%A') AS idx
        |  FROM events) t""".stripMargin,

    // the delete's net effect replayed directly: key c gone from the
    // inner map under b, sibling keys (keep, o.c) intact; doubles reuse
    // the exact Spark multiply so the compare is bit-identical
    "q_map_delete" ->
      """SELECT event_id,
        |  value * 2 AS kept,
        |  CAST(NULL AS DOUBLE) AS dropped,
        |  value * 3 AS sibling,
        |  1 AS b_size
        |FROM events""".stripMargin,

    "q_ch_conform" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |  event_type,
        |  CAST(user_id AS BIGINT) AS user_id,
        |  CAST(value AS DOUBLE) AS value,
        |  COALESCE(TRY_CAST(event_type AS INTEGER), 0) AS etype_num,
        |  '' AS note
        |FROM events""".stripMargin,

    "q_translate_file" ->
      """SELECT event_id, event_type,
        |  CASE event_type WHEN 'error' THEN 'E' WHEN 'purchase' THEN 'P'
        |    WHEN 'signup' THEN 'S' ELSE NULL END AS code
        |FROM events""".stripMargin,

    "q_sprig" ->
      """WITH e AS (
        |  SELECT *, string_split(event_type || ' ' || event_type || ' end',
        |    ' ') AS ph
        |  FROM events
        |)
        |SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 AND event_type IS NOT NULL
        |    THEN event_type ELSE 'none' END AS filled,
        |  CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END AS flag,
        |  COALESCE(to_base64(CAST(event_type AS BLOB)), '') AS b64,
        |  COALESCE(substring(event_type, 1, 3), '') AS short,
        |  COALESCE(CAST(user_id + 7 AS VARCHAR), '') AS usum,
        |  COALESCE(array_to_string(ph, '|'), '') AS sj,
        |  COALESCE(array_to_string(
        |    list_filter(ph, (x, i) -> list_position(ph, x) = i), '|'), '') AS uq,
        |  COALESCE(ph[1], '') AS fw,
        |  COALESCE(list_extract(ph, len(ph)), '') AS lw,
        |  COALESCE(CAST(regexp_matches(event_type, '^p') AS VARCHAR), '') AS rx,
        |  COALESCE(regexp_replace(event_type, '[aeiou]', '_', 'g'), '') AS rr,
        |  COALESCE(sha256(event_type), '') AS sha
        |FROM e""".stripMargin,

    "q_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0
        |)
        |SELECT md5(text) AS content_hash, min(doc_id) AS rep_id, count(*) AS cnt
        |FROM all_docs GROUP BY 1""".stripMargin,

    "q_dedup_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |    string_split_regex(text, '\s+'))), ' ')) AS fingerprint,
        |  min(doc_id) AS rep_id, count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_incremental" ->
      """WITH today AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents
        |  WHERE doc_id < 250 AND doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' x' FROM documents
        |  WHERE doc_id < 250 AND doc_id % 50 = 0
        |)
        |SELECT doc_id, text FROM today d
        |WHERE NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id < 250 AND md5(s.text) = md5(d.text))""".stripMargin,

    "q_dedup_incremental_near" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substring(md5(tok), 25, 8)) AS BIGINT) for tok in toks] AS hs
        |  FROM t
        |), s AS (
        |  SELECT doc_id, CAST(list_sum([
        |    CASE WHEN list_sum([CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
        |    for j in range(0, 32)]) AS BIGINT) AS sim
        |  FROM h
        |), drops AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM s a JOIN s b ON a.doc_id < 250 AND b.doc_id >= 250
        |  WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin,

    // store-path twins of the two incremental gates: identical row
    // contract, so identical oracle SQL
    "q_dedup_store_exact" ->
      """SELECT doc_id, text FROM documents d
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE (s.doc_id < 250 OR s.doc_id = 300)
        |                    AND md5(s.text) = md5(d.text))""".stripMargin,

    // Store = vec_id < 250's buckets; increment probes its own bucket
    // plus flips of bits 0 and 1; cosine is the same sequential
    // double fold both engines use everywhere else
    "q_dedup_store_sem" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, ${srpBucketSql(6, 64)} AS bucket FROM c),
        |store AS (SELECT v, bucket FROM b WHERE vec_id < 250),
        |inc AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 250),
        |pr AS (SELECT vec_id, v, xor(bucket, CAST(f.f AS BIGINT)) AS bucket
        |       FROM inc, (VALUES (0), (1), (2)) f(f)),
        |matched AS (
        |  SELECT DISTINCT p.vec_id
        |  FROM pr p JOIN store s USING (bucket)
        |  WHERE list_reduce(list_zip(p.v, s.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb) /
        |    sqrt(list_reduce(list_zip(p.v, p.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb) *
        |         list_reduce(list_zip(s.v, s.v).apply(x -> x[1]*x[2]), (a,bb) -> a+bb))
        |    >= 0.4)
        |SELECT vec_id FROM inc
        |WHERE vec_id NOT IN (SELECT vec_id FROM matched)""".stripMargin,

    "q_dedup_store_near" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substring(md5(tok), 25, 8)) AS BIGINT) for tok in toks] AS hs
        |  FROM t
        |), s AS (
        |  SELECT doc_id, CAST(list_sum([
        |    CASE WHEN list_sum([CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
        |    for j in range(0, 32)]) AS BIGINT) AS sim
        |  FROM h
        |), drops AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM s a JOIN s b ON a.doc_id < 250 AND b.doc_id >= 250
        |  WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin,

    // band-stats replay: the md5-low-32 shingle hashes under the affine
    // permutation family, sliced into each config's band keys — the sig
    // expressions and per-config unnest lists are GENERATED (16 hashes,
    // configs 2/4/8/16) so the SQL stays literally in lockstep with
    // minhashBandStats' constants
    "q_minhash_bands" -> {
      val sigExprs = (0 until 16).map(k =>
        s"list_min([(v*${1000003 + 2 * k}+${12289 * k + 1})%4294967296 for v in hs])")
        .mkString(", ")
      val unions = Seq(2, 4, 8, 16).map { b =>
        val r = 16 / b
        val parts = (0 until b).map(band =>
          s"'$band-'||array_to_string(sig[${band * r + 1}:${band * r + r}],'-')")
          .mkString(", ")
        s"SELECT $b AS bands, unnest([$parts]) AS bkey FROM g"
      }.mkString(" UNION ALL ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
         |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
         |  FROM t
         |), h AS (
         |  SELECT doc_id,
         |    [CAST(('0x' || substring(md5(x), 25, 8)) AS BIGINT) for x in sh] AS hs
         |  FROM s WHERE len(sh) > 0
         |), g AS (
         |  SELECT doc_id, list_value($sigExprs) AS sig FROM h
         |), k AS ($unions),
         |bu AS (SELECT bands, bkey, count(*) AS n FROM k GROUP BY 1, 2)
         |SELECT bands, count(*) AS n_buckets,
         |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_collision_buckets,
         |  CAST(sum((n * (n-1)) // 2) AS BIGINT) AS n_candidates,
         |  max(n) AS max_bucket
         |FROM bu GROUP BY bands""".stripMargin
    },

    // simhash band-slice replay: the q_dedup_simhash vote CTE, sliced
    // into each config's (band, value) keys by exact integer div/mod —
    // slice literals GENERATED in lockstep with simhashBandStats
    "q_simhash_bands" -> {
      val unions = Seq(2, 4, 8).map { b =>
        val w = 32 / b
        val parts = (0 until b).map(band =>
          s"'$band-'||CAST((sim // ${1L << (band * w)}) % ${1L << w} AS VARCHAR)")
          .mkString(", ")
        s"SELECT $b AS bands, unnest([$parts]) AS bkey FROM g"
      }.mkString(" UNION ALL ")
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(string_split_regex(text, '\\s+')) AS toks
         |  FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    [CAST(('0x' || substring(md5(tok), 25, 8)) AS BIGINT) for tok in toks] AS hs
         |  FROM t
         |), g AS (
         |  SELECT doc_id, CAST(list_sum([
         |      CASE WHEN list_sum([CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
         |        THEN 1 ELSE -1 END for h in hs]) > 0
         |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
         |      for j in range(0, 32)]) AS BIGINT) AS sim
         |  FROM h
         |), k AS ($unions),
         |bu AS (SELECT bands, bkey, count(*) AS n FROM k GROUP BY 1, 2)
         |SELECT bands, count(*) AS n_buckets,
         |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_collision_buckets,
         |  CAST(sum((n * (n-1)) // 2) AS BIGINT) AS n_candidates,
         |  max(n) AS max_bucket
         |FROM bu GROUP BY bands""".stripMargin
    },

    // calibration replay: the same md5-low-32 + affine-permutation
    // signatures on BOTH sides of the (doc, prefix-dropped variant)
    // pair, matches counted positionally, exact jaccard decile-banded
    // with integer `//` (Spark's floor of a small-int double division)
    "q_minhash_calibration" -> {
      def sigExprs(hs: String) = (0 until 16).map(k =>
        s"list_min([(v*${1000003 + 2 * k}+${12289 * k + 1})%4294967296 for v in $hs])")
        .mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toksA FROM documents
         |), p AS (
         |  SELECT doc_id, toksA,
         |    toksA[((len(toksA) * (doc_id % 5)) // 10 + 1):len(toksA)] AS toksB
         |  FROM t
         |), s AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toksA[i+1:i+3], ' ')
         |      for i in range(0, greatest(len(toksA)-3, 0)+1)]) AS shA,
         |    list_distinct([array_to_string(toksB[i+1:i+3], ' ')
         |      for i in range(0, greatest(len(toksB)-3, 0)+1)]) AS shB
         |  FROM p
         |), h AS (
         |  SELECT doc_id,
         |    list_distinct([CAST(('0x' || substring(md5(x), 25, 8)) AS BIGINT)
         |      for x in shA]) AS hsA,
         |    list_distinct([CAST(('0x' || substring(md5(x), 25, 8)) AS BIGINT)
         |      for x in shB]) AS hsB
         |  FROM s WHERE len(shA) > 0 AND len(shB) > 0
         |), g AS (
         |  SELECT doc_id, hsA, hsB,
         |    list_value(${sigExprs("hsA")}) AS sigA,
         |    list_value(${sigExprs("hsB")}) AS sigB
         |  FROM h
         |), m AS (
         |  SELECT doc_id,
         |    len(list_filter(range(1, 17), ii -> sigA[ii] = sigB[ii])) AS matches,
         |    len(list_intersect(hsA, hsB)) AS inter,
         |    len(hsA) + len(hsB) - len(list_intersect(hsA, hsB)) AS uni
         |  FROM g
         |)
         |SELECT matches, (10 * inter) // uni AS jacc_band,
         |  COUNT(*) AS n_pairs
         |FROM m GROUP BY 1, 2""".stripMargin
    },

    "q_dedup_minhash" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
        |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
        |  FROM t
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.9""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
        |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
        |  FROM t
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.9
        |  UNION
        |  SELECT id_b, id_a FROM j WHERE jaccard >= 0.9
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src
        |)
        |SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id""".stripMargin,

    // same recursive components, then per-cluster argmax by n_chars
    "q_dedup_best" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
        |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
        |  FROM t
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.9
        |  UNION
        |  SELECT id_b, id_a FROM j WHERE jaccard >= 0.9
        |), reach AS (
        |  SELECT src AS id, dst AS r FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src
        |), comp AS (
        |  SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id
        |), m AS (
        |  SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |), k AS (
        |  SELECT doc_id, n_chars, row_number() OVER
        |    (PARTITION BY rep ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM m
        |)
        |SELECT doc_id, n_chars FROM k WHERE rn = 1""".stripMargin,

    "q_simhash_hamming" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substring(md5(tok), 25, 8)) AS BIGINT) for tok in toks] AS hs
        |  FROM t
        |), s AS (
        |  SELECT doc_id, CAST(list_sum([
        |    CASE WHEN list_sum([CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
        |    for j in range(0, 32)]) AS BIGINT) AS sim
        |  FROM h
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin,

    // the pairs→drop policy over the same 32-bit simhash recursion: a doc
    // drops iff some smaller id sits within hamming ≤ 3
    "q_hamming_drop" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substring(md5(tok), 25, 8)) AS BIGINT) for tok in toks] AS hs
        |  FROM t
        |), s AS (
        |  SELECT doc_id, CAST(list_sum([
        |    CASE WHEN list_sum([CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
        |    for j in range(0, 32)]) AS BIGINT) AS sim
        |  FROM h
        |), drops AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin,

    "q_heavy_hitters" ->
      """WITH t AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT unnest([array_to_string(toks[i+1:i+2], ' ')
        |    for i in range(0, greatest(len(toks)-1, 0))]) AS gram
        |  FROM t
        |)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY gram HAVING count(*) >= 20""".stripMargin,

    // heavyHittersApprox outputs EXACTLY the true heavy hitters (candidates
    // from freqItems are a guaranteed superset; the exact recount + strict
    // threshold eliminates false positives), so the oracle is a plain
    // GROUP BY with the strict fraction-of-total threshold.
    "q_heavy_hitters_approx" ->
      """WITH t AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT unnest([array_to_string(toks[i+1:i+2], ' ')
        |    for i in range(0, greatest(len(toks)-1, 0))]) AS gram
        |  FROM t
        |), tot AS (SELECT count(*) AS c FROM g)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY gram HAVING count(*) > 0.0005 * (SELECT c FROM tot)""".stripMargin,

    "q_dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substring(md5(tok), 25, 8)) AS BIGINT) for tok in toks] AS hs
        |  FROM t
        |)
        |SELECT CAST(list_sum([
        |    CASE WHEN list_sum([CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
        |    for j in range(0, 32)]) AS BIGINT) AS simhash,
        |  min(doc_id) AS rep_id, count(*) AS cnt
        |FROM h GROUP BY 1""".stripMargin,

    "q_embed_topk" -> embTopkOracle,

    "q_codec_roundtrip" ->
      "SELECT event_id, event_type, user_id FROM events",

    "q_fail_tag" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN event_type ELSE NULL END AS w,
        |  CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS VARCHAR) ELSE NULL END AS n,
        |  CASE WHEN event_id % 2 = 0 THEN NULL ELSE '_grokparsefailure' END AS tag
        |FROM events""".stripMargin,

    "q_variant_props" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.source') AS source_tag
        |FROM events""".stripMargin,

    "q_geoip" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    CASE WHEN event_id < 25
        |           THEN ((CAST(event_id AS BIGINT) + 1) * 4294967296) // 25 - 1
        |         WHEN event_id >= 25 AND event_id < 50
        |           THEN ((CAST(event_id AS BIGINT) - 25) * 4294967296) // 25
        |         ELSE (CAST(user_id AS BIGINT) * 9973 + CAST(event_id AS BIGINT) * 31) % 4294967296
        |    END AS ipl
        |  FROM events
        |), r AS (
        |  SELECT n_name,
        |    (CAST(n_nationkey AS BIGINT) * 4294967296) // 25 AS ip_from,
        |    ((CAST(n_nationkey AS BIGINT) + 1) * 4294967296) // 25 - 1 AS ip_to
        |  FROM nation
        |)
        |SELECT e.event_id,
        |  ((e.ipl // 16777216) % 256) || '.' || ((e.ipl // 65536) % 256) || '.' ||
        |    ((e.ipl // 256) % 256) || '.' || (e.ipl % 256) AS ip,
        |  r.n_name AS country
        |FROM ev e LEFT JOIN r ON e.ipl >= r.ip_from AND e.ipl <= r.ip_to""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 512 + 1 AS INT) AS width,
        |  CAST(CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 512 + 1 AS INT) AS height,
        |  CAST(CAST(('0x' || substring(md5(text), 9, 1)) AS BIGINT) % 4 + 1 AS INT) AS channels,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin,

    // StubDecoder mirrors decodeStub's md5 arithmetic plus fixed audio
    // fields (16 kHz, duration = bytes·1000/16000 in integer division) —
    // both engines floor the non-negative division identically.
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  'image' AS media_type,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 512 + 1 AS INT) AS width,
        |  CAST(CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 512 + 1 AS INT) AS height,
        |  CAST(CAST(('0x' || substring(md5(text), 9, 1)) AS BIGINT) % 4 + 1 AS INT) AS channels,
        |  CAST(16000 AS INT) AS sample_rate,
        |  CAST(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 1000 // 16000 AS BIGINT)
        |    AS duration_ms
        |FROM documents""".stripMargin,

    "q_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 64 + 1 AS INT) AS width,
        |  CAST(doc_id % 48 + 1 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  'png' AS format
        |FROM documents""".stripMargin,

    // WavDecoder derives duration_ms = data_bytes*1000 // byte_rate; with
    // 16-bit mono both sides carry the same ×2, so it reduces to
    // n_samples*1000 // sample_rate — non-negative, both engines floor.
    "q_multimodal_audio" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 AS INT) AS channels,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST((doc_id % 2000 + 100) * 1000 // (8000 + (doc_id % 8) * 1000) AS BIGINT)
        |    AS duration_ms,
        |  'wav' AS format
        |FROM documents""".stripMargin,

    // Mp4Decoder derives duration_ms = duration_units*1000 // timescale
    // — non-negative, both engines floor identically.
    "q_multimodal_video" ->
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 320 + 16 AS INT) AS width,
        |  CAST(doc_id % 240 + 16 AS INT) AS height,
        |  CAST((doc_id % 50000 + 600) * 1000 // (600 + (doc_id % 4) * 200) AS BIGINT)
        |    AS duration_ms,
        |  'mp4' AS format
        |FROM documents""".stripMargin,

    // Six modality classes by doc_id%6. Audio classes 1 (WAV), 3 (FLAC)
    // and 4 (Ogg — even ids, so always the Vorbis arm of the parity
    // split) share the same rate/sample arithmetic; video class 2 (MP4)
    // keeps the general timescale formula and class 5 (WebM) has
    // TimestampScale = 1 ms so duration is the raw float
    "q_multimodal_mixed" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 6 = 0 THEN 'image'
        |    WHEN doc_id % 6 IN (2, 5) THEN 'video'
        |    ELSE 'audio' END AS media_type,
        |  CASE WHEN doc_id % 6 = 0 THEN CAST(doc_id % 64 + 1 AS INT)
        |    WHEN doc_id % 6 IN (2, 5) THEN CAST(doc_id % 320 + 16 AS INT)
        |  END AS width,
        |  CASE WHEN doc_id % 6 = 0 THEN CAST(doc_id % 48 + 1 AS INT)
        |    WHEN doc_id % 6 IN (2, 5) THEN CAST(doc_id % 240 + 16 AS INT)
        |  END AS height,
        |  CASE WHEN doc_id % 6 IN (1, 3, 4)
        |    THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 6 IN (1, 3, 4)
        |    THEN CAST((doc_id % 2000 + 100) * 1000 // (8000 + (doc_id % 8) * 1000) AS BIGINT)
        |    WHEN doc_id % 6 = 2
        |    THEN CAST((doc_id % 50000 + 600) * 1000 // (600 + (doc_id % 4) * 200) AS BIGINT)
        |    WHEN doc_id % 6 = 5 THEN CAST(doc_id % 50000 + 600 AS BIGINT)
        |  END AS duration_ms,
        |  CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
        |    WHEN 2 THEN 'mp4' WHEN 3 THEN 'flac' WHEN 4 THEN 'vorbis'
        |    ELSE 'webm' END AS format
        |FROM documents""".stripMargin,

    // duration = total_bytes*8*1000 // (kbps*1000) which reduces to
    // total_bytes*8 // kbps (shared factor 1000); total = 4 + id%512+128
    "q_multimodal_mp3" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 AS INT) AS channels,
        |  CAST(list_extract([44100, 48000, 32000], CAST(doc_id % 3 + 1 AS INT)) AS INT)
        |    AS sample_rate,
        |  CAST((doc_id % 512 + 132) * 8 //
        |    list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
        |      CAST(doc_id % 14 + 1 AS INT)) AS BIGINT) AS duration_ms,
        |  'mp3' AS format
        |FROM documents""".stripMargin,

    // Vorbis rows: duration = granule*1000 // rate with granule =
    // id%2000+100; Opus rows: granule = (id%2000+100)*48 + pre_skip(312)
    // at 48 kHz, so duration collapses to exactly id%2000+100 ms
    "q_multimodal_ogg" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 AS INT) AS channels,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT)
        |    ELSE 48000 END AS sample_rate,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN CAST((doc_id % 2000 + 100) * 1000 // (8000 + (doc_id % 8) * 1000) AS BIGINT)
        |    ELSE CAST(doc_id % 2000 + 100 AS BIGINT) END AS duration_ms,
        |  CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS format
        |FROM documents""".stripMargin,

    // TimestampScale is 1 ms/tick in the fixture, so duration_ms is the
    // raw Duration float truncated to BIGINT
    "q_multimodal_webm" ->
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 320 + 16 AS INT) AS width,
        |  CAST(doc_id % 240 + 16 AS INT) AS height,
        |  CAST(doc_id % 50000 + 600 AS BIGINT) AS duration_ms,
        |  'webm' AS format
        |FROM documents""".stripMargin,

    // The aHash oracle re-derives the decoder's arithmetic end to end:
    // the variant fixture's pixel function is pure integer math on
    // (seed, delta, x, y), so DuckDB recomputes the full-raster channel
    // sum AND the 8x8 sampled average-hash (as two 32-bit halves:
    // 1<<63 overflows DuckDB's checked BIGINT shift) and then the same
    // hash-bucket stats. Only a real every-pixel PNG decode matches.
    "q_image_phash" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 127 AS seed, (doc_id // 127 % 3) * 6 AS delta,
        |    (doc_id % 127) % 64 + 8 AS w, (doc_id % 127) % 48 + 8 AS h
        |  FROM documents
        |), samp AS (
        |  SELECT b.doc_id, j.j * 8 + i.i AS k,
        |    (((hv >> 16) & 255) % 224) + (((hv >> 8) & 255) % 224) + ((hv & 255) % 224)
        |      + 3 * b.delta AS g
        |  FROM base b, range(8) i(i), range(8) j(j),
        |    LATERAL (SELECT b.seed * 2654435761 + (i.i * b.w // 8) * 131
        |      + (j.j * b.h // 8) * 7 AS hv) v
        |), tot AS (
        |  SELECT doc_id, sum(g) AS tot FROM samp GROUP BY doc_id
        |), hashes AS (
        |  SELECT s.doc_id,
        |    bit_or(CASE WHEN 64 * s.g > t.tot AND s.k >= 32
        |      THEN 1::BIGINT << CAST(s.k - 32 AS INT) ELSE 0 END) AS ahash_hi,
        |    bit_or(CASE WHEN 64 * s.g > t.tot AND s.k < 32
        |      THEN 1::BIGINT << CAST(s.k AS INT) ELSE 0 END) AS ahash_lo
        |  FROM samp s JOIN tot t USING (doc_id) GROUP BY s.doc_id
        |), fullsum AS (
        |  SELECT b.doc_id,
        |    SUM((((hv >> 16) & 255) % 224) + (((hv >> 8) & 255) % 224)
        |      + ((hv & 255) % 224) + 3 * b.delta) AS px_sum
        |  FROM base b,
        |    unnest(generate_series(0, b.w - 1)) x(x),
        |    unnest(generate_series(0, b.h - 1)) y(y),
        |    LATERAL (SELECT b.seed * 2654435761 + x.x * 131 + y.y * 7 AS hv) v
        |  GROUP BY b.doc_id
        |), samp9 AS (
        |  SELECT b.doc_id, i.i, j.j,
        |    (((hv >> 16) & 255) % 224) + (((hv >> 8) & 255) % 224)
        |      + ((hv & 255) % 224) + 3 * b.delta AS g
        |  FROM base b, range(9) i(i), range(8) j(j),
        |    LATERAL (SELECT b.seed * 2654435761 + (i.i * b.w // 9) * 131
        |      + (j.j * b.h // 8) * 7 AS hv) v
        |), dbits AS (
        |  SELECT a.doc_id, a.j * 8 + a.i - 1 AS k,
        |    CASE WHEN a.g > p.g THEN 1 ELSE 0 END AS bit
        |  FROM samp9 a JOIN samp9 p
        |    ON p.doc_id = a.doc_id AND p.j = a.j AND p.i = a.i - 1
        |  WHERE a.i >= 1
        |), dh AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN bit = 1 AND k >= 32
        |      THEN 1::BIGINT << CAST(k - 32 AS INT) ELSE 0 END) AS dhash_hi,
        |    bit_or(CASE WHEN bit = 1 AND k < 32
        |      THEN 1::BIGINT << CAST(k AS INT) ELSE 0 END) AS dhash_lo
        |  FROM dbits GROUP BY doc_id
        |), grp AS (
        |  SELECT h.ahash_hi, h.ahash_lo, CAST(count(*) AS BIGINT) AS n_group,
        |    CAST(count(DISTINCT b.delta) AS BIGINT) AS n_variants
        |  FROM hashes h JOIN base b USING (doc_id) GROUP BY 1, 2
        |)
        |SELECT b.doc_id AS media_id, CAST(b.w AS INT) AS width,
        |  CAST(b.h AS INT) AS height, CAST(f.px_sum AS BIGINT) AS px_sum,
        |  h.ahash_hi, h.ahash_lo, d.dhash_hi, d.dhash_lo,
        |  g.n_group, g.n_variants
        |FROM base b JOIN hashes h USING (doc_id) JOIN fullsum f USING (doc_id)
        |  JOIN dh d USING (doc_id)
        |  JOIN grp g ON g.ahash_hi = h.ahash_hi AND g.ahash_lo = h.ahash_lo""".stripMargin,

    // The resize oracle recomputes the 8×6 box-filter: each output
    // pixel is the per-channel integer-mean of its input block (the
    // uniform +delta commutes with the floor-mean), then the same
    // px_sum/aHash reduction as q_image_phash over the tiny raster
    "q_image_resize" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 127 AS seed, (doc_id // 127 % 3) * 6 AS delta,
        |    (doc_id % 127) % 64 + 8 AS w, (doc_id % 127) % 48 + 8 AS h
        |  FROM documents
        |), blk AS (
        |  SELECT b.doc_id, b.delta, i.i, j.j,
        |    SUM(((hv >> 16) & 255) % 224) AS rs,
        |    SUM(((hv >> 8) & 255) % 224) AS gs,
        |    SUM((hv & 255) % 224) AS bs,
        |    COUNT(*) AS n
        |  FROM base b, range(8) i(i), range(6) j(j),
        |    unnest(generate_series(i.i * b.w // 8, (i.i + 1) * b.w // 8 - 1)) x(x),
        |    unnest(generate_series(j.j * b.h // 6, (j.j + 1) * b.h // 6 - 1)) y(y),
        |    LATERAL (SELECT b.seed * 2654435761 + x.x * 131 + y.y * 7 AS hv) v
        |  GROUP BY 1, 2, 3, 4
        |), opx AS (
        |  SELECT doc_id, i, j,
        |    (rs // n + delta) + (gs // n + delta) + (bs // n + delta) AS g
        |  FROM blk
        |), tot AS (
        |  SELECT doc_id, sum(g) AS px_sum FROM opx GROUP BY doc_id
        |), sg AS (
        |  SELECT o.doc_id, sj.j * 8 + si.i AS k, o.g
        |  FROM range(8) si(i), range(8) sj(j), opx o
        |  WHERE o.i = si.i AND o.j = sj.j * 6 // 8
        |), stot AS (
        |  SELECT doc_id, sum(g) AS tot FROM sg GROUP BY doc_id
        |), hashes AS (
        |  SELECT s.doc_id,
        |    bit_or(CASE WHEN 64 * s.g > t.tot AND s.k >= 32
        |      THEN 1::BIGINT << CAST(s.k - 32 AS INT) ELSE 0 END) AS ahash_hi,
        |    bit_or(CASE WHEN 64 * s.g > t.tot AND s.k < 32
        |      THEN 1::BIGINT << CAST(s.k AS INT) ELSE 0 END) AS ahash_lo
        |  FROM sg s JOIN stot t USING (doc_id) GROUP BY s.doc_id
        |)
        |SELECT b.doc_id AS media_id, CAST(8 AS INT) AS width,
        |  CAST(6 AS INT) AS height, CAST(t.px_sum AS BIGINT) AS px_sum,
        |  h.ahash_hi, h.ahash_lo
        |FROM base b JOIN tot t USING (doc_id) JOIN hashes h USING (doc_id)""".stripMargin,

    // The PCM oracle regenerates the fixture's sample stream (pure
    // f(doc_id, i)) and reduces it with the same integer arithmetic:
    // signed-16 reinterpretation, energy, peak, lag-based sign changes
    "q_audio_pcm" ->
      """WITH s AS (
        |  SELECT d.doc_id, i.i,
        |    CASE WHEN x >= 32768 THEN x - 65536 ELSE x END AS s
        |  FROM documents d,
        |    unnest(generate_series(0, d.doc_id % 2000 + 100 - 1)) i(i),
        |    LATERAL (SELECT (d.doc_id * 31 + i.i * 7) & 65535 AS x) v
        |), lagd AS (
        |  SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM s
        |)
        |SELECT doc_id AS media_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(s)) AS INT) AS peak,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND (s >= 0) != (prev >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM lagd GROUP BY doc_id""".stripMargin,

    // Frame-sample oracle: container geometry (every box length down to
    // mdat's first payload byte), per-frame sizes, evenly-spaced frame
    // choice k*(nf-1)//3, prefix-sum offsets, and payload byte sums are
    // all closed-form in doc_id
    "q_video_frames" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(doc_id % 24 + 4 AS BIGINT) AS nf FROM documents
        |), geom AS (
        |  SELECT doc_id, nf,
        |    20 + (8 + 108 + (8 + 92 + (8 + (8 + (8 + (20 + 4*nf)
        |      + (16 + 4*nf)))))) + 8 AS mdat_start
        |  FROM p
        |), kk AS (
        |  SELECT g.doc_id, g.nf, g.mdat_start, r.i AS k,
        |    CAST((r.i * (g.nf - 1)) // 3 AS INT) AS frame_idx
        |  FROM geom g, range(4) r(i)
        |), fr AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, frame_idx,
        |    CAST((doc_id * 7 + frame_idx * 13) % 200 + 20 AS INT) AS frame_size,
        |    CAST(mdat_start + COALESCE(
        |      (SELECT SUM((doc_id * 7 + gg.g * 13) % 200 + 20)
        |       FROM unnest(generate_series(0, frame_idx - 1)) gg(g)), 0) AS BIGINT)
        |      AS frame_offset
        |  FROM kk
        |)
        |SELECT doc_id AS media_id, k, frame_idx, frame_offset, frame_size,
        |  CAST((SELECT SUM((doc_id * 11 + frame_idx * 17 + jj.j * 5) % 251)
        |    FROM unnest(generate_series(0, frame_size - 1)) jj(j)) AS BIGINT)
        |    AS byte_sum
        |FROM fr""".stripMargin,

    // The resample oracle regenerates the input stream, interpolates at
    // k*sr/16000 with the same truncating // and % (DuckDB and Scala
    // both truncate toward zero on negatives — verified), and reduces
    // with the q_audio_pcm arithmetic
    "q_audio_resample" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 2000 + 100 AS n,
        |    CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sr
        |  FROM documents
        |), s AS (
        |  SELECT p.doc_id, i.i,
        |    CASE WHEN x >= 32768 THEN x - 65536 ELSE x END AS s
        |  FROM p, unnest(generate_series(0, p.n - 1)) i(i),
        |    LATERAL (SELECT (p.doc_id * 31 + i.i * 7) & 65535 AS x) v
        |), ok AS (
        |  SELECT p.doc_id, k.k,
        |    (k.k * p.sr) // 16000 AS idx, (k.k * p.sr) % 16000 AS frac
        |  FROM p, unnest(generate_series(0, (p.n - 1) * 16000 // p.sr)) k(k)
        |), ov AS (
        |  SELECT o.doc_id, o.k,
        |    CASE WHEN o.frac = 0 THEN a.s
        |      ELSE a.s + ((b.s - a.s) * o.frac) // 16000 END AS s
        |  FROM ok o
        |  JOIN s a ON a.doc_id = o.doc_id AND a.i = o.idx
        |  LEFT JOIN s b ON b.doc_id = o.doc_id AND b.i = o.idx + 1
        |), lagd AS (
        |  SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY k) AS prev
        |  FROM ov
        |)
        |SELECT doc_id AS media_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(s)) AS INT) AS peak,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND (s >= 0) != (prev >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM lagd GROUP BY doc_id""".stripMargin,

    // Curation oracle: the image arm re-derives the aHash buckets and
    // picks min-id per bucket; the audio arm regenerates the PCM stream
    // and gates on integer mean-square energy; the video arm sums the
    // two sampled frame sizes (n=2 -> frames 0 and nf-1) — all pure
    // doc_id arithmetic
    "q_multimodal_curate" ->
      """WITH imgbase AS (
        |  SELECT doc_id, doc_id % 127 AS seed, (doc_id // 127 % 3) * 6 AS delta,
        |    (doc_id % 127) % 64 + 8 AS w, (doc_id % 127) % 48 + 8 AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |), samp AS (
        |  SELECT b.doc_id, j.j * 8 + i.i AS k,
        |    (((hv >> 16) & 255) % 224) + (((hv >> 8) & 255) % 224)
        |      + ((hv & 255) % 224) + 3 * b.delta AS g
        |  FROM imgbase b, range(8) i(i), range(8) j(j),
        |    LATERAL (SELECT b.seed * 2654435761 + (i.i * b.w // 8) * 131
        |      + (j.j * b.h // 8) * 7 AS hv) v
        |), tot AS (
        |  SELECT doc_id, sum(g) AS tot FROM samp GROUP BY doc_id
        |), hashes AS (
        |  SELECT s.doc_id,
        |    bit_or(CASE WHEN 64 * s.g > t.tot AND s.k >= 32
        |      THEN 1::BIGINT << CAST(s.k - 32 AS INT) ELSE 0 END) AS hi,
        |    bit_or(CASE WHEN 64 * s.g > t.tot AND s.k < 32
        |      THEN 1::BIGINT << CAST(s.k AS INT) ELSE 0 END) AS lo
        |  FROM samp s JOIN tot t USING (doc_id) GROUP BY s.doc_id
        |), img_keep AS (
        |  SELECT min(doc_id) AS media_id, 'image' AS media_type,
        |    CAST(count(*) AS BIGINT) AS metric
        |  FROM hashes GROUP BY hi, lo
        |), pcm AS (
        |  SELECT d.doc_id, d.doc_id % 2000 + 100 AS n,
        |    CASE WHEN x >= 32768 THEN x - 65536 ELSE x END AS s
        |  FROM documents d,
        |    unnest(generate_series(0, d.doc_id % 2000 + 100 - 1)) i(i),
        |    LATERAL (SELECT (d.doc_id * 31 + i.i * 7) & 65535 AS x) v
        |  WHERE d.doc_id % 3 = 1
        |), aud AS (
        |  SELECT doc_id AS media_id, CAST(sum(s * s) // max(n) AS BIGINT) AS metric
        |  FROM pcm GROUP BY doc_id
        |), aud_keep AS (
        |  SELECT media_id, 'audio' AS media_type, metric FROM aud
        |  WHERE metric >= 80000000
        |), vid AS (
        |  SELECT d.doc_id AS media_id,
        |    CAST((d.doc_id * 7) % 200 + 20
        |      + (d.doc_id * 7 + (d.doc_id % 24 + 3) * 13) % 200 + 20 AS BIGINT)
        |      AS metric
        |  FROM documents d WHERE d.doc_id % 3 = 2
        |), vid_keep AS (
        |  SELECT media_id, 'video' AS media_type, metric FROM vid
        |  WHERE metric >= 240
        |)
        |SELECT * FROM img_keep UNION ALL SELECT * FROM aud_keep
        |UNION ALL SELECT * FROM vid_keep""".stripMargin,

    // DuckDB's own nfc_normalize over the identical decomposed
    // construction; lengths count codepoints on both engines
    "q_text_normalize" ->
      """SELECT doc_id,
        |  length(text || 'e' || chr(769) || ' A' || chr(778) || ' ' || chr(8491))
        |    AS n_pre,
        |  nfc_normalize(text || 'e' || chr(769) || ' A' || chr(778) || ' ' || chr(8491))
        |    AS norm,
        |  length(nfc_normalize(text || 'e' || chr(769) || ' A' || chr(778) || ' '
        |    || chr(8491))) AS n_post
        |FROM documents""".stripMargin,

    // Same regex chain (RE2-safe patterns), same entity order with
    // &amp; LAST so double-encoded entities decode exactly once
    "q_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head><body><h1>T</h1><p>'
        |    || text ||
        |    '</p><script>var x=1;</script>&amp; &lt;tail&gt;&nbsp;&quot;q&quot;&amp;lt;keep&amp;gt;</body></html>'
        |    AS html
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(html,
        |          '<(script|style)[^>]*>.*?</(script|style)>', ' ', 'isg'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS decoded
        |  FROM h
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(decoded, '\s+', ' ', 'g')) AS clean,
        |  length(trim(regexp_replace(decoded, '\s+', ' ', 'g'))) AS n_clean
        |FROM s""".stripMargin,

    // Both engines compare strings bytewise (binary collation), so
    // min/max over the cast-to-string melt agree; countDistinct and
    // min/max skip NULLs on both
    "q_column_profile" ->
      """WITH m AS (
        |  SELECT 'text' AS col_name, CAST(text AS VARCHAR) AS value FROM documents
        |  UNION ALL SELECT 'lang', CAST(lang AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        |)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
        |  min(value) AS min_val, max(value) AS max_val
        |FROM m GROUP BY col_name""".stripMargin,

    // chunk count = (n - 64 + 47) // 48 + 1 for n > 64 (integer form on
    // both sides); DuckDB list slice is 1-based inclusive like Spark's
    // slice(arr, start, length) with length 64
    "q_doc_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), n AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
        |), c AS (
        |  SELECT doc_id, toks, n,
        |    CASE WHEN n <= 64 THEN 1
        |      ELSE (n - 64 + 47) // 48 + 1 END AS n_chunks
        |  FROM n
        |)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
        |  array_to_string(toks[CAST(u.i*48+1 AS BIGINT):CAST(u.i*48+64 AS BIGINT)], ' ')
        |    AS chunk_text,
        |  n AS n_tokens,
        |  CAST(LEAST(n - u.i*48, 64) AS BIGINT) AS chunk_tokens
        |FROM c, unnest(generate_series(0, c.n_chunks - 1)) AS u(i)""".stripMargin,

    "q_rolling_fp" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) > 0 THEN
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ord(c) AS BIGINT) for c in string_split(text, '')]),
        |      (a, c) -> (a * 31 + c) % 1000000007)
        |  ELSE 0 END AS rhash
        |FROM documents""".stripMargin,

    "q_corpus_clean" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks FROM documents
        |), good AS (
        |  SELECT doc_id, text, toks, len(toks) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
        |  FROM t
        |  WHERE len(toks) >= 20
        |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.5
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
        |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
        |  FROM good
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |)
        |SELECT doc_id, n_tokens, distinct_ratio FROM good
        |WHERE doc_id NOT IN (SELECT id_b FROM j WHERE jaccard >= 0.9)""".stripMargin,

    // same score derivation as q_text_profile (parity proven there);
    // threshold = quantile_cont == Spark's interpolated percentile. The
    // threshold itself is NOT output, so a last-bit interpolation
    // difference cannot flip the hash — membership only moves if a score
    // sits strictly between the two engines' thresholds, and both
    // interpolate between the same adjacent order statistics.
    "q_quality_band" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(list_sum([length(x) for x in toks]) AS DOUBLE) / len(toks) AS mwl,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','of','to','and','in','is','it','that','for',
        |       'on','with','as','at','by','from','or','be','are'], lower(x)))) AS DOUBLE)
        |      / len(toks) AS swr,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr
        |  FROM t
        |), s AS (
        |  SELECT doc_id, dr * 0.5 + (1.0 - abs(mwl - 5.0) / 10.0) * 0.3
        |    + swr * 0.2 AS score FROM m
        |), thr AS (SELECT quantile_cont(score, 0.7) AS th FROM s)
        |SELECT doc_id, score FROM s, thr WHERE score >= th""".stripMargin,

    // DSIR evidence lattice, re-derived end to end: hashed features per
    // doc (same bucket contract as q_quality_clf), target (doc_id<50) vs
    // raw bucket counts + totals, smoothed ratio per bucket as one
    // BIGINT-product float division (exact products, correctly-rounded
    // divide — same bits as the driver's Long.toDouble arithmetic), the
    // in-order fold, and the portable01 hash-threshold keep decision
    "q_dsir" -> {
      val bucket = (tok: String) =>
        s"(((list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"string_split($tok, ''), c -> ascii(c)::BIGINT)), " +
          s"(h, c) -> (h*31 + c) % 1048576) * 2654435761) % 4294967296) >> 20)"
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |      w -> len(w) > 0) AS tk
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, list_concat(
        |    list_transform(tk, t -> ${bucket("t")}),
        |    list_transform(range(1, len(tk)),
        |      i -> ${bucket("(tk[i] || '_' || tk[i+1])")})) AS fb
        |  FROM t
        |), tot AS (
        |  SELECT
        |    (SELECT count(*) FROM (SELECT unnest(fb) FROM f WHERE doc_id < 50)) AS tt,
        |    (SELECT count(*) FROM (SELECT unnest(fb) FROM f)) AS tr
        |), ct AS (
        |  SELECT b, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(fb) AS b FROM f WHERE doc_id < 50) GROUP BY b
        |), cr AS (
        |  SELECT b, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(fb) AS b FROM f) GROUP BY b
        |), rl AS (
        |  SELECT list(
        |    (((coalesce(ct.c, 0) + 1) * (tot.tr + 4096)) /
        |     ((coalesce(cr.c, 0) + 1) * (tot.tt + 4096))) ORDER BY gs.b) AS r
        |  FROM generate_series(0, 4095) AS gs(b)
        |  LEFT JOIN ct ON ct.b = gs.b
        |  LEFT JOIN cr ON cr.b = gs.b, tot
        |), s AS (
        |  SELECT doc_id, len(fb)::BIGINT AS n_feats,
        |    CASE WHEN len(fb) = 0 THEN NULL ELSE
        |      list_reduce(list_prepend(0.0::DOUBLE,
        |        list_transform(fb, x -> r[x + 1])), (a, b) -> a + b)
        |    END AS sum_ratio
        |  FROM f, rl
        |)
        |SELECT doc_id, n_feats, sum_ratio,
        |  CASE WHEN n_feats = 0 THEN false ELSE
        |    ((((xor(h1, h1 >> 12) % 1048576) * 2654435761 + 12830)
        |        % 4294967296) / 4294967296) * 2.0 < sum_ratio / n_feats
        |  END AS keep
        |FROM (SELECT s.*,
        |  ((doc_id % 1048576) * 2654435761 + 12830) % 4294967296 AS h1
        |  FROM s)""".stripMargin
    },

    // the composed curation pipeline: the q_quality_rules keep, the
    // q_quality_clf logit lattice, the q_dsir evidence lattice + keep
    // decision (counts over the FULL corpus, exactly as q_dsir), then
    // the q_corpus_clean exact-Jaccard near-dedup over the survivors —
    // each stage's replay is individually proven by its own gate; this
    // gate proves they compose
    "q_curate_rank" -> {
      val bucket = (tok: String) =>
        s"(((list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"string_split($tok, ''), c -> ascii(c)::BIGINT)), " +
          s"(h, c) -> (h*31 + c) % 1048576) * 2654435761) % 4294967296) >> 20)"
      val weight = (b: String) =>
        s"((($b * 2654435761 + 12345) % 4294967296) / 4294967296.0 - 0.5)"
      val fold = (xs: String) =>
        s"list_reduce(list_prepend(0.0::DOUBLE, $xs), (a, b) -> a + b)"
      s"""WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\\s+'), x -> strlen(x) > 0) AS words,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
        |    list_sum([strlen(x) for x in words]) AS sumlen,
        |    len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with'])) AS stop_hits,
        |    len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1 AS sym_cnt,
        |    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_cnt,
        |    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_cnt,
        |    len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS ellipsis_cnt,
        |    contains(text, '{') AS has_brace,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem
        |  FROM w
        |), r AS (
        |  SELECT doc_id,
        |    n_words >= 50 AND n_words <= 100000
        |    AND n_words > 0 AND CAST(sumlen AS DOUBLE) >= 3.0::DOUBLE * n_words
        |      AND CAST(sumlen AS DOUBLE) <= 10.0::DOUBLE * n_words
        |    AND n_words > 0 AND CAST(sym_cnt AS DOUBLE) < 0.1::DOUBLE * n_words
        |    AND n_words > 0 AND CAST(alpha_cnt AS DOUBLE) >= 0.8::DOUBLE * n_words
        |    AND CAST(bullet_cnt AS DOUBLE) < 0.9::DOUBLE * n_lines
        |    AND CAST(ellipsis_cnt AS DOUBLE) < 0.3::DOUBLE * n_lines
        |    AND stop_hits >= 1
        |    AND NOT has_brace AND NOT has_lorem AS rkeep
        |  FROM m
        |), t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |      w2 -> len(w2) > 0) AS tk
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, list_concat(
        |    list_transform(tk, t2 -> ${bucket("t2")}),
        |    list_transform(range(1, len(tk)),
        |      i -> ${bucket("(tk[i] || '_' || tk[i+1])")})) AS fb
        |  FROM t
        |), clf AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) = 0 THEN NULL ELSE
        |      ${fold(s"list_transform(tk, t2 -> ${weight(bucket("t2"))})")}
        |      + ${fold(s"list_transform(range(1, len(tk)), " +
                  s"i -> ${weight(bucket("(tk[i] || '_' || tk[i+1])"))})")}
        |    END AS quality_logit
        |  FROM t
        |), tot AS (
        |  SELECT
        |    (SELECT count(*) FROM (SELECT unnest(fb) FROM f WHERE doc_id < 50)) AS tt,
        |    (SELECT count(*) FROM (SELECT unnest(fb) FROM f)) AS tr
        |), ct AS (
        |  SELECT b, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(fb) AS b FROM f WHERE doc_id < 50) GROUP BY b
        |), cr AS (
        |  SELECT b, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(fb) AS b FROM f) GROUP BY b
        |), rl AS (
        |  SELECT list(
        |    (((coalesce(ct.c, 0) + 1) * (tot.tr + 4096)) /
        |     ((coalesce(cr.c, 0) + 1) * (tot.tt + 4096))) ORDER BY gs.b) AS r
        |  FROM generate_series(0, 4095) AS gs(b)
        |  LEFT JOIN ct ON ct.b = gs.b
        |  LEFT JOIN cr ON cr.b = gs.b, tot
        |), ev AS (
        |  SELECT doc_id, len(fb)::BIGINT AS n_feats,
        |    CASE WHEN len(fb) = 0 THEN NULL ELSE
        |      list_reduce(list_prepend(0.0::DOUBLE,
        |        list_transform(fb, x -> r[x + 1])), (a, b) -> a + b)
        |    END AS sum_ratio,
        |    ((doc_id % 1048576) * 2654435761 + 12830) % 4294967296 AS h1
        |  FROM f, rl
        |), cur AS (
        |  SELECT ev.doc_id, clf.quality_logit, ev.n_feats, ev.sum_ratio, w.text
        |  FROM ev
        |  JOIN clf ON clf.doc_id = ev.doc_id
        |  JOIN r ON r.doc_id = ev.doc_id
        |  JOIN w ON w.doc_id = ev.doc_id
        |  WHERE r.rkeep AND clf.quality_logit > 0
        |    AND ev.n_feats > 0
        |    AND ((((xor(ev.h1, ev.h1 >> 12) % 1048576) * 2654435761 + 12830)
        |        % 4294967296) / 4294967296) * 2.0 < ev.sum_ratio / ev.n_feats
        |), sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
        |    for i in range(0, greatest(len(toks)-3, 0)+1)]) AS sh
        |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM cur)
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |)
        |SELECT doc_id, quality_logit, n_feats, sum_ratio FROM cur
        |WHERE doc_id NOT IN (SELECT id_b FROM j WHERE jaccard >= 0.9)""".stripMargin
    },

    // the classifier scoring lattice, replayed exactly per the
    // QualityClfModel contract: token hash = code-point fold
    // (h*31+cp mod 2^20), bucket = high 12 bits of the Fibonacci mix,
    // weight = the pinned synthetic formula, logit = in-order unigram
    // fold + in-order bigram fold (each seeded 0.0) — same IEEE add
    // order as the kernel, so values hash-match bit-for-bit
    "q_quality_clf" -> {
      val bucket = (tok: String) =>
        s"(((list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"string_split($tok, ''), c -> ascii(c)::BIGINT)), " +
          s"(h, c) -> (h*31 + c) % 1048576) * 2654435761) % 4294967296) >> 20)"
      val weight = (b: String) =>
        s"((($b * 2654435761 + 12345) % 4294967296) / 4294967296.0 - 0.5)"
      val fold = (xs: String) =>
        s"list_reduce(list_prepend(0.0::DOUBLE, $xs), (a, b) -> a + b)"
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |      w -> len(w) > 0) AS tk
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN len(tk) = 0 THEN NULL ELSE
        |    ${fold(s"list_transform(tk, t -> ${weight(bucket("t"))})")}
        |    + ${fold(s"list_transform(range(1, len(tk)), " +
                s"i -> ${weight(bucket("(tk[i] || '_' || tk[i+1])"))})")}
        |  END AS quality_logit
        |FROM t""".stripMargin
    },

    "q_c4_lines" ->
      """WITH h AS (
        |  SELECT doc_id, text || '.' || chr(10) || 'short one' || chr(10) ||
        |    'this line has six words total.' || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'another full sentence with many words here.'
        |         ELSE 'no punct line here at all' END AS t
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, list_filter(string_split(t, chr(10)), l ->
        |    len(list_filter(string_split_regex(l, '\s+'), w -> strlen(w) > 0)) >= 5
        |    AND regexp_matches(rtrim(l), '[.!?"]$')) AS kept
        |  FROM h
        |)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        |  len(kept) AS n_lines_kept, len(kept) >= 3 AS keep
        |FROM k""".stripMargin,

    // every ratio is one exact int→double division compared to a double
    // literal — identical correctly-rounded ops in both engines, so the
    // rule booleans replay bit-for-bit
    "q_quality_rules" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> strlen(x) > 0) AS words,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
        |    list_sum([strlen(x) for x in words]) AS sumlen,
        |    len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with'])) AS stop_hits,
        |    len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1 AS sym_cnt,
        |    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_cnt,
        |    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_cnt,
        |    len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ellipsis_cnt,
        |    contains(text, '{') AS has_brace,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem
        |  FROM w
        |), r AS (
        |  SELECT doc_id, n_words, stop_hits,
        |    n_words >= 50 AND n_words <= 100000 AS rule_word_count,
        |    n_words > 0 AND CAST(sumlen AS DOUBLE) >= 3.0::DOUBLE * n_words
        |      AND CAST(sumlen AS DOUBLE) <= 10.0::DOUBLE * n_words AS rule_mean_word_len,
        |    n_words > 0 AND CAST(sym_cnt AS DOUBLE) < 0.1::DOUBLE * n_words AS rule_symbol_ratio,
        |    n_words > 0 AND CAST(alpha_cnt AS DOUBLE) >= 0.8::DOUBLE * n_words AS rule_alpha,
        |    CAST(bullet_cnt AS DOUBLE) < 0.9::DOUBLE * n_lines AS rule_bullet,
        |    CAST(ellipsis_cnt AS DOUBLE) < 0.3::DOUBLE * n_lines AS rule_ellipsis,
        |    stop_hits >= 1 AS rule_stopwords,
        |    NOT has_brace AS rule_no_brace,
        |    NOT has_lorem AS rule_no_lorem
        |  FROM m
        |)
        |SELECT *, rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
        |  AND rule_alpha AND rule_bullet AND rule_ellipsis AND rule_stopwords
        |  AND rule_no_brace AND rule_no_lorem AS keep
        |FROM r""".stripMargin,

    // script-class replay: counts via the same codepoint-range filters
    // (ascii() is codepoint semantics in both engines — the r13 fact),
    // planted CASE and range literals GENERATED from scriptSamples /
    // TextAnalysis.scriptRanges so neither side can drift; dominant is
    // the first-in-order argmax unrolled as a CASE whose WHEN order IS
    // the tie-break
    "q_script_profile" -> {
      val ranges = graft.ml.TextAnalysis.scriptRanges
      val cases = scriptSamples.zipWithIndex
        .map { case (smp, i) => s"WHEN $i THEN '$smp'" }.mkString(" ")
      val countCols = ranges.map { case (nm, rs) =>
        val cond = rs.map { case (lo, hi) =>
          s"(ascii(c) BETWEEN $lo AND $hi)" }.mkString(" OR ")
        s"CAST(len(list_filter(cs, c -> $cond)) AS BIGINT) AS n_$nm"
      }.mkString(",\n    ")
      val foreign = ranges.map(_._1).filterNot(_ == "latin")
      val dominant = foreign.map { nm =>
        val geAll = foreign.filterNot(_ == nm)
          .map(o => s"n_$nm >= n_$o").mkString(" AND ")
        s"WHEN n_$nm > 0 AND $geAll THEN '$nm'"
      }.mkString("\n    ")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' ' || CASE CAST(doc_id % 8 AS INT) $cases END AS text
         |  FROM documents
         |), ch AS (
         |  SELECT doc_id, string_split(text, '') AS cs FROM planted
         |), counted AS (
         |  SELECT doc_id,
         |    $countCols
         |  FROM ch
         |)
         |SELECT doc_id, n_latin, n_greek, n_cyrillic, n_arabic,
         |  n_devanagari, n_hangul, n_cjk,
         |  CASE
         |    $dominant
         |    ELSE 'none' END AS dominant_foreign
         |FROM counted""".stripMargin
    },

    "q_text_profile" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS toks,
        |    string_split_regex(lower(text), '\s+') AS ltoks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text, toks, ltoks,
        |    CAST(list_sum([length(x) for x in toks]) AS DOUBLE) / len(toks) AS mean_word_len,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','of','to','and','in','is','it','that','for',
        |       'on','with','as','at','by','from','or','be','are'], lower(x)))) AS DOUBLE)
        |      / len(toks) AS stopword_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
        |  FROM t
        |)
        |SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_regex_tokens,
        |  mean_word_len, stopword_ratio, distinct_ratio,
        |  distinct_ratio * 0.5 + (1.0 - abs(mean_word_len - 5.0) / 10.0) * 0.3
        |    + stopword_ratio * 0.2 AS quality,
        |  CASE
        |    WHEN len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) =
        |      greatest(
        |        len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))))
        |      AND len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) > 0
        |      THEN 'en'
        |    WHEN len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))) =
        |      greatest(
        |        len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))))
        |      AND len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))) > 0
        |      THEN 'es'
        |    WHEN len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))) =
        |      greatest(
        |        len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))))
        |      AND len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))) > 0
        |      THEN 'de'
        |    WHEN len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))) =
        |      greatest(
        |        len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))))
        |      AND len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))) > 0
        |      THEN 'fr'
        |    WHEN len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) =
        |      greatest(
        |        len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','los','del'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))),
        |        len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))))
        |      AND len(list_filter(ltoks, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) > 0
        |      THEN 'zh'
        |    ELSE 'und' END AS lang_guess,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM m""".stripMargin,

    // duplicate-line stats: the oracle re-sorts the planted line lists
    // and replays the neighbor-equality flags with DuckDB's 1-based
    // two-arg lambda; out-of-range ls[0]/ls[len+1] read NULL, and
    // (guard AND NULL) is FALSE, matching the Spark side's index guards.
    // Counts/sums are order-insensitive, so even a collation difference
    // in the sort could not diverge the output (equal lines group
    // adjacently under ANY total order).
    "q_dup_lines" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'shared dup line' || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'shared dup line'
        |         ELSE 'unique a ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'shared dup line'
        |         ELSE 'unique b ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
        |    'tail ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    list_sort(list_filter(string_split(text, chr(10)),
        |      x -> len(x) > 0)) AS ls
        |  FROM m
        |), fl AS (
        |  SELECT doc_id, ls,
        |    list_transform(ls, (x, i) ->
        |      (i > 1 AND x = ls[i-1]) OR (i < len(ls) AND x = ls[i+1])) AS flags
        |  FROM l
        |)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(flags, b -> b)) AS BIGINT) AS n_dup_lines,
        |  CASE WHEN len(ls) > 0 THEN
        |    CAST(len(list_filter(flags, b -> b)) AS DOUBLE) / len(ls)
        |  END AS dup_line_frac,
        |  CASE WHEN list_sum(list_transform(ls, x -> len(x))) > 0 THEN
        |    CAST(list_sum(list_transform(list_zip(ls, flags),
        |      z -> CASE WHEN z[2] THEN len(z[1]) ELSE 0 END)) AS DOUBLE) /
        |      list_sum(list_transform(ls, x -> len(x)))
        |  END AS dup_char_frac
        |FROM fl""".stripMargin,

    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS len,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents
        |), g2 AS (
        |  SELECT doc_id, len, unnest([array_to_string(toks[i+1:i+2], ' ')
        |    for i in range(0, greatest(len(toks)-1, 0))]) AS g
        |  FROM t
        |), c2 AS (
        |  SELECT doc_id, len, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3
        |), m2 AS (
        |  SELECT doc_id, CAST(max(c * length(g)) AS DOUBLE) / len AS top2_frac
        |  FROM c2 GROUP BY doc_id, len
        |), g5 AS (
        |  SELECT doc_id, len, unnest([array_to_string(toks[i+1:i+5], ' ')
        |    for i in range(0, greatest(len(toks)-4, 0))]) AS g
        |  FROM t
        |), c5 AS (
        |  SELECT doc_id, len, g, count(*) AS c FROM g5 GROUP BY 1, 2, 3
        |), m5 AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS DOUBLE)
        |      / len AS dup5_frac
        |  FROM c5 GROUP BY doc_id, len
        |)
        |SELECT d.doc_id,
        |  COALESCE(m2.top2_frac, 0.0) AS top2_frac,
        |  COALESCE(m5.dup5_frac, 0.0) AS dup5_frac
        |FROM documents d
        |LEFT JOIN m2 ON d.doc_id = m2.doc_id
        |LEFT JOIN m5 ON d.doc_id = m5.doc_id""".stripMargin,

    // encoding artifacts: the SQL interpolates the SAME Scala constants
    // the gate plants (suffixes) and the operator defines (the literal
    // mojibake alternation — it is the operator's public contract, like
    // bpeGateMerges), so planted text and counting patterns are
    // byte-identical on both engines; the control char enters via
    // chr(1) to keep the SQL string printable
    "q_mojibake" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0 THEN '$mojibakeSuffix' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN '$replacementSuffix' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' x' || chr(1) || 'y' ELSE '' END
         |    AS text
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
         |  CAST(len(regexp_extract_all(text, '${graft.ml.TextAnalysis.MojibakePattern}')) AS BIGINT) AS n_mojibake,
         |  CAST(len(regexp_extract_all(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS BIGINT) AS n_ctrl
         |FROM planted""".stripMargin,

    "q_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com at 10.2.' || CAST(doc_id % 256 AS VARCHAR) ||
        |      '.7 or 555-123-4567',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '<PHONE>', 'g') AS clean
        |FROM documents""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT id, token, score, rank FROM (
        |  SELECT tf.id, tf.token,
        |    CAST(tf.tf * n.n AS DOUBLE) / dfreq.df AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.id
        |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / dfreq.df DESC, tf.token) AS INT) AS rank
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |WHERE rank <= 3""".stripMargin,

    "q_tfidf_log" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT id, token, score, rank FROM (
        |  SELECT tf.id, tf.token,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.id
        |      ORDER BY round(tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) DESC,
        |        tf.token) AS INT) AS rank
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |WHERE rank <= 3""".stripMargin,

    "q_vocab" -> vocabOracle,

    // the store path must reproduce the whole-corpus vocabulary exactly
    "q_vocab_store" -> vocabOracle,

    // recursive-CTE replay of the BPE encoder: per DISTINCT word, start
    // from code points and repeatedly merge the LEFTMOST occurrence of
    // the LOWEST-ranked adjacent pair (ORDER BY rnk, i LIMIT 1) until no
    // pair applies; per doc, word token lists rejoin in word order. The
    // merge VALUES are exactly SparkEntry.bpeGateMerges.
    "q_bpe_encode" ->
      """WITH RECURSIVE
        |merges(l, r, rnk) AS (VALUES ('t','a',0),('ta','b',1),('tab','l',2),
        |  ('tabl','e',3),('s','c',4),('sc','a',5),('sca','n',6),('a','g',7),
        |  ('ag','g',8),('r','o',9),('ro','w',10),('o','r',11),('e','r',12)),
        |sp AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |wp AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws FROM sp),
        |words AS (SELECT doc_id, i, ws[i] AS word FROM wp WHERE ws[i] <> ''),
        |dw AS (SELECT DISTINCT word FROM words),
        |enc(word, syms, step) AS (
        |  SELECT word, string_split(word, ''), 0 FROM dw
        |  UNION ALL
        |  SELECT word,
        |    list_concat(list_concat(syms[1:p-1], [syms[p] || syms[p+1]]), syms[p+2:]),
        |    step + 1
        |  FROM (
        |    SELECT word, syms, step,
        |      (SELECT t.i FROM unnest(generate_series(1, greatest(len(syms)-1, 0))) AS t(i)
        |        JOIN merges m ON m.l = syms[t.i] AND m.r = syms[t.i+1]
        |        ORDER BY m.rnk, t.i LIMIT 1) AS p
        |    FROM enc) s WHERE p IS NOT NULL
        |),
        |fin AS (SELECT word, syms FROM enc QUALIFY step = max(step) OVER (PARTITION BY word)),
        |wt AS (SELECT doc_id, i, f.syms FROM words w JOIN fin f USING (word))
        |SELECT doc_id,
        |  CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
        |  string_agg(list_aggregate(syms, 'string_agg', '|'), '|' ORDER BY i) AS bpe
        |FROM wt GROUP BY doc_id""".stripMargin,

    // losslessness of the trained-merge encode: concatenating each
    // word's BPE tokens reproduces the word, so the rejoined doc equals
    // its normalized (lowercased, single-spaced, empty-dropped) text
    "q_bpe_roundtrip" ->
      """SELECT doc_id,
        |  coalesce(list_aggregate(
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> ''),
        |    'string_agg', ' '), '') AS rejoined
        |FROM documents""".stripMargin,

    // mirrors ngramsAll's edge exactly: docs shorter than 5 tokens emit
    // NO grams (empty list, not a clipped short gram) and come out with
    // novelty 1.0; fractions are one correctly-rounded integer division
    "q_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 5 THEN
        |    list_distinct([array_to_string(toks[i+1:i+5], ' ')
        |      for i in range(0, len(toks)-5+1)])
        |    ELSE [] END AS sh
        |  FROM t
        |), ref AS (
        |  SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id < 10
        |), flat AS (
        |  SELECT doc_id, unnest(sh) AS gram FROM s
        |), agg AS (
        |  SELECT f.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS novelty
        |  FROM flat f LEFT JOIN ref r USING (gram)
        |  GROUP BY 1
        |)
        |SELECT t.doc_id AS id, coalesce(agg.n_grams, 0) AS n_grams,
        |  coalesce(agg.novelty, 1.0) AS novelty
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,

    // independent replay of the stupid-backoff scorer: positional gram
    // lattice via generate_series, model = count ≥ 2 grams of docs < 10,
    // backoff CASE identical to NgramLm.score. Float literals MUST be
    // ::DOUBLE — bare 0.4 is DECIMAL in DuckDB and 0.4*0.4 folds to
    // exact 0.16, not the IEEE product the engine computes. sum in pos
    // order via list(... ORDER BY pos) → list_aggregate.
    "q_ngram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, i - 1 AS pos, k AS lvl,
        |         array_to_string(toks[i-k+1:i], ' ') AS gram
        |  FROM t, unnest(generate_series(1, 3)) ks(k),
        |       unnest(generate_series(1, len(toks))) s(i)
        |  WHERE i >= k
        |), mdl AS (
        |  SELECT lvl, gram, count(*) AS cnt FROM g WHERE doc_id < 10
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), ntot AS (
        |  SELECT count(*)::DOUBLE AS n FROM g WHERE doc_id < 10 AND lvl = 1
        |), pv AS (
        |  SELECT doc_id, pos,
        |    max(CASE WHEN lvl=1 THEN cnt END) AS c1,
        |    max(CASE WHEN lvl=2 THEN cnt END) AS c2,
        |    max(CASE WHEN lvl=3 THEN cnt END) AS c3
        |  FROM (SELECT doc_id, pos, lvl, cnt
        |        FROM g LEFT JOIN mdl USING (lvl, gram)) j
        |  GROUP BY 1, 2
        |), w AS (
        |  SELECT doc_id, pos, c1, c2, c3,
        |    lag(c1) OVER (PARTITION BY doc_id ORDER BY pos) AS c1p,
        |    lag(c2) OVER (PARTITION BY doc_id ORDER BY pos) AS c2p
        |  FROM pv
        |), s AS (
        |  SELECT doc_id, pos, least(3, pos + 1) AS kmax,
        |    CASE
        |      WHEN pos >= 2 AND c3 IS NOT NULL THEN 3
        |      WHEN pos >= 1 AND c2 IS NOT NULL THEN 2
        |      WHEN c1 IS NOT NULL THEN 1
        |      ELSE 0 END AS used,
        |    CASE
        |      WHEN pos >= 2 AND c3 IS NOT NULL THEN c3::DOUBLE / c2p::DOUBLE
        |      WHEN pos >= 1 AND c2 IS NOT NULL THEN
        |        (CASE WHEN least(3, pos+1) = 2 THEN 1.0::DOUBLE
        |              ELSE 0.4::DOUBLE END) * (c2::DOUBLE / c1p::DOUBLE)
        |      WHEN c1 IS NOT NULL THEN
        |        (CASE least(3, pos+1) - 1 WHEN 0 THEN 1.0::DOUBLE
        |              WHEN 1 THEN 0.4::DOUBLE
        |              ELSE 0.4::DOUBLE * 0.4::DOUBLE END)
        |          * (c1::DOUBLE / (SELECT n FROM ntot))
        |      ELSE 0.0::DOUBLE END AS sv
        |  FROM w
        |)
        |SELECT doc_id,
        |  count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN used = kmax THEN 1 ELSE 0 END)::BIGINT AS matched_full,
        |  sum(CASE WHEN used > 0 AND used < kmax THEN 1 ELSE 0 END)::BIGINT
        |    AS backoff,
        |  sum(CASE WHEN used = 0 THEN 1 ELSE 0 END)::BIGINT AS oov,
        |  list_aggregate(list(sv ORDER BY pos), 'sum') AS sum_prob
        |FROM s GROUP BY doc_id""".stripMargin,

    // byte-exact WARC round-trip: what went in comes out
    "q_warc_read" ->
      "SELECT doc_id, text FROM documents WHERE doc_id < 200",

    // distributed-writer round-trip: same contract, through WarcWriter
    "q_warc_write" ->
      "SELECT doc_id, text FROM documents WHERE doc_id < 200",

    "q_contamination_report" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+5], ' ')
        |    for i in range(0, greatest(len(toks)-5, 0)+1)]) AS sh
        |  FROM t
        |), bd AS (
        |  SELECT DISTINCT doc_id AS bench_id, unnest(sh) AS g
        |  FROM s WHERE doc_id < 10
        |), flat AS (
        |  SELECT doc_id, unnest(sh) AS g FROM s
        |)
        |SELECT f.doc_id, bd.bench_id, count(*) AS shared_grams
        |FROM flat f JOIN bd USING (g)
        |GROUP BY 1, 2""".stripMargin,

    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+5], ' ')
        |    for i in range(0, greatest(len(toks)-5, 0)+1)]) AS sh
        |  FROM t
        |), c AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10
        |), flat AS (
        |  SELECT doc_id, unnest(sh) AS g FROM s
        |), bad AS (
        |  SELECT DISTINCT flat.doc_id FROM flat JOIN c USING (g)
        |)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // Oracle for the Bloom variant is the exact-set computation (same
    // n=5 shingles): the sketch is oversized ~30x at this SF, so false
    // positives are vanishingly unlikely and both variants must agree.
    "q_bloom_decontam" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+5], ' ')
        |    for i in range(0, greatest(len(toks)-5, 0)+1)]) AS sh
        |  FROM t
        |), c AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10
        |), flat AS (
        |  SELECT doc_id, unnest(sh) AS g FROM s
        |), bad AS (
        |  SELECT DISTINCT flat.doc_id FROM flat JOIN c USING (g)
        |)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // portable01(seed=7): two-round seeded draw — h1 affine, then
    // xor-fold + second multiply (additive 7*97+12345 = 13024)
    "q_mix_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ((doc_id % 1048576) * 2654435761 + 13024) % 4294967296 AS h1
        |  FROM documents)
        |WHERE CAST(((xor(h1, h1 >> 12) % 1048576) * 2654435761 + 13024)
        |      % 4294967296 AS DOUBLE) / 4294967296.0
        |  < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
        |    WHEN 'src2' THEN 0.0 ELSE 0.5 END""".stripMargin,

    // portable01(seed=1): two-round seeded draw, additive 1*97+12345 = 12442
    "q_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST(((xor(h1, h1 >> 12) % 1048576) * 2654435761 + 12442)
        |        % 4294967296 AS DOUBLE) / 4294967296.0 AS u
        |  FROM (SELECT doc_id,
        |    ((doc_id % 1048576) * 2654435761 + 12442) % 4294967296 AS h1
        |    FROM documents))""".stripMargin,

    "q_global_shuffle" ->
      """SELECT doc_id, row_number() OVER (
        |    ORDER BY md5(concat(coalesce(CAST(doc_id AS VARCHAR), ''), '|', 'sd')),
        |      doc_id)
        |  AS pos
        |FROM documents""".stripMargin,

    // file-section rows are the CONTRACT as constants (4 files, each
    // disjoint — anything else means the range shuffle or the in-file
    // sort broke); the content row binds the round-trip to the corpus
    "q_sorted_write" ->
      """SELECT 'file' AS kind, CAST(r AS INT) AS file_rank, true AS disjoint,
        |  CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS id_sum
        |FROM range(1, 5) t(r)
        |UNION ALL
        |SELECT 'content', 0, true, count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents""".stripMargin,

    "q_quota_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(concat(coalesce(CAST(doc_id AS VARCHAR), ''), '|', 'qs')),
        |        doc_id)
        |    AS qr
        |  FROM documents)
        |WHERE qr <= 18""".stripMargin,

    // the identical cosine lattice as the ANN oracles (sequential
    // list_reduce fold == the DotD kernel's left fold), argmin by
    // (sim DESC, cell ASC) on both sides, then the per-cluster quota
    "q_cluster_balance" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell_id, v AS cent FROM c WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, cell_id FROM (
        |    SELECT c.vec_id, cents.cell_id,
        |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |        COALESCE(
        |          list_reduce(list_zip(c.v, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |          sqrt(list_reduce(list_zip(c.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |               list_reduce(list_zip(cents.cent, cents.cent).apply(x -> x[1]*x[2]), (a,b) -> a+b)),
        |          -2.0) DESC, cents.cell_id) AS rn
        |    FROM c, cents) WHERE rn = 1)
        |SELECT vec_id, cluster_id FROM (
        |  SELECT vec_id, cell_id AS cluster_id,
        |    row_number() OVER (PARTITION BY cell_id ORDER BY vec_id) AS rn
        |  FROM asg) WHERE rn <= 40""".stripMargin,

    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seq_start
        |  FROM t
        |)
        |-- DuckDB's sum() OVER yields HUGEINT; cast back to BIGINT so the
        |-- driver's value hash matches Spark's LongType output.
        |SELECT doc_id, n_tokens, CAST(seq_start AS BIGINT) AS seq_start,
        |  CAST(floor(seq_start / 512.0) AS BIGINT) AS bin,
        |  CAST(seq_start % 512 AS BIGINT) AS bin_offset,
        |  CASE WHEN n_tokens = 0 THEN 0
        |    ELSE CAST(floor((seq_start + n_tokens - 1) / 512.0) AS BIGINT)
        |      - CAST(floor(seq_start / 512.0) AS BIGINT) + 1 END AS bins_spanned
        |FROM w""".stripMargin,

    // NOTE: this oracle re-derives normalization with regexes and is only
    // equivalent to the try_parse_url-based normalizeUrl on WELL-FORMED
    // urls like the synthesized set below — userinfo@host, bracketed
    // IPv6, and unparseable strings diverge (normalizeUrl handles them
    // via the real parser; the regexes here would not). Those paths are
    // covered value-by-value in DatasetOpsSpec instead.
    "q_outlinks" ->
      """WITH h AS (
        |  SELECT doc_id, text || ' <a href="http://h' || CAST(doc_id % 13 AS VARCHAR)
        |    || '.example/p/' || CAST(doc_id AS VARCHAR) || '">x</a>'
        |    || ' <A HREF=''HTTPS://H' || CAST((doc_id + 5) % 13 AS VARCHAR)
        |    || '.EXAMPLE/q''>y</A>' AS html
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(html, '(?i)href\s*=\s*["'']([^"''#]+)', 1)) AS dst_url
        |  FROM h
        |)
        |SELECT doc_id, dst_url,
        |  CASE WHEN regexp_extract(lower(dst_url), '^https?://([^/:?#]+)', 1) = ''
        |       THEN NULL
        |       ELSE regexp_extract(lower(dst_url), '^https?://([^/:?#]+)', 1) END AS dst_host
        |FROM l WHERE strlen(dst_url) > 0""".stripMargin,

    "q_host_graph" ->
      """WITH l AS (
        |  SELECT 'http://h' || CAST(doc_id % 13 AS VARCHAR) || '.example/p/'
        |           || CAST(doc_id AS VARCHAR) AS src_url,
        |         'https://h' || CAST((doc_id * 3 + 1) % 13 AS VARCHAR)
        |           || '.example/q' AS dst_url
        |  FROM documents
        |), h AS (
        |  SELECT regexp_extract(lower(src_url), '^https?://([^/:?#]+)', 1) AS src_host,
        |         regexp_extract(lower(dst_url), '^https?://([^/:?#]+)', 1) AS dst_host
        |  FROM l
        |)
        |SELECT src_host, dst_host, COUNT(*) AS n_links FROM h
        |WHERE src_host <> dst_host GROUP BY 1, 2""".stripMargin,

    // ordered per-dimension folds (list built ORDER BY vec_id, summed
    // left-to-right) — the proven bit-exact double-sum replay pattern
    "q_vec_pool" ->
      """WITH g AS (
        |  SELECT vec_id % 50 AS doc, vec_id, embedding FROM embeddings
        |), c AS (
        |  SELECT doc, list(embedding ORDER BY vec_id) AS vecs,
        |         COUNT(*) AS n_chunks
        |  FROM g GROUP BY doc
        |)
        |SELECT doc, n_chunks, len(vecs[1]) AS dim,
        |  list_aggregate(list_transform(range(1, len(vecs[1]) + 1),
        |    d -> list_aggregate(list_transform(vecs, v -> v[d]::DOUBLE), 'sum')
        |      / n_chunks), 'sum') AS vec_sum
        |FROM c""".stripMargin,

    // the identical integer rank lattice: binary string collation for the
    // tiebreaks matches Spark's UTF8 byte order; length() (chars, not
    // strlen's bytes) matches Spark's character semantics on CJK text
    "q_langid" ->
      """WITH g AS (
        |  SELECT lang, doc_id, unnest(list_transform(
        |    range(1, greatest(length(lower(text)) - 1, 1)),
        |    i -> substr(lower(text), i::INT, 3))) AS gram
        |  FROM documents
        |), lp AS (
        |  SELECT lang, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
        |), prof AS (
        |  SELECT lang, gram, rank FROM (
        |    SELECT lang, gram, row_number() OVER
        |      (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |    FROM lp) WHERE rank <= 100
        |), dg AS (
        |  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
        |), dr AS (
        |  SELECT doc_id, gram, doc_rank FROM (
        |    SELECT doc_id, gram, row_number() OVER
        |      (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS doc_rank
        |    FROM dg) WHERE doc_rank <= 100
        |), langs AS (SELECT DISTINCT lang FROM prof),
        |d AS (
        |  SELECT dr.doc_id, langs.lang,
        |    CAST(SUM(COALESCE(abs(dr.doc_rank - prof.rank), 100)) AS BIGINT) AS distance
        |  FROM dr CROSS JOIN langs
        |  LEFT JOIN prof ON prof.lang = langs.lang AND prof.gram = dr.gram
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, lang AS lang_guess, distance FROM (
        |  SELECT doc_id, lang, distance, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY distance, lang) AS rn
        |  FROM d) WHERE rn = 1""".stripMargin,

    // suffix semantics replayed as residue membership
    "q_block_hosts" ->
      """SELECT doc_id, 'http://sub.h' || CAST(doc_id % 10 AS VARCHAR)
        |  || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
        |FROM documents WHERE doc_id % 10 NOT IN (3, 5, 7)""".stripMargin,

    "q_block_terms" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> strlen(x) > 0)) AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(toks, ['slow', 'merge'])) AS BIGINT) AS bad_hits
        |  FROM t
        |)
        |SELECT doc_id, bad_hits, bad_hits < 2 AS keep FROM m""".stripMargin,

    // store path must reproduce the whole-corpus host graph
    "q_host_graph_store" ->
      """WITH l AS (
        |  SELECT 'http://h' || CAST(doc_id % 13 AS VARCHAR) || '.example/p/'
        |           || CAST(doc_id AS VARCHAR) AS src_url,
        |         'https://h' || CAST((doc_id * 3 + 1) % 13 AS VARCHAR)
        |           || '.example/q' AS dst_url
        |  FROM documents
        |), h AS (
        |  SELECT regexp_extract(lower(src_url), '^https?://([^/:?#]+)', 1) AS src_host,
        |         regexp_extract(lower(dst_url), '^https?://([^/:?#]+)', 1) AS dst_host
        |  FROM l
        |)
        |SELECT src_host, dst_host, COUNT(*) AS n_links FROM h
        |WHERE src_host <> dst_host GROUP BY 1, 2""".stripMargin,

    // the identical div/% integer lattice, unrolled per iteration —
    // DuckDB `//` is exact integer division (its `/` is float)
    "q_pagerank" ->
      """WITH r AS (SELECT DISTINCT doc_id % 13 AS r FROM documents),
        |e0 AS (
        |  SELECT 'h' || CAST(r AS VARCHAR) AS src,
        |         'h' || CAST((r*r + 1) % 13 AS VARCHAR) AS dst FROM r
        |  UNION ALL
        |  SELECT 'h' || CAST(r AS VARCHAR),
        |         'h' || CAST((r*2 + 5) % 13 AS VARCHAR) FROM r
        |),
        |e AS (SELECT DISTINCT src, dst FROM e0),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |d AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, d.od FROM e JOIN d USING (src)),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rk FROM n),
        |c1 AS (SELECT ed.dst, SUM(r0.rk // ed.od) AS m FROM ed JOIN r0 ON ed.src = r0.node GROUP BY ed.dst),
        |r1 AS (SELECT n.node, 150000000000 + COALESCE((c1.m // 100) * 85 + ((c1.m % 100) * 85) // 100, 0) AS rk FROM n LEFT JOIN c1 ON n.node = c1.dst),
        |c2 AS (SELECT ed.dst, SUM(r1.rk // ed.od) AS m FROM ed JOIN r1 ON ed.src = r1.node GROUP BY ed.dst),
        |r2 AS (SELECT n.node, 150000000000 + COALESCE((c2.m // 100) * 85 + ((c2.m % 100) * 85) // 100, 0) AS rk FROM n LEFT JOIN c2 ON n.node = c2.dst),
        |c3 AS (SELECT ed.dst, SUM(r2.rk // ed.od) AS m FROM ed JOIN r2 ON ed.src = r2.node GROUP BY ed.dst),
        |r3 AS (SELECT n.node, 150000000000 + COALESCE((c3.m // 100) * 85 + ((c3.m % 100) * 85) // 100, 0) AS rk FROM n LEFT JOIN c3 ON n.node = c3.dst),
        |c4 AS (SELECT ed.dst, SUM(r3.rk // ed.od) AS m FROM ed JOIN r3 ON ed.src = r3.node GROUP BY ed.dst),
        |r4 AS (SELECT n.node, 150000000000 + COALESCE((c4.m // 100) * 85 + ((c4.m % 100) * 85) // 100, 0) AS rk FROM n LEFT JOIN c4 ON n.node = c4.dst),
        |c5 AS (SELECT ed.dst, SUM(r4.rk // ed.od) AS m FROM ed JOIN r4 ON ed.src = r4.node GROUP BY ed.dst),
        |r5 AS (SELECT n.node, 150000000000 + COALESCE((c5.m // 100) * 85 + ((c5.m % 100) * 85) // 100, 0) AS rk FROM n LEFT JOIN c5 ON n.node = c5.dst)
        |SELECT node, CAST(rk AS BIGINT) AS rank_scaled FROM r5""".stripMargin,

    // quantile_cont replays Spark's exact `percentile` bit-for-bit (the
    // recorded (n-1)·p lerp fact); SUM(deg) casts HUGEINT → BIGINT so
    // the dtype survives the driver hash; hub_share replays the long
    // Spark double division as BIGINT/BIGINT (DuckDB float division —
    // exact while counts < 2^53)
    "q_graph_degrees" ->
      """WITH e AS (
        |  SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
        |         'h' || CAST((doc_id % 11) * (doc_id % 13) AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || CAST(doc_id % 37 AS VARCHAR), 'hub'
        |  FROM documents WHERE doc_id % 5 = 0
        |), deg AS (
        |  SELECT side, node, COUNT(*) AS deg FROM (
        |    SELECT 'out' AS side, src AS node FROM e
        |    UNION ALL
        |    SELECT 'in' AS side, dst AS node FROM e
        |  ) GROUP BY side, node
        |)
        |SELECT side, COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS n_edges,
        |  MAX(deg) AS max_degree,
        |  quantile_cont(deg, 0.5) AS p50_degree,
        |  quantile_cont(deg, 0.9) AS p90_degree,
        |  quantile_cont(deg, 0.99) AS p99_degree,
        |  MAX(deg) / CAST(SUM(deg) AS BIGINT) AS hub_share
        |FROM deg GROUP BY side""".stripMargin,

    "q_url_dedup" ->
      """WITH raw AS (
        |  SELECT event_id,
        |    'HTTPS://Cdn.Example.COM:443/' || event_type || '/p?utm_source=t&id='
        |      || CAST(user_id % 7 AS VARCHAR) || '&x=1#s'
        |      || CAST(event_id AS VARCHAR) AS u0
        |  FROM events
        |), nf AS (
        |  SELECT event_id, regexp_replace(u0, '#.*$', '') AS u FROM raw
        |), p AS (
        |  SELECT event_id,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(u, '^[^/]*://([^/?#]*)', 1) AS hostport,
        |    regexp_extract(u, '^[^/]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(u, '\?([^#]*)', 1) AS rawq
        |  FROM nf
        |), q AS (
        |  SELECT event_id, scheme,
        |    lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |    list_sort(list_filter(string_split(rawq, '&'),
        |      x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS params
        |  FROM p
        |), n AS (
        |  SELECT event_id,
        |    scheme || '://' || host ||
        |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |      OR (scheme = 'https' AND port = '443') THEN ''
        |      ELSE ':' || port END ||
        |    path ||
        |    CASE WHEN len(params) = 0 THEN ''
        |      ELSE '?' || array_to_string(params, '&') END AS url_norm
        |  FROM q
        |)
        |SELECT url_norm, min(event_id) AS keeper_id, count(*) AS n_dups
        |FROM n GROUP BY url_norm""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    // the salted rewrite must equal the PLAIN join row-for-row — the
    // whole point of the gate
    "q_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5""".stripMargin,

    // the oracle compares TEXTS where the engine compares xxhash64
    // fingerprints — equal verdicts modulo a ~2^-64 collision
    "q_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 5 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 3
        |), j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old o FULL OUTER JOIN documents n ON o.doc_id = n.doc_id)
        |SELECT id, status FROM j WHERE status <> 'unchanged'""".stripMargin,

    "q_inverted_index" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), w AS (
        |  SELECT token, doc_id,
        |    count(*) OVER (PARTITION BY token) AS df,
        |    CAST(row_number() OVER (PARTITION BY token ORDER BY doc_id)
        |      AS INT) AS posting_rank
        |  FROM t WHERE token <> '')
        |SELECT token, df, posting_rank, doc_id FROM w
        |WHERE df >= 5 AND posting_rank <= 3""".stripMargin,

    // bucket arithmetic and bit interleave replayed term-by-term; `//`
    // is DuckDB integer division (inputs non-negative after the shift)
    "q_zorder" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((ba >> $i) & 1) << ${2 * i})",
        s"(((bb >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH b AS (
        |  SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
        |         min(l_partkey) AS mnp, max(l_partkey) AS mxp
        |  FROM lineitem
        |), k AS (
        |  SELECT l_orderkey, l_linenumber,
        |    ((l_orderkey - mno) * 256) // (mxo - mno + 1) AS ba,
        |    ((l_partkey - mnp) * 256) // (mxp - mnp + 1) AS bb
        |  FROM lineitem CROSS JOIN b)
        |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS z
        |FROM k""".stripMargin
    },

    // weights are small exact-representable doubles, so Σweight is
    // order-independent and the double arithmetic replays bit-for-bit
    "q_mix_plan" ->
      """WITH t AS (
        |  SELECT source AS "group",
        |    len(string_split_regex(text, '\s+')) AS tc
        |  FROM documents
        |), p AS (
        |  SELECT "group", CAST(sum(tc) AS BIGINT) AS n_tokens,
        |    CASE "group" WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0
        |      ELSE 1.0 END AS weight
        |  FROM t GROUP BY 1
        |), w AS (SELECT sum(weight) AS ws FROM p)
        |SELECT "group", n_tokens, weight,
        |  30000.0 * weight / ws AS target_tokens,
        |  least(1.0, (30000.0 * weight / ws) / n_tokens) AS rate,
        |  greatest(0.0, (30000.0 * weight / ws) - n_tokens) AS deficit
        |FROM p CROSS JOIN w""".stripMargin,

    // alpha = 0.5 replays as sqrt (correctly rounded by IEEE mandate in
    // both engines); wsum replays as the list fold over weights ordered
    // by group — the same order sort_array gives the Spark fold
    "q_mix_temperature" ->
      """WITH t AS (
        |  SELECT source AS "group",
        |    len(string_split_regex(text, '\s+')) AS tc
        |  FROM documents
        |), p AS (
        |  SELECT "group", CAST(sum(tc) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS N,
        |    list(n_tokens ORDER BY "group") AS arr
        |  FROM p
        |), w AS (
        |  SELECT N, list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(arr, n -> sqrt(n / N))), (a, b) -> a + b) AS wsum
        |  FROM tot
        |)
        |SELECT "group", n_tokens, sqrt(n_tokens / N) AS weight,
        |  20000.0 * sqrt(n_tokens / N) / wsum AS target_tokens,
        |  least(1.0, (20000.0 * sqrt(n_tokens / N) / wsum) / n_tokens) AS rate,
        |  greatest(0.0, (20000.0 * sqrt(n_tokens / N) / wsum) - n_tokens) AS deficit
        |FROM p CROSS JOIN w""".stripMargin,

    // portable01(seed=3): two-round seeded draw, additive 3*97+12345 = 12636
    "q_mix_apply" ->
      """WITH t AS (
        |  SELECT source AS g, len(string_split_regex(text, '\s+')) AS tc
        |  FROM documents
        |), p AS (
        |  SELECT g, CAST(sum(tc) AS BIGINT) AS n_tokens,
        |    CASE g WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0
        |      ELSE 1.0 END AS weight
        |  FROM t GROUP BY 1
        |), w AS (SELECT sum(weight) AS ws FROM p),
        |r AS (
        |  SELECT g, least(1.0, (30000.0 * weight / ws) / n_tokens) AS rate
        |  FROM p CROSS JOIN w)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ((doc_id % 1048576) * 2654435761 + 12636) % 4294967296 AS h1
        |  FROM documents) JOIN r ON source = r.g
        |WHERE CAST(((xor(h1, h1 >> 12) % 1048576) * 2654435761 + 12636)
        |    % 4294967296 AS DOUBLE) / 4294967296.0 < rate""".stripMargin,

    "q_knn" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 1000),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id,
        |    list_reduce(list_zip(q.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) /
        |    sqrt(list_reduce(list_zip(q.v, q.v).apply(x -> x[1]*x[2]), (a,b) -> a+b) *
        |         list_reduce(list_zip(c.v, c.v).apply(x -> x[1]*x[2]), (a,b) -> a+b)) AS sim
        |  FROM c q JOIN c ON q.vec_id <> c.vec_id)
        |SELECT query_id, vec_id, rank, sim FROM (
        |  SELECT *, CAST(row_number() OVER
        |    (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 3""".stripMargin,
  )
}
