package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Stores

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Everything is built from codegen'd built-ins (array/lambda functions,
  * hash, md5) — no UDFs — so the plans stay inside whole-stage codegen and
  * scale by shuffle on bounded keys:
  *
  *   - exact:        shuffle key = content hash           (1 row/group out)
  *   - fingerprint:  shuffle key = token-set fingerprint  (order-insensitive)
  *   - minhash LSH:  shuffle key = (band, band-hash); candidate pairs are
  *                   verified with exact shingle jaccard so output quality
  *                   is exact while cost stays near-linear
  *   - simhash:      single pass, one 32-bit fingerprint per doc
  */
object Dedup {

  def tokens(text: Column): Column = split(text, """\s+""")

  /** Distinct word n-gram shingles.
    *
    * Built from zipped shifted arrays instead of a per-position
    * `slice+concat_ws` lambda: one pass, no per-shingle array allocation —
    * ~5× faster in the interpreted higher-order-function path (HOFs don't
    * codegen). Positions past `size-n` concat a null tail element and are
    * swept by array_compact; docs shorter than n tokens produce the single
    * clipped shingle the slice-based formulation produced. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleFns.shingles(text, n)

  /** Exact dedup: one representative (min id) + count per identical value.
    * At scale the groupBy key should be a digest, not the full text — the
    * shuffle then carries 16 bytes + id per row. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("string")).as("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("cnt"))

  /** Keep-first EXACT dedup as a corpus transform: drop every row whose
    * text matches an earlier (smaller-id) row byte-for-byte. One window
    * pass whose shuffle key is the 16-byte md5 digest — the text itself
    * never keys a shuffle — and no join-back. The aggregate view of the
    * same policy (representative + count per group) is [[exact]]. */
  def dropDuplicatesExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // null-text rows are all KEPT: md5(null) is null and the window
    // would group every null-text row into one partition and keep one —
    // silently losing rows the hamming/seen-store paths (whose null
    // contracts are explicit) all keep. Nulls can't be "duplicates of
    // each other" in any of this module's dedup semantics.
    val w = Window.partitionBy(md5(col(textCol).cast("string"))).orderBy(col(idCol))
    df.withColumn("__graft_rank",
        when(col(s"`$textCol`").isNull, lit(1)).otherwise(row_number().over(w)))
      .filter(col("__graft_rank") === 1).drop("__graft_rank")
  }

  /** Order-insensitive token-set fingerprint (sorted distinct tokens). */
  def fingerprintCol(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  def fingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(fingerprintCol(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("cnt"))

  /** LSH candidate generation + exact-jaccard verification.
    *
    * Bands the signature into `bands` groups of `numHashes/bands` rows;
    * docs sharing any (band, hash-of-band-slice) bucket become candidates;
    * candidates are verified with exact shingle jaccard ≥ `threshold`.
    *
    * Plan shape (this is what makes it fast — see git history for the
    * 300s-at-sf0.1 version this replaces):
    *   - shingles are hashed to 64-bit longs in ONE pass over the strings;
    *     the k minhash permutations re-hash only the longs. Without this,
    *     Catalyst's CollapseProject inlines the whole shingle expression
    *     into every one of the k lambda bodies → k× string re-tokenization.
    *   - a `repartition(id)` barrier right after shingling both (a)
    *     materializes the shingle arrays once and (b) spreads rows over all
    *     cores — the testdata parquet is a single row-group, so without it
    *     every hash runs on one core. At cluster scale the input has many
    *     splits and the same shuffle co-locates the verify join.
    *   - band bucket hashes are computed directly from the shingle hashes
    *     (min over xxhash64(h, band*r+j)), so no wide intermediate
    *     signature column gets re-inlined per band.
    *   - both sides of the bucket self-join and of the verify join are the
    *     same repartitioned subplan → Spark's ReuseExchange scans and
    *     shingles the corpus once.
    *
    * Scale: explode factor = `bands` per doc; the bucket join shuffles on
    * (band, bandHash) whose cardinality ~ distinct near-dup clusters.
    * With r = numHashes/bands rows per band, P(candidate | j) =
    * 1-(1-j^r)^bands — with the 64/32 default, j ≥ 0.9 pairs are caught
    * with probability 1 - 5e-24, so verified output equals the exact
    * all-pairs result while never materializing the O(n²) cross join.
    */
  /** Band-configuration audit for MinHash LSH — the band-count analog of
    * `Similarity.ivfProbeStats` (r15): RECALL at a fixed corpus can be
    * blind to the band knob (the recorded q_dedup_minhash finding: at
    * sf0.01 every true pair sits at j ≥ 0.95, where ANY banding catches
    * it), but the CANDIDATE VOLUME the banding generates is always
    * visible. For each candidate band count `b` (rows per band
    * r = numHashes/b) this buckets the corpus once and reports the
    * bucket histogram: n_buckets, n_collision_buckets (size ≥ 2),
    * n_candidates (Σ size·(size−1)/2 — the verify-join input volume
    * before pair dedup, i.e. what each extra band BUYS in cost) and
    * max_bucket. Computed from bucket SIZES alone — never a pair
    * enumeration or self-join — so a billion-doc corpus audits its
    * banding from one explode + two partial-agg group-bys (the same
    * 100-TB contract as ivfProbeStats).
    *
    * Hashes are the cross-engine md5-low-32 family (the simhash
    * convention) under affine permutations
    * p_k(h) = (h·(1000003+2k) + 12289k+1) mod 2^32 — every product stays
    * below 2^53, so DuckDB replays each signature value bit-exactly.
    * The production [[minhashPairs]] kernel hashes with xxhash64 (not
    * SQL-replayable); this audit certifies the banding MATH and its
    * cost surface on the same shingle sets. All configs explode from ONE
    * signature projection (a single corpus scan), with a repartition
    * barrier between hashing and signature-building so CollapseProject
    * cannot re-inline the shingle hash into all numHashes lambdas (the
    * minhashPairs lesson at Dedup.scala:124-127). */
  def minhashBandStats(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 16,
      bandConfigs: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b =>
      b > 0 && numHashes % b == 0),
      s"every band config must divide numHashes=$numHashes, got $bandConfigs")
    // r19: shingle-hash + numHashes permutation minima fused into two
    // codegen kernels (md5ShingleHashes drops later 32-bit hash
    // collisions like the old array_distinct-free form never did — the
    // signature is invariant: array_min ignores duplicates; value
    // equivalence spec'd in ShingleFnsSpec, oracle hash unchanged). The
    // hashing now runs AFTER the id barrier with full parallelism — the
    // old form computed it on the scan stage's single task (one-split
    // testdata parquet); the shuffle moves raw text, equivalent bytes.
    // The null filter moves to the scan: shingle sets are never empty
    // for non-null text, so size>0 dropped exactly the null rows.
    val hashed = df.select(col(s"`$idCol`").as("id"), col(s"`$textCol`").as("__t"))
      .filter(col("__t").isNotNull)
      .transform(graft.core.Spread.byKey(_, col("id"))) // barrier: hash the shingles ONCE, all cores (pinned-N, see Spread)
    val sig = graft.functions.ArrayFns.affineMinhashSig(
      graft.functions.ShingleFns.md5ShingleHashes(col("__t"), shingleSize),
      numHashes)
    // all configs' band keys in one struct array → one explode, one scan;
    // the key carries the band index so equal min-tuples in different
    // bands never merge
    val keyStructs = bandConfigs.flatMap { b =>
      val r = numHashes / b
      (0 until b).map { band =>
        val key = concat_ws("-", lit(band.toString) +:
          (0 until r).map(j =>
            element_at(col("sig"), band * r + j + 1).cast("string")): _*)
        struct(lit(b).as("bands"), key.as("bkey"))
      }
    }
    hashed.select(col("id"), sig.as("sig"))
      .select(explode(array(keyStructs: _*)).as("k"))
      .select(col("k.bands").as("bands"), col("k.bkey").as("bkey"))
      .groupBy("bands", "bkey").agg(count(lit(1)).as("n"))
      .groupBy("bands").agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_collision_buckets"),
        // shiftright, not `/ 2`: Column./ is DOUBLE division, exact only
        // while n*(n-1) <= 2^53 — a degenerate band config on a
        // billion-doc corpus exceeds that and silently diverges from the
        // oracle's integer (n*(n-1))//2. n*(n-1) is even and >= 0, so
        // x >> 1 is the exact long halving (r16 ADVICE).
        sum(shiftright(col("n") * (col("n") - lit(1L)), 1))
          .as("n_candidates"),
        max(col("n")).as("max_bucket"))
  }

  /** Estimator-CALIBRATION table for the minhash family
    * [[minhashBandStats]] prices and [[minhashPairs]] thresholds: for
    * each input pair (textA, textB), `matches` = agreeing signature
    * components (0..numHashes, the banding estimator's evidence) and
    * `jacc_band` = ⌊10 · |A∩B| / |A∪B|⌋ over the distinct hashed
    * shingles (the exact truth, decile-banded), aggregated to
    * (matches, jacc_band, n_pairs). This is the empirical S-curve a
    * band/threshold choice is actually betting on — measured on YOUR
    * corpus's shingle statistics, not the textbook (1-(1-j^r)^b) ideal.
    * Run it on a labeled or synthesized pair sample before fixing
    * numHashes/bands for a billion-doc dedup pass.
    *
    * INTEGER-only output (counts and banded deciles) so the table
    * compares cross-engine with no float-summation hazard. Per-row
    * array arithmetic + one count-only groupBy — no join; the one
    * repartition is the projection barrier that keeps the md5 shingle
    * pass computed once per side, not re-inlined into all numHashes
    * permutation lambdas (the minhashPairs lesson, Dedup.scala:124-127).
    * Scales as a scan: at 100 TB you run it on a sampled pair frame,
    * and the aggregate is at most ~11·numHashes rows. */
  def minhashCalibration(pairs: DataFrame, textA: String, textB: String,
      shingleSize: Int = 3, numHashes: Int = 16): DataFrame = {
    // r19 (guide §1.2 per-task work + §2.3 project early): the whole
    // per-pair body — distinct md5-low-32 shingle hashes per side,
    // numHashes affine permutation minima, match count, exact-jaccard
    // decile band — is ONE codegen'd kernel call
    // (ShingleFns.minhashCalibPair; value-equivalence spec'd in
    // ShingleFnsSpec, bit-identity proven by the unchanged oracle hash).
    // The old composed form paid numHashes interpreted transform passes
    // per side plus a per-shingle md5 → hex → substring → conv round
    // trip, and hashed on the SCAN stage — a single task for the
    // one-split testdata parquet. The round-robin barrier now moves the
    // RAW PAIR STRINGS (equivalent bytes) and every kernel evaluation
    // runs with full parallelism. The null filter is pushed to the scan
    // (kernel nulls out iff an input is null; shingle sets are never
    // empty for non-null text, so the old size>0 filter dropped exactly
    // the null rows). Grouping on the kernel's (matches, jacc_band)
    // struct keeps a SINGLE kernel reference in the plan — no
    // re-inlining into per-field extractions; fields unpack post-agg on
    // ~11·numHashes rows.
    pairs
      .select(col(s"`$textA`").as("__a"), col(s"`$textB`").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .transform(graft.core.Spread.roundRobin(_)) // barrier: spread pair rows across all cores (pinned-N, see Spread)
      .select(graft.functions.ShingleFns.minhashCalibPair(
        col("__a"), col("__b"), shingleSize, numHashes).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n_pairs"))
      .select(col("c.matches").as("matches"),
        col("c.jacc_band").as("jacc_band"), col("n_pairs"))
  }

  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.9, collapseExact: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")

    // The repartition spreads a few-split input across all cores BEFORE
    // the expensive shingling; the persist memoizes the hashed-shingle
    // table ONCE for all four consumers (both bucket-join sides, both
    // verify-join sides) — exchange reuse alone does not dedupe these
    // stages under AQE, and without it the corpus is scanned and shingled
    // four times. Only the 64-bit hashes survive (the string shingles are
    // dead after hashing), so the memo holds ~8 bytes × shingles per doc.
    val base = graft.core.Spread.byKey(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        graft.functions.ShingleFns.hashedShingles(col("__t"), shingleSize).as("hs"))
      .filter(size(col("hs")) > 0)
    // collapseExact STAR-REDUCES identical shingle sets: one min-id rep
    // per set enters the LSH pipeline; members attach to their rep as
    // (rep, member, 1.0) edges — LINEAR in cluster size where the raw
    // enumeration is quadratic (measured: 1% of a 500k corpus sharing one
    // boilerplate text = 12.5M raw pairs, 151 s vs 20.6 s uniform). The
    // pair LIST shrinks (member×member and member×x edges go through the
    // rep), but the induced clustering is IDENTICAL: jaccard(x, m) =
    // jaccard(x, rep(m)) for identical sets, so every component keeps
    // exactly its members (spec'd in MlSpec). Default off — the raw
    // enumeration is the oracle-gated contract.
    val docs0 =
      if (!collapseExact) base
      else {
        val keyed = base
          .withColumn("__rep",
            min(col("id")).over(Window.partitionBy(array_sort(col("hs")))))
          // persist, not localCheckpoint: corpus-sized memo — keep
          // lineage so a lost executor recomputes instead of failing the
          // job. Registered; pipeline drivers drain it post-action.
          .transform(graft.core.CacheRegistry.memo)
        keyed
      }
    val memberPairs =
      if (!collapseExact) None
      else Some(docs0.filter(col("id") =!= col("__rep"))
        .select(col("__rep").as("id_a"), col("id").as("id_b"),
          lit(1.0).as("jaccard")))
    val docs =
      if (!collapseExact)
        base.transform(graft.core.CacheRegistry.memo) // see memo note above
      else docs0.filter(col("id") === col("__rep")).select("id", "hs")

    val banded = docs.select(col("id"),
        posexplode(graft.functions.ArrayFns.minhashBands(col("hs"), numHashes, bands)))
      .toDF("id", "band", "bh")

    val cand = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    // Verify with jaccard over the 64-bit shingle hashes, not the strings:
    // identical value unless xxhash64 collides within a doc pair (~2^-64
    // per pair — the sf0.01 oracle compare against string jaccard is the
    // empirical check), and both the shuffle width and the per-pair
    // intersect cost drop by the average shingle length.
    val a = docs.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val b = docs.select(col("id").as("id_b"), col("hs").as("hs_b"))
    // fused threshold form: ONE kernel eval per candidate pair (the
    // filter-below-project rewrite of `jaccard >= θ` would re-eval it)
    val repPairs = cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.ArrayFns.jaccardThreshold(col("hs_a"), col("hs_b"), threshold)
          .as("jaccard"))
      .filter(col("jaccard").isNotNull)
    memberPairs.map(repPairs.unionByName(_)).getOrElse(repPairs)
  }

  /** |a ∩ b| / |a ∪ b| over distinct-element arrays (built-in form; the
    * hot paths use the codegen'd ArrayFns.jaccardLong kernel). */
  def jaccardCol(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Per-token 32-bit hashes: low 8 hex chars of md5 — deliberately
    * reproducible in any engine (the oracle recomputes it in SQL).
    * Native fused kernel; ShingleFnsSpec pins it against the composed
    * form in test scope (graft.ReferenceTwins). */
  def simhashTokenHashes(text: Column): Column =
    graft.functions.ShingleFns.md5TokenHashes(text)

  /** Band-configuration audit for SimHash hamming-k blocking — the
    * [[minhashBandStats]] twin over the bit-slice banding
    * [[simhashHammingPairs]]/[[dropSeenNearBy]] use: for each candidate
    * band count `b` (slice width w = totalBits/b) it buckets the corpus
    * on every (band, slice-value) and reports the bucket histogram —
    * n_buckets, n_collision_buckets, n_candidates (Σ C(size,2), the
    * verify volume the banding generates) and max_bucket. The pigeonhole
    * rule makes b ≥ k+1 a CORRECTNESS floor (dropSeenNearBy enforces it
    * at plan time); what this audit exposes is the COST side — slice
    * width drives bucket occupancy (a 4-bit slice has 16 possible
    * values, so every bucket is corpus/16 and candidates explode), the
    * trade a band-count choice is actually making at 100 TB. Bucket
    * sizes only, never a pair join — same group-by-statistics contract
    * as [[minhashBandStats]]. simhash32 is the md5-low-32 vote kernel
    * the DuckDB oracle already replays bit-exactly; band slices are
    * exact integer div/mod in both engines. */
  def simhashBandStats(df: DataFrame, textCol: String, idCol: String,
      totalBits: Int = 32, bandConfigs: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b =>
      b > 0 && totalBits % b == 0),
      s"every band config must divide totalBits=$totalBits, got $bandConfigs")
    val keyStructs = bandConfigs.flatMap { b =>
      val w = totalBits / b
      (0 until b).map { band =>
        val slice = shiftright(col("sim"), band * w)
          .bitwiseAND(lit((1L << w) - 1L))
        struct(lit(b).as("bands"),
          concat_ws("-", lit(band.toString), slice.cast("string")).as("bkey"))
      }
    }
    df.select(col(s"`$idCol`").as("id"), simhash32(col(s"`$textCol`")).as("sim"))
      .transform(graft.core.Spread.byKey(_, col("id"))) // barrier: hash/vote ONCE, not per slice ref (pinned-N)
      .select(explode(array(keyStructs: _*)).as("k"))
      .select(col("k.bands").as("bands"), col("k.bkey").as("bkey"))
      .groupBy("bands", "bkey").agg(count(lit(1)).as("n"))
      .groupBy("bands").agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_collision_buckets"),
        // shiftright, not `/ 2`: Column./ is DOUBLE division, exact only
        // while n*(n-1) <= 2^53 — a degenerate band config on a
        // billion-doc corpus exceeds that and silently diverges from the
        // oracle's integer (n*(n-1))//2. n*(n-1) is even and >= 0, so
        // x >> 1 is the exact long halving (r16 ADVICE).
        sum(shiftright(col("n") * (col("n") - lit(1L)), 1))
          .as("n_candidates"),
        max(col("n")).as("max_bucket"))
  }

  /** 32-bit SimHash from pre-computed token hashes — one codegen'd pass
    * over the long array (ArrayFns.SimHash32Expr); the expensive md5 pass
    * over the strings happens once, upstream. Bit-identical to the
    * 32-bit-vote formulation the DuckDB oracle uses. */
  def simhashFromHashes(hs: Column): Column =
    graft.functions.ArrayFns.simhash32(hs)

  def simhash32(text: Column): Column =
    simhashFromHashes(simhashTokenHashes(text))

  /** Near-dup via identical simhash fingerprint (hamming-0 buckets; banded
    * hamming-k search is a straightforward extension on chunked bits).
    * The md5 token-hash array is materialized behind a repartition barrier
    * so (a) it is computed once, not once per bit-vote, and (b) the work
    * spreads across all cores even when the input is a single split. */
  def simhashGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .transform(graft.core.Spread.byKey(_, col("__id"))) // spread before the md5-heavy token hashing (pinned-N)
      .select(col("__id"), simhashTokenHashes(col("__t")).as("__hs"))
      .transform(graft.core.Spread.byKey(_, col("__id"))) // materialize: keep md5 out of the 32 bit-votes (pinned-N)
      .groupBy(simhashFromHashes(col("__hs")).as("simhash"))
      .agg(min(col("__id")).as("rep_id"), count(lit(1)).as("cnt"))

  /** SimHash near-dup pairs within hamming distance `k`: split the 32-bit
    * fingerprint into `bands` bit-chunks; by pigeonhole any pair within
    * hamming k must agree exactly on at least one chunk when bands > k,
    * so candidates come from equi-joins on (chunk index, chunk value) and
    * are verified with bit_count(xor) — no O(n²) scan.
    * (hamming-0 grouping is `simhashGroups`; this is the banded-k search
    * extension noted there.)
    *
    * Scale note: the OUTPUT is inherently quadratic in near-dup cluster
    * size (10× the corpus with the same clusters → 100× the pairs; ~11M
    * verified pairs/s on local[32]). For corpus-dedup at 100 TB, feed the
    * pairs into `clusters`/`dropDuplicatesClustered` incrementally rather
    * than materializing the full pair set. */
  def simhashHammingPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > k, "need more bands than allowed bit flips (pigeonhole)")
    val bits = 32 / bands
    val sh = graft.core.Spread.byKey(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), simhashFromHashes(simhashTokenHashes(col("__t"))).as("sim"))
      // exploding-self-join memo: RDD barrier, never persist (AQE would
      // coalesce under the quadratic pair output — see CacheRegistry.cut)
      .transform(graft.core.CacheRegistry.cut)
    // deliberately NOT simChunk: this 32-bit variant's chunks must stay
    // bit-identical to the oracle SQL's `>> b*bits % 2^bits` (signed
    // shift is safe — md5-derived sims are non-negative 32-bit values)
    def chunk(sim: Column, b: Int): Column =
      shiftright(sim, b * bits) % (1L << bits)
    val banded = sh.select(col("id"), col("sim"),
        posexplode(array((0 until bands).map(b => chunk(col("sim"), b)): _*)))
      .toDF("id", "sim", "band", "chunk")
    // dedup WITHOUT a distinct shuffle: a pair that collides in several
    // bands is kept only where `band` is its FIRST matching band — cheap
    // shift/mask math per joined row instead of re-shuffling millions of
    // duplicate candidates
    val firstBand = coalesce((0 until bands).map(b =>
      when(chunk(col("l.sim"), b) === chunk(col("r.sim"), b), lit(b))): _*)
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.chunk") === col("r.chunk") &&
          col("l.id") < col("r.id"))
      .filter(col("l.band") === firstBand)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .filter(col("hamming") <= k)
  }

  /** 64-bit simhash hamming-k pairs — the CORPUS-SCALE variant of
    * `simhashHammingPairs`. The 100x stress run showed the 32-bit
    * fingerprint saturating at 500k docs (~2·10^8 random pairs land inside
    * hamming ≤ 3 by birthday collision alone); with 64 bits the expected
    * random-pair count stays below one until ~10^8 docs. Token hashes are
    * xxhash64 (no cross-engine md5 contract needed here), chunks are
    * 64/bands bits, same pigeonhole + first-band dedup plan. */
  /** 64-bit simhash over the DISTINCT-token set of a document — the shared
    * fingerprint contract of `simhashHammingPairs64` and
    * `streamingNearDedup` (must stay identical or batch and streaming
    * dedup different things). */
  def simhash64Fingerprint(text: Column): Column =
    // hashedShingles at n=1 IS xxhash64 over the distinct tokens in
    // first-occurrence order (ShingleFnsSpec proves the n=1 equivalence)
    graft.functions.ArrayFns.simhash64(
      graft.functions.ShingleFns.hashedShingles(text, 1))

  def simhashHammingPairs64(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8): DataFrame = {
    require(bands > k, "need more bands than allowed bit flips (pigeonhole)")
    require(64 % bands == 0, "bands must divide 64")
    val bits = 64 / bands
    val sh = graft.core.Spread.byKey(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), simhash64Fingerprint(col("__t")).as("sim"))
      // exploding-self-join memo: RDD barrier, never persist (AQE would
      // coalesce under the quadratic pair output — see CacheRegistry.cut)
      .transform(graft.core.CacheRegistry.cut)
    def chunk(sim: Column, b: Int): Column = simChunk(sim, b, bits)
    val banded = sh.select(col("id"), col("sim"),
        posexplode(array((0 until bands).map(b => chunk(col("sim"), b)): _*)))
      .toDF("id", "sim", "band", "chunk")
    val firstBand = coalesce((0 until bands).map(b =>
      when(chunk(col("l.sim"), b) === chunk(col("r.sim"), b), lit(b))): _*)
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.chunk") === col("r.chunk") &&
          col("l.id") < col("r.id"))
      .filter(col("l.band") === firstBand)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .filter(col("hamming") <= k)
  }

  /** Hamming-k near-dup DROP with pair generation FUSED into the plan —
    * the incremental-consumption path for `simhashHammingPairs64`, whose
    * pair OUTPUT is inherently quadratic in cluster size. Policy is
    * "first doc wins": a doc is dropped iff some SMALLER id sits within
    * hamming ≤ k — exactly `dropDuplicates(df,
    * simhashHammingPairs64(df, …), idCol)`, including on chain graphs
    * (a<b<c with edges (a,b),(b,c) only: b and c both drop). The
    * connected-component rep policy stays `dropDuplicatesClustered` over
    * the explicit pairs.
    *
    * Scale shape: the banded candidate join's output rows flow STRAIGHT
    * into a partial aggregate keyed on the larger id — map-side combine
    * collapses a cluster's quadratic pair stream to one row per dropped
    * id before anything reaches a shuffle, so every materialized frame
    * (banded fingerprints, distinct drop-ids, the anti-join) is linear in
    * corpus size. No first-band dedup filter needed: the aggregate
    * absorbs multi-band collisions cheaper than the per-row chunk
    * recomputation would. */
  def dropDuplicatesHamming64(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8): DataFrame =
    dropDuplicatesHammingBy(df, textCol, idCol, simhash64Fingerprint, 64, k, bands)

  /** The fused drop kernel behind [[dropDuplicatesHamming64]], over an
    * arbitrary `totalBits`-bit fingerprint of the text column. The
    * oracle-reproducible 32-bit md5 simhash (`simhash32`) runs the SAME
    * banded-join → drop-aggregate → anti-join plan through the driver's
    * SQL gate (`q_hamming_drop`); production corpus dedup stays on the
    * 64-bit xxhash64 default. */
  def dropDuplicatesHammingBy(df: DataFrame, textCol: String, idCol: String,
      fingerprint: Column => Column, totalBits: Int,
      k: Int = 3, bands: Int = 8): DataFrame = {
    require(bands > k, "need more bands than allowed bit flips (pigeonhole)")
    require(totalBits % bands == 0, "bands must divide the fingerprint width")
    val bits = totalBits / bands
    val sh = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .transform(graft.core.Spread.byKey(_, col("id"))) // spread before the hash-heavy fingerprint (pinned-N)
      .select(col("id"), fingerprint(col("__t")).as("sim"))
    // EXACT-dup collapse before banding: only the min-id representative
    // per distinct fingerprint enters the self-join; the rest are
    // hamming-0 drops by definition. Real crawls concentrate mass on
    // identical fingerprints (empty docs, boilerplate) — un-collapsed,
    // such a cluster lands in ONE (band, chunk) bucket per band and the
    // join goes quadratic in its size (10% boilerplate at 500k docs is
    // 2.5e9×8 bucket pairs). The drop SET is unchanged: a member drops
    // via its rep here; a doc within hamming ≤ k of member m is within k
    // of rep(m) too (same sim), and rep(m).id ≤ m.id, so every banded
    // witness survives collapse. Spec'd output-identical (MlSpec skew
    // battery).
    // one barrier, after the rep-tagging window (the window's sim-shuffle
    // already materializes the fingerprints once; a second memo on `sh`
    // would just double the checkpoint): exploding-self-join memo — RDD
    // barrier, never persist (see CacheRegistry.cut)
    // null fingerprints (null/absent text) are each their own rep: the
    // banded join below can never match them (null chunks fail the
    // equi-join), so pre-collapse they were always KEPT — collapsing the
    // null "cluster" would silently drop all-but-one null-text doc. The
    // second partition key (id, only when sim is null) does it INSIDE the
    // window: a plain partitionBy(sim) would also funnel every null-text
    // row of the corpus through one task's window state just to compute a
    // min the null branch discards.
    val w = Window.partitionBy(col("sim"),
      when(col("sim").isNull, col("id")))
    val tagged = sh.withColumn("__rep", min(col("id")).over(w))
      .transform(graft.core.CacheRegistry.cut)
    val memberDrops = tagged.filter(col("id") =!= col("__rep"))
      .select(col("id").as("__drop"))
    val reps = tagged.filter(col("id") === col("__rep")).select("id", "sim")
    def chunk(sim: Column, b: Int): Column = simChunk(sim, b, bits)
    val banded = reps.select(col("id"), col("sim"),
        posexplode(array((0 until bands).map(b => chunk(col("sim"), b)): _*)))
      .toDF("id", "sim", "band", "chunk")
    // hamming verify lives in the join condition; only the larger id
    // survives into the aggregate
    val repDrops = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.chunk") === col("r.chunk") &&
          col("l.id") < col("r.id") &&
          bit_count(col("l.sim").bitwiseXOR(col("r.sim"))) <= k)
      .select(col("r.id").as("__drop"))
    val drops = memberDrops.union(repDrops).distinct()
    joinBackOnce(df, drops, col(idCol) === col("__drop"), "left_anti")
  }

  /** Exact n-gram jaccard pairs within a blocking column, with PREFIX
    * FILTERING for candidate generation (the AllPairs/PPJoin family):
    * under a global order on shingle hashes, jaccard(a,b) ≥ θ forces
    * |a∩b| ≥ θ·|a|, so a and b must share an element among their first
    * |s| − ⌈θ·|s|⌉ + 1 ≤ ⌊(1−θ)·|s|⌋ + 1 smallest hashes. Candidates
    * come from an equi-join on (block, prefix-hash) — near-linear in the
    * true-similar mass — instead of the all-pairs-within-block cross
    * join, whose quadratic candidate count is what dies at corpus scale.
    * Every candidate is then verified with the fused exact-jaccard
    * kernel, so the OUTPUT is identical to the quadratic formulation. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, n: Int = 3, threshold: Double = 0.5,
      collapseExact: Boolean = false): DataFrame = {
    // Shingles are hashed to longs behind a repartition barrier: computed
    // once, spread over all cores, reused by every consumer (candidate
    // prefixes + both verify sides), and the intersects run over 8-byte
    // longs instead of strings. Sorted once so the prefix is a slice.
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(textCol).as("__t"))
      .transform(graft.core.Spread.byKey(_, col("id"))) // spread before the expensive shingling (pinned-N)
      .select(col("blk"), col("id"),
        array_sort(graft.functions.ShingleFns.hashedShingles(col("__t"), n)).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("sz", size(col("hs")))
    // collapseExact: identical shingle sets DEFEAT the prefix filter (they
    // share every prefix hash), so an exact-dup boilerplate cluster still
    // goes quadratic through the candidate join — star-reduce it exactly
    // like minhashPairs: min-id rep per (block, set) into the PPJoin
    // pipeline, members attach as (rep, member, 1.0) edges. Components
    // within a block are invariant (jaccard(x, m) = jaccard(x, rep(m))).
    val keyed =
      if (!collapseExact) base
      else base.withColumn("__rep",
        min(col("id")).over(Window.partitionBy(col("blk"), col("hs"))))
    val docsAll = keyed
      .transform(graft.core.CacheRegistry.memo) // memoize once; all consumers read it, lineage survives, drain()-owned
    val memberPairs =
      if (!collapseExact) None
      else Some(docsAll.filter(col("id") =!= col("__rep"))
        .select(col("blk"), col("__rep").as("id_a"), col("id").as("id_b"),
          lit(1.0).as("jaccard")))
    val docs =
      if (!collapseExact) docsAll
      else docsAll.filter(col("id") === col("__rep")).drop("__rep")
    // exact prefix bound |s| − ⌈θ·|s|⌉ + 1, computed in that integer form:
    // the (1−θ)·|s| float shortcut can truncate one short (θ=0.9, |s|=10 →
    // 10×0.0999… → 0 → prefix 1 instead of 2) and silently drop qualifying
    // pairs. The 1e-9 epsilon keeps ceil from rounding an exactly-integral
    // θ·|s| up a step when the product lands a ulp high.
    val prefixLen = (size(col("hs")) -
      ceil(size(col("hs")) * lit(threshold) - lit(1e-9)).cast("int") + 1)
    val pref = docs.select(col("blk"), col("id"), col("sz"),
      explode(slice(col("hs"), lit(1), prefixLen)).as("ph"))
    // candidates: shared prefix hash within the block + the size-ratio
    // prune (jaccard ≥ θ forces min|sh| ≥ θ·max|sh|); distinct because a
    // pair can share several prefix hashes
    val cand = pref.as("l").join(pref.as("r"),
        col("l.blk") === col("r.blk") && col("l.ph") === col("r.ph") &&
          col("l.id") < col("r.id") &&
          least(col("l.sz"), col("r.sz")).cast("double") >=
            lit(threshold) * greatest(col("l.sz"), col("r.sz")))
      .select(col("l.blk").as("blk"), col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val a = docs.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val b = docs.select(col("id").as("id_b"), col("hs").as("hs_b"))
    val repPairs = cand.join(a, "id_a").join(b, "id_b")
      .select(col("blk"), col("id_a"), col("id_b"),
        graft.functions.ArrayFns.jaccardThreshold(col("hs_a"), col("hs_b"), threshold)
          .as("jaccard"))
      .filter(col("jaccard").isNotNull)
    memberPairs.map(repPairs.unionByName(_)).getOrElse(repPairs)
  }

  /** `df` LEFT ANTI/SEMI joined against a derived id set, with the id set
    * PERSISTED first. Not an optimization nicety: when `df` is a UNION
    * (multi-file corpora, Mix pipelines), the optimizer's
    * PushdownLeftSemiOrAntiJoin duplicates the join's right side into
    * every union branch — and since cache substitution runs BEFORE the
    * optimizer, an un-persisted right side means the ENTIRE
    * drop-derivation pipeline (banded joins, pair scoring, distinct)
    * re-executes once per branch. Measured 100× the intended work on a
    * 100-file corpus (tools/stress_semdedup.scala) before this barrier;
    * with the persist, the branches share one cached computation and the
    * pushdown duplicates only a cache scan. The id frame is at worst
    * linear in corpus size and spills (MEMORY_AND_DISK); the persist is
    * registered with CacheRegistry, and the pipeline drivers (runBatch,
    * foreachBatch, Bench, Verify) drain it once the consuming action
    * completes — ad-hoc Scala callers own the drain themselves. */
  private[graft] def joinBackOnce(df: DataFrame, ids: DataFrame,
      usingColumns: Seq[String], joinType: String): DataFrame =
    df.join(graft.core.CacheRegistry.memo(ids), usingColumns, joinType)

  private[graft] def joinBackOnce(df: DataFrame, ids: DataFrame,
      cond: org.apache.spark.sql.Column, joinType: String): DataFrame =
    df.join(graft.core.CacheRegistry.memo(ids), cond, joinType)

  /** Keep one representative row per near-dup cluster: pairs → connected
    * components via min-id propagation (bounded iterations), then
    * anti-join. For the common "drop anything matching an earlier doc"
    * policy a single pass suffices: drop every id_b. */
  def dropDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    joinBackOnce(df, pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Connected components over dup pairs: (id, rep) where rep is the min
    * id reachable through the pair graph (including the id itself).
    *
    * Iterative min-label propagation — each round is one shuffle join, the
    * round count is the graph diameter (near-dup clusters are shallow, so
    * a handful). A `CacheRegistry.cut` every round truncates lineage so
    * plans don't grow exponentially at scale; the per-round driver action
    * reads ONE count, not the data.
    *
    * `maxIters` is a CORRECTNESS knob, not a tuning one: a pair graph
    * whose diameter exceeds it returns non-minimal representatives for
    * the unconverged ids. The loop throws in that case rather than
    * silently handing `dropDuplicatesClustered` extra "representatives";
    * raise `maxIters` (rounds are cheap — one shuffle join each) if a
    * corpus legitimately chains duplicates thousands deep.
    *
    * Adaptive: when the (already-thresholded, tiny-schema) edge list fits
    * under `driverEdgeLimit`, connectivity runs as a driver union-find
    * over one [[graft.core.CacheRegistry.pull]] — graph connectivity on a
    * few thousand edges should not pay per-round shuffle fixed costs. The
    * distributed loop is the over-limit path; same AQE-style size-based
    * strategy switch as a broadcast-join decision, and the pull keeps
    * driver memory bounded by the limit. */
  def clusters(pairs: DataFrame, maxIters: Int = 20,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every consumer of `edges` finishes INSIDE this function (the local
    // union-find iterates it; the distributed loop's surviving labels are
    // cut, losing their lineage to it) — so its persist is owned here,
    // not registry-drained: unpersist on every exit.
    try {
      val local = graft.core.CacheRegistry.pull(edges, driverEdgeLimit)(_.toArray)
      if (local.isDefined) return clustersLocal(edges, local.get)
      // seed with min(id, min neighbor): round one of propagation happens
      // inside the initial aggregation
      var labels = edges.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src").as("id"), least(col("src"), col("__mn")).as("rep"))
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val nbr = edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("rep"))
        val updated = labels.select("id", "rep").union(nbr)
          .groupBy("id").agg(min("rep").as("rep"))
          .transform(graft.core.CacheRegistry.cut)
        val changed = updated.as("n").join(labels.as("o"), "id")
          .filter(col("n.rep") =!= col("o.rep")).limit(1).count()
        labels = updated
        converged = changed == 0
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"clusters: label propagation did not converge within $maxIters " +
          "iterations — the pair graph's diameter exceeds maxIters and some " +
          "ids still carry non-minimal representatives. Raise maxIters.")
      labels
    } finally edges.unpersist(blocking = false)
  }

  /** Driver union-find over a bounded edge list (see `clusters`): path-
    * halving find, min-id representative per component, result re-
    * parallelized with the same (id, rep) schema as the distributed path. */
  private def clustersLocal(edges: DataFrame, rows: Array[Row]): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = edges.sparkSession
    val idType = edges.schema.head.dataType
    val lt: (Any, Any) => Boolean = idType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
        (a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
      case _: FloatType | _: DoubleType =>
        (a, b) => a.asInstanceOf[Number].doubleValue < b.asInstanceOf[Number].doubleValue
      // DecimalType must order NUMERICALLY: toString puts "10" before
      // "9", so the driver path would elect a different representative
      // than the distributed min("rep") — the kept row would then depend
      // on which side of driverEdgeLimit the edge count landed
      case _: DecimalType =>
        (a, b) => a.asInstanceOf[java.math.BigDecimal]
          .compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
      case _ => (a, b) => a.toString < b.toString
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    rows.foreach { row =>
      val s = row.get(0); val d = row.get(1)
      if (!parent.contains(s)) parent(s) = s
      if (!parent.contains(d)) parent(d) = d
      val rs = find(s); val rd = find(d)
      if (rs != rd) parent(rs) = rd
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keysIterator.foreach { x =>
      val r = find(x)
      if (!minOfRoot.contains(r) || lt(x, minOfRoot(r))) minOfRoot(r) = x
    }
    val reps = parent.keysIterator.map(x => Row(x, minOfRoot(find(x)))).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(reps, math.max(1, reps.length / 500000)),
      StructType(Seq(StructField("id", idType), StructField("rep", idType))))
  }

  /** One row per cluster: representative = min id (reference policy is
    * "first doc wins"); rows not in any pair keep themselves. */
  def dropDuplicatesClustered(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    // reserved join-key names: a plain drop("id"/"rep") would also eat a
    // caller column that happens to carry one of those names
    val reps = clusters(pairs).select(
      col("id").as("__graft_join_id"), col("rep").as("__graft_rep"))
    df.join(reps, df(idCol) === col("__graft_join_id"), "left")
      .filter(col("__graft_rep").isNull || col("__graft_rep") === df(idCol))
      .drop("__graft_join_id", "__graft_rep")
  }

  /** One row per cluster, representative = BEST by `scoreCol` (ties →
    * min id) — the curation policy that keeps the longest / highest-
    * quality member of a near-dup cluster instead of whichever crawled
    * first. Rows not in any pair keep themselves.
    *
    * Plan: cluster membership joins in as (id, rep); the per-cluster
    * argmax is a rank-1 window whose filter runs as WindowGroupLimit —
    * each mapper forwards one candidate per cluster, so a boilerplate
    * mega-cluster never funnels its full membership through a reducer. */
  def dropDuplicatesClusteredBest(df: DataFrame, pairs: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val reps = clusters(pairs).select(
      col("id").as("__graft_join_id"), col("rep").as("__graft_rep"))
    val withRep = df.join(reps, df(idCol) === col("__graft_join_id"), "left")
      .withColumn("__graft_rep", coalesce(col("__graft_rep"), df(idCol)))
      .drop("__graft_join_id")
    withRep
      .withColumn("__graft_best", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__graft_rep")
          .orderBy(col(s"`$scoreCol`").desc, col(s"`$idCol`"))))
      .filter(col("__graft_best") === 1)
      .drop("__graft_rep", "__graft_best")
  }

  /** Benchmark decontamination: drop every document sharing ANY word
    * n-gram with the contamination corpus (eval benchmarks, held-out
    * sets). The standard n-gram-overlap decontamination pass of LLM
    * training pipelines.
    *
    * Scale shape: the contamination side (benchmarks — thousands of docs)
    * collapses to a distinct set of 64-bit shingle hashes and BROADCASTS;
    * the corpus side explodes to (id, hash) and semi-joins without ever
    * shuffling the documents. Matching on xxhash64 of the shingle instead
    * of the string keeps the probe rows at 8 bytes (collision odds ~2^-64
    * per pair, the same contract as minhashPairs' verify). */
  /** One row per (carried id columns, distinct hashed shingle) — the
    * shared fingerprint expansion of the decontamination family. Both
    * the drop path and the report MUST build from here so the audit
    * always describes exactly what the drop would remove. */
  private def shingleFingerprints(df: DataFrame, textCol: String, n: Int,
      carry: Seq[Column]): DataFrame =
    df.select(carry :+
      explode(graft.functions.ShingleFns.hashedShingles(col(textCol), n))
        .as("h"): _*)

  def decontaminate(df: DataFrame, contamination: DataFrame,
      textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val contam = shingleFingerprints(contamination, textCol, n, Nil).distinct()
    val probe = shingleFingerprints(df, textCol, n, Seq(col(idCol)))
    val bad = probe.join(broadcast(contam), "h").select(col(idCol)).distinct()
    joinBackOnce(df, bad, Seq(idCol), "left_anti")
  }

  /** Contamination REPORT — the audit complement of [[decontaminate]]:
    * instead of silently dropping, emit (doc_id, bench_id,
    * shared_grams) per contaminated (document, benchmark-item) pair so
    * a release review can see WHICH benchmark leaked WHERE and how much
    * (one shared gram = a single quoted phrase; hundreds = the item is
    * embedded verbatim). Same fingerprints as decontaminate (distinct
    * hashed shingles, so counts are per-distinct-gram, not
    * per-occurrence) and the same broadcast contract: the benchmark
    * side is small, the corpus never shuffles — the groupBy keys are
    * (doc, bench) pairs that already matched, a frame bounded by real
    * contamination, not corpus size. */
  def contaminationReport(df: DataFrame, contamination: DataFrame,
      textCol: String, idCol: String, benchIdCol: String,
      n: Int = 5): DataFrame = {
    val contam = shingleFingerprints(contamination, textCol, n,
      Seq(col(benchIdCol).as("bench_id"))).distinct()
    val probe = shingleFingerprints(df, textCol, n,
      Seq(col(idCol).as("doc_id")))
    probe.join(broadcast(contam), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Exact duplicated-PASSAGE detection — the substring-dedup family
    * (suffix-array dedup a la "Deduplicating Training Data Makes Language
    * Models Better"): minhash/simhash catch near-dup DOCUMENTS, this
    * catches long verbatim passages shared between otherwise-distinct
    * documents (licenses, boilerplate, quoted chunks).
    *
    * Scalable shape: every k-token window is fingerprinted (one zipped
    * n-gram pass, then xxhash64 so the shuffle carries 8-byte keys),
    * windows whose fingerprint appears in ≥ `minDocs` distinct docs are
    * duplicated, and per doc the overlapping/abutting duplicated windows
    * merge into maximal [span_start, span_end) token spans via a running-
    * max window function — no self-join, no driver actions; shuffle keys
    * are fingerprint then doc id. A suffix array finds variable-length
    * repeats exactly; the fixed-k window form finds every repeat of
    * length ≥ k (shorter ones are below the dedup threshold by contract)
    * and is embarrassingly parallel.
    *
    * Output: (doc_id, span_start, span_end) token-offset spans, span_end
    * exclusive. */
  def duplicatedPassages(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val hits = duplicatedWindows(df, textCol, idCol, k, minDocs)
      .select(col("id"), col("pos"))
    mergeSpans(hits, k)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"))
  }

  /** (id, pos, fp) of k-token windows duplicated across ≥ minDocs docs,
    * with per-fp ownership (`min_id`) for keep-first policies.
    *
    * Single-shuffle shape: the window table flows ONCE into an fp-
    * partitioned sort and never materializes (the former groupBy + join-
    * back needed a localCheckpoint to avoid scanning the corpus twice —
    * at 100 TB that checkpoint is a corpus-sized write). Distinct-doc
    * counting is skew-safe: rows sort by (fp, id), a lag boundary marks
    * each first-row-per-doc, and a whole-partition sum counts them — no
    * per-group set state, so a window shared by millions of docs sorts
    * and spills instead of collecting an in-memory set. Both window
    * passes and min_id reuse the one exchange. */
  private def duplicatedWindows(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocs: Int): DataFrame = {
    val wins = df.select(col(idCol).as("id"),
        posexplode(graft.functions.ShingleFns.hashedNgramsAll(col(textCol), k)))
      .toDF("id", "pos", "fp")
    val byFpOrd = Window.partitionBy("fp").orderBy("id")
    val byFp = Window.partitionBy("fp")
    wins
      .withColumn("newdoc",
        when(lag(col("id"), 1).over(byFpOrd).isNull ||
          lag(col("id"), 1).over(byFpOrd) =!= col("id"), 1L).otherwise(0L))
      .withColumn("nd", sum(col("newdoc")).over(byFp))
      .withColumn("min_id", min(col("id")).over(byFp))
      .filter(col("nd") >= minDocs)
      .select("id", "pos", "fp", "min_id")
  }

  /** Merge [pos, pos+k) windows into maximal spans per id: running max of
    * prior window ends marks span boundaries, a running sum numbers the
    * spans — two window passes over data already partitioned by id. */
  private def mergeSpans(hits: DataFrame, k: Int): DataFrame = {
    val order = Window.partitionBy("id").orderBy("pos")
    val prior = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("boundary",
        when(col("pos") > coalesce(max(col("pos") + k).over(prior), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("span", sum("boundary").over(order))
      .groupBy("id", "span")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + k).cast("long").as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** Passage REMOVAL with keep-first policy: the min-id holder of a
    * duplicated window keeps its text; every other doc has the merged
    * spans cut out (tokens re-joined with single spaces). Spans per doc
    * collect into one array (passages per doc are few — they are ≥ k
    * tokens each, so at most |tokens|/k spans), then one codegen'd
    * filter pass over the token array drops covered positions — no
    * per-token join. */
  def stripDuplicatedPassages(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val hits = duplicatedWindows(df, textCol, idCol, k, minDocs)
      .filter(col("id") =!= col("min_id")) // first doc keeps the passage
      .select(col("id"), col("pos"))
    val spans = mergeSpans(hits, k)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
      .withColumnRenamed("id", "__graft_join_id") // don't shadow a caller "id"
    df.join(spans, df(idCol) === col("__graft_join_id"), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol)).otherwise(
          array_join(filter(tokens(col(textCol)), (tok, i) =>
            !exists(col("__spans"), s =>
              i >= s.getField("span_start") && i < s.getField("span_end"))),
            " ")))
      .drop("__graft_join_id", "__spans")
  }

  /** LINE-level boilerplate removal (the CCNet-family pass): any line —
    * or delimiter-separated segment — whose NORMALIZED form (trim +
    * lowercase) appears in ≥ `minDocs` distinct documents is boilerplate
    * (cookie banners, site nav, license headers) and is cut from every
    * document it appears in; line order and the spelling of surviving
    * lines are preserved. Blank lines never count as boilerplate (they
    * would erase formatting corpus-wide) and are always kept. Documents
    * reduced to nothing come back with empty text, not dropped — this is
    * a rewrite pass, not a filter.
    *
    * Scale shape: lines explode once behind a repartition +
    * localCheckpoint (the count side and the rebuild side both read the
    * materialized frame); the doc-count aggregate runs on (8-byte line
    * hash, id) with map-side partials; the boilerplate set joins back by
    * hash as a left_anti equi-join — no broadcast ASSUMPTION (the set is
    * usually tiny and AQE will broadcast it, but the plan stays correct
    * when a pathological corpus makes it large). Reassembly is an
    * array_sort over collected (pos, line) structs per doc — no window
    * sort. */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
      minDocs: Int = 3, delim: String = "\n"): DataFrame = {
    val lines = graft.core.Spread.byKey(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        posexplode(split(col("__t"), java.util.regex.Pattern.quote(delim))))
      .toDF("id", "pos", "line")
      .withColumn("h", xxhash64(lower(trim(col("line")))))
      .transform(graft.core.CacheRegistry.memo) // corpus-sized memo: persist keeps lineage (see minhashPairs), drain()-owned
    val bp = lines.filter(trim(col("line")) =!= "")
      .select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val rebuilt = lines.join(bp, Seq("h"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), delim).as("__cleaned"))
      .withColumnRenamed("id", "__graft_join_id") // don't shadow a caller "id"
    df.join(rebuilt, df(idCol) === col("__graft_join_id"), "left")
      .withColumn(textCol, coalesce(col("__cleaned"), lit("")))
      .drop("__graft_join_id", "__cleaned")
  }

  /** Distinct 16-byte content fingerprints of a corpus — the SEEN-STORE
    * row format for [[dropSeen]] (one `fp` string per distinct text). */
  def contentFingerprints(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(col(textCol).cast("string")).as("fp")).distinct()

  /** INCREMENTAL exact dedup — the daily-crawl pattern at corpus scale:
    * drop every document whose content fingerprint was already seen by a
    * previous run, WITHOUT re-reading the corpus-so-far. `seen` is a
    * fingerprint table ([[contentFingerprints]] rows, usually a parquet
    * store that grows with each increment via [[appendToSeenStore]]).
    *
    * Scale shape: the anti join shuffles 16-byte fingerprints, never
    * text — increment side is one day's crawl, store side is one row per
    * distinct doc EVER seen (10^10 rows ≈ 160 GB at 100 TB corpus scale:
    * big but shuffle-able; bucket the store on `fp` to make the join
    * shuffle-free on the store side, or pre-filter the increment through
    * a Bloom filter of the store — the bloomDecontaminate pattern — when
    * the store outgrows comfortable shuffles). A plain scan-backed anti
    * join needs no joinBackOnce persist: the pushed-down right side is a
    * parquet scan, not a derivation pipeline. Within-increment dups are
    * NOT dropped here — compose with [[dropDuplicatesExact]] first. */
  def dropSeen(df: DataFrame, seen: DataFrame, textCol: String): DataFrame =
    // joinBackOnce, not a raw join: a union-shaped increment would
    // otherwise re-run the store-side distinct once per branch (the
    // PushdownLeftSemiOrAntiJoin trap joinBackOnce exists for)
    joinBackOnce(df, seen.select(col("fp")).distinct(),
      md5(col(textCol).cast("string")) === col("fp"), "left_anti")

  // ---- incremental seen-store layout ------------------------------------
  //
  //   store/                     compact fingerprint rows (`fp` string |
  //                              `sim` long) — the SOURCE OF TRUTH; what
  //                              r7 stores already hold and what the
  //                              DuckDB oracle reads
  //   store/_bloom/bloom.bin     exact-store sidecar: [rows: long]
  //                              [BloomFilter over xxhash64(fp)]; valid
  //                              iff rows == the store's footer row count
  //   store/_banded/data/band=B/
  //                              near-store banded index: each sim
  //                              re-keyed by its pigeonhole chunks ONCE
  //                              at append time, so no per-run explode
  //   store/_banded/_meta.json   {"bits":..,"bands":..,"rows":..} — valid
  //                              iff rows == the compact rows' footer
  //                              row count and the banding matches the
  //                              query's
  //
  // Markers compare with Stores.rowCount: the sum of the data files'
  // footer row counts, read on the driver with no Spark job. It counts
  // every row a Spark count would, so a crashed write's duplicate rows
  // read stale here too.
  //
  // Underscore-prefixed children are invisible to parquet discovery, so a
  // v1 reader (or the oracle) pointed at `store` still sees exactly the
  // compact rows; sidecars are derived indexes, rebuilt from the compact
  // rows whenever their validity marker goes stale (self-healing
  // migration — the first append against an r7 store materializes them).
  // Single-writer per store: concurrent appenders can duplicate rows and
  // race the sidecar markers (same as the r7 contract).

  /** Append this increment's NEW fingerprints to the seen store (dedup'd
    * against the store first, so re-running an increment doesn't grow
    * it), then refresh the Bloom sidecar [[dropSeenStore]] prefilters
    * with. Returns how many were added. The fingerprints that anti-join
    * the store here land through [[appendUnseen]], the Planner's
    * post-commit append. At-least-once, not transactional: a failure
    * between the anti-join and the write can lose the increment's fps
    * (re-run the update), never corrupt existing rows; a failure before
    * the sidecar write leaves a stale sidecar that readers detect and
    * ignore. */
  def appendToSeenStore(df: DataFrame, textCol: String, storePath: String): Long =
    appendUnseen(unseenIn(contentFingerprints(df, textCol), "fp", storePath),
      storePath)

  /** Land `unseen`, fingerprints the exact seen store lacks, and fold them
    * into the Bloom sidecar. `unseen` is [[probeSeenStore]]'s second
    * result, so the append computes no fingerprint the probe already
    * computed and scans no store the probe already matched.
    *
    * The reuse relies on the single-writer contract: `unseen` was found
    * against the store as the probe saw it. Two incremental `Dedup`
    * stages on one store in one run each probe the store before either
    * appends, so a fingerprint both saw lands twice; a key store
    * tolerates that (the probes are distinct, the next compaction removes
    * the duplicate). Returns how many rows were added. */
  def appendUnseen(unseen: DataFrame, storePath: String): Long = {
    val (n, newFps) = landFps(unseen, "fp", storePath)
    updateBloomSidecar(unseen.sparkSession, storePath, newFps, n)
    n
  }

  /** `fresh`'s keys minus those the store at `storePath` holds. The store
    * holds `fresh`'s rows, so it is read by `fresh`'s schema (no
    * footer-inference job; see Stores.readParquetIfExists). */
  private def unseenIn(fresh: DataFrame, keyCol: String,
      storePath: String): DataFrame =
    Stores.readParquetIfExists(fresh.sparkSession, storePath,
        Some(nullableSchema(fresh)))
      .map(s => fresh.join(s, Seq(keyCol), "left_anti"))
      .getOrElse(fresh)

  private def nullableSchema(df: DataFrame): StructType =
    StructType(df.schema.fields.map(_.copy(nullable = true)))

  /** Append `unseen`'s non-null keys to the store; returns (rows added,
    * the appended rows read back from the landed files). */
  private def landFps(unseen: DataFrame, keyCol: String,
      storePath: String): (Long, DataFrame) = {
    // Null keys (null/absent text) never leave the anti-join's left side
    // (null = null is null), so unfiltered they'd re-append one null row
    // EVERY run; they also can't match any future probe — drop them.
    val deduped = unseen.filter(col(keyCol).isNotNull)
    // one-job counted append (r20): count rides the write action, so the
    // old three-consumer memo barrier (count + write + sidecar over one
    // frame while the store changes under it) is structural now —
    // graft.core.Stores.appendCountedFiles has the protocol and crash
    // contract. The sidecar updates re-read EXACTLY the appended rows
    // from the renamed files (never the plan again, whose anti-join
    // would see the grown store and return empty).
    val (n, files) = Stores.appendCountedFiles(deduped, storePath)
    val newFps =
      if (files.nonEmpty)
        unseen.sparkSession.read.schema(nullableSchema(deduped)).parquet(files: _*)
      else deduped.limit(0)
    (n, newFps)
  }

  /** The exact seen store's row format ([[contentFingerprints]]). */
  private val seenSchema = StructType(Seq(StructField("fp", StringType)))

  private def readSeenStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[DataFrame] =
    Stores.readParquetIfExists(spark, storePath, Some(seenSchema))

  private def bloomPath(storePath: String) = s"$storePath/_bloom/bloom.bin"

  /** (Re)build the exact-store Bloom sidecar over the FULL store when its
    * validity marker (covered row count) is stale. Skipped above
    * `spark.sql.graft.storeBloomMaxItems` (default 1e8 ≈ 115 MB at 1%
    * fpp): one driver-held filter stops scaling there — shard by fp
    * prefix before raising it. The build is one store scan; the row count
    * it compares comes from the footers ([[Stores.rowCount]], no job). */
  private def refreshBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String, force: Boolean = false): Unit = {
    val maxItems =
      spark.conf.get("spark.sql.graft.storeBloomMaxItems", "100000000").toLong
    val fpp = spark.conf.get("spark.sql.graft.storeBloomFpp", "0.01").toDouble
    if (maxItems <= 0) return
    val rows = Stores.rowCount(spark, storePath)
    if (rows == 0 || rows > maxItems) return
    // `force` bypasses the covered==rows short-circuit: after a
    // compaction every data file was rewritten, and a distinct-count can
    // COINCIDENTALLY land back on the covered value (dups removed == fps
    // a crashed append added) — trusting the marker then would keep a
    // bloom missing real fingerprints, leaking their duplicates forever.
    if (!force && loadBloomCovered(spark, storePath).contains(rows)) return
    // sized with 2× headroom (capped at maxItems): a filter sized for
    // exactly `rows` is at capacity the moment it's built, which would
    // force updateBloomSidecar's incremental path into a full rebuild on
    // the very next append
    val sizedFor = math.min(maxItems, math.max(rows * 2, 1L << 20))
    val bf = readSeenStore(spark, storePath).get
      .select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", sizedFor, fpp)
    writeBloomSidecar(spark, storePath, rows, bf)
  }

  private def writeBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String, rows: Long,
      bf: org.apache.spark.util.sketch.BloomFilter): Unit =
    // atomic: the marker leads the filter bytes, so a truncated body under
    // a valid marker would pass the marker-only validity check forever
    Stores.writeFileAtomic(spark,
        new org.apache.hadoop.fs.Path(bloomPath(storePath)), ".tmp") { out =>
      out.writeLong(rows); bf.writeTo(out)
    }

  /** How many items a filter of this size holds at the target fpp —
    * inverted from the optimal-bits formula (bits = −n·ln p / ln²2), so
    * the incremental path can tell when a store has outgrown the filter
    * it was built with and a full rebuild is due. */
  private def bloomCapacity(bf: org.apache.spark.util.sketch.BloomFilter,
      fpp: Double): Long =
    (bf.bitSize() * math.log(2) * math.log(2) / -math.log(fpp)).toLong

  /** Keep the Bloom sidecar current across a daily append WITHOUT the
    * full-store scan [[refreshBloomSidecar]] pays: bloom insertion is
    * append-only, so the increment's fingerprints fold into the EXISTING
    * filter driver-side (the newFps frame is the just-appended files
    * read back — a bounded scan, never the increment's plan again —
    * capped by `spark.sql.graft.storeBloomIncrementalMax`). Falls back to the full
    * rebuild when the sidecar is stale/absent, the increment is too big
    * to collect, or the store has outgrown the filter's sized-for
    * capacity (fpp would degrade past the configured target). At a
    * 10^8-row store the per-day sidecar cost drops from a full scan +
    * rebuild to one bounded collect + insert. */
  private def updateBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String, newFps: DataFrame, nNew: Long): Unit = {
    val maxItems =
      spark.conf.get("spark.sql.graft.storeBloomMaxItems", "100000000").toLong
    val fpp = spark.conf.get("spark.sql.graft.storeBloomFpp", "0.01").toDouble
    val incrMax = spark.conf
      .get("spark.sql.graft.storeBloomIncrementalMax", "4000000").toLong
    if (maxItems <= 0) return
    val rows = Stores.rowCount(spark, storePath)
    if (rows == 0 || rows > maxItems) return
    loadBloomCovered(spark, storePath) match {
      case Some(covered) if covered == rows => () // no-op append, marker current
      case Some(covered)
          if nNew > 0 && covered == rows - nNew && nNew <= incrMax =>
        loadBloomSidecar(spark, storePath) match {
          case Some((c2, bf)) if c2 == covered && rows <= bloomCapacity(bf, fpp) =>
            // the nNew ≤ incrMax just-appended rows, streamed into the filter
            val folded = graft.core.CacheRegistry.pull(
              newFps.select(xxhash64(col("fp"))), nNew)(
              _.foreach(r => bf.putLong(r.getLong(0))))
            if (folded.isDefined) writeBloomSidecar(spark, storePath, rows, bf)
            else refreshBloomSidecar(spark, storePath)
          case _ => refreshBloomSidecar(spark, storePath)
        }
      case _ => refreshBloomSidecar(spark, storePath)
    }
  }

  /** Just the sidecar's covered-row marker (leading long) — the validity
    * check a no-op append performs must not deserialize a ~115 MB filter
    * to read 8 bytes. */
  private def loadBloomCovered(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(bloomPath(storePath))
      val f = Stores.hadoopFs(spark, storePath)
      if (!f.exists(p)) None
      else {
        val in = new java.io.DataInputStream(f.open(p))
        try Some(in.readLong()) finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  private def loadBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[(Long, org.apache.spark.util.sketch.BloomFilter)] =
    try {
      val p = new org.apache.hadoop.fs.Path(bloomPath(storePath))
      val f = Stores.hadoopFs(spark, storePath)
      if (!f.exists(p)) None
      else {
        val in = new java.io.DataInputStream(f.open(p))
        try Some((in.readLong(),
          org.apache.spark.util.sketch.BloomFilter.readFrom(in)))
        finally in.close()
      }
    } catch {
      // partial/corrupt sidecar (crashed writer) → treat as absent; the
      // reader falls back to the exact anti-join and the next append
      // rewrites it
      case _: java.io.IOException => None
    }

  /** Codegen'd might-contain probe of a long column against a driver-held
    * Bloom filter. The pre-r19 form (plan-literal bytes while the filter
    * was small enough to inline, broadcast + udf beyond) re-shipped the
    * filter inside EVERY stage's task binary — the store sidecar's 2^20-item sizing floor is
    * ~1.2 MB serialized and the r18 driver bench logged 2.5 MiB task
    * binaries on three q_dedup_store_exact stages. Since r19 the filter
    * rides a Spark BROADCAST probed by a native codegen expression
    * ([[graft.functions.BloomMightContainBcast]]): the task binary
    * carries only the handle, executors fetch the filter once each, and
    * the probe stays inside whole-stage codegen at ANY filter size (the
    * 115 MB maxItems-cap filter included — the old >8 MB UDF fallback
    * broke codegen exactly where scale needed it). */
  private def bloomMightContainLong(spark: org.apache.spark.sql.SparkSession,
      bf: org.apache.spark.util.sketch.BloomFilter, h: Column): Column = {
    val bc = spark.sparkContext.broadcast(bf)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BloomMightContainBcast(bc,
        org.apache.spark.sql.graftbridge.Bridge.expression(h)))
  }

  /** [[dropSeen]] against a STORE PATH: [[probeSeenStore]] over the
    * increment's own fingerprints. */
  def dropSeenStore(df: DataFrame, storePath: String, textCol: String): DataFrame =
    probeSeenStore(df, contentFingerprints(df, textCol), storePath, textCol)._1

  /** [[dropSeen]] against a STORE PATH, using the Bloom sidecar to keep
    * the store scan-only: increment rows failing the Bloom probe are
    * definitely-unseen (no false negatives over a valid sidecar) and skip
    * the join entirely; the survivors' fingerprints — true dups plus ~1%
    * false positives — confirm through `store ⋈ broadcast(candidates)`
    * (the store STREAMS through a broadcast semi join; it is never
    * shuffled) and the matched set anti-joins back, also broadcast. At
    * 10^10 store rows the per-run cost is one store scan, vs shuffling
    * 160 GB of fingerprints every day through the plain anti join. Falls
    * back to [[dropSeen]] when the sidecar is stale/absent or the
    * candidate set exceeds `spark.sql.graft.incrementalBroadcastRows`
    * (a dup-heavy increment, where the Bloom prunes nothing anyway).
    *
    * `fps` is the increment's [[contentFingerprints]]. Returns (kept
    * rows, unseen): `unseen` is `fps` minus the store's fingerprints, in
    * the form the probe's path already holds — `fps` itself when the
    * store is absent; `fps` anti-joined with the store when the sidecar
    * is stale or off; once the Bloom probe ran, the memo of `fps` the
    * candidates came from: whole when no candidate passed, minus the
    * matched cut, or anti-joined with the store past the broadcast cap.
    * [[appendUnseen]] lands it, so each path computes the fingerprints
    * once: a probe that computed them leaves them cached for the append,
    * and one that did not leaves the append to compute them. That reuse
    * relies on the single-writer contract (see [[appendUnseen]]):
    * `unseen` is true of the store as this probe saw it. */
  def probeSeenStore(df: DataFrame, fps: DataFrame, storePath: String,
      textCol: String): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    readSeenStore(spark, storePath) match {
      case None => (df, fps)
      case Some(seen) =>
        val rows = Stores.rowCount(spark, storePath)
        loadBloomSidecar(spark, storePath).filter(_._1 == rows).map(_._2) match {
          case None =>
            (dropSeen(df, seen, textCol), fps.join(seen, Seq("fp"), "left_anti"))
          case Some(bf) =>
            val fpc = md5(col(textCol).cast("string"))
            val bcastRows = spark.conf
              .get("spark.sql.graft.incrementalBroadcastRows", "1000000").toLong
            // the increment's distinct fps are CACHED before the bloom
            // probe, and the cache boundary is the point: the probe's
            // filter carries the serialized-filter plan literal, and over
            // a union-shaped increment Catalyst pushes it below the
            // distinct (its condition only references the grouping key)
            // and into EVERY branch — measured 21 literal copies in one
            // 26.8 MiB task binary, a 2 GB plan string, and driver OOM on
            // a 21-branch union. Cache substitution runs BEFORE the
            // optimizer, so the filter stops at the cached scan: one
            // literal, one probe stage. Per-row pruning is not lost —
            // every increment row flows through the final broadcast anti
            // join regardless.
            val incFps = graft.core.CacheRegistry.memo(fps)
            val cand = graft.core.CacheRegistry.memo(
              incFps.filter(bloomMightContainLong(spark, bf, xxhash64(col("fp")))))
            val nCand = cand.count()
            // the append reads the memo behind a rebalance: a memo's
            // shuffle partitioning is fixed (AQE does not coalesce a cached
            // plan's output partitions), so every append would otherwise
            // land one file per shuffle partition and trip `compact_files`
            // on every increment
            if (nCand == 0L) (df, incFps.hint("rebalance"))
            else if (nCand <= bcastRows) {
              // matched goes through a CHECKPOINT barrier, not just a
              // cache: the optimizer pushes LeftAnti below a union-shaped
              // increment, and an un-persisted right side re-derives the
              // whole store-semi-bloom pipeline once per branch (measured:
              // a 2 GB plan string, 21 bloom-literal copies in one
              // 26.8 MiB task binary, driver OOM on a 21-branch union). A
              // cached right side fixes the COMPUTE but still renders its
              // whole nested tree per branch (a 211 MB plan string); the
              // checkpoint cuts lineage so each branch anti-joins a
              // broadcast of a plain RDD scan. matched ≤ bcastRows, so
              // the checkpoint is increment-sized; the cut's
              // checkpointDir switch keeps the cluster-reliable form.
              val matched = graft.core.CacheRegistry.cut(
                seen.join(broadcast(cand), Seq("fp"), "left_semi"))
              (df.join(broadcast(matched), fpc === matched("fp"), "left_anti"),
                incFps.join(broadcast(matched), Seq("fp"), "left_anti")
                  .hint("rebalance"))
            } else (dropSeen(df, seen, textCol),
              incFps.join(seen, Seq("fp"), "left_anti").hint("rebalance"))
        }
    }
  }

  /** Distinct 64-bit simhash fingerprints — the NEAR-dup seen-store row
    * format for [[dropSeenNear]] (one `sim` long per distinct
    * fingerprint; the shared contract of `simhashHammingPairs64` /
    * `streamingNearDedup`, so batch, streaming, and incremental near-dup
    * all agree on what "the same document" means). */
  def simhashFingerprints(df: DataFrame, textCol: String): DataFrame =
    df.select(simhash64Fingerprint(col(textCol)).as("sim")).distinct()

  def appendToSimhashStore(df: DataFrame, textCol: String, storePath: String): Long =
    appendToNearStore(df, textCol, storePath)

  // ---- store maintenance --------------------------------------------------

  /** [[graft.core.Stores.dataFiles]] under the name the benchmark calls. */
  def storeDataFiles(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Seq[org.apache.hadoop.fs.Path] =
    Stores.dataFiles(spark, storePath)

  /** Compact an EXACT seen store in place: rewrite the fingerprint rows
    * (distinct — a crashed append's double-write heals here) into at most
    * `targetFiles` files (the YAML `compact_files: N` trigger passes
    * max(1, N/2), see Planner) and force-rebuild the Bloom sidecar,
    * whose marker takes the rewritten files' footer row count (no count
    * job). Crash contract: [[graft.core.Stores]]. Returns the store's
    * distinct row count. */
  def compactSeenStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int = 32): Long =
    compactStore(spark, storePath, "fp", targetFiles, Some(seenSchema))(
      refreshBloomSidecar(spark, storePath, force = true))

  /** [[compactSeenStore]] for a near-dup (simhash) store; always rebuilds
    * the banded sidecar (compaction rewrote the rows it derives from). */
  def compactNearStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetFiles: Int = 32,
      totalBits: Int = 64, bands: Int = 8): Long =
    compactStore(spark, storePath, "sim", targetFiles)(
      refreshBandedSidecar(spark, storePath,
        spark.read.parquet(storePath).select("sim"), 0, totalBits, bands,
        force = true))

  private def compactStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, keyCol: String, targetFiles: Int,
      schema: Option[StructType] = None)
      (refreshSidecars: => Unit): Long = {
    val n = Stores.compact(spark, storePath, targetFiles, schema)(
      _.select(keyCol).distinct())
    if (n > 0) refreshSidecars
    n
  }

  /** Append NEW simhash fingerprints to a near-dup seen store AND keep
    * its banded sidecar current: the fresh sims' (band, chunk) rows are
    * written once here, so [[dropSeenNearStore]] never explodes the store
    * at query time. Generic over the fingerprint/banding so the 32-bit
    * oracle variant runs the same code path as the 64-bit production
    * default. */
  def appendToNearStore(df: DataFrame, textCol: String, storePath: String,
      fingerprint: Column => Column = simhash64Fingerprint(_),
      totalBits: Int = 64, bands: Int = 8): Long = {
    val spark = df.sparkSession
    val fresh = df.select(fingerprint(col(textCol)).as("sim")).distinct()
    val (n, newSims) = landFps(unseenIn(fresh, "sim", storePath), "sim", storePath)
    refreshBandedSidecar(spark, storePath, newSims, n, totalBits, bands)
    n
  }

  private def bandedDataPath(storePath: String) = s"$storePath/_banded/data"
  private def bandedMetaPath(storePath: String) = s"$storePath/_banded/_meta.json"

  private def simChunk(sim: Column, b: Int, bits: Int): Column =
    shiftrightunsigned(sim, b * bits).bitwiseAND(lit((1L << bits) - 1))

  private def bandedRows(sims: DataFrame, totalBits: Int, bands: Int): DataFrame = {
    val bits = totalBits / bands
    sims.select(col("sim"),
        posexplode(array((0 until bands).map(b => simChunk(col("sim"), b, bits)): _*)))
      .toDF("sim", "band", "chunk")
  }

  private def loadBandedMeta(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[(Int, Int, Long)] =
    try {
      val p = new org.apache.hadoop.fs.Path(bandedMetaPath(storePath))
      val f = Stores.hadoopFs(spark, storePath)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val M = """\{"bits":(\d+),"bands":(\d+),"rows":(\d+)\}""".r
        txt.trim match {
          case M(bi, ba, r) => Some((bi.toInt, ba.toInt, r.toLong))
          case _ => None
        }
      }
    } catch { case _: java.io.IOException => None }

  private def writeBandedMeta(spark: org.apache.spark.sql.SparkSession,
      storePath: String, totalBits: Int, bands: Int, rows: Long): Unit =
    Stores.writeFileAtomic(spark,
        new org.apache.hadoop.fs.Path(bandedMetaPath(storePath)), ".tmp")(
      _.write(s"""{"bits":$totalBits,"bands":$bands,"rows":$rows}""".getBytes("UTF-8")))

  /** Keep the banded sidecar covering the compact store. Normal appends
    * add only the fresh sims' banded rows; an absent, stale, or
    * differently-banded sidecar rebuilds in full from the compact rows
    * (the migration path for r7 stores — and the self-heal after a
    * crashed append, whose stale marker readers already ignore). Meta is
    * written AFTER the data, so a failure between the two leaves a stale
    * marker, never a wrong one. */
  private def refreshBandedSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String, newSims: DataFrame, nNew: Long,
      totalBits: Int, bands: Int, force: Boolean = false): Unit = {
    val rows = Stores.rowCount(spark, storePath)
    if (rows == 0) return
    def write(sims: DataFrame, append: Boolean): Unit = {
      // directory-partition by BAND only (≤ `bands` dirs): per-(band,
      // chunk) dirs would mean 2^bits dirs per band — thousands of tiny
      // files and dir creations per append (measured 5-22 s on a 250-sim
      // store). Chunk locality comes from clustering instead: rows are
      // hash-distributed on (band, chunk) and sorted by chunk inside each
      // band's files, so parquet row-group min/max stats skip chunks the
      // increment doesn't probe, while each write task emits at most one
      // file per band dir.
      bandedRows(sims, totalBits, bands)
        .repartition(col("band"), col("chunk"))
        .sortWithinPartitions("band", "chunk")
        .write
        .mode(if (append) "append" else "overwrite")
        .partitionBy("band")
        .parquet(bandedDataPath(storePath))
      writeBandedMeta(spark, storePath, totalBits, bands, rows)
    }
    // `force` (compaction rewrote every data file): the marker can
    // coincidentally equal the new distinct count while the sim SET
    // changed — always rebuild from the compacted rows.
    if (force) write(spark.read.parquet(storePath).select("sim"), append = false)
    else loadBandedMeta(spark, storePath) match {
      case Some((bi, ba, covered))
          if bi == totalBits && ba == bands && covered == rows => ()
      case Some((bi, ba, covered))
          if bi == totalBits && ba == bands && nNew > 0 && covered == rows - nNew =>
        write(newSims, append = true)
      case _ =>
        write(spark.read.parquet(storePath).select("sim"), append = false)
    }
  }

  /** Incremental NEAR-dup dedup: drop every document within hamming ≤ `k`
    * of ANY fingerprint in the seen store — [[dropSeen]]'s analogue for
    * paraphrase-level repeats across daily increments. Same pigeonhole
    * banding as the self-join family, but increment × store: both sides
    * explode to (band, chunk) keys and equi-join, so cost is near-linear
    * in true matches, never O(increment × store). The drop set derives
    * through a join pipeline, so it goes through the joinBackOnce persist
    * (union-shaped increments must not re-derive it per branch). */
  def dropSeenNear(df: DataFrame, seen: DataFrame, textCol: String,
      idCol: String, k: Int = 3, bands: Int = 8): DataFrame =
    dropSeenNearBy(df, seen, textCol, idCol, simhash64Fingerprint, 64, k, bands)

  /** [[dropSeenNear]] over an arbitrary `totalBits`-bit fingerprint (the
    * oracle-reproducible 32-bit md5 simhash runs the same plan through
    * the driver's SQL gate; production stays on the 64-bit default). */
  def dropSeenNearBy(df: DataFrame, seen: DataFrame, textCol: String,
      idCol: String, fingerprint: Column => Column, totalBits: Int,
      k: Int, bands: Int): DataFrame = {
    require(bands > k, "need more bands than allowed bit flips (pigeonhole)")
    require(totalBits % bands == 0, "bands must divide the fingerprint width")
    val bits = totalBits / bands
    def chunk(sim: Column, b: Int): Column = simChunk(sim, b, bits)
    // the increment joins by DISTINCT fingerprint, not per-doc rows: a
    // boilerplate-heavy increment (the exact-dup hot cluster crawls
    // concentrate on) collapses to one banded key set per distinct sim,
    // and the matched sims anti-join the docs back — re-keying by the
    // (codegen'd) fingerprint, so the whole drop resolution is one
    // broadcastable join instead of carrying every doc id through the
    // banded equi-join
    val inc = df.select(fingerprint(col(textCol)).as("__sim")).distinct()
      .select(col("__sim"),
        posexplode(array((0 until bands).map(b => chunk(col("__sim"), b)): _*)))
      .toDF("__sim", "band", "chunk")
    val st = seen.select(col("sim").as("__ssim"),
        posexplode(array((0 until bands).map(b => chunk(col("sim"), b)): _*)))
      .toDF("__ssim", "band", "chunk")
    val droppedSims = inc.join(st, Seq("band", "chunk"))
      .filter(bit_count(col("__sim").bitwiseXOR(col("__ssim"))) <= k)
      .select(col("__sim").as("__dsim"))
      .distinct()
    joinBackOnce(df, droppedSims,
      fingerprint(col(textCol)) === col("__dsim"), "left_anti")
  }

  /** [[dropSeenNear]] against a STORE PATH, joining the increment's
    * banded keys directly against the pre-banded sidecar
    * ([[appendToNearStore]] wrote it once) instead of re-exploding the
    * whole store ×bands on every run — at a 10^10-fp store that explode
    * was ~10^11 rows of per-run shuffle work, forever. The store side of
    * the join is a plain partitioned scan (no Generate); when the
    * increment's key set fits `spark.sql.graft.incrementalBroadcastRows`
    * it broadcasts, so the store is never shuffled either — and dynamic
    * partition pruning can skip band directories (and chunk-sorted
    * row-group stats skip chunk ranges) the increment
    * doesn't touch. Falls back to the explode path when the sidecar is
    * absent, stale, or banded differently (r7 stores migrate on their
    * next append). */
  def dropSeenNearStore(df: DataFrame, storePath: String, textCol: String,
      idCol: String, k: Int = 3, bands: Int = 8): DataFrame =
    dropSeenNearStoreBy(df, storePath, textCol, idCol,
      simhash64Fingerprint(_), 64, k, bands)

  def dropSeenNearStoreBy(df: DataFrame, storePath: String, textCol: String,
      idCol: String, fingerprint: Column => Column, totalBits: Int,
      k: Int, bands: Int): DataFrame = {
    require(bands > k, "need more bands than allowed bit flips (pigeonhole)")
    require(totalBits % bands == 0, "bands must divide the fingerprint width")
    val spark = df.sparkSession
    Stores.readParquetIfExists(spark, storePath) match {
      case None => df
      case Some(compact) =>
        val rows = Stores.rowCount(spark, storePath)
        val bandedOk = loadBandedMeta(spark, storePath).exists {
          case (bi, ba, covered) =>
            bi == totalBits && ba == bands && covered == rows
        }
        if (!bandedOk)
          dropSeenNearBy(df, compact.select(col("sim")), textCol, idCol,
            fingerprint, totalBits, k, bands)
        else {
          val bits = totalBits / bands
          // partition discovery types band/chunk as ints — align both
          // join sides explicitly
          val st = spark.read.parquet(bandedDataPath(storePath))
            .select(col("sim").as("__ssim"),
              col("band").cast("int").as("band"),
              col("chunk").cast("long").as("chunk"))
          // DISTINCT increment sims only (see dropSeenNearBy): the banded
          // probe carries one key set per distinct fingerprint — a
          // boilerplate-heavy increment collapses instead of multiplying
          // the broadcast — and matched sims re-key the docs directly
          val inc = graft.core.CacheRegistry.memo(
            df.select(fingerprint(col(textCol)).as("__sim")).distinct()
              .select(col("__sim"),
                posexplode(array((0 until bands).map(b =>
                  simChunk(col("__sim"), b, bits)): _*)))
              .toDF("__sim", "band", "chunk")
              .select(col("__sim"),
                col("band").cast("int").as("band"),
                col("chunk").cast("long").as("chunk")))
          val bcastRows = spark.conf
            .get("spark.sql.graft.incrementalBroadcastRows", "1000000").toLong
          val probe = if (inc.count() <= bcastRows) broadcast(inc) else inc
          val droppedSims = st.join(probe, Seq("band", "chunk"))
            .filter(bit_count(col("__sim").bitwiseXOR(col("__ssim"))) <= k)
            .select(col("__sim").as("__dsim"))
            .distinct()
          joinBackOnce(df, droppedSims,
            fingerprint(col(textCol)) === col("__dsim"), "left_anti")
        }
    }
  }

  /** Streaming exact dedup: drop re-occurrences of the key within the
    * watermark horizon — state is bounded by the lateness window
    * (Spark's dropDuplicatesWithinWatermark; the streaming analogue of
    * `exact`). */
  def streamingDedup(df: DataFrame, tsCol: String, lateness: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming NEAR-dup dedup: fingerprint each document with the 64-bit
    * simhash (over its distinct-token SET — repetition and order are
    * deliberately ignored, so a token-shuffled or repetition-padded copy
    * still dedups) and drop fingerprint re-occurrences within the
    * watermark: first arrival wins. State is one row per distinct
    * fingerprint per lateness window, so it runs indefinitely; the batch
    * hamming-k pair search remains the offline path for k > 0. */
  def streamingNearDedup(df: DataFrame, textCol: String, tsCol: String,
      lateness: String): DataFrame =
    df.withColumn("__graft_sim", simhash64Fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__graft_sim")
      .drop("__graft_sim")
}
