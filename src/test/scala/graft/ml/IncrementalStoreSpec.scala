package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The seen-store LAYOUT contract: compact rows stay the r7-compatible
  * source of truth, while appends maintain the derived sidecars —
  * `_bloom` for the exact store, the pre-banded `_banded` index for the
  * near store — and the store-path drop variants use them to keep the
  * per-run cost one store SCAN (no explode, no store-side shuffle).
  * Stale/absent sidecars must degrade to the exact fallback paths, and
  * the first append against a sidecar-less (r7) store must migrate it. */
class IncrementalStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val day1 = Seq(
    (0L, "alpha beta gamma"),
    (1L, "one two three"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"))
    .toDF("id", "text")
  private val day2 = Seq(
    (10L, "alpha beta gamma"), // exact repeat of day1 doc 0
    (11L, "fresh new content"))
    .toDF("id", "text")

  test("exact store: append writes the Bloom sidecar, dropSeenStore uses it") {
    val store = tmp("inc-bloom") + "/fps"
    assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
    assert(new java.io.File(s"$store/_bloom/bloom.bin").isFile,
      "append must leave a Bloom sidecar")
    // the sidecar is invisible to compact readers (underscore prefix)
    assert(spark.read.parquet(store).count() == 3)
    val kept = Dedup.dropSeenStore(day2, store, "text")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // absent store: everything survives
    val keptAbsent = Dedup.dropSeenStore(day2, tmp("inc-none") + "/nope", "text")
      .select("id").as[Long].collect().toSet
    assert(keptAbsent == Set(10L, 11L))
    // growth keeps the sidecar valid: append day2, re-drop → nothing kept
    assert(Dedup.appendToSeenStore(day2, "text", store) == 1)
    assert(Dedup.dropSeenStore(day2, store, "text").count() == 0)
  }

  test("exact store: a STALE Bloom sidecar is detected and falls back, correctly") {
    val store = tmp("inc-stale") + "/fps"
    assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
    // grow the store behind the sidecar's back (what a crashed append
    // leaves: rows written, sidecar not refreshed)
    Dedup.contentFingerprints(day2, "text")
      .write.mode("append").parquet(store)
    // day2's fps ARE in the store now, but not in the bloom — a reader
    // trusting the stale sidecar would keep them; the validity marker
    // (covered rows != store rows) forces the exact anti-join instead
    assert(Dedup.dropSeenStore(day2, store, "text").count() == 0)
  }

  test("exact store: bloom can be disabled; dropSeenStore still exact") {
    val store = tmp("inc-nobloom") + "/fps"
    spark.conf.set("spark.sql.graft.storeBloomMaxItems", "0")
    try {
      assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
      assert(!new java.io.File(s"$store/_bloom/bloom.bin").exists)
      val kept = Dedup.dropSeenStore(day2, store, "text")
        .select("id").as[Long].collect().toSet
      assert(kept == Set(11L))
    } finally spark.conf.unset("spark.sql.graft.storeBloomMaxItems")
  }

  test("store appends: one-job counted protocol (r20) — counts, files, no tmp") {
    // r20 replaced the memo(count)+write barrier with Stores.appendCounted:
    // the count rides the write action itself, the files land via a
    // sibling-tmp + unique-prefix rename, and a re-run append is still a
    // no-op (anti-join against the grown store). checkpointDir may be set
    // (other memos still honor it) — the append no longer needs it.
    val dir = tmp("inc-ckpt")
    val store = tmp("inc-ckpt-store") + "/fps"
    spark.conf.set("spark.sql.graft.checkpointDir", dir)
    try {
      assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
      assert(Dedup.appendToSeenStore(day2, "text", store) == 1)
      assert(Dedup.appendToSeenStore(day2, "text", store) == 0) // idempotent
      assert(spark.read.parquet(store).count() == 4)
      // every data file carries the append protocol's unique prefix, and
      // no append tmp dir survives (clean or no-op runs both delete it)
      val fsDir = new java.io.File(store)
      val dataFiles = fsDir.listFiles.filter(_.isFile)
        .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      assert(dataFiles.nonEmpty && dataFiles.forall(_.startsWith("append-")),
        s"unexpected data file names: ${dataFiles.mkString(",")}")
      assert(!new java.io.File(store + "_append_tmp").exists,
        "append tmp dir left behind")
    } finally spark.conf.unset("spark.sql.graft.checkpointDir")
  }

  test("appendCountedFiles: count matches files' rows; stale tmp is cleaned") {
    import graft.core.Stores
    val store = tmp("inc-counted") + "/rows"
    // plant a stale tmp (crashed prior append) — it must be removed and
    // must not contaminate the store
    val staleTmp = new java.io.File(store + "_append_tmp")
    staleTmp.mkdirs()
    new java.io.File(staleTmp, "part-stale.parquet").createNewFile()
    val (n, files) = Stores.appendCountedFiles(
      Seq(1L, 2L, 3L).toDF("v"), store)
    assert(n == 3)
    assert(files.nonEmpty)
    assert(spark.read.parquet(files: _*).count() == 3)
    assert(spark.read.parquet(store).count() == 3)
    assert(!staleTmp.exists, "stale tmp not cleaned")
    // empty append: no files land, the store is untouched, tmp cleaned
    val (n0, files0) = Stores.appendCountedFiles(
      Seq.empty[Long].toDF("v"), store)
    assert(n0 == 0 && files0.isEmpty)
    assert(spark.read.parquet(store).count() == 3)
    assert(!staleTmp.exists)
    // empty append against an ABSENT store leaves it absent (first-run
    // existence semantics unchanged)
    val absent = tmp("inc-counted-absent") + "/rows"
    val (nA, filesA) = Stores.appendCountedFiles(
      Seq.empty[Long].toDF("v"), absent)
    assert(nA == 0 && filesA.isEmpty)
    assert(!new java.io.File(absent).exists)
  }

  private val near1 = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "completely unrelated content about distributed query engines"))
    .toDF("id", "text")
  private val near2 = Seq(
    // token-shuffled copy of near1 doc 0 — hamming 0 on the token-set
    // simhash, a near repeat
    (10L, "again and again the lazy dog jumps over the quick brown fox"),
    (11L, "entirely novel text with fresh vocabulary throughout"))
    .toDF("id", "text")

  test("near store: append writes the banded sidecar; dropSeenNearStore joins it") {
    val store = tmp("inc-banded") + "/sims"
    assert(Dedup.appendToNearStore(near1, "text", store) == 2)
    // banded layout: partition dirs band=*/chunk=* under _banded/data,
    // one banded row per (sim, band); meta covers the compact rows
    val bandDirs = Option(new java.io.File(s"$store/_banded/data").listFiles)
      .toSeq.flatten.filter(_.getName.startsWith("band="))
    assert(bandDirs.nonEmpty)
    assert(spark.read.parquet(s"$store/_banded/data").count() == 2 * 8)
    // compact readers still see exactly the compact rows
    assert(spark.read.parquet(store).count() == 2)
    val kept = Dedup.dropSeenNearStore(near2, store, "text", "id")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // the store side of the banded join must NOT re-explode: the banded
    // scan appears (band partition filter — the "_banded" path substring
    // is FileScan-Location-truncation-fragile) and every Generate in the
    // plan belongs to the increment's __sim key explode
    val plan = Dedup.dropSeenNearStore(near2, store, "text", "id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(band"),
      "banded path not taken")
    val storeGenerates = plan.linesIterator
      .filter(_.contains("Generate")).count(!_.contains("__sim"))
    assert(storeGenerates == 0, s"store-side explode:\n$plan")
    // idempotent growth keeps sidecar coverage
    assert(Dedup.appendToNearStore(near2, "text", store) == 1)
    assert(spark.read.parquet(s"$store/_banded/data").count() == 3 * 8)
    assert(Dedup.dropSeenNearStore(near2, store, "text", "id").count() == 0)
  }

  test("near store: an r7 store (no sidecar) falls back, then migrates on next append") {
    val store = tmp("inc-migrate") + "/sims"
    // v1 layout: compact sim rows only, written without the sidecar
    Dedup.simhashFingerprints(near1, "text")
      .write.mode("overwrite").parquet(store)
    assert(!new java.io.File(s"$store/_banded").exists)
    // fallback path (explode the compact store) is still correct
    val kept = Dedup.dropSeenNearStore(near2, store, "text", "id")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // first append against the v1 store materializes the FULL banded
    // index (2 old + 1 new sims), not just the increment's rows
    assert(Dedup.appendToNearStore(near2, "text", store) == 1)
    assert(spark.read.parquet(s"$store/_banded/data").count() == 3 * 8)
    val kept2 = Dedup.dropSeenNearStore(near2, store, "text", "id").count()
    assert(kept2 == 0)
  }

  test("near store: a stale banded sidecar (crashed append) degrades correctly") {
    val store = tmp("inc-banded-stale") + "/sims"
    assert(Dedup.appendToNearStore(near1, "text", store) == 2)
    // rows land behind the sidecar's back
    Dedup.simhashFingerprints(near2, "text")
      .write.mode("append").parquet(store)
    // near2's own sims are now in the compact store; a reader trusting
    // the stale banded index would miss them — coverage check must force
    // the explode fallback, which sees them
    assert(Dedup.dropSeenNearStore(near2, store, "text", "id").count() == 0)
    // next append self-heals: full rebuild, coverage restored
    assert(Dedup.appendToNearStore(near1, "text", store) == 0)
    assert(spark.read.parquet(s"$store/_banded/data").count() ==
      spark.read.parquet(store).count() * 8)
  }

  test("near store: 32-bit banding is layout-isolated from the 64-bit default") {
    val store = tmp("inc-32") + "/sims"
    assert(Dedup.appendToNearStore(near1, "text", store,
      Dedup.simhash32, totalBits = 32, bands = 4) == 2)
    assert(spark.read.parquet(s"$store/_banded/data").count() == 2 * 4)
    val kept = Dedup.dropSeenNearStoreBy(near2, store, "text", "id",
      Dedup.simhash32, totalBits = 32, k = 3, bands = 4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // a query with MISMATCHED banding must not trust this sidecar: it
    // falls back to the compact rows with its own banding (the 64-bit
    // fingerprints share nothing with a 32-bit store, so nothing drops —
    // what matters here is the _banded scan is NOT in the plan)
    val q64 = Dedup.dropSeenNearStore(near2, store, "text", "id")
    assert(!q64.queryExecution.executedPlan.toString.contains("_banded"))
    assert(q64.select("id").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("compactSeenStore: append files collapse, dups heal, bloom stays valid") {
    val store = tmp("inc-compact") + "/fps"
    for (i <- 0 until 5)
      Dedup.appendToSeenStore(Seq((i.toLong, s"doc $i")).toDF("id", "text"),
        "text", store)
    assert(Dedup.storeDataFiles(spark, store).size >= 5)
    // a crashed append's double-write: duplicate row behind the sidecar
    Dedup.contentFingerprints(Seq((0L, "doc 0")).toDF("id", "text"), "text")
      .write.mode("append").parquet(store)
    assert(spark.read.parquet(store).count() == 6)
    assert(Dedup.compactSeenStore(spark, store, targetFiles = 2) == 5)
    assert(Dedup.storeDataFiles(spark, store).size <= 2)
    assert(spark.read.parquet(store).count() == 5)
    // the compacted store still dedups (and the refreshed Bloom sidecar
    // is valid for it — the might_contain path, not the fallback)
    val kept = Dedup.dropSeenStore(
        Seq((100L, "doc 3"), (101L, "brand new")).toDF("id", "text"),
        store, "text")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(101L))
    // appends continue normally post-compaction
    assert(Dedup.appendToSeenStore(
      Seq((7L, "later doc")).toDF("id", "text"), "text", store) == 1)
  }

  test("union-shaped increments keep a bounded plan (probe evaluated once)") {
    // the failure mode this pins against: Catalyst pushes the probe's
    // filter below the distinct and into every union branch, and the
    // LeftAnti below the union re-derives the matched pipeline per
    // branch — measured (in the pre-r19 plan-literal era) as a 2 GB plan
    // string, 21 literal copies in one 26.8 MiB task binary, and driver
    // OOM. The probe itself rides a broadcast handle since r19 (no
    // filter bytes in any plan), but the cache boundaries in
    // dropSeenStore must still keep the derivation at one copy.
    val store = tmp("inc-union") + "/fps"
    assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
    val inc = (0 until 21).map(i => Seq(
        (i * 100L, "alpha beta gamma"),           // seen in day1
        (i * 100L + 1, s"branch $i novel text"))  // fresh
        .toDF("id", "text"))
      .reduce(_ union _)
    val q = Dedup.dropSeenStore(inc, store, "text")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.length < 1000000, s"plan exploded: ${plan.length} chars")
    assert(q.select("id").as[Long].collect().toSet ==
      (0 until 21).map(i => i * 100L + 1).toSet)
  }

  test("bloom sidecar stays valid across appends (incremental fold path)") {
    val store = tmp("inc-bloom-fold") + "/fps"
    assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
    assert(Dedup.appendToSeenStore(day2, "text", store) == 1)
    // the marker covers the post-append count without a full rebuild
    // having been forced (the increment folded into the existing filter)
    val in = new java.io.DataInputStream(
      new java.io.FileInputStream(s"$store/_bloom/bloom.bin"))
    val covered = try in.readLong() finally in.close()
    assert(covered == 4)
    // ...and the folded filter really holds the increment's fingerprint:
    // a repeat of day2's new doc drops through the might_contain path
    val day3 = Seq((20L, "fresh new content"), (21L, "never seen before"))
      .toDF("id", "text")
    assert(Dedup.dropSeenStore(day3, store, "text")
      .select("id").as[Long].collect().toSet == Set(21L))
  }

  test("compaction force-rebuilds the bloom even when counts coincide") {
    val store = tmp("inc-coincide") + "/fps"
    // build a store whose marker counts ROWS including a duplicate: the
    // filter covers 3 rows but holds only 2 distinct fps
    assert(Dedup.appendToSeenStore(
      Seq((0L, "doc zero")).toDF("id", "text"), "text", store) == 1)
    Dedup.contentFingerprints(Seq((0L, "doc zero")).toDF("id", "text"), "text")
      .write.mode("append").parquet(store) // crashed append's double-write
    assert(Dedup.appendToSeenStore(
      Seq((1L, "doc one")).toDF("id", "text"), "text", store) == 1)
    // a crashed append lands a fp the filter has NEVER seen (marker stale)
    Dedup.contentFingerprints(Seq((9L, "zeta")).toDF("id", "text"), "text")
      .write.mode("append").parquet(store)
    // compaction's distinct count (3) COINCIDES with the stale marker's
    // covered value — a marker-trusting refresh would keep the filter
    // that misses "zeta" and leak its duplicates forever
    assert(Dedup.compactSeenStore(spark, store, targetFiles = 1) == 3)
    val kept = Dedup.dropSeenStore(
        Seq((30L, "zeta"), (31L, "genuinely new")).toDF("id", "text"),
        store, "text")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(31L))
  }

  /** `body`'s result and the stage names (`<action> at <file>:<line>`, the
    * call site) of every job launched while it runs, from the job
    * counter: job groups are thread-local, so concurrent suites' jobs
    * don't carry this one, and a marker job bounds the wait. */
  private def jobStagesDuring[T](body: => T): (T, List[Seq[String]]) = {
    val counter = new graft.streaming.Observability.JobCounter(spark)
    try {
      val (result, counts) = counter.count("store read guard")(body)
      (result, counts.jobStages.toList)
    } finally counter.close()
  }

  test("building dropSeenStore reads the store by its schema: no inference job") {
    val store = tmp("inc-schema") + "/fps"
    assert(Dedup.appendToSeenStore(day1, "text", store) == 3)
    val (q, jobs) = jobStagesDuring(Dedup.dropSeenStore(day2, store, "text"))
    // AQE runs query stages as jobs on its own threads, named after that
    // thread's frames; the rest carry the building thread's call site
    val names = jobs.flatten.filterNot(_.contains("CompletableFuture"))
    // a `spark.read.parquet` without a schema launches a footer-inference
    // job on the building thread, named after the read's call site
    assert(!names.exists(_.startsWith("parquet at")),
      s"schema-inference job at build: $jobs")
    // what remains: the store count (sidecar validity), the probe's
    // candidate count, and the matched set's checkpoint
    assert(names.exists(_.startsWith("count at")), s"no count job: $jobs")
    assert(names.forall(n => n.startsWith("count at") ||
      n.startsWith("localCheckpoint at")), s"unexpected job at build: $jobs")
    assert(q.select("id").as[Long].collect().toSet == Set(11L))
  }

  test("an exact stage over a near (sim) store fails the run loudly") {
    // with a forced `fp` schema the missing column would read as all-null
    // and the stage would keep the whole increment; the footer check must
    // fail the run instead, before any sink writes
    val store = tmp("inc-wrong") + "/sims"
    assert(Dedup.appendToNearStore(near1, "text", store) == 2)
    val e = intercept[RuntimeException](Dedup.dropSeenStore(day2, store, "text"))
    assert(e.getMessage.contains("fp string"), e.getMessage)
    val root = tmp("inc-wrong-run")
    day2.write.parquet(s"$root/in")
    val run = graft.pipeline.Planner.fromYaml(
      s"""inputs:
         |  - Parquet: {path: '$root/in'}
         |filters:
         |  - Dedup: {method: incremental, src: text, id_field: id, store: '$store', update_store: true}
         |outputs:
         |  - Parquet: {path: '$root/out'}
         |""".stripMargin)
    val e2 = intercept[RuntimeException](run.runBatch(spark))
    assert(e2.getMessage.contains("does not match the expected schema"), e2.getMessage)
    assert(!new java.io.File(s"$root/out").exists, "the failed run wrote its output")
    assert(spark.read.parquet(store).count() == 2, "the failed run grew the store")
  }

  test("compactNearStore heals duplicate sims and re-covers the banded sidecar") {
    val store = tmp("inc-compact-near") + "/sims"
    assert(Dedup.appendToNearStore(near1, "text", store) == 2)
    assert(Dedup.appendToNearStore(near2, "text", store) == 1)
    // duplicate a sim row behind the sidecar's back
    Dedup.simhashFingerprints(near1, "text").limit(1)
      .write.mode("append").parquet(store)
    assert(spark.read.parquet(store).count() == 4)
    assert(Dedup.compactNearStore(spark, store) == 3)
    // banded sidecar rebuilt to cover the compacted rows exactly
    assert(spark.read.parquet(s"$store/_banded/data").count() == 3 * 8)
    val q = Dedup.dropSeenNearStore(near2, store, "text", "id")
    assert(q.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(band")) // truncation-proof marker
    assert(q.count() == 0)
  }
}
