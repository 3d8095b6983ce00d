package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The driver captures only the last ~2,000 chars of the bench run's
  * output; if the parsed JSON line outgrows that window the round's bench
  * is machine-unreadable (r6 and r10 both shipped parsed:null this way).
  * These tests pin the invariant at gate counts far beyond today's so
  * adding queries or stress datapoints can never overflow it again. */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def fakeQueries(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => s"q_generated_operator_name_$i" -> (i * 0.137 + 0.05))

  // name lengths match the real stress block (minhash_skew_collapse,
  // near_store_drop_skew, … average ~13 chars)
  private def fakeStress(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => s"stress_pt_$i" -> (i * 1.37 + 0.5))

  test("parsed line stays under the driver capture window at 150 queries") {
    // a full run's stress block is every op key of StressOps.families;
    // both the headline medians and the stress block must survive it
    val ops = StressOps.families.flatMap(_._2).size
    val line = Bench.renderParsedLine(
      total = 123.456,
      queryMedians = Bench.headline.map(_ -> 1.234) ++ fakeQueries(150),
      errored = Seq.empty, rounds = 3, sharedSec = 3.2,
      stress = fakeStress(ops), sfDir = "/data/sf0.1",
      queryMins = Bench.headline.map(_ -> 1.111) ++ fakeQueries(150).map {
        case (k, v) => k -> (v - 0.1) })
    assert(line.length <= Bench.MaxLineChars, s"line was ${line.length} chars")
    val node = mapper.readTree(line)
    assert(node.get("value").asDouble() >= 123.455 && node.get("value").asDouble() <= 123.457)
    assert(node.get("errors").isArray)
    // all headline medians survive at today's stress-block size
    Bench.headline.foreach { q =>
      assert(node.get("queries").has(q), s"headline $q missing")
    }
    // per-query min-of-rounds rides the line as a positional array
    // ALIGNED with the queries key order — one entry per emitted median
    assert(node.get("queries_min").isArray)
    assert(node.get("queries_min").size() === node.get("queries").size(),
      "queries_min must align 1:1 with the queries object")
    assert(node.get("queries_min").get(0).asDouble() === 1.11)
    // ... and the stress block itself fits alongside them (the full
    // candidate, no shedding, at the real op count)
    assert(node.get("stress").size() === ops, "stress was shed at the " +
      "real op count — the full candidate no longer fits")
    // shed order: at an oversized stress block the headline medians
    // OUTLIVE the stress payload (bounded, pinned, the cross-round
    // metric beats the bench_detail-replicated stress keys)
    val over = Bench.renderParsedLine(
      total = 123.456,
      queryMedians = Bench.headline.map(_ -> 1.234),
      errored = Seq.empty, rounds = 3, sharedSec = 3.2,
      stress = fakeStress(100), sfDir = "/data/sf0.1")
    val overNode = mapper.readTree(over)
    assert(over.length <= Bench.MaxLineChars)
    assert(overNode.get("stress").size() === 0, "oversized stress must shed")
    Bench.headline.foreach { q =>
      assert(overNode.get("queries").has(q), s"headline $q lost to stress")
    }
  }

  test("line never exceeds the bound even with absurd payloads") {
    val line = Bench.renderParsedLine(
      total = 1.0,
      queryMedians = fakeQueries(500),
      errored = (0 until 20).map(i => s"q_errored_operator_$i"),
      rounds = 3, sharedSec = 0.1,
      stress = fakeStress(200), sfDir = "/data/sf0.1")
    // optional payloads (stress, queries) are shed in order; value and
    // errors always remain parseable
    val node = mapper.readTree(line)
    assert(node.get("value").asDouble() >= 0.999 && node.get("value").asDouble() <= 1.001)
    assert(node.get("errors").size() === 20)
    assert(line.length <= Bench.MaxLineChars ||
      node.get("stress").size() === 0)
  }

  test("a mass-error run truncates the errors array rather than " +
      "overflowing the capture window") {
    // the r16 review finding: every gate analysis-broken (missing
    // dataset) put ~139 names in errors — alone past the window, so the
    // most-shed candidate STILL overflowed and the driver read
    // parsed:null exactly on the run that most needed an artifact
    val line = Bench.renderParsedLine(
      total = 0.0,
      queryMedians = Seq.empty,
      errored = (0 until 150).map(i => s"q_errored_operator_name_$i"),
      rounds = 3, sharedSec = 0.0,
      stress = Seq.empty, sfDir = "/data/sf0.1")
    assert(line.length <= Bench.MaxLineChars, s"line was ${line.length}")
    val node = mapper.readTree(line)
    assert(node.get("errors").size() === 13) // 12 names + the count marker
    assert(node.get("errors").get(12).asText().contains("138 more"))
  }

  test("a hostile sfDir path cannot malform the parsed line") {
    val line = Bench.renderParsedLine(
      total = 1.0, queryMedians = Seq.empty, errored = Seq.empty,
      rounds = 3, sharedSec = 0.0, stress = Seq.empty,
      sfDir = """/tmp/we"ird\path""")
    val node = mapper.readTree(line) // parse fails if unescaped
    assert(node.get("sf").asText() === """/tmp/we"ird\path""")
  }

  test("queries_min is positional over the queries insertion order") {
    // headline keys in a non-first position each get their own min, and
    // non-headline mins never enter the array
    val line = Bench.renderParsedLine(
      total = 10.0,
      queryMedians = Seq("q_not_headline" -> 9.0, "q_dsir" -> 2.0,
        "q_other" -> 8.0, "q1_pricing" -> 1.0),
      errored = Seq.empty, rounds = 3, sharedSec = 0.0,
      stress = Seq.empty, sfDir = "/sf",
      queryMins = Seq("q_not_headline" -> 7.77, "q_dsir" -> 1.5,
        "q_other" -> 6.66, "q1_pricing" -> 0.25))
    val node = mapper.readTree(line)
    val keys = Seq.newBuilder[String]
    node.get("queries").fieldNames().forEachRemaining(k => keys += k)
    assert(keys.result() === Seq("q_dsir", "q1_pricing"))
    val mins = (0 until node.get("queries_min").size())
      .map(node.get("queries_min").get(_).asDouble())
    assert(mins === Seq(1.5, 0.25))
  }

  test("bench_detail min and spread ignore errored samples") {
    // a query that failed one round used to read min -1, spread max + 1
    assert(Bench.cleanMinSpread(Seq(2.0, -1.0, 3.5)) === ((2.0, 1.5)))
    assert(Bench.cleanMinSpread(Seq(1.25)) === ((1.25, 0.0)))
    assert(Bench.cleanMinSpread(Seq(-1.0, -1.0)) === ((-1.0, -1.0)))
    assert(Bench.cleanMinSpread(Seq.empty) === ((-1.0, -1.0)))
  }

  test("phases, isolated_families and stress_cursor ride every candidate") {
    // r13's bench died with NO artifact (rc=124, parsed:null) — the
    // budget's audit fields must survive even the most-shed line shape
    // so a budget regression is always diagnosable from the artifact
    val line = Bench.renderParsedLine(
      total = 50.0,
      queryMedians = fakeQueries(500), errored = Seq.empty, rounds = 3,
      sharedSec = 2.0, stress = fakeStress(200),
      sfDir = "/data/sf0.1",
      phases = Seq("warmup" -> 80.0, "stress" -> 590.0, "shared" -> 2.0,
        "queries" -> 180.0),
      stressCursor = "dedup")
    val node = mapper.readTree(line)
    assert(node.get("phases").get("stress").asDouble() === 590.0)
    assert(node.get("stress_cursor").asText() === "dedup")
    assert(line.length <= Bench.MaxLineChars ||
      node.get("stress").size() === 0)
  }

  test("headline set is frozen: additions append-only, removals forbidden") {
    // The r10→r11 headline change silently broke cross-round total
    // comparability (verdict r11). This pin freezes the r11 set as an
    // ordered PREFIX of Bench.headline: new queries may only append
    // (keeping every earlier key comparable round over round); renaming
    // or removing one requires changing this spec AND a SURVEY note.
    val frozenR11 = Seq(
      "q1_pricing", "q_dedup_minhash", "q_dedup_store_exact",
      "q_dedup_store_near", "q_image_phash", "q_quality_band",
      "q_multimodal_curate", "q_ann_ivf", "q_sessionize", "q_funnel",
      "q_knn", "q_sorted_write", "q_langid", "q_pagerank")
    assert(Bench.headline.take(frozenR11.length) == frozenR11,
      "headline prefix changed — removals/renames need a SURVEY note " +
        "and a new frozen prefix here")
    // every headline query must actually exist in the gate map
    Bench.headline.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"headline names unknown gate $q")
    }
  }

  test("stress family op keys are the cross-round contract") {
    // the datapoint keys (and their family grouping — one fresh JVM per
    // family) are what the judge compares round over round; a rename or
    // silent drop here breaks comparability like the r10 headline change
    val expected = Seq(
      // passage_strip appended round-13 (the ExactSubstr rewrite cost)
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
      // round-13 addition (append-only): tokenization-family throughput
      "token" -> Seq("bpe_encode", "ngram_lm_score"),
      // round-15 addition (append-only): exact vs GK-sketch quantiles,
      // uniform vs hot-group — SURVEY §8.22h
      "metrics" -> Seq("stats_pct_exact", "stats_pct_approx",
        "stats_pct_exact_skew", "stats_pct_approx_skew"))
    assert(StressOps.families == expected,
      "stress families changed — removals/renames need a SURVEY note")
  }

  test("stress budget: full runs early, min-of-2 past half, single-sample " +
      "past 80%, skip past full") {
    assert(Bench.familyRunsUnderBudget(0.0, 600.0, 3) === Some(3))
    assert(Bench.familyRunsUnderBudget(299.0, 600.0, 3) === Some(3))
    assert(Bench.familyRunsUnderBudget(301.0, 600.0, 3) === Some(2))
    assert(Bench.familyRunsUnderBudget(481.0, 600.0, 3) === Some(1))
    assert(Bench.familyRunsUnderBudget(480.0, 600.0, 3) === Some(2))
    assert(Bench.familyRunsUnderBudget(600.0, 600.0, 3) === None)
    assert(Bench.familyRunsUnderBudget(9999.0, 600.0, 3) === None)
    // a user-pinned min-of-1 is never raised by the budget
    assert(Bench.familyRunsUnderBudget(400.0, 600.0, 1) === Some(1))
  }

  test("a budget-skipped family leads the next run; the rest follow in order") {
    val names = StressOps.families.map(_._1)
    assert(Bench.rotatedFrom("graph").map(_._1) ===
      names.dropWhile(_ != "graph") ++ names.takeWhile(_ != "graph"))
    // no cursor yet, or a damaged one: canonical order
    assert(Bench.rotatedFrom("").map(_._1) === names)
    assert(Bench.rotatedFrom("no_such_family").map(_._1) === names)
  }

  test("errored queries are reported, never silently timed") {
    val line = Bench.renderParsedLine(
      total = 10.0, queryMedians = fakeQueries(5),
      errored = Seq("q_broken"), rounds = 3, sharedSec = 0.5,
      stress = Seq.empty, sfDir = "/sf")
    val node = mapper.readTree(line)
    assert(node.get("errors").get(0).asText() === "q_broken")
  }
}
