package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "lazy dog the quick brown fox jumps over the"), // token shuffle of 0
    (3L, "completely different content about spark engines"),
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "text", "doc_id").orderBy("rep_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 0L && out(0).getLong(2) == 2L) // docs 0,1
  }

  test("fingerprint dedup catches token shuffles") {
    val out = Dedup.fingerprint(docs, "text", "doc_id").orderBy("rep_id").collect()
    assert(out.length == 2) // {0,1,2} one group, {3} another
    assert(out(0).getLong(2) == 3L)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dup always found
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash is identical for identical docs, differs for unrelated") {
    val hs = docs.select($"doc_id", Dedup.simhash32($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(hs(0L) == hs(1L))
    assert(hs(0L) != hs(3L))
  }

  test("brute-force cosine top-k ranks the query itself first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), "embedding", "vec_id", 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(0L, 1L))
  }

  test("ann with SRP buckets returns the query itself") {
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.annTopK(emb, emb.filter($"vec_id" < 3), "embedding", "vec_id", 3, numPlanes = 4)
    val byQuery = out.select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      assert(rows.minBy(_._3)._2 == q) // rank 1 = the query vector itself
    }
  }

  test("ivf ann returns the query itself at rank 1 and respects nprobe") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3), "embedding", "vec_id",
      k = 3, numCells = 8, nprobe = 8) // nprobe=all cells → exact search
    val byQuery = out.select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.foreach { case (q, rows) =>
      assert(rows.minBy(_._3)._2 == q)
      assert(rows.length == 3)
    }
  }

  test("ivf index: save/load round-trip serves identical results, cell-partitioned") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3)
    val direct = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
      k = 3, numCells = 8, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", numCells = 8).save(dir)
    // posting lists land one directory per cell → probes prune partitions
    val cellDirs = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.getName.startsWith("cell_id="))
    assert(cellDirs.nonEmpty)
    val loaded = IvfIndex.load(spark, dir)
    val served = Similarity.ivfSearch(loaded, queries, "embedding", "vec_id",
      k = 3, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(served == direct)
  }

  test("int8 two-stage topk equals exact brute force when rerank covers the corpus") {
    val emb = (0L until 30L).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * 3 + d).toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 2), "embedding", "vec_id", 3)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val viaInt8 = Similarity.int8TopK(emb, emb.filter($"vec_id" < 2), "embedding", "vec_id", 3, rerank = 30)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaInt8 == exact)
  }

  test("kmeans centroids improve assignment quality and plug into IVF") {
    // two well-separated blobs; seeds (vec 0,1) both land in blob A, so
    // training MUST move a centroid to blob B
    val blobA = (0L until 10L).map(i => (i, Array.tabulate(4)(d =>
      (1.0 + 0.01 * i + 0.001 * d).toFloat)))
    val blobB = (10L until 20L).map(i => (i, Array.tabulate(4)(d =>
      (-1.0 - 0.01 * i + 0.001 * d).toFloat)))
    val emb = (blobA ++ blobB).toDF("vec_id", "embedding")
    val trained = Similarity.trainKmeansCentroids(emb, "embedding", "vec_id",
      k = 2, iters = 3)
    val cents = trained.collect().map(r => r.getSeq[Double](1))
    assert(cents.length == 2)
    // one centroid per blob: their first components have opposite signs
    assert(cents.map(c => math.signum(c.head)).toSet == Set(1.0, -1.0))

    // trained centroids drive the IVF build/search path
    val idx = Similarity.buildIvfIndex(emb, "embedding", "vec_id",
      centroids = Some(trained))
    val res = Similarity.ivfSearch(idx, emb.filter($"vec_id" === 0L || $"vec_id" === 15L),
      "embedding", "vec_id", k = 3, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    // nprobe=1 with clean blobs → neighbors come from the query's own blob
    assert(res(0L).map(_._2).forall(_ < 10L))
    assert(res(15L).map(_._2).forall(_ >= 10L))
  }

  test("kmeans seeding is id-independent: sparse ids train, small corpora clamp") {
    // ids as an upstream Dedup stage leaves them: sparse, non-zero-based —
    // the seeded-ivf path rejects these, the TRAINED path must not
    val blobA = (1000L until 1010L).map(i => (i, Array.tabulate(4)(d =>
      (1.0 + 0.01 * i + 0.001 * d).toFloat)))
    val blobB = (9000L until 9010L).map(i => (i, Array.tabulate(4)(d =>
      (-1.0 - 0.01 * i + 0.001 * d).toFloat)))
    val emb = (blobA ++ blobB).toDF("vec_id", "embedding")
    val trained = Similarity.trainKmeansCentroids(emb, "embedding", "vec_id",
      k = 2, iters = 3)
    val cents = trained.collect().map(r => r.getSeq[Double](1))
    assert(cents.length == 2)
    assert(cents.map(c => math.signum(c.head)).toSet == Set(1.0, -1.0))
    // corpus smaller than k clamps to one cell per vector (mirrors the
    // buildIvfIndex seeded clamp) instead of failing
    val tiny = (500L until 503L).map(i =>
      (i, Array.tabulate(4)(d => if (d == (i % 4)) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val clamped = Similarity.trainKmeansCentroids(tiny, "embedding", "vec_id",
      k = 8, iters = 2)
    assert(clamped.count() == 3)
  }

  test("globalShuffle: reproducible permutation; the seed is the epoch") {
    val df = (0L until 200L).toDF("id")
    val a = DatasetOps.globalShuffle(df, "id", "s1").select("id").as[Long].collect()
    val b = DatasetOps.globalShuffle(df, "id", "s1").select("id").as[Long].collect()
    val c = DatasetOps.globalShuffle(df, "id", "s2").select("id").as[Long].collect()
    assert(a.toSeq == b.toSeq)           // same seed → same order, always
    assert(a.toSet == (0L until 200L).toSet) // a permutation, not a sample
    assert(a.toSeq != c.toSeq)           // new seed → new epoch order
    assert(a.toSeq != (0L until 200L).toSeq) // and it actually shuffles
    // the position form agrees with the order form
    val pos = DatasetOps.shuffleWithPosition(df, "id", "s1")
      .orderBy("pos").select("id").as[Long].collect()
    assert(pos.toSeq == a.toSeq)
  }

  test("sampleQuota: deterministic per-group caps; growth replaces, never reshuffles") {
    val df = (0L until 100L).map(i => (i, if (i < 80) "web" else "books"))
      .toDF("id", "src")
    val a = DatasetOps.sampleQuota(df, "src", "id", 10, "q1")
      .select("id", "src").as[(Long, String)].collect().toSet
    val b = DatasetOps.sampleQuota(df, "src", "id", 10, "q1")
      .select("id", "src").as[(Long, String)].collect().toSet
    assert(a == b) // same seed → same members
    assert(a.count(_._2 == "web") == 10 && a.count(_._2 == "books") == 10)
    // a group smaller than the cap survives whole
    assert(DatasetOps.sampleQuota(df, "src", "id", 50, "q1")
      .filter($"src" === "books").count() == 20)
    // growing a group only swaps members in/out by hash rank — the
    // incremental-assembly property: survivors never depend on arrival
    // order, only on the hash population
    val grown = df.union(Seq((200L, "web"), (201L, "web")).toDF("id", "src"))
    val a2 = DatasetOps.sampleQuota(grown, "src", "id", 10, "q1")
      .select("id", "src").as[(Long, String)].collect().toSet
    assert(a2.count(_._2 == "web") == 10)
    assert((a2 -- a).forall(r => r._1 >= 200L || r._2 == "books"),
      "pre-existing non-members entered the sample without new arrivals displacing them")
  }

  test("kmeans: duplicate ids all contribute to the trained mean") {
    // the assignment argmax is keyed per ROW, not per id — a corpus that
    // duplicates an id must not silently train on a one-vector-per-id
    // subset. k=1/iters=1 makes the centroid the plain mean of ALL rows.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)), // same id, different vector
      (2L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Similarity.trainKmeansCentroids(emb, "embedding", "vec_id",
      k = 1, iters = 1).select("centroid").as[Seq[Double]].collect()
    assert(c.length == 1)
    assert(math.abs(c(0)(0) - 2.0 / 3) < 1e-9, c(0).toString)
    assert(math.abs(c(0)(1) - 1.0 / 3) < 1e-9, c(0).toString)
  }

  test("dropDuplicatesHamming64 keeps every null-text document") {
    // null fingerprints can never band-match (null chunks fail the
    // equi-join), so nulls were always kept — the exact-dup collapse
    // must not turn the null "cluster" into all-but-one drops
    val df = Seq(
      (0L, Option("the quick brown fox jumps over the lazy dog")),
      (1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Option.empty[String]),
      (4L, Option("the quick brown fox jumps over the lazy dog")))
      .toDF("id", "text")
    val kept = Dedup.dropDuplicatesHamming64(df, "text", "id")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L)) // 4 drops as exact dup of 0
  }

  test("pq topk equals exact brute force when rerank covers the corpus") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(16)(d => math.sin(i * 16 + d).toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 3)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, "embedding", "vec_id",
      k = 3, m = 4, kc = 8, rerank = 40)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pq == exact) // rerank ≥ corpus → ADC only orders candidates

    // codes: m entries, each a valid centroid id
    val model = Similarity.trainPq(emb, "embedding", "vec_id", m = 4, kc = 8)
    val codes = emb.select(Similarity.pqEncode(model, $"embedding"))
      .as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(i => i >= 0 && i < 8)))
    // a seed vector encodes to itself in every subspace (distance 0)
    val selfCode = emb.filter($"vec_id" === 5L)
      .select(Similarity.pqEncode(model, $"embedding")).as[Seq[Int]].head()
    assert(selfCode == Seq(5, 5, 5, 5))
  }

  test("text profile: deterministic stats and langid") {
    val out = TextAnalysis.profile(docs, "text").collect().head
    assert(out.getInt(out.fieldIndex("n_tokens")) == 9)
    assert(out.getString(out.fieldIndex("lang_guess")) == "en")
    val q = out.getDouble(out.fieldIndex("quality"))
    assert(q > 0 && q <= 1.1)
  }

  test("gopherRules: each rule trips on its own pathology, clean text keeps") {
    val good = (1 to 60).map(i => s"word$i").mkString("the quick brown fox and that dog have fun with it ", " ", "")
    val fixtures = Seq(
      (0L, good),                                           // passes everything
      (1L, "too short to keep and that is that"),           // word count < 50
      (2L, good + " ###### # # # # # # # # # #"),           // symbol ratio
      (3L, good.split(" ").map(w => s"$w 99 77 55").mkString(" ")), // alpha frac
      (4L, good + "\n" + (1 to 30).map(i => s"- bullet $i").mkString("\n")), // bullets
      (5L, good + "\n" + (1 to 9).map(i => s"line $i trails off...").mkString("\n")), // ellipses
      (6L, good + " { code block }"),                       // C4 brace
      (7L, good + " some Lorem Ipsum filler"),              // C4 lorem
      (8L, (1 to 60).map(i => s"zz$i").mkString(" ")),      // no gopher stop words
      (9L, (1 to 60).map(_ => "extraordinarily").mkString("the of and that ", " ", "")), // mean word len
    ).toDF("doc_id", "text")

    val out = TextAnalysis.gopherRules(fixtures, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def rule(id: Long, name: String): Boolean =
      out(id).getBoolean(out(id).fieldIndex(name))

    assert(rule(0L, "keep"), "clean doc must keep")
    assert(!rule(1L, "rule_word_count") && !rule(1L, "keep"))
    assert(!rule(2L, "rule_symbol_ratio") && rule(2L, "rule_word_count"))
    assert(!rule(3L, "rule_alpha"))
    assert(!rule(4L, "rule_bullet"))
    assert(!rule(5L, "rule_ellipsis") && rule(5L, "rule_bullet"))
    assert(!rule(6L, "rule_no_brace") && rule(6L, "rule_no_lorem"))
    assert(!rule(7L, "rule_no_lorem"))
    assert(!rule(8L, "rule_stopwords") && out(8L).getInt(out(8L).fieldIndex("stop_hits")) == 0)
    assert(!rule(9L, "rule_mean_word_len"))
    // every non-keeper fell for exactly the reason planted
    assert((1L to 9L).forall(id => !rule(id, "keep")))

    // drop mode: original schema, keepers only
    val dropped = TextAnalysis.gopherRules(fixtures, "text", drop = true)
    assert(dropped.columns.toSeq == Seq("doc_id", "text"))
    assert(dropped.select("doc_id").as[Long].collect().toSeq == Seq(0L))

    // empty text: no NaN leaks, all ratio rules false
    val empty = TextAnalysis.gopherRules(Seq((0L, "")).toDF("doc_id", "text"), "text")
      .collect().head
    assert(!empty.getBoolean(empty.fieldIndex("rule_mean_word_len")))
    assert(!empty.getBoolean(empty.fieldIndex("rule_symbol_ratio")))
    assert(!empty.getBoolean(empty.fieldIndex("keep")))
  }

  test("c4LineFilter: keeps punctuated 5-word lines, rewrites text, flags thin pages") {
    val pages = Seq(
      (0L, "First full sentence with plenty of words.\nnope\n" +
        "Second proper sentence right here today.\nAnd a third one lands cleanly!"),
      (1L, "Only one good sentence appears in this page.\nfragment\nanother fragment"),
      (2L, "no terminal punctuation on this line at all\nshort.\n"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(pages, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getBoolean(out(0L).fieldIndex("keep")))
    assert(out(0L).getInt(out(0L).fieldIndex("n_lines_kept")) == 3)
    assert(out(0L).getString(out(0L).fieldIndex("clean_text")) ==
      "First full sentence with plenty of words.\n" +
      "Second proper sentence right here today.\nAnd a third one lands cleanly!")
    assert(!out(1L).getBoolean(out(1L).fieldIndex("keep")))
    assert(out(1L).getInt(out(1L).fieldIndex("n_lines_kept")) == 1)
    assert(out(2L).getInt(out(2L).fieldIndex("n_lines_kept")) == 0)
    assert(out(2L).getString(out(2L).fieldIndex("clean_text")) == "")

    // drop mode: original schema, cleaned text substituted in place
    val dropped = TextAnalysis.c4LineFilter(pages, "text", drop = true)
    assert(dropped.columns.toSeq == Seq("doc_id", "text"))
    val kept = dropped.as[(Long, String)].collect().toMap
    assert(kept.keySet == Set(0L))
    assert(!kept(0L).contains("nope"))
  }

  test("clusters: transitive min-id components (local and distributed paths)") {
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (7L, 9L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // small edge list → driver union-find fast path
    val local = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(local == expected)
    // driverEdgeLimit 0 forces the iterative shuffle-join path
    val dist = Dedup.clusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == expected)
    // string ids through the local path (generic min ordering)
    val sPairs = Seq(("b", "a", 1.0), ("b", "c", 1.0)).toDF("id_a", "id_b", "jaccard")
    val sReps = Dedup.clusters(sPairs).as[(String, String)].collect().toMap
    assert(sReps == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("poolEmbeddings: hand-computed mean, sum mode, and partition invariance") {
    val chunks = Seq(
      (0L, 10L, Seq(1.0f, 2.0f)), (1L, 10L, Seq(3.0f, 6.0f)),
      (2L, 20L, Seq(5.0f, 5.0f))).toDF("chunk_id", "doc", "embedding")
    val mean = Similarity.poolEmbeddings(chunks, "embedding", "doc", "chunk_id")
      .as[(Long, Int, Seq[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(mean(10L) == (2, Seq(2.0, 4.0)))
    assert(mean(20L) == (1, Seq(5.0, 5.0)))
    val summed = Similarity.poolEmbeddings(chunks, "embedding", "doc",
      "chunk_id", mode = "sum").as[(Long, Int, Seq[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(summed(10L) == (2, Seq(4.0, 8.0)))

    // ordered fold: identical bits regardless of partitioning
    val many = (0L until 1000L).map(i =>
      (i, i % 7, Seq((i * 0.731f), (i * -0.317f)))).toDF("chunk_id", "doc", "embedding")
    val r1 = Similarity.poolEmbeddings(many.repartition(1), "embedding", "doc", "chunk_id")
      .as[(Long, Int, Seq[Double])].collect().toSet
    val r32 = Similarity.poolEmbeddings(many.repartition(32), "embedding", "doc", "chunk_id")
      .as[(Long, Int, Seq[Double])].collect().toSet
    assert(r1 == r32, "pooled doubles must not drift with partitioning")

    // YAML dispatch
    val staged = graft.pipeline.Planner.corpusStage("PoolEmbeddings",
      Map("group_field" -> "doc", "order_field" -> "chunk_id"))(chunks)
    assert(staged.columns.toSeq == Seq("doc", "n_chunks", "embedding"))
  }

  test("poolEmbeddings malformed input: null chunks drop, dim mismatch fails") {
    // null chunk vectors are dropped (n_chunks counts real vectors); a
    // group of ONLY nulls emits no row
    val withNulls = Seq(
      (0L, 10L, Seq(1.0f, 2.0f)), (1L, 10L, null),
      (2L, 20L, null)).toDF("chunk_id", "doc", "embedding")
    val pooled = Similarity.poolEmbeddings(withNulls, "embedding", "doc", "chunk_id")
      .as[(Long, Int, Seq[Double])].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(pooled == Map(10L -> (1, Seq(1.0, 2.0))))

    // inconsistent dims inside a group must FAIL, not silently null the
    // tail dimensions (zip_with pads short vectors with null)
    val badDims = Seq(
      (0L, 10L, Seq(1.0f, 2.0f)), (1L, 10L, Seq(3.0f))).toDF("chunk_id", "doc", "embedding")
    val e = intercept[Exception] {
      Similarity.poolEmbeddings(badDims, "embedding", "doc", "chunk_id").collect()
    }
    assert(e.getMessage.contains("inconsistent chunk vector dims"),
      e.getMessage)
  }

  test("dropDuplicatesClusteredBest keeps the highest-scoring member per component") {
    val scored = Seq(
      (0L, "aa", 10L), (1L, "aa", 30L), (2L, "aa", 30L), // cluster {0,1,2}: best = 1 (score tie → min id)
      (3L, "bb", 5L),                                    // singleton keeps itself
      (4L, "cc", 1L), (5L, "cc", 2L))                    // cluster {4,5}: best = 5
      .toDF("doc_id", "grp", "score")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.dropDuplicatesClusteredBest(scored, pairs, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
    // schema passes through untouched
    assert(Dedup.dropDuplicatesClusteredBest(scored, pairs, "doc_id", "score")
      .columns.toSeq == Seq("doc_id", "grp", "score"))
  }

  test("dropDuplicatesClustered keeps one representative per component") {
    val pairs = Seq((0L, 1L, 1.0), (1L, 2L, 1.0)).toDF("id_a", "id_b", "jaccard")
    val kept = Dedup.dropDuplicatesClustered(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L)) // 0 represents {0,1,2}; 3 untouched
  }

  test("simhashHammingPairs64: dup pair at hamming 0, unrelated docs apart") {
    val pairs = Dedup.simhashHammingPairs64(docs, "text", "doc_id", k = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dups collide at hamming 0
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)))
  }

  test("dropDuplicatesHamming64 equals the pairs->drop path, never materializing pairs") {
    // planted near-dup families: 0=1 (exact), 4≈5≈6 (one token swapped),
    // plus unrelated docs — enough structure that multi-band collisions
    // and chains both occur
    val corpus = (0L until 40L).map { i =>
      val fam = i % 8
      val text =
        if (fam <= 1) "the quick brown fox jumps over the lazy dog " + (i / 8)
        else if (fam <= 2) s"alpha beta gamma delta epsilon zeta ${i / 8} eta theta"
        else (0 until 12).map(t => s"w${(i * 31 + t * 7) % 97}").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    val fused = Dedup.dropDuplicatesHamming64(corpus, "text", "doc_id", k = 3)
    val pairs = Dedup.simhashHammingPairs64(corpus, "text", "doc_id", k = 3)
    val viaPairs = Dedup.dropDuplicates(corpus, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val fusedIds = fused.select("doc_id").as[Long].collect().toSet
    assert(fusedIds == viaPairs)
    assert(fusedIds.nonEmpty && fusedIds.size < 40) // something actually dropped
    // on the clique-shaped dup families the cluster-rep policy agrees too
    val viaClusters = Dedup.dropDuplicatesClustered(corpus, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(fusedIds == viaClusters)
    // plan guard: the candidate join feeds an aggregate keyed on the drop
    // id alone — the pair set itself never becomes a materialized frame
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate(keys=[__drop"),
      s"expected fused join->aggregate on __drop, got:\n$plan")
  }

  test("exact-dup collapse: drop set and clusters invariant under star-reduction") {
    // a third of the corpus shares ONE boilerplate text — the hot
    // exact-dup cluster real crawls concentrate on (uncollapsed, its
    // banded bucket pairs grow quadratically: measured 151 s vs 20.6 s
    // uniform for minhash pair enumeration at 500k docs / 1% hot)
    val corpus = (0L until 60L).map { i =>
      val text =
        if (i % 3 == 0) "copyright all rights reserved privacy terms site map"
        else if (i % 3 == 1) "the quick brown fox jumps over the lazy dog " + (i / 6)
        else (0 until 12).map(t => s"w${(i * 29 + t * 5) % 89}").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    // hamming: the internally-collapsed fused drop equals the raw
    // pairs->drop path on a hot-cluster corpus too
    val fused = Dedup.dropDuplicatesHamming64(corpus, "text", "doc_id", k = 3)
      .select("doc_id").as[Long].collect().toSet
    val viaPairs = Dedup.dropDuplicates(corpus,
        Dedup.simhashHammingPairs64(corpus, "text", "doc_id", k = 3), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(fused == viaPairs)
    assert(!fused.exists(d => d % 3 == 0 && d != 0L)) // hot cluster → one rep
    // minhash: star-reduced pairs induce EXACTLY the raw list's
    // components, with linear member edges instead of C(20,2)
    val raw = Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.5)
    val star = Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.5,
      collapseExact = true)
    def comps(p: org.apache.spark.sql.DataFrame) =
      Dedup.clusters(p).select("id", "rep").as[(Long, Long)].collect().toMap
    assert(comps(star) == comps(raw))
    assert(star.count() < raw.count())
    // member edges attach to the min-id rep at jaccard exactly 1.0
    val memberEdges = star.filter($"id_a" === 0L && $"jaccard" === 1.0).count()
    assert(memberEdges == 19L, s"expected 19 star edges from rep 0, got $memberEdges")
    // ngram jaccard honors the same contract (identical sets defeat the
    // PPJoin prefix filter, so the hot cluster is quadratic there too)
    val blocked = corpus.withColumn("blk", lit("all"))
    val rawNg = Dedup.ngramJaccardPairs(blocked, "text", "doc_id", "blk",
      n = 3, threshold = 0.5)
    val starNg = Dedup.ngramJaccardPairs(blocked, "text", "doc_id", "blk",
      n = 3, threshold = 0.5, collapseExact = true)
    assert(comps(starNg) == comps(rawNg))
    assert(starNg.count() < rawNg.count())
    assert(starNg.filter($"id_a" === 0L && $"jaccard" === 1.0).count() == 19L)
  }

  test("dropDuplicatesHammingBy(32-bit) equals pairs->drop over simhashHammingPairs") {
    val corpus = (0L until 30L).map { i =>
      val text =
        if (i % 5 <= 1) "the quick brown fox jumps over the lazy dog " + (i / 5)
        else (0 until 10).map(t => s"w${(i * 17 + t * 3) % 71}").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    val fused = Dedup.dropDuplicatesHammingBy(corpus, "text", "doc_id",
        Dedup.simhash32, totalBits = 32, k = 3, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    val viaPairs = Dedup.dropDuplicates(corpus,
        Dedup.simhashHammingPairs(corpus, "text", "doc_id", k = 3, bands = 4),
        "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(fused == viaPairs && fused.size < 30)
  }

  test("dedup join-backs never eat an unrelated caller column named 'id'") {
    val pairs = Seq((0L, 1L, 1.0), (1L, 2L, 1.0)).toDF("id_a", "id_b", "jaccard")
    val withId = docs.withColumn("id", concat(lit("row-"), $"doc_id"))
    val kept = Dedup.dropDuplicatesClustered(withId, pairs, "doc_id")
    assert(kept.columns.contains("id"))
    assert(kept.select("id").as[String].collect().toSet == Set("row-0", "row-3"))
    // same guard for the rewrite passes
    val stripped = Dedup.stripDuplicatedPassages(withId, "text", "doc_id", k = 8)
    assert(stripped.columns.contains("id"))
    val cleaned = Dedup.removeBoilerplateLines(withId, "text", "doc_id")
    assert(cleaned.columns.contains("id"))
  }

  test("semanticDedup drops later members of embedding clusters, keeps distinct docs") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 24L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // planted paraphrases: positively scaled copies sit at cosine exactly 1
    // with their originals (and assign to the same cell — the centroid
    // argmax is scale-invariant)
    val copies = Seq(
      (100L, base(3)._2.map(x => x * 2.0f)),
      (101L, base(7)._2.map(x => x * 0.5f)))
    val emb = (base ++ copies).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(emb, "embedding", "vec_id",
        numCells = 4, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(100L) && !kept.contains(101L)) // copies drop
    assert((0L until 24L).toSet.subsetOf(kept))          // originals all keep
  }

  test("semanticDedup maxCellSize re-splits hot cells: drops can only shrink, " +
      "positively-scaled dups still drop, huge cap is a no-op") {
    val rnd = new scala.util.Random(13)
    // one dense mode: 40 vectors near a single direction land in ONE cell
    // (the hot-cell shape maxCellSize exists for), plus scattered others
    val hot = (0L until 40L).map { i =>
      val noise = Array.fill(16)((rnd.nextGaussian() * 0.05).toFloat)
      (i, Array.tabulate(16)(d => (if (d == 0) 10.0f else 0.0f) + noise(d)))
    }
    val scattered = (40L until 56L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // positive scaling preserves every SRP sign bit, so these planted
    // dups co-bucket under ANY re-split depth — they must always drop
    val copies = Seq((200L, hot(5)._2.map(_ * 3.0f)),
      (201L, scattered(2)._2.map(_ * 0.25f)))
    val emb = (hot ++ scattered ++ copies).toDF("vec_id", "embedding")
    def kept(cap: Long) = Similarity.semanticDedup(emb, "embedding", "vec_id",
        numCells = 4, threshold = 0.999, maxCellSize = cap, dim = 16)
      .select("vec_id").as[Long].collect().toSet
    val exact = kept(0L)
    val capped = kept(8L)
    assert(!exact.contains(200L) && !exact.contains(201L))
    assert(!capped.contains(200L) && !capped.contains(201L))
    // re-splitting only removes comparisons — never introduces new drops
    assert(exact.subsetOf(capped))
    // a cap nothing exceeds leaves the exact semantics untouched
    assert(kept(1000000L) == exact)
  }

  test("semanticDedup over trained k-means centroids drops planted paraphrases") {
    // two angular blobs whose members share a dominant direction (so
    // k-means separates them) but carry enough per-doc spread that no two
    // ORIGINALS sit above the dedup threshold — only the scaled copies do
    val rnd = new scala.util.Random(17)
    val blobA = (0L until 12L).map(i => (i, Array.tabulate(8)(d =>
      ((if (d == 0) 5.0 else 0.0) + rnd.nextGaussian() * 0.4).toFloat)))
    val blobB = (12L until 24L).map(i => (i, Array.tabulate(8)(d =>
      ((if (d == 0) -5.0 else 0.0) + rnd.nextGaussian() * 0.4).toFloat)))
    val copies = Seq((300L, blobA(4)._2.map(_ * 2.0f)),
      (301L, blobB(3)._2.map(_ * 0.5f)))
    val emb = (blobA ++ blobB ++ copies).toDF("vec_id", "embedding")
    val trained = Similarity.trainKmeansCentroids(emb, "embedding", "vec_id",
      k = 2, iters = 3)
    val kept = Similarity.semanticDedup(emb, "embedding", "vec_id",
        threshold = 0.9999, centroids = Some(trained))
      .select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(300L) && !kept.contains(301L))
    assert((0L until 24L).toSet.subsetOf(kept))
  }

  test("buildIvfIndex rejects sparse / non-zero-based ids instead of silently no-opping") {
    val emb = (1000L until 1016L).map(i =>
      (i, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", numCells = 8)
    }
    assert(e.getMessage.contains("dense from 0"))
  }

  test("buildIvfIndex clamps cells to a smaller dense-id corpus instead of failing") {
    // a sub-numCells corpus with dense-from-0 ids is legal (every doc its
    // own cell) — the Planner SemanticDedup default of 16 cells must not
    // hard-fail a 5-doc corpus (it used to dedup correctly, then r6's
    // dense-id guard over-rejected it)
    val rnd = new scala.util.Random(11)
    val base = (0L until 5L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    // id 5 is an EXACT copy of 2: with every doc its own centroid, only an
    // exact tie (csim 1 vs 1, smaller cell_id wins) co-buckets the pair
    val emb = (base :+ ((5L, base(2)._2)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(emb, "embedding", "vec_id", numCells = 16)
    assert(idx.centroids.count() == 6 && idx.assigned.count() == 6)
    val kept = Similarity.semanticDedup(emb, "embedding", "vec_id",
      numCells = 16, threshold = 0.999, dim = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0L until 5L).toSet)
    // empty corpus still errors loudly
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 0), "embedding", "vec_id")
    }
    assert(e.getMessage.contains("empty"))
  }

  test("incremental dedup: dropSeen + appendToSeenStore round-trip across runs") {
    val store = java.nio.file.Files.createTempDirectory("graft-seen").toString + "/fps"
    val day1 = Seq((0L, "alpha beta gamma"), (1L, "one two three"))
      .toDF("id", "text")
    // first run: nothing seen yet, everything survives; store gains 2 fps
    assert(Dedup.dropSeen(day1,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType)))),
      "text").count() == 2)
    assert(Dedup.appendToSeenStore(day1, "text", store) == 2)
    // second run: one repeat, one new doc — only the new one survives
    val day2 = Seq((10L, "alpha beta gamma"), (11L, "fresh new content"))
      .toDF("id", "text")
    val seen = spark.read.parquet(store)
    val kept = Dedup.dropSeen(day2, seen, "text")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // appending day2 adds ONLY the unseen fingerprint (idempotent growth)
    assert(Dedup.appendToSeenStore(day2, "text", store) == 1)
    assert(Dedup.appendToSeenStore(day2, "text", store) == 0) // re-run: no growth
    assert(spark.read.parquet(store).count() == 3)
  }

  test("incremental NEAR-dup: dropSeenNear catches token-shuffled repeats across runs") {
    val store = java.nio.file.Files.createTempDirectory("graft-simstore").toString + "/sims"
    val day1 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "completely unrelated content about distributed query engines"))
      .toDF("id", "text")
    assert(Dedup.appendToSimhashStore(day1, "text", store) == 2)
    val day2 = Seq(
      // token-shuffled copy of day1's doc 0: simhash64 is over the
      // distinct-token SET, so hamming distance is 0 — a near repeat
      (10L, "again and again the lazy dog jumps over the quick brown fox"),
      (11L, "entirely novel text with fresh vocabulary throughout"))
      .toDF("id", "text")
    val seen = spark.read.parquet(store)
    val kept = Dedup.dropSeenNear(day2, seen, "text", "id")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // idempotent store growth, same as the exact store
    assert(Dedup.appendToSimhashStore(day2, "text", store) == 1)
    assert(Dedup.appendToSimhashStore(day2, "text", store) == 0)
  }

  test("exploding-self-join memos honor spark.sql.graft.checkpointDir") {
    // with the config set, the hamming fingerprint memo goes through
    // reliable checkpoint() — same survivors, checkpoint files on disk
    // (the cluster-scale alternative to localCheckpoint's lost-executor-
    // kills-job trade; plan shape unchanged, see CacheRegistry.cut)
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again!"),
      (2L, "completely unrelated content about distributed query engines"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
    ).toDF("id", "text")
    val expected = Dedup.dropDuplicatesHamming64(df, "text", "id")
      .select("id").as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.sql.graft.checkpointDir", dir)
    try {
      def countFiles(f: java.io.File): Int =
        if (f.isFile) 1 else Option(f.listFiles).toSeq.flatten.map(countFiles).sum
      val got = Dedup.dropDuplicatesHamming64(df, "text", "id")
        .select("id").as[Long].collect().toSet
      assert(got == expected)
      assert(countFiles(new java.io.File(dir)) > 0,
        s"no reliable checkpoint files under $dir")
    } finally spark.conf.unset("spark.sql.graft.checkpointDir")
  }

  test("heavyHitters exact and approx paths agree and are exactly the true hitters") {
    // corpus where 'buy now' dominates, some mid-frequency grams, a long
    // random tail — the freqItems candidate superset must be pruned back
    // to EXACTLY the grams over the support threshold
    val rnd = new scala.util.Random(7)
    val corpus = ((0 until 30).map(i => (i.toLong, "buy now " * 3 + s"filler$i")) ++
      (30 until 40).map(i => (i.toLong, "mid freq gram here " + i)) ++
      (40 until 140).map(i =>
        (i.toLong, Vector.fill(8)(s"t${rnd.nextInt(500)}").mkString(" "))))
      .toDF("doc_id", "text")
    val exact = TextAnalysis.heavyHitters(corpus, "text", n = 2, minCount = 30L)
      .as[(String, Long)].collect().toMap
    assert(exact.contains("buy now") && exact("buy now") >= 60L)
    // approx with matching support: minFrac chosen so minCount ≈ minFrac·total
    val grams = corpus.select(explode(TextAnalysis.ngramsAll(lower($"text"), 2)))
    val total = grams.count()
    val minFrac = 30.0 / total
    val approx = TextAnalysis.heavyHittersApprox(corpus, "text", n = 2, minFrac)
      .as[(String, Long)].collect().toMap
    // strict > vs >= at the exact boundary: compare on the common contract
    val exactStrict = exact.filter(_._2 > minFrac * total)
    assert(approx == exactStrict)
  }

  test("removeBoilerplateLines cuts corpus-wide lines, keeps structure and spelling") {
    val corpus = Seq(
      (0L, "COOKIE BANNER\nunique body zero\nfooter 0"),
      (1L, "cookie banner\nunique body one\n\nfooter 1"),   // case + blank line
      (2L, "  Cookie Banner \nunique body two\nfooter 2"),  // padding normalizes away
      (3L, "no banner here\njust text"))
      .toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(corpus, "text", "doc_id", minDocs = 3)
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "unique body zero\nfooter 0")       // banner cut
    assert(out(1L) == "unique body one\n\nfooter 1")      // blank line survives
    assert(out(2L) == "unique body two\nfooter 2")
    assert(out(3L) == "no banner here\njust text")        // untouched
    // a doc that is ALL boilerplate comes back empty, not dropped
    val allBp = corpus.union(Seq((4L, "cookie banner")).toDF("doc_id", "text"))
    val out2 = Dedup.removeBoilerplateLines(allBp, "text", "doc_id", minDocs = 3)
      .as[(Long, String)].collect().toMap
    assert(out2(4L) == "")
    assert(out2.keySet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("repetitionStats: boilerplate scores high, varied text scores low") {
    val corpus = Seq(
      (0L, "buy now buy now buy now buy now"),          // 'buy now' ×4
      (1L, "one two three four five six seven eight"),  // no repeats
      (2L, "a b c d e a b c d e a b c d e"),            // repeated 5-gram
      (3L, "xy")).toDF("doc_id", "text")                // shorter than n
    val out = TextAnalysis.repetitionStats(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // doc 0: 'buy now' occurs 4x, 7 chars, len 31 → 28/31
    assert(math.abs(out(0L)._1 - 28.0 / 31.0) < 1e-12)
    assert(out(1L)._1 > 0 && out(1L)._2 == 0.0) // some top 2-gram, no dup 5-grams
    assert(out(2L)._2 > 1.0) // heavy 5-gram duplication overlaps > len
    assert(out(3L) == (0.0, 0.0)) // too short for any gram
  }

  test("scrubPii replaces emails, IPv4s, and phone shapes with placeholders") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "server 10.0.255.3 and call 555-123-4567",
      "no pii here 12.5 percent").toDF("text")
    val out = df.select(TextAnalysis.scrubPii(col("text"))).as[String].collect()
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "server <IP> and call <PHONE>")
    assert(out(2) == "no pii here 12.5 percent")
  }

  test("topTfidfTerms ranks copy-specific terms above corpus-wide ones") {
    val corpus = Seq(
      (0L, "alpha alpha shared"),
      (1L, "beta shared shared"),
      (2L, "gamma shared other")).toDF("doc_id", "text")
    val top = TextAnalysis.topTfidfTerms(corpus, "text", "doc_id", k = 1)
      .select("id", "token").as[(Long, String)].collect().toMap
    // each doc's rarest/heaviest term wins over 'shared' (df=3)
    assert(top == Map(0L -> "alpha", 1L -> "beta", 2L -> "gamma"))
  }

  test("decontaminate drops docs sharing an n-gram with the contamination set") {
    val corpus = Seq(
      (0L, "the secret benchmark answer is forty two exactly"),
      (1L, "a totally unrelated document about spark shuffles here"),
      (2L, "prefix words then the secret benchmark answer is forty two"),
    ).toDF("doc_id", "text")
    val contam = Seq((99L, "the secret benchmark answer is forty two"))
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, contam, "text", "doc_id", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L)) // 0 and 2 share 5-grams with the benchmark
  }

  test("contaminationReport names the leak: (doc, bench item, shared grams)") {
    val corpus = Seq(
      (0L, "the secret benchmark answer is forty two exactly"),
      (1L, "a totally unrelated document about spark shuffles here"),
      (2L, "prefix words then the secret benchmark answer is forty two"),
    ).toDF("doc_id", "text")
    val contam = Seq(
      (99L, "the secret benchmark answer is forty two"),
      (98L, "nothing from this item appears anywhere at all"))
      .toDF("bid", "text")
    val out = Dedup.contaminationReport(corpus, contam, "text", "doc_id",
        "bid", n = 5)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // bench 99 (7 tokens) has 3 distinct 5-grams; docs 0 and 2 embed all 3
    assert(out == Map((0L, 99L) -> 3L, (2L, 99L) -> 3L))
    // the CLEAN doc and the CLEAN benchmark item produce no rows —
    // output is bounded by real contamination, never corpus × benchmark
    assert(!out.keySet.exists { case (d, b) => d == 1L || b == 98L })
  }

  test("streaming dedup drops key re-occurrences within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(java.sql.Timestamp, String)](spark)
    val out = Dedup.streamingDedup(mem.toDF().toDF("ts", "k"), "ts", "10 minutes", Seq("k"))
    val q = out.writeStream.format("memory").queryName("sd").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData((ts("2024-01-01 00:00:01"), "a"), (ts("2024-01-01 00:00:02"), "a"),
        (ts("2024-01-01 00:00:03"), "b"))
      q.processAllAvailable()
      assert(spark.sql("select k from sd").as[String].collect().sorted.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("streamingNearDedup keeps first arrival per simhash fingerprint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(java.sql.Timestamp, String)](spark)
    val src = mem.toDF().toDF("ts", "text")
    val q = Dedup.streamingNearDedup(src, "text", "ts", "10 seconds")
      .writeStream.format("memory").queryName("near_dedup").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        (ts("2024-01-01 00:00:01"), "the quick brown fox jumps"),
        (ts("2024-01-01 00:00:02"), "jumps the quick brown fox"), // same token set
        (ts("2024-01-01 00:00:03"), "completely different words entirely here"))
      q.processAllAvailable()
      val texts = spark.sql("select text from near_dedup")
        .as[String].collect().toSet
      assert(texts == Set("the quick brown fox jumps",
        "completely different words entirely here"))
    } finally q.stop()
  }

  test("dropDuplicates removes the later doc of each pair") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.9)
    val kept = Dedup.dropDuplicates(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(0L) && !kept.contains(1L) && kept.contains(3L))
  }

  test("duplicatedPassages finds planted shared passages as merged token spans") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ") // 10 shared tokens
    val corpus = Seq(
      (0L, s"alpha beta gamma $passage tail0 tail1"),          // passage at pos 3
      (1L, s"one two three four five $passage end"),           // passage at pos 5
      (2L, "completely unrelated text with enough tokens here to matter"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedPassages(corpus, "text", "doc_id", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    // only windows fully inside the passage are duplicated → the merged
    // span is exactly the passage's token range in each doc
    assert(spans == Set((0L, 3L, 13L), (1L, 5L, 15L)))
  }

  test("stripDuplicatedPassages keeps the first doc's text, cuts the rest") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (0L, s"alpha beta gamma $passage tail0 tail1"),
      (1L, s"one two three four five $passage end"),
      (2L, "completely unrelated text with enough tokens here to matter"))
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedPassages(corpus, "text", "doc_id", k = 8)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(0L) == s"alpha beta gamma $passage tail0 tail1") // min-id keeps
    assert(out(1L) == "one two three four five end")            // passage cut
    assert(out(2L) == "completely unrelated text with enough tokens here to matter")
  }

  test("prefix-filtered ngram jaccard equals the quadratic formulation at high thresholds") {
    // the documented guarantee is OUTPUT identical to all-pairs-within-
    // block; θ=0.9/0.7 exercise the prefix-length bound where a float
    // (1−θ)·|s| shortcut truncates one short (0.5 is exact and masks it)
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 60).map(i => s"w$i")
    // sliding windows over a token stream → many partially-overlapping
    // shingle sets across the whole jaccard range
    val stream = Vector.fill(400)(vocab(rnd.nextInt(vocab.size)))
    val genDocs = (0 until 120).map { i =>
      val start = rnd.nextInt(stream.size - 40)
      val len = 10 + rnd.nextInt(30)
      (i.toLong, stream.slice(start, start + len).mkString(" "))
    } ++ Seq( // exact dups and near-subsets: pairs sitting at the bound
      (200L, stream.take(12).mkString(" ")),   // exact dup of 201
      (201L, stream.take(12).mkString(" ")),
      (202L, stream.take(13).mkString(" ")),   // near-superset: sits at the bound
      (203L, stream.slice(1, 13).mkString(" ")))
    val df = genDocs.toDF("doc_id", "text").withColumn("blk", lit("all"))

    def quadratic(threshold: Double): Set[(Long, Long)] = {
      val d = df.select($"doc_id".as("id"),
          array_sort(transform(Dedup.shingles($"text", 3), s => xxhash64(s))).as("hs"))
        .filter(size($"hs") > 0)
      d.as("l").join(d.as("r"), $"l.id" < $"r.id")
        .select($"l.id".as("id_a"), $"r.id".as("id_b"),
          Dedup.jaccardCol($"l.hs", $"r.hs").as("j"))
        .filter($"j" >= threshold)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    for (theta <- Seq(0.9, 0.7, 0.5)) {
      val fast = Dedup.ngramJaccardPairs(df, "text", "doc_id", "blk",
          n = 3, threshold = theta)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fast == quadratic(theta), s"pair sets diverge at threshold $theta")
    }
  }

  test("multi-probe LSH: candidate set is a superset of single-probe, probes=0 is identical") {
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.filter(col("vec_id") < 3)
    def hits(probes: Int): Map[(Long, Long), Int] =
      Similarity.annTopK(emb, qs, "embedding", "vec_id", k = 10,
          numPlanes = 6, dim = 64, probes = probes)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val single = hits(0)
    val zeroExplicit = hits(0)
    assert(single == zeroExplicit)
    // multi-probe searches strictly more buckets: every single-probe
    // RESULT survives or is displaced only by a better candidate, and
    // the result count never shrinks
    val multi = hits(6)
    val perQueryS = single.keys.groupBy(_._1).view.mapValues(_.size).toMap
    val perQueryM = multi.keys.groupBy(_._1).view.mapValues(_.size).toMap
    perQueryS.foreach { case (q, n) =>
      assert(perQueryM.getOrElse(q, 0) >= n, s"query $q lost candidates")
    }
    intercept[IllegalArgumentException] {
      Similarity.annTopK(emb, qs, "embedding", "vec_id", k = 3,
        numPlanes = 4, dim = 64, probes = 7)
    }
  }

  test("semantic vec store: bank run 1, near-drop run 2, store streams through broadcast joins") {
    val dir = java.nio.file.Files.createTempDirectory("vecstore").toString + "/vecs"
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val inc = emb.filter(col("vec_id") >= 250)
    // absent store (first run): everything passes through
    assert(Similarity.dropSeenSemantic(inc, dir, "embedding", "vec_id",
      dim = 64, threshold = 0.4).count() == inc.count())
    assert(Similarity.appendToVecStore(
      emb.filter(col("vec_id") < 250), "embedding", dir) == 250L)
    // idempotent append: identical vectors add zero rows
    assert(Similarity.appendToVecStore(
      emb.filter(col("vec_id") < 250), "embedding", dir) == 0L)
    val kept = Similarity.dropSeenSemantic(inc, dir, "embedding", "vec_id",
      dim = 64, numPlanes = 6, threshold = 0.4, probes = 2)
    val keptN = kept.count()
    assert(keptN < inc.count() && keptN > 0)
    // replaying the banked split itself: every row is its own stored
    // vector (cosine 1, same bucket) -> empty
    assert(Similarity.dropSeenSemantic(emb.filter(col("vec_id") < 250), dir,
      "embedding", "vec_id", dim = 64, numPlanes = 6, threshold = 0.4)
      .count() == 0L)
    // scale contract: the store side is never shuffled — both the probe
    // join and the anti join broadcast the (small) increment side
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("qualityBand: top-p cut keeps ~p of docs; approx agrees on clear margins") {
    import spark.implicits._
    val docs = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val n = docs.count()
    val exact = TextAnalysis.qualityBand(docs, "text", "doc_id", p = 0.7)
    val kept = exact.count()
    // p = 0.7 keeps the top ~30% (score >= 70th percentile)
    assert(kept >= (n * 0.25).toLong && kept <= (n * 0.35).toLong,
      s"kept $kept of $n")
    // threshold is the broadcast side of a 1-row nested-loop join —
    // no collect, no hash exchange beyond the aggregate's own
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)

    // the approx path (100 TB form) selects the same set except possibly
    // within the sketch's rank error of the boundary
    val approx = TextAnalysis
      .qualityBand(docs, "text", "doc_id", p = 0.7, exact = false)
    val exIds = exact.select("doc_id").as[Long].collect().toSet
    val apIds = approx.select("doc_id").as[Long].collect().toSet
    val sym = (exIds diff apIds).size + (apIds diff exIds).size
    assert(sym <= (n * 0.02).toInt + 1, s"exact/approx diverge on $sym docs")
  }

  test("qualityBand boundary: all-equal scores keep every doc (score == threshold)") {
    import spark.implicits._
    val same = (1L to 20L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.qualityBand(same, "text", "doc_id", 0.7).count() == 20L)
  }
  test("encodingArtifacts: counts each artifact class; clean text is zeros") {
    import graft.ml.TextAnalysis
    val rows = Seq(
      (1L, "perfectly clean ascii text"),
      (2L, "caf\u00C3\u00A9 and caf\u00C3\u00A9 again"),            // 2 mojibake
      (3L, "broken \uFFFD decode \uFFFD\uFFFD here"),                 // 3 replacement
      (4L, "ctrl x\u0001y\u0002z but tab\tand newline\nare fine"),   // 2 ctrl
      (5L, "smart \u00E2\u20AC\u2122 quote and \u00C2\u00B0 degree") // 2 mojibake
    ).toDF("doc_id", "text")
    val got = TextAnalysis.encodingArtifacts(rows, "text", "doc_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 0L, 0L, 0L),
      (2L, 0L, 2L, 0L),
      (3L, 3L, 0L, 0L),
      (4L, 0L, 0L, 2L),
      (5L, 0L, 2L, 0L)))
  }

  test("encodingArtifacts: null text nulls through (caller keeps the null policy)") {
    import graft.ml.TextAnalysis
    val rows = Seq((1L, null: String), (2L, "ok")).toDF("doc_id", "text")
    val got = TextAnalysis.encodingArtifacts(rows, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(got(0).isNullAt(1) && got(0).isNullAt(2) && got(0).isNullAt(3))
    assert(got(1).getLong(1) == 0L && got(1).getLong(2) == 0L && got(1).getLong(3) == 0L)
  }

  test("dupLineStats: neighbor-flag counts, empty-line exclusion, null fracs") {
    import graft.ml.TextAnalysis
    val rows = Seq(
      (1L, "a\nb\nc"),                  // no dups
      (2L, "a\na\nb\n\nb\nc"),       // two dup pairs, empty line ignored
      (3L, "x\nx\nx"),                  // one triple
      (4L, ""),                           // no non-empty lines
      (5L, "lone")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupLineStats(rows, "text", "doc_id")
      .orderBy("doc_id").collect()
    // (n_lines, n_dup_lines)
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((3L, 0L), (5L, 4L), (3L, 3L), (0L, 0L), (1L, 0L)))
    assert(got(1).getDouble(3) == 0.8)        // 4/5
    assert(got(2).getDouble(3) == 1.0)
    assert(got(3).isNullAt(3) && got(3).isNullAt(4))
    assert(got(2).getDouble(4) == 1.0)        // all chars duplicated
  }

}
