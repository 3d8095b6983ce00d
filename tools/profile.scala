// Consolidated kernel/plan profiler (replaces the r6 prof_* scratch pile).
// Run one scenario via:
//   sbt compile && GRAFT_PROFILE=<scenario> spark-shell --master 'local[32]' \
//     --driver-memory 48g --conf spark.sql.shuffle.partitions=64 \
//     --driver-class-path target/scala-2.13/classes -i tools/profile.scala
//
// Scenarios:
//   hamming2x2  - memo type (localCheckpoint vs persist) x fingerprint
//                 (kernel vs composed) over 500k salted docs. The 2x2 that
//                 isolated the exploding-self-join AQE-coalesce regression
//                 (persist advertises true size -> AQE coalesces exchanges
//                 under a quadratic pair output; measured 17 s -> 100 s).
//   url         - UrlNormalizeExpr vs composed try_parse_url chains (one
//                 URI parse/row vs 14 - the q_url_dedup 1.39->0.54 win).
//   shingle     - shingle kernel vs composed HOF formulation per corpus
//                 pass (the r6 native-kernel family's headline lever).
//   text        - TextAnalysis.profile full-column corpus pass.
//   ckptdir     - fused hamming64 drop at 500k docs, localCheckpoint
//                 default vs spark.sql.graft.checkpointDir reliable
//                 checkpoint: asserts identical survivors and shows the
//                 DFS barrier keeps full join parallelism (no AQE
//                 coalesce regression) at the cost of the checkpoint
//                 write itself.
//   all         - every scenario in sequence (default).
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

val scenario = sys.env.getOrElse("GRAFT_PROFILE", "all")
def want(s: String) = scenario == "all" || scenario == s

def t[A](name: String)(f: => A): A = {
  val s = System.nanoTime; val r = f
  println(f"[PROF $name] ${(System.nanoTime - s) / 1e9}%.2f s"); r
}
// median-of-3 with a warmup pass (single-shot numbers chase JIT noise)
def t3[A](name: String)(f: => A): Unit = {
  f
  val xs = (1 to 3).map { _ =>
    val s = System.nanoTime; f; (System.nanoTime - s) / 1e9 }
  println(f"[PROF $name] ${xs.sorted.apply(1)}%.2f s  (${xs.map(x => f"$x%.2f").mkString(",")})")
}

if (want("hamming2x2")) {
  val d1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
  // per-copy word salt: cross-copy jaccard 0, cluster sizes constant (the
  // honest linear-scale corpus construction, same as tools/stress100.scala)
  val big = (0 until 100).map(i => d1.select(
    (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
    regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text"))).reduce(_ union _)
  big.count()

  def fpComposed(text: Column): Column =
    graft.functions.ArrayFns.simhash64(
      transform(array_distinct(split(text, "\\s+")), x => xxhash64(x)))
  def fpKernel(text: Column): Column = graft.ml.Dedup.simhash64Fingerprint(text)

  def pairs(fp: Column => Column, ckpt: Boolean): Long = {
    val bands = 8; val k = 3; val bits = 64 / bands
    val sh0 = big.select(col("doc_id").as("id"), col("text").as("__t"))
      .repartition(col("id"))
      .select(col("id"), fp(col("__t")).as("sim"))
    val sh = if (ckpt) sh0.localCheckpoint()
      else { val p = sh0.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    def chunk(sim: Column, b: Int): Column =
      shiftrightunsigned(sim, b * bits).bitwiseAND(lit((1L << bits) - 1))
    val banded = sh.select(col("id"), col("sim"),
        posexplode(array((0 until bands).map(b => chunk(col("sim"), b)): _*)))
      .toDF("id", "sim", "band", "chunk")
    val firstBand = coalesce((0 until bands).map(b =>
      when(chunk(col("l.sim"), b) === chunk(col("r.sim"), b), lit(b))): _*)
    val n = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.chunk") === col("r.chunk") &&
          col("l.id") < col("r.id"))
      .filter(col("l.band") === firstBand)
      .select(col("l.id"), col("r.id"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("h"))
      .filter(col("h") <= k).count()
    if (!ckpt) sh.unpersist()
    n
  }
  t("fingerprint kernel only") {
    big.select(fpKernel(col("text")).as("s")).select(sum(bit_count(col("s")))).collect()
  }
  t("fingerprint composed only") {
    big.select(fpComposed(col("text")).as("s")).select(sum(bit_count(col("s")))).collect()
  }
  for ((fpName, fp) <- Seq("kernel" -> fpKernel _, "composed" -> fpComposed _);
       (memoName, ckpt) <- Seq("localCheckpoint" -> true, "persist" -> false)) {
    spark.catalog.clearCache()
    t(s"$memoName + $fpName")(println("[PROF] pairs: " + pairs(fp, ckpt)))
  }
}

if (want("ckptdir")) {
  val d1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
  val big = (0 until 100).map(i => d1.select(
    (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
    regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text"))).reduce(_ union _)
  big.count()
  var localSurvivors = 0L
  t("hamming64 drop 500k, localCheckpoint (default)") {
    localSurvivors =
      graft.ml.Dedup.dropDuplicatesHamming64(big, "text", "doc_id").count()
    println("[PROF] survivors: " + localSurvivors)
  }
  graft.core.CacheRegistry.drain(); spark.catalog.clearCache()
  val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-prof").toString
  spark.conf.set("spark.sql.graft.checkpointDir", dir)
  t(s"hamming64 drop 500k, reliable checkpoint -> $dir") {
    val n = graft.ml.Dedup.dropDuplicatesHamming64(big, "text", "doc_id").count()
    println("[PROF] survivors: " + n)
    assert(n == localSurvivors, s"survivor mismatch: $n vs $localSurvivors")
  }
  spark.conf.unset("spark.sql.graft.checkpointDir")
}

if (want("url")) {
  val dir = "/root/testdata/sf0.1"
  val ev = graft.core.Tables.load(spark, dir, "events")
  println("[PROF rows] " + ev.count())
  val raw = ev.select(col("event_id"), concat(lit("HTTPS://Cdn.Example.COM:443/"),
    col("event_type"), lit("/p?utm_source=t&id="), (col("user_id") % 7).cast("string"),
    lit("&x=1#s"), col("event_id").cast("string")).as("u")).localCheckpoint()
  // sum(length) forces full evaluation - count() would prune the projection
  t3("force raw")(raw.select(sum(length(col("u")))).collect())
  t3("force 1 try_parse_url")(raw.select(sum(length(try_parse_url(col("u"), lit("HOST"))))).collect())
  t3("force 5 try_parse_url")(raw.select(sum(length(try_parse_url(col("u"), lit("PROTOCOL")))
    + length(try_parse_url(col("u"), lit("HOST"))) + length(try_parse_url(col("u"), lit("AUTHORITY")))
    + length(try_parse_url(col("u"), lit("PATH"))) + length(try_parse_url(col("u"), lit("QUERY"))))).collect())
  t3("force normalizeUrl kernel")(raw.select(sum(length(
    graft.ml.DatasetOps.normalizeUrl(col("u"))))).collect())
}

if (want("shingle")) {
  val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").localCheckpoint()
  // the pre-kernel slice-based HOF formulation (ReferenceTwins.shinglesComposed is
  // test-scoped; this inline twin is only a cost reference - the
  // value-equivalence spec lives in ShingleFnsSpec)
  def composed(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    array_distinct(when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(1), size(toks) - n + 1),
        i => array_join(slice(toks, i, lit(n)), " "))))
  }
  t3("tokens only")(docs.select(sum(size(split(col("text"), "\\s+")))).collect())
  t3("shingles kernel n=5")(docs.select(sum(size(
    graft.functions.ShingleFns.shingles(col("text"), 5)))).collect())
  t3("shingles composed n=5")(docs.select(sum(size(
    composed(col("text"), 5)))).collect())
  t3("hashedShingles kernel n=5")(docs.select(sum(size(
    graft.functions.ShingleFns.hashedShingles(col("text"), 5)))).collect())
  t3("shingles composed + xxhash n=5")(docs.select(sum(size(
    transform(composed(col("text"), 5), s => xxhash64(s))))).collect())
}

if (want("text")) {
  val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").localCheckpoint()
  // force full evaluation of every metric column (count() would prune)
  t3("profile all metrics") {
    graft.ml.TextAnalysis.profile(docs, "text")
      .select(sum(col("n_tokens") + col("n_regex_tokens")),
        sum(col("mean_word_len") + col("stopword_ratio") +
          col("distinct_ratio") + col("quality")),
        sum(length(col("lang_guess")) + length(col("fingerprint"))))
      .collect()
  }
}
System.exit(0)
