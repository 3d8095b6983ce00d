package graft.pipeline

import graft.SparkSpec

/** `compact_files: N` converges. A compaction rewrites the store to
  * max(1, N/2) files, below its own trigger, so appends add files between
  * compactions. A rewrite to the compact* API default of 32 files would
  * leave the store above any small trigger: every increment would rewrite
  * the whole store, and every later read would open 32 files. Each run
  * here carries well over 32 distinct rows, so a 32-way rewrite really
  * writes 32 files. */
class StoreCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val Runs = 6

  /** One YAML batch run: `in` (parquet) → `stage` → a parquet output. */
  private def run(in: String, out: String, stage: String): Unit =
    Planner.fromYaml(
      s"""inputs:
         |  - Parquet: {path: '$in'}
         |filters:
         |  - $stage
         |outputs:
         |  - Parquet: {path: '$out'}
         |""".stripMargin).runBatch(spark): Unit

  private def dataFiles(store: String): Seq[String] =
    graft.ml.Dedup.storeDataFiles(spark, store).map(_.getName)

  test("compact_files converges: Dedup incremental stays at most N files") {
    val root = tmp("compact-dedup")
    val store = s"$root/fps"
    val generations = scala.collection.mutable.Set[String]()
    for (day <- 0 until Runs) {
      val fresh = (0 until 120).map(i => (day * 1000L + i, s"day $day doc $i body"))
      // a within-run repeat and repeats of the previous day's documents
      val repeats = (day * 1000L + 500, s"day $day doc 0 body") +:
        (if (day == 0) Nil
         else (0 until 20).map(i => (day * 1000L + 600 + i, s"day ${day - 1} doc $i body")))
      val in = s"$root/in-$day"
      (fresh ++ repeats).toDF("id", "text").write.parquet(in)
      run(in, s"$root/out-$day",
        s"Dedup: {method: incremental, src: text, id_field: id, store: '$store', " +
          "update_store: true, compact_files: 2}")
      val files = dataFiles(store)
      assert(files.size <= 2, s"after run $day the store holds ${files.size} files")
      generations ++= files.filter(_.startsWith("compact-")).map(_.split('-')(1))
      // the store still dedups: only this run's fresh documents were kept,
      // and it holds every distinct document exactly once
      assert(spark.read.parquet(s"$root/out-$day").select("id").as[Long]
        .collect().toSet == fresh.map(_._1).toSet, s"run $day")
      assert(spark.read.parquet(store).count() == (day + 1) * 120L)
    }
    assert(generations.nonEmpty, "no compaction ran")
    assert(generations.size < Runs,
      s"${generations.size} compaction generations over $Runs runs")
  }

  test("compact_files converges: HostGraph store stays at most N files") {
    val root = tmp("compact-hostgraph")
    val store = s"$root/edges"
    for (day <- 0 until Runs) {
      val in = s"$root/in-$day"
      (0 until 40).map(i => (s"http://src$i.example/$day", s"http://d$day-$i.example/x"))
        .toDF("src_url", "dst_url").write.parquet(in)
      run(in, s"$root/out-$day",
        s"HostGraph: {src: src_url, dst: dst_url, store: '$store', compact_files: 2}")
      val files = dataFiles(store)
      assert(files.size <= 2, s"after run $day the store holds ${files.size} files")
    }
    assert(graft.ml.LinkGraph.readHostGraphStore(spark, store)
      .agg(org.apache.spark.sql.functions.sum("n_links")).as[Long].head() == Runs * 40L)
  }

  test("compact_files converges: Vocabulary store stays at most N files") {
    val root = tmp("compact-vocab")
    val store = s"$root/vocab"
    for (day <- 0 until Runs) {
      val in = s"$root/in-$day"
      (0 until 40).map(i => (day * 100L + i, s"shared tok${day}x$i"))
        .toDF("id", "text").write.parquet(in)
      run(in, s"$root/out-$day",
        s"Vocabulary: {src: text, store: '$store', compact_files: 2}")
      val files = dataFiles(store)
      assert(files.size <= 2, s"after run $day the store holds ${files.size} files")
    }
    assert(graft.ml.TextAnalysis.readVocabStore(spark, store)
      .filter($"token" === "shared").select("cnt").as[Long].head() == Runs * 40L)
  }
}
