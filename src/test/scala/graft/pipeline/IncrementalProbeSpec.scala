package graft.pipeline

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.{CacheRegistry, Stores}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A curate-shaped daily increment: JSON documents through Normalize,
  * QualityRules and an incremental Dedup that updates its store, into a
  * guarded Parquet output (the `curate_incremental` benchmark's chain). */
object CurateIncrement {
  private val Words = ("river market engine garden window harbor village signal " +
    "letter winter painter station morning doctor mountain library teacher " +
    "kitchen bridge island pocket silver thunder meadow lantern journey").split(' ')

  def yaml(in: String, store: String, out: String): String =
    s"""inputs:
       |  - Json: {path: '$in'}
       |filters:
       |  - Normalize: {src: text}
       |  - QualityRules: {src: text, mode: drop}
       |  - Dedup: {method: incremental, src: text, id_field: id, store: '$store', update_store: true, compact_files: 2}
       |outputs:
       |  - Parquet: {path: '$out', if: ['!EQ(source,"synthetic")']}
       |""".stripMargin

  /** Day `day`'s `n` documents as JSON lines: rule-passing bodies, with
    * short ones the rules drop, repeats within the day, repeats of the
    * day before, and `synthetic` sources the output guard drops. */
  def docs(day: Int, n: Int): Seq[String] = {
    val rng = new scala.util.Random(day)
    def body(r: scala.util.Random) = (0 until 8).map(_ =>
      "the " + Seq.fill(6)(Words(r.nextInt(Words.length))).mkString(" ") +
        " and more.").mkString(" ")
    val earlier = if (day == 0) IndexedSeq.empty[String]
      else { val r = new scala.util.Random(day - 1); IndexedSeq.fill(n)(body(r)) }
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val k = rng.nextInt(100)
      val text =
        if (k < 8) Words(rng.nextInt(Words.length)) + " too short"
        else if (k < 16 && texts.nonEmpty) texts(rng.nextInt(texts.size))
        else if (k < 22 && earlier.nonEmpty) earlier(rng.nextInt(earlier.size))
        else body(rng)
      texts += text
      val source = if (rng.nextInt(100) < 3) "synthetic" else s"crawl-$day"
      s"""{"id":${day * 100000L + i},"source":"$source","text":"$text"}"""
    }
  }

  /** Write day `day` under `root` and return its input path. */
  def write(root: String, day: Int, n: Int = 300): String = {
    val dir = java.nio.file.Paths.get(root, s"in-$day")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("part-0.json"),
      docs(day, n).mkString("\n").getBytes("UTF-8"))
    dir.toString
  }
}

/** An incremental exact Dedup stage computes its fingerprints once: the
  * probe returns the fingerprints the store lacks, and the post-commit
  * append lands them. Every probe path must keep the same ids and leave
  * the same store fingerprints as a plain recomputation. */
class IncrementalProbeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Day `d`: six fresh texts, a within-day repeat, a repeat of each
    * earlier day's first text, and a null text. */
  private def day(d: Int): Seq[(Long, Option[String])] = {
    val fresh = (0 until 6).map(i => (d * 100L + i, Some(s"day $d doc $i")))
    fresh ++ Seq((d * 100L + 50, Some(s"day $d doc 0")), (d * 100L + 60, None)) ++
      (0 until d).map(e => (d * 100L + 70 + e, Some(s"day $e doc 0")))
  }

  /** Ids the stage keeps given the texts seen before: null texts, and
    * the lowest id of each unseen text. */
  private def keptIds(docs: Seq[(Long, Option[String])], seen: Set[String]): Seq[Long] =
    (docs.collect { case (id, None) => id } ++
      docs.collect { case (id, Some(t)) if !seen(t) => t -> id }
        .groupBy(_._1).values.map(_.map(_._2).min)).sorted

  private def stage(store: String) =
    s"Dedup: {method: incremental, src: text, id_field: id, store: '$store', update_store: true}"

  /** Run `docs` through the stage into `out`; return the kept ids and the
    * frame the output wrote. */
  private def run(docs: Seq[(Long, Option[String])], store: String,
      out: String): (Seq[Long], DataFrame) = {
    val in = tmp("probe-in") + "/in"
    docs.toDF("id", "text").write.parquet(in)
    val written = Planner.fromYaml(
      s"""inputs:
         |  - Parquet: {path: '$in'}
         |filters:
         |  - ${stage(store)}
         |outputs:
         |  - Parquet: {path: '$out'}
         |""".stripMargin).runBatch(spark)("Parquet")
    (spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq, written)
  }

  /** Which probe path built `out`: the Bloom path anti-joins a matched
    * cut, the fallbacks anti-join the store scan, and an absent store or
    * a candidate-free Bloom probe passes the rows through. */
  private def probePath(out: DataFrame, store: String): String = {
    val plan = out.queryExecution.optimizedPlan
    val storeDir = new java.io.File(store).getAbsolutePath
    if (plan.exists(_.isInstanceOf[LogicalRDD])) "bloom"
    else if (plan.exists {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toUri.getPath == storeDir)
        case _ => false
      }
      case _ => false
    }) "anti-join"
    else "pass-through"
  }

  private def storeFps(store: String): Seq[String] =
    spark.read.parquet(store).select("fp").as[String].collect().sorted.toSeq

  private def bloomMarker(store: String): Long = {
    val in = new java.io.DataInputStream(
      new java.io.FileInputStream(s"$store/_bloom/bloom.bin"))
    try in.readLong() finally in.close()
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Days 0 and 1 through the stage, `beforeDay1` between them and
    * `day1Conf` set for day 1 only; checks day 1's path, kept ids and
    * store fingerprints. `extraSeen` holds texts `beforeDay1` stored. */
  private def checkPath(name: String, want: String,
      extraSeen: Set[String] = Set.empty,
      day1Conf: Option[(String, String)] = None)(
      beforeDay1: String => Unit = _ => ()): Unit = {
    val root = tmp(s"probe-$name")
    val store = s"$root/fps"
    val (day0, day1) = (day(0), day(1))
    val (kept0, out0) = run(day0, store, s"$root/out-0")
    assert(probePath(out0, store) == "pass-through", s"$name: day 0 read a store")
    assert(kept0 == keptIds(day0, Set.empty), name)
    beforeDay1(store)
    def runDay1 = run(day1, store, s"$root/out-1")
    val (kept1, out1) = day1Conf.fold(runDay1) { case (k, v) => withConf(k, v)(runDay1) }
    assert(probePath(out1, store) == want, s"$name: day 1 took the wrong path")
    val seen = day0.flatMap(_._2).toSet ++ extraSeen
    assert(kept1 == keptIds(day1, seen), name)
    assert(storeFps(store) == (seen ++ day1.flatMap(_._2)).map(md5).toSeq.sorted,
      s"$name: store fingerprints")
  }

  test("probe paths: the Bloom path keeps the same ids and store fingerprints") {
    checkPath("bloom", "bloom")()
  }

  test("probe paths: an absent store passes every row and stores them all") {
    val root = tmp("probe-absent")
    val store = s"$root/fps"
    val (kept, out) = run(day(1), store, s"$root/out")
    assert(probePath(out, store) == "pass-through")
    assert(kept == keptIds(day(1), Set.empty))
    assert(storeFps(store) == day(1).flatMap(_._2).distinct.map(md5).sorted)
  }

  test("probe paths: no Bloom candidate passes every row and stores them all") {
    val root = tmp("probe-nocand")
    val store = s"$root/fps"
    run(day(0), store, s"$root/out-0")
    val fresh = Seq((900L, Some("never seen a")), (901L, Some("never seen b")))
    val (kept, out) = run(fresh, store, s"$root/out-1")
    assert(probePath(out, store) == "pass-through")
    assert(kept == Seq(900L, 901L))
    assert(storeFps(store) ==
      (day(0).flatMap(_._2) ++ fresh.flatMap(_._2)).distinct.map(md5).sorted)
  }

  test("probe paths: a stale sidecar falls back to the store anti-join") {
    val behind = "day 1 doc 3" // lands behind the sidecar, then day 1 repeats it
    checkPath("stale", "anti-join", Set(behind))(store =>
      Seq(md5(behind)).toDF("fp").write.mode("append").parquet(store))
  }

  test("probe paths: storeBloomMaxItems=0 falls back to the store anti-join") {
    withConf("spark.sql.graft.storeBloomMaxItems", "0") {
      checkPath("nobloom", "anti-join")(store =>
        assert(!new java.io.File(s"$store/_bloom/bloom.bin").exists))
    }
  }

  test("probe paths: candidates over incrementalBroadcastRows fall back to the anti-join") {
    checkPath("overcap", "anti-join",
      day1Conf = Some("spark.sql.graft.incrementalBroadcastRows" -> "0"))()
  }

  test("re-running an increment appends nothing and keeps the Bloom marker valid") {
    val root = tmp("probe-rerun")
    val store = s"$root/fps"
    run(day(0), store, s"$root/out-0")
    run(day(1), store, s"$root/out-1")
    val files = Stores.dataFiles(spark, store).map(_.getName).sorted
    val rows = Stores.rowCount(spark, store)
    assert(bloomMarker(store) == rows)
    val (kept, out) = run(day(1), store, s"$root/out-1b")
    assert(probePath(out, store) == "bloom")
    assert(kept == day(1).collect { case (id, None) => id })
    assert(Stores.dataFiles(spark, store).map(_.getName).sorted == files)
    assert(Stores.rowCount(spark, store) == rows)
    assert(bloomMarker(store) == rows)
  }

  test("a failing sink leaves the store byte-identical") {
    val root = tmp("probe-failsink")
    val store = s"$root/fps"
    run(day(0), store, s"$root/out-0")
    def snapshot: Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(store)
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
    }
    val before = snapshot
    // the output's parent is a plain file, so the sink's write fails
    val blocker = new java.io.File(s"$root/blocker")
    assert(blocker.createNewFile())
    intercept[Exception](run(day(1), store, s"$root/blocker/out"))
    assert(snapshot == before)
    assert(CacheRegistry.size == 0)
  }

  test("after runBatch the registry holds nothing and the cache manager is empty") {
    val root = tmp("probe-drained")
    val store = s"$root/fps"
    run(day(0), store, s"$root/out-0")
    spark.catalog.clearCache()
    val (_, out) = run(day(1), store, s"$root/out-1")
    assert(probePath(out, store) == "bloom")
    assert(CacheRegistry.size == 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
