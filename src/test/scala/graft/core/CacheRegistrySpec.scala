package graft.core

import graft.SparkSpec
import graft.ml.{Dsir, IvfIndex, LangId, LinkGraph, NgramLm, Similarity}
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** `CacheRegistry.cut` is the one eager barrier: every operator that
  * materializes goes through it, so `spark.sql.graft.checkpointDir`
  * turns each of them into a reliable checkpoint that survives executor
  * loss. */
class CacheRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.graft.checkpointDir"

  private def countFiles(f: java.io.File): Int =
    if (f.isFile) 1 else Option(f.listFiles).toSeq.flatten.map(countFiles).sum

  /** Run `body` with the setting on a fresh directory, reached through
    * [[CountingLocalFs]]; return its result, how many files it wrote
    * there and how many it left there. */
  private def underCheckpointDir[T](body: => T): (T, Int, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${CountingLocalFs.Scheme}.impl", classOf[CountingLocalFs].getName)
    spark.conf.set(Key, s"${CountingLocalFs.Scheme}://$dir")
    val before = CountingLocalFs.created.get
    try {
      val out = body
      (out, CountingLocalFs.created.get - before, countFiles(dir))
    } finally spark.conf.unset(Key)
  }

  /** Same rows with and without the setting, and the set run left
    * reliable checkpoint files; with `released`, it wrote them during the
    * call and left none. */
  private def assertCovered(what: String, released: Boolean = false)(
      run: => Set[Row]): Unit = {
    val unset = run
    val (set, written, left) = underCheckpointDir(run)
    assert(set == unset, s"$what: rows differ under $Key")
    if (released) {
      assert(written > 0, s"$what: wrote no reliable checkpoint files under $Key")
      assert(left == 0, s"$what: left $left checkpoint files under $Key")
    } else assert(left > 0, s"$what: no reliable checkpoint files under $Key")
  }

  // the profiles end in a window, so the pull cuts them, reads the cut
  // once and releases it
  test("LangId.annotate's profile drain honors checkpointDir") {
    val train = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and the cat"),
      ("de", "der schnelle braune fuchs springt über den faulen hund"))
      .toDF("lang", "text")
    val docs = Seq((0L, "the dog and the cat"), (1L, "der hund und die katze"))
      .toDF("id", "text")
    assertCovered("LangId.annotate", released = true) {
      LangId.annotate(docs, "text", LangId.trainProfiles(train, "text", "lang"))
        .collect().toSet
    }
  }

  test("Dsir.ngramCountsWithTarget's shared count pass honors checkpointDir") {
    val pool = (0 until 40).map(i => (i.toLong, s"w${i % 7} w${i % 5} w${i % 3}"))
      .toDF("id", "text")
    assertCovered("Dsir.ngramCountsWithTarget") {
      val (t, r) = Dsir.ngramCountsWithTarget(pool, "text",
        col("id") % 2 === 0, logBuckets = 8)
      t.withColumn("side", lit("t")).unionByName(r.withColumn("side", lit("r")))
        .collect().toSet
    }
  }

  test("LinkGraph.pageRank's edge cut honors checkpointDir") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")).toDF("s", "d")
    assertCovered("LinkGraph.pageRank") {
      LinkGraph.pageRank(edges, "s", "d", iterations = 2).collect().toSet
    }
  }

  test("Similarity.rebuildIvfIndex's corpus cut honors checkpointDir") {
    val vecs = (0 until 60).map(i => (i.toLong,
      Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))).toDF("vec_id", "embedding")
    assertCovered("Similarity.rebuildIvfIndex") {
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cut").toString
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", numCells = 4).save(dir)
      val n = Similarity.rebuildIvfIndex(spark, dir, iters = 2)
      IvfIndex.load(spark, dir).assigned.select("vec_id", "cell_id")
        .collect().toSet + Row(-1L, n)
    }
  }

  test("executor loss on a cut: fails without checkpointDir, same rows with it") {
    // losing an executor loses the blocks it held; unpersisting the cut's
    // RDD drops every block the same way
    def loseBlocks(cut: DataFrame): Unit = cut.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case other => fail(s"a cut scans a LogicalRDD, got ${other.nodeName}")
    }
    val src = spark.range(0, 200, 1, 4).select((col("id") * 3).as("v"))
    val expected = src.as[Long].collect().sorted.toSeq

    val local = CacheRegistry.cut(src)
    loseBlocks(local)
    val err = intercept[Exception](local.as[Long].collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(msgs.contains("Checkpoint block") && msgs.contains("not found"), msgs)

    val (rows, _, newFiles) = underCheckpointDir {
      val reliable = CacheRegistry.cut(src)
      loseBlocks(reliable)
      reliable.as[Long].collect().sorted.toSeq
    }
    assert(rows == expected)
    assert(newFiles > 0)
  }

  test("a cut is not registered for drain") {
    CacheRegistry.drain()
    val c = CacheRegistry.cut(spark.range(10).toDF("id"))
    assert(CacheRegistry.size == 0)
    CacheRegistry.drain()
    assert(c.count() == 10, "a drain between queries must not free a cut")
  }

  test("a changed checkpointDir re-points the next reliable cut") {
    val a = java.nio.file.Files.createTempDirectory("graft-ckpt-a").toFile
    val b = java.nio.file.Files.createTempDirectory("graft-ckpt-b").toFile
    try {
      spark.conf.set(Key, a.toString)
      assert(CacheRegistry.cut(spark.range(20).toDF("id")).count() == 20)
      val underA = countFiles(a)
      assert(underA > 0, s"the first cut wrote nothing under $a")
      spark.conf.set(Key, b.toString)
      assert(CacheRegistry.cut(spark.range(30).toDF("id")).count() == 30)
      assert(countFiles(b) > 0, s"the second cut wrote nothing under $b")
      assert(countFiles(a) == underA, s"the second cut still wrote under $a")
    } finally spark.conf.unset(Key)
  }

  test("a checkpoint dir set on the context directly is kept") {
    val sc = spark.sparkContext
    val user = java.nio.file.Files.createTempDirectory("graft-ckpt-user").toFile
    val conf = java.nio.file.Files.createTempDirectory("graft-ckpt-conf").toFile
    sc.setCheckpointDir(user.toString)
    spark.conf.set(Key, conf.toString)
    try {
      assert(CacheRegistry.cut(spark.range(10).toDF("id")).count() == 10)
      assert(countFiles(user) > 0 && countFiles(conf) == 0)
    } finally {
      spark.conf.unset(Key)
      sc.setCheckpointDir(null) // hand the context back unset
    }
  }

  test("releasing a reliable cut deletes its checkpoint files") {
    val model = NgramLm.train(Seq((0L, "a b c a b c a b d")).toDF("doc_id", "text"),
      "text", order = 3, minCount = 1)
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val (n, _, newFiles) = underCheckpointDir {
      NgramLm.score(docs, model, "text", "doc_id", order = 3).count()
    }
    assert(n == 1)
    assert(newFiles == 0, s"a fast-path score left $newFiles checkpoint files")
  }

  test("pull is one job of one task over a shuffle output, a scan and a cut") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pull").toString
    spark.range(0, 100, 1, 4).write.mode("overwrite").parquet(dir)
    val counter = new graft.streaming.Observability.JobCounter(spark)
    def pulled(df: DataFrame) =
      counter.count("pull")(CacheRegistry.pull(df, 1000)(_.size))
    try {
      // AQE runs the aggregate's map stage (4 tasks) as a job of its own;
      // the pull is the one job of one task that follows it
      val (agg, aggJobs) = pulled(
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count())
      assert(agg.contains(10))
      assert((aggJobs.jobs, aggJobs.tasks) == (2, 4 + 1), aggJobs)
      val scan = spark.read.parquet(dir)
      val (rows, scanJobs) = pulled(scan)
      assert(rows.contains(100))
      assert((scanJobs.jobs, scanJobs.tasks) == (1, 1), scanJobs)
      val cut = CacheRegistry.cut(spark.range(0, 100, 1, 4).toDF("id"))
      val (cutRows, cutJobs) = pulled(cut)
      assert(cutRows.contains(100))
      assert((cutJobs.jobs, cutJobs.tasks) == (1, 1), cutJobs)
    } finally counter.close()
  }

  test("a pull over a file scan makes no cut, whatever the scan's size") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pull-scan").toString
    spark.range(0, 100, 1, 4).write.mode("overwrite").parquet(dir)
    val store = java.nio.file.Files.createTempDirectory("graft-pull-seen") + "/seen"
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(threshold)
    val counter = new graft.streaming.Observability.JobCounter(spark)
    spark.conf.set(threshold, "1") // every scan is larger than this
    try {
      val ((rows, jobs), written, _) = underCheckpointDir {
        val scan = spark.read.parquet(dir).select(xxhash64(col("id")))
        val pulled = counter.count("pull")(CacheRegistry.pull(scan, 1000)(_.size))
        // the Bloom sidecar folds each increment through a pull over the
        // files the append just wrote
        graft.ml.Dedup.appendToSeenStore(
          Seq("a", "b").toDF("text"), "text", store)
        graft.ml.Dedup.appendToSeenStore(
          Seq("b", "c", "d").toDF("text"), "text", store)
        pulled
      }
      assert(rows.contains(100))
      assert((jobs.jobs, jobs.tasks) == (1, 1), jobs)
      assert(written == 0, s"pulls over file scans wrote $written checkpoint files")
    } finally {
      counter.close()
      before.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    }
  }

  test("an over-cap pull returns None after at most cap + 1 rows") {
    val evaluated = spark.sparkContext.longAccumulator("pull-rows")
    val seen = udf { (x: Long) => evaluated.add(1); x }
    val read = new java.util.concurrent.atomic.AtomicInteger()
    val out = CacheRegistry.pull(
      spark.range(0, 1000, 1, 4).select(seen(col("id"))), 10) { it =>
      it.foreach(_ => read.incrementAndGet()); "model"
    }
    assert(out.isEmpty)
    assert(read.get == 10, "read sees at most cap rows")
    assert(evaluated.value <= 11, s"${evaluated.value} rows left the scan")
    assert(CacheRegistry.pull(spark.range(0, 10, 1, 4).toDF("id"), 10)(_.size)
      .contains(10))
  }
}

/** A local file system under a scheme of its own that counts the files it
  * creates, so a checkpoint root on it shows what a call wrote even when
  * the call deleted the files again before it returned. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${CountingLocalFs.Scheme}:///")
  override def getScheme: String = CountingLocalFs.Scheme
  // every create overload of the local file system ends in one of these
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.created.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.created.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object CountingLocalFs {
  val Scheme = "graftcount"
  val created = new java.util.concurrent.atomic.AtomicInteger()
}
