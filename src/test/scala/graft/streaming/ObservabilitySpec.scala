package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("observe counters reach the listener per micro-batch") {
    val listener = new Observability.Listener
    spark.streams.addListener(listener)
    val mem = MemoryStream[Int](spark)
    val df = Observability.observeCount(mem.toDF(), "input")
      .filter(col("value") % 2 === 0)
    val out = Observability.observeCount(df, "after_filter")
    val q = out.writeStream.format("noop").start()
    try {
      mem.addData(1, 2, 3, 4, 5)
      q.processAllAvailable()
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot.getOrElse("graft_input", 0L) < 5L &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(listener.snapshot.getOrElse("graft_input", -1L) == 5L)
      assert(listener.snapshot.getOrElse("graft_after_filter", -1L) == 2L)
      assert(listener.progress.getOrElse("numInputRows", 0.0) > 0)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("progress is kept per query") {
    val listener = new Observability.Listener
    spark.streams.addListener(listener)
    val (a, b) = (MemoryStream[Int](spark), MemoryStream[Int](spark))
    val qa = a.toDF().writeStream.format("noop").start()
    val qb = b.toDF().writeStream.format("noop").start()
    def rows(q: org.apache.spark.sql.streaming.StreamingQuery) =
      listener.progressOf(q.id).getOrElse("numInputRows", -1.0)
    try {
      a.addData(1, 2, 3)
      qa.processAllAvailable()
      b.addData(1, 2, 3, 4, 5)
      qb.processAllAvailable()
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while ((rows(qa), rows(qb)) != ((3.0, 5.0)) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert((rows(qa), rows(qb)) == ((3.0, 5.0)))
      assert(listener.progress.getOrElse("numInputRows", -1.0) == 5.0)
    } finally {
      qa.stop(); qb.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("batch observedCount reads counters without a second pass") {
    val df = spark.range(100).toDF("id")
    val n = Observability.observedCount(df)(d => { d.filter(col("id") < 10).count(): Unit })
    assert(n == 100L) // observation counts rows flowing past the observe point
  }

  test("config watcher fires on file change") {
    val f = java.nio.file.Files.createTempFile("graft_cfg", ".yml")
    java.nio.file.Files.writeString(f, "inputs: []")
    val fired = new java.util.concurrent.CountDownLatch(1)
    val w = new ConfigWatcher(f.toString, 50)(() => fired.countDown()).start()
    try {
      Thread.sleep(120)
      java.nio.file.Files.writeString(f, "inputs: [] # changed")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      assert(fired.await(5, java.util.concurrent.TimeUnit.SECONDS))
    } finally w.stop()
  }

  test("config watcher RETRIES a failed reload on the next poll") {
    // a poll firing mid-editor-write parses a truncated file and fails;
    // consuming the mtime then would silently drop the completed write
    // and run the old config forever (r14 fix)
    val f = java.nio.file.Files.createTempFile("graft_cfg_retry", ".yml")
    java.nio.file.Files.writeString(f, "inputs: []")
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val ok = new java.util.concurrent.CountDownLatch(1)
    val w = new graft.streaming.ConfigWatcher(f.toString, 50)(() => {
      if (calls.incrementAndGet() == 1) sys.error("truncated mid-write")
      else ok.countDown()
    }).start()
    try {
      Thread.sleep(120)
      java.nio.file.Files.writeString(f, "inputs: [] # now complete")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      // first poll fails; the SAME change must be retried and succeed
      assert(ok.await(5, java.util.concurrent.TimeUnit.SECONDS),
        "failed reload was never retried")
      assert(calls.get() >= 2)
    } finally w.stop()
  }

  test("JobCounter counts spilled bytes") {
    // window buffers of one row spill every partition past its first row
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val counter = new Observability.JobCounter(spark)
    try {
      keys.foreach(spark.conf.set(_, "1"))
      val (_, c) = counter.count("spill") {
        spark.range(0, 16, 1, 2).withColumn("k", col("id") % 2)
          .withColumn("s", sum("id").over(
            org.apache.spark.sql.expressions.Window.partitionBy("k")))
          .write.format("noop").mode("overwrite").save()
      }
      assert(c.memoryBytesSpilled > 0 && c.diskBytesSpilled > 0, c)
      assert(c.json.contains("\"disk_bytes_spilled\":" + c.diskBytesSpilled))
    } finally {
      counter.close()
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
