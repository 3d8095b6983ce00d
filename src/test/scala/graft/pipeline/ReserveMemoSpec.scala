package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, WeblogChain}
import graft.core.CacheRegistry

/** Streaming source for [[ReserveMemoSpec]]: the frame the spec sets. */
object ReserveMemoInput extends Plugins.InputPlugin {
  @volatile var frame: DataFrame = _
  def read(spark: SparkSession): DataFrame = frame
}

/** Sink for [[ReserveMemoSpec]]: records, per write, how many memos the
  * writing thread holds and whether the cache manager holds any entry. */
object ReserveMemoProbe extends Plugins.OutputPlugin {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean, Long)]()
  def write(df: DataFrame): DataFrame = {
    val cached = !df.sparkSession.sharedState.cacheManager.isEmpty
    seen.add((CacheRegistry.size, cached, df.count()))
    df
  }
}

/** The reserve bound memos the metric stage's input for one run: it is
  * pinned while the run's sinks write and gone once they finish, in batch
  * and in every micro-batch of a stream. */
class ReserveMemoSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): Unit = {
    CacheRegistry.drain()
    spark.catalog.clearCache()
    ReserveMemoProbe.seen.clear()
  }

  private val sink = "outputs:\n  - Custom: {class: graft.pipeline.ReserveMemoProbe}\n"

  test("a reserveWindow runBatch drains its memo: registry and cache manager end empty") {
    fresh()
    val tmp = java.nio.file.Files.createTempDirectory("reserve-memo")
    val in = WeblogChain.writeInput(tmp)
    Planner.fromYaml(s"inputs:\n  - Text: {path: '$in'}\n" + WeblogChain.filters + sink)
      .runBatch(spark)
    val seen = ReserveMemoProbe.seen.asScala.toSeq
    // while the sink ran, the stage's one memo was pinned
    assert(seen.map(t => (t._1, t._2)) == Seq((1, true)), seen)
    assert(seen.head._3 > 0)
    assert(CacheRegistry.size == 0)
    assert(spark.sharedState.cacheManager.isEmpty, "runBatch left its memo cached")
  }

  test("runStreaming drains the per-batch metric stage's memo after every micro-batch") {
    fresh()
    val mem = MemoryStream[String](spark)
    ReserveMemoInput.frame = mem.toDF()
      .select(col("value").as("message"), current_timestamp().as("@timestamp"))
    // drop_original_event: false puts the metric stage in the per-batch
    // tail, where its reserve bound memos each micro-batch's input
    val yaml = "inputs:\n  - Custom: {class: graft.pipeline.ReserveMemoInput, streaming: true}\n" +
      WeblogChain.filters + "      drop_original_event: false\n" + sink
    val q = Planner.runStreaming(spark, Planner.fromYaml(yaml),
      Some(java.nio.file.Files.createTempDirectory("reserve-memo-ckpt").toString))
    try {
      WeblogChain.lines.grouped(2).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val seen = ReserveMemoProbe.seen.asScala.toSeq
    assert(seen.size == 3, seen)
    // one memo per micro-batch on the micro-batch thread: the previous
    // batch's was drained before the next one registered its own
    assert(seen.forall(t => t._1 == 1 && t._2), seen)
    assert(spark.sharedState.cacheManager.isEmpty, "a micro-batch left its memo cached")
  }
}
