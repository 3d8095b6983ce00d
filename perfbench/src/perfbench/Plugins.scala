package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Plugins.{InputPlugin, OutputPlugin}

/** Row count and column digest of a frame in one Spark job — the Spark side
  * of [[Gen.digest]]. */
object Digest {
  def of(df: DataFrame, cols: Seq[String]): Gen.Digest = {
    val row = concat_ws("\u0001",
      cols.map(c => coalesce(col(s"`$c`").cast("string"), lit("\u0000"))): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(row.cast("binary"))), lit(0L))).head()
    Gen.Digest(r.getLong(0), r.getLong(1))
  }
}

/** Results the benchmark-owned sinks hand back to the benchmark, keyed by
  * the sink's `key` config. */
object SinkLog {
  val digests = new ConcurrentHashMap[String, Gen.Digest]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]()
  def reset(): Unit = { digests.clear(); batches.clear() }
}

/** `Custom` output for `route_fanout`: counts and digests what it is given. */
final class CountingSink(conf: Map[String, Any]) extends OutputPlugin {
  private val key = conf("key").toString
  private val cols = conf("digest").asInstanceOf[Seq[Any]].map(_.toString)
  def write(df: DataFrame): DataFrame = {
    SinkLog.digests.put(key, Digest.of(df, cols))
    df
  }
}

/** `Custom` streaming input for `weblog_stream`: the plain codec over a
  * directory of log files, plus the name of each event's file so the sink
  * can time every file's arrival. */
final class DirStream(conf: Map[String, Any]) extends InputPlugin {
  def read(spark: SparkSession): DataFrame =
    spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", conf("max_files_per_trigger").toString)
      .text(conf("path").toString)
      .select(col("value").as("message"), current_timestamp().as("@timestamp"),
        col("_metadata.file_name").as("src_file"))
}

/** What one micro-batch delivered: raw events per file and the metric rows
  * (window start ms, verb, count, sum, min, max), stamped when both commit. */
final case class StreamBatch(rawPerFile: Map[String, Long],
    metrics: Seq[(Long, String, Long, Long, Long, Long)], committedNs: Long)

/** `Custom` output for `weblog_stream`: commits a micro-batch with one
  * collect, as a product sink writes it with one job, then splits raw rows
  * (per-file counts) from metric rows on the driver. */
final class StreamSink extends OutputPlugin {
  def write(df: DataFrame): DataFrame = {
    val rows = df.select(col("src_file"), col("count"), unix_millis(col("@timestamp")),
      col("verb"), col("sum").cast("long"), col("min").cast("long"), col("max").cast("long"))
      .collect()
    val (raw, metrics) = rows.partition(_.isNullAt(1))
    SinkLog.batches.add(StreamBatch(
      raw.groupBy(_.getString(0)).map { case (f, rs) => f -> rs.length.toLong },
      metrics.map(r => (r.getLong(2), r.getString(3), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq,
      System.nanoTime()))
    df
  }
}
