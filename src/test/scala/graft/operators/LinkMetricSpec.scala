package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions.lit

class LinkMetricSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("batch LinkMetric: multi-level windowed counts") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "a", 1L),
      (ts("2024-01-01 00:00:50"), "a", 1L),
      (ts("2024-01-01 00:00:55"), "b", 2L),
      (ts("2024-01-01 00:01:10"), "a", 1L),
    ).toDF("@timestamp", "et", "uid")
    val out = LinkMetric.batch(LinkMetric.Config("et->uid", 60))(df)
    val rows = out.orderBy("@timestamp", "et").collect()
    assert(rows.length == 3)
    assert(rows.map(r => r.getLong(r.fieldIndex("count"))).toSeq == Seq(2L, 1L, 1L))
  }

  test("reserve bound with an all-null ts keeps the frame (no silent drop)") {
    // a broken upstream Date stage nulls every timestamp; the lazy
    // reserve bound aggregates to NULL and must KEEP rows — matching
    // the old eager `if (maxTs == null) df` path — so the breakage
    // surfaces downstream instead of the whole input silently vanishing
    // at the bound filter. (The window aggregation itself then drops
    // null event times, as any event-time aggregation does.)
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("et", "uid")
      .withColumn("@timestamp", lit(null).cast("timestamp"))
    val bounded = LinkMetric.boundByReserve(df,
      org.apache.spark.sql.functions.col("@timestamp"), 600L)
    assert(bounded.count() == 3L, "all-null ts dropped at the reserve bound")
    // mixed null/real ts: a REAL bound exists, and a null ts can't
    // satisfy it — dropped, exactly as the eager path always did
    val mixed = Seq(
      (Some(ts("2024-01-01 00:00:10")), "a"),
      (None, "b")).toDF("@timestamp", "et")
    assert(LinkMetric.boundByReserve(mixed,
      org.apache.spark.sql.functions.col("@timestamp"), 600L).count() == 1L)
  }

  test("batch LinkMetric: reduce mode sums upstream partial counts") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "a", 5L),
      (ts("2024-01-01 00:00:20"), "a", 7L),
      (ts("2024-01-01 00:00:30"), "b", 2L),
    ).toDF("@timestamp", "et", "count")
    val out = LinkMetric.batch(LinkMetric.Config("et", 60, reduce = true))(df)
      .orderBy("et").collect()
    assert(out.map(r => r.getLong(r.fieldIndex("count"))).toSeq == Seq(12L, 2L))
  }

  test("batch LinkStatsMetric: reduce merges upstream partial stats") {
    val partials = Seq(
      (ts("2024-01-01 00:00:10"), "a", 2L, 40.0, 10.0, 30.0),
      (ts("2024-01-01 00:00:20"), "a", 3L, 60.0, 5.0, 50.0),
    ).toDF("@timestamp", "et", "count", "sum", "min", "max")
    val out = LinkStatsMetric.batch(LinkMetric.Config("et->value", 60, reduce = true))(partials)
      .collect().head
    assert(out.getLong(out.fieldIndex("count")) == 5L)
    assert(out.getDouble(out.fieldIndex("sum")) == 100.0)
    assert(out.getDouble(out.fieldIndex("min")) == 5.0)
    assert(out.getDouble(out.fieldIndex("max")) == 50.0)
    assert(out.getDouble(out.fieldIndex("mean")) == 20.0)
  }

  test("cidr ranges load into the geoip dim") {
    val (from, to) = GeoIp.cidrToRange(lit("10.1.0.0/16"))
    val r = spark.range(1).select(from.as("f"), to.as("t")).collect().head
    assert(r.getLong(0) == 167837696L)              // 10.1.0.0
    assert(r.getLong(1) == 167837696L + 65535L)     // 10.1.255.255
  }

  test("batch LinkMetric: reserveWindow drops old events") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "a"),
      (ts("2024-01-01 02:00:10"), "a"),
    ).toDF("@timestamp", "et")
    val out = LinkMetric.batch(LinkMetric.Config("et", 60, reserveWindowSec = 3600))(df)
    assert(out.count() == 1) // the 00:00 event is older than 1h before max ts
  }

  test("batch LinkStatsMetric: count/sum/min/max/mean, last field is numeric") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "a", 10.0),
      (ts("2024-01-01 00:00:50"), "a", 30.0),
      (ts("2024-01-01 00:00:55"), "b", 5.0),
    ).toDF("@timestamp", "et", "v")
    val out = LinkStatsMetric.batch(LinkMetric.Config("et->v", 60))(df)
    val a = out.filter($"et" === "a").collect().head
    assert(a.getLong(a.fieldIndex("count")) == 2)
    assert(a.getDouble(a.fieldIndex("sum")) == 40.0)
    assert(a.getDouble(a.fieldIndex("min")) == 10.0)
    assert(a.getDouble(a.fieldIndex("max")) == 30.0)
    assert(a.getDouble(a.fieldIndex("mean")) == 20.0)
  }

  test("LinkStatsMetric approx percentiles: bounded-memory sketch, exact " +
      "discrete quantile under the accuracy bound") {
    val df = (1 to 101).map(i =>
      (ts("2024-01-01 00:00:10"), "a", i.toDouble)).toDF("@timestamp", "et", "v")
    val exact = LinkStatsMetric.batch(LinkMetric.Config("et->v", 60,
      percentiles = Seq(0.5, 0.95)))(df).collect().head
    val approx = LinkStatsMetric.batch(LinkMetric.Config("et->v", 60,
      percentiles = Seq(0.5, 0.95), percentilesApprox = true,
      approxAccuracy = 10000))(df).collect().head
    // odd count: the median is a data point — both estimators agree;
    // p95 of 1..101 interpolates (96.0 exact) vs the discrete 96.0 too
    assert(approx.getDouble(approx.fieldIndex("p50")) ==
      exact.getDouble(exact.fieldIndex("p50")))
    assert(approx.getDouble(approx.fieldIndex("p50")) == 51.0)
    // same output schema: the option swaps in without downstream changes
    assert(approx.schema.fieldNames.toSeq == exact.schema.fieldNames.toSeq)
    // YAML dispatch carries the knobs
    val piped = graft.pipeline.Planner.fromYaml(
      """inputs:
        |  - Text: {path: unused}
        |filters:
        |  - LinkStatsMetric:
        |      fieldsLink: et->v
        |      batchWindow: 60
        |      percentiles: ["0.5"]
        |      percentiles_approx: true
        |      approx_accuracy: 10000
        |outputs:
        |  - Stdout: {}
        |""".stripMargin).transform(df)
    val row = piped.collect().head
    assert(row.getDouble(row.fieldIndex("p50")) == 51.0)
  }

  test("streaming LinkMetric append mode: window emits once watermark passes (accumulateMode=separate)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF.toDF("@timestamp", "et")
    val agg = LinkMetric.streaming(LinkMetric.Config("et", 60, reserveWindowSec = 30))(df)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lm_append").start()
    try {
      mem.addData((ts("2024-01-01 00:00:10"), "a"), (ts("2024-01-01 00:00:20"), "a"))
      q.processAllAvailable()
      // watermark hasn't passed the window end yet → nothing emitted
      assert(spark.table("lm_append").count() == 0)
      // an event far past the window advances the watermark → window closes
      mem.addData((ts("2024-01-01 00:05:00"), "b"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:10:00"), "b"))
      q.processAllAvailable()
      val rows = spark.table("lm_append").collect()
      assert(rows.exists(r => r.getString(r.fieldIndex("et")) == "a" &&
        r.getLong(r.fieldIndex("count")) == 2L))
    } finally q.stop()
  }

  test("streaming LinkStatsMetric: approx percentiles aggregate on the " +
      "stream (the bounded-memory sketch is a streaming-legal aggregate)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("@timestamp", "et", "v")
    val agg = LinkStatsMetric.streaming(LinkMetric.Config("et->v", 60,
      reserveWindowSec = 30, percentiles = Seq(0.5),
      percentilesApprox = true, approxAccuracy = 10000))(df)
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("lm_pct_stream").start()
    try {
      mem.addData((ts("2024-01-01 00:00:10"), "a", 10.0),
        (ts("2024-01-01 00:00:20"), "a", 30.0),
        (ts("2024-01-01 00:00:30"), "a", 20.0))
      q.processAllAvailable()
      val rows = spark.table("lm_pct_stream").collect()
      val a = rows.find(r => r.getString(r.fieldIndex("et")) == "a").get
      assert(a.getDouble(a.fieldIndex("p50")) == 20.0)
    } finally q.stop()
  }

  test("streaming LinkStatsMetric update mode re-emits running totals (accumulateMode=cumulative)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF.toDF("@timestamp", "et", "v")
    val agg = LinkStatsMetric.streaming(LinkMetric.Config("et->v", 60, reserveWindowSec = 30))(df)
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("lm_update").start()
    try {
      mem.addData((ts("2024-01-01 00:00:10"), "a", 10.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:00:20"), "a", 30.0))
      q.processAllAvailable()
      val updates = spark.table("lm_update")
        .filter($"et" === "a").orderBy("count").collect()
      // update mode emitted the partial (count=1) then the running total (count=2)
      assert(updates.length == 2)
      assert(updates(1).getLong(updates(1).fieldIndex("count")) == 2)
      assert(updates(1).getDouble(updates(1).fieldIndex("mean")) == 20.0)
    } finally q.stop()
  }

  test("LinkStatsMetric percentiles: exact interpolated quantiles per window-group") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "a", 10.0),
      (ts("2024-01-01 00:00:20"), "a", 20.0),
      (ts("2024-01-01 00:00:30"), "a", 30.0),
      (ts("2024-01-01 00:00:40"), "a", 40.0),
    ).toDF("@timestamp", "et", "v")
    val out = LinkStatsMetric.batch(LinkMetric.Config("et->v", 60,
      percentiles = Seq(0.5, 0.95)))(df)
    val r = out.collect().head
    // (n-1)*p interpolation: p50 over 10..40 = 25.0; p95 = 10 + 0.95*30 = 38.5
    assert(r.getDouble(r.fieldIndex("p50")) == 25.0)
    assert(r.getDouble(r.fieldIndex("p95")) == 38.5)
  }

  test("LinkStatsMetric percentiles: label formatting and reduce incompatibility") {
    assert(LinkStatsMetric.pctLabel(0.5) == "p50")
    assert(LinkStatsMetric.pctLabel(0.95) == "p95")
    assert(LinkStatsMetric.pctLabel(0.999) == "p99_9")
    val partials = Seq((ts("2024-01-01 00:00:10"), "a", 2L, 5.0, 1.0, 4.0))
      .toDF("@timestamp", "et", "count", "sum", "min", "max")
    val err = intercept[RuntimeException](
      LinkStatsMetric.batch(LinkMetric.Config("et->sum", 60, reduce = true,
        percentiles = Seq(0.5)))(partials).collect())
    assert(err.getMessage.contains("incompatible"))
  }

  test("LinkUniqMetric: exact distinct per window-group in batch, HLL under reduce") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "a", 7L),
      (ts("2024-01-01 00:00:20"), "a", 7L),   // duplicate user
      (ts("2024-01-01 00:00:30"), "a", 8L),
      (ts("2024-01-01 00:00:40"), "b", 7L),
      (ts("2024-01-01 00:01:10"), "a", 7L),   // next window
    ).toDF("@timestamp", "et", "uid")
    val out = LinkUniqMetric.batch(LinkMetric.Config("et->uid", 60))(df)
      .collect().map(r => (r.getTimestamp(r.fieldIndex("@timestamp")).getTime / 1000,
        r.getString(r.fieldIndex("et"))) -> r.getLong(r.fieldIndex("uniq"))).toMap
    val w0 = ts("2024-01-01 00:00:00").getTime / 1000
    val w1 = ts("2024-01-01 00:01:00").getTime / 1000
    assert(out == Map((w0, "a") -> 2L, (w0, "b") -> 1L, (w1, "a") -> 1L))
    // reduce mode swaps in the mergeable sketch — on 2 values it is exact
    val approx = LinkUniqMetric.batch(LinkMetric.Config("et->uid", 60, reduce = true))(df)
      .filter(org.apache.spark.sql.functions.col("et") === "a").collect()
      .map(r => r.getLong(r.fieldIndex("uniq"))).sorted.toSeq
    assert(approx == Seq(1L, 2L))
  }

  test("constructing a reserveWindow metric stage launches no job") {
    val counter = new graft.streaming.Observability.JobCounter(spark)
    try {
      val df = Seq((ts("2024-01-01 00:00:10"), "a", 1.0)).toDF("@timestamp", "et", "v")
      // all three batch constructors, reserveWindow set: the bound must be
      // a broadcast 1-row frame inside the plan, not an eager max(ts).head.
      // Job groups are thread-local, so concurrent suites' jobs are not
      // counted; the counter's marker job bounds the listener wait.
      val (_, jobs) = counter.count("graft-construct") {
        LinkMetric.batch(LinkMetric.Config("et", 60, reserveWindowSec = 3600))(df)
        LinkStatsMetric.batch(LinkMetric.Config("et->v", 60, reserveWindowSec = 3600))(df)
        LinkUniqMetric.batch(LinkMetric.Config("et->v", 60, reserveWindowSec = 3600))(df)
      }
      assert(jobs.jobs == 0,
        s"stage construction launched jobs: ${jobs.jobStages}")
    } finally counter.close()
  }

  test("LinkUniqMetric sketch partials union-merge to the exact distinct") {
    // two "pipelines" see overlapping user sets in one window: summing
    // partial counts would give 6; the sketch union must give 4
    val cfg = LinkMetric.Config("et->u", 60)
    val half1 = Seq(
      (ts("2024-01-01 00:00:10"), "a", 1L), (ts("2024-01-01 00:00:20"), "a", 2L),
      (ts("2024-01-01 00:00:30"), "a", 3L),
    ).toDF("@timestamp", "et", "u")
    val half2 = Seq(
      (ts("2024-01-01 00:00:40"), "a", 2L), (ts("2024-01-01 00:00:50"), "a", 3L),
      (ts("2024-01-01 00:00:55"), "a", 4L),
    ).toDF("@timestamp", "et", "u")
    val partials = LinkUniqMetric.batchSketch(cfg)(half1)
      .unionByName(LinkUniqMetric.batchSketch(cfg)(half2))
    assert(partials.columns.contains("uniq_sketch"))
    assert(partials.count() == 2) // one sketch row per half for the window
    val merged = LinkUniqMetric.mergeSketches(cfg)(partials).collect()
    assert(merged.length == 1)
    assert(merged(0).getLong(merged(0).fieldIndex("uniq")) == 4L)
  }
}
