package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.CacheRegistry
import graft.paths.FieldPath

/** LinkMetric / LinkStatsMetric: the reference's only stateful operators —
  * event-time tumbling-window multi-level aggregation
  * (reference: filter/link_metric.go, filter/link_stats_metric.go).
  *
  * `fieldsLink: "a->b->c"` groups by (window, a, b, c) and emits one
  * synthetic event per leaf group carrying the group values, the window
  * timestamp, and `count` (LinkMetric) or `count/sum/min/max/mean`
  * (LinkStatsMetric, where the LAST link field is the aggregated numeric).
  *
  * Spark mapping (SURVEY §2.5):
  *   - tumbling window   → `window(ts, batchWindow)`
  *   - reserveWindow     → `withWatermark` lateness bound (streaming) /
  *                         event-age filter (batch)
  *   - reduce: true      → Catalyst's built-in partial→final aggregation;
  *                         the reference's two-tier topology disappears
  *   - accumulateMode    → streaming output mode: separate ≈ Append
  *                         (emit once, after watermark close), cumulative ≈
  *                         Update (re-emit running totals)
  *   - per-worker partial state → executor-local partial aggregation
  *                         (map-side combine) — automatic, shuffle carries
  *                         only one row per (window × group) per partition
  *
  * Scale note: the shuffle key is (window, link fields). Cardinality is
  * bounded by group count, not row count, so this holds at 100 TB as long
  * as the link fields aren't unique per row — same contract as the
  * reference's in-heap maps, but spillable and distributed.
  */
object LinkMetric {

  final case class Config(
      fieldsLink: String,
      batchWindowSec: Long,
      reserveWindowSec: Long = 0L,
      tsColumn: String = "@timestamp",
      dropOriginalEvent: Boolean = true,
      /** reference `reduce: true` (link_metric.go:190-199): events are
        * themselves partial aggregates carrying a `count` field — sum it
        * instead of counting rows. Within one Spark job this tiering is
        * Catalyst's own partial/final aggregation; the flag exists for the
        * cross-pipeline topology where an upstream job emitted partials. */
      reduce: Boolean = false,
      /** Beyond the reference: exact value percentiles per (window ×
        * group), e.g. Seq(0.5, 0.95, 0.99) → columns p50/p95/p99 — the
        * latency-quantile shape the reference's users compute downstream
        * in ClickHouse. LinkStatsMetric only; incompatible with `reduce`
        * (order statistics don't merge from count/sum/min/max partials).
        * Memory: the aggregation buffers each group's values — bounded by
        * rows per (window × group), the same contract as any exact
        * quantile. A hot group at 100 TB breaks that contract — set
        * [[percentilesApprox]] for the bounded-memory form. */
      percentiles: Seq[Double] = Nil,
      /** Bounded-memory quantiles: the same p50/p95/… columns computed by
        * Spark's GK sketch (`percentile_approx`) instead of the exact
        * buffering aggregate — executor memory is bounded by
        * [[approxAccuracy]] per (window × group) REGARDLESS of group
        * size, the only safe form when one group can hold billions of
        * rows. Rank error ≤ n/accuracy; for groups with
        * n ≤ approxAccuracy the sketch never compresses and returns the
        * EXACT discrete quantile (the order statistic DuckDB's
        * `quantile_disc` picks — gate q_link_stats_pct_approx pins the
        * agreement bit-for-bit). */
      percentilesApprox: Boolean = false,
      approxAccuracy: Int = 10000)

  private[operators] def parts(c: Config, df: DataFrame): (Column, Seq[String], Column) = {
    val fields = c.fieldsLink.split("->").map(_.trim).toSeq
    val ts = FieldPath.resolve(df, c.tsColumn)
      .getOrElse(sys.error(s"LinkMetric: missing timestamp column ${c.tsColumn}"))
    val win = window(ts, s"${c.batchWindowSec} seconds").as("__graft_window")
    (win, fields, ts)
  }

  /** `df` pruned to the top-level columns a batch metric aggregate reads:
    * the timestamp's root column, the link fields and, under `reduce`, the
    * upstream partials. */
  private[operators] def aggInput(c: Config, df: DataFrame): DataFrame = {
    val tsRoot = FieldPath.parse(c.tsColumn).headOption.collect { case FieldPath.Key(k) => k }
    val reads = tsRoot.toSeq ++ c.fieldsLink.split("->").map(_.trim) ++
      (if (c.reduce) Seq("count", "sum", "min", "max") else Nil)
    df.select(df.columns.filter(n => reads.exists(_.equalsIgnoreCase(n)))
      .map(n => col(s"`$n`")).toSeq: _*)
  }

  /** Batch analogue of the watermark lateness bound, WITHOUT a driver-side
    * action: the max event time aggregates to a 1-row frame that re-enters
    * the plan via `crossJoin(broadcast(...))` (the qualityBand pattern,
    * TextAnalysis.scala), so constructing a metric stage launches no job
    * and the bound composes lazily with whatever the caller plans around
    * it. The bound and the aggregation both read `df`, so it is memoed
    * (`CacheRegistry.memo`, lazy): the first consumer at execution time
    * fills the cache and the upstream chain runs once per run instead of
    * once per consumer. Callers pass `df` pruned by [[aggInput]], so the
    * memo holds only the aggregate's columns; Planner.runBatch and each
    * foreachBatch micro-batch drain it after their sinks. */
  private[operators] def boundByReserve(df: DataFrame, ts: Column,
      reserveSec: Long): DataFrame =
    if (reserveSec <= 0) df
    else {
      val boundCol = "__graft_reserve_max_us"
      val in = CacheRegistry.memo(df)
      val bound = broadcast(in.select(max(unix_micros(ts)).as(boundCol)))
      in.crossJoin(bound)
        // a null max (every ts null — a broken upstream Date stage) must
        // KEEP the frame, matching the old eager `if (maxTs == null) df`
        // path: the condition would otherwise be NULL for every row and
        // silently drop the whole input instead of surfacing null-window
        // aggregate rows
        .filter(col(boundCol).isNull ||
          unix_micros(ts) >= col(boundCol) - lit(reserveSec * 1000000L))
        .drop(boundCol)
    }

  /** Batch form. Events older than reserveWindow (relative to the max
    * event time, the batch analogue of the watermark) are dropped like the
    * reference drops them on arrival (link_metric.go:214-216). */
  def batch(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, ts) = parts(c, df)
    val bounded = boundByReserve(aggInput(c, df), ts, c.reserveWindowSec)
    finish(bounded
      .groupBy(win +: fields.map(f => col(s"`$f`")): _*)
      .agg(countAgg(c, bounded)))
  }

  /** Replace the window struct with its start timestamp (the reference
    * stamps emitted events with the floored window time,
    * link_metric.go:219). Done after the aggregation so Spark's event-time
    * watermark stays attached to the grouping expression. */
  private[operators] def finish(df: DataFrame): DataFrame =
    df.withColumn("@timestamp", col("__graft_window.start")).drop("__graft_window")

  /** Streaming form: watermark + windowed count. Caller picks the output
    * mode: Append ≈ accumulateMode=separate, Update ≈ cumulative. */
  def streaming(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, _) = parts(c, df)
    finish(df.withWatermark(s"`${c.tsColumn}`", s"${c.reserveWindowSec} seconds")
      .groupBy(win +: fields.map(f => col(s"`$f`")): _*)
      .agg(countAgg(c, df)))
  }

  /** count(*) normally; with `reduce` sum the upstream partial `count`
    * (rows without one count as 1, matching the reference's merge). */
  private def countAgg(c: Config, df: DataFrame): Column =
    if (c.reduce && df.columns.contains("count"))
      sum(coalesce(col("count").cast("long"), lit(1L))).as("count")
    else count(lit(1)).as("count")
}

object LinkStatsMetric {
  import LinkMetric.Config

  private val Dec = DecimalType(18, 4)

  /** The last link field is the numeric being aggregated
    * (reference: link_stats_metric.go:127-159 emission shape). With
    * `reduce`, rows are upstream PARTIAL stats (count/sum/min/max columns)
    * and are merged instead of re-counted
    * (link_stats_metric.go:198-227 merge semantics). */
  /** "p50", "p95", "p99_9" — decimal point becomes '_' so the label is a
    * plain column name; BigDecimal-from-string keeps 0.95 exact. */
  private[operators] def pctLabel(p: Double): String =
    "p" + (BigDecimal(p.toString) * 100).underlying.stripTrailingZeros
      .toPlainString.replace(".", "_")

  private def aggCols(c: Config, df: DataFrame): Seq[Column] = {
    val valueField = c.fieldsLink.split("->").map(_.trim).last
    val v = col(s"`$valueField`")
    if (c.reduce && Seq("count", "sum", "min", "max").forall(df.columns.contains)) {
      if (c.percentiles.nonEmpty)
        sys.error("LinkStatsMetric: percentiles are incompatible with " +
          "reduce — order statistics cannot be merged from partial " +
          "count/sum/min/max rows")
      val cnt = sum(col("count").cast("long")).as("count")
      Seq(cnt,
        sum(col("sum").cast(Dec)).cast("double").as("sum"),
        min(col("min").cast("double")).as("min"),
        max(col("max").cast("double")).as("max"),
        (sum(col("sum").cast(Dec)).cast("double") /
          sum(col("count").cast("long"))).as("mean"))
    } else Seq(
      count(v).as("count"),
      sum(v.cast(Dec)).cast("double").as("sum"),
      min(v.cast("double")).as("min"),
      max(v.cast("double")).as("max"),
      (sum(v.cast(Dec)).cast("double") / count(v)).as("mean")) ++
      c.percentiles.map(p =>
        if (c.percentilesApprox)
          // GK sketch: executor memory bounded by approxAccuracy per
          // group regardless of group size — the 100 TB-safe form. Same
          // output columns as the exact path, so the option swaps in
          // without downstream schema changes.
          percentile_approx(v.cast("double"), lit(p), lit(c.approxAccuracy))
            .as(pctLabel(p))
        else
          // exact interpolated percentile — bit-identical to DuckDB's
          // quantile_cont (verified on the events table); buffers each
          // group's values (see Config.percentiles memory note)
          percentile(v.cast("double"), lit(p)).as(pctLabel(p)))
  }

  def batch(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, ts) = LinkMetric.parts(c, df)
    val groupFields = fields.init
    val bounded = LinkMetric.boundByReserve(LinkMetric.aggInput(c, df), ts, c.reserveWindowSec)
    val aggs = aggCols(c, bounded)
    LinkMetric.finish(bounded
      .groupBy(win +: groupFields.map(f => col(s"`$f`")): _*)
      .agg(aggs.head, aggs.tail: _*))
  }

  def streaming(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, _) = LinkMetric.parts(c, df)
    val groupFields = fields.init
    LinkMetric.finish(df.withWatermark(s"`${c.tsColumn}`", s"${c.reserveWindowSec} seconds")
      .groupBy(win +: groupFields.map(f => col(s"`$f`")): _*)
      .agg(aggCols(c, df).head, aggCols(c, df).tail: _*))
  }
}

/** LinkUniqMetric: distinct-count per (window × group) — "unique users
  * per hour per event type", the cardinality sibling of LinkStatsMetric
  * (the reference's users compute it downstream with ClickHouse `uniq`).
  * As with LinkStatsMetric, the LAST link field is the one aggregated:
  * `fieldsLink: "event_type->user_id"` counts distinct user_ids.
  *
  * Batch is EXACT (`count_distinct`, Catalyst's expand+two-phase
  * aggregation — the shuffle carries (group, value) partials, not rows).
  * Streaming and `reduce` use `approx_count_distinct` (HLL±5%%):
  * exact distinct state is unbounded per group and exact partials don't
  * merge, so the sketch is the honest contract at scale — same tradeoff
  * ClickHouse's `uniq` makes.
  *
  * `reduce` contract: unlike LinkMetric/LinkStatsMetric, this flag does
  * NOT merge upstream partial rows — a partial distinct COUNT carries no
  * mergeable set. It only switches the aggregate to the HLL sketch over
  * raw rows; input that already carries a `uniq` column under reduce is
  * rejected at plan time. */
object LinkUniqMetric {
  import LinkMetric.Config

  private def uniqField(c: Config): Column = {
    val f = c.fieldsLink.split("->").map(_.trim).last
    col(s"`$f`")
  }

  def batch(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, ts) = LinkMetric.parts(c, df)
    val bounded = LinkMetric.boundByReserve(LinkMetric.aggInput(c, df), ts, c.reserveWindowSec)
    // `reduce` here only swaps the exact count for the mergeable HLL
    // sketch — unlike LinkMetric/LinkStatsMetric it CANNOT merge upstream
    // partials (a partial `uniq` count is not a distinct set). Feeding
    // rows that already carry a `uniq` column under reduce would silently
    // compute distinct-of-partial-counts, so fail fast instead.
    if (c.reduce && df.columns.contains("uniq"))
      sys.error("LinkUniqMetric: input already carries a `uniq` column — " +
        "distinct counts cannot be merged from upstream partial counts " +
        "(use approx partials end-to-end, or aggregate raw rows here)")
    val agg = if (c.reduce) approx_count_distinct(uniqField(c)).as("uniq")
              else count_distinct(uniqField(c)).as("uniq")
    LinkMetric.finish(bounded
      .groupBy(win +: fields.init.map(f => col(s"`$f`")): _*)
      .agg(agg))
  }

  def streaming(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, _) = LinkMetric.parts(c, df)
    LinkMetric.finish(
      df.withWatermark(s"`${c.tsColumn}`", s"${c.reserveWindowSec} seconds")
        .groupBy(win +: fields.init.map(f => col(s"`$f`")): _*)
        .agg(approx_count_distinct(uniqField(c)).as("uniq")))
  }

  // ---- mergeable sketch topology ------------------------------------------
  //
  // The HONEST cross-pipeline distinct merge the plain `reduce` flag
  // cannot be: a partial distinct COUNT carries no mergeable set, but a
  // DataSketches HLL SKETCH does. Upstream jobs emit one sketch per
  // (window × group) via [[batchSketch]]; any number of such partial
  // streams union and [[mergeSketches]] folds them with hll_union_agg —
  // the two-tier topology the reference runs between workers, with
  // set-union semantics instead of double counting. Shuffle carries one
  // ~KB sketch per group per upstream partial, never raw values.

  /** Partial form: (window, groups, uniq_sketch binary). */
  def batchSketch(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, ts) = LinkMetric.parts(c, df)
    val bounded = LinkMetric.boundByReserve(LinkMetric.aggInput(c, df), ts, c.reserveWindowSec)
    LinkMetric.finish(bounded
      .groupBy(win +: fields.init.map(f => col(s"`$f`")): _*)
      .agg(hll_sketch_agg(uniqField(c)).as("uniq_sketch")))
  }

  /** Streaming twin of [[batchSketch]]: watermark + windowed sketch
    * aggregation (HLL sketches merge, so Catalyst's partial/final and
    * the state-store updates are both sound). */
  def streamingSketch(c: Config)(df: DataFrame): DataFrame = {
    val (win, fields, _) = LinkMetric.parts(c, df)
    LinkMetric.finish(
      df.withWatermark(s"`${c.tsColumn}`", s"${c.reserveWindowSec} seconds")
        .groupBy(win +: fields.init.map(f => col(s"`$f`")): _*)
        .agg(hll_sketch_agg(uniqField(c)).as("uniq_sketch")))
  }

  /** Final form over unioned partials: re-groups on (@timestamp,
    * groups) — the window column [[batchSketch]] emitted — and unions
    * the sketches; `uniq` is the estimate. Works identically on a
    * stream of partial rows (the aggregate is mergeable by
    * construction). */
  def mergeSketches(c: Config)(df: DataFrame): DataFrame = {
    require(df.columns.contains("uniq_sketch"),
      "LinkUniqMetric.mergeSketches: input must carry uniq_sketch " +
        "partials (produced by batchSketch)")
    val groups = c.fieldsLink.split("->").map(_.trim).init.toSeq
    df.groupBy((("@timestamp" +: groups)).map(f => col(s"`$f`")): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("uniq_sketch"))).as("uniq"))
  }
}
