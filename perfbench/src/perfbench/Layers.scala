package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conditions.ConditionFilter
import graft.pipeline.{PipelineConfig, Planner}
import graft.pipeline.PipelineConfig.ConfigOps
import graft.render.Render

/** The traced run's per-layer replay: the benchmark calls each module's
  * public entry point itself, inside a span, so every layer's cost and Spark
  * work is attributed to it. */
object Layers {

  /** Module a chain stage reports under. */
  def module(stage: String): String = stage match {
    case "LinkMetric" | "LinkStatsMetric" | "LinkUniqMetric" => "operators"
    case "Normalize" | "QualityRules" | "Dedup" => "ml"
    case _ => "filters"
  }

  /** Metric-name label of each stage: its name, suffixed `_2`, `_3`, … when
    * the chain repeats it. */
  def labels(stages: Seq[(String, Map[String, Any])]): Seq[String] = {
    val seen = mutable.Map[String, Int]()
    stages.map { case (n, _) =>
      val k = seen.getOrElse(n, 0) + 1
      seen(n) = k
      if (k == 1) n else s"${n}_$k"
    }
  }

  private def rowsWithTags(df: DataFrame): Long =
    if (!df.columns.contains("tags")) 0L
    else df.filter(coalesce(size(col("tags")), lit(0)) > 0).count()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Replay `yaml` over the frame `input` builds and record pipeline,
    * sources, conditions, render, filters/operators/ml and sinks layers.
    * Each prefix is timed twice and the faster time kept. */
  def replay(ctx: Ctx, spark: SparkSession, tr: Tracer, yaml: String,
      input: SparkSession => DataFrame): Unit = {
    val L = ctx.layers
    val parses = (1 to 5).map(_ => tr.span("pipeline.parse")(PipelineConfig.parse(yaml)))
    L("pipeline.parse_ms") = (Stats.median(tr.named("pipeline.parse").map(_.ms)), "ms")
    val spec = parses.last
    val stages = spec.filters
    val names = labels(stages)

    // plan: build the input and fold the chain, then force the physical plan
    val prefixes = tr.span("pipeline.plan") {
      val in = input(spark)
      val ps = stages.scanLeft(in) { case (d, (n, c)) => Planner.filterStage(n, c)(d) }
      ps.last.queryExecution.executedPlan
      ps
    }
    val finalDf = prefixes.last
    L("pipeline.plan_ms") = (tr.named("pipeline.plan").last.ms, "ms")
    L("pipeline.plan_nodes") = (finalDf.queryExecution.sparkPlan.collect { case p => p }.size.toDouble, "count")

    // conditions: every `if` of the chain and of the outputs, compiled
    // against the frame it guards
    val conds = stages.zipWithIndex.flatMap { case ((_, c), i) => c.strSeq("if").map(_ -> prefixes(i)) } ++
      spec.outputs.flatMap { case (_, c) => c.strSeq("if").map(_ -> finalDf) }
    conds.foreach { case (dsl, df) => tr.span("conditions.compile")(ConditionFilter.compile(dsl, df)) }
    L("conditions.compile_ms") = (tr.named("conditions.compile").map(_.ms).sum, "ms")
    L("conditions.count") = (conds.size.toDouble, "count")

    // render: the templates of every Add stage
    val templates = stages.zipWithIndex.collect { case (("Add", c), i) =>
      c.strMap("fields").values.map(_ -> prefixes(i)) }.flatten
    templates.foreach { case (t, df) => tr.span("render.compile")(Render.compile(t)(df)) }
    L("render.compile_ms") = (tr.named("render.compile").map(_.ms).sum, "ms")

    // sources and chain: prefix k written to `noop`; a stage's marginal time
    // is T(prefix k) − T(prefix k−1)
    val labelsAll = "scan" +: names
    val times = prefixes.zip(labelsAll).map { case (df, label) =>
      (1 to 2).foreach(_ => tr.span(s"prefix.$label")(noop(df)))
      tr.named(s"prefix.$label").map(_.ms).min
    }
    L("sources.scan_ms") = (times.head, "ms")
    val rows = prefixes.map(_.count())
    stages.indices.foreach { i =>
      val key = s"${module(stages(i)._1)}.${names(i)}"
      L(s"$key.marginal_ms") = (times(i + 1) - times(i), "ms")
      L(s"$key.rows_out") = (rows(i + 1).toDouble, "count")
    }
    L("filters.marginal_ms") = (times.last - times.head, "ms")
    val lastEventStage = stages.lastIndexWhere { case (n, _) => module(n) == "filters" }
    L("filters.failtagged_rows") = (rowsWithTags(prefixes(lastEventStage + 1)).toDouble, "count")

    // sinks: each output's writer on an already materialized frame
    val materialized = finalDf.localCheckpoint(eager = true)
    var evaluated, dropped = 0L
    stages.indices.filter(i => stages(i)._1 == "Drop").foreach { i =>
      evaluated += rows(i); dropped += rows(i) - rows(i + 1)
    }
    var writeMs, rowsWritten, bytesWritten, jobs = 0.0
    spec.outputs.zipWithIndex.foreach { case ((n, c), j) =>
      val guarded = c.strSeq("if").map(ConditionFilter.compile(_, materialized))
        .reduceOption(_ && _).map(materialized.filter).getOrElse(materialized)
      val s = tr.span(s"sinks.$j.$n.write") {
        graft.sinks.Sinks.writeBatch(n, c, guarded)
        tr.drain()
        tr.spans.last
      }
      val k = tr.sparkOf(s)
      val out = if (k.rowsWritten > 0 || n == "Parquet") k.rowsWritten else guarded.count()
      if (c.strSeq("if").nonEmpty) { evaluated += rows.last; dropped += rows.last - out }
      val label = s"sinks.${n.toLowerCase}$j"
      L(s"$label.write_ms") = (s.ms, "ms")
      L(s"$label.rows_written") = (out.toDouble, "count")
      L(s"$label.bytes_written") = (k.bytesWritten.toDouble, "B")
      L(s"$label.jobs_per_write") = (k.jobs.toDouble, "count")
      writeMs += s.ms; rowsWritten += out; bytesWritten += k.bytesWritten; jobs += k.jobs
    }
    materialized.unpersist()
    L("sinks.write_ms") = (writeMs, "ms")
    L("sinks.rows_written") = (rowsWritten, "count")
    L("sinks.bytes_written") = (bytesWritten, "B")
    L("sinks.jobs_per_write") = (jobs / spec.outputs.size, "count")
    L("conditions.drop_ratio") = (if (evaluated == 0) 0.0 else dropped.toDouble / evaluated, "ratio")
    // building a stage may register deferred store updates and memos; the
    // replay commits nothing, so drop them
    graft.core.PostCommit.clear()
    graft.core.CacheRegistry.drain()
  }

  /** `spark.*` and source counters: the median over `spans` of each span's
    * listener totals, divided by the pipeline runs one span holds (a
    * streaming span holds every micro-batch of its query). */
  def sparkPerRun(ctx: Ctx, tr: Tracer, spans: Seq[Span], eventsPerSpan: Double,
      runsPerSpan: Double = 1): Unit = {
    val cs = spans.map(tr.sparkOf)
    def per(f: Counters => Double) = Stats.median(cs.map(f)) / runsPerSpan
    val L = ctx.layers
    L("spark.jobs") = (per(_.jobs.toDouble), "count")
    L("spark.stages") = (per(_.stages.toDouble), "count")
    L("spark.tasks") = (per(_.tasks.toDouble), "count")
    L("spark.failed_tasks") = (cs.map(_.failedTasks).sum.toDouble, "count")
    L("spark.executor_cpu_ms") = (per(_.cpuNs / 1e6), "ms")
    L("spark.executor_run_ms") = (per(_.runMs.toDouble), "ms")
    L("spark.gc_ms") = (per(_.gcMs.toDouble), "ms")
    L("spark.shuffle_write_bytes") = (per(_.shuffleWrite.toDouble), "B")
    L("spark.shuffle_read_bytes") = (per(_.shuffleRead.toDouble), "B")
    L("spark.spill_bytes") = (per(_.spill.toDouble), "B")
    L("spark.peak_execution_memory_mb") = (cs.map(_.peakMem).max / 1048576.0, "MB")
    L("spark.task_skew") = (Stats.median(cs.map(_.taskSkew)), "ratio")
    L("sources.records_read") = (per(_.recordsRead.toDouble), "count")
    L("sources.bytes_read") = (per(_.bytesRead.toDouble), "B")
    L("sources.scan_amplification") = (per(_.recordsRead.toDouble) * runsPerSpan / eventsPerSpan, "ratio")
  }

  /** Tracing overhead: the traced closed loop's events/s, and the untraced
    * events/s divided by it. */
  def overhead(ctx: Ctx, untracedEps: Double, tracedEps: Double): Unit = {
    ctx.layers("trace.events_per_s") = (tracedEps, "1/s")
    ctx.layers("trace.overhead") = (untracedEps / tracedEps, "ratio")
  }
}
