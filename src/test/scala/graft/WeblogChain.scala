package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.pipeline.Planner

/** The README's weblog chain over a small Text input, for plan-shape specs:
  * `Grok` with `failTag` → fallback `Grok` → `Add` → `Date` → `Convert` →
  * `Drop` → `Add` → `LinkStatsMetric` with `reserveWindow`.
  *
  * `main` dumps the executed chain's `explain("formatted")`:
  * `sbt "Test/runMain graft.WeblogChain <out.txt>"`. */
object WeblogChain {
  val filters: String =
    """filters:
      |  - Grok:
      |      src: message
      |      match: ['^%{INT:ts} %{WORD:verb} %{NOTSPACE:path} %{INT:status} %{INT:latency}$']
      |      failTag: grokfail
      |  - Grok: {src: message, match: ['^%{INT:ts} '], if: ['IN(tags,"grokfail")']}
      |  - Add: {fields: {verb: unparsed, latency: '0'}, if: ['IN(tags,"grokfail")']}
      |  - Date: {src: ts, formats: ['UNIX_MS'], target: '@timestamp'}
      |  - Convert: {fields: {status: {to: int}, latency: {to: int}}}
      |  - Drop: {if: ['EQ(status,404)']}
      |  - Add: {fields: {endpoint: '{{.verb}} {{.path}}'}}
      |  - LinkStatsMetric:
      |      fieldsLink: 'verb->latency'
      |      batchWindow: 60
      |      reserveWindow: 300
      |""".stripMargin

  /** Log lines `ts verb path status latency`; the last one is truncated,
    * so it takes the fallback Grok. */
  val lines: Seq[String] = Seq(
    "1704067200000 GET /a/1 200 12",
    "1704067230000 POST /a/2 404 40",
    "1704067290000 GET /b/1 200 7",
    "1704067500000 PUT /b/2 500 90",
    "1704067560000 GET /c")

  /** Write [[lines]] as a text file under a fresh directory; returns it. */
  def writeInput(parent: Path): String = {
    val dir = Files.createTempDirectory(parent, "weblog-in")
    Files.write(dir.resolve("part-0.log"), lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  def yaml(in: String, out: String): String =
    s"inputs:\n  - Text: {path: '$in'}\n" + filters + s"outputs:\n  - Parquet: {path: '$out'}\n"

  /** The chain's output frame over the Text input at `in`. */
  def frame(spark: SparkSession, in: String): DataFrame =
    Planner.fromYaml(yaml(in, "unused"))
      .transform(Planner.input(spark, "Text", Map("path" -> in)))

  /** Every physical operator of an executed plan, once each. AQE query
    * stages, reused exchanges, subqueries and the plan a cached relation
    * fills are walked; a cached plan that several scans read is walked
    * once, because it runs once. */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val cached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case m: InMemoryTableScanExec =>
        m +: (if (cached.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else Nil)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(plan)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = Files.createTempDirectory("weblog-plan")
    try {
      val df = frame(spark, writeInput(tmp))
      df.collect()
      Files.write(java.nio.file.Paths.get(args(0)),
        df.queryExecution.explainString(FormattedMode).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
