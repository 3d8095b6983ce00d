package graft.core

import graft.SparkSpec
import graft.ml.Dedup
import graft.operators.AsOfJoin
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** The store-commit primitives' plan shape: a compaction counts its rows
  * in the stage that writes them. */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  /** Executed plans of the queries `body` runs. Listener events arrive on
    * the bus in order, so once a sentinel query shows up every query
    * before it has been seen. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    @volatile var sentinelSeen = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__sentinel")) sentinelSeen = true
        else plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("__sentinel").head()
      val deadline = System.nanoTime() + 30000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "query listener never saw the sentinel")
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** For each CollectMetrics node: whether an Exchange sits above it. */
  private def metricsUnderExchange(plan: SparkPlan): Seq[Boolean] = {
    def walk(p: SparkPlan, under: Boolean): Seq[Boolean] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, under)
      case s: QueryStageExec => walk(s.plan, under)
      case m: CollectMetricsExec => under +: walk(m.child, under)
      case e: Exchange => e.children.flatMap(walk(_, under = true))
      case other => other.children.flatMap(walk(_, under))
    }
    walk(plan, under = false)
  }

  private def assertCountedAboveExchange(what: String)(compaction: => Long): Unit = {
    val counted = executedPlans(compaction: Unit).flatMap(metricsUnderExchange)
    assert(counted.nonEmpty, s"$what: no CollectMetrics node in any executed plan")
    assert(!counted.contains(true),
      s"$what: the row count sits below an Exchange, in a shuffle map stage")
  }

  test("compaction counts its rows above the repartition exchange") {
    val root = java.nio.file.Files.createTempDirectory("graft_stores_plan").toString
    val seen = s"$root/seen"
    Seq("a", "b", "c").foreach(t =>
      Dedup.appendToSeenStore(Seq(t, "shared").toDF("text"), "text", seen))
    assertCountedAboveExchange("Dedup.compactSeenStore") {
      Dedup.compactSeenStore(spark, seen, targetFiles = 2)
    }
    val temporal = s"$root/temporal"
    Seq(1L, 2L).foreach(t =>
      AsOfJoin.appendToTemporalStore(Seq(("k", t, "v")).toDF("key", "t", "v"),
        Seq("key"), "t", Seq("v"), temporal))
    assertCountedAboveExchange("AsOfJoin.compactTemporalStore") {
      AsOfJoin.compactTemporalStore(spark, temporal, Seq("key"), "t", targetFiles = 2)
    }
  }

  test("rowCount reads the footers: a Spark count's value, 0 when absent") {
    val root = java.nio.file.Files.createTempDirectory("graft-rowcount").toString
    val store = s"$root/store"
    assert(Stores.rowCount(spark, store) == 0)
    spark.range(0, 1000, 1, 4).toDF("id").write.parquet(store)
    Stores.appendCounted(spark.range(0, 37, 1, 3).toDF("id"), store)
    // an empty file and a sidecar under `_` hold no store rows
    spark.range(0).toDF("id").write.mode("append").parquet(store)
    spark.range(5).toDF("id").write.parquet(s"$store/_bloom/data")
    assert(Stores.dataFiles(spark, store).size >= 7)
    assert(Stores.rowCount(spark, store) == spark.read.parquet(store).count())
    assert(Stores.rowCount(spark, store) == 1037)
  }
}
