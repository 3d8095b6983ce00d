package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM entry for one stress family: [[Bench]] forks one of these
  * per family so every datapoint starts from identical JVM state (fresh
  * heap, cold JIT, no page-cache residue from the warmup queries).
  *
  * Protocol: one `GRAFT_STRESS {"op":…,"samples":[…],"counters":{…}}`
  * line per datapoint (plus `"const"` lines for workload constants) on
  * stdout; everything else (Spark logs) goes to stderr. `counters` are
  * the per-field medians of the op's per-sample [[graft.streaming.Observability.JobCounts]].
  * Exit 0 even when an op errored — its samples carry -1 and the parent
  * surfaces it; a non-zero exit means the worker itself failed. */
object StressWorker {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: StressWorker <family> <runs>")
    val family = args(0)
    val runs = args(1).toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val stressCopies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "100").toInt
    val semCopies = sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP_COPIES", "50").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = StressOps.runFamily(spark, family, sfDir, stressCopies,
      semCopies, runs)
    res.consts.foreach { case (k, v) =>
      println(s"""GRAFT_STRESS {"op":"$k","const":${Bench.jnum(v)}}""")
    }
    res.samples.foreach { case (k, xs) =>
      println(s"""GRAFT_STRESS {"op":"$k","samples":[${
        xs.map(Bench.jnum).mkString(",")}],"counters":${
        Bench.medianCounts(res.counters(k)).json}}""")
    }
    spark.stop()
  }
}
