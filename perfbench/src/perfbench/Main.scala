package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result line, the detail file and spans. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples above it: the
    * (n−10)-th smallest sample, but never below the upper median — with
    * fewer than 21 samples no percentile above the median has 10 samples
    * beyond it. Returns the value and its percentile. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = math.max(s.size - 11, s.size / 2)
    (s(i), 100.0 * (i + 1) / s.size)
  }
}

/** One benchmark run: arguments, scratch space, operation tally and the
  * metrics it reports. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path, val results: Path) {
  /** Spark task threads: one core is left to the main thread, the listener bus
    * and, in `weblog_stream`, the generator. */
  val threads: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
  val rng = new scala.util.Random(seed)
  var attempted = 0
  var failed = 0
  /** End-to-end metrics, reported with `--trace 0`. */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  /** Every per-layer metric this workload has; the result line carries the
    * ones every workload shares, the detail file all of them. */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, Any]()

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  def path(name: String): String = work.resolve(name).toString

  /** One output check: counts as an attempted operation, and as a failed
    * one when `ok` is false or throws. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch {
      case e: Exception => System.err.println(s"[perfbench] check '$what' threw: $e"); false
    }
    if (!r) { failed += 1; System.err.println(s"[perfbench] check FAILED: $what") }
    r
  }

  /** A pipeline run or micro-batch that completed. */
  def ran(n: Int = 1): Unit = attempted += n

  def session(threads: Int): SparkSession = {
    SparkSession.builder().master(s"local[$threads]").appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.sql.streaming.checkpointLocation", path("checkpoints"))
      .config("spark.sql.shuffle.partitions", (2 * threads).toString)
      .getOrCreate()
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --results <dir>`: runs one workload and prints the result
  * line last on stdout. */
object Main {
  /** The per-layer metrics every workload reports and an optimisation can
    * move, in result-line order; the detail file has every layer metric. */
  val SharedLayers = Seq(
    "pipeline.parse_ms", "pipeline.plan_ms", "pipeline.plan_nodes",
    "sources.records_read", "sources.bytes_read", "sources.scan_ms",
    "sources.scan_amplification", "conditions.compile_ms", "filters.marginal_ms",
    "sinks.write_ms", "sinks.bytes_written", "sinks.jobs_per_write",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_cpu_ms", "spark.executor_run_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.peak_execution_memory_mb", "spark.task_skew",
    "trace.events_per_s", "trace.overhead")

  private def metrics(ms: Seq[(String, (Double, String))]) =
    mutable.LinkedHashMap(ms.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val ctx = new Ctx(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", Paths.get(arg("work")).toAbsolutePath,
      Paths.get(arg("results")).toAbsolutePath)
    val workload = Workloads.all.getOrElse(ctx.workload,
      sys.error(s"unknown workload '${ctx.workload}' (have ${Workloads.all.keys.mkString(", ")})"))
    workload(ctx)
    SparkSession.getActiveSession.foreach(_.stop())

    val tag = s"${ctx.workload}-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}"
    Files.createDirectories(ctx.results)
    Gen.writeLines(ctx.results.resolve(s"$tag.json"), Iterator(Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "error_rate" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
      "end_to_end" -> metrics(ctx.e2e.toSeq),
      "per_layer" -> metrics(ctx.layers.toSeq),
      "notes" -> ctx.notes)))

    val shown =
      if (!ctx.trace) ctx.e2e
      else {
        ctx.layers.foreach { case (k, (v, u)) => println(s"layer $k $v $u") }
        SharedLayers.map(k => k -> ctx.layers.getOrElse(k, sys.error(s"layer metric $k not measured")))
      }
    println(Json.obj(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics(shown.toSeq)))
  }
}
