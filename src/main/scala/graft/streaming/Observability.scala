package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-operator counters + query progress — the Spark-native analogue of
  * the reference's Prometheus plumbing (topology/prom_counter.go:68-92,
  * wired per input/filter/output box).
  *
  * The reference increments a counter per event per box; here each
  * instrumented stage contributes an `observe` aggregate — collected once
  * per batch/epoch by the engine with no per-row callback cost — and the
  * listener aggregates them across micro-batches. Scale cost: one extra
  * accumulator per stage, nothing on the row path.
  */
object Observability {

  /** Instrument a stage boundary: counts rows flowing past this point
    * (reference: InputBox/FilterBox/OutputBox counters). */
  def observeCount(df: DataFrame, name: String): DataFrame =
    df.observe(s"graft_$name", count(lit(1)).as("events"))

  /** Batch-side counter: run the action under an Observation and read the
    * counts without a second pass over the data. */
  def observedCount(df: DataFrame)(action: DataFrame => Unit): Long = {
    val obs = new org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("events"))
    action(observed)
    obs.get("events").asInstanceOf[Long]
  }

  /** Collects observed metrics + input/processed rates per query. */
  final class Listener extends StreamingQueryListener {
    private val counters = new ConcurrentHashMap[String, Long]()
    // each query's latest rates, keyed by its id: queries sharing one
    // listener report independently
    private val lastProgress =
      new ConcurrentHashMap[java.util.UUID, Map[String, Double]]()
    @volatile private var lastId: Option[java.util.UUID] = None

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      lastProgress.put(p.id, Map(
        "inputRowsPerSecond" -> p.inputRowsPerSecond,
        "processedRowsPerSecond" -> p.processedRowsPerSecond,
        "numInputRows" -> p.numInputRows.toDouble))
      lastId = Some(p.id)
      // only graft's own observations carry the `events` schema — a
      // foreign df.observe from a Custom plugin would throw here and
      // (the listener bus swallowing it) silently drop every counter
      // merged after it in the iteration
      p.observedMetrics.asScala.foreach { case (name, row) =>
        if (name.startsWith("graft_") &&
            row.schema.fieldNames.contains("events")) {
          val n = row.getAs[Long]("events")
          counters.merge(name, n, (a, b) => a + b): Unit
        }
      }
    }

    /** Cumulative per-stage event counts (Prometheus scrape shape). */
    def snapshot: Map[String, Long] = counters.asScala.toMap
    /** The latest rates of query `id` (empty before its first report). */
    def progressOf(id: java.util.UUID): Map[String, Double] =
      Option(lastProgress.get(id)).getOrElse(Map.empty)
    /** The latest rates of whichever query reported last. */
    def progress: Map[String, Double] = lastId.fold(Map.empty[String, Double])(progressOf)
  }

  /** The Spark work one labelled action did: the jobs, stages and tasks
    * it launched, their executor CPU time, shuffle bytes and spilled bytes
    * (in memory, and on disk after serialization). Unlike wall
    * time, a busy machine does not move these, so a regression that
    * moves them is the code's. `jobStages` holds each job's stage names
    * (`<action> at <file>:<line>`, its call site). */
  final case class JobCounts(jobs: Int = 0, stages: Int = 0, tasks: Long = 0L,
      cpuNs: Long = 0L, shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L, memoryBytesSpilled: Long = 0L,
      diskBytesSpilled: Long = 0L,
      jobStages: Vector[Seq[String]] = Vector.empty) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_ms":${cpuNs / 1000000L},"shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,"memory_bytes_spilled":$memoryBytesSpilled,"disk_bytes_spilled":$diskBytesSpilled}"""
  }

  // job-group ids stay unique across every JobCounter in the JVM
  private val counterIds = new AtomicLong()

  /** Per-job-group job counter, the batch twin of [[Listener]]:
    * `count(label)(body)` runs `body` under a job group of its own and
    * returns the [[JobCounts]] of every job that group launched. Job
    * groups are thread-local (AQE's query-stage threads inherit them), so
    * jobs another thread runs meanwhile are not counted. The listener bus
    * is asynchronous but ordered: after `body`, a one-row marker job runs
    * under a second group, and once its start arrives every event of
    * `body`'s jobs has arrived too. */
  final class JobCounter(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    // the groups and markers of the calls in flight (a marker maps to
    // whether its job has started); events of any other group are ignored
    private val counts = scala.collection.mutable.Map.empty[String, JobCounts]
    private val markers = scala.collection.mutable.Map.empty[String, Boolean]
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    sc.addSparkListener(this)

    private def groupOf(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")

    private def update(group: String)(f: JobCounts => JobCounts): Unit =
      synchronized { counts.get(group).foreach(c => counts(group) = f(c)) }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      synchronized { if (markers.contains(g)) markers(g) = true }
      update(g)(c => c.copy(jobs = c.jobs + 1,
        jobStages = c.jobStages :+ e.stageInfos.map(_.name)))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = groupOf(e.properties)
      if (synchronized(counts.contains(g))) {
        stageGroup.put(e.stageInfo.stageId, g)
        update(g)(c => c.copy(stages = c.stages + 1))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageGroup.remove(e.stageInfo.stageId): Unit

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).zip(Option(e.taskMetrics)).foreach {
        case (g, m) => update(g)(c => c.copy(tasks = c.tasks + 1,
          cpuNs = c.cpuNs + m.executorCpuTime,
          shuffleReadBytes = c.shuffleReadBytes +
            m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = c.shuffleWriteBytes +
            m.shuffleWriteMetrics.bytesWritten,
          memoryBytesSpilled = c.memoryBytesSpilled + m.memoryBytesSpilled,
          diskBytesSpilled = c.diskBytesSpilled + m.diskBytesSpilled))
      }

    def count[T](label: String)(body: => T): (T, JobCounts) = {
      val id = counterIds.incrementAndGet()
      val group = s"graft-count-$id-$label"
      val marker = s"graft-marker-$id"
      synchronized { counts(group) = JobCounts(); markers(marker) = false }
      def seen: Boolean = synchronized(markers(marker))
      try {
        sc.setJobGroup(group, label)
        val result = body
        sc.setJobGroup(marker, label)
        spark.range(1).count()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
        if (!seen)
          throw new IllegalStateException(s"marker job never observed ($label)")
        (result, synchronized(counts(group)))
      } finally {
        sc.clearJobGroup()
        synchronized { counts -= group; markers -= marker }
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }
}
