package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `parent` is -1 for a root; every span of one run shares
  * the tracer's run id. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: every job launched while the span was
  * the innermost open one on the launching thread. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var peakMem, recordsRead, bytesRead = 0L
  var rowsWritten, bytesWritten = 0L
  /** Task durations of each completed stage, with the stage's wall time. */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val stageWallMs = mutable.Map[Int, Long]()

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    rowsWritten += o.rowsWritten; bytesWritten += o.bytesWritten
    stageTasks ++= o.stageTasks; stageWallMs ++= o.stageWallMs
  }

  /** Longest task ÷ median task in the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWallMs.isEmpty) 1.0
    else {
      val times = stageTasks.getOrElse(stageWallMs.maxBy(_._2)._1, mutable.ArrayBuffer(1L)).sorted
      times.last.toDouble / math.max(1L, times(times.size / 2))
    }
}

/** Span recorder plus the `SparkListener` and `QueryExecutionListener` that
  * attribute Spark work to spans. The listeners are registered only between
  * [[attach]] and [[detach]], so untraced runs in between carry no tracing
  * cost. */
final class Tracer(val runId: String) {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  @volatile private var current = -1
  private val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private var session: Option[SparkSession] = None

  private def at(spanId: Int): Counters = synchronized(counters.getOrElseUpdate(spanId, new Counters))

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      Tracer.this.synchronized(e.stageIds.foreach(stageSpan(_) = s))
      at(s).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val c = at(Tracer.this.synchronized(stageSpan.getOrElse(info.stageId, -1)))
      c.synchronized {
        c.stages += 1
        for (s <- info.submissionTime; f <- info.completionTime) c.stageWallMs(info.stageId) = f - s
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = at(Tracer.this.synchronized(stageSpan.getOrElse(e.stageId, -1)))
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime; c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
          c.recordsRead += m.inputMetrics.recordsRead; c.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
      case w: DataWritingCommandExec => Seq(w)
      case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
      case other => other.children.flatMap(writes)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // delivered on the listener thread: attributed to the span open on
      // the traced thread, which drains the bus before closing a span
      // whose queries it needs
      val c = at(current)
      c.synchronized {
        writes(qe.executedPlan).foreach { w =>
          val m = w.cmd.metrics
          c.rowsWritten += m.get("numOutputRows").map(_.value).getOrElse(0L)
          c.bytesWritten += m.get("numOutputBytes").map(_.value).getOrElse(0L)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the listeners on `spark`. */
  def attach(spark: SparkSession): Unit = {
    session = Some(spark)
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
  }

  def detach(): Unit = session.foreach { s =>
    drain()
    s.sparkContext.removeSparkListener(Jobs)
    s.listenerManager.unregister(Queries)
    session = None
  }

  def drain(): Unit = session.foreach(s => org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext))

  /** Time `body` as a child of the innermost open span; jobs it launches on
    * this thread are attributed to it. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    open = s.id :: open
    current = s.id
    session.foreach(_.sparkContext.setLocalProperty(Prop, s.id.toString))
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      current = open.headOption.getOrElse(-1)
      session.foreach(_.sparkContext.setLocalProperty(Prop, open.headOption.map(_.toString).orNull))
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wall time not covered by child spans. */
  def selfMs(s: Span): Double = s.ms - children(s.id).map(_.ms).sum

  /** Spark counters of a span and everything below it. */
  def sparkOf(s: Span): Counters = {
    drain()
    val out = new Counters
    def walk(id: Int): Unit = {
      synchronized(counters.get(id)).foreach(c => c.synchronized(out += c))
      children(id).foreach(ch => walk(ch.id))
    }
    walk(s.id)
    out
  }

  /** Write every span, with its self time, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      Json.obj("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ms" -> s.ms, "self_ms" -> selfMs(s))
    }
    Gen.writeLines(path, lines)
  }
}
