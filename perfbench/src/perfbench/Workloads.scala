package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.pipeline.Planner

object Workloads {
  val all: Map[String, Ctx => Unit] = Map(
    "weblog_agg" -> WeblogAgg.run,
    "route_fanout" -> RouteFanout.run,
    "weblog_stream" -> WeblogStream.run,
    "curate_incremental" -> CurateIncremental.run)

  /** Set up once, as a user does: create the session, parse the YAML and
    * finish the untimed warm-up run. `setup_s` is this cold set-up; a second
    * one in the same JVM would find the classes loaded and the code
    * compiled. The warm-up's output is checked after the clock stops. */
  def setUp(ctx: Ctx, threads: Int, yaml: String)(
      warmUp: (SparkSession, Planner.Pipeline) => Unit): (SparkSession, Planner.Pipeline) = {
    val t0 = System.nanoTime()
    val spark = ctx.session(threads)
    val pipe = Planner.fromYaml(yaml)
    warmUp(spark, pipe)
    ctx.e2e("setup_s") = ((System.nanoTime() - t0) / 1e9, "s")
    (spark, pipe)
  }

  /** Seconds of untimed runs between set-up and the measured loop. One
    * warm-up run leaves the JIT cold: on 4 vCPUs the next three runs of
    * `weblog_agg` took 15–55 % longer than later ones. */
  val SettleSeconds = 8.0

  /** Whether run `i` of a traced loop is traced. Runs go untraced, traced,
    * traced, untraced and repeat, so warm-up drift and machine load fall on
    * both sides alike. */
  def tracedAt(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** Back-to-back runs for at least `seconds` and `minRuns` runs; only
    * `run` is timed, `after` (the output check) is not. Returns the
    * seconds of every run. */
  def closedLoop(seconds: Double, minRuns: Int = 4)(run: Int => Unit)(after: Int => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    while (out.size < minRuns || (System.nanoTime() - start) / 1e9 < seconds) {
      val t0 = System.nanoTime()
      run(out.size)
      out += (System.nanoTime() - t0) / 1e9
      after(out.size - 1)
    }
    out.toSeq
  }

  /** End-to-end metrics of a closed loop whose runs each took `events`
    * input events. Every event of a run is due at the run call, so its
    * latency is the run's wall time. */
  def reportClosedLoop(ctx: Ctx, runs: Seq[Double], events: Long): Unit = {
    ctx.e2e("events_per_s") = (Stats.median(runs.map(events / _)), "1/s")
    reportRuns(ctx, runs)
    ctx.e2e("latency_ms_p50") = (Stats.median(runs) * 1000, "ms")
    ctx.e2e("latency_ms_tail") = (Stats.tail(runs)._1 * 1000, "ms")
  }

  def reportRuns(ctx: Ctx, runs: Seq[Double]): Unit = {
    val (tail, pct) = Stats.tail(runs)
    ctx.e2e("run_s_p50") = (Stats.median(runs), "s")
    ctx.e2e("run_s_tail") = (tail, "s")
    ctx.notes("run_s_tail_percentile") = pct
    ctx.notes("run_s") = runs
  }

  /** Run `body` as one pipeline run: an attempted operation that fails when
    * it throws. */
  def attempt(ctx: Ctx, what: String)(body: => Unit): Unit = {
    ctx.ran()
    try body catch {
      case e: Exception =>
        ctx.failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
    }
  }

  def writeParts(dir: Path, parts: Int, lines: Seq[String]): Long = {
    val per = (lines.size + parts - 1) / parts
    lines.grouped(per).zipWithIndex.map { case (ls, i) =>
      Gen.writeLines(dir.resolve(f"part-$i%03d.txt"), ls.iterator)
    }.sum
  }

  /** The closed loop shared by the batch workloads: set up, check that the
    * output check rejects a wrong output (`rejectsWrong`, on the warm-up's
    * output), then an untraced loop (`--trace 0`), or a loop that
    * interleaves untraced and traced runs followed by the per-layer replay
    * (`--trace 1`). Returns the untraced events/s. */
  def batchLoop(ctx: Ctx, yaml: String, events: Long, check: SparkSession => Unit,
      rejectsWrong: SparkSession => Unit,
      input: SparkSession => DataFrame): (SparkSession, Planner.Pipeline, Double) = {
    val (spark, pipe) = setUp(ctx, ctx.threads, yaml) { (s, p) =>
      attempt(ctx, "warm-up run")(p.runBatch(s))
    }
    rejectsWrong(spark)
    check(spark)
    closedLoop(SettleSeconds, minRuns = 1) { i =>
      attempt(ctx, s"settle run $i")(pipe.runBatch(spark))
    } { _ => check(spark) }
    def eps(runs: Seq[Double]) = Stats.median(runs.map(events / _))
    if (!ctx.trace) {
      val runs = closedLoop(ctx.seconds) { i =>
        attempt(ctx, s"run $i")(pipe.runBatch(spark))
      } { _ => check(spark) }
      reportClosedLoop(ctx, runs, events)
      (spark, pipe, eps(runs))
    } else {
      val tr = new Tracer(s"${ctx.workload}-${ctx.seed}")
      val runs = closedLoop(ctx.seconds) { i =>
        attempt(ctx, s"run $i") {
          if (tracedAt(i)) { tr.attach(spark); tr.span("run")(pipe.runBatch(spark)) }
          else pipe.runBatch(spark)
        }
      } { i => if (tracedAt(i)) tr.detach(); check(spark) }
      val (traced, untraced) = runs.indices.partition(tracedAt)
      Layers.sparkPerRun(ctx, tr, tr.named("run"), events.toDouble)
      Layers.overhead(ctx, eps(untraced.map(runs)), eps(traced.map(runs)))
      tr.attach(spark)
      Layers.replay(ctx, spark, tr, yaml, input)
      tr.detach()
      tr.write(ctx.results.resolve(s"${ctx.workload}-seed${ctx.seed}-spans.jsonl"))
      (spark, pipe, eps(untraced.map(runs)))
    }
  }
}

import Workloads._

/** The README's weblog chain, batch, into one Parquet output. */
object WeblogAgg {
  val Lines = 10000
  val Parts = 8

  def chain(reEntry: Boolean): String =
    s"""filters:
       |  - Grok:
       |      src: message
       |      match: ['^%{INT:ts} %{WORD:verb} %{NOTSPACE:path} %{INT:status} %{INT:latency}$$']
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
       |      drop_original_event: ${!reEntry}
       |""".stripMargin

  def readMetrics(df: DataFrame): Map[(Long, String), Weblog.Stat] =
    df.select(unix_millis(col("@timestamp")), col("verb"), col("count"),
      col("sum").cast("long"), col("min").cast("long"), col("max").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        Weblog.Stat(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap

  /** The comparison every weblog check makes; a mismatch is printed when
    * `loud`. */
  def agrees(what: String, got: Map[(Long, String), Weblog.Stat],
      want: Map[(Long, String), Weblog.Stat], loud: Boolean): Boolean = {
    if (loud && got != want) {
      val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
      System.err.println(s"[perfbench] $what: ${diff.map(k => s"$k got ${got.get(k)} want ${want.get(k)}")}")
    }
    got == want
  }

  def same(ctx: Ctx, what: String, got: Map[(Long, String), Weblog.Stat],
      want: Map[(Long, String), Weblog.Stat]): Boolean =
    ctx.check(what)(agrees(what, got, want, loud = true))

  /** Self-check on a real output `got`: the comparison must reject it with
    * one row removed and with one count bumped. */
  def rejectsWrong(ctx: Ctx, what: String, got: => Map[(Long, String), Weblog.Stat],
      want: Map[(Long, String), Weblog.Stat]): Unit =
    ctx.check(s"seeded wrong $what is rejected") {
      val real = got
      val (k, s) = real.head
      Seq(real - k, real.updated(k, s.copy(count = s.count + 1)))
        .forall(!agrees(what, _, want, loud = false))
    }

  def run(ctx: Ctx): Unit = {
    val in = ctx.dir("weblog/in")
    val evs = Weblog.events(ctx.rng, Lines, Weblog.BaseMs, 600000L)
    writeParts(in, Parts, evs.map(_.line).toSeq)
    val want = Weblog.metrics(evs)
    val out = ctx.path("weblog/out")
    val yaml = s"inputs:\n  - Text: {path: '$in'}\n" + chain(reEntry = false) +
      s"outputs:\n  - Parquet: {path: '$out'}\n"
    def check(s: SparkSession): Unit =
      same(ctx, "weblog_agg metrics", readMetrics(s.read.parquet(out)), want)
    val (spark, pipe, eps) = batchLoop(ctx, yaml, Lines, check,
      s => rejectsWrong(ctx, "weblog_agg metrics", readMetrics(s.read.parquet(out)), want),
      s => Planner.input(s, "Text", Map("path" -> in.toString)))
    if (ctx.trace) {
      ctx.check("weblog_agg Grok-failure tags") {
        ctx.layers("filters.failtagged_rows")._1.toLong == Weblog.grokFailures(evs)
      }
      ctx.layers("operators.metric_rows_out") = ctx.layers("operators.LinkStatsMetric.rows_out")
      // single-thread reference pass of the same pipeline
      spark.stop()
      val one = ctx.session(1)
      attempt(ctx, "local[1] warm-up")(pipe.runBatch(one))
      val runs = closedLoop(ctx.seconds / 4, minRuns = 2) { i =>
        attempt(ctx, s"local[1] run $i")(pipe.runBatch(one))
      } { _ => check(one) }
      ctx.layers("spark.speedup_vs_1core") = (eps / Stats.median(runs.map(Lines / _)), "ratio")
    }
  }
}

/** JSON events through a condition-heavy routing chain into three guarded
  * outputs: two Parquet directories and a counting `Custom` sink. */
object RouteFanout {
  val Events = 12000
  val Parts = 8

  def run(ctx: Ctx): Unit = {
    val in = ctx.dir("route/in")
    val evs = Routed.events(ctx.rng, Events)
    writeParts(in, Parts, evs.map(_.json).toSeq)
    val want = Routed.oracle(evs)
    val out = ctx.path("route/out")
    val dict = Routed.Countries.map { case (k, v) => s"$k: '$v'" }.mkString("{", ", ", "}")
    val digest = Routed.DigestCols.mkString("[", ", ", "]")
    val yaml =
      s"""inputs:
         |  - Text: {path: '$in', codec: json}
         |filters:
         |  - Json: {field: payload, schema: 'code STRING, bytes BIGINT'}
         |  - KV: {src: query, field_split: '&', value_split: '=', include_keys: [user, region]}
         |  - Split: {src: host, sep: '-', fields: [host_role, host_num]}
         |  - Lowercase: {fields: [level]}
         |  - Gsub: {fields: [['msg', '\\d+', '#']]}
         |  - Translate: {source: code, target: country, dictionary: $dict}
         |  - Drop: {if: ['EQ(level,"debug") || HasPrefix(path,"/health")']}
         |  - Add:
         |      fields: {route: '%{service}/%{host_role}', label: '{{.level}}-{{.region}}'}
         |      if: ['HasPrefix(path,"/api")', '{{if .labels}}y{{end}}']
         |  - Add: {fields: {priority: high}, if: ['{{if eq .level "error"}}y{{end}}']}
         |outputs:
         |  - Parquet:
         |      path: '$out/alerts'
         |      if: ['EQ(level,"error") || (EQ(level,"warn") && EQ(region,"eu"))']
         |  - Parquet:
         |      path: '$out/beta'
         |      if: ['IN(labels,"beta") && !HasPrefix(service,"svc-0")']
         |  - Custom:
         |      class: perfbench.CountingSink
         |      key: counter
         |      digest: $digest
         |      if: ['Exist(route) && Match(msg,"^User U#+ ")']
         |""".stripMargin
    /** Every output's digest; `tamper` is applied to the Parquet outputs
      * as they are read back. */
    def outputs(s: SparkSession, tamper: DataFrame => DataFrame): Map[String, Gen.Digest] = Map(
      "alerts" -> Digest.of(tamper(s.read.parquet(s"$out/alerts")), Routed.DigestCols),
      "beta" -> Digest.of(tamper(s.read.parquet(s"$out/beta")), Routed.DigestCols),
      "counter" -> SinkLog.digests.get("counter"))
    def agrees(k: String, d: Gen.Digest): Boolean = d == want(k)
    def check(s: SparkSession): Unit = {
      outputs(s, identity).foreach { case (k, d) =>
        ctx.check(s"route_fanout output $k") {
          if (!agrees(k, d)) System.err.println(s"[perfbench] $k: got $d want ${want(k)}")
          agrees(k, d)
        }
      }
      SinkLog.reset()
    }
    // self-check on the real outputs: each Parquet output read back without
    // one row, and the counting sink's digest with one row more, must fail
    def rejectsWrong(s: SparkSession): Unit =
      ctx.check("seeded wrong route_fanout outputs are rejected") {
        val got = outputs(s, df => df.limit(df.count().toInt - 1))
        val c = got("counter")
        got.updated("counter", c.copy(rows = c.rows + 1)).forall { case (k, d) => !agrees(k, d) }
      }
    batchLoop(ctx, yaml, Events, check, rejectsWrong,
      s => Planner.input(s, "Text", Map("path" -> in.toString, "codec" -> "json")))
  }
}

/** The weblog chain streamed from a directory through `runStreaming`, with
  * the metric stage re-entering per micro-batch. */
object WeblogStream {
  val BacklogFiles = 16
  val BacklogLinesPerFile = 1000
  val FilesPerTrigger = 8
  val OpenPeriodMs = 150L
  val OpenLinesPerFile = 100
  val FileSpanMs = 300000L

  /** One phase: the backlog drain's events/s, the query's progress (the
    * first `drainBatches` are the drain's), each file's latency, and what
    * the generator saw. */
  final case class Phase(eps: Double, progress: Seq[StreamingQueryProgress], drainBatches: Int,
      latenciesMs: Seq[Double], events: Int, backlogEnd: Int, lateMsMax: Double) {
    /** `triggerExecution` seconds of the open loop's micro-batches. */
    def openBatchS: Seq[Double] = progress.drop(drainBatches).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue / 1000)
  }

  def run(ctx: Ctx): Unit = {
    val threads = ctx.threads // the spare core runs the generator
    var fileNo = 0
    val events = mutable.Map[String, Array[Weblog.Ev]]()
    val staging = ctx.dir("stream/staging")

    /** Write the next file of `n` events into `dir` atomically; it covers a
      * five-minute event-time range ending one minute after the previous
      * file's, so late events fall behind the reserve bound. */
    def emit(dir: Path, n: Int): String = {
      val name = f"events-$fileNo%05d.log"
      val evs = Weblog.events(ctx.rng, n, Weblog.BaseMs + fileNo * 60000L - FileSpanMs + 60000L, FileSpanMs)
      fileNo += 1
      Gen.writeLines(staging.resolve(name), evs.iterator.map(_.line))
      Files.move(staging.resolve(name), dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      events.synchronized(events(name) = evs)
      name
    }

    def sinkYaml(dir: Path) =
      s"""inputs:
         |  - Custom:
         |      class: perfbench.DirStream
         |      streaming: true
         |      path: '$dir'
         |      max_files_per_trigger: $FilesPerTrigger
         |""".stripMargin + WeblogAgg.chain(reEntry = true) +
        "outputs:\n  - Custom: {class: perfbench.StreamSink}\n"

    /** The checks of committed `batches`, as (what, verdict): each batch's
      * metric rows against the oracle over its files, and every file of
      * `files` with its raw events exactly once. */
    def verdicts(batches: Seq[StreamBatch], files: Seq[String], loud: Boolean): Seq[(String, () => Boolean)] =
      batches.map { b =>
        "weblog_stream batch metrics" -> { () =>
          val evs = b.rawPerFile.keys.toSeq.flatMap(events(_))
          val got = b.metrics.map(m => (m._1, m._2) -> Weblog.Stat(m._3, m._4, m._5, m._6)).toMap
          WeblogAgg.agrees("weblog_stream batch metrics", got, Weblog.metrics(evs), loud)
        }
      } :+ ("weblog_stream raw events exactly once" -> { () =>
        val byFile = batches.flatMap(_.rawPerFile.toSeq).groupBy(_._1)
        byFile.keySet == files.toSet && byFile.forall { case (f, xs) =>
          xs.size == 1 && xs.head._2 == Weblog.afterDrop(events(f)).size
        }
      })

    /** Check every committed batch; returns the commit time of every file. */
    def checkBatches(files: Seq[String]): Map[String, Long] = {
      val batches = SinkLog.batches.asScala.toSeq
      verdicts(batches, files, loud = true).foreach { case (what, ok) => ctx.check(what)(ok()) }
      batches.flatMap(b => b.rawPerFile.keys.map(_ -> b.committedNs)).toMap
    }

    /** Self-check on the committed batches, which pass: the same checks must
      * fail them with one file's raw count bumped, and with one metric row
      * removed. */
    def rejectsWrong(files: Seq[String]): Unit =
      ctx.check("seeded wrong weblog_stream result is rejected") {
        val real = SinkLog.batches.asScala.toSeq
        val i = real.indexWhere(_.metrics.nonEmpty)
        val b = real(i)
        val (f, n) = b.rawPerFile.head
        Seq(real.updated(i, b.copy(rawPerFile = b.rawPerFile.updated(f, n + 1))),
          real.updated(i, b.copy(metrics = b.metrics.tail)))
          .forall(bs => verdicts(bs, files, loud = false).exists(v => !v._2()))
      }

    def awaitFiles(files: Seq[String], timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def done = SinkLog.batches.asScala.flatMap(_.rawPerFile.keys).toSet
      while (!files.forall(done.contains) && System.nanoTime() < deadline) Thread.sleep(5)
    }

    val warm = ctx.dir("stream/warm")
    val warmFiles = Seq(emit(warm, 2000), emit(warm, 2000))
    val (spark, _) = setUp(ctx, threads, sinkYaml(warm)) { (s, p) =>
      SinkLog.reset()
      val q = Planner.runStreaming(s, p, Some(ctx.path("stream/ckpt-warm")))
      q.processAllAvailable()
      q.stop()
    }
    ctx.ran()
    rejectsWrong(warmFiles)
    checkBatches(warmFiles)

    /** One backlog drain then `seconds` of open-loop arrivals, into a fresh
      * directory and query; with `tr`, the tracer is attached throughout. */
    def phase(name: String, seconds: Double, tr: Option[Tracer]): Phase = {
      val dir = ctx.dir(s"stream/$name")
      val backlog = (1 to BacklogFiles).map(_ => emit(dir, BacklogLinesPerFile))
      SinkLog.reset()
      val pipeline = Planner.fromYaml(sinkYaml(dir))
      def start() = Planner.runStreaming(spark, pipeline, Some(ctx.path(s"stream/ckpt-$name")))
      tr.foreach(_.attach(spark))
      val t0 = System.nanoTime()
      val q = tr.fold(start())(_.span("stream")(start()))
      awaitFiles(backlog, 120)
      val drainS = (System.nanoTime() - t0) / 1e9
      // progress is posted after the sink commits: wait until the backlog's
      // batches are all in it, so the open-loop batches start after them
      val backlogRows = BacklogFiles * BacklogLinesPerFile
      val deadline = System.nanoTime() + 10000000000L
      while (q.recentProgress.map(_.numInputRows).sum < backlogRows && System.nanoTime() < deadline)
        Thread.sleep(5)
      val drainBatches = q.recentProgress.length

      // open loop: one file every OpenPeriodMs, timed from when it was due
      val n = math.max(1, (seconds * 1000 / OpenPeriodMs).toInt)
      val due = mutable.ArrayBuffer[(String, Long)]()
      var lateMax = 0L
      var backlogEnd = 0
      val start0 = System.nanoTime() + 50000000L
      val gen = new Thread(() => {
        for (i <- 0 until n) {
          val d = start0 + i * OpenPeriodMs * 1000000L
          val wait = d - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val f = emit(dir, OpenLinesPerFile)
          lateMax = math.max(lateMax, System.nanoTime() - d)
          due.synchronized(due += f -> d)
        }
        val committed = SinkLog.batches.asScala.flatMap(_.rawPerFile.keys).toSet
        backlogEnd = due.count { case (f, _) => !committed.contains(f) }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      awaitFiles(due.map(_._1).toSeq, 60)
      val progress = q.recentProgress.toSeq
      q.stop()
      tr.foreach(_.detach())
      val commits = checkBatches(backlog ++ due.map(_._1))
      ctx.ran(progress.count(_.numInputRows > 0))
      val latencies = due.toSeq.flatMap { case (f, d) => commits.get(f).map(c => (c - d) / 1e6) }
      Phase(backlogRows / drainS, progress, drainBatches, latencies,
        backlogRows + n * OpenLinesPerFile, backlogEnd, lateMax / 1e6)
    }

    if (!ctx.trace) {
      val p = phase("timed", ctx.seconds, None)
      ctx.e2e("events_per_s") = (p.eps, "1/s")
      reportRuns(ctx, p.openBatchS)
      ctx.e2e("latency_ms_p50") = (Stats.median(p.latenciesMs), "ms")
      val (tail, pct) = Stats.tail(p.latenciesMs)
      ctx.e2e("latency_ms_tail") = (tail, "ms")
      ctx.notes("latency_ms_tail_percentile") = pct
      ctx.notes("latency_samples") = p.latenciesMs.size
    } else {
      // four quarter-length phases, untraced, traced, traced, untraced
      val tr = new Tracer(s"${ctx.workload}-${ctx.seed}")
      val phases = Seq("untraced1" -> None, "traced1" -> Some(tr), "traced2" -> Some(tr),
        "untraced2" -> None).map { case (name, t) => t.isDefined -> phase(name, ctx.seconds / 4, t) }
      val traced = phases.filter(_._1).map(_._2)
      val untraced = phases.filterNot(_._1).map(_._2)
      val progress = traced.flatMap(_.progress)
      val L = ctx.layers
      def p50(k: String) = Stats.median(progress.map(_.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)))
      L("streaming.trigger_ms_p50") = (p50("triggerExecution"), "ms")
      L("streaming.add_batch_ms_p50") = (p50("addBatch"), "ms")
      L("streaming.query_planning_ms_p50") = (p50("queryPlanning"), "ms")
      L("streaming.get_batch_ms_p50") = (p50("getBatch"), "ms")
      L("streaming.wal_commit_ms_p50") = (p50("walCommit"), "ms")
      L("streaming.batches") = (progress.size.toDouble / traced.size, "count")
      L("streaming.rows_per_batch_p50") = (Stats.median(progress.map(_.numInputRows.toDouble)), "count")
      L("sources.backlog_files_end") = (traced.map(_.backlogEnd).max.toDouble, "count")
      L("sources.gen_late_ms_max") = (traced.map(_.lateMsMax).max, "ms")
      Layers.sparkPerRun(ctx, tr, tr.named("stream"), traced.head.events, L("streaming.batches")._1)
      Layers.overhead(ctx, Stats.median(untraced.map(_.eps)), Stats.median(traced.map(_.eps)))
      val dir = ctx.work.resolve("stream/traced2")
      tr.attach(spark)
      Layers.replay(ctx, spark, tr, sinkYaml(dir), s => s.read.schema("value STRING").text(dir.toString)
        .select(col("value").as("message"), current_timestamp().as("@timestamp"),
          col("_metadata.file_name").as("src_file")))
      tr.detach()
      tr.write(ctx.results.resolve(s"${ctx.workload}-seed${ctx.seed}-spans.jsonl"))
    }
  }
}

/** Daily increments through Normalize → QualityRules → incremental Dedup →
  * a guarded Parquet output, one pipeline run per increment. Increments
  * run in cycles of [[DaysPerCycle]] against a fresh seen store, so every
  * cycle has the same shape — the store grows and compacts at the same
  * increments. A run measures one cycle per [[SecondsPerCycle]] of
  * `--seconds`, at least one: a count that does not depend on how fast the
  * cycles ran keeps every run's samples from the same increments. */
object CurateIncremental {
  val DocsPerDay = 1000
  val DaysPerCycle = 6
  val SecondsPerCycle = 14.0
  val Parts = 4

  def yaml(in: Path, store: String, out: String) =
    s"""inputs:
       |  - Json: {path: '$in'}
       |filters:
       |  - Normalize: {src: text}
       |  - QualityRules: {src: text, mode: drop}
       |  - Dedup: {method: incremental, src: text, id_field: id, store: '$store', update_store: true, compact_files: 2}
       |outputs:
       |  - Parquet: {path: '$out', if: ['!EQ(source,"synthetic")']}
       |""".stripMargin

  def run(ctx: Ctx): Unit = {
    var nextDay = 0
    var nextId = 0L

    /** One cycle's inputs: `DaysPerCycle` increments whose cross-day
      * duplicates copy earlier increments of the same cycle. */
    def genCycle(): Seq[(Int, Array[Corpus.Doc])] = {
      val history = mutable.ArrayBuffer[Corpus.Doc]()
      (1 to DaysPerCycle).map { _ =>
        val day = nextDay
        val docs = Corpus.increment(ctx.rng, day, nextId, DocsPerDay, history.toIndexedSeq)
        nextDay += 1
        nextId += DocsPerDay
        history ++= docs
        writeParts(ctx.dir(s"curate/in/day=$day"), Parts, docs.map(Corpus.json).toSeq)
        day -> docs
      }
    }

    def out(day: Int) = ctx.path(s"curate/out/day=$day")
    def keptIds(spark: SparkSession, day: Int): Set[Long] =
      spark.read.parquet(out(day)).select("id").collect().map(_.getLong(0)).toSet
    def agrees(got: Set[Long], want: Set[Long]): Boolean = got == want

    /** Run increment `day` against `store`; with `tr`, traced. Returns its
      * seconds. */
    def increment(spark: SparkSession, day: Int, store: String, tr: Option[Tracer]): Double = {
      val text = yaml(ctx.work.resolve(s"curate/in/day=$day"), store, out(day))
      tr.foreach(_.attach(spark))
      val t0 = System.nanoTime()
      attempt(ctx, s"increment $day") {
        def once() = Planner.fromYaml(text).runBatch(spark)
        tr.fold(once())(_.span("run")(once()))
      }
      val s = (System.nanoTime() - t0) / 1e9
      tr.foreach(_.detach())
      s
    }

    /** Check increment `day`'s kept ids; `seen` holds the NFC texts the
      * store has recorded and is advanced. */
    def checkKept(spark: SparkSession, day: Int, docs: Array[Corpus.Doc], seen: mutable.Set[String]): Unit = {
      val want = Corpus.kept(docs, seen)
      ctx.check(s"curate_incremental day $day kept ids") {
        val got = keptIds(spark, day)
        if (!agrees(got, want)) System.err.println(s"[perfbench] day $day: got ${got.size} want ${want.size}, " +
          s"extra ${(got -- want).take(3)} missing ${(want -- got).take(3)}")
        agrees(got, want)
      }
      seen ++= docs.filter(_.passesRules).map(_.nfc)
    }

    /** One cycle against a fresh store, increment `j` traced by
      * `tracerAt(j)`; returns each increment's seconds, whether it was
      * traced, and the store. */
    def cycle(spark: SparkSession, tracerAt: Int => Option[Tracer]): (Seq[(Double, Boolean)], String) = {
      val days = genCycle()
      val store = ctx.path(s"curate/store-${days.head._1}")
      val seen = mutable.Set[String]()
      (days.zipWithIndex.map { case ((d, docs), j) =>
        val tr = tracerAt(j)
        val s = increment(spark, d, store, tr)
        checkKept(spark, d, docs, seen)
        (s, tr.isDefined)
      }, store)
    }

    val (day0, docs0) = genCycle().head
    val warmStore = ctx.path("curate/warm/store")
    val (spark, _) = setUp(ctx, ctx.threads, yaml(ctx.work.resolve(s"curate/in/day=$day0"),
        warmStore, out(day0))) { (s, _) =>
      increment(s, day0, warmStore, None)
    }
    // self-check on the warm-up's real output: the kept-id comparison must
    // reject it with one id missing and with one id too many
    ctx.check("seeded wrong curation result is rejected") {
      val got = keptIds(spark, day0)
      val want = Corpus.kept(docs0, Set.empty)
      Seq(got - got.head, got + nextId).forall(!agrees(_, want))
    }
    checkKept(spark, day0, docs0, mutable.Set.empty)
    // settle: the first two increments of a cycle against a throwaway store
    val settleSeen = mutable.Set[String]()
    genCycle().take(2).foreach { case (d, docs) =>
      increment(spark, d, ctx.path("curate/settle/store"), None)
      checkKept(spark, d, docs, settleSeen)
    }

    if (!ctx.trace) {
      val cycles = math.max(1, math.round(ctx.seconds / SecondsPerCycle).toInt)
      val runs = (1 to cycles).flatMap(_ => cycle(spark, _ => None)._1.map(_._1))
      reportClosedLoop(ctx, runs, DocsPerDay)
    } else {
      val tr = new Tracer(s"${ctx.workload}-${ctx.seed}")
      @volatile var sampling = true
      var cachedPeak = 0L
      val sampler = new Thread(() => while (sampling) {
        cachedPeak = math.max(cachedPeak, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
        Thread.sleep(20)
      }, "perfbench-cache-sampler")
      sampler.start()
      // two cycles, tracing alternate increments, the other half in the
      // second: every increment position is run untraced and traced once
      val cycles = Seq(1, 0).map(odd => cycle(spark, j => if (j % 2 == odd) Some(tr) else None))
      sampling = false
      sampler.join()
      val store = cycles.last._2
      val (traced, untraced) = cycles.flatMap(_._1).partition(_._2)
      Layers.sparkPerRun(ctx, tr, tr.named("run"), DocsPerDay)
      Layers.overhead(ctx, Stats.median(untraced.map(DocsPerDay / _._1)),
        Stats.median(traced.map(DocsPerDay / _._1)))

      // replay a fresh increment against the last cycle's full store, uncommitted
      val (d, _) = genCycle().head
      val in = ctx.work.resolve(s"curate/in/day=$d")
      tr.attach(spark)
      Layers.replay(ctx, spark, tr, yaml(in, store, ctx.path("curate/replay/out")),
        s => Planner.input(s, "Json", Map("path" -> in.toString)))
      val L = ctx.layers
      L("ml.dedup_kept_ratio") = (L("ml.Dedup.rows_out")._1 / L("ml.QualityRules.rows_out")._1, "ratio")
      val rules = graft.ml.TextAnalysis.gopherRules(
        Planner.corpusStage("Normalize", Map("src" -> "text"))(
          Planner.input(spark, "Json", Map("path" -> in.toString))), "text", drop = true)
        .localCheckpoint(eager = true)
      val probe = tr.span("core.store_probe")(graft.ml.Dedup.dropSeenStore(rules, store, "text").count())
      val copy = ctx.path("curate/store-copy")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(store), new java.io.File(copy))
      tr.span("core.store_append")(graft.ml.Dedup.appendToSeenStore(rules, "text", copy))
      L("core.store_probe_ms") = (tr.named("core.store_probe").last.ms, "ms")
      L("core.store_append_ms") = (tr.named("core.store_append").last.ms, "ms")
      L("core.store_files") = (graft.ml.Dedup.storeDataFiles(spark, store).size.toDouble, "count")
      L("core.store_rows") = (spark.read.parquet(store).count().toDouble, "count")
      L("core.cached_mb_peak") = (cachedPeak / 1048576.0, "MB")
      ctx.notes("core.store_probe_rows_kept") = probe
      tr.detach()
      tr.write(ctx.results.resolve(s"${ctx.workload}-seed${ctx.seed}-spans.jsonl"))
    }
  }
}
