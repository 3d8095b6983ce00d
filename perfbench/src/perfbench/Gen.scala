package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generators and their output oracles, in plain Scala.
  *
  * Each generator writes the files the pipeline reads and keeps the events
  * it wrote, so the expected output is computed here from the same events
  * under the pipeline's documented rules — never by Spark. */
object Gen {

  def writeLines(path: Path, lines: Iterator[String]): Long = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.size(path)
  }

  /** Sum of CRC32 over one row's fields joined like [[Digest.of]]: fields
    * separated by U+0001, a null field written as U+0000. */
  def rowCrc(fields: Seq[String]): Long = {
    val c = new java.util.zip.CRC32
    c.update(fields.map(f => if (f == null) "\u0000" else f).mkString("\u0001").getBytes(UTF_8))
    c.getValue
  }

  final case class Digest(rows: Long, crcSum: Long)

  def digest(rows: Iterable[Seq[String]]): Digest =
    Digest(rows.size.toLong, rows.iterator.map(rowCrc).sum)
}

/** Web-server access log for the `weblog_*` workloads.
  *
  * A line is `<ts_ms> <verb> <path> <status> <latency_ms>`; about 1% are
  * truncated to `<ts_ms> <verb> <path> -`, which the main Grok pattern
  * rejects and the fallback Grok parses for the timestamp only. */
object Weblog {
  val Verbs = Array("GET", "POST", "PUT", "DELETE", "HEAD")
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  val WindowMs = 60000L
  val ReserveMs = 300000L

  final case class Ev(tsMs: Long, verb: String, path: String, status: Int,
      latency: Int, truncated: Boolean) {
    def line: String =
      if (truncated) s"$tsMs $verb $path -"
      else s"$tsMs $verb $path $status $latency"
  }

  /** `n` events spread over `spanMs` starting at `startMs`. */
  def events(rng: scala.util.Random, n: Int, startMs: Long, spanMs: Long): Array[Ev] =
    Array.fill(n) {
      val verb = Verbs(rng.nextInt(Verbs.length))
      val path = s"/api/v${1 + rng.nextInt(3)}/${Seq("users", "orders", "items", "carts")(rng.nextInt(4))}/${rng.nextInt(500)}"
      val r = rng.nextInt(100)
      val status = if (r < 10) 404 else if (r < 14) 500 else if (r < 18) 301 else 200
      Ev(startMs + (rng.nextDouble() * spanMs).toLong, verb, path, status,
        1 + rng.nextInt(2000), rng.nextInt(100) == 0)
    }

  /** Events as they leave the `Drop` stage: 404s removed, truncated lines
    * relabelled `unparsed` with latency 0 by the failure-handling `Add`. */
  def afterDrop(evs: Iterable[Ev]): Iterable[Ev] =
    evs.filter(e => e.truncated || e.status != 404)
      .map(e => if (e.truncated) e.copy(verb = "unparsed", latency = 0) else e)

  final case class Stat(count: Long, sum: Long, min: Long, max: Long)

  /** Expected `LinkStatsMetric` rows keyed by (window start ms, verb):
    * events older than `ReserveMs` before the newest event are dropped,
    * then count/sum/min/max per 60 s tumbling window and verb. */
  def metrics(evs: Iterable[Ev]): Map[(Long, String), Stat] = {
    val kept = afterDrop(evs)
    if (kept.isEmpty) Map.empty
    else {
      val bound = kept.iterator.map(_.tsMs).max - ReserveMs
      kept.filter(_.tsMs >= bound)
        .groupBy(e => (Math.floorDiv(e.tsMs, WindowMs) * WindowMs, e.verb))
        .map { case (k, es) =>
          val ls = es.map(_.latency.toLong)
          k -> Stat(ls.size.toLong, ls.sum, ls.min, ls.max)
        }
    }
  }

  /** Grok-failure tag count: lines the main pattern rejects. */
  def grokFailures(evs: Iterable[Ev]): Long = evs.count(_.truncated).toLong
}

/** JSON application events for `route_fanout`. */
object Routed {
  val Levels = Array("INFO", "WARN", "ERROR", "DEBUG")
  val Countries = Map("DE" -> "Germany", "FR" -> "France", "US" -> "United States",
    "JP" -> "Japan", "BR" -> "Brazil", "IN" -> "India")
  val Codes = Countries.keys.toArray.sorted
  val Regions = Array("eu", "us", "ap")
  val Labels = Array("beta", "canary", "stable", "legacy")

  final case class Ev(id: Long, level: String, service: String, host: String,
      path: String, user: String, region: String, code: String, bytes: Long,
      msg: String, labels: Seq[String]) {
    private def q(s: String) = "\"" + s + "\""
    def json: String =
      s"""{"id":$id,"level":${q(level)},"service":${q(service)},"host":${q(host)},""" +
        s""""path":${q(path)},"query":${q(s"user=$user&region=$region")},""" +
        s""""payload":${q(s"""{\\"code\\":\\"$code\\",\\"bytes\\":$bytes}""")},""" +
        s""""msg":${q(msg)},"labels":[${labels.map(q).mkString(",")}]}"""
  }

  def events(rng: scala.util.Random, n: Int): Array[Ev] =
    Array.tabulate(n) { i =>
      val path = if (rng.nextInt(20) == 0) "/health" else
        s"/${if (rng.nextInt(5) == 0) "web" else "api"}/${Seq("cart", "pay", "search", "login")(rng.nextInt(4))}"
      Ev(i.toLong, Levels(rng.nextInt(Levels.length)), s"svc-${rng.nextInt(8)}",
        s"${Seq("web", "db", "cache")(rng.nextInt(3))}-${rng.nextInt(40)}", path,
        s"u${rng.nextInt(5000)}", Regions(rng.nextInt(Regions.length)),
        Codes(rng.nextInt(Codes.length)), rng.nextInt(100000).toLong,
        s"User U${rng.nextInt(5000)} took ${rng.nextInt(900)} ms in step ${rng.nextInt(9)}",
        Labels.filter(_ => rng.nextInt(3) == 0).toSeq)
    }

  /** One event after the routing chain — only the fields the outputs are
    * digested on. */
  final case class Out(id: Long, level: String, region: String, country: String,
      hostRole: String, route: String, label: String, priority: String,
      msg: String, labels: Seq[String], service: String) {
    def digestRow: Seq[String] =
      Seq(id.toString, level, region, country, hostRole, route, label, priority, msg)
  }

  def chain(e: Ev): Option[Out] = {
    val level = e.level.toLowerCase
    if (level == "debug" || e.path.startsWith("/health")) None
    else {
      val hostRole = e.host.split("-", -1)(0)
      val routed = e.path.startsWith("/api") && e.labels.nonEmpty
      Some(Out(e.id, level, e.region, Countries(e.code), hostRole,
        if (routed) s"${e.service}/$hostRole" else null,
        if (routed) s"$level-${e.region}" else null,
        if (level == "error") "high" else null,
        e.msg.replaceAll("\\d+", "#"), e.labels, e.service))
    }
  }

  /** Output guards, in the order of the YAML outputs. */
  val Guards: Seq[(String, Out => Boolean)] = Seq(
    "alerts" -> (o => o.level == "error" || (o.level == "warn" && o.region == "eu")),
    "beta" -> (o => o.labels.contains("beta") && !o.service.startsWith("svc-0")),
    "counter" -> (o => o.route != null && o.msg.matches("^User U#+ .*")))

  def oracle(evs: Iterable[Ev]): Map[String, Gen.Digest] = {
    val outs = evs.flatMap(chain).toSeq
    Guards.map { case (n, g) => n -> Gen.digest(outs.filter(g).map(_.digestRow)) }.toMap
  }

  val DigestCols = Seq("id", "level", "region", "country", "host_role", "route",
    "label", "priority", "msg")
}

/** Daily document increments for `curate_incremental`. */
object Corpus {
  private val Words = ("the of and to that with have be a in is it for on as was " +
    "river market engine garden window harbor village signal letter winter " +
    "painter station morning doctor mountain library teacher kitchen bridge " +
    "island pocket silver thunder meadow lantern journey canvas orchard").split(' ')
  private val Accented = Seq("café", "naïve", "résumé", "façade", "jalapeño")

  final case class Doc(id: Long, source: String, text: String) {
    /** The text as the `Normalize` stage leaves it. */
    def nfc: String = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
    /** Kept by `QualityRules` (drop mode): the generator only writes
      * documents far inside every rule or, for short ones, far below the
      * 50-word floor. */
    def passesRules: Boolean = text.split("\\s+").count(_.nonEmpty) >= 50
  }

  def sentence(rng: scala.util.Random): String =
    Seq.fill(8 + rng.nextInt(8))(Words(rng.nextInt(Words.length))).mkString(" ")

  private def body(rng: scala.util.Random, words: Int): String = {
    val b = new StringBuilder
    var n = 0
    while (n < words) {
      // every sentence carries two Gopher stop words ("the", "and")
      val s = s"the ${sentence(rng)} and ${Words(rng.nextInt(Words.length))}"
      val w = if (rng.nextInt(4) == 0) s + " " + Accented(rng.nextInt(Accented.length)) else s
      b.append(w.capitalize).append(". ")
      n += w.split(' ').length
    }
    b.toString.trim
  }

  private def nfd(s: String) =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)

  /** Increment `day` of `n` documents with ids from `firstId`: about 8%
    * too short, 3% marked `synthetic` (routed away by the output guard),
    * 8% exact copies and 4% NFD re-encodings of documents in this
    * increment, and 6% copies of earlier increments. */
  def increment(rng: scala.util.Random, day: Int, firstId: Long, n: Int,
      earlier: IndexedSeq[Doc]): Array[Doc] = {
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    var id = firstId
    while (out.size < n) {
      val r = rng.nextInt(100)
      val text =
        if (r < 8) sentence(rng)
        else if (r < 16 && out.nonEmpty) out(rng.nextInt(out.size)).text
        else if (r < 20 && out.nonEmpty) nfd(out(rng.nextInt(out.size)).text)
        else if (r < 26 && earlier.nonEmpty) earlier(rng.nextInt(earlier.size)).text
        else body(rng, 60 + rng.nextInt(80))
      val source = if (rng.nextInt(100) < 3) "synthetic" else s"crawl-$day"
      out += Doc(id, source, text)
      id += 1
    }
    rng.shuffle(out).toArray
  }

  def json(d: Doc): String = {
    val esc = d.text.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    s"""{"id":${d.id},"source":"${d.source}","text":"$esc"}"""
  }

  /** Ids the pipeline keeps for one increment, given the NFC texts of every
    * earlier increment's rule-passing documents (the seen store): rule
    * failures drop, then the lowest id per NFC text, then texts already in
    * the store; the output guard drops `synthetic` sources last. */
  def kept(docs: Iterable[Doc], seen: scala.collection.Set[String]): Set[Long] =
    docs.filter(_.passesRules).groupBy(_.nfc)
      .collect { case (t, ds) if !seen.contains(t) => ds.minBy(_.id) }
      .filter(_.source != "synthetic").map(_.id).toSet
}
