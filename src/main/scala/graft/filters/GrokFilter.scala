package graft.filters

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.paths.FieldPath

/** Grok pattern expansion: `%{NAME}` / `%{NAME:field}` references resolved
  * recursively against a pattern dictionary, producing one Java regex with
  * named capture groups. (reference: filter/grok.go:103-281; the pattern
  * syntax itself is the public Logstash grok convention.)
  */
object Grok {
  /** A minimal built-in base-pattern set (standard grok names). Users can
    * supply/override via `patterns`. */
  val basePatterns: Map[String, String] = Map(
    "WORD" -> """\b\w+\b""",
    "NOTSPACE" -> """\S+""",
    "SPACE" -> """\s*""",
    "DATA" -> """.*?""",
    "GREEDYDATA" -> """.*""",
    "INT" -> """(?:[+-]?(?:[0-9]+))""",
    "NUMBER" -> """(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?))""",
    "BASE10NUM" -> """(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?))""",
    "POSINT" -> """\b(?:[1-9][0-9]*)\b""",
    "YEAR" -> """(?:\d\d){1,2}""",
    "MONTHNUM" -> """(?:0?[1-9]|1[0-2])""",
    "MONTHDAY" -> """(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])""",
    "HOUR" -> """(?:2[0123]|[01]?[0-9])""",
    "MINUTE" -> """(?:[0-5][0-9])""",
    "SECOND" -> """(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)""",
    "TIME" -> """(?:2[0123]|[01]?[0-9]):(?:[0-5][0-9])(?::(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?))?""",
    "TIMESTAMP_ISO8601" -> """(?:\d\d){1,2}-(?:0?[1-9]|1[0-2])-(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])[T ](?:2[0123]|[01]?[0-9]):?(?:[0-5][0-9])(?::?(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?))?(?:Z|[+-](?:2[0123]|[01]?[0-9])(?::?(?:[0-5][0-9])))?""",
    "IP" -> """(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)""",
    "HOSTNAME" -> """\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b""",
    "IPORHOST" -> """(?:(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?))|(?:\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b)""",
    "USER" -> """[a-zA-Z0-9._-]+""",
    "USERNAME" -> """[a-zA-Z0-9._-]+""",
    "LOGLEVEL" -> """(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)""",
    "UUID" -> """[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}""",
  )

  /** Parse "NAME regex" pattern lines (the logstash-patterns-core format).
    * Blank lines and #comments skipped. */
  def parsePatternLines(lines: Iterator[String]): Map[String, String] =
    lines.flatMap { line =>
      val l = line.trim
      if (l.isEmpty || l.startsWith("#")) None
      else l.split("\\s+", 2) match {
        case Array(name, body) => Some(name -> body)
        case _ => None
      }
    }.toMap

  /** Load a "NAME regex" pattern file (reference: filter/grok.go:139-160
    * loads pattern files, dirs, and http(s) URLs at build time). */
  def loadPatternFile(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parsePatternLines(src.getLines())
    finally src.close()
  }

  /** Load a pattern set from a URL (http(s):// in production; file:// for
    * zero-egress tests — same stream handling either way). */
  def loadPatternUrl(url: String): Map[String, String] = {
    val in = java.net.URI.create(url).toURL.openStream()
    try parsePatternLines(
      new String(in.readAllBytes(), "UTF-8").linesIterator)
    finally in.close()
  }

  private def isUrl(p: String): Boolean =
    p.startsWith("http://") || p.startsWith("https://") || p.startsWith("file:")

  def loadPatternPaths(paths: Seq[String]): Map[String, String] =
    paths.flatMap { p =>
      if (isUrl(p)) loadPatternUrl(p)
      else {
        val f = new java.io.File(p)
        if (f.isDirectory) f.listFiles().toSeq.map(_.getPath).flatMap(loadPatternFile)
        else loadPatternFile(p)
      }
    }.toMap

  private val Ref = """%\{(\w+)(?::(\w+))?\}""".r

  /** Recursively expand %{NAME[:field]} refs; named field refs become Java
    * named groups. Go `(?P<x>` syntax is rewritten to Java `(?<x>`. */
  def expand(pattern: String, dict: Map[String, String], depth: Int = 0): String = {
    require(depth < 20, s"grok pattern recursion too deep: $pattern")
    val expanded = Ref.replaceAllIn(pattern, m => {
      val name = m.group(1)
      val field = Option(m.group(2))
      val body = dict.getOrElse(name,
        sys.error(s"grok: unknown pattern %{$name}"))
      val inner = expand(body, dict, depth + 1)
      Matcher.quoteReplacement(field match {
        case Some(f) => s"(?<$f>$inner)"
        case None => s"(?:$inner)"
      })
    })
    expanded.replace("(?P<", "(?<")
  }

  private val NamedGroup = """\(\?<([A-Za-z][A-Za-z0-9]*)>""".r

  def groupNames(javaRegex: String): Seq[String] =
    NamedGroup.findAllMatchIn(javaRegex).map(_.group(1)).toSeq.distinct
}

/** Grok filter: N patterns tried in order, first match wins, named groups
  * become columns. One match per row produces all fields: [[prepare]]
  * projects the match map once, and both `success` and `transform` read
  * that column (the regex automata are compiled once per executor; a
  * per-field `regexp_extract` would re-run the match per column).
  *
  * The match UDF is marked nondeterministic, although its result depends
  * only on its input. The flag is the optimizer barrier that keeps it at
  * one evaluation per row: Catalyst neither copies a nondeterministic
  * expression into other projections (CollapseProject) nor pushes a
  * filter through the projection that computes it
  * (PushPredicateThroughNonJoin). Without it, a later `Drop` on a Grok
  * field is pushed below the match with the UDF inlined once per
  * reference to the field, and Spark 4.1.2 has no setting that stops that
  * alias inlining short of excluding the rule for the whole session. The
  * price is the reference's in-order semantics: a filter placed after a
  * Grok stays above it, so only conditions placed before the Grok reach
  * the scan's pushed filters.
  * (reference: filter/grok.go) */
final case class GrokFilter(
    src: String,
    matchPatterns: Seq[String],
    patterns: Map[String, String] = Map.empty,
    ignoreBlank: Boolean = true,
    overwrite: Boolean = true,
    target: Option[String] = None,
    patternPaths: Seq[String] = Nil) extends EventFilter {

  private val dict =
    Grok.basePatterns ++ Grok.loadPatternPaths(patternPaths) ++ patterns
  private val expanded: Seq[String] = matchPatterns.map(p => Grok.expand(p, dict))

  /** Java named groups must match [A-Za-z][A-Za-z0-9]* — no underscores,
    * which grok field names (%{NUMBER:response_time}) routinely carry
    * (RE2/Go accepts them). Unsafe names get a generated alias in the
    * compiled regex and map back to the real field on extraction;
    * without this, Pattern.compile threw PatternSyntaxException on the
    * first row of every executor — a delayed per-task crash for a
    * pattern the reference accepts. */
  private val AnyNamedGroup = """\(\?<([A-Za-z_][A-Za-z0-9_]*)>""".r
  private def sanitize(regex: String): (String, Map[String, String]) = {
    var aliases = Map.empty[String, String] // alias -> original field name
    var k = 0
    val out = AnyNamedGroup.replaceAllIn(regex, m => {
      val name = m.group(1)
      if (name.matches("[A-Za-z][A-Za-z0-9]*"))
        Matcher.quoteReplacement(m.matched)
      else {
        val alias = s"graftgk$k"
        k += 1
        aliases += (alias -> name)
        Matcher.quoteReplacement(s"(?<$alias>")
      }
    })
    (out, aliases)
  }
  private val sanitized: Seq[(String, Map[String, String])] = expanded.map(sanitize)
  private val regexes: Seq[String] = sanitized.map(_._1)
  // (java group, output field) per pattern — precomputed ONCE: the old
  // per-matching-row Grok.groupNames re-scan of a multi-KB expanded
  // pattern string was pure per-row overhead on the hot path
  private val namesPerPattern: Array[Array[(String, String)]] =
    sanitized.map { case (r, al) =>
      Grok.groupNames(r).map(n => n -> al.getOrElse(n, n)).toArray
    }.toArray
  /** Output fields in first-pattern-first order. */
  val outputFields: Seq[String] =
    namesPerPattern.flatMap(_.map(_._2)).distinct.toSeq

  private def matchUdf = {
    val rx = regexes
    val names = namesPerPattern
    val blank = ignoreBlank
    udf { (s: String) =>
      if (s == null) null
      else {
        // compiled lazily per executor thread; Pattern is thread-safe
        val compiled = GrokFilter.cache.computeIfAbsent(rx,
          _ => rx.map(Pattern.compile(_)).toArray)
        var i = 0
        var result: Map[String, String] = null
        while (i < compiled.length && result == null) {
          val m = compiled(i).matcher(s)
          if (m.find()) {
            result = names(i).flatMap { case (g, f) =>
              val v = try m.group(g) catch { case _: Exception => null }
              if (v == null || (blank && v.isEmpty)) None else Some(f -> v)
            }.toMap
          }
          i += 1
        }
        result
      }
    }.asNondeterministic() // an optimizer barrier only; see the class doc
  }

  /** Project the match map, null where `cond` does not hold (a guarded
    * fallback Grok matches only the rows its `if` selects). */
  override def prepare(df: DataFrame, cond: Column): DataFrame = {
    val c = FieldPath.resolve(df, src).getOrElse(lit(null)).cast("string")
    df.withColumn(GrokFilter.MatchCol, when(cond, matchUdf(c)))
  }

  override def success(df: DataFrame): Column = col(GrokFilter.MatchCol).isNotNull

  def transform(df: DataFrame, cond: Column): DataFrame = {
    val tmp = GrokFilter.MatchCol
    val m = col(tmp)
    val out = target match {
      case Some(t) =>
        StageCols.setField(df, t, m, cond, overwrite)
      case None =>
        outputFields.foldLeft(df) { (d, f) =>
          StageCols.setField(d, f, element_at(m, f), cond && m.isNotNull, overwrite)
        }
    }
    out.drop(tmp)
  }
}

object GrokFilter {
  private val MatchCol = "__graft_grok"
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Array[Pattern]]()
}
