package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static guards over src/main: anti-patterns that are invisible to unit
  * tests at test scale but fatal at cluster scale (the brief's "works on
  * 60k rows" trap). Runs as a plain file scan so a regression fails CI
  * even if no behavioural test covers the offending path. */
class SourceGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  // Code lines only: scaladoc and comment lines are skipped and a
  // trailing ` //` comment is cut (line-wise, so a "/*" glob inside a
  // string cannot hide the code after it)
  private def code(text: String): Iterator[String] = text.linesIterator
    .map(_.trim)
    .filterNot(l => l.startsWith("//") || l.startsWith("/*") || l.startsWith("*"))
    .map(_.replaceAll("""\s//.*$""", ""))

  test("no driver-side collect() in main sources") {
    // collect() pulls the whole distributed result into the driver — any
    // sink or operator doing it OOMs at real scale. toLocalIterator /
    // foreachPartition are the bounded alternatives.
    val offenders = mainSources.collect {
      case (p, text) if text.contains(".collect()") || text.contains("collectAsList") => p
    }
    assert(offenders.isEmpty,
      s"driver-side collect in main sources: ${offenders.mkString(", ")}")
  }

  test("no eager barrier outside CacheRegistry") {
    // every localCheckpoint/checkpoint goes through CacheRegistry.cut, so
    // spark.sql.graft.checkpointDir covers every eager barrier
    val call = """\.(localCheckpoint|checkpoint)\s*\(""".r
    val offenders = mainSources.collect {
      case (p, text) if !p.endsWith(Paths.get("core", "CacheRegistry.scala")) &&
          code(text).exists(call.findFirstIn(_).isDefined) => p
    }
    assert(offenders.isEmpty,
      s"eager barrier outside CacheRegistry.cut: ${offenders.mkString(", ")}")
  }

  test("no bounded drain outside CacheRegistry.pull") {
    // every bounded model leaves the executors through CacheRegistry.pull:
    // one job of one task, under spark.driver.maxResultSize. A drain is a
    // toLocalIterator, a head(n), or a take on a frame chain (after a
    // call's closing paren, or on a continuation line); a one-row
    // aggregate's head() is a scalar read. Allowed, one line each: the
    // stdout sink streams output and drains no model (sinks/Sinks.scala);
    // the fixture synthesis streams a gate's input rows (SparkEntry.scala);
    // Similarity.trainPq's ordered top-k is bounded by its own k
    val drain = """toLocalIterator|\.head\([^)]|(^|\))\.take\(""".r
    val allowed = Map(Paths.get("core", "CacheRegistry.scala") -> Int.MaxValue,
      Paths.get("sinks", "Sinks.scala") -> 1, Paths.get("graft", "SparkEntry.scala") -> 1,
      Paths.get("ml", "Similarity.scala") -> 1)
    val offenders = mainSources.collect {
      case (p, text) if code(text).count(drain.findFirstIn(_).isDefined) >
          allowed.collectFirst { case (a, n) if p.endsWith(a) => n }.getOrElse(0) => p
    }
    assert(offenders.isEmpty,
      s"bounded drain outside CacheRegistry.pull: ${offenders.mkString(", ")}")
  }

  test("no rename outside Stores") {
    // every store append, compaction, directory swap and sidecar write
    // commits through graft.core.Stores, which holds the crash contract.
    // WarcReader's per-task-attempt part commit runs on executors and
    // stays its own
    val allowed = Set(Paths.get("core", "Stores.scala"),
      Paths.get("sources", "WarcReader.scala"))
    val offenders = mainSources.collect {
      case (p, text) if !allowed.exists(p.endsWith) &&
          code(text).exists(_.contains(".rename(")) => p
    }
    assert(offenders.isEmpty,
      s"rename outside graft.core.Stores: ${offenders.mkString(", ")}")
  }

  test("no Spark count of a store read") {
    // a store's row count is the sum of its footer row counts
    // (Stores.rowCount, no job), so no store read is counted by a Spark
    // job. Caught, per statement (a continuation line starting with `.`
    // joins the line before it): a count after a store read in the same
    // statement, and a count on a name bound to a store read (`val x =
    // <read>`, or `case Some(x) =>` within three lines of a `<read>
    // match`), directly or inside its `map`
    val read = """readSeenStore\(|readParquetIfExists\(|\.parquet\(storePath\b""".r
    val counted = """\.count\(\)""".r
    def statements(text: String): Seq[String] =
      code(text).foldLeft(Vector.empty[String]) {
        case (acc, l) if l.startsWith(".") && acc.nonEmpty => acc.init :+ (acc.last + l)
        case (acc, l) => acc :+ l
      }
    def offending(text: String): Seq[String] = {
      val st = statements(text)
      val bound = st.indices.flatMap { i =>
        val byVal = """^val (\w+) = (.*)""".r.findFirstMatchIn(st(i))
          .filter(m => read.findFirstIn(m.group(2)).isDefined).map(_.group(1))
        val bySome =
          if (read.findFirstIn(st(i)).isDefined && st(i).endsWith("match {"))
            st.slice(i + 1, i + 4).flatMap(
              """case Some\((\w+)\) =>""".r.findFirstMatchIn(_).map(_.group(1)))
          else Nil
        byVal.toSeq ++ bySome
      }.toSet
      st.filter { s =>
        read.findFirstMatchIn(s).exists(m => counted.findFirstIn(s.drop(m.end)).isDefined) ||
          bound.exists(n => s.contains(s"$n.count()") ||
            (s.contains(s"$n.map(") && counted.findFirstIn(s).isDefined))
      }
    }
    val offenders = mainSources.flatMap { case (p, text) =>
      offending(text).map(s => s"${p.getFileName}: $s")
    }
    assert(offenders.isEmpty,
      s"store read counted by a Spark job (use Stores.rowCount):\n${offenders.mkString("\n")}")
  }

  test("no NUL or other raw control bytes in main sources") {
    // a raw control byte makes git treat the file as binary (no diff or
    // review); escape sequences express the same value as text
    val offenders = mainSources.collect {
      case (p, text) if text.exists(c => c < ' ' && c != '\n' && c != '\r' && c != '\t') => p
    }
    assert(offenders.isEmpty,
      s"raw control bytes in main sources: ${offenders.mkString(", ")}")
  }
}
