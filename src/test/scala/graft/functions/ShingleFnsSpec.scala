package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native shingle kernels must be VALUE-IDENTICAL to the composed
  * formulation (split → zipped slices → zip_with → array_distinct) that
  * the DuckDB oracles were written against — including the hashed form,
  * which must equal transform(shingles, xxhash64) element for element. */
class ShingleFnsSpec extends SparkSpec {
  import spark.implicits._

  private val battery = Seq(
    "the quick brown fox jumps over the lazy dog",
    "  leading whitespace token semantics test case here",   // leading "" token
    "trailing whitespace stays significant too   ",
    "tabs\tand\nnewlines\r\nsplit like spaces here now",
    "one",
    "two tokens",
    "exactly five tokens right here now",
    "a a a a a a a a",                                       // repeats → distinct
    "a b a b a b a b a b",                                   // repeated grams
    "  nbsp and em-space are NOT \\s whitespace",  // unicode ws
    "punct, stays. inside! tokens? ok;",
    "",
    null,
  )

  test("unicode mode splits non-ASCII whitespace; default pins Java \\s+ semantics") {
    import spark.implicits._
    // NBSP (U+00A0) and ideographic space (U+3000) join tokens under the
    // default Java \s+ contract (oracle-parity mode) but are word breaks
    // for a real multilingual corpus — the opt-in UNICODE_CHARACTER_CLASS
    // mode splits them like ASCII blanks
    val nbsp = "alpha\u00A0beta gamma\u3000delta"
    val ascii = "alpha beta gamma delta"
    val df = Seq((nbsp, ascii)).toDF("nb", "as")
    val r = df.select(
      ShingleFns.shingles($"nb", 2).as("d"),
      ShingleFns.shingles($"nb", 2, unicode = true).as("u"),
      ShingleFns.shingles($"as", 2).as("a"),
      ShingleFns.shingles($"as", 2, unicode = true).as("au")).head()
    // default: NBSP/ideographic-joined words stay single tokens — two
    // tokens total, one 2-gram
    assert(r.getSeq[String](0) == Seq("alpha\u00A0beta gamma\u3000delta"))
    // unicode: four tokens, normal 2-gram shingles
    assert(r.getSeq[String](1) == Seq("alpha beta", "beta gamma", "gamma delta"))
    // pure-ASCII-whitespace text is identical in both modes (so the flag
    // cannot change any gate/oracle hash on the test corpora)
    assert(r.getSeq[String](2) == r.getSeq[String](3))
    // hashed form agrees with the string form under unicode mode too
    val h = df.select(
      ShingleFns.hashedShingles($"nb", 2, unicode = true).as("hu"),
      transform(ShingleFns.shingles($"nb", 2, unicode = true), g => xxhash64(g)).as("hc"))
      .head()
    assert(h.getSeq[Long](0) == h.getSeq[Long](1))
  }

  test("md5TokenHashes equals the composed md5/conv formulation") {
    val df = battery.toDF("t")
    val rows = df.select(
      ShingleFns.md5TokenHashes($"t").as("k"),
      graft.ReferenceTwins.simhashTokenHashesComposed($"t").as("c")).collect()
    for ((r, t) <- rows.zip(battery)) {
      val k = if (r.isNullAt(0)) null else r.getSeq[Long](0)
      val c = if (r.isNullAt(1)) null else r.getSeq[Long](1)
      assert(k == c, s"text '$t': kernel=$k composed=$c")
    }
  }

  test("tokenCounts equals the explode+groupBy term-frequency formulation") {
    val df = battery.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val viaKernel = df.select($"id",
        explode(ShingleFns.tokenCounts($"t")).as("tc"))
      .select($"id", $"tc.token", $"tc.cnt")
      .as[(Long, String, Long)].collect().toSet
    val viaAgg = df.select($"id", explode(split($"t", "\\s+")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"id", $"token").count()
      .as[(Long, String, Long)].collect().toSet
    assert(viaKernel == viaAgg)
  }

  for (n <- Seq(1, 3, 5)) {
    test(s"shingles kernel equals the composed formulation at n=$n") {
      val df = battery.toDF("t")
      val rows = df.select(
        ShingleFns.shingles($"t", n).as("k"),
        graft.ReferenceTwins.shinglesComposed($"t", n).as("c")).collect()
      for ((r, t) <- rows.zip(battery)) {
        val k = if (r.isNullAt(0)) null else r.getSeq[String](0)
        val c = if (r.isNullAt(1)) null else r.getSeq[String](1)
        assert(k == c, s"text '$t' n=$n: kernel=$k composed=$c")
      }
    }

    test(s"hashedShingles equals transform(shingles, xxhash64) at n=$n") {
      val df = battery.toDF("t")
      val rows = df.select(
        ShingleFns.hashedShingles($"t", n).as("k"),
        transform(graft.ReferenceTwins.shinglesComposed($"t", n),
          s => xxhash64(s)).as("c")).collect()
      for ((r, t) <- rows.zip(battery)) {
        val k = if (r.isNullAt(0)) null else r.getSeq[Long](0)
        val c = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        assert(k == c, s"text '$t' n=$n: kernel=$k composed=$c")
      }
    }

    test(s"ngramsAll kernel equals the composed formulation at n=$n") {
      val df = battery.toDF("t")
      val rows = df.select(
        ShingleFns.ngramsAll($"t", n).as("k"),
        graft.ReferenceTwins.ngramsAllComposed($"t", n).as("c")).collect()
      for ((r, t) <- rows.zip(battery)) {
        val k = if (r.isNullAt(0)) null else r.getSeq[String](0)
        val c = if (r.isNullAt(1)) null else r.getSeq[String](1)
        assert(k == c, s"text '$t' n=$n: kernel=$k composed=$c")
      }
    }

    test(s"hashedNgramsAll equals transform(ngramsAll, xxhash64) at n=$n") {
      val df = battery.toDF("t")
      val rows = df.select(
        ShingleFns.hashedNgramsAll($"t", n).as("k"),
        transform(graft.ReferenceTwins.ngramsAllComposed($"t", n),
          g => xxhash64(g)).as("c")).collect()
      for ((r, t) <- rows.zip(battery)) {
        val k = if (r.isNullAt(0)) null else r.getSeq[Long](0)
        val c = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        assert(k == c, s"text '$t' n=$n: kernel=$k composed=$c")
      }
    }
  }
}
