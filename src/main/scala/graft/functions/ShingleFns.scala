package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-shingle (n-gram set) construction as ONE native kernel call.
  *
  * The composed form (regex split → zipped shifted slices → zip_with
  * concat → array_distinct, short-doc clip via when) costs ~0.9 s per
  * full sf0.1 corpus pass — higher-order functions interpret per
  * element, and every stage materializes an intermediate array. The
  * kernel builds the distinct grams in one pass. `hashedShingles`
  * additionally fuses the xxhash64 most callers apply next (the
  * interpreted `transform(…, xxhash64)` per-element eval disappears);
  * hash bytes/seed are exactly Spark's XxHash64 over the gram string.
  *
  * Semantics are EXACTLY the test-scope twin
  * `graft.ReferenceTwins.shinglesComposed` (ShingleFnsSpec pins the
  * equivalence on an edge battery): Java `\s+` split with -1 limit
  * (leading empty token on leading whitespace, unicode spaces NOT \s),
  * grams joined with ' ', docs shorter than n clip to their single
  * space-joined gram, distinct keeps first-occurrence order.
  *
  * `unicode = true` opts a kernel into `UNICODE_CHARACTER_CLASS`
  * tokenization (NBSP, ideographic space, … split like ASCII blanks) —
  * the right mode for real multilingual corpora, where NBSP-joined
  * tokens would otherwise never dedup. Default stays the Java-`\s+`
  * contract so hashes/gates and the cross-engine oracle are unchanged;
  * the two modes hash identically on pure-ASCII-whitespace text. */
object ShingleFns {
  private def col(e: Expression): Column = org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def expr(c: Column): Expression = org.apache.spark.sql.graftbridge.Bridge.expression(c)

  def shingles(text: Column, n: Int, unicode: Boolean = false): Column =
    col(ShinglesExpr(expr(text), n, unicode))
  def hashedShingles(text: Column, n: Int, unicode: Boolean = false): Column =
    col(HashedShinglesExpr(expr(text), n, unicode))
  def ngramsAll(text: Column, n: Int, unicode: Boolean = false): Column =
    col(NgramsAllExpr(expr(text), n, unicode))
  def hashedNgramsAll(text: Column, n: Int, unicode: Boolean = false): Column =
    col(HashedNgramsAllExpr(expr(text), n, unicode))
  def md5TokenHashes(text: Column, unicode: Boolean = false): Column =
    col(Md5TokenHashesExpr(expr(text), unicode))
  def tokenCounts(text: Column, unicode: Boolean = false): Column =
    col(TokenCountsExpr(expr(text), unicode))
  def md5ShingleHashes(text: Column, n: Int, unicode: Boolean = false): Column =
    col(Md5ShingleHashesExpr(expr(text), n, unicode))
  def minhashCalibPair(textA: Column, textB: Column, n: Int,
      numHashes: Int, unicode: Boolean = false): Column =
    col(MinhashCalibPairExpr(expr(textA), expr(textB), n, numHashes, unicode))

  // ---- static kernels (called from generated code) ------------------------

  private val Ws = java.util.regex.Pattern.compile("\\s+")
  private val WsUnicode = java.util.regex.Pattern.compile("\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  private def toks(text: UTF8String, unicode: Boolean): Array[String] =
    (if (unicode) WsUnicode else Ws).split(text.toString, -1)

  private def gramStrings(text: UTF8String, n: Int,
      unicode: Boolean): java.util.LinkedHashSet[String] = {
    val ts = toks(text, unicode)
    val out = new java.util.LinkedHashSet[String]()
    if (ts.length < n) out.add(String.join(" ", ts: _*))
    else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= ts.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(ts(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    out
  }

  /** ALL in-order n-grams WITH repeats (TextAnalysis.ngramsAll
    * semantics): size−n+1 grams, an EMPTY array for docs shorter than n
    * tokens (unlike shingles' clipped singleton). */
  private def gramArray(text: UTF8String, n: Int, unicode: Boolean): Array[String] = {
    val ts = toks(text, unicode)
    if (ts.length < n) return Array.empty[String]
    val out = new Array[String](ts.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= ts.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ts(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def ngramsAllKernel(text: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val grams = gramArray(text, n, unicode)
    val arr = new Array[Any](grams.length)
    var i = 0
    while (i < grams.length) { arr(i) = UTF8String.fromString(grams(i)); i += 1 }
    new GenericArrayData(arr)
  }

  def hashedNgramsAllKernel(text: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val grams = gramArray(text, n, unicode)
    val arr = new Array[Long](grams.length)
    var i = 0
    while (i < grams.length) {
      val u = UTF8String.fromString(grams(i))
      arr(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(arr)
  }

  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Per-DISTINCT-token 32-bit md5 hashes (Dedup.simhashTokenHashes
    * semantics): low 4 digest bytes as an unsigned value — exactly
    * `conv(substring(md5(t), 25, 8), 16, 10).cast("long")` over
    * `array_distinct(tokens(text))`, fused into one pass. */
  def md5TokenHashesKernel(text: UTF8String, unicode: Boolean): ArrayData = {
    val ts = toks(text, unicode)
    val seen = new java.util.LinkedHashSet[String]()
    var t = 0
    while (t < ts.length) { seen.add(ts(t)); t += 1 }
    val arr = new Array[Long](seen.size)
    val md = Md5.get()
    val it = seen.iterator(); var i = 0
    while (it.hasNext) {
      md.reset()
      val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      arr(i) = ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** Per-document term frequencies in one pass: (token, count) structs
    * for every distinct NON-EMPTY whitespace token, first-occurrence
    * order. Map-side pre-aggregation for tf-idf: explode emits one row
    * per distinct term instead of one per token, and the
    * groupBy(id, token) shuffle aggregation disappears entirely. */
  def tokenCountsKernel(text: UTF8String, unicode: Boolean): ArrayData = {
    val ts = toks(text, unicode)
    val counts = new java.util.LinkedHashMap[String, Long]()
    var t = 0
    while (t < ts.length) {
      if (ts(t).nonEmpty) counts.merge(ts(t), 1L, (a, b) => a + b)
      t += 1
    }
    val arr = new Array[Any](counts.size)
    val it = counts.entrySet().iterator(); var i = 0
    while (it.hasNext) {
      val e = it.next()
      arr(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue))
      i += 1
    }
    new GenericArrayData(arr)
  }

  def shinglesKernel(text: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val grams = gramStrings(text, n, unicode)
    val arr = new Array[Any](grams.size)
    val it = grams.iterator(); var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  /** Distinct md5-low-32 shingle hashes in one pass — exactly
    * `array_distinct(transform(shingles(text, n), s =>
    * conv(substring(md5(s), 25, 8), 16, 10).cast("long")))`: the
    * cross-engine replayable hash family of [[Dedup.minhashBandStats]] /
    * [[Dedup.minhashCalibration]], without the hex-string round trip
    * (md5 → 32-char hex → substring → conv re-parse) or the interpreted
    * per-element transform. gramStrings is already first-occurrence
    * distinct on STRINGS; the LinkedHashSet here additionally drops
    * later 32-bit hash collisions, matching the outer array_distinct. */
  private[functions] def md5ShingleHashArr(text: UTF8String, n: Int,
      unicode: Boolean): Array[Long] = {
    val grams = gramStrings(text, n, unicode)
    val md = Md5.get()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val it = grams.iterator()
    while (it.hasNext) {
      md.reset()
      val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      seen.add(((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL))
    }
    val arr = new Array[Long](seen.size)
    val it2 = seen.iterator(); var i = 0
    while (it2.hasNext) { arr(i) = it2.next(); i += 1 }
    arr
  }

  def md5ShingleHashesKernel(text: UTF8String, n: Int, unicode: Boolean): ArrayData =
    new GenericArrayData(md5ShingleHashArr(text, n, unicode))

  /** Fused minhash-calibration pair kernel (the whole per-row body of
    * [[Dedup.minhashCalibration]] in ONE call): distinct md5-low-32
    * shingle hashes per side, `matches` = number of agreeing affine
    * permutation minima p_k(h) = (h·(1000003+2k) + 12289k+1) mod 2^32
    * over k < numHashes, `jacc_band` = ⌊10·|A∩B| / |A∪B|⌋ with the
    * division replayed EXACTLY as Spark's
    * `floor(10 * inter / (sizeA + sizeB - inter))` (long→double divide,
    * then floor). Sides are non-empty by construction (gramStrings emits
    * ≥ 1 gram for any non-null text), so the union is never zero; null
    * inputs null out via BinaryExpression. */
  def minhashCalibPairKernel(a: UTF8String, b: UTF8String, n: Int,
      numHashes: Int, unicode: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val ha = md5ShingleHashArr(a, n, unicode)
    val hb = md5ShingleHashArr(b, n, unicode)
    // permutation minima, element-outer/k-inner like minhashBandsKernel
    val sigA = new Array[Long](numHashes)
    val sigB = new Array[Long](numHashes)
    java.util.Arrays.fill(sigA, Long.MaxValue)
    java.util.Arrays.fill(sigB, Long.MaxValue)
    var i = 0
    while (i < ha.length) {
      val h = ha(i)
      var k = 0
      while (k < numHashes) {
        val v = (h * (1000003L + 2L * k) + 12289L * k + 1L) % 4294967296L
        if (v < sigA(k)) sigA(k) = v
        k += 1
      }
      i += 1
    }
    i = 0
    while (i < hb.length) {
      val h = hb(i)
      var k = 0
      while (k < numHashes) {
        val v = (h * (1000003L + 2L * k) + 12289L * k + 1L) % 4294967296L
        if (v < sigB(k)) sigB(k) = v
        k += 1
      }
      i += 1
    }
    var matches = 0L
    var k = 0
    while (k < numHashes) { if (sigA(k) == sigB(k)) matches += 1; k += 1 }
    // |A∩B| over the distinct hash arrays (open-addressing set over the
    // smaller side, the jaccardLongKernel layout)
    val (small, big) = if (ha.length <= hb.length) (ha, hb) else (hb, ha)
    var cap = 8
    while (cap < small.length * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val mask = cap - 1
    i = 0
    while (i < small.length) {
      val v = small(i)
      var idx = (ArrayFns.mix0(v) & 0x7fffffffffffffffL).toInt & mask
      while (used(idx) && table(idx) != v) idx = (idx + 1) & mask
      if (!used(idx)) { used(idx) = true; table(idx) = v }
      i += 1
    }
    var inter = 0L
    i = 0
    while (i < big.length) {
      val v = big(i)
      var idx = (ArrayFns.mix0(v) & 0x7fffffffffffffffL).toInt & mask
      while (used(idx) && table(idx) != v) idx = (idx + 1) & mask
      if (used(idx)) inter += 1
      i += 1
    }
    val union = ha.length.toLong + hb.length - inter
    val band = math.floor((10L * inter).toDouble / union.toDouble).toLong
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](matches, band))
  }

  def hashedShinglesKernel(text: UTF8String, n: Int, unicode: Boolean): ArrayData = {
    val grams = gramStrings(text, n, unicode)
    val arr = new Array[Long](grams.size)
    val it = grams.iterator(); var i = 0
    while (it.hasNext) {
      val u = UTF8String.fromString(it.next())
      // exactly Spark's XxHash64 over a string value (seed 42)
      arr(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(arr)
  }
}

case class TokenCountsExpr(child: Expression, unicode: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.tokenCountsKernel(input.asInstanceOf[UTF8String], unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleFns.tokenCountsKernel($c, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "token_counts"
}

case class Md5TokenHashesExpr(child: Expression, unicode: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.md5TokenHashesKernel(input.asInstanceOf[UTF8String], unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleFns.md5TokenHashesKernel($c, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "md5_token_hashes"
}

case class NgramsAllExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.ngramsAllKernel(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleFns.ngramsAllKernel($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ngrams_all"
}

case class HashedNgramsAllExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.hashedNgramsAllKernel(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleFns.hashedNgramsAllKernel($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "hashed_ngrams_all"
}

case class ShinglesExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.shinglesKernel(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleFns.shinglesKernel($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "shingles"
}

case class HashedShinglesExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.hashedShinglesKernel(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleFns.hashedShinglesKernel($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "hashed_shingles"
}

case class Md5ShingleHashesExpr(child: Expression, n: Int,
    unicode: Boolean = false) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ShingleFns.md5ShingleHashesKernel(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleFns.md5ShingleHashesKernel($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "md5_shingle_hashes"
}

case class MinhashCalibPairExpr(left: Expression, right: Expression, n: Int,
    numHashes: Int, unicode: Boolean = false) extends BinaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  require(numHashes >= 1, "numHashes must be >= 1")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("matches", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("jacc_band", LongType, nullable = false)))
  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleFns.minhashCalibPairKernel(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n, numHashes, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ShingleFns.minhashCalibPairKernel($a, $b, $n, $numHashes, $unicode)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_calib_pair"
}
