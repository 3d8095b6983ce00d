package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Cavnar–Trenkle language-ID classification as a native codegen'd
  * kernel — the model (per-language gram→rank tables) rides INSIDE the
  * expression like BPE's merge table ([[BpeCodec]]): serialized with the
  * plan, surfaced to generated code via `addReferenceObj`, no broadcast
  * bookkeeping, whole-stage codegen unbroken.
  *
  * Why not built-in expressions: the all-builtins form (sort the trigram
  * array, run-length encode, fold against `typedlit` map literals) is
  * semantically identical but Spark's map-literal `element_at` is a
  * LINEAR scan — |langs| × topK × |profile| string comparisons per
  * document, measured 3× SLOWER than even the r11 window-join plan at
  * sf0.1. A real hash probe is the difference between O(L + K·|langs|)
  * and O(L + K·|langs|·K) per doc.
  *
  * Exact semantic contract (the DuckDB oracle replays it, so every
  * detail is pinned):
  *  - lowercase via [[UTF8String.toLowerCase]] — the same call Spark's
  *    `lower` makes under UTF8_BINARY collation;
  *  - trigrams are 3 CODE POINTS (Spark `substr` semantics), counted
  *    over the whole text; under 3 code points → null verdict;
  *  - doc ranks: top-K distinct grams by (count desc, gram asc) where
  *    gram order is UTF8 BYTE order ([[UTF8String.compareTo]] — Spark's
  *    string ordering, NOT Java's UTF-16 order);
  *  - distance per language: Σ over ranked grams of
  *    |doc_rank − profile_rank|, or topK when the profile lacks the
  *    gram; winner = min (distance, lang) with lang in UTF8 byte order.
  */
final case class LangIdModel(langs: Seq[(String, Map[String, Int])],
    topK: Int) extends Serializable {

  @transient private lazy val langNames: Array[UTF8String] =
    sorted.map(l => UTF8String.fromString(l._1)).toArray

  @transient private lazy val sorted: Seq[(String, Map[String, Int])] =
    langs.sortWith((a, b) =>
      UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0)

  @transient private lazy val tables: Array[java.util.HashMap[UTF8String, Integer]] =
    sorted.map { case (_, m) =>
      val t = new java.util.HashMap[UTF8String, Integer](m.size * 2)
      m.foreach { case (g, r) => t.put(UTF8String.fromString(g), Integer.valueOf(r)) }
      t
    }.toArray

  /** struct(lang, distance) of the best language, or null when the text
    * has no trigrams. Called from generated code. */
  def bestKernel(text: UTF8String): InternalRow = {
    if (langNames.length == 0) return null
    val counts = LangIdModel.trigramCountMap(text)
    if (counts == null) return null

    // rank top-K by (count desc, gram asc — UTF8 byte order) via a
    // BOUNDED selection: a size-K worst-first heap plus a final sort of
    // just those K entries — O(L log K) where the old full sort paid
    // O(L log L) over every distinct trigram of every document (tens of
    // thousands for a long page, for a topK of a few hundred)
    type Ent = java.util.Map.Entry[UTF8String, Array[Int]]
    val cmp: java.util.Comparator[Ent] = (a: Ent, e: Ent) => {
      val d = e.getValue()(0) - a.getValue()(0)
      if (d != 0) d else a.getKey.compareTo(e.getKey)
    }
    val heap = new java.util.PriorityQueue[Ent](
      math.max(1, math.min(topK, counts.size())), cmp.reversed())
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val ent = it.next()
      if (heap.size() < topK) heap.add(ent)
      else if (cmp.compare(ent, heap.peek()) < 0) { heap.poll(); heap.add(ent) }
    }
    val entries = new java.util.ArrayList[Ent](heap)
    entries.sort(cmp)
    val m = math.min(topK, entries.size)

    var bestLang: UTF8String = null
    var bestDist = Long.MaxValue
    var l = 0
    while (l < tables.length) {
      val table = tables(l)
      var dist = 0L
      var j = 0
      while (j < m) {
        val r = table.get(entries.get(j).getKey)
        if (r == null) dist += topK
        else dist += math.abs(j + 1 - r.intValue).toLong
        j += 1
      }
      if (dist < bestDist) { bestDist = dist; bestLang = langNames(l) }
      l += 1
    }
    new GenericInternalRow(Array[Any](bestLang, bestDist))
  }
}

object LangIdModel {
  /** Lowercased code-point-trigram multiset of the text as a hash map,
    * or null when the text has fewer than 3 code points. One byte pass
    * for the offsets — UTF8String.substring would rescan from 0 per
    * call, O(L²) on long docs. */
  private[functions] def trigramCountMap(
      text: UTF8String): java.util.HashMap[UTF8String, Array[Int]] = {
    val t = text.toLowerCase
    val bytes = t.getBytes
    val nBytes = bytes.length
    var n = 0
    var b = 0
    while (b < nBytes) { b += UTF8String.numBytesForFirstByte(bytes(b)); n += 1 }
    if (n < 3) return null
    val offs = new Array[Int](n + 1)
    b = 0
    var c = 0
    while (c < n) {
      offs(c) = b; b += UTF8String.numBytesForFirstByte(bytes(b)); c += 1
    }
    offs(n) = nBytes
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var i = 0
    while (i <= n - 3) {
      val g = UTF8String.fromBytes(bytes, offs(i), offs(i + 3) - offs(i))
      val cur = counts.get(g)
      if (cur == null) counts.put(g, Array(1)) else cur(0) += 1
      i += 1
    }
    counts
  }

  /** (gram, cnt) rows of the text's trigram multiset — the TRAINING-side
    * kernel: emitting pre-counted pairs instead of one row per trigram
    * occurrence shrinks the explode (and the partial aggregate's input)
    * by the text's repetition factor. Empty array under 3 code points.
    * Called from generated code. */
  def trigramCountsKernel(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val counts = trigramCountMap(text)
    if (counts == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object LangIdFns {
  private def col(e: Expression): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.graftbridge.Bridge.expression(c)

  /** struct&lt;lang:string, distance:bigint&gt; of the best-matching
    * language, null for sub-trigram/null text. */
  def langIdBest(text: Column, model: LangIdModel): Column =
    col(LangIdBestExpr(expr(text), model))

  /** array&lt;struct&lt;gram:string, cnt:int&gt;&gt; — the text's trigram
    * multiset pre-counted per row (training side; empty for sub-trigram
    * text). */
  def trigramCounts(text: Column): Column =
    col(TrigramCountsExpr(expr(text)))
}

case class TrigramCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    StructType(Seq(
      StructField("gram", StringType, nullable = false),
      StructField("cnt", org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    LangIdModel.trigramCountsKernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LangIdModel$$.MODULE$$.trigramCountsKernel($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "trigram_counts"
}

case class LangIdBestExpr(child: Expression, model: LangIdModel)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("distance", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    model.bestKernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdModel", model,
      "graft.functions.LangIdModel")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.bestKernel($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "langid_best"
}
