package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The stupid-backoff scoring lattice as ONE broadcast-model kernel pass
  * (r19, guide §2.4 + §8's decide-with-small-rows rule).
  *
  * The composed [[graft.ml.NgramLm.score]] plan exploded the positional
  * gram lattice over the CORPUS (order × tokens rows per doc), joined it
  * against the model frame, and re-collected it per doc
  * (sort_array(collect_list)) — at 100 TB that is two corpus-scale wide
  * stages for a decision that depends only on (text, bounded model).
  * This expression ships the drained model once per executor through a
  * [[Broadcast]] HANDLE (the BloomMightContainBcast pattern — the task
  * binary carries bytes, never the model) and scores each document
  * in-row: ZERO exchanges, scan speed.
  *
  * Bit-exactness contract (NgramLmSpec pins kernel == composed on an
  * edge battery; the q_ngram_lm oracle hash pins it on the corpus):
  * tokens from `lower(text)` under the same Java `\s+` split; level-k
  * gram ending at position p is tokens[p-k+1..p] joined by ' '; the
  * backoff scan takes the LONGEST level whose gram is in the model,
  * value = alpha^(kmax-k) (as repeated multiplication, the composed
  * fold) × cnt/ctxCnt (level 1: cnt/N); sum_prob folds s(p) in position
  * order from 0.0; log_prob folds ln(max(s, 1/(2N))); perplexity =
  * exp(0.0 − log_prob/n). Null text yields the composed explode_outer
  * row: all-zero counts, 0.0 sums, null perplexity. A merged model's
  * duplicate (lvl, gram) partials SUM, duplicate lvl-0 totals SUM — the
  * same normalization the frame-join form applied. A surviving gram
  * whose prefix is absent (malformed hand-built model) poisons the
  * folds to null exactly like the composed null-propagating divide.
  */
final case class LmModel(levels: Array[java.util.HashMap[String, java.lang.Long]],
    n: Long) extends Serializable

object NgramLmFns {

  /** Drain bound for the broadcast model — the model-as-frame contract
    * keeps it at vocabulary scale (the 100× stress corpus trains 28k
    * rows); a larger model is refused by its one bounded
    * [[graft.core.CacheRegistry.pull]] and scores through the join plan. */
  val MaxModelRows = 4000000

  private val Ws = java.util.regex.Pattern.compile("\\s+")
  private val WsUnicode = java.util.regex.Pattern.compile("\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** Build the driver-side model from drained (lvl:int, gram:string,
    * cnt:long) rows ([[graft.ml.NgramLm.scoreBounded]] drains them):
    * levels 1..order into per-level maps (duplicates summed), lvl-0 rows
    * summed into N. */
  def buildModelFromRows(rows: Array[org.apache.spark.sql.Row],
      order: Int): LmModel = {
    val levels = Array.fill(order)(new java.util.HashMap[String, java.lang.Long]())
    var n = 0L
    rows.foreach { r =>
      val lvl = r.getInt(0)
      if (lvl == 0) n += r.getLong(2)
      else if (lvl >= 1 && lvl <= order)
        levels(lvl - 1).merge(r.getString(1),
          java.lang.Long.valueOf(r.getLong(2)),
          new java.util.function.BiFunction[java.lang.Long, java.lang.Long,
              java.lang.Long] {
            override def apply(a: java.lang.Long,
                b: java.lang.Long): java.lang.Long =
              java.lang.Long.valueOf(a.longValue + b.longValue)
          })
      // levels beyond `order` are unreachable by the scan — ignored,
      // matching the composed join (no lattice row has lvl > order)
    }
    LmModel(levels, n)
  }

  def lmScoreKernel(text: UTF8String, model: LmModel, order: Int,
      alpha: Double, unicode: Boolean): GenericInternalRow = {
    if (text == null)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L, 0.0, 0.0, null))
    val ts = (if (unicode) WsUnicode else Ws)
      .split(text.toLowerCase.toString, -1)
    val n = ts.length
    val bigN = model.n
    val floorP = 1.0 / (2.0 * bigN.toDouble)
    def gram(k: Int, p: Int): String =
      if (k == 1) ts(p)
      else {
        val sb = new java.lang.StringBuilder
        var i = p - k + 1
        while (i <= p) {
          if (i > p - k + 1) sb.append(' ')
          sb.append(ts(i))
          i += 1
        }
        sb.toString
      }
    var matched = 0L
    var backoff = 0L
    var oov = 0L
    var sumProb = 0.0
    var logProb = 0.0
    var poisoned = false
    var p = 0
    while (p < n) {
      val kmax = math.min(order, p + 1)
      var used = 0
      var s = 0.0
      var k = order
      var done = false
      while (!done && k >= 2) {
        if (p >= k - 1) {
          val c = model.levels(k - 1).get(gram(k, p))
          if (c != null) {
            val ctx = model.levels(k - 2).get(gram(k - 1, p - 1))
            if (ctx == null) poisoned = true // malformed model: composed divide nulls out
            else {
              var a = 1.0
              var m = kmax - k
              while (m > 0) { a *= alpha; m -= 1 }
              s = a * (c.longValue.toDouble / ctx.longValue.toDouble)
            }
            used = k
            done = true
          }
        }
        k -= 1
      }
      if (!done) {
        val c1 = model.levels(0).get(ts(p))
        if (c1 != null) {
          var a = 1.0
          var m = kmax - 1
          while (m > 0) { a *= alpha; m -= 1 }
          s = a * (c1.longValue.toDouble / bigN.toDouble)
          used = 1
        }
      }
      if (used == kmax) matched += 1
      else if (used > 0) backoff += 1
      else oov += 1
      sumProb += s
      // StrictMath, not Math: Spark's codegen'd log/exp lower to
      // StrictMath (probed: exp(1.0986122886681098) = 3.0 strict vs
      // ...004 fdlibm-free Math) — the fold must match bit-for-bit
      logProb += java.lang.StrictMath.log(math.max(s, floorP))
      p += 1
    }
    if (poisoned)
      new GenericInternalRow(Array[Any](n.toLong, matched, backoff, oov,
        null, null, null))
    else
      new GenericInternalRow(Array[Any](n.toLong, matched, backoff, oov,
        sumProb, logProb,
        if (n > 0) java.lang.StrictMath.exp(0.0 - logProb / n.toDouble) else null))
  }
}

case class LmScoreBcastExpr(bcast: Broadcast[LmModel], child: Expression,
    order: Int, alpha: Double, unicode: Boolean) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("matched_full", LongType, nullable = false),
    StructField("backoff", LongType, nullable = false),
    StructField("oov", LongType, nullable = false),
    StructField("sum_prob", DoubleType, nullable = true),
    StructField("log_prob", DoubleType, nullable = true),
    StructField("perplexity", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "lm_score_bcast"

  @transient private lazy val model: LmModel = bcast.value

  override def eval(input: InternalRow): Any =
    NgramLmFns.lmScoreKernel(
      child.eval(input).asInstanceOf[UTF8String], model, order, alpha, unicode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val modelClass = classOf[LmModel].getName
    val ref = ctx.addReferenceObj("lmBcast", bcast, classOf[Broadcast[_]].getName)
    // resolved once per generated-class instance — the row path never
    // touches Broadcast.value (the BloomMightContainBcast pattern)
    val modelVar = ctx.addMutableState(modelClass, "lmModel",
      v => s"$v = ($modelClass) $ref.value();")
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
        InternalRow ${ev.value} = graft.functions.NgramLmFns.lmScoreKernel(
          ${c.isNull} ? null : ${c.value}, $modelVar, $order, ${alpha}D, $unicode);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
