package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for each left row, attach the single most
  * recent right row with `right.ts <= left.ts` within the same key — the
  * "last touch" / latest-dimension-version lookup a log-enrichment pipeline
  * needs (e.g. each event joined to the user's most recent prior purchase).
  *
  * Spark has no ASOF JOIN operator; the naive encoding
  * (`JOIN ON key AND r.ts <= l.ts` + max-per-group) is an inequality join
  * Catalyst can only run as a broadcast-nested-loop or a per-key explosion
  * — quadratic in events-per-key, hopeless at 100 TB. This implementation
  * composes it from primitives Catalyst DOES optimize:
  *
  *   1. UNION the two sides into one frame tagged `__side` (0=right,
  *      1=left), right payload carried as ONE struct column (atomic: the
  *      matched columns always come from the same right row, even when
  *      some right values are legitimately null).
  *   2. One window `partitionBy(keys).orderBy(ts, side).rowsBetween(-∞, 0)`
  *      carrying `last(struct, ignoreNulls=true)` — the most recent right
  *      row at-or-before each left row. At equal timestamps the right row
  *      sorts first (side 0 < 1), so `r.ts == l.ts` matches — the same
  *      inclusive `>=` contract as DuckDB/Pandas ASOF.
  *   3. Keep left rows, unpack the struct; optionally null the match out
  *      when it is older than `toleranceSec`.
  *
  * Scale shape: cost is ONE hash exchange on the keys plus a per-partition
  * sort — identical to what a sort-merge equi-join would pay, with zero
  * row amplification. Skewed keys degrade to a big sort per key, never to
  * a cross product; AQE's skew handling applies to the exchange as usual.
  */
object AsOfJoin {

  /** Left as-of join.
    *
    * @param left      probe side; all its columns are preserved
    * @param right     reference side (e.g. dimension versions, prior events)
    * @param keys      equi-join key columns (present on both sides)
    * @param leftTs    event-time column on `left` (TimestampType or numeric)
    * @param rightTs   event-time column on `right`
    * @param valueCols right columns to carry onto matched left rows
    * @param suffix    appended to carried right column names (collision-proof)
    * @param toleranceSec if set, matches older than this many seconds before
    *                  `leftTs` are nulled out (the "within tolerance" form)
    * @return left columns + (rightTs+suffix) + each valueCol+suffix, null
    *         where no right row is at-or-before the left row
    */
  def leftAsOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      suffix: String = "_right",
      toleranceSec: Option[Long] = None): DataFrame =
    joinAsOf(left, right, keys, leftTs, rightTs, valueCols, suffix,
      toleranceSec, forward = false)

  /** Forward variant: the single EARLIEST right row with
    * `right.ts >= left.ts` per key — "the next purchase after this
    * event", forward-fill, time-to-next-event features. Same plan shape
    * and tie contract (equal timestamps match) as [[leftAsOf]], with the
    * window walked in descending time order so "last right seen" is the
    * nearest at-or-after. `toleranceSec` bounds how far AHEAD the match
    * may be. */
  def leftAsOfForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      suffix: String = "_right",
      toleranceSec: Option[Long] = None): DataFrame =
    joinAsOf(left, right, keys, leftTs, rightTs, valueCols, suffix,
      toleranceSec, forward = true)

  /** Nearest variant (pandas merge_asof direction='nearest'): the single
    * right row minimizing |right.ts - left.ts| per key, backward winning
    * ties. Same ONE keyed exchange as [[leftAsOf]] — the union frame is
    * walked by two window functions over the same partitioning (one sort
    * ascending, one descending; Catalyst reuses the exchange), then the
    * smaller age wins per row. `toleranceSec` bounds the distance in
    * both directions. */
  def leftAsOfNearest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      suffix: String = "_right",
      toleranceSec: Option[Long] = None): DataFrame = {
    val ts    = TsCol
    val side  = SideCol
    val carry = CarryCol
    val cB    = "__graft_asof_carry_b"
    val cF    = "__graft_asof_carry_f"
    val (unioned, leftPayload) =
      asOfUnionFrame(left, right, keys, leftTs, rightTs, valueCols)

    // ONE union, ONE keyed exchange, TWO sorts: both windows partition on
    // the same keys (Catalyst reuses the exchange between them), one
    // walking time ascending (most recent at-or-before), one descending
    // (nearest at-or-after); side ASC in both keeps equal-timestamp
    // right rows ahead of the left row in walk order — ties inclusive,
    // the same contract as leftAsOf/leftAsOfForward.
    val wB = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).asc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).desc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = unioned
      .withColumn(cB, last(col(carry), ignoreNulls = true).over(wB))
      .withColumn(cF, last(col(carry), ignoreNulls = true).over(wF))
      .filter(col(side) === 1)

    val tsDt = unioned.schema(ts).dataType
    val ageB = tsMicros(tsDt, col(ts)) - tsMicros(tsDt, col(cB)(rightTs))
    val ageF = tsMicros(tsDt, col(cF)(rightTs)) - tsMicros(tsDt, col(ts))
    val tolUs = toleranceSec.map(_ * 1000000L)
    val okB = col(cB).isNotNull && tolUs.map(t => ageB <= t).getOrElse(lit(true))
    val okF = col(cF).isNotNull && tolUs.map(t => ageF <= t).getOrElse(lit(true))
    // nearest wins; ties go backward (the pandas merge_asof convention
    // documented here as: at equal distance the earlier version wins)
    val pick = when(okB && (!okF || ageB <= ageF), col(cB))
      .otherwise(when(okF, col(cF)))
    val out = (keys ++ leftPayload).map(col) ++
      (rightTs +: valueCols).map(c => pick(c).as(c + suffix))
    matched.select(out: _*)
  }

  private val TsCol    = "__graft_asof_ts"
  private val SideCol  = "__graft_asof_side"
  private val CarryCol = "__graft_asof_carry"

  /** Event time → microseconds for tolerance/nearest arithmetic. The
    * non-tolerance paths compare raw values and accept any orderable ts
    * type; age arithmetic needs a unit, so: timestamps via unix_micros,
    * NUMERIC event times interpreted as epoch SECONDS (the
    * `toleranceSec` unit — unix_micros on a numeric column is an
    * analysis error, which previously broke every documented
    * numeric-ts call the moment a tolerance or `nearest` was added). */
  private def tsMicros(dt: org.apache.spark.sql.types.DataType,
      c: Column): Column = dt match {
    case _: org.apache.spark.sql.types.NumericType =>
      (c.cast("double") * 1e6).cast("long")
    case _ => unix_micros(c.cast("timestamp"))
  }

  /** Shared union/carry construction for EVERY as-of direction: left
    * rows (side 1, typed-null carry) unioned with right rows (side 0,
    * carry struct of rightTs + valueCols), padded to one schema.
    *
    * Join semantics on NULL keys live HERE so all directions inherit
    * them: an equi-join (and the DuckDB ASOF oracle) never matches
    * NULL = NULL, but Window.partitionBy groups null keys into one
    * partition — so null-key RIGHT rows are dropped (they can match
    * nothing), and null-key left rows then see an all-left partition
    * and carry a null match, exactly like a left join. Mirrors
    * appendToTemporalStore's null-key drop. */
  private def asOfUnionFrame(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): (DataFrame, Seq[String]) = {
    require(keys.nonEmpty, "AsOfJoin: at least one key column")
    val leftPayload = left.columns.filterNot(keys.contains).toSeq
    val l = left
      .withColumn(TsCol, col(leftTs))
      .withColumn(SideCol, lit(1))
      .withColumn(CarryCol, lit(null).cast(
        right.select(struct((rightTs +: valueCols).map(col): _*)).schema.head.dataType))
      .select((keys ++ Seq(TsCol, SideCol, CarryCol) ++ leftPayload).map(col): _*)
    val r = right
      // null-TS right rows are dropped with null-KEY rows: ascending
      // order sorts nulls FIRST, so an un-dropped null-ts row would sit
      // at the head of every walk and be carried as a "match" that the
      // r.ts <= l.ts contract (and the DuckDB ASOF oracle) never makes —
      // appendToTemporalStore drops them on write for the same reason
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col(rightTs).isNotNull)
      .withColumn(TsCol, col(rightTs))
      .withColumn(SideCol, lit(0))
      .withColumn(CarryCol, struct((rightTs +: valueCols).map(col): _*))
      .select((keys.map(col) ++ Seq(col(TsCol), col(SideCol), col(CarryCol))
        ++ leftPayload.map(c => lit(null).cast(l.schema(c).dataType).as(c))): _*)
    (l.unionByName(r), leftPayload)
  }

  private def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      suffix: String,
      toleranceSec: Option[Long],
      forward: Boolean): DataFrame = {
    val ts    = TsCol
    val side  = SideCol
    val carry = CarryCol
    val (unioned, leftPayload) =
      asOfUnionFrame(left, right, keys, leftTs, rightTs, valueCols)

    // Backward walks time ascending ("last right seen" = most recent
    // at-or-before); forward walks it descending ("last right seen" =
    // nearest at-or-after). Either way the right row sorts before the
    // left row at equal timestamps (side 0 < 1), keeping ties inclusive.
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(if (forward) col(ts).desc else col(ts).asc, col(side).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = unioned
      .withColumn(carry, last(col(carry), ignoreNulls = true).over(w))
      .filter(col(side) === 1)

    val withTol = toleranceSec match {
      case Some(tol) =>
        // Tolerance compares event times in microseconds (timestamps) or
        // epoch seconds ×1e6 (numeric ts — see tsMicros); the whole
        // struct nulls atomically. Age is non-negative in both
        // directions by construction.
        val tsDt = unioned.schema(ts).dataType
        val age =
          if (forward) tsMicros(tsDt, col(carry)(rightTs)) - tsMicros(tsDt, col(ts))
          else tsMicros(tsDt, col(ts)) - tsMicros(tsDt, col(carry)(rightTs))
        matched.withColumn(carry,
          when(col(carry).isNotNull && age <= tol * 1000000L, col(carry)))
      case None => matched
    }

    val out = (keys ++ leftPayload).map(col) ++
      (rightTs +: valueCols).map(c => col(carry)(c).as(c + suffix))
    withTol.select(out: _*)
  }

  /** Convenience: carried-column expression for callers composing further. */
  def carried(name: String, suffix: String = "_right"): Column = col(name + suffix)

  // ---- cross-run temporal store -----------------------------------------
  //
  // The incremental twin of [[leftAsOf]], following the seen-store family's
  // contract (Dedup.appendToSeenStore): a parquet dir accumulates the
  // reference side's version history (keys | ts | values — a
  // slowly-changing-dimension log), each run appends its increment, and
  // enrichment as-of joins today's events against the store WITHOUT
  // re-reading or re-deriving the right side's past. Append is idempotent
  // (increment anti-joins the store on keys+ts first, so a re-run of the
  // same day adds nothing) and at-least-once crash-safe: append-mode
  // parquet writes can never corrupt existing rows. Single-writer per
  // store, like the other stores.
  //
  // Scale shape: the store is O(total versions ever), one row each — at
  // dimension-table rates (prices, configs, user attributes) that is
  // orders of magnitude below event volume. Enrichment pays the same ONE
  // keyed exchange as leftAsOf over store ∪ increment; the store side
  // arrives pre-projected from its parquet scan.

  /** Append the increment's (keys, ts, values) rows to the store at
    * `storePath`. Rows with a null key or null timestamp can never match
    * a probe (and would re-append every run), so they are dropped.
    * Returns the number of rows actually added. */
  def appendToTemporalStore(right: DataFrame, keys: Seq[String], tsCol: String,
      valueCols: Seq[String], storePath: String): Long = {
    val spark = right.sparkSession
    val proj = right
      .select((keys ++ (tsCol +: valueCols)).map(col): _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(tsCol).isNotNull)
    // FS-probed (never catch-PATH_NOT_FOUND, which logs a benign stack
    // on every first run — graft.core.Stores has the rationale)
    val fresh = graft.core.Stores.readParquetIfExists(spark, storePath)
      .map(s => proj.join(s, keys :+ tsCol, "left_anti"))
      .getOrElse(proj)
    // one-job counted append (r20): count and write are the SAME action,
    // so the old localCheckpoint barrier (count + write must see one
    // frame while the store changes under them) is structural now —
    // Stores.appendCountedFiles has the protocol and crash contract
    graft.core.Stores.appendCounted(fresh, storePath)
  }

  /** Rewrite the temporal store to ~`targetFiles` parquet files —
    * daily appends otherwise accumulate small files forever, and at
    * 100 TB the store scan's task count grows with file count, not
    * data. Also drops crash-duplicated rows (same keys + ts; by the
    * append contract such rows are full duplicates), which as-of
    * enrichment is insensitive to meanwhile (the window's last() picks
    * the same version). Crash contract: [[graft.core.Stores]].
    * Idempotent: a re-run compacts the compacted store to itself.
    * Returns the row count after compaction. */
  def compactTemporalStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, keys: Seq[String], tsCol: String,
      targetFiles: Int = 32): Long =
    graft.core.Stores.compact(spark, storePath, targetFiles, None)(
      _.dropDuplicates(keys :+ tsCol))

  /** As-of enrich `left` against the accumulated store: for each left
    * row, the most recent stored version at-or-before `leftTs` per key.
    * Same output contract as [[leftAsOf]]. */
  def enrichFromTemporalStore(left: DataFrame, storePath: String,
      keys: Seq[String], leftTs: String, rightTs: String,
      valueCols: Seq[String], suffix: String = "_right",
      toleranceSec: Option[Long] = None): DataFrame = {
    val store = left.sparkSession.read.parquet(storePath)
      .select((keys ++ (rightTs +: valueCols)).map(col): _*)
    leftAsOf(left, store, keys, leftTs, rightTs, valueCols, suffix, toleranceSec)
  }
}
