package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Global and per-group prefix scans that never put a group on one
  * task.
  *
  * `Window.orderBy(...)` with no partitionBy funnels every row through
  * ONE task, and `Window.partitionBy(g)` puts each group on one task —
  * 5 corpus-spanning strata at 100 TB are 5 tasks doing all the work.
  * Every scan here is one kernel, the two-pass distributed scan:
  *
  *   1. range-repartition on (group, order) and sort within partitions
  *      (range partitions are globally ordered, so a group spreads over
  *      consecutive partitions), pinned with a local checkpoint;
  *   2. pass 1 — per partition, the first and last group key and the
  *      last group's folded state: O(#partitions) driver traffic,
  *      never per-group or per-row;
  *   3. the driver chains those into the state each partition's first
  *      group carries in from the left;
  *   4. pass 2 — map-only: each partition replays the fold from its
  *      carried-in state and appends the running state as a column.
  *
  * The pin matters for correctness, not just cost: range partitioning
  * samples its boundaries, so an unpinned plan could recompute with
  * different boundaries in pass 2 and pair rows with the wrong carries.
  * The checkpoint is also what the result reads from, so the input is
  * materialized exactly once. EAGER, like `Dedup.connectedComponents`:
  * construction runs the checkpoint and pass-1 jobs. Checkpoint blocks
  * free when the result is GC'd, or deterministically via
  * [[Caches.release]].
  *
  * At 100 TB: one range exchange, one pin, O(#partitions) values to the
  * driver, one map-only pass — the plan of a distributed sort plus a
  * map. With no group columns the whole corpus is one group, so the
  * same chain yields per-partition offsets (global row numbers and
  * prefix sums — sequence packing, global ranking).
  *
  * `order` must totally order rows within each group (include a unique
  * tiebreak key): rows that compare equal could otherwise swap running
  * values between runs. Group keys compare as Spark grouping does (NaN
  * equals NaN, −0.0 equals 0.0), so every scan agrees with the window
  * tier ([[GroupByScan]]) on float keys.
  */
object GlobalScan {

  /** Inclusive prefix sum of `valueCol` (cast to long, null = 0) over
    * the total order given by `order`, appended as `outCol`. A sum that
    * crosses 2^63 raises ArithmeticException instead of wrapping. */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: Column,
                outCol: String): DataFrame =
    longSum(df, Nil, order, valueCol, outCol)

  /** Global 1-based row number over the total order `order` — the
    * prefix sum of the constant 1. */
  def rowNumber(df: DataFrame, order: Seq[Column], outCol: String): DataFrame =
    prefixSum(df, order, lit(1L), outCol)

  /** Per-GROUP 1-based row number that survives giant groups: equals
    * `row_number().over(Window.partitionBy(group).orderBy(order))`. */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], outCol: String): DataFrame =
    groupedPrefixSum(df, groupCols, order, lit(1L), outCol)

  /** Per-GROUP inclusive prefix sum of `valueCol` (cast to long, null =
    * 0) that survives giant groups; raises on long overflow. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: Column,
                       outCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty; use prefixSum")
    longSum(df, groupCols, order, valueCol, outCol)
  }

  /** Per-GROUP forward fill at unbounded group size. Null = missing
    * (filled); NaN is a value and fills forward — the window tier's
    * `last(ignoreNulls)` semantics. Exact values carry, so this is
    * bit-identical to GroupByScan's ffill. Output takes the value
    * column's dtype, nullable (a group's leading rows before any value
    * stay null). */
  def groupedFfill(df: DataFrame, groupCols: Seq[String],
                   order: Seq[Column], valueCol: String,
                   outCol: String): DataFrame =
    carryScan(df, groupCols, order, valueCol, outCol, fillFold)

  /** Per-GROUP backward fill: [[groupedFfill]] over the reversed order.
    * `order` columns must be bare (no .asc/.desc) — the reversal is
    * applied here. */
  def groupedBfill(df: DataFrame, groupCols: Seq[String],
                   order: Seq[Column], valueCol: String,
                   outCol: String): DataFrame =
    carryScan(df, groupCols, order.map(_.desc), valueCol, outCol, fillFold)

  /** Per-GROUP running maximum / minimum of a DOUBLE column at
    * unbounded group size, bit-identical to the window tier: nulls are
    * skipped and a NaN poisons the running value from then on (NaN is
    * greatest for max; cummin follows np.minimum.accumulate). */
  def groupedCumMax(df: DataFrame, groupCols: Seq[String],
                    order: Seq[Column], valueCol: String,
                    outCol: String): DataFrame = {
    requireDoubleValue(df, valueCol, "groupedCumMax")
    carryScan(df, groupCols, order, valueCol, outCol, maxFold(1))
  }

  def groupedCumMin(df: DataFrame, groupCols: Seq[String],
                    order: Seq[Column], valueCol: String,
                    outCol: String): DataFrame = {
    requireDoubleValue(df, valueCol, "groupedCumMin")
    carryScan(df, groupCols, order, valueCol, outCol, minPoisonFold)
  }

  /** The extrema folds compare via java.lang.Double.compare on the
    * value, so a non-double value column would ClassCastException
    * mid-task — fail fast at plan time instead. Callers with int/float
    * columns cast to double first. */
  private def requireDoubleValue(df: DataFrame, valueCol: String,
                                 op: String): Unit =
    require(df.schema(valueCol).dataType == DoubleType,
      s"$op needs a DOUBLE value column (the carry fold compares via " +
        s"Double.compare); '$valueCol' is " +
        s"${df.schema(valueCol).dataType.simpleString} — cast it first")

  /** Unbounded-group tier for a registered custom scan
    * ([[graft.aggs.CustomScans]]) — flox's generic `scan_binary_op`
    * machinery (flox/aggregations.py:792-846). The scan must declare its
    * associative `fold` (ScanSpec.fold); `reverse` scans run over the
    * negated order (`order` columns must be bare). An `outFinalize`
    * (empty-state encoding adapter, e.g. cumcount's null→0) is applied
    * map-only after the carry.
    *
    * Scans with a `finish` post-transform (running fraction of total)
    * get their whole-group operand from a plain hash aggregation of the
    * SAME agg (partial-agg map-side, safe at any group size),
    * null-safe-equi-joined back over the carried scan; the group table
    * has one row per group, so AQE broadcasts it. Window-tier
    * equivalence holds when the fold/agg pair is exact (integer
    * monoids, selective carries) — the registrant's contract. */
  def groupedCustomScan(df: DataFrame, groupCols: Seq[String],
                        order: Seq[Column], valueCol: String,
                        outCol: String, scanName: String): DataFrame = {
    val spec = graft.aggs.CustomScans.lookup(scanName).getOrElse(
      throw new IllegalArgumentException(
        s"unknown custom scan '$scanName' (no CustomScans registration)"))
    val fold = spec.fold.getOrElse(throw new IllegalArgumentException(
      s"custom scan '$scanName' declares no associative binary_op " +
        "(ScanSpec.fold); only the window tier (GroupByScan) can run it"))
    val ord = if (spec.reverse) order.map(_.desc) else order
    def runTo(out: String): DataFrame = {
      val raw = carryScan(df, groupCols, ord, valueCol, out, fold,
        spec.foldOutType, spec.combine)
      spec.outFinalize.map(f => raw.withColumn(out, f(col(out))))
        .getOrElse(raw)
    }
    spec.finish match {
      case None => runTo(outCol)
      case Some(fin) =>
        require(!df.columns.contains("__run") && !df.columns.exists(
          c => c.startsWith("__w_") || c == "__whole"),
          "input already has __run/__whole/__w_* columns")
        val raw = runTo("__run")
        // whole-group operand: the same agg as the window tier's
        // unbounded frame, via groupBy (mergeable partial aggregation)
        val wkeys = groupCols.map(c => s"__w_$c")
        val whole = df.groupBy(groupCols.map(col): _*)
          .agg(spec.agg(col(valueCol)).as("__whole"))
          .toDF(wkeys :+ "__whole": _*)
        // null-safe equality: null group keys are a group in both the
        // window tier and groupBy; a plain equi-join would drop them
        val cond = groupCols.zip(wkeys)
          .map { case (a, b) => raw(a) <=> col(b) }.reduce(_ && _)
        raw.join(whole, cond, "left")
          .withColumn(outCol, fin(col("__run"), col("__whole")))
          .drop(("__run" +: "__whole" +: wkeys): _*)
    }
  }

  /** NaN-SKIPPING running extrema at unbounded group size — the
    * nancummax/nancummin mates (np.fmax/fmin.accumulate semantics:
    * null until the first valid value, NaN values skipped like nulls),
    * bit-identical to the window tier's `max(when(!isnan(v), v))`. */
  def groupedNanCumMax(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: String,
                       outCol: String): DataFrame = {
    requireDoubleValue(df, valueCol, "groupedNanCumMax")
    carryScan(df, groupCols, order, valueCol, outCol, nanSkipFold(1))
  }

  def groupedNanCumMin(df: DataFrame, groupCols: Seq[String],
                       order: Seq[Column], valueCol: String,
                       outCol: String): DataFrame = {
    requireDoubleValue(df, valueCol, "groupedNanCumMin")
    carryScan(df, groupCols, order, valueCol, outCol, nanSkipFold(-1))
  }

  private val fillFold: (Any, Any) => Any = (st, v) => if (v != null) v else st

  /** Long sum: the value is never null (coalesced to 0), and addExact
    * makes a sum crossing 2^63 RAISE (a loud task failure), never wrap
    * into a silently wrong prefix. Doubles as its own segment combine. */
  private val sumFold: (Any, Any) => Any = (st, v) =>
    if (st == null) v
    else Math.addExact(st.asInstanceOf[Long], v.asInstanceOf[Long])

  /** Spark double-ordering fold (java.lang.Double.compare: NaN
    * greatest, −0.0 < 0.0 — Spark's own total order); `sign` +1 keeps
    * the larger, −1 the smaller. Nulls skip (window max/min
    * semantics). For cumMAX this is exactly the window tier: NaN is
    * greatest, so once seen it sticks, matching `max(v).over(fwd)`. */
  private def maxFold(sign: Int): (Any, Any) => Any = (st, v) =>
    if (v == null) st
    else if (st == null) v
    else {
      val c = java.lang.Double.compare(
        v.asInstanceOf[Double], st.asInstanceOf[Double])
      if (c * sign > 0) v else st
    }

  /** NaN-POISONING running-min fold — the cumMIN mate. The window tier
    * (GroupByScan 'cummin') implements np.minimum.accumulate: once any
    * NaN is seen the running min is NaN forever. A plain Double.compare
    * fold orders NaN GREATEST, so a later finite value would replace it
    * ([5.0, NaN, 3.0] would give [5.0, 5.0, 3.0] instead of
    * [5.0, NaN, NaN]). Nulls skip; NaN state or value sticks. Selective
    * fold: doubling as the segment combine is correct (a segment whose
    * state is NaN came from a segment containing NaN). */
  private def minPoisonFold: (Any, Any) => Any = (st, v) =>
    if (v == null) st
    else if (st == null) v
    else {
      val sd = st.asInstanceOf[Double]
      val vd = v.asInstanceOf[Double]
      if (sd.isNaN) st
      else if (vd.isNaN) v
      // Double.compare, not primitive <: −0.0 sorts below 0.0 in
      // Spark's ordering (the bit-level spec law exercises it)
      else if (java.lang.Double.compare(vd, sd) < 0) v else st
    }

  /** [[maxFold]] with NaN values skipped like nulls (np.fmax/fmin
    * accumulate); state is always finite, so plain compare suffices. */
  private def nanSkipFold(sign: Int): (Any, Any) => Any = (st, v) =>
    if (v == null || v.asInstanceOf[Double].isNaN) st
    else if (st == null) v
    else {
      val c = java.lang.Double.compare(
        v.asInstanceOf[Double], st.asInstanceOf[Double])
      if (c * sign > 0) v else st
    }

  private def longSum(df: DataFrame, groupCols: Seq[String],
                      order: Seq[Column], valueCol: Column,
                      outCol: String): DataFrame =
    scan(df, groupCols, order, coalesce(valueCol.cast(LongType), lit(0L)),
      StructField(outCol, LongType, nullable = false), sumFold, sumFold)

  /** A carry over the value column's external JVM values. `combine`
    * defaults to `fold`, which is correct exactly for SELECTIVE folds
    * (max/min/first/fill: state and value share a domain and the fold
    * of two states is the concatenation's state); accumulating folds
    * must pass their own (see ScanSpec.combine). */
  private def carryScan(df: DataFrame, groupCols: Seq[String],
                        order: Seq[Column], valueCol: String, outCol: String,
                        fold: (Any, Any) => Any,
                        outType: Option[DataType] = None,
                        combine: Option[(Any, Any) => Any] = None): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    scan(df, groupCols, order, col(valueCol),
      StructField(outCol, outType.getOrElse(df.schema(valueCol).dataType),
        nullable = true),
      fold, combine.getOrElse(fold))
  }

  /** The one two-pass scan kernel. `fold` is a null-identity per-row
    * step over the value's external JVM type (state := fold(state,
    * value), null state = empty); `combine` merges two non-empty
    * segment states and is what stitches partition boundaries. The
    * running state, converted to `out`'s type by the converter
    * `createDataFrame` uses, is appended as column `out`.
    *
    * The value is materialized into one trailing temp column, so both
    * passes read the SAME evaluated values from the checkpoint (a
    * non-deterministic value expression re-evaluated in pass 2 would
    * desync from pass-1 carries). Both passes run on InternalRow: in a
    * 60M-row interleaved A/B, dropping the per-row external Row rebuild
    * and re-encode cut pass 2's time by 20–42%. Group
    * keys compare as UnsafeRows of the group columns with float keys
    * normalized as Spark grouping does, COPIED when held across rows
    * (the scan reuses its row buffer). */
  private def scan(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                   value: Column, out: StructField,
                   fold: (Any, Any) => Any,
                   combine: (Any, Any) => Any): DataFrame = {
    val spark = df.sparkSession
    val vName = Iterator.iterate("__v")(_ + "_")
      .find(n => !df.columns.exists(_.equalsIgnoreCase(n))).get
    val sortCols = groupCols.map(col) ++ order
    val parted = df.withColumn(vName, value)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint() // pin sampled range boundaries between passes
    val rows = parted.queryExecution.toRdd
    val fields = df.schema.fields
    val vIdx = fields.length
    val vType = parted.schema(vIdx).dataType
    val toScala = CatalystTypeConverters.createToScalaConverter(vType)
    val keyExprs: Seq[Expression] = groupCols.map(df.schema.fieldIndex).map { i =>
      val ref = BoundReference(i, fields(i).dataType, fields(i).nullable)
      if (ref.dataType == FloatType || ref.dataType == DoubleType)
        NormalizeNaNAndZero(ref)
      else ref
    }
    // folds one sorted partition: the first group starts from carryIn,
    // every later group from empty
    class Cursor(carryIn: Any) {
      private val keyOf = UnsafeProjection.create(keyExprs)
      var key: UnsafeRow = null
      var state: Any = carryIn
      def step(r: InternalRow): Unit = {
        val k = keyOf(r)
        if (key == null) key = k.copy()
        else if (k != key) { key = k.copy(); state = null }
        state = fold(state, toScala(r.get(vIdx, vType)))
      }
    }
    // pass 1: per partition, first key, last key, last group's state
    // (collect returns them in partition order)
    val bounds = rows.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val c = new Cursor(null)
        c.step(it.next())
        val first = c.key
        it.foreach(c.step)
        Iterator((pid, first, c.key, c.state))
      }
    }.collect()
    // chain: the state a partition's first group carries in is that
    // group's state over all partitions to its left
    val carries = new Array[Any](rows.getNumPartitions)
    var lastKey: UnsafeRow = null
    var lastState: Any = null
    bounds.foreach { case (pid, first, last, st) =>
      val carryIn = if (first == lastKey) lastState else null
      carries(pid) = carryIn
      lastState =
        if (first != last || carryIn == null) st
        else if (st == null) carryIn
        else combine(carryIn, st)
      lastKey = last
    }
    val bc = spark.sparkContext.broadcast(carries)
    val toRow = ExpressionEncoder(StructType(Seq(out))).createSerializer()
    // pass 2: map-only — replay the fold from the carried-in state,
    // emitting the input columns (temp value dropped) + the state
    val outExprs = fields.indices.map(i =>
      BoundReference(i, fields(i).dataType, fields(i).nullable)) :+
      BoundReference(vIdx + 1, out.dataType, out.nullable)
    val outRdd = rows.mapPartitionsWithIndex { (pid, it) =>
      val c = new Cursor(bc.value(pid))
      val proj = UnsafeProjection.create(outExprs)
      val joined = new JoinedRow
      it.map { r =>
        c.step(r)
        proj(joined(r, toRow(Row(c.state)))): InternalRow
      }
    }
    org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(
      spark, outRdd, StructType(fields :+ out))
  }
}
