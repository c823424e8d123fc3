package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators Spark lacks as built-ins, composed from
  * keyed windows so they keep Catalyst's planning (per the
  * compose-first custom-operator policy): as-of join and gap
  * sessionization. Both run as ONE hash Exchange on the key plus an
  * in-partition sort — the scale shape for billions of events across
  * millions of keys, with no range-condition join (which Spark would
  * plan as a broadcast-nested-loop or an exploding theta join).
  */
object Events {

  /** As-of join: for every left row, the payload of the LATEST right
    * row with the same key and `rightTs <= leftTs` (backward-inclusive,
    * DuckDB/pandas `ASOF JOIN` semantics); null payload when no right
    * row precedes. `direction` extends to pandas merge_asof parity:
    * "forward" matches the EARLIEST right row with `rightTs >= leftTs`,
    * "nearest" the right row with the smallest |rightTs - leftTs|
    * (ties -> the backward match; requires a numeric ts column).
    *
    * Plan: tag + union the two inputs, one window per key ordered by
    * (ts, tag) — right rows sort before left rows at equal ts, so
    * `last(payload, ignoreNulls)` over the running frame IS the as-of
    * match, carried to each left row in a single pass (forward = the
    * mirrored frame in the SAME window pass; nearest = both carries +
    * one comparison). One shuffle on the key; neither side is
    * broadcast, neither side range-joins. Right rows should be unique
    * per (key, ts) — pre-aggregate ties upstream or the carried match
    * is tie-ambiguous (same contract as DuckDB ASOF JOIN).
    *
    * Left rows with null `leftTs` sort first and match nothing
    * backward, by design.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               prefix: String = "asof_",
               direction: String = "backward",
               tolerance: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(payload.nonEmpty, "payload must be non-empty")
    require(Set("backward", "forward", "nearest")(direction),
      s"unknown direction '$direction'")
    require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
    val r2 = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"),
        struct(col(rightTs).as("__rts") +: payload.map(col): _*).as("__p"),
        lit(0).as("__tag")): _*)
    val l2 = left.withColumn("__ts", col(leftTs)).withColumn("__tag", lit(1))
    // at equal ts the right row must be VISIBLE to the left row in both
    // directions: tag asc puts right first for the trailing frame; the
    // leading frame starts at currentRow, and rows_between frames are
    // ROW-based, so the equal-ts right row (sorted just before) needs
    // tag desc for forward — run forward as last() over a REVERSED
    // mirror ordering instead, expressed as first() with tag desc
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwdOrd = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").desc)
    val fwd = fwdOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val unioned = l2.unionByName(r2, allowMissingColumns = true)
    // pandas merge_asof `tolerance`: a candidate only counts when its
    // ts distance is within the bound. Nulling the carried candidate
    // POST-window is exactly candidate-level filtering: backward's
    // carry is the unique latest-at-or-before row (too old -> no other
    // candidate exists), mirrored for forward; nearest filters each
    // side before the distance choice.
    def tolOk(m: Column, backSide: Boolean): Column = tolerance match {
      case None => m
      case Some(t) =>
        val d = if (backSide) col("__ts") - m.getField("__rts")
                else m.getField("__rts") - col("__ts")
        when(d <= t, m)
    }
    val matched = direction match {
      case "backward" =>
        unioned.withColumn("__m",
          tolOk(last(col("__p"), ignoreNulls = true).over(back), backSide = true))
      case "forward" =>
        unioned.withColumn("__m",
          tolOk(first(col("__p"), ignoreNulls = true).over(fwd), backSide = false))
      case "nearest" =>
        unioned
          .withColumn("__mb",
            tolOk(last(col("__p"), ignoreNulls = true).over(back), backSide = true))
          .withColumn("__mf",
            tolOk(first(col("__p"), ignoreNulls = true).over(fwd), backSide = false))
          .withColumn("__m",
            when(col("__mb").isNull, col("__mf"))
              .when(col("__mf").isNull, col("__mb"))
              .when(col("__ts") - col("__mb.__rts") <=
                col("__mf.__rts") - col("__ts"), col("__mb"))
              .otherwise(col("__mf")))
    }
    matched
      .filter(col("__tag") === 1)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"__m.$p").as(prefix + p)): _*)
  }

  /** [[asofJoin]] for the DOUBLE-DIGIT-fraction hot-key regime (r14,
    * the rollingAggSkewed sibling). The plain operator's single
    * Exchange partitions by key alone — a key holding 30% of the
    * corpus funnels through one task's sort. This variant decomposes
    * by `span`-width TIME BLOCKS of the ts column:
    *
    *  1. the tagged union windows over partition (keys, block) — the
    *     in-block match, same tag/tie discipline as the plain pass;
    *  2. a per-(keys, block) CARRY TABLE: the last (backward) / first
    *     (forward) right row of each block, carried across blocks by
    *     a window whose per-key partition holds one row per ACTIVE
    *     BLOCK (bounded by the time range over span, never by the
    *     key's corpus share), frame `[-∞, -1]` / `[+1, +∞]` so the
    *     carry is strictly-earlier/later blocks only;
    *  3. each left row coalesces in-block match → carry (the in-block
    *     candidate is always nearer), then the plain operator's
    *     tolerance filter and nearest comparison apply unchanged —
    *     the coalesced candidate IS the unique latest-at-or-before /
    *     earliest-at-or-after row.
    *
    * All exchanges are keyed (keys, block) or keys-over-block-rows;
    * null-safe joins keep null group keys flowing like the plain
    * window does. `span` trades carry-table size against in-block
    * partition width — any value is correct (EventsSpec fuzzes 4);
    * pick roughly the median match distance. Both ts columns must be
    * non-null (the plain operator's null-ts carry semantics don't
    * decompose; left-null-ts rows still match nothing backward /
    * everything-earliest forward, mirroring the plain pass). Cost: ~5
    * exchanges vs 1. Measured at 10M events with 30% on
    * one user: the plain union-window is a single O(n) carry pass, so
    * it does NOT cliff at that scale (the skewed variant's extra
    * exchanges cost more there); its wall is the one-TASK sort/memory
    * bound when the hot key's rows stop fitting an executor — the
    * regime this decomposition exists for. Use [[asofJoin]] whenever
    * the hottest key fits a task. */
  def asofJoinSkewed(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTs: String, rightTs: String, payload: Seq[String],
                     span: Long, prefix: String = "asof_",
                     direction: String = "backward",
                     tolerance: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(payload.nonEmpty, "payload must be non-empty")
    require(Set("backward", "forward", "nearest")(direction),
      s"unknown direction '$direction'")
    require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
    require(span >= 1, "span must be >= 1")
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def blockOf(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, span)).otherwise(-idiv(-xl + (span - 1), span))
    }
    val pStruct = struct(col(rightTs).as("__rts") +: payload.map(col): _*)
    val r2 = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), pStruct.as("__p"),
        lit(0).as("__tag")): _*)
    val l2 = left.withColumn("__ts", col(leftTs)).withColumn("__tag", lit(1))
    val unioned = l2.unionByName(r2, allowMissingColumns = true)
      .withColumn("__b", blockOf(col("__ts")))
    // 1. in-block matches: the plain pass with block in the partition
    val part = keys.map(col) :+ col("__b")
    val ordB = Window.partitionBy(part: _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ordF = Window.partitionBy(part: _*)
      .orderBy(col("__ts").asc, col("__tag").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val needB = direction != "forward"
    val needF = direction != "backward"
    val inBlock = unioned
      .withColumn("__ib", if (needB)
        last(col("__p"), ignoreNulls = true).over(ordB) else lit(null))
      .withColumn("__if", if (needF)
        first(col("__p"), ignoreNulls = true).over(ordF) else lit(null))
      .filter(col("__tag") === 1)
    // 2. carry table over the UNION of both sides' active blocks (a
    // left block with no right rows must still see earlier carries).
    // Per-block last/first right rows come from row_number windows
    // over the bounded (keys, block) partitions, NOT max_by/min_by on
    // the payload struct — a struct-valued aggregation buffer kicks
    // HashAggregate out for a SortAggregate fallback (plan audit)
    val rB = right.select((keys.map(col) ++ Seq(
      blockOf(col(rightTs)).as("__b"), col(rightTs).as("__rt"),
      pStruct.as("__pp"))): _*)
    val rPart = keys.map(col) :+ col("__b")
    val lastT = rB.withColumn("__rn", row_number().over(
        Window.partitionBy(rPart: _*).orderBy(col("__rt").desc)))
      .filter(col("__rn") === 1)
      .select((keys.map(col) ++ Seq(col("__b"), col("__pp").as("__lastP"))): _*)
    val firstT = rB.withColumn("__rn", row_number().over(
        Window.partitionBy(rPart: _*).orderBy(col("__rt").asc)))
      .filter(col("__rn") === 1)
      .select((keys.map(k => col(k).as(s"__fk_$k")) ++ Seq(
        col("__b").as("__fb"), col("__pp").as("__firstP"))): _*)
    val rPerBlock = lastT.join(firstT,
        (keys.map(k => col(k) <=> col(s"__fk_$k")) :+
          (col("__b") <=> col("__fb"))).reduce(_ && _))
      .select((keys.map(col) ++ Seq(col("__b"), col("__lastP"),
        col("__firstP"))): _*)
    val domain = left
      .select((keys.map(col) :+ blockOf(col(leftTs)).as("__b")): _*)
      .distinct()
      .unionByName(rPerBlock.select((keys.map(col) :+ col("__b")): _*))
      .distinct()
    val wK = Window.partitionBy(keys.map(col): _*).orderBy(col("__b").asc)
    // null-SAFE domain join: a null group key forms a window partition
    // in the plain operator, so its blocks must keep their carries too
    val rpb = rPerBlock.select((keys.map(k => col(k).as(s"__rk_$k")) ++
      Seq(col("__b").as("__rb"), col("__lastP"), col("__firstP"))): _*)
    val carry = domain.join(rpb,
        (keys.map(k => col(k) <=> col(s"__rk_$k")) :+
          (col("__b") <=> col("__rb"))).reduce(_ && _), "left")
      .select((keys.map(k => col(k).as(s"__ck_$k")) ++ Seq(
        col("__b").as("__cb"),
        last(col("__lastP"), ignoreNulls = true)
          .over(wK.rowsBetween(Window.unboundedPreceding, -1)).as("__carryB"),
        first(col("__firstP"), ignoreNulls = true)
          .over(wK.rowsBetween(1, Window.unboundedFollowing)).as("__carryF"))): _*)
    // 3. combine: coalesce in-block over carry, then the plain
    // operator's tolerance/nearest algebra verbatim
    val cond = (keys.map(k => col(k) <=> col(s"__ck_$k")) :+
      (col("__b") <=> col("__cb"))).reduce(_ && _)
    val joined = inBlock.join(carry, cond, "left")
    def tolOk(m: Column, backSide: Boolean): Column = tolerance match {
      case None => m
      case Some(t) =>
        val d = if (backSide) col("__ts") - m.getField("__rts")
                else m.getField("__rts") - col("__ts")
        when(d <= t, m)
    }
    val mB = tolOk(coalesce(col("__ib"), col("__carryB")), backSide = true)
    val mF = tolOk(coalesce(col("__if"), col("__carryF")), backSide = false)
    val withM = direction match {
      case "backward" => joined.withColumn("__m", mB)
      case "forward"  => joined.withColumn("__m", mF)
      case "nearest"  => joined
        .withColumn("__mb", mB).withColumn("__mf", mF)
        .withColumn("__m",
          when(col("__mb").isNull, col("__mf"))
            .when(col("__mf").isNull, col("__mb"))
            .when(col("__ts") - col("__mb.__rts") <=
              col("__mf.__rts") - col("__ts"), col("__mb"))
            .otherwise(col("__mf")))
    }
    withM.select(left.columns.map(col) ++
      payload.map(p => col(s"__m.$p").as(prefix + p)): _*)
  }

  /** Trailing range-frame rolling aggregate per key: for every row, the
    * count/sum/mean of `valueCol` over rows of the same key with
    * `tsCol` in `[ts - span, ts]` (RANGE frame, so timestamp peers are
    * included identically in any engine — no tie ambiguity). One hash
    * Exchange on the key + one in-partition sort. `valueCol` should be
    * integral: the windowed sum is then exact and order-independent
    * (a float sum would hash differently per frame-evaluation order —
    * DuckDB computes window sums over a segment tree, Spark
    * sequentially); the mean is one final IEEE division.
    */
  def rollingAgg(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, span: Long): DataFrame = {
    require(span >= 0, "span must be >= 0")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc)
      .rangeBetween(-span, 0)
    df.withColumn("roll_n", count(col(valueCol)).over(w))
      .withColumn("roll_sum", sum(col(valueCol)).over(w))
      .withColumn("roll_mean",
        col("roll_sum").cast("double") / col("roll_n"))
  }

  /** [[rollingAgg]] for the DOUBLE-DIGIT-fraction hot-key regime — the
    * escalation path the r13 skew probe left documented. The plain
    * operator's one Exchange partitions by key alone, so a key holding
    * 30% of a 100 TB corpus sorts 30 TB on one task. This variant
    * decomposes the trailing range frame by span-width TIME BLOCKS
    * (`b = floor(ts/span)`): a row's window `[ts-span, ts]` provably
    * spans at most its own block and the previous one (the cut
    * `ts-span` always lands in block b-1), so
    *
    *   result = prefix-in-own-block ⊕ suffix-of-previous-block-at-cut
    *
    * Term 1 is a RANGE window over partition (key, block). Term 2
    * plants one tagged cut row per DISTINCT (key, ts) into partition
    * (key, block(ts-span)) and reads "aggregate of data rows with
    * ts >= cut" off ONE descending RANGE window (cut rows carry null
    * values, so they never contaminate the aggregate; RANGE peers make
    * ties at the cut inclusive, matching the plain frame's closed
    * lower bound). The terms recombine with a null-safe add keyed on
    * (key, ts). Every partition is bounded by the hot key's rows per
    * span of TIME, not its corpus share — a key must concentrate its
    * entire volume inside one span window before any task sees it all,
    * and then the plain frame would buffer the same rows. Cost: ~5
    * exchanges vs the plain operator's 1, all keyed by (key, block) or
    * (key, ts) — the price of skew immunity; use [[rollingAgg]] below
    * double-digit key concentration. Output is bit-identical
    * (EventsSpec law) for integral `tsCol`/`valueCol`; null `tsCol`
    * rows are undefined in both variants (the range frame itself has
    * no null-ts contract). */
  def rollingAggSkewed(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, span: Long): DataFrame = {
    require(span >= 1, "span must be >= 1 (rollingAgg covers span=0)")
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def floorDiv(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, span)).otherwise(-idiv(-xl + (span - 1), span))
    }
    val vType = df.schema(valueCol).dataType
    val tType = df.schema(tsCol).dataType
    // term 1: same-block prefix, partition (key, block)
    val w1 = Window.partitionBy(col(keyCol), floorDiv(col(tsCol)))
      .orderBy(col(tsCol).asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val t1 = df.withColumn("__n1", count(col(valueCol)).over(w1))
      .withColumn("__s1", sum(col(valueCol)).over(w1))
    // term 2: previous-block suffix at the cut, one row per distinct
    // (key, ts); data rows tag 0 under their own block, cut rows tag 1
    // under block(ts-span) carrying the original ts for the join back
    val data = df.select(col(keyCol).as("__k"),
      floorDiv(col(tsCol)).as("__b"), col(tsCol).as("__t"),
      col(valueCol).as("__v"), lit(null).cast(tType).as("__qts"))
    val cuts = df.select(col(keyCol), col(tsCol)).distinct()
      .select(col(keyCol).as("__k"),
        floorDiv(col(tsCol) - span).as("__b"),
        (col(tsCol) - span).as("__t"),
        lit(null).cast(vType).as("__v"), col(tsCol).as("__qts"))
    val w2 = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("__t").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val t2 = data.unionByName(cuts)
      .withColumn("__n2", count(col("__v")).over(w2))
      .withColumn("__s2", sum(col("__v")).over(w2))
      .filter(col("__qts").isNotNull)
      .select(col("__k"), col("__qts"), col("__n2"), col("__s2"))
    t1.join(t2, t1(keyCol) <=> t2("__k") && t1(tsCol) === t2("__qts"))
      .withColumn("roll_n", col("__n1") + col("__n2"))
      .withColumn("roll_sum",
        coalesce(col("__s1") + col("__s2"), col("__s1"), col("__s2")))
      .withColumn("roll_mean",
        col("roll_sum").cast("double") / col("roll_n"))
      .drop("__n1", "__s1", "__k", "__qts", "__n2", "__s2")
  }

  /** Interval (range) join WITHOUT an equi-key requirement: every left
    * row is paired with the right rows whose `rightTs` falls in
    * `[leftTs + lower, leftTs + upper]` (inclusive ends, same integer
    * units as the ts columns), optionally also matching on equi `keys`.
    *
    * Spark plans a bare range predicate as a broadcast-nested-loop or
    * cartesian join — O(|L|·|R|) at any scale. This is the bucketed
    * form: both sides are assigned time buckets of width
    * `max(upper - lower, 1)`; a left row's window spans at most two
    * consecutive buckets (window length == bucket width), so the left
    * side explodes ≤2× into (bucket) rows, the join becomes an
    * EQUI-join on (keys…, bucket), and the exact range predicate
    * filters the candidates. Each matching pair meets exactly once
    * (the right row's bucket is unique), so no dedup step. Shuffle is
    * keyed by time bucket (+ keys): uniform event streams spread
    * evenly; a pathological hot bucket is AQE skew-join territory, the
    * same answer as any skewed equi-join.
    *
    * Right columns are carried as `prefix + name` (the `payload` list),
    * left columns pass through unchanged.
    */
  def rangeJoin(left: DataFrame, right: DataFrame,
                leftTs: String, rightTs: String,
                lower: Long, upper: Long,
                payload: Seq[String], keys: Seq[String] = Nil,
                prefix: String = "rj_"): DataFrame = {
    require(upper >= lower, "upper must be >= lower")
    require(payload.nonEmpty, "payload must be non-empty")
    val w = math.max(upper - lower, 1L)
    // INTEGRAL floor division: Column./ is IEEE double division, which
    // is lossy above 2^53 — nanosecond epochs (~1.7e18) would round
    // bucket boundaries and silently drop boundary pairs. `div`
    // truncates toward zero, so negatives take the mirrored ceiling.
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def floorDiv(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, w)).otherwise(-idiv(-xl + (w - 1), w))
    }
    val b0 = floorDiv(col(leftTs) + lower)
    val b1 = floorDiv(col(leftTs) + upper)
    val lExp = left
      .withColumn("__bucket", explode(sequence(b0, b1)))
    val rB = right.select(
      (keys.map(col) :+ floorDiv(col(rightTs)).as("__bucket") :+
        col(rightTs).as("__rts") :+
        struct(payload.map(col): _*).as("__p")): _*)
    lExp.join(rB, keys :+ "__bucket")
      .filter(col("__rts") >= col(leftTs) + lower &&
        col("__rts") <= col(leftTs) + upper)
      .select(left.columns.map(col) ++
        payload.map(p => col(s"__p.$p").as(prefix + p)): _*)
  }

  /** Gap sessionization: 1-based `session_id` per key, incremented
    * whenever the gap to the previous event (by `tsCol`, ties broken by
    * `tieCol`) exceeds `gap` (same units as `tsCol`). Two window
    * expressions over the SAME (key, ts, tie) spec — Catalyst plans one
    * Exchange + one sort; the lag flag and its running sum share the
    * pass. The batch twin of Structured Streaming's session windows.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, gap: Long): DataFrame = {
    require(gap >= 0, "gap must be >= 0")
    val ord = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__brk",
        when(col(tsCol) - lag(col(tsCol), 1).over(ord) > gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(run) + 1)
      .drop("__brk")
  }

  /** [[sessionize]] for the DOUBLE-DIGIT-fraction hot-key regime (r14,
    * completing the skewed-events trio with rollingAggSkewed and
    * asofJoinSkewed). A session id is 1 + the number of gap breaks at
    * or before the row in the key's (ts, tie) order; breaks decompose
    * exactly over span-width time blocks (ties share a ts, hence a
    * block, so block boundaries never split a tie group):
    *
    *   session_id(r in block b) = 1 + localRunningBreaks(r)
    *     + Σ_{b'<b} (inBlockBreaks(b') + boundaryBreak(b'))
    *     + boundaryBreak(b)
    *
    * where boundaryBreak(b) compares block b's first ts with the
    * previous ACTIVE block's last ts over a per-(key, block) summary
    * table — one row per active block, so the key-wide window is
    * bounded by the time range over span, never by the key's corpus
    * share. Bit-equal to [[sessionize]] (EventsSpec fuzz); ts must be
    * non-null. ~4 exchanges vs 1. Measured at 10M
    * events with 30% on one user: plain sessionize is a single O(n)
    * lag+sum pass, so it does NOT cliff at that scale (6.0 s vs
    * 6.3 s skewed — parity); its wall is the one-TASK sort/memory
    * bound when a key's rows stop fitting an executor (30% of 100 TB
    * on one task), which is exactly what the block partition removes.
    * Use [[sessionize]] whenever the hottest key fits a task. */
  def sessionizeSkewed(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, gap: Long, span: Long): DataFrame = {
    require(gap >= 0, "gap must be >= 0")
    require(span >= 1, "span must be >= 1")
    def idiv(a: Column, b: Long): Column = call_function("div", a, lit(b))
    def blockOf(x: Column): Column = {
      val xl = x.cast("long")
      when(xl >= 0, idiv(xl, span)).otherwise(-idiv(-xl + (span - 1), span))
    }
    val withB = df.withColumn("__b", blockOf(col(tsCol)))
    val ordL = Window.partitionBy(col(keyCol), col("__b"))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val runL = ordL.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withB
      .withColumn("__brk",
        when(col(tsCol) - lag(col(tsCol), 1).over(ordL) > gap, 1L)
          .otherwise(0L))
      .withColumn("__lrun", sum(col("__brk")).over(runL))
    val summary = local.groupBy(col(keyCol), col("__b"))
      .agg(min(col(tsCol)).as("__fts"), max(col(tsCol)).as("__lts"),
        sum(col("__brk")).as("__ib"))
    val wK = Window.partitionBy(col(keyCol)).orderBy(col("__b").asc)
    val offs = summary
      .withColumn("__bnd",
        when(col("__fts") - lag(col("__lts"), 1).over(wK) > gap, 1L)
          .otherwise(0L))
      .withColumn("__off",
        coalesce(sum(col("__ib") + col("__bnd"))
          .over(wK.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("__bnd"))
      .select(col(keyCol).as("__ok"), col("__b").as("__ob"), col("__off"))
    local.join(offs,
        col(keyCol) <=> col("__ok") && col("__b") <=> col("__ob"), "left")
      .withColumn("session_id", col("__lrun") + col("__off") + 1)
      .drop("__b", "__brk", "__lrun", "__ok", "__ob", "__off")
  }
}
