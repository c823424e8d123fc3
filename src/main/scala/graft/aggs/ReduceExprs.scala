package graft.aggs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Options mirroring the flox `groupby_reduce` keyword surface
  * (reference: flox/core.py:739-855). Everything here becomes plain
  * column expressions / a small broadcast join — no driver-side data.
  *
  *  - `expectedGroups`: declared output key domain (reference:
  *    flox/core.py:742, reindex at flox/reindex.py:160-216). A *small*
  *    DataFrame with one column per `by` key; results are left-joined
  *    onto it and absent groups take `fillValue`.
  *  - `minCount`: mask groups with fewer than k valid values
  *    (reference: flox/core.py:787-791,1026-1038).
  *  - `ddof`: var/std finalize kwarg (reference: flox/aggregations.py:475-503).
  *  - `q`: quantile(s) (reference: flox/aggregations.py:688-710).
  */
case class ReduceOptions(
    ddof: Int = 1,
    q: Seq[Double] = Seq(0.5),
    minCount: Int = 0,
    fillValue: Option[Column] = None,
    expectedGroups: Option[DataFrame] = None,
    sort: Boolean = true,
    dropNullKeys: Boolean = true,
    /** Column giving stable element order — required by arg-reductions,
      * first/last and scans (reference risk register: SURVEY.md §7.4.1;
      * flox relies on array position, we require an explicit index). */
    idxCol: Option[String] = None,
    /** Approximate quantiles/medians (percentile_approx) instead of the
      * exact sort-based percentile. The 100 TB escape hatch for skewed
      * holistic aggregation: exact percentile buffers a whole group on
      * one task; the approx sketch is mergeable map-side (SURVEY.md
      * §7.4.4 documents the divergence from the reference's exact
      * linear interpolation). */
    approxQuantile: Boolean = false,
    /** percentile_approx accuracy (higher = tighter, more memory). */
    approxAccuracy: Int = 10000,
    /** k for the `topk` reduction (bounded per-group top-k values). */
    topK: Int = 5,
    /** NumPy parity for nanmedian/nanquantile over a group whose
      * values are ALL NaN: NumPy returns NaN, the repo's default
      * returns SQL NULL (the NA-sentinel convention shared with
      * min_count masking and fill_value — a deliberate
      * asymmetry vs nanmean, which coalesces to NaN). With this flag
      * a group holding at least one non-null value but no valid
      * (non-NaN) one yields NaN; a group with NO non-null values at
      * all still yields NULL on both settings (nulls are masked
      * elements, invisible to NumPy). Default preserves the
      * hash-certified behavior. */
    nanQuantileAllNaN: Boolean = false
)

/** Aggregation-expression registry: flox reduction name → a single Spark
  * aggregate `Column`. This is the Spark-native re-expression of flox's
  * chunk/combine/finalize algebra (reference: flox/aggregations.py:161-301):
  * Catalyst's partial/merge/final aggregation plays the chunk/combine role,
  * the expressions below encode the finalize step inline.
  *
  * NaN convention (reference: flox/core.py semantics, SURVEY.md §7.4.2):
  *  - plain variants PROPAGATE NaN like NumPy (`sum([NaN]) = NaN`);
  *  - `nan*` variants SKIP NaN (`nansum([NaN]) = 0`) — implemented as
  *    NaN→null then Spark's null-skipping built-ins;
  *  - null values are treated as missing (skipped) everywhere, matching
  *    the nan* kernels' handling of masked elements.
  * All expressions stay inside whole-stage codegen (no UDFs).
  */
object ReduceExprs {

  private val NaN = lit(Double.NaN)

  /** NaN → null so Spark's null-skipping aggregates implement nan* ops. */
  def nanToNull(c: Column): Column = when(!isnan(c), c)

  /** true iff any value in the group is NaN (fp columns only). */
  def anyNaN(c: Column): Column = coalesce(bool_or(isnan(c)), lit(false))

  private def guardNaN(v: Column, fp: Boolean)(e: Column): Column =
    if (fp) when(anyNaN(v), NaN).otherwise(e) else e

  /** Variance with arbitrary ddof, from the codegen'd central-moment
    * aggregate: var_ddof = M2 / (n - ddof) with M2 = var_pop * n.
    * Matches flox's 3-tuple combine algebra (flox/aggregations.py:
    * 392-451) without a custom Aggregator — Spark's CentralMomentAgg
    * already merges with the numerically-stable pairwise update.
    *
    * Degenerate groups follow the reference's `_var_finalize` IEEE
    * arithmetic exactly (flox/aggregations.py:460-469) at EVERY ddof:
    * n - ddof < 0 -> NaN, n == ddof -> 0/0 = NaN (or +inf when
    * M2 > 0), never the SQL null Spark's built-ins return on n <= ddof
    * (legacy.statisticalAggregate=false). ddof 0/1 keep the built-ins
    * on the non-degenerate path (bit-identical to DuckDB's
    * var_pop/var_samp — the reconstructed M2 = var_pop * n is NOT) and
    * bolt on only the NaN finish; at ddof <= 1 a zero-size (ddof 0) or
    * one-row (ddof 1) group always has M2 = 0, so the +inf branch is
    * unreachable and `otherwise(NaN)` is the whole degenerate story.
    */
  private def varDdof(v: Column, ddof: Int): Column = ddof match {
    case 0 => when(count(v) > 0, var_pop(v)).otherwise(NaN)
    case 1 => when(count(v) > 1, var_samp(v)).otherwise(NaN)
    case d =>
      val n = count(v).cast("double")
      val m2 = var_pop(v) * n
      val den = n - d
      when(den > 0, m2 / den)
        .when(den === 0 && m2 > 0, lit(Double.PositiveInfinity))
        .otherwise(NaN)
  }

  /** Set of funcs needing the element-index column. */
  val needsIdx: Set[String] =
    Set("argmin", "argmax", "nanargmin", "nanargmax",
        "first", "last", "nanfirst", "nanlast")

  /** Build the aggregate expression for `func`.
    *
    * @param v   value column
    * @param idx stable element-order column (for order-dependent funcs)
    * @param fp  whether `v` is floating-point (NaN semantics apply)
    * @param mv  whether `v`'s dtype is UnsafeRow-mutable (numeric /
    *            temporal / bool / decimal). Mutable-valued min/max/
    *            first/last stay declarative inside HashAggregateExec
    *            (whole-stage codegen); immutable values (strings) and
    *            all struct-ordered aggs route through [[ExtremumByAgg]]
    *            so the plan lands in ObjectHashAggregateExec instead of
    *            the SortAggregateExec fallback — no per-partition sort
    *            of the raw input at scale.
    * @param integral whether `v`'s dtype is an integer type: sum/prod
    *            keep BIGINT (reference dtype rule flox/xrdtypes.py:
    *            175-185 — promote to the platform int64, never float),
    *            with integer identity fills and the exact wraparound
    *            int64 product.
    */
  def apply(func: String, v: Column, idx: => Column, fp: Boolean,
            o: ReduceOptions = ReduceOptions(), mv: Boolean = true,
            integral: Boolean = false): Column = {
    import graft.functions.VectorExprs.{extremumBy, longProduct}
    def vn = if (fp) nanToNull(v) else v
    def valid = if (fp) v.isNotNull && !isnan(v) else v.isNotNull
    // ReduceOptions.nanQuantileAllNaN: NumPy parity for the all-NaN
    // group — some non-null value present (count(v) > 0) but none
    // valid (count(vn) = 0) → NaN instead of the default NULL; a
    // truly empty/all-null group stays NULL either way. No lambda
    // needed: the whole-result when() covers both shapes (incl. the
    // approx path, whose empty vector result is a null ARRAY, not an
    // array of nulls).
    def allNaNAware(e: Column, vector: Boolean): Column =
      if (!o.nanQuantileAllNaN) e
      else {
        val fb = if (vector) array(o.q.map(_ => NaN): _*) else NaN
        when(count(vn) > 0, e).otherwise(when(count(v) > 0, fb))
      }
    func match {
      // ---- counting (flox/aggregations.py:304-313): # of valid values
      case "count" => count(vn)

      // ---- sum/prod (flox/aggregations.py:317-320). Integer inputs
      // keep BIGINT through sum (Spark already widens int -> bigint)
      // and the exact int64 product; the identity fill matches the
      // dtype so an integral nansum/nanprod never silently promotes to
      // double (reference dtype rule: flox/xrdtypes.py:175-185).
      case "sum"     => sum(v)                          // NaN propagates naturally
      case "nansum"  =>
        if (integral) coalesce(sum(v), lit(0L))
        else coalesce(sum(vn), lit(0.0))                // all-NaN group -> 0
      case "prod"    => if (integral) longProduct(v) else product(v)
      case "nanprod" =>
        if (integral) coalesce(longProduct(v), lit(1L))
        else coalesce(product(vn), lit(1.0))            // all-NaN group -> 1

      // ---- mean (flox/aggregations.py:323-345)
      case "mean"    => avg(v)                          // NaN propagates via sum
      case "nanmean" => if (fp) coalesce(avg(vn), NaN) else avg(v)

      // ---- distinct counting (beyond-reference; the pipeline op behind
      // per-group vocabulary/cardinality). Exact nunique shuffles the
      // distinct (key, value) pairs — correct at any scale but heavy on
      // high-cardinality values; approx_nunique is the mergeable HLL
      // sketch (map-side combinable, fixed-width state), the same
      // exact/sketch pairing as quantile vs approxQuantile. Both skip
      // null AND NaN (a distinct count over missing values is noise).
      case "nunique"        => count_distinct(vn)
      case "approx_nunique" => approx_count_distinct(vn)

      // ---- bounded top-k values (beyond-reference; O(k) heap state per
      // group at every stage — never collect_list's whole-group buffer)
      case "topk" => graft.functions.VectorExprs.topK(v, o.topK)

      // ---- var/std (flox/aggregations.py:348-526), arbitrary ddof
      case "var"    => guardNaN(v, fp)(varDdof(v, o.ddof))
      case "nanvar" => varDdof(vn, o.ddof)
      case "std"    => guardNaN(v, fp)(sqrt(varDdof(v, o.ddof)))
      case "nanstd" => sqrt(varDdof(vn, o.ddof))

      // ---- higher central moments (beyond-reference; completes the
      // moments family with Spark's codegen'd stable aggregates —
      // population skewness m3/m2^1.5 and excess kurtosis m4/m2^2 - 3)
      case "skew"    => guardNaN(v, fp)(skewness(v))
      case "nanskew" => skewness(vn)
      case "kurt"    => guardNaN(v, fp)(kurtosis(v))
      case "nankurt" => kurtosis(vn)

      // ---- min/max (flox/aggregations.py:529-546)
      // Spark orders NaN greater than any double, so min() skips NaN and
      // max() returns it; the guard restores NumPy propagation for min.
      // String (immutable-buffer) values take the ExtremumBy route —
      // ordering on the value itself, so ties are payload-identical.
      case "min"    => guardNaN(v, fp)(
        if (mv) min(v) else extremumBy(v, v, isMax = false))
      case "max"    => guardNaN(v, fp)(
        if (mv) max(v) else extremumBy(v, v, isMax = true))
      case "nanmin" =>
        if (fp) coalesce(min(vn), NaN)
        else if (mv) min(v) else extremumBy(v, v, isMax = false)
      case "nanmax" =>
        if (fp) coalesce(max(vn), NaN)
        else if (mv) max(v) else extremumBy(v, v, isMax = true)

      // ---- argmin/argmax (flox/aggregations.py:549-632): index of the
      // FIRST extremum — ordering (v, idx) picks smallest value then
      // smallest idx; argmax maximizes (v, -idx) for largest value then
      // smallest idx. The struct ordering lives inside ExtremumByAgg's
      // object buffer (built-in min/max over a struct would sink the
      // whole Aggregate into SortAggregateExec); payload is the bare
      // long idx. NumPy propagates: any NaN -> index of first NaN.
      // null values are MISSING and cannot be an extremum (the
      // framework-wide convention): the ordering nulls out on null-v
      // rows so they never enter the struct comparison — a bare
      // struct(v, idx) would sort its null field FIRST and hand argmin
      // the index of a missing value
      case "argmin" =>
        val base = extremumBy(idx,
          when(v.isNotNull, struct(v.as("v"), idx.as("i"))), isMax = false)
        if (fp) when(anyNaN(v), min(when(isnan(v), idx))).otherwise(base) else base
      case "argmax" =>
        val base = extremumBy(idx,
          when(v.isNotNull, struct(v.as("v"), (-idx).as("i"))), isMax = true)
        if (fp) when(anyNaN(v), min(when(isnan(v), idx))).otherwise(base) else base
      case "nanargmin" =>
        extremumBy(idx, when(valid, struct(v.as("v"), idx.as("i"))), isMax = false)
      case "nanargmax" =>
        extremumBy(idx, when(valid, struct(v.as("v"), (-idx).as("i"))), isMax = true)

      // ---- first/last in element order (flox/aggregations.py:634-649).
      // Ordered by the unique idx -> deterministic under shuffle
      // (SURVEY.md §7.4.7; Spark's min_by tie rule never fires). The
      // nan* variants null the ordering on invalid rows, which both
      // min_by and ExtremumBy skip.
      case "first" => if (mv) min_by(v, idx) else extremumBy(v, idx, isMax = false)
      case "last"  => if (mv) max_by(v, idx) else extremumBy(v, idx, isMax = true)
      case "nanfirst" =>
        val vidx = when(valid, idx)
        if (mv) min_by(v, vidx) else extremumBy(v, vidx, isMax = false)
      case "nanlast" =>
        val vidx = when(valid, idx)
        if (mv) max_by(v, vidx) else extremumBy(v, vidx, isMax = true)

      // ---- all/any (flox/aggregations.py:651-668). NumPy truthiness:
      // NaN is TRUE for the plain variants — spelled out with an
      // explicit isnan branch rather than relying on the cast's
      // NaN != 0 behavior. The nan* variants SKIP NaN instead —
      // nanany over {NaN, false} is false, not true.
      case "all" =>
        if (fp) bool_and(when(isnan(v), lit(true)).otherwise(v.cast("boolean")))
        else bool_and(v.cast("boolean"))
      case "any" =>
        if (fp) bool_or(when(isnan(v), lit(true)).otherwise(v.cast("boolean")))
        else bool_or(v.cast("boolean"))
      case "nanall" => bool_and(vn.cast("boolean"))
      case "nanany" => bool_or(vn.cast("boolean"))

      // ---- median/quantile (flox/aggregations.py:670-710): EXACT
      // linear-interpolation percentile; Spark's sort-based `percentile`
      // works distributed where the reference is blockwise-only.
      // opts.approxQuantile swaps in the mergeable percentile_approx
      // sketch (skew-safe at scale, approximate values).
      case "median"      => guardNaN(v, fp)(quantiles(v, Seq(0.5), o))
      case "nanmedian"   =>
        allNaNAware(quantiles(vn, Seq(0.5), o), vector = false)
      case "quantile" =>
        val e = quantiles(v, o.q, o)
        if (!fp) e
        else o.q match {
          case Seq(_) => guardNaN(v, fp = true)(e)
          // vector q: the NaN-propagated result is an array of NaN
          case many => when(anyNaN(v), array(many.map(_ => NaN): _*)).otherwise(e)
        }
      case "nanquantile" =>
        allNaNAware(quantiles(vn, o.q, o), vector = o.q.length > 1)

      // ---- user-registered custom aggregations (§2.5 extensibility)
      case other => CustomAggregations.lookup(other) match {
        case Some(build) => build(v)
        case None => throw new IllegalArgumentException(
          s"unknown reduction '$other' — see graft.aggs.ReduceExprs / CustomAggregations")
      }
    }
  }

  /** Scalar q -> double column; vector q -> array column (the reference's
    * "new output dim", flox/aggregations.py:688-710).
    *
    * Exact path: sorted-array aggregation + inline linear interpolation.
    * ~2.5x faster than Spark's `percentile`, which buffers a
    * value->count OpenHashMap per group — pathological on
    * distinct-heavy columns (the common continuous case); the plain
    * sorted buffer also serializes compactly between partial and final
    * aggregation. Interpolation uses the lo*(1-frac) + hi*frac algebra,
    * bit-identical to both `Percentile` and DuckDB `quantile_cont`
    * (the lo + (hi-lo)*frac form differs in the last ulp). Exact
    * quantiles inherently buffer each group's values on one task —
    * `approxQuantile` (mergeable GK sketch, map-side combinable) is the
    * certified escape hatch for mega-group / skewed keys at scale.
    */
  private def quantiles(v: Column, q: Seq[Double], o: ReduceOptions): Column =
    if (o.approxQuantile) q match {
      case Seq(single) =>
        percentile_approx(v, lit(single), lit(o.approxAccuracy)).cast("double")
      case many =>
        percentile_approx(v, lit(many.toArray), lit(o.approxAccuracy))
          .cast("array<double>")
    } else {
      // Bind the sorted buffer ONCE through a 1-element transform(): the
      // quantile interpolations live in a lambda whose argument IS the
      // sorted array, so each group sorts exactly once. Referencing
      // `sort_array(collect_list(v))` from every element_at instead put
      // 2 copies per quantile into the Aggregate's result projection,
      // where no subexpression elimination runs — vector-q paid 6 boxed
      // 200k-element sorts per group (q_quantile_multi 5.1s -> the
      // single-sort cost). The lambda itself is interpreted, but it
      // runs once per GROUP (bounded), never per row.
      def interp(arr: Column, qq: Double): Column = {
        val n = size(arr)
        val target = (n - 1).cast("double") * lit(qq)
        val lo = floor(target).cast("int")
        val frac = target - floor(target)
        val lov = element_at(arr, lo + 1).cast("double")
        // least(...) clamps the hi index at the array end; the frac==0
        // short-circuit below keeps it from ever contributing
        val hiv = element_at(arr, least(lo + 2, n)).cast("double")
        // frac == 0 returns lov DIRECTLY: for finite values the lerp
        // collapses to lov exactly anyway (hiv·0 = 0), but an INFINITE
        // bracketing element would turn hiv·0 into NaN and poison the
        // result where Spark percentile / NumPy / DuckDB all return
        // the element itself (r13 review; same guard in wquantile and
        // quantileDistributed so the bit-equality laws hold)
        when(n > 0,
          when(frac === 0, lov)
            .otherwise(lov * (lit(1.0) - frac) + hiv * frac))
      }
      val bound = transform(array(sort_array(collect_list(v))), arr =>
        q match {
          case Seq(single) => array(interp(arr, single))
          case many        => array(many.map(interp(arr, _)): _*)
        })
      q match {
        case Seq(_) => element_at(element_at(bound, 1), 1)
        case _      => element_at(bound, 1)
      }
    }
}
