package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.NanOps._

/** One requested grouped aggregation: `func` over column `value`, emitted as
  * output column `as`.
  *
  * Mirror of the reference's `Aggregation` blueprint (reference
  * aggregations.py:149-289): there the blueprint carries explicit
  * chunk/combine/finalize kernels plus fill values and dtypes; here the
  * blueprint is compiled to a single Catalyst aggregate expression and
  * Catalyst derives the partial (chunk), merge (combine) and result
  * (finalize) stages automatically — that decomposition is exactly Spark's
  * built-in two-phase hash aggregation, so nothing is hand-scheduled.
  *
  * @param func       aggregation name from the registry below (reference
  *                   AGGREGATIONS registry, aggregations.py:740-776)
  * @param value      input column name
  * @param as         output column name
  * @param ddof       delta degrees of freedom for var/std (reference
  *                   aggregations.py:337-388)
  * @param q          quantile(s) for func=quantile (reference
  *                   aggregations.py:550-572); several q values yield an
  *                   array column, like flox's extra leading dimension
  * @param minCount   result is NULL unless the group has >= minCount valid
  *                   values (reference core.py:2539-2557, masking via the
  *                   appended nanlen intermediate aggregations.py:860-869)
  * @param fill       fill value applied after expected-groups reindexing
  *                   for groups never observed (reference core.py:667-712)
  * @param exactScale when set, sums run over `decimal(18,exactScale)` casts
  *                   of the input and the finalized value is cast back to
  *                   double. Decimal aggregation is exact and therefore
  *                   independent of partial-aggregation order — this is the
  *                   bit-reproducible "engine" (the analog of flox's engine
  *                   selection, reference aggregations.py:57-121): use it
  *                   when results must be identical run-to-run / across
  *                   engines; leave unset for raw double speed.
  * @param custom     user-defined aggregation (func = "custom"): builds the
  *                   aggregate Column from the value column. The analog of
  *                   the reference accepting `Aggregation` *instances*, not
  *                   just registry names (reference core.py:2560, exercised
  *                   by tests/test_core.py:1462-1500). Any aggregate
  *                   expression works — compositions of builtins keep
  *                   whole-stage codegen; a typed
  *                   `Aggregator[IN,BUF,OUT]` wrapped with
  *                   `functions.udaf(...)` is accepted the same way when
  *                   imperative per-group state is genuinely needed (the
  *                   chunk/combine/finalize trinity maps to the
  *                   Aggregator's reduce/merge/finish). minCount masking
  *                   and expected-groups fill compose with customs like
  *                   with any registry func.
  */
case class Agg(
    func: String,
    value: String,
    as: String,
    ddof: Int = 0,
    q: Seq[Double] = Nil,
    minCount: Int = 0,
    fill: Option[Any] = None,
    exactScale: Option[Int] = None,
    custom: Option[Column => Column] = None,
    accuracy: Int = Aggregations.SketchAccuracy,
    k: Int = 10)

object Agg {
  /** Custom-aggregation constructor: `Agg.custom("sumsq", "x")(v => sum(v*v))`. */
  def custom(as: String, value: String)(build: Column => Column): Agg =
    Agg("custom", value, as, custom = Some(build))
}

/** Compiles registry aggregation names to Catalyst aggregate expressions.
  *
  * Value-dtype contract (parity with reference xrdtypes.py:153-209,
  * core.py:2442-2443/2506-2520; pinned by DtypeParitySpec):
  *
  * | input      | sum            | mean      | min/max/first | notes |
  * |------------|----------------|-----------|---------------|-------|
  * | byte/short | long (promoted)| double    | kept          | numpy small-int promotion |
  * | int/long   | long           | double    | kept          | |
  * | float32    | double         | double    | float32       | DIVERGES: flox keeps float32 sums/means (xrdtypes.py:161-167); Spark computes in double — widening kept as the safer direction |
  * | float64    | double         | double    | kept          | NaN = missing (NanOps) |
  * | bool       | long count-true| fraction  | bool (native) | viewed as int for arithmetic |
  * | timestamp  | rejected       | timestamp | kept          | unix_micros view, exact decimal sums; var/std in micros units |
  *
  * topk/bottomk cast the score to double (like the numeric views) and
  * always emit `array<struct<score:double, id:bigint>>`.
  *
  * Registry parity with reference aggregations.py:740-776:
  * count, sum/nansum, prod/nanprod, mean/nanmean, var/nanvar, std/nanstd,
  * min/nanmin, max/nanmax, first/last, nanfirst/nanlast,
  * argmin/argmax/nanargmin/nanargmax, any/all, median/nanmedian,
  * quantile/nanquantile, mode/nanmode (mode is compiled by
  * [[GroupByReduce]] as a two-stage plan), plus cumulative ops in
  * [[GroupByScan]].
  */
object Aggregations {

  /** approx_percentile sketch accuracy: rank error <= n/accuracy, and the
    * result is *exact* for any group with fewer rows than this. */
  val SketchAccuracy = 10000

  val reductionNames: Seq[String] = Seq(
    "count", "sum", "nansum", "prod", "nanprod", "mean", "nanmean",
    "var", "nanvar", "std", "nanstd", "min", "nanmin", "max", "nanmax",
    "first", "last", "nanfirst", "nanlast",
    "argmin", "argmax", "nanargmin", "nanargmax",
    "any", "all", "median", "nanmedian", "quantile", "nanquantile",
    "mode", "nanmode", "approxquantile", "countdistinct", "approxcountdistinct",
    "topk", "bottomk", "skew", "nanskew", "kurt", "nankurt")

  /** Funcs that need a caller-supplied total-order position column.
    * DataFrames have no intrinsic order (arrays do), so positional
    * semantics are an explicit API contract — see SURVEY §7.4. */
  val positional: Set[String] = Set(
    "first", "last", "nanfirst", "nanlast",
    "argmin", "argmax", "nanargmin", "nanargmax", "topk", "bottomk")

  /** Reductions that need numeric values: bool and timestamp inputs are
    * *viewed* as numbers for these (reference core.py:2442-2443 casts
    * bool->int; core.py:2506-2520 views datetime64 as int64). */
  private val numericViewFuncs: Set[String] = Set(
    "sum", "nansum", "prod", "nanprod", "mean", "nanmean",
    "var", "nanvar", "std", "nanstd", "skew", "nanskew", "kurt", "nankurt",
    "median", "nanmedian", "quantile", "nanquantile", "approxquantile")

  /** Timestamp-viewed funcs whose result is itself a time point and is cast
    * back to TimestampType (reference core.py:2709-2713); var/std stay
    * numeric (micros^2 / micros — the reference's timedelta results). */
  private val timeResultFuncs: Set[String] = Set(
    "mean", "nanmean", "median", "nanmedian",
    "quantile", "nanquantile", "approxquantile")

  /** Timestamp-viewed funcs (sum/prod of time points stay rejected —
    * they are meaningless for absolute times, as in numpy). */
  private val timeViewFuncs: Set[String] = numericViewFuncs -- Set("sum", "nansum", "prod", "nanprod")

  /** Compile one aggregation to its (unaliased) Catalyst expression.
    *
    * Dtype views (value-type support beyond the physically-numeric):
    *   - BooleanType + arithmetic reduction: the flag column is cast to
    *     int (sum = count-true, mean = fraction-true, ... — reference
    *     core.py:2442-2443). any/all/min/max/first/last/arg* already
    *     operate on bools natively (Spark orders false < true, which is
    *     the reference's cast-then-cast-back result).
    *   - TimestampType + mean/var/std/median/quantile: computed over the
    *     `unix_micros` int64 view (reference core.py:2506-2520), with
    *     time-point results cast back to TimestampType via rounded micros
    *     (reference core.py:2709-2713) and spreads (var/std) left numeric
    *     in micros units. The view forces the exact decimal engine: micros
    *     are ~2^50, so a long sum over a big group would overflow and a
    *     double sum would round — decimal sums keep mean/median exact and
    *     order-independent at any realistic group size (the view rides the
    *     decimal(18,0) engine; Spark's Sum widens it to decimal(28,0),
    *     which holds epoch-micros sums to ~5*10^12 rows per group — past
    *     that Spark returns NULL, non-ANSI, so pre-view at unix_millis
    *     for absurdly larger groups). CAVEAT for var/std only: the
    *     sum of SQUARED micros (~3e30 each) overflows decimal(38) beyond
    *     ~3*10^7 rows per group and Spark then returns NULL — for spread
    *     statistics over bigger groups, pre-view the column yourself at a
    *     coarser resolution (e.g. unix_millis as a long column), where the
    *     same decomposition holds to ~3*10^13 rows.
    *
    * @param pos total-order position column for positional funcs
    */
  def compile(a: Agg, dt: DataType, pos: Option[Column]): Column = dt match {
    case BooleanType if numericViewFuncs(a.func) =>
      compileOn(a, col(a.value).cast(IntegerType), IntegerType, pos)
    case TimestampType if numericViewFuncs(a.func) && !timeViewFuncs(a.func) =>
      throw new IllegalArgumentException(
        s"${a.func} over TimestampType is not supported: absolute time points sum/multiply " +
          "meaninglessly (numpy rejects datetime64 sums too); use min/max/first/last/mean/median/quantile")
    case TimestampType if timeViewFuncs(a.func) =>
      val aEff = if (a.exactScale.isEmpty) a.copy(exactScale = Some(0)) else a
      val r    = compileOn(aEff, unix_micros(col(a.value)), LongType, pos)
      if (!timeResultFuncs(a.func)) r
      else if (a.q.size > 1) transform(r, x => timestamp_micros(round(x, 0).cast(LongType)))
      else timestamp_micros(round(r, 0).cast(LongType))
    case _ => compileOn(a, col(a.value), dt, pos)
  }

  private def compileOn(a: Agg, v: Column, dt: DataType, pos: Option[Column]): Column = {
    val vn    = nanToNull(v, dt)                      // NaN -> NULL
    val valid = isValid(v, dt)
    def p: Column = pos.getOrElse(throw new IllegalArgumentException(
      s"func=${a.func} requires a position column (arrays are ordered, DataFrames are not)"))

    // Exact-decimal "engine": sums over decimal are order-independent.
    def sumE(c: Column): Column = a.exactScale match {
      case Some(s) => sum(c.cast(DecimalType(18, s))).cast(DoubleType)
      case None    => sum(c)
    }
    def sumSqE(c: Column): Column = a.exactScale match {
      case Some(s) =>
        val d = c.cast(DecimalType(18, s))
        sum(d * d).cast(DoubleType)
      case None => sum(c * c)
    }

    // flox variance decomposition (reference aggregations.py:337-368):
    // chunk = (sum_of_squares, sum, nanlen); finalize =
    // (sumsq - sum^2/n) / (n - ddof), NA when n <= ddof.
    def variance: Column = {
      val n = count(vn).cast(DoubleType)
      // greatest(.., 0) clamps the tiny-negative rounding a (near-)constant
      // group can produce (numpy var is >= 0 by construction; sqrt of the
      // negative would be NaN where np.std gives 0.0). Oracle SQL replays
      // the same clamp under the same count guard.
      when(count(vn) > a.ddof,
        greatest((sumSqE(vn) - sumE(vn) * sumE(vn) / n) / (n - a.ddof), lit(0.0)))
    }

    def meanExpr: Column = sumE(vn).cast(DoubleType) / count(vn)

    // Population (biased, scipy g1/g2 Fisher) skewness / excess kurtosis
    // from raw double power sums, finalized by one fixed IEEE expression —
    // the same chunk/combine/finalize shape as variance, one order higher.
    // Numeric contract: the power sums are plain double sums (no decimal
    // engine — x^4 casts overflow any fixed decimal scale), so results are
    // EXACT and order-independent whenever |x|^4 * n < 2^53 (integral or
    // low-scale values), and conventional-FP otherwise. A constant group
    // (m2 == 0) yields NULL — guarded explicitly because engines disagree
    // on 0/0 (Spark NaN, DuckDB NULL).
    def momentStat(c0: Column, kurt: Boolean): Column = {
      // power sums in DOUBLE regardless of input dtype: long (incl. the
      // timestamp micros view) would wrap int64 at c^2 already, and
      // decimal would overflow precision 38 — the double contract is the
      // documented one
      val c  = c0.cast(DoubleType)
      val n  = count(c).cast(DoubleType)
      val s1 = sum(c); val s2 = sum(c * c)
      val s3 = sum(c * c * c); val s4 = sum(c * c * c * c)
      val m  = s1 / n
      val m2 = s2 / n - m * m
      val stat =
        if (!kurt) {
          val m3 = s3 / n - lit(3) * m * (s2 / n) + lit(2) * m * m * m
          m3 / sqrt(m2 * m2 * m2)
        } else {
          val m4 = s4 / n - lit(4) * m * (s3 / n) + lit(6) * m * m * (s2 / n) -
            lit(3) * m * m * m * m
          m4 / (m2 * m2) - lit(3)
        }
      when(m2 > 0, stat)
    }

    def zero: Column = lit(0).cast(if (isFloaty(dt)) DoubleType else LongType)
    def one: Column  = lit(1).cast(if (isFloaty(dt)) DoubleType else LongType)

    a.func match {
      // user-defined aggregation (reference core.py:2560)
      case "custom" => a.custom.getOrElse(throw new IllegalArgumentException(
        "func=custom requires a `custom` Column builder"))(v)
      // count of non-missing values (reference aggregations.py:292-301)
      case "count"   => count(vn)
      case "sum"     => propagateNaN(sumE(vn), v, dt)
      case "nansum"  => coalesce(sumE(vn), zero)              // all-NaN -> 0 (np.nansum)
      case "prod"    => propagateNaN(product(vn), v, dt)
      case "nanprod" => coalesce(product(vn), one.cast(DoubleType)) // all-NaN -> 1 (np.nanprod)
      case "mean"    => propagateNaN(meanExpr, v, dt)
      case "nanmean" => meanExpr
      case "var"     => propagateNaN(variance, v, dt)
      case "nanvar"  => variance
      case "std"     => propagateNaN(sqrt(variance), v, dt)
      case "nanstd"  => sqrt(variance)
      case "skew"    => propagateNaN(momentStat(vn, kurt = false), v, dt)
      case "nanskew" => momentStat(vn, kurt = false)
      case "kurt"    => propagateNaN(momentStat(vn, kurt = true), v, dt)
      case "nankurt" => momentStat(vn, kurt = true)
      // min/max aggregate the NaN-normalized column so Spark's
      // NaN-sorts-above-infinity rule can never leak into the result;
      // plain variants then re-poison the group (numpy semantics).
      case "min"     => propagateNaN(min(vn), v, dt)
      case "nanmin"  => min(vn)
      case "max"     => propagateNaN(max(vn), v, dt)
      case "nanmax"  => max(vn)
      // Deterministic positional picks via min_by/max_by on the position
      // column — unlike F.first/F.last these are well-defined under
      // shuffles (reference first/last are blockwise-only for the same
      // reason, aggregations.py:496-511). The value itself is the tie-break
      // (lexicographic struct key): if the caller's position column is not
      // a total order — the driver data has duplicate (orderkey, linenumber)
      // pairs — min_by on position alone picks whichever tied row a
      // partition merge saw first, a cross-run AND cross-engine flake.
      // Ties in (pos, value) carry equal values, so the pick is stable.
      // minBy/maxBy run on graft.expressions.ArgSelect, a fixed-width
      // hash aggregate over 64-bit order codes of the two struct fields,
      // whenever value and position have codes; strings, wide decimals
      // and struct positions stay on Spark's min_by/max_by (a
      // SortAggregate). Same picks either way.
      case "first"    => minBy(v, struct(p, v))
      case "last"     => maxBy(v, struct(p, v))
      case "nanfirst" => minBy(vn, when(valid, struct(p, vn)))
      case "nanlast"  => maxBy(vn, when(valid, struct(p, vn)))
      // arg-extrema: first-wins tie-break (reference core.py:1057-1059).
      // argmin: row minimizing (value, pos) lexicographically;
      // argmax: row maximizing (value, -pos).
      // Plain variants follow numpy: with any NaN in the group, BOTH
      // argmin and argmax return the first NaN's position (np.argmin docs;
      // the reference's own tests exclude this case,
      // tests/test_properties.py:80, so this pins the numpy contract).
      // The extremum branch runs over the NaN-normalized ordering key so
      // Spark's NaN-sorts-above-+Inf rule can never leak in.
      case "argmin" =>
        if (isFloaty(dt)) coalesce(min(when(isnan(v), p)), minBy(p, when(valid, struct(v, p))))
        else minBy(p, struct(v, p))
      case "argmax" =>
        if (isFloaty(dt)) coalesce(min(when(isnan(v), p)), maxBy(p, when(valid, struct(v, p * lit(-1)))))
        else maxBy(p, struct(v, p * lit(-1)))
      case "nanargmin" => minBy(p, when(valid, struct(v, p)))
      case "nanargmax" => maxBy(p, when(valid, struct(v, p * lit(-1))))
      case "any" => bool_or(if (dt == BooleanType) v else v.cast(BooleanType))
      case "all" => bool_and(if (dt == BooleanType) v else v.cast(BooleanType))
      // Exact median/quantile: the reference cannot parallelize these
      // (blockwise-only, aggregations.py:532-547); here they run
      // distributed *and* exact on graft.expressions.ExactPercentile, a
      // sort-based kernel that returns what Spark's `percentile` returns
      // (the same linear interpolation as aggregate_flox.py:80-83) from a
      // primitive buffer instead of Spark's boxed value->count map.
      //
      // MEMORY BOUND (100 TB): the kernel keeps one 16-byte (value, count)
      // run per *distinct value* per (partition, group), plus an append
      // area of at most twice that (or a 1024-key floor) — O(distinct), the
      // same bound as Spark's map without the boxing. A group whose
      // distinct value count is huge (a continuous measurement with
      // billions of rows per group) will still spill hard or OOM. At that
      // scale use func=approxquantile (a bounded-memory KLL-style sketch,
      // rank error <= 1/accuracy, mergeable and single-pass) or the exact
      // bounded-memory passes in Quantiles. Exact percentile stays the
      // default because it is the reference's semantic (and the sketch is
      // exact anyway whenever accuracy >= rows-per-group).
      case "median"      => propagateNaN(quantileExpr(vn, dt, Seq(0.5)), v, dt)
      case "nanmedian"   => quantileExpr(vn, dt, Seq(0.5))
      // vector q yields an array column, so the NaN-propagation branch
      // must be an all-NaN array (numpy fills the whole result), not the
      // scalar NaN propagateNaN produces — scalar q keeps the shared path.
      case "quantile" =>
        if (a.q.size <= 1) propagateNaN(quantileExpr(vn, dt, a.q), v, dt)
        else if (!isFloaty(dt)) quantileExpr(vn, dt, a.q)
        else when(coalesce(bool_or(isnan(v)), lit(false)),
          array(a.q.map(_ => lit(Double.NaN)): _*)).otherwise(quantileExpr(vn, dt, a.q))
      case "nanquantile" => quantileExpr(vn, dt, a.q)
      // Scale path beyond the reference: sketch-based quantile. Returns a
      // dataset value (no interpolation); vector q -> array column like
      // the exact variant.
      case "approxquantile" =>
        require(a.q.nonEmpty, "approxquantile requires q")
        if (a.q.size == 1) approx_percentile(vn, lit(a.q.head), lit(a.accuracy))
        else approx_percentile(vn, array(a.q.map(lit): _*), lit(a.accuracy))
      // Distinct counting (beyond the reference's registry — a staple of
      // data-pipeline QA). Exact form shuffles the distinct values;
      // the sketch form (HLL++, relativeSD 1/sqrt(accuracy)) is the
      // 100 TB path and is exact while the per-group distinct count stays
      // within the sketch's dense threshold.
      case "countdistinct"       => count_distinct(vn)
      // rsd = 1/sqrt(accuracy), clamped to HLL++'s supported floor — an
      // enormous accuracy would otherwise push relativeSD below the
      // implementation minimum and throw a confusing plan-time error
      // unrelated to the Agg parameter.
      case "approxcountdistinct" =>
        approx_count_distinct(vn, math.max(1.0 / math.sqrt(a.accuracy), 2e-5))
      // Bounded grouped top-k (graft.expressions.TopKByScore): k best
      // (score, pos) pairs, score DESC / pos ASC, NaN/NULL skipped. The
      // heap buffer rides partial aggregation, so the shuffle carries at
      // most k pairs per (partition, group) — vs the row_number window
      // idiom's full shuffle+sort of every input row. Positional: pos is
      // the returned row identity. Requires GraftFunctions.register on
      // the session (GroupByReduce.reduce does it).
      // The heap buffer is Double-typed, so the score is cast like every
      // numeric-view func (int/long/float32 widen exactly; the output
      // score column is double regardless of input dtype).
      case "topk" =>
        call_function(graft.expressions.GraftFunctions.TopK,
          vn.cast(DoubleType), p.cast(LongType), lit(a.k))
      // bottomk = topk over the negated score, un-negated on the way out:
      // order (score ASC, pos ASC), i.e. the k smallest. The double
      // negation is exact (IEEE sign flip), and -0.0/0.0 order ties are
      // resolved by pos like any equal scores.
      case "bottomk" =>
        transform(
          call_function(graft.expressions.GraftFunctions.TopK,
            -(vn.cast(DoubleType)), p.cast(LongType), lit(a.k)),
          s => struct((-s.getField("score")).as("score"), s.getField("id").as("id")))
      case "mode" | "nanmode" =>
        throw new IllegalArgumentException(
          s"${a.func} is a two-stage plan; use GroupByReduce.reduce")
      case other =>
        throw new IllegalArgumentException(s"unknown aggregation: $other")
    }
  }

  /** Exact percentile(s) of `vn` on the ExactPercentile kernel (requires
    * GraftFunctions.register on the session, as every caller of compile
    * does). decimal(p > 18) has no 64-bit order code for the kernel and
    * stays on Spark's `percentile`, which gives the same results. */
  private def quantileExpr(vn: Column, dt: DataType, q: Seq[Double]): Column = {
    require(q.nonEmpty, "quantile requires q")
    val qs = if (q.size == 1) lit(q.head) else array(q.map(lit): _*) // array = flox's new leading dim
    if (graft.expressions.ExactPercentile.supports(dt))
      call_function(graft.expressions.GraftFunctions.Percentile, vn, qs)
    else percentile(vn, qs)
  }

  /** `min_by(payload, ordering)` / `max_by(...)` on the ArgSelect kernel
    * where the ordering has order codes (requires
    * GraftFunctions.register, as every caller of compile does). */
  private[operators] def minBy(payload: Column, ordering: Column): Column =
    call_function(graft.expressions.GraftFunctions.MinBy, payload, ordering)
  private[operators] def maxBy(payload: Column, ordering: Column): Column =
    call_function(graft.expressions.GraftFunctions.MaxBy, payload, ordering)

  /** minCount masking: NULL unless >= minCount valid values (reference
    * core.py:1145-1168 via the appended nanlen intermediate). */
  def withMinCount(compiled: Column, a: Agg, dt: DataType): Column =
    if (a.minCount <= 0) compiled
    else when(count(nanToNull(col(a.value), dt)) >= a.minCount, compiled)
}
