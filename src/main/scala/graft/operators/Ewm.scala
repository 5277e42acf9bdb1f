package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exponentially-weighted moments — pandas `ewm(...).mean()/var()/std()/
  * cov()/corr()` (adjust=true, ignore_na=false, bias=false) as DISTRIBUTED
  * grouped transforms on two decay clocks: the ROW clock (`alpha`, one
  * decay step per row under `orderCols`) and the WALL clock (`halflife`,
  * decay by elapsed time). No sequential per-group recurrence anywhere, so
  * one giant group parallelizes across its chunks like every scan in this
  * engine (the decayed twin of [[GroupByScan.scanChunked]]'s Blelloch
  * carry).
  *
  * Semantics: with w(t, j) the weight of observation j at row t —
  * beta^(p_t - p_j) on the row clock (beta = 1 - alpha, p the row's
  * 0-based position in its group), 2^(-(t_t - t_j)/halflife) on the wall
  * clock —
  *
  *   mean_t = sum over valid j<=t of w(t,j) * x_j
  *          / sum over valid j<=t of w(t,j)
  *
  * and var/std/cov/corr add the weighted second moments with pandas'
  * bias=false reliability correction (denominator Sw - Sw2/Sw, where Sw2
  * sums the SQUARED weights — a decayed sum at twice the decay rate).
  * NaN/NULL values contribute to NO sum but still advance the decay clock
  * (ignore_na=false), and their rows receive the carried value of prior
  * observations — exactly pandas. Rows before the first valid
  * observation get NULL; var/std need two in-horizon observations.
  *
  * One engine computes every decayed sum on either clock. The direct
  * formula overflows (w^-1 grows unboundedly) and the recurrence
  * y_t = x_t + w*y_{t-1} is serial, so the clock's time axis is cut into
  * fixed cells sized to a ~250 decimal-digit decay budget against the
  * FASTEST-decaying sum:
  *
  *   1. within-cell: running scaled sums s_t = sum v_j*w(q_j)^-1 over the
  *      cell prefix (q = offset in the cell, in decay steps) — one window
  *      over (group, cell);
  *   2. cell carries: cell b's contribution decayed to its end boundary
  *      is A_b = gamma * s_total_b (gamma = one cell's decay); the carry
  *      into cell c, sum_{b<c} gamma^(c-1-b) A_b, is the SAME decayed
  *      shape one level up, so the same scaled-cumsum trick runs over cell
  *      summary rows grouped into supercells of K cells;
  *   3. supercell carries: the last few supercells' summaries fold in
  *      with explicit gap powers (gamma^K)^gap, so empty cells and
  *      supercells are exact; older supercells are decayed below the
  *      smallest denormal — exactly 0 in IEEE double — so the lag
  *      truncation is not an approximation at double precision.
  *
  * The row clock is the gapless case: time = row number, cells of C rows
  * and supercells of K cells each exhausting the budget against the
  * fastest base (beta or beta^2), 3 lags (each supercell step decays every
  * base by >= ~125 digits — the budget split across the 2x rate spread —
  * so four or more supercells back are below 1e-375). The wall clock runs
  * on unix micros: 512-halflife cells (256 when a squared-weight sum
  * decays at twice the rate, so 2^(rate*q) <= 2^512 either way),
  * supercells of 2 cells, 2 lags (a third would decay by at least
  * 2^-(256+2*512) = 2^-1280).
  *
  * The plan is scan-shaped: one shuffle of the rows by group (all row
  * windows share it), plus two metadata-sized aggregations (one summary
  * row per cell / supercell) whose results join back by (group, cell) —
  * the scanChunked topology one level deeper. Magnitude contract: |x|
  * below ~1e40 (~1e20 for the squared sums of var and cov) keeps every
  * scaled intermediate under the double overflow line.
  *
  * Determinism: all inputs to each window sum are plain doubles; sums run
  * in frame order, so results are identical across partitionings (spec-
  * pinned). An oracle replays the mathematically-equal direct formula;
  * the two associations drift only in the last ulps, absorbed by the
  * driver rows' rounding (the rolling-moment convention).
  *
  * Horizon divergence from pandas: observations decayed beyond the
  * budget (e.g. ~830 rows at alpha=0.5, ~575k rows at alpha=0.001) carry
  * exactly-0 weight here, so a row whose ENTIRE valid lookback sits
  * beyond the horizon reports NULL where pandas' renormalized recurrence
  * would still carry the stale value — pure decayed noise at those
  * distances. Rows with any in-horizon observation agree.
  */
object Ewm {

  /** One decayed sum: S_name(t) = sum over valid j <= t of
    * w(t, j)^rate * value_j. Rate 1 is the weight itself, rate 2 the
    * squared weight (the Sw2 sums). */
  private case class Spec(name: String, rate: Int, value: Column)

  /** A decay clock for [[decayedSums]]: `time` is a long column, one decay
    * step is `unit` ticks, a cell is `cell` ticks and a supercell `k`
    * cells, and `lags` supercells carry into the next. `order` breaks ties
    * in equal times. `weight(rate, d)` is the decay over d steps as a
    * column, `gamma(rate)` the decay over one cell. */
  private case class Clock(
      time: Column,
      unit: Long,
      cell: Long,
      k: Int,
      lags: Int,
      order: Seq[Column],
      weight: (Int, Column) => Column,
      gamma: Int => Double)

  // staged NaN-nulled inputs and the sums of each moment
  private val X = col("__vx")
  private val Y = col("__vy")
  private val Sw = col("__sw")
  private val MeanSums = Seq(Spec("__sw", 1, lit(1.0)), Spec("__swx", 1, X))
  private val VarSums = MeanSums ++ Seq(Spec("__swxx", 1, X * X), Spec("__sw2", 2, lit(1.0)))
  private val CovSums = Seq(Spec("__sw", 1, lit(1.0)), Spec("__swx", 1, X),
    Spec("__swy", 1, Y), Spec("__swxy", 1, X * Y), Spec("__swxx", 1, X * X),
    Spec("__swyy", 1, Y * Y), Spec("__sw2", 2, lit(1.0)))

  /** The decayed-sum engine: appends one column per spec (the UNSCALED
    * decayed sum at each row) via the cell/supercell carry described
    * above. Cell indices use exact integer FLOOR division
    * (`(t - pmod(t, w)) div w` — `div` alone truncates toward zero, which
    * would collapse every pre-1970 row within one cell width of the epoch
    * into cell 0 and silently mis-decay them; ADVICE r6), so negative
    * times bucket into negative cells with the offset still in [0, cell).
    * On the gapless row clock the gap powers gK^0, gK^1, gK^2 are exactly
    * 1, gK and gK*gK (`pow`'s special cases), the fixed lag factors.
    *
    * The row table (running + total scaled sums) is held
    * ([[CacheScope.hold]]): it feeds BOTH the output rows and the
    * cell-summary aggregation, and without the persist the scan + group
    * sort + window stack runs twice (the [[Dedup.nearDupPairs]]
    * multi-branch rationale — one extra full sorted pass of the data at
    * scale). */
  private def decayedSums(
      df: DataFrame,
      by: Seq[String],
      clock: Clock,
      valid: Column,
      specs: Seq[Spec]): DataFrame = {
    val (w, k) = (clock.cell, clock.k)
    val byCols = by.map(col)
    def summary(d: DataFrame, key: String, pre: String) = d
      .groupBy(byCols :+ col(key): _*)
      .agg(max(col(s"${pre}_${specs.head.name}")).as(s"${pre}_${specs.head.name}"),
        specs.tail.map(s => max(col(s"${pre}_${s.name}")).as(s"${pre}_${s.name}")): _*)

    var base = df
      .withColumn("__tm", clock.time)
      // floor division, exact in integers: __tm - pmod(__tm, w) is
      // divisible by w, so the truncating `div` cannot round
      .withColumn("__c", expr(s"(__tm - pmod(__tm, ${w}L)) div ${w}L"))
      .withColumn("__q", (col("__tm") - col("__c") * w).cast(DoubleType) / clock.unit)
    val wCellRun = Window.partitionBy(byCols :+ col("__c"): _*)
      .orderBy(col("__q") +: clock.order: _*).rowsBetween(Window.unboundedPreceding, 0)
    val wCellAll = Window.partitionBy(byCols :+ col("__c"): _*)
    for (s <- specs) {
      val xs = when(valid, s.value * clock.weight(s.rate, -col("__q"))).otherwise(lit(0.0))
      base = base
        .withColumn(s"__sn_${s.name}", sum(xs).over(wCellRun))
        .withColumn(s"__tn_${s.name}", sum(xs).over(wCellAll))
    }
    base = CacheScope.hold(base)

    // one summary row per non-empty (group, cell); __tn_* are cell
    // constants. floor/pmod: negative cells need __sc floored and __r in
    // [0, k) for the gamma^(-r) rescale
    var cells = summary(base, "__c", "__tn")
      .withColumn("__sc", expr(s"(__c - pmod(__c, ${k}L)) div ${k}L"))
      .withColumn("__r", expr(s"pmod(__c, ${k}L)"))
    val wScRun = Window.partitionBy(byCols :+ col("__sc"): _*)
      .orderBy(col("__r")).rowsBetween(Window.unboundedPreceding, -1)
    val wScAll = Window.partitionBy(byCols :+ col("__sc"): _*)
    for (s <- specs) {
      val gamma = clock.gamma(s.rate)
      // A_b * gamma^(-r_b): cell b's total decayed to its end boundary
      val scaled = (lit(gamma) * col(s"__tn_${s.name}")) * pow(lit(gamma), -col("__r"))
      cells = cells
        // within-supercell carry: gamma^(r-1) * sum_{b<r} A_b*gamma^(-b)
        // (empty frame -> NULL -> 0; the huge gamma^-1 at r=0 rides that NULL)
        .withColumn(s"__cin_${s.name}", coalesce(
          pow(lit(gamma), col("__r") - 1) * sum(scaled).over(wScRun), lit(0.0)))
        .withColumn(s"__enf_${s.name}", sum(scaled).over(wScAll))
    }

    // one summary row per (group, supercell): E = value decayed to the
    // supercell's end boundary; lags 1..lags feed the next ones
    val wSc = Window.partitionBy(byCols: _*).orderBy(col("__sc"))
    val lagCols = (1 to clock.lags).flatMap { l =>
      lag(col("__sc"), l).over(wSc).as(s"__sc$l") +: specs.map { s =>
        val e = pow(lit(clock.gamma(s.rate)), k - 1) * col(s"__enf_${s.name}")
        lag(e, l).over(wSc).as(s"__e${l}_${s.name}")
      }
    }
    val scs = summary(cells, "__sc", "__enf")
      .select(byCols ++ Seq(col("__sc")) ++ lagCols: _*)

    var carries = cells.join(scs, by :+ "__sc", "left")
    for (s <- specs) {
      val gamma = clock.gamma(s.rate)
      val gK = math.pow(gamma, k)  // underflows to 0 harmlessly when spent
      // lag l sits (__sc - __scl - 1) whole supercells before the adjacent one
      val prior = (1 to clock.lags).map { l =>
        coalesce(pow(lit(gK), (col("__sc") - col(s"__sc$l") - 1).cast(DoubleType)) *
          col(s"__e${l}_${s.name}"), lit(0.0))
      }.reduce(_ + _)
      carries = carries.withColumn(s"__cr_${s.name}",
        col(s"__cin_${s.name}") + pow(lit(gamma), col("__r")) * prior)
    }
    val carrySel = carries.select(
      byCols ++ Seq(col("__c")) ++ specs.map(s => col(s"__cr_${s.name}")): _*)

    var out = base.join(carrySel, by :+ "__c", "left")
    for (s <- specs)
      out = out.withColumn(s.name,
        clock.weight(s.rate, col("__q")) * (col(s"__sn_${s.name}") + col(s"__cr_${s.name}")))
    out.drop(Seq("__tm", "__c", "__q") ++ specs.flatMap(s =>
      Seq(s"__sn_${s.name}", s"__tn_${s.name}", s"__cr_${s.name}")): _*)
  }

  /** Test seam: caps the row clock's cell size C below its decay-budget
    * size, so small fixtures cross many cells and supercells (results are
    * chunking-invariant). Read once per call, on the calling thread:
    * `maxChunk.withValue(4) { ewmMean(…) }`. */
  private[graft] val maxChunk = new scala.util.DynamicVariable[Int](1024)

  /** The row clock: time = row_number - 1 under `orderCols`, one step per
    * row. C and K each exhaust the ~250-digit budget against the fastest
    * base (beta^(C-1) >= 1e-250); the squared-weight base is beta*beta. */
  private def rowClock(
      by: Seq[String], orderCols: Seq[Column], alpha: Double, specs: Seq[Spec]): Clock = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1) (got $alpha)")
    val cap = maxChunk.value
    require(cap >= 2, s"maxChunk must be >= 2 (got $cap)")
    def base(rate: Int) = Seq.fill(rate)(1.0 - alpha).product
    val dMax = -math.log10(base(specs.map(_.rate).max))
    val c = math.max(2, math.min(cap, (250.0 / dMax).toInt + 1))
    val k = math.max(1, (250.0 / (c * dMax)).toInt + 1)
    val wOrd = Window.partitionBy(by.map(col): _*).orderBy(orderCols: _*)
    Clock(row_number().over(wOrd).cast("long") - 1, unit = 1L, cell = c, k = k,
      lags = 3, order = Nil,
      weight = (rate, d) => pow(lit(base(rate)), d),
      gamma = rate => math.pow(base(rate), c))
  }

  /** The wall clock: time = unix micros of `timeCol`, one step per
    * halflife (a month-free interval — the Rolling.rollingTime
    * convention), cells of 512 halflives divided by the fastest rate,
    * supercells of 2 cells. Weights are exact-exponent powers of two. */
  private def wallClock(
      timeCol: String, halflife: String, tieBreak: Seq[Column], specs: Seq[Spec]): Clock = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(halflife))
    require(iv.months == 0, s"halflife '$halflife' has months — no fixed micros length")
    val hMicros = iv.days * 86400000000L + iv.microseconds
    require(hMicros > 0, s"halflife must be a positive duration (got $halflife)")
    val cellHl = 512L / specs.map(_.rate).max
    Clock(unix_micros(col(timeCol)), unit = hMicros, cell = cellHl * hMicros, k = 2,
      lags = 2, order = tieBreak,
      weight = (rate, d) => pow(lit(2.0), lit(-rate.toDouble) * d),
      gamma = rate => math.pow(2.0, -(rate * cellHl).toDouble))
  }

  private def checkArgs(df: DataFrame, by: Seq[String], outs: Seq[String]): Unit = {
    require(by.nonEmpty, "ewm needs at least one grouping column")
    val clash = df.columns.toSeq.intersect(outs)
    require(clash.isEmpty,
      s"ewm output columns already exist in the input: ${clash.mkString(", ")}")
    // the engine's working columns all start with "__"; the finalizers
    // drop every such column, so the contract is the prefix itself
    val reserved = (df.columns.toSeq ++ outs).filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"ewm reserves the __ column-name prefix for its working columns; rename ${reserved.mkString(", ")}")
  }

  /** `cols` staged as NaN-nulled doubles `__vx` (and `__vy`). */
  private def staged(df: DataFrame, cols: String*): DataFrame =
    cols.zip(Seq("__vx", "__vy")).foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(v, graft.functions.NanOps
        .nanToNull(col(c), df.schema(c).dataType).cast(DoubleType))
    }

  private def dropWorking(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("__")): _*)

  /** The reliability gates on den = Sw^2 - Sw2: pandas' `den > 0` on the
    * row clock, the relative [[RelVarEps]] cutoff on the wall clock. */
  private val RowGate: Column => Column = den => den > 0
  private val WallGate: Column => Column = den => den > lit(RelVarEps) * Sw * Sw

  private def meanOf(sums: DataFrame, as: String): DataFrame =
    dropWorking(sums.withColumn(as, when(Sw > 0, col("__swx") / Sw)))

  /** pandas _ewm.pyx bias=false form: var = (Sw*Swxx - Swx^2) / (Sw^2 - Sw2),
    * the numerator clamped at 0 like every variance finalize in the engine. */
  private def varStdOf(
      sums: DataFrame, asVar: String, asStd: String, denOk: Column => Column): DataFrame = {
    val num = greatest(Sw * col("__swxx") - col("__swx") * col("__swx"), lit(0.0))
    val den = Sw * Sw - col("__sw2")
    val v = when(denOk(den), num / den)
    dropWorking(sums.withColumn(asVar, v).withColumn(asStd, sqrt(v)))
  }

  private def covCorrOf(
      sums: DataFrame, asCov: String, asCorr: String, denOk: Column => Column): DataFrame = {
    val covNum = Sw * col("__swxy") - col("__swx") * col("__swy")
    val den = Sw * Sw - col("__sw2")
    val vx = Sw * col("__swxx") - col("__swx") * col("__swx")
    val vy = Sw * col("__swyy") - col("__swy") * col("__swy")
    val vxOk = vx > lit(RelCorrEps) * Sw * col("__swxx")
    val vyOk = vy > lit(RelCorrEps) * Sw * col("__swyy")
    dropWorking(sums
      .withColumn(asCov, when(denOk(den), covNum / den))
      .withColumn(asCorr, when(denOk(den) && vxOk && vyOk,
        greatest(least(covNum / sqrt(vx * vy), lit(1.0)), lit(-1.0)))))
  }

  /** Appends `as` = the exponentially-weighted mean of `valueCol` within
    * each `by` group ordered by `orderCols` (row clock, decay 1 - alpha
    * per row). */
  def ewmMean(
      df: DataFrame,
      by: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      alpha: Double,
      as: String = "ewm"): DataFrame = {
    checkArgs(df, by, Seq(as))
    meanOf(decayedSums(staged(df, valueCol), by, rowClock(by, orderCols, alpha, MeanSums),
      X.isNotNull, MeanSums), as)
  }

  /** Appends `asVar`/`asStd` = pandas `ewm(alpha).var()/std()` (adjust=
    * true, bias=false): weighted variance Sw*Swxx - Swx^2 over the
    * reliability denominator Sw^2 - Sw2, with Sw2 the squared-weight sum
    * (decay base beta^2 — the mixed-rate case of the engine). NULL until
    * two in-horizon observations. */
  def ewmVarStd(
      df: DataFrame,
      by: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      alpha: Double,
      asVar: String = "ewm_var",
      asStd: String = "ewm_std"): DataFrame = {
    checkArgs(df, by, Seq(asVar, asStd))
    varStdOf(decayedSums(staged(df, valueCol), by, rowClock(by, orderCols, alpha, VarSums),
      X.isNotNull, VarSums), asVar, asStd, RowGate)
  }

  /** Appends `asCov`/`asCorr` = pandas `ewm(alpha).cov(other)/corr(other)`
    * (adjust=true, bias=false, ignore_na=false): the PAIRWISE decayed
    * moments of two columns. A row contributes only when BOTH values are
    * valid (pandas' pairwise-complete mask), but every row advances the
    * decay clock (positions are row positions, ignore_na=false).
    *
    *   cov  = (Sw*Swxy − Swx*Swy) / (Sw² − Sw2)   (bias=false)
    *   corr = (Sw*Swxy − Swx*Swy)
    *            / sqrt((Sw*Swxx − Swx²)(Sw*Swyy − Swy²))
    *
    * — the reliability denominator cancels out of corr, so corr needs no
    * Sw2; both share the seven decayed sums (six at base beta, Sw2 at
    * beta² — the [[ewmVarStd]] mixed-rate case) on ONE cell grid. cov
    * is NULL until two in-horizon pairs (den > 0); corr additionally
    * NULLs when either marginal variance is degenerate (constant column
    * — pandas emits NaN there). Degeneracy is a RELATIVE cutoff, not
    * `> 0`: a constant-column variance Sw*Sxx − Sx² cancels to summation
    * noise (≤ ~1e-13 of Sw*Sxx), not exact zero, and the noise lands on
    * different sides of zero per engine — while any real two-valued
    * signal is ≥ ~(Δ/x)² relative. [[RelCorrEps]] = 1e-9 sits in that
    * gap (the [[RelVarEps]] rationale one family over). corr is clamped
    * to [-1, 1]: the two variance square roots round oppositely at the
    * last ulp on perfectly correlated data, which would otherwise emit
    * 1.0000000000000002. */
  def ewmCovCorr(
      df: DataFrame,
      by: Seq[String],
      orderCols: Seq[Column],
      xCol: String,
      yCol: String,
      alpha: Double,
      asCov: String = "ewm_cov",
      asCorr: String = "ewm_corr"): DataFrame = {
    checkArgs(df, by, Seq(asCov, asCorr))
    covCorrOf(decayedSums(staged(df, xCol, yCol), by, rowClock(by, orderCols, alpha, CovSums),
      X.isNotNull && Y.isNotNull, CovSums), asCov, asCorr, RowGate)
  }

  /** TIME-decayed exponentially-weighted mean over an irregular event
    * stream — pandas `ewm(halflife=timedelta, times=...).mean()`: the
    * weight of observation j at row t is 2^(-(t_t - t_j)/halflife), so
    * decay follows WALL CLOCK, not row count (the event-stream feature
    * shape: "decayed activity per user as of each event"). NaN/NULL
    * values take no part (time itself is the decay clock, so pandas'
    * ignore_na distinction does not arise); rows before the first valid
    * observation get NULL. Ties in `timeCol` weigh each other fully;
    * `tieBreak` columns fix their order for deterministic summation.
    *
    * The [[ewmMean]] engine and finalizer on the wall clock: 512-halflife
    * time cells (cell boundaries from exact integer-microsecond
    * arithmetic — never FP division), within-cell scale 2^q with q the
    * REAL in-cell offset (bounded by 512, so 2^q <= 1.4e154 — the same
    * ~250 decimal-digit budget), and cell/supercell carries fold with
    * explicit-distance decay factors so EMPTY time cells are handled
    * exactly. Any epoch sign works (floor-divided cells). */
  def ewmTimeMean(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      valueCol: String,
      halflife: String,
      as: String = "ewm",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    checkArgs(df, by, Seq(as))
    meanOf(decayedSums(staged(df, valueCol), by,
      wallClock(timeCol, halflife, tieBreak, MeanSums), X.isNotNull, MeanSums), as)
  }

  /** TIME-decayed exponentially-weighted variance/std over an irregular
    * event stream — the wall-clock twin of [[ewmVarStd]] (pandas itself
    * raises NotImplementedError for `ewm(halflife=timedelta, times=...)
    * .var()`; the semantics here are the standard weighted moments with
    * the same wall-clock weights as [[ewmTimeMean]]):
    *
    *   w_j = 2^(-(t_t - t_j)/halflife);  mean = Swx/Sw;
    *   var = (Sw*Swxx - Swx^2) / (Sw^2 - Sw2)   [bias=false]
    *
    * with Sw2 the sum of SQUARED weights — a decayed sum at TWICE the
    * decay rate, so the cell width halves to 256 halflives.
    *
    * Reliability cutoff: the variance is NULL unless den = Sw^2 - Sw2
    * exceeds 1e-6 * Sw^2 — i.e. unless the lookback beyond the single
    * newest observation carries at least ~1e-6 relative weight. Below
    * that the sums cancel catastrophically (both num and den shrink to
    * the ~1e-16 double noise floor once the second-newest weight is
    * ~2^-50, e.g. a row 50+ halflives after its predecessor) and ANY
    * sum-of-moments formulation returns pure rounding noise; a row-count
    * `den > 0` test would report that noise as variance. A single
    * observation (however weighted) and equal-time ties behave as in
    * [[ewmVarStd]]: one obs NULL, ties count separately. */
  def ewmTimeVarStd(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      valueCol: String,
      halflife: String,
      asVar: String = "ewm_var",
      asStd: String = "ewm_std",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    checkArgs(df, by, Seq(asVar, asStd))
    varStdOf(decayedSums(staged(df, valueCol), by,
      wallClock(timeCol, halflife, tieBreak, VarSums), X.isNotNull, VarSums),
      asVar, asStd, WallGate)
  }

  /** TIME-decayed pairwise covariance/correlation — the wall-clock twin
    * of [[ewmCovCorr]], completing the (row, time) x (mean, var, cov)
    * matrix. Weights are [[ewmTimeMean]]'s 2^(-dt/halflife); a row
    * contributes only when BOTH series are valid (pairwise-complete),
    * every row advances the wall clock by construction. Seven decayed
    * sums share one 256-halflife cell grid.
    *
    * Gates: cov NULL unless den = Sw^2 - Sw2 carries >= [[RelVarEps]]
    * of Sw^2 (the wall-clock reliability cutoff — below it the
    * cancelled sums are double noise); corr additionally NULL when
    * either marginal variance fails the [[RelCorrEps]] relative
    * degeneracy gate, and clamps to [-1, 1]. */
  def ewmTimeCovCorr(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      xCol: String,
      yCol: String,
      halflife: String,
      asCov: String = "ewm_cov",
      asCorr: String = "ewm_corr",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    checkArgs(df, by, Seq(asCov, asCorr))
    covCorrOf(decayedSums(staged(df, xCol, yCol), by,
      wallClock(timeCol, halflife, tieBreak, CovSums), X.isNotNull && Y.isNotNull, CovSums),
      asCov, asCorr, WallGate)
  }

  /** [[ewmTimeVarStd]]'s reliability cutoff: den/Sw^2 below this is
    * cancellation noise, not variance (engine and oracle share the
    * constant; the only drift risk is a den/Sw^2 landing within an ulp
    * of it — the accepted ln-boundary risk class). */
  val RelVarEps = 1e-6

  /** [[ewmCovCorr]]'s marginal-variance degeneracy cutoff: a variance
    * below this fraction of its uncentered moment Sw*Sxx is treated as
    * constant-column cancellation noise (noise ceiling ~1e-13 relative;
    * the smallest genuine two-valued signal in practice ~(Δ/x)² ≥ ~1e-5
    * — 1e-9 sits mid-gap, so ulp drift cannot flip the gate). */
  val RelCorrEps = 1e-9
}
