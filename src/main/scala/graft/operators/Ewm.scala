package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exponentially-weighted moments — pandas `ewm(alpha).mean()/var()/std()`
  * (adjust=true, ignore_na=false) as DISTRIBUTED grouped transforms: no
  * sequential per-group recurrence anywhere, so one giant group
  * parallelizes across its chunks like every scan in this engine (the
  * decayed twin of [[GroupByScan.scanChunked]]'s Blelloch carry).
  *
  * Semantics (pandas adjust=true): with beta = 1 - alpha and p the row's
  * 0-based position in its group under `orderCols`,
  *
  *   mean_t = sum over valid j<=t of beta^(p_t-p_j) * x_j
  *          / sum over valid j<=t of beta^(p_t-p_j)
  *
  * and var/std add the weighted second moment with pandas' bias=false
  * reliability correction (denominator Sw - Sw2/Sw, where Sw2 sums the
  * SQUARED weights — a decayed sum at base beta^2). NaN/NULL values
  * contribute to NO sum but still advance the decay clock
  * (ignore_na=false), and their rows receive the carried value of prior
  * observations — exactly pandas. Rows before the first valid
  * observation get NULL; var/std need two in-horizon observations.
  *
  * Distribution scheme — the direct formula overflows (beta^-p grows
  * unboundedly) and the recurrence y_t = x_t + beta*y_{t-1} is serial, so
  * the group is cut into fixed chunks of C rows with C sized to a ~250
  * decimal-digit decay budget against the FASTEST-decaying base
  * (beta_max^-(C-1) <= 1e250):
  *
  *   1. within-chunk: running scaled sums s_t = sum v_j*beta^(-q_j) over
  *      the chunk prefix (q = position in chunk) — one window over
  *      (group, chunk);
  *   2. chunk carries: chunk b's contribution decayed to the next chunk
  *      boundary is A_b = beta^C * s_total_b; the carry into chunk c,
  *      Carry_c = sum_{b<c} gamma^(c-1-b) A_b with gamma = beta^C, is the
  *      SAME decayed shape one level up, so the same scaled-cumsum trick
  *      runs over chunk summary rows grouped into superchunks of K chunks
  *      (K exhausting the same budget);
  *   3. superchunk carries: each superchunk step decays every base by
  *      >= ~125 digits (the budget split across the <= 2x digit-rate
  *      spread between beta and beta^2), so contributions from four or
  *      more superchunks back are below 1e-375 — under the smallest
  *      denormal, i.e. exactly 0 in IEEE double. The lag-1..3 truncation
  *      used here is therefore not an approximation at double precision.
  *
  * The plan is scan-shaped: one shuffle of the rows by group (all row
  * windows share it), plus two metadata-sized aggregations (one summary
  * row per chunk / superchunk, i.e. 1/C / 1/(C*K) of the data) whose
  * results join back by (group, chunk) — the scanChunked topology one
  * level deeper. Magnitude contract: |x| below ~1e40 keeps every scaled
  * intermediate under the double overflow line.
  *
  * Determinism: all inputs to each window sum are plain doubles; sums run
  * in frame order, so results are identical across partitionings (spec-
  * pinned). An oracle replays the mathematically-equal direct formula;
  * the two associations drift only in the last ulps, absorbed by the
  * driver rows' 1e-6 rounding (the rolling-moment convention).
  *
  * Horizon divergence from pandas: observations decayed beyond the
  * budget (e.g. ~830 rows at alpha=0.5, ~575k rows at alpha=0.001) carry
  * exactly-0 weight here, so a row whose ENTIRE valid lookback sits
  * beyond the horizon reports NULL where pandas' renormalized recurrence
  * would still carry the stale value — pure decayed noise at those
  * distances. Rows with any in-horizon observation agree.
  */
object Ewm {

  /** One decayed sum to compute: S_name(t) = sum over j <= t with
    * valid_j of base^(p_t - p_j) * value_j. */
  private case class DSpec(name: String, base: Double, value: Column)

  private val Reserved = Seq("__p", "__c", "__q", "__sc", "__r")

  /** Appends one column per spec (the UNSCALED decayed sums at each row)
    * via the chunk/superchunk carry topology described above. All specs
    * share one chunk grid sized by the fastest-decaying base; bases may
    * differ by at most ~2x in decay rate (the lag-3 truncation proof
    * above needs >= ~125 digits per superchunk step for every base).
    *
    * The row table (running + total scaled sums) is held
    * ([[CacheScope.hold]]): it feeds BOTH the output rows and the
    * chunk-summary aggregation, and without the persist the scan + group
    * sort + window stack runs twice (the [[Dedup.nearDupPairs]]
    * multi-branch rationale — one extra full sorted pass of the data at
    * scale). */
  private def decayedSums(
      df: DataFrame,
      by: Seq[String],
      orderCols: Seq[Column],
      valid: Column,
      specs: Seq[DSpec],
      maxChunk: Int): DataFrame = {
    val dMax = specs.map(s => -math.log10(s.base)).max
    val dMin = specs.map(s => -math.log10(s.base)).min
    require(dMax / dMin <= 2.000001,
      s"decayedSums bases span more than a 2x decay-rate ratio")
    val c = math.max(2, math.min(maxChunk, (250.0 / dMax).toInt + 1))
    val k = math.max(1, (250.0 / (c * dMax)).toInt + 1)
    val byCols = by.map(col)

    val wOrd = Window.partitionBy(byCols: _*).orderBy(orderCols: _*)
    var base = df
      .withColumn("__p", row_number().over(wOrd).cast("long") - 1)
      .withColumn("__c", expr(s"__p div $c"))
      .withColumn("__q", col("__p") % c)
    val wChunkRun = Window.partitionBy(byCols :+ col("__c"): _*)
      .orderBy(col("__q")).rowsBetween(Window.unboundedPreceding, 0)
    val wChunkAll = Window.partitionBy(byCols :+ col("__c"): _*)
    for (s <- specs) {
      val xs = when(valid, s.value * pow(lit(s.base), -col("__q"))).otherwise(lit(0.0))
      base = base
        .withColumn(s"__sn_${s.name}", sum(xs).over(wChunkRun))
        .withColumn(s"__tn_${s.name}", sum(xs).over(wChunkAll))
    }
    base = CacheScope.hold(base)

    // one summary row per (group, chunk); __tn_* are chunk constants
    var chunks = base
      .groupBy(byCols :+ col("__c"): _*)
      .agg(max(col(s"__tn_${specs.head.name}")).as(s"__tn_${specs.head.name}"),
        specs.tail.map(s => max(col(s"__tn_${s.name}")).as(s"__tn_${s.name}")): _*)
      .withColumn("__sc", expr(s"__c div $k"))
      .withColumn("__r", col("__c") % k)
    val wScRun = Window.partitionBy(byCols :+ col("__sc"): _*)
      .orderBy(col("__r")).rowsBetween(Window.unboundedPreceding, -1)
    val wScAll = Window.partitionBy(byCols :+ col("__sc"): _*)
    for (s <- specs) {
      val gamma = math.pow(s.base, c)
      val a = lit(gamma) * col(s"__tn_${s.name}")          // A_b
      val scaled = a * pow(lit(gamma), -col("__r"))        // A_b * gamma^-b'
      chunks = chunks
        // within-superchunk carry: gamma^(r-1) * sum_{b'<r} A_b*gamma^(-b')
        // (empty frame -> NULL -> 0; the huge gamma^-1 at r=0 rides that NULL)
        .withColumn(s"__cin_${s.name}", coalesce(
          pow(lit(gamma), col("__r") - 1) * sum(scaled).over(wScRun), lit(0.0)))
        .withColumn(s"__enf_${s.name}", sum(scaled).over(wScAll))
    }

    // one summary row per (group, superchunk): E = value decayed to the
    // superchunk's last chunk boundary; lags 1..3 feed the next ones
    val wSc = Window.partitionBy(byCols: _*).orderBy(col("__sc"))
    val scs = chunks
      .groupBy(byCols :+ col("__sc"): _*)
      .agg(max(col(s"__enf_${specs.head.name}")).as(s"__enf_${specs.head.name}"),
        specs.tail.map(s => max(col(s"__enf_${s.name}")).as(s"__enf_${s.name}")): _*)
    val lagCols = specs.flatMap { s =>
      val e = pow(lit(math.pow(s.base, c)), k - 1) * col(s"__enf_${s.name}")
      (1 to 3).map(l => lag(e, l).over(wSc).as(s"__e${l}_${s.name}"))
    }
    val scLags = scs.select(byCols ++ Seq(col("__sc")) ++ lagCols: _*)

    var carries = chunks.join(scLags, by :+ "__sc", "left")
    for (s <- specs) {
      val gamma = math.pow(s.base, c)
      val gK = math.pow(gamma, k)  // underflows to 0 harmlessly when spent
      val prior = coalesce(col(s"__e1_${s.name}"), lit(0.0)) +
        lit(gK) * coalesce(col(s"__e2_${s.name}"), lit(0.0)) +
        lit(gK * gK) * coalesce(col(s"__e3_${s.name}"), lit(0.0))
      carries = carries.withColumn(s"__cr_${s.name}",
        col(s"__cin_${s.name}") + pow(lit(gamma), col("__r")) * prior)
    }
    val carrySel = carries.select(
      byCols ++ Seq(col("__c")) ++ specs.map(s => col(s"__cr_${s.name}")): _*)

    var out = base.join(carrySel, by :+ "__c", "left")
    for (s <- specs)
      out = out.withColumn(s.name,
        pow(lit(s.base), col("__q")) * (col(s"__sn_${s.name}") + col(s"__cr_${s.name}")))
    out.drop(Reserved ++ specs.flatMap(s =>
      Seq(s"__sn_${s.name}", s"__tn_${s.name}", s"__cr_${s.name}")): _*)
  }

  private def checkArgs(
      df: DataFrame, by: Seq[String], alpha: Double, maxChunk: Int,
      outs: Seq[String]): Unit = {
    require(by.nonEmpty, "ewm needs at least one grouping column")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1) (got $alpha)")
    require(maxChunk >= 2, s"maxChunk must be >= 2 (got $maxChunk)")
    val clash = df.columns.toSeq.intersect(outs)
    require(clash.isEmpty,
      s"ewm output columns already exist in the input: ${clash.mkString(", ")}")
    val extra = Set("__v", "__vx", "__vy", "__tm", "__an", "__ad", "__en", "__ed",
      "__en1", "__ed1", "__en2", "__ed2", "__sc1", "__sc2")
    val rclash = df.columns.toSeq.filter(n =>
      Reserved.contains(n) || extra.contains(n) ||
        n.startsWith("__sn_") || n.startsWith("__tn_") ||
        n.startsWith("__cin_") || n.startsWith("__enf_") || n.startsWith("__cr_") ||
        n.startsWith("__e1_") || n.startsWith("__e2_") || n.startsWith("__e3_") ||
        n.startsWith("__s_"))
    require(rclash.isEmpty,
      s"ewm reserves the __-prefixed working names; rename ${rclash.mkString(", ")} in the input")
  }

  /** Appends `as` = the exponentially-weighted mean of `valueCol` within
    * each `by` group ordered by `orderCols`. `maxChunk` caps the chunk
    * size (the decay budget may cap it lower); it exists for tests —
    * results are chunking-invariant. */
  def ewmMean(
      df: DataFrame,
      by: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      alpha: Double,
      as: String = "ewm",
      maxChunk: Int = 1024): DataFrame = {
    checkArgs(df, by, alpha, maxChunk, Seq(as))
    val beta = 1.0 - alpha
    val vn = graft.functions.NanOps
      .nanToNull(col(valueCol), df.schema(valueCol).dataType).cast(DoubleType)
    val sums = decayedSums(df.withColumn("__v", vn), by, orderCols,
      col("__v").isNotNull,
      Seq(DSpec("__swx", beta, col("__v")), DSpec("__sw", beta, lit(1.0))),
      maxChunk)
    sums
      .withColumn(as, when(col("__sw") > 0, col("__swx") / col("__sw")))
      .drop("__v", "__swx", "__sw")
  }

  /** Appends `asVar`/`asStd` = pandas `ewm(alpha).var()/std()` (adjust=
    * true, bias=false): weighted variance Sw*Swxx - Swx^2 over the
    * reliability denominator Sw^2 - Sw2, with Sw2 the squared-weight sum
    * (decay base beta^2 — the mixed-base case of [[decayedSums]]). NULL
    * until two in-horizon observations; the numerator is clamped at 0
    * like every variance finalize in the engine. */
  def ewmVarStd(
      df: DataFrame,
      by: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      alpha: Double,
      asVar: String = "ewm_var",
      asStd: String = "ewm_std",
      maxChunk: Int = 1024): DataFrame = {
    checkArgs(df, by, alpha, maxChunk, Seq(asVar, asStd))
    val beta = 1.0 - alpha
    val vn = graft.functions.NanOps
      .nanToNull(col(valueCol), df.schema(valueCol).dataType).cast(DoubleType)
    val sums = decayedSums(df.withColumn("__v", vn), by, orderCols,
      col("__v").isNotNull,
      Seq(DSpec("__sw", beta, lit(1.0)),
        DSpec("__swx", beta, col("__v")),
        DSpec("__swxx", beta, col("__v") * col("__v")),
        DSpec("__sw2", beta * beta, lit(1.0))),
      maxChunk)
    // pandas _ewm.pyx bias=false form: var = (Sw*Swxx - Swx^2) / (Sw^2 - Sw2)
    val num = greatest(col("__sw") * col("__swxx") - col("__swx") * col("__swx"), lit(0.0))
    val den = col("__sw") * col("__sw") - col("__sw2")
    val v = when(den > 0, num / den)
    sums
      .withColumn(asVar, v)
      .withColumn(asStd, sqrt(v))
      .drop("__v", "__sw", "__swx", "__swxx", "__sw2")
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
    * beta² — the [[ewmVarStd]] mixed-base case) on ONE chunk grid. cov
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
      asCorr: String = "ewm_corr",
      maxChunk: Int = 1024): DataFrame = {
    checkArgs(df, by, alpha, maxChunk, Seq(asCov, asCorr))
    val beta = 1.0 - alpha
    val xn = graft.functions.NanOps
      .nanToNull(col(xCol), df.schema(xCol).dataType).cast(DoubleType)
    val yn = graft.functions.NanOps
      .nanToNull(col(yCol), df.schema(yCol).dataType).cast(DoubleType)
    val in = df.withColumn("__vx", xn).withColumn("__vy", yn)
    val both = col("__vx").isNotNull && col("__vy").isNotNull
    val sums = decayedSums(in, by, orderCols, both,
      Seq(DSpec("__sw", beta, lit(1.0)),
        DSpec("__swx", beta, col("__vx")),
        DSpec("__swy", beta, col("__vy")),
        DSpec("__swxy", beta, col("__vx") * col("__vy")),
        DSpec("__swxx", beta, col("__vx") * col("__vx")),
        DSpec("__swyy", beta, col("__vy") * col("__vy")),
        DSpec("__sw2", beta * beta, lit(1.0))),
      maxChunk)
    val covNum = col("__sw") * col("__swxy") - col("__swx") * col("__swy")
    val den = col("__sw") * col("__sw") - col("__sw2")
    val vx = col("__sw") * col("__swxx") - col("__swx") * col("__swx")
    val vy = col("__sw") * col("__swyy") - col("__swy") * col("__swy")
    val vxOk = vx > lit(RelCorrEps) * col("__sw") * col("__swxx")
    val vyOk = vy > lit(RelCorrEps) * col("__sw") * col("__swyy")
    sums
      .withColumn(asCov, when(den > 0, covNum / den))
      .withColumn(asCorr, when(den > 0 && vxOk && vyOk,
        greatest(least(covNum / sqrt(vx * vy), lit(1.0)), lit(-1.0))))
      .drop("__vx", "__vy", "__sw", "__swx", "__swy", "__swxy",
        "__swxx", "__swyy", "__sw2")
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
    * Same chunked-carry machinery as [[ewmMean]] with the decay clock in
    * halflife units: rows bucket into fixed 512-halflife time cells
    * (cell boundaries from exact integer-microsecond arithmetic — never
    * FP division), within-cell scaled sums use 2^q with q the REAL
    * in-cell offset (bounded by 512, so 2^q <= 1.4e154 — the same ~250
    * decimal-digit budget), and cell/supercell carries fold with
    * explicit-distance decay factors pow(2^-512, gap) so EMPTY time
    * cells are handled exactly (a factor beyond ~2 supercells of gap
    * underflows to exact 0 — the lag-3 truncation proof again).
    * Any epoch sign works: cell indices use exact integer FLOOR
    * division (`(t - pmod(t, w)) div w` — `div` alone truncates toward
    * zero, which would collapse every pre-1970 row within one cell
    * width of the epoch into cell 0 and silently mis-decay them;
    * ADVICE r6), so pre-1970 timestamps bucket into negative cells
    * with the in-cell offset still in [0, 512).
    *
    * The plan is the [[ewmMean]] shape: one row shuffle by group, two
    * summary-scale aggregations joined back, row stage held across its
    * two consumers ([[CacheScope.hold]]). */
  def ewmTimeMean(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      valueCol: String,
      halflife: String,
      as: String = "ewm",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    checkArgs(df, by, 0.5, 1024, Seq(as))
    // mean needs only rate-1 sums -> the full 512-halflife cell budget
    val sums = timeDecayedSums(df, by, timeCol, valueCol, halflife,
      tieBreak, cellHl = 512L,
      Seq(TSpec("n", 1, col("__v")), TSpec("d", 1, lit(1.0))))
    val den = col("__s_d")
    sums
      .withColumn(as, when(den > 0, col("__s_n") / den))
      .drop("__s_n", "__s_d")
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
    * decay rate, the mixed-base case. The cell width halves to 256
    * halflives so the fastest in-cell scale 2^(2q) stays at the same
    * ~154-digit budget; the lag-2 supercell truncation stays exact for
    * every base (slowest-base lag-3 minimum decay 2^-(256+2*512) =
    * 2^-1280, below the smallest denormal — exactly 0 in IEEE).
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
    * [[ewmVarStd]]: one obs NULL, ties count separately. Magnitude
    * contract: |x| below ~1e20 (the x^2 sum must clear the shared scale
    * budget). */
  def ewmTimeVarStd(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      valueCol: String,
      halflife: String,
      asVar: String = "ewm_var",
      asStd: String = "ewm_std",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    checkArgs(df, by, 0.5, 1024, Seq(asVar, asStd))
    // Sw2 decays at rate 2 -> halve the cell so 2^(2q) <= 2^512
    val sums = timeDecayedSums(df, by, timeCol, valueCol, halflife,
      tieBreak, cellHl = 256L,
      Seq(TSpec("w", 1, lit(1.0)),
        TSpec("wx", 1, col("__v")),
        TSpec("wxx", 1, col("__v") * col("__v")),
        TSpec("w2", 2, lit(1.0))))
    // pandas _ewm.pyx bias=false form: var = (Sw*Swxx - Swx^2)/(Sw^2 - Sw2),
    // gated by the relative reliability cutoff (scaladoc): den must carry
    // >= 1e-6 of Sw^2 or the cancelled sums are double-precision noise
    val num = greatest(
      col("__s_w") * col("__s_wxx") - col("__s_wx") * col("__s_wx"), lit(0.0))
    val den = col("__s_w") * col("__s_w") - col("__s_w2")
    val v = when(den > lit(RelVarEps) * col("__s_w") * col("__s_w"), num / den)
    sums
      .withColumn(asVar, v)
      .withColumn(asStd, sqrt(v))
      .drop("__s_w", "__s_wx", "__s_wxx", "__s_w2")
  }

  /** TIME-decayed pairwise covariance/correlation — the wall-clock twin
    * of [[ewmCovCorr]], completing the (row, time) x (mean, var, cov)
    * matrix. Weights are [[ewmTimeMean]]'s 2^(-dt/halflife); a row
    * contributes only when BOTH series are valid (pairwise-complete),
    * every row advances the wall clock by construction. Seven decayed
    * sums share one 256-halflife cell grid (Sw2 at twice the rate — the
    * [[ewmTimeVarStd]] mixed-rate sizing).
    *
    * Gates: cov NULL unless den = Sw^2 - Sw2 carries >= [[RelVarEps]]
    * of Sw^2 (the wall-clock reliability cutoff — below it the
    * cancelled sums are double noise); corr additionally NULL when
    * either marginal variance fails the [[RelCorrEps]] relative
    * degeneracy gate, and clamps to [-1, 1]. Magnitude contract:
    * |x|,|y| below ~1e20 (the squared sums share the scale budget). */
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
    checkArgs(df, by, 0.5, 1024, Seq(asCov, asCorr))
    val xn = graft.functions.NanOps
      .nanToNull(col(xCol), df.schema(xCol).dataType).cast(DoubleType)
    val yn = graft.functions.NanOps
      .nanToNull(col(yCol), df.schema(yCol).dataType).cast(DoubleType)
    val staged = df.withColumn("__vx", xn).withColumn("__vy", yn)
    val sums = timeDecayedSumsStaged(staged, by, timeCol,
      halflife, tieBreak, cellHl = 256L,
      Seq(TSpec("w", 1, lit(1.0)),
        TSpec("wx", 1, col("__vx")),
        TSpec("wy", 1, col("__vy")),
        TSpec("wxy", 1, col("__vx") * col("__vy")),
        TSpec("wxx", 1, col("__vx") * col("__vx")),
        TSpec("wyy", 1, col("__vy") * col("__vy")),
        TSpec("w2", 2, lit(1.0))),
      col("__vx").isNotNull && col("__vy").isNotNull,
      Seq("__vx", "__vy"))
    val covNum = col("__s_w") * col("__s_wxy") - col("__s_wx") * col("__s_wy")
    val den = col("__s_w") * col("__s_w") - col("__s_w2")
    val denOk = den > lit(RelVarEps) * col("__s_w") * col("__s_w")
    val vx = col("__s_w") * col("__s_wxx") - col("__s_wx") * col("__s_wx")
    val vy = col("__s_w") * col("__s_wyy") - col("__s_wy") * col("__s_wy")
    val vxOk = vx > lit(RelCorrEps) * col("__s_w") * col("__s_wxx")
    val vyOk = vy > lit(RelCorrEps) * col("__s_w") * col("__s_wyy")
    sums
      .withColumn(asCov, when(denOk, covNum / den))
      .withColumn(asCorr, when(denOk && vxOk && vyOk,
        greatest(least(covNum / sqrt(vx * vy), lit(1.0)), lit(-1.0))))
      .drop("__s_w", "__s_wx", "__s_wy", "__s_wxy", "__s_wxx", "__s_wyy",
        "__s_w2")
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

  /** One wall-clock decayed sum: S_name(t) = sum over valid j <= t of
    * 2^(-rate * (t_t - t_j)/halflife) * value_j. `rate` is an integer
    * decay multiplier in halflife units (1 = the weight itself, 2 = the
    * squared weight); `value` may reference `__v` (the NaN-nulled value
    * column). */
  private case class TSpec(name: String, rate: Int, value: Column)

  /** The wall-clock chunked-carry engine behind [[ewmTimeMean]] /
    * [[ewmTimeVarStd]]: appends `__s_<name>` = each spec's UNSCALED
    * decayed sum at every row. Cells are `cellHl` halflives wide —
    * callers size cellHl so the FASTEST rate's in-cell scale
    * 2^(rate*cellHl) stays within the ~154-digit budget, which keeps the
    * slowest rate's lag-3 supercell decay below the smallest denormal
    * (exact-0 truncation; see the [[ewmTimeMean]] scaladoc for the
    * single-rate walkthrough and [[ewmTimeVarStd]] for mixed-rate
    * sizing). Cell/supercell indices use exact integer FLOOR division
    * (`(t - pmod(t, w)) div w` — `div` alone truncates toward zero,
    * which would collapse every pre-1970 row within one cell width of
    * the epoch into cell 0 and silently mis-decay them; ADVICE r6), so
    * pre-1970 timestamps bucket into negative cells with the in-cell
    * offset still in [0, cellHl).
    *
    * The plan is the [[ewmMean]] shape: one row shuffle by group, two
    * summary-scale aggregations joined back, row stage held across its
    * two consumers ([[CacheScope.hold]]). */
  private def timeDecayedSums(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      valueCol: String,
      halflife: String,
      tieBreak: Seq[Column],
      cellHl: Long,
      specs: Seq[TSpec]): DataFrame = {
    val vn = graft.functions.NanOps
      .nanToNull(col(valueCol), df.schema(valueCol).dataType).cast(DoubleType)
    timeDecayedSumsStaged(df.withColumn("__v", vn), by, timeCol, halflife,
      tieBreak, cellHl, specs, col("__v").isNotNull, Seq("__v"))
  }

  /** [[timeDecayedSums]] with caller-staged value columns: `valid` gates
    * which rows contribute (every row still advances the clock), and
    * `staging` lists the caller's working columns to drop on the way
    * out. Lets the pairwise operators sum products of TWO columns under
    * a both-valid mask through the same cell/supercell machinery. */
  private def timeDecayedSumsStaged(
      df: DataFrame,
      by: Seq[String],
      timeCol: String,
      halflife: String,
      tieBreak: Seq[Column],
      cellHl: Long,
      specs: Seq[TSpec],
      valid: Column,
      staging: Seq[String]): DataFrame = {
    // the Rolling.rollingTime interval convention: CalendarInterval
    // without months (months have no fixed micros length)
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(halflife))
    require(iv.months == 0, s"halflife '$halflife' has months — no fixed micros length")
    val hMicros = iv.days * 86400000000L + iv.microseconds
    require(hMicros > 0, s"halflife must be a positive duration (got $halflife)")
    val wMicros = cellHl * hMicros
    val k = 2                 // supercell = 2 cells; gap factors beyond underflow
    val byCols = by.map(col)
    // per-spec cell decay: exact negative powers of two
    def gammaOf(s: TSpec) = math.pow(2.0, -(s.rate * cellHl).toDouble)

    val tm = unix_micros(col(timeCol))
    var base = df
      .withColumn("__tm", tm)
      // floor division, exact in integers: __tm - pmod(__tm, w) is
      // divisible by w, so the truncating `div` cannot round
      .withColumn("__c", expr(s"(__tm - pmod(__tm, ${wMicros}L)) div ${wMicros}L"))
      .withColumn("__q", (col("__tm") - col("__c") * wMicros).cast(DoubleType) / hMicros)
    val ordCols = Seq(col("__q")) ++ tieBreak
    val wCellRun = Window.partitionBy(byCols :+ col("__c"): _*)
      .orderBy(ordCols: _*).rowsBetween(Window.unboundedPreceding, 0)
    val wCellAll = Window.partitionBy(byCols :+ col("__c"): _*)
    for (s <- specs) {
      val xs = when(valid,
        s.value * pow(lit(2.0), lit(s.rate.toDouble) * col("__q"))).otherwise(lit(0.0))
      base = base
        .withColumn(s"__sn_${s.name}", sum(xs).over(wCellRun))
        .withColumn(s"__tn_${s.name}", sum(xs).over(wCellAll))
    }
    base = CacheScope.hold(base)

    // one summary row per non-empty (group, cell); A = total decayed to
    // the cell's END boundary = gamma * scaled total
    var cells = base
      .groupBy(byCols :+ col("__c"): _*)
      .agg(max(col(s"__tn_${specs.head.name}")).as(s"__tn_${specs.head.name}"),
        specs.tail.map(s => max(col(s"__tn_${s.name}")).as(s"__tn_${s.name}")): _*)
      // floor/pmod (not div/%): negative cells (pre-1970 rows) need
      // __sc floored and __r in [0, k) for the gamma^(-r) rescale
      .withColumn("__sc", expr(s"(__c - pmod(__c, ${k}L)) div ${k}L"))
      .withColumn("__r", expr(s"pmod(__c, ${k}L)"))
    // within-supercell carry with explicit cell distance (cells can be
    // missing): contribution of cell b to cell c's START boundary is
    // A_b * gamma^(c-1-b) = gamma^(r-1) * (A_b * gamma^(-b%k)) for cells
    // in the same supercell
    val wScRun = Window.partitionBy(byCols :+ col("__sc"): _*)
      .orderBy(col("__r")).rowsBetween(Window.unboundedPreceding, -1)
    val wScAll = Window.partitionBy(byCols :+ col("__sc"): _*)
    for (s <- specs) {
      val gamma = gammaOf(s)
      val scaled = (lit(gamma) * col(s"__tn_${s.name}")) * pow(lit(gamma), -col("__r"))
      cells = cells
        .withColumn(s"__cin_${s.name}", coalesce(
          pow(lit(gamma), col("__r") - 1) * sum(scaled).over(wScRun), lit(0.0)))
        .withColumn(s"__enf_${s.name}", sum(scaled).over(wScAll))
    }

    // supercell summaries with EXPLICIT-GAP decay: E decayed to the
    // supercell's end boundary; a lagged supercell g supercells back
    // contributes E * (gamma^k)^(gap), underflowing to exact 0 once the
    // budget is spent — but the adjacent-supercell case (gap 0 between
    // row and its lag) carries.
    val wSc = Window.partitionBy(byCols: _*).orderBy(col("__sc"))
    val scAgg = cells
      .groupBy(byCols :+ col("__sc"): _*)
      .agg(max(col(s"__enf_${specs.head.name}")).as(s"__enf_${specs.head.name}"),
        specs.tail.map(s => max(col(s"__enf_${s.name}")).as(s"__enf_${s.name}")): _*)
    val lagCols = specs.flatMap { s =>
      val e = pow(lit(gammaOf(s)), k - 1) * col(s"__enf_${s.name}")
      (1 to 2).map(l => lag(e, l).over(wSc).as(s"__e${l}_${s.name}"))
    } ++ Seq(lag(col("__sc"), 1).over(wSc).as("__sc1"),
      lag(col("__sc"), 2).over(wSc).as("__sc2"))
    val scs = scAgg.select(byCols ++ Seq(col("__sc")) ++ lagCols: _*)

    var carries = cells.join(scs, by :+ "__sc", "left")
    for (s <- specs) {
      val gamma = gammaOf(s)
      val gK = math.pow(gamma, k)
      def gapPow(scLag: Column): Column =
        pow(lit(gK), (col("__sc") - scLag - 1).cast(DoubleType))
      carries = carries.withColumn(s"__cr_${s.name}",
        col(s"__cin_${s.name}") + pow(lit(gamma), col("__r")) *
          (coalesce(gapPow(col("__sc1")) * col(s"__e1_${s.name}"), lit(0.0)) +
            coalesce(gapPow(col("__sc2")) * col(s"__e2_${s.name}"), lit(0.0))))
    }
    val carrySel = carries.select(
      byCols ++ Seq(col("__c")) ++ specs.map(s => col(s"__cr_${s.name}")): _*)

    var out = base.join(carrySel, by :+ "__c", "left")
    for (s <- specs)
      out = out.withColumn(s"__s_${s.name}",
        pow(lit(2.0), lit(-s.rate.toDouble) * col("__q")) *
          (col(s"__sn_${s.name}") + col(s"__cr_${s.name}")))
    out.drop(staging ++ Seq("__tm", "__c", "__q") ++ specs.flatMap(s =>
      Seq(s"__sn_${s.name}", s"__tn_${s.name}", s"__cr_${s.name}")): _*)
  }
}
