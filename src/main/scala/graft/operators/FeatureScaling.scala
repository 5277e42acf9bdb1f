package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Feature-scaling operators — the standard numeric-preparation steps of
  * a training-data pipeline (outlier clipping, per-group
  * standardization). Additions beyond the reference's surface, like
  * [[Dedup]]/[[Sampling]] (SURVEY §2.9); both compose machinery that
  * already exists in the engine rather than adding new execution paths.
  */
object FeatureScaling {

  /** Unscaled long of a compact decimal — the bridge onto the limb
    * aggregate (r14 power-sum codegen fix). */
  private def unscaled(d: Column): Column =
    call_function(graft.expressions.GraftFunctions.Unscaled, d)

  /** Exact Σ x·y of two unscaled-decimal longs, finalized to double —
    * bit-identical to `sum(dx * dy).cast(DoubleType)` on the decimal
    * forms it replaces ([[graft.expressions.SumProduct128]]); `scale`
    * is the PRODUCT's decimal scale. */
  private def sum128(x: Column, y: Column, scale: Int): Column =
    call_function(graft.expressions.GraftFunctions.Sum128, x, y, lit(scale))

  /** Quantile winsorization: clips `valueCol` into
    * [quantile(pLo), quantile(pHi)], appended as `as`. The bounds come
    * from the memory-safe exact quantile ([[Quantiles.exactQuantileSelect]]
    * over a constant group — the [[Binning.qcutEdges]] INDEX-BUILD shape:
    * a bounded driver-side literalization of exactly TWO doubles, rounded
    * to `edgeScale` decimals so any engine replays them), and the clip
    * itself is one codegen'd projection — zero joins, zero extra
    * shuffles on the data path. NULL and NaN values pass through
    * unchanged (they are not outliers, they are missing — drop or fill
    * them explicitly). Returns the input unchanged (plus the column
    * copy) when the column has no valid values. Derive-once-reuse: call
    * [[winsorizeBounds]] yourself and pass the result to
    * [[winsorizeWithBounds]] across many frames of one corpus. */
  def winsorize(
      df: DataFrame,
      valueCol: String,
      pLo: Double = 0.01,
      pHi: Double = 0.99,
      as: String = "winsorized",
      edgeScale: Int = 6,
      chunks: Int = 32): DataFrame =
    winsorizeWithBounds(df, valueCol,
      winsorizeBounds(df, valueCol, pLo, pHi, edgeScale, chunks), as)

  /** The bounds half of [[winsorize]]: (lo, hi) interior quantiles, or
    * None when the column has no valid values. */
  def winsorizeBounds(
      df: DataFrame,
      valueCol: String,
      pLo: Double = 0.01,
      pHi: Double = 0.99,
      edgeScale: Int = 6,
      chunks: Int = 32): Option[(Double, Double)] = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    val reserved = Seq("__g", "__qs")
    val clashes = (df.columns.toSeq :+ valueCol).intersect(reserved)
    require(clashes.isEmpty,
      s"winsorize reserves column names ${reserved.mkString("/")}; rename ${clashes.distinct.mkString(", ")} in the input")
    require(!valueCol.startsWith("__"),
      s"quantile operators reserve the __ column-name prefix for internals; rename $valueCol in the input")
    val qs = Quantiles.exactQuantileSelectTrusted(
      df.select(col(valueCol)).withColumn("__g", lit(1)),
      Seq("__g"), valueCol, Seq(pLo, pHi), as = "__qs", chunks = chunks,
      dedup = false)
      .select(transform(col("__qs"), e => round(e, edgeScale)).as("__qs"))
      .collect().headOption.flatMap(r => Option(r.getSeq[Double](0)))
    qs.map(s => (s(0), s(1)))
  }

  /** The clip half of [[winsorize]]: one codegen'd projection with the
    * bounds baked in as literals. */
  def winsorizeWithBounds(
      df: DataFrame,
      valueCol: String,
      bounds: Option[(Double, Double)],
      as: String): DataFrame = {
    require(!df.columns.contains(as),
      s"winsorize output column $as already exists in the input; pick another name or drop it first")
    val v  = col(valueCol)
    val dt = df.schema(valueCol).dataType
    bounds match {
      case Some((lo, hi)) =>
        df.withColumn(as,
          when(graft.functions.NanOps.isValid(v, dt),
            least(greatest(v.cast(DoubleType), lit(lo)), lit(hi)))
            .otherwise(v.cast(DoubleType)))
      case None => df.withColumn(as, v.cast(DoubleType))
    }
  }

  // internal columns of the covCorrBy/linregBy power-sum pass, and the
  // per-pair ones of corrMatrixBy (`xn__0_1`, `sxy__0_1`, ...)
  private val PowerSumCols =
    Seq("__xn", "__lx", "__ly", "__sx", "__sy", "__sxy", "__sxx", "__syy")
  private val PairCol = "(xn|lx|ly|n|sx|sy|sxy|sxx|syy)__[0-9]+_[0-9]+".r

  /** A grouping column carried through an operator's projection must not
    * take one of its internal names (it would surface as an ambiguous
    * reference, or shadow the internal column). */
  private def requireFreeBy(op: String, by: Seq[String],
      internal: String => Boolean): Unit = {
    val clashes = by.filter(internal)
    require(clashes.isEmpty, s"$op uses ${clashes.mkString(", ")} as an" +
      s" internal column name; rename that grouping column in the input")
  }

  /** Per-group covariance and Pearson correlation of two value columns —
    * the cross-column member of the second-moment family (variance and
    * skew/kurt live in the [[Agg]] registry; this one needs two columns,
    * so it is its own reduction). Returns one row per group:
    * (by..., n_pairs, cov, corr).
    *
    * Semantics: PAIRWISE deletion (pandas `groupby().corr()`): a row
    * counts only when BOTH values are valid (non-NULL, non-NaN);
    * `ddof` defaults to 1 (sample covariance). corr is NULL when either
    * marginal variance is 0 (constant column) or n_pairs <= ddof; the
    * variance clamp guards the sqrt like the registry's std.
    *
    * Exactness: all five power sums (sx, sy, sxy, sxx, syy) are the
    * exact decimal(18,s) sums — order-independent — with ONE IEEE
    * finalize, replayed identically by the oracle. Since r14 they ride
    * [[graft.expressions.SumProduct128]]: the decimals' unscaled longs
    * accumulate in a codegen'd 128-bit limb buffer with the identical
    * BigDecimal finalize (bit-for-bit the old `sum(decimal)` values,
    * pinned in SumProduct128Spec) instead of promoting every row
    * through BigDecimal. One hash aggregation (map-side combined): the
    * same two-phase topology as every reduction in the engine. */
  def covCorrBy(
      df: DataFrame,
      by: Seq[String],
      xCol: String,
      yCol: String,
      exactScale: Int = 2,
      ddof: Int = 1): DataFrame = {
    require(by.nonEmpty, "covCorrBy needs at least one grouping column")
    require(ddof >= 0, s"ddof must be >= 0 (got $ddof)")
    requireFreeBy("covCorrBy", by, PowerSumCols.contains)
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val xn0 = graft.functions.NanOps.nanToNull(col(xCol), df.schema(xCol).dataType)
    val yn0 = graft.functions.NanOps.nanToNull(col(yCol), df.schema(yCol).dataType)
    // pairwise deletion: both-or-neither
    val xn = when(yn0.isNotNull, xn0)
    val yn = when(xn0.isNotNull, yn0)
    val dx = xn.cast(DecimalType(18, exactScale))
    val dy = yn.cast(DecimalType(18, exactScale))
    // project the unscaled longs once (codegen'd casts), aggregate on
    // bare attributes
    val proj = df.select(by.map(col) ++ Seq(
      xn.as("__xn"),
      unscaled(dx).as("__lx"),
      unscaled(dy).as("__ly")): _*)
    val agg = proj.groupBy(by.map(col): _*).agg(
      count(col("__xn")).as("n_pairs"),
      sum128(col("__lx"), lit(1L), exactScale).as("__sx"),
      sum128(col("__ly"), lit(1L), exactScale).as("__sy"),
      sum128(col("__lx"), col("__ly"), 2 * exactScale).as("__sxy"),
      sum128(col("__lx"), col("__lx"), 2 * exactScale).as("__sxx"),
      sum128(col("__ly"), col("__ly"), 2 * exactScale).as("__syy"))
    val n = col("n_pairs").cast(DoubleType)
    def centered(sq: Column, s: Column): Column = sq - s * s / n
    val denom = n - lit(ddof.toDouble)
    val cov = when(col("n_pairs") > ddof,
      (col("__sxy") - col("__sx") * col("__sy") / n) / denom)
    val vx = when(col("n_pairs") > ddof,
      greatest(centered(col("__sxx"), col("__sx")) / denom, lit(0.0)))
    val vy = when(col("n_pairs") > ddof,
      greatest(centered(col("__syy"), col("__sy")) / denom, lit(0.0)))
    agg
      .withColumn("cov", cov)
      .withColumn("corr", when(vx > 0 && vy > 0, cov / sqrt(vx * vy)))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Full correlation matrix over `cols` in ONE aggregation pass: every
    * unordered column pair's (n_pairs, cov, corr) with [[covCorrBy]]'s
    * exact semantics — per-pair pairwise deletion, five decimal power
    * sums per pair, identical finalize (ddof cov, clamped marginal
    * variances, NULL corr on constant columns). Output is long-form:
    * one row per (group, col_x, col_y), x before y in `cols` order.
    *
    * Scale shape: k(k−1)/2 · 6 aggregate expressions in a SINGLE hash
    * aggregate — one scan, one map-side-combined shuffle of
    * group-count-sized partials, regardless of k; the pair unpivot is a
    * per-row explode of an answer-sized frame. The one-pass form is
    * what makes feature-correlation audits viable at 100 TB: k separate
    * covCorrBy calls would scan the corpus k(k−1)/2 times. */
  def corrMatrixBy(
      df: DataFrame,
      by: Seq[String],
      cols: Seq[String],
      exactScale: Int = 2,
      ddof: Int = 1): DataFrame = {
    require(by.nonEmpty, "corrMatrixBy needs at least one grouping column")
    require(cols.size >= 2, "corrMatrixBy needs at least two value columns")
    require(ddof >= 0, s"ddof must be >= 0 (got $ddof)")
    requireFreeBy("corrMatrixBy", by, c => PairCol.matches(c) || c == "__r")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.size
    } yield (i, j)
    def nn(c: String) =
      graft.functions.NanOps.nanToNull(col(c), df.schema(c).dataType)
    // one projection computes every pair's masked raw + unscaled longs
    // (codegen'd casts), then the limb sums aggregate bare attributes —
    // the covCorrBy r14 shape, k(k−1)/2 wide
    val projCols = pairs.flatMap { case (i, j) =>
      val (x0, y0) = (nn(cols(i)), nn(cols(j)))
      val xn = when(y0.isNotNull, x0)
      val yn = when(x0.isNotNull, y0)
      val dx = xn.cast(DecimalType(18, exactScale))
      val dy = yn.cast(DecimalType(18, exactScale))
      val p = s"__${i}_$j"
      Seq(xn.as(s"xn$p"), unscaled(dx).as(s"lx$p"), unscaled(dy).as(s"ly$p"))
    }
    val aggExprs = pairs.flatMap { case (i, j) =>
      val p = s"__${i}_$j"
      Seq(count(col(s"xn$p")).as(s"n$p"),
        sum128(col(s"lx$p"), lit(1L), exactScale).as(s"sx$p"),
        sum128(col(s"ly$p"), lit(1L), exactScale).as(s"sy$p"),
        sum128(col(s"lx$p"), col(s"ly$p"), 2 * exactScale).as(s"sxy$p"),
        sum128(col(s"lx$p"), col(s"lx$p"), 2 * exactScale).as(s"sxx$p"),
        sum128(col(s"ly$p"), col(s"ly$p"), 2 * exactScale).as(s"syy$p"))
    }
    val agg = df.select(by.map(col) ++ projCols: _*)
      .groupBy(by.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      val p = s"__${i}_$j"
      val n = col(s"n$p").cast(DoubleType)
      val denom = n - lit(ddof.toDouble)
      val cov = when(col(s"n$p") > ddof,
        (col(s"sxy$p") - col(s"sx$p") * col(s"sy$p") / n) / denom)
      def varE(sq: String, s: String) = when(col(s"n$p") > ddof,
        greatest((col(sq) - col(s) * col(s) / n) / denom, lit(0.0)))
      val (vx, vy) = (varE(s"sxx$p", s"sx$p"), varE(s"syy$p", s"sy$p"))
      struct(
        lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
        col(s"n$p").as("n_pairs"), cov.as("cov"),
        when(vx > 0 && vy > 0, cov / sqrt(vx * vy)).as("corr"))
    }
    agg.select(by.map(col) :+ explode(array(rows: _*)).as("__r"): _*)
      .select(by.map(col) ++ Seq(col("__r.col_x"), col("__r.col_y"),
        col("__r.n_pairs"), col("__r.cov"), col("__r.corr")): _*)
  }

  /** Spearman rank-correlation matrix per group — [[corrMatrixBy]]
    * over AVERAGE ranks (the standard tie treatment: a tie run shares
    * the mean of its positions, rank + (ties−1)/2 — half-integers,
    * exact in IEEE doubles and on the decimal(18,1) grid, so the
    * power sums stay exact). Listwise deletion: rows with NULL/NaN in
    * ANY of `cols` drop before ranking (the scipy.spearmanr matrix
    * convention), so every column ranks over the same row set and
    * n_pairs is shared across pairs. Catches monotone-but-nonlinear
    * dependence (doc length vs quality score, rank effects) that
    * Pearson under-reads. Plan: k window sorts sharing ONE exchange on
    * the group keys, then corrMatrixBy's single k(k−1)/2-sum hash
    * agg. */
  def corrMatrixSpearmanBy(
      df: DataFrame,
      by: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(by.nonEmpty, "corrMatrixSpearmanBy needs at least one grouping column")
    require(cols.size >= 2, "corrMatrixSpearmanBy needs at least two value columns")
    val valid = cols
      .map(c => graft.functions.NanOps.isValid(col(c), df.schema(c).dataType))
      .reduce(_ && _)
    val base = df.where(valid).select((by ++ cols).map(col): _*)
    // ONE window per column (r13 optimization): the ordered window's
    // default RANGE frame (unbounded preceding → current row) makes
    // count(*) over it the count of rows with value <= current INCLUDING
    // ties — i.e. the tie run's LAST rank — so the tie-sharing average
    // rank is (rank + count)/2 on the same window spec. The old form's
    // separate tie window (partitionBy(by :+ c)) forced a second sort
    // per column (6 WindowExec sorts for k=3; now 3). Bit-identical:
    // rank r and count c = r + ties − 1 are exact small integers, and
    // (r + c)/2 = r + (ties−1)/2 lands on the same exact half-integer
    // double the two-window form produced.
    val ranked = cols.foldLeft(base) { (acc, c) =>
      val w = Window.partitionBy(by.map(col): _*).orderBy(col(c))
      acc.withColumn(s"__rk_$c",
        (rank().over(w).cast(DoubleType) +
          count(lit(1)).over(w).cast(DoubleType)) / lit(2.0))
    }
    corrMatrixBy(
      ranked.select(by.map(col) ++ cols.map(c => col(s"__rk_$c").as(c)): _*),
      by, cols, exactScale = 1)
  }

  /** Per-group ordinary-least-squares line fit y = slope*x + intercept —
    * the regression member of the cross-moment family ([[covCorrBy]]'s
    * sums with the OLS finalize; DuckDB's regr_slope/regr_intercept/
    * regr_r2 shape, computed from the same five exact decimal power sums
    * so an oracle replays it bit for bit). Returns one row per group:
    * (by..., n_pairs, slope, intercept, r2).
    *
    * Semantics: PAIRWISE deletion like [[covCorrBy]] (a row counts only
    * when both values are valid). slope/intercept are NULL when x is
    * constant within the group (centered Sxx == 0) or n_pairs < 2; r2 is
    * additionally NULL when y is constant (centered Syy == 0 — the fit
    * is exact but r2 is 0/0, matching DuckDB's regr_r2 NULL). The
    * centered sums are clamped at 0 like every variance finalize in the
    * engine (an IEEE tiny-negative on near-constant columns would flip
    * signs / NaN the ratio).
    *
    * One hash aggregation, map-side combined — the standard two-phase
    * reduction topology; group count rows out. */
  def linregBy(
      df: DataFrame,
      by: Seq[String],
      xCol: String,
      yCol: String,
      exactScale: Int = 2): DataFrame = {
    require(by.nonEmpty, "linregBy needs at least one grouping column")
    requireFreeBy("linregBy", by, PowerSumCols.contains)
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val xn0 = graft.functions.NanOps.nanToNull(col(xCol), df.schema(xCol).dataType)
    val yn0 = graft.functions.NanOps.nanToNull(col(yCol), df.schema(yCol).dataType)
    val xn = when(yn0.isNotNull, xn0)
    val yn = when(xn0.isNotNull, yn0)
    val dx = xn.cast(DecimalType(18, exactScale))
    val dy = yn.cast(DecimalType(18, exactScale))
    // the covCorrBy r14 limb-sum shape (bit-identical, no per-row
    // BigDecimal)
    val proj = df.select(by.map(col) ++ Seq(
      xn.as("__xn"),
      unscaled(dx).as("__lx"),
      unscaled(dy).as("__ly")): _*)
    val agg = proj.groupBy(by.map(col): _*).agg(
      count(col("__xn")).as("n_pairs"),
      sum128(col("__lx"), lit(1L), exactScale).as("__sx"),
      sum128(col("__ly"), lit(1L), exactScale).as("__sy"),
      sum128(col("__lx"), col("__ly"), 2 * exactScale).as("__sxy"),
      sum128(col("__lx"), col("__lx"), 2 * exactScale).as("__sxx"),
      sum128(col("__ly"), col("__ly"), 2 * exactScale).as("__syy"))
    val n = col("n_pairs").cast(DoubleType)
    val sxyC = col("__sxy") - col("__sx") * col("__sy") / n
    val sxxC = greatest(col("__sxx") - col("__sx") * col("__sx") / n, lit(0.0))
    val syyC = greatest(col("__syy") - col("__sy") * col("__sy") / n, lit(0.0))
    val slope = when(col("n_pairs") >= 2 && sxxC > 0, sxyC / sxxC)
    agg
      .withColumn("slope", slope)
      .withColumn("intercept", (col("__sy") - slope * col("__sx")) / n)
      .withColumn("r2",
        when(col("n_pairs") >= 2 && sxxC > 0 && syyC > 0,
          sxyC * sxyC / (sxxC * syyC)))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Per-group ROBUST scaling (sklearn RobustScaler per group): appends
    * `as` = (x - median) / IQR, with median and the interquartile range
    * from the memory-safe grouped exact quantile ([[Quantiles
    * .exactQuantile]] — composed hash-agg + spilling window, no per-group
    * value buffers), rounded to `edgeScale` decimals so any engine
    * replays the edges (the [[winsorize]] convention). The group-stats
    * frame (one row per group: three doubles) joins back onto the data
    * by the group keys — group-count-sized, so AQE broadcasts it in the
    * common case; the data side moves at most once.
    *
    * NaN/NULL values are skipped by the quantiles and get a NULL output;
    * groups with IQR == 0 (constant-ish middle) yield NULL for every
    * row, like [[zscoreBy]] on zero variance. Resistant to outliers
    * where z-scores are not — the standard scaling for heavy-tailed
    * features. */
  def robustScaleBy(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      as: String = "scaled",
      edgeScale: Int = 6): DataFrame = {
    require(by.nonEmpty, "robustScaleBy needs at least one grouping column")
    require(!df.columns.contains(as),
      s"robustScaleBy output column $as already exists in the input; pick another name or drop it first")
    val dt = df.schema(valueCol).dataType
    val vn = graft.functions.NanOps.nanToNull(col(valueCol), dt)
    val stats = Quantiles.exactQuantile(df, by, valueCol,
        Seq(0.25, 0.5, 0.75), as = "__rq")
      .select(by.map(col) :+
        transform(col("__rq"), e => round(e, edgeScale)).as("__rq"): _*)
      .select(by.map(col) :+
        element_at(col("__rq"), 2).as("__med") :+
        (element_at(col("__rq"), 3) - element_at(col("__rq"), 1)).as("__iqr"): _*)
    df.join(stats, by, "left")
      .withColumn(as,
        when(vn.isNotNull && col("__iqr") > 0,
          (vn.cast(DoubleType) - col("__med")) / col("__iqr")))
      .drop("__med", "__iqr")
  }

  /** Per-group z-score standardization: appends `as` = (x - mean) / std
    * over the rows of each `by` group — the feature-normalization shape
    * ("standardize score within language"). One unbounded-frame window
    * per group (the [[GroupByScan]] scan topology: one shuffle, no
    * join-back), with mean/std from exact decimal power sums and the
    * clamped IEEE variance finalize shared with the grouped registry —
    * so an oracle replays the arithmetic identically. NaN/NULL values
    * are skipped by the moments AND get a NULL z; groups with <= ddof
    * valid values, or zero variance, yield NULL for every row (a
    * constant group has no z-scores). */
  def zscoreBy(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      as: String = "z",
      exactScale: Int = 2,
      ddof: Int = 1): DataFrame = {
    require(by.nonEmpty, "zscoreBy needs at least one grouping column")
    require(ddof >= 0, s"ddof must be >= 0 (got $ddof)")
    require(!df.columns.contains(as),
      s"zscoreBy output column $as already exists in the input; pick another name or drop it first")
    val dt = df.schema(valueCol).dataType
    val vn = graft.functions.NanOps.nanToNull(col(valueCol), dt)
    val w  = Window.partitionBy(by.map(col): _*)
    val dv = vn.cast(DecimalType(18, exactScale))
    val n  = count(vn).over(w).cast(DoubleType)
    val s1 = sum(dv).over(w).cast(DoubleType)
    val s2 = sum(dv * dv).over(w).cast(DoubleType)
    val variance =
      when(count(vn).over(w) > ddof,
        greatest((s2 - s1 * s1 / n) / (n - lit(ddof.toDouble)), lit(0.0)))
    df.withColumn(as,
      when(vn.isNotNull && variance > 0,
        (vn.cast(DoubleType) - s1 / n) / sqrt(variance)))
  }

  /** Distributed logistic-regression fit by `iters` full-batch gradient
    * steps — the quality-classifier training step of a curation stack
    * (a fastText-style "does this look like good text" filter, fit on
    * the corpus's own deterministic features + labels). Returns the
    * coefficient vector (intercept +: one weight per feature).
    *
    * Features are (integer-valued column, divisor) pairs: the model
    * runs on x_raw/divisor. The integer-raw convention is what makes
    * the fit REPLAYABLE: the gradient summand (y − σ)·x_raw is an
    * exact decimal × integer product — no per-row rounding, sums are
    * order-independent — and the divisor is applied once to the exact
    * sum. (A double-feature version needs round(r·x, 6) per row, and
    * with enough rows one product lands where Spark's
    * shortest-repr-based round and the oracle's exact-value round
    * disagree — observed, not hypothetical.) The only per-row rounding
    * left is the sigmoid's decimal(18,6) quantization, whose
    * boundary-ulp risk is the accepted [[TextAnalysis.tfidfTopK]]
    * budget.
    *
    * Per iteration: ONE map-side-combined aggregation computes the
    * full-batch gradient, then β_j += lr·(g_j/div_j)/n on the driver —
    * d+1 numbers of driver state per step, the
    * [[Similarity.kmeansFit]] shape. The feature projection is held
    * across the `iters` passes so a 100 TB source is read once, and
    * released before returning. Rows with a NULL label or NULL feature
    * are excluded. */
  def logisticFit(
      df: DataFrame,
      features: Seq[(Column, Double)],
      label: Column,
      iters: Int,
      lr: Double = 0.1): Array[Double] = {
    require(features.nonEmpty, "logisticFit needs at least one feature")
    require(features.forall(_._2 > 0), "feature divisors must be > 0")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val d = features.size
    val cols = label.cast("long").as("__y") +:
      features.zipWithIndex.map { case ((f, _), j) => f.cast("long").as(s"__x$j") }
    val keep = (0 until d).map(j => col(s"__x$j").isNotNull)
      .foldLeft(col("__y").isNotNull)(_ && _)
    CacheScope.releasing {
      val p = CacheScope.hold(df.select(cols: _*).where(keep))
      graft.expressions.GraftFunctions.register(df.sparkSession)
      val betas = Array.fill(d + 1)(0.0)
      val divs = features.map(_._2)
      var it = 0
      while (it < iters) {
        val sQ = sigmoidQ(logit(betas, divs,
          (0 until d).map(j => col(s"__x$j"))))
        // r14 limb-sum shape: the residual r = y − σq is an exact
        // multiple of 1e-6 (y ∈ {0,1} as 1e6·y; σq is decimal(18,6)),
        // so its unscaled long rides SumProduct128 against the raw
        // integer features — the identical exact gradient sums without
        // the decimal(37,6) per-row BigDecimal products
        val lr6 = col("__y") * lit(1000000L) - unscaled(sQ)
        val gradCols = sum128(lr6, lit(1L), 6).as("__g0") +:
          (0 until d).map(j =>
            sum128(lr6, col(s"__x$j"), 6).as(s"__g${j + 1}"))
        val row = p.agg(count(lit(1)).as("__n"), gradCols: _*).head()
        val n = row.getLong(0).toDouble
        // no valid rows: nothing to fit — keep the zero model rather
        // than dividing the (NULL -> 0) gradients by n = 0 into NaNs
        if (n == 0) it = iters
        else {
          betas(0) = betas(0) +
            lr * ((if (row.isNullAt(1)) 0.0 else row.getDouble(1)) / n)
          var j = 1
          while (j <= d) {
            val g = if (row.isNullAt(j + 1)) 0.0 else row.getDouble(j + 1)
            betas(j) = betas(j) + lr * ((g / divs(j - 1)) / n)
            j += 1
          }
          it += 1
        }
      }
      betas
    }
  }

  /** Scores rows against [[logisticFit]] coefficients: appends `as` =
    * the quantized sigmoid probability (decimal(18,6), the same grid
    * the fit used) over the same (integer column, divisor) features —
    * one codegen projection, zero shuffles. Rows with NULL features
    * get NULL. */
  def logisticScore(
      df: DataFrame,
      features: Seq[(Column, Double)],
      betas: Array[Double],
      as: String = "prob"): DataFrame = {
    require(betas.length == features.size + 1,
      s"need ${features.size + 1} coefficients (intercept first), got ${betas.length}")
    require(!df.columns.contains(as),
      s"logisticScore appends $as; rename it in the input or pass another name")
    df.withColumn(as,
      sigmoidQ(logit(betas, features.map(_._2), features.map(_._1.cast("long")))))
  }

  private def logit(betas: Array[Double], divs: Seq[Double], xs: Seq[Column]): Column =
    xs.zipWithIndex.foldLeft(lit(betas(0))) { case (acc, (x, j)) =>
      acc + lit(betas(j + 1)) * (x.cast(DoubleType) / lit(divs(j)))
    }

  /** round(1/(1+exp(−z)), 6) as decimal(18,6) — the lnQ convention for
    * the logistic link. */
  private def sigmoidQ(z: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6).cast(DecimalType(18, 6))

  /** DuckDB twins of the [[logisticFit]] building blocks, used by the
    * q_logreg oracle to replay the unrolled fit. */
  def sigmoidQSql(zExpr: String): String =
    s"round(1.0 / (1.0 + exp(-($zExpr))), 6)::DECIMAL(18,6)"
  def logitSql(b0: String, bx: Seq[(String, String)]): String =
    bx.foldLeft(b0) { case (acc, (b, x)) => s"$acc + $b * ($x)" }

  /** EXACT AUC-ROC — the evaluation gate for a quality classifier
    * ([[logisticFit]]'s natural companion: fit → score → AUC before the
    * scores filter a corpus). Mann-Whitney formulation with full tie
    * correction: AUC = [Σ_s nPos(s)·(2·cumNeg(<s) + nNeg(=s))] /
    * (2·nPos·nNeg) — ties contribute exactly ½, matching
    * sklearn.roc_auc_score. NULL score or label rows are excluded; with
    * no positives or no negatives AUC is undefined → NULL. With `by`
    * keys it is evaluated per group (per-source / per-domain /
    * per-language classifier evaluation): one row (by..., n_pos, n_neg,
    * auc) per group, ordered by the keys; groups with NULL keys
    * aggregate as their own group (SQL GROUP BY semantics).
    *
    * Scale shape: ONE hash aggregation collapses the corpus to
    * (by..., distinct score, nPos, nNeg), then ONE value-ordered window
    * runs over DISTINCT scores only (the [[Quantiles]] spilling-window
    * convention — bounded by score cardinality, never row count). That
    * window partitions by the keys, so it is GLOBAL (single-task) with
    * no keys, and distinct cardinality is a contract, not a hope:
    * `maxDistinctScores` fail-fasts on the WORST group (one cheap
    * distinct-count aggregation, the qcutByEdges maxGroups convention)
    * before the sort can become a one-task bottleneck — on a raw
    * continuous double score either quantize first (`round(score, 6)` —
    * the lnQ grid keeps AUC exact for any score whose meaningful
    * precision fits it) or raise the bound deliberately. Per-score-tie
    * counts multiply as decimal(38,0) (each factor cast BEFORE the
    * product, so no intermediate Long overflow) and the U statistic sums
    * in decimal(38,0) — exact while 2·nPos·nNeg < 10^38, i.e. to
    * ~7·10^18 rows per class — finalized to double ONCE, so the oracle
    * replays it bit for bit. */
  def aucScore(
      df: DataFrame,
      score: Column,
      label: Column,
      by: Seq[String] = Nil,
      maxDistinctScores: Long = 1L << 22): DataFrame =
    aucAgg(grouped(evalRows("aucScore", df, score, label, by, maxDistinctScores), by), by)
      .orderBy(by.map(col): _*)

  /** Exact-grid AVERAGE PRECISION (area under the precision-recall
    * curve, step-wise — the sklearn `average_precision_score`
    * definition, no interpolation): AP = Σ_s (ΔTP_s / P)·(TP_s / PP_s)
    * over DISTINCT scores descending, where TP/PP are the positive and
    * total counts at-or-above each threshold and a tie block moves
    * atomically (exactly sklearn's distinct-threshold sweep). The
    * PR-curve gate complements [[aucScore]]'s ROC on imbalanced
    * labels, where ROC-AUC saturates but precision does not.
    *
    * Determinism: TP/PP are exact integer window sums on the SAME
    * distinct-score table as [[aucScore]]; each term is one fixed-shape
    * IEEE expression (np·TP/PP, both engines evaluate the identical
    * tree) quantized to the decimal(38,12) grid and summed as exact
    * decimals — order-independent across partitionings and engines —
    * then divided by the positive count ONCE. Same `by` grouping and
    * `maxDistinctScores` fail-fast as AUC (the descending window
    * partitions by the keys). Output: (by..., n_pos, n_neg, ap) ordered
    * by the keys; ap NULL when no positives. */
  def apScore(
      df: DataFrame,
      score: Column,
      label: Column,
      by: Seq[String] = Nil,
      maxDistinctScores: Long = 1L << 22): DataFrame =
    apAgg(grouped(evalRows("apScore", df, score, label, by, maxDistinctScores), by), by)
      .orderBy(by.map(col): _*)

  /** (by..., __s, __y): the NULL-free score/label rows both evaluation
    * gates rank, after the distinct-score fail-fast on the worst group
    * (`maxDistinctScores` <= 0 disables it). */
  private def evalRows(
      op: String,
      df: DataFrame,
      score: Column,
      label: Column,
      by: Seq[String],
      maxDistinctScores: Long): DataFrame = {
    val base = df.where(score.isNotNull && label.isNotNull)
      .select(by.map(col) :+ score.as("__s") :+ label.cast("boolean").as("__y"): _*)
    if (maxDistinctScores > 0) {
      val nd = base.groupBy(by.map(col): _*)
        .agg(count_distinct(col("__s")).as("__nd"))
        .agg(max(col("__nd"))).head()
      val worst = if (nd.isNullAt(0)) 0L else nd.getLong(0)
      require(worst <= maxDistinctScores,
        s"$op sorts each group's distinct scores in one window task:" +
          s" worst group has $worst distinct scores >" +
          s" maxDistinctScores=$maxDistinctScores — quantize the score" +
          " (round(score, 6)) or raise the bound deliberately")
    }
    base
  }

  private def apAgg(cum: DataFrame, by: Seq[String]): DataFrame = {
    val wd = Window.partitionBy(by.map(col): _*).orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tp = sum(col("__np")).over(wd)
    val pp = sum(col("__np") + col("__nn")).over(wd)
    // fixed-shape IEEE term (np·TP)/PP quantized to the 1e-12 grid,
    // then an EXACT decimal sum — order-independent; /n_pos happens once
    val term = round(col("__np").cast("double") * tp.cast("double")
        / pp.cast("double"), 12)
      .cast(DecimalType(38, 12))
    val t = cum.withColumn("__t", term)
    val aggd = t.groupBy(by.map(col): _*)
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(col("__t")).as("__ts"))
    aggd.select(by.map(col) ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0,
        col("__ts").cast("double") / col("n_pos").cast("double")).as("ap")): _*)
  }

  /** (by..., __s) → (by..., __s, __np, __nn, __cum): the shared
    * distinct-score collapse + cumulative-negatives window behind
    * [[aucScore]] and [[apScore]]. */
  private def grouped(base: DataFrame, by: Seq[String]): DataFrame = {
    val keys = by.map(col) :+ col("__s")
    val g = base.groupBy(keys: _*)
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__np"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__nn"))
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("__cum", coalesce(sum(col("__nn")).over(w), lit(0L)))
  }

  private def aucAgg(cum: DataFrame, by: Seq[String]): DataFrame = {
    // every factor is decimal BEFORE the multiply: a Long product
    // np*(2*cum+nn) would silently wrap past ~3e9 rows per class
    // (non-ANSI), while the decimal product is exact to 10^38
    val u = col("__np").cast(DecimalType(38, 0)) *
      (col("__cum").cast(DecimalType(38, 0)) * lit(2) +
        col("__nn").cast(DecimalType(38, 0)))
    val aggd = cum.groupBy(by.map(col): _*)
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(u).as("__u2"))
    aggd.select(by.map(col) ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        col("__u2").cast("double") /
          (col("n_pos").cast("double") * col("n_neg").cast("double") * lit(2.0)))
        .as("auc")): _*)
  }
}
