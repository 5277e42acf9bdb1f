package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-drift and calibration MONITORING — the gates a
  * production corpus pipeline runs day-over-day (is today's crawl
  * distributed like yesterday's? is the quality classifier still
  * calibrated?) before any downstream decision acts on the batch.
  * Everything here follows the exact-decimal evaluation conventions of
  * [[FeatureScaling.aucScore]]: integer counts, round(x, 12) /
  * quantized-ln(6dp) term grids, exact decimal sums — so two engines
  * agree bit for bit and a drift alert can never be FP noise.
  *
  * All statistics are ONE or two hash aggregations over bins /
  * distinct values — nothing document-sized moves, and nothing here
  * needs the corpus sorted.
  *
  * Every statistic takes `by` (default none): with keys it is computed
  * per group (per-language / per-source drift — drift usually hits ONE
  * domain first, and a corpus-wide statistic dilutes it k ways) and the
  * output leads with the key columns; with no keys it is the
  * corpus-wide statistic. Counts, windows and totals all partition by
  * the keys, so a grouped call costs the same plan as the corpus-wide
  * one plus the key columns; only the attachment of the totals differs
  * (`withTotals`). */
object Drift {

  /** Quantized natural log: round(ln x, 6) as decimal(12,6) — the
    * [[TextAnalysis]] idf convention (documented accepted risk: a raw
    * ln within an ulp of a rounding boundary). */
  private def lnQ(x: Column): Column =
    round(log(x), 6).cast(DecimalType(12, 6))

  /** The one step where zero keys and keyed calls differ: attach the
    * per-group `totals` (one row per `by` group) to `rows`, after the
    * distinct-value fail-fast when `maxDistinct > 0` (`totals` then
    * carries `__nd`, each group's distinct count; the guard trips on
    * the worst group). Keyed totals join on the keys. Zero-key totals
    * are ONE row, so they ride a broadcast cross join — or, with
    * `asLiterals` and the guard on, the guard's single collecting action
    * fetches them as well and they re-enter the plan as literals: one
    * action fewer per monitoring tick, and the final plan loses the
    * totals subplan and its join entirely (VERDICT r10 #8; DriftSpec
    * pins one-action construction and the join-free shape). */
  private def withTotals(
      rows: DataFrame,
      totals: DataFrame,
      by: Seq[String],
      op: String = "",
      maxDistinct: Long = 0,
      asLiterals: Boolean = false): DataFrame = {
    def guard(worst: Long): Unit =
      require(worst <= maxDistinct,
        s"$op sorts each group's distinct values in one window task:" +
          s" worst group has $worst > maxDistinct=$maxDistinct — quantize" +
          " the value (round(v, 6)) or raise the bound deliberately")
    if (by.isEmpty && asLiterals && maxDistinct > 0) {
      val t = totals.head()
      guard(t.getAs[Long]("__nd"))
      totals.columns.filter(_ != "__nd").foldLeft(rows) { (r, c) =>
        val i = t.fieldIndex(c)
        r.withColumn(c, lit(if (t.isNullAt(i)) 0L else t.getLong(i)))
      }
    } else {
      if (maxDistinct > 0) {
        val nd = totals.agg(max(col("__nd"))).head()
        guard(if (nd.isNullAt(0)) 0L else nd.getLong(0))
      }
      if (by.isEmpty) rows.crossJoin(broadcast(totals)) else rows.join(totals, by)
    }
  }

  /** Population Stability Index between a BASE and a CURRENT slice
    * over a caller-provided integer bin expression (a uniform-width
    * bucket, a [[Binning]] label...): per-bin rows (by..., bin, n_base,
    * n_cur, psi_term) with PSI = sum(psi_term) per group. Laplace(+1)
    * smoothing keeps every term defined on bins one side never hit —
    * the standard scorecard-monitoring recipe (PSI < 0.1 stable, > 0.25
    * action); the smoothed probabilities use the bin count of the
    * group's UNION so both sides share one denominator shift. Groups
    * present in only one slice still emit rows (full-outer on the
    * group+bin key; their other side smooths from zero).
    *
    * Exactness: p = round(c'/t', 12) on the decimal grid, the log
    * ratio is a difference of quantized integer lns, and the product
    * rounds once more to the 12dp grid — every step either exact
    * decimal arithmetic or a fixed-IEEE-shape round, so the oracle
    * replays it bit for bit. Plan: two count aggregations + one
    * full-outer bin join + the per-group totals. */
  def psi(
      base: DataFrame,
      current: DataFrame,
      binCol: Column,
      by: Seq[String] = Nil): DataFrame =
    psiTerms(histogram(base, binCol, by), histogram(current, binCol, by), by)

  /** The (bin, n) histogram [[psi]]/[[jsd]] compare — exposed because
    * the histogram IS the mergeable monitoring state: integer counts
    * sum associatively, so a streaming monitor rolls batches into one
    * histogram and compares against a FROZEN base without ever
    * rescanning rows ([[graft.streaming.StreamingOps.driftIngest]]). */
  def binCounts(df: DataFrame, binCol: Column): DataFrame =
    histogram(df, binCol, Nil)

  /** [[psi]] over precomputed (bin, n) count tables. */
  def psiFromCounts(baseCounts: DataFrame, curCounts: DataFrame): DataFrame =
    psiTerms(baseCounts, curCounts, Nil)

  private def histogram(df: DataFrame, binCol: Column, by: Seq[String]): DataFrame = {
    val keys = by.map(col)
    df.select(keys :+ binCol.as("bin"): _*).groupBy(keys :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** (by..., bin, n_base, n_cur) of two per-group histograms side by
    * side (a bin one side never hit reads 0), with the group totals
    * `__ta`/`__tb` and the group's bin count `__k` attached. */
  private def binTotals(
      baseCounts: DataFrame,
      curCounts: DataFrame,
      by: Seq[String]): DataFrame = {
    val keys = by.map(col)
    val ca = baseCounts.select(keys :+ col("bin") :+ col("n").as("__na"): _*)
    val cb = curCounts.select(keys :+ col("bin") :+ col("n").as("__nb"): _*)
    val joined = ca.join(cb, by :+ "bin", "full_outer")
      .select(keys :+ col("bin") :+
        coalesce(col("__na"), lit(0L)).as("n_base") :+
        coalesce(col("__nb"), lit(0L)).as("n_cur"): _*)
    withTotals(joined, joined.groupBy(keys: _*)
      .agg(sum(col("n_base")).as("__ta"), sum(col("n_cur")).as("__tb"),
        count(lit(1)).as("__k")), by)
  }

  private def psiTerms(
      baseCounts: DataFrame,
      curCounts: DataFrame,
      by: Seq[String]): DataFrame = {
    val pA = round((col("n_base") + 1).cast("double") /
      (col("__ta") + col("__k")), 12).cast(DecimalType(14, 12))
    val pB = round((col("n_cur") + 1).cast("double") /
      (col("__tb") + col("__k")), 12).cast(DecimalType(14, 12))
    val lnA = lnQ(col("n_base") + 1) - lnQ(col("__ta") + col("__k"))
    val lnB = lnQ(col("n_cur") + 1) - lnQ(col("__tb") + col("__k"))
    binTotals(baseCounts, curCounts, by)
      // fixed IEEE shape: both factors are exact decimal grid points,
      // cast to double (correctly rounded, engine-independent),
      // multiplied once, rounded once — the apScore term convention
      .withColumn("psi_term",
        round((pA - pB).cast("double") * (lnA - lnB).cast("double"), 12))
      .select(by.map(col) ++ Seq(col("bin"), col("n_base"), col("n_cur"),
        col("psi_term")): _*)
  }

  /** (by..., __v, __ca, __cb): the per-group distinct values of both
    * slices with their counts side by side (NULL values dropped; a value
    * one side lacks reads 0) — the table [[ksDistance]] and
    * [[wasserstein1]] run their cumulative windows over. */
  private def valueCounts(
      a: DataFrame,
      b: DataFrame,
      valueCol: Column,
      by: Seq[String]): DataFrame = {
    val keys = by.map(col)
    def side(df: DataFrame, n: String) = df.select(keys :+ valueCol.as("__v"): _*)
      .where(col("__v").isNotNull)
      .groupBy(keys :+ col("__v"): _*).agg(count(lit(1)).as(n))
    side(a, "__ca").join(side(b, "__cb"), by :+ "__v", "full_outer")
      .select(keys :+ col("__v") :+
        coalesce(col("__ca"), lit(0L)).as("__ca") :+
        coalesce(col("__cb"), lit(0L)).as("__cb"): _*)
  }

  /** Per-group slice totals and distinct-value count of [[valueCounts]]. */
  private def valueTotals(joined: DataFrame, by: Seq[String]): DataFrame =
    joined.groupBy(by.map(col): _*)
      .agg(sum(col("__ca")).as("__ta"), sum(col("__cb")).as("__tb"),
        count(lit(1)).as("__nd"))

  /** |cdfA − cdfB| at a distinct value on the round(,12) grid. An EMPTY
    * side has cdf 0 everywhere (ADVICE r9), so against a non-empty side
    * KS is 1 and W1 integrates the present side's cdf — never a NULL
    * from a 0 divide. */
  private def cdfGap: Column = abs(
    when(col("__ta") > 0,
        round(col("__cuma").cast("double") / col("__ta"), 12))
      .otherwise(lit(0.0)).cast(DecimalType(14, 12))
    - when(col("__tb") > 0,
        round(col("__cumb").cast("double") / col("__tb"), 12))
      .otherwise(lit(0.0)).cast(DecimalType(14, 12)))

  /** Exact two-sample Kolmogorov-Smirnov distance between slice A and
    * slice B of `valueCol`: one row (by..., n_a, n_b, ks) per group
    * present in EITHER slice, with ks = max over distinct values of
    * |cdfA − cdfB| on the round(,12) grid (a group absent from one side
    * has an empty CDF there, so ks = 1). The cumulative window runs over
    * DISTINCT values only and partitions by the keys, with the
    * [[FeatureScaling.aucScore]] fail-fast: with no keys it is a
    * single-task sort, so `maxDistinct` bounds the worst group's
    * distinct cardinality and trips unless the caller quantizes a raw
    * continuous double deliberately. */
  def ksDistance(
      a: DataFrame,
      b: DataFrame,
      valueCol: Column,
      by: Seq[String] = Nil,
      maxDistinct: Long = 1L << 22): DataFrame = {
    val keys = by.map(col)
    val joined = valueCounts(a, b, valueCol, by)
    val w = Window.partitionBy(keys: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = joined
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
    withTotals(cum, valueTotals(joined, by), by, "ksDistance", maxDistinct)
      .select(keys :+ col("__ta").as("n_a") :+ col("__tb").as("n_b") :+
        cdfGap.as("__d"): _*)
      .groupBy(keys :+ col("n_a") :+ col("n_b"): _*)
      .agg(max(col("__d")).cast("double").as("ks"))
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between slice A
    * and slice B of `valueCol`: one row (by..., n_a, n_b, w1) per group
    * with W1 = Σ_i |cdfA(v_i) − cdfB(v_i)| · (v_{i+1} − v_i) over sorted
    * distinct values — the integral the KS max ignores: a small shift
    * of a LOT of mass moves W1 but barely moves KS, and vice versa;
    * monitoring wants both. Same distinct-value machinery, empty-side
    * guard and fail-fast as [[ksDistance]]; each term quantizes to the
    * round(,12) grid and the terms sum as exact decimals (the apScore
    * order-independence convention), so the statistic is engine-exact.
    * Unit: `valueCol`'s (W1 of distributions shifted by c is c —
    * pinned in DriftSpec). With no keys and the guard on, the totals
    * come back from the guard's one action as literals
    * (`withTotals`). */
  def wasserstein1(
      a: DataFrame,
      b: DataFrame,
      valueCol: Column,
      by: Seq[String] = Nil,
      maxDistinct: Long = 1L << 22): DataFrame = {
    val keys = by.map(col)
    val joined = valueCounts(a, b, valueCol, by)
    val w = Window.partitionBy(keys: _*).orderBy(col("__v"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, 0)
    val cum = joined
      .withColumn("__cuma", sum(col("__ca")).over(cumW))
      .withColumn("__cumb", sum(col("__cb")).over(cumW))
      .withColumn("__gap", lead(col("__v"), 1).over(w) - col("__v"))
    // the last value closes no interval: its term is 0 (NOT a dropped
    // row — a single-distinct-value union must still yield the
    // (n_a, n_b, 0.0) row, ADVICE r9)
    withTotals(cum, valueTotals(joined, by), by, "wasserstein1", maxDistinct,
        asLiterals = true)
      .select(keys :+ col("__ta").as("n_a") :+ col("__tb").as("n_b") :+
        when(col("__gap").isNotNull,
            round(cdfGap.cast("double") * col("__gap").cast("double"), 12))
          .otherwise(lit(0)).cast(DecimalType(38, 12)).as("__t"): _*)
      .groupBy(keys :+ col("n_a") :+ col("n_b"): _*)
      .agg(sum(col("__t")).cast("double").as("w1"))
  }

  /** Jensen-Shannon divergence between a BASE and a CURRENT slice over
    * a caller-provided bin expression (tokens, buckets...): per-bin
    * rows (by..., bin, n_base, n_cur, jsd_term) with JSD = sum(jsd_term)
    * per group ∈ [0, ln 2] — the symmetric, always-finite drift
    * statistic data cards report where PSI's scorecard bands don't
    * apply. Same Laplace(+1) smoothing and per-group totals as [[psi]].
    * Exactness: with pX = cX'/tX' and m = (pA+pB)/2, the log ratios
    * reduce to integer arguments — ln(pA/m) = ln(2·cA'·tB') −
    * ln(cA'·tB' + cB'·tA') — so both lns ride the quantized-integer grid
    * and each term is one fixed-IEEE product rounded to the 12dp grid. */
  def jsd(
      base: DataFrame,
      current: DataFrame,
      binCol: Column,
      by: Seq[String] = Nil): DataFrame = {
    val cA = col("n_base") + 1; val cB = col("n_cur") + 1
    val tA = col("__ta") + col("__k"); val tB = col("__tb") + col("__k")
    // products ride decimals: long counts at 10B-doc scale would push
    // cA·tB past 2^63 (silent wraparound — the r9 aucScore ADVICE class)
    def d(c: Column): Column = c.cast(DecimalType(19, 0))
    val mix = d(cA) * d(tB) + d(cB) * d(tA)
    val pA = round(cA.cast("double") / tA, 12).cast(DecimalType(14, 12))
    val pB = round(cB.cast("double") / tB, 12).cast(DecimalType(14, 12))
    val lnRA = lnQ(d(cA) * d(tB) * lit(2)) - lnQ(mix)
    val lnRB = lnQ(d(cB) * d(tA) * lit(2)) - lnQ(mix)
    binTotals(histogram(base, binCol, by), histogram(current, binCol, by), by)
      .withColumn("jsd_term",
        round(lit(0.5) * (pA.cast("double") * lnRA.cast("double")
          + pB.cast("double") * lnRB.cast("double")), 12))
      .select(by.map(col) ++ Seq(col("bin"), col("n_base"), col("n_cur"),
        col("jsd_term")): _*)
  }

  /** The rows a calibration statistic scores: NULL or NaN predictions
    * and NULL labels drop out. A NaN must not pass: round(NaN, 6) casts
    * to a NULL decimal, which `least` would clamp into the top bin and
    * the Brier sum would count with a zero error. */
  private def scorable(df: DataFrame, pred: Column, label: Column): DataFrame =
    df.where(pred.isNotNull && !isnan(pred) && label.isNotNull)

  /** Reliability-diagram bins for a [0,1] prediction against a boolean
    * label: (by..., bin, n, avg_pred, frac_pos) per occupied
    * decile-style bin (bin = floor(pred·nBins) clamped to nBins−1) of
    * each group. A calibrated classifier has avg_pred ≈ frac_pos per
    * bin — the drift gate for a quality model scoring today's crawl
    * (per key: a classifier can be calibrated corpus-wide while badly
    * off on one domain). ONE hash aggregation on (by..., bin); preds
    * ride the 6dp decimal grid so the per-bin means are exact sums with
    * one final rounded division each. */
  def calibrationBins(
      df: DataFrame,
      pred: Column,
      label: Column,
      by: Seq[String] = Nil,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2 (got $nBins)")
    val keys = by.map(col)
    val p = round(pred, 6).cast(DecimalType(18, 6))
    val y = label.cast("boolean")
    scorable(df, pred, label)
      .select(keys :+
        least(floor(p * nBins).cast("long"), lit(nBins - 1L)).as("bin") :+
        p.as("__p") :+ y.cast("long").as("__y"): _*)
      .groupBy(keys :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"),
        round(sum(col("__p")).cast("double") / count(lit(1)), 12).as("avg_pred"),
        round(sum(col("__y")).cast("double") / count(lit(1)), 12).as("frac_pos"))
  }

  /** Brier score (mean squared error of a [0,1] prediction against the
    * boolean outcome): one row (by..., n, brier) per group. Terms square
    * on the exact decimal grid — (p − y) as decimal(12,6), squared to
    * decimal(25,12), summed exactly — with ONE final rounded division;
    * the composite calibration gate next to [[calibrationBins]]. */
  def brierScore(
      df: DataFrame,
      pred: Column,
      label: Column,
      by: Seq[String] = Nil): DataFrame = {
    val keys = by.map(col)
    val p = round(pred, 6).cast(DecimalType(12, 6))
    val e = (p - label.cast("boolean").cast("int").cast(DecimalType(12, 6)))
      .cast(DecimalType(12, 6))
    scorable(df, pred, label)
      .select(keys :+ (e * e).cast(DecimalType(25, 12)).as("__sq"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        round(sum(col("__sq")).cast("double") / count(lit(1)), 12).as("brier"))
  }

  /** The MERGEABLE calibration state: per-bin (bin, n, sum_p, sum_y,
    * sum_sq) — integer counts and exact decimal sums, so states merge
    * associatively ([[mergeCalibrationStates]]) and batch boundaries
    * are invisible (the [[binCounts]] argument): both the reliability
    * bins ([[calibrationFromState]]) and the Brier score
    * ([[brierFromState]]) finalize from the SAME state, which is the
    * monitoring table a streaming ingest maintains
    * ([[graft.streaming.StreamingOps.calibIngest]]). Sum types are
    * pinned wide (38,6)/(38,12) so merged states keep one schema. */
  def calibrationState(
      df: DataFrame,
      pred: Column,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2 (got $nBins)")
    val p = round(pred, 6).cast(DecimalType(18, 6))
    val y = label.cast("boolean")
    val e = (round(pred, 6).cast(DecimalType(12, 6))
      - y.cast("int").cast(DecimalType(12, 6))).cast(DecimalType(12, 6))
    scorable(df, pred, label)
      .select(least(floor(p * nBins).cast("long"), lit(nBins - 1L)).as("bin"),
        p.as("__p"), y.cast("long").as("__y"),
        (e * e).cast(DecimalType(25, 12)).as("__sq"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("__p")).cast(DecimalType(38, 6)).as("sum_p"),
        sum(col("__y")).as("sum_y"),
        sum(col("__sq")).cast(DecimalType(38, 12)).as("sum_sq"))
  }

  /** Merge two calibration states — exact integer/decimal sums per bin,
    * order- and grouping-independent. */
  def mergeCalibrationStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bin")
      .agg(sum(col("n")).as("n"),
        sum(col("sum_p")).cast(DecimalType(38, 6)).as("sum_p"),
        sum(col("sum_y")).as("sum_y"),
        sum(col("sum_sq")).cast(DecimalType(38, 12)).as("sum_sq"))

  /** [[calibrationBins]]' rows from a [[calibrationState]] — identical
    * finalize arithmetic (exact decimal totals, ONE rounded division
    * each), so state-then-finalize ≡ the one-shot form (DriftSpec). */
  def calibrationFromState(state: DataFrame): DataFrame =
    state.select(col("bin"), col("n"),
      round(col("sum_p").cast("double") / col("n"), 12).as("avg_pred"),
      round(col("sum_y").cast("double") / col("n"), 12).as("frac_pos"))

  /** [[brierScore]]'s row from a [[calibrationState]]: the per-bin
    * squared-error sums total exactly (decimal, order-independent). */
  def brierFromState(state: DataFrame): DataFrame =
    state.agg(sum(col("n")).as("n"),
      round(sum(col("sum_sq")).cast("double") /
        sum(col("n")), 12).as("brier"))
}
