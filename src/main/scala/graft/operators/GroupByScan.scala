package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.NanOps._

/** Grouped scans — the Spark-native `groupby_scan` (reference
  * core.py:2718-2901, Scan registry aggregations.py:709-737).
  *
  * The reference implements scans as a Blelloch prefix scan over chunks:
  * a blockwise scan kernel, a per-chunk per-group carry reduction, and a
  * binary op that folds the carry into the next chunk
  * (reference aggregations.py:653-706, core.py:2948-2992). In Spark that
  * entire topology *is* `WindowExec`: one shuffle to co-locate each group,
  * an in-partition sort by position, and an incremental running frame —
  * so each scan compiles to a single window expression.
  *
  * Positional contract: the caller supplies the ordering columns (arrays
  * are intrinsically ordered, DataFrames are not — SURVEY §7.4). Ties in
  * the ordering would make results nondeterministic; pass a tie-breaking
  * unique column last.
  */
object GroupByScan {

  val scanNames: Seq[String] = Seq(
    "cumsum", "nancumsum", "cumprod", "nancumprod",
    "ffill", "bfill", "cumcount",
    "cummax", "cummin", "nancummax", "nancummin")

  /** User-defined scan — the Spark form of the reference's public `Scan`
    * dataclass (aggregations.py:577-598, exported `__init__.py:6`), the
    * scan counterpart of [[Agg.custom]]. The caller supplies the same
    * pieces every built-in compiles to, so a custom func rides both the
    * single-window [[GroupByScan.scan]] and the Blelloch chunk-carry
    * [[GroupByScan.scanChunked]] unchanged:
    *
    * @param window    running expression over the incremental frame —
    *                  `(value, frameSpec) => agg(value).over(frameSpec)`
    *                  (the reference's blockwise `scan` kernel)
    * @param carry     per-chunk aggregate equal to the window's last
    *                  in-chunk value (the reference's `reduction`)
    * @param carryFold running fold of preceding-chunk carries —
    *                  `(carryCol, exclusivePrefixSpec) => Column`. For an
    *                  associative scan this is the plain running aggregate
    *                  of the carries (sum for additive scans, min/max for
    *                  extremal ones) — it is a SEPARATE piece because the
    *                  window expression may transform the value first
    *                  (e.g. sum of squares must not re-square its carries).
    * @param combine   folds the preceding-chunks carry into each local
    *                  value (the reference's `binary_op`); the carry is
    *                  NULL for a group's first chunk — handle it
    *                  (`coalesce(prev, identity)`).
    */
  final case class CustomScan(
      window: (Column, WindowSpec) => Column,
      carry: Column => Column,
      carryFold: (Column, WindowSpec) => Column,
      combine: (Column, Column) => Column)

  /** Appends output column `as` = scan of `value` within each `by` group
    * ordered by `orderBy`. All other columns pass through (a scan is
    * shape-preserving, one output row per input row).
    *
    * @param exactScale as in [[Agg.exactScale]]: run the running sum over
    *                   decimal(18,scale) for order-independent exactness.
    */
  /** @param limit ffill/bfill only: fill a gap from at most `limit` rows
    *              away (pandas/xarray `ffill(limit=)`); 0 = unbounded.
    *              Maps to a BOUNDED window frame — `last(ignoreNulls)
    *              over rows [-limit, 0]` — so the fill source must sit
    *              inside the frame; longer gaps stay missing. */
  def scan(
      df: DataFrame,
      value: String,
      by: Seq[String],
      func: String,
      orderBy: Seq[Column],
      as: String,
      exactScale: Option[Int] = None,
      limit: Int = 0,
      custom: Option[CustomScan] = None): DataFrame = {
    require(limit >= 0, s"limit must be >= 0 (got $limit)")
    require(limit == 0 || func == "ffill" || func == "bfill",
      s"limit only applies to ffill/bfill (got func=$func)")
    require(custom.isEmpty == (func != "custom"),
      "func=custom requires (and is required by) a CustomScan spec")
    val dt = df.schema(value).dataType
    val v  = col(value)
    val vn = nanToNull(v, dt)

    val base = Window.partitionBy(by.map(col): _*).orderBy(orderBy: _*)
    val fwd: WindowSpec = base.rowsBetween(
      if (limit > 0) -limit.toLong else Window.unboundedPreceding, Window.currentRow)
    val bwd: WindowSpec = base.rowsBetween(
      Window.currentRow, if (limit > 0) limit.toLong else Window.unboundedFollowing)

    // the cast must wrap the *windowed* expression, not the bare aggregate
    def sumE(c: Column, w: WindowSpec): Column = exactScale match {
      case Some(s) =>
        sum(c.cast(org.apache.spark.sql.types.DecimalType(18, s))).over(w).cast("double")
      case None => sum(c).over(w)
    }

    val expr = custom match {
      case Some(cs) => cs.window(v, fwd)
      case None     => scanExpr(func, v, vn, dt, fwd, bwd, sumE)
    }
    df.withColumn(as, expr)
  }

  private def scanExpr(
      func: String,
      v: Column,
      vn: Column,
      dt: org.apache.spark.sql.types.DataType,
      fwd: WindowSpec,
      bwd: WindowSpec,
      sumE: (Column, WindowSpec) => Column): Column = {
    func match {
      // nancumsum: NaN contributes 0 but the scan keeps running
      // (reference aggregations.py:711; np.nancumsum semantics).
      case "nancumsum"  => coalesce(sumE(vn, fwd), lit(0).cast("double"))
      // plain cumsum propagates NaN from first occurrence (numpy); the
      // reference wanted but could not ship it (aggregations.py:709-710) —
      // capability-parity bonus here.
      case "cumsum"     => sumE(v, fwd)
      case "cumprod"    => product(v).over(fwd)
      case "nancumprod" => coalesce(product(vn).over(fwd), lit(1).cast("double"))
      // ffill/bfill (reference aggregations.py:716-735, kernel
      // aggregate_flox.py:254-277): last/first valid value at/before/after
      // the current row. Leading (trailing) gaps stay missing.
      case "ffill" => last(vn, ignoreNulls = true).over(fwd)
      case "bfill" => first(vn, ignoreNulls = true).over(bwd)
      // extras beyond the reference registry:
      case "cumcount" => count(vn).over(fwd)
      // plain cummax/cummin propagate NaN from first occurrence (numpy
      // semantics): running max over the raw column is exactly that,
      // because Spark orders NaN above +Inf; cummin needs the explicit
      // poison patch (NaN would never win a min).
      case "cummax" => max(v).over(fwd)
      case "cummin" =>
        if (graft.functions.NanOps.isFloaty(dt))
          when(max(isnan(v).cast("int")).over(fwd) === 1, lit(Double.NaN))
            .otherwise(min(v).over(fwd))
        else min(v).over(fwd)
      case "nancummax" => max(vn).over(fwd)
      case "nancummin" => min(vn).over(fwd)
      case other => throw new IllegalArgumentException(s"unknown scan: $other")
    }
  }

  /** Skew-safe two-phase scan — the reference's Blelloch chunk-carry
    * topology (dask_groupby_scan, core.py:2948-2992; scan_binary_op,
    * aggregations.py:653-706) as Spark plans.
    *
    * [[scan]] shuffles each whole group to one task; a pathological group
    * (one key with 10^10 rows) serializes on it. Here the caller names a
    * `chunk` column that is NON-DECREASING along `orderBy` within each
    * group (e.g. `date_trunc("day", ts)` when ordering by ts): phase 1
    * scans within (group, chunk) — parallel across chunks of the same
    * group; phase 2 reduces one carry row per chunk (the per-chunk
    * total/last), prefix-combines carries over the tiny per-group chunk
    * sequence, and folds the preceding-chunks carry into every row with a
    * broadcast-sized join. Identical results to [[scan]] for every scan
    * func (pinned by ScanChunkedSpec); use it when groups are huge or
    * heavily skewed.
    */
  def scanChunked(
      df: DataFrame,
      value: String,
      by: Seq[String],
      func: String,
      orderBy: Seq[Column],
      chunk: Column,
      as: String,
      exactScale: Option[Int] = None,
      custom: Option[CustomScan] = None): DataFrame = {
    val reserved = Seq("__chunk", "__carry", "__prev", "__jk")
    val clashes  = df.columns.toSeq.intersect(reserved)
    require(clashes.isEmpty,
      s"scanChunked reserves column names ${reserved.mkString("/")}; rename ${clashes.mkString(", ")} in the input")
    require(custom.isEmpty == (func != "custom"),
      "func=custom requires (and is required by) a CustomScan spec")
    val dt = df.schema(value).dataType
    val in = df.withColumn("__chunk", chunk)
    val keyCols  = by.map(col)
    val chunkKey = keyCols :+ col("__chunk")

    val v  = col(value)
    val vn = nanToNull(v, dt)

    // Exact-decimal sums must stay decimal through the carry addition and
    // cast to double exactly once at the end — casting the local scan and
    // the carry separately would round twice and lose the bitwise
    // equality with the single-window scan.
    val exactSum = exactScale.isDefined && (func == "cumsum" || func == "nancumsum")
    val local =
      if (exactSum) {
        val decT = org.apache.spark.sql.types.DecimalType(18, exactScale.get)
        val fwd = Window.partitionBy(chunkKey: _*).orderBy(orderBy: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val src = if (func == "nancumsum") vn else v
        in.withColumn(as, sum(src.cast(decT)).over(fwd)) // decimal until phase 3
      } else scan(in, value, by :+ "__chunk", func, orderBy, as, exactScale,
        custom = custom)

    def sumC(c: Column): Column = exactScale match {
      case Some(s) => sum(c.cast(org.apache.spark.sql.types.DecimalType(18, s)))
      case None    => sum(c)
    }
    // per-chunk carry reduction (the reference's `preop=grouped_reduce`)
    val carry: Column = func match {
      case "custom"                  => custom.get.carry(v)
      case "cumsum"                  => sumC(v)
      case "nancumsum" if exactSum   => sumC(vn)
      case "nancumsum"               => coalesce(sumC(vn), lit(0).cast("double"))
      case "cumprod"                 => product(v)
      case "nancumprod"              => coalesce(product(vn), lit(1).cast("double"))
      case "cumcount"                => count(vn)
      case "cummax"                  => max(v)
      case "cummin" =>
        if (graft.functions.NanOps.isFloaty(dt))
          when(max(isnan(v).cast("int")) === 1, lit(Double.NaN)).otherwise(min(v))
        else min(v)
      case "nancummax"               => max(vn)
      case "nancummin"               => min(vn)
      case "ffill"                   => max_by(vn, when(isValid(v, dt), struct(orderBy: _*)))
      case other => throw new IllegalArgumentException(s"scanChunked does not support: $other")
    }
    // exclusive prefix of carries over the (tiny) per-group chunk sequence
    val prevWin = Window.partitionBy(keyCols: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev: Column = func match {
      case "custom"                => custom.get.carryFold(col("__carry"), prevWin)
      case "cumsum" | "nancumsum"  => sum(col("__carry")).over(prevWin)
      case "cumprod" | "nancumprod" => product(col("__carry")).over(prevWin)
      case "cumcount"              => sum(col("__carry")).over(prevWin)
      // max over raw carries: NaN sorts above +Inf, so a NaN carry
      // dominates all later chunks — exactly the propagation we want
      case "cummax"                => max(col("__carry")).over(prevWin)
      case "cummin" if isFloaty(dt) =>
        when(max(isnan(col("__carry")).cast("int")).over(prevWin) === 1, lit(Double.NaN))
          .otherwise(min(col("__carry")).over(prevWin))
      case "cummin"                => min(col("__carry")).over(prevWin)
      case "nancummax"             => max(col("__carry")).over(prevWin)
      case "nancummin"             => min(col("__carry")).over(prevWin)
      case "ffill"                 => last(col("__carry"), ignoreNulls = true).over(prevWin)
    }
    val carries = in.groupBy(chunkKey: _*).agg(carry.as("__carry"))
      .withColumn("__prev", prev)
      .select(chunkKey :+ col("__prev"): _*)

    // phase 3: fold the preceding-chunks carry into each row
    // (scan_binary_op's apply_binary_op / concat_then_scan). No broadcast
    // hint: the carry table has one row per (group, chunk) — AQE
    // broadcasts it when small, and at the billions-of-chunks extreme the
    // equi-join on the keys phase 1 already partitioned by stays local.
    // The join rides ONE struct key: a bare multi-column equi-join is
    // null-UNSAFE — NULL-keyed groups (or a NULL __chunk from e.g.
    // chunk(NULL timestamp) in the as-of path) would silently drop rows
    // the single-window [[scan]] keeps, breaking the bitwise-equality
    // contract. Struct equality treats null fields as equal (the same
    // __k idiom as Quantiles.exactQuantileSelect).
    val jk = struct(chunkKey: _*)
    val joined = local.withColumn("__jk", jk)
      .join(carries.select(jk.as("__jk"), col("__prev")), "__jk")
      .drop("__jk")
    val combined: Column = func match {
      case "custom" => custom.get.combine(col(as), col("__prev"))
      case "cumsum" if exactSum =>
        (col(as) + coalesce(col("__prev"), lit(0))).cast("double")
      case "nancumsum" if exactSum =>
        (coalesce(col(as), lit(0)) + coalesce(col("__prev"), lit(0))).cast("double")
      // untyped 0/1 literals: coercion widens them to the local scan's own
      // sum/product dtype (long for integral values, double for floats), so
      // an integer-valued chunked scan keeps the integer dtype the
      // single-window scan produces
      case "cumsum"     => col(as) + coalesce(col("__prev"), lit(0))
      case "nancumsum"  => col(as) + coalesce(col("__prev"), lit(0))
      case "cumprod"    => col(as) * coalesce(col("__prev"), lit(1))
      case "nancumprod" => col(as) * coalesce(col("__prev"), lit(1))
      case "cumcount"   => col(as) + coalesce(col("__prev"), lit(0L))
      // greatest: NaN wins (numpy propagation carries over chunks);
      // least would wrongly discard NaN, so poison explicitly
      case "cummax"     => greatest(col(as), col("__prev"))
      case "cummin" if isFloaty(dt) =>
        when(isnan(col(as)) || coalesce(isnan(col("__prev")), lit(false)), lit(Double.NaN))
          .otherwise(least(col(as), col("__prev")))
      case "cummin"     => least(col(as), col("__prev"))
      case "nancummax"  => greatest(col(as), col("__prev"))
      case "nancummin"  => least(col(as), col("__prev"))
      case "ffill"      => coalesce(col(as), col("__prev"))
    }
    joined.withColumn(as, combined).drop("__chunk", "__prev")
  }
}
