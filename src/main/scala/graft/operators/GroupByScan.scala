package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.NanOps._

/** Grouped scans — the Spark-native `groupby_scan` (reference
  * core.py:2718-2901, Scan registry aggregations.py:709-737).
  *
  * The reference implements scans as a Blelloch prefix scan over chunks:
  * a blockwise scan kernel that carries O(1) state per group, a per-chunk
  * per-group carry reduction, and a binary op that folds the carry into
  * the next chunk (reference aggregations.py:653-706, core.py:2948-2992).
  * Here [[scan]] is the blockwise kernel over whole groups: one shuffle
  * co-locates each group (`repartition(by)`), an in-partition sort puts
  * its rows in position order (`sortWithinPartitions(by ++ orderBy)`),
  * and one projection evaluates
  * [[graft.expressions.RunningAggregate]] — the running aggregate the
  * window form `agg OVER (... ROWS UNBOUNDED PRECEDING)` computes, with
  * O(1) state and inside the whole-stage-codegen stage of the sort. A
  * `WindowExec` would buffer each whole group before emitting a row and
  * run outside codegen. [[scanChunked]] is the chunk-carry form.
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
    * single-pass [[GroupByScan.scan]] and the Blelloch chunk-carry
    * [[GroupByScan.scanChunked]] unchanged. A custom scan is the one scan
    * that still runs as a `WindowExec`, because its API is a window:
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
    * @param limit ffill/bfill only: fill a gap from at most `limit` rows
    *              away (pandas/xarray `ffill(limit=)`); 0 = unbounded.
    *              The fill is the last valid value if it sits at most
    *              `limit` rows back (forward for bfill) — what
    *              `last(ignoreNulls) over rows [-limit, 0]` gives; longer
    *              gaps stay missing.
    */
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
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val dt = df.schema(value).dataType
    val v  = col(value)
    val vn = nanToNull(v, dt)
    custom match {
      case Some(cs) =>
        val fwd = Window.partitionBy(by.map(col): _*).orderBy(orderBy: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn(as, cs.window(v, fwd))
      case None =>
        // bfill is ffill run forward over the reversed order
        val order = if (func == "bfill") orderBy.map(reversed) else orderBy
        running(df, by, order, as, limit > 0)(idx => scanSteps(func, v, vn, dt, exactScale, limit, idx))
    }
  }

  /** The running aggregates of one scan func and the pure expression that
    * finishes them into the output: the window forms' aggregates, without
    * the window. `idx` is the 1-based row index within the group. */
  private def scanSteps(
      func: String,
      v: Column,
      vn: Column,
      dt: org.apache.spark.sql.types.DataType,
      exactScale: Option[Int],
      limit: Int,
      idx: Column): (Seq[(String, Column)], Seq[Column] => Column) = {
    // exact engine: decimal running sum, cast to double after the sum
    def exact(c: Column): Column =
      exactScale.fold(c)(s => c.cast(org.apache.spark.sql.types.DecimalType(18, s)))
    def toDouble(c: Column): Column = if (exactScale.isDefined) c.cast("double") else c
    def one(fn: String, c: Column, finish: Column => Column = identity): (Seq[(String, Column)], Seq[Column] => Column) =
      (Seq(fn -> c), s => finish(s.head))
    func match {
      // nancumsum: NaN contributes 0 but the scan keeps running
      // (reference aggregations.py:711; np.nancumsum semantics).
      case "nancumsum"  => one("sum", exact(vn), s => coalesce(toDouble(s), lit(0).cast("double")))
      // plain cumsum propagates NaN from first occurrence (numpy); the
      // reference wanted but could not ship it (aggregations.py:709-710) —
      // capability-parity bonus here.
      case "cumsum"     => one("sum", exact(v), toDouble)
      case "cumprod"    => one("product", v)
      case "nancumprod" => one("product", vn, s => coalesce(s, lit(1).cast("double")))
      // ffill/bfill (reference aggregations.py:716-735, kernel
      // aggregate_flox.py:254-277): last valid value at/before the
      // current row (after it, for bfill's reversed order). Leading
      // (trailing) gaps stay missing. With a limit, the last valid row's
      // index bounds the gap.
      case "ffill" | "bfill" if limit > 0 =>
        (Seq("last" -> vn, "last" -> when(vn.isNotNull, idx)),
          s => when(idx - s(1) <= limit, s(0)))
      case "ffill" | "bfill" => one("last", vn)
      // extras beyond the reference registry:
      case "cumcount" => one("count", vn)
      // plain cummax/cummin propagate NaN from first occurrence (numpy
      // semantics): running max over the raw column is exactly that,
      // because Spark orders NaN above +Inf; cummin needs the explicit
      // poison patch (NaN would never win a min).
      case "cummax" => one("max", v)
      case "cummin" =>
        if (isFloaty(dt))
          (Seq("max" -> isnan(v).cast("int"), "min" -> v),
            s => when(s(0) === 1, lit(Double.NaN)).otherwise(s(1)))
        else one("min", v)
      case "nancummax" => one("max", vn)
      case "nancummin" => one("min", vn)
      case other => throw new IllegalArgumentException(s"unknown scan: $other")
    }
  }

  /** Appends `as` = `finish(running aggregates)` over `df` clustered by
    * `by` and sorted by `order` within each partition. Each running
    * aggregate is projected into a column of its own before `finish`
    * reads it, so a conditional in `finish` never skips a step's update.
    * `steps` gets the 1-based row index within the group, projected first
    * when `indexed`. */
  private def running(df: DataFrame, by: Seq[String], order: Seq[Column], as: String,
      indexed: Boolean)(
      steps: Column => (Seq[(String, Column)], Seq[Column] => Column)): DataFrame = {
    val keys = by.map(col)
    def run(fn: String, c: Column): Column =
      call_function(graft.expressions.GraftFunctions.Running, lit(fn) +: c +: keys: _*)
    // floating keys partition on `k + 0.0`: -0.0 and 0.0 are one group
    // (the step compares keys as Spark groups them)
    val partKeys = by.map(k => df.schema.find(_.name == k).map(_.dataType) match {
      case Some(t) if isFloaty(t) => col(k) + lit(0.0)
      case _ => col(k)
    })
    val clustered =
      (if (by.isEmpty) df.repartition(1) else df.repartition(partKeys: _*))
        .sortWithinPartitions(keys ++ order: _*)
    val taken = df.columns.toSet + as
    val names = Iterator.from(0).map(i => s"__run$i").filterNot(taken).take(3).toSeq
    val idxName = names.head
    val base = if (indexed) clustered.withColumn(idxName, run("count", lit(1))) else clustered
    val (stepCols, finish) = steps(col(idxName))
    val stepNames = names.tail.take(stepCols.size)
    stepCols.zip(stepNames)
      .foldLeft(base) { case (d, ((fn, c), n)) => d.withColumn(n, run(fn, c)) }
      .withColumn(as, finish(stepNames.map(col)))
      .drop(idxName +: stepNames: _*)
  }

  /** The reverse of a sort key: `c` ascending with nulls first (the
    * window default) unless `c` is already a sort order, whose direction
    * and null placement flip. */
  private def reversed(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, SortOrder}
    import org.apache.spark.sql.classic.ColumnConversions._
    c.expr match {
      case o: SortOrder =>
        val key = expr(o.child.sql)
        (o.direction == Ascending, o.nullOrdering == NullsFirst) match {
          case (true, true)   => key.desc_nulls_last
          case (true, false)  => key.desc_nulls_first
          case (false, true)  => key.asc_nulls_last
          case (false, false) => key.asc_nulls_first
        }
      case _ => c.desc_nulls_last
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
    *
    * Crossover: phase 1 runs on the same running kernel as [[scan]], so
    * the chunked form pays three more exchanges and a join to split the
    * largest group. Measured on a 4-vCPU box (local[4], 4 shuffle
    * partitions, AQE on), exact-decimal cumsum, chunks of 2^16
    * positions, one head group plus 2^15 tail rows, median of 5: the
    * chunked time over scan's is 1.44 at a 2^16-row head group, 1.06 at
    * 2^18, 1.01 at 2^19, 0.99 at 2^20, 0.81 at 2^21 and 0.67 at 2^22.
    * Below about 10^6 rows in the largest group, [[scan]] is as fast or
    * faster.
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
    graft.expressions.GraftFunctions.register(df.sparkSession)
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
        val src = if (func == "nancumsum") vn else v
        // decimal until phase 3
        running(in, by :+ "__chunk", orderBy, as, indexed = false)(_ =>
          (Seq("sum" -> src.cast(decT)), s => s.head))
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
      case "ffill"                   => Aggregations.maxBy(vn, when(isValid(v, dt), struct(orderBy: _*)))
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
