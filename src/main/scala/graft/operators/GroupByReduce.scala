package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NanOps._

/** The engine's flagship entry point — the Spark-native `groupby_reduce`
  * (reference core.py:2269-2715).
  *
  * Where the reference factorizes labels to integer codes, picks a
  * distributed topology (map-reduce / blockwise / cohorts) and hand-builds
  * a dask graph of chunk/combine/finalize tasks, this implementation simply
  * declares `df.groupBy(by).agg(...)` and lets Catalyst plan it: hash
  * partial aggregation per input partition (= chunk), a single shuffle on
  * the group keys (= the tree combine, reference dask_array_ops.py:19-111)
  * and a final merge — the same topology, chosen adaptively by AQE, with
  * whole-stage codegen instead of numpy kernels.
  *
  * Semantics carried over from the reference:
  *   - rows whose group label is missing (NULL, or NaN for float labels)
  *     are dropped from every result (reference core.py:2691-2702);
  *   - `expected` densifies the output domain and `fill` values patch
  *     never-observed groups (reference reindex_, core.py:667-712);
  *   - `minCount` masks under-populated groups (reference core.py:2539-2557);
  *   - `sort` orders the output by group labels (reference core.py:2680-2686).
  */
object GroupByReduce {

  /** Grouped reduction of one or more aggregations in a single pass.
    *
    * @param df       input
    * @param by       one or more grouping columns (multi-key grouping ==
    *                  the reference's raveled multi-index, core.py:842-851 —
    *                  Spark hash-aggregates composite keys natively)
    * @param aggs     aggregations to compute
    * @param pos      total-order position column, required by positional
    *                  funcs (first/last/arg*): the explicit stand-in for the
    *                  array order the reference gets for free
    * @param expected optional dense output domain: a small DataFrame of the
    *                  expected group-key combinations (build per-key lists
    *                  with [[expectedDf]] and cross-join for multi-key)
    * @param keepNullKeys keep rows with missing labels as their own group
    *                  (the reference always drops them; escape hatch)
    * @param sort     sort result by group labels (reference default)
    */
  def reduce(
      df: DataFrame,
      by: Seq[String],
      aggs: Seq[Agg],
      pos: Option[Column] = None,
      expected: Option[DataFrame] = None,
      keepNullKeys: Boolean = false,
      sort: Boolean = true): DataFrame = {
    require(by.nonEmpty, "need at least one grouping column")
    require(aggs.nonEmpty, "need at least one aggregation")
    graft.expressions.GraftFunctions.register(df.sparkSession) // idempotent; topk needs it
    val keyCols = by.map(col)

    // min_count defaulting (reference core.py:2539-2557): declaring an
    // expected output domain together with a fill value promotes
    // min_count to 1, so an observed-but-all-missing group (every value
    // NaN/NULL) takes the fill exactly like a never-observed group —
    // instead of the func's empty-input identity (nansum -> 0, etc.).
    // The mask NULLs the aggregate; the same coalesce that fills
    // reindex-missing groups then applies the fill.
    val aggsEff = aggs.map(a =>
      if (a.minCount == 0 && expected.isDefined && a.fill.isDefined) a.copy(minCount = 1)
      else a)

    // Drop missing labels (factorize_'s -1 code, reference core.py:800-801).
    val base =
      if (keepNullKeys) df
      else by.foldLeft(df)((d, k) => d.filter(isValid(col(k), d.schema(k).dataType)))

    val (modeAggs, exprAggs) = aggsEff.partition(a => a.func == "mode" || a.func == "nanmode")

    val exprDf: Option[DataFrame] =
      if (exprAggs.isEmpty) None
      else {
        val cols = exprAggs.map { a =>
          val dt       = base.schema(a.value).dataType
          val compiled = Aggregations.compile(a, dt, pos)
          Aggregations.withMinCount(compiled, a, dt).as(a.as)
        }
        Some(base.groupBy(keyCols: _*).agg(cols.head, cols.tail: _*))
      }

    val modeDfs = modeAggs.map(modePlan(base, by, _))

    // Aggregated outputs are tiny relative to the input; joining them (and
    // the expected-groups reindex below) broadcasts under AQE. Mode branches
    // join *left* from the expression result: nanmode filters its input, so
    // an all-invalid group exists in exprDf but not in the mode branch — a
    // left join keeps the group with a NULL mode (flox fills, never drops;
    // reference core.py:1156-1168). With no exprDf the mode branches are
    // stitched with full outer joins for the same reason.
    val parts  = exprDf.toSeq ++ modeDfs
    val how    = if (exprDf.isDefined) "left" else "full_outer"
    val joined = parts.reduce((l, r) => l.join(r, by, how))

    val reindexed = expected match {
      case None => joined
      case Some(e) =>
        // reindex_ (reference core.py:667-712): right-align the result to
        // the declared domain, then fill never-observed groups.
        val dense = broadcast(e).join(joined, by, "left")
        aggs.foldLeft(dense) { (d, a) =>
          a.fill match {
            case Some(f) => d.withColumn(a.as, coalesce(col(a.as), lit(f)))
            case None    => d
          }
        }
    }

    // output columns in declared order: keys, expected-side extras
    // (e.g. bin bounds), then aggs as requested (mode branches joined
    // last above, so reorder explicitly)
    val extras  = expected.map(_.columns.toSeq.filterNot(by.contains)).getOrElse(Nil)
    val ordered = reindexed.select((by ++ extras ++ aggs.map(_.as)).map(col): _*)

    if (sort) ordered.orderBy(keyCols: _*) else ordered
  }

  /** mode/nanmode (reference aggregations.py:573-574, kernel
    * aggregate_npg.py:185-215): most frequent value, smallest-value
    * tie-break (scipy.stats.mode convention). Two-stage plan:
    * per-(key,value) counts, then one more aggregate picking the value
    * minimizing (-count, value) lexicographically — max count, smallest
    * value on ties. Both stages are hash aggregations (the first doubles
    * as a map-side combine, so the shuffle carries distinct values only;
    * the second is the fixed-width ArgSelect pick); no window, no extra
    * sort — this scales to 100 TB as long as the per-group distinct-value
    * count does. A value type without a 64-bit order code (string,
    * decimal(p > 18), ...) keeps Spark's min_by in the second stage,
    * which Spark plans as a SortAggregate. */
  def modePlan(df: DataFrame, by: Seq[String], a: Agg): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession) // the pick
    val dt      = df.schema(a.value).dataType
    val v       = col(a.value)
    val keyCols = by.map(col)
    val base    = if (a.func == "nanmode") df.filter(isValid(v, dt)) else df
    // the pick guards on v.isNotNull so a NULL/NaN value row can never win
    // a count tie (struct comparison would sort the null field first);
    // plain mode over floats then applies the scipy-propagate patch: any
    // NaN in the group poisons the result (scipy.stats.mode
    // nan_policy='propagate', the reference's plain-mode kernel).
    val hasNaN = if (isFloaty(dt)) bool_or(isnan(v)) else lit(false)
    val picked = base
      .groupBy(keyCols :+ nanToNull(v, dt).as(a.value): _*)
      .agg(count(lit(1)).as("__n"), hasNaN.as("__hasnan"))
      .groupBy(keyCols: _*)
      .agg(
        Aggregations.minBy(v, when(v.isNotNull, struct(col("__n") * lit(-1L), v))).as(a.as),
        bool_or(col("__hasnan")).as("__hasnan"))
    if (a.func == "mode" && isFloaty(dt))
      picked
        .withColumn(a.as, when(col("__hasnan"), lit(Double.NaN)).otherwise(col(a.as)))
        .drop("__hasnan")
    else picked.drop("__hasnan")
  }

  /** Reduce EVERY value column with the same func — the analog of the
    * reference's xarray layer looping one reduction over all
    * `data_vars` of a Dataset (xarray_reduce, xarray.py:410-440). Value
    * columns default to every column that is not a grouping key (pass
    * `values` to restrict). Output columns keep their input names. */
  def reduceAll(
      df: DataFrame,
      by: Seq[String],
      func: String,
      values: Seq[String] = Nil,
      pos: Option[Column] = None,
      exactScale: Option[Int] = None,
      sort: Boolean = true): DataFrame = {
    val vals =
      if (values.nonEmpty) values
      else df.columns.toSeq.filterNot(by.contains)
    reduce(df, by, vals.map(c => Agg(func, c, c, exactScale = exactScale)),
      pos = pos, sort = sort)
  }

  /** xarray `unstack` analog: a grouped reduction with ONE grouping key
    * pivoted to WIDE columns — the DataFrame form of the reference's
    * N-D output (a flox groupby result carries the group dim as an
    * array axis; unstacking that axis into columns is exactly
    * `groupBy().pivot()`). The pivot domain is CALLER-DECLARED
    * (`pivotValues`) — the `expected_groups` contract: Spark's
    * domain-inferring pivot overload runs an eager `distinct` JOB at
    * plan time (a hidden corpus scan) and its output schema becomes
    * data-dependent; both are wrong at 100 TB, so the inferring form is
    * deliberately not offered. Never-observed (group, pivot) cells take
    * each agg's `fill` (NULL without one — note Spark's pivot yields
    * NULL even for `count` on an absent cell; the fill coalesce restores
    * count-like zeros). Output columns follow Spark's pivot naming:
    * `<value>_<as>` (bare `<value>` for a single agg).
    *
    * Registry funcs compile exactly as in [[reduce]]; positional funcs
    * take `pos` as always. Missing labels (NULL/NaN) in `by` AND in the
    * pivot key are dropped like [[reduce]]'s default. */
  def unstack(
      df: DataFrame,
      by: Seq[String],
      pivotKey: String,
      pivotValues: Seq[Any],
      aggs: Seq[Agg],
      pos: Option[Column] = None): DataFrame = {
    require(by.nonEmpty, "need at least one grouping column")
    require(pivotValues.nonEmpty,
      "declare the pivot domain (expected_groups contract); the inferring pivot is deliberately not offered")
    require(aggs.nonEmpty, "need at least one aggregation")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val base = (by :+ pivotKey).foldLeft(df)((d, k) =>
      d.filter(isValid(col(k), d.schema(k).dataType)))
    val cols = aggs.map { a =>
      val dt = base.schema(a.value).dataType
      Aggregations.withMinCount(Aggregations.compile(a, dt, pos), a, dt).as(a.as)
    }
    val wide = base.groupBy(by.map(col): _*)
      .pivot(pivotKey, pivotValues)
      .agg(cols.head, cols.tail: _*)
    aggs.foldLeft(wide) { (d, a) =>
      a.fill.fold(d)(f => pivotValues.foldLeft(d) { (dd, pv) =>
        val cn = if (aggs.size == 1) s"$pv" else s"${pv}_${a.as}"
        dd.withColumn(cn, coalesce(col(cn), lit(f)))
      })
    }
  }

  /** Dense multi-key output domain: cross-product of per-key expected
    * DataFrames — the reference's hyper-rectangular `grp_shape` output
    * (core.py:842-851, reshape core.py:2698-2702; tested at
    * tests/test_core.py:1336-1384). Tiny dimension tables: the cross
    * join stays broadcast-sized. */
  def expectedCross(dfs: DataFrame*): DataFrame = {
    require(dfs.nonEmpty, "need at least one expected-groups frame")
    dfs.reduce(_ crossJoin _)
  }

  /** Row-preserving grouped top-k (pandas `groupby.nlargest`/`nsmallest`
    * analog): the original rows of the k best (largest=true) or worst
    * values per group, all columns intact.
    *
    * Plan shape for 100 TB: the topk aggregate first reduces to k
    * positions per group (k-bounded shuffle, see
    * [[graft.expressions.TopKByScore]]), then the tiny id set —
    * k * n_groups rows — broadcast left-semi joins back against the
    * source. The big table is scanned, never shuffled. `pos` must be a
    * unique total-order row identity (same contract as every positional
    * func); NaN/NULL-valued rows never qualify.
    */
  def topKRows(
      df: DataFrame,
      by: Seq[String],
      value: String,
      k: Int,
      pos: Column,
      largest: Boolean = true): DataFrame = {
    val clashes = df.columns.toSeq.intersect(Seq("__sel", "__top"))
    require(clashes.isEmpty,
      s"topKRows reserves column names __sel/__top; rename ${clashes.mkString(", ")} in the input")
    val agg = reduce(df, by,
      Seq(Agg(if (largest) "topk" else "bottomk", value, "__top", k = k)),
      pos = Some(pos), sort = false)
    // array<struct>.id extracts array<long>; explode -> one row per winner
    val ids = agg.select(explode(col("__top").getField("id")).as("__sel"))
    df.join(broadcast(ids), pos.cast("long") === col("__sel"), "left_semi")
  }

  /** Top-k most frequent values per group with their counts — pandas
    * `value_counts().head(k)` / the generalization of `mode` to a ranked
    * list (mode = k=1; same count-desc / value-asc tie-break as
    * [[reduce]]'s mode, reference aggregate_npg.py:185-215). Output:
    * by-cols, `rank` (1-based), value column, `n`.
    *
    * Plan shape: one (by, value) hash aggregation reduces the input to
    * its distinct (group, value) pairs; the row_number window then ranks
    * only that REDUCED table — the corpus itself is shuffled once as
    * compact partial-count rows and never sorted. For groups whose
    * distinct-value cardinality is itself huge, the window's per-group
    * sort is the bound (spilling, one task per group); with an integral
    * value column the fully-bounded alternative is `Agg("topk")` over the
    * counts with the value as the id. NULL/NaN values are dropped like
    * missing labels. */
  def valueCounts(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      k: Int,
      as: String = "n"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(!df.columns.contains("rank"),
      "valueCounts emits a `rank` column; rename the input's")
    require(as != "rank" && as != valueCol && !by.contains(as),
      s"valueCounts output name '$as' collides with rank/value/group columns")
    val dt = df.schema(valueCol).dataType
    val keyCols = by.map(col)
    val counts = df
      .where(isValid(col(valueCol), dt))
      .groupBy(keyCols :+ col(valueCol): _*)
      .agg(count(lit(1)).as(as))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*)
      .orderBy(col(as).desc, col(valueCol).asc)
    counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(keyCols ++ Seq(col("rank"), col(valueCol), col(as)): _*)
  }

  /** Build a 1-column expected-groups DataFrame from literal labels
    * (reference expected_groups list form, core.py:2087-2107). */
  def expectedDf(spark: org.apache.spark.sql.SparkSession, name: String, values: Seq[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    require(values.nonEmpty, "expected-groups labels must be non-empty")
    require(values.forall(_.getClass == values.head.getClass),
      "expected-groups labels must all have the same type")
    val rows = values.map(v => org.apache.spark.sql.Row(v)).asJava
    val dt = values.head match {
      case _: String                => org.apache.spark.sql.types.StringType
      case _: Int                   => org.apache.spark.sql.types.IntegerType
      case _: Long                  => org.apache.spark.sql.types.LongType
      case _: Double                => org.apache.spark.sql.types.DoubleType
      case _: java.sql.Timestamp    => org.apache.spark.sql.types.TimestampType
      case other => throw new IllegalArgumentException(s"unsupported label type: $other")
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField(name, dt))))
  }
}
