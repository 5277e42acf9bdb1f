package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NanOps

/** Memory-safe EXACT quantiles — the scale path for the one reduction
  * whose registry form has an executor-memory bound.
  *
  * `Agg("quantile"...)` compiles to [[graft.expressions.ExactPercentile]],
  * an ObjectHashAggregate whose per-group buffer holds one 16-byte
  * (value, count) run per DISTINCT value in executor memory (primitive
  * sorted runs, not Spark's boxed `Percentile` map, with the same
  * results): exact and fast until one group's distinct-value count blows
  * the heap (a continuous column with billions of rows per group — the
  * 100 TB failure mode; the reference dodges it by being blockwise-only,
  * aggregations.py:532-533). This operator computes the identical
  * linear-interpolation quantiles as composed relational plans with no
  * unbounded in-memory structure, so it is the path for groups whose
  * distinct count is unbounded:
  *
  *   1. (keys, value) -> count: ordinary two-phase hash aggregation — the
  *      shuffle carries one row per DISTINCT value per group;
  *   2. per-key running count over the value-sorted distinct table:
  *      [[exactQuantile]] uses a window whose sort is a spilling external
  *      sort (WindowExec) — one task per group; [[exactQuantileSelect]]
  *      splits each group into value-range chunks and ranks only the
  *      chunks that cover a requested rank, so even a single giant
  *      group's ranking parallelizes;
  *   3. the two covering values per requested q are picked by rank-range
  *      predicates and one final tiny per-key aggregation applies
  *      Percentile's exact interpolation.
  *
  * Missing-value semantics: NaN/NULL values are skipped (the nan* form),
  * or propagated with `propagate = true` (numpy plain-variant). Both match
  * the registry bit-for-bit on every input (QuantilesSpec).
  */
object Quantiles {

  /** @param qs        quantiles in [0,1]; one output column per q when a
    *                   single q is given (named `as`), else an array column
    *                   like the registry's vector-q form
    * @param propagate  numpy plain-variant semantics: any NaN in a group
    *                   makes the group's result NaN (matches
    *                   `Agg("quantile")` bit-for-bit; default matches
    *                   `Agg("nanquantile")`). Propagating groups — and
    *                   all-NULL groups — stay present in the output, like
    *                   the registry's groupBy.
    */
  def exactQuantile(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      qs: Seq[Double],
      as: String = "q",
      propagate: Boolean = false): DataFrame = {
    validate(by, qs, valueCol)
    val c       = counts(df, by, valueCol, propagate)
    val keyCols = by.map(col)
    val v       = col(valueCol)
    val byVal = Window.partitionBy(keyCols: _*).orderBy(v)
    val total = Window.partitionBy(keyCols: _*)
    val t = c
      .withColumn("__cum", sum("__cnt").over(
        byVal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum("__cnt").over(total))
    finish(t, by, valueCol, qs, as, propagate)
  }

  /** [[exactQuantile]] by CHUNK SELECTION: identical results, but only
    * the value-range chunks that actually contain a target rank are ever
    * sorted — the classic distributed exact-selection refinement.
    *
    *   1. the same (keys, distinct value) count table;
    *   2. per-(key, chunk) totals + an exclusive chunk-prefix (tiny:
    *      ≤ `chunks` rows per key);
    *   3. the covering chunk of each needed rank (floor/ceil of every
    *      q·(n-1)) is found by a rank-interval join against the prefix —
    *      at most 2·|qs| chunks per key survive;
    *   4. only those chunks' rows are window-ranked (local rank + chunk
    *      prefix = exact global rank), picked, and interpolated.
    *
    * vs ranking EVERY chunk with a chunk carry: the sort volume drops
    * from all distinct values to the covered chunks (≈ 2·|qs|/chunks of
    * the data) — strictly less work at any scale, and each surviving
    * chunk ranks in its own task. The chunk key is one struct of the
    * grouping columns, so NULL-keyed groups join null-safely and survive
    * like in the windowed form. Results are bit-identical (QuantilesSpec
    * pins both forms).
    */
  /** @param dedup  true (default): rank over the (keys, DISTINCT value)
    *               count table — one full-data shuffle whose map-side
    *               combine collapses duplicate values, the safe shape for
    *               tie-heavy columns (a 99%-one-value column becomes one
    *               row instead of one covering chunk holding 99% of the
    *               data). false: rank raw rows — NO full-data shuffle at
    *               all (the shuffles carry partial aggregates and the
    *               ~2|qs|/chunks covering fraction only; the source is
    *               scanned three times, column-pruned), the faster shape
    *               for near-unique continuous columns. Bit-identical
    *               results (QuantilesSpec). */
  def exactQuantileSelect(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      qs: Seq[Double],
      as: String = "q",
      propagate: Boolean = false,
      chunks: Int = 32,
      dedup: Boolean = true): DataFrame = {
    validate(by, qs, valueCol)
    exactQuantileSelectTrusted(df, by, valueCol, qs, as, propagate, chunks, dedup)
  }

  /** [[exactQuantileSelect]] minus the user-facing __-prefix guard — for
    * internal callers ([[Binning.qcut]]) that pass their OWN reserved
    * internals (e.g. the `__g` constant group) as grouping columns and
    * enforce their own clash guards at their API boundary. */
  private[operators] def exactQuantileSelectTrusted(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      qs: Seq[Double],
      as: String = "q",
      propagate: Boolean = false,
      chunks: Int = 32,
      dedup: Boolean = true): DataFrame = {
    validateBasic(by, qs)
    require(chunks >= 1, s"chunks must be >= 1 (got $chunks)")
    val c       = if (dedup) counts(df, by, valueCol, propagate)
                  else rawCounts(df, by, valueCol, propagate)
    val keyCols = by.map(col)
    val v       = col(valueCol)
    val ck = c.withColumn("__k", struct(keyCols: _*))
    val rng = ck.groupBy(col("__k"))
      .agg(min(v).cast("double").as("__lo"), max(v).cast("double").as("__hi"),
        sum("__cnt").as("__n"), sum("__nan").as("__nan"))

    // group-wide value range -> uniform order-congruent chunk index
    // (value-derived, so deterministic under any partitioning; skewed
    // values fill chunks unevenly, which costs balance, never
    // correctness). NULL values (propagate's collapsed row) take chunk
    // 0: they sort below every value, matching the window form's
    // nulls-first order.
    val span = col("__hi") - col("__lo")
    val chunkCol = when(v.isNull || col("__lo").isNull || span <= 0.0, lit(0))
      .otherwise(least(lit(chunks - 1), greatest(lit(0),
        floor((v.cast("double") - col("__lo")) / span * chunks).cast("int"))))
    val withR = ck.join(rng, "__k").withColumn("__ch", chunkCol)

    // Per-group chunk histogram as ONE aggregation row: `chunks`
    // conditional sums that ride the ordinary partial/final hash
    // aggregation (map-side combined). The groupBy(k, ch) + exclusive-
    // prefix window + explode/join covering pipeline this replaces cost
    // 3-4 AQE stages of per-group metadata (~100 ms fixed each — most of
    // qcut's wall, r5). Prefix sums / totals / the covering test are
    // computed over the histogram ARRAY with per-element HOFs after a
    // posexplode — deliberately: the pure column-arithmetic form
    // (excl_i = c_0 + ... + c_{i-1} inlined per chunk per q-rank) is an
    // O(chunks^2 * |qs|) expression tree that took Catalyst + Janino
    // 20+ seconds to chew; the HOFs are interpreted but run once per
    // (group, chunk) METADATA row, never per data row.
    val histAggs = (0 until chunks).map(i =>
      sum(when(col("__ch") === i, col("__cnt")).otherwise(0L)).as(s"__c$i"))
    val hist = withR.groupBy(col("__k")).agg(histAggs.head, histAggs.tail: _*)
    val harr = array((0 until chunks).map(i => col(s"__c$i")): _*)
    val perChunk = hist.select(col("__k"), harr.as("__h"))
      .select(col("__k"), col("__h"),
        posexplode(col("__h")).as(Seq("__ch", "__ccnt")))
      .withColumn("__excl",
        coalesce(aggregate(slice(col("__h"), lit(1), col("__ch")),
          lit(0L), (a, x) => a + x), lit(0L)))
      .withColumn("__tot", aggregate(col("__h"), lit(0L), (a, x) => a + x))
    // a chunk survives iff it covers the floor or ceil of some q-rank —
    // the target ranks are a pure function of the group total
    val covered = qs.flatMap { q =>
      val pos = (col("__tot") - 1).cast("double") * q
      Seq(floor(pos).cast("long"), ceil(pos).cast("long"))
    }.map(r => r >= 0 && col("__excl") <= r && r < col("__excl") + col("__ccnt"))
      .reduce(_ || _)
    val relevant = perChunk.where(covered)
      .select(col("__k"), col("__ch"), col("__excl"))

    // rank only the surviving chunks: local running count + chunk prefix
    val filtered = withR.join(relevant, Seq("__k", "__ch"))
    val wv = Window.partitionBy(col("__k"), col("__ch")).orderBy(v.asc_nulls_first)
    val ranked = filtered
      .withColumn("__cum", col("__excl") +
        sum("__cnt").over(wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", col("__cum") - col("__cnt"))

    val pickAggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val pos = (col("__n") - 1).cast("double") * q
      Seq(
        min(when(col("__prev") <= floor(pos) && floor(pos) < col("__cum"), v)).as(s"__vlo$i"),
        min(when(col("__prev") <= ceil(pos) && ceil(pos) < col("__cum"), v)).as(s"__vhi$i"))
    }
    val picked = ranked.groupBy(col("__k")).agg(pickAggs.head, pickAggs.tail: _*)

    // keys whose rank set is empty (n=0: all-NaN / all-NULL propagate
    // groups) never reach `picked` — restore them from rng, whose totals
    // are authoritative, so the empty/NaN guards behave like the
    // windowed form's zero-count rows
    val finalT = rng.join(picked, Seq("__k"), "left")
    def interp(i: Int, q: Double): Column = {
      val pos = (col("__n") - 1).cast("double") * q
      val lo  = col(s"__vlo$i").cast("double")
      val hi  = col(s"__vhi$i").cast("double")
      val x = when(floor(pos) === ceil(pos), lo)
        .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
      if (propagate) when(col("__nan") > 0, lit(Double.NaN)).otherwise(x) else x
    }
    val empty = col("__n") === 0 && col("__nan") === 0
    val result =
      if (qs.size == 1) when(empty, lit(null).cast("double"))
        .otherwise(interp(0, qs.head)).as(as)
      else when(empty, lit(null).cast("array<double>"))
        .otherwise(array(qs.zipWithIndex.map { case (q, i) => interp(i, q) }: _*)).as(as)
    finalT.select(by.map(n => col(s"__k.$n").as(n)) :+ result: _*)
  }

  private def validateBasic(by: Seq[String], qs: Seq[Double]): Unit = {
    require(by.nonEmpty, "need at least one grouping column")
    require(qs.nonEmpty, "need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0), s"quantiles must be in [0,1]: $qs")
  }

  private def validate(by: Seq[String], qs: Seq[Double], valueCol: String): Unit = {
    validateBasic(by, qs)
    // The operators create "__"-prefixed internals (__cnt/__nan/__cum/__n/
    // __k/__ch/__r/__excl/__ccnt/__lo/__hi/__prev/__vlo<i>/__vhi<i>, plus
    // scanChunked's __chunk/__carry/__jk on the chunked path). Enumerated
    // lists kept going stale (ADVICE r4: a `by` named __n produced an
    // opaque ambiguous-reference error instead of this message), so the
    // contract is the prefix itself.
    val clash = (by :+ valueCol).filter(_.startsWith("__"))
    require(clash.isEmpty,
      s"quantile operators reserve the __ column-name prefix for internals; rename ${clash.mkString(", ")} in the input")
  }

  /** (keys, distinct value) -> (__cnt valid rows, __nan NaN rows).
    * Propagate keeps one NULL-valued row per group (all its NaN/NULL
    * originals collapsed, __cnt = 0) so the group survives with its NaN
    * count (0 for non-float dtypes, which cannot hold a NaN — the group
    * still stays present, with a NULL result); it sorts first and never
    * covers a rank. */
  /** Distinct-value histogram — the EXACT mergeable quantile STATE
    * behind [[AggState.stateQuantile]]: (keys, value, cnt) with
    * NULL/NaN rows dropped (nanquantile semantics). Merging re-sums
    * `cnt` per (keys, value); [[quantileOfCounts]] then finalizes
    * bit-identically to [[exactQuantile]] over the raw union, because
    * the ranked distinct table it feeds [[finish]] is the SAME table
    * exactQuantile builds from raw rows. */
  private[operators] def countsState(
      df: DataFrame, by: Seq[String], valueCol: String): DataFrame = {
    validate(by, Seq(0.5), valueCol)
    counts(df, by, valueCol, propagate = false)
      .select(by.map(col) :+ col(valueCol) :+ col("__cnt").as("cnt"): _*)
  }

  /** [[exactQuantile]]'s ranking + Percentile-exact interpolation over
    * a (keys, value, cnt) histogram instead of raw rows. Re-aggregates
    * per (keys, value) first, so merged AND freshly-unioned state
    * tables are both accepted. */
  private[operators] def quantileOfCounts(
      c: DataFrame, by: Seq[String], valueCol: String,
      qs: Seq[Double], as: String = "q"): DataFrame = {
    validate(by, qs, valueCol)
    val keyCols = by.map(col)
    val v       = col(valueCol)
    val h = c.groupBy(keyCols :+ v: _*).agg(sum(col("cnt")).as("__cnt"))
      .withColumn("__nan", lit(0L))
    val byVal = Window.partitionBy(keyCols: _*).orderBy(v)
    val total = Window.partitionBy(keyCols: _*)
    val t = h
      .withColumn("__cum", sum("__cnt").over(
        byVal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum("__cnt").over(total))
    finish(t, by, valueCol, qs, as, propagate = false)
  }

  /** Weight-histogram twin of [[countsState]] — the EXACT mergeable
    * WEIGHTED-quantile state behind [[AggState.stateQuantileWeighted]]:
    * (keys, value, w) with w = the exact decimal(18,6)-grid weight sum
    * per distinct value (NULL/NaN values and NULL/non-positive weights
    * take no part — the [[weightedQuantile]] contract). Collapsing a
    * tie run to one summed row preserves the inverted-CDF selection
    * exactly: the running weight at each run's END is unchanged, and
    * the selection min over a run returns the same value either way
    * (the tie argument in [[weightedQuantile]]'s doc). */
  private[operators] def weightedCountsState(
      df: DataFrame, by: Seq[String], valueCol: String, weightCol: String): DataFrame = {
    validate(by, Seq(0.5), valueCol)
    val v = NanOps.nanToNull(col(valueCol), df.schema(valueCol).dataType)
      .cast("double")
    val wRaw = NanOps.nanToNull(col(weightCol), df.schema(weightCol).dataType)
      .cast("double")
    val w = when(v.isNotNull && wRaw > 0.0, wRaw.cast("decimal(18,6)"))
    df.select(by.map(col) :+ v.as(valueCol) :+ w.as("__w"): _*)
      .where(col("__w").isNotNull)
      .groupBy(by.map(col) :+ col(valueCol): _*)
      .agg(sum(col("__w")).cast(org.apache.spark.sql.types.DecimalType(38, 6)).as("w"))
  }

  /** [[weightedQuantile]]'s exact-decimal inverted-CDF selection over a
    * (keys, value, w) weight histogram. Re-aggregates per (keys, value)
    * first, so merged AND unioned states are both accepted. */
  private[operators] def weightedQuantileOfCounts(
      c: DataFrame, by: Seq[String], valueCol: String,
      qs: Seq[(Double, String)]): DataFrame = {
    require(by.nonEmpty && qs.nonEmpty, "need grouping columns and quantiles")
    qs.foreach { case (q, _) =>
      require(q >= 0.0 && q <= 1.0 && (q * 1e6).round.toDouble == q * 1e6,
        s"quantile must sit on the 1e-6 grid in [0, 1] (got $q)")
    }
    val keyCols = by.map(col)
    val h = c.groupBy(keyCols :+ col(valueCol): _*)
      .agg(sum(col("w")).cast(org.apache.spark.sql.types.DecimalType(38, 6)).as("__ww"))
    val byVal = Window.partitionBy(keyCols: _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val total = Window.partitionBy(keyCols: _*)
    val staged = h
      .withColumn("__cumw", sum(col("__ww")).over(byVal))
      .withColumn("__totw", sum(col("__ww")).over(total))
    val aggExprs = qs.map { case (q, name) =>
      val target = col("__totw") * lit(BigDecimal(q).setScale(6))
      min(when(col("__cumw") >= target, col(valueCol))).as(name)
    }
    staged.groupBy(keyCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** Raw-row twin of [[counts]] for `dedup = false`: same
    * (keys, value, __cnt, __nan) shape with one row PER INPUT ROW
    * (__cnt 1, or 0 for propagate's kept NULL/NaN rows) — no shuffle at
    * all, at the cost of re-scanning the (column-pruned) source per plan
    * branch and ranking duplicates individually. Equivalent downstream by
    * construction: rng sums match, 0-count rows never advance the running
    * rank and never cover a pick interval. */
  private def rawCounts(
      df: DataFrame, by: Seq[String], valueCol: String, propagate: Boolean): DataFrame = {
    val dt      = df.schema(valueCol).dataType
    val keyCols = by.map(col)
    val v       = col(valueCol)
    if (propagate)
      df.select(keyCols :+ NanOps.nanToNull(v, dt).as(valueCol) :+
        when(NanOps.isValid(v, dt), 1L).otherwise(0L).as("__cnt") :+
        (if (NanOps.isFloaty(dt)) when(isnan(v), 1L).otherwise(0L) else lit(0L))
          .as("__nan"): _*)
    else
      df.where(NanOps.isValid(v, dt))
        .select(keyCols :+ v :+ lit(1L).as("__cnt") :+ lit(0L).as("__nan"): _*)
  }

  private def counts(
      df: DataFrame, by: Seq[String], valueCol: String, propagate: Boolean): DataFrame = {
    val dt      = df.schema(valueCol).dataType
    val keyCols = by.map(col)
    val v       = col(valueCol)
    if (propagate)
      df.groupBy(keyCols :+ NanOps.nanToNull(v, dt).as(valueCol): _*)
        .agg(count(when(NanOps.isValid(v, dt), 1)).as("__cnt"),
             (if (NanOps.isFloaty(dt)) count(when(isnan(v), 1)) else lit(0L))
               .as("__nan"))
    else
      df.where(NanOps.isValid(v, dt))
        .groupBy(keyCols :+ v: _*)
        .agg(count(lit(1)).as("__cnt"), lit(0L).as("__nan"))
  }

  /** From the ranked distinct table (columns: keys, value, __cnt, __cum,
    * __n, __nan) to the final per-key quantile row. */
  private def finish(
      t: DataFrame, by: Seq[String], valueCol: String, qs: Seq[Double],
      as: String, propagate: Boolean): DataFrame = {
    val keyCols = by.map(col)
    val v       = col(valueCol)
    val ranked  = t.withColumn("__prev", col("__cum") - col("__cnt"))

    // Percentile's rank: pos = q*(n-1) zero-based; the values covering
    // floor(pos) and ceil(pos) interpolate. A value row covers ranks
    // [__prev, __cum) — the predicates select exactly the two (or one)
    // covering rows; min() collapses the single selected value per side.
    val aggExprs = qs.zipWithIndex.flatMap { case (q, i) =>
      val pos = (col("__n") - 1).cast("double") * q
      Seq(
        min(when(col("__prev") <= floor(pos) && floor(pos) < col("__cum"), v)).as(s"__vlo$i"),
        min(when(col("__prev") <= ceil(pos) && ceil(pos) < col("__cum"), v)).as(s"__vhi$i"))
    } ++ Seq(max(col("__n")).as("__n"), max(col("__nan")).as("__nan"))
    val picked = ranked.groupBy(keyCols: _*).agg(aggExprs.head, aggExprs.tail: _*)

    // Percentile's exact FP order (Percentile.getPercentile): the weighted
    // two-sided form, NOT lo + (hi-lo)*frac — they differ by an ulp.
    def interp(i: Int, q: Double): Column = {
      val pos = (col("__n") - 1).cast("double") * q
      val lo  = col(s"__vlo$i").cast("double")
      val hi  = col(s"__vhi$i").cast("double")
      val x = when(floor(pos) === ceil(pos), lo)
        .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
      if (propagate) when(col("__nan") > 0, lit(Double.NaN)).otherwise(x) else x
    }
    // A group with zero valid values and zero NaNs (all-NULL; propagate
    // mode only) is NULL, matching Percentile-over-empty in the registry.
    val empty = col("__n") === 0 && col("__nan") === 0
    val result =
      if (qs.size == 1) when(empty, lit(null).cast("double"))
        .otherwise(interp(0, qs.head)).as(as)
      else when(empty, lit(null).cast("array<double>"))
        .otherwise(array(qs.zipWithIndex.map { case (q, i) => interp(i, q) }: _*)).as(as)
    picked.select(keyCols :+ result: _*)
  }

  /** EXACT weighted quantile per group — the importance-weighted corpus
    * statistic ([[TextAnalysis.dsirScores]] weights, mixture sampling
    * rates): the inverted-CDF (lower) definition, `result(q)` = the
    * smallest value whose cumulative weight reaches `q` of the group's
    * total weight. Rows with NULL/NaN value or NULL/non-positive weight
    * take no part; a group with no contributing row reports NULL.
    *
    * Exactness contract: weights are quantized to decimal(18,6) and
    * every comparison (running weight vs q x total) runs on the exact
    * decimal grid — `qs` must therefore sit on the 1e-6 grid too (the
    * tf-idf/DSIR quantization convention), so the selection threshold
    * can never land within FP noise of a cumulative sum and the result
    * is engine-independent by construction, not by tolerance.
    *
    * Scale shape: one shuffle by group with a value-ordered running
    * decimal sum (spilling WindowExec, the [[exactQuantile]] topology
    * minus the distinct-collapse), then ONE hash aggregation computing
    * every requested quantile as a conditional min — no per-group
    * buffering, no second pass per q. Ties in value are safe under any
    * tie order: equal values share the tie-run's final cumulative
    * weight, and the conditional min over the run returns the same
    * value either way.
    *
    * @param qs (quantile, output-column-name) pairs; q in [0, 1] on the
    *           1e-6 grid. q=0 gives the group minimum, q=1 the maximum.
    */
  def weightedQuantile(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      weightCol: String,
      qs: Seq[(Double, String)]): DataFrame = {
    require(by.nonEmpty, "weightedQuantile needs at least one grouping column")
    require(qs.nonEmpty, "weightedQuantile needs at least one quantile")
    qs.foreach { case (q, _) =>
      require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1] (got $q)")
      require((q * 1e6).round.toDouble == q * 1e6,
        s"quantile must sit on the 1e-6 grid for exact decimal selection (got $q)")
    }
    val clash = df.columns.toSeq.intersect(qs.map(_._2))
    require(clash.isEmpty,
      s"weightedQuantile output columns already exist: ${clash.mkString(", ")}")
    val keyCols = by.map(col)
    val v = NanOps.nanToNull(col(valueCol), df.schema(valueCol).dataType)
      .cast("double")
    val wRaw = NanOps.nanToNull(col(weightCol), df.schema(weightCol).dataType)
      .cast("double")
    val w = when(v.isNotNull && wRaw > 0.0, wRaw.cast("decimal(18,6)"))
    val byVal = Window.partitionBy(keyCols: _*).orderBy(col("__wv"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val total = Window.partitionBy(keyCols: _*)
    val staged = df
      .withColumn("__wv", v)
      .withColumn("__ww", w)
      .withColumn("__cumw", sum(col("__ww")).over(byVal))
      .withColumn("__totw", sum(col("__ww")).over(total))
    val aggExprs = qs.map { case (q, name) =>
      val target = col("__totw") * lit(BigDecimal(q).setScale(6))
      min(when(col("__ww").isNotNull && col("__cumw") >= target, col("__wv")))
        .as(name)
    }
    staged.groupBy(keyCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
  }
}
