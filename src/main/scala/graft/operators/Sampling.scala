package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic sampling, splitting, and mixture balancing — the
  * selection layer of a training-data curation pipeline (an LLM-pipeline
  * addition beyond the reference's surface, like Dedup/Similarity; the
  * reference, flox, has no sampling operators).
  *
  * Everything is keyed HASH selection, never `rand()`:
  *   - deterministic and reproducible: the same row is kept/assigned
  *     identically across runs, engines, partitionings, and retries
  *     (speculative task re-execution with `rand()` silently duplicates
  *     or drops rows — a classic large-job correctness bug);
  *   - content-keyed when the key is a text fingerprint: duplicate
  *     documents land in the same split, so a near-dup pair can never
  *     straddle train/test (decontamination-safe splitting);
  *   - SQL-replayable: the hash is the same rolling-fingerprint /
  *     affine-mod-prime arithmetic the DuckDB oracle replays exactly in
  *     int64 (unlike xxhash64), so every operator here has a full oracle.
  *
  * Scale design (100 TB): selection is a per-row filter expression —
  * embarrassingly parallel, no shuffle, no driver action. Only
  * [[sampleToMixture]] adds a (tiny) per-source count aggregation and two
  * broadcast joins of source-cardinality tables.
  */
object Sampling {

  /** Shared modulus with [[TextAnalysis.fingerprintFast]]: a prime ~2^30, so
    * every affine/quadratic intermediate below stays < 2^63. */
  val M = 1000000007L

  /** Fixed per-salt coefficients (A, B, C) for the quadratic scatter,
    * derived from a splitmix64-style mix (public-domain finalizer
    * constants — same construction as [[Dedup.replayableSalt]], distinct
    * stream). A is kept below 2^33 so h*A stays under 2^63 for h < M;
    * B, C below 2^30. */
  def saltTriple(salt: Int): (Long, Long, Long) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    ((mix(3L * salt) & 0x1ffffffffL) + (1L << 27),
      mix(3L * salt + 1) & 0x3fffffffL,
      mix(3L * salt + 2) & 0x3fffffffL)
  }

  /** Uniform bucket in [0, M) from a key hash: the random quadratic
    * u = (h^2 A + h B + C) mod M. Quadratic, not affine, so consecutive
    * integer keys (raw ids) scatter instead of marching an arithmetic
    * progression; 3-wise independent over the field. Every intermediate
    * < 2^63: h < M ~ 2^30, so h^2 < 2^60 and (h^2 mod M)*A < 2^63. */
  def bucket(keyHash: Column, salt: Int): Column = {
    val (a, b, c) = saltTriple(salt)
    val h = pmod(keyHash, lit(M))
    (((h * h) % M) * lit(a) % M + (h * lit(b)) % M + lit(c)) % M
  }

  /** The same scatter as [[bucket]], emitted as oracle SQL over an int64
    * expression — keeps the two sides in one place so they cannot drift. */
  def bucketSql(hExpr: String, salt: Int): String = {
    val (a, b, c) = saltTriple(salt)
    val h = s"(($hExpr) % $M + $M) % $M"
    s"((($h * $h % $M) * $a % $M) + ($h * $b % $M) + $c) % $M"
  }

  /** Content key for text: the SQL-replayable rolling fingerprint
    * (requires [[graft.expressions.GraftFunctions.register]]). */
  def textKey(text: Column): Column = TextAnalysis.fingerprintFast(text)

  /** Key from a numeric id (scattered by the quadratic in [[bucket]]). */
  def idKey(id: Column): Column = id.cast("long")

  /** Deterministic Bernoulli sample: keeps a row iff its key's bucket
    * falls below floor(rate*M) — a plan-time literal, so the selection is
    * a pure per-row filter. Change `salt` for an independent resample. */
  def hashSample(df: DataFrame, key: Column, rate: Double, salt: Int = 0): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1] (got $rate)")
    df.where(bucket(key, salt) < lit(math.floor(rate * M).toLong))
  }

  /** Deterministic train/val/test assignment: appends `as` = the split
    * name whose cumulative-weight interval contains the key's bucket.
    * Weights need not sum to 1: the remainder is assigned NULL ("sampled
    * out" — drop it for a subsampled split). Keyed by content
    * ([[textKey]]) this is decontamination-safe: byte-identical documents
    * always co-locate in one split.
    */
  def assignSplit(
      df: DataFrame,
      key: Column,
      splits: Seq[(String, Double)],
      as: String = "split",
      salt: Int = 0): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 > 0), s"split weights must be > 0: $splits")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"split weights must sum to <= 1 (got $total)")
    // plan-time integer thresholds; a total of ~1 snaps the last edge to M
    // exactly so float shortfall can't leak rows into the NULL remainder
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * M).toLong)
    val edges = if (math.abs(total - 1.0) <= 1e-9) cums.init :+ M else cums
    val u = bucket(key, salt)
    val expr = splits.zip(edges).tail.foldLeft(
      when(u < lit(edges.head), lit(splits.head._1))) {
      case (acc, ((name, _), hi)) => acc.when(u < lit(hi), lit(name))
    }
    df.withColumn(as, expr)
  }

  /** Oracle-side thresholds for [[assignSplit]] (same snapping rule). */
  def splitEdges(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    val total = splits.map(_._2).sum
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * M).toLong)
    val edges = if (math.abs(total - 1.0) <= 1e-9) cums.init :+ M else cums
    splits.map(_._1).zip(edges)
  }

  /** Importance-weighted deterministic sampling: keeps each row with its
    * OWN probability `rate` (a per-row Column in [0,1] — e.g. a quality
    * score), under the same keyed-hash regime as [[hashSample]]:
    * reproducible, retry-safe, content-keyed co-location. Values outside
    * [0,1] are clamped; a NULL rate (or NULL key) drops the row, like
    * any SQL filter. Still a pure per-row filter — zero shuffle. */
  def hashSampleWeighted(df: DataFrame, key: Column, rate: Column, salt: Int = 0): DataFrame = {
    val r = least(greatest(rate.cast("double"), lit(0.0)), lit(1.0))
    df.where(bucket(key, salt) < floor(r * lit(M.toDouble)).cast("long"))
  }

  /** Deterministic stratified sampling: EXACTLY min(k, group size) rows
    * per group, the k whose keys scatter lowest — a uniform-without-
    * replacement sample per stratum under the same keyed-hash regime as
    * [[hashSample]] (reproducible across runs/partitionings/retries;
    * content-keyed sampling keeps duplicate documents together).
    *
    * Plan shape: the scatter is a per-row expression; the per-group
    * k-smallest selection is the bounded `bottomk` heap aggregation
    * ([[graft.expressions.TopKByScore]] — the shuffle carries at most k
    * (u, pos) pairs per partition per group, never rows), then a
    * broadcast semi join-back ([[GroupByReduce.topKRows]]). The big table
    * is scanned twice but never shuffled; ties in the scatter value break
    * by pos, so the selection is total-order deterministic.
    *
    * @param pos unique row identity (the join-back key; same contract as
    *            [[GroupByReduce.topKRows]])
    */
  def sampleKPerGroup(
      df: DataFrame,
      by: Seq[String],
      k: Int,
      key: Column,
      pos: Column,
      salt: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(!df.columns.contains("__u"),
      "sampleKPerGroup reserves column name __u; rename it in the input")
    // u < M ~ 2^30 is exactly representable as double (the heap's score type)
    val withU = df.withColumn("__u", bucket(key, salt).cast("double"))
    GroupByReduce.topKRows(withU, by, "__u", k, pos, largest = false)
      .drop("__u")
  }

  /** Exact WEIGHTED sampling without replacement, k per group — the
    * Efraimidis-Spirakis A-ES scheme ("Weighted random sampling with a
    * reservoir", IPL 2006) under the keyed-hash regime: each row draws
    * u ∈ (0,1) from its key's scatter and scores ln(u)/w; the k LARGEST
    * scores are exactly a weighted without-replacement sample (first
    * pick lands on row i with probability w_i/Σw, then recursively on
    * the remainder). rand()-free like every sampler here — reproducible
    * across runs, retries and partitionings, and content-keyed sampling
    * keeps duplicate documents together. The training-data use: "pick
    * the k docs per source, biased by quality/length" without a global
    * sort or a second pass to normalize weights.
    *
    * Determinism contract: u = (scatter + 0.5)/M (never 0 or 1), the
    * score is ln-quantized to the decimal(18,6) grid (the
    * [[graft.operators.TextAnalysis.lnQ]] oracle-parity convention),
    * and ties break by pos (TopKByScore's score DESC, id ASC order) —
    * a total order both engines replay. Rows with NULL or non-positive
    * weight never sample (the A-ES w→0 limit); NULL keys drop.
    *
    * Plan shape = [[sampleKPerGroup]]'s: per-row scatter expression +
    * the k-bounded topk heap aggregation + broadcast semi join-back —
    * the corpus is scanned, never shuffled or sorted. */
  def weightedSampleK(
      df: DataFrame,
      by: Seq[String],
      k: Int,
      key: Column,
      weight: Column,
      pos: Column,
      salt: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(!df.columns.contains("__es"),
      "weightedSampleK reserves column name __es; rename it in the input")
    val u = (bucket(key, salt).cast("double") + lit(0.5)) / lit(M.toDouble)
    val w = weight.cast("double")
    val withS = df.where(w.isNotNull && w > 0.0)
      .withColumn("__es", round(log(u) / w, 6))
    GroupByReduce.topKRows(withS, by, "__es", k, pos, largest = true)
      .drop("__es")
  }

  /** Downsample to a target source mixture, exactly and deterministically.
    *
    * `target` gives integer mixture weights per source (e.g. web:7,
    * code:2, books:1). The result keeps every row of the binding source m
    * (the one with the smallest n_s/t_s — already at or below its target
    * share) and hash-downsamples every other source to rate
    * t_s·n_m / (t_m·n_s), so kept counts approach the largest achievable
    * corpus with the target proportions (downsample-only: no source is
    * repeated). Sources absent from `target` are dropped; a target source
    * absent from the data makes the mixture infeasible and the result
    * empty (its count is 0, so the binding ratio is 0).
    *
    * All thresholds are exact integer cross-multiplications — keep iff
    * u·(t_m·n_s) < M·(t_s·n_m) — carried in decimal(38,0) (exact to 10^38;
    * u·t·n ~ 10^9·10^6·10^13 sits far below), so the oracle replays the
    * selection bit-for-bit in 128-bit SQL integers. The binding source is
    * chosen by double-compare of n_s/t_s with source-name tie-break (both
    * engines compute identical IEEE doubles).
    *
    * Plan shape: one per-source count aggregation (tiny), a broadcast
    * join of the (source, t, n) table, a broadcast of the 1-row binding
    * pair, then a per-row filter — the corpus itself is never shuffled.
    */
  def sampleToMixture(
      df: DataFrame,
      sourceCol: String,
      target: Seq[(String, Long)],
      key: Column,
      salt: Int = 0): DataFrame = {
    require(target.nonEmpty, "need at least one target source")
    require(target.forall(_._2 > 0), s"target weights must be > 0: $target")
    require(target.map(_._1).distinct.size == target.size, s"duplicate target sources: $target")
    val reserved = Seq("__t", "__n", "__tm", "__nm")
    val clashes  = df.columns.toSeq.intersect(reserved)
    require(clashes.isEmpty,
      s"sampleToMixture reserves column names ${reserved.mkString("/")}; rename ${clashes.mkString(", ")} in the input")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = target.toDF(sourceCol, "__t")
    val cnt = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val rates = tgt.join(cnt, Seq(sourceCol), "left").na.fill(0L, Seq("__n"))
    val binding = rates.agg(
      min_by(struct(col("__t").as("__tm"), col("__n").as("__nm")),
        struct((col("__n").cast("double") / col("__t")).as("r"), col(sourceCol))).as("__m"))
      .select(col("__m.__tm").as("__tm"), col("__m.__nm").as("__nm"))
    val dec = DecimalType(38, 0)
    val u = bucket(key, salt)
    df.join(broadcast(rates), Seq(sourceCol))
      .crossJoin(broadcast(binding))
      .where(u.cast(dec) * col("__tm").cast(dec) * col("__n").cast(dec) <
        lit(M).cast(dec) * col("__t").cast(dec) * col("__nm").cast(dec))
      .drop("__t", "__n", "__tm", "__nm")
  }

  /** Temperature UP-sampling to a mixture — the other half of
    * [[sampleToMixture]] (which only discards): every row of a listed
    * source is replicated `rate` times, with the fractional part
    * resolved per row by the keyed-hash scatter (rate 2.7 → every row
    * twice, the content-chosen 70% a third time). The standard
    * pretraining recipe where high-quality sources repeat for N epochs
    * within one shuffled corpus.
    *
    * Rates are MICRO-units (2_700_000 = 2.7): whole copies =
    * micros / 10^6 and the extra-copy threshold
    * (micros % 10^6) · M / 10^6 are exact integer arithmetic — no FP
    * anywhere, any engine replays the copy count per row. Rows of
    * sources missing from `rates` are DROPPED (the mixture defines the
    * output); rate 0 drops its source too. Appends `copy_idx`
    * (0-based) so downstream shuffles ([[Layout.shardAssign]] keyed by
    * (content, copy_idx)) spread the copies; determinism is retry-safe
    * like every Sampling operator. */
  def upsampleToMixture(
      df: DataFrame,
      sourceCol: String,
      ratesMicro: Seq[(String, Long)],
      key: Column,
      salt: Int = 0): DataFrame = {
    require(ratesMicro.nonEmpty, "need at least one source rate")
    require(ratesMicro.forall(_._2 >= 0), s"rates must be >= 0: $ratesMicro")
    require(ratesMicro.map(_._1).distinct.size == ratesMicro.size,
      s"duplicate sources: $ratesMicro")
    val reserved = Seq("__rm", "copy_idx")
    val clashes = df.columns.toSeq.intersect(reserved)
    require(clashes.isEmpty,
      s"upsampleToMixture reserves ${reserved.mkString("/")}; rename ${clashes.mkString(", ")} in the input")
    val spark = df.sparkSession
    import spark.implicits._
    val rates = ratesMicro.toDF(sourceCol, "__rm")
    val whole = (col("__rm") / 1000000L).cast("long")
    // extra-copy test cross-multiplied so everything stays in exact
    // longs: bucket/M < rem/10^6  <=>  bucket * 10^6 < rem * M
    // (both sides < 2^60 — no overflow, no FP)
    val copies = whole +
      when(bucket(key, salt) * 1000000L < (col("__rm") % 1000000L) * M, 1L)
        .otherwise(0L)
    df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("copy_idx",
        explode(when(copies > 0, sequence(lit(0L), copies - 1))
          .otherwise(array().cast("array<long>"))))
      .drop("__rm")
  }

  /** Deterministic TOKEN-budget mixture sampling — the data-mixing
    * allocator: keep rows so each source contributes ≈
    * budget · w_s / Σw TOKENS (not rows — documents differ in length,
    * and a pretraining budget is a token budget). Per source the keep
    * rule is the [[sampleToMixture]] exact cross-multiplication,
    * u · T_s · Σw < M · budget · w_s over the keyed-hash scatter, with
    * T_s = the source's total tokens — all integer products carried as
    * decimal(38,0), so there is no FP anywhere and any engine replays
    * the kept set row for row. A source whose fair share exceeds its
    * inventory (budget·w_s/Σw ≥ T_s) keeps everything — the inequality
    * caps itself, no branch. Sources absent from `weights` are DROPPED
    * (the mixture defines the output); rows with NULL token counts are
    * absent (unaccountable against a budget). Keyed by content
    * ([[textKey]]) the selection is decontamination-safe and
    * retry-safe like every Sampling operator.
    *
    * Expected kept tokens per source is exact in expectation; the
    * realized sum concentrates like any Bernoulli total (CLT band —
    * pinned loosely in SamplingSpec). Plan: one token-sum aggregation
    * + one broadcast rates join + a per-row predicate. */
  def tokenBudgetSample(
      df: DataFrame,
      sourceCol: String,
      tokenCol: String,
      budget: Long,
      weights: Seq[(String, Long)],
      key: Column,
      salt: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be > 0 (got $budget)")
    require(weights.nonEmpty, "need at least one weighted source")
    require(weights.forall(_._2 > 0), s"weights must be > 0: $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate weighted sources: $weights")
    val reserved = Seq("__w", "__ts")
    val clashes = df.columns.toSeq.intersect(reserved)
    require(clashes.isEmpty,
      s"tokenBudgetSample reserves ${reserved.mkString("/")}; rename ${clashes.mkString(", ")} in the input")
    val spark = df.sparkSession
    import spark.implicits._
    val wsum = weights.map(_._2).sum
    val wdf = weights.toDF(sourceCol, "__w")
    val toks = df.where(col(tokenCol).isNotNull)
    val ts = toks.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("long").as("__ts"))
    val rates = wdf.join(ts, Seq(sourceCol))
    val dec = DecimalType(38, 0)
    toks.join(broadcast(rates), Seq(sourceCol))
      .where(bucket(key, salt).cast(dec) * col("__ts").cast(dec) * lit(wsum).cast(dec) <
        lit(M).cast(dec) * lit(budget).cast(dec) * col("__w").cast(dec))
      .drop("__w", "__ts")
  }
}
