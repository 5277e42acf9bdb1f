package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Agg, Binning, FeatureScaling, GroupByReduce, GroupByScan}

/** The aggregation-kernel workload: a seeded long table reduced by the
  * engine's operators, cell by cell. Axes follow the in-memory
  * aggregation sweep (group cardinality, key skew, input order, value
  * type, function class).
  *
  * Columns of the generated table (every value a pure function of `id`
  * and the seed, so one seed always gives the same table):
  *   - `pos`    unique row position (the positional tie-break)
  *   - `k600`   uniform key, 600 groups
  *   - `kz`     Zipf(s = 1.1) key over 10^4 groups
  *   - `k1m`    uniform key over 10^6 groups
  *   - `v_dbl`  double in [0, 1000), a multiple of 1/64: every power
  *              sum over it is exact, so var/std/mean are independent of
  *              the summation order (the oracle-parity convention of
  *              SparkEntry) and tie-breaks (top-k, argmax) get real ties
  *   - `v_gap`  `v_dbl` with ~1/8 of the rows NULL (forward-fill input)
  *   - `v_long` long in [0, 10^6)
  *   - `v_small` long in [0, 100) (mode input: real ties)
  *   - `v_dec`, `v_dec2` decimal(18,2) in [0, 10^6)
  */
object AggKernel {
  val Rows: Long = 1L << 17
  val Zipf = 1.1
  val ZipfKeys = 10000
  val Edges: Seq[Double] = Seq(0.0, 50.0, 200.0, 500.0, 900.0, 1000.0)

  final case class Inputs(random: DataFrame, sorted: DataFrame)

  /** Uniform double in [0, 1) from a salted 64-bit hash of the row id. */
  private def u(seed: Long, salt: Int): Column =
    (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1L << 53)).cast("double")
      / lit((1L << 53).toDouble))

  private def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  def generate(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
    // inverse-CDF draw of the continuous power law on [1, N + 1): a
    // discrete Zipf(s) over N keys up to a discretisation error
    val a = 1.0 - Zipf
    val zipfKey = floor(pow((pow(lit(ZipfKeys + 1.0), a) - 1.0) * u(seed, 2) + 1.0,
      lit(1.0 / a))).cast("long")
    spark.range(0L, Rows, 1L, parts).select(
      col("id").as("pos"),
      h(seed, 1, 600L).as("k600"),
      least(zipfKey, lit(ZipfKeys.toLong)).as("kz"),
      h(seed, 3, 1000000L).as("k1m"),
      (h(seed, 4, 64000L) / 64.0).as("v_dbl"),
      when(h(seed, 5, 8L) =!= 0L, h(seed, 4, 64000L) / 64.0).as("v_gap"),
      h(seed, 6, 1000000L).as("v_long"),
      h(seed, 7, 100L).as("v_small"),
      (h(seed, 8, 100000000L).cast("decimal(18,0)") / 100).cast("decimal(18,2)").as("v_dec"),
      (h(seed, 9, 100000000L).cast("decimal(18,0)") / 100).cast("decimal(18,2)").as("v_dec2"))
  }

  /** Random-order and key-sorted copies, materialised as local
    * checkpoints: their blocks live outside the SQL cache, so the
    * per-call isolation (which clears that cache) keeps them. */
  def prepare(spark: SparkSession, seed: Long, parts: Int): Inputs = {
    val base = generate(spark, seed, parts)
    // generation order is `pos` order, and every key is a hash of `pos`,
    // so this copy holds each key's rows in random order
    val random = base.localCheckpoint(eager = true)
    val sorted = base.repartitionByRange(parts, col("k1m")).sortWithinPartitions("k1m")
      .localCheckpoint(eager = true)
    Inputs(random, sorted)
  }

  private def red(df: DataFrame, by: String, aggs: Agg*): DataFrame =
    GroupByReduce.reduce(df, Seq(by), aggs, pos = Some(col("pos")), sort = false)

  private def topk(df: DataFrame): DataFrame =
    red(df, "k600", Agg("topk", "v_dbl", "top", k = 5))
      .selectExpr("k600", "posexplode(top) as (rk0, t)")
      .select(col("k600"), (col("rk0") + 1).cast("long").as("rank"),
        col("t.id").as("pos"), col("t.score").as("v"))

  /** A scan's output has one row per input row; collecting it would time
    * the driver's row conversion, not the scan. The cell returns a
    * fingerprint per group instead: rows, non-null outputs, the sum of
    * the output and its sum over every seventh position (a value moved
    * to another row changes it). Both sums are exact: the cumsum (a
    * double holding whole cents) is summed as decimal(38,2), the ffill
    * output is a multiple of 1/64. */
  private def fingerprint(scanned: DataFrame, out: Column): DataFrame =
    scanned.groupBy("kz").agg(count(lit(1)).as("n"), count(out).as("n_v"),
      sum(out).as("s"), sum(when(col("pos") % 7 === 0, out)).as("s7"))

  private val cents = col("cs").cast("decimal(38,2)")

  private type Cell = (SparkSession, Inputs) => DataFrame
  private def cell(f: DataFrame => DataFrame): Cell = (_, in) => f(in.random)

  /** Cell name -> the frame it evaluates. */
  val Cells: Seq[(String, Cell)] = Seq(
    "sum_k600" -> cell(t => red(t, "k600", Agg("sum", "v_long", "s"), Agg("count", "v_long", "n"))),
    "sum_k1m" -> cell(t => red(t, "k1m", Agg("sum", "v_long", "s"), Agg("count", "v_long", "n"))),
    "sum_k1m_sorted" -> ((_, in) =>
      red(in.sorted, "k1m", Agg("sum", "v_long", "s"), Agg("count", "v_long", "n"))),
    "var_zipf" -> cell(t => red(t, "kz", Agg("mean", "v_dbl", "m"),
      Agg("var", "v_dbl", "var", ddof = 1), Agg("std", "v_dbl", "sd", ddof = 1))),
    "mean_dec_k10k" -> cell(t => red(t, "kz", Agg("mean", "v_dec", "m", exactScale = Some(2)))),
    "median_k600" -> cell(t => red(t, "k600", Agg("median", "v_dbl", "med"))),
    "quantile_zipf" -> cell(t =>
      red(t, "kz", Agg("quantile", "v_dbl", "qs", q = Seq(0.25, 0.5, 0.9)))
        .select(col("kz"), element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"), element_at(col("qs"), 3).as("q90"))),
    "mode_k10k" -> cell(t => red(t, "kz", Agg("mode", "v_small", "mo"))),
    "topk_k600" -> cell(t => topk(t)),
    "argmax_k10k" -> cell(t => red(t, "kz", Agg("argmax", "v_dbl", "am"))),
    "cumsum_zipf" -> cell(t => fingerprint(GroupByScan.scan(t, "v_dec", Seq("kz"), "cumsum",
      Seq(col("pos")), "cs", exactScale = Some(2)), cents)),
    "cumsum_chunked_zipf" -> cell(t => fingerprint(GroupByScan.scanChunked(t, "v_dec",
      Seq("kz"), "cumsum", Seq(col("pos")), floor(col("pos") / 65536), "cs",
      exactScale = Some(2)), cents)),
    "ffill_zipf" -> cell(t => fingerprint(GroupByScan.scan(t, "v_gap", Seq("kz"), "ffill",
      Seq(col("pos")), "f"), col("f"))),
    "bins_expected" -> ((spark, in) => GroupByReduce.reduce(
      in.random.withColumn("b", Binning.binIndex(col("v_dbl"), Edges)), Seq("b"),
      Seq(Agg("count", "v_long", "n", fill = Some(0L)),
        Agg("sum", "v_long", "s", fill = Some(0L))),
      expected = Some(Binning.binsDf(spark, "b", Edges)), sort = false)),
    "covcorr_dec_k600" -> cell(t =>
      FeatureScaling.covCorrBy(t, Seq("k600"), "v_dec", "v_dec2")))

  val CellNames: Seq[String] = Cells.map(_._1)
}
