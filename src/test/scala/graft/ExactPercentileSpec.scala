package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{ExactPercentile, GraftFunctions, PercentileRuns}
import graft.operators.{Agg, GroupByReduce}

/** Bit-for-bit parity of the sort-based [[ExactPercentile]] kernel with
  * Spark's builtin `percentile` / `median` on the same frames: every input
  * type the kernel takes (long past 2^53 and decimal(18, 6) where distinct
  * values round to one double), heavy duplicates past the compaction size,
  * single-row / empty / all-NULL groups, q of 0, 1, 0.5 and a vector with a
  * repeated q, 1 against 7 input partitions, and ObjectHashAggregate's
  * sort-based fallback forced at one group.
  *
  * The one case pinned by value and not by bits is a zero result from a
  * group holding both -0.0 and 0.0: Spark orders the two as equal and keeps
  * them in hash-map iteration order, so the sign of its zero is not
  * defined; the kernel sorts -0.0 first. That case asserts `== 0.0`.
  */
class ExactPercentileSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  GraftFunctions.register(spark)

  private val Qs = Seq(0.0, 0.1, 0.25, 0.3, 0.5, 0.5, 0.7, 0.9, 1.0)

  private def kernel(v: Column, q: Column): Column =
    call_function(GraftFunctions.Percentile, v, q)

  /** Group results of `agg` over `df` (columns k, v), as k -> bit patterns. */
  private def run(df: DataFrame, agg: Column => Column): Map[Any, Seq[Long]] =
    df.groupBy("k").agg(agg(col("v")).as("p")).collect().map { r =>
      val bits = r.get(1) match {
        case null => Nil
        case d: Double => Seq(java.lang.Double.doubleToLongBits(d))
        case s: scala.collection.Seq[_] =>
          s.map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double])).toSeq
      }
      r.get(0) -> bits
    }.toMap

  /** Kernel == builtin, bit for bit, for scalar q 0 / 0.5 / 1 and the
    * vector Qs, at 1 and 7 input partitions. Returns the vector results. */
  private def assertParity(df: DataFrame, what: String): Map[Any, Seq[Long]] = {
    val vec = array(Qs.map(lit): _*)
    val byParts = Seq(1, 7).map { parts =>
      val d = df.repartition(parts)
      for (q <- Seq(lit(0.0), lit(0.5), lit(1.0), vec)) {
        val got  = run(d, kernel(_, q))
        val want = run(d, percentile(_, q))
        assert(got == want, s"$what, $parts partitions, q=$q: kernel $got != percentile $want")
      }
      val med = run(d, kernel(_, lit(0.5)))
      assert(med == run(d, median(_)), s"$what, $parts partitions: != median")
      run(d, kernel(_, vec))
    }
    assert(byParts(0) == byParts(1), s"$what: 1 partition != 7 partitions")
    byParts(0)
  }

  /** The frame reaches the collapsed-key case: a kernel that cast values
    * to double before buffering (so two values sharing a double became one
    * key and took the equal-key shortcut) would not match the builtin. */
  private def assertCastFirstDiffers(df: DataFrame, what: String): Unit = {
    val vec = array(Qs.map(lit): _*)
    assert(run(df, v => percentile(v.cast(DoubleType), vec)) != run(df, kernel(_, vec)),
      s"$what: no group interpolates between two values that round to one double")
  }

  /** 13 groups of 20 + 3g rows over 20 + g consecutive values `at(0..)`:
    * each group's q vector straddles neighbouring distinct values. */
  private def collapsing[T](at: Int => T): Seq[(Int, Option[T])] =
    for (g <- 0 until 13; j <- 0 until 20 + 3 * g) yield (g, Some(at((j * 7) % (20 + g))))

  /** Edge groups shared by every typed frame: a single row, one group of
    * only NULLs, and a group with a NULL among values. */
  private def edges[T](one: T, two: T): Seq[(Int, Option[T])] =
    Seq((100, Some(one)), (101, None), (101, None),
      (102, Some(one)), (102, None), (102, Some(two)))

  test("int, float and double: kernel == percentile / median, bit for bit") {
    val ints = (0 until 3000).map(i => (i % 7, Some((i * 7919) % 263 - 100))) ++ edges(5, -3)
    assertParity(ints.toDF("k", "v"), "int")
    val floats = (0 until 3000).map(i => (i % 7, Some(((i * 7919) % 263).toFloat / 7f))) ++
      edges(1.5f, -0.1f)
    assertParity(floats.toDF("k", "v"), "float")
    val doubles = (0 until 3000).map(i => (i % 7, Some(math.sin(i.toDouble) * 1e3))) ++
      edges(0.3, 1e-300)
    assertParity(doubles.toDF("k", "v"), "double")
  }

  test("long past 2^53: distinct longs that round to one double still interpolate like Spark") {
    // a double with a full 53-bit mantissa and ulp 256: base +- 30 share it
    val base = ((1L << 52) + 0xB3A7F1C2D4E6FL) * 256
    val rows = collapsing(g => base - 30 + g) ++ edges(base, base + 1)
    val df = rows.toDF("k", "v")
    assertParity(df, "long")
    assertCastFirstDiffers(df, "long")
  }

  test("decimal(18,6) on the kernel, decimal(38,18) on the registry, both == percentile") {
    val dec18 = DecimalType(18, 6)
    val base = BigDecimal("123456789012.345678") // unscaled > 2^53: neighbours share a double
    val rows = collapsing(g => base + BigDecimal(g - 10, 6))
    val df18 = rows.toDF("k", "v").select(col("k"), col("v").cast(dec18).as("v"))
    assertParity(df18, "decimal(18,6)")
    assertCastFirstDiffers(df18, "decimal(18,6)")

    val wide = BigDecimal("12345678901234567890.123456789012345678")
    val df38 = (0 until 300).map(i => (i % 3, wide + BigDecimal(i % 41, 18))).toDF("k", "v")
      .select(col("k"), col("v").cast(DecimalType(38, 18)).as("v"))
    val ex = intercept[AnalysisException](df38.groupBy("k").agg(kernel(col("v"), lit(0.5))).collect())
    assert(ex.getMessage.contains("graft_percentile"))
    val reg = GroupByReduce.reduce(df38, Seq("k"),
      Seq(Agg("nanmedian", "v", "p"), Agg("nanquantile", "v", "qs", q = Qs)))
      .orderBy("k").collect().toSeq
    val want = df38.groupBy("k")
      .agg(median(col("v")).as("p"), percentile(col("v"), array(Qs.map(lit): _*)).as("qs"))
      .orderBy("k").collect().toSeq
    assert(reg == want)
  }

  test("heavy duplicates and many distinct values past the compaction size") {
    val n = 3 * PercentileRuns.CompactAt
    val rows =
      (0 until 4 * n).map(i => (0, Some((i % 3).toDouble))) ++      // 3 values, 12k rows
        (0 until n).map(i => (1, Some(((i * 7919) % n).toDouble))) ++ // every value distinct
        (0 until 2 * n).map(i => (2, Some(((i * 31) % (n / 2)).toDouble))) // each value twice
    assertParity(rows.toDF("k", "v"), "duplicates")
  }

  test("ObjectHashAggregate's sort-based fallback gives the same bits") {
    val rows = (0 until 2000).map(i => (i % 11, Some(((i * 7919) % 97).toDouble / 3))) ++
      edges(2.0, 4.0)
    val df = rows.toDF("k", "v")
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try assertParity(df, "sort-based fallback")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("empty input, registry median and the sign of a zero result") {
    val empty = Seq.empty[(Int, Option[Double])].toDF("k", "v")
    assert(run(empty, kernel(_, lit(0.5))).isEmpty)
    assert(empty.agg(kernel(col("v"), lit(0.5))).head().isNullAt(0))
    // registry funcs compile to the kernel: same bits as the builtin
    val rows = (0 until 500).map(i => (i % 4, Some(math.cos(i.toDouble)))) ++ edges(1.0, 2.0)
    val df = rows.toDF("k", "v")
    val reg = GroupByReduce.reduce(df, Seq("k"),
      Seq(Agg("nanmedian", "v", "p"), Agg("nanquantile", "v", "qs", q = Qs)))
    assert(reg.queryExecution.executedPlan.toString.contains("graft_percentile"))
    def bits(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => r.get(0) -> (
      Option(r.get(1)).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double])),
      Option(r.getSeq[Double](2)).map(_.map(java.lang.Double.doubleToLongBits)))).toMap
    assert(bits(reg.collect()) == bits(df.groupBy("k")
      .agg(median(col("v")), percentile(col("v"), array(Qs.map(lit): _*))).collect()))
    // SQL surface: decimal literals for q, scalar and array, as with percentile
    df.createOrReplaceTempView("pct_sql")
    val sql = spark.sql("SELECT k, graft_percentile(v, 0.3), graft_percentile(v, array(0.3, 1)), " +
      "percentile(v, 0.3), percentile(v, array(0.3, 1)) FROM pct_sql GROUP BY k").collect()
    sql.foreach(r => assert(r.get(1) == r.get(3) && r.get(2) == r.get(4), s"SQL: $r"))
    // -0.0 and 0.0 in one group: both engines return a zero, sign undefined
    // on the builtin's side (see the class doc)
    val zeros = Seq((0, -0.0), (0, 0.0), (0, 0.0), (0, -0.0), (0, 1.0)).toDF("k", "v")
    for (q <- Seq(0.0, 0.3, 0.5)) {
      val k = zeros.agg(kernel(col("v"), lit(q))).head().getDouble(0)
      val b = zeros.agg(percentile(col("v"), lit(q))).head().getDouble(0)
      assert(k == 0.0 && b == 0.0, s"q=$q: kernel $k, percentile $b")
    }
  }

  test("memory bound: 200,000 rows of 3 distinct values serialize as 3 runs") {
    val p = ExactPercentile(BoundReference(0, DoubleType, nullable = true), Seq(0.5),
      returnArray = false)
    val buf = p.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    var i = 0
    while (i < 200000) {
      row.update(0, (i % 3).toDouble)
      p.update(buf, row)
      i += 1
      // append area within 2 * CompactAt, runs within the 3 distinct values
      if (i % 10000 == 0)
        assert(buf.footprint <= 2 * PercentileRuns.CompactAt + 2 * 3, s"footprint at row $i")
    }
    val bytes = p.serialize(buf)
    assert(bytes.length == 4 + 16 * 3, s"serialized ${bytes.length} bytes")
    val back = p.deserialize(bytes)
    assert(back.nRuns == 3)
    assert(back.counts.take(3).toSeq == Seq(66667L, 66667L, 66666L))
    assert(p.eval(back) == 1.0)
    // with every value distinct the footprint follows the run count
    val q = ExactPercentile(BoundReference(0, LongType, nullable = true), Seq(0.5, 0.9),
      returnArray = true)
    val b2 = q.createAggregationBuffer()
    val r2 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    (0L until 20000L).foreach { x => r2.update(0, (x * 7919) % 20000); q.update(b2, r2) }
    assert(q.serialize(b2).length == 4 + 16 * 20000)
    assert(b2.footprint <= 2 * 20000 + 2 * math.max(PercentileRuns.CompactAt, 20000))
    val Seq(p50, p90) = q.eval(b2).asInstanceOf[ArrayData].toDoubleArray().toSeq
    assert(p50 == 9999.5 && math.abs(p90 - 17999.1) < 1e-9)
  }
}
