package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FeatureScaling

/** Pins the r14 power-sum codegen fix: the 128-bit limb aggregate
  * ([[graft.expressions.SumProduct128]]) must be BIT-identical to the
  * decimal power sums it replaced — `sum(dx*dy).cast(double)` on
  * decimal(18,s) casts — across nulls, NaNs, negatives, ties, and
  * adversarial magnitudes, and the rewired covCorrBy/corrMatrixBy/
  * linregBy must reproduce the pre-r14 decimal forms bit for bit. */
class SumProduct128Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def bits(d: java.lang.Double): java.lang.Long =
    if (d == null) null
    else java.lang.Long.valueOf(java.lang.Double.doubleToRawLongBits(d.doubleValue()))

  /** The pre-r14 decimal power-sum aggregation, kept verbatim as the
    * reference semantics. */
  private def decimalSums(df: DataFrame, by: Seq[String], xCol: String,
      yCol: String, exactScale: Int): DataFrame = {
    val xn0 = graft.functions.NanOps.nanToNull(col(xCol), df.schema(xCol).dataType)
    val yn0 = graft.functions.NanOps.nanToNull(col(yCol), df.schema(yCol).dataType)
    val xn = when(yn0.isNotNull, xn0)
    val yn = when(xn0.isNotNull, yn0)
    val dx = xn.cast(DecimalType(18, exactScale))
    val dy = yn.cast(DecimalType(18, exactScale))
    df.groupBy(by.map(col): _*).agg(
      count(xn).as("n_pairs"),
      sum(dx).cast(DoubleType).as("sx"),
      sum(dy).cast(DoubleType).as("sy"),
      sum(dx * dy).cast(DoubleType).as("sxy"),
      sum(dx * dx).cast(DoubleType).as("sxx"),
      sum(dy * dy).cast(DoubleType).as("syy"))
  }

  /** The r14 limb form over the same masked casts. */
  private def limbSums(df: DataFrame, by: Seq[String], xCol: String,
      yCol: String, exactScale: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    def unscaled(c: Column) =
      call_function(graft.expressions.GraftFunctions.Unscaled, c)
    def s128(a: Column, b: Column, sc: Int) =
      call_function(graft.expressions.GraftFunctions.Sum128, a, b, lit(sc))
    val xn0 = graft.functions.NanOps.nanToNull(col(xCol), df.schema(xCol).dataType)
    val yn0 = graft.functions.NanOps.nanToNull(col(yCol), df.schema(yCol).dataType)
    val xn = when(yn0.isNotNull, xn0)
    val yn = when(xn0.isNotNull, yn0)
    val dx = xn.cast(DecimalType(18, exactScale))
    val dy = yn.cast(DecimalType(18, exactScale))
    val proj = df.select(by.map(col) ++ Seq(xn.as("__xn"),
      unscaled(dx).as("__lx"), unscaled(dy).as("__ly")): _*)
    proj.groupBy(by.map(col): _*).agg(
      count(col("__xn")).as("n_pairs"),
      s128(col("__lx"), lit(1L), exactScale).as("sx"),
      s128(col("__ly"), lit(1L), exactScale).as("sy"),
      s128(col("__lx"), col("__ly"), 2 * exactScale).as("sxy"),
      s128(col("__lx"), col("__lx"), 2 * exactScale).as("sxx"),
      s128(col("__ly"), col("__ly"), 2 * exactScale).as("syy"))
  }

  private def assertBitIdentical(a: DataFrame, b: DataFrame, keys: Seq[String]): Unit = {
    val cols = a.columns.toSeq
    assert(cols == b.columns.toSeq)
    def canon(df: DataFrame) = df.collect()
      .map(r => cols.map { c =>
        r.get(cols.indexOf(c)) match {
          case d: java.lang.Double => bits(d)
          case v => v
        }
      })
      .sortBy(_.mkString("|"))
    val (ca, cb) = (canon(a), canon(b))
    assert(ca.length == cb.length, s"row counts differ: ${ca.length} vs ${cb.length}")
    ca.zip(cb).foreach { case (ra, rb) => assert(ra == rb, s"row differs: $ra vs $rb") }
  }

  private def mixedFrame(): DataFrame = {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 7}"
      val x: java.lang.Double =
        if (i % 11 == 0) null
        else if (i % 13 == 0) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 2e6)
      val y: java.lang.Double =
        if (i % 17 == 0) null
        else if (i % 19 == 0) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 1e4)
      (g, x, y)
    } ++ Seq( // adversarial: exact .5 rounding boundaries, zeros, big values
      ("edge", java.lang.Double.valueOf(0.005), java.lang.Double.valueOf(-0.005)),
      ("edge", java.lang.Double.valueOf(1.005), java.lang.Double.valueOf(2.675)),
      ("edge", java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(-0.0)),
      ("edge", java.lang.Double.valueOf(1.23456789e12), java.lang.Double.valueOf(-9.87654321e11)),
      ("allnull", null, null),
      ("onenull", java.lang.Double.valueOf(3.25), null))
    rows.toDF("g", "x", "y")
  }

  test("limb sums are bit-identical to the decimal power sums (scale 2)") {
    val df = mixedFrame()
    assertBitIdentical(
      decimalSums(df, Seq("g"), "x", "y", 2),
      limbSums(df, Seq("g"), "x", "y", 2), Seq("g"))
  }

  test("limb sums are bit-identical to the decimal power sums (scale 1, rank-like half-integers)") {
    val rows = (1 to 2000).map { i =>
      ("r" + (i % 3), java.lang.Double.valueOf((i % 50) + (if (i % 2 == 0) 0.5 else 0.0)),
        java.lang.Double.valueOf(((i * 7) % 31) + (if (i % 4 == 0) 0.5 else 0.0)))
    }
    val df = rows.toDF("g", "x", "y")
    assertBitIdentical(
      decimalSums(df, Seq("g"), "x", "y", 1),
      limbSums(df, Seq("g"), "x", "y", 1), Seq("g"))
  }

  test("covCorrBy reproduces the pre-r14 decimal reference bit for bit") {
    val df = mixedFrame()
    val ref = {
      val agg = decimalSums(df, Seq("g"), "x", "y", 2)
      val n = col("n_pairs").cast(DoubleType)
      val denom = n - lit(1.0)
      val cov = when(col("n_pairs") > 1,
        (col("sxy") - col("sx") * col("sy") / n) / denom)
      val vx = when(col("n_pairs") > 1,
        greatest((col("sxx") - col("sx") * col("sx") / n) / denom, lit(0.0)))
      val vy = when(col("n_pairs") > 1,
        greatest((col("syy") - col("sy") * col("sy") / n) / denom, lit(0.0)))
      agg.withColumn("cov", cov)
        .withColumn("corr", when(vx > 0 && vy > 0, cov / sqrt(vx * vy)))
        .select("g", "n_pairs", "cov", "corr")
    }
    val got = FeatureScaling.covCorrBy(df, Seq("g"), "x", "y")
      .select("g", "n_pairs", "cov", "corr")
    assertBitIdentical(ref, got, Seq("g"))
  }

  test("corrMatrixBy and linregBy stay well-formed on the limb path") {
    val df = mixedFrame().withColumn("z", col("x") * 0.5 + col("y"))
    val m = FeatureScaling.corrMatrixBy(df, Seq("g"), Seq("x", "y", "z"))
    assert(m.columns.toSeq ==
      Seq("g", "col_x", "col_y", "n_pairs", "cov", "corr"))
    assert(m.where(col("g") =!= "allnull").count() > 0)
    // all-null group: three pairs, all with NULL cov/corr and n_pairs 0
    val an = m.where(col("g") === "allnull").collect()
    assert(an.length == 3 && an.forall(r => r.isNullAt(4) && r.isNullAt(5)))
    val lr = FeatureScaling.linregBy(df, Seq("g"), "x", "y")
    assert(lr.columns.toSeq ==
      Seq("g", "n_pairs", "slope", "intercept", "r2"))
    // slope/intercept deterministic vs the closed-form reference on a
    // clean group
    val clean = Seq(("c", 1.0, 2.0), ("c", 2.0, 4.0), ("c", 3.0, 6.5))
      .toDF("g", "x", "y")
    val r = FeatureScaling.linregBy(clean, Seq("g"), "x", "y").head()
    assert(math.abs(r.getDouble(2) - 2.25) < 1e-9) // slope
  }

  test("128-bit carry propagation: sums crossing the long boundary") {
    // values whose squares are ~8.1e32 at scale 4 — two rows overflow a
    // single long accumulator (9.2e18) by 14 orders; the limb sum must
    // agree with the decimal sum exactly
    val big = Seq.fill(64)(("b", 9.0e14, 9.0e14)).toDF("g", "x", "y")
    assertBitIdentical(
      decimalSums(big, Seq("g"), "x", "y", 2),
      limbSums(big, Seq("g"), "x", "y", 2), Seq("g"))
    // alternating signs: the low limb wraps both directions
    val alt = (1 to 100).map(i =>
      ("a", if (i % 2 == 0) 9.0e14 else -9.0e14, 9.0e14)).toDF("g", "x", "y")
    assertBitIdentical(
      decimalSums(alt, Seq("g"), "x", "y", 2),
      limbSums(alt, Seq("g"), "x", "y", 2), Seq("g"))
  }

  /** A session where the decimal(38) reference sums return NULL on
    * overflow instead of raising (ANSI off), as the decimal forms the limb
    * kernel replaced did. */
  private def nonAnsi() = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    s
  }

  test("limb sums past 10^38 or 2^127 give NULL, as the decimal(38) sum did") {
    // unscaled 9.4e17 at scale 2: each square is 8.8e35 (scale 4).
    // below: 100 rows, 8.8e37 — past 2^126, under 10^38, exact;
    // edge: 120 rows, 1.06e38 — under 2^127, past 10^38;
    // wrap / neg: 200 rows, ±1.77e38 — past 2^127 (the limbs wrap),
    // spread over 4 partitions so the overflow can come in a merge
    val x = 9.4e15
    val rows = Seq.fill(100)(("below", x, x)) ++ Seq.fill(120)(("edge", x, x)) ++
      Seq.fill(200)(("wrap", x, x)) ++ Seq.fill(200)(("neg", -x, x))
    for (ansi <- Seq(false, true)) {
      val s = nonAnsi()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val df = s.createDataFrame(rows).toDF("g", "x", "y").repartition(4)
      val got = limbSums(df, Seq("g"), "x", "y", 2).collect()
        .map(r => r.getString(0) -> r.get(4)).toMap // sxy
      assert(got("below") != null && got("edge") == null && got("wrap") == null &&
        got("neg") == null, s"ansi=$ansi: $got")
    }
    val s = nonAnsi()
    val df = s.createDataFrame(rows).toDF("g", "x", "y").repartition(4)
    assertBitIdentical(decimalSums(df, Seq("g"), "x", "y", 2),
      limbSums(df, Seq("g"), "x", "y", 2), Seq("g"))
  }

  test("covCorrBy over epoch-microsecond decimals whose sum of squares passes 2^127") {
    // |x| ~ 1.7e15 (epoch micros) at scale 2: unscaled 1.7e17, squares
    // 2.9e34, and 14,000 of them (4.0e38) pass even 2^128. Without the
    // overflow slot the limb sum wrapped to a plausible positive 0.6e38,
    // the signs cancel in Σx, and corr came out finite.
    val s = nonAnsi()
    val rows = (0 until 14000).map(i =>
      ("t", (if (i % 2 == 0) 1.0 else -1.0) * (1.7e15 + i * 1000.0), (i % 10).toDouble))
    val df = s.createDataFrame(rows).toDF("g", "x", "y").repartition(3)
    val got = FeatureScaling.covCorrBy(df, Seq("g"), "x", "y").select("g", "n_pairs", "cov", "corr")
    val r = got.head()
    assert(r.getLong(1) == 14000L && !r.isNullAt(2) && r.isNullAt(3), r.toString)
    val ref = {
      val agg = decimalSums(df, Seq("g"), "x", "y", 2)
      val n = col("n_pairs").cast(DoubleType)
      val denom = n - lit(1.0)
      val cov = when(col("n_pairs") > 1, (col("sxy") - col("sx") * col("sy") / n) / denom)
      val vx = when(col("n_pairs") > 1,
        greatest((col("sxx") - col("sx") * col("sx") / n) / denom, lit(0.0)))
      val vy = when(col("n_pairs") > 1,
        greatest((col("syy") - col("sy") * col("sy") / n) / denom, lit(0.0)))
      agg.withColumn("cov", cov)
        .withColumn("corr", when(vx > 0 && vy > 0, cov / sqrt(vx * vy)))
        .select("g", "n_pairs", "cov", "corr")
    }
    assertBitIdentical(ref, got, Seq("g"))
  }

  test("graft_sum128 rejects a non-long argument at analysis") {
    graft.expressions.GraftFunctions.register(spark)
    val df = Seq(("a", 1L)).toDF("s", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(call_function(graft.expressions.GraftFunctions.Sum128,
        col("s"), col("v"), lit(0))).collect()
    }
    assert(e.getMessage.contains("graft_sum128"), e.getMessage)
  }

  test("graft_sum128 rejects a non-integer scale literal") {
    graft.expressions.GraftFunctions.register(spark)
    val df = Seq((1L, 2L)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      df.agg(call_function(graft.expressions.GraftFunctions.Sum128,
        col("x"), col("y"), lit(2.5))).collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }
}
