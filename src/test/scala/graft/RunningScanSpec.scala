package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NanOps._
import graft.operators.GroupByScan

/** The scans on [[graft.expressions.RunningAggregate]] equal the
  * `WindowExec` forms they replace, bit for bit: every scan func over
  * NULL, NaN and ±0.0 values, NULL keys, tied positions, 1 and 7 input
  * partitions, descending sort keys, ffill/bfill limits, the interpreted
  * path, and sum/product overflow with ANSI on and off. */
class RunningScanSpec extends AnyFunSuite {

  /** The scan forms before the kernel, verbatim: one window expression. */
  private def windowForm(func: String, v: Column, dt: DataType, by: Seq[String],
      orderBy: Seq[Column], exactScale: Option[Int], limit: Int): Column = {
    val vn = nanToNull(v, dt)
    val base = Window.partitionBy(by.map(col): _*).orderBy(orderBy: _*)
    val fwd: WindowSpec = base.rowsBetween(
      if (limit > 0) -limit.toLong else Window.unboundedPreceding, Window.currentRow)
    val bwd: WindowSpec = base.rowsBetween(
      Window.currentRow, if (limit > 0) limit.toLong else Window.unboundedFollowing)
    def sumE(c: Column, w: WindowSpec): Column = exactScale match {
      case Some(s) => sum(c.cast(DecimalType(18, s))).over(w).cast("double")
      case None => sum(c).over(w)
    }
    func match {
      case "nancumsum"  => coalesce(sumE(vn, fwd), lit(0).cast("double"))
      case "cumsum"     => sumE(v, fwd)
      case "cumprod"    => product(v).over(fwd)
      case "nancumprod" => coalesce(product(vn).over(fwd), lit(1).cast("double"))
      case "ffill" => last(vn, ignoreNulls = true).over(fwd)
      case "bfill" => first(vn, ignoreNulls = true).over(bwd)
      case "cumcount" => count(vn).over(fwd)
      case "cummax" => max(v).over(fwd)
      case "cummin" =>
        if (isFloaty(dt))
          when(max(isnan(v).cast("int")).over(fwd) === 1, lit(Double.NaN)).otherwise(min(v).over(fwd))
        else min(v).over(fwd)
      case "nancummax" => max(vn).over(fwd)
      case "nancummin" => min(vn).over(fwd)
    }
  }

  private val doubles: Seq[java.lang.Double] = Seq(1.5, null, -0.0, 0.0, Double.NaN, 4.0, -2.25,
    null, 8.0, Double.NaN, -0.0, 3.0, 1e300, 1e300, -7.5)

  /** 240 rows over keys 0..4 and NULL; positions tie in pairs (rows 2j
    * and 2j + 1 share key, position and values), `id` is unique. */
  private def events(s: SparkSession, parts: Int): DataFrame = {
    val rows = (0 until 240).map { i =>
      val j = i / 2
      val key: java.lang.Integer = if (j % 9 == 4) null else Int.box(j % 5)
      (i.toLong, key, (j * 7 % 61).toLong, doubles(j % doubles.size), (j % 13 - 6).toLong)
    }
    s.createDataFrame(rows).toDF("id", "k", "pos", "v", "l")
      .withColumn("d", (col("l") * 1.25).cast("decimal(18,2)"))
      .withColumn("s", when(col("v").isNull, lit(null)).otherwise(col("l").cast("string")))
      .repartition(parts)
  }

  /** Output rows as a sorted multiset of (key, pos, value, result):
    * tied rows carry equal values, so the multiset does not depend on
    * which of two tied rows the sort put first. Doubles as raw bits. */
  private def multiset(df: DataFrame, value: String, out: String): Seq[String] =
    df.select(col("k"), col("pos"), col(value).cast("string"), col(out)).collect().toSeq.map { r =>
      val o = r.get(3) match {
        case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
        case x => String.valueOf(x)
      }
      s"${r.get(0)}|${r.get(1)}|${r.get(2)}|$o"
    }.sorted

  private def check(df: DataFrame, value: String, func: String, orderBy: Seq[Column] = Seq(col("pos")),
      exactScale: Option[Int] = None, limit: Int = 0): Unit = {
    val dt = df.schema(value).dataType
    val got = GroupByScan.scan(df, value, Seq("k"), func, orderBy, "r", exactScale, limit)
    val want = df.withColumn("r", windowForm(func, col(value), dt, Seq("k"), orderBy, exactScale, limit))
    assert(got.schema("r") == want.schema("r"), s"$func($value)")
    assert(multiset(got, value, "r") == multiset(want, value, "r"), s"$func($value) limit=$limit")
  }

  private val spark = TestSpark.spark

  for (parts <- Seq(1, 7))
    test(s"every scan func on doubles == its window form ($parts partition(s))") {
      val df = events(spark, parts)
      GroupByScan.scanNames.foreach(f => check(df, "v", f))
      // the exact engine casts to decimal(18,2): finite values only
      // (nancumsum maps NaN to NULL before the cast)
      val small = df.where(col("v").isNull || isnan(col("v")) || abs(col("v")) < 1e6)
      check(small, "v", "nancumsum", exactScale = Some(2))
      check(small.where(!isnan(col("v"))), "v", "cumsum", exactScale = Some(2))
    }

  test("longs, decimals and strings == the window forms") {
    val df = events(spark, 3)
    Seq("cumsum", "nancumsum", "cumprod", "cumcount", "cummax", "cummin", "ffill", "bfill")
      .foreach(f => check(df, "l", f))
    Seq("cumsum", "nancumsum", "cummax", "nancummin", "ffill").foreach(f => check(df, "d", f))
    check(df, "d", "cumsum", exactScale = Some(2))
    Seq("ffill", "bfill", "cummax", "cummin", "cumcount").foreach(f => check(df, "s", f))
  }

  test("ffill/bfill limits and descending sort keys == the window forms") {
    val df = events(spark, 5)
    for (limit <- Seq(1, 2, 5); f <- Seq("ffill", "bfill")) {
      check(df, "v", f, limit = limit)
      check(df, "s", f, limit = limit)
    }
    for (f <- Seq("bfill", "ffill", "cumsum")) {
      check(df, "v", f, orderBy = Seq(col("pos").desc))
      check(df, "v", f, orderBy = Seq(col("pos").asc_nulls_last, col("l").desc_nulls_first))
    }
  }

  test("the interpreted path gives the generated path's results") {
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.wholeStage", "false")
    strict.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val df = events(strict, 4)
    val cg = events(spark, 4)
    for (f <- GroupByScan.scanNames) {
      def run(d: DataFrame) = multiset(GroupByScan.scan(d, "v", Seq("k"), f, Seq(col("pos")), "r"), "v", "r")
      assert(run(df) == run(cg), f)
    }
    check(df, "s", "ffill", limit = 2)
  }

  test("sum and product overflow behave as the window forms, ANSI on and off") {
    for (ansi <- Seq(true, false)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val big = s.createDataFrame((0 until 6).map(i => (i % 2, i.toLong, 4000000000000000000L, 1e200)))
        .toDF("k", "pos", "l", "x")
        .withColumn("d", lit("90000000000000000000000000000000000000").cast("decimal(38,0)"))
      def outcome(f: => DataFrame): Either[String, Seq[String]] =
        try Right(multiset(f, "l", "r")) catch {
          case e: Exception => Left(Option(e.getCause).getOrElse(e).getClass.getSimpleName)
        }
      for ((value, func) <- Seq("l" -> "cumsum", "d" -> "cumsum", "x" -> "cumprod", "l" -> "cumprod")) {
        val dt = big.schema(value).dataType
        val got = outcome(GroupByScan.scan(big, value, Seq("k"), func, Seq(col("pos")), "r"))
        val want = outcome(big.withColumn("r",
          windowForm(func, col(value), dt, Seq("k"), Seq(col("pos")), None, 0)))
        assert(got == want, s"ansi=$ansi $func($value)")
        if (value == "l" && func == "cumsum") assert(got.isLeft == ansi, s"ansi=$ansi: $got")
        if (value == "d" && !ansi) assert(got.exists(_.exists(_.endsWith("|null"))), s"$got")
      }
    }
  }
}
