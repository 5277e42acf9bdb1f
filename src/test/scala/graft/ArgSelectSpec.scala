package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NanOps._
import graft.operators.{Agg, GroupByReduce}

/** The order-dependent reductions on [[graft.expressions.ArgSelect]]
  * equal the Spark `min_by`/`max_by` forms they replace, bit for bit:
  * first/last (and their nan forms), the arg-extrema and mode's pick, over NULL, NaN and
  * ±0.0 values, tied positions, NULL positions and empty groups, on 1
  * and 7 input partitions — and the plan holds no `SortAggregate`. */
class ArgSelectSpec extends AnyFunSuite {
  import TestSpark.spark

  private val funcs = Seq("first", "last", "nanfirst", "nanlast",
    "argmin", "argmax", "nanargmin", "nanargmax")

  /** The registry forms before the kernel, verbatim. */
  private def before(func: String, v: Column, dt: DataType, p: Column): Column = {
    val vn = nanToNull(v, dt)
    val valid = isValid(v, dt)
    func match {
      case "first"    => min_by(v, struct(p, v))
      case "last"     => max_by(v, struct(p, v))
      case "nanfirst" => min_by(vn, when(valid, struct(p, vn)))
      case "nanlast"  => max_by(vn, when(valid, struct(p, vn)))
      case "argmin" =>
        if (isFloaty(dt)) coalesce(min(when(isnan(v), p)), min_by(p, when(valid, struct(v, p))))
        else min_by(p, struct(v, p))
      case "argmax" =>
        if (isFloaty(dt)) coalesce(min(when(isnan(v), p)), max_by(p, when(valid, struct(v, p * lit(-1)))))
        else max_by(p, struct(v, p * lit(-1)))
      case "nanargmin" => min_by(p, when(valid, struct(v, p)))
      case "nanargmax" => max_by(p, when(valid, struct(v, p * lit(-1))))
    }
  }

  // group g: 0 mixed values with ties on position, 1 all NULL, 2 one row,
  // 3 NaN-bearing, 4 ±0.0 and NULL positions, 5 all NaN
  private def r(g: Int, v: java.lang.Double, p: java.lang.Long) = (g, v, p)
  private val rows = Seq(
    r(0, 3.0, 5L), r(0, -1.0, 5L), r(0, 7.0, 2L), r(0, 7.0, 9L), r(0, null, 1L), r(0, -1.0, 8L),
    r(1, null, 3L), r(1, null, 4L),
    r(2, 42.0, 6L),
    r(3, 1.0, 2L), r(3, Double.NaN, 4L), r(3, 5.0, 3L), r(3, Double.NaN, 1L), r(3, 5.0, 7L),
    r(4, -0.0, 3L), r(4, 0.0, 2L), r(4, 2.0, null), r(4, -2.0, null), r(4, 0.0, 9L),
    r(5, Double.NaN, 2L), r(5, Double.NaN, 1L))

  /** The fixture with `v` cast to `dt` (NaN rows dropped for types
    * without NaN, ±0.0 kept only where it exists). */
  private def fixture(dt: DataType, parts: Int): DataFrame = {
    import spark.implicits._
    val base = rows.toDF("g", "v", "p")
    val typed =
      if (isFloaty(dt)) base.withColumn("v", col("v").cast(dt))
      else base.where(col("v").isNull || !isnan(col("v"))).withColumn("v", dt match {
        case TimestampType => timestamp_seconds(col("v").cast("long") + 1700000000L)
        case DateType      => date_add(lit("2020-01-01").cast("date"), col("v").cast("int"))
        case BooleanType   => col("v") > 2.0
        case _             => col("v").cast(dt)
      })
    typed.repartition(parts)
  }

  /** Output rows keyed by group, doubles as raw bits so -0.0 != 0.0 and
    * NaN == NaN. */
  private def keyed(df: DataFrame): Map[Int, Seq[Any]] =
    df.collect().map(r => r.getInt(0) -> r.toSeq.tail.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case f: Float  => java.lang.Float.floatToRawIntBits(f)
      case x => x
    }).toMap

  private def sortAggs(df: DataFrame): Int = {
    df.collect() // the adaptive plan is final once the query ran
    def ops(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case q: QueryStageExec => ops(q.plan)
      case _ => p.children.flatMap(ops)
    })
    ops(df.queryExecution.executedPlan).count(_.isInstanceOf[SortAggregateExec])
  }

  private val types = Seq(DoubleType, FloatType, LongType, IntegerType, DecimalType(18, 2),
    TimestampType, DateType, BooleanType)

  for (dt <- types; parts <- Seq(1, 7))
    test(s"first/last/arg* on ${dt.simpleString}, $parts partition(s) == min_by/max_by forms") {
      val df = fixture(dt, parts)
      val aggs = funcs.map(f => Agg(f, "v", f))
      val got = GroupByReduce.reduce(df, Seq("g"), aggs, pos = Some(col("p")), sort = false)
      val want = df.groupBy("g").agg(before(funcs.head, col("v"), dt, col("p")).as(funcs.head),
        funcs.tail.map(f => before(f, col("v"), dt, col("p")).as(f)): _*)
      assert(keyed(got) == keyed(want))
      assert(sortAggs(got) == 0, got.queryExecution.executedPlan.toString)
    }

  test("1 and 7 partitions give the same picks") {
    val aggs = funcs.map(f => Agg(f, "v", f))
    def run(parts: Int) = keyed(GroupByReduce.reduce(fixture(DoubleType, parts), Seq("g"), aggs,
      pos = Some(col("p")), sort = false))
    assert(run(1) == run(7))
  }

  test("values or positions without an order code stay on min_by/max_by") {
    val df = fixture(LongType, 3)
    val strings = df.withColumn("s", col("v").cast("string"))
    val got = GroupByReduce.reduce(strings, Seq("g"), Seq(Agg("first", "s", "f"), Agg("argmax", "s", "am")),
      pos = Some(col("p")), sort = false)
    val want = strings.groupBy("g").agg(before("first", col("s"), StringType, col("p")).as("f"),
      before("argmax", col("s"), StringType, col("p")).as("am"))
    assert(keyed(got) == keyed(want))
    assert(sortAggs(got) > 0)
    val structPos = GroupByReduce.reduce(df, Seq("g"), Seq(Agg("last", "v", "l")),
      pos = Some(struct(col("p"), col("p"))), sort = false)
    val wantStruct = df.groupBy("g").agg(before("last", col("v"), LongType, struct(col("p"), col("p"))).as("l"))
    assert(keyed(structPos) == keyed(wantStruct))
  }

  private def modeBefore(df: DataFrame, value: String, nan: Boolean): DataFrame = {
    val dt = df.schema(value).dataType
    val v = col(value)
    val base = if (nan) df.filter(isValid(v, dt)) else df
    val hasNaN = if (isFloaty(dt)) bool_or(isnan(v)) else lit(false)
    val picked = base.groupBy(col("g") +: Seq(nanToNull(v, dt).as(value)): _*)
      .agg(count(lit(1)).as("__n"), hasNaN.as("__hasnan"))
      .groupBy("g")
      .agg(min_by(v, when(v.isNotNull, struct(col("__n") * lit(-1L), v))).as("m"),
        bool_or(col("__hasnan")).as("__hasnan"))
    (if (!nan && isFloaty(dt))
      picked.withColumn("m", when(col("__hasnan"), lit(Double.NaN)).otherwise(col("m")))
    else picked).drop("__hasnan")
  }

  for (dt <- Seq(DoubleType, LongType, DecimalType(18, 2), StringType); func <- Seq("mode", "nanmode"))
    test(s"$func on ${dt.simpleString} == the min_by pick") {
      import spark.implicits._
      // count ties (group 0: 1 and 3 twice each), NULL and NaN values,
      // ±0.0 (one group value after grouping normalizes the zero)
      def m(g: Int, x: java.lang.Double) = (g, x)
      val df = Seq(m(0, 3.0), m(0, 1.0), m(0, 3.0), m(0, 1.0), m(0, null),
        m(1, null), m(1, null), m(1, 2.0), m(2, Double.NaN), m(2, 4.0), m(2, Double.NaN),
        m(3, -0.0), m(3, 0.0), m(3, 5.0), m(4, Double.NaN))
        .toDF("g", "x").repartition(5)
        .where(lit(isFloaty(dt)) || col("x").isNull || !isnan(col("x")))
        .withColumn("v", if (dt == StringType) col("x").cast("long").cast(dt) else col("x").cast(dt))
      val got = GroupByReduce.reduce(df, Seq("g"), Seq(Agg(func, "v", "m")), sort = false)
      assert(keyed(got) == keyed(modeBefore(df, "v", func == "nanmode")))
      assert((sortAggs(got) > 0) == (dt == StringType))
    }

  test("graft_min_by/graft_max_by accept the masked struct and fall back on three fields") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    val df = Seq((1, 2L, 3L), (1, 2L, 1L), (2, 5L, 7L)).toDF("g", "a", "b")
    val got = df.groupBy("g").agg(
      call_function(graft.expressions.GraftFunctions.MinBy, col("b"),
        when(col("b") > 1, struct(col("a"), col("b")))).as("m2"),
      call_function(graft.expressions.GraftFunctions.MaxBy, col("b"),
        struct(col("a"), col("b"), col("b"))).as("m3"))
    val want = df.groupBy("g").agg(
      min_by(col("b"), when(col("b") > 1, struct(col("a"), col("b")))).as("m2"),
      max_by(col("b"), struct(col("a"), col("b"), col("b"))).as("m3"))
    assert(keyed(got) == keyed(want))
    assert(got.collect().map(r => r.getInt(0) -> r.get(1)).toMap == Map(1 -> 3L, 2 -> 7L))
  }
}
