package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Agg, GroupByReduce, Quantiles}

/** The memory-safe exact quantile must equal the registry's Percentile
  * form bit-for-bit — same linear interpolation, same NaN skipping — on
  * data with duplicates, NaN, singleton groups, and q edges, under any
  * partitioning. */
class QuantilesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)
  private def data = (0 until 400).map { i =>
    val v = rnd.nextInt(4) match {
      case 0 => Double.NaN
      case 1 => rnd.nextInt(10).toDouble          // heavy duplicates
      case _ => rnd.nextDouble() * 100
    }
    (i % 5, v)
  } :+ ((5, 42.0)) // singleton group

  test("equals registry nanquantile bit-for-bit (vector q, NaN, dups, singleton)") {
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val df = data.toDF("k", "v").repartition(7)
    val scalable = Quantiles.exactQuantile(df, Seq("k"), "v", qs, as = "qs")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val registry = GroupByReduce.reduce(df, Seq("k"),
      Seq(Agg("nanquantile", "v", "qs", q = qs)))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(scalable.keySet == registry.keySet)
    for (k <- registry.keySet)
      assert(scalable(k) == registry(k), s"group $k: ${scalable(k)} != ${registry(k)}")
  }

  test("single q returns a scalar column; partition-invariant") {
    val df = data.toDF("k", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Quantiles.exactQuantile(d, Seq("k"), "v", Seq(0.5), as = "med")
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val one = run(df.coalesce(1))
    assert(one == run(df.repartition(8)))
    val registry = GroupByReduce.reduce(df, Seq("k"), Seq(Agg("nanmedian", "v", "med")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(one == registry)
  }

  test("propagate=true equals registry quantile bit-for-bit (incl. all-NaN / all-NULL groups)") {
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val rows = data.map { case (k, x) => (k, Option(x)) } ++
      Seq((6, Some(Double.NaN)), (6, Some(Double.NaN)),     // all-NaN group
          (7, None), (7, None))                             // all-NULL group
    val df = rows.toDF("k", "v").repartition(7)
    def grab(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    val scalable = grab(Quantiles.exactQuantile(df, Seq("k"), "v", qs, as = "qs", propagate = true))
    val registry = grab(GroupByReduce.reduce(df, Seq("k"),
      Seq(Agg("quantile", "v", "qs", q = qs))))
    assert(scalable.keySet == registry.keySet)
    for (k <- registry.keySet) {
      val (a, b) = (scalable(k), registry(k))
      val same = (a == null && b == null) ||
        (a != null && b != null && a.zip(b).forall { case (x, y) =>
          (x.isNaN && y.isNaN) || x == y })
      assert(same, s"group $k: $a != $b")
    }
  }

  test("propagate=true keeps all-NULL groups on non-float dtypes too (NULL result)") {
    val df = Seq((0, Some(4L)), (0, Some(8L)), (1, None), (1, None))
      .toDF("k", "v")
    val r = Quantiles.exactQuantile(df, Seq("k"), "v", Seq(0.5), as = "med", propagate = true)
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(r == Map(0 -> 6.0, 1 -> null))
    val registry = GroupByReduce.reduce(df, Seq("k"), Seq(Agg("quantile", "v", "med", q = Seq(0.5))))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(r == registry)
  }

  test("all-NaN group is absent (compose with expected-groups to fill)") {
    val df = Seq((0, Double.NaN), (0, Double.NaN), (1, 3.0)).toDF("k", "v")
    val r = Quantiles.exactQuantile(df, Seq("k"), "v", Seq(0.5), as = "med")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(r == Map(1 -> 3.0))
  }

  test("selection ranking equals the windowed form bit-for-bit (skip + propagate, any chunks)") {
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val base = data.map { case (k, x) => (k, Option(x)) } ++
      Seq((6, Some(Double.NaN)), (6, Some(Double.NaN)),
          (7, None), (7, None))
    val df = base.toDF("k", "v").repartition(7)
    def grab(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null
        else r.getSeq[Double](1).map(x => if (x.isNaN) "NaN" else x))).toMap
    val windowed = grab(Quantiles.exactQuantile(df, Seq("k"), "v", qs, as = "qs"))
    for (chunks <- Seq(1, 7, 32)) {
      val sel = grab(Quantiles.exactQuantileSelect(df, Seq("k"), "v", qs,
        as = "qs", chunks = chunks))
      assert(sel == windowed, s"chunks=$chunks diverged")
    }
    val wProp = grab(Quantiles.exactQuantile(df, Seq("k"), "v", qs, as = "qs", propagate = true))
    val sProp = grab(Quantiles.exactQuantileSelect(df, Seq("k"), "v", qs,
      as = "qs", propagate = true, chunks = 5))
    assert(sProp == wProp, "propagate (incl. all-NaN / all-NULL groups) diverged")
  }

  test("selection dedup=false (raw-row ranking) equals dedup=true bit-for-bit") {
    // duplicate-heavy values + NaNs: the case where raw rows and the
    // distinct-value count table diverge structurally but must not
    // diverge numerically
    val df = data.toDF("k", "v").repartition(5)
    for (prop <- Seq(false, true); ch <- Seq(1, 3, 32)) {
      val a = Quantiles.exactQuantileSelect(df, Seq("k"), "v",
        Seq(0.0, 0.25, 0.5, 0.9, 1.0), propagate = prop, chunks = ch, dedup = true)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      val b = Quantiles.exactQuantileSelect(df, Seq("k"), "v",
        Seq(0.0, 0.25, 0.5, 0.9, 1.0), propagate = prop, chunks = ch, dedup = false)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      assert(a.keySet == b.keySet, s"prop=$prop ch=$ch")
      for (k <- a.keySet)
        assert(a(k).zip(b(k)).forall { case (x, y) =>
          (x.isNaN && y.isNaN) || x == y }, s"prop=$prop ch=$ch key=$k: ${a(k)} vs ${b(k)}")
    }
  }

  test("selection keeps NULL-keyed groups and singleton q") {
    val df = Seq((Some("a"), 1.0), (None, 2.0), (None, 6.0), (Some("a"), 3.0))
      .toDF("k", "v").repartition(3)
    val s = Quantiles.exactQuantileSelect(df, Seq("k"), "v", Seq(0.5), as = "med", chunks = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s == Map("a" -> 2.0, (null: String) -> 4.0))
  }

  test("selection keeps NULL-keyed groups like the windowed form (null-safe struct join)") {
    val df = Seq((Some("a"), 1.0), (None, 2.0), (None, 6.0), (Some("a"), 3.0))
      .toDF("k", "v").repartition(3)
    def grab(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = grab(Quantiles.exactQuantile(df, Seq("k"), "v", Seq(0.5), as = "med"))
    val c = grab(Quantiles.exactQuantileSelect(df, Seq("k"), "v", Seq(0.5),
      as = "med", chunks = 4))
    assert(w == Map("a" -> 2.0, (null: String) -> 4.0))
    assert(c == w, "selection dropped the NULL-keyed group")
  }

  test("__-prefixed by/value columns are rejected with a clear message (ADVICE r4)") {
    // the old enumerated reserved lists missed names like __n/__nan,
    // producing opaque ambiguous-reference errors; the contract is now
    // the whole __ prefix, across both forms
    val df = Seq(("a", 1.0)).toDF("__n", "v")
    val dfv = Seq(("a", 1.0)).toDF("k", "__nan")
    for (f <- Seq[(org.apache.spark.sql.DataFrame, Seq[String], String) => Any](
      (d, by, vc) => Quantiles.exactQuantile(d, by, vc, Seq(0.5)),
      (d, by, vc) => Quantiles.exactQuantileSelect(d, by, vc, Seq(0.5)))) {
      val e1 = intercept[IllegalArgumentException](f(df, Seq("__n"), "v"))
      assert(e1.getMessage.contains("__ column-name prefix"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](f(dfv, Seq("k"), "__nan"))
      assert(e2.getMessage.contains("__ column-name prefix"), e2.getMessage)
    }
  }

  test("weightedQuantile == inverted-CDF brute force (ties, zero/negative weights, NaN, q edges)") {
    val rows = (0 until 300).map { i =>
      val g = s"g${i % 4}"
      val v = i % 7 match {
        case 0 => Double.NaN
        case 1 => (i % 5).toDouble          // heavy ties
        case _ => rnd.nextDouble() * 100
      }
      val w = i % 5 match {
        case 0 => 0.0                        // excluded
        case 1 => -1.5                       // excluded
        case _ => (rnd.nextInt(400) + 1) / 100.0  // 1e-2 grid, decimal-exact
      }
      (g, v, w)
    } ++ Seq(("dead", 1.0, 0.0), ("dead", Double.NaN, 3.0)) // no contributing row
    val df = rows.toDF("g", "v", "w")
    val qs = Seq(0.0 -> "p0", 0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90", 1.0 -> "p100")
    val got = Quantiles.weightedQuantile(df, Seq("g"), "v", "w", qs)
      .collect().map(r => r.getString(0) ->
        (1 to qs.size).map(i => Option(r.get(i)).map(_.asInstanceOf[Double]))).toMap
    val byG = rows.groupBy(_._1)
    for ((g, rs) <- byG) {
      val valid = rs.collect { case (_, v, w) if !v.isNaN && w > 0 => (v, BigDecimal(w)) }
        .sortBy(_._1)
      val tot = valid.map(_._2).sum
      val want = qs.map { case (q, _) =>
        if (valid.isEmpty) None
        else {
          val target = tot * BigDecimal(q)
          var cum = BigDecimal(0)
          valid.collectFirst {
            case (v, w) if { cum += w; cum >= target } => v
          }
        }
      }
      assert(got(g) == want, s"group $g: ${got(g)} vs $want")
    }
    assert(got("dead").forall(_.isEmpty))
  }

  test("weightedQuantile rejects off-grid quantiles and clashing output names") {
    val df = Seq(("a", 1.0, 1.0)).toDF("g", "v", "w")
    intercept[IllegalArgumentException] {
      Quantiles.weightedQuantile(df, Seq("g"), "v", "w", Seq(0.123456789 -> "x"))
    }
    intercept[IllegalArgumentException] {
      Quantiles.weightedQuantile(df, Seq("g"), "v", "w", Seq(0.5 -> "v"))
    }
  }

  test("plan: no ObjectHashAggregate percentile buffer — hash agg + window only") {
    val df = data.toDF("k", "v")
    val p = Quantiles.exactQuantile(df, Seq("k"), "v", Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(!p.contains("ObjectHashAggregate"), s"unexpected object agg:\n$p")
    assert(p.contains("Window"), s"expected the spilling window sort:\n$p")
  }
}
