package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Drift

/** Drift/calibration monitoring: PSI, exact KS distance, reliability
  * bins, Brier — hand-computed pins and the degenerate anchors
  * (identical distributions score zero; disjoint ones score max). */
class DriftSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def dfOf(xs: Seq[Long]) = xs.map(Tuple1(_)).toDF("v")

  test("PSI of identical distributions is exactly zero, term by term") {
    val a = dfOf(Seq(1, 1, 2, 2, 3, 3, 3))
    val terms = Drift.psi(a, a, col("v"))
      .select("psi_term").as[Double].collect()
    assert(terms.nonEmpty && terms.forall(_ == 0.0))
  }

  test("PSI grows with shift; empty bins are smoothed, not NaN/Inf") {
    val base = dfOf(Seq.fill(50)(0L) ++ Seq.fill(50)(1L))
    val mild = dfOf(Seq.fill(60)(0L) ++ Seq.fill(40)(1L))
    val wild = dfOf(Seq.fill(100)(2L)) // bin the base never saw
    def total(b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Drift.psi(b, c, col("v")).agg(sum("psi_term")).head().getDouble(0)
    val tMild = total(base, mild); val tWild = total(base, wild)
    assert(tMild > 0.0 && tWild > tMild)
    assert(!tWild.isNaN && !tWild.isInfinite)
    // the scorecard reading: a wholesale shift is deep in action range
    assert(tWild > 0.25)
  }

  test("KS: identical -> 0, disjoint -> 1, interleaved hand case") {
    val a = dfOf(Seq(1, 2, 3, 4))
    assert(Drift.ksDistance(a, a, col("v"))
      .select("ks").as[Double].head() == 0.0)
    val b = dfOf(Seq(10, 11, 12))
    val r = Drift.ksDistance(a, b, col("v"))
      .select("n_a", "n_b", "ks").as[(Long, Long, Double)].head()
    assert(r == ((4L, 3L, 1.0)))
    // A={1,2,3,4} B={3,4,4,4}: max gap at v=2 -> |2/4 - 0| = 0.5
    val c = dfOf(Seq(3, 4, 4, 4))
    assert(Drift.ksDistance(a, c, col("v"))
      .select("ks").as[Double].head() == 0.5)
  }

  test("KS distinct-value guard trips on a raw high-cardinality column") {
    val a = spark.range(100).select((col("id") * 1.000001).as("v"))
    val e = intercept[IllegalArgumentException] {
      Drift.ksDistance(a, a, col("v"), maxDistinct = 10)
    }
    assert(e.getMessage.contains("maxDistinct"))
    // keyed: the bound applies to the WORST group (hot: 20 distinct
    // values, cold: 1), for both distinct-value statistics
    val g = ((0 until 20).map(i => ("hot", i.toLong)) :+ (("cold", 1L))).toDF("g", "v")
    for (op <- Seq[Long => Any](
        m => Drift.ksDistance(g, g, col("v"), Seq("g"), maxDistinct = m),
        m => Drift.wasserstein1(g, g, col("v"), Seq("g"), maxDistinct = m))) {
      val eg = intercept[IllegalArgumentException](op(10L))
      assert(eg.getMessage.contains("worst group has 20 > maxDistinct=10"), eg.getMessage)
      op(20L)
    }
  }

  test("W1: identical -> 0; shift by c -> c; mass-shift case KS underweights") {
    val a = dfOf(Seq(1, 2, 3, 4))
    assert(Drift.wasserstein1(a, a, col("v"))
      .select("w1").as[Double].head() == 0.0)
    // shift by 10: W1 = 10 exactly, in value units
    val shifted = dfOf(Seq(11L, 12L, 13L, 14L))
    assert(Drift.wasserstein1(a, shifted, col("v"))
      .select("w1").as[Double].head() == 10.0)
    // half the mass moves far: KS = 0.5 but W1 = 0.5 * 96 = 48
    val far = dfOf(Seq(1, 2, 99, 100))
    val w1 = Drift.wasserstein1(a, far, col("v"))
      .select("w1").as[Double].head()
    val ks = Drift.ksDistance(a, far, col("v"))
      .select("ks").as[Double].head()
    assert(ks == 0.5 && w1 > 40.0)
  }

  test("JSD: identical -> 0 term-by-term; bounded by ln 2; disjoint approaches it") {
    val a = dfOf(Seq(1, 1, 2, 2))
    val self = Drift.jsd(a, a, col("v")).select("jsd_term").as[Double].collect()
    assert(self.nonEmpty && self.forall(_ == 0.0))
    val b = dfOf(Seq.fill(100)(9L))
    val a2 = dfOf(Seq.fill(100)(1L))
    val tot = Drift.jsd(a2, b, col("v")).agg(sum("jsd_term")).head().getDouble(0)
    assert(tot > 0.5 && tot <= math.log(2) + 1e-9)
  }

  test("calibration bins: hand case, clamping, and exact means") {
    // preds 0.05(x2,y=0/1), 0.95(y=1), 1.0 (clamps to bin 9, y=1)
    val df = Seq((0.05, false), (0.05, true), (0.95, true), (1.0, true))
      .toDF("p", "y")
    val bins = Drift.calibrationBins(df, col("p"), col("y"), nBins = 10)
      .orderBy("bin")
      .select("bin", "n", "avg_pred", "frac_pos")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(bins == Seq((0L, 2L, 0.05, 0.5), (9L, 2L, 0.975, 1.0)))
  }

  test("Brier: perfect -> 0, inverted -> 1, p=0.5 -> 0.25") {
    val perfect = Seq((1.0, true), (0.0, false)).toDF("p", "y")
    assert(Drift.brierScore(perfect, col("p"), col("y"))
      .select("brier").as[Double].head() == 0.0)
    val inverted = Seq((1.0, false), (0.0, true)).toDF("p", "y")
    assert(Drift.brierScore(inverted, col("p"), col("y"))
      .select("brier").as[Double].head() == 1.0)
    val coin = Seq((0.5, true), (0.5, false)).toDF("p", "y")
    assert(Drift.brierScore(coin, col("p"), col("y"))
      .select("brier").as[Double].head() == 0.25)
  }

  test("psi(by) == per-group psi(Nil); one-sided groups still emit smoothed rows") {
    val a = Seq(("en", 1L), ("en", 1L), ("en", 2L), ("de", 5L)).toDF("g", "v")
    val b = Seq(("en", 1L), ("en", 2L), ("en", 2L), ("fr", 9L)).toDF("g", "v")
    val grouped = Drift.psi(a, b, col("v"), Seq("g"))
      .select("g", "bin", "n_base", "n_cur", "psi_term")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    for (g <- Seq("en", "de", "fr")) {
      val single = Drift.psi(a.where(col("g") === g), b.where(col("g") === g),
          col("v"))
        .as[(Long, Long, Long, Double)].collect()
        .map(r => (g, r._1, r._2, r._3, r._4)).toSet
      assert(grouped.filter(_._1 == g) == single, s"group $g")
    }
  }

  test("ksDistance(by) == per-group ksDistance(Nil); absent side scores 1") {
    val a = Seq(("x", 1L), ("x", 2L), ("y", 5L)).toDF("g", "v")
    val b = Seq(("x", 2L), ("x", 3L), ("z", 9L)).toDF("g", "v")
    val grouped = Drift.ksDistance(a, b, col("v"), Seq("g"))
      .select("g", "n_a", "n_b", "ks")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val x = Drift.ksDistance(a.where(col("g") === "x"),
        b.where(col("g") === "x"), col("v"))
      .select("n_a", "n_b", "ks").as[(Long, Long, Double)].head()
    assert(grouped("x") == (("x", x._1, x._2, x._3)))
    assert(grouped("y") == (("y", 1L, 0L, 1.0)))
    assert(grouped("z") == (("z", 0L, 1L, 1.0)))
  }

  test("wasserstein1(by) == per-group wasserstein1(Nil) (incl. one-sided groups)") {
    val a = Seq(("x", 1L), ("x", 2L), ("y", 5L)).toDF("g", "v")
    val b = Seq(("x", 2L), ("x", 3L), ("z", 9L)).toDF("g", "v")
    val grouped = Drift.wasserstein1(a, b, col("v"), Seq("g"))
      .select("g", "n_a", "n_b", "w1")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(grouped.keySet == Set("x", "y", "z"))
    for (g <- Seq("x", "y", "z")) {
      val single = Drift.wasserstein1(a.where(col("g") === g),
          b.where(col("g") === g), col("v"))
        .select("n_a", "n_b", "w1").as[(Long, Long, Double)].head()
      assert(grouped(g) == ((g, single._1, single._2, single._3)), s"group $g")
    }
    // one-sided single-value groups emit the 0.0 row, not nothing
    assert(grouped("y") == (("y", 1L, 0L, 0.0)))
  }

  test("jsd(by) == per-group jsd(Nil); one-sided groups still emit smoothed rows") {
    val a = Seq(("en", 1L), ("en", 1L), ("en", 2L), ("de", 5L)).toDF("g", "v")
    val b = Seq(("en", 1L), ("en", 2L), ("en", 2L), ("fr", 9L)).toDF("g", "v")
    val grouped = Drift.jsd(a, b, col("v"), Seq("g"))
      .select("g", "bin", "n_base", "n_cur", "jsd_term")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    for (g <- Seq("en", "de", "fr")) {
      val single = Drift.jsd(a.where(col("g") === g), b.where(col("g") === g),
          col("v"))
        .as[(Long, Long, Long, Double)].collect()
        .map(r => (g, r._1, r._2, r._3, r._4)).toSet
      assert(grouped.filter(_._1 == g) == single, s"group $g")
    }
  }

  test("calibrationBins(by)/brierScore(by) == per-group calibrationBins(Nil)/brierScore(Nil)") {
    val df = Seq(("s0", 0.05, false), ("s0", 0.05, true), ("s0", 0.95, true),
      ("s1", 1.0, true), ("s1", 0.5, false)).toDF("src", "p", "y")
    val gb = Drift.calibrationBins(df, col("p"), col("y"), Seq("src"))
      .select("src", "bin", "n", "avg_pred", "frac_pos")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val gs = Seq("s0", "s1").flatMap { s =>
      Drift.calibrationBins(df.where(col("src") === s), col("p"), col("y"))
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (s, r._1, r._2, r._3, r._4))
    }.toSet
    assert(gb == gs)
    val bb = Drift.brierScore(df, col("p"), col("y"), Seq("src"))
      .select("src", "n", "brier")
      .as[(String, Long, Double)].collect().toSet
    val bs = Seq("s0", "s1").map { s =>
      val r = Drift.brierScore(df.where(col("src") === s), col("p"), col("y"))
        .as[(Long, Double)].head()
      (s, r._1, r._2)
    }.toSet
    assert(bb == bs)
    // no keys is the corpus-wide statistic, not an error
    assert(Drift.brierScore(df, col("p"), col("y"), Seq.empty).collect().toSeq
      == Drift.brierScore(df, col("p"), col("y")).collect().toSeq)
  }

  test("calibration state merges associatively; finalize == one-shot bins and Brier") {
    val df = Seq((0.05, false), (0.05, true), (0.95, true), (1.0, true),
      (0.5, false), (0.31, true)).zipWithIndex
      .map { case ((p, y), i) => (i.toLong, p, y) }.toDF("id", "p", "y")
    val oneShot = Drift.calibrationBins(df, col("p"), col("y"))
      .collect().map(_.toSeq).toSet
    val merged = Drift.mergeCalibrationStates(
      Drift.calibrationState(df.where(col("id") % 2 === 0), col("p"), col("y")),
      Drift.calibrationState(df.where(col("id") % 2 === 1), col("p"), col("y")))
    assert(Drift.calibrationFromState(merged).collect().map(_.toSeq).toSet
      == oneShot, "state-then-finalize must equal the one-shot bins")
    val b1 = Drift.brierScore(df, col("p"), col("y"))
      .as[(Long, Double)].head()
    val b2 = Drift.brierFromState(merged).as[(Long, Double)].head()
    assert(b1 == b2, s"brierFromState $b2 != brierScore $b1")
  }

  test("KS/W1 degenerate anchors: empty side -> ks=1 not NULL; one distinct value -> W1 emits (n_a, n_b, 0.0)") {
    // ADVICE r9: with no keys the empty-side contract holds as it does
    // per group (cdf of an empty side is 0 everywhere) instead of
    // bubbling a NULL from the 0 divide, and a single-distinct-value
    // union must still yield W1's one row, not an empty frame
    val a = dfOf(Seq(1, 2, 3))
    val empty = dfOf(Seq.empty[Long])
    assert(Drift.ksDistance(a, empty, col("v"))
      .select("n_a", "n_b", "ks").as[(Long, Long, Double)].head()
      == ((3L, 0L, 1.0)))
    assert(Drift.wasserstein1(dfOf(Seq(7, 7, 7)), dfOf(Seq(7L)), col("v"))
      .select("n_a", "n_b", "w1").as[(Long, Long, Double)].head()
      == ((3L, 1L, 0.0)))
    // W1 vs an empty side integrates the present side's cdf: 1/3 + 2/3
    assert(Drift.wasserstein1(a, empty, col("v"))
      .select("n_a", "n_b", "w1").as[(Long, Long, Double)].head()
      == ((3L, 0L, 1.0)))
  }

  test("wasserstein1: guard + totals fused into ONE pass; final plan join-free (VERDICT r10 #8)") {
    // construction with the guard on must run exactly ONE action (the
    // fused totals+cardinality aggregate; AQE may split it into several
    // jobs, so the pin counts distinct SQL execution ids) — formerly
    // the cardinality count was its own action — and the returned plan
    // must carry the totals as LITERALS, not a broadcast-joined subplan
    // that would rescan both sides at collect time. Sentinel-job fence
    // per the SearchSpec listener convention.
    import scala.jdk.CollectionConverters._
    val a = Seq(1L, 2L, 2L, 5L).toDF("v")
    val b = Seq(2L, 3L, 5L, 9L).toDF("v")
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""),
          Option(js.properties)
            .map(_.getProperty("spark.sql.execution.id", "")).getOrElse("")))
    }
    sc.addSparkListener(l)
    val res =
      try {
        sc.setJobGroup("graft_w1_construct", "fused guard pass")
        val r = try Drift.wasserstein1(a, b, col("v")) finally sc.clearJobGroup()
        sc.setJobGroup("graft_sentinel", "listener fence")
        try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000
        while (!seen.asScala.exists(_._1 == "graft_sentinel")
            && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        val groups = seen.asScala.toList
        val execs = groups.filter(_._1 == "graft_w1_construct").map(_._2).distinct
        assert(execs.size == 1,
          s"construction must run exactly ONE fused action, saw: $groups")
        r
      } finally sc.removeSparkListener(l)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"totals must enter as literals, not a broadcast/cross join:\n$plan")
    // and the statistic itself is unchanged
    assert(res.select("n_a", "n_b", "w1").as[(Long, Long, Double)].head()
      == ((4L, 4L, Drift.wasserstein1(a, b, col("v"), maxDistinct = 0)
        .select("w1").as[Double].head())))
  }

  test("drift ops ignore NULL values/labels") {
    val withNull = Seq(Some(1.0), None, Some(2.0)).toDF("v")
    assert(Drift.ksDistance(withNull, withNull, col("v"))
      .select("n_a").as[Long].head() == 2L)
    val preds = Seq((Some(0.5), Some(true)), (None, Some(true)),
      (Some(0.5), None)).toDF("p", "y")
    assert(Drift.brierScore(preds, col("p"), col("y"))
      .select("n").as[Long].head() == 1L)
    // NaN predictions drop out like NULL ones: round(NaN, 6) would cast
    // to a NULL decimal that `least` clamps into the top bin
    val nanBins = Seq((0.95, true), (0.15, false), (Double.NaN, true), (0.85, false))
      .toDF("p", "y")
    assert(Drift.calibrationBins(nanBins, col("p"), col("y")).orderBy("bin")
      .select("bin", "n", "avg_pred", "frac_pos")
      .as[(Long, Long, Double, Double)].collect().toSeq
      == Seq((1L, 1L, 0.15, 0.0), (8L, 1L, 0.85, 0.0), (9L, 1L, 0.95, 1.0)))
    val nanState = Drift.calibrationState(nanBins, col("p"), col("y"))
    assert(nanState.agg(sum("n")).as[Long].head() == 3L)
    assert(Drift.calibrationFromState(nanState).collect().map(_.toSeq).toSet
      == Drift.calibrationBins(nanBins, col("p"), col("y")).collect().map(_.toSeq).toSet)
    val nanBrier = Seq((1.0, true), (Double.NaN, false)).toDF("p", "y")
    assert(Drift.brierScore(nanBrier, col("p"), col("y"))
      .select("n", "brier").as[(Long, Double)].head() == ((1L, 0.0)))
  }

}
