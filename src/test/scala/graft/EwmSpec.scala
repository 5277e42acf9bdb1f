package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ewm

/** Distributed pandas-ewm parity: brute-force closed form, chunking
  * invariance (the carry topology vs the single-chunk path), NaN decay
  * semantics, repartition determinism. */
class EwmSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** pandas ewm(alpha, adjust=True, ignore_na=False).mean() reference. */
  private def brute(xs: Seq[Option[Double]], alpha: Double): Seq[Option[Double]] = {
    val beta = 1 - alpha
    xs.indices.map { t =>
      val terms = (0 to t).flatMap(j => xs(j).map(x => (math.pow(beta, t - j), x)))
      if (terms.isEmpty) None
      else Some(terms.map { case (w, x) => w * x }.sum / terms.map(_._1).sum)
    }
  }

  private def mkDf(groups: Map[String, Seq[Option[Double]]]) =
    groups.toSeq.flatMap { case (g, xs) =>
      xs.zipWithIndex.map { case (x, i) =>
        (g, i.toLong, x.getOrElse(Double.NaN))
      }
    }.toDF("g", "pos", "x")

  private val fixture = Map(
    "a" -> Seq(Some(1.0), Some(2.0), None, Some(4.0), Some(0.5), None, None, Some(3.0),
      Some(7.0), Some(1.5), Some(2.25), Some(9.0), Some(0.0), Some(5.0)),
    "b" -> (1 to 40).map(i => Some(i * 1.25 % 7)),
    "c" -> Seq(None, None, Some(2.0)),     // leading NaNs -> NULL, NULL, 2.0
    "d" -> Seq(Some(42.0)))

  test("ewmMean == pandas brute force (NaN decay, carried mean at NaN rows, leading-NaN NULLs)") {
    for (alpha <- Seq(0.5, 0.1, 0.9)) {
      val got = Ewm.ewmMean(mkDf(fixture), Seq("g"), Seq(col("pos")), "x", alpha)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
      for ((g, xs) <- fixture; (want, i) <- brute(xs, alpha).zipWithIndex) {
        val v = got((g, i.toLong))
        assert(v.isDefined == want.isDefined, s"alpha=$alpha $g[$i]: $v vs $want")
        for (a <- v; b <- want)
          assert(math.abs(a - b) < 1e-9, s"alpha=$alpha $g[$i]: $a vs $b")
      }
    }
  }

  test("chunking-invariant: tiny chunks exercise the two-level carry and match the single-chunk path") {
    val df = mkDf(fixture)
    val ref = Ewm.ewmMean(df, Seq("g"), Seq(col("pos")), "x", 0.3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    for (mc <- Seq(2, 3, 5)) {
      val got = Ewm.maxChunk.withValue(mc) {
        Ewm.ewmMean(df.repartition(7), Seq("g"), Seq(col("pos")), "x", 0.3)
      }.collect().map(r => (r.getString(0), r.getLong(1)) ->
          Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
      assert(got.keySet == ref.keySet)
      for ((k, v) <- ref) {
        assert(got(k).isDefined == v.isDefined, s"maxChunk=$mc $k")
        for (a <- got(k); b <- v)
          assert(math.abs(a - b) < 1e-9, s"maxChunk=$mc $k: $a vs $b")
      }
    }
  }

  test("first row equals its own value; constant series is constant; guards fire") {
    val df = Seq(("a", 0L, 3.0), ("a", 1L, 3.0), ("a", 2L, 3.0)).toDF("g", "pos", "x")
    val got = Ewm.ewmMean(df, Seq("g"), Seq(col("pos")), "x", 0.2)
      .orderBy("pos").collect().map(_.getDouble(3))
    assert(got.forall(v => math.abs(v - 3.0) < 1e-12))
    intercept[IllegalArgumentException] {
      Ewm.ewmMean(df, Seq("g"), Seq(col("pos")), "x", 1.0)
    }
    intercept[IllegalArgumentException] {
      Ewm.ewmMean(df.withColumn("ewm", lit(1)), Seq("g"), Seq(col("pos")), "x", 0.5)
    }
    intercept[IllegalArgumentException] {
      Ewm.ewmMean(df, Seq.empty, Seq(col("pos")), "x", 0.5)
    }
  }

  /** pandas ewm(alpha, adjust=True, bias=False).var() reference. */
  private def bruteVar(xs: Seq[Option[Double]], alpha: Double): Seq[Option[Double]] = {
    val beta = 1 - alpha
    xs.indices.map { t =>
      val terms = (0 to t).flatMap(j => xs(j).map(x => (math.pow(beta, t - j), x)))
      val w1 = terms.map(_._1).sum
      val w2 = terms.map(p => p._1 * p._1).sum
      if (terms.size < 2 || w1 * w1 - w2 <= 0) None
      else {
        val m = terms.map { case (w, x) => w * x }.sum / w1
        val num = terms.map { case (w, x) => w * (x - m) * (x - m) }.sum
        Some(num / (w1 - w2 / w1))
      }
    }
  }

  test("ewmVarStd == pandas bias=false brute force; <2 obs NULL; std = sqrt(var)") {
    for (alpha <- Seq(0.5, 0.2); mc <- Seq(1024, 3)) {
      val got = Ewm.maxChunk.withValue(mc) {
        Ewm.ewmVarStd(mkDf(fixture), Seq("g"), Seq(col("pos")), "x", alpha)
      }.collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((Option(r.get(3)).map(_.asInstanceOf[Double]),
            Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
      for ((g, xs) <- fixture; (want, i) <- bruteVar(xs, alpha).zipWithIndex) {
        val (v, s) = got((g, i.toLong))
        assert(v.isDefined == want.isDefined, s"alpha=$alpha mc=$mc $g[$i]: $v vs $want")
        for (a <- v; b <- want) {
          assert(math.abs(a - b) < 1e-9, s"alpha=$alpha mc=$mc $g[$i]: $a vs $b")
          assert(math.abs(s.get - math.sqrt(a)) < 1e-12)
        }
      }
    }
  }

  /** pandas ewm(alpha).cov/corr(other) bias=false PAIRWISE reference:
    * only both-valid rows contribute, every row advances the clock;
    * corr NULL under the engine's RelCorrEps degeneracy gate. */
  private def bruteCovCorr(
      xs: Seq[Option[Double]], ys: Seq[Option[Double]], alpha: Double)
      : Seq[(Option[Double], Option[Double])] = {
    val beta = 1 - alpha
    xs.indices.map { t =>
      val terms = (0 to t).flatMap { j =>
        for (x <- xs(j); y <- ys(j)) yield (math.pow(beta, t - j), x, y)
      }
      val w1 = terms.map(_._1).sum
      val w2 = terms.map(p => p._1 * p._1).sum
      val sx = terms.map(p => p._1 * p._2).sum
      val sy = terms.map(p => p._1 * p._3).sum
      val sxy = terms.map(p => p._1 * p._2 * p._3).sum
      val sxx = terms.map(p => p._1 * p._2 * p._2).sum
      val syy = terms.map(p => p._1 * p._3 * p._3).sum
      val den = w1 * w1 - w2
      val (vx, vy) = (w1 * sxx - sx * sx, w1 * syy - sy * sy)
      val cov = if (den > 0) Some((w1 * sxy - sx * sy) / den) else None
      val corr =
        if (den > 0 && vx > Ewm.RelCorrEps * w1 * sxx && vy > Ewm.RelCorrEps * w1 * syy)
          Some(math.max(-1.0, math.min(1.0, (w1 * sxy - sx * sy) / math.sqrt(vx * vy))))
        else None
      (cov, corr)
    }
  }

  test("ewmCovCorr == pairwise brute force; constant-column corr NULL; corr clamped to [-1,1]") {
    // independent missing patterns; "e" is exactly anti-correlated
    // (corr must clamp to -1, not -1.0000000000000002); "f" has a
    // constant-y prefix (corr NULL while cov is defined)
    val pairs = Map(
      "a" -> (Seq(Some(1.0), None, Some(3.0), Some(0.5), Some(4.0), None, Some(2.0)),
        Seq(Some(2.0), Some(1.0), None, Some(5.0), Some(1.5), Some(3.0), Some(0.25))),
      "e" -> ((1 to 12).map(i => Some(i.toDouble)),
        (1 to 12).map(i => Some(10.0 - 2.0 * i))),
      "f" -> (Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0)),
        Seq(Some(7.0), Some(7.0), Some(7.0), Some(2.0))),
      "g" -> (Seq(Some(5.0)), Seq(Some(6.0))))
    val df = pairs.toSeq.flatMap { case (g, (xs, ys)) =>
      xs.indices.map(i => (g, i.toLong,
        xs(i).getOrElse(Double.NaN), ys(i).getOrElse(Double.NaN)))
    }.toDF("g", "pos", "x", "y")
    for (alpha <- Seq(0.5, 0.2); mc <- Seq(1024, 3)) {
      val got = Ewm.maxChunk.withValue(mc) {
        Ewm.ewmCovCorr(df, Seq("g"), Seq(col("pos")), "x", "y", alpha)
      }.collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((Option(r.get(4)).map(_.asInstanceOf[Double]),
            Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
      for ((g, (xs, ys)) <- pairs;
           ((wc, wr), i) <- bruteCovCorr(xs, ys, alpha).zipWithIndex) {
        val (c, r) = got((g, i.toLong))
        assert(c.isDefined == wc.isDefined, s"cov alpha=$alpha mc=$mc $g[$i]: $c vs $wc")
        assert(r.isDefined == wr.isDefined, s"corr alpha=$alpha mc=$mc $g[$i]: $r vs $wr")
        for (a <- c; b <- wc) assert(math.abs(a - b) < 1e-9, s"cov $g[$i]: $a vs $b")
        for (a <- r; b <- wr) {
          assert(math.abs(a - b) < 1e-9, s"corr $g[$i]: $a vs $b")
          assert(a >= -1.0 && a <= 1.0)
        }
      }
      // the anti-correlated group sits at -1 to the last ulp and never below
      val e11 = got(("e", 11L))._2.get
      assert(e11 >= -1.0 && e11 + 1.0 < 1e-12, s"e[11] corr $e11")
    }
  }

  /** time-decay reference: weight = 2^(-(t_t - t_j)/halflife). */
  private def bruteTime(
      rows: Seq[(Long, Option[Double])], hMicros: Long): Seq[Option[Double]] =
    rows.indices.map { t =>
      val (tt, _) = rows(t)
      val terms = (0 to t).flatMap { j =>
        val (tj, xj) = rows(j)
        xj.map(x => (math.pow(2.0, -(tt - tj).toDouble / hMicros), x))
      }
      val w = terms.map(_._1).sum
      if (w > 0) Some(terms.map(p => p._1 * p._2).sum / w) else None
    }

  test("ewmTimeMean: wall-clock decay vs brute force across cells, supercells, and empty-cell gaps") {
    val h = 1000000L // 1 second halflife
    // ~30 halflives per step -> 512-halflife cells hold ~17 rows; 120 rows
    // span ~7 cells / 4 supercells; inject NaNs, ties, and one giant gap
    // (3000 halflives ~ 6 cells of silence) to cross supercells non-densely
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = 0L
    for (i <- 0 until 120) {
      t += (if (i == 60) 3000L * h else (17L + (i * 13) % 41) * h)
      times += t
    }
    val vals = (0 until 120).map(i =>
      if (i % 11 == 3) None else Some(((i * 29) % 13).toDouble - 4))
    val rows = times.toSeq.zip(vals)
    val df = rows.zipWithIndex.map { case ((tm, x), i) =>
      (1L, i.toLong, new java.sql.Timestamp(tm / 1000), x.getOrElse(Double.NaN))
    }.toDF("g", "i", "ts", "x")
    val got = Ewm.ewmTimeMean(df.repartition(5), Seq("g"), "ts", "x", "1 second",
        tieBreak = Seq(col("i")))
      .collect().map(r => r.getLong(1) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    val want = bruteTime(rows, h)
    for (i <- rows.indices) {
      assert(got(i.toLong).isDefined == want(i).isDefined, s"[$i]")
      for (a <- got(i.toLong); b <- want(i))
        assert(math.abs(a - b) < 1e-9, s"[$i]: $a vs $b")
    }
  }

  /** time-decay var reference, bias=false, with the engine's reliability
    * cutoff: weights w_j = 2^(-(t_t-t_j)/h); var = (Sw*Swxx - Swx^2) /
    * (Sw^2 - Sw2), NULL when den <= RelVarEps * Sw^2 (below the cutoff
    * the cancelled sums are double-precision noise in ANY formulation —
    * the fixture that exposed it put a row 51 halflives after its
    * predecessor: num and den both landed at ~9e-16 and this brute
    * reference returned 1.0 where the true value is ~0.5). */
  private def bruteTimeVar(
      rows: Seq[(Long, Option[Double])], hMicros: Long): Seq[Option[Double]] =
    rows.indices.map { t =>
      val (tt, _) = rows(t)
      val terms = (0 to t).flatMap { j =>
        val (tj, xj) = rows(j)
        xj.map(x => (math.pow(2.0, -(tt - tj).toDouble / hMicros), x))
      }
      val sw = terms.map(_._1).sum
      val swx = terms.map(p => p._1 * p._2).sum
      val swxx = terms.map(p => p._1 * p._2 * p._2).sum
      val sw2 = terms.map(p => p._1 * p._1).sum
      val den = sw * sw - sw2
      if (den > Ewm.RelVarEps * sw * sw)
        Some(math.max(sw * swxx - swx * swx, 0.0) / den)
      else None
    }

  test("ewmTimeVarStd: wall-clock var/std vs brute force; single obs NULL; ties count; std=sqrt(var)") {
    val h = 1000000L // 1 second halflife
    // 256-halflife cells: steps of 2-8 halflives (well-conditioned:
    // adjacent weights >= 2^-8) put ~50 rows per cell; 600 rows span
    // ~11 cells / ~6 supercells; one 1500-halflife gap (~6 empty cells)
    // exercises the explicit-gap carries — the rows right after it fall
    // below the reliability cutoff and must be NULL on BOTH sides; NaNs
    // and a same-timestamp tie included
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = 0L
    for (i <- 0 until 600) {
      t += (if (i == 300) 1500L * h else (2L + (i * 5) % 7) * h)
      times += t
    }
    times += times(10) // tie with row 10
    val sortedTimes = times.toSeq.sorted
    val vals = sortedTimes.indices.map(i =>
      if (i % 9 == 4) None else Some(((i * 23) % 11).toDouble - 5))
    val rows = sortedTimes.zip(vals)
    val df = rows.zipWithIndex.map { case ((tm, x), i) =>
      (1L, i.toLong, new java.sql.Timestamp(tm / 1000), x.getOrElse(Double.NaN))
    }.toDF("g", "i", "ts", "x")
    val got = Ewm.ewmTimeVarStd(df.repartition(5), Seq("g"), "ts", "x", "1 second",
        tieBreak = Seq(col("i")))
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(4)).map(_.asInstanceOf[Double]),
         Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    val want = bruteTimeVar(rows, h)
    val firstValid = rows.indexWhere(_._2.isDefined)
    assert(got(firstValid.toLong)._1.isEmpty,
      "first observation alone must have NULL variance")
    assert(got(301L)._1.isEmpty && want(301).isEmpty,
      "first row after the 1500-halflife gap is below the reliability cutoff")
    assert(want.count(_.isDefined) > 500, "fixture must be mostly well-conditioned")
    for (i <- rows.indices) {
      assert(got(i.toLong)._1.isDefined == want(i).isDefined, s"[$i]")
      for (a <- got(i.toLong)._1; b <- want(i))
        assert(math.abs(a - b) < 1e-9, s"var[$i]: $a vs $b")
      for (v <- got(i.toLong)._1; s <- got(i.toLong)._2)
        assert(math.abs(s - math.sqrt(v)) < 1e-15, s"std[$i]")
    }
  }

  test("ewmTimeCovCorr: pairwise wall-clock moments vs brute force; gates and clamp") {
    val h = 1000000L // 1 second halflife
    var t = 0L
    val rows = (0 until 400).map { i =>
      t += (2L + (i * 5) % 7) * h
      val x = if (i % 9 == 4) None else Some(((i * 23) % 11).toDouble - 5)
      val y = if (i % 7 == 2) None else Some(((i * 31) % 13).toDouble * 0.5)
      (t, x, y)
    }
    val df = rows.zipWithIndex.map { case ((tm, x, y), i) =>
      (1L, i.toLong, new java.sql.Timestamp(tm / 1000),
        x.getOrElse(Double.NaN), y.getOrElse(Double.NaN))
    }.toDF("g", "i", "ts", "x", "y")
    val got = Ewm.ewmTimeCovCorr(df.repartition(5), Seq("g"), "ts", "x", "y",
        "1 second", tieBreak = Seq(col("i")))
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(5)).map(_.asInstanceOf[Double]),
         Option(r.get(6)).map(_.asInstanceOf[Double]))).toMap
    // brute force: the direct wall-clock pairwise formula with the
    // engine's gates
    val want = rows.indices.map { i =>
      val (ti, _, _) = rows(i)
      val terms = (0 to i).flatMap { j =>
        val (tj, xj, yj) = rows(j)
        for (x <- xj; y <- yj)
          yield (math.pow(2.0, -(ti - tj).toDouble / h), x, y)
      }
      val w1 = terms.map(_._1).sum
      val w2 = terms.map(p => p._1 * p._1).sum
      val sx = terms.map(p => p._1 * p._2).sum
      val sy = terms.map(p => p._1 * p._3).sum
      val sxy = terms.map(p => p._1 * p._2 * p._3).sum
      val sxx = terms.map(p => p._1 * p._2 * p._2).sum
      val syy = terms.map(p => p._1 * p._3 * p._3).sum
      val den = w1 * w1 - w2
      val (vx, vy) = (w1 * sxx - sx * sx, w1 * syy - sy * sy)
      val denOk = den > Ewm.RelVarEps * w1 * w1
      val cov = if (denOk) Some((w1 * sxy - sx * sy) / den) else None
      val corr =
        if (denOk && vx > Ewm.RelCorrEps * w1 * sxx && vy > Ewm.RelCorrEps * w1 * syy)
          Some(math.max(-1.0, math.min(1.0, (w1 * sxy - sx * sy) / math.sqrt(vx * vy))))
        else None
      (cov, corr)
    }
    assert(want.count(_._1.isDefined) > 300, "fixture mostly well-conditioned")
    for (i <- rows.indices) {
      val (gc, gr) = got(i.toLong)
      val (wc, wr) = want(i)
      assert(gc.isDefined == wc.isDefined, s"cov[$i]: $gc vs $wc")
      assert(gr.isDefined == wr.isDefined, s"corr[$i]: $gr vs $wr")
      for (a <- gc; b <- wc) assert(math.abs(a - b) < 1e-8, s"cov[$i]: $a vs $b")
      for (a <- gr; b <- wr) {
        assert(math.abs(a - b) < 1e-8, s"corr[$i]: $a vs $b")
        assert(a >= -1.0 && a <= 1.0)
      }
    }
  }

  test("ewmTimeVarStd: negative epochs and cell-boundary straddle match brute force") {
    val h = 1000000L
    // rows from ~-900 to +900 halflives at 3-halflife steps: crosses the
    // epoch, negative cells, and several 256-halflife cell boundaries,
    // all well-conditioned
    val times = (0 until 600).map(i => (-900L + i * 3L) * h)
    val vals = times.indices.map(i =>
      if (i % 7 == 2) None else Some(((i * 13) % 9).toDouble - 4))
    val rows = times.zip(vals)
    val df = rows.zipWithIndex.map { case ((tm, x), i) =>
      (1L, i.toLong, new java.sql.Timestamp(tm / 1000), x.getOrElse(Double.NaN))
    }.toDF("g", "i", "ts", "x")
    val got = Ewm.ewmTimeVarStd(df.repartition(3), Seq("g"), "ts", "x", "1 second",
        tieBreak = Seq(col("i")))
      .collect().map(r => r.getLong(1) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    val want = bruteTimeVar(rows, h)
    assert(want.count(_.isDefined) > 550, "fixture must be well-conditioned")
    for (i <- rows.indices) {
      assert(got(i.toLong).isDefined == want(i).isDefined, s"[$i]")
      for (a <- got(i.toLong); b <- want(i))
        assert(math.abs(a - b) < 1e-9, s"[$i]: $a vs $b")
    }
  }

  test("ewmTimeMean: pre-1970 (negative-epoch) rows bucket by FLOOR division and match brute force") {
    // ADVICE r6: truncating `div` put every row in (-cellWidth, 0) into
    // cell 0, silently mis-decaying pre-1970 data. The fixture straddles
    // the epoch: rows from ~-2000 halflives to +2000, including rows in
    // (-512, 0) halflives (exactly the old bug's mis-bucketed band), a
    // NaN, and equal-timestamp ties at a negative epoch.
    val h = 1000000L // 1 second halflife
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = -2000L * h
    for (i <- 0 until 80) {
      times += t
      t += (if (i == 40) 900L * h else (23L + (i * 7) % 61) * h)
    }
    times += -100L * h; times += -100L * h // negative-epoch tie
    val sortedTimes = times.toSeq.sorted
    val vals = sortedTimes.indices.map(i =>
      if (i % 13 == 5) None else Some(((i * 31) % 17).toDouble - 8))
    val rows = sortedTimes.zip(vals)
    val df = rows.zipWithIndex.map { case ((tm, x), i) =>
      (1L, i.toLong, new java.sql.Timestamp(tm / 1000), x.getOrElse(Double.NaN))
    }.toDF("g", "i", "ts", "x")
    val got = Ewm.ewmTimeMean(df.repartition(5), Seq("g"), "ts", "x", "1 second",
        tieBreak = Seq(col("i")))
      .collect().map(r => r.getLong(1) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    val want = bruteTime(rows, h)
    for (i <- rows.indices) {
      assert(got(i.toLong).isDefined == want(i).isDefined, s"[$i]")
      for (a <- got(i.toLong); b <- want(i))
        assert(math.abs(a - b) < 1e-9, s"[$i]: $a vs $b")
    }
  }

  test("ewmTimeMean: equal timestamps weigh each other fully; rejects month halflives") {
    val df = Seq(
      (1L, 0L, new java.sql.Timestamp(0L), 1.0),
      (1L, 1L, new java.sql.Timestamp(0L), 3.0),
      (1L, 2L, new java.sql.Timestamp(3600000L), 5.0)).toDF("g", "i", "ts", "x")
    val got = Ewm.ewmTimeMean(df, Seq("g"), "ts", "x", "1 hour", tieBreak = Seq(col("i")))
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(math.abs(got(0L) - 1.0) < 1e-12)
    assert(math.abs(got(1L) - 2.0) < 1e-12)           // (1 + 3) / 2, full weights
    // third row 1 halflife later: weights (.5, .5, 1) -> (0.5 + 1.5 + 5)/2
    assert(math.abs(got(2L) - 3.5) < 1e-12)
    intercept[IllegalArgumentException] {
      Ewm.ewmTimeMean(df, Seq("g"), "ts", "x", "1 month")
    }
  }

  test("long group across many chunks and superchunks stays accurate") {
    // alpha=0.3, maxChunk=4: d = -log10(0.7) = 0.155 digits per row, so
    // C = min(4, 250/d + 1) = 4 and K = floor(250/(4d)) + 1 = 404; the
    // 200 rows are 50 chunks of superchunk 0 (the within-superchunk carry)
    val xs = (0 until 200).map(i => Some(((i * 37) % 11).toDouble))
    val df = mkDf(Map("g" -> xs))
    val got = Ewm.maxChunk.withValue(4) {
      Ewm.ewmMean(df, Seq("g"), Seq(col("pos")), "x", 0.3)
    }.orderBy("pos").collect().map(_.getDouble(3))
    val want = brute(xs, 0.3).map(_.get)
    for (i <- xs.indices)
      assert(math.abs(got(i) - want(i)) < 1e-9, s"[$i]: ${got(i)} vs ${want(i)}")
  }

  test("row clock: a long group crosses several superchunks (lag carries) and matches brute force") {
    // alpha=0.99, maxChunk=4: d = -log10(0.01) = 2 digits per row, so
    // C = min(4, 250/2 + 1) = 4 and K = floor(250/(4*2)) + 1 = 32 — 128
    // rows per superchunk; var's beta^2 base (d = 4) gives C = 4 and
    // K = floor(250/(4*4)) + 1 = 16 — 64 rows. 600 rows cross 4 (mean) and
    // 9 (var) superchunk boundaries, so the lag-1..3 carries run
    val xs = (0 until 600).map(i => if (i % 17 == 5) None else Some(((i * 37) % 11).toDouble))
    val df = mkDf(Map("g" -> xs))
    val (mean, vars) = Ewm.maxChunk.withValue(4) {
      (Ewm.ewmMean(df, Seq("g"), Seq(col("pos")), "x", 0.99),
        Ewm.ewmVarStd(df, Seq("g"), Seq(col("pos")), "x", 0.99))
    }
    def values(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("pos").collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Double]))
    for ((name, got, want) <- Seq(("mean", values(mean), brute(xs, 0.99)),
        ("var", values(vars), bruteVar(xs, 0.99))); i <- xs.indices) {
      assert(got(i).isDefined == want(i).isDefined, s"$name[$i]: ${got(i)} vs ${want(i)}")
      for (a <- got(i); b <- want(i))
        assert(math.abs(a - b) < 1e-9, s"$name[$i]: $a vs $b")
    }
  }

  test("cross-clock pin: 1-second steps at a 1-second halflife equal the row clock at alpha 0.5") {
    // 2^-(dt/1s) = 0.5^dp when rows are 1 s apart, so each wall-clock
    // operator must equal its row-clock twin row for row, NaN rows
    // included (both clocks advance through them). Valid observations
    // (and valid pairs) sit at most 10 rows apart, so den/Sw^2 >= ~2^-9
    // clears the wall clock's RelVarEps gate — the one intended
    // difference between the two clocks' var and cov
    val rows = for (g <- Seq(1L, 2L); i <- 0 until 700) yield {
      val x = if (i < 2 || i % 9 == 4 || (i >= 300 && i < 309)) None
        else Some(((i * 23 + g) % 11).toDouble - 5)
      val y = if (i % 7 == 2) None else Some(((i * 31 + g) % 13).toDouble * 0.5)
      (g, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
        x.getOrElse(Double.NaN), y.getOrElse(Double.NaN))
    }
    val df = rows.toDF("g", "i", "ts", "x", "y").repartition(3)
    val byRow = Seq(col("ts"))
    def keyed(out: org.apache.spark.sql.DataFrame, cols: String*) =
      out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        cols.map(c => Option(r.get(r.fieldIndex(c))).map(_.asInstanceOf[Double]))).toMap
    val pairs = Seq(
      ("mean", Seq("ewm"),
        Ewm.ewmMean(df, Seq("g"), byRow, "x", 0.5),
        Ewm.ewmTimeMean(df, Seq("g"), "ts", "x", "1 second")),
      ("var", Seq("ewm_var", "ewm_std"),
        Ewm.ewmVarStd(df, Seq("g"), byRow, "x", 0.5),
        Ewm.ewmTimeVarStd(df, Seq("g"), "ts", "x", "1 second")),
      ("cov", Seq("ewm_cov", "ewm_corr"),
        Ewm.ewmCovCorr(df, Seq("g"), byRow, "x", "y", 0.5),
        Ewm.ewmTimeCovCorr(df, Seq("g"), "ts", "x", "y", "1 second")))
    for ((name, cols, rowOut, wallOut) <- pairs) {
      val (r, w) = (keyed(rowOut, cols: _*), keyed(wallOut, cols: _*))
      assert(r.size == 1400 && r.keySet == w.keySet)
      assert(r.values.count(_.head.isDefined) > 1300, s"$name: fixture mostly defined")
      for ((k, rv) <- r; (a, b) <- rv.zip(w(k))) {
        assert(a.isDefined == b.isDefined, s"$name $k: $a vs $b")
        for (x <- a; y <- b) assert(math.abs(x - y) < 1e-9, s"$name $k: $x vs $y")
      }
    }
  }

  test("input and output columns with the reserved __ prefix are rejected by name") {
    // a hand-kept list of working names once missed the row clock's sum
    // columns: an input column named __sw was overwritten by the engine
    // and dropped by the finalizer, so the result lost it silently
    val df = Seq(("a", 0L, 1.0, 7.0), ("a", 1L, 2.0, 8.0)).toDF("g", "pos", "x", "__sw")
    val ts = df.withColumn("ts", col("pos").cast("timestamp"))
    val calls: Seq[() => Any] = Seq(
      () => Ewm.ewmMean(df, Seq("g"), Seq(col("pos")), "x", 0.5),
      () => Ewm.ewmVarStd(df, Seq("g"), Seq(col("pos")), "x", 0.5),
      () => Ewm.ewmCovCorr(df, Seq("g"), Seq(col("pos")), "x", "x", 0.5),
      () => Ewm.ewmTimeMean(ts, Seq("g"), "ts", "x", "1 second"),
      () => Ewm.ewmTimeVarStd(ts, Seq("g"), "ts", "x", "1 second"),
      () => Ewm.ewmTimeCovCorr(ts, Seq("g"), "ts", "x", "x", "1 second"))
    for (call <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("__sw"), e.getMessage)
    }
    val clean = df.drop("__sw")
    val e = intercept[IllegalArgumentException] {
      Ewm.ewmMean(clean, Seq("g"), Seq(col("pos")), "x", 0.5, as = "__m")
    }
    assert(e.getMessage.contains("__m"), e.getMessage)
    assert(Ewm.ewmMean(clean, Seq("g"), Seq(col("pos")), "x", 0.5).columns.toSeq ==
      Seq("g", "pos", "x", "ewm"))
  }
}
