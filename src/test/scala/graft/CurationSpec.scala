package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Round-4 curation operators: exact n-gram decontamination, duplicate
  * n-gram statistics, repetition metrics, PII scan/redact, stratified
  * exact-k sampling, time-range rolling aggregation. Each operator is
  * pinned against a Scala brute-force oracle on fixtures where every
  * number is hand-checkable. */
class CurationSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  graft.expressions.GraftFunctions.register(spark)

  // ---- NgramOverlap ----

  private def wordGrams(text: String, n: Int): Set[String] = {
    val w = text.split(" ")
    if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toSet
    else Set(w.mkString(" "))
  }

  test("contaminatedDocs == brute-force gram intersection; clean docs absent") {
    val train = Seq(
      (1L, "a b c d e f g"),        // shares "c d e f g" tail with eval 10
      (2L, "x y z w v u t"),        // clean
      (3L, "a b c d e q r"),        // shares "a b c d e"
      (4L, "tiny doc")              // short-doc fallback, no overlap
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (10L, "a b c d e f g h")
    ).toDF("doc_id", "text")

    val got = NgramOverlap.contaminatedDocs(train, eval_, "doc_id", "text",
        n = 5, broadcastEval = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val evalGrams = wordGrams("a b c d e f g h", 5)
    val want = Seq(1L -> "a b c d e f g", 2L -> "x y z w v u t",
        3L -> "a b c d e q r", 4L -> "tiny doc")
      .map { case (id, t) => id -> wordGrams(t, 5).count(evalGrams) }
      .filter(_._2 > 0).toMap
    assert(got == want)
    assert(want.keySet == Set(1L, 3L)) // fixture sanity
  }

  test("contaminatedDocsBloom == contaminatedDocs (verify join kills every false positive); empty eval") {
    val train = Seq(
      (1L, "a b c d e f g"), (2L, "x y z w v u t"),
      (3L, "a b c d e q r"), (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val eval_ = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    val exact = NgramOverlap.contaminatedDocs(train, eval_, "doc_id", "text",
        n = 5, broadcastEval = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = CacheScope.releasing {
      NgramOverlap.contaminatedDocsBloom(train, eval_, "doc_id", "text", n = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(bloom == exact)
    // empty eval side: nothing contaminated, schema intact, no crash on
    // the zero-item Bloom build
    val none = NgramOverlap.contaminatedDocsBloom(train,
      eval_.where(lit(false)), "doc_id", "text", n = 5)
    assert(none.columns.toSeq == Seq("doc_id", "n_hit_grams"))
    assert(none.count() == 0)
  }

  test("duplicateGramStats == brute-force corpus gram frequency") {
    val docs = Seq(
      (1L, "a b c d e f"),   // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e zz"),  // shares "a b c d e"
      (3L, "p q r s t u")    // unique grams
    ).toDF("doc_id", "text")
    val got = NgramOverlap.duplicateGramStats(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val all = Seq(1L -> "a b c d e f", 2L -> "a b c d e zz", 3L -> "p q r s t u")
      .map { case (id, t) => id -> wordGrams(t, 5) }
    val freq = all.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val want = all.map { case (id, gs) =>
      (id, gs.size.toLong, gs.count(g => freq(g) > 1).toLong)
    }.toSet
    assert(got == want)
    assert(want.exists(_._3 > 0)) // fixture sanity: some dup grams exist
  }

  test("shinglesFast (native one-pass) == shingles (HOF) incl. empties, multi-space, short docs") {
    val texts = Seq("a b c d e f g", "a b", "", "x  y z  w q r", "a a a a a a",
      "single", "trailing space ", " leading", "exact five word doc!")
    val d = texts.toDF("text")
    for (n <- Seq(2, 3, 5)) {
      val rows = d.select(
        Dedup.shingles(col("text"), n).as("hof"),
        Dedup.shinglesFast(col("text"), n).as("fast"))
        .collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"n=$n mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    }
    // non-distinct form keeps every occurrence in order
    val nd = Seq("a b a b a").toDF("text")
      .select(Dedup.shinglesFast(col("text"), 2, distinct = false))
      .head().getSeq[String](0)
    assert(nd == Seq("a b", "b a", "a b", "b a"))
  }

  // ---- Repetition ----

  test("repetitionStats: counts, char masses, deterministic tie-break") {
    val docs = Seq(
      (1L, "b b a a c"),     // tie at count 2: 'a' wins over 'b' lexicographically
      (2L, "xx xx xx y")
    ).toDF("doc_id", "text")
    val got = Repetition.repetitionStats(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "top_cnt", "top_token",
        "token_chars", "top_chars")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(got(1L) == ((5L, 3L, 2L, "a", 5L, 2L)))
    assert(got(2L) == ((4L, 2L, 3L, "xx", 7L, 6L)))
  }

  test("topNgramStats: non-distinct bigrams, char masses; short docs drop") {
    val docs = Seq(
      (1L, "a b a b a"),   // bigrams: "a b","b a","a b","b a" -> top 2
      (2L, "solo"),        // no bigrams
      (3L, "x yy x zz")    // "x yy","yy x","x zz": all unique -> dup mass 0
    ).toDF("doc_id", "text")
    val got = Repetition.topNgramStats(docs, "doc_id", "text", n = 2)
      .select("doc_id", "n_grams", "n_distinct_grams", "top_gram_cnt",
        "gram_chars", "dup_gram_chars")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // doc 1: 4 grams of 3 chars each, all repeated -> mass 12, dup mass 12
    // doc 3: "x yy"(4) + "yy x"(4) + "x zz"(4) = 12 chars, none repeated
    assert(got == Map(1L -> ((4L, 2L, 2L, 12L, 12L)),
                      3L -> ((3L, 3L, 1L, 12L, 0L))))
  }

  // ---- Pii ----

  test("winsorize clips into exact quantile bounds; NaN/NULL pass through; derive-once form") {
    // 1..100: p10 = 10.9, p90 = 90.1 (exact linear interpolation)
    val d = ((1 to 100).map(i => Option(i.toDouble)) ++
      Seq(Option(Double.NaN), Option.empty[Double])).toDF("v").repartition(4)
    val bounds = FeatureScaling.winsorizeBounds(d, "v", 0.1, 0.9)
    assert(bounds == Some((10.9, 90.1)), s"got $bounds")
    val w = FeatureScaling.winsorize(d, "v", 0.1, 0.9, "wv")
      .collect().map(r => Option(r.get(0)).map(_.toString) ->
        Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(w(Some("1.0")) == Some(10.9) && w(Some("100.0")) == Some(90.1))
    assert(w(Some("50.0")) == Some(50.0))
    assert(w(Some("NaN")).exists(_.isNaN), "NaN must pass through")
    assert(w(None).isEmpty, "NULL must pass through")
    // all-invalid column: bounds None, output = input cast
    val bad = Seq(Option.empty[Double], Some(Double.NaN)).toDF("v")
    assert(FeatureScaling.winsorizeBounds(bad, "v").isEmpty)
    assert(FeatureScaling.winsorize(bad, "v").count() == 2)
    intercept[IllegalArgumentException] {
      FeatureScaling.winsorizeBounds(d, "v", 0.9, 0.1)
    }
  }

  test("interpolateGrid: cell means, linear and ffill gap fill, all-NaN cells empty, singleton groups") {
    import graft.operators.Resample
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(sec: Long) = new java.sql.Timestamp(base + sec * 1000L)
    val rows = Seq(
      ("u", at(0), 10.0), ("u", at(30), 20.0), // cell 0: mean 15
      ("u", at(190), 45.0),                    // cell 3
      ("u", at(305), Double.NaN),              // cell 5: all-NaN -> EMPTY
      ("u", at(400), 100.0),                   // cell 6
      ("w", at(60), 7.0)                       // singleton group
    ).toDF("user", "ts", "v")
    def run(method: String) =
      Resample.interpolateGrid(rows, Seq("user"), "ts", 60L, "v", method)
        .collect().map(r => (r.getString(0), (r.getTimestamp(1).getTime - base) / 60000L) ->
          ((math.round(r.getDouble(2) * 1e6), r.getBoolean(3)))).toMap
    val lin = run("linear")
    assert(lin(("u", 0L)) == ((15000000L, true)))
    assert(lin(("u", 3L)) == ((45000000L, true)))
    assert(lin(("u", 6L)) == ((100000000L, true)))
    assert(lin(("u", 1L)) == ((25000000L, false)), s"cell1: ${lin(("u", 1L))}")
    assert(lin(("u", 2L)) == ((35000000L, false)))
    // all-NaN cell 5 is EMPTY and interpolated like cell 4
    assert(lin(("u", 4L))._1 == math.round((45.0 + (100.0 - 45.0) / 3) * 1e6))
    assert(lin(("u", 5L))._1 == math.round((45.0 + (100.0 - 45.0) * 2 / 3) * 1e6))
    assert(lin(("w", 1L)) == ((7000000L, true)))
    assert(lin.size == 8, s"grid must span observed cells only: ${lin.keys}")
    val ff = run("ffill")
    assert(ff(("u", 1L)) == ((15000000L, false)) && ff(("u", 2L)) == ((15000000L, false)))
    assert(ff(("u", 4L)) == ((45000000L, false)) && ff(("u", 5L)) == ((45000000L, false)))
    intercept[IllegalArgumentException] {
      Resample.interpolateGrid(rows, Seq("user"), "ts", 60L, "v", "cubic")
    }
  }

  test("rankBy: pandas tie semantics per method; NaN/NULL keep; pct divides by valid count") {
    import graft.operators.GroupByTransform
    // group a values: 10, 20, 20, 30, NaN, NULL -> ranks over 4 valid
    val rows = Seq(
      ("a", Option(10.0)), ("a", Option(20.0)), ("a", Option(20.0)),
      ("a", Option(30.0)), ("a", Option(Double.NaN)), ("a", Option.empty[Double]),
      ("b", Option(5.0))
    ).toDF("k", "v").repartition(3)
    def ranks(method: String, pct: Boolean = false): Map[String, Option[Double]] =
      GroupByTransform.rankBy(rows, Seq("k"), "v", "r", method, pct = pct)
        .collect().map(r => (r.getString(0) + "/" + Option(r.get(1)).fold("null")(_.toString)) ->
          Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    val avg = ranks("average")
    assert(avg("a/10.0") == Some(1.0) && avg("a/30.0") == Some(4.0))
    assert(avg("a/20.0") == Some(2.5), s"tied pair averages: ${avg("a/20.0")}")
    assert(avg("a/NaN").isEmpty && avg("a/null").isEmpty, "NaN/NULL keep -> NULL rank")
    assert(avg("b/5.0") == Some(1.0))
    val mn = ranks("min"); val mx = ranks("max"); val dn = ranks("dense")
    assert(mn("a/20.0") == Some(2.0) && mx("a/20.0") == Some(3.0))
    assert(dn("a/30.0") == Some(3.0), "dense collapses the tie class")
    val pct = ranks("average", pct = true)
    assert(pct("a/20.0") == Some(2.5 / 4.0) && pct("a/30.0") == Some(1.0))
    intercept[IllegalArgumentException] {
      GroupByTransform.rankBy(rows, Seq("k"), "v", "r", method = "first")
    }
  }

  test("shiftBy/diffBy: lag/lead under the explicit order; boundary NULL; NaN positional") {
    import graft.operators.GroupByTransform
    val rows = Seq(
      ("a", 1L, 10.0), ("a", 2L, Double.NaN), ("a", 3L, 30.0),
      ("b", 1L, 7.0)
    ).toDF("k", "pos", "v")
    val ord = Seq(col("pos"))
    val s = GroupByTransform.shiftBy(rows, Seq("k"), ord, "v", 1, "prev")
    val l = GroupByTransform.shiftBy(s, Seq("k"), ord, "v", -1, "next")
    val d = GroupByTransform.diffBy(l, Seq("k"), ord, "v", 1, "dv")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(3)).map(_.toString), Option(r.get(4)).map(_.toString),
          Option(r.get(5)).map(_.toString)))).toMap
    assert(d(("a", 1L)) == ((None, Some("NaN"), None)))           // no prev; next is NaN as-is
    assert(d(("a", 2L)) == ((Some("10.0"), Some("30.0"), Some("NaN")))) // NaN - 10 = NaN
    assert(d(("a", 3L)) == ((Some("NaN"), None, Some("NaN"))))    // 30 - NaN = NaN
    assert(d(("b", 1L)) == ((None, None, None)), "group boundary isolates")
    intercept[IllegalArgumentException] {
      GroupByTransform.shiftBy(rows, Seq("k"), ord, "v", 0)
    }
  }

  test("pctChangeBy: v / lag - 1; boundary NULL; periods > 1") {
    import graft.operators.GroupByTransform
    val rows = Seq(
      ("a", 1L, 10.0), ("a", 2L, 15.0), ("a", 3L, 12.0),
      ("b", 1L, 7.0)
    ).toDF("k", "pos", "v")
    val ord = Seq(col("pos"))
    val got = GroupByTransform.pctChangeBy(rows, Seq("k"), ord, "v", 1, "p")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(got(("a", 1L)).isEmpty)
    assert(got(("a", 2L)).exists(v => math.abs(v.asInstanceOf[Double] - 0.5) < 1e-12))
    assert(got(("a", 3L)).exists(v => math.abs(v.asInstanceOf[Double] - (12.0 / 15.0 - 1)) < 1e-12))
    assert(got(("b", 1L)).isEmpty, "group boundary isolates")
    val p2 = GroupByTransform.pctChangeBy(rows, Seq("k"), ord, "v", 2, "p")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(3))).toMap
    assert(p2(("a", 3L)).exists(v => math.abs(v.asInstanceOf[Double] - 0.2) < 1e-12))
    assert(p2(("a", 2L)).isEmpty)
  }

  test("interpolateTime: interior time-weighted lerp, edges stay NULL, equal-ts guard, valid rows unchanged") {
    import graft.operators.GroupByTransform
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val rows = Seq(
      (1L, "u1", at(0), Double.NaN),   // leading gap: stays NULL
      (2L, "u1", at(10), 10.0),
      (3L, "u1", at(20), Double.NaN),  // 1/3 of the way 10->40
      (4L, "u1", at(40), 40.0),
      (5L, "u1", at(50), Double.NaN),  // trailing gap: stays NULL
      (6L, "u2", at(0), Double.NaN)    // group with no valid values
    ).toDF("event_id", "user", "ts", "v")
    val got = GroupByTransform.interpolateTime(rows, Seq("user"), "ts", "v",
        "iv", tieBreak = Seq(col("event_id")))
      .select("event_id", "iv").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).isEmpty, "leading missing run stays NULL")
    assert(got(2L).contains(10.0))
    assert(got(3L).exists(v => math.abs(v.asInstanceOf[Double] - 20.0) < 1e-9),
      s"lerp at 1/3 of 10->40: ${got(3L)}")
    assert(got(4L).contains(40.0))
    assert(got(5L).isEmpty, "trailing missing run stays NULL")
    assert(got(6L).isEmpty)
    // duplicate-timestamp bound: gap bounded by two valid rows at one ts
    val dup = Seq(
      (1L, "u", at(0), 5.0), (2L, "u", at(0), Double.NaN), (3L, "u", at(0), 9.0)
    ).toDF("event_id", "user", "ts", "v")
    val g2 = GroupByTransform.interpolateTime(dup, Seq("user"), "ts", "v",
        "iv", tieBreak = Seq(col("event_id")))
      .select("event_id", "iv").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(g2(2L).contains(5.0), "t_next == t_prev falls back to the backward value")
  }

  test("covCorrBy: brute-force parity, pairwise deletion, constant column NULL corr") {
    val rows = Seq(
      // group a: perfect positive linear relation -> corr 1
      ("a", 1.0, 10.0), ("a", 2.0, 20.0), ("a", 3.0, 30.0),
      // pairwise deletion: NaN x and NULL y rows drop from BOTH sums
      ("a", Double.NaN, 99.0),
      // group b: y constant -> vy 0 -> corr NULL, cov 0
      ("b", 1.0, 5.0), ("b", 2.0, 5.0), ("b", 3.0, 5.0),
      // group c: anti-correlated pair -> corr -1
      ("c", 1.0, 4.0), ("c", 2.0, 2.0)
    ).toDF("k", "x", "y").repartition(3)
    val got = FeatureScaling.covCorrBy(rows, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    val (na, covA, corrA) = got("a")
    assert(na == 3L, s"NaN row must not count: $na")
    assert(covA.exists(c => math.abs(c - 10.0) < 1e-9)) // cov([1,2,3],[10,20,30]) = 10
    assert(corrA.exists(c => math.abs(c - 1.0) < 1e-12))
    val (nb, covB, corrB) = got("b")
    assert(nb == 3L && covB.exists(c => math.abs(c) < 1e-12) && corrB.isEmpty)
    val (nc, _, corrC) = got("c")
    assert(nc == 2L && corrC.exists(c => math.abs(c + 1.0) < 1e-12))
  }

  test("corrMatrixBy: every pair equals the pairwise covCorrBy call; single aggregate in the plan") {
    val rows = Seq(
      ("a", 1.0, 10.0, 5.0), ("a", 2.0, 20.0, 3.0), ("a", 3.0, 30.0, 8.0),
      ("a", Double.NaN, 99.0, 1.0), // pairwise: drops from x-pairs only
      ("b", 1.0, 5.0, 2.0), ("b", 2.0, 5.0, 4.0), ("b", 3.0, 5.0, 9.0)
    ).toDF("k", "x", "y", "z").repartition(3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getString(2))
    def vals(r: org.apache.spark.sql.Row) =
      (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))
    val matrix = FeatureScaling.corrMatrixBy(rows, Seq("k"), Seq("x", "y", "z"))
    val got = matrix.collect().map(r => key(r) -> vals(r)).toMap
    assert(got.size == 6) // 2 groups x 3 pairs
    for ((cx, cy) <- Seq(("x", "y"), ("x", "z"), ("y", "z"))) {
      val want = FeatureScaling.covCorrBy(rows, Seq("k"), cx, cy)
        .collect().map(r => (r.getString(0), cx, cy) ->
          (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
      want.foreach { case (k, v) => assert(got(k) == v, s"pair $k") }
    }
    // plan pin on an un-repartitioned input (the fixture's repartition(3)
    // adds its own exchange): exactly the one aggregation shuffle
    val flat = Seq(("a", 1.0, 2.0, 3.0)).toDF("k", "x", "y", "z")
    val plan = FeatureScaling.corrMatrixBy(flat, Seq("k"), Seq("x", "y", "z"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"matrix must be ONE aggregation pass:\n$plan")
  }

  test("linregBy: OLS fit vs closed form; constant x NULL slope; constant y r2 NULL with exact fit") {
    val rows = Seq(
      // group a: exact y = 10x -> slope 10, intercept 0, r2 1; NaN dropped
      ("a", 1.0, 10.0), ("a", 2.0, 20.0), ("a", 3.0, 30.0), ("a", Double.NaN, 99.0),
      // group b: constant x -> vertical line, slope/intercept/r2 NULL
      ("b", 2.0, 1.0), ("b", 2.0, 5.0),
      // group c: constant y -> slope 0, intercept = ybar, r2 NULL (0/0)
      ("c", 1.0, 7.0), ("c", 2.0, 7.0), ("c", 3.0, 7.0),
      // group d: noisy fit y = 2x + 1 + {0, -1, +1} -> known sums
      ("d", 1.0, 3.0), ("d", 2.0, 4.0), ("d", 3.0, 8.0)
    ).toDF("k", "x", "y").repartition(3)
    val got = FeatureScaling.linregBy(rows, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    val (na, slA, inA, r2A) = got("a")
    assert(na == 3L)
    assert(slA.exists(v => math.abs(v - 10.0) < 1e-9))
    assert(inA.exists(v => math.abs(v) < 1e-9))
    assert(r2A.exists(v => math.abs(v - 1.0) < 1e-12))
    val (nb, slB, inB, r2B) = got("b")
    assert(nb == 2L && slB.isEmpty && inB.isEmpty && r2B.isEmpty)
    val (nc2, slC, inC, r2C) = got("c")
    assert(nc2 == 3L && slC.exists(v => math.abs(v) < 1e-12))
    assert(inC.exists(v => math.abs(v - 7.0) < 1e-9) && r2C.isEmpty)
    // group d closed form: xbar=2 ybar=5, Sxy=5, Sxx=2 -> slope 2.5,
    // intercept 0, r2 = 25/(2*14) = 0.892857...
    val (nd, slD, inD, r2D) = got("d")
    assert(nd == 3L && slD.exists(v => math.abs(v - 2.5) < 1e-9))
    assert(inD.exists(v => math.abs(v) < 1e-9))
    assert(r2D.exists(v => math.abs(v - 25.0 / 28.0) < 1e-9))
  }

  test("covCorrBy/linregBy/corrMatrixBy: a grouping column named like an internal column fails fast, naming it") {
    val rows = Seq(("a", 1.0, 2.0), ("a", 2.0, 3.0)).toDF("__xn", "x", "y")
    for (call <- Seq[() => Any](
        () => FeatureScaling.covCorrBy(rows, Seq("__xn"), "x", "y"),
        () => FeatureScaling.linregBy(rows, Seq("__xn"), "x", "y"))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("__xn"), e.getMessage)
    }
    val pairKey = rows.withColumnRenamed("__xn", "lx__0_1")
    val e = intercept[IllegalArgumentException] {
      FeatureScaling.corrMatrixBy(pairKey, Seq("lx__0_1"), Seq("x", "y"))
    }
    assert(e.getMessage.contains("lx__0_1"), e.getMessage)
  }

  test("logisticFit: brute-force GD replay; separable data ranks right; NULLs excluded") {
    // y correlates with x1 (value 10 vs 30 scaled /10); x2 constant
    val rows = Seq(
      (0L, Some(10L), 5L), (0L, Some(12L), 5L), (0L, Some(8L), 5L),
      (1L, Some(30L), 5L), (1L, Some(28L), 5L), (1L, Some(33L), 5L),
      (0L, None: Option[Long], 5L) // NULL feature -> excluded
    ).toDF("y", "x1", "x2")
    val feats = Seq(col("x1") -> 10.0, col("x2") -> 10.0)
    val got = FeatureScaling.logisticFit(rows, feats, col("y"), iters = 3, lr = 0.5)
    // brute replay on the 6 valid rows
    val data = Seq((0.0, 1.0, 0.5), (0.0, 1.2, 0.5), (0.0, 0.8, 0.5),
      (1.0, 3.0, 0.5), (1.0, 2.8, 0.5), (1.0, 3.3, 0.5))
    def sq(z: Double): BigDecimal =
      BigDecimal(1.0 / (1.0 + math.exp(-z))).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    var b = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to 3) {
      // gradient sums over exact decimals; raw-x products are exact
      // (x_raw integer), divisor applied after the sum as in the engine
      val rs = data.map { case (y, x1, x2) =>
        (BigDecimal(y) - sq(b(0) + b(1) * x1 + b(2) * x2), x1 * 10, x2 * 10)
      }
      val g0 = rs.map(_._1).sum
      val g1 = rs.map(t => t._1 * t._2.round.toInt).sum
      val g2 = rs.map(t => t._1 * t._3.round.toInt).sum
      b = Array(
        b(0) + 0.5 * (g0.toDouble / 6),
        b(1) + 0.5 * ((g1.toDouble / 10.0) / 6),
        b(2) + 0.5 * ((g2.toDouble / 10.0) / 6))
    }
    assert(got.toSeq == b.toSeq, s"got ${got.toSeq}, want ${b.toSeq}")
    assert(got(1) > 0, "x1 separates the classes, so its weight must be positive")
    // scoring ranks a high-x1 row above a low-x1 row
    val scored = FeatureScaling.logisticScore(rows.where(col("x1").isNotNull), feats, got)
      .collect().map(r => r.getLong(1) -> r.getDecimal(3)).toMap
    assert(scored(30L).compareTo(scored(10L)) > 0)
    intercept[IllegalArgumentException] {
      FeatureScaling.logisticScore(rows, feats, Array(0.0, 1.0))
    }
  }

  test("zscoreBy == brute-force per group; NaN skipped; constant/small groups NULL") {
    val rows = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", Double.NaN),
      ("b", 5.0), ("b", 5.0),   // constant group -> var 0 -> NULL
      ("c", 7.0)                // singleton -> n <= ddof -> NULL
    ).toDF("k", "v").repartition(3)
    val z = FeatureScaling.zscoreBy(rows, Seq("k"), "v", "z")
      .collect().map(r => (r.getString(0), r.getDouble(1).toString) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    // group a: mean 2, sample std 1 -> z = -1, 0, 1; NaN row NULL
    assert(z(("a", "1.0")).exists(x => math.abs(x + 1.0) < 1e-12))
    assert(z(("a", "2.0")).exists(x => math.abs(x) < 1e-12))
    assert(z(("a", "3.0")).exists(x => math.abs(x - 1.0) < 1e-12))
    assert(z(("a", "NaN")).isEmpty)
    assert(z(("b", "5.0")).isEmpty && z(("c", "7.0")).isEmpty)
    intercept[IllegalArgumentException] {
      FeatureScaling.zscoreBy(rows.withColumn("z", lit(1)), Seq("k"), "v", "z")
    }
  }

  test("robustScaleBy: (x - median) / IQR per group; NaN skipped; zero-IQR group NULL") {
    val rows = Seq(
      // group a: 1..5 -> q1=2, med=3, q3=4, IQR=2
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
      ("a", Double.NaN),        // skipped by the quantiles, NULL out
      ("b", 5.0), ("b", 5.0),   // IQR 0 -> NULL
      ("c", 7.0)                // singleton: IQR 0 -> NULL
    ).toDF("k", "v").repartition(3)
    val got = FeatureScaling.robustScaleBy(rows, Seq("k"), "v", "sc")
      .collect().map(r => (r.getString(0), r.getDouble(1).toString) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    for ((x, want) <- Seq(1.0 -> -1.0, 2.0 -> -0.5, 3.0 -> 0.0, 4.0 -> 0.5, 5.0 -> 1.0))
      assert(got(("a", x.toString)).exists(v => math.abs(v - want) < 1e-9),
        s"a/$x: ${got(("a", x.toString))} want $want")
    assert(got(("a", "NaN")).isEmpty)
    assert(got(("b", "5.0")).isEmpty && got(("c", "7.0")).isEmpty)
    intercept[IllegalArgumentException] {
      FeatureScaling.robustScaleBy(rows.withColumn("sc", lit(1)), Seq("k"), "v", "sc")
    }
  }

  test("tfidfTopK: hand-checked scores, rank order, short-vocab docs, corpus-wide terms score 0") {
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common cherry"),
      (3L, "common date date date")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4),
          math.round(r.getDouble(5) * 1e6)))).toMap
    // idf: ln(3)=1.098612, ln(1.5)=0.405465, ln(1)=0
    assert(got((1L, 1L)) == (("apple", 2L, 1L, 2197224L)), s"got ${got((1L, 1L))}")
    assert(got((1L, 2L)) == (("banana", 1L, 2L, 405465L)))
    assert(got((2L, 1L)) == (("cherry", 1L, 1L, 1098612L)))
    assert(got((2L, 2L)) == (("banana", 1L, 2L, 405465L)))
    assert(got((3L, 1L)) == (("date", 3L, 1L, 3295836L)))
    // corpus-wide term: idf 0 -> score 0, still ranked by term asc
    assert(got((3L, 2L)) == (("common", 1L, 3L, 0L)))
    assert(got.size == 6)
    intercept[IllegalArgumentException] {
      TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 0)
    }
  }

  test("gopherFlags: each rule fails on its own fixture; pass is the conjunction; NULL text NULL flags") {
    val stop = "the a of to and in is" // 7 stopword tokens
    def words(n: Int, base: String = "word") = (1 to n).map(i => s"$base$i").mkString(" ")
    val docs = Seq(
      (1L, stop + " " + words(50)),                 // all rules pass (57 words)
      (2L, stop + " " + words(10)),                 // too short (17 words)
      (3L, stop + " " + (1 to 50).map(_ => "ab").mkString(" ")), // mean len < 3
      (4L, stop + " " + words(43) + " ... ... ... ... ... ..."), // 6 symbols, 56 words: 60 >= 56
      (5L, stop + " " + words(39) + " " + (1 to 12).map(_ => "123").mkString(" ")), // 12/58 non-alpha > 20%
      (6L, words(60)),                              // no stopwords
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFlags(docs, "text")
      .select("doc_id", "gopher_words", "gopher_mean_len", "gopher_symbol",
        "gopher_alpha", "gopher_stopword", "gopher_pass")
      .collect().map(r => r.getLong(0) ->
        (1 to 6).map(i => Option(r.get(i)).map(_.asInstanceOf[Boolean]))).toMap
    def bools(xs: Boolean*) = xs.map(Option(_))
    assert(got(1L) == bools(true, true, true, true, true, true), s"doc1: ${got(1L)}")
    assert(got(2L)(0) == Some(false) && got(2L)(5) == Some(false), s"doc2: ${got(2L)}")
    assert(got(3L)(1) == Some(false) && got(3L)(5) == Some(false), s"doc3: ${got(3L)}")
    assert(got(4L)(2) == Some(false) && got(4L)(5) == Some(false), s"doc4: ${got(4L)}")
    assert(got(5L)(3) == Some(false) && got(5L)(5) == Some(false), s"doc5: ${got(5L)}")
    assert(got(6L)(4) == Some(false) && got(6L)(5) == Some(false), s"doc6: ${got(6L)}")
    assert(got(7L).forall(_.isEmpty), s"NULL text must yield NULL flags: ${got(7L)}")
    // rules other than the targeted one stay green on each fixture
    assert(got(2L)(1) == Some(true) && got(3L)(0) == Some(true))
    intercept[IllegalArgumentException] {
      TextAnalysis.gopherFlags(docs.withColumn("gopher_pass", lit(1)), "text")
    }
  }

  test("Pii counts and redaction; non-matching text untouched") {
    val rows = Seq(
      (1L, "call 25-989-741-2988 or mail bob@x.co now"),
      (2L, "server at 10.0.0.1 and 192.168.1.255"),
      (3L, "nothing here")
    ).toDF("id", "text")
    val got = Pii.scan(rows, "text")
      .select("id", "phone_hits", "email_hits", "ip_hits", "redacted")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((1L, 1L, 0L, "call [PII] or mail [PII] now")))
    assert(got(2L) == ((0L, 0L, 2L, "server at [PII] and [PII]")))
    assert(got(3L) == ((0L, 0L, 0L, "nothing here")))
  }

  test("Pii: email-before-phone order consumes phone-shaped local parts whole") {
    val rows = Seq((1L, "reach 12-345-678@corp.io ok")).toDF("id", "text")
    val r = Pii.scan(rows, "text")
      .select("phone_hits", "email_hits", "redacted").head()
    // counts run per pattern on the ORIGINAL text: the span counts twice
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    // redaction consumes the full email first — no orphaned "@corp.io"
    assert(r.getString(2) == "reach [PII] ok")
  }

  test("Pii.scan rejects output-column collisions") {
    val rows = Seq((1L, "x", 9L)).toDF("id", "text", "phone_hits")
    assertThrows[IllegalArgumentException](Pii.scan(rows, "text"))
  }

  // ---- registry skew/kurt ----

  test("skew/kurt: population g1/g2 vs brute force; NaN propagate/skip; constant group NULL") {
    val rows = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 3.0), ("a", 9.0),
      ("b", 4.0), ("b", 4.0), ("b", 4.0),             // constant -> NULL
      ("c", 1.0), ("c", Double.NaN), ("c", 5.0), ("c", 6.0)
    ).toDF("g", "v")
    def brute(xs: Seq[Double], kurt: Boolean): Double = {
      val n = xs.size.toDouble
      val (s1, s2, s3, s4) = (xs.sum, xs.map(x => x * x).sum,
        xs.map(x => x * x * x).sum, xs.map(x => x * x * x * x).sum)
      val m = s1 / n; val m2 = s2 / n - m * m
      if (!kurt) (s3 / n - 3 * m * (s2 / n) + 2 * m * m * m) / math.sqrt(m2 * m2 * m2)
      else (s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n) - 3 * m * m * m * m) / (m2 * m2) - 3
    }
    val got = GroupByReduce.reduce(rows, Seq("g"),
      Seq(Agg("nanskew", "v", "sk"), Agg("nankurt", "v", "ku"), Agg("skew", "v", "skp")))
      .collect().map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    val aXs = Seq(1.0, 2.0, 2.0, 3.0, 9.0)
    assert(got("a") == ((brute(aXs, false), brute(aXs, true), brute(aXs, false))))
    assert(got("b") == ((null, null, null)))  // constant group: m2 == 0
    val cXs = Seq(1.0, 5.0, 6.0)              // nan* skip the NaN
    assert(got("c")._1 == brute(cXs, false) && got("c")._2 == brute(cXs, true))
    assert(got("c")._3.asInstanceOf[Double].isNaN) // plain skew propagates
  }

  // ---- GroupByReduce.valueCounts ----

  test("valueCounts: ranked frequencies, mode-compatible tie-break, NULL dropped") {
    val rows = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "a"), ("g1", "c"),
      ("g2", "z"), ("g2", null)
    ).toDF("grp", "v")
    val got = GroupByReduce.valueCounts(rows, Seq("grp"), "v", 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    // tie at count 2: 'a' before 'b' (count desc, value asc)
    assert(got == Set(("g1", 1, "a", 2L), ("g1", 2, "b", 2L), ("g2", 1, "z", 1L)))
    // k=1 equals the registry's mode on every group
    val k1 = GroupByReduce.valueCounts(rows, Seq("grp"), "v", 1)
      .select("grp", "v").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val mode = GroupByReduce.reduce(rows, Seq("grp"), Seq(Agg("nanmode", "v", "m")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(k1 == mode)
  }

  // ---- Sampling.sampleKPerGroup ----

  private val corpus = (0 until 900).map { i =>
    (i.toLong, s"doc body $i ${(i * 131) % 57}", s"g${i % 3}")
  }.toDF("id", "text", "grp")

  test("sampleKPerGroup: exactly k per group, deterministic under repartitioning") {
    val a = Sampling.sampleKPerGroup(corpus, Seq("grp"), 25,
      Sampling.idKey(col("id")), col("id"), salt = 3)
    val counts = a.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("g0" -> 25L, "g1" -> 25L, "g2" -> 25L))
    val b = Sampling.sampleKPerGroup(corpus.repartition(17), Seq("grp"), 25,
      Sampling.idKey(col("id")), col("id"), salt = 3)
    assert(a.select("id").as[Long].collect().toSet ==
      b.select("id").as[Long].collect().toSet)
  }

  test("sampleKPerGroup: groups smaller than k keep every row; k1 < k2 nests") {
    val small = Seq((1L, "t", "g"), (2L, "t2", "g")).toDF("id", "text", "grp")
    assert(Sampling.sampleKPerGroup(small, Seq("grp"), 10,
      Sampling.idKey(col("id")), col("id")).count() == 2)
    // nesting: the k-smallest-scatter prefix property
    val k5 = Sampling.sampleKPerGroup(corpus, Seq("grp"), 5,
      Sampling.idKey(col("id")), col("id"), salt = 3)
      .select("id").as[Long].collect().toSet
    val k25 = Sampling.sampleKPerGroup(corpus, Seq("grp"), 25,
      Sampling.idKey(col("id")), col("id"), salt = 3)
      .select("id").as[Long].collect().toSet
    assert(k5.subsetOf(k25))
  }

  // ---- Similarity.crossPairs ----

  test("crossPairs == bruteForcePairs restricted to cross-set pairs; broadcast pinned") {
    val e = TestSpark.table("0.01", "embeddings")
    val left  = e.where(col("vec_id") >= 100)
    val right = e.where(col("vec_id") < 100)
    val cross = Similarity.crossPairs(left, right, "vec_id", "embedding", 0.4,
        broadcastRight = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force emits id_a < id_b once per unordered pair; cross-set
    // pairs always have right-id < 100 <= left-id, so (id_a, id_b) maps
    // to (id_r, id_l)
    val brute = Similarity.bruteForcePairs(e, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100 && b >= 100 }
      .map { case (a, b) => (b, a) }.toSet
    assert(cross == brute)
    assert(cross.nonEmpty)
    val p = Similarity.crossPairs(left, right, "vec_id", "embedding", 0.4,
      broadcastRight = true).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), s"eval side should broadcast:\n$p")
  }

  // ---- TextAnalysis.chunkText ----

  test("chunkText: token-budget chunks, rejoin reproduces the document, remainder sized") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // 7 tokens / max 3 -> 3,3,1
      (2L, "x y"),             // 2 tokens -> one chunk
      (3L, "")                 // empty -> one empty chunk
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkText(docs, "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq("a b c", "d e f", "g"))
    assert(got(2L) == Seq("x y"))
    assert(got(3L) == Seq(""))
    // rejoining with single spaces reproduces each document
    assert(got.forall { case (id, chunks) =>
      chunks.mkString(" ") == Seq("a b c d e f g", "x y", "")(id.toInt - 1) })
    // chunk cap holds
    val sizes = TextAnalysis.chunkText(docs, "text", 3)
      .select(size(split(col("chunk"), " "))).collect().map(_.getInt(0))
    assert(sizes.forall(_ <= 3))
  }

  // ---- Sampling.hashSampleWeighted ----

  test("hashSampleWeighted: rate-0 drops, rate-1 keeps, per-row rates within binomial bounds") {
    val n = 4000
    val d = (0 until n).map(i => (i.toLong, s"doc $i", if (i % 2 == 0) 0.9 else 0.1))
      .toDF("id", "text", "r")
    assert(Sampling.hashSampleWeighted(d, Sampling.idKey(col("id")), lit(0.0)).count() == 0)
    assert(Sampling.hashSampleWeighted(d, Sampling.idKey(col("id")), lit(1.0)).count() == n)
    val kept = Sampling.hashSampleWeighted(d, Sampling.idKey(col("id")), col("r"), salt = 9)
      .groupBy("r").count().collect().map(x => x.getDouble(0) -> x.getLong(1)).toMap
    val half = n / 2
    assert(math.abs(kept(0.9) - 0.9 * half) < 5 * math.sqrt(half * 0.9 * 0.1),
      s"rate 0.9 kept ${kept(0.9)} of $half")
    assert(math.abs(kept(0.1) - 0.1 * half) < 5 * math.sqrt(half * 0.1 * 0.9),
      s"rate 0.1 kept ${kept(0.1)} of $half")
    // deterministic under repartitioning
    val a = Sampling.hashSampleWeighted(d, Sampling.idKey(col("id")), col("r"), salt = 9)
      .select("id").as[Long].collect().toSet
    val b = Sampling.hashSampleWeighted(d.repartition(13), Sampling.idKey(col("id")), col("r"), salt = 9)
      .select("id").as[Long].collect().toSet
    assert(a == b)
  }

  // ---- Rolling ----

  test("rollingTime == brute-force trailing window; boundary inclusive; NaN skipped") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val rows = Seq(
      (1L, "u1", at(0), 1.0),
      (2L, "u1", at(30), 2.0),
      (3L, "u1", at(60), 4.0),           // exactly 1h after row 1: included
      (4L, "u1", at(61), Double.NaN),    // NaN skipped from agg, still a row
      (5L, "u1", at(200), 8.0),          // isolated
      (6L, "u2", at(10), 16.0)
    ).toDF("event_id", "user", "ts", "v")
    val got = Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v",
        Seq("count" -> "n", "sum" -> "s", "mean" -> "m", "min" -> "lo", "max" -> "hi"))
      .select("event_id", "n", "s", "lo", "hi")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((1L, 1.0, 1.0, 1.0)))
    assert(got(2L) == ((2L, 3.0, 1.0, 2.0)))
    assert(got(3L) == ((3L, 7.0, 1.0, 4.0)))   // rows 1,2,3: [t-1h, t] inclusive
    assert(got(4L) == ((2L, 6.0, 2.0, 4.0)))   // row 1 aged out; NaN row contributes nothing
    assert(got(5L) == ((1L, 8.0, 8.0, 8.0)))
    assert(got(6L) == ((1L, 16.0, 16.0, 16.0)))
  }

  test("rollingTime: equal timestamps are peers (all aggregated together)") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq((1L, "u", t0, 1.0), (2L, "u", t0, 2.0)).toDF("event_id", "user", "ts", "v")
    val got = Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v",
        Seq("sum" -> "s"))
      .select("event_id", "s").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 3.0, 2L -> 3.0))
  }

  test("rollingRows: n-row trailing frame under explicit total order") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 6).map(i => (i.toLong, "u", t0, i.toDouble))
      .toDF("event_id", "user", "ts", "v") // equal ts: event_id breaks ties
    val got = Rolling.rollingRows(rows, Seq("user"),
        Seq(col("ts"), col("event_id")), 3, "v", Seq("sum" -> "s", "count" -> "n"))
      .select("event_id", "s").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 3.0, 3L -> 6.0, 4L -> 9.0, 5L -> 12.0, 6L -> 15.0))
  }

  test("rolling var/std: 3-term decomposition vs brute force; <= ddof values -> NULL; peers deterministic") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val rows = Seq(
      (1L, "u1", at(0), 1.0),
      (2L, "u1", at(30), 2.0),
      (3L, "u1", at(60), 4.0),
      (4L, "u1", at(61), Double.NaN),   // NaN skipped: frame of rows 2,3
      (5L, "u1", at(200), 8.0),         // singleton frame: n=1 <= ddof -> NULL
      (6L, "u2", at(10), 16.0)
    ).toDF("event_id", "user", "ts", "v")
    val got = Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v",
        Seq("var" -> "vv", "std" -> "sd"))
      .select("event_id", "vv", "sd").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    def sampleVar(xs: Double*): Double = {
      val n = xs.size.toDouble
      val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / (n - 1)
    }
    assert(got(1L) == ((None, None)))                         // n=1
    assert(got(2L)._1.exists(v => math.abs(v.asInstanceOf[Double] - sampleVar(1.0, 2.0)) < 1e-9))
    assert(got(3L)._1.exists(v => math.abs(v.asInstanceOf[Double] - sampleVar(1.0, 2.0, 4.0)) < 1e-9))
    assert(got(4L)._1.exists(v => math.abs(v.asInstanceOf[Double] - sampleVar(2.0, 4.0)) < 1e-9))
    assert(got(4L)._2.exists(s => math.abs(s.asInstanceOf[Double] - math.sqrt(sampleVar(2.0, 4.0))) < 1e-9))
    assert(got(5L) == ((None, None)))
    // equal timestamps are peers: both rows see the same 2-value variance
    val t0 = at(0)
    val peers = Rolling.rollingTime(
      Seq((1L, "u", t0, 1.0), (2L, "u", t0, 3.0)).toDF("event_id", "user", "ts", "v"),
      Seq("user"), "ts", "1 hour", "v", Seq("var" -> "vv"))
      .select("event_id", "vv").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(peers(1L) == peers(2L) && math.abs(peers(1L) - 2.0) < 1e-9)
  }

  test("rolling skew/kurt: population g1/g2 vs brute force; constant frame NULL; NaN skipped") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val rows = Seq(
      (1L, "u1", at(0), 1.0),
      (2L, "u1", at(20), 2.0),
      (3L, "u1", at(40), 7.0),
      (4L, "u1", at(50), Double.NaN),  // skipped: frame = {1,2,7}
      (5L, "u1", at(59), 4.0),         // frame = {1,2,7,4}
      (6L, "u2", at(0), 5.0),
      (7L, "u2", at(10), 5.0)          // constant 2-frame -> m2=0 -> NULL
    ).toDF("event_id", "user", "ts", "v")
    val got = Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v",
        Seq("skew" -> "sk", "kurt" -> "ku"))
      .select("event_id", "sk", "ku").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    def g1g2(xs: Double*): (Double, Double) = {
      val n = xs.size.toDouble; val m = xs.sum / n
      def mom(k: Int) = xs.map(x => math.pow(x - m, k)).sum / n
      (mom(3) / math.pow(mom(2), 1.5), mom(4) / (mom(2) * mom(2)) - 3)
    }
    for ((id, frame) <- Seq(2L -> Seq(1.0, 2.0), 3L -> Seq(1.0, 2.0, 7.0),
        4L -> Seq(1.0, 2.0, 7.0), 5L -> Seq(1.0, 2.0, 7.0, 4.0))) {
      val (wantS, wantK) = g1g2(frame: _*)
      assert(got(id)._1.exists(v => math.abs(v.asInstanceOf[Double] - wantS) < 1e-9),
        s"skew row $id: ${got(id)._1} want $wantS")
      assert(got(id)._2.exists(v => math.abs(v.asInstanceOf[Double] - wantK) < 1e-9),
        s"kurt row $id: ${got(id)._2} want $wantK")
    }
    assert(got(1L) == ((None, None)), "singleton frame: m2=0 -> NULL")
    assert(got(7L) == ((None, None)), "constant frame: m2=0 -> NULL")
  }

  test("rolling cov/corr/slope: pairwise-complete vs brute force; epoch-scale y survives centering") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // y at epoch-seconds magnitude (~1.7e9): without the per-group
    // centering the frame sums of y^2 (~3e18) would cancel away the
    // ~1e3-sized variance; with it the result matches brute force (which
    // centers too) to 1e-9
    def ysec(min: Long): Double = 1.7e9 + min * 60.0
    val rows = Seq(
      (1L, "u1", at(0), 1.0, ysec(0)),
      (2L, "u1", at(30), 2.0, ysec(30)),
      (3L, "u1", at(60), 4.0, ysec(55)),
      (4L, "u1", at(61), Double.NaN, ysec(61)),     // x NaN: pair excluded
      (5L, "u1", at(80), 5.0, Double.NaN),          // y NaN: pair excluded
      (6L, "u1", at(200), 8.0, ysec(200)),          // singleton -> all NULL
      (7L, "u2", at(0), 3.0, ysec(0)),              // constant-y frame ...
      (8L, "u2", at(10), 7.0, ysec(0))              // ... cov ok, corr/slope NULL
    ).toDF("event_id", "user", "ts", "x", "y")
    val got = Rolling.covCorrTime(rows, Seq("user"), "ts", "1 hour", "x", "y",
        asSlope = Some("sl"), scaleX = None, scaleY = None)
      .select("event_id", "rolling_cov", "rolling_corr", "sl").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    def brute(pairs: (Double, Double)*): (Double, Option[Double], Option[Double]) = {
      val n = pairs.size.toDouble
      val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
      val cxy = pairs.map(p => (p._1 - mx) * (p._2 - my)).sum
      val m2x = pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val m2y = pairs.map(p => (p._2 - my) * (p._2 - my)).sum
      (cxy / (n - 1),
        if (m2x > 0 && m2y > 0) Some(cxy / math.sqrt(m2x * m2y)) else None,
        if (m2y > 0) Some(cxy / m2y) else None)
    }
    def check(id: Long, pairs: (Double, Double)*): Unit = {
      val (wc, wr, ws) = brute(pairs: _*)
      assert(got(id)._1.exists(v => math.abs(v.asInstanceOf[Double] - wc) < 1e-9),
        s"cov row $id: ${got(id)._1} want $wc")
      (got(id)._2, wr) match {
        case (Some(a), Some(b)) => assert(math.abs(a.asInstanceOf[Double] - b) < 1e-9, s"corr row $id")
        case (None, None)       =>
        case other              => fail(s"corr row $id: $other")
      }
      (got(id)._3, ws) match {
        case (Some(a), Some(b)) => assert(math.abs(a.asInstanceOf[Double] - b) < 1e-9, s"slope row $id")
        case (None, None)       =>
        case other              => fail(s"slope row $id: $other")
      }
    }
    val (p1, p2, p3) = ((1.0, ysec(0)), (2.0, ysec(30)), (4.0, ysec(55)))
    assert(got(1L) == ((None, None, None)), "singleton frame all NULL")
    check(2L, p1, p2)
    check(3L, p1, p2, p3)
    check(4L, p2, p3)                // own pair invalid, frame = valid pairs of rows 2,3
    check(5L, p2, p3)                // y-NaN row: same frame
    assert(got(6L) == ((None, None, None)))
    check(8L, (3.0, ysec(0)), (7.0, ysec(0)))  // cov=0, corr/slope NULL
  }

  test("rolling cov: rows frame + exact decimal path matches the double path on 2-decimal data") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 8).map(i =>
        (i.toLong, "u", t0, (i * 7 % 5) + i * 0.25, ((i * 3) % 4).toDouble))
      .toDF("event_id", "user", "ts", "x", "y")
    def run(sx: Option[Int], sy: Option[Int]) =
      Rolling.covCorrRows(rows, Seq("user"), Seq(col("ts"), col("event_id")), 4,
          "x", "y", asSlope = Some("sl"), scaleX = sx, scaleY = sy)
        .select("event_id", "rolling_cov", "rolling_corr", "sl").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toSeq
    val exact = run(Some(2), Some(2)); val dbl = run(None, None)
    exact.zip(dbl).foreach { case ((id, c1, r1, s1), (_, c2, r2, s2)) =>
      def close(a: Option[Any], b: Option[Any]): Boolean = (a, b) match {
        case (Some(x), Some(y)) =>
          math.abs(x.asInstanceOf[Double] - y.asInstanceOf[Double]) < 1e-9
        case (None, None) => true
        case _            => false
      }
      assert(close(c1, c2) && close(r1, r2) && close(s1, s2), s"row $id: $c1/$c2 $r1/$r2 $s1/$s2")
    }
  }

  test("runningQuantileApprox: expanding GK sketch honors the rank band; NaN skipped; all-invalid NULL") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // 400 rows, one group: a shuffled-ish deterministic sequence; with
    // accuracy=50 (eps=2%) the sketch must stay within ±(n/50 + 1) ranks
    // of the target at every prefix
    val rows = (1 to 400).map(i =>
        (i.toLong, "u", t0, if (i % 19 == 3) Double.NaN else ((i * 73) % 101).toDouble))
      .toDF("event_id", "user", "ts", "v")
    val got = Rolling.runningQuantileApprox(rows.repartition(7), Seq("user"),
        Seq(col("ts"), col("event_id")), "v", 0.5, 50, "aq")
      .select("event_id", "aq").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val prefix = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to 400) {
      val x = if (i % 19 == 3) Double.NaN else ((i * 73) % 101).toDouble
      if (!x.isNaN) prefix += x
      val n = prefix.size
      if (n == 0) assert(got(i.toLong).isEmpty, s"row $i: empty prefix must be NULL")
      else {
        val a = prefix.sorted
        val h = (n - 1) * 0.5
        val tol = n.toDouble / 50 + 1
        val lo = a(math.max(0, math.floor(h - tol).toInt))
        val hi = a(math.min(n - 1, math.ceil(h + tol).toInt))
        val v = got(i.toLong).getOrElse(fail(s"row $i: missing"))
        assert(v >= lo && v <= hi, s"row $i: $v outside rank band [$lo, $hi] (n=$n)")
        assert(a.contains(v), s"row $i: sketch must return an actual frame element")
      }
    }
    // all-invalid group
    val nan = Seq((1L, "g", t0, Double.NaN)).toDF("event_id", "user", "ts", "v")
    assert(Rolling.runningQuantileApprox(nan, Seq("user"),
      Seq(col("event_id")), "v", 0.5, 50, "aq").select("aq").head().isNullAt(0))
  }

  test("rollingTime rejects unsupported funcs and month windows") {
    val rows = Seq((1L, "u", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("event_id", "user", "ts", "v")
    assertThrows[IllegalArgumentException](
      Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v", Seq("mode" -> "x")))
    assertThrows[IllegalArgumentException](
      Rolling.rollingTime(rows, Seq("user"), "ts", "1 month", "v", Seq("sum" -> "x")))
    assertThrows[IllegalArgumentException](
      Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v", Seq("quantile:1.5" -> "x")))
  }

  test("rolling median/quantile: quantile_cont interpolation vs brute force; NaN skipped; empty frame NULL") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val rows = Seq(
      (1L, "u1", at(0), 4.0),
      (2L, "u1", at(20), 1.0),
      (3L, "u1", at(40), 3.0),
      (4L, "u1", at(50), Double.NaN),  // skipped: frame = {4,1,3}
      (5L, "u1", at(90), 2.0),         // frame = {3,2} (rows 1,2 aged out)
      (6L, "u2", at(0), Double.NaN)    // all-NaN frame -> NULL
    ).toDF("event_id", "user", "ts", "v")
    def qcont(q: Double, xs: Double*): Double = {
      val a = xs.sorted; val h = (a.size - 1) * q
      val lo = h.toInt; val hi = math.ceil(h).toInt
      a(lo) + (h - lo) * (a(hi) - a(lo))
    }
    val got = Rolling.rollingTime(rows, Seq("user"), "ts", "1 hour", "v",
        Seq("median" -> "med", "quantile:0.25" -> "q25"))
      .select("event_id", "med", "q25").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    for ((id, frame) <- Seq(1L -> Seq(4.0), 2L -> Seq(4.0, 1.0),
        3L -> Seq(4.0, 1.0, 3.0), 4L -> Seq(4.0, 1.0, 3.0), 5L -> Seq(3.0, 2.0))) {
      assert(got(id)._1.exists(v => math.abs(v.asInstanceOf[Double] - qcont(0.5, frame: _*)) < 1e-12),
        s"median row $id: ${got(id)._1} want ${qcont(0.5, frame: _*)}")
      assert(got(id)._2.exists(v => math.abs(v.asInstanceOf[Double] - qcont(0.25, frame: _*)) < 1e-12),
        s"q25 row $id: ${got(id)._2} want ${qcont(0.25, frame: _*)}")
    }
    assert(got(6L) == ((None, None)), "all-NaN frame -> NULL quantiles")
  }

  test("aucScore equals brute-force pair counting with ties; degenerate label -> NULL") {
    import spark.implicits._
    // scores with heavy ties across both classes
    val rows = Seq(
      (1.0, true), (1.0, false), (2.0, true), (2.0, true), (2.0, false),
      (3.0, false), (4.0, true), (4.0, false), (4.0, false), (5.0, true),
      (0.5, false), (0.5, true))
    val df = rows.toDF("s", "y")
    val r = FeatureScaling.aucScore(df, col("s"), col("y")).head()
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val brute = (for { p <- pos; n <- neg } yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum / (pos.size * neg.size)
    assert(r.getLong(0) == pos.size && r.getLong(1) == neg.size)
    assert(math.abs(r.getDouble(2) - brute) < 1e-15,
      s"auc ${r.getDouble(2)} != brute $brute")
    // one-class input: AUC undefined -> NULL, counts still reported
    val one = FeatureScaling.aucScore(
      Seq((1.0, true), (2.0, true)).toDF("s", "y"), col("s"), col("y")).head()
    assert(one.getLong(0) == 2 && one.getLong(1) == 0 && one.isNullAt(2))
    // perfect separation -> 1.0
    val perfect = FeatureScaling.aucScore(
      Seq((9.0, true), (8.0, true), (1.0, false)).toDF("s", "y"),
      col("s"), col("y")).head()
    assert(perfect.getDouble(2) == 1.0)
  }

  test("aucScore distinct-score guard trips on a raw high-cardinality score; quantized passes") {
    import spark.implicits._
    // 5000 distinct raw doubles: a continuous score with no quantization
    val raw = (0 until 5000).map(i => (i * 0.000137 + 1.0 / (i + 3), i % 2 == 0))
      .toDF("s", "y")
    val ex = intercept[IllegalArgumentException] {
      FeatureScaling.aucScore(raw, col("s"), col("y"), maxDistinctScores = 1000)
    }
    assert(ex.getMessage.contains("distinct scores"), ex.getMessage)
    // quantizing to 2 decimals collapses cardinality under the bound
    assert(!FeatureScaling.aucScore(raw, round(col("s"), 2), col("y"),
      maxDistinctScores = 1000).head().isNullAt(2))
    // maxDistinctScores = 0 disables the guard (documented escape hatch)
    assert(!FeatureScaling.aucScore(raw, col("s"), col("y"),
      maxDistinctScores = 0).head().isNullAt(2))
  }

  test("aucScore(by) equals per-group aucScore(Nil); per-group guard uses the worst group") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1.0, true), ("a", 1.0, false), ("a", 2.0, true), ("a", 3.0, false),
      ("a", 2.0, false), ("b", 5.0, true), ("b", 4.0, false), ("b", 5.0, false),
      ("b", 6.0, true), ("c", 1.0, true), ("c", 2.0, true)) // c: one class
    val df = rows.toDF("src", "s", "y")
    val by = FeatureScaling.aucScore(df, col("s"), col("y"), Seq("src"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    for (g <- Seq("a", "b", "c")) {
      val solo = FeatureScaling.aucScore(
        df.where(col("src") === g), col("s"), col("y")).head()
      val want = (solo.getLong(0), solo.getLong(1),
        if (solo.isNullAt(2)) None else Some(solo.getDouble(2)))
      assert(by(g) == want, s"group $g: ${by(g)} != $want")
    }
    // the guard keys off the WORST group's distinct count
    val skew = ((0 until 50).map(i => ("hot", i * 1.0 + 0.5, i % 2 == 0))
      :+ (("cold", 1.0, true))).toDF("src", "s", "y")
    intercept[IllegalArgumentException] {
      FeatureScaling.aucScore(skew, col("s"), col("y"), Seq("src"),
        maxDistinctScores = 10)
    }
    assert(FeatureScaling.aucScore(skew, col("s"), col("y"), Seq("src"),
      maxDistinctScores = 50).count() == 2)
  }

  test("corrMatrixSpearmanBy: monotone map gives rho 1 where Pearson < 1; average ranks match brute") {
    import spark.implicits._
    val df = (1 to 20).map(i =>
      ("g", i.toDouble, math.pow(i.toDouble, 3), (i % 5).toDouble))
      .toDF("g", "x", "y", "z")
    def corrOf(m: org.apache.spark.sql.DataFrame): Map[(String, String), Double] =
      m.collect().map(r => (r.getString(1), r.getString(2)) -> r.getDouble(5)).toMap
    val sp = corrOf(FeatureScaling.corrMatrixSpearmanBy(df, Seq("g"), Seq("x", "y", "z")))
    val pe = corrOf(FeatureScaling.corrMatrixBy(df, Seq("g"), Seq("x", "y", "z")))
    assert(sp(("x", "y")) == 1.0, s"monotone x->x^3 must give rho 1, got ${sp(("x", "y"))}")
    assert(pe(("x", "y")) < 0.95, s"cubic Pearson should be < 1, got ${pe(("x", "y"))}")
    // brute average-rank Pearson for the tie-heavy (x, z) pair
    def avgRanks(v: Seq[Double]): Seq[Double] =
      v.map(x => v.count(_ < x) + (v.count(_ == x) + 1) / 2.0)
    val (xs, zs) = ((1 to 20).map(_.toDouble), (1 to 20).map(i => (i % 5).toDouble))
    val (rx, rz) = (avgRanks(xs), avgRanks(zs))
    val n = rx.size.toDouble
    val (mx, mz) = (rx.sum / n, rz.sum / n)
    val cov = rx.zip(rz).map { case (a, b) => (a - mx) * (b - mz) }.sum / (n - 1)
    val (vx, vz) = (rx.map(a => (a - mx) * (a - mx)).sum / (n - 1),
      rz.map(b => (b - mz) * (b - mz)).sum / (n - 1))
    val brute = cov / math.sqrt(vx * vz)
    assert(math.abs(sp(("x", "z")) - brute) < 1e-9,
      s"tie-averaged rho ${sp(("x", "z"))} != brute $brute")
    // NaN/NULL rows drop LISTWISE: injecting a NaN into z removes that
    // whole row from every pair's rank set
    val dfn = df.withColumn("z",
      when(col("x") === 1.0, lit(Double.NaN)).otherwise(col("z")))
    val spn = corrOf(FeatureScaling.corrMatrixSpearmanBy(dfn, Seq("g"), Seq("x", "y", "z")))
    assert(spn(("x", "y")) == 1.0)
    val want19 = FeatureScaling.corrMatrixSpearmanBy(
      df.where(col("x") =!= 1.0), Seq("g"), Seq("x", "y", "z"))
    assert(corrOf(want19) == spn, "listwise deletion must equal pre-filtered input")
  }

  test("apScore: sklearn step definition (classic example), ties atomic, brute parity; grouped == per-group") {
    import spark.implicits._
    def bruteAp(rows: Seq[(Double, Boolean)]): Double = {
      val nPos = rows.count(_._2)
      var prevTp = 0; var ap = 0.0
      for (s <- rows.map(_._1).distinct.sorted(Ordering[Double].reverse)) {
        val tp = rows.count(r => r._1 >= s && r._2)
        val pp = rows.count(r => r._1 >= s)
        ap += (tp - prevTp).toDouble / nPos * (tp.toDouble / pp)
        prevTp = tp
      }
      ap
    }
    // the sklearn docs example: y=[0,0,1,1], scores=[0.1,0.4,0.35,0.8] -> 0.8333...
    val classic = Seq((0.1, false), (0.4, false), (0.35, true), (0.8, true))
    val r = FeatureScaling.apScore(classic.toDF("s", "y"), col("s"), col("y")).head()
    assert(math.abs(r.getDouble(2) - (0.5 + 1.0 / 3.0)) < 1e-9, s"ap=${r.getDouble(2)}")
    // heavy ties across both classes — the tie block moves atomically
    val tied = Seq(
      (1.0, true), (1.0, false), (2.0, true), (2.0, true), (2.0, false),
      (3.0, false), (4.0, true), (4.0, false), (4.0, false), (5.0, true),
      (0.5, false), (0.5, true))
    val rt = FeatureScaling.apScore(tied.toDF("s", "y"), col("s"), col("y")).head()
    assert(rt.getLong(0) == tied.count(_._2) && rt.getLong(1) == tied.count(!_._2))
    assert(math.abs(rt.getDouble(2) - bruteAp(tied)) < 1e-9)
    // perfect separation -> 1.0; all-positive -> 1.0; no positives -> NULL
    assert(FeatureScaling.apScore(
      Seq((9.0, true), (8.0, true), (1.0, false)).toDF("s", "y"),
      col("s"), col("y")).head().getDouble(2) == 1.0)
    assert(FeatureScaling.apScore(
      Seq((1.0, true), (2.0, true)).toDF("s", "y"),
      col("s"), col("y")).head().getDouble(2) == 1.0)
    assert(FeatureScaling.apScore(
      Seq((1.0, false), (2.0, false)).toDF("s", "y"),
      col("s"), col("y")).head().isNullAt(2))
    // grouped == per-group solo; guard trips on the worst group
    val g = (tied.map { case (s, y) => ("a", s, y) }
      ++ classic.map { case (s, y) => ("b", s, y) }).toDF("src", "s", "y")
    val by = FeatureScaling.apScore(g, col("s"), col("y"), Seq("src"))
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(math.abs(by("a") - bruteAp(tied)) < 1e-9)
    assert(math.abs(by("b") - bruteAp(classic)) < 1e-9)
    intercept[IllegalArgumentException] {
      FeatureScaling.apScore(
        (0 until 50).map(i => (i * 1.37, i % 2 == 0)).toDF("s", "y"),
        col("s"), col("y"), maxDistinctScores = 10)
    }
  }
}
