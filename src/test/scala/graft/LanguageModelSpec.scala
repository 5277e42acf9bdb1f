package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LanguageModel

/** Held-out interpolated-Kneser-Ney scoring: a full brute-force replay
  * of the probability algebra (continuation counts, discount mass,
  * uniform OOV floor), the unseen-word/unseen-context paths, and the
  * normalization identity Σ_w p(w|v) = 1 over the padded vocabulary. */
class LanguageModelSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val D = 0.75

  /** Brute-force interpolated-KN from raw token seqs — independent of
    * the operator's SQL shape. */
  private def knModel(train: Seq[Seq[String]]) = {
    val bigrams = train.flatMap(w => w.zip(w.tail))
    val cb = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cl = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tl = cb.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tr = cb.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val b = cb.size.toLong
    val t = cb.keys.map(_._2).toSet.size.toLong
    val v = train.flatten.toSet.size.toLong + 1L
    (p: String, c: String) => {
      val p1 = (math.max(tr.getOrElse(c, 0L).toDouble - D, 0.0)
        + D * t.toDouble / v.toDouble) / b.toDouble
      cl.get(p) match {
        case None => p1
        case Some(n) =>
          (math.max(cb.getOrElse((p, c), 0L).toDouble - D, 0.0)
            + D * tl(p).toDouble * p1) / n.toDouble
      }
    }
  }

  private def lnQ(x: Double): BigDecimal =
    BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  private def loss(w: Seq[String], p: (String, String) => Double): (Long, Double) = {
    val lps = w.zip(w.tail).map { case (a, b) => lnQ(p(a, b)) }
    (lps.size.toLong, -(lps.sum.toDouble) / lps.size)
  }

  test("knNgramLogLoss order=2: brute-force replay incl. unseen word, unseen context") {
    val train = Seq((10L, "a b a b c"), (11L, "b c a b"), (12L, "c a"))
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c a"),     // all seen
      (2L, "a b z"),       // z: unseen word (OOV floor)
      (3L, "z a b"),       // z as context: unseen history -> pure p1
      (4L, "c"),           // single token -> absent
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val model = knModel(Seq("a b a b c", "b c a b", "c a").map(_.split(" ").toSeq))
    val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text", order = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    for ((id, w) <- Seq(1L -> "a b c a", 2L -> "a b z", 3L -> "z a b"))
      assert(got(id) == loss(w.split(" ").toSeq, model), s"doc $id")
    // every probability strictly positive: no NaN/Inf losses
    assert(got.values.forall { case (_, l) => !l.isNaN && !l.isInfinite })
  }

  test("knNgramLogLoss order=2: p(.|v) sums to 1 over the padded vocabulary") {
    val train = Seq("a b a b c", "b c a b", "c a").map(_.split(" ").toSeq)
    val model = knModel(train)
    val vocab = train.flatten.distinct :+ "__oov__"
    for (ctx <- Seq("a", "b", "c", "__unseen_ctx__")) {
      val total = vocab.map(w => model(ctx, w)).sum
      assert(math.abs(total - 1.0) < 1e-12, s"context $ctx sums to $total")
    }
  }

  test("knNgramLogLoss order=2: clean text scores lower than garbled under a clean model") {
    val train = (0 until 50).map(i => (i.toLong, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val score = Seq((1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the")).toDF("doc_id", "text")
    val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text", order = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) < got(2L))
  }

  /** Brute-force trigram KN — independent reconstruction from raw
    * token seqs (type-table continuation counts at both lower levels). */
  private def kn3Model(train: Seq[Seq[String]]) = {
    val tris = train.filter(_.size >= 3)
      .flatMap(w => (0 to w.size - 3).map(i => (w(i), w(i + 1), w(i + 2))))
    val c3 = tris.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c3ctx = c3.toSeq.groupBy { case ((u, v, _), _) => (u, v) }
      .view.mapValues(_.map(_._2).sum).toMap
    val t3 = c3.keys.toSeq.groupBy { case (u, v, _) => (u, v) }
      .view.mapValues(_.size.toLong).toMap
    // .toSeq BEFORE the projection: mapping a key SET would dedupe the
    // (v,w) pairs and undercount N1+(·vw)
    val types2 = c3.keys.toSeq.map { case (_, v, w) => (v, w) }
    val c2 = types2.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c2ctx = c2.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val t2 = c2.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val c1 = c2.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val b = c2.size.toLong
    val t = c2.keys.map(_._2).toSet.size.toLong
    val v = train.flatten.toSet.size.toLong + 1L
    (uu: String, vv: String, ww: String) => {
      val p1 = (math.max(c1.getOrElse(ww, 0L).toDouble - D, 0.0)
        + D * t.toDouble / v.toDouble) / b.toDouble
      val p2 = c2ctx.get(vv) match {
        case None => p1
        case Some(n) => (math.max(c2.getOrElse((vv, ww), 0L).toDouble - D, 0.0)
          + D * t2(vv).toDouble * p1) / n.toDouble
      }
      c3ctx.get((uu, vv)) match {
        case None => p2
        case Some(n) => (math.max(c3.getOrElse((uu, vv, ww), 0L).toDouble - D, 0.0)
          + D * t3((uu, vv)).toDouble * p2) / n.toDouble
      }
    }
  }

  test("knNgramLogLoss order=3: brute-force replay incl. unseen context/middle/word; Σp=1") {
    val trainSeqs = Seq("a b a b c", "b c a b a", "c a b")
    val train = trainSeqs.zipWithIndex.map { case (t, i) => (10L + i, t) }
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c a"),     // seen trigrams
      (2L, "a b z b"),     // z unseen word
      (3L, "z q a b c"),   // (z,q) unseen context, q unseen middle
      (4L, "a b"),         // <3 tokens -> absent
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val model = kn3Model(trainSeqs.map(_.split(" ").toSeq))
    def loss3(w: Seq[String]): (Long, Double) = {
      val lps = (0 to w.size - 3).map(i => lnQ(model(w(i), w(i + 1), w(i + 2))))
      (lps.size.toLong, -(lps.sum.toDouble) / lps.size)
    }
    val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text", order = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    for ((id, t) <- Seq(1L -> "a b c a", 2L -> "a b z b", 3L -> "z q a b c"))
      assert(got(id) == loss3(t.split(" ").toSeq), s"doc $id")
    // normalization: Σ_w p(w|u,v) = 1 over the padded vocab, every context shape
    val vocab = trainSeqs.flatMap(_.split(" ")).distinct :+ "__oov__"
    for ((u, v) <- Seq(("a", "b"), ("b", "c"), ("__x__", "a"), ("__x__", "__y__"))) {
      val tot = vocab.map(w => model(u, v, w)).sum
      assert(math.abs(tot - 1.0) < 1e-12, s"context ($u,$v) sums to $tot")
    }
  }

  test("knNgramLogLoss(by) order=2: == per-group knNgramLogLoss(Nil); modelless/NULL groups drop") {
    val train = Seq(
      ("en", 10L, "a b a b c"), ("en", 11L, "b c a b"),
      ("fr", 20L, "x y x"), ("fr", 21L, "y x y y"),
      (null.asInstanceOf[String], 30L, "a b c")
    ).toDF("lang", "doc_id", "text")
    val score = Seq(
      ("en", 1L, "a b c"), ("fr", 2L, "x y z"),
      ("de", 3L, "a b"),                        // no de model -> absent
      (null.asInstanceOf[String], 4L, "a b")    // NULL group -> absent
    ).toDF("lang", "doc_id", "text")
    val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text",
        order = 2, by = Seq("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(("en", 1L), ("fr", 2L)))
    // each group matches its own ungrouped fit/score exactly
    for (g <- Seq("en", "fr")) {
      val solo = LanguageModel.knNgramLogLoss(
        train.where($"lang" === g), score.where($"lang" === g), "doc_id", "text",
        order = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      solo.foreach { case (id, v) => assert(got((g, id)) == v, s"group $g doc $id") }
    }
  }

  /** Generic order-n brute force — the tower built level from level
    * (keys.toSeq before every projection: a key SET would dedupe and
    * undercount the continuation types). */
  private def knNModel(train: Seq[Seq[String]], n: Int) = {
    var cnts = Map(n -> train.filter(_.size >= n)
      .flatMap(w => (0 to w.size - n).map(i => w.slice(i, i + n)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap)
    var ctxs = Map.empty[Int, Map[Seq[String], Long]]
    var ts = Map.empty[Int, Map[Seq[String], Long]]
    for (k <- n to 2 by -1) {
      ctxs += k -> cnts(k).toSeq.groupBy(_._1.init)
        .view.mapValues(_.map(_._2).sum).toMap
      ts += k -> cnts(k).keys.toSeq.groupBy(_.init)
        .view.mapValues(_.size.toLong).toMap
      if (k > 2) cnts += (k - 1) -> cnts(k).keys.toSeq.map(_.tail)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val c1 = cnts(2).keys.toSeq.map(_.last).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val b = cnts(2).size.toLong
    val t = cnts(2).keys.toSeq.map(_.last).toSet.size.toLong
    val v = train.flatten.toSet.size.toLong + 1L
    (gram: Seq[String]) => {
      require(gram.size == n)
      var p = (math.max(c1.getOrElse(gram.last, 0L).toDouble - D, 0.0)
        + D * t.toDouble / v.toDouble) / b.toDouble
      for (k <- 2 to n) {
        val hk = gram.slice(n - k, n)
        ctxs(k).get(hk.init).foreach { m =>
          p = (math.max(cnts(k).getOrElse(hk, 0L).toDouble - D, 0.0)
            + D * ts(k)(hk.init).toDouble * p) / m.toDouble
        }
      }
      p
    }
  }

  test("knNgramLogLoss order=5: brute-force replay, all backoff depths; Σp=1; clean<garbled") {
    val trainSeqs = Seq("a b c d e a b c d f", "b c d e a b c d e b",
      "c d e a b c", "e a b c d")
    val train = trainSeqs.zipWithIndex.map { case (t, i) => (10L + i, t) }
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c d e a"),   // seen 5-grams
      (2L, "a b c d z e"),   // unseen word mid-stream
      (3L, "z q r s e a b c d e"), // unseen at every context depth
      (4L, "a b c d"),       // <5 tokens -> absent
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val model = knNModel(trainSeqs.map(_.split(" ").toSeq), 5)
    def loss5(w: Seq[String]): (Long, Double) = {
      val lps = (0 to w.size - 5).map(i => lnQ(model(w.slice(i, i + 5))))
      (lps.size.toLong, -(lps.sum.toDouble) / lps.size)
    }
    val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text", order = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    for ((id, t) <- Seq(1L -> "a b c d e a", 2L -> "a b c d z e",
        3L -> "z q r s e a b c d e"))
      assert(got(id) == loss5(t.split(" ").toSeq), s"doc $id")
    // normalization at every backoff shape: Σ_w p(w|h) = 1 over padded vocab
    val vocab = trainSeqs.flatMap(_.split(" ")).distinct :+ "__oov__"
    for (h <- Seq(Seq("a", "b", "c", "d"), Seq("b", "c", "d", "e"),
        Seq("__x__", "b", "c", "d"), Seq("__x__", "__y__", "c", "d"),
        Seq("__x__", "__y__", "__z__", "d"),
        Seq("__x__", "__y__", "__z__", "__w__"))) {
      val tot = vocab.map(w => model(h :+ w)).sum
      assert(math.abs(tot - 1.0) < 1e-12, s"context $h sums to $tot")
    }
    // the CCNet ranking signal survives the depth: clean < shuffled
    val cleanTrain = (0 until 50)
      .map(i => (i.toLong, "the cat sat on the mat by the door"))
      .toDF("doc_id", "text")
    val rank = LanguageModel.knNgramLogLoss(cleanTrain,
      Seq((1L, "the cat sat on the mat by the door"),
        (2L, "door the by mat the on sat cat the")).toDF("doc_id", "text"),
      "doc_id", "text", order = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rank(1L) < rank(2L))
  }

  test("KN state: merged daily states finalize == from-scratch fit; merge order invisible; at-rest round trip") {
    val days = Seq(
      Seq((10L, "a b a b c"), (11L, "b c a b")),
      Seq((20L, "c a d b"), (21L, "a b c c a")),
      Seq((30L, "d a b e"), (31L, "e b a"))).map(_.toDF("doc_id", "text"))
    val score = Seq((1L, "a b c a"), (2L, "a e z b"), (3L, "z d a b"))
      .toDF("doc_id", "text")
    val all = days.reduce(_ unionByName _)
    val direct = LanguageModel.knNgramLogLoss(all, score, "doc_id", "text", order = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val states = days.map(d => LanguageModel.knNgramState(d, "text", order = 2))
    // two different merge trees — integer-sum associativity makes the
    // grouping invisible
    val m1 = LanguageModel.mergeKnNgramStates(
      LanguageModel.mergeKnNgramStates(states(0), states(1)), states(2))
    val m2 = LanguageModel.mergeKnNgramStates(states(0),
      LanguageModel.mergeKnNgramStates(states(2), states(1)))
    for ((m, tag) <- Seq(m1 -> "left-fold", m2 -> "right-fold")) {
      val got = LanguageModel.knNgramScoreWith(
        LanguageModel.knNgramModel(m), score, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == direct, s"$tag merged state != from-scratch fit")
    }
    // at-rest round trip: write day-1+2 state, read, fold day 3 in
    val dir = java.nio.file.Files.createTempDirectory("graft-knstate").toString
    LanguageModel.writeKnNgramState(
      LanguageModel.mergeKnNgramStates(states(0), states(1)), dir)
    val rolled = LanguageModel.mergeKnNgramStates(
      LanguageModel.readKnNgramState(spark, dir), states(2))
    val got = LanguageModel.knNgramScoreWith(
      LanguageModel.knNgramModel(rolled), score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == direct, "at-rest rolled state != from-scratch fit")
    // empty state fails fast like the direct fit
    val e = intercept[IllegalArgumentException] {
      LanguageModel.knNgramModel(LanguageModel.knNgramState(
        Seq((1L, "a")).toDF("doc_id", "text"), "text", order = 2))
    }
    assert(e.getMessage.contains("no 2-grams"))
  }

  test("KnNgramModel: fit-once scoring == fused knNgramLogLoss at orders 2 and 5; write/read round-trips with its order") {
    val train = Seq((10L, "a b c d e a b c d f"), (11L, "b c d e a b c d e b"),
      (12L, "c d e a b c"), (13L, "e a b c d")).toDF("doc_id", "text")
    val score = Seq((1L, "a b c d e a"), (2L, "a b c d z e"),
      (3L, "z q r s e a b c d e"), (4L, "a b"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for (order <- Seq(2, 5)) {
      val fused = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text", order)
      val model = LanguageModel.knNgramFit(train, "text", order)
      assert(model.order == order && model.counts.keySet == (1 to order).toSet &&
        model.contexts.keySet == (2 to order).toSet)
      val fitted = LanguageModel.knNgramScoreWith(model, score, "doc_id", "text")
      assert(fitted.columns.toSeq == fused.columns.toSeq)
      assert(fitted.columns.last == s"kn${order}_loss")
      val want = rows(fused)
      assert(want.nonEmpty)
      assert(rows(fitted) == want, s"order $order: fit-once != fused")
      // every tower table is materialized (a checkpointed RDD scan, not
      // a lineage back to the train frame)
      val tables = (model.counts.values ++ model.contexts.values).toSeq :+ model.totals
      assert(tables.forall(_.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      val dir = java.nio.file.Files.createTempDirectory(s"graft-kn${order}model").toString
      LanguageModel.KnNgramModel.write(model, dir)
      val back = LanguageModel.KnNgramModel.read(spark, dir)
      assert(back.order == order && back.d == model.d)
      assert(rows(LanguageModel.knNgramScoreWith(back, score, "doc_id", "text")) == want,
        s"order $order: read-back model != fused")
    }
    val e = intercept[IllegalArgumentException] {
      LanguageModel.knNgramFit(Seq((1L, "a b")).toDF("doc_id", "text"), "text", 3)
    }
    assert(e.getMessage.contains("no 3-grams"))
  }

  test("order-N KN state: merged daily states == from-scratch knNgramLogLoss; merge order invisible; at-rest round trip (VERDICT r12 #4)") {
    val days = Seq(
      Seq((10L, "a b a b c d e"), (11L, "b c a b d c a")),
      Seq((20L, "c a d b e a c b"), (21L, "a b c c a d e b a")),
      Seq((30L, "d a b e c a b d"), (31L, "e b a c d a b c e"))).map(_.toDF("doc_id", "text"))
    val score = Seq((1L, "a b c a d e b"), (2L, "a e z b c a d"),
      (3L, "z d a b c e a b")).toDF("doc_id", "text")
    val all = days.reduce(_ unionByName _)
    val direct = LanguageModel.knNgramLogLoss(all, score, "doc_id", "text",
        order = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val states = days.map(d => LanguageModel.knNgramState(d, "text", order = 4))
    val m1 = LanguageModel.mergeKnNgramStates(
      LanguageModel.mergeKnNgramStates(states(0), states(1)), states(2))
    val m2 = LanguageModel.mergeKnNgramStates(states(0),
      LanguageModel.mergeKnNgramStates(states(2), states(1)))
    for ((m, tag) <- Seq(m1 -> "left-fold", m2 -> "right-fold")) {
      val got = LanguageModel.knNgramLogLossFromState(m, score, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == direct, s"$tag merged state != from-scratch order-4 fit")
    }
    // at-rest round trip: write day-1+2, read (order from meta), roll day 3
    val dir = java.nio.file.Files.createTempDirectory("graft-kn4state").toString
    LanguageModel.writeKnNgramState(
      LanguageModel.mergeKnNgramStates(states(0), states(1)), dir)
    val rolled = LanguageModel.mergeKnNgramStates(
      LanguageModel.readKnNgramState(spark, dir), states(2))
    assert(rolled.order == 4)
    val got = LanguageModel.knNgramLogLossFromState(rolled, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == direct, "at-rest rolled order-4 state != from-scratch fit")
    // mismatched orders refuse to merge; empty state fails fast
    intercept[IllegalArgumentException] {
      LanguageModel.mergeKnNgramStates(states(0),
        LanguageModel.knNgramState(days(0), "text", order = 3))
    }
    intercept[IllegalArgumentException] {
      LanguageModel.knNgramLogLossFromState(
        LanguageModel.knNgramState(
          Seq((1L, "a b")).toDF("doc_id", "text"), "text", order = 4),
        score, "doc_id", "text")
    }
  }

  test("SB state: merged daily states == from-scratch sbNgramLogLoss; merge order invisible; at-rest round trip (VERDICT r12 #4)") {
    val days = Seq(
      Seq((10L, "a b a b c"), (11L, "b c a b")),
      Seq((20L, "c a d b e"), (21L, "a b c c a")),
      Seq((30L, "d a b e"), (31L, "e b a c d"))).map(_.toDF("doc_id", "text"))
    val score = Seq((1L, "a b c a"), (2L, "a e z b"), (3L, "z d a b c"))
      .toDF("doc_id", "text")
    val all = days.reduce(_ unionByName _)
    val direct = LanguageModel.sbNgramLogLoss(all, score, "doc_id", "text",
        order = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val states = days.map(d => LanguageModel.sbNgramState(d, "text", order = 3))
    val m1 = LanguageModel.mergeSbNgramStates(
      LanguageModel.mergeSbNgramStates(states(0), states(1)), states(2))
    val m2 = LanguageModel.mergeSbNgramStates(states(0),
      LanguageModel.mergeSbNgramStates(states(2), states(1)))
    for ((m, tag) <- Seq(m1 -> "left-fold", m2 -> "right-fold")) {
      val got = LanguageModel.sbNgramLogLossFromState(m, score, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == direct, s"$tag merged SB state != from-scratch fit")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-sb3state").toString
    LanguageModel.writeSbNgramState(
      LanguageModel.mergeSbNgramStates(states(0), states(1)), dir)
    val rolled = LanguageModel.mergeSbNgramStates(
      LanguageModel.readSbNgramState(spark, dir), states(2))
    assert(rolled.order == 3)
    val got = LanguageModel.sbNgramLogLossFromState(rolled, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == direct, "at-rest rolled SB state != from-scratch fit")
  }

  test("knNgramLogLoss(by) == per-group knNgramLogLoss(Nil) at order 3, one and two keys; modelless/NULL groups drop") {
    val train = Seq(
      ("en", 10L, "a b a b c d"), ("en", 11L, "b c a b d"),
      ("fr", 20L, "x y x z y"), ("fr", 21L, "y x y z"),
      ("de", 30L, "p q"), // no trigram -> no order-3 model for de
      (null.asInstanceOf[String], 40L, "a b c d")).toDF("lang", "doc_id", "text")
      .withColumn("half", col("doc_id") % 2)
    val score = Seq(
      ("en", 1L, "a b c a d"), ("fr", 2L, "x y z x y"), ("de", 3L, "p q p"),
      ("zz", 4L, "a b c"),
      (null.asInstanceOf[String], 5L, "a b c")).toDF("lang", "doc_id", "text")
      .withColumn("half", col("doc_id") % 2)
    // de (no trigrams), zz (no train) and the NULL lang must be absent;
    // with (lang, half) a cell's model is fit on that cell's rows only
    val cells = Map(
      Seq("lang") -> Set[Seq[Any]](Seq("en"), Seq("fr")),
      Seq("lang", "half") -> Set[Seq[Any]](Seq("en", 1L), Seq("fr", 0L)))
    for ((by, want) <- cells) {
      val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text",
          order = 3, by = by)
        .collect().map(r => (r.toSeq.take(by.size), r.getLong(by.size)) ->
          ((r.getLong(by.size + 1), r.getDouble(by.size + 2)))).toMap
      assert(got.keySet.map(_._1) == want, s"by $by: ${got.keySet}")
      for (cell <- want) {
        val in = by.zip(cell).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
        val solo = LanguageModel.knNgramLogLoss(train.where(in), score.where(in),
            "doc_id", "text", order = 3)
          .collect().map(r => (cell, r.getLong(0)) ->
            ((r.getLong(1), r.getDouble(2)))).toMap
        assert(got.filter(_._1._1 == cell) == solo, s"by $by: cell $cell diverged")
      }
    }
  }

  test("sbNgramLogLoss(by) == per-group sbNgramLogLoss(Nil); tokenless/NULL groups drop; backoff-only group scores (VERDICT r12 stretch #8)") {
    val train = Seq(
      ("en", 10L, "a b a b c"), ("en", 11L, "b c a b"),
      ("fr", 20L, "x y x z"), ("fr", 21L, "y x y"),
      // de: train doc too short for ANY trigram — SB still models the
      // group through backoff (unlike KN, absence of n-grams ≠ no model)
      ("de", 30L, "p q"),
      (null.asInstanceOf[String], 40L, "a b c d")).toDF("lang", "doc_id", "text")
    val score = Seq(
      ("en", 1L, "a b c a"), ("fr", 2L, "x y z x"), ("de", 3L, "p q p"),
      ("zz", 4L, "a b c"), // no train tokens -> absent
      (null.asInstanceOf[String], 5L, "a b c")).toDF("lang", "doc_id", "text")
    val got = LanguageModel.sbNgramLogLoss(train, score, "doc_id", "text",
        order = 3, by = Seq("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet.map(_._1) == Set("en", "fr", "de"),
      s"zz (no train tokens) and NULL groups must be absent: ${got.keySet}")
    // each group == the ungrouped scorer run on that group alone
    for (g <- Seq("en", "fr")) {
      val want = LanguageModel.sbNgramLogLoss(
        train.where(col("lang") === g), score.where(col("lang") === g),
        "doc_id", "text", order = 3)
        .collect().map(r => (g, r.getLong(0)) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got.filter(_._1._1 == g) == want, s"group $g diverged")
    }
    // de: no trigram table at all, and the score bigram (q,p) is unseen
    // — the transition backs off twice to the unigram level:
    // S = alpha^2 * c1(p)/N with N=2, c1=1
    val (nDe, lossDe) = got(("de", 3L))
    assert(nDe == 1L)
    val sExp = 0.4 * 0.4 * (1.0 / 2.0)
    val lnq = BigDecimal(math.log(sExp)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(math.abs(lossDe - (-lnq.toDouble)) < 1e-12, s"de loss $lossDe")
  }

  test("knNgramLogLoss(by): train frame needs only (group, text) — no score-side id column") {
    val train = Seq(("en", "a b a b c"), ("en", "b c a b"))
      .toDF("lang", "text")
    val score = Seq(("en", 1L, "a b c")).toDF("lang", "doc_id", "text")
    val got = LanguageModel.knNgramLogLoss(train, score, "doc_id", "text",
        order = 2, by = Seq("lang"))
      .collect()
    assert(got.length == 1 && got(0).getLong(2) == 2L)
  }

  /** Brute-force stupid backoff from raw token seqs — independent of
    * the operator's SQL shape (Brants et al. 2007 §4 recursion). */
  private def sbModel(train: Seq[Seq[String]], n: Int, alpha: Double) = {
    val counts: Map[Int, Map[Seq[String], Long]] = (1 to n).map { k =>
      k -> train.flatMap(_.sliding(k).filter(_.size == k))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    val nTok = train.map(_.size).sum.toLong
    def s(g: Seq[String]): Double = {
      val k = g.size
      if (k == 1) counts(1).getOrElse(g, 1L).toDouble / nTok.toDouble
      else counts(k).get(g) match {
        case Some(c) =>
          val ctx = counts(k).collect {
            case (kg, kc) if kg.take(k - 1) == g.take(k - 1) => kc }.sum
          c.toDouble / ctx.toDouble
        case None => alpha * s(g.tail)
      }
    }
    s _
  }

  test("sbNgramLogLoss: brute-force replay — seen, backed-off, OOV; short docs absent") {
    val trainText = Seq("a b a b c", "b c a b", "c a b c a")
    val train = trainText.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c a b"),   // seen trigrams
      (2L, "b a c"),       // unseen trigram "b a c" -> backoff chain
      (3L, "a z b"),       // z: OOV word -> 1/N floor through two alphas
      (4L, "a b"),         // <3 tokens -> absent
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val s = sbModel(trainText.map(_.split(" ").toSeq), 3, 0.4)
    val exp = Map(
      1L -> Seq("a b c a b".split(" ").toSeq),
      2L -> Seq("b a c".split(" ").toSeq),
      3L -> Seq("a z b".split(" ").toSeq)
    ).map { case (id, docs) =>
      val lps = docs.flatMap(_.sliding(3).map(g => lnQ(s(g))))
      id -> ((lps.size.toLong, -(lps.sum.toDouble) / lps.size))
    }
    val got = LanguageModel.sbNgramLogLoss(train, score, "doc_id", "text", order = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    exp.foreach { case (id, (nt, l)) =>
      assert(got(id)._1 == nt, s"doc $id n_trans")
      assert(math.abs(got(id)._2 - l) < 1e-9, s"doc $id loss: got ${got(id)._2} want $l")
    }
  }

  test("sbNgramLogLoss: clean text scores lower than garbled; empty train fails fast") {
    val clean = "the cat sat on the mat and the dog sat on the rug"
    val train = Seq.tabulate(6)(i => (i.toLong, clean)).toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat sat on the rug"),
      (2L, "rug the on mat cat dog the")).toDF("doc_id", "text")
    val got = LanguageModel.sbNgramLogLoss(train, score, "doc_id", "text", order = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) < got(2L), s"clean ${got(1L)} !< garbled ${got(2L)}")
    val e = intercept[IllegalArgumentException] {
      LanguageModel.sbNgramLogLoss(
        Seq((1L, "a b")).toDF("doc_id", "text"), score, "doc_id", "text", order = 3)
    }
    assert(e.getMessage.contains("no 3-grams"))
  }

  test("perplexityBuckets: exact thirds, remainder to tail, ties broken by id") {
    // group "x": 10 docs -> head 3 / middle 3 / tail 4 (3·rn ≤ cnt rule);
    // docs 4..6 share a loss value — rank (hence bucket) decided by id
    val scored = (Seq.tabulate(10) { i =>
      val loss = if (i >= 3 && i <= 5) 2.0 else (i + 1).toDouble
      ("x", i.toLong, loss)
    } ++ Seq(("y", 100L, 1.0), ("y", 101L, 2.0))) // cnt=2: no head (3>2), 1 mid, 1 tail
      .toDF("source", "doc_id", "kn_loss")
    val got = LanguageModel.perplexityBuckets(scored, "source", "doc_id", "kn_loss")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(3)).toMap
    // group x sorted by (loss, id): ids 0(1.0) 3(2.0) 4(2.0) 5(2.0) 1(2.0)?
    // no — id1 has loss 2.0? i=1 -> loss 2.0. Recompute: losses by id:
    // 0->1, 1->2, 2->3, 3->2, 4->2, 5->2, 6->7, 7->8, 8->9, 9->10
    // order: 0(1), then loss-2 ties by id: 1,3,4,5, then 2(3),6,7,8,9
    val expX = Map(0L -> "head", 1L -> "head", 3L -> "head",
      4L -> "middle", 5L -> "middle", 2L -> "middle",
      6L -> "tail", 7L -> "tail", 8L -> "tail", 9L -> "tail")
    expX.foreach { case (id, b) => assert(got(("x", id)) == b, s"doc $id") }
    assert(got(("y", 100L)) == "middle" && got(("y", 101L)) == "tail")
  }

  test("knNgramLogLoss / sbNgramLogLoss: an id or key named like an output column is rejected, not overwritten") {
    val train = Seq(("en", 1L, "a b a b c")).toDF("lang", "doc_id", "text")
    val score = Seq(("en", 2L, "a b c")).toDF("lang", "doc_id", "text")
    def clash(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    // an id named like the loss column: the loss replaced every id
    val knId = score.withColumnRenamed("doc_id", "kn2_loss")
    assert(clash(LanguageModel.knNgramLogLoss(train, knId, "kn2_loss", "text",
      order = 2)).contains("'kn2_loss'"))
    assert(clash(LanguageModel.sbNgramLogLoss(train,
      score.withColumnRenamed("doc_id", "SB2_loss"), "SB2_loss", "text",
      order = 2)).contains("'SB2_loss'"))
    assert(clash(LanguageModel.knNgramScoreWith(
      LanguageModel.knNgramFit(train, "text", order = 2), knId, "kn2_loss",
      "text")).contains("'kn2_loss'"))
    // keys named like n_trans, the loss, the id or each other
    for ((by, name) <- Seq(Seq("n_trans") -> "n_trans", Seq("kn2_loss") -> "kn2_loss",
        Seq("doc_id") -> "doc_id", Seq("lang", "lang") -> "lang")) {
      val t = train.withColumn(by.head, col("lang"))
      val s = score.withColumn(by.head, col("lang"))
      assert(clash(LanguageModel.knNgramLogLoss(t, s, "doc_id", "text",
        order = 2, by = by)).contains(s"'$name'"), s"kn by $by")
    }
    assert(clash(LanguageModel.sbNgramLogLoss(train.withColumn("sb2_loss", col("lang")),
      score.withColumn("sb2_loss", col("lang")), "doc_id", "text", order = 2,
      by = Seq("sb2_loss"))).contains("'sb2_loss'"))
  }

  test("knNgramLogLoss order=2: train without transitions fails fast; empty score is empty") {
    val noTrans = Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val score = Seq((1L, "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LanguageModel.knNgramLogLoss(noTrans, score, "doc_id", "text", order = 2)
    }
    assert(e.getMessage.contains("no 2-grams"))
    val train = Seq((1L, "a b")).toDF("doc_id", "text")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      score.schema)
    assert(LanguageModel.knNgramLogLoss(train, empty, "doc_id", "text", order = 2)
      .count() == 0L)
  }
}
