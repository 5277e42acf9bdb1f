package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MultiModal, TextAnalysis}

class TextMultiModalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Reference rolling fold over a string's code points for one
    * (base, mod) family of `GraftFunctions.FpFamilies` — what
    * `fingerprintFast` and the fused pair/triple must compute. */
  private def codePointFp(s: String, family: (Long, Long)): Long = {
    val (base, mod) = family
    s.codePoints().toArray.foldLeft(0L)((acc, cp) => (acc * base + cp) % mod)
  }

  private val fpFamilies = graft.expressions.GraftFunctions.FpFamilies

  // the fingerprint pins' inputs: empty, ASCII, BMP unicode, a long run
  // and a supplementary-plane character (one code point, two UTF-16 units)
  private val fpInputs = Seq("", "ab", "hello world", "café 中文 text", "a" * 500, "a😀b")

  test("tokensRegex splits letter runs, digit runs, single symbols") {
    val r = Seq("abc12 de,f").toDF("text")
      .select(TextAnalysis.tokensRegex(col("text"))).head().getSeq[String](0)
    assert(r == Seq("abc", "12", "de", ",", "f"))
  }

  test("stopwordHits and tokenChars") {
    val d = Seq("the cat of a hat").toDF("text")
      .select(TextAnalysis.tokens(col("text")).as("w"))
    assert(d.select(TextAnalysis.stopwordHits(col("w"))).head().getInt(0) == 3) // the, of, a
    assert(d.select(TextAnalysis.tokenChars(col("w"))).head().getLong(0) == 12L)
  }

  test("langId: marker majority wins, alphabetical tie-break, und for no markers") {
    val d = Seq(
      "the cat and the dog",   // en markers
      "der hund und die katze",// de markers
      "xyz qqq zzz",           // no markers -> und
      "the le"                 // en 1 vs fr 1 -> tie -> de? no: alphabetical first *winner* is de(0)... en and fr tie at 1 -> en (alphabetically before fr)
    ).toDF("text")
    val r = d.select(TextAnalysis.langId(TextAnalysis.tokens(col("text")))).collect().map(_.getString(0)).toSeq
    assert(r == Seq("en", "de", "und", "en"))
  }

  test("fingerprint is the exact rolling polynomial hash, ignoring split artifacts") {
    graft.expressions.GraftFunctions.register(spark)
    def scalaFp(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % 1000000007L)
    val inputs = Seq("ab", "hello world", "key agg row")
    val got = inputs.toDF("text")
      .select(TextAnalysis.fingerprintFast(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(got == inputs.map(scalaFp))
    // off the BMP the fold steps once per code point, not per UTF-16 unit
    val astral = Seq("a😀b").toDF("text")
      .select(TextAnalysis.fingerprintFast(col("text"))).head().getLong(0)
    assert(astral == codePointFp("a😀b", fpFamilies.head))
    assert(astral != scalaFp("a😀b"), "a surrogate pair must fold as one code point")
  }

  test("nfcNormalize: decomposed == composed, ASCII passthrough, NULL stays NULL") {
    graft.expressions.GraftFunctions.register(spark)
    val rows = Seq(
      (1L, "café"),          // composed é
      (2L, "café"),         // decomposed e + combining acute
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L) == rows(2L), "NFC must collapse composed/decomposed")
    assert(rows(1L).get == "café")
    assert(rows(3L).get == "plain ascii")
    assert(rows(4L).isEmpty)
  }

  test("hashedBigramCounts: fold-mod buckets, zero rows for short/NULL docs") {
    graft.expressions.GraftFunctions.register(spark)
    def scalaFp(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % 1000000007L)
    val B = 8
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "one"),                       // <2 tokens -> all-zero counts
      (3L, null.asInstanceOf[String]))   // NULL -> all-zero counts
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id") +:
        TextAnalysis.hashedBigramCounts(col("text"), B): _*)
      .collect().map(r => r.getLong(0) -> (1 to B).map(r.getLong)).toMap
    val w = "the cat sat on the mat".split(" ")
    val exp = w.zip(w.tail).map { case (a, b) => scalaFp(s"$a $b") % B }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    (0 until B).foreach { h =>
      assert(got(1L)(h) == exp.getOrElse(h.toLong, 0L), s"bucket $h")
    }
    assert(got(1L).sum == 5L, "six tokens -> five bigrams")
    assert(got(2L).forall(_ == 0L) && got(3L).forall(_ == 0L))
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedBigramCounts(col("text"), 1)
    }
  }

  test("decodePartitioned: per-partition decode slot appends the decoded column") {
    import graft.operators.MultiModal
    val d = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
      .withColumn("media", MultiModal.fakePayload(col("doc_id"), col("text")))
      .repartition(2)
    val r = MultiModal.decodePartitioned(d, "media", "mean_byte")
      .select("doc_id", "mean_byte").collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == ("abc".map(_.toInt).sum.toDouble / 3))
    assert(r(2L) == 0.0)
    // custom decode closure slots in without changing anything else
    val custom = MultiModal.decodePartitioned(d, "media", "n_bytes", b => b.length.toDouble)
      .select("doc_id", "n_bytes").collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(custom(1L) == 15.0 && custom(2L) == 12.0) // 12-byte header + body
  }

  // The next two names keep the deleted higher-order-function folds so their
  // test ids stay stable; the reference is now the Scala code-point fold.
  test("fingerprintFast (native codegen loop) equals the HOF fingerprint, incl. empty and BMP unicode") {
    graft.expressions.GraftFunctions.register(spark)
    val rows = fpInputs.toDF("text")
      .select(col("text"), TextAnalysis.fingerprintFast(col("text")).as("fast"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == codePointFp(r.getString(0), fpFamilies.head),
      s"fp mismatch: $r"))
  }

  test("fingerprint2Fast equals the HOF fingerprint2 (second fold family)") {
    graft.expressions.GraftFunctions.register(spark)
    // the second family is the pair's second fold
    val rows = fpInputs.toDF("text").select(
      col("text"),
      TextAnalysis.fingerprintFast(col("text")).as("f1"),
      call_function(graft.expressions.GraftFunctions.RollingFpPair, col("text")).as("p"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](2)(1) == codePointFp(r.getString(0), fpFamilies(1)),
      s"fp2 mismatch: $r"))
    // the first two families disagree on non-trivial text (independent folds)
    assert(rows.filter(_.getString(0).nonEmpty)
      .exists(r => r.getLong(1) != r.getSeq[Long](2)(1)))
  }

  test("fused RollingFpPair/Triple equal the standalone folds per family (one char pass)") {
    graft.expressions.GraftFunctions.register(spark)
    val rows = fpInputs.toDF("text").select(
      col("text"),
      call_function(graft.expressions.GraftFunctions.RollingFpPair, col("text")).as("p"),
      call_function(graft.expressions.GraftFunctions.RollingFpTriple, col("text")).as("t"))
      .collect()
    rows.foreach { r =>
      val folds = fpFamilies.map(codePointFp(r.getString(0), _))
      assert(r.getSeq[Long](1) == folds.take(2), s"pair mismatch: $r")
      assert(r.getSeq[Long](2) == folds, s"triple mismatch: $r")
    }
  }

  test("langIdNgram containment form equals the gram-set intersection form") {
    val texts = Seq("the singing lion", "schneller under ich", "ab", "", "que los cios nte",
      "the les ent ion que")
    val d = texts.toDF("text")
    // the original formulation: materialize distinct trigrams, intersect
    val viaSets = d.select(TextAnalysis.LangNgramProfiles.map { case (lang, profile) =>
      size(array_intersect(TextAnalysis.charNgrams(col("text"), 3),
        array(profile.map(lit): _*))).as(lang)
    }: _*).collect().map(_.toSeq)
    val viaContains = d.select(TextAnalysis.LangNgramProfiles.map { case (lang, profile) =>
      profile.map(g => when(col("text").contains(lit(g)), 1).otherwise(0)).reduce(_ + _).as(lang)
    }: _*).collect().map(_.toSeq)
    assert(viaSets.toSeq == viaContains.toSeq)
    // NULL text stays NULL (not "und") under the containment form
    val nullRow = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(TextAnalysis.langIdNgram(col("text"))).head()
    assert(nullRow.isNullAt(0))
    assert(d.select(TextAnalysis.charNgrams(col("text"), 3)).head().getSeq[String](0)
      == Seq("the", "he ", "e s", " si", "sin", "ing", "ngi", "gin", "ing", "ng ", "g l", " li", "lio", "ion").distinct)
  }

  test("qualityScore: integer formula with clipped parts") {
    // "the a x": 2 stopword hits of 3 tokens -> floor(600*2*5/3)=2000 -> clip 600; len 7
    val r = Seq("the a x").toDF("text")
      .select(TextAnalysis.qualityScore(col("text"))).head().getLong(0)
    assert(r == 600L + 7L)
  }

  test("embedMean: exact per-dim means in long format") {
    val d = Seq(
      (0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)), (1, Seq(2.0f, 2.0f))
    ).toDF("label", "embedding")
    val r = MultiModal.embedMean(d, Seq("label"), "embedding")
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(2)).toMap
    assert(r == Map((0, 0) -> 2.0, (0, 1) -> 4.0, (1, 0) -> 2.0, (1, 1) -> 2.0))
  }

  test("embedMeanAgg (TypedImperativeAggregate) equals the posexplode plan, incl. real data") {
    val d = Seq(
      (0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)), (1, Seq(2.0f, 2.0f))
    ).toDF("label", "embedding")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(2)).toMap
    assert(collect(MultiModal.embedMeanAgg(d, Seq("label"), "embedding"))
      == collect(MultiModal.embedMean(d, Seq("label"), "embedding")))
    val e = TestSpark.table("0.01", "embeddings").repartition(7)
    assert(collect(MultiModal.embedMeanAgg(e, Seq("label"), "embedding"))
      == collect(MultiModal.embedMean(e, Seq("label"), "embedding")))
  }

  test("embedNormStats: rms and max norms from exact integer squared norms") {
    val d = Seq(
      (0, Seq(3.0f, 4.0f)),  // norm 5
      (0, Seq(0.0f, 5.0f)),  // norm 5
      (1, Seq(1.0f, 0.0f))
    ).toDF("label", "embedding")
    val r = MultiModal.embedNormStats(d, Seq("label"), "embedding")
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(0)._1 == 2L)
    assert(math.abs(r(0)._2 - 5.0) < 1e-9)
    assert(math.abs(r(0)._3 - 5.0) < 1e-9)
    assert(math.abs(r(1)._2 - 1.0) < 1e-9)
  }

  test("fakePayload/parseMeta round-trip recovers typed metadata from binary") {
    val d = Seq((5L, "hello")).toDF("doc_id", "text")
      .withColumn("media", MultiModal.fakePayload(col("doc_id"), col("text")))
      .withColumn("meta", MultiModal.parseMeta(col("media")))
    val m = d.select("meta.magic", "meta.width", "meta.height", "meta.body_bytes").head()
    assert(m.getString(0) == "IMG1")
    assert(m.getInt(1) == 5 * 16 + 8)   // doc_id%64 * 16 + 8
    assert(m.getInt(2) == 5 * 16 + 8)   // doc_id%48 * 16 + 8
    assert(m.getInt(3) == 5)            // "hello"
    val b = d.select(MultiModal.fakeDecodeBrightness(col("meta"))).head().getInt(0)
    assert(b == (88 * 88) % 256)
  }

  test("resizeMeta fits maxDim preserving aspect, never upscales") {
    val d = Seq((100L, "x")).toDF("doc_id", "text") // width 8+ (100%64)*16 = 584, height (100%48)*16+8 = 72
      .withColumn("meta", MultiModal.parseMeta(MultiModal.fakePayload(col("doc_id"), col("text"))))
      .withColumn("rs", MultiModal.resizeMeta(col("meta"), 256))
    val r = d.select("rs.width", "rs.height", "rs.scale").head()
    assert(r.getInt(0) == 256)                       // long side clamps to maxDim
    assert(r.getInt(1) == (72 * 256.0 / 584).toInt)  // aspect preserved, floor
    val small = Seq((0L, "x")).toDF("doc_id", "text") // 8x8 -> untouched
      .withColumn("meta", MultiModal.parseMeta(MultiModal.fakePayload(col("doc_id"), col("text"))))
      .select(MultiModal.resizeMeta(col("meta"), 256).getField("scale")).head().getDouble(0)
    assert(small == 1.0)
  }

  test("frameSample yields stride-spaced indices capped below nFrames") {
    val r = Seq(10, 1, 4).toDF("n")
      .select(MultiModal.frameSample(col("n"), stride = 4)).collect().map(_.getSeq[Int](0))
    assert(r(0) == Seq(0, 4, 8))
    assert(r(1) == Seq(0))
    assert(r(2) == Seq(0))
  }

  test("tokenEntropy: closed-form values; constant doc 0; singleton/NULL-text contracts") {
    val docs = Seq((1L, "a a b b"), (2L, "c c c"), (3L, "a"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // H("a a b b") = ln 4 - (2 ln 2 + 2 ln 2)/4 = ln 2 (quantization <= 1e-6)
    val (n1, d1, h1) = got(1L)
    assert(n1 == 4L && d1 == 2L && h1.exists(v => math.abs(v - math.log(2)) < 1e-4))
    val (n2, d2, h2) = got(2L)
    assert(n2 == 3L && d2 == 1L && h2.exists(v => math.abs(v) < 1e-4))
    val (n3, _, h3) = got(3L)
    assert(n3 == 1L && h3.isEmpty)          // single token: no distribution
    assert(!got.contains(4L))               // NULL text drops
  }

  test("unigramLogLoss: corpus-MLE cross-entropy closed form; rare vocab scores higher") {
    // corpus: N = 5; counts a=2, b=2, c=1
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogLoss(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val (n1, l1) = got(1L)   // ln 5 - (3 ln 2)/3 = ln 2.5
    assert(n1 == 3L && math.abs(l1 - math.log(2.5)) < 1e-4)
    val (n2, l2) = got(2L)   // ln 5 - (ln 2 + ln 1)/2
    assert(n2 == 2L && math.abs(l2 - (math.log(5) - math.log(2) / 2)) < 1e-4)
    assert(l2 > l1)          // the rare-token doc is more surprising
  }

  test("dsirScores matches a brute-force two-model replay and ranks target-like docs higher") {
    graft.expressions.GraftFunctions.register(spark)
    val B = 16
    val docs = Seq(
      (1L, "apple banana apple cherry", true),
      (2L, "apple cherry banana", false),  // pure target vocabulary
      (3L, "dog emu dog dog fox", false),  // disjoint vocabulary
      (4L, "apple dog", false)             // mixed
    ).toDF("doc_id", "text", "tgt")
    // brute replay in Scala: same fingerprint buckets (read back from the
    // registered expression), add-one smoothing, ln quantized half-up to
    // the 1e-6 grid, exact decimal sum
    def lnQ(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val toks = docs.select(col("doc_id"), col("tgt"),
        explode(split(col("text"), " ")).as("t"))
      .withColumn("b", TextAnalysis.fingerprintFast(col("t")) % B)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(3)))
    val ct = toks.filter(_._2).groupBy(_._3).view.mapValues(_.size).toMap
    val cb = toks.filterNot(_._2).groupBy(_._3).view.mapValues(_.size).toMap
    val (nt, nb) = (toks.count(_._2), toks.count(!_._2))
    def llr(b: Long): BigDecimal =
      lnQ((ct.getOrElse(b, 0) + 1).toDouble / (nt + B)) -
        lnQ((cb.getOrElse(b, 0) + 1).toDouble / (nb + B))
    val want = toks.filterNot(_._2).groupBy(_._1).map { case (id, ts) =>
      id -> (ts.size.toLong, ts.map(t => llr(t._3)).sum.toDouble)
    }
    val got = TextAnalysis.dsirScores(docs, "doc_id", "text", col("tgt"), B)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want)
    assert(got(2L)._2 > got(4L)._2 && got(4L)._2 > got(3L)._2,
      s"expected target-vocab > mixed > disjoint, got $got")
  }

  test("bm25TopK: brute-force parity on a tiny corpus, drops and ties") {
    val docs = Seq(
      (1L, "cat dog cat"),          // tf(cat)=2, short
      (2L, "cat dog bird fish emu fox hen owl"), // tf(cat)=1, long
      (3L, "dog dog dog"),          // no query term -> dropped
      (4L, "cat"),                  // tf=1, shortest
      (5L, null.asInstanceOf[String]), // NULL text -> dropped
      (6L, "cat dog cat")           // identical to doc 1 -> tie, id order
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("cat"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // brute replay: N=5 (null drops), df=4, avgdl=(3+8+3+1+3)/5
    val N = 5.0; val df = 4.0
    val avgdl = (3 + 8 + 3 + 1 + 3).toDouble / N
    def lnQ(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def score(tf: Double, dl: Double): Double =
      BigDecimal(lnQ(1.0 + (N - df + 0.5) / (df + 0.5)).toDouble *
        ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Seq(
      (4L, score(1, 1)), (1L, score(2, 3)), (6L, score(2, 3)), (2L, score(1, 8)))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (id, i + 1L, 1L, s) }
    assert(got.toSeq == want)
    // rows 3 and 5 are absent; matched counts multi-term hits
    val multi = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("cat", "fish"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(multi(2L) == 2L) // cat + fish
  }

  test("bigramLogLoss: brute-force JM-interpolated replay; context beats unigram") {
    val docs = Seq(
      (1L, "a b a b a b"),   // stock transitions
      (2L, "b a b a b a"),   // same vocabulary, same transitions reversed
      (3L, "a a b b a b"),   // rarer transitions (a a, b b)
      (4L, "c"),             // single token -> absent
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val toks = Seq("a b a b a b", "b a b a b a", "a a b b a b", "c")
      .map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.flatten.size.toDouble
    val bi = toks.flatMap(w => w.zip(w.tail)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    def lnQ(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def loss(w: Seq[String]): Double = {
      val lps = w.zip(w.tail).map { case (p, c) =>
        lnQ(0.75 * (bi((p, c)).toDouble / uni(p).toDouble) + 0.25 * (uni(c).toDouble / n))
      }
      -(lps.sum.toDouble) / lps.size
    }
    val got = TextAnalysis.bigramLogLoss(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    for ((id, w) <- Seq(1L -> toks(0), 2L -> toks(1), 3L -> toks(2)))
      assert(got(id) == ((w.size - 1).toLong, loss(w)), s"doc $id")
    // the bigram filter separates doc 3 (odd transitions) from 1 and 2
    assert(got(3L)._2 > got(1L)._2 && got(3L)._2 > got(2L)._2)
  }

  test("chunkTextOverlap: stride windows share context; exact start count; edge cases") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b"), (3L, "x"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.chunkTextOverlap(docs, "text", maxTokens = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // len 7, m=4, s=2 -> starts 0,2,4,6 (1 + ceil(3/2) = 3? no: 1+2=3 starts? check: ceil((7-4)/2)=2 -> 3 starts: 0,2,4)
    assert(got(1L) == Seq("a b c d", "c d e f", "e f g"))
    assert(got(2L) == Seq("a b")) // shorter than window -> 1 chunk
    assert(got(3L) == Seq("x"))
    assert(!got.contains(4L)) // NULL text emits nothing
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkTextOverlap(docs, "text", maxTokens = 4, stride = 5)
    }
  }

  test("heavyHitters: exact result under sketch pruning, any partitioning") {
    // 40 distinct rare tokens vs capacity 8 forces MG decrements; the
    // composed operator must still return the exact filtered counts
    val rare = (1 to 40).map(i => s"r$i")
    val texts = Seq.fill(30)("hot hot warm") ++ rare.map(t => s"$t warm") ++
      Seq(null.asInstanceOf[String])
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // n = 30*3 + 40*2 = 170 tokens; hot=60, warm=70, each r_i=1
    // phi=0.2 -> threshold ceil(34) = 34 -> {warm:70, hot:60}
    def run(parts: Int) =
      TextAnalysis.heavyHitters(docs.repartition(parts), "text", capacity = 8, phi = 0.2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(("warm", 70L, 34L), ("hot", 60L, 34L))
    assert(run(1) == want)
    assert(run(7) == want)
    assert(run(32) == want)
    // guarantee precondition is enforced at build time
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(docs, "text", capacity = 8, phi = 0.1)
    }
  }

  test("heavyHitters(by): per-group exact results with per-group thresholds") {
    val docs = Seq(
      ("en", "hot hot hot cold"), ("en", "hot warm"),
      ("de", "kalt kalt"), ("de", "kalt warm x1 x2 x3 x4 x5 x6 x7 x8 x9")
    ).toDF("lang", "text")
    // en: n=6, hot=4, threshold ceil(1.8)=2 -> {hot:4}
    // de: n=13, kalt=3, threshold ceil(3.9)=4 -> {} (kalt just misses)
    val got = TextAnalysis.heavyHitters(docs, "text",
        capacity = 6, phi = 0.3, by = Seq("lang"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("en", "hot", 4L, 2L)))
    // lower phi admits kalt with ITS group's threshold
    val got2 = TextAnalysis.heavyHitters(docs, "text",
        capacity = 6, phi = 0.2, by = Seq("lang"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got2.contains(("de", "kalt")) && got2.contains(("en", "hot")))
  }

  test("graft_mg raw sketch: undercount bound and merge truncation") {
    graft.expressions.GraftFunctions.register(spark)
    // stream with known counts: a=50, b=30, then 25 distinct singletons
    val toks = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++
      (1 to 25).map(i => s"x$i")).zipWithIndex
      .map { case (t, i) => (t, i.toLong) }.toDF("t", "i")
    val n = 105.0
    for (parts <- Seq(1, 6)) {
      val rows = toks.repartition(parts)
        .selectExpr("graft_mg(t, 4) AS mg").head()
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.size <= 4, s"capacity respected, got $rows")
      // MG bound: estimate in [true - n/(k+1), true]; a and b clear it
      assert(rows.contains("a") && rows("a") >= 50 - n / 5 && rows("a") <= 50)
      assert(rows.contains("b") && rows("b") >= 30 - n / 5 && rows("b") <= 30)
    }
  }
}
