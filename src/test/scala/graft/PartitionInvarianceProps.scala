package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.operators.{Agg, GroupByReduce, GroupByScan}

/** The reference's numpy-vs-dask equivalence invariant
  * (tests/test_properties.py:150-180) in Spark terms: for random data,
  * every registry reduction/scan must produce IDENTICAL results on a
  * 1-partition and an 8-partition DataFrame. Values are integral doubles
  * (plus NaN) so sums are FP-exact and equality can be bitwise — any
  * partial-aggregation order dependence fails loudly.
  */
object PartitionInvarianceProps extends Properties("PartitionInvariance") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val genRow: Gen[(Int, Double)] = for {
    label <- Gen.choose(0, 4)
    v <- Gen.frequency(
      (8, Gen.choose(-50, 50).map(_.toDouble)),
      (2, Gen.const(Double.NaN)))
  } yield (label, v)

  private val genData: Gen[List[(Int, Double)]] =
    Gen.nonEmptyListOf(genRow)

  private val reductionAggs = Seq(
    Agg("count", "v", "a1"), Agg("sum", "v", "a2"), Agg("nansum", "v", "a3"),
    Agg("mean", "v", "a4"), Agg("nanmean", "v", "a5"),
    Agg("var", "v", "a6"), Agg("nanvar", "v", "a7", ddof = 1),
    Agg("std", "v", "a8"), Agg("nanstd", "v", "a9"),
    Agg("min", "v", "a10"), Agg("nanmin", "v", "a11"),
    Agg("max", "v", "a12"), Agg("nanmax", "v", "a13"),
    Agg("first", "v", "a14"), Agg("last", "v", "a15"),
    Agg("nanfirst", "v", "a16"), Agg("nanlast", "v", "a17"),
    Agg("argmin", "v", "a18"), Agg("argmax", "v", "a19"),
    Agg("nanargmin", "v", "a20"), Agg("nanargmax", "v", "a21"),
    Agg("median", "v", "a22"), Agg("nanmedian", "v", "a23"),
    Agg("nanquantile", "v", "a24", q = Seq(0.25, 0.9)),
    Agg("mode", "v", "a25"), Agg("nanmode", "v", "a26"),
    Agg("nansum", "v", "a27", minCount = 3),
    Agg("topk", "v", "a28", k = 3))

  private def toDf(data: List[(Int, Double)]) =
    data.zipWithIndex.map { case ((l, v), i) => (l, v, i.toLong) }
      .toDF("label", "v", "pos")

  private def rows(df: org.apache.spark.sql.DataFrame, aggs: Seq[Agg]) =
    GroupByReduce.reduce(df, Seq("label"), aggs, pos = Some(col("pos")))
      .collect().map(_.toSeq.map {
        case d: Double if d.isNaN => "NaN" // NaN != NaN; normalize for comparison
        case x => x
      }).toSeq

  property("every reduction: 1 partition == 8 partitions") = forAll(genData) { data =>
    val df = toDf(data)
    rows(df.coalesce(1), reductionAggs) == rows(df.repartition(8), reductionAggs)
  }

  property("every scan: 1 partition == 8 partitions") = forAll(genData) { data =>
    val df = toDf(data)
    GroupByScan.scanNames.forall { func =>
      def run(d: org.apache.spark.sql.DataFrame) =
        GroupByScan.scan(d, "v", Seq("label"), func, Seq(col("pos")), "r")
          .select("pos", "r").collect()
          .map(r => r.getLong(0) -> (r.get(1) match {
            case d: Double if d.isNaN => "NaN"
            case x => x
          })).toMap
      run(df.coalesce(1)) == run(df.repartition(8))
    }
  }

  // r3 dtype views (bool int-view, timestamp micros-view): the same
  // invariant must hold through the view + cast-back layers — decimal
  // sums keep timestamp means order-independent even though raw micros
  // sums exceed 2^53.
  property("bool + timestamp views: 1 partition == 8 partitions") = forAll(genData) { data =>
    val df = data.zipWithIndex.map { case ((l, v), i) =>
      (l, !v.isNaN && v > 0, new java.sql.Timestamp(1700000000000L + (i.toLong * 997993) % 86400000), i.toLong)
    }.toDF("label", "b", "ts", "pos")
    val aggs = Seq(
      Agg("sum", "b", "a1"), Agg("mean", "b", "a2"), Agg("nanvar", "b", "a3", ddof = 1),
      Agg("nanmean", "ts", "a4"), Agg("nanmedian", "ts", "a5"),
      Agg("nanmin", "ts", "a6"), Agg("nanvar", "ts", "a7"))
    rows(df.coalesce(1), aggs) == rows(df.repartition(8), aggs)
  }

  property("exactScale sums are identical under any partitioning") = forAll(genData) { data =>
    // fractional values whose double sums WOULD be order-dependent
    val df = toDf(data.map { case (l, v) => (l, if (v.isNaN) 0.01 else v + 0.01) })
    val aggs = Seq(Agg("nansum", "v", "s", exactScale = Some(2)),
      Agg("mean", "v", "m", exactScale = Some(2)))
    rows(df.coalesce(1), aggs) == rows(df.repartition(8), aggs)
  }

  // r6 transforms: rank (tie classes — no total order needed), shift/
  // diff (explicit total order), zscore (decimal power sums) must all be
  // partition-invariant; values integral so every comparison is bitwise.
  property("transforms (rank/shift/diff/zscore): 1 partition == 8 partitions") =
    forAll(genData) { data =>
      import graft.operators.{FeatureScaling, GroupByTransform}
      val df = toDf(data)
      def run(d: org.apache.spark.sql.DataFrame) =
        FeatureScaling.zscoreBy(
          GroupByTransform.diffBy(
            GroupByTransform.shiftBy(
              GroupByTransform.rankBy(d, Seq("label"), "v", "rk"),
              Seq("label"), Seq(col("pos")), "v", 1, "sh"),
            Seq("label"), Seq(col("pos")), "v", 1, "df_"),
          Seq("label"), "v", "z")
          .select("pos", "rk", "sh", "df_", "z").collect()
          .map(r => r.getLong(0) -> r.toSeq.drop(1).map {
            case d: Double if d.isNaN => "NaN"
            case x => x
          }).toMap
      run(df.coalesce(1)) == run(df.repartition(8))
    }

  // r7: the state/merge/winner operators must be partition-invariant too
  // — AggState by exact decimal sums, upsert by the total-order
  // max-struct, heavyHitters because the MG sketch only PRUNES and the
  // verify recount is exact.
  property("aggState/upsert/heavyHitters: 1 partition == 8 partitions") =
    forAll(genData) { data =>
      import graft.operators.{AggState, TextAnalysis, Upsert}
      val df = toDf(data)
      def states(d: org.apache.spark.sql.DataFrame) =
        AggState.finalize(AggState.merge(
            AggState.state(d.withColumn("part", col("pos") % 3),
              Seq("label", "part"), "v", scale = 0), Seq("label")), ddof = 1)
          .collect().map(r => r.getInt(0) -> r.toSeq.drop(1).map {
            case d0: Double if d0.isNaN => "NaN"
            case x => x
          }).toMap
      def winners(d: org.apache.spark.sql.DataFrame) =
        Upsert.latestByOrder(d, Seq("label"), Seq(col("v"), col("pos")))
          .collect().map(r => r.getInt(0) -> ((r.getDouble(1).toString, r.getLong(2)))).toMap
      def hitters(d: org.apache.spark.sql.DataFrame) =
        TextAnalysis.heavyHitters(
          d.select(concat(lit("t"), col("label"),
            lit(" x"), (col("pos") % 2).cast("string")).as("text")),
          "text", capacity = 3, phi = 0.3)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val one = df.coalesce(1); val eight = df.repartition(8)
      states(one) == states(eight) && winners(one) == winners(eight) &&
        hitters(one) == hitters(eight)
    }

  // r12 continuation: stupid-backoff scoring (per-level count tables +
  // broadcast totals), perplexity bucketing (rank arithmetic), and the
  // hashed bigram bag (row-local, but its FIT consumers aggregate) must
  // all be partition-invariant — counts are exact integers, ranks are
  // id-tiebroken, every sum is decimal-exact.
  private val genDocs: Gen[List[String]] = {
    val word = Gen.oneOf("a", "b", "c", "dd", "eee")
    Gen.nonEmptyListOf(Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
  }

  property("sb loss / ccnet buckets / hashed bigrams: 1 partition == 8 partitions") =
    forAll(genDocs) { texts =>
      import graft.operators.{LanguageModel, TextAnalysis}
      graft.expressions.GraftFunctions.register(spark)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val hasTrigram = texts.zipWithIndex.exists { case (t, i) =>
        i % 2 == 0 && t.split(" ").count(_.nonEmpty) >= 3 }
      def sb(d: org.apache.spark.sql.DataFrame) =
        if (!hasTrigram) Map.empty[Long, (Long, Double)]
        else LanguageModel.sbNgramLogLoss(
            d.where(col("doc_id") % 2 === 0),
            d.where(col("doc_id") % 2 === 1), "doc_id", "text", order = 3)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      def buckets(d: org.apache.spark.sql.DataFrame) =
        LanguageModel.perplexityBuckets(
            d.select((col("doc_id") % 3).as("g"), col("doc_id"),
              length(coalesce(col("text"), lit(""))).cast("double").as("l")),
            "g", "doc_id", "l")
          .collect().map(r => (r.getLong(1), r.getString(3))).toMap
      def hashed(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id") +:
            TextAnalysis.hashedBigramCounts(col("text"), 4): _*)
          .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
      val one = df.coalesce(1); val eight = df.repartition(8)
      sb(one) == sb(eight) && buckets(one) == buckets(eight) &&
        hashed(one) == hashed(eight)
    }

  // r13: the grouped SB scorer and both order-N merged-state paths —
  // every table is an exact integer count, every join keyed, so the
  // result cannot depend on physical partitioning OR on which side of a
  // state split a document landed
  property("grouped SB / order-N merged states: 1 partition == 8 partitions == split states") =
    forAll(genDocs) { texts =>
      import graft.operators.LanguageModel
      val df = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, if (i % 3 == 0) "en" else "fr", t) }
        .toDF("doc_id", "lang", "text")
      def sbBy(d: org.apache.spark.sql.DataFrame) =
        LanguageModel.sbNgramLogLoss(
            d.where(col("doc_id") % 2 === 0),
            d.where(col("doc_id") % 2 === 1), "doc_id", "text",
            order = 2, by = Seq("lang"))
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getDouble(3)))).toMap
      val hasBigram = texts.zipWithIndex.exists { case (t, i) =>
        i % 2 == 0 && t.split(" ").count(_.nonEmpty) >= 2 }
      def knState(d: org.apache.spark.sql.DataFrame) =
        if (!hasBigram) Map.empty[Long, (Long, Double)]
        else {
          val train = d.where(col("doc_id") % 2 === 0)
          val merged = LanguageModel.mergeKnNgramStates(
            LanguageModel.knNgramState(
              train.where(col("doc_id") % 4 === 0), "text", order = 2),
            LanguageModel.knNgramState(
              train.where(col("doc_id") % 4 === 2), "text", order = 2))
          LanguageModel.knNgramLogLossFromState(merged,
              d.where(col("doc_id") % 2 === 1), "doc_id", "text")
            .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        }
      val one = df.coalesce(1); val eight = df.repartition(8)
      sbBy(one) == sbBy(eight) && knState(one) == knState(eight)
    }

  property("sq8 fit + topk: 1 partition == 8 partitions") = {
    val genVecs: Gen[List[(Long, Seq[Float])]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 1000),
        Gen.listOfN(3, Gen.choose(-100, 100).map(_ / 100.0f))))
        .map(_.zipWithIndex.map { case ((_, v), i) => (i.toLong, v: Seq[Float]) })
    forAll(genVecs) { vecs =>
      import graft.operators.Similarity
      val df = vecs.toDF("vec_id", "embedding")
      val query = Seq((-1L, Seq(0.1f, -0.2f, 0.3f))).toDF("vec_id", "embedding")
      def run(d: org.apache.spark.sql.DataFrame) = {
        val bounds = Similarity.sq8Fit(d, "vec_id", "embedding", dim = 3)
        (bounds,
          Similarity.sq8TopK(d, query, "vec_id", "embedding", dim = 3,
            bounds = bounds, topK = 5)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
      }
      run(df.coalesce(1)) == run(df.repartition(8))
    }
  }
}
