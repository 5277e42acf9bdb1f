package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Operators must degrade gracefully on empty inputs (empty source
  * partition, a filter that matched nothing) — no exceptions, sane empty
  * or fully-filled results. */
class EmptyInputSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyVals = Seq.empty[(Int, Double, Long)].toDF("label", "v", "pos")

  test("reduce on empty input returns no groups; expected-groups still densify") {
    assert(GroupByReduce.reduce(emptyVals, Seq("label"),
      Seq(Agg("nansum", "v", "s"))).count() == 0)
    val r = GroupByReduce.reduce(emptyVals, Seq("label"),
      Seq(Agg("count", "v", "n", fill = Some(0L))),
      expected = Some(GroupByReduce.expectedDf(spark, "label", Seq(1, 2))))
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r == Map(1 -> 0L, 2 -> 0L))
  }

  test("scans and chunked scans on empty input return empty") {
    assert(GroupByScan.scan(emptyVals, "v", Seq("label"), "nancumsum",
      Seq(col("pos")), "r").count() == 0)
    assert(GroupByScan.scanChunked(emptyVals, "v", Seq("label"), "nancumsum",
      Seq(col("pos")), floor(col("pos") / 4), "r").count() == 0)
  }

  test("r4 curation operators on empty input return empty (or all-kept) without error") {
    assert(NgramOverlap.contaminatedDocs(emptyDocs, emptyDocs, "doc_id", "text").count() == 0)
    assert(NgramOverlap.duplicateGramStats(emptyDocs, "doc_id", "text").count() == 0)
    assert(Repetition.repetitionStats(emptyDocs, "doc_id", "text").count() == 0)
    assert(Repetition.topNgramStats(emptyDocs, "doc_id", "text", 2).count() == 0)
    assert(Pii.scan(emptyDocs, "text").count() == 0)
    assert(TextAnalysis.chunkText(emptyDocs, "text", 8).count() == 0)
    assert(GroupByReduce.valueCounts(emptyDocs, Seq("doc_id"), "text", 3).count() == 0)
    assert(Sampling.sampleKPerGroup(emptyDocs, Seq("text"), 3,
      Sampling.idKey(col("doc_id")), col("doc_id")).count() == 0)
    assert(Sampling.hashSampleWeighted(emptyDocs,
      Sampling.idKey(col("doc_id")), lit(0.5)).count() == 0)
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("event_id", "ts", "user", "v")
    assert(Rolling.rollingTime(emptyEv, Seq("user"), "ts", "1 hour", "v",
      Seq("count" -> "n")).count() == 0)
    assert(Quantiles.exactQuantileSelect(emptyVals, Seq("label"), "v", Seq(0.5)).count() == 0)
    val e = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.crossPairs(e, e, "vec_id", "embedding", 0.5,
      broadcastRight = false).count() == 0)
    assert(Similarity.crossNeighborsLsh(e, e, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("dedup family on empty input returns empty") {
    assert(Dedup.exactDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").count() == 0)
    // r6 row-preserving / cluster forms
    assert(Dedup.nearDupDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupDedupTransitive(emptyDocs, "doc_id", "text",
      iterations = 2).count() == 0)
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.dupClusters(emptyPairs, iterations = 3).count() == 0)
  }

  test("r6 curation operators on empty input return empty without error") {
    assert(TextAnalysis.gopherFlags(emptyDocs, "text").count() == 0)
    assert(graft.streaming.StreamingOps.curationFilter(emptyDocs, "text",
      sampleRate = 0.5, minQuality = 100L).count() == 0)
    assert(NgramOverlap.duplicateSpans(emptyDocs, "doc_id", "text",
      windowTokens = 3, tokenizer = NgramOverlap.retokenize()).count() == 0)
    // literalized qcutBy: empty corpus derives no edges; binning a
    // non-empty frame with an empty edge list yields NULL bins
    val edges = Binning.qcutByEdges(
      Seq.empty[(String, Double)].toDF("k", "v"), Seq("k"), "v", 4, maxGroups = 4)
    assert(edges.isEmpty)
    val binned = Binning.qcutByWithEdges(
      Seq(("g", 1.0)).toDF("k", "v"), Seq("k"), "v", edges, "b")
    assert(binned.where(col("b").isNull).count() == 1)
  }

  test("similarity on empty input returns empty") {
    val e = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.bruteForcePairs(e, "vec_id", "embedding", 0.5).count() == 0)
    assert(Similarity.lshNeighbors(e, "vec_id", "embedding", 0.5).count() == 0)
    assert(Similarity.ivfNeighbors(e, "vec_id", "embedding", 0.5).count() == 0)
    assert(Similarity.topK(e, e, "vec_id", "embedding", 3).count() == 0)
  }

  test("r6 batch-3 operators on empty input return empty without error") {
    val emptyEv = Seq.empty[(Long, String, java.sql.Timestamp, Double)]
      .toDF("event_id", "user", "ts", "v")
    assert(AsOfJoin.asofJoinForward(emptyEv, emptyEv, Seq("user"), "ts", "ts",
      Seq("v")).count() == 0)
    assert(AsOfJoin.asofJoinNearest(emptyEv, emptyEv, Seq("user"), "ts", "ts",
      Seq("v")).count() == 0)
    assert(Rolling.rollingTime(emptyEv, Seq("user"), "ts", "1 hour", "v",
      Seq("median" -> "m", "quantile:0.9" -> "q")).count() == 0)
    assert(GroupByTransform.interpolateTime(emptyEv, Seq("user"), "ts", "v").count() == 0)
    assert(GroupByTransform.pctChangeBy(emptyEv, Seq("user"),
      Seq(col("ts")), "v").count() == 0)
    assert(FeatureScaling.robustScaleBy(emptyEv, Seq("user"), "v").count() == 0)
    assert(NgramOverlap.contaminatedDocsBloom(emptyDocs, emptyDocs,
      "doc_id", "text").count() == 0)
  }

  test("ivfNeighbors on a corpus smaller than `cells` clamps k") {
    val e = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.ivfNeighbors(e, "vec_id", "embedding", 0.9, cells = 16)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 2L)))
  }

  test("mode-only reduce on empty input returns empty (full-outer branch)") {
    assert(GroupByReduce.reduce(emptyVals, Seq("label"),
      Seq(Agg("nanmode", "v", "m"))).count() == 0)
  }

  test("r7 third-wave operators on empty input return empty (or zero model) without error") {
    // text family
    assert(TextAnalysis.bm25TopK(emptyDocs, "doc_id", "text", Seq("x"), 5).count() == 0)
    assert(TextAnalysis.heavyHitters(emptyDocs, "text", 8, 0.2).count() == 0)
    assert(TextAnalysis.bigramLogLoss(emptyDocs, "doc_id", "text").count() == 0)
    // logistic fit: no valid rows keeps the zero model (no NaN from 0/0)
    val b = FeatureScaling.logisticFit(emptyVals,
      Seq(col("pos") -> 10.0), col("v") > 0, iters = 2)
    assert(b.toSeq == Seq(0.0, 0.0))
    assert(FeatureScaling.logisticScore(emptyVals, Seq(col("pos") -> 10.0), b).count() == 0)
    // state/winner family
    val st = AggState.state(emptyVals, Seq("label"), "v", scale = 2)
    assert(st.count() == 0)
    assert(AggState.finalize(AggState.merge(st, Seq("label"))).count() == 0)
    assert(Upsert.upsertLatest(emptyVals, emptyVals, Seq("label"), "pos").count() == 0)
    // layout / validation
    assert(Layout.saltedJoin(emptyVals,
      Seq.empty[(Int, String)].toDF("label", "x"), "label", col("pos"), 4).count() == 0)
    val rep = Validate.report(emptyVals, Seq("c" -> col("v").isNotNull)).head()
    assert(rep.getLong(1) == 0L && rep.getLong(2) == 0L)
    val prof = Validate.profile(emptyVals, Seq("v")).head()
    assert(prof.getLong(1) == 0L && prof.getLong(3) == 0L && prof.getString(4) == null)
    // split/normalize
    assert(Dedup.clusterSplit(emptyDocs, "doc_id",
      Seq.empty[(Long, Long)].toDF("id", "cluster_id"),
      Seq("a" -> 0.5, "b" -> 0.5)).count() == 0)
    assert(emptyDocs.select(TextAnalysis.normalizeText(col("text"))).count() == 0)
  }

  test("sessionize on empty input returns empty") {
    val d = Seq.empty[(String, java.sql.Timestamp, Double)].toDF("user_id", "t", "v")
    assert(Sessionize.sessions(d, Seq("user_id"), "t", 600, "v").count() == 0)
  }

  test("r8 operators on empty input return empty (or immediate fixpoint) without error") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (lbl, rounds, conv) = Dedup.ccStarContraction(emptyPairs, maxIters = 3)
    assert(conv && rounds == 0 && lbl.count() == 0)
    assert(Dedup.clusterSizeHistogram(
      Seq.empty[(Long, Long)].toDF("id", "cluster_id")).count() == 0)
    assert(Dedup.dedupIncrementalBloom(emptyDocs, emptyDocs, "doc_id", "text").count() == 0)
    // empty-batch probe of a non-empty index; empty-corpus index build
    val idx = Dedup.buildNearDupIndex(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Dedup.dedupIncrementalNear(idx, emptyDocs, "doc_id", "text").count() == 0)
    val rolled = idx.append(emptyDocs, "doc_id", "text")
    assert(rolled.buckets.count() == idx.buckets.count())
    assert(Sampling.weightedSampleK(emptyDocs, Seq("text"), 3,
      Sampling.idKey(col("doc_id")), col("doc_id"), col("doc_id")).count() == 0)
    assert(Similarity.rrfFuse(Seq(
      Seq.empty[(Long, Long)].toDF("doc_id", "rank"),
      Seq.empty[(Long, Long)].toDF("doc_id", "rank")), "doc_id", "rank", 5).count() == 0)
  }

  test("r9 operators on empty input return empty (or no rules) without error") {
    // BPE: empty corpus learns nothing (early stop on the first round)
    assert(Bpe.bpeLearn(emptyDocs, "text", merges = 3).isEmpty)
    assert(Bpe.bpeTokenCounts(emptyDocs, "doc_id", "text",
      Seq(Bpe.Merge(1, "a", "b", 1))).count() == 0)
    // quantile state: empty raw -> empty state -> empty finalize; an
    // empty merged state finalizes empty too
    val st = AggState.stateQuantile(emptyVals, Seq("label"), "v")
    assert(st.count() == 0)
    assert(AggState.finalizeQuantile(
      AggState.mergeQuantile(st, Seq("label"), "v"),
      Seq("label"), "v", Seq(0.5)).count() == 0)
    // SCD2: empty changelog -> empty history; empty batch leaves
    // history untouched; empty history + batch -> all-open rows
    val emptyLog = Seq.empty[(Long, String, Long)].toDF("k", "v", "ver")
    assert(Upsert.scd2Intervals(emptyLog, Seq("k"), "ver", Seq("v")).count() == 0)
    val hist = Upsert.scd2Intervals(
      Seq((1L, "a", 0L)).toDF("k", "v", "ver"), Seq("k"), "ver", Seq("v"))
    assert(Upsert.scd2Upsert(hist, emptyLog, Seq("k"), "ver", Seq("v"))
      .collect().toSeq == hist.collect().toSeq)
    val fromEmpty = Upsert.scd2Upsert(
      Upsert.scd2Intervals(emptyLog, Seq("k"), "ver", Seq("v")),
      Seq((2L, "b", 1L)).toDF("k", "v", "ver"), Seq("k"), "ver", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.isNullAt(3)))
    assert(fromEmpty.toSeq == Seq((2L, "b", 1L, true)))
    // point-in-time reads over empty history; facts against empty -> empty
    assert(Upsert.scd2SnapshotAt(
      Upsert.scd2Intervals(emptyLog, Seq("k"), "ver", Seq("v")), lit(1L)).count() == 0)
    assert(Upsert.scd2JoinAsOf(
      Seq((1L, 0L)).toDF("k", "fver"),
      Upsert.scd2Intervals(emptyLog, Seq("k"), "ver", Seq("v")),
      Seq("k"), "fver").count() == 0)
    // weighted quantile state: empty raw / all-invalid-weight -> empty
    val wEmpty = Seq.empty[(Int, Double, Double)].toDF("label", "v", "w")
    assert(AggState.stateQuantileWeighted(wEmpty, Seq("label"), "v", "w").count() == 0)
    assert(AggState.finalizeQuantileWeighted(
      AggState.stateQuantileWeighted(
        Seq((1, 2.0, 0.0)).toDF("label", "v", "w"), Seq("label"), "v", "w"),
      Seq("label"), "v", Seq(0.5 -> "w50")).count() == 0)
  }

  test("r9 wave-4 operators on empty input return empty without error") {
    // trigram search: empty corpus -> empty postings -> empty results
    val posts = Search.trigramPostings(emptyDocs, "doc_id", "text")
    assert(posts.count() == 0)
    assert(Search.substrCandidates(posts, "abc").count() == 0)
    assert(Search.substrSearch(emptyDocs, posts, "doc_id", "text", "abc").count() == 0)
    assert(Search.substrSearchMulti(emptyDocs, posts, "doc_id", "text",
      Seq("abc", "defg")).count() == 0)
    // hot-gram cap on empty postings: the least-frequent fallback still
    // returns empty, not an error
    assert(Search.substrCandidates(posts, "abc", maxDocFreq = 1).count() == 0)
    // edit-distance pairs/dedup on empty or all-null keys
    assert(Dedup.editDistancePairs(emptyDocs, "doc_id",
      col("text"), maxDist = 1).count() == 0)
    val allNull = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(allNull, "doc_id",
      col("text"), maxDist = 2).count() == 0)
    assert(Dedup.editDistanceDedup(allNull, "doc_id",
      col("text")).count() == 1) // null-key row survives
    // k-fold over empty corpus / empty labels
    val emptyLabels = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    assert(Dedup.clusterKFold(emptyDocs, "doc_id", emptyLabels, k = 3).count() == 0)
    val folded = Dedup.clusterKFold(Seq((7L, "t")).toDF("doc_id", "text"),
      "doc_id", emptyLabels, k = 3).select("rep_id").as[Long].collect()
    assert(folded.toSeq == Seq(7L)) // singleton represents itself
    // blocking: empty and all-null keys
    assert(Blocking.sortedNeighborhoodPairs(emptyDocs, "doc_id",
      col("text"), window = 3).count() == 0)
    assert(Blocking.sortedNeighborhoodPairs(allNull, "doc_id",
      col("text"), window = 3).count() == 0)
    // winnowing: empty corpus; overlap of empty sides
    assert(NgramOverlap.winnowFingerprints(emptyDocs, "doc_id", "text").count() == 0)
    assert(NgramOverlap.winnowOverlap(emptyDocs, emptyDocs,
      "doc_id", "text").count() == 0)
    // ANN index: empty corpus encodes to an empty codes table; probing
    // it returns no candidates; append onto empty == build
    val dim = 4; val m = 2
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("id", "emb")
    val oneVec = Seq((1L, Seq(1.0f, 0.5f, -0.25f, 2.0f))).toDF("id", "emb")
    val cents = Array[Seq[Long]](Seq(0L, 0L, 0L, 0L))
    val books = Similarity.pqFit(oneVec, "id", "emb", dim, m, k = 1, iters = 1)
    val emptyIdx = Similarity.buildAnnIndex(emptyVecs, "id", "emb", dim, m, cents, books)
    assert(emptyIdx.codes.count() == 0)
    assert(Similarity.annTopK(emptyIdx, oneVec, "emb", nprobe = 1, topK = 3).count() == 0)
    val grown = emptyIdx.append(oneVec, "id", "emb")
    assert(Similarity.annTopK(grown, oneVec, "emb", nprobe = 1, topK = 3).count() == 1)
    // removing from an empty index is a no-op
    assert(emptyIdx.remove(Seq(1L).toDF("id")).codes.count() == 0)
  }

  test("r10 operators on empty input return empty (or fail fast with a contract) without error") {
    // delta BPE trainer: empty corpus -> no pairs -> no rules
    assert(Bpe.bpeLearnDelta(emptyDocs, "text", merges = 8).isEmpty)
    // deep tokenizer over an empty corpus / all-null text
    val ms = Seq(Bpe.Merge(1, "a", "b", 1))
    assert(Bpe.bpeTokenCountsDeep(emptyDocs, "doc_id", "text", ms).count() == 0)
    // postings maintenance: append/remove/compact degenerate gracefully
    val pi = Search.buildPostingsIndex(emptyDocs, "doc_id", "text")
    assert(pi.postings.count() == 0)
    assert(pi.append(emptyDocs, "doc_id", "text").postings.count() == 0)
    assert(pi.remove(Seq(1L).toDF("id")).postings.count() == 0)
    // grouped drift statistics on empty slices
    val ev = Seq.empty[(String, Long)].toDF("g", "v")
    assert(Drift.wasserstein1(ev, ev, col("v"), Seq("g")).count() == 0)
    assert(Drift.jsd(ev, ev, col("v"), Seq("g")).count() == 0)
    val ep = Seq.empty[(String, Double, Boolean)].toDF("g", "p", "y")
    assert(Drift.calibrationBins(ep, col("p"), col("y"), Seq("g")).count() == 0)
    assert(Drift.brierScore(ep, col("p"), col("y"), Seq("g")).count() == 0)
    // calibration state machinery on empty input
    val es = Drift.calibrationState(ep.drop("g"), col("p"), col("y"))
    assert(es.count() == 0)
    assert(Drift.calibrationFromState(es).count() == 0)
    // PCA fit fails fast on an empty corpus (a rotation needs data);
    // the identity reflection passes vectors through
    val emptyVecs2 = Seq.empty[(Long, Seq[Float])].toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaHouseholder(emptyVecs2, "id", "emb", dim = 4)
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("r11 operators degrade gracefully on empty input") {
    import graft.operators.{Bpe, Similarity}
    graft.expressions.GraftFunctions.register(spark)
    // k-step fit fails fast on an empty corpus like the single-step form
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaHouseholderK(emptyVecs, "id", "emb", dim = 4, k = 2)
    }
    assert(e.getMessage.contains("non-empty"))
    // rotation application over an empty frame stays empty (any k)
    val refl = Seq((Seq(0L, 0L, 0L, 0L), 0L), (Seq(0L, 0L, 0L, 0L), 0L))
    assert(Similarity.householderRotateAll(emptyVecs, "emb", "r", refl).count() == 0)
    // deep-tokenizer Column: empty rule list fails fast; empty corpus empty
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Bpe.bpeDeepTokens(col("text"), Seq.empty)
    }
    val ms = Seq(Bpe.Merge(1, "a", "b", 1))
    assert(emptyDocs.select(Bpe.bpeDeepTokens(col("text"), ms)).count() == 0)
    // gram-partitioned postings: an empty index writes/reads/probes empty
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-postpart").toString
    graft.operators.Search.buildPostingsIndex(emptyDocs, "doc_id", "text")
      .writePartitioned(dir)
    val idx = graft.operators.Search.PostingsIndex.read(spark, dir)
    assert(graft.operators.Search.substrCandidates(idx.postings, "abc").count() == 0)
    // held-out KN scoring: empty TRAIN fails fast (no bigram to fit);
    // empty SCORE side yields an empty frame (LanguageModelSpec pins both
    // with typed rows; this pins the schema-only frames)
    val oneDoc = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.operators.LanguageModel.knNgramLogLoss(emptyDocs, oneDoc, "doc_id", "text", 2)
    }
    assert(graft.operators.LanguageModel
      .knNgramLogLoss(oneDoc, emptyDocs, "doc_id", "text", 2).count() == 0)
    // trigram KN: a train corpus with no trigram fails fast; empty
    // score side stays empty
    val twoTok = Seq((1L, "a b")).toDF("doc_id", "text")
    val threeTok = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.operators.LanguageModel.knNgramLogLoss(twoTok, threeTok, "doc_id", "text", 3)
    }
    assert(graft.operators.LanguageModel
      .knNgramLogLoss(threeTok, emptyDocs, "doc_id", "text", 3).count() == 0)
    // grouped KN: empty either side yields empty (inner join on models)
    val emptyG = Seq.empty[(String, Long, String)].toDF("lang", "doc_id", "text")
    val oneG = Seq(("en", 1L, "a b")).toDF("lang", "doc_id", "text")
    assert(graft.operators.LanguageModel.knNgramLogLoss(emptyG, oneG, "doc_id",
      "text", 2, by = Seq("lang")).count() == 0)
    assert(graft.operators.LanguageModel.knNgramLogLoss(oneG, emptyG, "doc_id",
      "text", 2, by = Seq("lang")).count() == 0)
    // grouped SB: likewise (the inner join on the per-group N total)
    assert(graft.operators.LanguageModel.sbNgramLogLoss(emptyG, oneG, "doc_id",
      "text", 2, by = Seq("lang")).count() == 0)
    assert(graft.operators.LanguageModel.sbNgramLogLoss(oneG, emptyG, "doc_id",
      "text", 2, by = Seq("lang")).count() == 0)
    // WordPiece / unigram-LM: empty corpus -> empty model; tokenizing an
    // empty frame under a real model stays empty
    val wpm = graft.operators.WordPiece.wordpieceLearn(oneDoc, "text", merges = 5)
    assert(graft.operators.WordPiece
      .wordpieceTokenCounts(emptyDocs, "doc_id", "text", wpm).count() == 0)
    val ulm = graft.operators.UnigramLm.unigramLmLearn(emptyDocs, "text")
    assert(ulm.pieces.isEmpty)
    assert(graft.operators.UnigramLm
      .segmentCosts(emptyDocs, "doc_id", "text", ulm).count() == 0)
  }

  test("r12-continuation operators degrade gracefully on empty input") {
    import graft.operators.{LanguageModel, Similarity, TextAnalysis}
    graft.expressions.GraftFunctions.register(spark)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val threeTok = Seq((1L, "a b c")).toDF("doc_id", "text")
    // stupid backoff: train without an order-gram fails fast; empty
    // score side stays empty
    intercept[IllegalArgumentException] {
      LanguageModel.sbNgramLogLoss(emptyDocs, threeTok, "doc_id", "text", order = 3)
    }
    assert(LanguageModel
      .sbNgramLogLoss(threeTok, emptyDocs, "doc_id", "text", order = 3)
      .count() == 0)
    // perplexity buckets over an empty scored frame: empty, no error
    val emptyScored = Seq.empty[(String, Long, Double)]
      .toDF("source", "doc_id", "kn_loss")
    assert(LanguageModel
      .perplexityBuckets(emptyScored, "source", "doc_id", "kn_loss")
      .count() == 0)
    // SQ8: an empty corpus has no populated dimensions -> fit fails fast
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.sq8Fit(emptyVecs, "vec_id", "embedding", dim = 3)
    }
    // scoring an empty corpus under real bounds stays empty
    val one = Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val bounds = Similarity.sq8Fit(one, "vec_id", "embedding", dim = 2)
    assert(Similarity.sq8TopK(emptyVecs, one, "vec_id", "embedding",
      dim = 2, bounds = bounds, topK = 5).count() == 0)
    // hashed features over an empty frame: empty projection, no error
    assert(emptyDocs.select(
      TextAnalysis.hashedBigramCounts(col("text"), 4): _*).count() == 0)
  }
}
