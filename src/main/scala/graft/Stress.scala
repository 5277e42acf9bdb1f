package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, NgramOverlap, Similarity}

/** Dev tool: scale-stress the bucketed operators on an N-fold expansion
  * of the provided tables (ids offset per replica so replicas are exact
  * duplicates of each other — a worst-ish case for dedup: every content
  * key collides N ways). Prints wall-clock per operator; the check is
  * that times grow ~linearly with N, i.e. no all-pairs blowup.
  *
  * Usage: runMain graft.Stress [sfDir] [replicas] [opSubstr,opSubstr,...]
  * (the optional third arg filters ops by name substring — quick
  * re-measures of one family without the full sweep)
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = if (args.length > 1) args(1).toInt else 8
    val opFilter: String => Boolean =
      if (args.length > 2) { val subs = args(2).split(",").toSeq
        name => subs.exists(name.contains)
      } else _ => true
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expressions.GraftFunctions.register(spark)

    def expand(t: String, idCol: String): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      (0 until n).map(i => base.withColumn(idCol, col(idCol) + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
    }
    def time(name: String)(f: => Long): Unit = if (opFilter(name)) {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[stress] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$rows")
    }

    val docs = expand("documents", "doc_id").persist()
    val embs = expand("embeddings", "vec_id").persist()
    println(s"[stress] ${docs.count()} docs, ${embs.count()} vectors (x$n of $sfDir)")

    // auto-sized defaults throughout — the point of the probe is that the
    // corpus-aware sizing rules keep these ~linear as n grows
    time("exactDedup")(Dedup.exactDedup(docs, "doc_id", "text").count())
    time("nearDupPairs")(Dedup.nearDupPairs(docs, "doc_id", "text").count())
    time("nearDupPairs cap=500")(
      Dedup.nearDupPairs(docs, "doc_id", "text", maxBucketSize = 500).count())
    time("simhashPairs")(Dedup.simhashPairs(docs, "doc_id", "text").count())
    time("duplicateGramStats")(
      NgramOverlap.duplicateGramStats(docs, "doc_id", "text").count())
    time("duplicateSpans")(
      NgramOverlap.duplicateSpans(docs, "doc_id", "text", windowTokens = 5).count())
    // removal path: the span detection plus the covered-position anti-join
    // and per-doc rebuild (its expensive half). count(clean_text) forces
    // the rebuild join — a bare count() would let left-join elimination
    // drop the whole rebuilt subtree (grouped keys are unique) and time
    // nothing
    time("removeDuplicateSpans")(
      NgramOverlap.removeDuplicateSpans(docs, "doc_id", "text", windowTokens = 5)
        .select(count(col("clean_text"))).head().getLong(0))
    time("nearDupDedup")(Dedup.nearDupDedup(docs, "doc_id", "text").count())
    time("dupClusters k=3")(
      Dedup.dupClusters(Dedup.nearDupPairs(docs, "doc_id", "text"), 3).count())
    time("contaminatedDocs")(NgramOverlap.contaminatedDocs(
      docs.where(!col("source").isin("src0", "src1", "src2")),
      docs.where(col("source").isin("src0", "src1", "src2")),
      "doc_id", "text", broadcastEval = true).count())
    time("lshNeighbors")(Similarity.lshNeighbors(embs, "vec_id", "embedding", 0.35).count())
    time("ivfNeighbors")(Similarity.ivfNeighbors(embs, "vec_id", "embedding", 0.35).count())
    // DISTINCT-vector IVF probe: the replica corpus above duplicates every
    // vector n ways, so its pair output (and verify cost) is clique-
    // quadratic by construction — right for testing dedup pressure, wrong
    // for isolating ASSIGNMENT cost, the term the sqrt-n autoCells rule
    // bounds. Synthetic distinct vectors keep the true-pair count sparse
    // so assignment + bucketing dominate; the check is wall growing
    // ~n^1.5, not n^2 (r6 verdict #5).
    val distinctEmbs = spark.range(n * 2000L).select(col("id").as("vec_id"),
      array((0 until 64).map(j =>
        sin(col("id") * (7919 + j) + lit(j * 104729)).cast("float")): _*).as("embedding"))
    time("ivfNeighbors distinct")(
      Similarity.ivfNeighbors(distinctEmbs, "vec_id", "embedding", 0.35).count())
    // cross-set LSH (r5): both sides big — the shape crossPairs' cartesian
    // cannot survive; replica split puts half the corpus on each side
    time("crossNeighborsLsh")(Similarity.crossNeighborsLsh(
      embs.where(col("vec_id") % 2 === 0), embs.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", 0.35).count())

    // r7 wave. jaccardJoinExact on the replica corpus: every doc
    // duplicates n ways, so TRUE pairs are clique-quadratic by
    // construction (same caveat as nearDupPairs above) — the check is
    // wall tracking the pair count, not staying flat.
    time("jaccardJoinExact t=.5")(
      Dedup.jaccardJoinExact(docs, "doc_id", "text", n = 3, threshold = 0.5).count())
    // segment dedup is the linear one: winner agg + survivor join +
    // rebuild, all keyed — wall should track rows ~linearly
    time("segmentDedupText")(
      Dedup.segmentDedupText(docs, "doc_id", "text", maxTokens = 16)
        .select(count(col("text_dedup"))).head().getLong(0))
    time("dsirScores")(graft.operators.TextAnalysis.dsirScores(
      docs, "doc_id", "text", col("source").isin("src0", "src1", "src2"), 1024).count())
    // incremental dedup: the even-id half plays the corpus, the full
    // expansion the batch — even contents all collide (anti-join probe
    // at its densest), odd contents exercise the n-way within-batch
    // keep-first; wall should track rows
    time("dedupIncremental")(
      Dedup.dedupIncremental(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .where(col("doc_id") % 2 === 0), docs,
        "doc_id", "text").count())
    // shard assignment is a pure per-row scatter + one hash agg
    time("shardAssign stats")(
      graft.operators.Layout.shardAssign(docs.where(col("text").isNotNull),
          graft.operators.Sampling.textKey(col("text")), shards = 64, salt = 3)
        .groupBy("shard").count().count())
    // band join on replicated events: value DENSITY grows with n, so
    // matched pairs grow ~n^2 * 2eps * density by physics — the printed
    // rows value is the pair count; the check is constant pairs/sec,
    // not flat wall (BENCH_NOTES r7: the parameter sets the bill)
    val evx = expand("events", "event_id").persist()
    println(s"[stress] ${evx.count()} events")
    time("rangeJoin eps=.05 pairs")(
      graft.operators.RangeJoin.neighborStats(evx, "event_id", "value", 0.05)
        .select(sum(col("n_near"))).head().getLong(0))

    // topk agg vs the row_number window idiom: 3 giant groups is the
    // window's worst case (3 sort partitions carry everything); the agg's
    // shuffle stays k-bounded per (partition, group)
    import graft.operators.{Agg, GroupByReduce}
    val li = expand("lineitem", "l_orderkey")
      .withColumn("pos", col("l_orderkey") * 8 + col("l_linenumber")).persist()
    println(s"[stress] ${li.count()} lineitems")
    time("topk agg k=10")(GroupByReduce.reduce(li, Seq("l_returnflag"),
      Seq(Agg("topk", "l_extendedprice", "top", k = 10)),
      pos = Some(col("pos"))).count())
    time("topk window k=10") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy(col("l_extendedprice").desc, col("pos"))
      li.withColumn("rk", row_number().over(w)).where(col("rk") <= 10).count()
    }
    // weighted quantile: one spilling value-sorted window + one agg —
    // 3 giant groups again; wall should track rows like any scan
    time("weightedQuantile")(
      graft.operators.Quantiles.weightedQuantile(li, Seq("l_returnflag"),
        "l_extendedprice", "l_quantity",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90")).count())
    // pairwise ewm moments over the expanded event stream: the chunked
    // carry is scan-shaped, so x-fold rows cost ~x-fold wall even with
    // per-user history growing n-fold
    time("ewmCovCorr")(
      graft.operators.Ewm.ewmCovCorr(
        SparkEntry.tsToTimestamp(evx, "ts")
          .withColumn("vx", col("value"))
          .withColumn("vy", col("value") * 2 - col("user_id")),
        Seq("user_id"), Seq(col("ts"), col("event_id")), "vx", "vy",
        alpha = 0.5).count())

    // r7 third wave. Heavy hitters: two token passes, both map-side
    // bounded (MG summaries / candidate probes) — wall tracks rows
    time("heavyHitters cap=256")(
      graft.operators.TextAnalysis.heavyHitters(docs, "text",
        capacity = 256, phi = 0.01).count())
    // BM25: projection-only tf + one broadcast stats row + TakeOrdered
    time("bm25TopK k=100")(
      graft.operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "vector", "hash"), k = 100).count())
    // bigram LM: transition rows shuffle against vocabulary-sized tables
    time("bigramLogLoss")(
      graft.operators.TextAnalysis.bigramLogLoss(docs, "doc_id", "text").count())
    // logistic fit: iters bounded aggregations over the persisted
    // projection — wall ~ iters x one scan
    time("logisticFit it=3")(
      graft.operators.FeatureScaling.logisticFit(
        docs.where(col("text").isNotNull)
          .select(col("lang"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("dl")),
        Seq(col("dl") -> 100.0, col("n_chars") -> 1000.0),
        col("lang") === "en", iters = 3).length.toLong)
    // salted join vs plain at the same sizes: the price of x8 dim
    // replication (fact untouched) — constant-factor, not shape
    val cx = expand("customer", "c_custkey").persist()
    val ox = expand("orders", "o_orderkey")
      .withColumn("o_custkey",
        col("o_custkey") + (col("o_orderkey") / 10000000L).cast("long") * 10000000L)
      .persist()
    println(s"[stress] ${cx.count()} customers, ${ox.count()} orders")
    val dimJ = cx.select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    time("saltedJoin s=8")(
      graft.operators.Layout.saltedJoin(ox, dimJ, "o_custkey",
          col("o_orderkey"), salts = 8)
        .groupBy("c_mktsegment").count().count())
    time("plainJoin")(
      ox.join(dimJ, Seq("o_custkey")).groupBy("c_mktsegment").count().count())
    // upsert: one max-struct agg over the tagged union — wall tracks rows
    time("upsertLatest")(
      graft.operators.Upsert.upsertLatest(
        cx.select(col("c_custkey"), col("c_mktsegment").as("v"), lit(0L).as("ver")),
        cx.where(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), lit("upd").as("v"), lit(1L).as("ver")),
        Seq("c_custkey"), "ver").count())
    // aggregate states: per-(flag,month) states merged to flags — the
    // incremental path's full cost is ONE scan + state-sized merges
    time("aggState+merge")(
      graft.operators.AggState.finalize(
        graft.operators.AggState.merge(
          graft.operators.AggState.state(
            li.withColumn("m", date_trunc("month", col("l_shipdate"))),
            Seq("l_returnflag", "m"), "l_extendedprice", scale = 2),
          Seq("l_returnflag")), ddof = 1).count())

    // r7 fifth wave. Multi-probe vs single-probe at equal tables: the
    // probe side carries (probes+1)x rows — the wall ratio IS the
    // candidate-side bill for the recall bought without more tables
    time("lsh single t=4")(
      Similarity.lshNeighbors(embs, "vec_id", "embedding", 0.35,
        planes = 8, tables = 4, dim = 64).count())
    time("lsh multiprobe t=4")(
      Similarity.lshNeighborsMultiProbe(embs, "vec_id", "embedding", 0.35,
        probes = 3, planes = 8, tables = 4, dim = 64).count())
    // upsampling: per-row explode bounded by the rate — wall ~rows
    time("upsampleToMixture")(
      graft.operators.Sampling.upsampleToMixture(
        docs.where(col("text").isNotNull), "source",
        Seq("src0" -> 2700000L, "src1" -> 1500000L, "src2" -> 1000000L,
            "src3" -> 500000L, "src4" -> 1000000L, "src5" -> 2000000L),
        graft.operators.Sampling.textKey(col("text")), salt = 6).count())
    // r8 wave. grouped heavy hitters: per-group MG state is capacity-
    // bounded, candidate table = groups x <= capacity — wall tracks rows
    time("heavyHitters by lang cap=256")(
      graft.operators.TextAnalysis.heavyHitters(docs, "text",
        capacity = 256, phi = 0.01, by = Seq("lang")).count())
    // n-gram heavy hitters: the non-distinct gram stream is ~token-count
    // sized; same bounded-state shape
    time("heavyNgrams n=2")(
      graft.operators.TextAnalysis.heavyNgrams(docs, "text", n = 2,
        capacity = 2048, phi = 0.001).count())
    // one-pass correlation matrix: k(k-1)/2 = 6 pairs from ONE hash agg
    // over the expanded event stream — wall ~ one scan regardless of k
    time("corrMatrixBy 4 cols")(
      graft.operators.FeatureScaling.corrMatrixBy(
        SparkEntry.tsToTimestamp(evx, "ts")
          .withColumn("v1", col("value"))
          .withColumn("v2", col("value") * 2 - col("user_id"))
          .withColumn("v3", col("user_id") % 97)
          .withColumn("v4", col("value") + col("user_id") % 13),
        Seq("event_type"), Seq("v1", "v2", "v3", "v4")).count())
    // incremental near-dup: corpus = the unexpanded table's index, batch
    // = the full expansion — the cross probe is at its densest (every
    // replica of an even doc collides with the corpus); wall should
    // track batch rows, never corpus re-sketch cost
    time("dedupIncrementalNear")(
      Dedup.dedupIncrementalNear(
        Dedup.buildNearDupIndex(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .where(col("doc_id") % 2 === 0), "doc_id", "text"),
        docs, "doc_id", "text").count())
    // converged clusters on the replica corpus (clique-heavy): rounds
    // stay small (cliques have diameter 1), per-round cost edge-linear
    time("dupClustersConverged") {
      val (lbl, rounds, conv) = Dedup.dupClustersConverged(
        Dedup.nearDupPairs(docs, "doc_id", "text"), maxIters = 8)
      val n = lbl.count()
      println(s"[stress]   (rounds=$rounds converged=$conv)")
      n
    }
    // Bloom-pruned incremental dedup, SAME setup as the dedupIncremental
    // probe above (even-id corpus, full expansion as batch) so the two
    // numbers compare directly: even contents all bloom-positive (verify
    // join at its densest), odd contents bloom-negative and skip it
    time("dedupIncrBloom") {
      graft.operators.Dedup.dedupIncrementalBloom(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .where(col("doc_id") % 2 === 0), docs,
        "doc_id", "text").count()
    }
    // r9 CROSSOVER probe (VERDICT r8 #7): FIXED small mostly-fresh batch
    // vs the GROWING xN corpus — the daily-ingestion geometry where
    // corpus-side probe traffic dominates and the bloom prune's value is
    // decided (the r8 probes grew the BATCH, so fixed cost dominated and
    // the claim stayed argued, not measured). Batch = un-expanded odd-id
    // docs, 90% content-mangled (fresh), 10% verbatim (true dups).
    val smallBatch = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 2 === 1 && col("text").isNotNull)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, col("text"))
          .otherwise(concat(col("text"), lit(" r9-fresh-suffix"))))
    time("incrPlain corpusXn")(
      Dedup.dedupIncremental(docs, smallBatch, "doc_id", "text").count())
    time("incrBloom corpusXn")(graft.operators.CacheScope.releasing(
      Dedup.dedupIncrementalBloom(docs, smallBatch, "doc_id", "text").count()))
    // weighted WOR sampling: k-bounded heap, wall ~ one scan
    time("weightedSampleK") {
      graft.operators.Sampling.weightedSampleK(docs, Seq("source"), 50,
        graft.operators.Sampling.idKey(col("doc_id")), col("n_chars"),
        col("doc_id")).count()
    }
    // star contraction on the same clique-heavy replica pair graph —
    // rounds should match propagation's here (diameter-1 cliques give
    // neither algorithm work); the topology receipt is the chain below
    time("ccStarContraction") {
      val (lbl, rounds, conv) = Dedup.ccStarContraction(
        Dedup.nearDupPairs(docs, "doc_id", "text"), maxIters = 10)
      val c = lbl.count()
      println(s"[stress]   (rounds=$rounds converged=$conv)")
      c
    }
    // the DIAMETER receipt: a synthetic path of n*100k nodes — label
    // propagation would need n*100k-1 rounds (infeasible, not probed);
    // star contraction must converge in O(log^2) rounds regardless of
    // replica factor, with wall ~linear in the edge count
    time(s"ccStar chain ${n}e5") {
      val chain = spark.range(n.toLong * 100000L - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val (lbl, rounds, conv) = Dedup.ccStarContraction(chain, maxIters = 40)
      val c = lbl.count()
      println(s"[stress]   (rounds=$rounds converged=$conv)")
      c
    }

    // r9 wave-2 probes. bpeLearn: the corpus scan (word freq) scales
    // with n but the 8 merge iterations run on the FIXED vocab — wall
    // should approach the one-scan cost, not 8x it
    time("bpeLearn m=8 corpusXn") {
      graft.operators.Bpe.bpeLearn(docs, "text", merges = 8).size.toLong
    }
    // quantile state: build scales with rows; merge + finalize run on
    // the distinct-value histogram, so the roll is ~flat in n
    time("quantileState+finalize") {
      val st = graft.operators.AggState.stateQuantile(
        docs.withColumn("day", col("doc_id") % 7), Seq("source", "day"), "n_chars")
      graft.operators.AggState.finalizeQuantile(
        graft.operators.AggState.mergeQuantile(st, Seq("source"), "n_chars"),
        Seq("source"), "n_chars", Seq(0.25, 0.5, 0.9)).count()
    }
    // SCD2: one exchange + two same-order windows over the changelog
    time("scd2Intervals") {
      val log = docs.select(col("doc_id").as("k"), col("source").as("v"),
          (col("doc_id") % 3).as("ver"))
        .unionByName(docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("k"), lit("CHG").as("v"), lit(5L).as("ver")))
      graft.operators.Upsert.scd2Intervals(log, Seq("k"), "ver", Seq("v")).count()
    }

    // r9 wave-4 probes. Replica caveat throughout: exact duplicate
    // content means clique-quadratic TRUE pairs for the dedup-shaped
    // ops (the nearDupPairs note above) — the check is wall tracking
    // the candidate/pair count, not staying flat.
    // editDistancePairs: variant join input is linear ((len+1)·rows);
    // every 24-prefix collides n ways, so pairs grow ~C(n,2)·docs
    time("editDistPairs d=1") {
      Dedup.editDistancePairs(docs, "doc_id",
        substring(col("text"), 1, 24), maxDist = 1).count()
    }
    // sorted-neighborhood blocking: candidates are EXACTLY n(w−1)−w(w−1)/2
    // no matter how many keys collide — the skew-free contrast to the
    // variant/bucket blockers under boilerplate keys
    time("sortedNbhd w=10 d<=2") {
      val c = graft.operators.Blocking.sortedNeighborhoodPairs(
        docs, "doc_id", substring(col("text"), 1, 24), window = 10)
      c.where(levenshtein(col("key_a"), col("key_b"), 2) >= 0).count()
    }
    // trigram index: build is one explode pass (linear); the probe reads
    // only the probed grams' postings + verifies candidates
    time("trigramPostings build") {
      val p = graft.operators.Search.trigramPostings(docs, "doc_id", "text")
        .persist()
      val c = p.count(); stressPostings = Some(p); c
    }
    time("substrSearch probe") {
      graft.operators.Search.substrSearch(docs, stressPostings.get,
        "doc_id", "text", "spark hash").count()
    }
    time("substrSearch multi-3") {
      graft.operators.Search.substrSearchMulti(docs, stressPostings.get,
        "doc_id", "text", Seq("spark hash", "window merge", "stream filter")).count()
    }
    // winnowing: the window-fp pass is duplicateSpans-linear; the
    // fingerprint SET is what leaves the doc (~2/(w+1) of windows)
    time("winnowFingerprints") {
      NgramOverlap.winnowFingerprints(docs, "doc_id", "text").count()
    }
    // overlap vs the FIXED base eval slice: train side grows with n,
    // output grows with the train replicas of true pairs (~linear)
    time("winnowOverlap evalBase") {
      NgramOverlap.winnowOverlap(
        docs.where(!col("source").isin("src0", "src1", "src2")),
        spark.read.parquet(s"$sfDir/documents.parquet")
          .where(col("source").isin("src0", "src1", "src2")),
        "doc_id", "text", minShared = 3L).count()
    }
    // BPE delta trainer: the corpus pays one scan into the (word, freq)
    // statistic; replica expansion multiplies frequencies but not the
    // distinct vocab, so the merge LOOP does identical work at x1 and
    // xN — per-merge cost flat in corpus size (VERDICT r9 #1 receipt)
    time("bpeLearnDelta base") {
      graft.operators.Bpe.bpeLearnDelta(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text",
        merges = graft.operators.Bpe.MaxMerges).size.toLong
    }
    time(s"bpeLearnDelta x$n") {
      graft.operators.Bpe.bpeLearnDelta(docs, "text",
        merges = graft.operators.Bpe.MaxMerges).size.toLong
    }
    // production merge count on a deterministic rich vocabulary (md5-hex
    // words): 2048 real merges through the in-memory delta loop
    time("bpeLearnDelta 2048-merge rich vocab") {
      val rich = spark.range(200000)
        .select(md5(col("id").cast("string")).as("text"))
      graft.operators.Bpe.bpeLearnDelta(rich, "text", merges = 2048,
        maxVocab = 1 << 19).size.toLong
    }
    // the deep tokenizer CONSUMING a >=8k-rule vocabulary (VERDICT r10
    // #4 receipt): bpeDeepTokens tokenizes the full doc corpus under
    // 8192 delta-learned rules — the replace-chain form is capped at
    // 512 rules by construction (one codegen replace per rule), so this
    // path is the only way these vocabularies are usable at all
    if (opFilter("bpeDeepTok")) {
      val rich = spark.range(200000)
        .select(md5(col("id").cast("string")).as("text"))
      val rules8k = graft.operators.Bpe.bpeLearnDelta(
        rich.unionByName(docs.select(col("text")).where(col("text").isNotNull)),
        "text", merges = 8192, maxVocab = 1 << 19)
      println(s"[stress] bpeDeepTok vocab=${rules8k.size} rules" +
        s" (chain form caps at ${graft.operators.Bpe.MaxMerges})")
      time("bpeDeepTokens 8k rules")(
        docs.select(sum(size(graft.operators.Bpe.bpeDeepTokens(
          col("text"), rules8k)))).head().getLong(0))
      time("bpeDeepTok counts 8k")(
        graft.operators.Bpe.bpeTokenCountsDeep(docs, "doc_id", "text", rules8k)
          .agg(sum(col("n_tokens"))).head().getLong(0))
    }
    // ANN index probe through persisted codes: encode is one projection
    // (linear); the probe is nprobe-bounded candidates per query
    time("annTopK 5q nprobe=2") {
      val corpus = embs.where(col("vec_id") >= 5)
      val cents = corpus.orderBy("vec_id").limit(16)
        .select(Similarity.quantize(col("embedding")))
        .collect().map(r => r.getSeq[Long](0): Seq[Long])
      val books = Similarity.pqFit(corpus, "vec_id", "embedding", 64, 4)
      val idx = Similarity.buildAnnIndex(corpus, "vec_id", "embedding",
        64, 4, cents, books)
      val idx2 = idx.copy(codes = idx.codes.persist())
      val c = Similarity.annTopK(idx2,
        embs.where(col("vec_id") < 5), "embedding", nprobe = 2, topK = 10).count()
      idx2.codes.unpersist(false); c
    }
    // ANN tuning sweep at cells >> nprobe (VERDICT r9 #7): the
    // deploy-time (nprobe, m*k, refine) table the recall gates feed.
    // Corpus = 64 DISTINCT-vector replicas (per-replica, per-dim
    // deterministic perturbation — duplicates would tie every top-k);
    // probe cost per query is nprobe * occupancy candidates, NOT n.
    if (opFilter("annSweep")) {
      val eBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val reps = 64
      val big = (0 until reps).map { i =>
        eBase.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"), (x, j) =>
            (x + ((lit(i * 31) + j * lit(7)) % 11 - 5).cast("float") * lit(0.01f))
              .cast("float")).as("embedding"))
      }.reduce(_ unionByName _).persist()
      val queries = big.where(col("vec_id") < 20)
      val corpus = big.where(col("vec_id") >= 20)
      val nCorpus = corpus.count()
      val cents = Similarity.ivfTrain(corpus, "embedding", cells = 256, seed = 7L)
      val occ = nCorpus / cents.length
      val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 10)
        .persist()
      exact.count()
      println(s"[stress] annSweep corpus=$nCorpus cells=${cents.length} occupancy~$occ")
      for (m <- Seq(4, 8)) {
        val books = Similarity.pqFit(corpus, "vec_id", "embedding",
          dim = 64, m = m, k = 16, iters = 2)
        val codes = Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
          64, m, cents, books).persist()
        codes.count()
        for (nprobe <- Seq(1, 2, 4, 8, 16)) {
          val t0 = System.nanoTime()
          val approx = Similarity.ivfPqTopK(codes, queries, "vec_id", "embedding",
            64, m, cents, books, nprobe = nprobe, topK = 10).persist()
          approx.count()
          val ms = (System.nanoTime() - t0) / 1e6
          val rec = Similarity.recallAtK(exact, approx, "qid", "vec_id", 10)
            .agg(avg(col("recall"))).head().getDouble(0)
          approx.unpersist(false)
          val t1 = System.nanoTime()
          val ref = Similarity.ivfPqTopKRefine(corpus, queries, "vec_id", "embedding",
            64, m, cents, books, codes, nprobe = nprobe, topK = 10,
            refine = 40).persist()
          ref.count()
          val msR = (System.nanoTime() - t1) / 1e6
          val recR = Similarity.recallAtK(exact, ref, "qid", "vec_id", 10)
            .agg(avg(col("recall"))).head().getDouble(0)
          ref.unpersist(false)
          // the SimilaritySpec contract, re-checked at scale: an exact
          // re-rank of an ADC candidate superset never costs recall
          assert(recR + 1e-9 >= rec,
            s"refine lost recall at m=$m nprobe=$nprobe: $recR < $rec")
          println(f"[stress] annSweep m=$m nprobe=$nprobe%2d cand/q=${nprobe * occ}%6d" +
            f"  recall@10=$rec%.3f ($ms%6.0f ms)  +refine40=$recR%.3f ($msR%6.0f ms)")
        }
        codes.unpersist(false)
      }
      exact.unpersist(false); big.unpersist(false)
    }
    // pcaHouseholder fit at production dims (VERDICT r10 #1 receipt):
    // the one-pass opsum aggregate moves O(sample) rows regardless of
    // dim, so fit wall should stay near-flat from 64 → 512; the former
    // crossJoin plan shuffled sample·dim² rows (timed below at dim=256
    // as the labeled blow-up baseline — 41M+ intermediate rows for the
    // same bounded 10k sample).
    if (opFilter("pcaFit")) {
      for (mult <- Seq(1, 4, 8)) { // dim 64, 256, 512
        val dim = 64 * mult
        val wide =
          if (mult == 1) embs
          else embs.withColumn("embedding",
            flatten(array_repeat(col("embedding"), mult)))
        time(s"pcaFit dim=$dim one-pass") {
          val (uq, _) = Similarity.pcaHouseholder(
            wide, "vec_id", "embedding", dim)
          uq.length.toLong
        }
      }
      time("pcaFit dim=256 EXPLODE-baseline (former plan)") {
        val dim = 256
        val wide = embs.withColumn("embedding",
          flatten(array_repeat(col("embedding"), 4)))
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val sample = wide.orderBy(col("vec_id")).limit(10000)
          .select(Similarity.quantize(col("embedding")).as("q"))
        val is = broadcast(spark.range(1, dim + 1)
          .select(col("id").cast("int").as("i")))
        val js = broadcast(spark.range(1, dim + 1)
          .select(col("id").cast("int").as("j")))
        sample.crossJoin(is).crossJoin(js)
          .select(col("i"), col("j"),
            element_at(col("q"), col("i")).as("xi"),
            element_at(col("q"), col("j")).as("xj"))
          .groupBy("i", "j")
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("xi").cast(dec)).as("s1i"),
            sum(col("xj").cast(dec)).as("s1j"),
            sum(col("xi").cast(dec) * col("xj").cast(dec)).as("s2"))
          .count()
      }
    }
    // append-mode ingest receipt (VERDICT r10 #3): per-batch cost of
    // the at-rest APPEND sink must be FLAT in the size of the already-
    // drained corpus — the sink explodes and writes BATCH rows only,
    // never reading accumulated state. Seed postings dirs at x1 and x64
    // at-rest size, then time appending the SAME 1000-doc batch to each.
    if (opFilter("ingestAppend")) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val batch = base.where(col("doc_id") < 1000).localCheckpoint()
      for (scale <- Seq(1, 64)) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-appendx$scale").toString
        val rest = (0 until scale).map(i =>
            base.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        graft.operators.Search.buildPostingsIndex(rest, "doc_id", "text")
          .write(dir)
        val n = spark.read.parquet(s"$dir/postings").count()
        time(s"ingestAppend batch @x$scale at-rest ($n rows)") {
          graft.operators.Search.trigramPostings(batch, "doc_id", "text")
            .write.mode("append").parquet(s"$dir/postings")
          spark.read.parquet(s"$dir/postings").count() - n
        }
      }
    }
    // OPQ alternation receipt (VERDICT r11 #5): after the complete init
    // (k-step rotation + variance-balanced permutation), Ge CVPR'13 §IV
    // alternates codebook refits against the fixed rotation — here the
    // refit is extra Lloyd rounds per sub-codebook IN the rotated+
    // permuted space at fixed m·k (iters=2 IS the shipped init; 4/8 are
    // one/three extra alternations). The decision receipt: if recall@10
    // gains < 1 point, init-as-final is documented in BENCH_NOTES.
    if (opFilter("opqAlt")) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val corpus = e.where(col("vec_id") >= 20).localCheckpoint()
      val queries = e.where(col("vec_id") < 20).localCheckpoint()
      val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 10)
        .persist()
      exact.count()
      val refl = Similarity.pcaHouseholderK(corpus, "vec_id", "embedding",
        dim = 64, k = 3)
      val cR = Similarity.householderRotateAll(corpus, "embedding", "embR", refl)
      val p = Similarity.pqVarianceAlloc(cR, "embR", dim = 64, m = 4)
      val cP = cR.withColumn("embP", Similarity.permuteVec(col("embR"), p))
        .localCheckpoint()
      val qP = Similarity.householderRotateAll(queries, "embedding", "embR", refl)
        .withColumn("embP", Similarity.permuteVec(col("embR"), p))
        .localCheckpoint()
      val cents = Similarity.ivfTrain(cP, "embP", cells = 16, seed = 7L)
      for (iters <- Seq(2, 4, 8)) {
        time(s"opqAlt pqFit iters=$iters recall") {
          val books = Similarity.pqFit(cP, "vec_id", "embP", dim = 64, m = 4,
            k = 16, iters = iters)
          val codes = Similarity.ivfPqEncode(cP, "vec_id", "embP", dim = 64,
            m = 4, centroids = cents, codebooks = books)
          val approx = Similarity.ivfPqTopK(codes, qP, "vec_id", "embP",
            dim = 64, m = 4, centroids = cents, codebooks = books,
            nprobe = 2, topK = 10)
          val rec = Similarity.recallAtK(exact, approx, "qid", "vec_id", 10)
            .agg(avg(col("recall"))).head().getDouble(0)
          println(f"[stress]   (opqAlt iters=$iters recall@10=$rec%.4f)")
          math.round(rec * 10000)
        }
      }
      exact.unpersist(false)
    }
    // fused Householder chain receipt (VERDICT r11 #7): k=8 reflections
    // at dim=256 — the fused expression pays ONE pass + ONE
    // materialization where the former path paid k localCheckpoints of
    // the full frame; output certified identical by an exact quantized
    // checksum (SimilaritySpec pins row-level equality)
    if (opFilter("hhFused")) {
      val wide = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("embedding", flatten(array_repeat(col("embedding"), 4)))
        .localCheckpoint()
      val refl = Similarity.pcaHouseholderK(wide, "vec_id", "embedding",
        dim = 256, k = 8)
      def checksum(d: DataFrame): Long = d
        .select(Similarity.dotQ(Similarity.quantize(col("eX")),
          Similarity.quantize(col("eX"))).as("n2"))
        .agg(sum(col("n2"))).head().getLong(0)
      var csF = 0L
      var csS = 0L
      time("hhFused k=8 dim=256") {
        val out = Similarity.householderRotateAll(wide, "embedding", "eX", refl)
        csF = checksum(out); out.count()
      }
      time("hhFused-stepwise k=8 dim=256 (former path)") {
        val out = refl.zipWithIndex.foldLeft(wide) { case (d, ((uq, uu), t)) =>
          val in = if (t == 0) "embedding" else "eX"
          d.withColumn("eX", Similarity.householderRotate(col(in), uq, uu))
            .localCheckpoint()
        }
        csS = checksum(out); out.count()
      }
      assert(csF == csS, s"fused checksum $csF != stepwise $csS")
    }
    // at-rest curation flatness receipt (VERDICT r11 #1): the per-batch
    // body of curationIngestAppend against seeded state directories at
    // x1 and x64 at-rest size, SAME 1000-doc batch — per-batch cost is
    // two directory probes (batch-keyed joins against at-rest tables) +
    // three batch-sized appends, so wall must stay ~flat while the
    // at-rest corpus grows 64x (the harness form grew linearly: it
    // re-unioned and re-checkpointed full corpus state per batch)
    if (opFilter("curationAppend")) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val evalSrc = Seq("src0", "src1", "src2")
      val evalDocs = base
        .where(col("text").isNotNull && col("source").isin(evalSrc: _*))
        .localCheckpoint()
      val evalGrams = NgramOverlap
        .evalGramTable(evalDocs, "doc_id", "text", n = 5).localCheckpoint()
      // fresh batch content (suffix-mangled, offset ids) so survivors are
      // real work at both scales, not instant at-rest-key drops
      val batch = base.where(col("doc_id") < 1000 && col("text").isNotNull)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
        .withColumn("text", concat(col("text"), lit(" curation-fresh-suffix")))
        .localCheckpoint()
      // at-rest growth is DIRECT-seeded: replicate the x1 state rows with
      // offset ids / bucket keys / canon suffixes — the state of a x64
      // corpus of DISTINCT content (a real x64 crawl dedups; mangled
      // replicas would near-dup-collide), so the batch's TRUE candidate
      // count is identical at both scales and the receipt isolates the
      // shape cost: directory probes + batch appends
      for (scale <- Seq(1, 64)) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-curappx$scale").toString
        graft.streaming.StreamingOps.curationSeed(base, evalDocs, evalSrc,
          dir, "doc_id", "text")
        if (scale > 1) {
          def rep(t: String)(f: Int => DataFrame): Unit = {
            val grown = (1 until scale).map(f).reduce(_ unionByName _)
            grown.write.mode("append").parquet(s"$dir/$t")
          }
          val b0 = spark.read.parquet(s"$dir/buckets").localCheckpoint()
          val s0 = spark.read.parquet(s"$dir/shingles").localCheckpoint()
          val c0 = spark.read.parquet(s"$dir/canon").localCheckpoint()
          val d0 = spark.read.parquet(s"$dir/decon").localCheckpoint()
          rep("buckets")(i => b0.select(
            (col("id") + lit(i.toLong * 10000000L)).as("id"), col("band"),
            (col("bucket") + lit(i.toLong)).as("bucket")))
          rep("shingles")(i => s0.select(
            (col("id") + lit(i.toLong * 10000000L)).as("id"), col("sh")))
          rep("canon")(i => c0.select(
            concat(col("__canon"), lit(s"#rep$i")).as("__canon")))
          rep("decon")(i =>
            d0.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
        }
        val atRest = spark.read.parquet(s"$dir/decon").count()
        time(s"curationAppend batch @x$scale at-rest ($atRest docs)") {
          graft.streaming.StreamingOps.curationBatchAppend(batch, dir,
            evalGrams, evalSrc, "doc_id", "text").count()
        }
      }
    }
    // IVF coarse-quantizer recall program (VERDICT r12 #3): recall@10
    // vs nprobe at the r12 IVFSQ8 geometry (16 cells, 8-bit residual
    // codes), first-16 quantizer vs farthest-point-seeded + 2-Lloyd —
    // the sweep receipt plus the seeding-quality receipt in one pass
    if (opFilter("ivfRecall")) {
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val corpus = base.where(col("vec_id") >= 5).localCheckpoint()
      val queries = base.where(col("vec_id") < 5).localCheckpoint()
      val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding",
        k = 10).persist()
      exact.count()
      val dim = 64
      val first16 = corpus.orderBy("vec_id").limit(16)
        .select(Similarity.quantize(col("embedding")))
        .collect().map(r => r.getSeq[Long](0): Seq[Long])
      val seeded = Similarity.kmeansFit(corpus, "vec_id", "embedding",
        k = 16, iters = 2,
        init = Some(Similarity.kmeansSeedFarthest(corpus, "vec_id",
          "embedding", k = 16)))
      for ((cname, cents) <- Seq("first16" -> first16, "seeded" -> seeded)) {
        val bounds = Similarity.sq8FitResidual(corpus, "vec_id", "embedding",
          dim, cents)
        val codes = Similarity.ivfSq8Encode(corpus, "vec_id", "embedding",
          dim, cents, bounds).localCheckpoint()
        for (np <- Seq(1, 2, 4, 8, 16)) {
          val approx = Similarity.ivfSq8TopK(codes, queries, "vec_id",
            "embedding", dim, cents, bounds, nprobe = np, topK = 10)
          val r = Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 10)
            .agg(avg(col("recall"))).head().getDouble(0)
          println(f"[stress] ivfRecall $cname%-8s nprobe=$np%-2d recall@10 = $r%.3f")
        }
      }
      exact.unpersist()
    }
    // full-OPQ recall receipt (VERDICT r10 #2): flat PQ (one zero
    // coarse cell, m=4, k=16) at the same m·k budget with NO rotation,
    // the single reflection, and the 3-step deflation — recall@10 of
    // k-step must be >= single (the Ge §III claim, on real embeddings)
    if (opFilter("pcaK")) {
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val corpus = base.where(col("vec_id") >= 5).localCheckpoint()
      val queries = base.where(col("vec_id") < 5).localCheckpoint()
      val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 10)
        .persist()
      val dim = 64
      val zero: Array[Seq[Long]] = Array(Seq.fill(dim)(0L))
      def recallOf(kSteps: Int): Double = {
        val (c, q) =
          if (kSteps == 0) (corpus.withColumn("eX", col("embedding")),
            queries.withColumn("eX", col("embedding")))
          else {
            val refl = Similarity.pcaHouseholderK(corpus, "vec_id",
              "embedding", dim, kSteps)
            (Similarity.householderRotateAll(corpus, "embedding", "eX", refl),
              Similarity.householderRotateAll(queries, "embedding", "eX", refl))
          }
        val books = Similarity.pqFit(c, "vec_id", "eX", dim, m = 4, k = 16, iters = 2)
        val approx = Similarity.ivfPqTopK(
          Similarity.ivfPqEncode(c, "vec_id", "eX", dim, m = 4,
            centroids = zero, codebooks = books),
          q, "vec_id", "eX", dim, m = 4,
          centroids = zero, codebooks = books, nprobe = 1, topK = 10)
        Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 10)
          .agg(avg(col("recall"))).head().getDouble(0)
      }
      val (r0, r1, r3) = (recallOf(0), recallOf(1), recallOf(3))
      println(f"[stress] pcaK recall@10 m=4k=16: raw=$r0%.3f 1-step=$r1%.3f 3-step=$r3%.3f")
      exact.unpersist(false)
    }

    // r11 tokenizer trio + held-out LM: trainers ride the bounded
    // (word, freq) statistic (flat merge work under replication — only
    // the one scan grows), tokenization/segmentation/scoring are
    // row-local or probe-frozen-table passes (linear in rows)
    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    time("wordpieceLearn base") {
      graft.operators.WordPiece.wordpieceLearn(baseDocs, "text",
        merges = graft.operators.WordPiece.MaxMerges).rules.size.toLong
    }
    time("wordpieceLearn corpusXn") {
      graft.operators.WordPiece.wordpieceLearn(docs, "text",
        merges = graft.operators.WordPiece.MaxMerges).rules.size.toLong
    }
    // production merge count on the deterministic rich vocabulary (the
    // bpeLearnDelta twin): WordPiece pays an O(live pairs) argmax
    // RESCAN per round (a merge moves every sharing pair's denominator
    // — Scaladoc), so this receipt prices the rescan at real merge
    // counts, not the 31-word corpus vocab
    time("wordpieceLearn 2048-merge rich vocab") {
      val rich = spark.range(200000)
        .select(md5(col("id").cast("string")).as("text"))
      graft.operators.WordPiece.wordpieceLearn(rich, "text", merges = 2048,
        maxVocab = 1 << 19).rules.size.toLong
    }
    val wpModel = graft.operators.WordPiece.wordpieceLearn(baseDocs, "text",
      merges = graft.operators.WordPiece.MaxMerges)
    time("wordpieceTokCounts Xn")(graft.operators.WordPiece
      .wordpieceTokenCounts(docs, "doc_id", "text", wpModel).count())
    time("unigramLmLearn base") {
      graft.operators.UnigramLm.unigramLmLearn(baseDocs, "text").pieces.size.toLong
    }
    time("unigramLmLearn corpusXn") {
      graft.operators.UnigramLm.unigramLmLearn(docs, "text").pieces.size.toLong
    }
    val ulmModel = graft.operators.UnigramLm.unigramLmLearn(baseDocs, "text")
    time("ulmSegmentCosts Xn")(graft.operators.UnigramLm
      .segmentCosts(docs, "doc_id", "text", ulmModel).count())
    val knModel = graft.operators.LanguageModel.knNgramFit(
      baseDocs.where(col("doc_id") % 2 === 0), "text", order = 2)
    time("knScore base")(graft.operators.LanguageModel
      .knNgramScoreWith(knModel, baseDocs.where(col("doc_id") % 2 === 1),
        "doc_id", "text").count())
    time("knScore Xn")(graft.operators.LanguageModel
      .knNgramScoreWith(knModel, docs, "doc_id", "text").count())
    spark.stop()
  }

  // holds the stress postings between the build and probe timings
  private var stressPostings: Option[DataFrame] = None
}
