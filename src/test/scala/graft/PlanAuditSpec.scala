package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Agg, AsOfJoin, GroupByReduce, GroupByScan, Sessionize, Similarity}

/** Plan-shape pins: the properties that make these operators scale are
  * *plan* properties — filters reaching the parquet scan, column pruning,
  * map-side partial aggregation, one shuffle for scan-shaped ops,
  * broadcast where a side is known-small, whole-stage codegen on the hot
  * path. `.explain` audits found them once; these assertions keep them.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r.findAllIn(p).length

  test("filter + projection reach the parquet scan (pushdown, column pruning)") {
    val d = TestSpark.table("0.01", "documents")
      .where(col("source") === "src0")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val p = plan(d)
    assert(p.contains("PushedFilters: [IsNotNull(source), EqualTo(source,src0)]"),
      s"source filter not pushed to scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("lang") && !readSchema.contains("text"),
      s"scan should read lang/source only, got: $readSchema")
  }

  test("grouped reduction: map-side partial agg, one shuffle, whole-stage codegen") {
    val df = GroupByReduce.reduce(TestSpark.table("0.01", "lineitem"),
      Seq("l_returnflag"),
      Seq(Agg("nansum", "l_quantity", "s"), Agg("count", "l_quantity", "n")),
      sort = false)
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
    assert(exchanges(p) == 1, s"expected exactly one shuffle:\n$p")
    // codegen stages only materialize in the final AQE plan — execute,
    // then audit
    df.collect()
    val finalP = plan(df)
    // codegen'd operators render as "*(n) HashAggregate" in the final plan
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(finalP).isDefined,
      s"aggregation fell out of whole-stage codegen:\n$finalP")
  }

  test("grouped scan and sessionize are scan-shaped: exactly one shuffle") {
    val ev = (0 until 100).map(i => (i % 5, i.toDouble, i.toLong)).toDF("k", "v", "pos")
    val scanP = plan(GroupByScan.scan(ev, "v", Seq("k"), "nancumsum", Seq(col("pos")), "r"))
    assert(exchanges(scanP) == 1, s"scan should shuffle once:\n$scanP")
    val ts = (0 until 100).map(i =>
      (i % 5, new java.sql.Timestamp(1700000000000L + i * 60000L), i.toDouble)).toDF("user_id", "ts", "value")
    val sessP = plan(Sessionize.sessions(ts, Seq("user_id"), "ts", 1800, "value"))
    // lag + running sum + per-session rollup ride the same user_id
    // partitioning; the rollup re-aggregates on (user_id, session) — 2
    // exchanges total, independent of session count
    assert(exchanges(sessP) <= 2, s"sessionize should need <=2 shuffles:\n$sessP")
  }

  test("asofJoin is one shuffle + one sort (no range-join pair blowup)") {
    val l = (0 until 50).map(i => (i % 3, i.toLong, s"e$i")).toDF("k", "t", "payload")
    val r = (0 until 20).map(i => (i % 3, i.toLong * 2, i.toDouble)).toDF("k", "t", "v")
    val p = plan(AsOfJoin.asofJoin(l, r, Seq("k"), "t", "t", Seq("v")))
    assert(exchanges(p) == 1, s"asof should shuffle once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"asof must not fall back to a product join:\n$p")
  }

  test("topK broadcasts the query side; corpus side is never shuffled before scoring") {
    val e = TestSpark.table("0.01", "embeddings")
    val p = plan(Similarity.topK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 3))
    assert(p.contains("Broadcast"), s"query side should broadcast:\n$p")
  }

  test("expected-groups reindex joins broadcast the expected side") {
    val expected = GroupByReduce.expectedDf(spark, "l_returnflag", Seq("A", "N", "R", "X"))
    val p = plan(GroupByReduce.reduce(TestSpark.table("0.01", "lineitem"),
      Seq("l_returnflag"), Seq(Agg("count", "l_quantity", "n", fill = Some(0L))),
      expected = Some(expected)))
    assert(p.contains("BroadcastHashJoin"), s"reindex should broadcast:\n$p")
  }

  test("topk: partial heap aggregation runs before the shuffle (k-bounded exchange)") {
    val df = GroupByReduce.reduce(TestSpark.table("0.01", "lineitem")
        .withColumn("pos", col("l_orderkey") * 8 + col("l_linenumber")),
      Seq("l_returnflag"), Seq(Agg("topk", "l_extendedprice", "top", k = 5)),
      pos = Some(col("pos")), sort = false)
    val p = plan(df)
    assert(p.contains("partial_graft_topk"),
      s"expected map-side partial topk before the exchange:\n$p")
    assert(exchanges(p) == 1, s"expected exactly one shuffle:\n$p")
    assert(!p.contains("Window"), s"window leaked into topk:\n$p")
  }

  test("qcut: binning is one codegen'd scan — literal edges, zero joins, zero exchanges") {
    // r5: the <= nBins-1 edges are literalized (the bounded IVF-centroid
    // contract), so the binned pass needs no broadcast join at all — the
    // whole operator is a single projection over the scan
    val d = TestSpark.table("0.01", "lineitem")
    val p = plan(graft.operators.Binning.qcut(d, "l_extendedprice", 4, "b"))
    assert(p.contains("graft_searchsorted"), s"expected the native bin expression:\n$p")
    assert(!p.contains("Join") && exchanges(p) == 0,
      s"literal-edge binning must not join or shuffle:\n$p")
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"),
      s"bin projection should stay inside codegen:\n$p")
  }

  test("embeddingDedup: anti join-back on the dropped-id set, exact verify inside") {
    val e = TestSpark.table("0.01", "embeddings")
    val p = plan(graft.operators.Dedup.embeddingDedup(e, "vec_id", "embedding", 0.4))
    assert(p.contains("LeftAnti"), s"survivors should come from an anti join:\n$p")
  }

  test("nearDupDedup/simhashDedup: survivors via one anti join, no extra corpus shuffle") {
    val docs = TestSpark.table("0.01", "documents")
    for ((name, df) <- Seq(
        "nearDupDedup" -> graft.operators.Dedup.nearDupDedup(docs, "doc_id", "text"),
        "simhashDedup" -> graft.operators.Dedup.simhashDedup(docs, "doc_id", "text"))) {
      val p = plan(df)
      assert(p.contains("LeftAnti"), s"$name survivors should come from an anti join:\n$p")
    }
  }

  test("qcutByWithEdges: literalized grouped binning is zero joins, zero exchanges") {
    // the grouped twin of the qcut pin: per-group edges folded into a
    // null-safe when-chain of literals — the binned pass is a single
    // codegen'd projection over the scan
    val d = TestSpark.table("0.01", "lineitem")
    val edges = graft.operators.Binning.qcutByEdges(
      d, Seq("l_returnflag"), "l_extendedprice", 4, maxGroups = 8)
    val p = plan(graft.operators.Binning.qcutByWithEdges(
      d, Seq("l_returnflag"), "l_extendedprice", edges, "b"))
    assert(p.contains("graft_searchsorted"), s"expected the native bin expression:\n$p")
    assert(!p.contains("Join") && exchanges(p) == 0,
      s"literal-grouped-edge binning must not join or shuffle:\n$p")
  }

  test("transform family (rank/shift/diff) is scan-shaped: one shuffle even when chained") {
    import graft.operators.GroupByTransform
    val ev = TestSpark.table("0.01", "events")
    val ord = Seq(col("ts"), col("event_id"))
    val chained = GroupByTransform.diffBy(
      GroupByTransform.shiftBy(
        GroupByTransform.rankBy(ev, Seq("user_id"), "value", "r"),
        Seq("user_id"), ord, "value", 1, "prev"),
      Seq("user_id"), ord, "value", 1, "dv")
    val p = plan(chained)
    assert(exchanges(p) == 1,
      s"rank+shift+diff share the user_id partitioning — one exchange:\n$p")
  }

  test("curationFilter: stateless — no exchange, no state, one codegen'd filter pass") {
    val docs = TestSpark.table("0.01", "documents")
    val p = plan(graft.streaming.StreamingOps.curationFilter(
      docs, "text", sampleRate = 0.5, minQuality = 300L))
    assert(exchanges(p) == 0, s"curation filter must not shuffle:\n$p")
    assert(!p.contains("Join"), s"curation filter must not join:\n$p")
  }

  test("contaminatedDocs with broadcastEval: eval grams broadcast, train side probes in place") {
    val docs = TestSpark.table("0.01", "documents")
    val p = plan(graft.operators.NgramOverlap.contaminatedDocs(
      docs.where(col("source") =!= "src0"), docs.where(col("source") === "src0"),
      "doc_id", "text", n = 5, broadcastEval = true))
    assert(p.contains("BroadcastHashJoin"), s"eval gram set should broadcast:\n$p")
    // two exchanges total: the eval side's distinct (inside the broadcast
    // subtree, small) and the final per-doc count agg — the train side
    // itself goes scan -> explode -> broadcast probe with no shuffle
    assert(exchanges(p) <= 2, s"unexpected extra shuffles:\n$p")
    val broadcastAt = p.indexOf("BroadcastExchange")
    val trainSide = p.substring(0, broadcastAt)
    assert("Exchange hashpartitioning".r.findAllIn(trainSide).length <= 1,
      s"train grams must not shuffle before the probe:\n$p")
  }

  test("contaminatedSpans with broadcastEval: eval window triples broadcast before the semi join") {
    val docs = TestSpark.table("0.01", "documents")
    val p = plan(graft.operators.NgramOverlap.contaminatedSpans(
      docs.where(col("source") =!= "src0"), docs.where(col("source") === "src0"),
      "doc_id", "text", windowTokens = 5, broadcastEval = true))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval triple set should broadcast into a semi join:\n$p")
    // the train window table must reach the broadcast probe unshuffled;
    // its only exchange is the island-merge window by doc afterwards
    val broadcastAt = p.indexOf("BroadcastExchange")
    val trainSide = p.substring(0, broadcastAt)
    assert("Exchange hashpartitioning".r.findAllIn(trainSide).length <= 1,
      s"train windows must not shuffle before the probe:\n$p")
  }

  test("ewmMean is scan-shaped: row stage cached once, carry joins broadcast at summary scale") {
    val ev = SparkEntry.ev(spark, "/root/testdata/sf0.001")
    graft.operators.CacheScope.releasing {
      val out = graft.operators.Ewm.ewmMean(ev, Seq("user_id"),
        Seq(col("ts"), col("event_id")), "valn", 0.5)
      out.count() // materialize so InMemoryRelation shows in the executed plan
      val p = plan(out)
      // the base row shuffle by group is the only data-sized exchange;
      // chunk/superchunk summaries are 1/C-scale and broadcast back
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"row stage should be persisted across its two consumers:\n$p")
    }
  }

  test("sampleKPerGroup: heap aggregation, no window sort; selection joins back broadcast") {
    val docs = TestSpark.table("0.01", "documents")
    val p = plan(graft.operators.Sampling.sampleKPerGroup(
      docs, Seq("lang"), 10, graft.operators.Sampling.idKey(col("doc_id")), col("doc_id")))
    assert(p.contains("partial_graft_topk"), s"expected k-bounded heap partials:\n$p")
    assert(!p.contains("Window"), s"window sort leaked into the sampler:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"winner ids should semi-join back broadcast:\n$p")
  }

  test("rollingTime is scan-shaped: one shuffle, one RANGE window") {
    val rows = (0 until 100).map(i =>
      (i.toLong, s"u${i % 4}", new java.sql.Timestamp(1700000000000L + i * 60000L), i.toDouble))
      .toDF("event_id", "user", "ts", "v")
    val p = plan(graft.operators.Rolling.rollingTime(
      rows, Seq("user"), "ts", "1 hour", "v", Seq("count" -> "n", "sum" -> "s")))
    assert(exchanges(p) == 1, s"rolling should shuffle once:\n$p")
    assert(p.contains("RangeFrame") || p.contains("RANGE BETWEEN"),
      s"expected a RANGE frame:\n$p")
    // r5: the var/std power sums must RIDE that same window exchange —
    // a second shuffle would mean the decomposition re-partitioned
    val p2 = plan(graft.operators.Rolling.rollingTime(
      rows, Seq("user"), "ts", "1 hour", "v",
      Seq("count" -> "n", "sum" -> "s", "var" -> "vv", "std" -> "sd")))
    assert(exchanges(p2) == 1, s"var/std must share the one window shuffle:\n$p2")
  }

  test("Pii.scan adds no shuffle or join: pure per-row projection") {
    val docs = TestSpark.table("0.01", "documents")
    val p = plan(graft.operators.Pii.scan(docs, "text"))
    assert(exchanges(p) == 0, s"PII scan must be shuffle-free:\n$p")
    assert(!p.contains("Join"), s"PII scan must not join:\n$p")
  }

  test("asofJoinForward/Nearest: one shuffle, no product join; nearest shares ONE sort") {
    val l = (0 until 50).map(i => (i % 3, i.toLong, s"e$i")).toDF("k", "t", "payload")
    val r = (0 until 20).map(i => (i % 3, i.toLong * 2, i.toDouble)).toDF("k", "t", "v")
    for (df <- Seq(
        AsOfJoin.asofJoinForward(l, r, Seq("k"), "t", "t", Seq("v")),
        AsOfJoin.asofJoinNearest(l, r, Seq("k"), "t", "t", Seq("v")))) {
      val p = plan(df)
      assert(exchanges(p) == 1, s"asof variants should shuffle once:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"asof must not fall back to a product join:\n$p")
    }
    // both nearest fills share the backward side order -> one Sort node
    val pn = plan(AsOfJoin.asofJoinNearest(l, r, Seq("k"), "t", "t", Seq("v")))
    assert("Sort ".r.findAllIn(pn).length <= 1,
      s"nearest's two fills must share one in-partition sort:\n$pn")
  }

  test("interpolateTime: one shuffle, one sort for all four neighbor fills") {
    import graft.operators.GroupByTransform
    val rows = (0 until 100).map(i =>
      (i.toLong, s"u${i % 4}", new java.sql.Timestamp(1700000000000L + i * 60000L),
        if (i % 5 == 0) Double.NaN else i.toDouble))
      .toDF("event_id", "user", "ts", "v")
    val p = plan(GroupByTransform.interpolateTime(rows, Seq("user"), "ts", "v",
      tieBreak = Seq(col("event_id"))))
    assert(exchanges(p) == 1, s"interpolate should shuffle once:\n$p")
    assert("Sort ".r.findAllIn(p).length <= 1,
      s"backward+forward fills must share one sort:\n$p")
  }

  test("rolling median rides the one window exchange; frame array stays inside the WindowExec") {
    val rows = (0 until 100).map(i =>
      (i.toLong, s"u${i % 4}", new java.sql.Timestamp(1700000000000L + i * 60000L), i.toDouble))
      .toDF("event_id", "user", "ts", "v")
    val p = plan(graft.operators.Rolling.rollingTime(
      rows, Seq("user"), "ts", "1 hour", "v",
      Seq("count" -> "n", "median" -> "m", "quantile:0.9" -> "q")))
    assert(exchanges(p) == 1, s"median/quantile must share the one window shuffle:\n$p")
  }

  test("contaminatedDocsBloom: codegen bloom probe on the train scan, no product join") {
    val docs = TestSpark.table("0.01", "documents")
    val p = graft.operators.CacheScope.releasing(plan(
      graft.operators.NgramOverlap.contaminatedDocsBloom(
        docs.where(col("source") =!= "src0"), docs.where(col("source") === "src0"),
        "doc_id", "text", n = 5)))
    assert(p.contains("might_contain"), s"bloom probe must be in the plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom path must stay an equality join:\n$p")
  }

  test("buildNearDupIndex buckets: per-document MinHash kernel, no Exchange, no aggregate") {
    val docs = TestSpark.table("0.01", "documents")
    val buckets = graft.operators.Dedup.buildNearDupIndex(docs, "doc_id", "text").buckets
    val p = plan(buckets)
    assert(!p.contains("Exchange"), s"the sketch must not shuffle:\n$p")
    assert(!p.contains("Aggregate"), s"the sketch must not aggregate:\n$p")
    // the kernel is codegen'd with the scan-side projection and the
    // posexplode (the 129-field aggregate it replaced ran without
    // whole-stage codegen, past spark.sql.codegen.maxFields)
    buckets.collect()
    val finalP = plan(buckets)
    assert("""\*\(\d+\) Generate posexplode\(graft_minhash_bands""".r.findFirstIn(finalP).isDefined,
      s"the sketch fell out of whole-stage codegen:\n$finalP")
  }

  test("q_star: fact-side date filter pushed to parquet; columns pruned; all dims broadcast") {
    val p = plan(SparkEntry.queries("q_star")(spark, "/root/testdata/sf0.001"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"ship-date filter not pushed to the fact scan:\n$p")
    val factRead = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_extendedprice")).getOrElse("")
    assert(factRead.contains("l_discount") && !factRead.contains("l_quantity"),
      s"fact scan should read only the 4 needed columns, got: $factRead")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4,
      s"all four dimension joins must broadcast:\n$p")
  }
}
