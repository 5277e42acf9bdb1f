package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CacheScope, Dedup}

class DedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // 30-token base doc; nearDup differs in one token (trigram J ~ 0.9);
  // unrelated shares no trigrams
  private val base = (1 to 30).map(i => s"w$i").mkString(" ")
  private val nearDup = ((1 to 15).map(i => s"w$i") ++ Seq("CHANGED") ++ (17 to 30).map(i => s"w$i")).mkString(" ")
  private val unrelated = (1 to 30).map(i => s"u$i").mkString(" ")

  private def docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, unrelated), (5L, base)
  ).toDF("doc_id", "text")

  /** Reference MinHash signature: k independent min-hashes over a
    * shingle array, h_s(x) = xxhash64(s, xxhash64(x)), signature[s] =
    * min over shingles — the per-row semantics `Dedup.minhashBands`
    * must band bit for bit. */
  private def minhashSignature(shingleCol: Column, k: Int): Column = {
    val bases = transform(shingleCol, x => xxhash64(x))
    array((0 until k).map { s =>
      array_min(transform(bases, h => xxhash64(lit(s), h)))
    }: _*)
  }

  /** Reference 64-bit SimHash over a token array, per row: bit i is set
    * iff the tokens whose xxhash64 has bit i set outnumber those
    * without (multiplicity counts) — what `Dedup.simhashCols` computes
    * columnar. */
  private def simhash(tokensCol: Column): Column = {
    val hashes = transform(tokensCol, t => xxhash64(t))
    // per-bit signed vote via single-bit mask literals (Spark's shift
    // builtins take constant offsets only); adding the distinct powers of
    // two reassembles the word (the two's-complement add of the 2^63
    // literal sets the sign bit).
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    val votes = transform(
      powers,
      m =>
        aggregate(hashes, lit(0L),
          (acc, h) => acc + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, powers, (s, p) => when(s > 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  test("exactDedup keeps the smallest id per distinct content with duplicate counts") {
    val r = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 3L, 3L -> 1L, 4L -> 1L))
  }

  test("dedupIncremental drops corpus-known and batch-repeated content, keeps batch columns") {
    val corpus = Seq(
      (10L, "old news"), (11L, "shared boilerplate"), (12L, null: String)
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "shared boilerplate"),  // in corpus -> dropped
      (2L, "fresh today"),         // survives
      (3L, "fresh today"),         // batch-internal copy -> dropped
      (4L, "also fresh"),          // survives
      (5L, null: String)           // NULL content -> absent by contract
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(kept == Seq(2L -> "fresh today", 4L -> "also fresh"))
    // empty corpus degenerates to plain within-batch keep-first
    val solo = Dedup.dedupIncremental(corpus.limit(0), batch, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(solo == Seq(1L, 2L, 4L))
  }

  test("dedupIncrementalNear: stored index probes == fresh build, cross drops ignore id order") {
    // corpus ids deliberately LARGER than batch ids: a batch doc matching
    // a corpus doc must still drop (the corpus is already accepted — id
    // order never arbitrates across the boundary)
    val corpus = Seq((100L, base), (101L, unrelated), (102L, null: String))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, nearDup),               // near-dup of corpus base -> dropped
      (2L, (1 to 30).map(i => s"f$i").mkString(" ")), // fresh -> survives
      (3L, (1 to 30).map(i => s"f$i").mkString(" ")), // batch-internal copy -> dropped
      (4L, (1 to 30).map(i => s"g$i").mkString(" ")), // fresh -> survives
      (5L, null: String)           // NULL content -> absent by contract
    ).toDF("doc_id", "text")
    val fresh = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val keptFresh = Dedup.dedupIncrementalNear(fresh, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptFresh == Seq(2L, 4L))
    // parquet round-trip: probing a STORED index is bit-identical to
    // probing the in-session one (signatures are content-keyed)
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    fresh.write(dir)
    val stored = Dedup.NearDupIndex.read(spark, dir)
    assert(stored.n == 3 && stored.bands == 32 && stored.rows == 4)
    val keptStored = Dedup.dedupIncrementalNear(stored, batch, "doc_id", "text",
        broadcastBatch = true)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptStored == keptFresh)
    // rolling forward: index grown by the survivors' sketch rejects a
    // next-day copy of a survivor
    val day2 = Seq((10L, (1 to 30).map(i => s"f$i").mkString(" "))).toDF("doc_id", "text")
    val grownIdx = Dedup.NearDupIndex(
      stored.buckets.union(Dedup.buildNearDupIndex(
        batch.where(col("doc_id").isin(keptFresh: _*)), "doc_id", "text").buckets),
      stored.shingles.union(Dedup.buildNearDupIndex(
        batch.where(col("doc_id").isin(keptFresh: _*)), "doc_id", "text").shingles),
      stored.n, stored.bands, stored.rows)
    assert(Dedup.dedupIncrementalNear(grownIdx, day2, "doc_id", "text").count() == 0)
  }

  test("dropDuplicatesKeepFirst keeps the smallest-id row with all columns") {
    val kept = Dedup.dropDuplicatesKeepFirst(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L)) // 2 and 5 are copies of 1
  }

  test("shingles produce size-n word windows, distinct, with short-doc fallback") {
    val d = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(d(0) == Seq("a b c", "b c d"))
    assert(d(1) == Seq("a b")) // shorter than n -> whole doc
  }

  test("nearDupPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(p => (p._1, p._2))
    val ids = pairs.map(p => (p._1, p._2))
    assert(ids.contains((1L, 2L)) && ids.contains((1L, 5L)) && ids.contains((2L, 5L)),
      s"exact-dup pairs missing: $ids")
    assert(ids.contains((1L, 3L)), s"near-dup pair missing: $ids")
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $ids")
    val exact = pairs.find(p => (p._1, p._2) == (1L, 2L)).get
    assert(exact._3 == 1.0)
    val near = pairs.find(p => (p._1, p._2) == (1L, 3L)).get
    assert(near._3 > 0.8 && near._3 < 1.0)
  }

  test("crossNearDupPairs finds only cross-set matches (decontamination)") {
    val train = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val eval_ = Seq((10L, nearDup), (11L, base), (12L, (1 to 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossNearDupPairs(train, eval_, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L), (1L, 11L)), s"got $pairs")
    // within-set near-dups (10 vs 11) must NOT appear
  }

  test("minhashBands == banding of minhashSignature, bit for bit; NULL/empty arrays") {
    graft.expressions.GraftFunctions.register(spark)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .unionByName(Seq[(Long, Seq[String])](
        (10L, Seq("w1 w2 w3", null, "u1 u2 u3")), // NULL element: hashes to the seed
        (11L, Seq(null)),
        (12L, Seq.empty), // empty and NULL arrays: no signature, no rows
        (13L, null)).toDF("doc_id", "sh"))
    for ((bands, rows) <- Seq((32, 4), (4, 2))) {
      val sig = minhashSignature(col("sh"), bands * rows)
      val reference = array((0 until bands).map { b =>
        xxhash64((0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*)
      }: _*)
      val got = sh.select(col("doc_id"), Dedup.minhashBands(col("sh"), bands, rows).as("k"),
          reference.as("ref"), coalesce(size(col("sh")), lit(0)).as("n"))
        .collect().map(r => (r.getLong(0),
          Option(r.getSeq[Long](1)).map(_.toVector), r.getSeq[Long](2).toVector, r.getInt(3)))
      assert(got.length == 9)
      got.foreach { case (id, k, ref, n) =>
        if (n > 0) assert(k.contains(ref), s"doc $id at ($bands, $rows)")
        else assert(k.isEmpty, s"doc $id: an empty or NULL array has no signature")
      }
      // the interpreted path (eval) agrees with the codegen'd one above
      got.filter(_._4 > 0).foreach { case (id, k, _, _) =>
        val arr = sh.where(col("doc_id") === id).head().getSeq[String](1)
        val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
          arr, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
        val ev = graft.expressions.MinHashBands(lit, bands, rows).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toVector
        assert(k.contains(ev), s"doc $id: eval differs from codegen")
      }
    }
    // the index's (id, band, bucket) rows are the posexplode of the keys
    val idx = Dedup.buildNearDupIndex(docs, "doc_id", "text", n = 3, bands = 4, rows = 2)
    val sig = minhashSignature(Dedup.shingles(col("text"), 3), 8)
    val ref = docs.select(col("doc_id").as("id"), posexplode(array((0 until 4).map { b =>
      xxhash64(element_at(sig, 2 * b + 1), element_at(sig, 2 * b + 2))
    }: _*)).as(Seq("band", "bucket")))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(rowsOf(idx.buckets) == rowsOf(ref))
    assert(idx.buckets.schema == ref.schema)
  }

  test("columnar simhash equals the expression form and is 0-distance for identical docs") {
    val exprSim = docs.select(col("doc_id"), simhash(Dedup.tokens(col("text"))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val colSim = Dedup.simhashCols(
      docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
        .select(col("doc_id"), xxhash64(col("t")).as("h")),
      "doc_id", "h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprSim == colSim)
    assert(exprSim(1L) == exprSim(2L)) // identical docs -> identical fingerprint
    assert(java.lang.Long.bitCount(exprSim(1L) ^ exprSim(4L)) > 3,
      "unrelated docs should be far in hamming space")
  }

  test("simhashPairs returns identical docs at distance 0 and excludes far docs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val ids = pairs.map(p => (p._1, p._2))
    assert(ids.contains((1L, 2L)) && ids.contains((1L, 5L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 0)
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("replayable simhash family matches the xxhash64 plan shape and finds the same dup structure") {
    graft.expressions.GraftFunctions.register(spark)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3,
      tokenHash = graft.operators.TextAnalysis.fingerprintFast, bitOf = Dedup.replayableBit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val ids = pairs.map(p => (p._1, p._2))
    assert(ids.contains((1L, 2L)) && ids.contains((1L, 5L)) && ids.contains((2L, 5L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 0)
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $ids")
  }

  test("replayable bit family: unrelated docs stay far apart (salts actually mix)") {
    // regression for the small-multiplier degeneracy: parity bits from
    // unreduced products collapse distances corpus-wide
    graft.expressions.GraftFunctions.register(spark)
    val sims = Dedup.simhashCols(
      docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
        .select(col("doc_id"), graft.operators.TextAnalysis.fingerprintFast(col("t")).as("h")),
      "doc_id", "h", Dedup.replayableBit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(4L)) > 16,
      s"unrelated docs too close: ${java.lang.Long.bitCount(sims(1L) ^ sims(4L))} bits")
  }

  test("managed near-dup calls release their cache entries") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    CacheScope.releasing {
      assert(Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5).count() > 0)
      assert(!cm.isEmpty, "expected persisted intermediates during the sweep")
    }
    assert(cm.isEmpty, "releasing must unpersist all intermediates")
    CacheScope.releasing {
      assert(Dedup.crossNearDupPairs(
        docs, Seq((10L, nearDup)).toDF("doc_id", "text"), "doc_id", "text").count() > 0)
    }
    assert(cm.isEmpty, "cross releasing must unpersist all intermediates")
  }

  test("crossNearDupPairs broadcastRight=true pins the eval-side broadcast") {
    val train = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val eval_ = Seq((10L, nearDup)).toDF("doc_id", "text")
    val plan = Dedup.crossNearDupPairs(train, eval_, "doc_id", "text",
        broadcastRight = true)
      .queryExecution.sparkPlan.toString
    // pinned broadcast (not an AQE runtime decision): both the bucket
    // join and the shingle verify join see a broadcast right side
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2,
      s"expected >=2 static BroadcastHashJoins, plan:\n$plan")
  }

  test("maxBucketSize caps degenerate buckets; oversizedBuckets audits them") {
    // 40 identical boilerplate docs (collide in every band) + one near-dup
    // pair with unique content
    val boiler = (1 to 40).map(i => (100L + i, base))
    val d = (boiler ++ Seq((1L, unrelated), (2L, unrelated.replace("u7", "CHANGED")))).toDF("doc_id", "text")
    val capped = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), "healthy-bucket near-dup must survive the cap")
    assert(!capped.exists(p => p._1 > 100L), "boilerplate bucket pairs must be dropped by the cap")
    val audit = Dedup.oversizedBuckets(d, "doc_id", "text", maxBucketSize = 10)
    assert(audit.count() == 32, "all 32 bands of the boilerplate content should be flagged")
    assert(audit.agg(max("n_docs")).head.getLong(0) == 40L)
    // uncapped control: the boilerplate clique is present
    val uncapped = Dedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists(p => p._1 > 100L))
  }

  test("embeddingDedup drops rows with a smaller-id cosine neighbor; lsh never drops more than exact") {
    // unit vectors at 0/20/40 degrees: cos(1,2)=cos(2,3)=cos20~0.94 >= 0.9
    // but cos(1,3)=cos40~0.77 < 0.9 — a chain; 4,5 isolated
    val d = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9397f, 0.342f, 0.0f)),
      (3L, Seq(0.766f, 0.6428f, 0.0f)),
      (4L, Seq(-1.0f, 0.2f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingDedup(d, "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    // 2 drops (near 1); 3 drops too (near 2, one-pass rule — NOT greedy,
    // which would keep 3 because its only nearer neighbor 2 was dropped)
    assert(exact == Set(1L, 4L, 5L))
    val lsh = Dedup.embeddingDedup(d, "vec_id", "embedding", 0.9, method = "lsh")
      .select("vec_id").as[Long].collect().toSet
    assert(exact.subsetOf(lsh), s"lsh dropped a non-duplicate: $lsh vs $exact")
    intercept[IllegalArgumentException] {
      Dedup.embeddingDedup(d, "vec_id", "embedding", 0.9, method = "ivf")
    }
    // lsh path: the releasing scope must unpersist lshNeighbors' caches
    val cm = TestSpark.spark.sharedState.cacheManager
    cm.clearCache()
    CacheScope.releasing {
      Dedup.embeddingDedup(d, "vec_id", "embedding", 0.9, method = "lsh").count()
      assert(!cm.isEmpty, "expected persisted intermediates during the lsh sweep")
    }
    assert(cm.isEmpty, "releasing must unpersist the lsh intermediates")
  }

  test("nearDupDedup keeps only rows with no smaller-id near-dup neighbor (one-pass rule)") {
    // docs: 1,2,5 identical, 3 near-dup of them, 4 unrelated -> pairs
    // cover {2,3,5} on the id_b side; survivors are 1 and 4 with ALL
    // columns (row-preserving form)
    val kept = Dedup.nearDupDedup(docs, "doc_id", "text", threshold = 0.5)
    assert(kept.columns.toSeq == docs.columns.toSeq)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    // a releasing scope frees the pair machinery's cache entries
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    CacheScope.releasing {
      Dedup.nearDupDedup(docs, "doc_id", "text").count()
      assert(!cm.isEmpty, "expected persisted intermediates during the sweep")
    }
    assert(cm.isEmpty, "releasing must unpersist all intermediates")
  }

  test("simhashDedup keeps only rows with no smaller-id hamming neighbor") {
    // docs 1,2,5 identical (dist 0), 3 near (small dist), 4 unrelated
    val kept = Dedup.simhashDedup(docs, "doc_id", "text", maxDist = 3)
    assert(kept.columns.toSeq == docs.columns.toSeq)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L) && ids.contains(4L), s"survivors must include 1 and 4: $ids")
    assert(!ids.contains(2L) && !ids.contains(5L), s"exact copies must drop: $ids")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    CacheScope.releasing {
      Dedup.simhashDedup(docs, "doc_id", "text").count()
      assert(!cm.isEmpty, "expected the persisted signature table during the sweep")
    }
    assert(cm.isEmpty, "releasing must unpersist the signature table")
  }

  test("dupClusters: bounded min-label propagation, k hops per iteration") {
    // star graph 1-3, 2-3 (1 and 2 are both near 3, not each other)
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val k1 = Dedup.dupClusters(pairs, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one hop: 3 sees 1; 2 only sees 3's ORIGINAL label
    assert(k1 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    val k2 = Dedup.dupClusters(pairs, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two hops: 1's label reaches 2 through 3 — fully converged
    assert(k2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    intercept[IllegalArgumentException] { Dedup.dupClusters(pairs, iterations = 0) }
  }

  test("dupClustersAudited: final-round movement flags under-chosen k; empty audit proves fixpoint") {
    // chain 1-2-3-4-5 (diameter 4): min-label propagation moves one hop
    // per round, so labels keep changing through round 5
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val (l2, audit2) = Dedup.dupClustersAudited(chain, iterations = 2)
    // round 2 moved nodes 3 (2->1), 4 (3->2), 5 (4->3): k=2 under-chosen
    val moved = audit2.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(moved == Set((3L, 2L, 1L), (4L, 3L, 2L), (5L, 4L, 3L)))
    assert(l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L),
      "k=2 labels still carry local minima — exactly what the audit flags")
    // k=5: round 5 moves nothing (round 4 already reached the global
    // min everywhere) — empty audit proves the fixpoint
    val (l5, audit5) = Dedup.dupClustersAudited(chain, iterations = 5)
    assert(audit5.isEmpty, "fixpoint reached: audit must be empty")
    assert(l5.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("ccStarContraction: stops at the fixpoint, reports rounds, cap binds") {
    // chain 1-2-3-4-5 (diameter 4): two rounds contract it to the star
    // on 1; the third observes no change
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val (labels, rounds, converged) = Dedup.ccStarContraction(chain, maxIters = 10)
    assert(converged && rounds == 3)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // cap binds before convergence: partial labels, converged=false
    val (capped, r1, c1) = Dedup.ccStarContraction(chain, maxIters = 1)
    assert(!c1 && r1 == 1)
    assert(capped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("transitive dedup differs from one-pass on a star; iteration bound is honored") {
    // star in TEXT space: doc 3 = doc1 ++ doc2, so J(1,3)=J(2,3)~0.48 but
    // J(1,2)=0. rows=2/bands=64 puts j~0.48 at miss-probability ~4e-8
    // (1-(1-j^2)^64) — deterministic for a spec; banding false positives
    // are removed by the exact-Jaccard verify, so precision is unaffected.
    val a = (1 to 30).map(i => s"a$i").mkString(" ")
    val b = (1 to 30).map(i => s"b$i").mkString(" ")
    val star = Seq((1L, a), (2L, b), (3L, a + " " + b)).toDF("doc_id", "text")
    val onePass = Dedup.nearDupDedup(star, "doc_id", "text",
      threshold = 0.4, bands = 64, rows = 2)
      .select("doc_id").as[Long].collect().toSet
    // one-pass: only 3 has a smaller-id neighbor; 2's sole link is to a
    // LARGER id, so it survives
    assert(onePass == Set(1L, 2L))
    val transitive = Dedup.nearDupDedupTransitive(star, "doc_id", "text",
      iterations = 2, threshold = 0.4, bands = 64, rows = 2)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3} keeps only its min
    assert(transitive == Set(1L))
    // under-sized k never drops a cluster min, only leaves extra
    // survivors: after 1 iteration 2 still carries its own label
    val k1 = Dedup.nearDupDedupTransitive(star, "doc_id", "text",
      iterations = 1, threshold = 0.4, bands = 64, rows = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(k1 == Set(1L, 2L))
    // chain fixture (1~2~3, 1!~3 in one-pass terms): transitive and
    // one-pass agree — both keep {1, 4}
    val chain = Dedup.nearDupDedupTransitive(docs, "doc_id", "text",
      iterations = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(chain == Set(1L, 4L))
  }

  test("hamming is bit_count of xor") {
    val r = Seq((0L, 0L), (0L, 7L), (-1L, 0L)).toDF("a", "b")
      .select(Dedup.hamming(col("a"), col("b"))).collect().map(_.getInt(0)).toSeq
    assert(r == Seq(0, 3, 64))
  }

  test("contentKey: different salts give independent hashes") {
    val (h1, h2) = Dedup.contentKey(col("text"))
    val r = Seq("x", "y").toDF("text").select(h1.as("a"), h2.as("b")).collect()
    assert(r.forall(x => x.getLong(0) != x.getLong(1)))
  }

  test("segmentDedup keeps only the corpus-wide first occurrence of each segment") {
    // seg "dup" appears in docs 1 (idx 0), 2 (idx 1), and twice in doc 1
    val segs = Seq(
      (1L, 0, "dup"), (1L, 1, "only-in-1"), (1L, 2, "dup"),
      (2L, 0, "only-in-2"), (2L, 1, "dup"),
      (3L, 0, "dup") // doc 3 is ALL duplicate -> vanishes after rebuild
    ).toDF("doc_id", "idx", "seg")
    val kept = Dedup.segmentDedup(segs, "doc_id", "idx", "seg")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(kept == Set((1L, 0, "dup"), (1L, 1, "only-in-1"), (2L, 0, "only-in-2")))
  }

  test("segmentDedupText rebuilds survivors in order and drops emptied docs") {
    val docsDf = Seq(
      (1L, "a b c d e f"),   // chunks of 2: "a b","c d","e f"
      (2L, "c d x y"),       // "c d" seen in doc 1 -> only "x y" survives
      (3L, "a b c d")        // both chunks seen -> doc vanishes
    ).toDF("doc_id", "text")
    val r = Dedup.segmentDedupText(docsDf, "doc_id", "text", maxTokens = 2)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      1L -> (("a b c d e f", 3L, 3L)),
      2L -> (("x y", 1L, 2L))))
  }

  test("clusterSplit: cluster co-location, singleton fallback, assignSplit parity") {
    import graft.operators.Sampling
    // labels: {1,2,3} one cluster (rep 1), {7,8} another (rep 7); 4,5 singletons
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "cluster_id")
    val rows = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L).toDF("doc_id")
    val splits = Seq("train" -> 0.5, "test" -> 0.5)
    val got = Dedup.clusterSplit(rows, "doc_id", labels, splits, salt = 9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // co-location: every cluster member shares its rep's split
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(7L) == got(8L))
    assert(got(1L)._1 == 1L && got(7L)._1 == 7L)
    // singleton fallback = plain assignSplit keyed by own id
    val single = Sampling.assignSplit(Seq(4L, 5L).toDF("doc_id"),
        Sampling.idKey(col("doc_id")), splits, salt = 9)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(4L)._2 == single(4L) && got(5L)._2 == single(5L))
    assert(got(4L)._1 == 4L && got(5L)._1 == 5L)
  }

  test("jaccardJoinExact matches brute-force all-pairs at every threshold") {
    // richer corpus: graded overlap levels so thresholds cut differently
    val mid = ((1 to 10).map(i => s"w$i") ++ (1 to 20).map(i => s"m$i")).mkString(" ")
    val corpus = docs.union(Seq((6L, mid), (7L, "a b"), (8L, "a b")).toDF("doc_id", "text"))
    val sh = corpus.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (t <- Seq(0.3, 0.5, 0.9, 1.0)) {
      val got = Dedup.jaccardJoinExact(corpus, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = brute.filter(_._2 >= t)
      assert(got == want, s"threshold $t: got ${got.keySet}, want ${want.keySet}")
    }
  }

  test("ccStarContraction: log-round convergence on a path where propagation needs n-1 rounds") {
    // 64-node path 0-1-2-...-63: component diameter 63, so min-label
    // propagation needs 63 rounds to carry 0 to the far end; star
    // contraction halves heights every alternation — the whole point
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds, converged) = Dedup.ccStarContraction(pairs, maxIters = 12)
    assert(converged, s"path should converge within 12 rounds (ran $rounds)")
    assert(rounds <= 8, s"star contraction should need O(log n) rounds on a path, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("ccStarContraction equals a union-find and bounded dupClusters at the diameter; empty and multi-component inputs") {
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deterministic pseudo-random graphs over varied density (sparse
    // forest fragments through near-connected): ids hashed into pairs
    for ((nEdges, seed) <- Seq((12, 1L), (30, 2L), (60, 3L), (90, 4L))) {
      val edges = (1 to nEdges).map { i =>
        val a = (i * 2654435761L + seed * 977L) % 40
        val b = (i * 40503L + 7 + seed * 131L) % 40
        (a.min(b), a.max(b))
      }.filter(p => p._1 != p._2)
      val (star, _, cs) = Dedup.ccStarContraction(edges.toDF("id_a", "id_b"), maxIters = 20)
      assert(cs)
      // union-find, each root the minimum of its component
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      val want = parent.keys.toSeq.map(x => x -> find(x)).toMap
      assert(labelMap(star) == want,
        s"star contraction vs union-find disagree on graph(seed=$seed, edges=$nEdges)")
    }
    // the 5-chain: bounded propagation at k = its diameter (4) reaches
    // the same fixpoint labels
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val (cl, _, cc) = Dedup.ccStarContraction(chain, maxIters = 10)
    assert(cc)
    assert(labelMap(cl) == labelMap(Dedup.dupClusters(chain, iterations = 4)))
    // self-loop-only input: no cross-id edge -> every node a singleton
    // labeled with itself (the dupClusters contract — its injected
    // self-loops produce the same rows), zero rounds,
    // immediately converged
    val (selfOnly, r0, c0) = Dedup.ccStarContraction(
      Seq((1L, 1L), (2L, 2L)).toDF("id_a", "id_b"), maxIters = 3)
    assert(c0 && r0 == 0)
    assert(selfOnly.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 2L))
    // mixed: a self-pair id that ALSO has a real edge keeps its edge
    // label; a self-pair-only id labels itself
    val (mixed, _, cm) = Dedup.ccStarContraction(
      Seq((5L, 5L), (5L, 3L), (9L, 9L)).toDF("id_a", "id_b"), maxIters = 5)
    assert(cm)
    assert(mixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(3L -> 3L, 5L -> 3L, 9L -> 9L))
  }

  test("appendToIndex: rolled-forward index probes identically to a from-scratch build on the union") {
    val corpus = Seq((10L, base), (11L, unrelated)).toDF("doc_id", "text")
    val day1 = Seq(
      (21L, nearDup),            // near-dups corpus 10 -> rejected
      (22L, "brand new thing"),  // survives -> must enter the index
      (23L, null: String)        // NULL content -> out by contract
    ).toDF("doc_id", "text")
    val idx0 = Dedup.buildNearDupIndex(corpus, "doc_id", "text", n = 3, bands = 32, rows = 4)
    val s1 = Dedup.dedupIncrementalNear(idx0, day1, "doc_id", "text", threshold = 0.5)
    assert(s1.collect().map(_.getLong(0)).toSet == Set(22L))
    val rolled = idx0.append(s1, "doc_id", "text")
    val scratch = Dedup.buildNearDupIndex(
      corpus.union(Seq((22L, "brand new thing")).toDF("doc_id", "text")),
      "doc_id", "text", n = 3, bands = 32, rows = 4)
    // day-2 batch hits every boundary: corpus dup, day-1-survivor dup,
    // fresh, and a batch-internal pair
    val day2 = Seq(
      (31L, base),               // corpus dup
      (32L, "brand new thing"),  // dup of the day-1 survivor
      (33L, "really fresh"), (34L, "really fresh"), // batch pair -> keep 33
      (35L, "another one")
    ).toDF("doc_id", "text")
    def probe(ix: Dedup.NearDupIndex) =
      Dedup.dedupIncrementalNear(ix, day2, "doc_id", "text", threshold = 0.5)
        .collect().map(_.getLong(0)).toSet
    val viaRolled = probe(rolled)
    assert(viaRolled == probe(scratch), "append must equal from-scratch on the union")
    assert(viaRolled == Set(33L, 35L))
  }

  test("removeFromIndex: removed-then-probed equals never-present; compaction is a no-op rewrite") {
    val corpus = Seq((10L, base), (11L, unrelated)).toDF("doc_id", "text")
    val extra = Seq((50L, "takedown me now"), (51L, "and me too please")).toDF("doc_id", "text")
    val withExtra = Dedup.buildNearDupIndex(corpus.union(extra), "doc_id", "text")
    val neverHad = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val removed = withExtra.remove(extra.select("doc_id"))
    // table-level identity: exact same bucket and shingle rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toSeq; case x => x
      }).toSet
    assert(rows(removed.buckets) == rows(neverHad.buckets))
    assert(rows(removed.shingles) == rows(neverHad.shingles))
    // probe-level identity on a batch that near-dups BOTH a kept and a
    // removed doc: the removed doc must no longer block its near-dup
    val batch = Seq(
      (90L, nearDup),                 // near-dups kept corpus doc 10 -> rejected
      (91L, "takedown me now"),       // dup of REMOVED 50 -> must now survive
      (92L, "wholly novel stuff")
    ).toDF("doc_id", "text")
    def probe(ix: Dedup.NearDupIndex) =
      Dedup.dedupIncrementalNear(ix, batch, "doc_id", "text", threshold = 0.5)
        .collect().map(_.getLong(0)).toSet
    assert(probe(removed) == Set(91L, 92L))
    assert(probe(removed) == probe(neverHad))
    // unknown ids are a no-op
    val noop = withExtra.remove(Seq(999L).toDF("doc_id"))
    assert(rows(noop.buckets) == rows(withExtra.buckets))
    // compaction: parquet rewrite probes identically and drops lineage
    val dir = java.nio.file.Files.createTempDirectory("graft-ndidx-compact").toString
    val compacted = removed.compact(dir)
    assert(probe(compacted) == Set(91L, 92L))
    assert(compacted.n == removed.n && compacted.bands == removed.bands
      && compacted.rows == removed.rows)
    // remove everything: probe accepts all but batch-internal near-dups
    val empty = neverHad.remove(corpus.select("doc_id"))
    val all = Seq((90L, nearDup), (93L, nearDup), (92L, "wholly novel stuff"))
      .toDF("doc_id", "text")
    assert(Dedup.dedupIncrementalNear(empty, all, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet == Set(90L, 92L))
  }

  test("dedupIncrementalBloom equals dedupIncremental: mixed batch, empty corpus, all-dup batch") {
    val corpus = Seq(
      (10L, "old news"), (11L, "shared boilerplate"), (12L, null: String)
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "shared boilerplate"), (2L, "fresh today"), (3L, "fresh today"),
      (4L, "also fresh"), (5L, null: String), (6L, "old news")
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    assert(ids(Dedup.dedupIncrementalBloom(corpus, batch, "doc_id", "text"))
      == ids(Dedup.dedupIncremental(corpus, batch, "doc_id", "text")))
    // empty corpus: null sketch path — everything fresh, keep-first
    assert(ids(Dedup.dedupIncrementalBloom(corpus.where(lit(false)), batch, "doc_id", "text"))
      == Set(1L, 2L, 4L, 6L))
    // all-duplicate batch: every row bloom-positive, anti-join drops all
    assert(ids(Dedup.dedupIncrementalBloom(corpus,
      Seq((7L, "old news"), (8L, "shared boilerplate")).toDF("doc_id", "text"),
      "doc_id", "text")).isEmpty)
    // larger randomized parity: 300 docs, heavy collision mix
    val big = (0L until 300L).map(i => (i, s"content ${i % 60}")).toDF("doc_id", "text")
    val c2 = big.where(col("doc_id") % 3 === 0)
    val b2 = big.where(col("doc_id") % 3 =!= 0)
    assert(ids(Dedup.dedupIncrementalBloom(c2, b2, "doc_id", "text"))
      == ids(Dedup.dedupIncremental(c2, b2, "doc_id", "text")))
  }

  test("dedupIncrementalBloom: releasing frees the cache; sketch ships broadcast, not as a literal") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val corpus = (0L until 50L).map(i => (i, s"corpus doc $i")).toDF("doc_id", "text")
    val batch = Seq((100L, "corpus doc 7"), (101L, "fresh")).toDF("doc_id", "text")
    CacheScope.releasing {
      val out = Dedup.dedupIncrementalBloom(corpus, batch, "doc_id", "text")
      assert(out.collect().map(_.getLong(0)).toSet == Set(101L))
      assert(!cm.isEmpty, "corpus fingerprints should be persisted during the probe")
      // the sketch bytes must ride a scalar subquery (the InjectRuntimeFilter
      // shape, built lazily in-plan) — never a plan literal head()-collected
      // at plan-construction time
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("Subquery"),
        s"expected the Bloom sketch behind a scalar subquery:\n$p")
    }
    assert(cm.isEmpty, "releasing must unpersist the fingerprint table")
  }

  test("clusterSizeHistogram folds labels to (size, n_clusters, n_docs)") {
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),          // one cluster of 3
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L) // two clusters of 2
    ).toDF("id", "cluster_id")
    val h = Dedup.clusterSizeHistogram(labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(h == Set((3L, 1L, 3L), (2L, 2L, 4L)))
  }
}
