package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CacheScope, Similarity}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  /** Step-by-step reference for one Householder reflection on the
    * quantized grid: Rx = x − (2·u·x / uᵀu)·u, the dot and uᵀu exact
    * integers, the ratio and the per-component update one fixed-IEEE
    * shape each, re-rounded to the 1e-6 grid; uᵀu == 0 is the identity
    * (the vector passes through as double). The fused
    * `graft_householder_chain` must match it bit for bit. */
  private def householderRotate(emb: Column, uq: Seq[Long], uu: Long): Column = {
    require(uu >= 0L, s"uu must be >= 0 (got $uu)")
    require(uu == uq.map(x => x * x).sum, "uu must equal Σ uq² (pass pcaHouseholder's pair)")
    if (uu == 0L) transform(emb, x => x.cast("double"))
    else {
      val uLit = typedlit(uq)
      val q0 = Similarity.quantize(emb)
      val r2 = (lit(2L) * Similarity.dotQ(q0, uLit)).cast("double") / lit(uu).cast("double")
      zip_with(q0, uLit, (x, u) =>
        round(x.cast("double") - r2 * u.cast("double"), 0) / lit(Similarity.Quant))
    }
  }

  /** A [[Similarity.pcaHouseholderK]] reflection sequence as one lazy
    * column: [[householderRotate]] folded left-to-right in step order.
    * Reference only — the HOFs are CodegenFallback, so a lazy k-chain
    * re-evaluates its input per output element (~dimᵏ⁻¹ per row). */
  private def householderRotateK(emb: Column, refl: Seq[(Seq[Long], Long)]): Column = {
    require(refl.nonEmpty, "need at least one reflection")
    refl.foldLeft(emb) { case (e, (uq, uu)) => householderRotate(e, uq, uu) }
  }

  test("quantize is 1e-6 fixed point; dotQ is the exact integer dot product") {
    val d = vecs((1L, Seq(1.0f, -2.0f, 0.5f)))
    val q = Similarity.prepared(d, "vec_id", "embedding")
      .select("q").head().getSeq[Long](0)
    assert(q == Seq(1000000L, -2000000L, 500000L))
    val dot = Similarity.prepared(d, "vec_id", "embedding")
      .select(Similarity.dotQ(col("q"), col("q"))).head().getLong(0)
    assert(dot == 1000000L * 1000000L + 2000000L * 2000000L + 500000L * 500000L)
  }

  test("bruteForcePairs: cosine 1 for parallel, 0 for orthogonal, threshold filters") {
    val d = vecs(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),  // parallel: cos 1
      (3L, Seq(0.0f, 1.0f)),                          // orthogonal to 1,2
      (4L, Seq(1.0f, 1.0f)))                          // cos ~0.7071 with 1,2
    val pairs = Similarity.bruteForcePairs(d, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(pairs((1L, 4L)) - math.sqrt(0.5)) < 1e-6)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("topK: excludes self, orders by cosine desc with id tie-break, caps at k") {
    val d = vecs(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(0.9f, 0.1f)), (5L, Seq(0.0f, 1.0f)))
    val r = Similarity.topK(d, d.filter(col("vec_id") === 1L), "vec_id", "embedding", k = 3)
      .collect().map(x => (x.getInt(1), x.getLong(2))).toSeq.sortBy(_._1)
    // cos(1,2)=cos(1,3)=1 -> ranks 1,2 by id; then 4
    assert(r == Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  test("lshNeighbors on real embeddings: exact precision, high recall vs brute force") {
    val e = TestSpark.table("0.01", "embeddings")
    val brute = Similarity.bruteForcePairs(e, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNeighbors(e, "vec_id", "embedding", 0.35, planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "LSH emitted a pair failing exact verification")
    assert(brute.nonEmpty)
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low (|brute|=${brute.size}, |lsh|=${lsh.size})")
  }

  test("multi-probe LSH: superset of single-probe, exact precision, radius-1 ball at probes=planes") {
    val e = TestSpark.table("0.01", "embeddings")
    val brute = Similarity.bruteForcePairs(e, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = run(Similarity.lshNeighbors(e, "vec_id", "embedding", 0.35,
      planes = 6, tables = 2, dim = 64))
    val multi = run(Similarity.lshNeighborsMultiProbe(e, "vec_id", "embedding", 0.35,
      probes = 6, planes = 6, tables = 2, dim = 64))
    assert(single.subsetOf(multi), "the identity probe must keep every single-probe pair")
    assert(multi.subsetOf(brute), "multi-probe emitted a pair failing exact verification")
    assert(multi.size > single.size,
      s"radius-1 probing should add recall here (single=${single.size}, multi=${multi.size})")
    // probes=planes == the exact Hamming-radius-1 candidate rule: replay
    // buckets through the public lshBucket and intersect with brute truth
    val bks = Similarity.prepared(e, "vec_id", "embedding")
      .select(col("id"),
        array((0 until 2).map(t => Similarity.lshBucket(col("q"), t, 6, 64)): _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = brute.filter { case (a, b) =>
      (0 until 2).exists(t => java.lang.Long.bitCount(bks(a)(t) ^ bks(b)(t)) <= 1)
    }
    assert(multi == want, s"radius-1 rule mismatch: extra=${multi -- want}, missing=${want -- multi}")
    // ranked probing with probes < planes stays between the two
    val partial = run(Similarity.lshNeighborsMultiProbe(e, "vec_id", "embedding", 0.35,
      probes = 2, planes = 6, tables = 2, dim = 64))
    assert(single.subsetOf(partial) && partial.subsetOf(multi))
  }

  test("ivfNeighbors on real embeddings: exact precision, useful recall, recall rises with nprobe") {
    val e = TestSpark.table("0.01", "embeddings")
    val brute = Similarity.bruteForcePairs(e, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = Similarity.ivfNeighbors(e, "vec_id", "embedding", 0.35, cells = 16, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf3 = Similarity.ivfNeighbors(e, "vec_id", "embedding", 0.35, cells = 16, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf1.subsetOf(brute) && ivf3.subsetOf(brute), "IVF emitted an unverified pair")
    assert(ivf3.size >= ivf1.size, "recall must not drop as nprobe rises")
    assert(ivf3.size.toDouble / brute.size >= 0.5,
      s"nprobe=3 recall ${ivf3.size.toDouble / brute.size} too low")
  }

  test("autoPlanes: integer occupancy rule, bounds, monotonicity") {
    assert(Similarity.autoPlanes(0) == 4 && Similarity.autoPlanes(1024) == 4)
    assert(Similarity.autoPlanes(1025) == 5 && Similarity.autoPlanes(2048) == 5)
    assert(Similarity.autoPlanes(16384) == 8)
    assert(Similarity.autoPlanes(Long.MaxValue) == 20) // capped
    val ns = Seq(1L, 100L, 1000L, 10000L, 100000L, 1000000L)
    assert(ns.map(Similarity.autoPlanes(_)) == ns.map(Similarity.autoPlanes(_)).sorted)
  }

  test("isqrt is exact at boundaries; autoCells balances assignment vs verify at sqrt(n)") {
    // exact integer sqrt, including perfect-square boundaries where the
    // double sqrt could land one ulp off
    for (s <- Seq(0L, 1L, 2L, 1000L, 1048576L, 3037000498L)) {
      if (s > 0) assert(Similarity.isqrt(s * s - 1) == s - 1, s"isqrt(${s}^2-1)")
      assert(Similarity.isqrt(s * s) == s, s"isqrt(${s}^2)")
      if (s > 0) assert(Similarity.isqrt(s * s + 1) == s, s"isqrt(${s}^2+1)")
    }
    // small corpora keep the occupancy rule (n/128 dominates below 128^2)
    assert(Similarity.autoCells(500) == 16)     // the test-sf regime: floor
    assert(Similarity.autoCells(10000) == 78)   // n/128 < isqrt(n)=100
    assert(Similarity.autoCells(128 * 128) == 128) // crossover: both 128
    // large corpora switch to sqrt sizing: assignment O(n^1.5), not O(n^2)
    assert(Similarity.autoCells(1000000) == 1000)     // isqrt, not 7812
    assert(Similarity.autoCells(100000000) == 10000)  // isqrt, not 781250
    assert(Similarity.autoCells((1L << 40)) == (1L << 20).toInt) // cap
    val ns = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L)
    assert(ns.map(Similarity.autoCells(_)) == ns.map(Similarity.autoCells(_)).sorted,
      "autoCells must be monotonic in corpus size")
  }

  /** LSH candidate-pair cost with auto-sized planes must grow ~linearly in
    * the corpus (the whole point of corpus-aware sizing): occupancy
    * n/2^planes stays ~constant, so sum-over-buckets C(size,2) scales with
    * bucket count, not n^2. Fixed planes degenerate quadratically — the
    * measured 7x blowup at 16k vectors (BENCH_NOTES round 2). */
  test("autoPlanes keeps LSH candidate growth ~linear from 1x to 8x corpus") {
    def synth(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 16).map(j =>
        sin(col("id") * (7919 + j) + lit(j * 104729)).cast("float")): _*).as("embedding"))
    def candidates(n: Int, planes: Int): Long = {
      val p = Similarity.prepared(synth(n), "vec_id", "embedding")
      p.select(explode(array((0 until 8).map { t =>
          struct(lit(t).as("t"), Similarity.lshBucket(col("q"), t, planes, 16).as("bucket"))
        }: _*)).as("bk"))
        .groupBy("bk.t", "bk.bucket").agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * (col("n") - 1) / 2).cast("long"))).head().getLong(0)
    }
    val c1 = candidates(1000, Similarity.autoPlanes(1000))  // planes=4
    val c8 = candidates(8000, Similarity.autoPlanes(8000))  // planes=7
    assert(c8 <= 16L * c1, s"auto-sized candidates superlinear: 1x=$c1, 8x=$c8")
    val c8fixed = candidates(8000, 4)
    assert(c8fixed > 3L * c8,
      s"expected fixed-planes degeneracy the sizing rule avoids: fixed=$c8fixed auto=$c8")
  }

  test("managed lsh/ivf calls release their persisted corpus projections") {
    val cm = TestSpark.spark.sharedState.cacheManager
    cm.clearCache()
    val e = TestSpark.table("0.001", "embeddings")
    CacheScope.releasing {
      Similarity.lshNeighbors(e, "vec_id", "embedding", 0.35).count()
      assert(!cm.isEmpty, "expected persisted intermediates during the LSH sweep")
    }
    assert(cm.isEmpty, "LSH releasing must unpersist all intermediates")
    CacheScope.releasing {
      Similarity.ivfNeighbors(e, "vec_id", "embedding", 0.35).count()
      assert(!cm.isEmpty)
    }
    assert(cm.isEmpty, "IVF releasing must unpersist the corpus projection")
  }

  /** VERDICT r4 item 3: crossPairs' cartesian is now an explicit opt-in
    * (no default on broadcastRight), and crossNeighborsLsh is the bucketed
    * big x big path — its plan must contain NO cartesian/nested-loop join,
    * its precision must be exact, and recall on the real embeddings must
    * be useful at the decontamination threshold. */
  test("crossNeighborsLsh: bucketed plan, exact precision, useful recall vs crossPairs") {
    val e = TestSpark.table("0.01", "embeddings")
    val left  = e.where(col("vec_id") >= 100)
    val right = e.where(col("vec_id") < 100)
    val exact = Similarity.crossPairs(left, right, "vec_id", "embedding", 0.4,
      broadcastRight = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = CacheScope.releasing {
      val lshDf = Similarity.crossNeighborsLsh(left, right, "vec_id", "embedding", 0.4)
      val plan = lshDf.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"cross-set LSH must bucket, not go quadratic; plan:\n$plan")
      lshDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(lsh.subsetOf(exact), "cross-set LSH emitted a pair failing exact verification")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low (|exact|=${exact.size}, |lsh|=${lsh.size})")
  }

  test("hyperplanes are deterministic across calls") {
    assert(Similarity.hyperplane(1, 2, 8).toSeq == Similarity.hyperplane(1, 2, 8).toSeq)
    assert(Similarity.hyperplane(1, 2, 8).toSeq != Similarity.hyperplane(2, 1, 8).toSeq)
  }

  test("kmeansFit: two separated blobs converge to their means; assignment labels match") {
    // ids chosen so the smallest-id init seeds one centroid per blob
    val d = vecs(
      (1L, Seq(0.0f, 0.0f)), (3L, Seq(0.2f, 0.0f)), (5L, Seq(0.1f, 0.1f)),
      (2L, Seq(10.0f, 10.0f)), (4L, Seq(10.2f, 10.0f)), (6L, Seq(10.1f, 10.1f)))
    val cents = Similarity.kmeansFit(d, "vec_id", "embedding", k = 2, iters = 3)
    // blob means: (0.1, ~0.0333) and (10.1, ~10.0333), quantized 1e-6,
    // Math.round at the third update
    assert(cents.length == 2)
    assert(cents(0) == Seq(100000L, 33333L))
    assert(cents(1) == Seq(10100000L, 10033333L))
    val labels = Similarity.kmeansAssign(d, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Seq(1L, 3L, 5L).forall(labels(_) == 0))
    assert(Seq(2L, 4L, 6L).forall(labels(_) == 1))
  }

  test("kmeansFit: empty cluster keeps its centroid; k clamps to corpus; empty corpus -> no centroids") {
    // both points sit at the origin-side: init c0=(0,0) c1=(100,0); after
    // one update c0 absorbs both points, c1 is empty and must stay put
    val d = vecs((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.4f, 0.0f)), (3L, Seq(100.0f, 0.0f)))
    val cents = Similarity.kmeansFit(
      d.where(col("vec_id") <= 2), "vec_id", "embedding", k = 2, iters = 1,
      init = Some(Array(Seq(0L, 0L), Seq(100000000L, 0L))))
    assert(cents(0) == Seq(200000L, 0L), "mean of the two points")
    assert(cents(1) == Seq(100000000L, 0L), "empty cluster unchanged")
    val clamped = Similarity.kmeansFit(d, "vec_id", "embedding", k = 10, iters = 1)
    assert(clamped.length == 3, "k clamps to the corpus size")
    assert(Similarity.kmeansFit(d.where(lit(false)), "vec_id", "embedding",
      k = 2, iters = 2).isEmpty)
  }

  test("kmeansAssign: exact-distance ties go to the smaller cluster index") {
    val d = vecs((7L, Seq(5.0f, 0.0f)))
    val cents: Array[Seq[Long]] = Array(Seq(0L, 0L), Seq(10000000L, 0L))
    val got = Similarity.kmeansAssign(d, "vec_id", "embedding", cents)
      .head().getInt(1)
    assert(got == 0, "equidistant point must take the smaller index")
  }

  test("kmeansAssign preserves the caller's id column name") {
    val d = vecs((7L, Seq(5.0f, 0.0f)))
    val cents: Array[Seq[Long]] = Array(Seq(0L, 0L))
    assert(Similarity.kmeansAssign(d, "vec_id", "embedding", cents, as = "cl")
      .columns.toSeq == Seq("vec_id", "cl"))
  }

  test("semanticPairs: candidates NEVER leave a cell — a cross-cell near-dup pair is not emitted") {
    // Two cells at (1,0) and (0,1). Vectors 1 and 2 are near-identical
    // (cos ~0.9998) but straddle the boundary: 1 leans toward cell 0,
    // 2 leans toward cell 1 by euclidean distance to the centroids.
    // Brute force finds the pair; semanticPairs must not (SemDeDup's
    // cluster-then-dedup recall trade-off), and every emitted pair's
    // two sides must share the pair's cell under kmeansAssign.
    val cents: Array[Seq[Long]] = Array(Seq(1000000L, 0L), Seq(0L, 1000000L))
    val d = vecs(
      (1L, Seq(1.0f, 0.98f)), (2L, Seq(0.98f, 1.0f)),   // boundary straddle
      (3L, Seq(1.0f, 0.1f)), (4L, Seq(1.0f, 0.12f)),    // both cell 0
      (5L, Seq(0.1f, 1.0f)))                            // cell 1, no near-dup
    val brute = Similarity.bruteForcePairs(d, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((1L, 2L)) && brute.contains((3L, 4L)))
    val sem = Similarity.semanticPairs(d, "vec_id", "embedding", 0.9, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val semIds = sem.map(p => (p._1, p._2))
    assert(!semIds.contains((1L, 2L)), "cross-cell pair must not be a candidate")
    assert(semIds.contains((3L, 4L)), "within-cell near-dup pair must be emitted")
    assert(semIds.subsetOf(brute), "semantic pairs must pass exact verification")
    val cellOf = Similarity.kmeansAssign(d, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    sem.foreach { case (a, b, c) =>
      assert(cellOf(a) == c && cellOf(b) == c,
        s"pair ($a,$b) cell $c disagrees with kmeansAssign")
    }
  }

  test("semanticDedup: keep-smallest-id within cells; survivors pinned; rows preserved") {
    val cents: Array[Seq[Long]] = Array(Seq(1000000L, 0L), Seq(0L, 1000000L))
    val d = vecs(
      (1L, Seq(1.0f, 0.98f)), (2L, Seq(0.98f, 1.0f)),
      (3L, Seq(1.0f, 0.1f)), (4L, Seq(1.0f, 0.12f)),
      (5L, Seq(0.1f, 1.0f)))
    val kept = Similarity.semanticDedup(d, "vec_id", "embedding",
      threshold = 0.9, k = 2, centroids = Some(cents))
    // 4 dropped (near-dup of 3, same cell, larger id); 1,2 both survive
    // (their near-dup pair straddles cells); 5 untouched
    assert(kept.columns.toSeq == d.columns.toSeq, "input schema preserved")
    assert(kept.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 5L))
    // empty corpus: everything survives, no job explosion
    assert(Similarity.semanticDedup(d.where(lit(false)), "vec_id", "embedding",
      threshold = 0.9, k = 2).count() == 0)
  }

  test("pqTopK: codebook-of-the-corpus degenerates to exact NN ranking; subspaces agree") {
    // with k = n and iters = 0 every vector IS a centroid, its own code
    // has distance 0, and ADC(row) = ||q - row||^2 exactly — so PQ must
    // reproduce the exact nearest-neighbor order, ties by id
    val e = vecs(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), (4L, Seq(0.5f, 0.5f, 0.0f, 0.0f)),
      (5L, Seq(1.0f, 0.1f, 0.0f, 0.1f)), (6L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
    val q = vecs((0L, Seq(1.0f, 0.1f, 0.0f, 0.0f)))
    def qz(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 1e6))
    val qv = qz(Seq(1.0f, 0.1f, 0.0f, 0.0f))
    val exact = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), (4L, Seq(0.5f, 0.5f, 0.0f, 0.0f)),
      (5L, Seq(1.0f, 0.1f, 0.0f, 0.1f)), (6L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .map { case (id, v) =>
        val d = qz(v).zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        (id, d)
      }.sortBy { case (id, d) => (d, id) }
    val books1 = Similarity.pqFit(e, "vec_id", "embedding",
      dim = 4, m = 1, k = 6, iters = 0)
    val got = Similarity.pqTopK(e, q, "vec_id", "embedding",
        dim = 4, m = 1, codebooks = books1, topK = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == exact, s"degenerate PQ must equal exact NN: $got vs $exact")
    // m=2 with k >= distinct subvectors is equally lossless — pins the
    // subspace slicing/encoding plumbing against the m=1 result
    val books2 = Similarity.pqFit(e, "vec_id", "embedding",
      dim = 4, m = 2, k = 6, iters = 0)
    val got2 = Similarity.pqTopK(e, q, "vec_id", "embedding",
        dim = 4, m = 2, codebooks = books2, topK = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got2 == exact, s"lossless m=2 PQ must equal exact NN: $got2")
  }

  test("ivfPqTopK equals a full Scala replay of assignment + ADC + rank on real embeddings") {
    val e = TestSpark.table("0.001", "embeddings")
    val corpus = e.where(col("vec_id") >= 5)
    val queries = e.where(col("vec_id") < 5)
    val qz = Similarity.prepared(e, "vec_id", "embedding")
      .select("id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val corpusIds = qz.keys.filter(_ >= 5).toSeq.sorted
    val cents: Array[Seq[Long]] = corpusIds.take(8).map(qz).toArray
    val books = Similarity.pqFit(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iters = 1)
    val got = Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
          dim = 64, m = 4, centroids = cents, codebooks = books),
        queries, "vec_id", "embedding",
        dim = 64, m = 4, centroids = cents, codebooks = books,
        nprobe = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

    // Scala replay with the engine's exact integer conventions
    def argCells(v: Seq[Long], n: Int): Seq[Int] =
      cents.toSeq.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum - 2L * c.zip(v).map { case (a, b) => a * b }.sum, i)
      }.sorted.take(n).map(_._2)
    def codesOf(v: Seq[Long]): Seq[Int] = (0 until 4).map { i =>
      val qi = v.slice(i * 16, (i + 1) * 16)
      books(i).toSeq.zipWithIndex.map { case (c, j) =>
        (c.map(x => x * x).sum - 2L * c.zip(qi).map { case (a, b) => a * b }.sum, j)
      }.min._2
    }
    val corpusCells = corpusIds.map(id => id -> argCells(qz(id), 1).head).toMap
    val corpusCodes = corpusIds.map(id => id -> codesOf(qz(id))).toMap
    val want = (0L until 5L).flatMap { qid =>
      val qv = qz(qid)
      val probed = argCells(qv, 2).toSet
      val dts = (0 until 4).map { i =>
        val qi = qv.slice(i * 16, (i + 1) * 16)
        books(i).toSeq.map { c =>
          qi.map(x => x * x).sum - 2L * c.zip(qi).map { case (a, b) => a * b }.sum +
            c.map(x => x * x).sum
        }
      }
      corpusIds.filter(id => probed(corpusCells(id)))
        .map(id => (id, (0 until 4).map(i => dts(i)(corpusCodes(id)(i))).sum))
        .sortBy { case (id, adc) => (adc, id) }.take(10).zipWithIndex
        .map { case ((id, adc), pos) => (qid, pos + 1L, id, adc) }
    }
    assert(got == want, s"engine vs replay:\n$got\nvs\n$want")
    assert(got.nonEmpty && got.map(_._1).distinct.size == 5)
  }

  test("ivfPqTopK: probe-superset monotonicity, codes-at-rest parity, recall floor, no cartesian") {
    val e = TestSpark.table("0.001", "embeddings")
    val corpus = e.where(col("vec_id") >= 5)
    val queries = e.where(col("vec_id") < 5)
    val n = corpus.count().toInt
    val cents = Similarity.ivfTrain(corpus, "embedding", cells = 8, seed = 7L)
    val books = Similarity.pqFit(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iters = 1)
    def enc() = Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
      dim = 64, m = 4, centroids = cents, codebooks = books)
    def run(nprobe: Int, topK: Int, codes: Option[org.apache.spark.sql.DataFrame] = None) =
      Similarity.ivfPqTopK(codes.getOrElse(enc()), queries, "vec_id", "embedding",
        dim = 64, m = 4, centroids = cents, codebooks = books,
        nprobe = nprobe, topK = topK)
    // with topK = |corpus| the output IS the candidate set: more probes
    // can only add candidates, never remove them
    val cand1 = run(1, n).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand2 = run(2, n).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand4 = run(4, n).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand1.subsetOf(cand2) && cand2.subsetOf(cand4),
      s"probe sets must be monotone: ${cand1.size}/${cand2.size}/${cand4.size}")
    assert(cand2.size < 5L * n, "nprobe=2 of 8 cells must not be exhaustive")
    // the persisted-index path returns the identical result
    val atRest = Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
      dim = 64, m = 4, centroids = cents, codebooks = books)
    assert(run(2, 10).collect().map(_.toSeq).toSet
      == run(2, 10, codes = Some(atRest)).collect().map(_.toSeq).toSet)
    // recall decomposes into the two knobs, pinned separately:
    // (a) ROUTING — the candidate set at nprobe=4 must contain most
    //     exact EUCLIDEAN top-10 neighbors (ADC approximates L2, the
    //     FAISS metric; cosine differs on unnormalized vectors). This
    //     isolates the coarse quantizer.
    val qz = Similarity.prepared(e, "vec_id", "embedding")
      .select("id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val corpusIds = qz.keys.filter(_ >= 5).toSeq
    val exact = (0L until 5L).flatMap { qid =>
      corpusIds.map { id =>
        val d = qz(id).zip(qz(qid)).map { case (a, b) => (a - b) * (a - b) }.sum
        (id, d)
      }.sortBy { case (id, d) => (d, id) }.take(10).map(p => (qid, p._1))
    }.toSet
    val candRecall = (exact intersect cand4).size.toDouble / exact.size
    assert(candRecall >= 0.6,
      s"coarse routing recall $candRecall too low at nprobe=4 of 8 cells")
    // (b) PROBING LOSS — top-10 at nprobe=4 vs the full-scan (nprobe=8
    //     = every cell) ranking under the SAME codebooks: identical
    //     quantization, so the only difference is unprobed cells. (PQ
    //     resolution itself — m·k — is the documented third knob; at
    //     m=4,k=8 on this near-isotropic fixture it dominates the
    //     L2-recall gap, which is the standard PQ trade, not a defect.)
    val fullScan = run(8, 10).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = run(4, 10).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probeRecall = (fullScan intersect probed).size.toDouble / fullScan.size
    assert(probeRecall >= 0.6,
      s"probing recall $probeRecall vs full-scan ADC too low at nprobe=4")
    // plan: bucketed equality join only — no cartesian/nested-loop
    val plan = run(2, 10).queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equality join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"query side should broadcast:\n$plan")
    assert(plan.contains("partial_graft_topk"),
      s"per-query top-k must ride the k-bounded heap aggregation:\n$plan")
  }

  test("residual IVFPQ: full-codebook degenerate == exact L2; residual recall >= raw on clustered data") {
    // 3 well-separated clusters with small deterministic within-cluster
    // offsets — the geometry where residual encoding earns its keep:
    // raw PQ spends its m·k resolution separating CLUSTERS, residual PQ
    // spends it on the within-cell offsets that decide the ranking
    val dim = 8
    val centers = Seq(
      Seq(10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    def v(i: Int): Seq[Float] = centers(i % 3).zipWithIndex.map {
      case (c, j) => (c + (((i * 31 + j * 7) % 11) - 5) * 0.02).toFloat
    }
    val all = (0 until 30).map(i => (i.toLong, v(i)))
    val corpus = vecs(all.filter(_._1 >= 3): _*)
    val queries = vecs(all.filter(_._1 < 3): _*)
    val cents: Array[Seq[Long]] =
      centers.map(_.map(x => math.round(x * 1e6)): Seq[Long]).toArray
    val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 5)
    // degenerate pin: every residual its own code, all cells probed ->
    // ADC(q, x) = ||q − x||² exactly, so the ranking IS topKL2's
    val booksFull = Similarity.pqFitResidual(corpus, "vec_id", "embedding",
      dim, m = 2, cents, k = 27, iters = 0)
    val degen = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
        dim, m = 2, centroids = cents, codebooks = booksFull, residual = true),
      queries, "vec_id", "embedding",
      dim, m = 2, centroids = cents, codebooks = booksFull,
      nprobe = 3, topK = 27, residual = true)
    val exactFull = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 27)
    assert(degen.select("qid", "rank", "vec_id").collect().map(_.toSeq).toSet
      == exactFull.select("qid", "rank", "vec_id").collect().map(_.toSeq).toSet,
      "full-codebook residual IVFPQ must reproduce the exact L2 ranking")
    // recall: residual codebooks at the same m·k budget must do at
    // least as well as raw ones (here: strictly better by construction)
    def recallOf(residual: Boolean): Double = {
      val books =
        if (residual) Similarity.pqFitResidual(corpus, "vec_id", "embedding",
          dim, m = 2, cents, k = 4, iters = 2)
        else Similarity.pqFit(corpus, "vec_id", "embedding",
          dim, m = 2, k = 4, iters = 2)
      val approx = Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
          dim, m = 2, centroids = cents, codebooks = books, residual = residual),
        queries, "vec_id", "embedding",
        dim, m = 2, centroids = cents, codebooks = books,
        nprobe = 1, topK = 5, residual = residual)
      val r = Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 5)
        .agg(avg(col("recall"))).head().getDouble(0)
      r
    }
    val (raw, res) = (recallOf(false), recallOf(true))
    assert(res >= raw, s"residual recall $res < raw recall $raw")
    assert(res >= 0.6, s"residual recall $res too low on clustered data (raw $raw)")
  }

  test("ivfPqTopKRefine: all-candidates degenerate == exact topKL2 rows; refined recall >= plain ADC recall") {
    // same clustered geometry as the residual test: lossy raw PQ makes
    // ADC inversions near the top, which exact re-ranking must repair
    val dim = 8
    val centers = Seq(
      Seq(10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    def v(i: Int): Seq[Float] = centers(i % 3).zipWithIndex.map {
      case (c, j) => (c + (((i * 31 + j * 7) % 11) - 5) * 0.02).toFloat
    }
    val all = (0 until 30).map(i => (i.toLong, v(i)))
    val corpus = vecs(all.filter(_._1 >= 3): _*)
    val queries = vecs(all.filter(_._1 < 3): _*)
    val cents: Array[Seq[Long]] =
      centers.map(_.map(x => math.round(x * 1e6)): Seq[Long]).toArray
    val books = Similarity.pqFit(corpus, "vec_id", "embedding",
      dim, m = 2, k = 4, iters = 2)
    // degenerate pin: all cells probed, every candidate refined ->
    // the exact re-rank IS brute force; rows (incl. d2) must match
    val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 5)
    val codes = Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
      dim, m = 2, centroids = cents, codebooks = books)
    val degen = Similarity.ivfPqTopKRefine(corpus, queries, "vec_id", "embedding",
      dim, m = 2, centroids = cents, codebooks = books, codes = codes,
      nprobe = 3, topK = 5, refine = 27)
    assert(degen.collect().map(_.toSeq).toSet == exact.collect().map(_.toSeq).toSet,
      "all-candidate refine must reproduce exact topKL2 rows (rank AND d2)")
    // recall: exact re-ranking of an ADC candidate superset can only
    // keep or improve the plain ADC top-k's recall at the same params
    def recallAvg(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 5)
        .agg(avg(col("recall"))).head().getDouble(0)
    val plain = Similarity.ivfPqTopK(codes, queries, "vec_id", "embedding",
      dim, m = 2, centroids = cents, codebooks = books, nprobe = 1, topK = 5)
    val refined = Similarity.ivfPqTopKRefine(corpus, queries, "vec_id", "embedding",
      dim, m = 2, centroids = cents, codebooks = books, codes = codes,
      nprobe = 1, topK = 5, refine = 9)
    val (rp, rr) = (recallAvg(plain), recallAvg(refined))
    assert(rr >= rp, s"refined recall $rr < plain ADC recall $rp")
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRefine(corpus, queries, "vec_id", "embedding",
        dim, m = 2, centroids = cents, codebooks = books, codes = codes,
        nprobe = 1, topK = 5, refine = 4)
    }
    // the codes-required contract (VERDICT r9 #4): a raw corpus frame
    // (no cell/codes columns) fails fast instead of silently encoding
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        dim, m = 2, centroids = cents, codebooks = books, nprobe = 1, topK = 5)
    }
  }

  test("pqVarianceAlloc: snake draft on ranked variances; permutation preserves exact L2; anisotropic recall >= contiguous") {
    val dim = 8
    // variance strictly decreasing in dim index: dim j alternates
    // 0 / A_j with A_j shrinking, so the rank order IS the index order
    val varied = vecs((0L until 16L).map { i =>
      (i + 100L, (0 until dim).map(j =>
        if (i % 2 == 0) 0.0f else (8 - j) * 1.0f): Seq[Float])
    }: _*)
    val perm = Similarity.pqVarianceAlloc(varied, "embedding", dim, m = 2)
    // ranks 0..7 -> cycle r%4 -> subspace (0,1,1,0,0,1,1,0); grouped by
    // (subspace, rank): dims (0,3,4,7) then (1,2,5,6)
    assert(perm == Seq(0, 3, 4, 7, 1, 2, 5, 6), s"snake allocation broke: $perm")
    // anisotropic corpus: all signal lives in dims 0-3 — a contiguous
    // m=2 split crams every informative dim into ONE subspace, the
    // snake deals two to each
    def v(i: Int): Seq[Float] = (0 until dim).map { j =>
      if (j < 4) (((i * (j + 3) * 7) % 13) - 6) * 0.5f
      else (((i + j) % 3) - 1) * 0.01f
    }
    val all = (0 until 33).map(i => (i.toLong, v(i)))
    val corpus = vecs(all.filter(_._1 >= 3): _*)
    val queries = vecs(all.filter(_._1 < 3): _*)
    val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 5)
    val p = Similarity.pqVarianceAlloc(corpus, "embedding", dim, m = 2)
    assert(p.sorted == (0 until dim), "must be a permutation")
    val zero: Array[Seq[Long]] = Array(Seq.fill(dim)(0L))
    def recallOf(permOpt: Option[Seq[Int]]): Double = {
      val emb = permOpt.map(pp => Similarity.permuteVec(col("embedding"), pp))
        .getOrElse(col("embedding"))
      val c = corpus.withColumn("e2", emb)
      val q = queries.withColumn("e2", emb)
      val books = Similarity.pqFit(c, "vec_id", "e2", dim, m = 2, k = 4, iters = 2)
      val approx = Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(c, "vec_id", "e2", dim, m = 2,
          centroids = zero, codebooks = books),
        q, "vec_id", "e2", dim, m = 2,
        centroids = zero, codebooks = books, nprobe = 1, topK = 5)
      Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 5)
        .agg(avg(col("recall"))).head().getDouble(0)
    }
    // degenerate permuted pin: full codebooks in the PERMUTED space
    // reproduce the exact L2 ranking of the ORIGINAL vectors
    val cP = corpus.withColumn("e2", Similarity.permuteVec(col("embedding"), p))
    val qP = queries.withColumn("e2", Similarity.permuteVec(col("embedding"), p))
    val booksFull = Similarity.pqFit(cP, "vec_id", "e2", dim, m = 2, k = 30, iters = 0)
    val degen = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(cP, "vec_id", "e2", dim, m = 2,
        centroids = zero, codebooks = booksFull),
      qP, "vec_id", "e2", dim, m = 2,
      centroids = zero, codebooks = booksFull, nprobe = 1, topK = 5)
    assert(degen.select("qid", "rank", "vec_id").collect().map(_.toSeq).toSet
      == exact.select("qid", "rank", "vec_id").collect().map(_.toSeq).toSet,
      "permutation must preserve exact L2 ranking")
    val (raw, opq) = (recallOf(None), recallOf(Some(p)))
    assert(opq >= raw, s"variance-balanced recall $opq < contiguous recall $raw")
  }

  test("pcaHouseholder: principal axis lands in dim 1; L2 preserved; deterministic; identity case") {
    val dim = 8
    // the geometry the single-reflection OPQ init wins: a BIG cluster
    // direction w1 = (1,0,0,0,1,0,0,0)/sqrt(2) STRADDLING the m=2
    // subspace split (t in {-5,0,5}), plus small independent signals in
    // dims 5-7 that decide ranking WITHIN a cluster. Raw contiguous PQ:
    // subspace 1's k=4 codebook must span the 3 t-levels AND the small
    // dims — the small signal drowns. After the Householder (w1 -> e1)
    // subspace 1 is freed of t and its codes resolve the small signal.
    def v(i: Int): Seq[Float] = {
      val t = ((i % 3) - 1) * 5.0f / 1.4142135f
      (0 until dim).map { j =>
        if (j == 0 || j == 4) t
        else if (j >= 5) (((i * (j + 5) * 7) % 9) - 4) * 0.08f
        else 0.0f
      }
    }
    val all = (0 until 40).map(i => (i.toLong, v(i)))
    val corpus = vecs(all.filter(_._1 >= 3): _*)
    val queries = vecs(all.filter(_._1 < 3): _*)
    val (uq, uu) = Similarity.pcaHouseholder(corpus, "vec_id", "embedding", dim)
    assert(uu > 0L && uu == uq.map(x => x * x).sum)
    // determinism: exact decimal sums -> repartition-invariant fit
    val (uq2, uu2) = Similarity.pcaHouseholder(corpus.repartition(13),
      "vec_id", "embedding", dim)
    assert(uq2 == uq && uu2 == uu)
    val rot = householderRotate(col("embedding"), uq, uu)
    val r = corpus.withColumn("e2", rot)
    // alignment: rotated dim-1 variance dominates every other dim
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q2 = Similarity.quantize(col("e2"))
    val stats = r.select((0 until dim).flatMap { j =>
      val x = element_at(q2, j + 1)
      Seq(sum(x.cast(dec)).as(s"s1_$j"), sum(x.cast(dec) * x.cast(dec)).as(s"s2_$j"))
    } :+ count(lit(1)).cast(dec).as("n"): _*).head()
    val n = BigDecimal(stats.getDecimal(2 * dim))
    val vars = (0 until dim).map { j =>
      val s1 = BigDecimal(stats.getDecimal(2 * j)); val s2 = BigDecimal(stats.getDecimal(2 * j + 1))
      n * s2 - s1 * s1
    }
    assert(vars.tail.forall(_ <= vars.head),
      s"dim-1 variance must dominate after rotation: $vars")
    // L2 preservation: quantized squared norms match within grid error
    val norms = r.select(
        Similarity.dotQ(Similarity.quantize(col("embedding")),
          Similarity.quantize(col("embedding"))).as("a"),
        Similarity.dotQ(q2, q2).as("b"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    norms.foreach { case (a, b) =>
      assert(math.abs(a - b) <= math.max(64L, (a * 1e-4).toLong),
        s"reflection must preserve L2: $a vs $b") }
    // recall: PCA-rotated PQ at the same m*k budget >= contiguous raw
    val exact = Similarity.topKL2(corpus, queries, "vec_id", "embedding", k = 5)
    val zero: Array[Seq[Long]] = Array(Seq.fill(dim)(0L))
    def recallOf(useRot: Boolean): Double = {
      val emb = if (useRot) rot else col("embedding")
      val c = corpus.withColumn("eX", emb); val q = queries.withColumn("eX", emb)
      val books = Similarity.pqFit(c, "vec_id", "eX", dim, m = 2, k = 4, iters = 2)
      val approx = Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(c, "vec_id", "eX", dim, m = 2,
          centroids = zero, codebooks = books),
        q, "vec_id", "eX", dim, m = 2,
        centroids = zero, codebooks = books, nprobe = 1, topK = 5)
      Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 5)
        .agg(avg(col("recall"))).head().getDouble(0)
    }
    val (raw, pca) = (recallOf(false), recallOf(true))
    assert(pca >= raw, s"PCA-rotated recall $pca < contiguous recall $raw")
    // identity case: uu = 0 passes the vector through
    val id = vecs((1L, Seq(1.0f, 2.0f))).select(
      householderRotate(col("embedding"), Seq(0L, 0L), 0L).as("e"))
      .head().getSeq[Double](0)
    assert(id == Seq(1.0, 2.0))
  }

  test("pcaHouseholder fit: one-pass opsum aggregate, no crossJoin/explode in any executed plan") {
    // VERDICT r10 #1: the fit used to shuffle sample·dim² rows through
    // a dim-range crossJoin. Pin the repaired shape: every plan the fit
    // executes carries the graft_opsum aggregate and NO row-expanding
    // node. QueryExecutionListener is async — a sentinel query fences
    // the bus (the SearchSpec listener-fence convention).
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val dim = 8
    def v(i: Int): Seq[Float] =
      (0 until dim).map(j => (((i * 37 + j * 11) % 17) - 8) * 0.25f)
    val corpus = vecs((0L to 30L).map(i => (i, v(i.toInt))): _*)
    spark.listenerManager.register(l)
    try {
      val (uq, uu) = Similarity.pcaHouseholder(corpus, "vec_id", "embedding", dim)
      assert(uu == uq.map(x => x * x).sum)
      spark.range(1).select(col("id").as("graft_pca_fence")).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!plans.asScala.exists(_.contains("graft_pca_fence"))
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val fit = plans.asScala.toList.takeWhile(!_.contains("graft_pca_fence"))
      assert(fit.nonEmpty, "no fit plan captured")
      assert(fit.exists(_.contains("graft_opsum")),
        s"fit must run the one-pass opsum aggregate:\n${fit.mkString("\n---\n")}")
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Generate").foreach { bad =>
        assert(!fit.exists(_.contains(bad)),
          s"fit plan must not contain $bad:\n${fit.mkString("\n---\n")}")
      }
    } finally spark.listenerManager.unregister(l)
  }

  test("pcaHouseholder: zero-variance corpus yields the identity reflection (ADVICE r10)") {
    // all-identical embeddings -> all-zero covariance -> no principal
    // axis; the fit must return the documented uu == 0 identity pair
    // (NOT throw NumberFormatException on a NaN ratio)
    val same = vecs((0L to 9L).map(i => (i, Seq(0.5f, -0.25f, 1.0f, 0.0f))): _*)
    val (uq, uu) = Similarity.pcaHouseholder(same, "vec_id", "embedding", dim = 4)
    assert(uu == 0L && uq == Seq(0L, 0L, 0L, 0L))
    val out = same.select(
        householderRotate(col("embedding"), uq, uu).as("e"))
      .head().getSeq[Double](0)
    assert(out == Seq(0.5, -0.25, 1.0, 0.0))
    // one row is equally degenerate (covariance n·s2 − s1² == 0)
    val one = vecs((1L, Seq(1.0f, 2.0f)))
    assert(Similarity.pcaHouseholder(one, "vec_id", "embedding", dim = 2)._2 == 0L)
  }

  test("pcaHouseholderK: k-step deflation — leading axes land in dims 1..k; step 1 == single; L2 kept") {
    val dim = 8
    // three orthogonal non-axis-aligned directions with well-separated
    // variances: w1=(e1+e5)/√2 scale 6, w2=(e2+e6)/√2 scale 3,
    // w3=(e3+e7)/√2 scale 1.2 — a full-OPQ geometry where one
    // reflection only rescues w1
    def v(i: Int): Seq[Float] = {
      val t1 = ((i % 3) - 1) * 6.0f
      val t2 = (((i / 3) % 3) - 1) * 3.0f
      val t3 = (((i / 9) % 3) - 1) * 1.2f
      (0 until dim).map { j =>
        val base =
          if (j == 0 || j == 4) t1 / 1.4142135f
          else if (j == 1 || j == 5) t2 / 1.4142135f
          else if (j == 2 || j == 6) t3 / 1.4142135f
          else 0.0f
        base + (((i * (j + 3) * 13) % 7) - 3) * 0.02f
      }
    }
    val corpus = vecs((0L until 54L).map(i => (i, v(i.toInt))): _*)
    val k = 3
    val refl = Similarity.pcaHouseholderK(corpus, "vec_id", "embedding", dim, k)
    assert(refl.length == k)
    // step 1 must be EXACTLY the single-reflection fit
    val (uq1, uu1) = Similarity.pcaHouseholder(corpus, "vec_id", "embedding", dim)
    assert(refl.head._1 == uq1 && refl.head._2 == uu1)
    // step t's u is padded with t leading zeros (identity on placed axes)
    refl.zipWithIndex.foreach { case ((uq, uu), t) =>
      assert(uq.length == dim && uq.take(t).forall(_ == 0L))
      assert(uu == uq.map(x => x * x).sum)
    }
    // determinism: repartition-invariant (exact sums + driver algebra)
    assert(Similarity.pcaHouseholderK(corpus.repartition(13),
      "vec_id", "embedding", dim, k) == refl)
    val rot = householderRotateK(col("embedding"), refl)
    val r = corpus.withColumn("e2", rot)
    // rotated variances: dims 1..3 dominate in order
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q2 = Similarity.quantize(col("e2"))
    val stats = r.select((0 until dim).flatMap { j =>
      val x = element_at(q2, j + 1)
      Seq(sum(x.cast(dec)).as(s"s1_$j"), sum(x.cast(dec) * x.cast(dec)).as(s"s2_$j"))
    } :+ count(lit(1)).cast(dec).as("n"): _*).head()
    val n = BigDecimal(stats.getDecimal(2 * dim))
    val vars = (0 until dim).map { j =>
      val s1 = BigDecimal(stats.getDecimal(2 * j)); val s2 = BigDecimal(stats.getDecimal(2 * j + 1))
      n * s2 - s1 * s1
    }
    assert(vars.drop(1).forall(_ <= vars(0)), s"dim-1 must dominate: $vars")
    assert(vars.drop(2).forall(_ <= vars(1)), s"dim-2 must dominate the rest: $vars")
    assert(vars.drop(3).forall(_ <= vars(2)), s"dim-3 must dominate the tail: $vars")
    // L2 preserved through the composed rotation (grid error only)
    val norms = r.select(
        Similarity.dotQ(Similarity.quantize(col("embedding")),
          Similarity.quantize(col("embedding"))).as("a"),
        Similarity.dotQ(q2, q2).as("b"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    norms.foreach { case (a, b) =>
      assert(math.abs(a - b) <= math.max(192L, (a * 3e-4).toLong),
        s"composed reflections must preserve L2: $a vs $b") }
    // materialized step-wise form == the lazy chain, row for row (each
    // step re-rounds to the grid either way; only wall clock differs)
    val mat = Similarity.householderRotateAll(corpus, "embedding", "e2", refl)
      .select(col("vec_id"), col("e2"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    val lzy = r.select(col("vec_id"), col("e2"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    assert(mat == lzy, "householderRotateAll must equal the lazy chain")
    // fused Column form == the step-by-step chain on a MIXED sequence
    // with a mid-chain identity step (uu == 0 must pass the running
    // doubles through untouched inside the fused loop)
    val mixed = refl.take(1) ++ Seq((Seq.fill(dim)(0L), 0L)) ++ refl.drop(1)
    val fused = corpus
      .withColumn("e2", Similarity.householderRotateFused(col("embedding"), mixed))
      .select(col("vec_id"), col("e2"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    val chained = corpus
      .withColumn("e2", householderRotateK(col("embedding"), mixed))
      .select(col("vec_id"), col("e2"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1)).toMap
    assert(fused == chained,
      "householderRotateFused must equal the lazy chain, identity step included")
    // degenerate corpus: every step is the identity pair
    val same = vecs((0L to 5L).map(i => (i, Seq(1.0f, 2.0f, 3.0f, 4.0f))): _*)
    val dRefl = Similarity.pcaHouseholderK(same, "vec_id", "embedding", 4, 2)
    assert(dRefl.forall(_._2 == 0L))
  }

  test("flat batch PQ: ivfPqTopK with ONE zero coarse centroid == pqTopK per query") {
    // the batch form of the flat PQ index: a single all-zero centroid
    // puts every corpus row and every query in the same cell, so the
    // candidate set is the whole corpus and ADC == pqTopK's, per query
    val dim = 8
    def v(i: Int): Seq[Float] =
      (0 until dim).map(j => (((i * 37 + j * 11) % 17) - 8) * 0.25f)
    val corpus = vecs((5L to 24L).map(i => (i, v(i.toInt))): _*)
    val queries = vecs((0L to 2L).map(i => (i, v(i.toInt))): _*)
    val books = Similarity.pqFit(corpus, "vec_id", "embedding", dim, m = 2, k = 4, iters = 2)
    val zero: Array[Seq[Long]] = Array(Seq.fill(dim)(0L))
    val batch = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
        dim, m = 2, centroids = zero, codebooks = books),
      queries, "vec_id", "embedding",
      dim, m = 2, centroids = zero, codebooks = books, nprobe = 1, topK = 7)
    for (q <- 0L to 2L) {
      val one = Similarity.pqTopK(corpus, queries.where(col("vec_id") === q),
          "vec_id", "embedding", dim, m = 2, codebooks = books, topK = 7)
        .select("vec_id", "rank", "adc").collect().map(_.toSeq).toSet
      val got = batch.where(col("qid") === q)
        .select("vec_id", "rank", "adc").collect().map(_.toSeq).toSet
      assert(got == one, s"query $q: batch flat-PQ != pqTopK")
    }
  }

  test("topKL2: exact euclidean order with id ties; recallAtK arithmetic incl. missing queries") {
    val corpus = vecs(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),   // both at d2=0 from query
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.9f, 0.0f)))
    val q = vecs((10L, Seq(1.0f, 0.0f)))
    val got = Similarity.topKL2(corpus, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    // ties at distance 0 break by id; then 4 at (0.1e6)^2
    assert(got == Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, 4L, 100000L * 100000L)),
      s"got $got")
    import spark.implicits._
    val exact = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L),
      (1L, 1L, 7L), (1L, 2L, 8L)).toDF("qid", "rank", "id")
    val approx = Seq((0L, 1L, 2L), (0L, 2L, 9L), (0L, 3L, 7L), (0L, 4L, 3L))
      .toDF("qid", "rank", "id")
    val r = Similarity.recallAtK(exact, approx, "qid", "id", k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toSeq
    // q0: exact {1,2,3}, approx top-3 {2,9,7} -> 1 hit (id 3 is approx
    // rank 4, outside k); q1: exact {7,8}, no approx rows -> recall 0
    // over n_exact=2 (short exact lists use their own size)
    assert(r == Seq((0L, 3L, 1L, 1.0 / 3.0), (1L, 2L, 0L, 0.0)), s"got $r")
  }

  test("rrfFuseBy equals per-query rrfFuse; heap plan, no window sort") {
    val e = TestSpark.table("0.001", "embeddings")
    val qs = e.where(col("vec_id") < 3)
    val r1 = Similarity.topK(e, qs, "vec_id", "embedding", k = 20)
      .select(col("id").as("qid"), col("neighbor_id").as("doc_id"), col("rank"))
    // a second ranking that genuinely disagrees: reversed-id order of
    // the same candidate lists
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("doc_id").desc)
    val r2 = r1.withColumn("rank", row_number().over(w))
    val fused = Similarity.rrfFuseBy(Seq(r1, r2), "qid", "doc_id", "rank", k = 5)
    val got = fused.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    for (q <- 0L until 3L) {
      val solo = Similarity.rrfFuse(
        Seq(r1.where(col("qid") === q).drop("qid"),
          r2.where(col("qid") === q).drop("qid")),
        "doc_id", "rank", k = 5)
        .collect().map(r => (q, r.getLong(1), r.getLong(0), r.getDouble(2))).toSeq
      assert(got(q).sortBy(_._2).toSeq == solo.sortBy(_._2),
        s"grouped vs solo RRF disagree for query $q")
    }
    // the fusion's own top-k must ride the heap agg (the input rankings
    // may legitimately carry their own windows below the join)
    val plan = fused.queryExecution.sparkPlan.toString
    assert(plan.contains("partial_graft_topk"),
      s"per-query fusion top-k must ride the heap agg:\n$plan")
    val aboveJoin = plan.substring(0, plan.indexOf("Join"))
    assert(!aboveJoin.contains("Window"),
      s"no window sort above the fusion join:\n$plan")
  }

  test("mmrSelectBy equals per-query mmrSelect; bounds fail fast") {
    val e = TestSpark.table("0.001", "embeddings")
    val cand = Similarity.topK(e, e.where(col("vec_id") < 3),
        "vec_id", "embedding", k = 10)
      .select(col("id").as("qid"), col("neighbor_id").as("vec_id"),
        round(col("cos"), 6).as("rel"))
    val got = Similarity.mmrSelectBy(cand, e, "qid", "vec_id", "embedding",
        "rel", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    for (q <- 0L until 3L) {
      val solo = Similarity.mmrSelect(
        cand.where(col("qid") === q).drop("qid"), e,
        "vec_id", "embedding", "rel", k = 4)
        .collect().map(r => (q, r.getLong(1), r.getLong(0), r.getDouble(2))).toSeq
      assert(got(q).sortBy(_._2).toSeq == solo.sortBy(_._2),
        s"grouped vs solo MMR disagree for query $q")
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrSelectBy(cand, e, "qid", "vec_id", "embedding", "rel",
        k = 2, maxCandidates = 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrSelectBy(cand, e, "qid", "vec_id", "embedding", "rel",
        k = 2, maxGroups = 2)
    }
  }

  test("mmrSelectBy: the maxGroups x maxCandidates row bound is a Long (no Int wrap)") {
    val e = vecs((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
    // 2,000 rows: 1,000 query groups of 2 candidates — valid under any
    // bound with maxGroups >= 1,000 and maxCandidates >= 2
    val cand = (0L until 1000L).flatMap(q => Seq((q, 1L, 0.9), (q, 2L, 0.8)))
      .toDF("qid", "vec_id", "rel")
    // 2,097,151 × 1,024 = 2,147,482,624 fits an Int: every row passes
    val got = Similarity.mmrSelectBy(cand, e, "qid", "vec_id", "embedding", "rel",
      k = 2, maxGroups = 2097151)
    assert(got.count() == 2000L)
    // 4,194,305 × 1,024 wraps an Int to 1,024; it must fail on the
    // bound itself, naming both parameters, not reject the 2,000 rows
    val err = intercept[IllegalArgumentException] {
      Similarity.mmrSelectBy(cand, e, "qid", "vec_id", "embedding", "rel",
        k = 2, maxGroups = 4194305)
    }
    assert(err.getMessage.contains("maxGroups=4194305")
      && err.getMessage.contains("maxCandidates=1024"), err.getMessage)
  }

  test("mmrSelect: diversity beats raw relevance order; ties and bounds honored") {
    // 1 and 2 nearly parallel (redundant), 3 orthogonal with lower rel,
    // 4 close to 1: relevance order is 1,2,4,3 but MMR must interleave
    // the orthogonal doc second
    val e = vecs(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.01f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.9f, 0.1f)))
    val cand = Seq((1L, 0.99), (2L, 0.98), (3L, 0.60), (4L, 0.97))
      .toDF("vec_id", "rel")
    val got = Similarity.mmrSelect(cand, e, "vec_id", "embedding", "rel", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 3L, 2L),
      s"expected diversity pick order 1,3,2 got $got")
    assert(got.map(_._2) == Seq(1L, 2L, 3L))
    // k beyond candidates: all of them, once each
    assert(Similarity.mmrSelect(cand, e, "vec_id", "embedding", "rel", k = 10)
      .count() == 4)
    // candidate bound enforced
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(cand, e, "vec_id", "embedding", "rel", k = 2,
        maxCandidates = 3)
    }
  }

  test("ivfSq8: residual fit + encode + probed ADC == Scala replay; nprobe widens recall") {
    def q(x: Float): Long = math.round(x.toDouble * 1e6)
    // two obvious clusters around (1,0) and (0,1)
    val corpusRaw = Seq(
      (10L, Seq(1.00f, 0.05f)), (11L, Seq(0.95f, 0.00f)), (12L, Seq(1.05f, 0.10f)),
      (20L, Seq(0.00f, 1.00f)), (21L, Seq(0.05f, 0.95f)), (22L, Seq(0.10f, 1.05f)))
    val e = vecs(((0L, Seq(0.98f, 0.02f)) +: corpusRaw): _*)
    val corpus = e.where(col("vec_id") =!= 0)
    // replayable coarse quantizer: first two corpus vectors
    val cents: Array[Seq[Long]] = Array(
      corpusRaw(0)._2.map(q).toSeq, corpusRaw(1)._2.map(q).toSeq)
    val bounds = Similarity.sq8FitResidual(corpus, "vec_id", "embedding",
      dim = 2, centroids = cents)
    val codes = Similarity.ivfSq8Encode(corpus, "vec_id", "embedding",
      dim = 2, centroids = cents, bounds = bounds)
    // Scala replay: assignment, residual, encode, probed ADC
    def cellOf(v: Seq[Long]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum - 2L * c.zip(v).map(p => p._1 * p._2).sum, i)
      }.min._2
    def code(x: Long, mn: Long, den: Long): Long =
      if (den == 0L) 0L
      else math.min(255L, math.max(0L,
        { val t = (x - mn) * 510L + den; (t - t % (2 * den)) / (2 * den) }))
    val qv = Seq(0.98f, 0.02f).map(q)
    val expected = corpusRaw.map { case (id, v) =>
      val vq = v.map(q); val cell = cellOf(vq)
      val d2 = (0 until 2).map { d =>
        val (mn, mx) = bounds(d); val den = mx - mn
        val cd = code(vq(d) - cents(cell)(d), mn, den)
        val a = 255L * (qv(d) - cents(cell)(d) - mn)
        val diff = a - cd * den; diff * diff
      }.sum
      (id, cell, d2)
    }
    val qdf = e.where(col("vec_id") === 0)
    // nprobe=1: only the query's own cluster's members are candidates
    val near = Similarity.ivfSq8TopK(codes, qdf, "vec_id", "embedding",
      dim = 2, centroids = cents, bounds = bounds, nprobe = 1, topK = 10)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    val qCell = cellOf(qv)
    val expNear = expected.filter(_._2 == qCell).map(t => (t._1, t._3))
      .sortBy(t => (t._2, t._1))
    assert(near == expNear, s"nprobe=1: got $near want $expNear")
    // nprobe=2: every corpus vector is a candidate, scored via ITS cell
    val all = Similarity.ivfSq8TopK(codes, qdf, "vec_id", "embedding",
      dim = 2, centroids = cents, bounds = bounds, nprobe = 2, topK = 10)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    val expAll = expected.map(t => (t._1, t._3)).sortBy(t => (t._2, t._1))
    assert(all == expAll, s"nprobe=2: got $all want $expAll")
    assert(near.toSet.subsetOf(all.toSet), "nprobe must be monotone")
    // codes-table contract enforced
    intercept[IllegalArgumentException] {
      Similarity.ivfSq8TopK(corpus, qdf, "vec_id", "embedding",
        dim = 2, centroids = cents, bounds = bounds)
    }
  }

  test("sq8Fit/sq8TopK: brute-force SQ8 replay — fit, encode, ADC, rank") {
    // brute force in exact Scala longs, independent of the SQL shape
    def q(x: Float): Long = math.round(x.toDouble * 1e6)
    val corpusRaw = Seq(
      (1L, Seq(0.10f, -0.50f, 0.30f)),
      (2L, Seq(0.90f, 0.20f, 0.30f)),   // dim 3 constant -> den = 0
      (3L, Seq(-0.40f, 0.70f, 0.30f)),
      (4L, Seq(0.50f, 0.00f, 0.30f)),
      (5L, Seq(0.11f, -0.48f, 0.30f)))  // near vec 1
    val queryRaw = (0L, Seq(0.12f, -0.49f, 0.30f)) // nearest: 5, then 1
    val e = vecs((queryRaw +: corpusRaw): _*)
    val corpus = e.where(col("vec_id") =!= 0)
    val bounds = Similarity.sq8Fit(corpus, "vec_id", "embedding", dim = 3)
    // expected bounds: per-dim min/max of quantized corpus values
    val cq = corpusRaw.map { case (id, v) => id -> v.map(q) }
    (0 until 3).foreach { d =>
      assert(bounds(d)._1 == cq.map(_._2(d)).min && bounds(d)._2 == cq.map(_._2(d)).max)
    }
    val qv = queryRaw._2.map(q)
    def code(x: Long, mn: Long, den: Long): Long =
      if (den == 0L) 0L
      else math.min(255L, math.max(0L, {
        val t = (x - mn) * 510L + den; (t - t % (2 * den)) / (2 * den)
      }))
    val exp = cq.map { case (id, v) =>
      val d2 = (0 until 3).map { d =>
        val (mn, mx) = bounds(d); val den = mx - mn
        val diff = 255L * (qv(d) - mn) - code(v(d), mn, den) * den
        diff * diff
      }.sum
      (id, d2)
    }.sortBy(p => (p._2, p._1))
    val got = Similarity.sq8TopK(corpus, e.where(col("vec_id") === 0),
        "vec_id", "embedding", dim = 3, bounds = bounds, topK = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == exp, s"got $got want $exp")
    assert(got.head._1 == 5L, "nearest neighbor should be vec 5")
    // ragged corpus fails the fit fast
    intercept[IllegalArgumentException] {
      Similarity.sq8Fit(corpus, "vec_id", "embedding", dim = 4)
    }
    // bounds arity enforced
    intercept[IllegalArgumentException] {
      Similarity.sq8TopK(corpus, e.where(col("vec_id") === 0),
        "vec_id", "embedding", dim = 3, bounds = bounds.take(2), topK = 5)
    }
  }
}
