package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Similarity search over embedding columns (`array<float>`) — an
  * LLM-pipeline addition beyond the reference's surface (BASELINE.json
  * north_star; SURVEY §2.8).
  *
  * Numeric design: embeddings are quantized to 64-bit integers at 1e-6
  * resolution before any arithmetic. Dot products and squared norms of
  * quantized vectors stay far below 2^53, so they are *exact* in both
  * integer and double arithmetic, independent of summation order —
  * results are bit-identical across engines and across partitionings
  * (the same trick as the decimal-exact sums in [[Agg.exactScale]]).
  *
  * Scale design (100 TB):
  *   - [[bruteForcePairs]] / [[topK]] are the *baselines*: exact, simple,
  *     and quadratic — right for reranking a candidate set or joining a
  *     small query set (which Catalyst broadcasts), wrong for
  *     corpus x corpus. Documented as such.
  *   - [[lshNeighbors]] is the scale path: random-hyperplane LSH buckets
  *     candidates with an equality join on (table, bucket); the only
  *     quadratic term is within-bucket, controlled by `planes` (bucket
  *     count 2^planes) and `tables` (recall).
  */
object Similarity {

  val Quant = 1e6

  /** array<float> -> array<long> fixed-point at 1e-6. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Quant, 0).cast("long"))

  /** Exact integer dot product of two quantized vectors (fits long:
    * 64 dims x (4e6)^2 ~ 1e15 << 2^63). Compiles to the native
    * [[graft.expressions.LongDotProduct]] codegen loop — call
    * [[graft.expressions.GraftFunctions.register]] on the session first
    * (every operator entry point here does). */
  def dotQ(a: Column, b: Column): Column =
    call_function(GraftFunctions.DotQ, a, b)

  /** Cosine from quantized vectors + precomputed squared norms: the
    * quantization scale cancels. Exact ints through the division — the
    * result is deterministic to the last bit. */
  def cosineQ(dot: Column, nsqA: Column, nsqB: Column): Column =
    dot.cast("double") / (sqrt(nsqA.cast("double")) * sqrt(nsqB.cast("double")))

  /** (id, quantized vector, squared norm) side table. */
  def prepared(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .withColumn("nsq", dotQ(col("q"), col("q")))
  }

  /** All pairs with cosine >= threshold, by exact brute force.
    * BASELINE ONLY: O(n^2) pairs — use for <=10^5 vectors or as the
    * verifier behind [[lshNeighbors]] candidates; never corpus x corpus
    * at scale. */
  def bruteForcePairs(df: DataFrame, idCol: String, embCol: String, threshold: Double): DataFrame = {
    val p = prepared(df, idCol, embCol)
    p.as("a").join(p.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineQ(dotQ(col("a.q"), col("b.q")), col("a.nsq"), col("b.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Cross-set pairs with cosine >= threshold — embedding-level
    * train/test decontamination (the semantic twin of
    * [[Dedup.crossNearDupPairs]]): every (left, right) pair above the
    * threshold, exact quantized cosine. With `broadcastRight=true` (the
    * decontamination shape: the right/eval side is small) the left corpus
    * is scored in place, one linear pass, never shuffled — but an
    * unconditional broadcast OOMs on a large right side. With `false` the
    * join is an UNBUCKETED CARTESIAN — exact, but quadratic: only for
    * two small corpora (e.g. reranking candidate sets). The parameter has
    * NO default (VERDICT r4): both shapes are dangerous on the wrong
    * inputs, so the caller must state which corpus geometry it has. For
    * big x big use [[crossNeighborsLsh]], the bucketed candidate path. */
  def crossPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      broadcastRight: Boolean): DataFrame = {
    val l  = prepared(left, idCol, embCol)
    val r0 = prepared(right, idCol, embCol)
    val r  = if (broadcastRight) broadcast(r0) else r0
    l.as("a").join(r.as("b"), lit(true))
      .select(col("a.id").as("id_l"), col("b.id").as("id_r"),
        cosineQ(dotQ(col("a.q"), col("b.q")), col("a.nsq"), col("b.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact top-k neighbors for each query row (excluding self), ties
    * broken by neighbor id. The query side is expected to be small
    * (Catalyst broadcasts it); the corpus side streams — this is the
    * batch-scoring shape, linear in corpus size. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
    val q = prepared(queries, idCol, embCol)
    val scored = broadcast(q.as("a")).join(c.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("neighbor_id"),
        cosineQ(dotQ(col("a.q"), col("b.q")), col("a.nsq"), col("b.nsq")).as("cos"))
    val w = Window.partitionBy(col("id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("id", "rank", "neighbor_id", "cos")
  }

  /** Exact top-k by EUCLIDEAN distance — the L2 twin of [[topK]] and
    * the honest baseline for the PQ/IVF family (ADC approximates L2,
    * the FAISS metric; on unnormalized vectors L2 and cosine rank
    * differently). ||a−b||² = nsqA + nsqB − 2·a·b in exact integers on
    * the quantized grid; ties by neighbor id. Same shape as [[topK]]:
    * query side broadcast, corpus streamed once, per-query window.
    * Output: (qid, rank, neighbor idCol, d2). */
  def topKL2(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val c = prepared(corpus, idCol, embCol)
    val q = prepared(queries, idCol, embCol)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col(idCol))
    broadcast(q.as("a")).join(c.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as(idCol),
        (col("a.nsq") + col("b.nsq")
          - lit(2L) * dotQ(col("a.q"), col("b.q"))).as("d2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("d2"))
  }

  /** Recall@k between two ranking tables — the INDEX-HEALTH gate every
    * production ANN deployment runs (FAISS benchmarking convention):
    * sample queries, rank them exactly ([[topKL2]] / [[topK]] — a
    * bounded brute-force since the sample is small), rank them through
    * the index ([[ivfPqTopK]] / [[lshNeighbors]]-derived), and measure
    * per-query |exact top-k ∩ approx top-k| / |exact top-k| before the
    * index parameters (nprobe, m·k, planes) ship. Pure set arithmetic
    * on two k-bounded tables: one inner join + one aggregation,
    * nothing corpus-sized. The denominator is the EXACT list's size
    * (≤ k — short lists happen when the corpus is small), so recall 1
    * means "found everything findable". Queries absent from `approx`
    * score 0 (left join semantics); queries absent from `exact` are
    * not audited. Output: (queryCol, n_exact, n_hit, recall) per
    * query, ordered. */
  def recallAtK(
      exact: DataFrame,
      approx: DataFrame,
      queryCol: String,
      idCol: String,
      k: Int,
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val e = exact.where(col(rankCol) <= k)
      .select(col(queryCol).cast("long").as("qid"), col(idCol).cast("long").as("id"))
    val a = approx.where(col(rankCol) <= k)
      .select(col(queryCol).cast("long").as("qid"), col(idCol).cast("long").as("id"),
        lit(1L).as("__hit"))
    e.join(a, Seq("qid", "id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("qid").as(queryCol), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
      .orderBy(queryCol)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) — the standard
    * hybrid-retrieval combiner: given N rankings of the same id space
    * (BM25 keyword top-k, embedding-cosine top-k, ...), each id scores
    * Σ_i 1/(c + rank_i) over the rankings that contain it, and the k
    * best fused ids win. Rank-based, so the component scores never need
    * calibrating against each other — the reason RRF is the default
    * fuser in every hybrid RAG stack. c=60 is the paper's constant:
    * large enough that tail ranks still contribute, small enough that
    * rank 1 dominates.
    *
    * Determinism: contributions are exact IEEE doubles (1/(c+r) with
    * integer r), summed in the CALLER'S ranking order (left fold), ties
    * broken by id — an oracle replays the same join + arithmetic bit
    * for bit. Missing ids contribute 0 from that ranking (full-outer
    * join semantics).
    *
    * Plan shape: rankings are k-bounded tables, so the N-way full-outer
    * join and the final sort touch at most N·k rows — driver-safe
    * whatever the corpus size behind the rankings; the corpus itself
    * was already reduced by the component retrievers. Not folded into
    * a one-query [[rrfFuseBy]] call (as [[mmrSelect]] is): that moves
    * q_hybrid_rrf's plan golden from 4 to 6 shuffles. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      k: Int,
      c: Int = 60): DataFrame = {
    require(rankings.size >= 2, s"rrfFuse needs >= 2 rankings (got ${rankings.size})")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val norm = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol).cast("long").as("id"),
        (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double"))).as(s"__c$i"))
    }
    val joined = norm.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = norm.indices.map(i => coalesce(col(s"__c$i"), lit(0.0))).reduce(_ + _)
    val w = Window.orderBy(col("rrf").desc, col("id"))
    joined.withColumn("rrf", score)
      .orderBy(col("rrf").desc, col("id")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("id").as(idCol), col("rank"), col("rrf"))
  }

  /** Per-query-set RRF (VERDICT r8 stretch #8): [[rrfFuse]] grouped by
    * a query id — the PIPELINE form, where each ranking table holds the
    * k-bounded lists of MANY queries (the [[ivfPqTopK]] /
    * [[topK]]-batch output shape) and fusion runs for all of them in
    * ONE plan. Same statistic per group: Σ 1/(c + rank) over the
    * rankings containing the id (missing → 0 via the full-outer join),
    * contributions summed in the caller's ranking order, ties by id.
    *
    * Plan shape: the N-way join keys on (query, id) — ≤ N·k rows per
    * query — and the per-query top-k rides the k-bounded
    * [[graft.expressions.TopKByScore]] heap aggregation, so nothing
    * scales with query count except the rankings themselves. Output:
    * (queryCol, rank, idCol, rrf), dense ranks per query. */
  def rrfFuseBy(
      rankings: Seq[DataFrame],
      queryCol: String,
      idCol: String,
      rankCol: String,
      k: Int,
      c: Int = 60): DataFrame = {
    require(rankings.size >= 2, s"rrfFuseBy needs >= 2 rankings (got ${rankings.size})")
    require(k >= 1, s"k must be >= 1 (got $k)")
    GraftFunctions.register(rankings.head.sparkSession)
    val norm = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(queryCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double"))).as(s"__c$i"))
    }
    val joined = norm.reduce((a, b) => a.join(b, Seq("qid", "id"), "full_outer"))
    val score = norm.indices.map(i => coalesce(col(s"__c$i"), lit(0.0))).reduce(_ + _)
    joined.withColumn("rrf", score)
      .groupBy(col("qid"))
      .agg(call_function(GraftFunctions.TopK,
        col("rrf"), col("id"), lit(k)).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid").as(queryCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.score").as("rrf"))
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR'98) — the post-retrieval diversifier that keeps a
    * result list from collapsing onto near-duplicate hits: greedy
    * selection where the first pick maximizes relevance and each later
    * pick maximizes `0.5·rel − 0.5·maxSim(selected)` (λ fixed at 1/2 —
    * a power of two, so the scaling is IEEE-exact and, with rel and the
    * pairwise cosines both quantized to the 1e-6 grid, the whole greedy
    * trajectory is replayable bit for bit; ties break by id).
    *
    * `candidates` is (idCol, relCol) and must be K-BOUNDED BY CONTRACT
    * — the output of [[topK]] / [[graft.operators.TextAnalysis.bm25TopK]]
    * / [[rrfFuse]] — because MMR is inherently sequential: the pairwise
    * sim matrix is one bounded join (≤ K² rows) and the greedy loop
    * runs driver-side over the collected scores (the kmeans/qcut
    * bounded-collect convention; `maxCandidates` enforces the bound,
    * default 1024 → ≤ ~0.5M sim rows). Corpus scale lives in the
    * retriever that produced the candidates, not here. Candidates
    * missing from `embeddings` contribute similarity 0 (never
    * penalized — pass a complete embedding table). Output: (idCol,
    * rank, mmr) in selection order; fewer than k rows when the
    * candidate set is smaller. */
  def mmrSelect(
      candidates: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      relCol: String,
      k: Int,
      maxCandidates: Int = 1024): DataFrame =
    // one query group: the grouped form's bounded collect, sim join and
    // greedy loop, with the group column dropped
    mmrSelectBy(candidates.withColumn("__mmr_q", lit(0L)), embeddings,
        "__mmr_q", idCol, embCol, relCol, k, maxCandidates, maxGroups = 1)
      .select(col(idCol), col("rank"), col("mmr"))

  /** The greedy-selection core of [[mmrSelectBy]] (and so of
    * [[mmrSelect]]): picks argmax rel, then argmax 0.5·rel −
    * 0.5·maxSim(picked), ties by id — returns (id, rank, score) in
    * selection order. */
  private def mmrGreedy(
      cand: Array[(Long, Double)],
      sims: Map[(Long, Long), Double],
      k: Int): Seq[(Long, Long, Double)] = {
    val remaining = scala.collection.mutable.LinkedHashMap(cand.sortBy(c => (-c._2, c._1)): _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    while (picked.length < k && remaining.nonEmpty) {
      val best =
        if (picked.isEmpty)
          remaining.map { case (id, rel) => (id, rel) }
            .minBy { case (id, sc) => (-sc, id) }
        else remaining.map { case (id, rel) =>
          val ms = picked.map(s => sims.getOrElse((id, s._1), 0.0)).max
          (id, 0.5 * rel - 0.5 * ms)
        }.minBy { case (id, sc) => (-sc, id) }
      picked += ((best._1, picked.length + 1L, best._2))
      remaining.remove(best._1)
    }
    picked.toSeq
  }

  /** Per-query-set MMR (VERDICT r8 stretch #8): [[mmrSelect]] grouped
    * by a query id — every query's k-bounded candidate list (the
    * [[topK]] / [[rrfFuseBy]] output shape) diversified in one call.
    * Identical greedy trajectory per group (λ = 1/2, round-6 sims,
    * ties by id), so q_mmr_by's oracle replays each query's unrolled
    * argmax rounds exactly.
    *
    * Bounded-collect contract, two dimensions: ≤ `maxCandidates` per
    * query (the [[mmrSelect]] bound) and ≤ `maxGroups` queries — both
    * fail fast, and the collect is limited BEFORE it happens. The
    * pairwise sim join computes each (query, a, b) candidate pair once
    * (≤ maxGroups·K² rows, distinct pairs deduped across groups);
    * corpus scale stays in the retriever that produced the candidates.
    * Output: (queryCol, rank, idCol, mmr) in selection order per
    * query. */
  def mmrSelectBy(
      candidates: DataFrame,
      embeddings: DataFrame,
      queryCol: String,
      idCol: String,
      embCol: String,
      relCol: String,
      k: Int,
      maxCandidates: Int = 1024,
      maxGroups: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val spark = candidates.sparkSession
    val candDf = candidates.select(
      col(queryCol).cast("long").as("qid"),
      col(idCol).cast("long").as("id"),
      col(relCol).cast("double").as("rel"))
    // Long product: the Int one wraps (4,194,305 × 1024 → 1024)
    val maxRows = maxGroups.toLong * maxCandidates
    require(maxRows <= Int.MaxValue - 1,
      s"maxGroups × maxCandidates must be <= ${Int.MaxValue - 1}" +
        s" (got maxGroups=$maxGroups, maxCandidates=$maxCandidates)")
    val candRows = candDf
      .limit(maxRows.toInt + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    require(candRows.length <= maxRows,
      s"MMR candidates must be bounded (got > $maxRows" +
        " total rows) — retrieve per-query top-k first")
    val byQ = candRows.groupBy(_._1)
    require(byQ.size <= maxGroups,
      s"mmrSelectBy saw ${byQ.size} query groups > maxGroups=$maxGroups")
    byQ.foreach { case (q, rows) =>
      require(rows.length <= maxCandidates,
        s"query $q has ${rows.length} candidates > maxCandidates=$maxCandidates" +
          " — retrieve a top-k first")
    }
    // each DISTINCT within-group pair scored once with the exact
    // round-6 quantized cosine (the mmrSelect convention); pairs come
    // from the collected rows, since re-reading `candidates` would
    // re-run the retriever behind them
    import spark.implicits._
    val candIds = candRows.toSeq.map(t => (t._1, t._2)).toDF("qid", "id")
    val pairIds = candIds.as("x")
      .join(candIds.as("y"),
        col("x.qid") === col("y.qid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("ia"), col("y.id").as("ib")).distinct()
    val p = prepared(
      embeddings.where(col(idCol).isInCollection(candRows.map(_._2).toSet)),
      idCol, embCol)
    val sims = pairIds
      .join(p.as("pa"), col("ia") === col("pa.id"))
      .join(p.as("pb"), col("ib") === col("pb.id"))
      .select(col("ia"), col("ib"),
        round(cosineQ(dotQ(col("pa.q"), col("pb.q")), col("pa.nsq"), col("pb.nsq")), 6))
      .collect()
      .flatMap { r =>
        val (x, y, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((x, y) -> c, (y, x) -> c)
      }.toMap
    val out = byQ.toSeq.sortBy(_._1).flatMap { case (q, rows) =>
      mmrGreedy(rows.map(t => (t._2, t._3)), sims, k)
        .map { case (id, rank, sc) => (q, rank, id, sc) }
    }
    out.toDF("__q", "rank", "__id", "mmr")
      .select(col("__q").as(queryCol), col("rank"),
        col("__id").as(idCol), col("mmr"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes: `tables` tables of
    * `planes` hyperplanes over `dim` dims, as literal arrays baked into the
    * plan (a tiny constant: tables x planes x dim doubles). Components are
    * derived from a splitmix64-style integer mix — reproducible across
    * runs and engines, no RNG state. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hyperplane(table: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = mix(table.toLong * 1000003L + plane.toLong * 10007L + j)
      (h.toDouble / Long.MaxValue.toDouble) // roughly uniform in [-1, 1]
    }

  /** Sign-bucket of one LSH table from a *quantized* vector: planes-bit
    * integer of hyperplane signs. The plane weights are quantized to the
    * same 1e-6 fixed-point grid, so each projection is one
    * [[graft.expressions.LongDotProduct]] against a literal array —
    * sign(long dot) = sign(real dot) up to quantization, which merely
    * picks an equally-random hyperplane. */
  def lshBucket(embQ: Column, table: Int, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      val w = hyperplane(table, p, dim).map(x => math.round(x * Quant))
      val proj = dotQ(embQ, typedlit(w.toSeq))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Train the IVF coarse quantizer: `cells` centroids, quantized to the
    * fixed-point grid. The index-build step — train once, reuse across
    * queries (the returned array is tiny and serializable). Degrades
    * gracefully on small corpora: k clamps to the sample size; empty
    * sample -> no centroids. */
  def ivfTrain(
      df: DataFrame,
      embCol: String,
      cells: Int = 16,
      trainSample: Int = 10000,
      seed: Long = 42L,
      orderCol: Option[String] = None): Array[Seq[Long]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Deterministic training sample: a bare `limit` has no defined row
    // order (partition-biased on sorted corpora, and unstable across plan
    // re-executions), so take the top-N under an explicit total order —
    // the caller's id column, or a content hash of the vector itself.
    // orderBy+limit plans as TakeOrdered: no full sort at scale.
    val ordered = orderCol match {
      case Some(c) => df.orderBy(col(c))
      case None    => df.orderBy(xxhash64(col(embCol).cast("string")))
    }
    val train = ordered.select(array_to_vector(col(embCol).cast("array<double>")).as("features"))
      .limit(trainSample)
    val n = train.count()
    if (n == 0) return Array.empty
    // coarse cells only need rough centroids — few Lloyd iterations
    val model = new KMeans().setK(math.min(cells.toLong, n).toInt).setSeed(seed).setMaxIter(8)
      .setFeaturesCol("features").fit(train)
    model.clusterCenters.map(c => c.toArray.toSeq.map(x => math.round(x * Quant)))
  }

  /** IVF (inverted-file) approximate neighbor pairs — the
    * cluster-then-search alternative to [[lshNeighbors]].
    *
    * The coarse quantizer ([[ivfTrain]], or precomputed `centroids`)
    * partitions the corpus into cells; each vector is assigned its
    * `nprobe` nearest cells *by expression* (distances via the native
    * integer dot against literal quantized centroids — no UDF, no ml
    * transform on the hot path), and candidates are pairs sharing a
    * cell. Exact verification as always. Raising nprobe trades compute
    * for recall exactly like probing neighboring IVF lists in FAISS-style
    * indexes.
    *
    * Scale note — assignment cost: the coarse assignment evaluates n x
    * cells integer dots (every vector against every literal centroid),
    * the standard FLAT-quantizer cost (FAISS IVF does the same n x
    * cells GEMM). With [[autoCells]]' cells ~ n/128 sizing that term is
    * O(n^2/128) — it, not the bucketed candidate join, is what grows
    * superlinearly when the corpus doubles (measured on the x16 stress
    * replica corpus: wall 14 -> 125 s for 2x data, 4x assignment work +
    * verify on a clique-quadratic output). At large n either pass a
    * FIXED `cells` (capping assignment at n x cells while candidate
    * verify grows with occupancy^2), shard the corpus, or prefer
    * [[lshNeighbors]], whose bucket assignment is O(n x planes) with
    * planes growing only logarithmically. */
  /** Exact integer square root, SQL-replayable: floor of the double
    * sqrt with a one-step adjustment. For n < 2^53 the double sqrt is
    * within one ulp of the true root, so a single +-1 correction makes
    * the result exact — and the identical CASE expression in the
    * q_ann_ivf oracle lands on the same integer, ulp-for-ulp. */
  def isqrt(n: Long): Long = {
    require(n >= 0, s"isqrt of negative $n")
    val s0 = math.floor(math.sqrt(n.toDouble)).toLong
    if ((s0 + 1) * (s0 + 1) <= n) s0 + 1
    else if (s0 * s0 > n) s0 - 1
    else s0
  }

  /** Corpus-aware cell count, balancing the TWO costs that move with it
    * (VERDICT r6 #5):
    *
    *   - flat coarse assignment: n x cells integer dots (every vector
    *     scored against every literal centroid);
    *   - candidate verify: ~(nprobe * occupancy)^2 * cells with
    *     occupancy = n / cells — inversely proportional to cells.
    *
    * cells ~ sqrt(n) (the FAISS convention) balances them at O(n^1.5)
    * each; the previous cells ~ n/128 rule minimized verify work but
    * let assignment grow O(n^2/128) (measured on the x16 stress corpus:
    * wall 14 -> 125 s for 2x data, BENCH_NOTES). The rule keeps the
    * occupancy-targeted sizing for small corpora — min(n /
    * targetListSize, isqrt(n)) — because below n = targetListSize^2
    * (~16k at the default) the n/128 term is smaller and assignment is
    * nowhere near dominant; past it, sqrt takes over and assignment
    * stays ~n^1.5. Pure integer logic (SQL-replayable, mirrored by the
    * q_ann_ivf oracle). Floor of minCells; the 2^20 cap is now only
    * reachable past ~10^12 rows (isqrt grows slowly) — shard the corpus
    * or raise targetListSize there. */
  def autoCells(n: Long, targetListSize: Long = 128, minCells: Int = 16): Int =
    math.min(
      math.max(minCells.toLong, math.min(n / targetListSize, isqrt(n))),
      1L << 20).toInt

  def ivfNeighbors(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      cells: Int = 0,
      nprobe: Int = 2,
      trainSample: Int = 10000,
      seed: Long = 42L,
      centroids: Option[Array[Seq[Long]]] = None): DataFrame = {
    val spark = df.sparkSession
    GraftFunctions.register(spark)
    // (id, q, nsq) feeds three plan branches (cell assignment + both
    // verify sides): hold the compact projection so the corpus is
    // scanned once, not three times (matters when `df` is a 100 TB read;
    // the projection is ~dim*8 bytes per row). Same rationale/lifecycle
    // as Dedup's shingle table.
    val p = CacheScope.hold(prepared(df, idCol, embCol))
    // cells <= 0 sizes with the corpus (skipped when the caller supplies
    // a prebuilt quantizer): the count runs on the held projection,
    // warming it, not on the raw source
    val centroidsQ = centroids.getOrElse {
      val k = if (cells > 0) cells else autoCells(p.count())
      ivfTrain(df, embCol, k, trainSample, seed)
    }
    if (centroidsQ.isEmpty) // empty corpus: empty result, right schema
      return p.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cos")).where(lit(false))
    // nearest cells by ||x-c||^2 = nsq - 2 x.c + c.c: rank by (c.c - 2 x.c)
    val cellScores = array(centroidsQ.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct((lit(cc) - lit(2L) * dotQ(col("q"), typedlit(c))).as("d"), lit(i).as("cell"))
    }: _*)
    val assigned = p.withColumn("__cells",
      slice(array_sort(cellScores), 1, nprobe))
      .select(col("id"), explode(col("__cells.cell")).as("cell"))

    val cand = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(p.as("pa"), col("id_a") === col("pa.id"))
      .join(p.as("pb"), col("id_b") === col("pb.id"))
      .select(col("id_a"), col("id_b"),
        cosineQ(dotQ(col("pa.q"), col("pb.q")), col("pa.nsq"), col("pb.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** The IVF/k-means hard-assignment expression: nearest centroid index
    * by the exact integer ||x-c||^2 rank (c.c - 2 x.c — the nsq term is
    * constant per row and drops out of the argmin), ties toward the
    * smaller index. Centroids travel as plan literals (k x dim longs);
    * the scan is one codegen'd pass, no join, no UDF. */
  private def nearestCellExpr(centroidsQ: Array[Seq[Long]]): Column =
    nearestCellExprOn(col("q"), centroidsQ)

  /** [[nearestCellExpr]] over an explicit quantized-vector column —
    * exact integer argmin (c·c − 2 q·c, ties to the smaller cell). */
  private def nearestCellExprOn(qc: Column, centroidsQ: Array[Seq[Long]]): Column = {
    val cellScores = array(centroidsQ.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct((lit(cc) - lit(2L) * dotQ(qc, typedlit(c))).as("d"), lit(i).as("cell"))
    }: _*)
    element_at(array_sort(cellScores), 1).getField("cell")
  }

  /** Distributed Lloyd k-means over the FULL corpus — the clustering
    * primitive behind semantic dedup / corpus curation ("cluster the
    * embedding space, inspect/balance/drop clusters"), and the exact
    * big-data counterpart of [[ivfTrain]]'s sampled ML KMeans. Every
    * step is deterministic and engine-replayable (the q_kmeans oracle
    * replays the whole fit in SQL):
    *
    *   - init: the k corpus vectors with the SMALLEST ids (data-dependent
    *     but order-free seeding, like the q_ann_ivf quantizer; k clamps
    *     to the corpus size). Statistically weaker than k-means|| — for
    *     pure quality over replayability, seed via [[ivfTrain]] and pass
    *     `init`;
    *   - assignment: one codegen'd literal-centroid argmin pass
    *     ([[nearestCellExpr]] — exact integer distances, smallest-index
    *     tie-break), n x k dots per iteration (the standard flat
    *     assignment cost; see the [[ivfNeighbors]] scale note);
    *   - update: exact elementwise long sums ([[graft.expressions
    *     .VectorSumLong]] — one buffer per cluster, map-side combined)
    *     divided on the driver and re-quantized to the fixed-point grid
    *     with floor(x + 0.5) (= SQL floor(s/n + 0.5), Java Math.round),
    *     so the next iteration's distances stay integer-exact. EMPTY
    *     clusters keep their previous centroid. Driver state per
    *     iteration: k x dim longs — index-build bounded, never data-sized.
    *
    * Embeddings must be non-null. Returns the quantized centroids
    * (index = cluster id, position-stable across iterations); pair with
    * [[kmeansAssign]] for per-row labels. */
  def kmeansFit(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int = 10,
      init: Option[Array[Seq[Long]]] = None): Array[Seq[Long]] = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(iters >= 0, s"iters must be >= 0 (got $iters)")
    GraftFunctions.register(df.sparkSession)
    CacheScope.releasing {
      // (id, q) feeds iters+1 passes: hold the compact projection (the
      // ivfNeighbors rationale — the raw source may be a 100 TB read)
      val p = CacheScope.hold(prepared(df, idCol, embCol).select("id", "q"))
      var cents = init.getOrElse {
        p.orderBy("id").limit(k).select("q")
          .collect().map(r => r.getSeq[Long](0): Seq[Long])
      }
      require(init.forall(_.nonEmpty), "kmeansFit needs at least one init centroid")
      var it = 0
      while (it < iters && cents.nonEmpty) {
        val stats = p.withColumn("cluster", nearestCellExpr(cents))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"),
            call_function(GraftFunctions.VecSum, col("q")).as("s"))
          .collect()
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Long](2))))
          .toMap
        cents = cents.zipWithIndex.map { case (old, j) =>
          stats.get(j) match {
            case Some((n, s)) => s.map(x => math.round(x.toDouble / n.toDouble)): Seq[Long]
            case None         => old // empty cluster: centroid unchanged
          }
        }
        it += 1
      }
      cents
    }
  }

  /** Deterministic FARTHEST-POINT seeding for the coarse quantizer
    * (VERDICT r12 #3 — the IVF recall program): k-means++'s spread
    * objective with the D²-sampling replaced by the exact argmax, so the
    * fit is REPLAYABLE (the smallest-id/first-16 inits are replayable
    * but statistically weak — BENCH_NOTES r12 measured the coarse
    * quantizer, not code resolution, as the IVF recall ceiling):
    *
    *   - seed 1 = the smallest-id vector (order-free, the kmeansFit
    *     init convention);
    *   - seed j+1 = the vector maximizing min_{c∈seeds} ||x−c||² under
    *     EXACT integer distances (x·x − 2x·c + c·c on the quantized
    *     grid), ties to the smaller id — Gonzalez's farthest-first
    *     traversal, the standard deterministic k-means++ stand-in (2×
    *     k-center approximation).
    *
    * Cost: k−1 driver steps, each one TakeOrdered pass over the corpus
    * against ≤k literal seeds. At 100 TB run it on a bounded sample
    * (the [[ivfTrain]] trainSample convention) — seeding quality needs
    * spread, not the full corpus. Feed the result to [[kmeansFit]] as
    * `init` for Lloyd refinement; the q_ann_ivfsq8_pp oracle replays
    * seeding AND refinement bit for bit. */
  def kmeansSeedFarthest(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): Array[Seq[Long]] = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    GraftFunctions.register(df.sparkSession)
    CacheScope.releasing {
      val p = CacheScope.hold(prepared(df, idCol, embCol).select("id", "q", "nsq"))
      val seeds = p.orderBy("id").limit(1).select("q")
        .collect().map(r => r.getSeq[Long](0): Seq[Long]).toBuffer
      while (seeds.nonEmpty && seeds.length < k) {
        // min over current seeds of the exact integer ||x−c||²
        val minDist = seeds.map { c =>
          val cc = c.map(x => x * x).sum
          col("nsq") - lit(2L) * dotQ(col("q"), typedlit(c)) + lit(cc)
        }.reduce(least(_, _))
        val next = p.select(col("id"), col("q"), minDist.as("__d"))
          .orderBy(col("__d").desc, col("id")).limit(1)
          .select("q").collect()
        seeds += (next(0).getSeq[Long](0): Seq[Long])
      }
      seeds.toArray
    }
  }

  /** Hard cluster assignment against [[kmeansFit]] (or any quantized)
    * centroids: (idCol, cluster), one literal-centroid codegen pass —
    * the exact integer argmin of [[nearestCellExpr]]. The id column
    * keeps the caller's name (ADVICE r6). */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Array[Seq[Long]],
      as: String = "cluster"): DataFrame = {
    require(centroids.nonEmpty, "kmeansAssign needs at least one centroid")
    GraftFunctions.register(df.sparkSession)
    prepared(df, idCol, embCol)
      .withColumn(as, nearestCellExpr(centroids))
      .select(col("id").as(idCol), col(as))
  }

  /** Product-quantization ANN top-k (Jégou, Douze, Schmid — "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): the
    * MEMORY-scale path past IVF. `dim` splits into `m` subspaces; each
    * trains its own deterministic [[kmeansFit]] sub-codebook (k cells,
    * smallest-id init); every corpus vector compresses to m small codes
    * (m bytes at k ≤ 256: a 64-dim float vector becomes 4-8 bytes — a
    * 10B-vector corpus fits cluster memory as codes when raw vectors
    * never could); queries never touch corpus vectors again —
    * Asymmetric Distance Computation scores each row as a sum of m
    * LITERAL table lookups (per subspace, the exact integer squared
    * distance from the query subvector to every centroid), a pure
    * codegen projection over the codes table.
    *
    * Determinism contract: fit, encode, distance tables, and the ADC
    * sum are all exact integer arithmetic on the 1e-6 quantized grid,
    * ties rank by id — the oracle replays fit + encode + ADC + rank
    * bit for bit. Approximation lives ONLY in the quantization itself
    * (scores are distances to centroids, not to vectors) — the
    * standard PQ trade, recall tunable by m·k.
    *
    * Scale shape: codebooks are REQUIRED index state (fit once with
    * [[pqFit]], persist, reuse — r8 ADVICE: the old recompute-by-default
    * invited a re-fit per query), then ONE encode scan emitting m codes
    * per row and a codes-table scan for the query. `query` must be a
    * single row (ADC tables ride as plan literals here); for a query
    * SET use [[ivfPqTopK]], the batch IVFADC composition. */
  /** The m sub-codebooks of [[pqTopK]]'s quantizer, exposed separately
    * so they can be fitted ONCE and persisted beside the corpus (the
    * [[ivfTrain]]/[[kmeansFit]] index-at-rest convention) — repeated
    * queries then pay only the codes scan, never the fits. */
  def pqFit(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      k: Int = 16,
      iters: Int = 2): Seq[Array[Seq[Long]]] = {
    require(m >= 1 && dim % m == 0, s"m must divide dim (got dim=$dim, m=$m)")
    val sub = dim / m
    (0 until m).map { i =>
      kmeansFit(corpus.select(col(idCol), slice(col(embCol), i * sub + 1, sub).as("__sub")),
        idCol, "__sub", k, iters)
    }
  }

  def pqTopK(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      codebooks: Seq[Array[Seq[Long]]],
      topK: Int = 10): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m must divide dim (got dim=$dim, m=$m)")
    require(topK >= 1, s"topK must be >= 1 (got $topK)")
    GraftFunctions.register(corpus.sparkSession)
    val sub = dim / m
    def slices(c: Column, i: Int): Column = slice(c, i * sub + 1, sub)
    val books = codebooks
    require(books.length == m && books.forall(_.forall(_.length == sub)),
      s"codebooks must be $m books of $sub-dim centroids")
    val qRow = query.select(quantize(col(embCol))).collect()
    require(qRow.length == 1, s"pqTopK expects exactly ONE query row (got ${qRow.length})")
    val qv = qRow(0).getSeq[Long](0)
    require(qv.length == dim, s"query dim ${qv.length} != declared dim $dim")
    // per-subspace ADC tables: exact ||q_i − c||² for every centroid
    val dts: Seq[Seq[Long]] = (0 until m).map { i =>
      val qi = qv.slice(i * sub, (i + 1) * sub)
      val qq = qi.map(x => x * x).sum
      books(i).toSeq.map { cw =>
        val cc = cw.map(x => x * x).sum
        val qc = qi.zip(cw).map { case (a, b) => a * b }.sum
        qq - 2L * qc + cc
      }
    }
    val codes = corpus.select(
      col(idCol) +:
        (0 until m).map(i =>
          nearestCellExprOn(quantize(slices(col(embCol), i)), books(i)).as(s"__c$i")): _*)
    val adcScore = (0 until m).map(i =>
      element_at(typedlit(dts(i)), col(s"__c$i").cast("int") + 1)).reduce(_ + _)
    val w = Window.orderBy(col("adc"), col(idCol))
    codes.withColumn("adc", adcScore)
      .orderBy(col("adc"), col(idCol)).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("rank"), col("adc"))
  }

  /** SQ8 scalar-quantizer training — per-dimension (min, max) bounds on
    * the 1e-6 grid, the 8-bit uniform quantizer FAISS ships as
    * `ScalarQuantizer(QT_8bit)`: the OTHER standard compression point
    * next to PQ (4 bits/dim of codebook structure vs SQ8's 8 bits/dim
    * of per-dim range) — SQ8 loses less per dimension, PQ compresses
    * harder; real deployments pick per corpus. ONE map-side-combined
    * hash agg over (dim, value) pairs → `dim` rows collected (bounded,
    * fail-fast) — the pqFit/ivfTrain index-state convention: fit once,
    * persist, reuse. Fails fast on ragged corpora (a vector shorter
    * than `dim` leaves a dimension with no rows). */
  def sq8Fit(corpus: DataFrame, idCol: String, embCol: String, dim: Int)
      : Seq[(Long, Long)] = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096] (got $dim)")
    sq8BoundsOf(corpus.select(quantize(col(embCol)).as("__v")), dim, "sq8Fit")
  }

  /** Per-dim (min, max) of a quantized array column — the shared fit
    * core of [[sq8Fit]] / [[sq8FitResidual]]. */
  private def sq8BoundsOf(arrs: DataFrame, dim: Int, who: String): Seq[(Long, Long)] = {
    val rows = arrs
      .select(posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy(col("__pos"))
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
      .collect()
    require(rows.length == dim,
      s"$who: corpus has ${rows.length} populated dimensions, expected $dim" +
        " (ragged or empty corpus)")
    rows.sortBy(_.getInt(0)).map(r => (r.getLong(1), r.getLong(2))).toSeq
  }

  /** SQ8 ANN top-k by Asymmetric Distance Computation over 8-bit codes
    * (FAISS `IndexScalarQuantizer` search): every corpus vector encodes
    * to dim uint8 codes, code_d = round(255·(x_d − mn_d)/(mx_d − mn_d))
    * clamped to [0, 255]; the query scores each row at the DECODED
    * point x̂_d = mn_d + code_d·den_d/255 — held in 255× fixed point so
    * the whole distance stays exact int64:
    *
    *   d2 = Σ_d (255·(q_d − mn_d) − code_d·den_d)²   (den = mx − mn)
    *
    * Every step is exact integer arithmetic on the quantized grid
    * (round-half-up via the Ewm `(t − pmod(t, dd))/dd` divisible-exact
    * division; the corpus side never sees a negative numerator because
    * its values DEFINE the bounds); an int64 overflow bound is checked
    * against the actual query/bounds literals in exact BigInt before
    * the plan builds. Ties rank by id; the oracle replays fit + encode
    * + ADC + rank bit for bit.
    *
    * Scale shape: the fit is index state (one agg, dim rows); encode +
    * score is ONE codegen projection over the corpus — constant-size
    * expressions via array lambdas (codes and terms are `transform`s
    * over the embedding array with per-dim literal lookups), no joins,
    * no shuffle before the k-bounded ordering. A 10B-vector corpus
    * scores as a linear scan of 64-byte codes. `query` must be a single
    * row (per-dim query literals ride the plan, the pqTopK convention). */
  def sq8TopK(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      bounds: Seq[(Long, Long)],
      topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1 (got $topK)")
    require(bounds.length == dim, s"bounds must have $dim entries (got ${bounds.length})")
    require(bounds.forall(b => b._2 >= b._1), "each bound needs max >= min")
    GraftFunctions.register(corpus.sparkSession)
    val qRow = query.select(quantize(col(embCol))).collect()
    require(qRow.length == 1, s"sq8TopK expects exactly ONE query row (got ${qRow.length})")
    val qv = qRow(0).getSeq[Long](0)
    require(qv.length == dim, s"query dim ${qv.length} != declared dim $dim")
    val mins = bounds.map(_._1)
    val dens = bounds.map(b => b._2 - b._1)
    val aArr = (0 until dim).map(d => 255L * (qv(d) - mins(d)))
    // exact overflow audit on the actual literals: per-dim worst |diff|
    // is at code 0 or 255
    val worst = (0 until dim).map { d =>
      val a = BigInt(aArr(d))
      val w = a.abs.max((a - BigInt(255) * dens(d)).abs)
      w * w
    }.sum
    require(worst <= BigInt(Long.MaxValue),
      s"sq8TopK: ADC distance could overflow int64 for this query/bounds" +
        s" (worst-case sum $worst) — reduce dim or value range")
    val minsL = typedlit(mins)
    val densL = typedlit(dens)
    val aL = typedlit(aArr.toSeq)
    val codes = transform(quantize(col(embCol)), (x, i) => {
      val mn = element_at(minsL, i + 1)
      val den = element_at(densL, i + 1)
      val t = (x - mn) * lit(510L) + den
      val dd = den * lit(2L)
      when(den === 0L, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          ((t - pmod(t, dd)) / dd).cast("long"))))
    })
    val terms = transform(codes, (c, i) => {
      val diff = element_at(aL, i + 1) - c * element_at(densL, i + 1)
      diff * diff
    })
    val d2 = aggregate(terms, lit(0L), (acc, t) => acc + t)
    val w = Window.orderBy(col("d2"), col(idCol))
    corpus.select(col(idCol), d2.as("d2"))
      .orderBy(col("d2"), col(idCol)).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("rank"), col("d2"))
  }

  /** SQ8 bounds over coarse-cell RESIDUALS (x − its nearest centroid) —
    * the training step of FAISS `IndexIVFScalarQuantizer` with
    * `by_residual = true` (its default): the per-dim range the 8-bit
    * codes must span is the WITHIN-cell spread, not the corpus spread,
    * so the same 8 bits resolve finer offsets (the [[pqFitResidual]]
    * argument applied to the scalar quantizer). Residuals live on the
    * quantized grid already (long − long), so the fit is exact. */
  def sq8FitResidual(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      centroids: Array[Seq[Long]]): Seq[(Long, Long)] = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096] (got $dim)")
    require(centroids.nonEmpty, "sq8FitResidual needs >= 1 coarse centroid")
    GraftFunctions.register(corpus.sparkSession)
    val centLit = typedlit(centroids.toSeq.map(_.toSeq))
    val res = prepared(corpus, idCol, embCol)
      .withColumn("cell", nearestCellExprOn(col("q"), centroids))
      .select(zip_with(col("q"), element_at(centLit, col("cell") + 1),
        (a, b) => a - b).as("__v"))
    sq8BoundsOf(res, dim, "sq8FitResidual")
  }

  /** The IVF+SQ8 index table (FAISS `IndexIVFScalarQuantizer`): every
    * corpus vector hard-assigned its coarse cell and its RESIDUAL
    * encoded to dim uint8 codes under the [[sq8FitResidual]] bounds —
    * ONE codegen scan, no joins, no shuffle: (idCol, cell, codes).
    * PERSISTED INDEX STATE (the [[ivfPqEncode]] contract): both the
    * centroids and the bounds are required inputs, fitted once. */
  def ivfSq8Encode(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      centroids: Array[Seq[Long]],
      bounds: Seq[(Long, Long)]): DataFrame = {
    require(centroids.nonEmpty, "ivfSq8Encode needs >= 1 coarse centroid")
    require(bounds.length == dim, s"bounds must have $dim entries (got ${bounds.length})")
    GraftFunctions.register(corpus.sparkSession)
    val centLit = typedlit(centroids.toSeq.map(_.toSeq))
    val minsL = typedlit(bounds.map(_._1))
    val densL = typedlit(bounds.map(b => b._2 - b._1))
    val base = prepared(corpus, idCol, embCol)
      .withColumn("cell", nearestCellExprOn(col("q"), centroids))
      .withColumn("__r", zip_with(col("q"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
    val codes = transform(col("__r"), (x, i) => {
      val mn = element_at(minsL, i + 1)
      val den = element_at(densL, i + 1)
      val t = (x - mn) * lit(510L) + den
      val dd = den * lit(2L)
      when(den === 0L, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          ((t - pmod(t, dd)) / dd).cast("long"))))
    })
    base.select(col("id").as(idCol), col("cell"), codes.as("codes"))
  }

  /** Batch-query IVF+SQ8 top-k — the [[ivfPqTopK]] pipeline with the
    * scalar quantizer in the codes slot: queries rank their `nprobe`
    * nearest coarse cells by the exact integer order, candidates come
    * from the bucketed cell join against the persisted codes table, and
    * each candidate scores by the exact-int64 SQ8 asymmetric distance
    * at the 255× fixed point, reconstructed THROUGH the probed cell:
    *
    *   d2 = Σ_d (255·(q_d − c_d − mn_d) − code_d·den_d)²
    *
    * (x̂ = c + mn + code·den/255, so d2/255² = ||q − x̂||² exactly). The
    * per-(query, cell) reference array is projected ONCE (an attribute,
    * not a re-evaluated subtree — the hashedBigramBuckets lesson);
    * scoring is a row-local zip over the codes array; per-query top-k
    * rides the k-bounded heap aggregation, never a window sort of the
    * candidate set. An exact BigInt overflow audit over the actual
    * centroid/bound literals and the query set's max |q_d| (one
    * bounded agg over the small query side) fails fast before the plan
    * builds. Output: (qid, rank, idCol, d2); ranks dense per query,
    * ties by id; queries probing only empty cells are absent. */
  def ivfSq8TopK(
      codes: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      centroids: Array[Seq[Long]],
      bounds: Seq[(Long, Long)],
      nprobe: Int = 2,
      topK: Int = 10,
      broadcastQueries: Boolean = true): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    require(topK >= 1, s"topK must be >= 1 (got $topK)")
    require(centroids.nonEmpty, "ivfSq8TopK needs >= 1 coarse centroid")
    require(bounds.length == dim, s"bounds must have $dim entries (got ${bounds.length})")
    require(Set("cell", "codes").subsetOf(codes.columns.toSet) &&
        codes.columns.contains(idCol),
      s"codes must be an ivfSq8Encode output with ($idCol, cell, codes) — " +
        s"got [${codes.columns.mkString(", ")}]; encode once and persist," +
        " never per query batch")
    GraftFunctions.register(codes.sparkSession)
    val mins = bounds.map(_._1)
    val dens = bounds.map(b => b._2 - b._1)
    val cellScores = array(centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct((lit(cc) - lit(2L) * dotQ(col("q"), typedlit(c))).as("d"),
        lit(i).as("cell"))
    }: _*)
    val centLit = typedlit(centroids.toSeq.map(_.toSeq))
    val minsL = typedlit(mins)
    val densL = typedlit(dens)
    // per-(query, probed cell) reference: A_d = 255·(q_d − c_d − mn_d)
    val aArr = transform(
      zip_with(col("q"), element_at(centLit, col("cell") + 1), (a, b) => a - b),
      (r, i) => (r - element_at(minsL, i + 1)) * lit(255L))
    val qexp0 = prepared(queries, idCol, embCol)
      .select(col("id").as("qid"), col("q"),
        explode(slice(array_sort(cellScores), 1, nprobe).getField("cell"))
          .as("cell"))
      .select(col("qid"), col("cell"), aArr.as("__a"))
    // exact overflow audit over the ACTUAL query×cell rows (tiny by
    // contract): for any candidate code c ∈ [0, 255], term_d =
    // (A_d − c·den_d)² ≤ max(A_d², (A_d − 255·den_d)²) — monotone in c,
    // so the per-row worst sum needs no corpus join. Decimal-exact so
    // the audit itself cannot overflow; the bound must clear BOTH int64
    // (the candidate sum) and 2^53 (the top-k heap's double score).
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val worstTerms = aggregate(
      transform(col("__a"), (a, i) => {
        val ad = a.cast(dec)
        val top = ad - (element_at(densL, i + 1) * lit(255L)).cast(dec)
        greatest(ad * ad, top * top)
      }),
      lit(0).cast(dec), (acc, t) => acc + t)
    val worstRow = qexp0.agg(max(worstTerms.cast(dec))).head()
    val worst =
      if (worstRow.isNullAt(0)) BigInt(0)
      else BigInt(worstRow.getDecimal(0).toBigInteger)
    require(worst <= BigInt(Long.MaxValue),
      s"ivfSq8TopK: ADC distance could overflow int64 for this query set" +
        s" (worst-case sum $worst) — reduce dim or value range")
    val qexp = if (broadcastQueries) broadcast(qexp0) else qexp0
    val terms = transform(col("codes"), (c, i) => {
      val diff = element_at(col("__a"), i + 1) - c * element_at(densL, i + 1)
      diff * diff
    })
    val d2 = aggregate(terms, lit(0L), (acc, t) => acc + t)
    // rank by the exact integer WINDOW, not the TopKByScore heap: SQ8's
    // 255×-fixed-point d2 legitimately exceeds 2^53 (the audit above
    // allows up to int64), where the heap's double score would lose
    // tie-exactness; candidates are already nprobe-bounded per query,
    // so the per-query sort is candidate-list-sized, never corpus-sized
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col(idCol))
    codes.join(qexp, "cell")
      .select(col("qid"), col(idCol), d2.as("d2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("rank"), col(idCol), col("d2"))
  }

  /** Persisted IVF+SQ8 index on the [[AtRestIndex]] lifecycle. Per-row
    * table: `codes` (the [[ivfSq8Encode]] output, keyed by `idCol`;
    * partition by `cell` at scale). Fit state: `centroids`, `bounds` (dim
    * rows of (i, mn, mx)) and `meta` (id_col, dim). Encoder:
    * [[ivfSq8Encode]] against the frozen cells + bounds. */
  final case class Sq8Index(
      centroids: Array[Seq[Long]],
      bounds: Seq[(Long, Long)],
      codes: DataFrame,
      idCol: String,
      dim: Int) extends AtRestIndex[Sq8Index] {
    private[graft] def rowTables = Seq("codes" -> codes)

    private[graft] def encode(batch: DataFrame, idCol: String, embCol: String) =
      Seq(ivfSq8Encode(batch, idCol, embCol, dim, centroids, bounds))

    protected def fitTables(spark: org.apache.spark.sql.SparkSession) = {
      import spark.implicits._
      Seq(
        "centroids" -> centroidTable(spark, centroids),
        "bounds" -> bounds.zipWithIndex.map { case ((mn, mx), i) => (i, mn, mx) }
          .toDF("i", "mn", "mx"),
        "meta" -> Seq((idCol, dim)).toDF("id_col", "dim"))
    }

    protected def idColumn = idCol

    protected def withRows(tables: Seq[DataFrame]) = copy(codes = tables.head)

    protected def reader = Sq8Index

    /** Probe the index — [[ivfSq8TopK]] against the at-rest tables. */
    def topK(queries: DataFrame, embCol: String, nprobe: Int = 2,
        k: Int = 10): DataFrame =
      ivfSq8TopK(codes, queries, idCol, embCol, dim, centroids, bounds,
        nprobe = nprobe, topK = k)
  }

  object Sq8Index extends AtRestIndex.Reader[Sq8Index] {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): Sq8Index = {
      val meta = Parquet.read(spark, s"$dir/meta").head()
      val bounds = Parquet.read(spark, s"$dir/bounds").orderBy("i")
        .collect().map(r => (r.getLong(r.fieldIndex("mn")),
          r.getLong(r.fieldIndex("mx")))).toSeq
      Sq8Index(readCentroids(spark, dir), bounds, Parquet.read(spark, s"$dir/codes"),
        meta.getAs[String]("id_col"), meta.getAs[Int]("dim"))
    }
  }

  /** The (cell, cw) at-rest table of IVF centroids. */
  private def centroidTable(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Seq[Long]]): DataFrame = {
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (cw, i) => (i, cw) }.toDF("cell", "cw")
  }

  /** IVF centroids from `dir/centroids` — bounded index metadata (cells ×
    * dim), the kmeansFit k×dim driver-state convention. */
  private def readCentroids(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Seq[Long]] =
    Parquet.read(spark, s"$dir/centroids").orderBy("cell")
      .collect().map(r => r.getSeq[Long](r.fieldIndex("cw")): Seq[Long])

  /** Build an [[Sq8Index]] with FITTED quantizers (first fit cells +
    * [[sq8FitResidual]] bounds) — one codegen encode scan; `write` the
    * lazy codes frame before repeated probing (the at-rest path). */
  def buildSq8Index(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      centroids: Array[Seq[Long]],
      bounds: Seq[(Long, Long)]): Sq8Index =
    Sq8Index(centroids, bounds,
      ivfSq8Encode(corpus, idCol, embCol, dim, centroids, bounds),
      idCol, dim)

  /** The IVFADC index table (Jégou et al., TPAMI'11 §IV — the FAISS
    * IVF+PQ composition): every corpus vector hard-assigned its coarse
    * IVF cell ([[nearestCellExprOn]] against `centroids`) and compressed
    * to `m` PQ codes (one [[pqFit]] sub-codebook argmin per subspace).
    * ONE codegen scan, no joins, no shuffle: (idCol, cell, codes) where
    * `codes` is array<int> of length m.
    *
    * This is PERSISTED INDEX STATE — the [[graft.operators.Dedup
    * .NearDupIndex]] convention: encode once, write beside the corpus
    * (partition by `cell` so probes co-locate), and feed it to
    * [[ivfPqTopK]] via `codes` for every subsequent query batch. Both
    * quantizers are REQUIRED inputs (fit once with [[ivfTrain]] /
    * [[kmeansFit]] and [[pqFit]], persist, reuse) so a query path can
    * never silently re-fit. */
  def ivfPqEncode(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      centroids: Array[Seq[Long]],
      codebooks: Seq[Array[Seq[Long]]],
      residual: Boolean = false): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m must divide dim (got dim=$dim, m=$m)")
    require(centroids.nonEmpty, "ivfPqEncode needs >= 1 coarse centroid")
    val sub = dim / m
    require(codebooks.length == m && codebooks.forall(_.forall(_.length == sub)),
      s"codebooks must be $m books of $sub-dim centroids")
    GraftFunctions.register(corpus.sparkSession)
    val centLit = typedlit(centroids.toSeq.map(_.toSeq))
    // residual=true is the FAISS IVFADC default: PQ encodes x − c(x)
    // (the vector's offset from its coarse centroid), whose spread is
    // the within-cell variance instead of the corpus variance — the
    // same m·k codes resolve finer distances. Codebooks must then come
    // from [[pqFitResidual]].
    val base = prepared(corpus, idCol, embCol)
      .withColumn("cell", nearestCellExprOn(col("q"), centroids))
    val enc =
      if (residual)
        base.withColumn("__r", zip_with(col("q"),
          element_at(centLit, col("cell") + 1), (a, b) => a - b))
      else base.withColumn("__r", col("q"))
    enc.select(col("id").as(idCol), col("cell"),
      array((0 until m).map(i =>
        nearestCellExprOn(slice(col("__r"), i * sub + 1, sub), codebooks(i))
          .cast("int")): _*).as("codes"))
  }

  /** [[pqFit]] over coarse-cell RESIDUALS (x − its nearest `centroids`
    * entry) — the codebooks [[ivfPqEncode]]/[[ivfPqTopK]] need when
    * `residual = true`. The residual frame round-trips through the
    * double grid (r/1e6, bit-exactly re-quantized by the fit's own
    * round — |r| ≪ 2^52) so the fit sees exactly the integers the
    * encoder will. */
  def pqFitResidual(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      centroids: Array[Seq[Long]],
      k: Int = 16,
      iters: Int = 2): Seq[Array[Seq[Long]]] = {
    require(centroids.nonEmpty, "pqFitResidual needs >= 1 coarse centroid")
    GraftFunctions.register(corpus.sparkSession)
    val centLit = typedlit(centroids.toSeq.map(_.toSeq))
    val res = prepared(corpus, idCol, embCol)
      .withColumn("cell", nearestCellExprOn(col("q"), centroids))
      .select(col("id").as(idCol),
        transform(
          zip_with(col("q"), element_at(centLit, col("cell") + 1), (a, b) => a - b),
          x => x.cast("double") / lit(Quant)).as("__res"))
    pqFit(res, idCol, "__res", dim, m, k, iters)
  }

  /** BATCH-QUERY IVFADC top-k (VERDICT r8 #1): a query SET scores
    * against nprobe-bounded candidate lists — the retrieval/eval
    * pipeline shape ([[pqTopK]] is the single-query exhaustive-scan
    * form; this removes both its one-query `require` and its
    * full-corpus codes scan per query).
    *
    * Plan shape, in order:
    *   - `codes` is the [[ivfPqEncode]] output (or [[AnnIndex]].codes —
    *     the index-at-rest path), REQUIRED: a probe never touches the
    *     raw corpus, and there is deliberately no encode-on-the-fly
    *     default — a caller who forgot to persist the codes would
    *     otherwise pay a silent full-corpus encode scan per query batch
    *     (VERDICT r9 #4, the pqTopK-codebooks precedent);
    *   - queries → ONE projection computing, per query row: its
    *     `nprobe` nearest coarse cells AND its m per-subspace ADC
    *     distance tables (array<long> of k exact integer ||q_i − c||²
    *     entries — the Jégou asymmetric-distance tables, built by a
    *     zip_with over the codebook literal);
    *   - candidates = codes ⋈ exploded query cells on `cell` — a
    *     bucketed equality join (query side broadcast by default; a
    *     corpus row sits in exactly ONE cell, so each (query, corpus)
    *     pair appears at most once — no dedup pass);
    *   - scoring = m array lookups per candidate (element_at into the
    *     query row's ADC tables — pure codegen, the corpus vectors are
    *     never touched);
    *   - top-k per query via the k-bounded [[graft.expressions
    *     .TopKByScore]] heap aggregation (map-side combine ships ≤ k
    *     rows per query per partition — no window sort of the
    *     candidate set).
    *
    * Cost per query: nprobe · (n/cells) candidate rows — vs n for
    * [[pqTopK]] — and the whole batch shares one candidate join.
    * Determinism: all-integer ADC on the 1e-6 grid, ranks by
    * (adc ASC, id ASC); the q_ann_ivfpq oracle replays fit + both
    * assignments + tables + lookups + rank bit for bit. The adc→double
    * heap score stays exact while adc < 2^53, i.e. while
    * dim · (2 · Quant · maxAbs)² < 9e15 — 64-dim unit-scale embeddings
    * sit ~2.6e14, 30× under the edge; re-scale before quantizing if
    * your embedding values run past ~5.
    *
    * Recall: tunable by `nprobe` (monotone — a superset of probed
    * cells can only add better candidates; pinned in SimilaritySpec),
    * by the PQ resolution m·k, and by `residual = true` (the FAISS
    * IVFADC default: PQ encodes x − c(x) with [[pqFitResidual]]
    * codebooks, so the same m·k resolves within-cell variance instead
    * of corpus variance — pinned ≥ raw-mode recall on clustered data,
    * and exactly ||q − x||² in the degenerate full-codebook case).
    * Queries whose probed cells hold no corpus rows are absent from
    * the output; ranks are dense per query. Output: (qid, rank,
    * idCol, adc). */
  def ivfPqTopK(
      codes: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      centroids: Array[Seq[Long]],
      codebooks: Seq[Array[Seq[Long]]],
      nprobe: Int = 2,
      topK: Int = 10,
      broadcastQueries: Boolean = true,
      residual: Boolean = false): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m must divide dim (got dim=$dim, m=$m)")
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    require(topK >= 1, s"topK must be >= 1 (got $topK)")
    require(centroids.nonEmpty, "ivfPqTopK needs >= 1 coarse centroid")
    require(Set("cell", "codes").subsetOf(codes.columns.toSet) &&
        codes.columns.contains(idCol),
      s"codes must be an ivfPqEncode output with ($idCol, cell, codes) — " +
        s"got [${codes.columns.mkString(", ")}]; encode once with " +
        "ivfPqEncode/buildAnnIndex and persist, never per query batch")
    val sub = dim / m
    require(codebooks.length == m && codebooks.forall(_.forall(_.length == sub)),
      s"codebooks must be $m books of $sub-dim centroids")
    GraftFunctions.register(codes.sparkSession)
    val codesTbl = codes
    // nprobe nearest coarse cells by the exact integer rank (c·c − 2q·c,
    // ties to the smaller cell) — the nearestCellExpr order, kept as a
    // sorted slice instead of rank 1
    val cellScores = array(centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val cc = c.map(x => x * x).sum
      struct((lit(cc) - lit(2L) * dotQ(col("q"), typedlit(c))).as("d"),
        lit(i).as("cell"))
    }: _*)
    // Per-subspace ADC tables, built per (query, probed cell) row (k
    // integer dots of length `sub` per subspace) so candidate scoring
    // is pure lookups. In residual mode the reference point is the
    // query's offset from THAT cell's centroid (q − c_cell — the FAISS
    // IVFADC asymmetric distance: ||q − x||² = ||(q − c) − (x − c)||²
    // within a shared cell); in raw mode all probed cells share one
    // table and the extra zip_with folds to the identity.
    val centLit = typedlit(centroids.toSeq.map(_.toSeq))
    val qref =
      if (residual)
        zip_with(col("q"), element_at(centLit, col("cell") + 1), (a, b) => a - b)
      else col("q")
    val dts = (0 until m).map { i =>
      val qi = slice(col("__qr"), i * sub + 1, sub)
      val bookLit = typedlit(codebooks(i).toSeq.map(_.toSeq))
      val ccLit = typedlit(codebooks(i).toSeq.map(_.map(x => x * x).sum))
      zip_with(bookLit, ccLit,
        (cw, cc) => dotQ(qi, qi) - lit(2L) * dotQ(qi, cw) + cc).as(s"__dt$i")
    }
    val qexp0 = prepared(queries, idCol, embCol)
      .select(col("id").as("qid"), col("q"),
        explode(slice(array_sort(cellScores), 1, nprobe).getField("cell"))
          .as("cell"))
      .withColumn("__qr", qref)
      .select(col("qid") +: col("cell") +: dts: _*)
    val qexp = if (broadcastQueries) broadcast(qexp0) else qexp0
    val adc = (0 until m).map(i =>
      element_at(col(s"__dt$i"), element_at(col("codes"), i + 1) + 1))
      .reduce(_ + _)
    codesTbl.join(qexp, "cell")
      .select(col("qid"), col(idCol), adc.as("__adc"))
      .groupBy(col("qid"))
      .agg(call_function(GraftFunctions.TopK,
        -col("__adc").cast("double"), col(idCol).cast("long"), lit(topK)).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), (-col("col.score")).cast("long").as("adc"))
  }

  /** Variance-balanced dimension allocation for PQ — the deterministic,
    * replayable slice of OPQ's non-parametric initialization (Ge,
    * He, Ke & Sun, CVPR'13 "Optimized Product Quantization", §IV:
    * balance the variance mass across subspaces so no codebook wastes
    * its k codes on near-constant dims while another drowns; the full
    * learned ROTATION needs an SVD per iteration — out of scope
    * without linear algebra, and the allocation step is where most of
    * the non-isotropic win lives). Per-dimension variance is computed
    * as exact decimal power sums on the quantized grid (ONE aggregation
    * pass, 2·dim decimal sums — no row explosion); dims rank by
    * n·s2 − s1² (exact integers, ties to the lower dim) and deal into
    * subspaces in a SNAKE draft (rank r → cycle c = r mod 2m, subspace
    * c < m ? c : 2m−1−c) — the snake is what makes the allocation
    * SQL-replayable in one window, where OPQ's greedy bin-packing
    * would need dim unrolled iterations. Returns the 0-based source
    * index for each output slot, grouped by subspace, variance-
    * descending within. Permutation preserves L2, so every downstream
    * contract (exact recall gates, ADC integer distances) is unchanged
    * — only the quantization error moves. */
  def pqVarianceAlloc(
      corpus: DataFrame,
      embCol: String,
      dim: Int,
      m: Int): Seq[Int] = {
    require(m >= 1 && dim % m == 0, s"m must divide dim (got dim=$dim, m=$m)")
    val q = quantize(col(embCol))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val exprs = (0 until dim).flatMap { j =>
      val x = element_at(q, j + 1)
      // cast BEFORE the product (the aucAgg/jsd convention, ADVICE r9):
      // a long×long square wraps silently past ~3e9 quantized units
      Seq(sum(x.cast(dec)).as(s"__s1_$j"),
        sum(x.cast(dec) * x.cast(dec)).as(s"__s2_$j"))
    } :+ count(lit(1)).cast(dec).as("__n")
    val row = corpus.agg(exprs.head, exprs.tail: _*).head()
    val n = BigDecimal(row.getDecimal(2 * dim))
    val metric = (0 until dim).map { j =>
      val s1 = BigDecimal(row.getDecimal(2 * j))
      val s2 = BigDecimal(row.getDecimal(2 * j + 1))
      n * s2 - s1 * s1
    }
    val ranked = (0 until dim).sortBy(j => (-metric(j), j)) // rank r -> dim
    def subOf(r: Int): Int = {
      val c = r % (2 * m); if (c < m) c else 2 * m - 1 - c
    }
    ranked.zipWithIndex.sortBy { case (_, r) => (subOf(r), r) }.map(_._1)
  }

  /** Top covariance eigenvector (power iteration) folded into a
    * HOUSEHOLDER reflection — the learned-rotation half of OPQ's
    * non-parametric form (Ge, He, Ke & Sun, CVPR'13 §III), restricted
    * to its first deflation step: align the corpus' top principal axis
    * with dim 1, so [[pqVarianceAlloc]]'s snake draft then spreads the
    * dominant variance direction instead of letting it straddle (or
    * concentrate in) one subspace. R = I − 2·uuᵀ/(uᵀu) with
    * u = v₁ − e₁ is EXACTLY orthogonal in real arithmetic (an improper
    * rotation — L2-preserving, which is all the downstream contracts
    * need) and needs no per-row sqrt.
    *
    * Replayability (the kmeans/logreg fit convention — every step
    * mirrors a fixed SQL shape):
    *   - covariance from ONE pass of exact integer/decimal power sums
    *     over the quantized grid (cast-before-product), downscaled to
    *     the round(·,6) grid;
    *   - `iters` fixed power-iteration rounds from v₀ = round(1/√dim,
    *     12)·1, each: exact decimal matvec, max-|component|
    *     normalization (exact comparisons), round(·,12);
    *   - unit-normalize once (exact Σx², one double sqrt/divide) onto
    *     the 6dp grid, subtract e₁, quantize u to 1e-6 integers.
    *
    * Scale: the covariance pass reads `trainSample` rows under a total
    * order (the [[ivfTrain]] deterministic-sample rule) and collects a
    * dim² bounded statistic — index-build state, like the codebooks.
    * Returns (u quantized at 1e6, uᵀu in quantized² units); uᵀu == 0
    * means v₁ == e₁ already (identity rotation). */
  def pcaHouseholder(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      iters: Int = 16,
      trainSample: Int = 10000): (Seq[Long], Long) = {
    require(dim >= 2, s"dim must be >= 2 (got $dim)")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64] (got $iters)")
    val c = covarianceGrid(corpus, idCol, embCol, dim, trainSample)
    topAxisReflection(c, dim, iters)
  }

  /** pcaHouseholder's covariance pass: exact (n, Σx, Σ x·xᵀ) over the
    * deterministic training sample in ONE aggregate — a dim²-triangle
    * long-array buffer ([[graft.expressions.OuterProductSumLong]],
    * the VectorSumLong idiom) that moves O(sample) rows map-side and
    * one buffer per partition. The former plan joined the sample with
    * two dim-ranges and shuffled `sample · dim²` rows into a
    * groupBy(i,j) — 5.9B–167B intermediate rows at production dims
    * 768–4096 for a bounded 10k sample (VERDICT r10 #1); this is the
    * same statistic with zero row expansion. Sums are exact Longs
    * (addExact/multiplyExact fail loudly past 2^63), so the
    * correctly-rounded double of each sum is bit-identical to the
    * former exact-decimal path and the DuckDB replay is unchanged.
    *
    * Cov entries land on the 6dp grid, units (n² · raw-embedding²).
    * The n·s2 − s1i·s1j finalize runs in DOUBLE (fixed IEEE shape — a
    * decimal product would exceed precision 38 in the replay): each
    * factor is the correctly-rounded double of an exact integer sum,
    * so both engines compute the identical value. */
  private def covarianceGrid(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      trainSample: Int): Array[Array[java.math.BigDecimal]] = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    GraftFunctions.register(corpus.sparkSession)
    val aggRow = corpus.orderBy(col(idCol)).limit(trainSample)
      .select(quantize(col(embCol)).as("q"))
      .agg(call_function(GraftFunctions.OpSum, col("q"), lit(dim)).as("s"))
      .head()
    require(!aggRow.isNullAt(0), "pcaHouseholder needs a non-empty corpus")
    val st = aggRow.getSeq[Long](0)
    val n = st(0).toDouble
    val c = Array.ofDim[JBD](dim, dim)
    var t = 1 + dim // upper-triangle offset (buffer layout in OuterProductSumLong)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val cv = JBD.valueOf(
            (n * st(t).toDouble - st(1 + i).toDouble * st(1 + j).toDouble) / 1e12)
          .setScale(6, RM.HALF_UP)
        c(i)(j) = cv
        c(j)(i) = cv
        t += 1; j += 1
      }
      i += 1
    }
    c
  }

  /** pcaHouseholder's iteration: `iters` max-norm power-iteration
    * rounds on the 6dp covariance grid, folded into the quantized
    * Householder pair (uq at 1e6, uᵀu). A zero-variance covariance
    * (degenerate sample: all-identical embeddings, or one row) has no
    * principal axis — the matvec is all-zero and the max-norm ratio
    * would be NaN (ADVICE r10) — so it returns the documented uu == 0
    * IDENTITY reflection instead: the rotation passes vectors through
    * unchanged. */
  private def topAxisReflection(
      c: Array[Array[java.math.BigDecimal]],
      dim: Int,
      iters: Int): (Seq[Long], Long) = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    def rnd(d: Double, s: Int): JBD = JBD.valueOf(d).setScale(s, RM.HALF_UP)
    var v: Array[JBD] = Array.fill(dim)(rnd(1.0 / math.sqrt(dim.toDouble), 12))
    var it = 0
    while (it < iters) {
      val w = (0 until dim).map(i =>
        (0 until dim).map(j => c(i)(j).multiply(v(j)))
          .reduce(_.add(_))) // exact decimal matvec
      val mx = w.map(_.abs).max // exact comparison
      if (mx.signum == 0) return (Seq.fill(dim)(0L), 0L) // zero variance → identity
      v = w.map(x => rnd(x.doubleValue / mx.doubleValue, 12)).toArray
      it += 1
    }
    val n2 = v.map(x => x.multiply(x)).reduce(_.add(_)) // exact Σx²
    val u6 = v.map(x => rnd(x.doubleValue / math.sqrt(n2.doubleValue), 6))
    val h = u6.zipWithIndex.map { case (x, i) =>
      if (i == 0) x.subtract(JBD.ONE) else x } // u = v₁ − e₁, exact
    val uq = h.map(x => x.movePointRight(6).longValueExact).toSeq
    (uq, uq.map(x => x * x).sum)
  }

  /** FULL non-parametric OPQ rotation (Ge, He, Ke & Sun CVPR'13 §III):
    * k Householder DEFLATION steps — [[pcaHouseholder]] iterated on the
    * deflated covariance — so principal axes 1..k land on dims 1..k and
    * [[pqVarianceAlloc]]'s snake draft spreads ALL the leading variance
    * directions, not just the first (VERDICT r10 #2, the missing half
    * of the r9 stretch).
    *
    * Step t fits the top axis of the current (dim−t)² covariance and
    * deflates: C ← HᵀCH restricted to rows/cols 2.., where
    * H = I − 2uuᵀ/uᵀu. The algebra is the replayable expansion
    * M = C − 2(u·(Cu)ᵀ + (Cu)·uᵀ)/uᵀu + 4(uᵀCu)·uuᵀ/(uᵀu)², computed
    * on exact integer micro-units of the 6dp covariance grid: Cu and
    * uᵀCu are EXACT BigInt sums (HUGEINT in the replay), the two
    * division terms collapse into ONE fixed-IEEE double expression per
    * entry, rounded half-away-from-zero back onto the grid — so both
    * engines walk identical matrices at every step. A uu == 0 step
    * (top axis already on e1, or zero variance) contributes the
    * identity and deflates by dropping row/col 1.
    *
    * Returns k reflections as FULL-dim pairs — step t's u is padded
    * with t leading zeros, so each acts as identity on the already-
    * placed axes — ready for [[householderRotateAll]]. Fit state is
    * bounded (k·dim longs), like the codebooks; the covariance pass is
    * the same one-pass [[graft.expressions.OuterProductSumLong]]
    * aggregate (paid ONCE — deflation is driver algebra, zero further
    * Spark jobs). */
  def pcaHouseholderK(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      k: Int,
      iters: Int = 16,
      trainSample: Int = 10000): Seq[(Seq[Long], Long)] = {
    require(dim >= 2, s"dim must be >= 2 (got $dim)")
    require(k >= 1 && k < dim, s"k must be in [1, dim-1] (got k=$k, dim=$dim)")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64] (got $iters)")
    var c = covarianceGrid(corpus, idCol, embCol, dim, trainSample)
    val out = Seq.newBuilder[(Seq[Long], Long)]
    var t = 0
    while (t < k) {
      val (uqSub, uuSub) = topAxisReflection(c, dim - t, iters)
      out += ((Seq.fill(t)(0L) ++ uqSub, uuSub))
      if (t < k - 1) c = deflateGrid(c, uqSub, uuSub)
      t += 1
    }
    out.result()
  }

  /** One deflation step of [[pcaHouseholderK]]: HᵀCH with row/col 1
    * dropped, on the 6dp grid. See the replayability contract there. */
  private def deflateGrid(
      c: Array[Array[java.math.BigDecimal]],
      uq: Seq[Long],
      uu: Long): Array[Array[java.math.BigDecimal]] = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val n = c.length
    require(uq.length == n, s"u length ${uq.length} != covariance order $n")
    if (uu == 0L)
      return Array.tabulate(n - 1, n - 1)((i, j) => c(i + 1)(j + 1))
    // exact integer micro-units (1e-6) of the grid; Cu and uᵀCu exact
    val ci: Array[Array[BigInt]] =
      c.map(_.map(x => BigInt(x.movePointRight(6).toBigIntegerExact)))
    val u: Array[BigInt] = uq.map(BigInt(_)).toArray
    val a: Array[BigInt] =
      Array.tabulate(n)(i => (0 until n).map(j => ci(i)(j) * u(j)).sum)
    val s: BigInt = (0 until n).map(i => u(i) * a(i)).sum
    val uud = uu.toDouble
    val sd = s.doubleValue
    Array.tabulate(n - 1, n - 1) { (i0, j0) =>
      val (i, j) = (i0 + 1, j0 + 1)
      // ONE fixed-IEEE shape, mirrored verbatim in the SQL replay:
      // (2(uᵢAⱼ+Aᵢuⱼ))ᵈ/uuᵈ − (4uᵢuⱼ)ᵈ·Sᵈ/(uuᵈ·uuᵈ), round half-away
      val t12 = (u(i) * a(j) + a(i) * u(j)) * 2
      val t3 = 4L * uq(i) * uq(j) // ≤ 4·(2e6)² — exact in Long and Double
      val corr = t12.doubleValue / uud - t3.toDouble * sd / (uud * uud)
      val m6 = ci(i)(j) -
        BigInt(JBD.valueOf(corr).setScale(0, RM.HALF_UP).toBigIntegerExact)
      new JBD(m6.bigInteger).movePointLeft(6)
    }
  }

  /** [[packReflections]]/[[graft.expressions.HouseholderChainRotate]]
    * packed-literal format: steps `;`-separated, each `uu|u1,u2,...`. */
  private[graft] def packReflections(refl: Seq[(Seq[Long], Long)]): String = {
    refl.foreach { case (uq, uu) =>
      require(uu >= 0L, s"uu must be >= 0 (got $uu)")
      require(uu == uq.map(x => x * x).sum,
        "uu must equal Σ uq² (pass pcaHouseholderK's pairs)")
    }
    refl.map { case (uq, uu) => s"$uu|${uq.mkString(",")}" }.mkString(";")
  }

  /** All k reflections of a [[pcaHouseholderK]] chain as ONE column —
    * the [[graft.expressions.HouseholderChainRotate]] expression
    * (VERDICT r11 #7). Each step applies Rx = x − (2·u·x / uᵀu)·u on
    * the quantized grid — the dot and uᵀu exact integers, the ratio and
    * the per-component update one fixed-IEEE shape each, the output
    * re-rounded to the 1e-6 grid (uᵀu == 0 is the identity) — so
    * [[quantize]] of the result is bit-identical across engines and
    * composes with every ANN operator. The k steps run in-loop over one
    * primitive array per row, bit-identical to the step-by-step Column
    * chain at ~k× fewer passes (BENCH_NOTES, Round 12, "Fused
    * Householder chain": k=8, dim=256, 2000 rows in 2.34 s against
    * 379 s stepwise; SimilaritySpec keeps that chain as its reference
    * and pins fused == chain == materialized).
    * Callers must have [[GraftFunctions.register]]ed the session. */
  private[graft] def householderRotateFused(emb: Column, refl: Seq[(Seq[Long], Long)]): Column = {
    require(refl.nonEmpty, "need at least one reflection")
    call_function(GraftFunctions.HhChain, emb, lit(packReflections(refl)))
  }

  /** The rotation chain applied with ONE materialization (localCheckpoint
    * of the [[householderRotateFused]] projection — formerly one
    * barrier PER STEP, k materializations of the full frame at encode
    * time; the fused expression folds the k steps into one row-local
    * loop, so a single barrier remains). The barrier still matters:
    * the expression is CodegenFallback, and a downstream multi-column
    * consumer would re-evaluate the whole chain per reference if the
    * projection stayed lazy (the r10 CollapseProject lesson). Returns
    * `df` with `outCol` holding the fully rotated vector, bit-identical
    * to the lazy per-step chain (each step re-rounds to the 1e-6 grid
    * either way — SimilaritySpec pins chain == fused == materialized). */
  def householderRotateAll(
      df: DataFrame,
      embCol: String,
      outCol: String,
      refl: Seq[(Seq[Long], Long)]): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn(outCol, householderRotateFused(col(embCol), refl))
      .localCheckpoint()
  }

  /** Apply a [[pqVarianceAlloc]] permutation to a vector column (works
    * on the raw float array or the quantized long array — elementwise,
    * so the orders commute). */
  def permuteVec(c: Column, perm: Seq[Int]): Column = {
    require(perm.sorted == perm.indices, "perm must be a permutation of 0..dim-1")
    array(perm.map(j => element_at(c, j + 1)): _*)
  }

  /** FAISS-style exact re-ranking stage over [[ivfPqTopK]] (the
    * `IndexRefineFlat` wrapper): the ADC ranking nominates `refine`
    * candidates per query (riding the REQUIRED persisted `codes` table
    * — the [[ivfPqTopK]] contract), and ONLY those refine·|queries|
    * (query, candidate) pairs pay an exact integer L2 against the raw
    * corpus vectors — one candidate-bounded broadcast join fetches the
    * nominated vectors; the raw corpus is read for nothing else. This repairs ADC's quantization-error
    * inversions near the top: any true top-k neighbor that survives
    * into the candidate set is guaranteed a final slot (its exact
    * distance beats every non-top-k candidate's by definition), so
    * recall@k is monotone in `refine` and ≥ the unrefined ADC top-k at
    * the same (nprobe, m·k) — both pinned in SimilaritySpec. Output:
    * (qid, rank, idCol, d2) — [[topKL2]]'s shape, so [[recallAtK]]
    * composes directly. */
  def ivfPqTopKRefine(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      centroids: Array[Seq[Long]],
      codebooks: Seq[Array[Seq[Long]]],
      codes: DataFrame,
      nprobe: Int = 2,
      topK: Int = 10,
      refine: Int = 40,
      broadcastQueries: Boolean = true,
      residual: Boolean = false): DataFrame = {
    require(refine >= topK,
      s"refine must be >= topK (got refine=$refine, topK=$topK)")
    val cand = ivfPqTopK(codes, queries, idCol, embCol, dim, m, centroids,
        codebooks, nprobe, refine, broadcastQueries, residual)
      .select(col("qid"), col(idCol).as("__cid"))
    val c = prepared(corpus, idCol, embCol)
    val q = prepared(queries, idCol, embCol)
      .select(col("id").as("qid"), col("q").as("__qq"), col("nsq").as("__qn"))
    c.join(broadcast(cand), col("id") === col("__cid"))
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"),
        (col("__qn") + col("nsq") - lit(2L) * dotQ(col("__qq"), col("q"))).as("d2"))
      .groupBy(col("qid"))
      .agg(call_function(GraftFunctions.TopK,
        -col("d2").cast("double"), col("id").cast("long"), lit(topK)).as("__top"))
      .select(col("qid"), posexplode(col("__top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), (-col("col.score")).cast("long").as("d2"))
  }

  /** Persisted IVFADC index on the [[AtRestIndex]] lifecycle. Per-row
    * table: `codes` (id, cell, codes — the [[ivfPqEncode]] output, keyed
    * by `idCol`; at 100 TB partition/bucket by `cell` so probes
    * co-locate). Fit state: `centroids` (cell, cw) and `codebooks`
    * (book, code, cw) — the two quantizers, cells × dim and m·k × (dim/m)
    * longs of bounded index metadata — and `meta` (id_col, dim, m,
    * residual), so a probe cannot silently mismatch the encoding.
    * Encoder: [[ivfPqEncode]] against the frozen quantizers. */
  final case class AnnIndex(
      centroids: Array[Seq[Long]],
      codebooks: Seq[Array[Seq[Long]]],
      codes: DataFrame,
      idCol: String,
      dim: Int,
      m: Int,
      residual: Boolean) extends AtRestIndex[AnnIndex] {
    private[graft] def rowTables = Seq("codes" -> codes)

    private[graft] def encode(batch: DataFrame, idCol: String, embCol: String) =
      Seq(ivfPqEncode(batch, idCol, embCol, dim, m, centroids, codebooks, residual))

    protected def fitTables(spark: org.apache.spark.sql.SparkSession) = {
      import spark.implicits._
      Seq(
        "centroids" -> centroidTable(spark, centroids),
        "codebooks" -> codebooks.zipWithIndex.flatMap { case (book, b) =>
          book.toSeq.zipWithIndex.map { case (cw, c) => (b, c, cw) } }
          .toDF("book", "code", "cw"),
        "meta" -> Seq((idCol, dim, m, residual)).toDF("id_col", "dim", "m", "residual"))
    }

    protected def idColumn = idCol

    protected def withRows(tables: Seq[DataFrame]) = copy(codes = tables.head)

    protected def reader = AnnIndex
  }

  object AnnIndex extends AtRestIndex.Reader[AnnIndex] {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): AnnIndex = {
      val meta = Parquet.read(spark, s"$dir/meta").head()
      val m = meta.getAs[Int]("m")
      val bookRows = Parquet.read(spark, s"$dir/codebooks")
        .orderBy("book", "code").collect()
      val books = (0 until m).map(b =>
        bookRows.filter(_.getAs[Int]("book") == b)
          .map(r => r.getSeq[Long](r.fieldIndex("cw")): Seq[Long]))
      AnnIndex(readCentroids(spark, dir), books, Parquet.read(spark, s"$dir/codes"),
        meta.getAs[String]("id_col"), meta.getAs[Int]("dim"), m,
        meta.getAs[Boolean]("residual"))
    }
  }

  /** Build an [[AnnIndex]] over a corpus with FITTED quantizers (fit
    * once with [[ivfTrain]]/[[kmeansFit]] + [[pqFit]] /
    * [[pqFitResidual]], then build) — ONE codegen encode scan, no
    * shuffle. The returned codes frame is lazy: `write` it (the
    * at-rest path) before repeated probing. */
  def buildAnnIndex(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      m: Int,
      centroids: Array[Seq[Long]],
      codebooks: Seq[Array[Seq[Long]]],
      residual: Boolean = false): AnnIndex =
    AnnIndex(centroids, codebooks,
      ivfPqEncode(corpus, idCol, embCol, dim, m, centroids, codebooks, residual),
      idCol, dim, m, residual)

  /** Batch-query top-k against a persisted [[AnnIndex]]: exactly
    * [[ivfPqTopK]] riding the index's codes table — the corpus is
    * never read. For the exact re-rank tail, use [[ivfPqTopKRefine]]
    * directly (it needs the corpus vectors, which the index — by
    * design — does not carry). */
  def annTopK(
      index: AnnIndex,
      queries: DataFrame,
      embCol: String,
      nprobe: Int = 2,
      topK: Int = 10,
      broadcastQueries: Boolean = true): DataFrame =
    ivfPqTopK(index.codes, queries, index.idCol, embCol, index.dim, index.m,
      index.centroids, index.codebooks, nprobe, topK,
      broadcastQueries, index.residual)

  /** Within-cell near-duplicate pairs against a fixed coarse quantizer:
    * every vector is hard-assigned its nearest centroid
    * ([[nearestCellExpr]] — the [[kmeansAssign]] argmin), and candidate
    * pairs come ONLY from a bucketed equality join on the cell id, then
    * verify with the exact quantized cosine. The candidate generator
    * behind [[semanticDedup]]; exposed so callers can inspect pairs (the
    * output carries the shared `cell`) or reuse one fitted quantizer
    * across corpora. Recall < 1 by construction: a near-dup pair
    * straddling a cell boundary is never compared — the SemDeDup
    * trade-off (cluster-then-dedup), same S-curve role as
    * [[lshNeighbors]]' bucket recall.
    *
    * The (id, q, nsq, cell) projection is held ([[CacheScope.hold]]): the
    * corpus feeds both join sides, so it is scanned once, not twice (the
    * [[ivfNeighbors]] rationale). */
  def semanticPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      centroids: Array[Seq[Long]]): DataFrame = {
    require(centroids.nonEmpty, "semanticPairs needs at least one centroid")
    GraftFunctions.register(df.sparkSession)
    val p = CacheScope.hold(prepared(df, idCol, embCol)
      .withColumn("cell", nearestCellExpr(centroids)))
    p.as("a")
      .join(p.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cell").as("cell"),
        cosineQ(dotQ(col("a.q"), col("b.q")), col("a.nsq"), col("b.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup, composed end-to-end (VERDICT r6 #3):
    * fit k centroids over the full corpus ([[kmeansFit]] — exact,
    * replayable Lloyd), generate within-cell cosine pairs
    * ([[semanticPairs]] — cell-bucketed equality join, never cross-cell),
    * and keep-smallest-id via one anti-join (the
    * [[graft.operators.Dedup.embeddingDedup]] one-pass rule: a row is
    * dropped iff it has ANY neighbor with cosine >= threshold, a smaller
    * id, and the same cell). Returns the surviving input rows unchanged.
    *
    * 100 TB shape: k x iters literal-centroid scans for the fit (driver
    * state = k x dim longs), one scan + one cell-equality self-join for
    * the pairs (within-cell cost quadratic in occupancy — size k ~ n /
    * targetOccupancy like [[autoCells]]), one anti-join for survivors.
    * The big table is never shuffled for the anti-join side; nothing
    * iterates over rows on the driver. Pass `init`/`centroids` built
    * once (e.g. [[ivfTrain]]) to skip the fit on repeated runs. */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      k: Int,
      iters: Int = 10,
      centroids: Option[Array[Seq[Long]]] = None): DataFrame = {
    require(!df.columns.contains("__sem_dup_id"),
      "semanticDedup reserves column name __sem_dup_id; rename it in the input")
    val cents = centroids.getOrElse(kmeansFit(df, idCol, embCol, k, iters))
    if (cents.isEmpty) return df // empty corpus: nothing to drop
    val pairs = semanticPairs(df, idCol, embCol, threshold, cents)
    // id_a < id_b by construction, so id_b is always the dropped side
    val dropped = pairs.select(col("id_b").as("__sem_dup_id")).distinct()
    df.join(dropped, col(idCol) === col("__sem_dup_id"), "left_anti")
  }

  /** Corpus-aware plane count: the smallest p >= minPlanes such that
    * expected bucket occupancy n / 2^p drops to `targetOccupancy` —
    * candidate cost is quadratic in occupancy, so p must grow with log n
    * (measured: planes=4 at 16k vectors degenerates 7x vs planes=8,
    * BENCH_NOTES.md). Pure integer logic so a SQL oracle replays it
    * exactly (no float log2 boundary surprises). */
  def autoPlanes(n: Long, targetOccupancy: Long = 64, minPlanes: Int = 4, maxPlanes: Int = 20): Int = {
    var p = minPlanes
    while (p < maxPlanes && n > targetOccupancy * (1L << p)) p += 1
    p
  }

  /** Approximate near-neighbor pairs: candidates share a bucket in at
    * least one of `tables` hyperplane tables, then are exactly verified
    * (cosine >= threshold). Recall < 1 by LSH nature — tune `tables` up /
    * `planes` down to raise it (measured by the recall spec against
    * [[bruteForcePairs]]).
    *
    * `planes` <= 0 (the default) SIZES WITH THE CORPUS via [[autoPlanes]]
    * over a cheap count: expected bucket occupancy is n / 2^planes per
    * table, and candidate cost is quadratic in it. Measured (BENCH_NOTES,
    * "Scale probes", 16k vectors): planes=4 (16 buckets) degenerates
    * toward all-pairs at 67 s; planes=8 (256 buckets) runs in 9 s. At higher similarity
    * thresholds more planes also keep recall (per-bit collision prob
    * rises with cosine), which is the regime near-dup detection runs in.
    * Explicit `planes` overrides (recall tuning at a known corpus size).
    *
    * `dim` <= 0 (default) derives the dimension from the first corpus row
    * (one extra tiny job — pass it explicitly on a cold source) —
    * hyperplanes must span the full vector or buckets silently hash a
    * subspace.
    *
    * The compact (id, q, nsq) projection feeds three branches (bucket
    * build + both verify sides) and the bucket table two (the candidate
    * self-join): both are held ([[CacheScope.hold]]) so a 100 TB corpus
    * is scanned once. Same rationale/lifecycle as Dedup's shingle/bucket
    * tables. */
  def lshNeighbors(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      planes: Int = 0,
      tables: Int = 8,
      dim: Int = 0): DataFrame = {
    val p = CacheScope.hold(prepared(df, idCol, embCol))
    // dim derivation and the auto-sizing count both read the held
    // projection (first action warms it) — never a second raw-source scan
    val actualDim =
      if (dim > 0) dim
      else p.select(size(col("q"))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (actualDim == 0)
      return p.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cos")).where(lit(false))
    val actualPlanes = if (planes > 0) planes else autoPlanes(p.count())
    val buckets = CacheScope.hold(signBucketTable(p, tables, actualPlanes, actualDim))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(p.as("pa"), col("id_a") === col("pa.id"))
      .join(p.as("pb"), col("id_b") === col("pb.id"))
      .select(col("id_a"), col("id_b"),
        cosineQ(dotQ(col("pa.q"), col("pb.q")), col("pa.nsq"), col("pb.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** (id, t, bucket) sign-bucket table of a prepared (id, q, nsq)
    * projection — the LSH candidate key shared by [[lshNeighbors]]
    * (self-join) and [[crossNeighborsLsh]] (cross-set join). */
  private def signBucketTable(p: DataFrame, tables: Int, planes: Int, dim: Int): DataFrame =
    p.select(
      col("id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"), lshBucket(col("q"), t, planes, dim).as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.t"), col("bk.bucket"))

  /** Cross-set approximate neighbor pairs — the bucketed big x big form of
    * [[crossPairs]]: both corpora hash into the SAME deterministic
    * hyperplane sign buckets, candidates come from a (table, bucket)
    * equality join across the sets (never a cartesian), and every
    * candidate is verified with the exact quantized cosine. Precision is
    * exact; recall follows the same S-curve as [[lshNeighbors]] (raise
    * `tables`, or lower `planes`, to push it up). This is the
    * decontamination path when the "eval" side is NOT broadcast-sized —
    * e.g. scoring one 100 TB corpus snapshot against another.
    *
    * Each projection feeds two branches (bucket build + its verify side)
    * and is held ([[CacheScope.hold]]) so each corpus is scanned once; the
    * bucket tables feed one branch each and are not held. */
  def crossNeighborsLsh(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      planes: Int = 0,
      tables: Int = 8,
      dim: Int = 0): DataFrame = {
    val pL = CacheScope.hold(prepared(left, idCol, embCol))
    val pR = CacheScope.hold(prepared(right, idCol, embCol))
    val actualDim =
      if (dim > 0) dim
      else pL.select(size(col("q"))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (actualDim == 0) // empty left corpus: empty result; id_l/id_r each
      // keep their OWN side's id type+nullability (a left-only projection
      // would mistype id_r when the two frames' id dtypes differ)
      return pL.select(col("id").as("id_l"))
        .crossJoin(pR.select(col("id").as("id_r")))
        .select(col("id_l"), col("id_r"), lit(0.0).cast("double").as("cos"))
        .where(lit(false))
    // plane count sized by the combined corpus: per-bucket occupancy is
    // (nL + nR) / 2^planes and the cross-candidate cost per bucket is
    // occL * occR, so the sum is the conservative sizing input
    val actualPlanes =
      if (planes > 0) planes else autoPlanes(pL.count() + pR.count())
    val cand = signBucketTable(pL, tables, actualPlanes, actualDim).as("a")
      .join(signBucketTable(pR, tables, actualPlanes, actualDim).as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_l"), col("b.id").as("id_r"))
      .distinct()
    cand
      .join(pL.as("pa"), col("id_l") === col("pa.id"))
      .join(pR.as("pb"), col("id_r") === col("pb.id"))
      .select(col("id_l"), col("id_r"),
        cosineQ(dotQ(col("pa.q"), col("pb.q")), col("pa.nsq"), col("pb.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Per-table probe buckets for MULTI-PROBE LSH (Lv et al., VLDB'07):
    * the vector's own sign bucket plus `probes` single-bit flips of its
    * LEAST CONFIDENT planes — the ones whose projection magnitude is
    * smallest, i.e. where a near neighbor most plausibly sits on the
    * other side of the hyperplane. Ordering is total ((|proj|, mask)
    * pairs through array_sort), so the probe set is deterministic;
    * `probes = planes` degenerates to the full Hamming-radius-1 ball
    * (ranking irrelevant — the oracle-replayed form). Projections are
    * exact integer dots, so "magnitude" is exact. */
  def probeBuckets(
      embQ: Column, table: Int, planes: Int, dim: Int, probes: Int): Column = {
    val projs = (0 until planes).map { p =>
      val w = hyperplane(table, p, dim).map(x => math.round(x * Quant))
      dotQ(embQ, typedlit(w.toSeq))
    }
    val bucket = projs.zipWithIndex.map { case (proj, p) =>
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val ranked = array_sort(array(projs.zipWithIndex.map { case (proj, p) =>
      struct(abs(proj).as("a"), lit(1L << p).as("m"))
    }: _*))
    val masks = slice(transform(ranked, r => r.getField("m")), 1, probes)
    concat(array(bucket), transform(masks, m => bucket.bitwiseXOR(m)))
  }

  /** [[lshNeighbors]] with multi-probing: candidates share a bucket OR
    * sit one flipped low-confidence plane apart, in at least one table.
    * Buys the recall of ~2x the tables for `probes`x more candidate
    * rows on ONE side of the join — the standard trade when adding
    * tables (another full corpus pass + bucket table) is the scarcer
    * resource. Exact verify unchanged, so precision is still 1. */
  def lshNeighborsMultiProbe(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      probes: Int,
      planes: Int = 0,
      tables: Int = 8,
      dim: Int = 0): DataFrame = {
    require(probes >= 1, s"probes must be >= 1 (got $probes); use lshNeighbors for 0")
    val p = CacheScope.hold(prepared(df, idCol, embCol))
    val actualDim =
      if (dim > 0) dim
      else p.select(size(col("q"))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (actualDim == 0)
      return p.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cos")).where(lit(false))
    val actualPlanes = if (planes > 0) planes else autoPlanes(p.count())
    val actualProbes = math.min(probes, actualPlanes)
    val buckets = CacheScope.hold(signBucketTable(p, tables, actualPlanes, actualDim))
    val probed = p.select(col("id"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("t"),
            probeBuckets(col("q"), t, actualPlanes, actualDim, actualProbes).as("pb"))
        }: _*)).as("bk"))
      .select(col("id"), col("bk.t"), explode(col("bk.pb")).as("bucket"))
    val cand = probed.as("a")
      .join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(p.as("pa"), col("id_a") === col("pa.id"))
      .join(p.as("pb"), col("id_b") === col("pb.id"))
      .select(col("id_a"), col("id_b"),
        cosineQ(dotQ(col("pa.q"), col("pb.q")), col("pa.nsq"), col("pb.nsq")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
