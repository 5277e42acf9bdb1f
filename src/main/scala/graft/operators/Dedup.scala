package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines — additions
  * beyond the reference's own surface (BASELINE.json north_star; the
  * reference, flox, has no dedup operators — see SURVEY §2.8).
  *
  * Everything is expression-level (whole-stage codegen, no UDFs), and every
  * near-duplicate path is *bucketed*: candidate pairs are generated only
  * within LSH buckets, never by an all-pairs join, so the plans survive a
  * 100 TB corpus. The only quadratic work is the exact-Jaccard verification
  * of LSH candidates, whose size is controlled by the band/row parameters.
  *
  * Scale design notes (100 TB):
  *   - exact dedup shuffles 16-byte content fingerprints, never the text;
  *   - MinHash shuffles (band, bucket, id) rows: `bands` rows per doc of
  *     ~24 bytes — independent of document length;
  *   - candidate verification re-joins the shingle-set table by id (two
  *     hash joins on a compact key);
  *   - skew: a degenerate bucket (e.g. boilerplate shared by millions of
  *     docs) would produce a quadratic bucket — mitigate upstream by
  *     raising `rows` (sharper bucketing); AQE skew-join handles moderate
  *     cases.
  */
object Dedup {

  /** Whitespace tokens. Documents are single-space separated; for general
    * text use [[TextAnalysis.tokensRegex]]. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles. Docs shorter than n words fall back to
    * a single whole-document shingle.
    *
    * Pure-Column HOF form, usable without session registration; the HOT
    * form is [[shinglesFast]] — the HOF inlines `split(text)` into every
    * element_at and, being CodegenFallback, re-splits the text per gram
    * element (O(words x n) splits per row). Identical outputs (CurationSpec
    * pin). */
  def shingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    val grams = transform(
      sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (1 to n).map(k => element_at(w, i + k)): _*))
    when(size(w) >= n, array_distinct(grams))
      .otherwise(array(concat_ws(" ", w)))
  }

  /** One-pass native twin of [[shingles]] (graft.expressions.WordNgrams):
    * O(len + grams) per row instead of the HOF's repeated re-splits.
    * Requires [[graft.expressions.GraftFunctions.register]] on the
    * session (every operator here that takes a DataFrame registers
    * idempotently). `distinct = false` gives the non-distinct gram stream
    * ([[Repetition.topNgramStats]]'s shape). */
  def shinglesFast(text: Column, n: Int, distinct: Boolean = true): Column =
    call_function(graft.expressions.GraftFunctions.WordNgramsF,
      text, lit(n), lit(distinct))

  /** 128-bit content fingerprint as two independently-salted 64-bit hashes.
    * One 64-bit hash has ~0.5 expected collisions on a 10^11-doc corpus;
    * 128 bits make collisions negligible (~3e-17), so grouping by the
    * fingerprint is equivalent to grouping by the full content while
    * shuffling 16 bytes instead of whole documents. */
  def contentKey(content: Column): (Column, Column) =
    (xxhash64(content), xxhash64(lit("graft-dedup-salt"), content))

  /** Exact deduplication, keep-first: one row per distinct content with the
    * smallest id (the "survivor") and the duplicate count. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val (h1, h2) = contentKey(col(contentCol))
    df.groupBy(h1.as("__h1"), h2.as("__h2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
  }

  /** Incremental-ingestion exact dedup: the rows of `batch` whose
    * content is NOT already in `corpus`, keep-first within the batch —
    * the daily-ingestion shape (yesterday's corpus is fixed; today's
    * batch must not re-add anything it contains, nor duplicate itself).
    * Row-preserving: survivors keep every `batch` column.
    *
    * Scale shape: the corpus collapses to its DISTINCT 16-byte
    * [[contentKey]] fingerprints (never text) before the anti-join, so
    * a 100 TB corpus probes as a fingerprint table; the within-batch
    * keep-first is the [[segmentDedup]] min-struct winner aggregation
    * (no per-content window sort) joined back on fingerprint + id.
    * Both joins shuffle on the same fingerprint key, so Catalyst plans
    * one exchange per side, reused across the two probes.
    *
    * NULL-content rows are ABSENT from the output (there is nothing to
    * deduplicate on; Spark's xxhash64 would otherwise hash NULLs equal
    * while SQL equality never matches them — the [[exactDedup]] family
    * convention). Filter-and-union beforehand to keep them. */
  def dedupIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val (h1, h2) = contentKey(col(contentCol))
    val seen = corpus.where(col(contentCol).isNotNull)
      .select(h1.as("__h1"), h2.as("__h2")).distinct()
    val keyed = batch.where(col(contentCol).isNotNull)
      .withColumn("__h1", h1).withColumn("__h2", h2)
    val fresh = keyed.join(seen, Seq("__h1", "__h2"), "left_anti")
    val winners = fresh
      .groupBy(col("__h1"), col("__h2"))
      .agg(min(col(idCol)).as("__wid"))
      .select(col("__h1").as("__w1"), col("__h2").as("__w2"), col("__wid"))
    fresh.join(winners,
        col("__h1") === col("__w1") && col("__h2") === col("__w2")
          && col(idCol) === col("__wid"))
      .select(batch.columns.toIndexedSeq.map(fresh(_)): _*)
  }

  /** [[dedupIncremental]] with a BLOOM-PRUNED corpus probe — identical
    * results, radically less corpus traffic at 100 TB. The plain form
    * anti-joins the batch against the corpus's full distinct-fingerprint
    * table every day (a corpus-sized shuffle even when the batch is
    * tiny); here the corpus fingerprints fold into a Bloom filter
    * (~11.6 BITS per doc at Spark's default 3% fpp vs 16 bytes for the
    * fingerprint pair — an order of magnitude less state than the
    * shuffle keys it replaces, though still a single resident blob:
    * size it like a broadcast, mind BloomFilterAggregate's
    * spark.sql.optimizer.runtime.bloomFilter.maxNumBits clamp, and
    * shard the corpus into per-shard sketches past that budget), the
    * batch probes it per-row with the codegen'd
    * [[graft.expressions.GraftFunctions.BloomContains]], and only
    * bloom-POSITIVE rows (true duplicates + the fpp sliver) enter the
    * exact anti-join that kills every false positive. Bloom NEGATIVES
    * are definitively fresh — no false negatives by construction — and
    * bypass the join entirely, so for the common mostly-fresh daily
    * batch the anti-join's batch side shrinks to ~(dup fraction + fpp)
    * and its corpus side is pruned by the join's own key locality.
    * In production, build the sketch once and persist it beside the
    * corpus (the [[NearDupIndex]] convention); it composes across days
    * by OR (Spark's BloomFilter mergeInPlace) or a rebuild at the
    * cadence the fpp budget allows.
    *
    * Same contract as [[dedupIncremental]] otherwise: NULL content
    * absent, batch-internal keep-first by min id, batch columns
    * preserved. The q_dedup_incr_bloom oracle IS q_dedup_incremental's
    * replay — matching hashes certify the prune is invisible.
    *
    * The corpus-fingerprint table is held ([[CacheScope.hold]]); a
    * long-lived daily-loop session materializes the day's survivors
    * inside [[CacheScope.releasing]] to free it (ADVICE r8). */
  def dedupIncrementalBloom(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    graft.expressions.GraftFunctions.register(batch.sparkSession)
    val (h1, h2) = contentKey(col(contentCol))
    val seen = CacheScope.hold(corpus.where(col(contentCol).isNotNull)
      .select(h1.as("__h1"), h2.as("__h2")).distinct())
    // exact count sizes the filter — no caller estimate to get wrong
    // (the contaminatedDocsBloom sizing rule); also warms `seen`
    val nCorpus = seen.count()
    val keyed = batch.where(col(contentCol).isNotNull)
      .withColumn("__h1", h1).withColumn("__h2", h2)
    // The sketch rides a SCALAR SUBQUERY — the exact mechanism Spark's
    // own runtime row-level bloom pruning injects (InjectRuntimeFilter
    // builds the same bloom_filter_agg-under-ScalarSubquery shape, and
    // might_contain REQUIRES constant-or-subquery input): the sketch is
    // built lazily inside the plan, never head()-collected into a
    // lit() at plan-construction time (ADVICE r8). Catalyst dedups the
    // identical subquery across the two probe branches (ReusedSubquery).
    // Size bound: BloomFilterAggregate clamps to spark.sql.optimizer
    // .runtime.bloomFilter.maxNumBits (default 8M bits = 1 MB) — raise
    // it (engine cap 300 GB... practically executor-memory-bounded) for
    // bigger corpora, or shard the corpus and union per-shard probes;
    // the sketch is driver/executor-resident state either way, so size
    // it like any broadcast.
    val fresh =
      if (nCorpus == 0) keyed // empty corpus: everything is fresh
      else {
        val sketch = seen.agg(call_function(
          graft.expressions.GraftFunctions.BloomAgg,
          col("__h1"), lit(nCorpus)).as("__bf")).scalar()
        val mightBeSeen = call_function(
          graft.expressions.GraftFunctions.BloomContains,
          sketch, col("__h1"))
        // positives verify exactly (anti-join eats the fpp sliver);
        // negatives are fresh by the no-false-negative guarantee
        keyed.where(!mightBeSeen)
          .unionByName(keyed.where(mightBeSeen)
            .join(seen, Seq("__h1", "__h2"), "left_anti"))
      }
    // keep-first as ONE min_by-struct aggregation (the segmentDedup
    // winner pattern) rather than a winners join-back: the probed frame
    // is consumed exactly once, so the subquery-backed bloom filter
    // isn't replicated across self-join branches by pushdown
    fresh
      .groupBy(col("__h1"), col("__h2"))
      .agg(min_by(
        struct(batch.columns.toIndexedSeq.map(c => fresh(c)): _*),
        col(idCol)).as("__w"))
      .select(col("__w.*"))
  }

  /** Persistable MinHash-LSH index of a corpus — the state that makes
    * NEAR-dup dedup incremental (VERDICT r7 #4), on the
    * [[AtRestIndex]] lifecycle. Per-row tables: `buckets` (id, band,
    * bucket) — the banded LSH keys, `bands` rows of ~24 bytes per doc —
    * and `shingles` (id, sh) — the distinct-shingle arrays the
    * exact-Jaccard verify joins against; both are keyed by the fixed
    * column `id`. Fit state: `meta` (n, bands, rows), so a probe cannot
    * silently mismatch the banding. Encoder: [[buildNearDupIndex]]'s
    * shingle + [[minhashBands]] pass at the index's parameters. At
    * 100 TB, partition/bucket the buckets table by `bucket` so daily
    * probes co-locate. */
  final case class NearDupIndex(
      buckets: DataFrame,
      shingles: DataFrame,
      n: Int,
      bands: Int,
      rows: Int) extends AtRestIndex[NearDupIndex] {
    private[graft] def rowTables = Seq("buckets" -> buckets, "shingles" -> shingles)

    private[graft] def encode(batch: DataFrame, idCol: String, textCol: String) =
      buildNearDupIndex(batch, idCol, textCol, n, bands, rows).rowTables.map(_._2)

    protected def fitTables(spark: org.apache.spark.sql.SparkSession) = {
      import spark.implicits._
      Seq("meta" -> Seq((n, bands, rows)).toDF("n", "bands", "rows"))
    }

    protected def idColumn = "id"

    protected def withRows(tables: Seq[DataFrame]) =
      copy(buckets = tables(0), shingles = tables(1))

    protected def reader = NearDupIndex
  }

  object NearDupIndex extends AtRestIndex.Reader[NearDupIndex] {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): NearDupIndex = {
      val m = Parquet.read(spark, s"$dir/meta").head()
      NearDupIndex(
        Parquet.read(spark, s"$dir/buckets"),
        Parquet.read(spark, s"$dir/shingles"),
        m.getAs[Int]("n"), m.getAs[Int]("bands"), m.getAs[Int]("rows"))
    }
  }

  /** Build a [[NearDupIndex]] over a corpus: ONE sketch pass (shingle →
    * per-document band keys, [[minhashBands]]; no exchange) producing
    * both index tables. NULL-content rows contribute nothing
    * (the [[dedupIncremental]] convention). The returned frames are lazy —
    * `write` them (or persist) before repeated probing. */
  def buildNearDupIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 32,
      rows: Int = 4): NearDupIndex = {
    val sh = shingleTable(corpus.where(col(textCol).isNotNull), idCol, textCol, n)
    NearDupIndex(bandedBuckets(sh, bands, rows), sh, n, bands, rows)
  }

  /** Incremental-ingestion NEAR-dup dedup — the daily MinHash shape
    * (VERDICT r7 #4), the near-dup twin of [[dedupIncremental]]: the
    * rows of `batch` that are near-duplicates (shingle-Jaccard >=
    * `threshold`) of NOTHING in the indexed corpus and of no smaller-id
    * batch row. Row-preserving: survivors keep every batch column;
    * NULL-content rows are absent (the [[dedupIncremental]] convention).
    *
    * Why an index: running [[nearDupDedup]] on corpus ∪ batch re-pays
    * the FULL corpus shingle+minhash sketch every day. Here history
    * costs only its stored band-bucket/shingle tables: today's batch
    * sketches ONCE, candidates come from two bucket-equality joins
    * (batch×index cross-set and batch×batch self), both verified with
    * the exact Jaccard — the [[nearDupPairs]] precision contract.
    * Determinism: signatures and banding are content-keyed, so probing
    * a stored index is bit-identical to probing a freshly built one
    * (DedupSpec pins the parquet round-trip).
    *
    * Scale shape: the index NEVER shuffles documents — the cross join
    * moves (band, bucket, id) rows; `broadcastBatch = true` pins the
    * batch sketch broadcast so the corpus-sized index side is never
    * shuffled at all (the [[crossNearDupPairs]] broadcastRight rule:
    * opt-in, because an unconditional hint OOMs on a large batch).
    * After accepting survivors, append them to the stored index
    * ([[AtRestIndex.append]] — or union the probe's own `shB`/`bB`
    * tables) to roll the corpus forward.
    *
    * The batch sketch's two tables are held ([[CacheScope.hold]]).
    * `preSketch` (r13 optimization): the batch's (shingle table, banded
    * buckets) when the caller has already materialized them
    * ([[batchSketchCheckpointed]]) — the probe then computes and holds NO
    * sketch of its own (the ingestion sinks were paying the batch sketch
    * twice: once to probe, once to append); the caller owns the
    * pre-sketch lifecycle and the tables MUST be the sketch of
    * `batch.where(textCol isNotNull)` at the index's (n, bands, rows). */
  def dedupIncrementalNear(
      index: NearDupIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      broadcastBatch: Boolean = false,
      preSketch: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(!batch.columns.contains("__dup_id"),
      "dedupIncrementalNear reserves column name __dup_id; rename it in the input")
    val b = batch.where(col(textCol).isNotNull)
    val (shB, bB) = preSketch.getOrElse {
      val sh1 = CacheScope.hold(shingleTable(b, idCol, textCol, index.n))
      (sh1, CacheScope.hold(bandedBuckets(sh1, index.bands, index.rows)))
    }

    val (shP, bP) = if (broadcastBatch) (broadcast(shB), broadcast(bB)) else (shB, bB)
    val jac = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh")))
    // cross-set: today's batch probes the persisted band-bucket index;
    // a batch row matching ANY corpus doc drops (the corpus is already
    // accepted — id order does not arbitrate across the boundary)
    val crossDup = index.buckets.as("a")
      .join(bP.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_c"), col("b.id").as("id_b"))
      .distinct()
      .join(index.shingles.as("sa"), col("id_c") === col("sa.id"))
      .join(shP.as("sb"), col("id_b") === col("sb.id"))
      .where(jac >= threshold)
      .select(col("id_b").as("__dup_id"))
    // within-batch keep-first: the [[nearDupPairs]] candidate/verify
    // shape over the batch's own sketch (one-pass smaller-id rule)
    val selfDup = bB.as("a")
      .join(bB.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .join(shB.as("sa"), col("id_a") === col("sa.id"))
      .join(shB.as("sb"), col("id_b") === col("sb.id"))
      .where(jac >= threshold)
      .select(col("id_b").as("__dup_id"))
    val dropped = crossDup.union(selfDup).distinct()
    b.join(dropped, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** The batch's sketch (shingle table, banded-bucket table), both
    * localCheckpointed — for callers that PROBE and APPEND the same
    * batch (the ingestion sinks): the sketch is computed once, the
    * probe reuses it via [[dedupIncrementalNear]]'s `preSketch`,
    * and the checkpointed frames are exactly the delta rows a
    * [[NearDupIndex]] append stores (schemas match the index tables).
    * NULL-content rows contribute nothing, as everywhere in the
    * family. */
  def batchSketchCheckpointed(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      bands: Int,
      rows: Int): (DataFrame, DataFrame) = {
    val sh = shingleTable(batch.where(col(textCol).isNotNull),
      idCol, textCol, n).localCheckpoint()
    (sh, bandedBuckets(sh, bands, rows).localCheckpoint())
  }

  /** MinHash-LSH band keys of a shingle array, per row
    * ([[graft.expressions.MinHashBands]]): `bands` bucket keys, band b's
    * key the `xxhash64` of signature slots b·rows … b·rows + rows − 1 of
    * the `bands * rows`-slot MinHash signature (slot s = min over
    * shingles x of xxhash64(s, xxhash64(x)), the standard
    * one-hash-function-per-row construction; DedupSpec pins the keys
    * against that signature built from Spark builtins). Each shingle is
    * hashed once and the k minimums are one loop, so no exchange and no
    * aggregate is needed. NULL for a NULL or empty array. Requires
    * [[graft.expressions.GraftFunctions.register]] on the session. */
  def minhashBands(shingleCol: Column, bands: Int, rows: Int): Column =
    call_function(graft.expressions.GraftFunctions.MinHashBandsF,
      shingleCol, lit(bands), lit(rows))

  /** (id, distinct-shingle-array) side table shared by the near-dup
    * operators. */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), shinglesFast(col(textCol), n).as("sh"))
  }

  /** (id, band, bucket) LSH table from a shingle table: a `posexplode`
    * of the per-document [[minhashBands]] keys — no exchange, no
    * aggregate. Documents with no shingles have no rows. */
  private def bandedBuckets(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(sh.sparkSession)
    sh.select(col("id"),
      posexplode(minhashBands(col("sh"), bands, rows)).as(Seq("band", "bucket")))
  }

  /** Audit table for [[nearDupPairs]]'s `maxBucketSize` skew cap: the
    * (band, bucket) groups the cap would drop, with their sizes — run it
    * (cheap: one groupBy over the band table) before committing to a cap,
    * or after a capped sweep to quantify what was excluded. */
  def oversizedBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 32,
      rows: Int = 4,
      maxBucketSize: Int = 1000): DataFrame =
    bandedBuckets(shingleTable(df, idCol, textCol, n), bands, rows)
      .groupBy("band", "bucket").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxBucketSize)

  /** Exact dedup in row-preserving form: keeps each content's
    * smallest-id row with ALL its columns (exactDedup returns only the
    * survivor summary). One window over the content fingerprint — a
    * single shuffle, no join-back, so a pipeline stage consuming the
    * survivors never re-computes its upstream. */
  def dropDuplicatesKeepFirst(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val (h1, h2) = contentKey(col(contentCol))
    df.withColumn("__rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(h1, h2).orderBy(col(idCol))))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Near-duplicate pairs by MinHash-LSH + exact-Jaccard verification.
    *
    * Returns (id_a, id_b, jaccard) for every pair with
    * shingle-Jaccard >= threshold that collides in at least one band.
    * Banding bound: P(candidate | Jaccard=j) = 1-(1-j^rows)^bands; with
    * the defaults (32 bands x 4 rows) a j>=0.9 pair is missed with
    * p<2e-15, j=0.7 with p<2e-4, j=0.5 with p~0.13 — size (bands, rows)
    * so the interesting j-range sits on the high-probability side of the
    * S-curve, and treat the threshold region itself as best-effort (or
    * raise bands / drop rows). Precision is exact regardless: candidates
    * are verified with the true Jaccard, computed once per *distinct*
    * candidate pair.
    *
    * The shingle and bucket tables are held ([[CacheScope.hold]]): Spark's
    * CacheManager dedupes identical plans, so repeated calls over the
    * *same* input reuse one entry, but a long-lived session sweeping many
    * distinct corpora consumes each result inside
    * [[CacheScope.releasing]] so the entries do not pile up.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      bands: Int = 32,
      rows: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    // The shingle table feeds three plan branches (signature build and the
    // two sides of the verification join) and the bucket table two (the
    // candidate self-join): without persisting, Spark re-runs the
    // shingling/minhash subtree once per branch. Both intermediates are
    // compact relative to the corpus (arrays of distinct shingles; 16
    // bytes x bands+rows signatures); MEMORY_AND_DISK spills cleanly at
    // scale.
    val sh = CacheScope.hold(shingleTable(df, idCol, textCol, n))
    val buckets = CacheScope.hold(bandedBuckets(sh, bands, rows))
    // Skew guard (off by default): a degenerate bucket — boilerplate
    // shared by millions of documents hashing every band identically —
    // would go quadratic in the candidate self-join. maxBucketSize > 0
    // drops over-full (band, bucket) groups before the join; a true
    // near-dup pair usually still collides in one of its other bands, and
    // the dropped buckets are auditable via [[oversizedBuckets]] (the cap
    // is deliberately not silent-by-default: 0 = uncapped). The window
    // count rides the same (band, bucket) shuffle the join needs anyway.
    val capped =
      if (maxBucketSize <= 0) buckets
      else buckets
        .withColumn("__bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
        .where(col("__bsz") <= maxBucketSize)
        .drop("__bsz")
    // candidate ids only through the self-join; shingles re-join below
    // keeps the shuffled band table narrow.
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val jac = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh")))
    cand
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Cross-corpus near-duplicate pairs (train/test decontamination): for
    * each right-corpus ("test") document, find left-corpus ("train")
    * documents with shingle-Jaccard >= threshold. Same MinHash-LSH
    * machinery as [[nearDupPairs]], but candidates are constrained to
    * cross-set collisions — a right document never pairs with another
    * right document, and the bucketed join shape is unchanged, so
    * decontaminating a 100 TB train set against a small eval set costs
    * one pass over train plus a broadcast-sized eval side. */
  def crossNearDupPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      bands: Int = 32,
      rows: Int = 4,
      broadcastRight: Boolean = false): DataFrame = {
    // same multi-branch-consumption holding rationale as [[nearDupPairs]]
    def prep(df: DataFrame) = {
      val sh = CacheScope.hold(shingleTable(df, idCol, textCol, n))
      (sh, bandedBuckets(sh, bands, rows))
    }
    val (shL, bL) = prep(left)
    val (shR0, bR0) = prep(right)
    // broadcastRight=true pins the broadcast of the eval-side bucket and
    // shingle tables so the train side is never shuffled — the right call
    // for the decontamination shape (huge train corpus, small eval set;
    // assert via DedupSpec), but an UNCONDITIONAL hint that bypasses AQE's
    // size checks and OOMs on a large right corpus. So it is opt-in: the
    // symmetric-shuffle default completes for any corpus pair, and AQE
    // still auto-broadcasts a small side at runtime; callers that KNOW the
    // right side is eval-sized (e.g. q_decontaminate) pass true.
    val (shR, bR) = if (broadcastRight) (broadcast(shR0), broadcast(bR0)) else (shR0, bR0)
    val cand = bL.as("a")
      .join(bR.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_l"), col("b.id").as("id_r"))
      .distinct()
    val jac = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh")))
    cand
      .join(shL.as("sa"), col("id_l") === col("sa.id"))
      .join(shR.as("sb"), col("id_r") === col("sb.id"))
      .select(col("id_l"), col("id_r"), jac.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Default SimHash bit extractor: bit i of the (64-bit) token hash. */
  val hashBit: (Column, Int) => Column =
    (h, i) => h.bitwiseAND(lit(1L << i)) =!= 0L

  /** splitmix64-style integer mix (public-domain finalizer constants) —
    * used only to derive the fixed salt literals below. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fixed salt pair for SimHash bit i of the replayable family:
    * multiplier in [2^27, ~8.7e9) — large enough that any token hash >= 1
    * wraps the 1e9+7 modulus many times (a small multiplier would leave
    * short-token hashes unreduced and make the parity bits linear in
    * parity(h): measured, that degenerates hamming distances corpus-wide) —
    * and kept small enough that h*A + C stays under 2^63 for h < 1e9+7.
    * Emitted as literals on both the Spark and the oracle side. */
  def replayableSalt(i: Int): (Long, Long) =
    ((mix64(2L * i) & 0x1ffffffffL) + (1L << 27), mix64(2L * i + 1) & 0x3fffffffL)

  /** SQL-replayable bit extractor for token hashes in [0, 1e9+7): bit i is
    * the parity of (h*A_i + C_i) mod 1e9+7 for the fixed salts above — an
    * affine universal-hash family whose every intermediate stays below
    * 2^63, so any SQL engine replays it in exact int64 arithmetic (unlike
    * xxhash64's avalanche mixing). Pair with
    * [[graft.operators.TextAnalysis.fingerprintFast]] as the token hash
    * for a fully oracle-replayable SimHash. */
  val replayableBit: (Column, Int) => Column = { (h, i) =>
    val (a, c) = replayableSalt(i)
    ((h * lit(a) + lit(c)) % lit(1000000007L)) % lit(2L) === lit(1L)
  }

  /** 64-bit SimHash, columnar: from exploded (id, token-hash) rows, one
    * hash aggregation of 64 signed bit votes, then a pack expression —
    * bit i of `sim` is set iff the tokens whose hash has bit i set
    * outnumber those without. Duplicate tokens count with multiplicity
    * (standard SimHash term weighting by frequency); the 64 votes are
    * map-side combined partial/final sums. `bitOf` picks how a token
    * hash maps to signature bits (default: the hash's own bits).
    * DedupSpec pins it against a per-row expression over the token
    * array. */
  def simhashCols(
      exploded: DataFrame,
      idCol: String,
      hashCol: String,
      bitOf: (Column, Int) => Column = hashBit): DataFrame = {
    val votes = (0 until 64).map { i =>
      sum(when(bitOf(col(hashCol), i), 1L).otherwise(-1L)).as(s"v$i")
    }
    val packed = (0 until 64)
      .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    exploded.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), packed.as("sim"))
  }

  /** SimHash near-duplicate pairs with hamming distance <= maxDist.
    * Pigeonhole banding: the 64 bits are cut into `maxDist`+1 chunks, and
    * any pair within maxDist must agree exactly on at least one chunk —
    * candidates come from equality joins on (chunk index, chunk value),
    * never an all-pairs scan, so this is 100 TB-safe. Banding is *exact*
    * (recall 1 by pigeonhole), so the result equals the all-pairs filter —
    * which is what lets an oracle replay it without replaying the banding.
    *
    * `tokenHash`/`bitOf` select the hash family: the xxhash64 default is
    * the production path; `TextAnalysis.fingerprintFast` + [[replayableBit]]
    * keeps every step inside exact SQL-replayable int64 arithmetic.
    *
    * The (id, sim) signature table is held ([[CacheScope.hold]]): it feeds
    * BOTH sides of the pigeonhole candidate join, and without the persist
    * the whole tokenize + 64-vote aggregation runs twice (measured: ~60%
    * of the operator's wall at sf0.1). It is compact — 16 bytes per
    * document — so it caches at any corpus size that fits the cluster's
    * disk. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      tokenHash: Column => Column = xxhash64(_),
      bitOf: (Column, Int) => Column = hashBit): DataFrame = {
    // chunkBits = 64/(maxDist+1): maxDist >= 15 would give chunks of < 4
    // bits (16 distinct values), whose buckets degenerate toward all-pairs
    // — the opposite of the 100 TB-safe claim. Fail fast instead.
    require(maxDist >= 0 && maxDist <= 15,
      s"maxDist must be in [0, 15] (got $maxDist): 64/(maxDist+1)-bit chunks below 4 bits degenerate to near-all-pairs buckets")
    val nChunks = maxDist + 1
    val chunkBits = 64 / nChunks
    val sim = CacheScope.hold(simhashCols(
      df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
        .select(col("id"), tokenHash(col("t")).as("h")),
      "id", "h", bitOf))
    val chunks = sim.select(
      col("id"), col("sim"),
      explode(array((0 until nChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sim"), c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("v"))
      }: _*)).as("ck"))
      .select(col("id"), col("sim"), col("ck.chunk"), col("ck.v"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sim"), col("b.sim")).as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
  }

  /** MinHash near-duplicate dedup, keep-smallest-id — the TEXT twin of
    * [[embeddingDedup]] and the most common 100 TB curation operation
    * ("MinHash-dedup my corpus, keep one per duplicate group").
    * Row-preserving: returns `df`'s rows (all columns) minus every row
    * that has ANY [[nearDupPairs]] neighbor (LSH candidate with
    * shingle-Jaccard >= threshold) of smaller id.
    *
    * Same one-pass smaller-id-neighbor rule as [[embeddingDedup]] — see
    * that scaladoc for the one-pass-vs-greedy argument (greedy is an
    * inherently serial chain; one pass is a single anti-join, the only
    * formulation that doesn't iterate at 100 TB). On transitively-closed
    * duplicate clusters the two agree. Versus CLUSTER-level keep-first
    * ([[nearDupDedupTransitive]]) the one-pass rule differs on
    * star/chain shapes: a doc whose only links are to LARGER-id docs
    * survives one-pass even when its cluster contains a smaller id
    * through an intermediary (fixture pinned in DedupSpec). */
  def nearDupDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      bands: Int = 32,
      rows: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    require(!df.columns.contains("__dup_id"),
      "nearDupDedup reserves column name __dup_id; rename it in the input")
    val pairs = nearDupPairs(
      df, idCol, textCol, n, threshold, bands, rows, maxBucketSize)
    // id_a < id_b by construction, so id_b is always the dropped side
    val dropped = pairs.select(col("id_b").as("__dup_id")).distinct()
    df.join(dropped, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Connected-component labels over a near-duplicate pair graph by
    * `iterations` rounds of min-label propagation: every node starts
    * labeled with its own id; each round replaces a node's label with the
    * min of its own and its neighbors' labels. After k rounds, labels
    * have propagated k hops — components of diameter <= k carry their
    * global min id on every node; larger components may still hold local
    * minima (BOUNDED iteration is the contract: k is a caller parameter,
    * chosen from the expected chain length, not data-dependent — real
    * duplicate clusters are shallow, so small k converges in practice).
    *
    * Input is any (id_a, id_b) pair table ([[nearDupPairs]],
    * [[simhashPairs]], [[Similarity.lshNeighbors]]...); output is
    * (id, cluster_id) for every id that appears in some pair — singleton
    * docs never enter the pair graph and are implicitly their own
    * cluster. Each round is one shuffle join + one map-side-combined min
    * aggregation over the edge list (2|pairs| rows of two ids) — linear
    * per round, k rounds total; no driver-side state, no collect. The
    * pair projection and edge list are persisted for the duration of
    * the round loop and each round's label table is lineage-truncated
    * (localCheckpoint), so the k-round
    * lineage never re-runs the expensive pair generation and the final
    * plan stays one join deep regardless of k.
    * [[dupClustersAudited]] additionally reports which labels still
    * moved in the final round — the under-chosen-k detector. */
  def dupClusters(
      pairs: DataFrame,
      iterations: Int,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame =
    dupClustersAudited(pairs, iterations, idA, idB)._1

  /** [[dupClusters]] plus a CONVERGENCE AUDIT (VERDICT r6 #7): the
    * second returned frame holds the (id, prev_label, cluster_id)
    * rows whose label still changed in the FINAL round — non-empty means
    * `iterations` was under-chosen for the realized chain topology and
    * some components still carry local minima (count it, or inspect the
    * ids, then re-run with larger k). Empty proves a fixpoint: when no
    * label moved in round k, no label can move in any later round
    * (min-propagation is monotone), so the labeling is the exact
    * connected-component answer. The audit is ONE extra join over the
    * last two persisted label tables — label-table-sized (distinct pair
    * ids), never document-sized, evaluated only if the caller acts on
    * it. A 100 TB run should gate on `audit.isEmpty` (or log its count)
    * before trusting cluster-level dedup built on the labels. */
  def dupClustersAudited(
      pairs: DataFrame,
      iterations: Int,
      idA: String = "id_a",
      idB: String = "id_b"): (DataFrame, DataFrame) = {
    require(iterations >= 1,
      s"dupClusters needs iterations >= 1 (got $iterations)")
    CacheScope.releasing {
      // The edge plan references the pair table THREE times (both
      // directions of the symmetric union + the self-loop distinct), so
      // the (id_a, id_b) projection is held FIRST: without it, the
      // caller's whole pair-generation subtree — typically a full
      // MinHash/LSH candidate join — would re-execute once per reference
      // when the edge cache materializes (measured 3x the pair cost in
      // the x8 stress probe).
      val p = CacheScope.hold(pairs.select(col(idA).as("src"), col(idB).as("dst")))
      // symmetric edges + a self-loop per node: min over {own label} ∪
      // {neighbor labels} is then ONE join + ONE map-side-combined min
      // aggregation per round (the self-loop carries the node's own label
      // through the same path), instead of a neighbor-min join PLUS a
      // join-back against the previous labels — halves the per-round
      // stage count, which is the wall-clock floor for a composed
      // metadata-sized plan
      val sym = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      val edges = CacheScope.hold(
        sym.union(sym.select(col("src")).distinct()
          .select(col("src"), col("src").as("dst"))))
      // Per-round LINEAGE TRUNCATION (VERDICT r7 #3): a plain persist
      // leaves each round's logical plan re-referencing the edge subtree
      // and every earlier round, so the final plan grows multiplicatively
      // with the round count (the r7 golden pins showed 62 Exchanges / 48
      // broadcasts at k=3; >1000 Exchanges after a handful of converging
      // rounds; Catalyst analysis cost, not runtime, is what blows up).
      // localCheckpoint materializes the round and REPLACES the lineage
      // with the checkpointed RDD, keeping every round one join deep.
      // Trade (documented Spark semantics): localCheckpoint data does not
      // survive executor loss — on an unreliable cluster set a checkpoint
      // dir and swap in .checkpoint(). Rounds thereby evaluate eagerly
      // inside the loop, so the held edges can go once it returns; state
      // is label-table-sized per round (distinct pair ids).
      val seed = edges.where(col("src") === col("dst"))
        .select(col("src").as("id"), col("src").as("lbl"))
        .localCheckpoint()
      def round(labels: DataFrame): DataFrame = edges
        .join(labels.select(col("id").as("__nid"), col("lbl").as("__nlbl")),
          col("dst") === col("__nid"))
        .groupBy(col("src").as("id")).agg(min(col("__nlbl")).as("lbl"))
        .localCheckpoint()
      val prev = (1 until iterations).foldLeft(seed)((l, _) => round(l))
      val labels = round(prev)
      val audit = prev.select(col("id"), col("lbl").as("prev_label"))
        .join(labels.select(col("id"), col("lbl").as("cluster_id")), "id")
        .where(col("prev_label") =!= col("cluster_id"))
      (labels.select(col("id"), col("lbl").as("cluster_id")), audit)
    }
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the scale
    * alternative to [[dupClusters]]' min-label propagation, and the
    * run-to-convergence connected-components operator.
    * Why it matters at 100 TB: label propagation needs one round per
    * hop of component DIAMETER, and a pathological crawl graph (long
    * chains of pairwise-similar revisions) can realize diameters in
    * the thousands; star contraction HALVES tree heights every
    * alternation and provably converges in O(log^2 n) rounds on any
    * topology — the round count depends on component SHAPE only
    * logarithmically, never linearly. DedupSpec pins the gap: a
    * 64-node path converges here in <= 8 rounds where propagation
    * needs 63.
    *
    * One round = large-star then small-star, each ONE shuffle
    * aggregation (per-node neighborhood min) + ONE join over the
    * current edge list, with edges kept canonically oriented
    * (hi > lo) and distinct:
    *  - large-star connects every neighbor LARGER than a node to its
    *    neighborhood minimum (trees flatten toward small ids);
    *  - small-star connects every neighbor smaller-or-equal, plus the
    *    node itself, to that minimum (chains of small ids collapse).
    * Both preserve connectivity exactly (each replaced edge is
    * spanned by the two emitted ones through the shared minimum), so
    * the fixpoint — every edge already (node, neighborhood-min) — is
    * the exact star graph: edge (v, r) iff r is v's component minimum.
    * Fixpoint test per round: next ⊆ prev (one except + limit) with
    * equal counts — distinct canonical sets, so subset + cardinality
    * IS equality. Per-round localCheckpoint truncates lineage (the
    * [[dupClusters]] rule); state is edge-table-sized and
    * SHRINKS monotonically in practice as stars collapse.
    *
    * Same input/output contract as [[dupClusters]]: any (id_a, id_b)
    * pair table in; (id, cluster_id = component min) for every
    * pair-participating id out, plus (roundsRun, converged).
    * `converged = false` means the `maxIters` cap bound first (raise
    * it, or treat the labels as partial). At the fixpoint the labels
    * are the exact connected components — what [[dupClusters]] gives
    * at any k >= the largest component diameter — so q_cc_star and
    * q_dedup_clusters_conv share one over-provisioned unrolled
    * replay as oracle, and DedupSpec pins equality with a union-find
    * on random graphs. */
  def ccStarContraction(
      pairs: DataFrame,
      maxIters: Int,
      idA: String = "id_a",
      idB: String = "id_b"): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1,
      s"ccStarContraction needs maxIters >= 1 (got $maxIters)")
    val p = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .where(col("a") =!= col("b"))
    // canonical orientation (hi > lo), deduped — both star ops emit
    // edges already in this orientation, so round outputs are
    // set-comparable
    var edges = p
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct()
      .localCheckpoint()
    var n = edges.count()
    var rounds = 0
    var converged = n == 0L
    // large-star: symmetric neighborhoods; m = min(N(u) ∪ {u}); emit
    // (v, m) for every neighbor v > u
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u").as("__mu"), least(col("__mu"), col("__mn")).as("__m"))
      sym.join(m, col("u") === col("__mu"))
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), col("__m").as("lo"))
        .where(col("hi") =!= col("lo"))
        .distinct()
    }
    // small-star: on (hi > lo) orientation each node's listed
    // neighbors are exactly its SMALLER neighbors; m = their min;
    // emit (v, m) for v in N \ {m} plus (hi, m)
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("hi")).agg(min(col("lo")).as("__m"))
      val j = e.join(m, "hi")
      j.where(col("lo") =!= col("__m"))
        .select(col("lo").as("hi"), col("__m").as("lo"))
        .union(j.select(col("hi"), col("__m").as("lo")))
        .where(col("hi") =!= col("lo"))
        .distinct()
    }
    while (!converged && rounds < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nn = next.count()
      // distinct canonical sets: subset (no row of next outside prev)
      // + equal cardinality ⇔ set equality ⇔ joint fixpoint
      converged = nn == n &&
        next.except(edges).limit(1).count() == 0L
      edges = next
      n = nn
      rounds += 1
    }
    // at the fixpoint edges ARE the star graph: non-roots point at
    // their component min and roots appear only on the lo side, so the
    // min-agg is a per-id no-op; under a bound that hit first it makes
    // the partial labeling deterministic (best label seen per id)
    val labels = edges.select(col("hi").as("id"), col("lo").as("__lbl"))
      .unionByName(edges.select(col("lo").as("id"), col("lo").as("__lbl")))
      .groupBy(col("id")).agg(min(col("__lbl")).as("cluster_id"))
    // ids present ONLY as self-pairs are singleton components: label
    // them with themselves so the output contract truly equals
    // dupClusters' (which reaches the same rows via injected
    // self-loops; ADVICE r8). The anti-join is bounded by the
    // self-pair id count — empty for nearDupPairs-shaped inputs.
    val selfOnly = pairs.where(col(idA) === col(idB))
      .select(col(idA).as("id")).distinct()
      .join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    (labels.unionByName(selfOnly), rounds, converged)
  }

  /** Cluster-level keep-first near-dup dedup: [[nearDupDedup]]'s
    * transitive variant. Rows are grouped into duplicate CLUSTERS by
    * `iterations` rounds of min-id label propagation over the MinHash
    * pair graph ([[dupClusters]]) and only each cluster's smallest-id row
    * survives — the dedup-literature semantics for chains (A~B~C with
    * A!~C keeps only A; one-pass would also drop B and C here, but on a
    * STAR 1-3, 2-3 one-pass keeps {1,2} while transitive keeps {1}).
    * `iterations` bounds the propagated chain length; an under-sized k
    * leaves distant chain members as extra survivors (never drops a
    * cluster min). */
  def nearDupDedupTransitive(
      df: DataFrame,
      idCol: String,
      textCol: String,
      iterations: Int,
      n: Int = 3,
      threshold: Double = 0.5,
      bands: Int = 32,
      rows: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    require(!df.columns.contains("__dup_id"),
      "nearDupDedupTransitive reserves column name __dup_id; rename it in the input")
    val pairs = nearDupPairs(
      df, idCol, textCol, n, threshold, bands, rows, maxBucketSize)
    val labels = dupClusters(pairs, iterations)
    // drop every labeled row that is not its cluster's min; unlabeled
    // (singleton) rows pass through the anti-join untouched
    val dropped = labels.where(col("id") =!= col("cluster_id"))
      .select(col("id").as("__dup_id"))
    df.join(dropped, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Leakage-free train/val/test split: assigns every row the split of
    * its duplicate-CLUSTER representative, so near-duplicates (which
    * [[Sampling.assignSplit]] keyed on content would separate whenever
    * even one byte differs) can never straddle a split boundary — the
    * eval-contamination failure mode of naive per-document splitting.
    *
    * `labels` is any (id, cluster_id) table ([[dupClusters]] over
    * MinHash/SimHash/embedding pairs); rows absent from it are
    * singletons and represent themselves. The split is the
    * [[Sampling.assignSplit]] keyed-hash interval rule over the
    * representative id — deterministic, retry-safe, replayable.
    *
    * Scale shape: one join of the corpus against the label table
    * (label rows exist only for pair-participating ids — usually a
    * small fraction; AQE broadcasts it when it fits) plus the per-row
    * split projection. Nothing else moves. Gate on
    * [[dupClustersAudited]]'s empty audit first: an under-converged
    * labeling can still split one (rare, deep) cluster across
    * boundaries via two distinct local-minima representatives. */
  def clusterSplit(
      df: DataFrame,
      idCol: String,
      labels: DataFrame,
      splits: Seq[(String, Double)],
      as: String = "split",
      salt: Int = 0): DataFrame = {
    require(!df.columns.contains("__rep"),
      "clusterSplit reserves column name __rep; rename it in the input")
    val rep = labels.select(col("id").as("__cid"), col("cluster_id").as("__rep"))
    val joined = df.join(rep, col(idCol) === col("__cid"), "left")
      .withColumn("__rep", coalesce(col("__rep"), col(idCol).cast("long")))
    Sampling.assignSplit(joined, Sampling.idKey(col("__rep")), splits, as, salt)
      .withColumnRenamed("__rep", "rep_id")
      .drop("__cid")
  }

  /** Cluster-size histogram — the operational audit every dedup run
    * should gate on BEFORE acting on its labels: (cluster_size,
    * n_clusters, n_docs) rows over any (id, cluster_id) table
    * ([[dupClusters]], [[ccStarContraction]]...). What it catches:
    * LSH/threshold parameter meltdown shows up as one giant cluster
    * (boilerplate-token banding, an over-eager threshold) — deleting
    * "duplicates" from it would delete the corpus; a histogram whose
    * mass sits at size 2-3 with a thin tail is the healthy shape.
    * Two hash aggregations, output bounded by the distinct sizes —
    * nothing document-sized moves or reaches the driver. */
  def clusterSizeHistogram(
      labels: DataFrame,
      clusterCol: String = "cluster_id"): DataFrame =
    labels.groupBy(col(clusterCol)).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__sz")).as("n_docs"))

  /** Leakage-free K-FOLD assignment — the cross-validation twin of
    * [[clusterSplit]]: every row folds by its duplicate-cluster
    * representative, so near-duplicates can never straddle a fold
    * boundary (the eval-contamination failure mode k-fold CV inherits
    * from naive per-document hashing). `labels` is any (id, cluster_id)
    * table; absent ids are singletons and represent themselves. The
    * fold is the [[Sampling.bucket]] quadratic scatter of the
    * representative id, mod k — deterministic, retry-safe, replayable,
    * and uniform across folds (the scatter is 3-wise independent, so
    * residues mod small k are balanced; M mod k bias is ≤ k/M ≈ 1e-8).
    *
    * Scale shape: identical to [[clusterSplit]] — one label join (AQE
    * broadcasts the pair-participating minority) plus a per-row
    * projection; nothing else moves. Same audit advice: gate on
    * [[dupClustersAudited]] / [[clusterSizeHistogram]] first. */
  def clusterKFold(
      df: DataFrame,
      idCol: String,
      labels: DataFrame,
      k: Int,
      as: String = "fold",
      salt: Int = 0): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2 (got $k)")
    require(!df.columns.contains("__rep"),
      "clusterKFold reserves column name __rep; rename it in the input")
    val rep = labels.select(col("id").as("__cid"), col("cluster_id").as("__rep"))
    df.join(rep, col(idCol) === col("__cid"), "left")
      .withColumn("__rep", coalesce(col("__rep"), col(idCol).cast("long")))
      .withColumn(as, Sampling.bucket(Sampling.idKey(col("__rep")), salt) % k)
      .withColumnRenamed("__rep", "rep_id")
      .drop("__cid")
  }

  /** Edit-distance near-duplicate PAIRS on a short key column — FastSS
    * deletion-neighborhood candidates + exact Levenshtein verify
    * (Bocek, Hunt & Stiller, "Fast Similarity Search in Large
    * Dictionaries", TR ifi-2007.02, Univ. of Zurich — public). Output:
    * (id_a, id_b, dist) with id_a < id_b and
    * levenshtein(key_a, key_b) <= maxDist — EXACTLY the brute-force
    * all-pairs rule (the q_dedup_editdist oracle IS the brute force;
    * the hash match certifies recall 1).
    *
    * Why candidates are a superset (recall 1): if edit(s, t) = e <=
    * maxDist, an optimal alignment touches e positions; deleting the
    * substituted/inserted characters on each side yields a COMMON
    * string reachable from both s and t by <= maxDist deletions — so
    * the <=maxDist-deletion neighborhoods intersect, and the pair
    * meets in the variant equality join. Precision comes from the
    * exact `levenshtein` verify (codegen'd builtin) on the candidate
    * set only.
    *
    * The key is a caller expression (typically a normalized prefix —
    * `substring(text, 1, 24)`, a title, a URL path): neighborhood size
    * is C(len, maxDist)-ish per row (len+1 at maxDist=1), so keys must
    * be SHORT; `maxKeyLen` fail-fasts the contract. Scale shape: the
    * join moves (variant, id, key) rows — (len+1)·rows of ~key-size
    * bytes at d=1, an equality shuffle like any LSH bucket join; a
    * boilerplate shared prefix is a hot variant key, capped by
    * `maxBucketSize` like [[nearDupPairs]]' [[oversizedBuckets]]
    * (opt-in, because dropping a bucket trades recall for skew
    * safety). NULL keys are absent (the [[dedupIncremental]]
    * convention). */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      keyCol: Column,
      maxDist: Int = 1,
      maxKeyLen: Int = 64,
      maxBucketSize: Int = 0): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"editDistancePairs supports maxDist 1..2 (got $maxDist); " +
        "the deletion neighborhood is C(len, d)-sized — past d=2 use " +
        "nearDupPairs/simhashPairs on token sets instead")
    val keyed = df.select(col(idCol).as("id"), keyCol.as("__k"))
      .where(col("__k").isNotNull)
      .withColumn("__len", length(col("__k")))
    // fail fast instead of silently exploding the neighborhood
    val guarded = keyed.withColumn("__k",
      when(col("__len") > maxKeyLen,
        raise_error(concat(
          lit(s"editDistancePairs key exceeds maxKeyLen=$maxKeyLen (len="),
          col("__len").cast("string"), lit("); shorten the key expression"))))
        .otherwise(col("__k")))
    // single-deletion step: s -> [s minus char i, for each i]
    def delStep(c: Column): Column =
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))
    // <=maxDist-deletion neighborhood, self included
    val nbh0 = array(col("__k"))
    val nbh1 = array_union(nbh0, delStep(col("__k")))
    val nbh =
      if (maxDist == 1) nbh1
      else array_union(nbh1,
        array_distinct(flatten(transform(delStep(col("__k")), v => delStep(v)))))
    val variants = guarded.select(col("id"), col("__k"),
      explode(nbh).as("__v"))
    val pruned =
      if (maxBucketSize <= 0) variants
      else {
        val hot = variants.groupBy(col("__v"))
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") > maxBucketSize)
          .select(col("__v"))
        variants.join(hot, Seq("__v"), "left_anti")
      }
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.__v") === col("b.__v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.__k").as("__ka"), col("b.__k").as("__kb"))
      .distinct()
      // threshold form: the DP early-exits outside the ±maxDist band
      // (returns -1 past it) — O(len·d) per verify instead of O(len²)
      .withColumn("dist",
        levenshtein(col("__ka"), col("__kb"), maxDist).cast("long"))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Edit-distance near-duplicate dedup, keep-smallest-id: the
    * row-preserving keep-first form over [[editDistancePairs]],
    * completing the family (exact / MinHash / SimHash / embedding /
    * edit-distance). Because the candidate step has recall 1 and the
    * verify is exact, the result EQUALS the all-pairs
    * levenshtein-keep-first rule — no S-curve caveat. */
  def editDistanceDedup(
      df: DataFrame,
      idCol: String,
      keyCol: Column,
      maxDist: Int = 1,
      maxKeyLen: Int = 64): DataFrame = {
    require(!df.columns.contains("__dup_id"),
      "editDistanceDedup reserves column name __dup_id; rename it in the input")
    val dropped = editDistancePairs(df, idCol, keyCol, maxDist, maxKeyLen)
      .select(col("id_b").as("__dup_id")).distinct()
    df.join(dropped, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** SimHash near-duplicate dedup, keep-smallest-id: the row-preserving
    * keep-first form for the SimHash family, completing the set (exact =
    * [[dropDuplicatesKeepFirst]], MinHash = [[nearDupDedup]], embedding =
    * [[embeddingDedup]]). One anti-join over [[simhashPairs]]'
    * pigeonhole-banded candidates — and since banding has recall 1, the
    * result EQUALS the all-pairs hamming keep-first rule (no S-curve
    * caveat, unlike the MinHash form). Same one-pass smaller-id-neighbor
    * semantics as the other keep-first operators. */
  def simhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      tokenHash: Column => Column = xxhash64(_),
      bitOf: (Column, Int) => Column = hashBit): DataFrame = {
    require(!df.columns.contains("__dup_id"),
      "simhashDedup reserves column name __dup_id; rename it in the input")
    val pairs = simhashPairs(df, idCol, textCol, maxDist, tokenHash, bitOf)
    // id_a < id_b by construction, so id_b is always the dropped side
    val dropped = pairs.select(col("id_b").as("__dup_id")).distinct()
    df.join(dropped, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Embedding-cosine near-duplicate dedup, keep-smallest-id — the fifth
    * dedup family (exact / MinHash / SimHash / n-gram Jaccard / embedding
    * cosine). A row is dropped iff it has ANY neighbor with cosine >=
    * threshold and a smaller id. This one-pass rule is deliberately NOT
    * sequential-greedy (which would re-admit a doc whose only nearer
    * neighbor was itself dropped): greedy is an inherently serial chain,
    * while one pass is a single anti-join — the only formulation that
    * doesn't iterate at 100 TB. On transitively-closed duplicate clusters
    * the two agree; in between, one-pass is strictly more aggressive
    * (safe for training-data cleaning, where over-dropping a borderline
    * doc is cheap and a missed duplicate is not).
    *
    * `method`: "exact" = all-pairs quantized-cosine
    * ([[Similarity.bruteForcePairs]] — bit-exact and oracle-replayable,
    * but O(n^2): baseline/verification corpora only); "lsh" = hyperplane
    * buckets ([[Similarity.lshNeighbors]], auto-sized planes — the scale
    * path; candidates only from bucket equality joins, verified with the
    * same exact cosine, so precision is exact and only recall follows the
    * S-curve). The lsh path holds its intermediates
    * ([[CacheScope.hold]]); the exact path persists nothing.
    */
  def embeddingDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      method: String = "exact"): DataFrame = {
    require(!df.columns.contains("__dup_id"),
      "embeddingDedup reserves column name __dup_id; rename it in the input")
    val pairs = method match {
      case "exact" => Similarity.bruteForcePairs(df, idCol, embCol, threshold)
      case "lsh"   => Similarity.lshNeighbors(df, idCol, embCol, threshold)
      case other   => throw new IllegalArgumentException(
        s"embeddingDedup method must be exact|lsh (got $other)")
    }
    // id_a < id_b by construction, so id_b is always the dropped side
    val dropped = pairs.select(col("id_b").as("__dup_id")).distinct()
    df.join(dropped, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** EXACT-recall set-similarity self-join: every pair of documents with
    * shingle-Jaccard >= `threshold`, guaranteed (recall = 1), without an
    * all-pairs join. This is the deterministic complement to the
    * probabilistic [[nearDupPairs]] (MinHash-LSH trades recall at the
    * S-curve boundary for speed; audits and legal-compliance dedup need
    * the exact answer).
    *
    * Method: prefix filtering (published as SSJoin/PPJoin and the
    * MapReduce set-similarity joins built on them). Order every
    * document's shingles by ascending global document frequency (rarest
    * first, ties by value). If J(x,y) >= t then |x ∩ y| >= ceil(t·|x|),
    * so x's first `|x| - ceil(t·|x|) + 1` shingles under ANY shared
    * total order must hit the corresponding prefix of y — an equality
    * join on prefix shingles finds every qualifying pair. Candidates are
    * then verified with the exact Jaccard, so precision is also 1.
    *
    * Scale shape (100 TB): one agg shuffle for shingle frequencies, one
    * per-doc window sort for prefixes (partition = doc id, bounded by
    * doc length), one equality join on prefix shingles (rare-first
    * ordering keeps frequent shingles out of short docs' prefixes, so
    * the join key distribution is anti-skewed by construction), and the
    * same narrow id-keyed verify joins as the LSH path. The length
    * filter `t·|x| <= |y| <= |x|/t` prunes candidates inside the join
    * condition before the distinct.
    *
    * The membership, representative, prefix and verified-pair stages are
    * held ([[CacheScope.hold]]).
    *
    * EXACT-COLLAPSE front end (r8): identical shingle ARRAYS collapse to
    * one representative before the prefix join, and member pairs expand
    * back afterwards. Why this is load-bearing at scale: the prefix
    * join's candidate volume is Σ_tok f_tok² over prefix-token document
    * frequencies, and exact duplicates inflate every f linearly — so a
    * corpus with heavy exact duplication (every real crawl) pays a
    * QUADRATIC candidate bill for pairs it could know by identity. The
    * x16 replica stress probe measured exactly that: 24.8M → 100.2M
    * candidate rows and 22 → 338 s wall for 2× data before the
    * collapse; after it the candidate join runs on DISTINCT contents
    * only (replication-invariant) and the expansion is output-bound —
    * the output's own quadratic clique structure IS the answer being
    * returned, not overhead. Within-group pairs carry jaccard = 1.0
    * exactly (same set); cross-group pairs inherit their group pair's
    * verified jaccard — identical results to the uncollapsed join, row
    * for row (the q_jaccard_exact brute-force oracle certifies both
    * recall AND this equivalence). Collapse identity is the 128-bit
    * double hash of the JSON-encoded array (unambiguous encoding, the
    * [[contentKey]] collision argument). */
  def jaccardJoinExact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (got $threshold)")
    val ckey = to_json(col("sh"))
    val keyed = shingleTable(df, idCol, textCol, n)
      .where(col("sh").isNotNull)
      .select(col("id"), col("sh"),
        xxhash64(ckey).as("__g1"),
        xxhash64(lit("graft-jaccard-salt"), ckey).as("__g2"))
    // (id -> content group) membership: 24 bytes/doc, feeds the expansion
    val members = CacheScope.hold(keyed.select(col("id"), col("__g1"), col("__g2")))
    // one representative per distinct content (min id, the shared array)
    val reps = CacheScope.hold(keyed.groupBy(col("__g1"), col("__g2"))
      .agg(min(col("id")).as("id"), first(col("sh")).as("sh")))
    val sized = reps.withColumn("len", size(col("sh")))
    val ex = sized.select(col("id"), col("len"), explode(col("sh")).as("tok"))
    val freq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("tok"))
    // ceil on the exact integer grid: ceil(t·len) = -floor(-t·len); the
    // double product is safe here because len is small (shingles per
    // doc) and t has few mantissa bits in practice — and a one-off
    // boundary slip only ever *lengthens* the prefix (recall unharmed).
    def ceilT(len: Column): Column = -floor(-len * threshold)
    val prefix = CacheScope.hold(ex.join(freq, "tok")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("len") - ceilT(col("len")) + 1)
      .select(col("id"), col("len"), col("tok"), col("rk")))
    // PPJoin positional filter: J >= t needs overlap I >= t(|x|+|y|)/(1+t).
    // For the FIRST common token under the shared order, every common
    // token sits at-or-after it in both docs, so the remaining-suffix
    // bound min(|x|−rk_x, |y|−rk_y) + 1 >= I must hold there — a pair
    // whose every matching prefix token fails the bound cannot reach t
    // (recall intact: true pairs always pass via their first common
    // token). The 1e-9 slack keeps an FP product boundary from pruning
    // an exact-threshold pair; it only ever weakens the prune.
    val ratio = threshold / (1.0 + threshold)
    val overlapBound =
      least(col("a.len") - col("a.rk"), col("b.len") - col("b.rk")) + 1
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id")
          && col("b.len") >= ceilT(col("a.len"))
          && col("a.len") >= ceilT(col("b.len"))
          && overlapBound.cast("double") >=
            (col("a.len") + col("b.len")).cast("double") * ratio - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val jac = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh")))
    // verified DISTINCT-CONTENT pairs (representative ids)
    val gpairs = CacheScope.hold(cand
      .join(reps.as("sa"), col("id_a") === col("sa.id"))
      .join(reps.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), jac.as("jaccard"),
        col("sa.__g1").as("ga1"), col("sa.__g2").as("ga2"),
        col("sb.__g1").as("gb1"), col("sb.__g2").as("gb2"))
      .where(col("jaccard") >= threshold))
    // expansion: cross-group member pairs inherit the group jaccard
    // (id order normalized — groups are disjoint id sets)...
    val cross = gpairs
      .join(members.as("ma"),
        col("ga1") === col("ma.__g1") && col("ga2") === col("ma.__g2"))
      .join(members.as("mb"),
        col("gb1") === col("mb.__g1") && col("gb2") === col("mb.__g2"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("jaccard"))
    // ...and within-group pairs are exact duplicates: jaccard 1.0 ≥ any
    // valid threshold, known by identity, never re-verified
    val within = members.as("x")
      .join(members.as("y"),
        col("x.__g1") === col("y.__g1") && col("x.__g2") === col("y.__g2")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** Corpus-wide SEGMENT-level exact dedup, keep-first (the C4/CCNet
    * paragraph-dedup recipe: shared boilerplate — headers, footers,
    * license blocks — is removed from every document except the first
    * one that carries it, while the rest of each document survives).
    *
    * Input is (id, idx, segment) rows from ANY segmenter — newline
    * paragraphs in a real corpus, [[TextAnalysis.chunkText]] windows
    * here. An occurrence survives iff its (id, idx) is the corpus-wide
    * minimum for that exact segment text.
    *
    * Scale shape: occurrences are keyed by the 16-byte salted content
    * fingerprint ([[contentKey]]), so the winner aggregation and the
    * survivor join shuffle fingerprints + (id, idx) — never segment
    * text. The winner is ONE min(struct) agg row per distinct segment
    * (not a per-segment window sort), so a boilerplate block shared by
    * millions of documents costs a map-side-combined aggregate, not a
    * hot sorted partition.
    */
  def segmentDedup(
      segs: DataFrame,
      idCol: String,
      idxCol: String,
      segCol: String): DataFrame = {
    val (h1, h2) = contentKey(col(segCol))
    val keyed = segs.select(col(idCol).as("id"), col(idxCol).as("idx"),
      col(segCol).as("seg"), h1.as("k1"), h2.as("k2"))
    val winners = keyed
      .groupBy(col("k1"), col("k2"))
      .agg(min(struct(col("id"), col("idx"))).as("w"))
      .select(col("k1").as("w1"), col("k2").as("w2"),
        col("w.id").as("wid"), col("w.idx").as("widx"))
    keyed.join(winners,
        col("k1") === col("w1") && col("k2") === col("w2")
          && col("id") === col("wid") && col("idx") === col("widx"))
      .select(col("id").as(idCol), col("idx").as(idxCol), col("seg").as(segCol))
  }

  /** [[segmentDedup]] over fixed-size token windows, documents rebuilt
    * from their surviving segments in original order: (id, text_dedup,
    * n_kept, n_total). Documents whose every segment was seen earlier
    * in the corpus VANISH from the output (the C4 rule). The rebuild
    * collect_list is bounded by a single document's segment count.
    *
    * The segment stage is held ([[CacheScope.hold]]): the chunkText
    * explosion (split + per-chunk slice/join + posexplode) feeds THREE
    * consumers — the winner aggregation, the survivor join, and the
    * per-doc totals — so without the persist the segmentation runs three
    * times (measured 4.9 s → ~2 s at sf0.1). */
  def segmentDedupText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int): DataFrame = {
    val segs = CacheScope.hold(TextAnalysis.chunkText(df, textCol, maxTokens)
      .select(col(idCol), col("chunk_idx"), col("chunk")))
    val totals = segs.groupBy(col(idCol)).agg(count(lit(1)).as("n_total"))
    segmentDedup(segs, idCol, "chunk_idx", "chunk")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_dedup"),
        count(lit(1)).as("n_kept"))
      .join(totals, idCol)
  }
}
