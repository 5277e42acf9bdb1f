package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Substring search over a document corpus via a character-trigram
  * posting-list index — the "grep at scale" operator (Cox, "Regular
  * Expression Matching with a Trigram Index", 2012 — the Google Code
  * Search design; public write-up). The index PRUNES, a final exact
  * `contains` verify decides: any document containing the pattern
  * necessarily contains every trigram of the pattern, so the
  * conjunctive posting intersection is a candidate SUPERSET and the
  * result is bit-identical to the naive full scan (the oracle replays
  * the scan — the index is invisible, the Bloom-dedup convention).
  *
  * Scale shape at 100 TB:
  *   - the posting table is (gram, id) with ~n_chars rows per document
  *     — large but 3-byte-key columnar rows that compress hard; build
  *     is ONE projection + explode, no shuffle, and at rest it
  *     partitions/buckets by `gram` so a probe's equality semi-joins
  *     co-locate (the [[Dedup.NearDupIndex]] at-rest convention);
  *   - a probe touches |pattern| − 2 gram partitions (equality
  *     pushdown — the scan reads ONLY the probed grams' row groups),
  *     intersects by a count aggregation on doc id, and reads corpus
  *     TEXT only for the surviving candidates;
  *   - stop-gram skew (a gram present in most documents drags its
  *     whole posting list through the join) is capped by `maxDocFreq`:
  *     over-frequent grams drop out of the conjunction — dropping a
  *     conjunct only widens the candidate set, so recall is untouched
  *     and the verify restores exactness. If every gram is hot the
  *     least-frequent one is kept so the probe never degenerates to a
  *     full scan.
  *
  * Patterns shorter than [[Search.GramLen]] have no trigram and cannot
  * use the index — callers run [[Search.substrScan]] (the same verify
  * predicate as a plain filter) for those. */
object Search {

  /** Character n-gram width of the posting index. */
  val GramLen = 3

  /** The (gram, id) posting table: distinct character trigrams per
    * document, one explode — no shuffle, no aggregation. Documents
    * shorter than [[GramLen]] characters contribute no postings (they
    * can never contain a ≥3-char pattern); NULL text contributes
    * nothing (the [[Dedup.dedupIncremental]] convention). Persist
    * partitioned by `gram` for co-located probes. */
  def trigramPostings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull && length(col(textCol)) >= GramLen)
      .select(col(idCol).as("id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col(textCol)) - (GramLen - 1)),
          i => col(textCol).substr(i, lit(GramLen))))).as("gram"))
      .select(col("gram"), col("id"))

  /** Persisted trigram posting index on the [[AtRestIndex]] lifecycle
    * (VERDICT r9 #3). Per-row table: `postings` (gram, id), keyed by
    * `id`. Fit state: `meta` (id_col, gram_len), so a probe cannot
    * silently mismatch the indexing. Encoder: [[trigramPostings]]. At
    * 100 TB, partition/bucket the postings by `gram` so probes co-locate
    * ([[writePartitioned]]). */
  final case class PostingsIndex(postings: DataFrame, idCol: String, gramLen: Int)
      extends AtRestIndex[PostingsIndex] {
    private[graft] def rowTables = Seq("postings" -> postings)

    private[graft] def encode(batch: DataFrame, idCol: String, textCol: String) =
      Seq(trigramPostings(batch, idCol, textCol))

    protected def fitTables(spark: org.apache.spark.sql.SparkSession) = {
      import spark.implicits._
      Seq("meta" -> Seq((idCol, gramLen)).toDF("id_col", "gram_len"))
    }

    protected def idColumn = "id"

    protected def withRows(tables: Seq[DataFrame]) = copy(postings = tables.head)

    protected def reader = PostingsIndex

    /** The at-rest prescription made concrete: postings PARTITIONED BY
      * `gram` on disk, so a probe's literal `gram IN (...)` filter prunes
      * the scan to exactly the pattern's |pattern| − [[GramLen]] + 1 gram
      * directories — the corpus-sized remainder is never listed, read,
      * or filtered (SearchSpec pins PartitionFilters + the pruned
      * partition count). Layout trade vs [[write]]: one directory per
      * distinct gram (bounded by the alphabet's trigram space), each
      * internally id-clustered — right for the read-mostly probe path;
      * use [[write]] for compaction intermediates. */
    def writePartitioned(dir: String): Unit =
      // an empty partitioned write leaves no schema-bearing file on
      // disk (unreadable); an empty index has nothing to prune, so the
      // plain layout is the degenerate form
      if (postings.isEmpty) write(dir)
      else {
        postings.write.partitionBy("gram").mode("overwrite")
          .parquet(s"$dir/postings")
        writeFit(dir)
      }
  }

  object PostingsIndex extends AtRestIndex.Reader[PostingsIndex] {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): PostingsIndex = {
      val m = Parquet.read(spark, s"$dir/meta").head()
      // normalize column order: a partitioned layout surfaces the
      // partition column last — (gram, id) is the index contract
      PostingsIndex(Parquet.read(spark, s"$dir/postings").select("gram", "id"),
        m.getAs[String]("id_col"), m.getAs[Int]("gram_len"))
    }
  }

  /** Build a [[PostingsIndex]] over a corpus: [[trigramPostings]]'s one
    * explode pass, wrapped with the probe contract. The returned frame
    * is lazy — `write` it (the at-rest path) before repeated probing. */
  def buildPostingsIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String): PostingsIndex =
    PostingsIndex(trigramPostings(corpus, idCol, textCol), idCol, GramLen)

  /** The distinct trigrams of a pattern (driver-side; patterns are
    * query-sized literals). */
  private[graft] def patternGrams(pattern: String): Seq[String] = {
    require(pattern.length >= GramLen,
      s"pattern must be >= $GramLen chars for the trigram index " +
        s"(got '$pattern'); use substrScan for shorter patterns")
    pattern.sliding(GramLen).toSeq.distinct
  }

  /** Candidate document ids for ONE pattern: ids whose posting rows
    * cover ALL retained pattern trigrams (a count == n conjunction —
    * one small aggregation over the probed grams' postings, never the
    * full table). With `maxDocFreq > 0`, grams whose document
    * frequency exceeds the cap leave the conjunction (see class doc);
    * the returned frame is always a superset of the true match set. */
  def substrCandidates(
      postings: DataFrame,
      pattern: String,
      maxDocFreq: Long = 0L): DataFrame = {
    val grams = patternGrams(pattern)
    val probed = postings.where(col("gram").isin(grams: _*))
    val use: Seq[String] =
      if (maxDocFreq <= 0) grams
      else {
        // df per probed gram: a |grams|-row aggregate (bounded by the
        // pattern length — safe to collect, the qcut-edges convention)
        val dfs = probed.groupBy("gram").agg(count(lit(1)).as("df"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val kept = grams.filter(g => dfs.getOrElse(g, 0L) <= maxDocFreq)
        if (kept.nonEmpty) kept
        else Seq(grams.minBy(g => (dfs.getOrElse(g, 0L), g))) // never full-scan
      }
    probed.where(col("gram").isin(use: _*))
      .groupBy(col("id"))
      .agg(count_distinct(col("gram")).as("__ng"))
      .where(col("__ng") === lit(use.length))
      .select(col("id"))
  }

  /** Index-accelerated exact substring search: candidates from
    * [[substrCandidates]], then the exact `contains` verify over ONLY
    * the candidate rows — result rows are `df` rows, bit-identical to
    * [[substrScan]]. */
  def substrSearch(
      df: DataFrame,
      postings: DataFrame,
      idCol: String,
      textCol: String,
      pattern: String,
      maxDocFreq: Long = 0L): DataFrame =
    df.join(substrCandidates(postings, pattern, maxDocFreq)
        .withColumnRenamed("id", "__cand_id"),
        col(idCol) === col("__cand_id"), "left_semi")
      .where(col(textCol).contains(pattern))

  /** The naive exact scan — the baseline [[substrSearch]] must equal,
    * and the path for patterns shorter than [[GramLen]]. */
  def substrScan(df: DataFrame, textCol: String, pattern: String): DataFrame =
    df.where(col(textCol).contains(pattern))

  /** Index-accelerated REGEX search for the Cox query algebra's core
    * (the write-up's central construction: a regex implies a boolean
    * query over required trigrams). Supported subset — alternations of
    * wildcard-joined literals, `lit(.*lit)* ( | lit(.*lit)* )*` — the
    * shape corpus-grep queries overwhelmingly take; anything richer
    * belongs to a parser, not this operator ([[substrScan]]-style
    * `rlike` full scan is the honest fallback and the verify predicate
    * here). Why candidates are a superset: a document matching an
    * alternative contains EVERY literal segment of it as a substring,
    * hence all their trigrams — so the per-alternative candidate set is
    * the segments' gram CONJUNCTION, and the pattern's is the UNION
    * over alternatives. The final `rlike` verify restores exactness
    * (ordering of segments, overlaps — everything the gram query
    * cannot see).
    *
    * Contract: every literal segment must be >= [[GramLen]] chars and
    * regex-metacharacter-free (fail-fast — a too-short segment would
    * silently degrade the conjunction to a scan). */
  def regexSearch(
      df: DataFrame,
      postings: DataFrame,
      idCol: String,
      textCol: String,
      pattern: String,
      maxDocFreq: Long = 0L): DataFrame = {
    val alternatives = pattern.split("\\|", -1).toSeq
    require(alternatives.forall(_.nonEmpty),
      s"empty alternative in '$pattern'")
    // '.' and '*' are legitimate ONLY inside the '.*' separator the
    // split just consumed — a lone '.' or '*' surviving in a segment
    // (e.g. 'a.c') would be indexed as a literal trigram while the
    // rlike verify treats it as regex, so candidates would no longer
    // be a superset and matches would silently drop (ADVICE r9).
    val meta = "\\^$()[]{}?+.*".toSet
    val cand = alternatives.map { alt =>
      val segs = alt.split("\\.\\*", -1).toSeq
      require(segs.forall(s => s.length >= GramLen && !s.exists(meta.contains)),
        s"regexSearch supports literal segments >= $GramLen chars joined " +
          s"by .* and | (got alternative '$alt'); use an rlike scan for more")
      // conjunction across segments: ids covering ALL grams of ALL
      // segments of this alternative
      segs.map(s => substrCandidates(postings, s, maxDocFreq))
        .reduce(_.intersect(_))
    }.reduce(_ union _).distinct()
    df.join(cand.withColumnRenamed("id", "__cand_id"),
        col(idCol) === col("__cand_id"), "left_semi")
      .where(col(textCol).rlike(pattern))
  }

  /** Multi-pattern search: (pattern, id) matches for a query-sized
    * pattern list in ONE probe. The pattern→gram table is a driver
    * literal (broadcast by size); candidates fall out of one grouped
    * count over the union of all probed grams, so k patterns share a
    * single pass over the postings instead of k. Verify joins
    * candidates back to the corpus and applies the exact per-pair
    * `contains`. */
  def substrSearchMulti(
      df: DataFrame,
      postings: DataFrame,
      idCol: String,
      textCol: String,
      patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    val clashes = df.columns.toSet
      .intersect(Set("pattern", "__cand_id", "__need", "__ng"))
    require(clashes.isEmpty,
      s"input columns ${clashes.mkString(", ")} clash with substrSearchMulti's " +
        "output/internal names — rename them first (the tokenBudgetSample convention)")
    val spark = df.sparkSession
    import spark.implicits._
    val triples = patterns.flatMap { p =>
      val gs = patternGrams(p)
      gs.map(g => (p, g, gs.length))
    }
    val pg = triples.toDF("pattern", "gram", "__need")
    // driver-side, NOT a collect round-trip through Spark: the pattern
    // list is the query, already in hand (ADVICE r9)
    val allGrams = triples.map(_._2).distinct
    val cand = postings.where(col("gram").isin(allGrams: _*))
      .join(broadcast(pg), Seq("gram"))
      .groupBy(col("pattern"), col("id"), col("__need"))
      .agg(count_distinct(col("gram")).as("__ng"))
      .where(col("__ng") === col("__need"))
      .select(col("pattern"), col("id").as("__cand_id"))
    df.join(cand, col(idCol) === col("__cand_id"))
      .where(col(textCol).contains(col("pattern")))
      .drop("__cand_id")
  }
}
