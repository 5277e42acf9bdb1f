package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact n-gram overlap operators — the "hard" decontamination and
  * inter-document duplication statistics of LLM-training-data curation
  * (additions beyond the reference's surface, like [[Dedup]]; the GPT-3 /
  * PaLM data papers describe exactly this shape: drop or flag any training
  * document sharing an exact word n-gram with an evaluation document).
  *
  * [[Dedup.crossNearDupPairs]] is the FUZZY decontamination path
  * (MinHash-LSH candidates + Jaccard verify); this operator is the exact
  * complement: membership of individual n-grams, no similarity threshold,
  * recall 1 by construction. Both are expression-level, no UDFs.
  *
  * Scale design (100 TB):
  *   - [[contaminatedDocs]] joins the train side's exploded grams against
  *     the (much smaller) eval gram set — broadcast when the caller knows
  *     the eval side is small (the standard decontamination shape), so the
  *     train corpus is never shuffled at all; the probe key is the 8-byte
  *     gram fingerprint with a residual string-equality check, so a hash
  *     collision can never produce a false hit;
  *   - [[duplicateGramStats]] is big-to-big: it shuffles only the 16-byte
  *     fingerprint PAIR (two independent char folds over different prime
  *     moduli ~2^30 — joint space ~2^60, so cross-string collisions are
  *     negligible at any corpus size, same argument as
  *     [[Dedup.contentKey]]'s 128 bits), never gram strings. Both folds
  *     are plain modular arithmetic, so a SQL oracle replays them exactly
  *     (unlike xxhash64).
  */
object NgramOverlap {

  /** Canonical retokenization: text -> the single-space join of its
    * [[TextAnalysis.tokensRegex]] tokens. Plugs any regex tokenization
    * (default: the BPE-ish "letter runs / digit runs / single symbol"
    * pattern) into the whitespace-token gram/window family — every
    * operator here (and [[Dedup]]'s shingle family) splits on single
    * spaces, so rejoining the regex tokens with single spaces makes the
    * fast native gram path operate on the regex tokenization with no new
    * expression machinery. One codegen'd regex pass per row; NULL text
    * stays NULL. Token arrays from a regex NEVER contain spaces (the
    * default pattern excludes them), so the round-trip is lossless in
    * token space. */
  def retokenize(pattern: String = TextAnalysis.BpeishPattern): Column => Column =
    t => array_join(TextAnalysis.tokensRegex(t, pattern), " ")

  /** (id, g) exploded distinct-gram table — the one-pass native gram
    * builder [[Dedup.shinglesFast]], with the same short-document
    * fallback as [[Dedup.shingles]] (docs shorter than n words contribute
    * one whole-document gram, so no document is invisible to the
    * check; NULL-text rows produce no grams). */
  private def gramTable(df: DataFrame, idCol: String, textCol: String, n: Int,
      tokenizer: Column => Column = identity): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
      explode(Dedup.shinglesFast(tokenizer(col(textCol)), n)).as("g"))
  }

  /** Training documents sharing at least one exact word n-gram with any
    * evaluation document: (train id, n_hit_grams = how many of the doc's
    * distinct grams appear anywhere in the eval set). Downstream either
    * drops flagged docs (GPT-3 style) or thresholds on the hit count.
    *
    * @param broadcastEval pin the eval gram set broadcast — opt-in like
    *   [[Dedup.crossNearDupPairs]]' broadcastRight (ADVICE r3): the caller
    *   knows the eval side is small; with the hint the train side is
    *   probed in place and never shuffled.
    */
  def contaminatedDocs(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      broadcastEval: Boolean = false,
      tokenizer: Column => Column = identity): DataFrame = {
    contaminatedDocsPre(train,
      evalGramTable(eval_, idCol, textCol, n, tokenizer),
      idCol, textCol, n, broadcastEval, tokenizer)
  }

  /** The distinct eval-side gram table [[contaminatedDocs]] probes —
    * split out so a STREAMING consumer ([[graft.streaming.StreamingOps
    * .curationIngestAppend]]) can build it ONCE from the frozen eval
    * reference set (localCheckpoint/parquet it) and reuse it every
    * micro-batch via [[contaminatedDocsPre]], instead of re-deriving
    * the same grams per batch. */
  def evalGramTable(
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      tokenizer: Column => Column = identity): DataFrame =
    gramTable(eval_, idCol, textCol, n, tokenizer)
      .select(col("g").as("__eg")).distinct()

  /** [[contaminatedDocs]] against a PRECOMPUTED [[evalGramTable]] —
    * identical results (the same expressions, just with the eval grams
    * handed in rather than derived). */
  def contaminatedDocsPre(
      train: DataFrame,
      evalGrams: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      broadcastEval: Boolean = false,
      tokenizer: Column => Column = identity): DataFrame = {
    // native codegen fold for the per-gram hash on the (big) train side —
    // identical values to the HOF fingerprint (TextMultiModalSpec pin)
    graft.expressions.GraftFunctions.register(train.sparkSession)
    val t = gramTable(train, idCol, textCol, n, tokenizer)
      .select(col("id"), col("g"), TextAnalysis.fingerprintFast(col("g")).as("__f"))
    val e0 = evalGrams
      .select(col("__eg"), TextAnalysis.fingerprintFast(col("__eg")).as("__f"))
    val e = if (broadcastEval) broadcast(e0) else e0
    // probe on the 8-byte fingerprint, verify on the string: collisions
    // cost a failed comparison, never a false positive
    t.join(e, t("__f") === e("__f") && t("g") === e("__eg"))
      .groupBy(t("id").as(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** [[contaminatedDocs]] through a broadcast BLOOM prefilter — the
    * 100 TB decontamination shape when even the eval gram table is too
    * big to broadcast as a hash relation. [[contaminatedDocs]]'
    * `broadcastEval` ships every distinct eval gram string (~tens of
    * bytes each); here the train side probes a Bloom filter of the
    * 8-byte gram fingerprints instead — ~11.6 BITS per gram at the
    * default 3% fpp (Spark's sketch sizing), a ~30-50x smaller broadcast
    * — and only the surviving grams (true hits + the fpp sliver) enter
    * an ordinary shuffled equality join that kills every false positive.
    * Results are therefore IDENTICAL to [[contaminatedDocs]] (the driver
    * row replays the exact oracle), while the train corpus is never
    * shuffled beyond its surviving gram rows.
    *
    * The filter is Spark's own runtime-filter machinery
    * (`BloomFilterAggregate` build, codegen'd `BloomFilterMightContain`
    * probe — the same expressions injected by
    * `spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`), driven
    * explicitly because the optimizer's injection only triggers on
    * equi-join shapes it can see through. Spark clamps the build at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4M
    * items) / `.maxNumBits` — raise both for eval corpora beyond that.
    *
    * The eval gram table feeds two consumers (folded into the Bloom, and
    * the verify join's small side), so it is held ([[CacheScope.hold]]).
    */
  def contaminatedDocsBloom(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      tokenizer: Column => Column = identity): DataFrame = {
    graft.expressions.GraftFunctions.register(train.sparkSession)
    val e = CacheScope.hold(gramTable(eval_, idCol, textCol, n, tokenizer)
      .select(col("g").as("__eg")).distinct()
      .select(col("__eg"), TextAnalysis.fingerprintFast(col("__eg")).as("__f")))
    // index build, both eval-sized: the exact distinct-gram count sizes
    // the filter (no caller estimate to get wrong), then one aggregation
    // folds the fingerprints into the serialized sketch
    val nEval = e.count()
    val bloomBytes =
      if (nEval == 0) null
      else e.agg(call_function(graft.expressions.GraftFunctions.BloomAgg,
          col("__f"), lit(nEval)).as("bf"))
        .head().getAs[Array[Byte]](0)
    val keep: Column =
      if (bloomBytes == null) lit(false) // no eval grams -> nothing contaminated
      else call_function(graft.expressions.GraftFunctions.BloomContains,
        lit(bloomBytes), col("__f"))
    val t = gramTable(train, idCol, textCol, n, tokenizer)
      .select(col("id"), col("g"), TextAnalysis.fingerprintFast(col("g")).as("__f"))
      .where(keep)
    t.join(e, t("__f") === e("__f") && t("g") === e("__eg"))
      .groupBy(t("id").as(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Per-document corpus-wide duplication profile: of the document's
    * `n_grams` distinct word n-grams, `n_dup_grams` appear in at least one
    * OTHER document. A high dup fraction marks boilerplate/templated text
    * ("Deduplicating Training Data Makes Language Models Better" measures
    * exactly this family of statistics).
    *
    * Plan: explode grams -> fingerprint pair -> gram-frequency hash
    * aggregation (how many docs contain each gram) -> join back by the
    * pair -> per-doc count. Three shuffles, all of 16-byte keys + counts;
    * document text never moves.
    *
    * The corpus-scale gram table is held ([[CacheScope.hold]]; ADVICE
    * r13): it feeds the frequency aggregate AND the join-back with
    * different shuffle payloads, so exchange reuse cannot dedupe them —
    * un-persisted (pre-r13), the shingle explode + fingerprinting ran
    * twice per query. Outside a [[CacheScope.releasing]] scope the entry
    * lives in the session cache until `clearCache()`/unpersist.
    */
  def duplicateGramStats(
      df: DataFrame, idCol: String, textCol: String, n: Int = 5,
      tokenizer: Column => Column = identity): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    // fused pair: one char pass computes both folds (bit-identical to the
    // standalone fp/fp2 expressions — TextMultiModalSpec pin)
    val g = CacheScope.hold(df
      .select(col(idCol).as("id"),
        explode(Dedup.shinglesFast(tokenizer(col(textCol)), n)).as("g"))
      .select(col("id"),
        call_function(graft.expressions.GraftFunctions.RollingFpPair, col("g")).as("__fs"))
      .select(col("id"),
        element_at(col("__fs"), 1).as("__f1"),
        element_at(col("__fs"), 2).as("__f2")))
    // per-doc grams are distinct, so count(*) = number of docs with the gram
    val freq = g.groupBy("__f1", "__f2").agg(count(lit(1)).as("__ndocs"))
    g.join(freq, Seq("__f1", "__f2"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__ndocs") > 1, 1)).as("n_dup_grams"))
  }

  /** ExactSubstr-style duplicated-SPAN detection ("Deduplicating Training
    * Data Makes Language Models Better", Lee et al. 2022 — the suffix-
    * array dedup, re-expressed relationally): every `windowTokens`-token
    * window whose exact text occurs >= `minCount` times in the corpus
    * (counting repeats within a document, like ExactSubstr) marks its
    * token range duplicated; overlapping/adjacent duplicated windows
    * merge into maximal spans by a gaps-and-islands pass. A duplicated
    * substring of any length >= windowTokens is tiled by duplicated
    * windows, so the merged span recovers it exactly — the relational
    * equivalent of the suffix-array scan, with windowTokens as the
    * minimum match length.
    *
    * Returns one row per maximal span: (idCol, span_start, span_tokens),
    * 0-based token offsets. Docs shorter than windowTokens have no
    * windows and never report spans.
    *
    * `tokenizer` (default: identity = whitespace tokens) rewrites the
    * text before windowing — pass [[retokenize]] to run the whole
    * machinery over a regex tokenization. Span offsets then refer to
    * positions in THAT token stream, not the raw text's whitespace
    * tokens.
    *
    * Scale shape (100 TB): the corpus shuffles once as (id, pos,
    * 24-byte fp-triple) window rows — linear, the [[duplicateGramStats]]
    * topology with position kept; the frequency aggregation is map-side
    * combined; span merging is one scan-shaped window by id. No suffix
    * array, no sort of the corpus, no driver state.
    *
    * The corpus-scale window table is held ([[CacheScope.hold]]; ADVICE
    * r13): it feeds BOTH the frequency aggregate and the probe side of
    * the dup join, and the two consumers shuffle different payloads (agg
    * partials vs raw window rows), so exchange reuse cannot dedupe them:
    * un-persisted (pre-r13), the tokenizer + posexplode subtree ran
    * twice — the dominant cost when the tokenizer slot holds a learned
    * deep tokenizer (q_dup_spans_bpe_deep 3.7 s → 1.7 s at sf0.1).
    * Long-lived sessions consume the result inside
    * [[CacheScope.releasing]].
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      minCount: Long = 2,
      tokenizer: Column => Column = identity): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2 (got $windowTokens)")
    require(minCount >= 2, s"minCount must be >= 2 (got $minCount)")
    requireNoSpanClash("duplicateSpans", idCol, textCol)
    val wins = CacheScope.hold(windowTable(df, idCol, textCol, windowTokens, tokenizer))
    val freq = wins.groupBy("__f1", "__f2", "__f3").agg(count(lit(1)).as("__nocc"))
    val dup = wins
      .join(freq.where(col("__nocc") >= minCount), Seq("__f1", "__f2", "__f3"))
      .select(col("id"), col("__pos"))
    mergeIslands(dup, idCol, windowTokens)
  }

  private val SpanReserved = Seq("__pos", "__g", "__f1", "__f2", "__f3", "__nocc",
    "__new", "__isl", "__minh", "span_start", "span_tokens")

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD'03 — the
    * MOSS algorithm): per document, hash every `windowTokens`-token
    * window (the [[duplicateSpans]] fingerprint table), then keep only
    * each `winnowWindow`-consecutive-hash window's MINIMUM — the
    * distinct kept hashes are the document's fingerprint set. Output:
    * (idCol, fp) distinct rows.
    *
    * The winnowing GUARANTEE (paper §3, pinned in WinnowSpec): any
    * token run of length >= windowTokens + winnowWindow − 1 shared by
    * two documents contributes at least one SHARED fingerprint — so
    * substring-level overlap detection cannot miss long matches —
    * while expected density is only 2/(winnowWindow+1) of windows (the
    * storage/recall dial; winnowWindow = 1 keeps every window). Versus
    * [[duplicateSpans]]' exact positional table this trades
    * exact-extent localization for a ~(w+1)/2× smaller index — the
    * right half of the pair for corpus-scale CROSS-set screening.
    *
    * Scale shape: the per-token window pass is the linear
    * [[duplicateSpans]] scan; the winnow min is ONE ordered window per
    * document (same exchange class as the island merge); what leaves
    * the document is only the winnowed (id, fp) rows — 2/(w+1) of the
    * window count, 16 bytes each. The fp is the SQL-replayable __f1
    * fold ([[TextAnalysis.fingerprintSql]]) — fine for SCREENING
    * statistics (the duplicateGramStats argument); removal decisions
    * should re-verify through the span machinery's triple. */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 4,
      winnowWindow: Int = 4,
      tokenizer: Column => Column = identity): DataFrame = {
    require(winnowWindow >= 1, s"winnowWindow must be >= 1 (got $winnowWindow)")
    requireNoSpanClash("winnowFingerprints", idCol, textCol)
    val wins = windowTable(df, idCol, textCol, windowTokens, tokenizer)
    val byId = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy("__pos").rowsBetween(-(winnowWindow - 1), 0)
    wins.withColumn("__minh", min(col("__f1")).over(byId))
      .where(col("__pos") >= winnowWindow - 1) // full winnow windows only
      .select(col("id").as(idCol), col("__minh").as("fp"))
      .distinct()
  }

  /** Cross-corpus winnowing overlap — fingerprint-level contamination
    * screening ([[contaminatedSpans]]' cheap front half): (id_train,
    * id_eval, n_shared) for every train/eval pair sharing at least
    * `minShared` winnowed fingerprints. One equality join on `fp` +
    * one count aggregation; by the winnowing guarantee a pair sharing
    * any >= windowTokens + winnowWindow − 1 token run ALWAYS appears
    * at minShared = 1. Scale: the join moves the winnowed sets
    * (2/(w+1) density), never windows or text; the eval side is
    * usually the small broadcast side. */
  def winnowOverlap(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 4,
      winnowWindow: Int = 4,
      minShared: Long = 1L,
      tokenizer: Column => Column = identity): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1 (got $minShared)")
    val tf = winnowFingerprints(train, idCol, textCol, windowTokens,
      winnowWindow, tokenizer).withColumnRenamed(idCol, "id_train")
    val ef = winnowFingerprints(eval_, idCol, textCol, windowTokens,
      winnowWindow, tokenizer).withColumnRenamed(idCol, "id_eval")
    tf.join(ef, "fp")
      .groupBy(col("id_train"), col("id_eval"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  private def requireNoSpanClash(op: String, idCol: String, textCol: String): Unit = {
    val clashes = Seq(idCol, textCol).intersect(SpanReserved)
    require(clashes.isEmpty,
      s"$op reserves ${SpanReserved.mkString("/")}; rename ${clashes.mkString(", ")} in the input")
  }

  /** Positional, NON-distinct (id, __pos, __f1, __f2, __f3) window table —
    * the shared front half of the span family. The size guard (one split
    * per row) keeps short docs window-free, like
    * [[Repetition.topNgramStats]]. Window identity is the fp TRIPLE
    * (~2^90 joint space), not the statistics-grade pair: a cross-string
    * collision would DELETE non-duplicated text in the removal forms, so
    * it gets the contentKey-class collision budget (expected collisions
    * < 0.1 at 10^13 windows) while the shuffle key stays 24 bytes and
    * SQL-replayable. */
  private def windowTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      tokenizer: Column => Column): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val txt = tokenizer(col(textCol))
    val w = Dedup.tokens(txt)
    val winArr = when(size(w) >= windowTokens,
      Dedup.shinglesFast(txt, windowTokens, distinct = false))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("id"), posexplode(winArr).as(Seq("__pos", "__g")))
      .select(col("id"), col("__pos"),
        call_function(graft.expressions.GraftFunctions.RollingFpTriple, col("__g")).as("__fs"))
      .select(col("id"), col("__pos"),
        element_at(col("__fs"), 1).as("__f1"),
        element_at(col("__fs"), 2).as("__f2"),
        element_at(col("__fs"), 3).as("__f3"))
  }

  /** Gaps-and-islands merge of flagged (id, __pos) window rows into
    * maximal (idCol, span_start, span_tokens) spans: window [pos, pos+L)
    * merges with its predecessor when pos - prev <= L (overlap or
    * adjacency); the first row's NULL lag falls to the otherwise-branch
    * and opens an island. */
  private def mergeIslands(dup: DataFrame, idCol: String, windowTokens: Int): DataFrame = {
    val byId = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("__pos")
    dup
      .withColumn("__new",
        when(col("__pos") - lag("__pos", 1).over(byId) <= windowTokens, 0)
          .otherwise(1))
      .withColumn("__isl", sum("__new").over(
        byId.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("id").as(idCol), col("__isl"))
      .agg(min("__pos").cast("long").as("span_start"),
        (max("__pos") + windowTokens - min("__pos")).cast("long").as("span_tokens"))
      .drop("__isl")
  }

  /** [[duplicateSpans]] applied: appends `as` = the text with every
    * duplicated span's tokens removed (ExactSubstr's cut, applied to all
    * occurrences — the aggressive variant appropriate for training-data
    * cleaning). Docs with no spans pass through unchanged; a fully-
    * duplicated doc becomes the empty string; NULL text stays NULL.
    *
    * Plan: covered (id, pos) rows from the spans — anti-join against the
    * positional token table — per-doc ordered reassembly. All relational
    * (the per-token work stays codegen'd; only the per-DOC reassembly
    * sorts a doc-length array), one token-row shuffle — same linear
    * class as the window fingerprints.
    *
    * Id contract: `idCol` must be UNIQUE per document (the usual document
    * id). Rows sharing an id would have their token streams merged by the
    * rebuild and each receive the merged text. NULL ids are fine for a
    * single row (the join is null-safe), but two NULL-id rows collide the
    * same way duplicate ids do.
    *
    * With a non-identity `tokenizer` ([[retokenize]]), the cleaned text
    * is the single-space join of the SURVIVING tokenizer tokens — the
    * raw text's original spacing is not reconstructible once tokenized
    * (the usual contract for tokenized dedup pipelines).
    *
    * The window table is held as in [[duplicateSpans]]; the result's
    * plan reads it through the spans join, so a [[CacheScope.releasing]]
    * scope must enclose the consuming action (releasing earlier
    * recomputes it — correct, just slower). */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      minCount: Long = 2,
      as: String = "clean_text",
      tokenizer: Column => Column = identity): DataFrame = {
    require(!df.columns.contains(as),
      s"removeDuplicateSpans output column `$as` collides with input")
    val spans = duplicateSpans(df, idCol, textCol, windowTokens, minCount, tokenizer)
    cutSpans(df, idCol, textCol, spans, as, tokenizer)
  }

  /** Shared back half of the removal forms: cut every (idCol, span_start,
    * span_tokens) span out of `df`'s text — anti-join covered token
    * positions against the positional token table, per-doc ordered
    * reassembly, null-safe join back (see [[removeDuplicateSpans]]'s id
    * contract). */
  private def cutSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame,
      as: String,
      tokenizer: Column => Column): DataFrame = {
    val covered = spans.select(col(idCol).as("id"),
      explode(sequence(col("span_start"),
        col("span_start") + col("span_tokens") - 1)).as("__pos"))
    val toks = df.select(col(idCol).as("id"),
      posexplode(Dedup.tokens(tokenizer(col(textCol)))).as(Seq("__pos", "__t")))
    val rebuilt = toks
      .join(covered, Seq("id", "__pos"), "left_anti")
      .groupBy(col("id").as("__rid"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__t")))),
          x => x.getField("__t")), " ").as("__clean"))
    df.join(rebuilt, df(idCol) <=> rebuilt("__rid"), "left")
      .withColumn(as,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__clean"), lit(""))))
      .drop("__rid", "__clean")
  }

  /** Span-level decontamination (detection half): maximal token ranges of
    * TRAIN documents that are tiled by `windowTokens`-token windows whose
    * exact text occurs anywhere in the EVAL corpus — [[duplicateSpans]]'
    * cross-corpus twin, and the span-granularity complement of
    * [[contaminatedDocs]] (which flags whole documents on any shared
    * n-gram; this localizes WHERE the overlap sits, so the document's
    * clean remainder survives — the GPT-3 appendix-C shape, where
    * contaminated training documents had the overlapping substrings
    * removed rather than being dropped whole).
    *
    * Same window/island machinery as [[duplicateSpans]]: a shared
    * substring of length >= windowTokens is tiled by shared windows, so
    * the merged span recovers it exactly, with windowTokens as the
    * minimum match length. Eval docs shorter than windowTokens contribute
    * no windows and are invisible to the span check (use
    * [[contaminatedDocs]]' whole-short-doc-gram fallback for those).
    * Returns one row per maximal span: (idCol, span_start, span_tokens),
    * 0-based offsets in `tokenizer`'s token stream.
    *
    * Scale shape (100 TB): train shuffles once as (id, pos, 24-byte
    * fp-triple) window rows; the eval side collapses to its DISTINCT
    * window triples (24 bytes per distinct window, text never kept) and
    * is left-semi-joined — `broadcastEval = true` pins that set broadcast
    * (the standard decontamination shape: huge train, eval-sized eval),
    * so train windows are probed in place; the island merge is the same
    * per-doc scan as [[duplicateSpans]]. The fp TRIPLE carries the
    * destructive-op collision budget because [[removeContaminatedSpans]]
    * deletes matched text. */
  def contaminatedSpans(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      broadcastEval: Boolean = false,
      tokenizer: Column => Column = identity): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2 (got $windowTokens)")
    requireNoSpanClash("contaminatedSpans", idCol, textCol)
    val wins = windowTable(train, idCol, textCol, windowTokens, tokenizer)
    val evalWins0 = windowTable(eval_, idCol, textCol, windowTokens, tokenizer)
      .select("__f1", "__f2", "__f3").distinct()
    val evalWins = if (broadcastEval) broadcast(evalWins0) else evalWins0
    val dup = wins
      .join(evalWins, Seq("__f1", "__f2", "__f3"), "left_semi")
      .select(col("id"), col("__pos"))
    mergeIslands(dup, idCol, windowTokens)
  }

  /** [[contaminatedSpans]] applied: appends `as` = the train text with
    * every eval-overlapping span's tokens removed (all occurrences).
    * Same contracts as [[removeDuplicateSpans]]: docs with no spans pass
    * through unchanged, a fully-contaminated doc becomes the empty
    * string, NULL text stays NULL, `idCol` must be unique non-null (the
    * rebuild join is null-safe for a single NULL id), and with a
    * non-identity `tokenizer` the cleaned text is the single-space join
    * of surviving tokenizer tokens. */
  def removeContaminatedSpans(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      broadcastEval: Boolean = false,
      as: String = "clean_text",
      tokenizer: Column => Column = identity): DataFrame = {
    require(!train.columns.contains(as),
      s"removeContaminatedSpans output column `$as` collides with input")
    cutSpans(train, idCol, textCol,
      contaminatedSpans(train, eval_, idCol, textCol, windowTokens,
        broadcastEval, tokenizer),
      as, tokenizer)
  }
}
