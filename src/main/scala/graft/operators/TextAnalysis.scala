package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines — additions
  * beyond the reference's surface (BASELINE.json north_star; SURVEY §2.8).
  *
  * All operators are pure Column expressions (whole-stage codegen, no
  * UDFs), embarrassingly parallel per document — the only shuffles are the
  * final grouped aggregations, which reduce to a handful of rows. Per-doc
  * metrics are kept *integer-valued* and only divided once after the
  * grouped sums: integer sums are exact and order-independent, so results
  * are bit-identical across partitionings and engines (cf. the
  * decimal-exact engine in [[Agg.exactScale]]).
  */
object TextAnalysis {

  /** Whitespace tokens (single-space-separated corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** Tokens by regex pattern match (a BPE-ish "word pieces or single
    * symbol" default): letter runs, digit runs, or any single
    * non-alphanumeric non-space symbol. */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def tokensRegex(text: Column, pattern: String = BpeishPattern): Column =
    regexp_extract_all(text, lit(pattern), lit(0))

  /** Small function-word list present in the corpus vocabulary; used for
    * stopword ratios and quality scoring. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  def stopwordHits(toks: Column): Column =
    size(filter(toks, t => t.isin(Stopwords: _*)))

  /** Sum of token lengths (chars in tokens, excluding separators). */
  def tokenChars(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  /** Language-ID marker words: tiny per-language function-word lists (the
    * classic stopword-profile heuristic; an n-gram profile is the same
    * plan shape with [[tokensRegex]] n-grams as features). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "que"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  /** Predicted language: arg-max of marker-word hit counts, ties broken by
    * alphabetical language order, all-zero scores -> "und" (undetermined).
    * Deterministic by construction so an oracle can replay it. */
  def langId(toks: Column): Column =
    argmaxLang(LangMarkers.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    })

  /** Distinct character n-grams of a string (1-based substr windows). */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** Tiny per-language char-trigram profiles — the classic n-gram-profile
    * language-ID heuristic (a real system learns these from corpora; the
    * literals keep the operator deterministic and oracle-replayable). */
  val LangNgramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("sch", "der", "ein", "ich", "und"),
    "en" -> Seq("the", "ing", "ion", "and", "ent"),
    "es" -> Seq("cio", "que", "ado", "los", "nte"),
    "fr" -> Seq("les", "ent", "que", "ion", "eur"),
    "zh" -> Seq("zho", "ang", "eng", "ian", "uan"))

  /** Language ID by char-trigram-profile overlap: arg-max of
    * |doc trigrams ∩ profile|, same tie-break contract as [[langId]].
    *
    * Computed as substring containment, not set intersection: a profile
    * gram is in the doc's (distinct) trigram set iff the text contains it,
    * so the score is 5 native `Contains` tests per language — no per-row
    * gram-array materialization (the [[charNgrams]] form allocated one
    * substring per character per row; measured 1.85 s -> ~0.2 s on the
    * sf0.1 corpus). Identical results, incl. texts shorter than 3 chars
    * (their padded short grams can never equal a 3-char profile gram). */
  def langIdNgram(text: Column): Column =
    // NULL text stays NULL (matching the gram-set form, where a NULL gram
    // array nulls every score) — without the guard, contains(NULL)->NULL
    // would fold to all-zero scores and mislabel NULL rows as "und"
    when(text.isNotNull,
      argmaxLang(LangNgramProfiles.map { case (lang, profile) =>
        lang -> profile.map(g => when(text.contains(lit(g)), 1).otherwise(0)).reduce(_ + _)
      }))

  private def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }
  }

  /** Per-document top-k distinctive terms by tf-idf — the classic
    * keyword-extraction / relevance shape (inverted-index statistics as
    * relational aggregations). Returns (idCol, rank, term, tf, df_docs,
    * score) with rank 1..k per document, ordered by score descending,
    * ties broken by term ascending.
    *
    * Determinism contract: idf is QUANTIZED before scoring —
    * round(ln(N/df), 6) held as decimal(18,6) — so the ranking compares
    * exact decimals, not raw doubles: a sub-ulp difference in two
    * engines' `ln` can never reorder ranks (the residual risk is a term
    * whose idf lands within an ulp of a 1e-6 rounding boundary —
    * measure-zero, same budget as the rolling-moment rounding).
    *
    * Scale shape: (id, term) explode with map-side-combined counts (the
    * inverted-index shuffle), a vocabulary-sized term-frequency join
    * (AQE broadcasts it when small), and a per-document window whose
    * partitions are each document's OWN distinct-term set — bounded by
    * document length, never corpus-sized. `nDocs` passes a known corpus
    * size to skip the count() scan (the planes/dim convention in
    * [[Similarity]]); by default one count() runs — a bounded scalar,
    * the index-build framing. */
  def tfidfTopK(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      nDocs: Long = -1L): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"tfidfTopK needs k >= 1 (got $k)")
    val n = if (nDocs > 0) nDocs else df.count()
    val tf = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("__id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val idfQ = round(log(lit(n.toDouble) / col("df_docs")), 6)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__score").desc, col("term"))
    tf.join(dfT, "term")
      .withColumn("__score", idfQ * col("tf"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("__id").as(idCol), col("rank"), col("term"), col("tf"),
        col("df_docs"), col("__score").cast("double").as("score"))
  }

  /** Gopher/MassiveText document-quality rule flags (Rae et al. 2021,
    * appendix A — the standard heuristic pre-filter of large-scale text
    * curation), appended as one boolean column per rule plus the
    * conjunction `gopher_pass`:
    *
    *   - `gopher_words`:    minWords <= word count <= maxWords
    *   - `gopher_mean_len`: mean word length in [3, 10] chars
    *   - `gopher_symbol`:   symbol-to-word ratio (# or ...) < 0.1
    *   - `gopher_alpha`:    > 80% of words contain an alphabetic char
    *   - `gopher_stopword`: >= 2 hits from the tiny [[Stopwords]] list
    *     (the paper requires 2 of its own function-word list)
    *
    * Every ratio threshold is evaluated as an exact integer
    * cross-multiplication (3n <= chars <= 10n; 10*symbols < n;
    * 5*alpha > 4n) — no floating point anywhere, so any SQL engine
    * replays the flags bit-for-bit. NULL text yields NULL flags.
    * The repetition-based Gopher rules (duplicate line/top-gram
    * fractions) live in [[Repetition]] — corpus-level statistics, not
    * per-row expressions. */
  def gopherFlags(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000): org.apache.spark.sql.DataFrame = {
    val outs = Seq("gopher_words", "gopher_mean_len", "gopher_symbol",
      "gopher_alpha", "gopher_stopword", "gopher_pass")
    val clashes = df.columns.toSeq.intersect(outs)
    require(clashes.isEmpty,
      s"gopherFlags output columns collide with input: ${clashes.mkString(", ")}")
    val t = col(textCol)
    val w = tokens(t)
    val n = size(w).cast("long")
    val chars = tokenChars(w)
    val symbols = regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))
    val alphaWords = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
    df.withColumn("gopher_words", n >= minWords && n <= maxWords)
      .withColumn("gopher_mean_len", lit(3) * n <= chars && chars <= lit(10) * n)
      .withColumn("gopher_symbol", lit(10) * symbols.cast("long") < n)
      .withColumn("gopher_alpha", lit(5) * alphaWords > lit(4) * n)
      .withColumn("gopher_stopword", stopwordHits(w).cast("long") >= 2)
      .withColumn("gopher_pass",
        col("gopher_words") && col("gopher_mean_len") && col("gopher_symbol")
          && col("gopher_alpha") && col("gopher_stopword"))
  }

  /** Oracle-SQL twin of [[gopherFlags]] — one fragment per flag over the
    * raw text expression and its split token array, single-sourced like
    * [[qualityScoreSql]] so the two sides cannot drift. */
  def gopherFlagsSql(textExpr: String, wExpr: String,
      minWords: Int = 50, maxWords: Int = 100000): Seq[(String, String)] = {
    val n = s"len($wExpr)"
    val chars = s"list_sum(list_transform($wExpr, t -> len(t)))"
    val symbols = (s"(len(regexp_extract_all($textExpr, '#'))"
      + s" + len(regexp_extract_all($textExpr, '\\.\\.\\.')))")
    val alpha = s"len(list_filter($wExpr, t -> regexp_matches(t, '[a-z]')))"
    Seq(
      "gopher_words"    -> s"($n >= $minWords AND $n <= $maxWords)",
      "gopher_mean_len" -> s"(3 * $n <= $chars AND $chars <= 10 * $n)",
      "gopher_symbol"   -> s"(10 * $symbols < $n)",
      "gopher_alpha"    -> s"(5 * $alpha > 4 * $n)",
      "gopher_stopword" -> s"(${markerHitsSql(Stopwords, wExpr)} >= 2)")
  }

  /** Integer quality score in [0, 1000]: 600 points for a healthy
    * stopword ratio (clipped at 20%, scaled x5 up to full marks) plus 400
    * points for length (clipped at 400 chars). Integer arithmetic end to
    * end -> exact, engine-independent. A real pipeline swaps in its own
    * weights; the *shape* (score -> uniform bins -> grouped counts) is
    * what matters at scale. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val swPart  = least(floor(lit(600L) * stopwordHits(toks) * 5 / size(toks)), lit(600L))
    val lenPart = least(length(text).cast("long"), lit(400L))
    (swPart + lenPart).cast("long")
  }

  /** Oracle-SQL twin of [[stopwordHits]] (generic over any marker word
    * list) over a pre-split token-array SQL expression — one source for
    * both sides so they cannot drift (the [[fingerprintSql]] convention). */
  def markerHitsSql(words: Seq[String], wExpr: String): String =
    s"len(list_filter($wExpr, x -> list_contains([${words.map("'" + _ + "'").mkString(",")}], x)))"

  /** Oracle-SQL twin of [[qualityScore]]: `textExpr` is the raw string
    * expression, `wExpr` its split token array. */
  def qualityScoreSql(textExpr: String, wExpr: String): String =
    (s"least(floor(600*${markerHitsSql(Stopwords, wExpr)}*5 / len($wExpr)), 600)"
      + s" + least(len($textExpr), 400)")

  /** Rolling polynomial fingerprint over code points:
    * h = fold(h * 31 + codepoint) mod 1e9+7. Every intermediate stays
    * below 2^35, so the fold is exact; unlike xxhash64 this is
    * replayable in any SQL engine (the oracle recomputes it,
    * [[fingerprintSql]]), and it is the standard rolling-hash building
    * block for content-defined chunking. A native codegen loop
    * ([[graft.expressions.RollingFingerprint]]) that reads code points
    * directly — cheap enough for hot paths that hash every token
    * (SimHash). Requires [[graft.expressions.GraftFunctions.register]]
    * on the session. */
  def fingerprintFast(text: Column): Column =
    call_function(graft.expressions.GraftFunctions.RollingFp, text)

  /** The same fold as [[fingerprintFast]], emitted as DuckDB oracle SQL over
    * an arbitrary string expression — one source for both sides so they
    * cannot drift (the [[Sampling.bucketSql]] convention). */
  def fingerprintSql(expr: String): String =
    ("list_reduce(list_prepend(0::BIGINT,"
      + s" list_transform(string_split($expr, ''), c -> ascii(c)::BIGINT)),"
      + " (a, b) -> (a * 31 + b) % 1000000007)")

  /** fastText-style hashed bigram bag (Joulin, Grave, Bojanowski &
    * Mikolov, "Bag of Tricks for Efficient Text Classification", EACL
    * 2017 §2: n-gram features hashed into a fixed bucket table) — the
    * feature map of the production quality classifiers (the
    * DCLM/FineWeb-Edu shape): VOCABULARY-FREE, so the feature space is
    * fixed at `buckets` regardless of corpus size; no fit pass, no
    * driver state, no OOV handling. Returns `buckets` integer count
    * columns — x_h = how many of the document's token bigrams hash to
    * bucket h under the [[fingerprintFast]] rolling fold mod `buckets` —
    * ready to feed [[FeatureScaling.logisticFit]] as (count, divisor)
    * pairs (integer-raw, so the fit's gradient sums stay exact and the
    * oracle replays the fold + bucket + fit bit for bit; xxhash64
    * would not replay). Docs with <2 tokens (or NULL text) get all-zero
    * counts. Row-local array lambdas — zero shuffle, zero UDF; the
    * per-bigram fold is the NATIVE [[fingerprintFast]] loop (requires
    * [[graft.expressions.GraftFunctions.register]] on the session —
    * the HOF fold interpreted one lambda per CHARACTER and cost ~40×
    * on the sf0.1 fit, BENCH_NOTES r12 receipt).
    *
    * Each returned column embeds its own copy of the bucket-array
    * expression, so a SELECT of all `buckets` counts re-hashes every
    * bigram `buckets` times — fine for micro-batch scoring; a FIT over
    * a corpus should project [[hashedBigramBuckets]] once and derive
    * the counts from that column ([[hashedCountsFrom]]) — Catalyst
    * does not collapse the two projections because the array alias is
    * non-cheap and referenced `buckets` times. */
  def hashedBigramCounts(text: Column, buckets: Int): Seq[Column] =
    hashedCountsFrom(hashedBigramBuckets(text, buckets), buckets)

  /** The per-bigram bucket array of [[hashedBigramCounts]]: bucket =
    * [[fingerprintFast]](w_i ++ " " ++ w_{i+1}) mod `buckets` for every
    * adjacent token pair; empty for <2-token/NULL docs.
    *
    * Built with `zip_with(w, shift(w))`, NOT the index-lambda
    * `transform(sequence(...), i => element_at(w, i+1)...)` form: a
    * lambda BODY referencing `w` re-evaluates the split per ELEMENT
    * (HOFs interpret their lambda subtree on every element — the
    * reason [[LanguageModel]]'s transitions() projects the token array
    * before exploding), turning a 54-token doc into ~108 re-splits per
    * row; zip_with evaluates both array arguments once per ROW and
    * hands the lambda bound element values (measured 6× on the sf0.1
    * fit, BENCH_NOTES r12 receipt). The zip pads the shifted side with
    * one trailing null → one null gram, filtered before hashing. */
  def hashedBigramBuckets(text: Column, buckets: Int): Column = {
    require(buckets >= 2 && buckets <= 64,
      s"buckets must be in [2, 64] (got $buckets)")
    val w = tokens(text)
    val grams = zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val hs = transform(filter(grams, g => g.isNotNull),
      g => fingerprintFast(g) % buckets)
    coalesce(hs, typedlit(Seq.empty[Long]))
  }

  /** Per-bucket counts from a (projected) [[hashedBigramBuckets]]
    * column — the fit-side form: hash once per bigram, count from the
    * small in-memory array. */
  def hashedCountsFrom(bucketArr: Column, buckets: Int): Seq[Column] =
    (0 until buckets).map(h =>
      size(filter(bucketArr, x => x === h)).cast("long").as(s"xh$h"))

  /** DuckDB twin of [[hashedBigramCounts]]'s per-bigram bucket: the
    * [[fingerprintSql]] fold mod `buckets` over a bigram expression. */
  def hashedBigramBucketSql(gramExpr: String, buckets: Int): String =
    s"(${fingerprintSql(gramExpr)}) % $buckets"

  /** Oracle SQL for the second independent rolling fold — base 131
    * modulo the prime 998244353 (~2^30, so acc*131 + 255 < 2^37:
    * exact). Paired with [[fingerprintFast]] it forms a ~2^60 joint key
    * space over two independent moduli (the fused
    * `graft_rolling_fp_pair`); [[NgramOverlap.duplicateGramStats]]
    * shuffles the pair instead of gram strings, with cross-string
    * collisions negligible at any corpus size (the [[Dedup.contentKey]]
    * argument) — and unlike xxhash64 both folds replay exactly in
    * oracle SQL. */
  def fingerprint2Sql(expr: String): String =
    ("list_reduce(list_prepend(0::BIGINT,"
      + s" list_transform(string_split($expr, ''), c -> ascii(c)::BIGINT)),"
      + " (a, b) -> (a * 131 + b) % 998244353)")

  /** Oracle SQL for the third independent rolling fold — base 257
    * modulo the prime 1,000,000,009 (acc*257 + 255 < 2^39: exact). The
    * fp pair's ~2^60 joint space is fine for STATISTICS
    * (duplicateGramStats), but an operator that DELETES text on a match
    * ([[NgramOverlap.duplicateSpans]]) wants the triple
    * (`graft_rolling_fp_triple`): ~2^90 joint space puts expected
    * cross-string collisions below 0.1 even at 10^13 windows — the
    * [[Dedup.contentKey]] argument — while keeping the shuffle key 24
    * bytes and every fold SQL-replayable. */
  def fingerprint3Sql(expr: String): String =
    ("list_reduce(list_prepend(0::BIGINT,"
      + s" list_transform(string_split($expr, ''), c -> ascii(c)::BIGINT)),"
      + " (a, b) -> (a * 257 + b) % 1000000009)")

  /** Split documents into fixed-token-budget chunks — the context-window
    * preparation step of an embedding/indexing pipeline (each chunk goes
    * to the encoder independently). One output row per chunk:
    * the input columns (minus the text unless `keepText`) plus
    * `<as>_idx` (0-based) and `<as>` (the chunk text, `maxTokens`
    * whitespace tokens except the final remainder).
    *
    * Pure expression + posexplode: the chunk array is built from
    * `slice`s of the token array (O(chunks) slice evaluations per row —
    * chunks are few, unlike the per-gram case that needed
    * [[graft.expressions.WordNgrams]]), so the operator is
    * embarrassingly parallel with zero shuffle. Token boundaries only —
    * re-joining chunks with single spaces reproduces the document.
    * Rows with a NULL text produce no chunks (generator semantics),
    * like NULL-text docs in the gram operators. */
  def chunkText(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      maxTokens: Int,
      as: String = "chunk",
      keepText: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1 (got $maxTokens)")
    val idxCol = s"${as}_idx"
    val clashes = df.columns.toSeq.intersect(Seq(as, idxCol))
    require(clashes.isEmpty,
      s"chunkText emits $as/$idxCol; rename ${clashes.mkString(", ")} in the input")
    val w = tokens(col(textCol))
    val nChunks = ceil(size(w).cast("double") / maxTokens).cast("int")
    val chunks = transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1),
      i => array_join(slice(w, i * maxTokens + 1, lit(maxTokens)), " "))
    val keep = df.columns.toSeq.filterNot(c => !keepText && c == textCol).map(col)
    df.select(keep :+ posexplode(chunks).as(Seq(idxCol, as)): _*)
  }

  /** Overlapping context windows — the RAG-chunking convention
    * ([[chunkText]] with a stride): windows of `maxTokens` tokens start
    * every `stride` tokens, so consecutive chunks share
    * maxTokens − stride tokens of context and no retrieval boundary
    * splits a fact. The start count is exact integer arithmetic
    * (1 + ceildiv(max(0, len − maxTokens), stride)), so any engine
    * replays the chunk set; the final window may be shorter. Same
    * generator semantics as [[chunkText]]: one array transform +
    * posexplode, NULL text emits nothing, appends (`as`_idx, `as`). */
  def chunkTextOverlap(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      maxTokens: Int,
      stride: Int,
      as: String = "chunk",
      keepText: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1 (got $maxTokens)")
    require(stride >= 1 && stride <= maxTokens,
      s"stride must be in [1, maxTokens] (got $stride, maxTokens=$maxTokens)")
    val idxCol = s"${as}_idx"
    val clashes = df.columns.toSeq.intersect(Seq(as, idxCol))
    require(clashes.isEmpty,
      s"chunkTextOverlap emits $as/$idxCol; rename ${clashes.mkString(", ")} in the input")
    val w = tokens(col(textCol))
    // when() guard: greatest() SKIPS nulls, so a NULL text would
    // otherwise yield one null chunk instead of no rows
    val nStarts = when(size(w).isNotNull, lit(1) +
      (greatest(size(w) - maxTokens, lit(0)) + (stride - 1)) / stride)
    val chunks = transform(sequence(lit(0), nStarts.cast("int") - 1),
      i => array_join(slice(w, i * stride + 1, lit(maxTokens)), " "))
    val keep = df.columns.toSeq.filterNot(c => !keepText && c == textCol).map(col)
    df.select(keep :+ posexplode(chunks).as(Seq(idxCol, as)): _*)
  }

  /** Quantized natural log: round(ln(x), 6) as decimal(18,6) — the
    * [[tfidfTopK]] determinism convention. All downstream sums/products
    * over the quantized values ride exact decimal arithmetic, so two
    * engines agree bit-for-bit unless a raw ln lands within an ulp of a
    * rounding boundary (documented accepted risk, same as idf). */
  private[operators] def lnQ(x: Column): Column =
    round(log(x), 6).cast(org.apache.spark.sql.types.DecimalType(18, 6))

  /** Per-document Shannon token entropy (nats) — the information-density
    * quality signal (near-zero entropy = degenerate repetition, the
    * Gopher/MassiveText boilerplate shape; natural text sits in a
    * mid-range band). Returns (idCol, n_tokens, n_distinct, entropy)
    * with entropy = ln(n) - (1/n) * sum_t c_t ln(c_t) over the doc's
    * token counts c_t; single-token docs report NULL entropy (no
    * distribution to measure; a constant doc reports 0). NULL-text docs
    * DROP — they are absent from the output entirely (the explode over
    * their empty token set emits no rows), the unigramLogLoss
    * convention; left-join the input ids back if NULL rows are wanted.
    *
    * Determinism: each ln is quantized ([[lnQ]]); the weighted sum is an
    * exact decimal; the one IEEE step is the final subtract/divide of
    * exactly-represented doubles, identical in any engine. Plan: explode
    * -> (id, token) hash count -> per-doc hash agg — two map-side
    * combined shuffles of token-count rows, text never moves past the
    * first explode. */
  def tokenEntropy(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tc = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("__t"))
      .groupBy("__id", "__t").agg(count(lit(1)).as("__c"))
    tc.groupBy(col("__id").as(idCol)).agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c").cast(org.apache.spark.sql.types.DecimalType(18, 6)) * lnQ(col("__c")))
          .as("__s"))
      .withColumn("entropy",
        when(col("n_tokens") >= 2,
          lnQ(col("n_tokens")).cast("double")
            - col("__s").cast("double") / col("n_tokens").cast("double")))
      .drop("__s")
  }

  /** Per-document cross-entropy (nats/token) under the corpus's own
    * unigram MLE — the SQL-expressible analog of CCNet's LM-perplexity
    * quality filter: loss_d = (1/n_d) * sum over the doc's token
    * occurrences of ln(N / c_t), where c_t is the token's corpus-wide
    * occurrence count and N the corpus token total. High loss = rare
    * vocabulary (noise, junk, or genuinely novel text); low = stock
    * phrasing. Returns (idCol, n_tokens, unigram_loss); NULL-text docs
    * drop (no occurrences).
    *
    * Same determinism scheme as [[tokenEntropy]] (quantized lns, exact
    * decimal weighted sum, one IEEE finalize). Plan: the corpus unigram
    * table is a token-vocabulary hash agg; its grand total joins on as a
    * one-row broadcast; doc rows probe the vocabulary by token — all
    * map-side combined, no data-sized driver state. */
  def unigramLogLoss(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("__t"))
    val corpus = tok.groupBy("__t").agg(count(lit(1)).as("__ct"))
    val total = corpus.agg(sum(col("__ct")).as("__n"))
    val tc = tok.groupBy("__id", "__t").agg(count(lit(1)).as("__c"))
    tc.join(corpus, "__t")
      .groupBy(col("__id").as(idCol)).agg(
        sum(col("__c")).as("n_tokens"),
        sum(col("__c").cast(org.apache.spark.sql.types.DecimalType(18, 6)) * lnQ(col("__ct")))
          .as("__s"))
      .crossJoin(broadcast(total))
      .withColumn("unigram_loss",
        lnQ(col("__n")).cast("double")
          - col("__s").cast("double") / col("n_tokens").cast("double"))
      .drop("__s", "__n")
  }

  /** Per-document cross-entropy (nats/transition) under a
    * Jelinek-Mercer-interpolated BIGRAM MLE fit on the corpus itself —
    * the [[unigramLogLoss]] quality filter with one token of context:
    * boilerplate scores even lower (stock transitions), shuffled/
    * garbled text scores higher than the unigram filter can see
    * (plausible words, implausible sequence).
    *
    *   p(w_i | w_{i-1}) = λ·c(w_{i-1}w_i)/c(w_{i-1}) + (1−λ)·c(w_i)/N
    *   loss_d = −(1/(n_d−1)) · Σ_{i=2..n_d} lnQ(p(w_i | w_{i-1}))
    *
    * λ = 0.75; single-token and NULL-text docs have no transitions and
    * are absent (the [[unigramLogLoss]] convention). Interpolation with
    * the unigram term means unseen bigrams never hit ln(0) as long as
    * every token occurs somewhere — true when the model is fit on the
    * scored corpus itself.
    *
    * Determinism: each transition probability is one fixed-shape IEEE
    * expression over exact integer counts, ln-quantized ([[lnQ]]) and
    * summed as exact decimals — [[bigramLogLossSql]] mirrors it
    * bit-for-bit. Plan shape: transition rows (adjacent-token structs
    * via one array transform, no self-join) probe two vocabulary-sized
    * count tables (bigram, unigram) — map-side-combined shuffles; N is
    * a one-row broadcast. */
  def bigramLogLoss(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1) (got $lambda)")
    val trans = df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__w"))
      .where(size(col("__w")) >= 2)
      .select(col("__id"), explode(transform(
        sequence(lit(0), size(col("__w")) - 2),
        i => struct(element_at(col("__w"), i + 1).as("p"),
          element_at(col("__w"), i + 2).as("c")))).as("__t"))
      .select(col("__id"), col("__t.p").as("__p"), col("__t.c").as("__c"))
    val uni = df.select(explode(tokens(col(textCol))).as("__u"))
      .groupBy("__u").agg(count(lit(1)).as("__cu"))
    val total = uni.agg(sum(col("__cu")).as("__n"))
    val bi = trans.groupBy(col("__p").as("__bp"), col("__c").as("__bc"))
      .agg(count(lit(1)).as("__cb"))
    val p = lit(lambda) * (col("__cb").cast("double") / col("__cup").cast("double")) +
      lit(1.0 - lambda) * (col("__cuc").cast("double") / col("__n").cast("double"))
    trans
      .join(bi, col("__p") === col("__bp") && col("__c") === col("__bc"))
      .join(uni.select(col("__u").as("__pu"), col("__cu").as("__cup")),
        col("__p") === col("__pu"))
      .join(uni.select(col("__u").as("__cu2"), col("__cu").as("__cuc")),
        col("__c") === col("__cu2"))
      .crossJoin(broadcast(total))
      .select(col("__id"), lnQ(p).as("__lp"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_trans"), sum(col("__lp")).as("__s"))
      .withColumn("bigram_loss",
        -(col("__s").cast("double")) / col("n_trans").cast("double"))
      .drop("__s")
  }

  /** DuckDB twin of [[bigramLogLoss]] — same λ literal, same count
    * ratios, same quantized-ln decimal sum. */
  def bigramLogLossSql(idExpr: String, textExpr: String, table: String,
      lambda: Double = 0.75): String =
    (s"WITH d AS (SELECT $idExpr AS id, string_split($textExpr, ' ') AS w FROM $table"
      + s" WHERE $textExpr IS NOT NULL),"
      + " tr AS (SELECT id, unnest([w[i] for i in range(1, len(w))]) AS p,"
      + " unnest([w[i+1] for i in range(1, len(w))]) AS c FROM d WHERE len(w) >= 2),"
      + s" uni AS (SELECT unnest(w) AS u FROM d),"
      + " uc AS (SELECT u, count(*)::BIGINT AS cu FROM uni GROUP BY 1),"
      + " tot AS (SELECT sum(cu)::BIGINT AS n FROM uc),"
      + " bc AS (SELECT p, c, count(*)::BIGINT AS cb FROM tr GROUP BY 1, 2),"
      + " sc AS (SELECT tr.id,"
      + s" round(ln($lambda * (bc.cb::DOUBLE / up.cu::DOUBLE)"
      + s" + ${1.0 - lambda} * (uc2.cu::DOUBLE / (SELECT n FROM tot)::DOUBLE)), 6)::DECIMAL(18,6) AS lp"
      + " FROM tr JOIN bc ON tr.p = bc.p AND tr.c = bc.c"
      + " JOIN uc up ON tr.p = up.u JOIN uc uc2 ON tr.c = uc2.u)"
      + " SELECT id AS " + idExpr + ", count(*)::BIGINT AS n_trans,"
      + " -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS bigram_loss"
      + " FROM sc GROUP BY 1 ORDER BY 1")

  /** DSIR-style importance weights (the hashed-n-gram data-selection
    * recipe published as "Data Selection for Language Models via
    * Importance Resampling"): fit unigram bag-of-words models for a
    * TARGET slice and the BACKGROUND corpus over `buckets` hashed
    * feature bins (add-one smoothing), then score every background
    * document with the sum of its tokens' log-likelihood ratios
    * ln p_target(bin) − ln p_background(bin). High scores = documents
    * that look like the target distribution — the standard pretraining
    * data-selection signal; feed the weights to [[Sampling]] for the
    * resampling step.
    *
    * Determinism contract: bins come from the replayable rolling
    * fingerprint ([[fingerprintFast]] % buckets — non-negative by
    * construction), each ln is quantized to the decimal(18,6) grid
    * (the tf-idf convention), and the per-doc score is an EXACT decimal
    * sum of quantized ratios, finalized to double once.
    *
    * Scale shape: the ratio table is `buckets` rows — broadcast; token
    * rows shuffle once for the per-doc sum; corpus totals are a 1-row
    * broadcast cross-join. Nothing is driver-side.
    *
    * Requires [[graft.expressions.GraftFunctions.register]] on the
    * session (fingerprintFast).
    *
    * Output: one row per background doc — (idCol, n_tokens,
    * dsir_score). NULL-text docs produce no tokens and are absent.
    */
  /** Canonical text normalization for identity purposes — the step every
    * curation pipeline runs BEFORE exact/near dedup so trivial variants
    * (case, runs of whitespace, edge padding) collapse to one identity:
    * lowercase, collapse `\s+` to single spaces, trim. Pure codegen
    * (lower/regexp_replace/trim), zero shuffle; the regex is in the
    * Java∩RE2 subset ([[Pii]] convention) so any engine replays it.
    * Unicode canonicalization is deliberately NOT folded in here (the
    * corpus contract is byte-oriented); corpora that mix composed and
    * decomposed encoders compose this with [[nfcNormalize]] (the
    * dedicated `graft_nfc` Expression). NULL text stays NULL. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** DuckDB twin of [[normalizeText]]. */
  def normalizeTextSql(expr: String): String =
    s"trim(regexp_replace(lower($expr), '\\s+', ' ', 'g'))"

  /** Unicode NFC canonicalization (UAX #15) — the
    * [[graft.expressions.NfcNormalize]] native expression as a Column:
    * composed and decomposed encodings of the same abstract character
    * (é vs e + combining acute) are different BYTE strings to every
    * fingerprint/dedup/join key, so a corpus mixing encoders leaks
    * duplicate identities through exact dedup; NFC collapses them to
    * the canonical composed form. Compose with [[normalizeText]] for
    * full identity normalization (`normalizeText(nfcNormalize(text))`).
    * Requires [[graft.expressions.GraftFunctions.register]]; the
    * oracle replays via DuckDB's `nfc_normalize` (same UAX #15). */
  def nfcNormalize(text: Column): Column =
    call_function(graft.expressions.GraftFunctions.Nfc, text)

  /** DuckDB twin of [[nfcNormalize]]. */
  def nfcNormalizeSql(expr: String): String =
    s"nfc_normalize($expr)"

  /** BM25 top-k retrieval (Robertson/Okapi, the Lucene `1 + …` idf
    * variant) of the documents best matching a literal query-term set —
    * the keyword-search/relevance-scoring half of a curation stack
    * (e.g. pulling topical slices out of a 100 TB corpus by query).
    *
    * score(d) = Σ_t idf_t · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))
    * with k1 = 1.2, b = 0.75, idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)).
    *
    * Scale shape: `queryTerms` is a small literal set, so per-doc term
    * frequencies are PROJECTIONS (`size(filter(tokens, = term))`) — no
    * explode, no inverted-index shuffle; corpus stats (N, Σdl, df_t) are
    * ONE global aggregation reduced map-side to a single broadcast row;
    * the final top-k is orderBy+limit = per-partition TakeOrdered + a
    * k-row merge. Nothing data-sized moves.
    *
    * Determinism contract: idf is quantized to the decimal(18,6) grid
    * ([[lnQ]] convention) and each per-term score is quantized before the
    * exact decimal sum, so engines agree bit-for-bit; ties rank by id.
    * NULL-text docs drop; docs matching no term drop ([[bm25Sql]]
    * replays both). */
  def bm25TopK(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"bm25TopK needs k >= 1 (got $k)")
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be a non-empty distinct list")
    require(queryTerms.forall(t => t.nonEmpty && !t.contains(" ")),
      "queryTerms must be single whitespace-free tokens")
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    val baseCols = Seq(col("__id"), size(col("__w")).cast("long").as("__dl")) ++
      queryTerms.zipWithIndex.map { case (t, i) =>
        size(filter(col("__w"), x => x === lit(t))).cast("long").as(s"__tf$i")
      }
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__w"))
      .select(baseCols: _*)
    val statCols = Seq(sum(col("__dl")).as("__sdl")) ++
      queryTerms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = base.agg(count(lit(1)).as("__n"), statCols: _*)
    val avgdl = col("__sdl").cast("double") / col("__n").cast("double")
    val termScores = queryTerms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val idfQ = round(log(lit(1.0) +
        ((col("__n") - col(s"__df$i")).cast("double") + lit(0.5)) /
          (col(s"__df$i").cast("double") + lit(0.5))), 6).cast(D)
      when(col(s"__tf$i") > 0,
        round(idfQ.cast("double") * ((tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + (lit(0.75) * col("__dl").cast("double")) / avgdl))), 6)
          .cast(D))
        .otherwise(lit(0).cast(D))
    }
    val matched = queryTerms.indices
      .map(i => when(col(s"__tf$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__score").desc, col("__id"))
    base.crossJoin(broadcast(stats))
      .withColumn("__score", termScores.reduce(_ + _))
      .withColumn("__m", matched)
      .where(col("__m") > 0)
      .orderBy(col("__score").desc, col("__id")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("__id").as(idCol), col("rank"), col("__m").as("matched"),
        col("__score").cast("double").as("score"))
  }

  /** Exact corpus heavy hitters via a Misra-Gries candidate sketch +
    * exact verification — every token whose frequency is at least
    * ceil(phi·n) (n = total tokens), with its EXACT count. With `by`
    * keys the same holds per group (per language, per source, per day):
    * sketch, verify and threshold all key on the group columns.
    *
    * Two passes over the token stream, neither shuffling the
    * vocabulary:
    *   1. candidates: ONE [[graft.expressions.MisraGriesSketch]]
    *      aggregation per group (map partitions fold into
    *      capacity-bounded summaries; the shuffle carries ≤ capacity
    *      pairs per partition and group). MG guarantees the summary
    *      contains every token with frequency > n/(capacity+1).
    *   2. verify: the token stream probes the ≤ capacity candidates of
    *      its group, and only matching rows reach the exact
    *      `groupBy(by..., token)` — a ≤ capacity-keys-per-group
    *      aggregation.
    *
    * `require(phi·(capacity+1) > 1)` makes the guarantee scale-free:
    * threshold ceil(phi·n) ≥ phi·n > n/(capacity+1), so the candidate
    * superset covers every qualifying token at ANY corpus or group size
    * and the composed result is deterministic — the sketch only prunes;
    * the emitted counts are exact. (The CM/space-saving alternative
    * overcounts; MG undercounts — either way the verify join is what
    * makes the answer exact, the [[NgramOverlap]] bloom-prefilter
    * pattern.)
    *
    * Output: (by..., token, freq, threshold) ordered (by..., freq DESC,
    * token), threshold = the group's materialized cut so callers see the
    * guarantee line. NULL-text docs contribute no tokens. */
  def heavyHitters(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      capacity: Int,
      phi: Double,
      by: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    requireMgGuarantee("heavyHitters", capacity, phi)
    graft.expressions.GraftFunctions.register(df.sparkSession)
    heavyFromTokens(df.where(col(textCol).isNotNull)
      .select(by.map(col) :+ explode(tokens(col(textCol))).as("__t"): _*),
      capacity, phi, by)
  }

  /** N-GRAM heavy hitters (VERDICT r7 #9): the corpus's most repeated
    * word n-grams — the Gopher/C4 boilerplate-phrase detector — with the
    * same sketch-prunes-verify-exactly contract as [[heavyHitters]]
    * (unigram = the n=1 special case). The gram stream is
    * [[Dedup.shinglesFast]] with `distinct = false` (occurrences count
    * with multiplicity — a phrase repeated inside one doc IS the signal
    * here, unlike dedup shingling); docs shorter than n words contribute
    * their whole text as one gram (the WordNgrams fallback, replayed by
    * the oracle). Scale shape identical to [[heavyHitters]]: the gram
    * stream never shuffles — the MG aggregation ships ≤ capacity
    * (gram, count) pairs per partition, and only candidate-matching
    * grams reach the exact ≤-capacity-key re-count. */
  def heavyNgrams(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      n: Int,
      capacity: Int,
      phi: Double): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"heavyNgrams needs n >= 1 (got $n)")
    requireMgGuarantee("heavyNgrams", capacity, phi)
    graft.expressions.GraftFunctions.register(df.sparkSession)
    heavyFromTokens(df.where(col(textCol).isNotNull)
      .select(explode(Dedup.shinglesFast(col(textCol), n, distinct = false))
        .as("__t")), capacity, phi, Nil)
  }

  private def requireMgGuarantee(op: String, capacity: Int, phi: Double): Unit = {
    require(capacity >= 1, s"$op needs capacity >= 1 (got $capacity)")
    require(phi > 0 && phi < 1, s"phi must be in (0,1) (got $phi)")
    require(phi * (capacity + 1) > 1,
      s"phi=$phi with capacity=$capacity voids the MG superset guarantee: " +
        s"need phi > 1/(capacity+1) = ${1.0 / (capacity + 1)}")
  }

  /** Shared sketch-then-verify core of [[heavyHitters]]/[[heavyNgrams]]:
    * `toks` is the exploded (by..., `__t`) token/gram stream. */
  private def heavyFromTokens(
      toks: org.apache.spark.sql.DataFrame,
      capacity: Int,
      phi: Double,
      by: Seq[String]): org.apache.spark.sql.DataFrame = {
    val keys = by.map(col)
    // group columns renamed on the candidate side: both frames derive
    // from one source, and Spark's self-join ambiguity check rejects
    // toks(c) === cand(c) on shared lineage
    val cand = toks.groupBy(keys: _*)
      .agg(call_function(graft.expressions.GraftFunctions.MgSketch,
        col("__t"), lit(capacity)).as("__mg"),
        count(lit(1)).as("__n"))
      .select(by.zipWithIndex.map { case (c, i) => col(c).as(s"__g$i") } :+
        explode(col("__mg.token")).as("__ct") :+ col("__n"): _*)
    // with no keys the candidates are ONE group's ≤ capacity rows, so
    // they always broadcast; keyed, the table is groups x ≤ capacity
    // rows — AQE broadcasts it when small, and at extreme group counts
    // it hash-joins (still token-row-linear)
    val probe = if (by.isEmpty) broadcast(cand) else cand
    toks.join(probe, (by.zipWithIndex.map { case (c, i) => col(c) === col(s"__g$i") }
        :+ (col("__t") === col("__ct"))).reduce(_ && _))
      .groupBy(keys :+ col("__t").as("token"): _*)
      .agg(count(lit(1)).as("freq"), first(col("__n")).as("__n"))
      .withColumn("threshold", ceil(lit(phi) * col("__n")))
      .where(col("freq") >= col("threshold"))
      .select(keys ++ Seq(col("token"), col("freq"), col("threshold")): _*)
      .orderBy(keys ++ Seq(col("freq").desc, col("token")): _*)
  }

  /** DuckDB twin of [[heavyHitters]] — the sketch is invisible in the
    * composed result (it only prunes), so the oracle is the plain exact
    * aggregation with the same ceil(phi·n) threshold. */
  def heavyHittersSql(textExpr: String, table: String, phi: Double): String =
    (s"WITH t AS (SELECT unnest(string_split($textExpr, ' ')) AS token FROM $table"
      + s" WHERE $textExpr IS NOT NULL),"
      + s" n AS (SELECT count(*)::BIGINT AS n FROM t)"
      + s" SELECT token, count(*)::BIGINT AS freq,"
      + s" ceil($phi * (SELECT n FROM n))::BIGINT AS threshold FROM t GROUP BY 1"
      + s" HAVING count(*) >= ceil($phi * (SELECT n FROM n))"
      + s" ORDER BY freq DESC, token")

  /** DuckDB twin of [[heavyNgrams]] — same sketch-invisibility argument
    * as [[heavyHittersSql]]; the gram stream replays WordNgrams'
    * non-distinct windows including the short-doc whole-text fallback. */
  def heavyNgramsSql(textExpr: String, table: String, n: Int, phi: Double): String = {
    require(n >= 1, s"heavyNgramsSql needs n >= 1 (got $n)")
    val gram = (0 until n).map {
      case 0 => "w[i]"
      case k => s"w[i+$k]"
    }.mkString(" || ' ' || ")
    val grams = s"[$gram for i in range(1, len(w) - ${n - 2})]"
    (s"WITH t AS (SELECT unnest(CASE WHEN len(w) >= $n THEN $grams"
      + s" ELSE [$textExpr] END) AS token"
      + s" FROM (SELECT $textExpr, string_split($textExpr, ' ') AS w FROM $table"
      + s" WHERE $textExpr IS NOT NULL)),"
      + s" n AS (SELECT count(*)::BIGINT AS n FROM t)"
      + s" SELECT token, count(*)::BIGINT AS freq,"
      + s" ceil($phi * (SELECT n FROM n))::BIGINT AS threshold FROM t GROUP BY 1"
      + s" HAVING count(*) >= ceil($phi * (SELECT n FROM n))"
      + s" ORDER BY freq DESC, token")
  }

  /** DuckDB twin of [[bm25TopK]] (same quantization grid, same literal
    * constants, same op order — bit-for-bit). */
  def bm25Sql(idExpr: String, textExpr: String, table: String,
      queryTerms: Seq[String], k: Int): String = {
    // terms land inside SQL string literals — double any single quote
    // (ADVICE r7: an unescaped quote produced broken/injectable oracle
    // SQL; the Spark side uses lit() and never had the hazard)
    val tfs = queryTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '${t.replace("'", "''")}'))::BIGINT AS tf$i"
    }.mkString(", ")
    val dfs = queryTerms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i").mkString(", ")
    val scores = queryTerms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN round(
         |round(ln(1.0 + ((n - df$i)::DOUBLE + 0.5) / (df$i::DOUBLE + 0.5)), 6)::DECIMAL(18,6)::DOUBLE
         | * ((tf$i::DOUBLE * 2.2) / (tf$i::DOUBLE + 1.2 * (0.25 + (0.75 * dl::DOUBLE) / (sdl::DOUBLE / n::DOUBLE))))
         |, 6)::DECIMAL(18,6) ELSE 0::DECIMAL(18,6) END""".stripMargin.replaceAll("\n", "")
    }.mkString(" + ")
    val m = queryTerms.indices
      .map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    (s"WITH b AS (SELECT $idExpr AS id, len(w)::BIGINT AS dl, $tfs"
      + s" FROM (SELECT $idExpr, string_split($textExpr, ' ') AS w FROM $table"
      + s" WHERE $textExpr IS NOT NULL)),"
      + s" st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl, $dfs FROM b),"
      + s" sc AS (SELECT id, ($m)::BIGINT AS matched, $scores AS s FROM b, st)"
      + s" SELECT id AS $idExpr, row_number() OVER (ORDER BY s DESC, id)::BIGINT AS rank,"
      + s" matched, s::DOUBLE AS score FROM sc WHERE matched > 0"
      + s" ORDER BY s DESC, id LIMIT $k")
  }

  def dsirScores(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      isTargetCol: org.apache.spark.sql.Column,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    val tok = df.select(col(idCol).as("__id"), isTargetCol.as("__tgt"),
      explode(tokens(col(textCol))).as("__t"))
    val bucketed = tok.select(col("__id"), col("__tgt"),
      (fingerprintFast(col("__t")) % buckets).as("__b"))
    val counts = bucketed.groupBy("__b").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__tgt"), 1L).otherwise(0L)).as("__cb"))
    val totals = counts.agg(sum(col("__ct")).as("__nt"), sum(col("__cb")).as("__nb"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("__b"),
        (lnQ((col("__ct") + 1).cast("double") / (col("__nt") + buckets))
          - lnQ((col("__cb") + 1).cast("double") / (col("__nb") + buckets)))
          .as("__llr"))
    bucketed.where(!col("__tgt"))
      .join(broadcast(ratios), "__b")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__llr")).cast("double").as("dsir_score"))
  }
}
