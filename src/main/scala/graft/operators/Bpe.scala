package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary learning + subword tokenization —
  * the tokenizer-training step of an LLM data pipeline (Sennrich,
  * Haddow & Birch, ACL 2016, "Neural Machine Translation of Rare Words
  * with Subword Units"; beyond the reference's surface, SURVEY §2.9).
  *
  * Scale shape: the corpus is scanned ONCE into a (word, freq) table —
  * every subsequent iteration is a hash aggregation plus a codegen
  * `replace` projection over that VOCAB-sized table, never the corpus.
  * Each iteration collects exactly one row (the argmax pair — the
  * kmeans/qcut bounded-collect convention) and localCheckpoints the
  * vocab frame so lineage stays one round deep (the
  * ccStarContraction rule). [[bpeLearn]] re-aggregates ALL
  * adjacent-pair counts every round — exact and simple, the reference
  * form; [[bpeLearnDelta]] is the production trainer: pair-count
  * DELTAS between rounds (only words containing the merged pair
  * change) over the bounded vocab statistic, bit-identical output,
  * per-merge cost flat in corpus size.
  *
  * Determinism/oracle parity: pair counts are exact integer sums; the
  * argmax tie-breaks by the pair string ascending (binary collation on
  * a space-free-symbol alphabet — identical in Spark and DuckDB); and
  * merge application uses `replace`'s left-to-right non-overlapping
  * scan, which both engines share ("a a a a" + merge (a,a) → "aa aa",
  * the Sennrich convention). Symbol sequences ride a single string —
  * single-space padding, DOUBLE-space separator — so the replace
  * pattern " l  r " can only match at symbol boundaries (" a  bc "
  * never matches " a  b ") while the pad/separator spaces it consumes
  * are restored by the replacement " lr ".
  *
  * CODEPOINT-CORRECT (VERDICT r12 #1): every imperative loop splits
  * words via [[Codepoints]] — surrogate pairs (emoji, astral CJK) stay
  * one symbol, matching Spark's `substr`/`length` and the DuckDB
  * replay's codepoint `len`/`substr` (the Column forms were already
  * codepoint-based through UTF8String; the driver/executor loops now
  * agree — q_bpe_learn_astral pins it end to end).
  */
object Bpe {

  final case class Merge(iter: Long, left_sym: String, right_sym: String, cnt: Long)

  /** Max iterations of the re-aggregating [[bpeLearn]] loop (one
    * bounded 1-row collect each) and of the [[bpeTokenize]] replace
    * chain (one codegen'd `replace` per rule). */
  val MaxMerges = 512

  /** Distinct-word memo cap for the per-executor tokenization caches
    * (BpeDeepTokenize / WordPieceTokenize / the mapPartitions counters):
    * tokenization is pure in (word, model) and corpora are Zipfian, so
    * memoizing the head of the distribution removes most merge-loop /
    * DP work; past the cap new words tokenize uncached (correctness
    * unaffected). 64k entries ≈ a few MB per executor. */
  val MemoCap = 1 << 16

  /** Max iterations of the delta-maintained [[bpeLearnDelta]] trainer —
    * the production range (a real tokenizer trains 32-64k merges); the
    * loop runs in driver memory over the bounded vocab statistic, so
    * rounds cost no Spark jobs at all. */
  val MaxMergesDelta = 65536

  /** A word as its padded symbol string: " c1  c2  ...  cn ". */
  private def padSym(w: Column): Column =
    concat(lit(" "),
      array_join(
        transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))),
        "  "),
      lit(" "))

  private def pat(m: Merge): String = s" ${m.left_sym}  ${m.right_sym} "
  private def rep(m: Merge): String = s" ${m.left_sym}${m.right_sym} "

  /** The ONE corpus-sized scan: whitespace words → (sym, f). */
  private def symFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(padSym(col("w")).as("sym"), col("f"))

  /** Learn `merges` BPE merge rules over the corpus' word-frequency
    * table. Per iteration: adjacent-pair counts (one hash agg over the
    * vocab), argmax by (count desc, pair asc), then one codegen
    * `replace` scan applies the winner. Stops early if no pair remains
    * (every word fully merged). Returns the rules in application
    * order. */
  def bpeLearn(df: DataFrame, textCol: String, merges: Int): Seq[Merge] = {
    require(merges >= 1 && merges <= MaxMerges,
      s"merges must be in [1, $MaxMerges] (got $merges) — the driver loop runs one job per merge")
    var w = symFreq(df, textCol).localCheckpoint()
    val out = ArrayBuffer.empty[Merge]
    var i = 1
    var done = false
    while (i <= merges && !done) {
      val arr = split(trim(col("sym")), "  ")
      val best = w
        .select(explode(zip_with(
            slice(arr, lit(1), size(arr) - 1),
            slice(arr, lit(2), size(arr) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"),
          col("f"))
        .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val lr = best(0).getString(0).split(" ", 2)
        val m = Merge(i.toLong, lr(0), lr(1), best(0).getLong(1))
        out += m
        w = w.withColumn("sym",
            call_function("replace", col("sym"), lit(pat(m)), lit(rep(m))))
          .localCheckpoint()
        i += 1
      }
    }
    out.toSeq
  }

  /** Delta-maintained BPE training at production merge counts (VERDICT
    * r9 #1) — bit-identical to [[bpeLearn]] (BpeSpec pins delta ≡ reagg
    * through full vocabulary exhaustion, the scanChunked==scan
    * convention) with per-merge cost FLAT in corpus size:
    *
    *   - the corpus pays exactly ONE distributed scan, into the
    *     (word, freq) table — the sufficient statistic of BPE training
    *     (Sennrich ACL'16 trains on word frequencies, never documents);
    *   - that table is a BOUNDED collect (`maxVocab` fail-fast, the
    *     kmeans-codebook / qcut-edges contract: distinct words grow
    *     ~log-linearly in corpus size, and `minFreq` prunes the noise
    *     tail a 100 TB crawl would otherwise drag in — every real
    *     tokenizer trainer applies exactly this cut);
    *   - the merge loop then runs in driver memory with DELTA
    *     maintenance: merging (l, r) only touches words that contain
    *     the pair (tracked per pair), so each round re-counts the
    *     affected words instead of re-aggregating the world, and the
    *     argmax rides a lazy max-heap (stale entries discarded on pop
    *     against the live count) — zero Spark jobs per round, ~32k
    *     sequential jobs ([[bpeLearn]]'s shape) become zero.
    *
    * Tie-breaks match [[bpeLearn]] exactly: (count desc, pair-string
    * asc) with the pair compared as UTF-8 BYTES unsigned — the binary
    * collation Spark's orderBy and DuckDB share. */
  def bpeLearnDelta(
      df: DataFrame,
      textCol: String,
      merges: Int,
      minFreq: Long = 1L,
      maxVocab: Int = 1 << 20): Seq[Merge] = {
    require(merges >= 1 && merges <= MaxMergesDelta,
      s"merges must be in [1, $MaxMergesDelta] (got $merges)")
    require(minFreq >= 1, s"minFreq must be >= 1 (got $minFreq)")
    val wf = df.select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .where(col("f") >= minFreq)
    val rows = wf.limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"distinct-word vocabulary exceeds maxVocab=$maxVocab — raise minFreq" +
        " (prune the noise tail) or raise the bound deliberately; the merge" +
        " loop is driver-memory over this statistic by design")
    val words: Array[Array[String]] =
      rows.map(r => Codepoints.split(r.getString(0)))
    val freqs: Array[Long] = rows.map(_.getLong(1))
    learnInMemory(words, freqs, merges)
  }

  /** UTF-8 unsigned byte order — Spark UTF8String / DuckDB binary
    * collation (Java String.compareTo differs beyond ASCII). */
  private[operators] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The exact in-memory merge loop over the collected (symbols, freq)
    * vocab: lazy-heap argmax + per-pair occurrence tracking, so each
    * merge touches only the words containing its pair. */
  private def learnInMemory(
      words: Array[Array[String]],
      freqs: Array[Long],
      merges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[String, Long]
    // sparse membership — a dense BitSet would size by the MAX word
    // index per pair (~25 KB for a 3-member rare pair; the merged-
    // symbol pair space grows into the 100k's and OOMs the driver)
    val occurs = mutable.HashMap.empty[String, mutable.HashSet[Int]]
    // heap of (count, pairKey) snapshots; max = (count desc, key asc)
    val ord: Ordering[(Long, String)] = (p, q) =>
      if (p._1 != q._1) java.lang.Long.compare(p._1, q._1)
      else utf8Compare(q._2, p._2)
    val heap = mutable.PriorityQueue.empty[(Long, String)](ord)

    def pairsOf(s: Array[String]): Iterator[String] =
      (0 until s.length - 1).iterator.map(i => s(i) + " " + s(i + 1))
    def addWord(idx: Int, s: Array[String], sign: Long,
        touched: mutable.Set[String]): Unit =
      pairsOf(s).foreach { k =>
        val c = counts.getOrElse(k, 0L) + sign * freqs(idx)
        if (c == 0L) counts.remove(k) else counts(k) = c
        if (sign > 0)
          occurs.getOrElseUpdate(k, mutable.HashSet.empty) += idx
        touched += k
      }

    // initial pair statistics — one pass over the vocab
    val init = mutable.Set.empty[String]
    words.indices.foreach(i => addWord(i, words(i), 1L, init))
    counts.foreach { case (k, c) => heap.enqueue((c, k)) }

    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var iter = 1
    while (iter <= merges && heap.nonEmpty) {
      val (c, key) = heap.dequeue()
      if (counts.get(key).contains(c)) {
        val Array(l, r) = key.split(" ", 2)
        val merged = l + r
        val hit = occurs(key).toArray // snapshot; sets mutate below
        val touched = mutable.Set.empty[String]
        hit.foreach { idx =>
          val s = words(idx)
          val before = pairsOf(s).toSet
          addWord(idx, s, -1L, touched)
          // left-to-right non-overlapping merge — the `replace` scan
          val b = Array.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              b += merged; i += 2
            } else { b += s(i); i += 1 }
          }
          words(idx) = b.result()
          addWord(idx, words(idx), 1L, touched)
          // membership diff PER WORD (a touched × hit sweep here is
          // quadratic in pair density — the 2048-merge stress receipt
          // caught it at 350 ms/merge): drop this word from the pairs
          // it no longer contains
          (before -- pairsOf(words(idx)).toSet)
            .foreach(k => occurs.get(k).foreach(_ -= idx))
        }
        // refresh heap snapshots once per distinct touched pair; free
        // dead pairs entirely
        touched.foreach { k =>
          if (!counts.contains(k)) occurs.remove(k)
          else heap.enqueue((counts(k), k))
        }
        out += Merge(iter.toLong, l, r, c)
        iter += 1
      }
    }
    out.toSeq
  }

  /** Learned rules as a DataFrame — (iter, left_sym, right_sym, cnt);
    * the persistable index-at-rest form (train once, save, reload for
    * [[bpeTokenize]]). */
  def mergesDf(spark: org.apache.spark.sql.SparkSession, rules: Seq[Merge]): DataFrame =
    spark.createDataFrame(rules)
      .select(col("iter"), col("left_sym"), col("right_sym"), col("cnt"))

  /** Reload persisted rules ([[mergesDf]] written to parquet — the
    * index-at-rest round trip): a bounded collect (≤ [[MaxMergesDelta]]
    * rows, fail-fast), re-ordered by `iter` since application order IS
    * the tokenizer. */
  def mergesFrom(df: DataFrame): Seq[Merge] = {
    val rows = df.select(col("iter").cast("long"), col("left_sym"),
        col("right_sym"), col("cnt").cast("long"))
      .limit(MaxMergesDelta + 1).collect()
    require(rows.length <= MaxMergesDelta,
      s"merge-rule table exceeds $MaxMergesDelta rows — not a bpeLearn/bpeLearnDelta output")
    rows.map(r => Merge(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.iter).toSeq
  }

  /** Subword tokens of `text` under learned merge rules, as a pure
    * Column expression (whole-stage codegen, zero shuffle): each word
    * folds through the literal replace chain in rule order, then
    * splits back on the double-space separator. */
  def bpeTokenize(text: Column, merges: Seq[Merge]): Column = {
    require(merges.nonEmpty && merges.size <= MaxMerges,
      s"need 1..$MaxMerges merge rules (got ${merges.size})")
    val applied = (w: Column) =>
      merges.foldLeft(padSym(w))((acc, m) =>
        call_function("replace", acc, lit(pat(m)), lit(rep(m))))
    flatten(transform(
      filter(split(text, " "), w => length(w) > 0),
      w => split(trim(applied(w)), "  ")))
  }

  /** Per-document subword token counts — the sizing pass a packing /
    * batch-budget stage runs after tokenizer training. */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    df.select(col(idCol),
      size(bpeTokenize(col(textCol), merges)).cast("long").as("n_tokens"))

  /** [[packRules]]/[[graft.expressions.BpeDeepTokenize]] separators:
    * left + FieldSep + right per rule, rules joined by RuleSep. */
  private[graft] val FieldSep = '\u0000'
  private[graft] val RuleSep = '\u0001'

  /** Rules packed into ONE string literal (iter order) — how a 64k-rule
    * vocabulary rides into [[graft.expressions.BpeDeepTokenize]] without
    * a 64k-node expression tree. Fails fast if a symbol somehow contains
    * a control separator (whitespace-split document words cannot). */
  private[graft] def packRules(merges: Seq[Merge]): String = {
    merges.foreach { m =>
      require(!m.left_sym.exists(c => c == FieldSep || c == RuleSep)
          && !m.right_sym.exists(c => c == FieldSep || c == RuleSep),
        s"rule symbols must not contain control separators: $m")
    }
    merges.sortBy(_.iter)
      .map(m => s"${m.left_sym}$FieldSep${m.right_sym}").mkString(RuleSep.toString)
  }

  /** [[bpeTokenize]] at PRODUCTION vocabulary sizes, as a composable
    * Column: the [[graft.expressions.BpeDeepTokenize]] scalar expression
    * (sequential-pass semantics, rules as one packed literal) — token
    * for token the chain form at any shared rule count (BpeSpec pins),
    * with no per-rule codegen. Callers must have
    * [[graft.expressions.GraftFunctions.register]]ed the session. */
  def bpeDeepTokens(text: Column, merges: Seq[Merge]): Column = {
    require(merges.nonEmpty && merges.size <= MaxMergesDelta,
      s"need 1..$MaxMergesDelta merge rules (got ${merges.size})")
    call_function(graft.expressions.GraftFunctions.BpeDeep,
      text, lit(packRules(merges)))
  }

  /** The deep tokenizer shaped for the `Column => Column` tokenizer
    * slots ([[NgramOverlap.duplicateSpans]], gram tables): tokens
    * re-joined by single spaces — lossless in token space since BPE
    * symbols are substrings of whitespace-split words. */
  def deepRetokenize(merges: Seq[Merge]): Column => Column =
    t => array_join(bpeDeepTokens(t, merges), " ")

  /** Per-pair sorted rank lists (rule index in iter order) — the
    * [[tokenizeWord]] lookup structure; duplicate (left,right) pairs
    * at several ranks keep every rank. */
  private[graft] def rankMap(
      pairs: IndexedSeq[(String, String)]): Map[(String, String), Array[Int]] =
    pairs.zipWithIndex.groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).sorted.toArray }

  /** Tokenize ONE word (driver/executor Scala) with EXACT
    * sequential-pass semantics — [[bpeTokenize]]'s replace chain, rule
    * by rule — without paying O(rules) per word: repeatedly fire the
    * minimum-rank adjacent pair whose rank is STRICTLY GREATER than
    * the last fired rank, merging left-to-right non-overlapping (the
    * `replace` scan).
    *
    * Why the monotone constraint is exactly the chain (ADVICE r10):
    * the chain runs each rule as one pass in iter order, and a pass
    * with no occurrence is a no-op — so the chain's state only changes
    * at the ranks this loop fires, in the same order. Plain min-rank
    * greedy (the former form) is NOT the chain: a pass can create a
    * new adjacency for a LOWER-ranked pair (one whose pair string is
    * also formed by a higher-ranked rule's output next to a live
    * symbol — duplicate-output merges, realistic at 32–64k vocab);
    * the chain never revisits a passed rule, so that pair must stay
    * split. A pass never re-creates its OWN pair (lr == l·r would need
    * an empty symbol), so one pass per rank suffices. Handles any
    * `Seq[Merge]` — duplicate (left,right) pairs at several ranks each
    * get their own pass via the per-pair sorted rank list. */
  private[graft] def tokenizeWord(
      w: String, rank: collection.Map[(String, String), Array[Int]],
      pairs: IndexedSeq[(String, String)]): Array[String] = {
    var s: Array[String] = Codepoints.split(w)
    var last = -1
    var done = false
    while (!done && s.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < s.length - 1) {
        val rs = rank.getOrElse((s(i), s(i + 1)), null)
        if (rs != null) {
          // smallest rank > last for this pair (sorted; len 1 typical)
          var k = 0
          while (k < rs.length && rs(k) <= last) k += 1
          if (k < rs.length && rs(k) < best) best = rs(k)
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = pairs(best)
        val b = Array.newBuilder[String]
        var j = 0
        while (j < s.length) {
          if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
            b += (l + r); j += 2
          } else { b += s(j); j += 1 }
        }
        s = b.result()
        last = best
      }
    }
    s
  }

  /** [[bpeTokenCounts]] at PRODUCTION vocabulary sizes: the replace
    * CHAIN of [[bpeTokenize]] is one codegen expression per rule — fine
    * to [[MaxMerges]], hopeless at 32-64k — so the deep form applies the
    * rules imperatively per word inside `mapPartitions` (the
    * [[MultiModal.decodePartitioned]] last-resort slot, with the same
    * batch contract: the rank map is per-partition state built once).
    * Bit-identical to the chain form for ANY rule list at any shared
    * rule count — [[tokenizeWord]] implements the chain's
    * sequential-pass semantics exactly, including duplicate-output
    * merge chains (BpeSpec pins deep == chain on a learned chain AND
    * on the adversarial duplicate-output list; the q_bpe_tokens_deep
    * oracle replays the SQL fold). Stays distributed and row-local —
    * one projection-shaped pass, zero shuffle. */
  def bpeTokenCountsDeep(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    require(merges.nonEmpty && merges.size <= MaxMergesDelta,
      s"need 1..$MaxMergesDelta merge rules (got ${merges.size})")
    val ordered = merges.sortBy(_.iter)
    val pairs: IndexedSeq[(String, String)] =
      ordered.map(m => (m.left_sym, m.right_sym)).toIndexedSeq
    val ranks: Map[(String, String), Array[Int]] = rankMap(pairs)
    val out = df.select(col(idCol), col(textCol).as("__text"))
    val schema = org.apache.spark.sql.types.StructType(out.schema.fields.init)
      .add("n_tokens", org.apache.spark.sql.types.LongType)
    out.mapPartitions { rows =>
      // per-partition distinct-word memo (the MemoCap Zipfian rationale);
      // boxed java.lang.Long so an absent key is a REAL null, not an
      // unboxed 0 (the scala.Long interop trap)
      val memo = new java.util.HashMap[String, java.lang.Long]()
      rows.map { r =>
        val t = r.getString(1)
        // NULL text -> NULL count, the bpeTokenCounts/size(NULL) contract
        val n: Any =
          if (t == null) null
          else t.split(" ").iterator.filter(_.nonEmpty).map { w =>
            val hit = memo.get(w)
            if (hit != null) hit.longValue()
            else {
              val c = tokenizeWord(w, ranks, pairs).length.toLong
              if (memo.size < MemoCap) memo.put(w, java.lang.Long.valueOf(c))
              c
            }
          }.sum
        org.apache.spark.sql.Row(r.get(0), n)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }
}
