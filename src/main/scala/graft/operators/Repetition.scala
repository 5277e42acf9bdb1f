package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repetition-based quality metrics — the Gopher/MassiveText filter family
  * (duplicate-token fraction, most-common-token mass, repeated n-gram
  * mass). Highly repetitive documents are a dominant failure mode of
  * web-scraped training corpora; these statistics are the standard gate.
  * (LLM-pipeline addition beyond the reference's surface, like
  * [[TextAnalysis]].)
  *
  * Everything is integer-valued (counts and character masses) — ratios are
  * left to the caller so grouped sums stay exact and order-independent.
  *
  * Shape: [[repetitionStats]] / [[topNgramStats]] are relational —
  * explode tokens/grams, one (id, token) hash aggregation, one per-id
  * aggregation. They shuffle (id, token-or-gram, count) rows, the right
  * shape when the metric feeds a corpus-wide report or join.
  */
object Repetition {

  /** Per-document token repetition profile:
    * {{{
    * id | n_tokens | n_distinct | top_cnt | top_token | top_chars | token_chars
    * }}}
    * where `top_token` is the most frequent token (ties: lexicographically
    * smallest — deterministic, oracle-replayable), `top_cnt` its count,
    * `top_chars = top_cnt * length(top_token)` its character mass, and
    * `token_chars` the total character mass of all tokens. Gopher's
    * "fraction of characters in the most common word" is
    * top_chars/token_chars; its duplicate-word fraction is
    * 1 - n_distinct/n_tokens. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val wc = words.groupBy("id", "w").agg(count(lit(1)).as("c"))
    wc.groupBy(col("id").as(idCol)).agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max("c").as("top_cnt"),
      // (-c, w) lexicographic min = count desc, token asc
      min_by(col("w"), struct(-col("c"), col("w"))).as("top_token"),
      sum(col("c") * length(col("w"))).as("token_chars"))
      // the winner's character mass, derived from the same tie-break
      .withColumn("top_chars", col("top_cnt") * length(col("top_token")))
  }

  /** Per-document repeated n-gram profile over NON-distinct word n-grams:
    * {{{ id | n_grams | n_distinct_grams | top_gram_cnt | gram_chars | dup_gram_chars }}}
    * Gopher's "fraction of characters in repeated n-grams" is EXACTLY
    * `dup_gram_chars / gram_chars`: the character mass
    * `sum(length(g) * c)` restricted to grams with count > 1, over the
    * total gram character mass (counts alone are only a proxy — grams
    * have n words but not n chars). Integer masses, so grouped sums stay
    * exact. Documents shorter than n words have no grams and drop out —
    * keep them with a left join if every row must survive. */
  def topNgramStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"n-gram repetition needs n >= 2 (got $n)")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val w = TextAnalysis.tokens(col(textCol))
    // one-pass native gram builder; the size guard (one split per row)
    // restores "short docs have no grams" over its whole-doc fallback
    val gramArr = when(size(w) >= n,
      Dedup.shinglesFast(col(textCol), n, distinct = false))
      .otherwise(array().cast("array<string>"))
    val grams = df.select(col(idCol).as("id"), explode(gramArr).as("g"))
    val gc = grams.groupBy("id", "g").agg(count(lit(1)).as("c"))
    val mass = col("c") * length(col("g")).cast("long")
    gc.groupBy(col("id").as(idCol)).agg(
      sum("c").as("n_grams"),
      count(lit(1)).as("n_distinct_grams"),
      max("c").as("top_gram_cnt"),
      sum(mass).as("gram_chars"),
      sum(when(col("c") > 1, mass).otherwise(0L)).as("dup_gram_chars"))
  }
}
