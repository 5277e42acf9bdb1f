package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Held-out n-gram language-model scoring with interpolated Kneser-Ney
  * smoothing — the CCNet-style perplexity quality filter in its REAL
  * deployment shape (Wenzek et al., LREC 2020 fit a KenLM model on a
  * clean reference corpus and score the crawl with it; Kneser & Ney,
  * ICASSP 1995; Chen & Goodman 1998 §2.7 for the interpolated form).
  * [[TextAnalysis.unigramLogLoss]]/[[TextAnalysis.bigramLogLoss]] fit
  * on the scored corpus itself, which a contaminated crawl can game —
  * this operator fits on a TRAIN frame and scores a SEPARATE frame, so
  * unseen words and unseen contexts are first-class (absolute
  * discounting + continuation counts + a uniform out-of-vocabulary
  * floor keep every probability strictly positive).
  *
  * Model at order 2 ([[knNgramLogLoss]] builds the same recursion to any
  * depth; discount D, training vocabulary of size V0, V = V0 + 1 with
  * one OOV slot):
  *
  *   p1(w)    = (max(N1+(·w) − D, 0) + D·T/V) / B
  *   p(w|v)   = (max(c(vw) − D, 0) + D·N1+(v·)·p1(w)) / c(v·)   if c(v·)>0
  *            = p1(w)                                            otherwise
  *
  * with B = distinct bigram types, T = distinct continuation words
  * N1+(·w)>0, N1+(v·)/N1+(·w) the left/right continuation type counts
  * and c(v·) the count of transitions whose history is v. Both rows of
  * the definition sum to 1 over the V-word vocabulary (each vocab word
  * carries a D·T/(B·V) share of the unigram mass — the Chen-Goodman
  * interpolated-KN normalization with a uniform base distribution).
  *
  * Determinism/oracle parity: every probability is ONE fixed-shape IEEE
  * expression over exact integer counts (counts cast to double, D an
  * exactly-representable literal), ln-quantized ([[TextAnalysis.lnQ]])
  * and summed as exact decimals with one IEEE finalize — the
  * [[TextAnalysis.bigramLogLoss]] convention; the DuckDB generators
  * below mirror the expression token for token.
  *
  * Plan shape (the 100 TB story): the train corpus collapses into three
  * vocabulary-sized count tables (bigram types, left-context stats,
  * right-continuation stats) — hash aggregations, map-side combined;
  * the scalar statistics (B, T, V) ride a one-row broadcast; score-side
  * transition rows probe the count tables via LEFT joins on token keys.
  * Document text never shuffles past its explode; no driver state holds
  * data-sized anything (the one fail-fast probe is `limit(1)`-bounded).
  */
object LanguageModel {

  import TextAnalysis.{tokens, lnQ}

  /** DuckDB reference for [[knNgramLogLoss]] with one `by` key at
    * order 2 (output column `kn_loss`) — the order-2 algebra below with
    * the group key threaded through every table. Hand-written, not
    * generated from the order-N tower, so the oracle checks the tower
    * independently. */
  def knBigramLogLossBySql(groupExpr: String, idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, d: Double = 0.75): String = {
    val p1 = ("(greatest(coalesce(rt.tr, 0)::DOUBLE - " + d + ", 0.0)"
      + s" + $d * tot.t::DOUBLE / tot.v::DOUBLE) / tot.b::DOUBLE")
    (s"WITH trd AS (SELECT $groupExpr AS g, string_split($textExpr, ' ') AS w"
      + s" FROM $trainFrom WHERE $textExpr IS NOT NULL AND $groupExpr IS NOT NULL),"
      + " trt AS (SELECT g, unnest([w[i] for i in range(1, len(w))]) AS p,"
      + " unnest([w[i+1] for i in range(1, len(w))]) AS c FROM trd WHERE len(w) >= 2),"
      + " cb AS (SELECT g, p, c, count(*)::BIGINT AS cb FROM trt GROUP BY 1, 2, 3),"
      + " lt AS (SELECT g, p, sum(cb)::BIGINT AS cl, count(*)::BIGINT AS tl FROM cb GROUP BY 1, 2),"
      + " rt AS (SELECT g, c, count(*)::BIGINT AS tr FROM cb GROUP BY 1, 2),"
      + " bt AS (SELECT g, count(*)::BIGINT AS b, count(DISTINCT c)::BIGINT AS t FROM cb GROUP BY 1),"
      + " vc AS (SELECT g, (count(DISTINCT u) + 1)::BIGINT AS v FROM"
      + " (SELECT g, unnest(w) AS u FROM trd) GROUP BY 1),"
      + " tot AS (SELECT bt.g, bt.b, bt.t, vc.v FROM bt JOIN vc ON bt.g = vc.g),"
      + s" scd AS (SELECT $groupExpr AS g, $idExpr AS id, string_split($textExpr, ' ') AS w"
      + s" FROM $scoreFrom WHERE $textExpr IS NOT NULL AND $groupExpr IS NOT NULL),"
      + " sct AS (SELECT g, id, unnest([w[i] for i in range(1, len(w))]) AS p,"
      + " unnest([w[i+1] for i in range(1, len(w))]) AS c FROM scd WHERE len(w) >= 2),"
      + " pr AS (SELECT sct.g, sct.id,"
      + s" CASE WHEN lt.cl IS NULL THEN $p1"
      + s" ELSE (greatest(coalesce(cb.cb, 0)::DOUBLE - $d, 0.0)"
      + s" + $d * lt.tl::DOUBLE * $p1) / lt.cl::DOUBLE END AS p"
      + " FROM sct JOIN tot ON sct.g = tot.g"
      + " LEFT JOIN cb ON sct.g = cb.g AND sct.p = cb.p AND sct.c = cb.c"
      + " LEFT JOIN lt ON sct.g = lt.g AND sct.p = lt.p"
      + " LEFT JOIN rt ON sct.g = rt.g AND sct.c = rt.c),"
      + " sc AS (SELECT g, id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT g AS $groupExpr, id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + " -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS kn_loss"
      + " FROM sc GROUP BY 1, 2 ORDER BY 1, 2")
  }

  /** DuckDB reference for [[knNgramLogLoss]] at order 3 (output column
    * `kn3_loss`) — five hand-written count tables and the nested-CASE
    * three-level probability expression. */
  def knTrigramLogLossSql(idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, d: Double = 0.75): String = {
    val p1 = ("(greatest(coalesce(c1.c1, 0)::DOUBLE - " + d + ", 0.0)"
      + s" + $d * tot.t::DOUBLE / tot.v::DOUBLE) / tot.b::DOUBLE")
    val p2 = (s"CASE WHEN l2.c2ctx IS NULL THEN $p1"
      + s" ELSE (greatest(coalesce(c2.c2, 0)::DOUBLE - $d, 0.0)"
      + s" + $d * l2.t2::DOUBLE * $p1) / l2.c2ctx::DOUBLE END")
    (s"WITH trd AS (SELECT string_split($textExpr, ' ') AS w FROM $trainFrom"
      + s" WHERE $textExpr IS NOT NULL),"
      + " trt AS (SELECT unnest([w[i] for i in range(1, len(w) - 1)]) AS u,"
      + " unnest([w[i+1] for i in range(1, len(w) - 1)]) AS v,"
      + " unnest([w[i+2] for i in range(1, len(w) - 1)]) AS tw"
      + " FROM trd WHERE len(w) >= 3),"
      + " c3 AS (SELECT u, v, tw, count(*)::BIGINT AS c3 FROM trt GROUP BY 1, 2, 3),"
      + " l3 AS (SELECT u, v, sum(c3)::BIGINT AS c3ctx, count(*)::BIGINT AS t3"
      + " FROM c3 GROUP BY 1, 2),"
      + " c2 AS (SELECT v, tw, count(*)::BIGINT AS c2 FROM c3 GROUP BY 1, 2),"
      + " l2 AS (SELECT v, sum(c2)::BIGINT AS c2ctx, count(*)::BIGINT AS t2"
      + " FROM c2 GROUP BY 1),"
      + " c1 AS (SELECT tw, count(*)::BIGINT AS c1 FROM c2 GROUP BY 1),"
      + " tot AS (SELECT count(*)::BIGINT AS b, count(DISTINCT tw)::BIGINT AS t,"
      + " (SELECT count(DISTINCT uni) + 1 FROM (SELECT unnest(w) AS uni FROM trd))::BIGINT AS v"
      + " FROM c2),"
      + s" scd AS (SELECT $idExpr AS id, string_split($textExpr, ' ') AS w FROM $scoreFrom"
      + s" WHERE $textExpr IS NOT NULL),"
      + " sct AS (SELECT id, unnest([w[i] for i in range(1, len(w) - 1)]) AS u,"
      + " unnest([w[i+1] for i in range(1, len(w) - 1)]) AS v,"
      + " unnest([w[i+2] for i in range(1, len(w) - 1)]) AS tw"
      + " FROM scd WHERE len(w) >= 3),"
      + " pr AS (SELECT sct.id,"
      + s" CASE WHEN l3.c3ctx IS NULL THEN $p2"
      + s" ELSE (greatest(coalesce(c3.c3, 0)::DOUBLE - $d, 0.0)"
      + s" + $d * l3.t3::DOUBLE * ($p2)) / l3.c3ctx::DOUBLE END AS p"
      + " FROM sct LEFT JOIN c3 ON sct.u = c3.u AND sct.v = c3.v AND sct.tw = c3.tw"
      + " LEFT JOIN l3 ON sct.u = l3.u AND sct.v = l3.v"
      + " LEFT JOIN c2 ON sct.v = c2.v AND sct.tw = c2.tw"
      + " LEFT JOIN l2 ON sct.v = l2.v"
      + " LEFT JOIN c1 ON sct.tw = c1.tw CROSS JOIN tot),"
      + " sc AS (SELECT id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + " -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS kn3_loss"
      + " FROM sc GROUP BY 1 ORDER BY 1")
  }

  /** DuckDB reference for [[knNgramLogLoss]] at order 2 (output column
    * `kn_loss`) — the model in the header, with the same discount
    * literal, count tables, fixed-shape probability expression and
    * quantized-ln decimal sum. `trainFrom`/`scoreFrom` are FROM-clause
    * bodies (table name or parenthesized subquery). */
  def knBigramLogLossSql(idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, d: Double = 0.75): String = {
    val p1 = ("(greatest(coalesce(rt.tr, 0)::DOUBLE - " + d + ", 0.0)"
      + s" + $d * tot.t::DOUBLE / tot.v::DOUBLE) / tot.b::DOUBLE")
    (s"WITH trd AS (SELECT string_split($textExpr, ' ') AS w FROM $trainFrom"
      + s" WHERE $textExpr IS NOT NULL),"
      + " trt AS (SELECT unnest([w[i] for i in range(1, len(w))]) AS p,"
      + " unnest([w[i+1] for i in range(1, len(w))]) AS c FROM trd WHERE len(w) >= 2),"
      + " cb AS (SELECT p, c, count(*)::BIGINT AS cb FROM trt GROUP BY 1, 2),"
      + " lt AS (SELECT p, sum(cb)::BIGINT AS cl, count(*)::BIGINT AS tl FROM cb GROUP BY 1),"
      + " rt AS (SELECT c, count(*)::BIGINT AS tr FROM cb GROUP BY 1),"
      + " tot AS (SELECT count(*)::BIGINT AS b, count(DISTINCT c)::BIGINT AS t,"
      + " (SELECT count(DISTINCT u) + 1 FROM (SELECT unnest(w) AS u FROM trd))::BIGINT AS v"
      + " FROM cb),"
      + s" scd AS (SELECT $idExpr AS id, string_split($textExpr, ' ') AS w FROM $scoreFrom"
      + s" WHERE $textExpr IS NOT NULL),"
      + " sct AS (SELECT id, unnest([w[i] for i in range(1, len(w))]) AS p,"
      + " unnest([w[i+1] for i in range(1, len(w))]) AS c FROM scd WHERE len(w) >= 2),"
      + " pr AS (SELECT sct.id,"
      + s" CASE WHEN lt.cl IS NULL THEN $p1"
      + s" ELSE (greatest(coalesce(cb.cb, 0)::DOUBLE - $d, 0.0)"
      + s" + $d * lt.tl::DOUBLE * $p1) / lt.cl::DOUBLE END AS p"
      + " FROM sct LEFT JOIN cb ON sct.p = cb.p AND sct.c = cb.c"
      + " LEFT JOIN lt ON sct.p = lt.p LEFT JOIN rt ON sct.c = rt.c CROSS JOIN tot),"
      + " sc AS (SELECT id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + " -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS kn_loss"
      + " FROM sc GROUP BY 1 ORDER BY 1")
  }

  /** The `by` keys of one LM call, and the one place where zero keys and
    * keyed calls differ (the `Drift.withTotals` rule). Inside the plan,
    * key i of the table whose columns start with `p` is `{p}by{i}`
    * (`__by{i}` on score and train rows), so every join names its sides.
    *  - Zero keys: one model. An empty top table fails fast (a
    *    `limit(1)` probe), and the one-row totals ride cross joins:
    *    plain between fit tables, broadcast onto the score rows after
    *    the c1 join.
    *  - Keyed: one independent model per group, and no fail-fast. Totals
    *    join on the keys, and the score rows meet them BEFORE the level
    *    joins, so the docs of a group without a model drop early. */
  private final case class Keys(by: Seq[String]) {
    private val zero = by.isEmpty
    def names(p: String): Seq[String] = by.indices.map(i => s"${p}by$i")
    def cols(p: String): Seq[Column] = names(p).map(col)
    private def renamed(from: Seq[String], to: Seq[String]): Seq[Column] =
      from.zip(to).map { case (a, b) => col(a).as(b) }
    /** the input's keys named as table `p`'s, and back */
    def aliased(p: String): Seq[Column] = renamed(by, names(p))
    def restored: Seq[Column] = renamed(names("__"), by)
    /** table `from`'s keys, renamed to table `to`'s */
    def moved(from: String, to: String): Seq[Column] = renamed(names(from), names(to))
    def on(pa: String, pb: String): Seq[Column] =
      names(pa).zip(names(pb)).map { case (a, b) => col(a) === col(b) }
    /** rows of `df` whose table-`p` keys are all non-NULL (a NULL key
      * names no model) */
    def nonNull(df: DataFrame, p: String): DataFrame =
      names(p).foldLeft(df)((d, m) => d.where(col(m).isNotNull))
    /** `scored`, once the probe passed: the caller plans `scored` first,
      * so a column clash fails before the probe job */
    def failFast(top: DataFrame, msg: => String)(scored: DataFrame): DataFrame = {
      if (zero) require(top.limit(1).count() == 1L, msg)
      scored
    }
    def joinTotals(a: DataFrame, pa: String, b: DataFrame, pb: String): DataFrame =
      if (zero) a.crossJoin(b) else a.join(b, on(pa, pb).reduce(_ && _))
    def withTotals(rows: DataFrame, totals: DataFrame)(
        levels: DataFrame => DataFrame): DataFrame =
      if (zero) levels(rows).crossJoin(broadcast(totals))
      else levels(rows.join(totals, on("__", "__t").reduce(_ && _)))
  }

  private val NoKeys = Keys(Nil)

  /** (__id, __by…, __g1..__gn) order-n gram rows of every ≥n-token
    * document whose keys are all non-NULL. */
  private def transitionsN(df: DataFrame, keys: Keys, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select((col(idCol).as("__id") +: keys.aliased("__")) :+
        tokens(col(textCol)).as("__w"): _*)
      .where((keys.cols("__").map(_.isNotNull) :+ (size(col("__w")) >= n))
        .reduce(_ && _))
      .select((col("__id") +: keys.cols("__")) :+ explode(transform(
        sequence(lit(0), size(col("__w")) - n),
        i => struct((1 to n).map(j =>
          element_at(col("__w"), i + j).as(s"g$j")): _*))).as("__t"): _*)
      .select((col("__id") +: keys.cols("__")) ++ (1 to n).map(j =>
        col(s"__t.g$j").as(s"__g$j")): _*)

  /** ORDER-N interpolated Kneser-Ney — the header's bigram model with the
    * Chen-Goodman recursion to arbitrary depth (order 2 is the bigram
    * model, order 3 the trigram; CCNet ships a 5-gram KenLM and
    * `knNgramLogLoss(..., order = 5)` is that depth).
    * The Chen-Goodman tower, every lower level built from the level
    * ABOVE's TYPE table (the continuation-count construction — level
    * k−1's table counts distinct leftmost extensions of level k's
    * types):
    *
    *   p_k(w|h_k) = (max(c_k(h_k w)−D,0) + D·N1+(h_k ·)·p_{k−1}) / c_k(h_k ·)
    *                for k = order..2, backing off to p_{k−1} on an
    *                unseen level-k context
    *   p1(w)      = (max(N1+(··w)−D,0) + D·T/V) / B
    *
    * with B/T taken from the LEVEL-2 type table and V = train unigram
    * vocab + 1 (LanguageModelSpec replays orders 2, 3 and 5 against a
    * brute-force model; the oracle checks orders 2 and 3 against the
    * hand-written DuckDB references above). Score docs
    * need ≥order tokens (n_trans = n−order+1); shorter/NULL docs are
    * absent. Output (by…, idCol, n_trans, kn{order}_loss).
    *
    * Grouping (`by`, default none): one independent tower PER GROUP
    * (CCNet's actual deployment is a per-language 5-gram KN), every
    * level's count/type table and the (B, T, V) scalars carrying the
    * keys — one hash-partitioned plan, no driver loop. Score docs whose
    * group has no train n-grams are ABSENT (no model — the inner join
    * on the per-group totals), as are rows with a NULL key. Without
    * keys a train corpus with no n-grams fails fast instead.
    *
    * Plan shape unchanged by depth: 2·order−1 vocabulary-bounded count
    * tables (hash aggs, map-side combined, each derived from the one
    * above — the whole tower is ONE pass over train transitions plus
    * type-table-sized regroups), one-row broadcast scalars, score rows
    * LEFT-joining the tables on token keys. Depth adds joins against
    * strictly SHRINKING tables, never another corpus scan. */
  def knNgramLogLoss(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String,
      order: Int,
      by: Seq[String] = Nil,
      d: Double = 0.75): DataFrame = {
    require(order >= 2, s"knNgramLogLoss needs order >= 2 (got $order)")
    require(d > 0 && d < 1, s"discount d must be in (0,1) (got $d)")
    val keys = Keys(by)
    val (top, vc) = knNgramTrainTables(train, keys, textCol, order)
    keys.failFast(top,
      s"knNgramLogLoss: train corpus has no $order-grams (every doc <$order tokens)")(
      knScore(knNgramTower(top, vc, keys, order, d, identity), keys, score,
        idCol, textCol))
  }

  /** A fitted order-n KN model: the Chen-Goodman tower of count tables.
    * `counts(k)` (k = order..1) holds level k's gram counts — raw at the
    * top, continuation types below — under the columns
    * `__c{k}k1..__c{k}kk, __cnt{k}`; `contexts(k)` (k = order..2) holds
    * level k's context sums and type counts (`__ctx{k}`, `__t{k}`);
    * `totals` is the one-row (B, T, V) scalars. [[knNgramLogLoss]] and
    * [[knNgramLogLossFromState]] score against a LAZY tower in the same
    * plan as the fit; [[knNgramFit]] and [[knNgramModel]] return one
    * with every table materialized (localCheckpoint), so a monitoring
    * stream (or any number of scoring passes) probes frozen tables
    * instead of re-deriving the fit per use — the AnnIndex/NearDupIndex
    * train-once convention. */
  final case class KnNgramModel(order: Int, d: Double,
      counts: Map[Int, DataFrame], contexts: Map[Int, DataFrame],
      totals: DataFrame)

  object KnNgramModel {
    /** Persist a fitted model under `dir` (one parquet table per tower
      * table plus an (order, d) meta row) — the index-at-rest form. A
      * model held across queries MUST ride this (the ndIndexCache
      * convention): a cached localCheckpointed frame dies the moment any
      * session-state isolation unpersists RDDs (the Bench isolate()
      * audit — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on re-run), a directory
      * doesn't. */
    def write(model: KnNgramModel, dir: String): Unit = {
      val s = model.totals.sparkSession
      import s.implicits._
      model.counts.foreach { case (k, t) => t.write.mode("overwrite").parquet(s"$dir/c$k") }
      model.contexts.foreach { case (k, t) => t.write.mode("overwrite").parquet(s"$dir/l$k") }
      model.totals.write.mode("overwrite").parquet(s"$dir/totals")
      Seq((model.order, model.d)).toDF("order", "d")
        .write.mode("overwrite").parquet(s"$dir/meta")
    }

    /** Reload a persisted model: plain parquet-backed frames, freely
      * re-readable across cache/RDD lifecycle events. */
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): KnNgramModel = {
      val meta = Parquet.read(spark, s"$dir/meta").head()
      val order = meta.getInt(0)
      KnNgramModel(order, meta.getDouble(1),
        (1 to order).map(k => k -> Parquet.read(spark, s"$dir/c$k")).toMap,
        (2 to order).map(k => k -> Parquet.read(spark, s"$dir/l$k")).toMap,
        Parquet.read(spark, s"$dir/totals"))
    }
  }

  /** Fit the model once, eagerly: the [[knNgramLogLoss]] fit with every
    * tower table materialized. Same algebra, fail-fast, and downstream
    * hashes as the fused form. */
  def knNgramFit(train: DataFrame, textCol: String, order: Int,
      d: Double = 0.75): KnNgramModel = {
    require(order >= 2, s"knNgramFit needs order >= 2 (got $order)")
    require(d > 0 && d < 1, s"discount d must be in (0,1) (got $d)")
    val (top, vc) = knNgramTrainTables(train, NoKeys, textCol, order)
    val kept = top.localCheckpoint()
    require(kept.limit(1).count() == 1L,
      s"knNgramFit: train corpus has no $order-grams (every doc <$order tokens)")
    knNgramTower(kept, vc, NoKeys, order, d, _.localCheckpoint())
  }

  /** The level-n raw count table (level k's keys are the LAST k gram
    * positions) and the one-row-per-group V scalar — the fit's only
    * corpus-sized derivations. */
  private def knNgramTrainTables(train: DataFrame, keys: Keys, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    // id slot unused by the fit (pruned by Catalyst after the groupBy)
    val top = transitionsN(train, keys, textCol, textCol, n)
      .groupBy(keys.moved("__", s"__c$n") ++
        (1 to n).map(j => col(s"__g$j").as(s"__c${n}k$j")): _*)
      .agg(count(lit(1)).as(s"__cnt$n"))
    val vc = keys.nonNull(train.select(keys.aliased("__v") :+
        explode(tokens(col(textCol))).as("__uni"): _*), "__v")
      .groupBy(keys.cols("__v"): _*)
      .agg((count_distinct(col("__uni")) + lit(1L)).as("__vv"))
    (top, vc)
  }

  /** The KN tower from the level-n raw count table and the one-row V
    * scalar: every lower level derives from the level above, so the top
    * table IS the sufficient statistic (the from-scratch fit and the
    * merged daily state both feed it). `keep` is applied to every derived
    * table as it is built — `identity` for the one-plan lazy tower,
    * `localCheckpoint` for a materialized model (each level then derives
    * from the frozen level above, never from the corpus again). With
    * keys, every table carries them: one tower per group. */
  private def knNgramTower(top: DataFrame, vc: DataFrame, keys: Keys, n: Int,
      d: Double, keep: DataFrame => DataFrame): KnNgramModel = {
    var cks = Map(n -> top)
    var lks = Map.empty[Int, DataFrame]
    for (k <- n to 2 by -1) {
      lks += k -> keep(cks(k)
        .groupBy(keys.moved(s"__c$k", s"__l$k") ++
          (1 until k).map(j => col(s"__c${k}k$j").as(s"__l${k}k$j")): _*)
        .agg(sum(col(s"__cnt$k")).as(s"__ctx$k"), count(lit(1)).as(s"__t$k")))
      if (k > 2)
        // continuation types: distinct leftmost extensions of level k
        cks += (k - 1) -> keep(cks(k)
          .groupBy(keys.moved(s"__c$k", s"__c${k - 1}") ++ (2 to k).map(j =>
            col(s"__c${k}k$j").as(s"__c${k - 1}k${j - 1}")): _*)
          .agg(count(lit(1)).as(s"__cnt${k - 1}")))
    }
    val c1 = cks(2)
      .groupBy(keys.moved("__c2", "__c1") :+ col("__c2k2").as("__c1k1"): _*)
      .agg(count(lit(1)).as("__cnt1"))
    val bt = cks(2).groupBy(keys.moved("__c2", "__t"): _*)
      .agg(count(lit(1)).as("__b"), count_distinct(col("__c2k2")).as("__t"))
    KnNgramModel(n, d, cks + (1 -> keep(c1)), lks,
      keep(keys.joinTotals(bt, "__t", vc, "__v")))
  }

  /** p_order(w|h) over a score row joined with every tower table (the
    * column names [[scoreGrams]] joins for the KN family).
    * LINEAR-TREE backoff: the naive when(null, p).otherwise(..p..) embeds
    * p TWICE per level — 2^(order-1) copies of the unigram subtree, and
    * Catalyst planning of the duplicated tree cost more than the query's
    * data at order 5 (BENCH_NOTES r12 receipt). The (A + B·p)/C form
    * references p ONCE per level and is BIT-IDENTICAL: the null-context
    * branch sets A=0, B=1, C=1, and adding +0.0, multiplying by 1.0, and
    * dividing by 1.0 are exact IEEE identities on a strictly positive p;
    * the non-null branch keeps the original grouping ((d·t)·p —
    * lit(d)*col(t)*p was already left-associated). */
  private def knProb(n: Int, d: Double): Column = {
    var p = (greatest(coalesce(col("__cnt1"), lit(0L)).cast("double") - lit(d),
      lit(0.0)) + lit(d) * col("__t").cast("double") / col("__vv").cast("double")) /
      col("__b").cast("double")
    for (k <- 2 to n) {
      val ctxNull = col(s"__ctx$k").isNull
      val a = when(ctxNull, lit(0.0)).otherwise(
        greatest(coalesce(col(s"__cnt$k"), lit(0L)).cast("double") - lit(d),
          lit(0.0)))
      val b = when(ctxNull, lit(1.0)).otherwise(
        lit(d) * col(s"__t$k").cast("double"))
      val c = when(ctxNull, lit(1.0)).otherwise(col(s"__ctx$k").cast("double"))
      p = (a + b * p) / c
    }
    p
  }

  /** Score a frame under a KN tower — stateless (one pass over `score`,
    * probing the tower's tables). Returns (idCol, n_trans,
    * kn{order}_loss). */
  def knNgramScoreWith(model: KnNgramModel, score: DataFrame,
      idCol: String, textCol: String): DataFrame =
    knScore(model, NoKeys, score, idCol, textCol)

  private def knScore(model: KnNgramModel, keys: Keys, score: DataFrame,
      idCol: String, textCol: String): DataFrame =
    scoreGrams(keys, score, idCol, textCol, model.order, "c", "l",
      model.counts, model.contexts, model.totals,
      knProb(model.order, model.d), s"kn${model.order}_loss")

  /** The one scoring path of both LM families: join the order-n score
    * grams to a fitted model's level tables — `counts(k)` (k = n..1)
    * keyed by `__{c}{k}k1..`, `contexts(k)` (k = n..2) by `__{l}{k}k1..`
    * (score gram j meets level-k key j at offset n−k), each also by the
    * group keys — attach the per-group `totals` ([[Keys.withTotals]]),
    * and reduce the ln-quantized `prob` to one row per doc:
    * (by…, idCol, n_trans, lossCol), the loss the mean negative ln
    * summed as an exact decimal with one IEEE finalize. */
  private def scoreGrams(keys: Keys, score: DataFrame, idCol: String,
      textCol: String, n: Int, c: String, l: String,
      counts: Map[Int, DataFrame], contexts: Map[Int, DataFrame],
      totals: DataFrame, prob: Column, lossCol: String): DataFrame = {
    // Spark resolves names case-insensitively: a clash would let the
    // loss column replace the id (or a key) without a word
    val out = keys.by ++ Seq(idCol, "n_trans", lossCol)
    val clash = out.groupBy(_.toLowerCase(java.util.Locale.ROOT)).values.find(_.size > 1)
    require(clash.isEmpty, s"output column '${clash.get.head}' is named twice in" +
      s" ${out.mkString("(", ", ", ")")}: rename the id or key column")
    def on(t: String, k: Int, width: Int): Column =
      (keys.on("__", s"__$t$k") ++ (1 to width).map(j =>
        col(s"__g${n - k + j}") === col(s"__$t${k}k$j"))).reduce(_ && _)
    keys.withTotals(transitionsN(score, keys, idCol, textCol, n), totals) {
        rows =>
          (n to 2 by -1).foldLeft(rows)((r, k) => r
            .join(counts(k), on(c, k, k), "left")
            .join(contexts(k), on(l, k, k - 1), "left"))
            .join(counts(1), on(c, 1, 1), "left")
      }
      .select(keys.cols("__") ++ Seq(col("__id"), lnQ(prob).as("__lp")): _*)
      .groupBy(keys.restored :+ col("__id").as(idCol): _*)
      .agg(count(lit(1)).as("n_trans"), sum(col("__lp")).as("__s"))
      .withColumn(lossCol,
        -(col("__s").cast("double")) / col("n_trans").cast("double"))
      .drop("__s")
  }

  /** DuckDB twin of [[knNgramLogLoss]] — the tower generated at the same
    * depth, token for token (nested CASE backoff, type tables derived
    * level from level). */
  def knNgramLogLossSql(idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, order: Int,
      d: Double = 0.75): String = {
    require(order >= 2, s"knNgramLogLossSql needs order >= 2 (got $order)")
    val n = order
    def gramSelect = (1 to n).map(j =>
      s"unnest([w[i+${j - 1}] for i in range(1, len(w) - ${n - 2})]) AS g$j")
      .mkString(", ")
    val levelCtes = (n to 2 by -1).flatMap { k =>
      val ck =
        if (k == n)
          (s"c$n AS (SELECT " + (1 to n).map(j => s"g$j AS k$j").mkString(", ")
            + s", count(*)::BIGINT AS cnt FROM trt GROUP BY "
            + (1 to n).mkString(", ") + ")")
        else
          (s"c$k AS (SELECT " + (2 to k + 1).map(j => s"k$j AS k${j - 1}")
            .mkString(", ") + s", count(*)::BIGINT AS cnt FROM c${k + 1}"
            + " GROUP BY " + (1 to k).mkString(", ") + ")")
      val lk = (s"l$k AS (SELECT " + (1 until k).map(j => s"k$j").mkString(", ")
        + s", sum(cnt)::BIGINT AS ctx, count(*)::BIGINT AS t FROM c$k GROUP BY "
        + (1 until k).mkString(", ") + ")")
      Seq(ck, lk)
    }
    val c1 = "c1 AS (SELECT k2 AS k1, count(*)::BIGINT AS cnt FROM c2 GROUP BY 1)"
    val tot = ("tot AS (SELECT count(*)::BIGINT AS b,"
      + " count(DISTINCT k2)::BIGINT AS t,"
      + " (SELECT count(DISTINCT u) + 1 FROM (SELECT unnest(w) AS u FROM trd))::BIGINT AS v"
      + " FROM c2)")
    val joins = (n to 2 by -1).map { k =>
      val onC = (1 to k).map(j => s"sct.g${n - k + j} = c$k.k$j").mkString(" AND ")
      val onL = (1 until k).map(j => s"sct.g${n - k + j} = l$k.k$j").mkString(" AND ")
      s" LEFT JOIN c$k ON $onC LEFT JOIN l$k ON $onL"
    }.mkString("") + s" LEFT JOIN c1 ON sct.g$n = c1.k1 CROSS JOIN tot"
    var p = (s"(greatest(coalesce(c1.cnt, 0)::DOUBLE - $d, 0.0)"
      + s" + $d * tot.t::DOUBLE / tot.v::DOUBLE) / tot.b::DOUBLE")
    // linear-tree backoff — the (A + B·p)/C form of the Spark side,
    // token for token (see knNgramLogLoss: bit-identical to the nested
    // CASE, one p reference per level)
    for (k <- 2 to n)
      p = (s"((CASE WHEN l$k.ctx IS NULL THEN 0.0"
        + s" ELSE greatest(coalesce(c$k.cnt, 0)::DOUBLE - $d, 0.0) END"
        + s" + CASE WHEN l$k.ctx IS NULL THEN 1.0"
        + s" ELSE $d * l$k.t::DOUBLE END * ($p))"
        + s" / CASE WHEN l$k.ctx IS NULL THEN 1.0 ELSE l$k.ctx::DOUBLE END)")
    (s"WITH trd AS (SELECT string_split($textExpr, ' ') AS w FROM $trainFrom"
      + s" WHERE $textExpr IS NOT NULL),"
      + s" trt AS (SELECT $gramSelect FROM trd WHERE len(w) >= $n),"
      + levelCtes.mkString(" ", ", ", ",")
      + s" $c1, $tot,"
      + s" scd AS (SELECT $idExpr AS id, string_split($textExpr, ' ') AS w"
      + s" FROM $scoreFrom WHERE $textExpr IS NOT NULL),"
      + s" sct AS (SELECT id, $gramSelect FROM scd WHERE len(w) >= $n),"
      + s" pr AS (SELECT sct.id, $p AS p FROM sct$joins),"
      + " sc AS (SELECT id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + s" -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS kn${n}_loss"
      + " FROM sc GROUP BY 1 ORDER BY 1")
  }

  /** DuckDB twin of [[knNgramLogLoss]] with one `by` key —
    * [[knNgramLogLossSql]] with the group key threaded through every
    * table. */
  def knNgramLogLossBySql(groupExpr: String, idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, order: Int,
      d: Double = 0.75): String = {
    require(order >= 2, s"knNgramLogLossBySql needs order >= 2 (got $order)")
    val n = order
    def gramSelect = (1 to n).map(j =>
      s"unnest([w[i+${j - 1}] for i in range(1, len(w) - ${n - 2})]) AS g$j")
      .mkString(", ")
    val levelCtes = (n to 2 by -1).flatMap { k =>
      val ck =
        if (k == n)
          (s"c$n AS (SELECT g, " + (1 to n).map(j => s"g$j AS k$j").mkString(", ")
            + s", count(*)::BIGINT AS cnt FROM trt GROUP BY "
            + (1 to n + 1).mkString(", ") + ")")
        else
          (s"c$k AS (SELECT g, " + (2 to k + 1).map(j => s"k$j AS k${j - 1}")
            .mkString(", ") + s", count(*)::BIGINT AS cnt FROM c${k + 1}"
            + " GROUP BY " + (1 to k + 1).mkString(", ") + ")")
      val lk = (s"l$k AS (SELECT g, " + (1 until k).map(j => s"k$j").mkString(", ")
        + s", sum(cnt)::BIGINT AS ctx, count(*)::BIGINT AS t FROM c$k GROUP BY "
        + (1 to k).mkString(", ") + ")")
      Seq(ck, lk)
    }
    val c1 = ("c1 AS (SELECT g, k2 AS k1, count(*)::BIGINT AS cnt FROM c2"
      + " GROUP BY 1, 2)")
    val tot = ("tot AS (SELECT b.g, b.b, b.t, v.v FROM"
      + " (SELECT g, count(*)::BIGINT AS b, count(DISTINCT k2)::BIGINT AS t"
      + " FROM c2 GROUP BY 1) b JOIN"
      + " (SELECT g, (count(DISTINCT u) + 1)::BIGINT AS v FROM"
      + " (SELECT g, unnest(w) AS u FROM trd) GROUP BY 1) v ON b.g = v.g)")
    val joins = (n to 2 by -1).map { k =>
      val onC = (s"sct.g = c$k.g AND "
        + (1 to k).map(j => s"sct.g${n - k + j} = c$k.k$j").mkString(" AND "))
      val onL = (s"sct.g = l$k.g AND "
        + (1 until k).map(j => s"sct.g${n - k + j} = l$k.k$j").mkString(" AND "))
      s" LEFT JOIN c$k ON $onC LEFT JOIN l$k ON $onL"
    }.mkString("") + (s" LEFT JOIN c1 ON sct.g = c1.g AND sct.g$n = c1.k1"
      + " JOIN tot ON sct.g = tot.g")
    var p = (s"(greatest(coalesce(c1.cnt, 0)::DOUBLE - $d, 0.0)"
      + s" + $d * tot.t::DOUBLE / tot.v::DOUBLE) / tot.b::DOUBLE")
    for (k <- 2 to n)
      p = (s"((CASE WHEN l$k.ctx IS NULL THEN 0.0"
        + s" ELSE greatest(coalesce(c$k.cnt, 0)::DOUBLE - $d, 0.0) END"
        + s" + CASE WHEN l$k.ctx IS NULL THEN 1.0"
        + s" ELSE $d * l$k.t::DOUBLE END * ($p))"
        + s" / CASE WHEN l$k.ctx IS NULL THEN 1.0 ELSE l$k.ctx::DOUBLE END)")
    (s"WITH trd AS (SELECT $groupExpr AS g, string_split($textExpr, ' ') AS w"
      + s" FROM $trainFrom WHERE $textExpr IS NOT NULL AND $groupExpr IS NOT NULL),"
      + s" trt AS (SELECT g, $gramSelect FROM trd WHERE len(w) >= $n),"
      + levelCtes.mkString(" ", ", ", ",")
      + s" $c1, $tot,"
      + s" scd AS (SELECT $groupExpr AS g, $idExpr AS id,"
      + s" string_split($textExpr, ' ') AS w"
      + s" FROM $scoreFrom WHERE $textExpr IS NOT NULL AND $groupExpr IS NOT NULL),"
      + s" sct AS (SELECT g, id, $gramSelect FROM scd WHERE len(w) >= $n),"
      + s" pr AS (SELECT sct.g, sct.id, $p AS p FROM sct$joins),"
      + " sc AS (SELECT g, id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT g AS $groupExpr, id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + s" -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS kn${n}_loss"
      + " FROM sc GROUP BY 1, 2 ORDER BY 1, 2")
  }

  /** MERGEABLE ORDER-N KN model state (VERDICT r12 #4) — the
    * [[graft.operators.AggState]] pattern applied to the fit: the ONLY
    * corpus-sized derivations in
    * [[knNgramLogLoss]] are the level-n raw gram counts and the unigram
    * counts — exact integer sums, associative/commutative — and EVERY
    * lower level of the Chen-Goodman tower is a type-table regroup of
    * the level above, so (n-gram, cnt) + (unigram, cnt) is the complete
    * sufficient statistic at any depth. A daily pipeline folds each
    * day's text once, merges by union+regroup, and finalize ≡
    * from-scratch fit on the union EXACTLY (q_kn5_state shares
    * q_kn5_loss's oracle SQL verbatim). */
  final case class KnNgramState(order: Int, grams: DataFrame, unigrams: DataFrame)

  /** Fold a train frame ONCE into its order-n mergeable state: exact
    * (g1..gn, cnt) gram counts and (u, cnt) unigram counts. */
  def knNgramState(train: DataFrame, textCol: String, order: Int): KnNgramState = {
    require(order >= 2, s"knNgramState needs order >= 2 (got $order)")
    KnNgramState(order,
      transitionsN(train, NoKeys, textCol, textCol, order)
        .groupBy((1 to order).map(j => col(s"__g$j")): _*)
        .agg(count(lit(1)).as("__cnt")),
      train.select(explode(tokens(col(textCol))).as("__u"))
        .groupBy(col("__u")).agg(count(lit(1)).as("__ucnt")))
  }

  /** Merge two order-n states: per-table union + regroup — the
    * integer-sum fold, order-invariant by associativity. */
  def mergeKnNgramStates(a: KnNgramState, b: KnNgramState): KnNgramState = {
    require(a.order == b.order,
      s"cannot merge KN states of different orders (${a.order} vs ${b.order})")
    KnNgramState(a.order,
      a.grams.unionByName(b.grams)
        .groupBy((1 to a.order).map(j => col(s"__g$j")): _*)
        .agg(sum(col("__cnt")).as("__cnt")),
      a.unigrams.unionByName(b.unigrams)
        .groupBy(col("__u")).agg(sum(col("__ucnt")).as("__ucnt")))
  }

  /** Score under a merged state — re-derives the whole tower from the
    * state's top table ([[knNgramTower]], the same code path the
    * from-scratch fit runs), bit-identical to [[knNgramLogLoss]] on the
    * concatenated corpus. */
  def knNgramLogLossFromState(
      state: KnNgramState,
      score: DataFrame,
      idCol: String,
      textCol: String,
      d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, s"discount d must be in (0,1) (got $d)")
    val (top, vc) = knNgramStateTables(state, "knNgramLogLossFromState")
    knNgramScoreWith(knNgramTower(top, vc, NoKeys, state.order, d, identity),
      score, idCol, textCol)
  }

  /** Finalize a state into a scoring-ready [[KnNgramModel]] with every
    * tower table materialized — bit-identical to [[knNgramFit]] on the
    * concatenated corpus, because every tower table is a deterministic
    * function of the raw counts. */
  def knNgramModel(state: KnNgramState, d: Double = 0.75): KnNgramModel = {
    require(d > 0 && d < 1, s"discount d must be in (0,1) (got $d)")
    val (top, vc) = knNgramStateTables(state, "knNgramModel")
    knNgramTower(top, vc, NoKeys, state.order, d, _.localCheckpoint())
  }

  /** The state's top table and V scalar, localCheckpointed before the
    * tower derives from them: every tower level re-reads the top table,
    * so an un-materialized merge tree would re-execute the whole state
    * union per level (measured: 55 shuffles vs the from-scratch fit's 27
    * in the q_kn5_state plan before this). */
  private def knNgramStateTables(state: KnNgramState, caller: String)
      : (DataFrame, DataFrame) = {
    val n = state.order
    val top = state.grams.select(
      (1 to n).map(j => col(s"__g$j").as(s"__c${n}k$j"))
        :+ col("__cnt").as(s"__cnt$n"): _*)
      .localCheckpoint()
    require(top.limit(1).count() == 1L, s"$caller: state holds no $n-grams")
    val vc = state.unigrams.agg((count(lit(1)) + lit(1L)).as("__vv"))
      .localCheckpoint()
    (top, vc)
  }

  /** Persist/reload the order-n state (the AggState-at-rest shape): two
    * parquet tables under `dir` plus an `order` meta row so a reload
    * cannot silently mis-depth — the daily loop reads, merges the day's
    * [[knNgramState]], rewrites. */
  def writeKnNgramState(state: KnNgramState, dir: String): Unit = {
    val s = state.grams.sparkSession
    import s.implicits._
    state.grams.write.mode("overwrite").parquet(s"$dir/grams")
    state.unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
    Seq(state.order).toDF("order").write.mode("overwrite").parquet(s"$dir/meta")
  }

  def readKnNgramState(spark: org.apache.spark.sql.SparkSession,
      dir: String): KnNgramState =
    KnNgramState(
      Parquet.read(spark, s"$dir/meta").head().getInt(0),
      Parquet.read(spark, s"$dir/grams"),
      Parquet.read(spark, s"$dir/unigrams"))

  /** STUPID BACKOFF n-gram scoring (Brants, Popat, Xu, Och & Dean,
    * "Large Language Models in Machine Translation", EMNLP 2007 §4) —
    * the smoothing web-scale LMs actually ship when Kneser-Ney's
    * continuation-count tables are too expensive to build at corpus
    * size. No discounting, no normalization — seen n-grams score by
    * raw relative frequency, unseen ones back off with a fixed penalty:
    *
    *   S_k(w|h) = c_k(hw) / c_k(h·)    if c_k(hw) > 0
    *            = α · S_{k−1}(w|h')    otherwise        (α = 0.4, Brants §4)
    *   S_1(w)   = c_1(w) / N           if c_1(w) > 0
    *            = 1 / N                otherwise (OOV floor: one unseen
    *                                   token-occurrence of mass; Brants
    *                                   leave OOV to the consumer — this
    *                                   floor keeps every score strictly
    *                                   positive, the kn-family contract)
    *
    * S is a SCORE, not a probability (it does not sum to 1 — Brants §4
    * note "not normalized"); `sb{order}_loss` = −mean ln S is therefore
    * a ranking signal comparable only under the same model, which is
    * exactly how the perplexity-filter deployment uses it.
    *
    * KN-family contrast (why both exist): [[knNgramLogLoss]] needs the
    * continuation TYPE tables (distinct-count regroups per level);
    * stupid backoff needs only RAW count tables — each level is one
    * hash agg, map-side combined, and the whole fit is mergeable by
    * integer summation (the [[KnNgramState]] pattern applies verbatim
    * to every level's table). Note the levels are NOT derivable from
    * the top table alone: a doc with k ≤ len < order tokens contributes
    * level-k grams but no order-grams (and every doc's last positions
    * contribute short grams only), so each level aggregates its own
    * explode of the same token arrays — `order` passes over the text
    * column at fit time, each a projection-only scan; a fit-once
    * deployment persists the count tables (the [[KnNgramModel]]
    * at-rest convention) and never rescans.
    *
    * Score docs need ≥order tokens (n_trans = n−order+1); shorter/NULL
    * docs are absent. Output (by…, idCol, n_trans, sb{order}_loss).
    *
    * Grouping (`by`, default none; VERDICT r12 stretch #8 — the CCNet
    * per-language composition): ONE independent model PER GROUP, every
    * level's count table, the context sums and the unigram total N
    * carrying the keys, so the whole fit+score is hash-partitioned by
    * group — no driver loop. Score docs whose group has NO train TOKENS
    * are ABSENT (no model — the inner join on the per-group N total),
    * as are rows with a NULL key; a group with tokens but no level-k
    * grams scores through backoff (α per unseen level down to the
    * unigram/OOV floor), which is exactly SB's semantics. Without keys
    * a train corpus with no order-grams fails fast instead.
    *
    * Determinism: every score is one fixed-shape IEEE
    * expression over exact integer counts, ln-quantized and summed as
    * exact decimals ([[TextAnalysis.lnQ]]); backoff builds as the
    * LINEAR tree (A + B·S)/1 with exact identity branches (B=0 kills
    * the unused lower level exactly; A=0 passes α·S through exactly) —
    * one S reference per level, the knNgramLogLoss planning fix.
    * [[sbNgramLogLossSql]] mirrors it token for token. */
  def sbNgramLogLoss(
      train: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String,
      order: Int,
      by: Seq[String] = Nil,
      alpha: Double = 0.4): DataFrame = {
    require(order >= 2, s"sbNgramLogLoss needs order >= 2 (got $order)")
    require(alpha > 0 && alpha < 1, s"backoff alpha must be in (0,1) (got $alpha)")
    val n = order
    val keys = Keys(by)
    // level-k RAW counts, each from its own explode of the train text
    // (levels are not marginals of the top table — see Scaladoc)
    val cks = (2 to n).map { k =>
      k -> transitionsN(train, keys, textCol, textCol, k)
        .groupBy(keys.moved("__", s"__s$k") ++
          (1 to k).map(j => col(s"__g$j").as(s"__s${k}k$j")): _*)
        .agg(count(lit(1)).as(s"__scnt$k"))
    }.toMap
    val c1 = keys.nonNull(train.select(keys.aliased("__s1") :+
        explode(tokens(col(textCol))).as("__s1k1"): _*), "__s1")
      .groupBy(keys.cols("__s1") :+ col("__s1k1"): _*)
      .agg(count(lit(1)).as("__scnt1"))
    keys.failFast(cks(n),
      s"sbNgramLogLoss: train corpus has no $n-grams (every doc <$n tokens)")(
      sbScore(cks, c1, keys, score, idCol, textCol, n, alpha))
  }

  /** SB scoring from the per-level raw count tables + unigram counts —
    * shared by [[sbNgramLogLoss]] (from-scratch fit) and
    * [[sbNgramLogLossFromState]] (merged daily state): context sums and
    * the N total are regroups/aggregates of those tables, the score
    * expression is S above, and [[scoreGrams]] does the rest. */
  private def sbScore(
      cks: Map[Int, DataFrame],
      c1: DataFrame,
      keys: Keys,
      score: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      alpha: Double): DataFrame = {
    // level-k context sums c_k(h·) — a regroup of the level table
    val lks = (2 to n).map { k =>
      k -> cks(k)
        .groupBy(keys.moved(s"__s$k", s"__x$k") ++
          (1 until k).map(j => col(s"__s${k}k$j").as(s"__x${k}k$j")): _*)
        .agg(sum(col(s"__scnt$k")).as(s"__sctx$k"))
    }.toMap
    val totals = c1.groupBy(keys.moved("__s1", "__t"): _*)
      .agg(sum(col("__scnt1")).as("__nn"))
    var sS = coalesce(col("__scnt1"), lit(1L)).cast("double") /
      col("__nn").cast("double")
    for (k <- 2 to n) {
      val seen = col(s"__scnt$k").isNotNull
      val a = when(seen, col(s"__scnt$k").cast("double") /
        col(s"__sctx$k").cast("double")).otherwise(lit(0.0))
      val b = when(seen, lit(0.0)).otherwise(lit(alpha))
      sS = a + b * sS
    }
    scoreGrams(keys, score, idCol, textCol, n, "s", "x", cks + (1 -> c1), lks,
      totals, sS, s"sb${n}_loss")
  }

  /** DuckDB twin of [[sbNgramLogLoss]] with one `by` key —
    * [[sbNgramLogLossSql]] with the group key threaded through every
    * table. */
  def sbNgramLogLossBySql(groupExpr: String, idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, order: Int,
      alpha: Double = 0.4): String = {
    require(order >= 2, s"sbNgramLogLossBySql needs order >= 2 (got $order)")
    val n = order
    def gramSelect(k: Int) = (1 to k).map(j =>
      s"unnest([w[i+${j - 1}] for i in range(1, len(w) - ${k - 2})]) AS g$j")
      .mkString(", ")
    val levelCtes = (2 to n).flatMap { k =>
      val tk = (s"trt$k AS (SELECT g, ${gramSelect(k)} FROM trd"
        + s" WHERE len(w) >= $k)")
      val sk = (s"s$k AS (SELECT g, " + (1 to k).map(j => s"g$j AS k$j")
        .mkString(", ")
        + s", count(*)::BIGINT AS cnt FROM trt$k GROUP BY "
        + (1 to k + 1).mkString(", ") + ")")
      val xk = (s"x$k AS (SELECT g, " + (1 until k).map(j => s"k$j").mkString(", ")
        + s", sum(cnt)::BIGINT AS ctx FROM s$k GROUP BY "
        + (1 to k).mkString(", ") + ")")
      Seq(tk, sk, xk)
    }
    val s1 = ("s1 AS (SELECT g, u AS k1, count(*)::BIGINT AS cnt FROM"
      + " (SELECT g, unnest(w) AS u FROM trd) GROUP BY 1, 2)")
    val tot = "tot AS (SELECT g, sum(cnt)::BIGINT AS n FROM s1 GROUP BY 1)"
    val joins = (n to 2 by -1).map { k =>
      val onS = (s"sct.g = s$k.g AND "
        + (1 to k).map(j => s"sct.g${n - k + j} = s$k.k$j").mkString(" AND "))
      val onX = (s"sct.g = x$k.g AND "
        + (1 until k).map(j => s"sct.g${n - k + j} = x$k.k$j").mkString(" AND "))
      s" LEFT JOIN s$k ON $onS LEFT JOIN x$k ON $onX"
    }.mkString("") + (s" LEFT JOIN s1 ON sct.g = s1.g AND sct.g$n = s1.k1"
      + " JOIN tot ON sct.g = tot.g")
    var p = "coalesce(s1.cnt, 1)::DOUBLE / tot.n::DOUBLE"
    for (k <- 2 to n)
      p = (s"(CASE WHEN s$k.cnt IS NULL THEN 0.0"
        + s" ELSE s$k.cnt::DOUBLE / x$k.ctx::DOUBLE END"
        + s" + CASE WHEN s$k.cnt IS NULL THEN $alpha ELSE 0.0 END * ($p))")
    (s"WITH trd AS (SELECT $groupExpr AS g, string_split($textExpr, ' ') AS w"
      + s" FROM $trainFrom WHERE $textExpr IS NOT NULL AND $groupExpr IS NOT NULL),"
      + levelCtes.mkString(" ", ", ", ",")
      + s" $s1, $tot,"
      + s" scd AS (SELECT $groupExpr AS g, $idExpr AS id,"
      + s" string_split($textExpr, ' ') AS w"
      + s" FROM $scoreFrom WHERE $textExpr IS NOT NULL AND $groupExpr IS NOT NULL),"
      + s" sct AS (SELECT g, id, ${gramSelect(n)} FROM scd WHERE len(w) >= $n),"
      + s" pr AS (SELECT sct.g, sct.id, $p AS p FROM sct$joins),"
      + " sc AS (SELECT g, id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT g AS $groupExpr, id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + s" -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS sb${n}_loss"
      + " FROM sc GROUP BY 1, 2 ORDER BY 1, 2")
  }

  /** MERGEABLE STUPID-BACKOFF model state (VERDICT r12 #4): SB's whole
    * fit is raw count tables — level-k gram counts (k = 2..order, each
    * from its own explode: levels are NOT marginals of the top table,
    * see [[sbNgramLogLoss]]) plus unigram counts — every one an exact
    * integer sum, so the [[KnNgramState]] merge pattern applies
    * verbatim per level. finalize ≡ from-scratch fit exactly
    * (q_sb5_state shares q_sb5_loss's oracle SQL). */
  final case class SbNgramState(order: Int, levels: Map[Int, DataFrame],
      unigrams: DataFrame)

  /** Fold a train frame ONCE (per level) into its mergeable SB state:
    * (g1..gk, cnt) for each k = 2..order plus (u, cnt) unigrams. */
  def sbNgramState(train: DataFrame, textCol: String, order: Int): SbNgramState = {
    require(order >= 2, s"sbNgramState needs order >= 2 (got $order)")
    SbNgramState(order,
      (2 to order).map { k =>
        k -> transitionsN(train, NoKeys, textCol, textCol, k)
          .groupBy((1 to k).map(j => col(s"__g$j")): _*)
          .agg(count(lit(1)).as("__cnt"))
      }.toMap,
      train.select(explode(tokens(col(textCol))).as("__u"))
        .groupBy(col("__u")).agg(count(lit(1)).as("__ucnt")))
  }

  /** Merge two SB states: per-level union + regroup. */
  def mergeSbNgramStates(a: SbNgramState, b: SbNgramState): SbNgramState = {
    require(a.order == b.order,
      s"cannot merge SB states of different orders (${a.order} vs ${b.order})")
    SbNgramState(a.order,
      (2 to a.order).map { k =>
        k -> a.levels(k).unionByName(b.levels(k))
          .groupBy((1 to k).map(j => col(s"__g$j")): _*)
          .agg(sum(col("__cnt")).as("__cnt"))
      }.toMap,
      a.unigrams.unionByName(b.unigrams)
        .groupBy(col("__u")).agg(sum(col("__ucnt")).as("__ucnt")))
  }

  /** Score under a merged SB state — the same scoring path as the
    * from-scratch fit over the state's renamed tables, bit-identical to
    * [[sbNgramLogLoss]] on the concatenated corpus. */
  def sbNgramLogLossFromState(
      state: SbNgramState,
      score: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"backoff alpha must be in (0,1) (got $alpha)")
    val n = state.order
    // localCheckpoint each merged level (the knNgramLogLossFromState
    // rationale): the context-sum regroup re-reads every level table
    val cks = (2 to n).map { k =>
      k -> state.levels(k).select(
        (1 to k).map(j => col(s"__g$j").as(s"__s${k}k$j"))
          :+ col("__cnt").as(s"__scnt$k"): _*)
        .localCheckpoint()
    }.toMap
    require(cks(n).limit(1).count() == 1L,
      s"sbNgramLogLossFromState: state holds no $n-grams")
    val c1 = state.unigrams.select(col("__u").as("__s1k1"),
      col("__ucnt").as("__scnt1"))
      .localCheckpoint()
    sbScore(cks, c1, NoKeys, score, idCol, textCol, n, alpha)
  }

  /** Persist/reload the SB state: one parquet table per level plus the
    * order meta row. */
  def writeSbNgramState(state: SbNgramState, dir: String): Unit = {
    val s = state.unigrams.sparkSession
    import s.implicits._
    (2 to state.order).foreach(k =>
      state.levels(k).write.mode("overwrite").parquet(s"$dir/level$k"))
    state.unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
    Seq(state.order).toDF("order").write.mode("overwrite").parquet(s"$dir/meta")
  }

  def readSbNgramState(spark: org.apache.spark.sql.SparkSession,
      dir: String): SbNgramState = {
    val order = Parquet.read(spark, s"$dir/meta").head().getInt(0)
    SbNgramState(order,
      (2 to order).map(k => k -> Parquet.read(spark, s"$dir/level$k")).toMap,
      Parquet.read(spark, s"$dir/unigrams"))
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al., LREC
    * 2020 §4.4) — the step AFTER the LM score: within each group
    * (CCNet: per language), rank documents by perplexity and cut the
    * ranking into three equal parts; "head" (most fluent third) feeds
    * high-quality training mixes, "tail" is dropped or down-weighted.
    * Composes with any scorer (the tokenizer-slot convention): pass the
    * frame [[knNgramLogLoss]] / [[sbNgramLogLoss]]
    * returned, joined with its group column.
    *
    * Exact rank arithmetic, not approximate percentiles: rn =
    * row_number over (group, ORDER BY loss, id), cnt = group size,
    * bucket = head iff 3·rn ≤ cnt, middle iff 3·rn ≤ 2·cnt, else tail —
    * all integer comparisons, deterministic under loss ties (id breaks
    * them). Output = input columns + `bucket`.
    *
    * Scale shape: the window partitions by group and sorts SCORE rows —
    * (group, id, loss) scalars, never document text (the text never
    * survives past its scorer's explode), so a 100 TB corpus buckets by
    * sorting ~16-byte pairs; one shuffle by group. Groups are
    * CCNet-coarse (languages/sources), so per-group sort is the
    * documented cost — a giant single group degrades to one sorted
    * partition of scalar pairs, the same bound as any exact ranking. */
  def perplexityBuckets(scored: DataFrame, groupCol: String, idCol: String,
      lossCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(lossCol), col(idCol))
    val wc = Window.partitionBy(col(groupCol))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wc))
      .withColumn("bucket",
        when(col("__rn") * 3 <= col("__cnt"), lit("head"))
          .when(col("__rn") * 3 <= col("__cnt") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .drop("__rn", "__cnt")
  }

  /** DuckDB twin of [[sbNgramLogLoss]] — per-level raw count tables
    * from their own unnests, the same linear backoff expression token
    * for token. */
  def sbNgramLogLossSql(idExpr: String, textExpr: String,
      trainFrom: String, scoreFrom: String, order: Int,
      alpha: Double = 0.4): String = {
    require(order >= 2, s"sbNgramLogLossSql needs order >= 2 (got $order)")
    val n = order
    def gramSelect(k: Int) = (1 to k).map(j =>
      s"unnest([w[i+${j - 1}] for i in range(1, len(w) - ${k - 2})]) AS g$j")
      .mkString(", ")
    val levelCtes = (2 to n).flatMap { k =>
      val tk = s"trt$k AS (SELECT ${gramSelect(k)} FROM trd WHERE len(w) >= $k)"
      val sk = (s"s$k AS (SELECT " + (1 to k).map(j => s"g$j AS k$j").mkString(", ")
        + s", count(*)::BIGINT AS cnt FROM trt$k GROUP BY "
        + (1 to k).mkString(", ") + ")")
      val xk = (s"x$k AS (SELECT " + (1 until k).map(j => s"k$j").mkString(", ")
        + s", sum(cnt)::BIGINT AS ctx FROM s$k GROUP BY "
        + (1 until k).mkString(", ") + ")")
      Seq(tk, sk, xk)
    }
    val s1 = ("s1 AS (SELECT u AS k1, count(*)::BIGINT AS cnt FROM"
      + " (SELECT unnest(w) AS u FROM trd) GROUP BY 1)")
    val tot = "tot AS (SELECT sum(cnt)::BIGINT AS n FROM s1)"
    val joins = (n to 2 by -1).map { k =>
      val onS = (1 to k).map(j => s"sct.g${n - k + j} = s$k.k$j").mkString(" AND ")
      val onX = (1 until k).map(j => s"sct.g${n - k + j} = x$k.k$j").mkString(" AND ")
      s" LEFT JOIN s$k ON $onS LEFT JOIN x$k ON $onX"
    }.mkString("") + s" LEFT JOIN s1 ON sct.g$n = s1.k1 CROSS JOIN tot"
    var p = "coalesce(s1.cnt, 1)::DOUBLE / tot.n::DOUBLE"
    for (k <- 2 to n)
      p = (s"(CASE WHEN s$k.cnt IS NULL THEN 0.0"
        + s" ELSE s$k.cnt::DOUBLE / x$k.ctx::DOUBLE END"
        + s" + CASE WHEN s$k.cnt IS NULL THEN $alpha ELSE 0.0 END * ($p))")
    (s"WITH trd AS (SELECT string_split($textExpr, ' ') AS w FROM $trainFrom"
      + s" WHERE $textExpr IS NOT NULL),"
      + levelCtes.mkString(" ", ", ", ",")
      + s" $s1, $tot,"
      + s" scd AS (SELECT $idExpr AS id, string_split($textExpr, ' ') AS w"
      + s" FROM $scoreFrom WHERE $textExpr IS NOT NULL),"
      + s" sct AS (SELECT id, ${gramSelect(n)} FROM scd WHERE len(w) >= $n),"
      + s" pr AS (SELECT sct.id, $p AS p FROM sct$joins),"
      + " sc AS (SELECT id, round(ln(p), 6)::DECIMAL(18,6) AS lp FROM pr)"
      + s" SELECT id AS $idExpr, count(*)::BIGINT AS n_trans,"
      + s" -(sum(lp)::DOUBLE) / count(*)::DOUBLE AS sb${n}_loss"
      + " FROM sc GROUP BY 1 ORDER BY 1")
  }
}
