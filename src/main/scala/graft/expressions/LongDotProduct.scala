package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** Exact integer dot product of two `array<long>` columns as a native
  * Catalyst expression with a tight codegen loop.
  *
  * Why a custom Expression (the brief's option (b)) instead of
  * composition: Spark's higher-order functions (`zip_with` + `aggregate`)
  * are CodegenFallback — interpreted per element with boxing — and a
  * fully unrolled `element_at` chain explodes generated-code size at
  * dim=64 (JIT bailout). A 5-line generated loop over the two ArrayData
  * is 10x+ faster on candidate-scoring paths that evaluate the dot once
  * per *pair*, and keeps the whole stage inside codegen.
  *
  * Null handling: null array -> null result (BinaryExpression default);
  * array *elements* are assumed non-null (quantized embeddings are), as
  * documented in [[graft.operators.Similarity.quantize]]. Lengths may
  * differ; the shorter length wins (same as `zip_with` after truncation —
  * embedding dims are uniform in practice).
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // Seq is covariant, so the public DataType satisfies the
  // Seq[AbstractDataType] contract (AbstractDataType is private[sql])
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dotq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions. Idempotent —
  * operator entry points call it defensively so any session that runs a
  * graft plan has the functions available. */
object GraftFunctions {
  val DotQ       = "graft_dotq"
  val VecSum     = "graft_vecsum"
  val RollingFp  = "graft_rolling_fp"
  val RollingFpPair   = "graft_rolling_fp_pair"
  val RollingFpTriple = "graft_rolling_fp_triple"

  /** The standard replayable fold families, in registry order: fp (31,
    * 1e9+7), fp2 (131, 998244353), fp3 (257, 1e9+9). */
  val FpFamilies: Seq[(Long, Long)] =
    Seq((31L, 1000000007L), (131L, 998244353L), (257L, 1000000009L))
  val OpSum      = "graft_opsum"
  val BpeDeep    = "graft_bpe_deep"
  val WordPieceF = "graft_wordpiece"
  val TopK       = "graft_topk"
  val Percentile = "graft_percentile"
  val MgSketch   = "graft_mg"
  val WordNgramsF = "graft_word_ngrams"
  val MinHashBandsF = "graft_minhash_bands"
  val SearchSorted = "graft_searchsorted"
  val BloomAgg      = "graft_bloom_agg"
  val BloomContains = "graft_bloom_contains"
  val HhChain       = "graft_householder_chain"
  val Nfc           = "graft_nfc"
  val Unscaled      = "graft_unscaled"
  val Sum128        = "graft_sum128"
  val MinBy         = "graft_min_by"
  val MaxBy         = "graft_max_by"
  val Running       = "graft_running"

  private def arity(name: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$name takes $n arguments, got ${exprs.length}")

  /** The single source of builder truth — consumed by both [[register]]
    * (programmatic) and [[graft.GraftExtensions]] (spark.sql.extensions),
    * so argument validation can't drift between the two surfaces. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    DotQ -> { exprs =>
      arity(DotQ, exprs, 2); LongDotProduct(exprs(0), exprs(1))
    },
    VecSum -> { exprs =>
      arity(VecSum, exprs, 1); VectorSumLong(exprs.head).toAggregateExpression()
    },
    // production-vocab BPE tokens: (text, packed-rules literal) —
    // Bpe.bpeDeepTokens builds the packed literal
    BpeDeep -> { exprs =>
      arity(BpeDeep, exprs, 2)
      if (!exprs(1).foldable) throw new IllegalArgumentException(
        s"$BpeDeep's second argument (packed rules) must be a literal")
      BpeDeepTokenize(exprs(0),
        exprs(1).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    },
    // WordPiece greedy longest-match tokens: (text, packed-vocab
    // literal) — WordPiece.wordpieceTokens builds the packed literal
    WordPieceF -> { exprs =>
      arity(WordPieceF, exprs, 2)
      if (!exprs(1).foldable) throw new IllegalArgumentException(
        s"$WordPieceF's second argument (packed vocab) must be a literal")
      WordPieceTokenize(exprs(0),
        exprs(1).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    },
    // fused k-step Householder rotation: (vector, packed-reflections
    // literal) — Similarity.householderRotateFused builds the literal
    HhChain -> { exprs =>
      arity(HhChain, exprs, 2)
      if (!exprs(1).foldable) throw new IllegalArgumentException(
        s"$HhChain's second argument (packed reflections) must be a literal")
      HouseholderChainRotate(exprs(0),
        exprs(1).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    },
    // one-pass (n, Σx, upper-triangle Σ x·xᵀ) second-moment statistic:
    // (vector, dim literal) — pcaHouseholder's covariance pass
    OpSum -> { exprs =>
      arity(OpSum, exprs, 2)
      if (!exprs(1).foldable) throw new IllegalArgumentException(
        s"$OpSum's second argument (dim) must be a literal")
      OuterProductSumLong(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
    },
    RollingFp -> { exprs =>
      arity(RollingFp, exprs, 1); RollingFingerprint(exprs.head)
    },
    // fused fold families: one char pass, N accumulators (NgramOverlap)
    RollingFpPair -> { exprs =>
      arity(RollingFpPair, exprs, 1)
      RollingFingerprints(exprs.head, FpFamilies.take(2))
    },
    RollingFpTriple -> { exprs =>
      arity(RollingFpTriple, exprs, 1)
      RollingFingerprints(exprs.head, FpFamilies)
    },
    // one-pass word n-grams: (text, n literal, distinct literal)
    WordNgramsF -> { exprs =>
      arity(WordNgramsF, exprs, 3)
      if (!exprs(1).foldable || !exprs(2).foldable) throw new IllegalArgumentException(
        s"$WordNgramsF's n and distinct arguments must be literals")
      WordNgrams(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Boolean])
    },
    // MinHash-LSH band keys per row: (shingles, bands literal, rows
    // literal) -> array<bigint> (Dedup.minhashBands)
    MinHashBandsF -> { exprs =>
      arity(MinHashBandsF, exprs, 3)
      if (!exprs(1).foldable || !exprs(2).foldable) throw new IllegalArgumentException(
        s"$MinHashBandsF's bands and rows arguments must be literals")
      MinHashBands(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())
    },
    SearchSorted -> { exprs =>
      arity(SearchSorted, exprs, 2); SearchSortedRight(exprs(0), exprs(1))
    },
    TopK -> { exprs =>
      arity(TopK, exprs, 3)
      if (!exprs(2).foldable) throw new IllegalArgumentException(
        s"$TopK's third argument (k) must be a literal")
      TopKByScore(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
    },
    // exact percentile(s) on primitive sorted runs: (value, q literal or
    // array literal of q) — the registry's median/quantile kernel
    Percentile -> { exprs =>
      arity(Percentile, exprs, 2)
      ExactPercentile(exprs(0), exprs(1)).toAggregateExpression()
    },
    // Misra-Gries frequent-items summary: (token, capacity literal) ->
    // array<struct<token,count>> superset of all items with frequency
    // > n/(capacity+1) (TextAnalysis.heavyHitters' candidate stage)
    MgSketch -> { exprs =>
      arity(MgSketch, exprs, 2)
      if (!exprs(1).foldable) throw new IllegalArgumentException(
        s"$MgSketch's second argument (capacity) must be a literal")
      MisraGriesSketch(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
    },
    // Spark's own runtime-filter Bloom machinery, surfaced as functions:
    // the aggregate folds LONG keys into a serialized
    // org.apache.spark.util.sketch.BloomFilter (expected-items literal
    // sizes it; Spark clamps to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits —
    // raise those confs for corpus-scale filters), and the probe is a
    // codegen'd might-contain against a BINARY literal of that filter.
    // Used by NgramOverlap.contaminatedDocsBloom's broadcast prefilter.
    BloomAgg -> { exprs =>
      arity(BloomAgg, exprs, 2)
      if (!exprs(1).foldable) throw new IllegalArgumentException(
        s"$BloomAgg's second argument (expected items) must be a literal")
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1).eval().asInstanceOf[Number].longValue())
        .toAggregateExpression()
    },
    BloomContains -> { exprs =>
      arity(BloomContains, exprs, 2)
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))
    },
    // Unicode NFC canonicalization (UAX #15) — the normalizeText
    // companion for corpora that mix composed/decomposed encoders
    Nfc -> { exprs =>
      arity(Nfc, exprs, 1); NfcNormalize(exprs.head)
    },
    // unscaled long of a compact decimal(<=18, s) — Catalyst's own
    // UnscaledValue, surfaced so the exact-decimal power sums can ride
    // the long-limb aggregate below
    Unscaled -> { exprs =>
      arity(Unscaled, exprs, 1)
      org.apache.spark.sql.catalyst.expressions.UnscaledValue(exprs.head)
    },
    // exact Σ x·y of two unscaled-decimal longs in a 128-bit limb
    // buffer, finalized to double once per group — bit-identical to
    // sum(dx*dy).cast(double) on the decimal forms (SumProduct128):
    // (x, y, product-scale literal)
    Sum128 -> { exprs =>
      arity(Sum128, exprs, 3)
      val sc = exprs(2)
      if (!sc.foldable || !Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(sc.dataType) || sc.eval() == null)
        throw new IllegalArgumentException(
          s"$Sum128's third argument (product scale) must be an integer" +
            s" literal (got ${sc.sql}: ${sc.dataType.simpleString})")
      SumProduct128(exprs(0), exprs(1),
        sc.eval().asInstanceOf[Number].intValue()).toAggregateExpression()
    },
    // min_by / max_by(payload, ordering) on the fixed-width ArgSelect
    // aggregate when the ordering is a (masked) two-field struct of
    // order-coded values; Spark's MinBy / MaxBy otherwise
    MinBy -> { exprs =>
      arity(MinBy, exprs, 2); ArgSelect.minBy(exprs(0), exprs(1))
    },
    MaxBy -> { exprs =>
      arity(MaxBy, exprs, 2); ArgSelect.maxBy(exprs(0), exprs(1))
    },
    // running aggregate of a scan: (function-name literal, value,
    // group keys...) — GroupByScan's fused replacement of a running
    // window frame
    Running -> { exprs =>
      if (exprs.length < 2 || !exprs(0).foldable || exprs(0).dataType != StringType)
        throw new IllegalArgumentException(
          s"$Running takes a function-name literal, a value and the group keys")
      RunningAggregate(exprs(0).eval().toString, exprs(1), exprs.drop(2))
    })

  /** Registers each builder the session does not resolve yet — a
    * session built with [[graft.GraftExtensions]] already has them all —
    * so repeat calls replace nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
