package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CacheScope, Dedup, Ewm, NgramOverlap, Similarity}

/** One cache lifecycle for the operator library (VERDICT r8 #4, ROADMAP
  * 3(b)): every operator persist goes through [[CacheScope.hold]], and a
  * [[CacheScope.releasing]] scope around the consuming action leaves the
  * session holding nothing the operator persisted.
  *
  *   - text audit: `.persist(` / `.cache()` / `.unpersist(` appear under
  *     src/main/scala/graft/operators only inside CacheScope;
  *   - behavioural table: every operator that once shipped a release-handle
  *     twin, on tiny inputs — the persists still happen (cache non-empty
  *     during the scope, except the self-releasing dupClusters), and the
  *     scope releases all of them;
  *   - scopes nest per thread, and checkpoint dropping fails loudly.
  */
class CacheLifecycleAuditSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def cm = spark.sharedState.cacheManager

  /** Persistent RDD ids that are not checkpoints: a localCheckpoint is
    * the lineage-truncated result an operator returns (dupClusters' label
    * rounds), owned by whoever holds the frame, not a cache entry. */
  private def cachedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !rdd.isCheckpointed => id
    }.toSet

  test("the only persist/unpersist site under operators/ is CacheScope") {
    val opDir = Paths.get("src/main/scala/graft/operators")
    val files = Files.list(opDir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.exists(_.getFileName.toString == "CacheScope.scala"))
    val sites = for {
      f <- files
      (l, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Seq(".persist(", ".cache()", ".unpersist(").exists(l.contains)
    } yield (f.getFileName.toString, i + 1)
    assert(sites.exists(_._1 == "CacheScope.scala"), "audit pattern drifted?")
    val offenders = sites.filterNot(_._1 == "CacheScope.scala")
    assert(offenders.isEmpty,
      s"persist sites outside CacheScope:\n${offenders.map(o => s"${o._1}:${o._2}").mkString("\n")}")
  }

  private val base = (1 to 30).map(i => s"w$i").mkString(" ")
  private val nearDup = ((1 to 15).map(i => s"w$i") ++ Seq("CHANGED") ++
    (17 to 30).map(i => s"w$i")).mkString(" ")
  private val unrelated = (1 to 30).map(i => s"u$i").mkString(" ")
  private def docs = Seq((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
    .toDF("doc_id", "text")
  private def batch = Seq((10L, nearDup), (11L, "fresh text here"))
    .toDF("doc_id", "text")
  private def vecs = Seq(
    (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.01f)), (3L, Seq(0.0f, 1.0f)),
    (4L, Seq(0.01f, 0.99f)), (5L, Seq(-1.0f, 0.0f)), (6L, Seq(0.7f, 0.7f))
  ).toDF("vec_id", "embedding")
  private def series = (0 until 12).map { i =>
    (i % 2L, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
      (i * 7 % 5).toDouble, (i * 3 % 4).toDouble)
  }.toDF("g", "i", "ts", "x", "y")
  private val cents = Array(Seq(1000000L, 0L), Seq(0L, 1000000L))

  // (operator, holds a cache entry past its own call, call)
  private val operators: Seq[(String, Boolean, () => DataFrame)] = Seq(
    ("dedupIncrementalBloom", true,
      () => Dedup.dedupIncrementalBloom(docs, batch, "doc_id", "text")),
    ("dedupIncrementalNear", true, () => Dedup.dedupIncrementalNear(
      Dedup.buildNearDupIndex(docs, "doc_id", "text"), batch, "doc_id", "text")),
    ("nearDupPairs", true, () => Dedup.nearDupPairs(docs, "doc_id", "text")),
    ("crossNearDupPairs", true,
      () => Dedup.crossNearDupPairs(docs, batch, "doc_id", "text")),
    ("simhashPairs", true, () => Dedup.simhashPairs(docs, "doc_id", "text")),
    ("nearDupDedup", true, () => Dedup.nearDupDedup(docs, "doc_id", "text")),
    ("dupClusters", false, () => Dedup.dupClusters(
      Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b"), iterations = 2)),
    ("nearDupDedupTransitive", true,
      () => Dedup.nearDupDedupTransitive(docs, "doc_id", "text", iterations = 2)),
    ("simhashDedup", true, () => Dedup.simhashDedup(docs, "doc_id", "text")),
    ("embeddingDedup", true,
      () => Dedup.embeddingDedup(vecs, "vec_id", "embedding", 0.9, method = "lsh")),
    ("jaccardJoinExact", true,
      () => Dedup.jaccardJoinExact(docs, "doc_id", "text", 3, 0.5)),
    ("segmentDedupText", true,
      () => Dedup.segmentDedupText(docs, "doc_id", "text", 8)),
    ("ewmMean", true, () => Ewm.ewmMean(series, Seq("g"), Seq(col("i")), "x", 0.5)),
    ("ewmVarStd", true,
      () => Ewm.ewmVarStd(series, Seq("g"), Seq(col("i")), "x", 0.5)),
    ("ewmCovCorr", true,
      () => Ewm.ewmCovCorr(series, Seq("g"), Seq(col("i")), "x", "y", 0.5)),
    ("ewmTimeMean", true,
      () => Ewm.ewmTimeMean(series, Seq("g"), "ts", "x", "1 second")),
    ("ewmTimeVarStd", true,
      () => Ewm.ewmTimeVarStd(series, Seq("g"), "ts", "x", "1 second")),
    ("ewmTimeCovCorr", true,
      () => Ewm.ewmTimeCovCorr(series, Seq("g"), "ts", "x", "y", "1 second")),
    ("contaminatedDocsBloom", true,
      () => NgramOverlap.contaminatedDocsBloom(docs, batch, "doc_id", "text", n = 3)),
    ("duplicateGramStats", true,
      () => NgramOverlap.duplicateGramStats(docs, "doc_id", "text", n = 3)),
    ("duplicateSpans", true, () => NgramOverlap.duplicateSpans(
      docs, "doc_id", "text", windowTokens = 4)),
    ("removeDuplicateSpans", true, () => NgramOverlap.removeDuplicateSpans(
      docs, "doc_id", "text", windowTokens = 4)),
    ("ivfNeighbors", true,
      () => Similarity.ivfNeighbors(vecs, "vec_id", "embedding", 0.9, cells = 2)),
    ("semanticPairs", true,
      () => Similarity.semanticPairs(vecs, "vec_id", "embedding", 0.9, cents)),
    ("semanticDedup", true,
      () => Similarity.semanticDedup(vecs, "vec_id", "embedding", 0.9, k = 2)),
    ("crossNeighborsLsh", true, () => Similarity.crossNeighborsLsh(
      vecs, vecs.where(col("vec_id") <= 2), "vec_id", "embedding", 0.9)),
    ("lshNeighbors", true,
      () => Similarity.lshNeighbors(vecs, "vec_id", "embedding", 0.9)),
    ("lshNeighborsMultiProbe", true, () => Similarity.lshNeighborsMultiProbe(
      vecs, "vec_id", "embedding", 0.9, probes = 1))
  )

  test("releasing frees every persist of the formerly twinned operators") {
    assert(operators.map(_._1).distinct.size == 28)
    for ((name, holds, call) <- operators) {
      cm.clearCache()
      val before = cachedRdds
      CacheScope.releasing {
        call().count()
        assert(!cm.isEmpty == holds,
          s"$name: expected the cache ${if (holds) "non-empty" else "empty"} during the action")
      }
      assert(cm.isEmpty, s"$name: releasing left a cache entry")
      assert(cachedRdds == before, s"$name: releasing left a persisted RDD")
    }
  }

  test("scopes nest: an inner scope releases only its own frames; threads do not inherit") {
    cm.clearCache()
    def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
    val untracked = CacheScope.hold(spark.range(3).toDF("u"))
    var fromThread: DataFrame = null
    CacheScope.releasing {
      val outer = CacheScope.hold(spark.range(5).toDF("a"))
      val inner = CacheScope.releasing {
        val in = CacheScope.hold(spark.range(7).toDF("b"))
        assert(cached(in) && cached(outer))
        in
      }
      assert(!cached(inner), "inner scope must release its frame")
      assert(cached(outer), "inner scope must not release the outer's frame")
      val t = new Thread(() => fromThread = CacheScope.hold(spark.range(9).toDF("t")))
      t.start(); t.join()
    }
    assert(cached(untracked), "a hold outside any scope stays cached")
    assert(cached(fromThread), "a thread started inside a scope must not join it")
    untracked.unpersist(blocking = true)
    fromThread.unpersist(blocking = true)
    assert(cm.isEmpty)
  }

  test("dropCheckpoint frees a checkpoint's RDD and rejects a non-checkpointed frame") {
    val ck = spark.range(10).toDF("id").localCheckpoint()
    val rddId = ck.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case other => fail(s"localCheckpoint should give a LogicalRDD, got ${other.nodeName}")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    CacheScope.dropCheckpoint(ck)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
    val e = intercept[IllegalStateException] {
      CacheScope.dropCheckpoint(spark.range(3).toDF())
    }
    assert(e.getMessage.contains("Range"), e.getMessage)
  }
}
