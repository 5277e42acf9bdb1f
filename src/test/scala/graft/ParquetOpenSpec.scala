package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Parquet, Search}

/** [[Parquet.read]], the library's one parquet open: it opens without a
  * Spark job, and what it opens equals `spark.read.parquet` — schema
  * (names, types, nullability, metadata) and rows — on every test table
  * and on the at-rest layouts the library writes (an appended near-dup
  * index, a gram-partitioned postings index). */
class ParquetOpenSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val atRest: Seq[String] = {
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"),
      (3L, "pack my box"), (4L, null: String)).toDF("doc_id", "text")
    // a near-dup index, then one appended batch delta per table
    val nd = Files.createTempDirectory("graft-open-ndidx").toString
    Dedup.buildNearDupIndex(docs.where($"doc_id" <= 2), "doc_id", "text").write(nd)
    val add = Dedup.buildNearDupIndex(docs.where($"doc_id" > 2), "doc_id", "text")
    graft.streaming.StreamingOps.appendDelta(add.buckets.localCheckpoint(), s"$nd/buckets")
    graft.streaming.StreamingOps.appendDelta(add.shingles.localCheckpoint(), s"$nd/shingles")
    // a few distinct trigrams: the partition directories stay under
    // Spark's parallel-listing threshold, so listing runs on the driver
    val pi = Files.createTempDirectory("graft-open-postings").toString
    Search.buildPostingsIndex(Seq((1L, "abcab"), (2L, "bcab")).toDF("id", "text"), "id", "text")
      .writePartitioned(pi)
    Seq(s"$nd/buckets", s"$nd/shingles", s"$nd/meta", s"$pi/postings", s"$pi/meta")
  }

  private def paths: Seq[String] =
    Tables.map(t => s"/root/testdata/sf0.01/$t.parquet") ++ atRest

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("Parquet.read: opening a path schedules no Spark job") {
    val ps = paths // the at-rest directories are written before the fence
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      ps.foreach(p => Parquet.read(spark, p).schema)
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
        s"opening ${ps.size} parquet paths must schedule no Spark job, saw: $groups")
    } finally sc.removeSparkListener(l)
  }

  test("Parquet.read == spark.read.parquet: schema and rows, nanosAsLong both ways") {
    for (nanosAsLong <- Seq("true", "false")) {
      val s: SparkSession = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      paths.foreach { p =>
        val want = Try(s.read.parquet(p))
        val got = Try(Parquet.read(s, p))
        assert(got.isSuccess == want.isSuccess,
          s"$p (nanosAsLong=$nanosAsLong): spark.read.parquet $want, Parquet.read $got")
        (want.toOption zip got.toOption).foreach { case (w, g) =>
          assert(g.schema == w.schema, s"$p (nanosAsLong=$nanosAsLong)")
          assert(rows(g) == rows(w), s"$p (nanosAsLong=$nanosAsLong)")
        }
        (want.failed.toOption zip got.failed.toOption).foreach { case (w, g) =>
          assert(g.getClass == w.getClass, s"$p: ${w.getMessage} vs ${g.getMessage}")
        }
      }
    }
  }
}
