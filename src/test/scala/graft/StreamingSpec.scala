package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Agg, GroupByReduce}
import graft.streaming.StreamingOps

/** Streaming == batch equivalence (the flox numpy-vs-dask invariant,
  * lifted to streams): the same Agg specs over readStream must reproduce
  * the batch results on identical data.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Stage each frame of `days` as ONE parquet file in a fresh directory,
    * modification times increasing: a `maxFilesPerTrigger = 1` file
    * stream drains oldest-modification-first, so day i is batch i. */
  private def stageDays(days: Seq[DataFrame], prefix: String): String = {
    val dir = tmpDir(prefix)
    days.zipWithIndex.foreach { case (df, i) =>
      val tmp = tmpDir(s"$prefix-part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = new java.io.File(dir, s"day$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    dir
  }

  /** Batch df -> parquet dir -> readStream over it. */
  private def asStream(df: DataFrame): DataFrame = {
    val dir = tmpDir("graft-stream-in")
    df.write.mode("overwrite").parquet(dir)
    spark.readStream.schema(df.schema).parquet(dir)
  }

  private def runToMemory(out: DataFrame, name: String, mode: String): DataFrame = {
    val q = out.writeStream.queryName(name).format("memory")
      .outputMode(mode).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def events = {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 400).map { i =>
      (new java.sql.Timestamp(base + i * 97000L), s"u${i % 5}",
        if (i % 11 == 0) Double.NaN else (i % 7).toDouble)
    }.toDF("ts", "user_id", "value")
  }

  test("windowedReduce equals the batch datetime-binned reduction") {
    val streamed = runToMemory(
      StreamingOps.windowedReduce(asStream(events), "ts", "1 hour",
        Seq("user_id"),
        Seq(Agg("count", "value", "n"), Agg("nansum", "value", "s"),
          Agg("nanmean", "value", "m"))),
      "win_agg", "complete")
      .collect().map(r => (r.getTimestamp(0), r.getString(2)) -> (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap

    val batch = GroupByReduce.reduce(
      events.withColumn("hour", date_trunc("hour", col("ts"))),
      Seq("hour", "user_id"),
      Seq(Agg("count", "value", "n"), Agg("nansum", "value", "s"),
        Agg("nanmean", "value", "m")))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    assert(streamed == batch)
  }

  test("windowed median and vector nanquantile run through the state store and equal batch") {
    // three one-file batches: each window's percentile buffer is saved to
    // and merged back from the state store across batches
    val ev = events
    val bounds = Seq("2024-01-01 00:00:00", "2024-01-01 03:30:00", "2024-01-01 07:10:00", "2024-01-02 00:00:00")
      .map(t => lit(java.sql.Timestamp.valueOf(t)))
    val days = bounds.sliding(2).map { case Seq(lo, hi) =>
      ev.filter(col("ts") >= lo && col("ts") < hi) }.toSeq
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDays(days, "graft-stream-med"))
    val aggs = Seq(Agg("median", "value", "med"),
      Agg("nanquantile", "value", "qs", q = Seq(0.1, 0.5, 0.5, 0.9)))
    def bits(r: org.apache.spark.sql.Row, at: Int) =
      (java.lang.Double.doubleToLongBits(r.getDouble(at)),
        r.getSeq[Double](at + 1).map(java.lang.Double.doubleToLongBits))
    val streamed = runToMemory(
      StreamingOps.windowedReduce(stream, "ts", "1 hour", Seq("user_id"), aggs),
      "win_median", "complete")
      .collect().map(r => (r.getTimestamp(0), r.getString(2)) -> bits(r, 3)).toMap
    val batch = GroupByReduce.reduce(
      ev.withColumn("hour", date_trunc("hour", col("ts"))), Seq("hour", "user_id"), aggs)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> bits(r, 2)).toMap
    assert(streamed.size == batch.size && streamed.size > 40)
    assert(streamed.values.exists(v => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(v._1))),
      "some window must propagate a NaN through median")
    assert(streamed == batch)
  }

  test("windowed topk streams and equals the batch datetime-binned topk") {
    val ev = events.withColumn("eid", monotonically_increasing_id())
      .cache() // pin eid: it must be the same identity on both sides
    ev.count()
    def asPairs(rows: Array[org.apache.spark.sql.Row], tsAt: Int, keyAt: Int, topAt: Int) =
      rows.map(r => (r.getTimestamp(tsAt), r.getString(keyAt)) ->
        r.getSeq[org.apache.spark.sql.Row](topAt).map(s => (s.getDouble(0), s.getLong(1)))).toMap
    val streamed = asPairs(runToMemory(
      StreamingOps.windowedReduce(asStream(ev), "ts", "1 hour",
        Seq("user_id"), Seq(Agg("topk", "value", "top", k = 3)),
        pos = Some(col("eid"))),
      "win_topk", "complete").collect(), 0, 2, 3)
    val batch = asPairs(GroupByReduce.reduce(
      ev.withColumn("hour", date_trunc("hour", col("ts"))),
      Seq("hour", "user_id"), Seq(Agg("topk", "value", "top", k = 3)),
      pos = Some(col("eid"))).collect(), 0, 1, 2)
    assert(streamed == batch)
    ev.unpersist()
  }

  test("sessionWindowRollup runs unchanged under readStream and equals batch") {
    import graft.operators.Sessionize
    def rows(df: DataFrame) = df
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getTimestamp(2), r.getLong(3), r.get(4))).toMap // sum nullable: all-NaN session
    val streamed = rows(runToMemory(
      Sessionize.sessionWindowRollup(
        asStream(events).withWatermark("ts", "10 minutes"),
        Seq("user_id"), "ts", "5 minutes", "value"),
      "sess_win", "complete"))
    val batch = rows(Sessionize.sessionWindowRollup(
      events, Seq("user_id"), "ts", "5 minutes", "value"))
    assert(streamed == batch)
  }

  test("streaming dedupExact emits one row per distinct content") {
    val docs = Seq(
      ("2024-01-01 00:00:01", "aaa"), ("2024-01-01 00:00:02", "bbb"),
      ("2024-01-01 00:00:03", "aaa"), ("2024-01-01 00:00:04", "ccc"),
      ("2024-01-01 00:00:05", "bbb"), ("2024-01-01 00:00:06", "aaa")
    ).map { case (t, x) => (java.sql.Timestamp.valueOf(t), x) }.toDF("ts", "text")
    val out = runToMemory(
      StreamingOps.dedupExact(asStream(docs), "text", "ts", "10 minutes"),
      "dedup_stream", "append")
    assert(out.count() == 3)
    assert(out.select("text").collect().map(_.getString(0)).sorted.toSeq == Seq("aaa", "bbb", "ccc"))
  }

  test("runningNanSum's final value per key equals the batch nansum") {
    val out = runToMemory(
      StreamingOps.runningNanSum(asStream(events), "user_id", "value"),
      "scan_stream", "update")
    // last emitted running_sum per key == total
    val finals = out.groupBy("user_id").agg(max("running_sum").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = GroupByReduce.reduce(events, Seq("user_id"),
      Seq(Agg("nansum", "value", "s")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(finals == batch)
  }

  test("dedup state survives a restart: duplicates across micro-batch boundaries drop") {
    val inDir = tmpDir("graft-stream-in2")
    val ckpt = tmpDir("graft-ckpt2")
    def batch(rows: Seq[(String, String)]): Unit =
      rows.map { case (t, x) => (java.sql.Timestamp.valueOf(t), x) }
        .toDF("ts", "text").coalesce(1).write.mode("append").parquet(inDir)
    val schema = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("ts", "text").schema

    val outDir = tmpDir("graft-stream-out2")
    def runOnce(): Seq[String] = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingOps.dedupExact(stream, "text", "ts", "10 minutes")
        .writeStream.format("parquet") // recoverable sink, unlike memory
        .option("path", outDir)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).select("text").collect().map(_.getString(0)).sorted.toSeq
    }

    batch(Seq(("2024-01-01 00:00:01", "aaa"), ("2024-01-01 00:00:02", "bbb")))
    assert(runOnce() == Seq("aaa", "bbb"))
    // restart with new files: "aaa" duplicates batch-1 state and must drop
    batch(Seq(("2024-01-01 00:00:03", "aaa"), ("2024-01-01 00:00:04", "ccc")))
    assert(runOnce() == Seq("aaa", "bbb", "ccc"),
      "checkpointed dedup state must survive the restart: only 'ccc' appended")
  }

  test("stateless curation expressions run unchanged on streams: split + weighted sample + PII") {
    graft.expressions.GraftFunctions.register(spark)
    val docs = (0 until 300).map(i => (i.toLong, s"doc body $i call 25-989-741-2988"))
      .toDF("id", "text")
    // per-row filters/projections need no state: append mode, one batch
    val streamed = runToMemory(
      graft.operators.Pii.scan(
        graft.operators.Sampling.assignSplit(asStream(docs),
          graft.operators.Sampling.textKey(col("text")),
          Seq("train" -> 0.8, "test" -> 0.2), salt = 11),
        "text"),
      "curation_stream", "append")
      .select("id", "split", "phone_hits", "redacted")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    val batch = graft.operators.Pii.scan(
        graft.operators.Sampling.assignSplit(docs,
          graft.operators.Sampling.textKey(col("text")),
          Seq("train" -> 0.8, "test" -> 0.2), salt = 11),
        "text")
      .select("id", "split", "phone_hits", "redacted")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(streamed == batch)
    assert(batch.values.forall(_._2 == 1L)) // fixture sanity: phone found
  }

  test("curationFilter: streamed == batch; NULL text drops; filters actually bite") {
    val docs = ((0 until 200).map { i =>
      // vary stopword density so the quality floor splits the corpus
      val body = if (i % 2 == 0) s"the a of to and doc $i body is full"
                 else s"doc$i x$i y$i"
      (i.toLong, body + (if (i % 7 == 0) " mail me a@b.com" else ""))
    } :+ (999L, null.asInstanceOf[String])).toDF("id", "text")
    def dump(df: DataFrame) =
      df.select("id", "quality", "email_hits", "redacted")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val streamed = dump(runToMemory(
      StreamingOps.curationFilter(asStream(docs), "text",
        sampleRate = 0.7, salt = 3, minQuality = 200L),
      "curation_filter_stream", "append"))
    val batch = dump(StreamingOps.curationFilter(docs, "text",
      sampleRate = 0.7, salt = 3, minQuality = 200L))
    assert(streamed == batch)
    assert(!batch.contains(999L), "NULL text must be dropped")
    assert(batch.nonEmpty && batch.size < 200, "both filters must bite")
    assert(batch.exists(_._2._3.contains("[PII]")), "redaction must apply")
    intercept[IllegalArgumentException] {
      StreamingOps.curationFilter(docs.withColumn("quality", lit(1)), "text")
    }
  }

  test("intervalJoin: streamed pairs equal the batch range join, bounds closed") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(ms: Long) = new java.sql.Timestamp(base + ms)
    val signups = Seq(("u1", t(0)), ("u1", t(500000)), ("u2", t(0)))
      .toDF("user_id", "signup_ts")
    val purchases = Seq(
      ("u1", t(0), 1.0),        // exactly at lower bound -> matches signup 1
      ("u1", t(600000), 2.0),   // 10 min: matches BOTH u1 signups
      ("u1", t(3600000), 3.0),  // exactly lTs + 1h of signup 1 (closed upper)
      ("u1", t(4100001), 4.0),  // 1 ms past signup 2's closed window
      ("u2", t(7200000), 5.0),  // 2 h: outside
      ("u3", t(0), 6.0)         // no signup
    ).toDF("user_id", "purchase_ts", "value")

    def pairs(df: DataFrame) = df
      .select("user_id", "signup_ts", "purchase_ts", "value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getDouble(3)))
      .toSet

    val batch = pairs(StreamingOps.intervalJoin(signups, purchases,
      Seq("user_id"), "signup_ts", "purchase_ts", "1 HOUR", "0 seconds"))
    // purchase at 4100001 ms is 1 ms past signup 2's closed upper bound
    // (500000 + 3600000) and matches nothing; purchase at exactly
    // lTs + 1h DOES match (closed ends)
    val expected = Set(
      ("u1", 0L + base, 0L + base, 1.0),
      ("u1", 0L + base, 600000L + base, 2.0),
      ("u1", 500000L + base, 600000L + base, 2.0),
      ("u1", 0L + base, 3600000L + base, 3.0),
      ("u1", 500000L + base, 3600000L + base, 3.0))
    assert(batch == expected, s"batch pairs: $batch")

    val streamed = pairs(runToMemory(
      StreamingOps.intervalJoin(asStream(signups), asStream(purchases),
        Seq("user_id"), "signup_ts", "purchase_ts", "1 HOUR", "2 hours"),
      "ij_pairs", "append"))
    assert(streamed == batch)
  }

  test("streamingFunnel equals batch stepTimes under replay, rows arriving out of order") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(ms: Long) = new java.sql.Timestamp(base + ms)
    // deliberately NOT in event-time order: the per-batch sort must fix it
    val ev = Seq(
      (1L, t(7200000), "purchase"), (1L, t(0), "signup"), (1L, t(3600000), "view"),
      (2L, t(1000), "view"), (2L, t(2000), "signup"), // view precedes signup
      (3L, t(0), "signup"), (3L, t(0), "view")        // same instant: strict > rejects
    ).toDF("user_id", "ts", "event_type")
    val steps = Seq("signup", "view", "purchase")
    val streamed = runToMemory(
      StreamingOps.streamingFunnel(asStream(ev), "user_id", "ts", "event_type", steps),
      "sf_state", "update")
      .collect().map(r => r.getString(0).toLong -> r.getSeq[Long](1)).toMap
    val batch = graft.operators.Funnel.stepTimes(ev, "user_id", "ts", "event_type", steps)
      .collect().map(r => r.getLong(0) ->
        (1 to 3).map(i => Option(r.getTimestamp(i)).map(_.getTime * 1000L)
          .getOrElse(Long.MinValue))).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, want) =>
      assert(streamed(k) == want, s"user $k: streamed ${streamed(k)} vs batch $want")
    }
  }

  test("GraftExtensions injects graft_dotq for SQL use") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.expressions.GraftFunctions
    def infos(s: org.apache.spark.sql.SparkSession) = GraftFunctions.builders.map { case (name, _) =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
    }
    // register adds each function once per session: a second call
    // replaces nothing, every registered entry stays the same instance
    val fresh = spark.newSession()
    assert(infos(fresh).forall(_.isEmpty))
    GraftFunctions.register(fresh)
    val first = infos(fresh)
    assert(first.forall(_.isDefined))
    GraftFunctions.register(fresh)
    infos(fresh).zip(first).foreach { case (again, once) => assert(again.get eq once.get) }
    // a session built with the extension (the builder reuses the running
    // SparkContext) resolves the functions before any register, and
    // register leaves the injected entries in place
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .create()
    try {
      val injected = infos(ext)
      assert(injected.forall(_.isDefined))
      GraftFunctions.register(ext)
      infos(ext).zip(injected).foreach { case (again, once) => assert(again.get eq once.get) }
      val r = ext.sql("SELECT graft_dotq(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .head().getLong(0)
      assert(r == 4 + 10 + 18)
      // the aggregate family works from SQL too (topk here)
      val top = ext.sql(
        "SELECT graft_topk(s, i, 2) AS t FROM VALUES (1.0D, 1L), (9.0D, 2L), (5.0D, 3L) AS v(s, i)")
        .head().getSeq[org.apache.spark.sql.Row](0).map(x => (x.getDouble(0), x.getLong(1)))
      assert(top == Seq((9.0, 2L), (5.0, 3L)))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("dedupNearIngestAppend: directory probe == sequential daily loop; only survivor sketches appended") {
    import graft.operators.Dedup
    val base30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 15).map(i => s"w$i") ++ Seq("CHANGED") ++ (17 to 30).map(i => s"w$i")).mkString(" ")
    val fresh1 = (1 to 30).map(i => s"f$i").mkString(" ")
    val fresh2 = (1 to 30).map(i => s"g$i").mkString(" ")
    val corpus = Seq((1L, base30)).toDF("doc_id", "text")
    val days = Seq(
      Seq((11L, near), (12L, fresh1)),
      Seq((21L, fresh1), (22L, fresh2)),
      Seq((31L, near), (32L, fresh2), (33L, (1 to 30).map(i => s"z$i").mkString(" "))))
      .map(_.toDF("doc_id", "text"))
    val streamDir = stageDays(days, "graft-nda-days")
    val dir = tmpDir("graft-nda-idx")
    Dedup.buildNearDupIndex(corpus, "doc_id", "text", n = 3, bands = 32, rows = 4)
      .write(dir)
    val stream = spark.readStream.schema(days.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    StreamingOps.dedupNearIngestAppend(stream, dir, "doc_id", "text",
        threshold = 0.5)(
        surv => got.synchronized { got += surv.collect().map(_.getLong(0)).toSet; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    // per-batch survivors equal the sequential daily loop
    var index = Dedup.buildNearDupIndex(corpus, "doc_id", "text",
      n = 3, bands = 32, rows = 4)
    val want = days.map { day =>
      val sv = Dedup.dedupIncrementalNear(index, day, "doc_id", "text", threshold = 0.5)
      index = index.append(sv, "doc_id", "text")
      sv.collect().map(_.getLong(0)).toSet
    }
    assert(got.toSeq == want, s"streamed per-batch survivors $got != daily loop $want")
    assert(want == Seq(Set(12L), Set(22L), Set(33L)))
    // the DIRECTORY holds exactly corpus + survivor sketches (never a
    // rejected doc's) — row-identical to the sequential loop's index
    val drained = Dedup.NearDupIndex.read(spark, dir)
    assert(drained.shingles.select("id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 12L, 22L, 33L))
    assert(drained.buckets.collect().map(_.toSeq).toSet
      == index.buckets.collect().map(_.toSeq).toSet)
  }

  test("append-mode ingest sink: drained directory == from-scratch build on the union (postings, ANN, SQ8)") {
    import graft.operators.{Search, Similarity}
    // postings: seed dir with docs 1-2, stream docs 3-4 as two
    // one-file-per-trigger batches appending BATCH-ONLY posting rows
    val docs = Seq((1L, "the quick brown"), (2L, "lazy dog jumps"),
      (3L, "quick dog runs"), (4L, "brown fox naps")).toDF("doc_id", "text")
    val dir = tmpDir("graft-postidx-append")
    Search.buildPostingsIndex(docs.where(col("doc_id") <= 2), "doc_id", "text")
      .write(dir)
    val days = Seq(docs.where(col("doc_id") === 3), docs.where(col("doc_id") === 4))
    val streamDir = stageDays(days, "graft-postidx-days")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    StreamingOps.indexIngestAppend(stream, dir, Search.PostingsIndex, "doc_id", "text")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    val drained = Search.PostingsIndex.read(spark, dir)
    assert(drained.idCol == "doc_id" && drained.gramLen == Search.GramLen)
    val full = Search.buildPostingsIndex(docs, "doc_id", "text")
    assert(drained.postings.collect().map(_.toSeq).toSet
      == full.postings.collect().map(_.toSeq).toSet,
      "drained append-mode postings dir must equal the from-scratch build")
    // ANN: seed dir with vectors 10-13 + frozen quantizers, stream 14-15
    def v(i: Int): Seq[Float] = (0 until 8).map(j => ((i * 13 + j * 7) % 10) * 0.1f)
    val vecs = (10L to 15L).map(i => (i, v(i.toInt))).toDF("vec_id", "embedding")
    val cents = vecs.orderBy("vec_id").limit(2)
      .select(Similarity.quantize(col("embedding")))
      .collect().map(r => r.getSeq[Long](0): Seq[Long])
    val books = Similarity.pqFit(vecs.where(col("vec_id") <= 13),
      "vec_id", "embedding", dim = 8, m = 2, k = 4, iters = 2)
    val aDir = tmpDir("graft-annidx-append")
    Similarity.buildAnnIndex(vecs.where(col("vec_id") <= 13),
      "vec_id", "embedding", dim = 8, m = 2, cents, books).write(aDir)
    val aDays = Seq(vecs.where(col("vec_id") === 14), vecs.where(col("vec_id") === 15))
    val aStreamDir = stageDays(aDays, "graft-annidx-days")
    val aStream = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(aStreamDir)
    StreamingOps.indexIngestAppend(aStream, aDir, Similarity.AnnIndex, "vec_id", "embedding")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    val aDrained = Similarity.AnnIndex.read(spark, aDir)
    val aFull = Similarity.ivfPqEncode(vecs, "vec_id", "embedding",
      dim = 8, m = 2, centroids = cents, codebooks = books)
    assert(aDrained.codes.collect().map(_.toSeq).toSet
      == aFull.collect().map(_.toSeq).toSet,
      "drained append-mode ANN dir must equal the from-scratch encode")
    // SQ8: the same vectors, seeded with 10-13 + frozen cells and bounds
    val bounds = Similarity.sq8FitResidual(vecs.where(col("vec_id") <= 13),
      "vec_id", "embedding", dim = 8, cents)
    val sDir = tmpDir("graft-sq8idx-append")
    Similarity.buildSq8Index(vecs.where(col("vec_id") <= 13),
      "vec_id", "embedding", dim = 8, cents, bounds).write(sDir)
    val sStream = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDays(aDays, "graft-sq8idx-days"))
    StreamingOps.indexIngestAppend(sStream, sDir, Similarity.Sq8Index, "vec_id", "embedding")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    val sDrained = Similarity.Sq8Index.read(spark, sDir)
    assert(sDrained.bounds == bounds && sDrained.centroids.toSeq == cents.toSeq)
    val sFull = Similarity.ivfSq8Encode(vecs, "vec_id", "embedding",
      dim = 8, centroids = cents, bounds = bounds)
    assert(sDrained.codes.collect().map(_.toSeq).toSet
      == sFull.collect().map(_.toSeq).toSet,
      "drained append-mode SQ8 dir must equal the from-scratch encode")
    assert(sDrained.codes.count() == vecs.count())
  }

  test("curationIngestAppend: streamed six-stage chain == batch chain, including the A~B~C near-dup chain case") {
    import graft.operators.{Dedup, NgramOverlap, TextAnalysis}
    // token stream with stopword hits every 5 tokens so any 60-token
    // window passes gopher (>= 50 words, mean len 3-10, >= 2 stopwords)
    val toks = (1 to 120).map { i =>
      if (i % 10 == 0) "the" else if (i % 10 == 5) "and" else f"tok$i%03d"
    }
    def doc(lo: Int): String = toks.slice(lo - 1, lo + 59).mkString(" ")
    // sliding windows: A~B and B~C share 42/60 tokens (J > 0.5), A and C
    // only 24 (J < 0.5) — the chain case where survivor-index streaming
    // would wrongly re-admit C (B drops on A; C must still drop on B)
    val (a, b, c) = (doc(1), doc(19), doc(37))
    val fresh1 = (1 to 60).map(i =>
      if (i % 10 == 0) "the" else if (i % 10 == 5) "and" else f"fr$i%03d").mkString(" ")
    val fresh2 = (1 to 60).map(i =>
      if (i % 10 == 0) "the" else if (i % 10 == 5) "and" else f"gz$i%03d").mkString(" ")
    val corpus = Seq(
      (1L, "srcA", a), (2L, "srcA", b), (3L, "srcA", fresh1),
      (4L, "srcB", c), (5L, "srcB", fresh2))
      .toDF("doc_id", "source", "text")
    // geometry self-check: pairs (A,B) and (B,C) verified, (A,C) not
    val pairs = Dedup.nearDupPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5, bands = 32, rows = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)) && !pairs.contains((1L, 4L)),
      s"chain geometry drifted: $pairs")
    // days split mid-chain: A, B, fresh1 on day 1; C, fresh2 on day 2
    val days = Seq(corpus.where(col("doc_id") <= 3), corpus.where(col("doc_id") > 3))
    val dir = stageDays(days, "graft-stream-cur")
    val evalDocs = corpus.limit(0) // no eval sources in this corpus
    // batch chain, stage for stage (the q_curation_e2e head)
    val base = corpus.where(col("text").isNotNull)
    val passed = TextAnalysis.gopherFlags(base, "text")
      .where(col("gopher_pass"))
      .select(base.columns.map(col).toIndexedSeq: _*)
    val ex = Dedup.dropDuplicatesKeepFirst(
      passed.withColumn("canon", TextAnalysis.normalizeText(col("text"))),
      "doc_id", "canon").drop("canon")
    val near = Dedup.nearDupDedup(ex, "doc_id", "text",
      n = 3, threshold = 0.5, bands = 32, rows = 4)
    val train = near.where(!col("source").isin("srcEval"))
    val contam = NgramOverlap.contaminatedDocs(train, evalDocs,
        "doc_id", "text", n = 5, broadcastEval = true)
      .select(col("doc_id").as("__contam_id"))
    val batchIds = train.join(contam,
        col("doc_id") === col("__contam_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the chain case bit: B (2) dropped on A, C (4) STILL dropped on B
    assert(batchIds == Set(1L, 3L, 5L), s"expected A+fresh survivors, got $batchIds")
    // the same days through a seeded state directory — drained decon dir
    // == batch chain, per-batch emits carry the chain case, and the
    // at-rest canon/sketch state == the batch chain's own stage outputs
    val sDir = tmpDir("graft-cur-atrest")
    StreamingOps.curationSeed(corpus.limit(0), evalDocs, Seq("srcEval"),
      sDir, "doc_id", "text")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    StreamingOps.curationIngestAppend(stream, sDir, evalDocs, Seq("srcEval"),
        "doc_id", "text")(f => {
        val ids = f.select("doc_id").collect().map(_.getLong(0)).toSet
        emitted.synchronized { emitted += ids; () }
      })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    val atRest = spark.read.parquet(s"$sDir/decon")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(atRest == batchIds, s"at-rest decon dir $atRest != batch $batchIds")
    assert(emitted.toSeq == Seq(Set(1L, 3L), Set(5L)),
      s"per-batch emits lost the chain case: $emitted")
    // canon table == batch exact-survivor keys; the sketch index holds
    // ALL exact survivors (B and C index even though they drop near-dup)
    val batchCanon = Dedup.dropDuplicatesKeepFirst(
        passed.withColumn("canon", TextAnalysis.normalizeText(col("text"))),
        "doc_id", "canon")
      .select("canon").collect().map(_.getString(0)).toSet
    val atRestCanon = spark.read.parquet(s"$sDir/canon")
      .collect().map(_.getString(0)).toSet
    assert(atRestCanon == batchCanon, "at-rest canon keys != batch exact stage")
    val indexedIds = spark.read.parquet(s"$sDir/shingles")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexedIds == Set(1L, 2L, 3L, 4L, 5L),
      s"sketch index must hold ALL exact survivors, got $indexedIds")
  }

  test("at-rest sinks compacting every 2 batches == no compaction; each compaction unpersists the deltas it replaced") {
    import graft.operators.Dedup
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.streaming.DataStreamWriter
    def persistent(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def rddOf(df: DataFrame): Int = df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case other => fail(s"emitted frame is not a checkpoint: ${other.nodeName}")
    }
    // per batch: emitted doc ids, the emitted frame's RDD, and the
    // persistent RDD ids at emit time
    type Rec = (Set[Long], Int, Set[Int])
    def run(every: Int, days: String, schema: org.apache.spark.sql.types.StructType,
        nDeltas: Int)(sink: (DataFrame, DataFrame => Unit) => DataStreamWriter[Row]): Seq[Rec] = {
      val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
      val writer = StreamingOps.compactEvery.withValue(every) {
        sink(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(days),
          f => recs.synchronized {
            recs += ((f.select("doc_id").collect().map(_.getLong(0)).toSet, rddOf(f), persistent()))
            ()
          })
      }
      val before = persistent()
      writer.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("graft-ckpt"))
        .start().awaitTermination()
      // what each batch checkpointed: the RDDs new at its emit
      val created = recs.indices.map(k =>
        recs(k)._3 -- (if (k == 0) before else recs(k - 1)._3))
      // batch j's deltas stay unioned into the snapshot until the first
      // re-read after it (batch numbers divisible by `every`), then are
      // unpersisted; of what a batch made, only its emitted frame may
      // outlive that
      for (b <- 1 to recs.size; j <- 1 until b) {
        val kept = (recs(b - 1)._3 intersect created(j - 1)) - recs(j - 1)._2
        if (j < b - b % every)
          assert(kept.isEmpty, s"every=$every batch $b still holds batch $j's deltas $kept")
        else
          assert(kept.size == nDeltas,
            s"every=$every batch $b: batch $j's held deltas $kept, want $nDeltas")
      }
      recs.toSeq
    }
    def rows(path: String): Set[Seq[Any]] =
      spark.read.parquet(path).collect().map(_.toSeq).toSet
    def text(p: String): String = (1 to 30).map(i => s"$p$i").mkString(" ")
    val near = ((1 to 15).map(i => s"w$i") ++ Seq("CHANGED") ++ (17 to 30).map(i => s"w$i"))
      .mkString(" ")

    // near-dup sink: every day holds a duplicate of an earlier day's
    // survivor, so each probe needs both the re-read and the unioned deltas
    val days = Seq(
      Seq((11L, near), (12L, text("f"))),
      Seq((21L, text("f")), (22L, text("g"))),
      Seq((31L, near), (32L, text("g")), (33L, text("z"))),
      Seq((41L, text("z")), (42L, text("y"))),
      Seq((51L, text("y")), (52L, text("f")), (53L, text("x"))))
      .map(_.toDF("doc_id", "text"))
    val ndDays = stageDays(days, "graft-ndc-days")
    val ndRuns = Seq(2, StreamingOps.HandleCompactEvery).map { every =>
      val dir = tmpDir("graft-ndc-idx")
      Dedup.buildNearDupIndex(Seq((1L, text("w"))).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, bands = 32, rows = 4).write(dir)
      // deltas: the survivors' bucket and shingle rows
      val recs = run(every, ndDays, days.head.schema, 2)((stream, emit) =>
        StreamingOps.dedupNearIngestAppend(stream, dir, "doc_id", "text")(emit))
      (recs.map(_._1), rows(s"$dir/buckets"), rows(s"$dir/shingles"))
    }
    assert(ndRuns(0)._1 == Seq(Set(12L), Set(22L), Set(33L), Set(42L), Set(53L)),
      s"compacted near-dup emits ${ndRuns(0)._1}")
    assert(ndRuns(0) == ndRuns(1), "compacted near-dup run != uncompacted run")

    // curation sink: exact and near duplicates of earlier days' docs in
    // every later day (gopher-passing 60-token docs; the A~B~C windows of
    // the chain-case test above: A~B and B~C verified, A≁C)
    def gdoc(p: String, lo: Int = 1): String = (lo until lo + 60).map(i =>
      if (i % 10 == 0) "the" else if (i % 10 == 5) "and" else f"$p$i%03d").mkString(" ")
    val cur = Seq(
      Seq((1L, gdoc("tok")), (2L, gdoc("fr"))),
      Seq((3L, gdoc("tok", 19)), (4L, gdoc("fr"))), // B ~ A; exact copy of 2
      Seq((5L, gdoc("gz")), (6L, gdoc("tok", 19))), // exact copy of B (3)
      Seq((7L, gdoc("gz")), (8L, gdoc("hq"))),
      Seq((9L, gdoc("fr")), (10L, gdoc("tok", 37)), (11L, gdoc("jk")))) // C ~ B
      .map(_.map { case (id, t) => (id, "srcA", t) }.toDF("doc_id", "source", "text"))
    val curDays = stageDays(cur, "graft-curc-days")
    val curRuns = Seq(2, StreamingOps.HandleCompactEvery).map { every =>
      val dir = tmpDir("graft-curc-state")
      val evalDocs = cur.head.limit(0)
      StreamingOps.curationSeed(evalDocs, evalDocs, Seq("srcEval"), dir, "doc_id", "text")
      // deltas: the exact survivors (read by the canon union) and their
      // shingle and bucket rows
      val recs = run(every, curDays, cur.head.schema, 3)((stream, emit) =>
        StreamingOps.curationIngestAppend(stream, dir, evalDocs, Seq("srcEval"),
          "doc_id", "text")(emit))
      (recs.map(_._1), Seq("canon", "buckets", "shingles", "decon").map(t => rows(s"$dir/$t")))
    }
    assert(curRuns(0)._1 == Seq(Set(1L, 2L), Set.empty[Long], Set(5L), Set(8L), Set(11L)),
      s"compacted curation emits ${curRuns(0)._1}")
    assert(curRuns(0) == curRuns(1), "compacted curation run != uncompacted run")
  }

  test("knScoreIngest: per-batch stateless scoring == one-shot batch scoring, any split") {
    import graft.operators.LanguageModel
    val train = Seq((10L, "a b a b c"), (11L, "b c a b")).toDF("doc_id", "text")
    val scoreDocs = Seq((1L, "a b c"), (2L, "c a b a"), (3L, "z a b"), (4L, "b c z"))
      .toDF("doc_id", "text")
    val model = LanguageModel.knNgramFit(train, "text", order = 2)
    // engineered 2-batch split of the score slice
    val days = Seq(Seq((1L, "a b c"), (2L, "c a b a")), Seq((3L, "z a b"), (4L, "b c z")))
      .map(_.toDF("doc_id", "text"))
    val dir = stageDays(days, "graft-stream-kn")
    val stream = spark.readStream.schema(days.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    StreamingOps.knScoreIngest(stream, model, "doc_id", "text")(
        p => parts.synchronized { parts += p; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    assert(parts.size == 2) // one emit per day file, batch-only rows
    val got = parts.reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = LanguageModel.knNgramLogLoss(train, scoreDocs, "doc_id", "text", order = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    // each emitted frame holds ONLY its batch's docs (batch-sized cost pin)
    assert(parts.map(_.collect().map(_.getLong(0)).toSet) ==
      Seq(Set(1L, 2L), Set(3L, 4L)))
  }

  test("qualityScoreIngest: per-batch stateless scoring == one-shot batch scoring") {
    import graft.operators.{FeatureScaling, TextAnalysis}
    graft.expressions.GraftFunctions.register(spark)
    val B = 4
    val xs = TextAnalysis.hashedBigramCounts(col("text"), B)
    val features = xs.map(_ -> 10.0)
    val train = Seq((1L, "the cat sat", true), (2L, "cat the on", false),
      (3L, "the dog sat on", true), (4L, "on the dog", false))
      .toDF("doc_id", "text", "y")
    val feat = train.select(Seq(col("doc_id"), col("y")) ++ xs: _*)
    val betas = FeatureScaling.logisticFit(feat,
      (0 until B).map(h => col(s"xh$h") -> 10.0), col("y"), iters = 2)
    val scoreDocs = Seq((10L, "the cat sat on"), (11L, "dog the"),
      (12L, "one"), (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val days = Seq(Seq((10L, "the cat sat on"), (11L, "dog the")),
      Seq((12L, "one"), (13L, null.asInstanceOf[String])))
      .map(_.toDF("doc_id", "text"))
    val dir = stageDays(days, "graft-stream-qual")
    val stream = spark.readStream.schema(days.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    StreamingOps.qualityScoreIngest(stream, features, betas)(
        p => parts.synchronized { parts += p; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    assert(parts.size == 2)
    val got = parts.reduce(_ unionByName _)
      .select(col("doc_id"), col("prob").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = FeatureScaling.logisticScore(scoreDocs, features, betas)
      .select(col("doc_id"), col("prob").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == want)
    // short/NULL docs score at all-zero features, never NULL
    assert(!got(12L).isNaN && got(12L) == got(13L))
  }

  test("knNgramStateIngest order=2: 3-batch rolled KN state finalizes to the from-scratch fit, bit for bit") {
    import graft.operators.LanguageModel
    val days = Seq(
      Seq((10L, "a b a b c"), (11L, "b c a b")),
      Seq((20L, "c a d b"), (21L, "a b c c a")),
      Seq((30L, "d a b e"), (31L, "e b a")))
      .map(_.toDF("doc_id", "text"))
    val dir = stageDays(days, "graft-stream-kns")
    val stream = spark.readStream.schema(days.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // empty initial state (cold start): limit(0) frames with the state schema
    val empty = LanguageModel.knNgramState(days.head.limit(0), "text", order = 2)
    val states = scala.collection.mutable.ArrayBuffer.empty[LanguageModel.KnNgramState]
    StreamingOps.knNgramStateIngest(stream, empty, "text")(
        st => states.synchronized { states += st; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    assert(states.size == 3, s"expected one state per file batch, got ${states.size}")
    val score = Seq((1L, "a b c a"), (2L, "a e z b"), (3L, "z d a b"))
      .toDF("doc_id", "text")
    val got = LanguageModel.knNgramScoreWith(
        LanguageModel.knNgramModel(states.synchronized(states.last)),
        score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = LanguageModel.knNgramLogLoss(
        days.reduce(_ unionByName _), score, "doc_id", "text", order = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, "rolled streaming state must equal the from-scratch fit")
    // a MID-STREAM boundary also serves: the day-2 state == fit on days 1-2
    val mid = LanguageModel.knNgramScoreWith(
        LanguageModel.knNgramModel(states.synchronized(states(1))),
        score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val midWant = LanguageModel.knNgramLogLoss(
        days.take(2).reduce(_ unionByName _), score, "doc_id", "text", order = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mid == midWant, "mid-stream state must equal the fit on arrived days")
  }

  test("knNgramStateIngest + sbNgramStateIngest: order-N rolled states finalize to the from-scratch fits (VERDICT r12 #4)") {
    import graft.operators.LanguageModel
    val days = Seq(
      Seq((10L, "a b a b c d"), (11L, "b c a b d")),
      Seq((20L, "c a d b e a"), (21L, "a b c c a d")),
      Seq((30L, "d a b e c"), (31L, "e b a c d a")))
      .map(_.toDF("doc_id", "text"))
    val dir = stageDays(days, "graft-stream-knN")
    val score = Seq((1L, "a b c a d"), (2L, "a e z b c"), (3L, "z d a b e"))
      .toDF("doc_id", "text")
    val all = days.reduce(_ unionByName _)

    def streamOf() = spark.readStream.schema(days.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // KN at order 3
    val knStates = scala.collection.mutable.ArrayBuffer.empty[LanguageModel.KnNgramState]
    StreamingOps.knNgramStateIngest(streamOf(),
        LanguageModel.knNgramState(days.head.limit(0), "text", order = 3), "text")(
        st => knStates.synchronized { knStates += st; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    assert(knStates.size == 3)
    val knGot = LanguageModel.knNgramLogLossFromState(
        knStates.synchronized(knStates.last), score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val knWant = LanguageModel.knNgramLogLoss(all, score, "doc_id", "text",
        order = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(knGot == knWant, "rolled order-3 KN state != from-scratch fit")
    // SB at order 3
    val sbStates = scala.collection.mutable.ArrayBuffer.empty[LanguageModel.SbNgramState]
    StreamingOps.sbNgramStateIngest(streamOf(),
        LanguageModel.sbNgramState(days.head.limit(0), "text", order = 3), "text")(
        st => sbStates.synchronized { sbStates += st; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    assert(sbStates.size == 3)
    val sbGot = LanguageModel.sbNgramLogLossFromState(
        sbStates.synchronized(sbStates.last), score, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sbWant = LanguageModel.sbNgramLogLoss(all, score, "doc_id", "text",
        order = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sbGot == sbWant, "rolled order-3 SB state != from-scratch fit")
  }

  test("quantileStateIngest: 3-batch rolled histogram finalizes to the direct quantile, bit for bit") {
    import graft.operators.{AggState, Quantiles}
    // three "days" with ties across batches and a NaN/NULL to drop;
    // the merge across batches must be invisible in the finalize
    val days = Seq(
      Seq(("a", Some(1.0)), ("a", Some(2.0)), ("b", Some(10.0))),
      Seq(("a", Some(2.0)), ("a", Some(3.0)), ("b", Some(Double.NaN))),
      Seq(("a", Some(4.0)), ("b", None), ("b", Some(20.0))))
      .map(_.toDF("k", "v"))
    val dir = stageDays(days, "graft-stream-qs")
    val stream = spark.readStream.schema(days.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val init = AggState.stateQuantile(
      Seq(("a", Some(0.0))).toDF("k", "v"), Seq("k"), "v").localCheckpoint()
    val states = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    StreamingOps.quantileStateIngest(stream, init, Seq("k"), "v")(
        st => states.synchronized { states += st; () })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .start().awaitTermination()
    assert(states.size == 3, s"expected one state per file batch, got ${states.size}")
    val qs = Seq(0.0, 0.5, 0.75, 1.0)
    val got = AggState.finalizeQuantile(states.last, Seq("k"), "v", qs, as = "q")
      .orderBy("k").collect().toSeq
    val all = Seq(("a", Some(0.0))).toDF("k", "v")
      .unionByName(days.reduce(_ unionByName _))
    val want = Quantiles.exactQuantile(all, Seq("k"), "v", qs, as = "q")
      .orderBy("k").collect().toSeq
    assert(got == want, s"rolled-state finalize $got != direct $want")
    // intermediate states are valid prefixes: batch-1 state == direct
    // over init + day 1 (arrival-prefix semantics)
    val got1 = AggState.finalizeQuantile(states.head, Seq("k"), "v", qs, as = "q")
      .orderBy("k").collect().toSeq
    val want1 = Quantiles.exactQuantile(
        Seq(("a", Some(0.0))).toDF("k", "v").unionByName(days.head),
        Seq("k"), "v", qs, as = "q")
      .orderBy("k").collect().toSeq
    assert(got1 == want1)
  }
}
