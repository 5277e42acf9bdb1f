package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Agg, Aggregations, CacheScope, Parquet}

/** Structured Streaming surface: the engine's grouped-reduction registry
  * over unbounded inputs, plus the streaming-native forms of dedup and
  * scans. The reference is batch-only (SURVEY §2.8: "no
  * streaming/watermarks/state"); these are Spark-first extensions riding
  * the same `Agg` registry, so a batch pipeline's aggregation specs move
  * to `readStream` unchanged.
  *
  * Scale notes: windowed aggregation state is bounded by
  * (groups x open windows) and evicted by the watermark;
  * `dedupExact` state is bounded by the watermark horizon too (that is
  * the point of dropDuplicatesWithinWatermark); `runningNanSum` keeps one
  * number per key — the smallest possible per-group state.
  *
  * == The streamability boundary (r6 verdict #8) ==
  *
  * What streams, and why — the test is always "is the per-key state the
  * operator must hold bounded by something the watermark can evict?":
  *
  *   - STATELESS row transforms (the curation filters: quality/langid/
  *     PII/Gopher flags, any per-row expression) — trivially streamable;
  *     streaming==batch is structural, not a re-implementation.
  *   - WINDOWED grouped reductions over event time ([[windowedReduce]]) —
  *     state = open windows per group, watermark-evicted.
  *   - WATERMARK-HORIZON dedup ([[dedupExact]]) — state = keys within
  *     the horizon.
  *   - RUNNING per-key scans ([[runningNanSum]] via mapGroupsWithState)
  *     — state = one accumulator per key (no per-row history).
  *   - KEYED latest-wins upsert ([[graft.operators.Upsert.latestByOrder]]
  *     run under readStream, complete/update-mode sink — the live
  *     CDC-apply table): state = ONE winner struct per key, and the
  *     max-struct fold is order-independent, so arrival order across
  *     micro-batches cannot change the result (q_stream_upsert
  *     hash-matches the batch q_upsert oracle).
  *   - CORPUS-STATE near-dup dedup ([[dedupNearIngestAppend]]) — the one
  *     stateful family whose state must NOT be watermark-evicted (an
  *     evicted sketch re-admits old duplicates), so it rides
  *     foreachBatch with the state in corpus storage (the persisted
  *     near-dup index, appended per batch), not the state store.
  *
  * What does NOT stream, deliberately — the batch transform family
  * (GroupByTransform rank/shift/diff/pctChange/interpolate, Ewm, the
  *  Rolling row/time frames, quantiles, argmin/argmax without pos):
  * each output row depends on an UNBOUNDED ordered prefix (or suffix)
  * of its group, so exact incremental maintenance needs per-key state
  * proportional to the group's history — precisely the state shape
  * watermarks exist to forbid. rank/shift would additionally
  * RETRACT already-emitted rows when a late row lands inside the order
  * (append mode cannot; update mode would rewrite unbounded output).
  * Do not add them here: bound the problem instead — run the batch
  * transform over a closed window of the stream's sink (the lambda
  * shape), or reformulate as a running scan (e.g. ewm-mean's recurrence
  * IS a bounded-state running scan per key and could ship as a
  * mapGroupsWithState if a use case pins its semantics — but that is a
  * NEW operator with in-order-arrival semantics, not the batch ewm).
  */
object StreamingOps {

  /** Event-time-windowed grouped reduction: the streaming form of
    * `groupby_reduce` with a datetime binning key (SURVEY §2.3). Registry
    * funcs compile exactly as in batch; positional funcs (first, last,
    * arg-extrema, topk, bottomk) take `pos` exactly as in batch — with an explicit
    * pos they are deterministic (value, pos) selections, order-independent
    * and so incrementally maintainable; without one they throw, as there
    * is no intrinsic order to fall back to on a stream either. `watermark`
    * bounds state and enables append-mode emission of closed windows;
    * None = complete/update modes.
    */
  def windowedReduce(
      stream: DataFrame,
      tsCol: String,
      windowDuration: String,
      by: Seq[String],
      aggs: Seq[Agg],
      watermark: Option[String] = None,
      slideDuration: Option[String] = None,
      pos: Option[Column] = None): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregation")
    graft.expressions.GraftFunctions.register(stream.sparkSession) // topk
    // batch parity: missing group labels (NULL / float NaN) are dropped,
    // exactly like GroupByReduce.reduce (reference core.py:2691-2702)
    val labeled = by.foldLeft(stream)((d, k) =>
      d.filter(graft.functions.NanOps.isValid(col(k), stream.schema(k).dataType)))
    val in = watermark.fold(labeled)(w => labeled.withWatermark(tsCol, w))
    val win = slideDuration.fold(window(col(tsCol), windowDuration))(
      s => window(col(tsCol), windowDuration, s))
    val cols = aggs.map { a =>
      val dt = stream.schema(a.value).dataType
      Aggregations.withMinCount(Aggregations.compile(a, dt, pos), a, dt).as(a.as)
    }
    in.groupBy(win.as("w") +: by.map(col): _*)
      .agg(cols.head, cols.tail: _*)
      .select(col("w.start").as("window_start") +: col("w.end").as("window_end")
        +: (by.map(col) ++ aggs.map(a => col(a.as))): _*)
  }

  /** Streaming exact dedup for ingest pipelines: emit only the first
    * occurrence of each content fingerprint, with state evicted at the
    * watermark horizon (duplicates arriving within the horizon are
    * dropped; the 128-bit salted fingerprint is the same key as the batch
    * [[graft.operators.Dedup.exactDedup]], so batch + streaming layers
    * agree on identity). */
  def dedupExact(
      stream: DataFrame,
      contentCol: String,
      tsCol: String,
      watermark: String): DataFrame = {
    val (h1, h2) = graft.operators.Dedup.contentKey(col(contentCol))
    stream
      .withColumn("__h1", h1).withColumn("__h2", h2)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h1", "__h2")
      .drop("__h1", "__h2")
  }

  /** Continuous maintenance of the EXACT quantile state
    * ([[graft.operators.AggState.stateQuantile]]): every micro-batch
    * folds ONCE to its own (keys, value, cnt) histogram and merges
    * into the running state — one vocab-sized hash aggregation per
    * batch, the batch rows never touched again. `emit` receives the
    * rolled state after each batch, so any batch boundary can
    * [[graft.operators.AggState.finalizeQuantile]] exact order
    * statistics over ALL history without rescanning a row.
    *
    * Streamability boundary (the corpus-state argument of
    * [[dedupNearIngestAppend]]): the histogram is CORPUS state, not
    * watermark state — an over-all-history quantile can never evict
    * anything, so this is a foreachBatch operator whose state belongs
    * in corpus storage (at
    * scale: MERGE INTO the persisted state table keyed on
    * (keys, value)), not in the state store. Here the rolled state is
    * localCheckpoint-ed per batch so plans stay flat and the consumed
    * micro-batch frame is never referenced after its call returns.
    * Exactness: merge order across batches is invisible (integer
    * count sums are associative/commutative — the AggStateSpec
    * merge-tree pin), so the replayed stream hash-matches the direct
    * batch quantile. */
  def quantileStateIngest(
      stream: DataFrame,
      initial: DataFrame,
      keys: Seq[String],
      valueCol: String)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var state = initial
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = graft.operators.AggState.stateQuantile(batch.toDF(), keys, valueCol)
        state = graft.operators.AggState
          .mergeQuantile(state.unionByName(b), keys, valueCol)
          .localCheckpoint()
        emit(state)
    }
  }

  /** Continuous SCD2 maintenance — the third member of the
    * must-not-evict corpus-state family ([[dedupNearIngestAppend]],
    * [[quantileStateIngest]]): each micro-batch rolls the dimension
    * history forward with [[graft.operators.Upsert.scd2Upsert]] (only
    * the OPEN slice joins the batch; closed intervals pass through),
    * and `emit` receives the rolled history. Validity intervals over
    * all time can never watermark-evict, so the history belongs in
    * corpus storage (MERGE INTO at scale), not the state store; here
    * each roll localCheckpoints so per-batch plans stay one day deep
    * (the [[graft.operators.Upsert.scd2Upsert]] daily-loop note).
    * Batch-boundary semantics: each micro-batch is one SCD2 version
    * step — day-by-day rolls are equivalent to the from-scratch
    * interval build over the concatenated changelog (the shared
    * q_scd2 oracle pins exactly that through q_stream_scd2). */
  def scd2Ingest(
      stream: DataFrame,
      initial: DataFrame,
      keys: Seq[String],
      versionCol: String,
      payloadCols: Seq[String])(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var history = initial
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        history = graft.operators.Upsert
          .scd2Upsert(history, batch.toDF(), keys, versionCol, payloadCols)
          .localCheckpoint()
        emit(history)
    }
  }

  /** Continuous maintenance of an at-rest index
    * ([[graft.operators.AtRestIndex]]; VERDICT r10 #3): the index under
    * `dir` is read ONCE at sink construction — its frozen fit state is
    * bounded metadata — then each micro-batch encodes ONLY its own rows
    * with the family's encoder and parquet-APPENDs them to each per-row
    * table ([[appendDelta]]). History is never read, re-encoded or
    * re-materialized, so per-batch cost tracks the BATCH size while the
    * drained index grows without bound (BENCH_NOTES, Round 11,
    * "Append-mode ingest sinks": the same 1000-doc batch appended in
    * 0.73 s over 0.7M and 0.85 s over 45.6M at-rest posting rows). Seed
    * `dir` with the history index first (its `write`, which also lays
    * down the fit tables); probe any time through `reader`, which sees
    * every batch committed so far. Append ≡ rebuild is exact (per-row
    * state), so the drained directory hash-matches the from-scratch
    * build regardless of batch boundaries (q_substr_index_stream,
    * q_stream_ann, q_stream_sq8). */
  def indexIngestAppend[I <: graft.operators.AtRestIndex[I]](
      stream: DataFrame,
      dir: String,
      reader: graft.operators.AtRestIndex.Reader[I],
      idCol: String,
      valueCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val idx = reader.read(stream.sparkSession, dir)
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        appendRows(idx, dir, idx.encode(batch.toDF(), idCol, valueCol))
    }
  }

  /** Parquet-APPENDs per-row deltas (in the index's table order) under
    * `dir` — the at-rest half of [[graft.operators.AtRestIndex.append]]. */
  private def appendRows(
      idx: graft.operators.AtRestIndex[_],
      dir: String,
      deltas: Seq[DataFrame]): Unit =
    idx.rowTables.zip(deltas).foreach { case ((name, _), d) => appendDelta(d, s"$dir/$name") }

  /** Continuous-ingestion NEAR-dup dedup — the streaming form of the
    * daily loop ([[graft.operators.AtRestIndex.append]]) over an
    * at-rest [[graft.operators.Dedup.NearDupIndex]] directory, in the
    * append-sink convention of [[indexIngestAppend]]. Each micro-batch
    * (1) probes its own rows against the index (cross-set +
    * within-batch, exact-Jaccard-verified, the
    * [[graft.operators.Dedup.dedupIncrementalNear]] contract), then
    * (2) localCheckpoints the BATCH-sized survivors and (3) parquet-
    * APPENDs only their sketch rows — rejects never enter (append ≡
    * rebuild is the pinned NearDupIndex contract; the checkpoint keeps
    * the append from writing a plan that still reads its own target).
    * `emit` receives each batch's survivors.
    *
    * The probe reads a cached snapshot of the directory, not a fresh
    * read per batch: the directory is read once, at the first batch, and
    * each batch extends the snapshot with the same checkpointed delta it
    * appends ([[HandleCompactEvery]] bounds the snapshot's plan depth and
    * the checkpoints it holds). Per-batch cost = probe (batch×index
    * bucket join) + batch-sized append; accumulated state is never
    * rewritten.
    *
    * Why foreachBatch and not a stateful aggregation: the index is
    * CORPUS state, not watermark state — it grows with accepted content
    * by design and no watermark may evict it (evicting would re-admit old
    * duplicates). So the state belongs in corpus storage (the index
    * directory, appended per batch), not in the state store. The other
    * corpus-state sinks ([[quantileStateIngest]], [[scd2Ingest]],
    * [[curationIngestAppend]]) rest on the same argument.
    *
    * Ordering semantics: within a batch, smaller-id keep-first; across
    * batches, ARRIVAL order arbitrates (earlier accepted content wins) —
    * exactly q_dedup_rolling's day-granularity rule at micro-batch
    * granularity. StreamingSpec pins a one-file-per-trigger replay equal
    * to the sequential daily loop, batch for batch, directory state
    * included.
    *
    * Id contract (ADVICE r13): `idCol` must be UNIQUE per batch (the
    * usual document id — the [[graft.operators.NgramOverlap
    * .removeDuplicateSpans]] contract). The survivor sketch delta is
    * the id-restriction of the full-batch sketch; two same-id rows with
    * different text would append the dropped row's sketch rows under
    * the surviving id.
    *
    * Returns the configured writer — the caller adds trigger and
    * checkpoint location and starts it (the [[graft.LlmQueries]]
    * AvailableNow replay, or a continuous trigger in production). */
  def dedupNearIngestAppend(
      stream: DataFrame,
      dir: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    val snapshot = new Snapshot(Dedup.NearDupIndex.read(_, dir))
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val idx = snapshot.next(batch.sparkSession)
        // sketch the batch ONCE (r13): the probe reuses it via preSketch,
        // and the survivor delta is its semi-join restriction — sketch
        // rows are per-document, so filtering by survivor id is
        // row-identical to re-sketching the survivors
        val (shAll, bAll) = Dedup.batchSketchCheckpointed(batch.toDF(),
          idCol, textCol, idx.n, idx.bands, idx.rows)
        val surv = Dedup.dedupIncrementalNear(idx, batch.toDF(),
            idCol, textCol, threshold, preSketch = Some((shAll, bAll)))
          .localCheckpoint()
        val survIds = surv.select(col(idCol).as("id"))
        val addB = bAll.join(survIds, Seq("id"), "left_semi").localCheckpoint()
        val addS = shAll.join(survIds, Seq("id"), "left_semi").localCheckpoint()
        appendRows(idx, dir, Seq(addB, addS))
        snapshot.extend(idx.union(Seq(addB, addS)), addB, addS)
        emit(surv)
        // the full-batch sketches are dead now: their appended deltas
        // are independently checkpointed restrictions (ADVICE r13)
        CacheScope.dropCheckpoint(shAll)
        CacheScope.dropCheckpoint(bAll)
    }
  }

  /** Seed the at-rest state directory for [[curationIngestAppend]] by
    * running the batch flagship's stages 1–5 over `history` (possibly an
    * empty frame — the cold-start of a new crawl) and writing the three
    * state families the streaming sink appends to:
    *
    *   - `dir/canon` — exact-survivor canon keys (`__canon`), the
    *     exact-dedup probe's left-anti target;
    *   - `dir/buckets`, `dir/shingles`, `dir/meta` — the
    *     [[graft.operators.Dedup.NearDupIndex]] of ALL exact-survivors
    *     (the curation index rule: near-dup REJECTS index too, because
    *     the batch drop rule fires on the smaller side regardless of
    *     that side's own fate — the A~B~C chain case);
    *   - `dir/decon` — the decontaminated survivors, i.e. the cumulative
    *     curated corpus the rollup reads.
    *
    * Everything written derives from `history`'s lineage only — no state
    * directory is read — so the seed is safe to write into an empty dir. */
  def curationSeed(
      history: DataFrame,
      evalDocs: DataFrame,
      evalSources: Seq[String],
      dir: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      bands: Int = 32,
      rows: Int = 4,
      ngram: Int = 5): Unit = {
    import graft.operators.{Dedup, NgramOverlap, TextAnalysis}
    val base = history.where(col(textCol).isNotNull)
    val passed = TextAnalysis.gopherFlags(base, textCol)
      .where(col("gopher_pass"))
      .select(base.columns.map(col).toIndexedSeq: _*)
    val ex = Dedup.dropDuplicatesKeepFirst(
      passed.withColumn("__canon", TextAnalysis.normalizeText(col(textCol))),
      idCol, "__canon")
    // REBALANCE before the state writes (guide §6): AQE sizes the output
    // files to the advisory partition size — one file for a small/empty
    // seed instead of one near-empty footer per shuffle partition, split
    // into sized files for a large history; every later probe of the
    // directory pays listing + footer cost for real data only
    ex.select("__canon").hint("rebalance")
      .write.mode("overwrite").parquet(s"$dir/canon")
    val exDocs = ex.drop("__canon")
    val idx0 = Dedup.buildNearDupIndex(exDocs, idCol, textCol, n, bands, rows)
    idx0.copy(buckets = idx0.buckets.hint("rebalance"),
      shingles = idx0.shingles.hint("rebalance")).write(dir)
    val surv = Dedup.nearDupDedup(exDocs, idCol, textCol, n, threshold,
      bands, rows)
    val train = surv.where(!col("source").isin(evalSources: _*))
    val contam = NgramOverlap.contaminatedDocs(train, evalDocs, idCol, textCol,
        n = ngram, broadcastEval = true)
      .select(col(idCol).as("__contam_id"))
    train.join(contam, col(idCol) === col("__contam_id"), "left_anti")
      .hint("rebalance")
      .write.mode("overwrite").parquet(s"$dir/decon")
  }

  /** STREAMING CURATION FLAGSHIP (VERDICT r10 #6; at rest since
    * VERDICT r11 #1) — the six-stage q_curation_e2e chain over an
    * unbounded document stream at micro-batch cadence, in the
    * append-sink convention
    * ([[indexIngestAppend]]/[[dedupNearIngestAppend]]).
    * All corpus state lives in the [[curationSeed]] directory; per batch:
    *
    *   1-2. gopher gate + normalization — stateless;
    *   3. exact keep-first: in-batch smaller-id race, then ONE left-anti
    *      join against the canon keys of `dir/canon`; fresh keys
    *      parquet-APPEND;
    *   4. near-dup keep-first: probe the [[graft.operators.Dedup.NearDupIndex]]
    *      of the directory (the [[dedupNearIngestAppend]] argument: the
    *      probe genuinely needs history, and a bucket-equality join
    *      against at-rest tables is the 100 TB shape); the sketch rows of
    *      ALL the batch's EXACT-survivors parquet-APPEND, not just the
    *      near-dup survivors' — the batch rule drops the larger-id side of
    *      every verified pair regardless of the smaller side's own fate,
    *      so indexing only survivors would re-admit chain cases (A~B~C,
    *      A≁C: B drops on A, C must still drop on B);
    *   5. decontamination against the frozen eval gram table (eval sets
    *      are static reference data, so the table is derived ONCE at sink
    *      construction);
    *   6. the batch's decontaminated survivors parquet-APPEND under
    *      `dir/decon` — the cumulative curated corpus is the DIRECTORY,
    *      re-materialized by nobody. The budget sample + shard rollup run
    *      over that directory at rollup time (sampling thresholds depend
    *      on corpus totals, so they do not belong per batch).
    *
    * Both probes read cached snapshots of the directory, extended per
    * batch with the same checkpointed deltas that are appended (the
    * [[dedupNearIngestAppend]] snapshot, compacted every
    * [[HandleCompactEvery]] batches). Per-batch cost = two probes
    * (batch×at-rest joins) + three batch-sized appends; accumulated state
    * is never rewritten, so per-batch wall is flat in corpus size
    * (BENCH_NOTES, Round 12, "At-rest streaming curation sink": the same
    * 1000-doc batch took 6.79 s over 1,886 and 6.54 s over 120,704
    * at-rest docs). The per-batch localCheckpoints are batch-sized only:
    * `exNew` materializes before its plan's own target (`dir/canon`) is
    * appended to, survivors before their sketch append — the
    * write-after-checkpoint rule. At 100 TB, bucket the canon table by
    * hash(`__canon`) and partition the buckets table by `bucket` (the
    * [[graft.operators.Dedup.NearDupIndex]] prescription) so both probes
    * co-locate instead of shuffling the at-rest side; the append-only
    * layout is unchanged by either.
    *
    * STREAMED ≡ BATCH: when arrival order refines id order (day files
    * staged by id range), every stage's drop rule coincides with the
    * batch chain's, so the drained `dir/decon` row-matches the batch
    * chain's decontaminated frame and the rollup over the directory
    * hash-matches q_curation_e2e's oracle (q_stream_curation pins it
    * through this sink; StreamingSpec pins the sink against the batch
    * chain, including the A~B~C chain case, per-batch emits and
    * directory state). `emit` receives each batch's decontaminated
    * survivors. */
  def curationIngestAppend(
      stream: DataFrame,
      dir: String,
      evalDocs: DataFrame,
      evalSources: Seq[String],
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      ngram: Int = 5)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.{Dedup, NgramOverlap, TextAnalysis}
    val evalGrams = NgramOverlap
      .evalGramTable(evalDocs, idCol, textCol, n = ngram)
      .localCheckpoint()
    val snapshot = new Snapshot(spark =>
      (Dedup.NearDupIndex.read(spark, dir), Parquet.read(spark, s"$dir/canon")))
    stream.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (idx, canon) = snapshot.next(b.sparkSession)
        val batch = b.toDF()
        val base = batch.where(col(textCol).isNotNull)
        // 1-2: stateless gate + normalization
        val passed = TextAnalysis.gopherFlags(base, textCol)
          .where(col("gopher_pass"))
          .select(base.columns.map(col).toIndexedSeq: _*)
        val withCanon = passed.withColumn("__canon",
          TextAnalysis.normalizeText(col(textCol)))
        // 3: exact keep-first — in-batch race, then the canon snapshot
        val exBatch = Dedup.dropDuplicatesKeepFirst(withCanon, idCol, "__canon")
        val exNew = exBatch
          .join(canon, Seq("__canon"), "left_anti")
          .localCheckpoint()
        val canonDelta = exNew.select("__canon")
        appendDelta(canonDelta, s"$dir/canon")
        val exDocs = exNew.drop("__canon")
        // 4: near-dup probe against the index snapshot; the batch sketch
        // is computed ONCE ([[graft.operators.Dedup.batchSketchCheckpointed]])
        // and serves both the probe (preSketch) and the append delta
        val (addS, addB) = Dedup.batchSketchCheckpointed(exDocs, idCol,
          textCol, idx.n, idx.bands, idx.rows)
        val surv = Dedup.dedupIncrementalNear(idx, exDocs, idCol,
            textCol, threshold, preSketch = Some((addS, addB)))
          .localCheckpoint()
        appendRows(idx, dir, Seq(addB, addS))
        // the canon delta is a projection: the snapshot holds (and later
        // drops) the checkpointed exNew it reads
        snapshot.extend((idx.union(Seq(addB, addS)),
          canon.unionByName(canonDelta)), exNew, addS, addB)
        // 5: decontaminate against the frozen eval side
        val trainB = surv.where(!col("source").isin(evalSources: _*))
        val contam = NgramOverlap.contaminatedDocsPre(trainB, evalGrams,
            idCol, textCol, n = ngram, broadcastEval = true)
          .select(col(idCol).as("__contam_id"))
        val deconB = trainB.join(contam,
            col(idCol) === col("__contam_id"), "left_anti")
          .localCheckpoint()
        // 6: the curated corpus IS the directory
        appendDelta(deconB, s"$dir/decon")
        emit(deconB)
        // surv is dead now (deconB is an independent checkpoint and the
        // only emitted frame downstream of it — ADVICE r13)
        CacheScope.dropCheckpoint(surv)
    }
  }

  /** Re-read the at-rest directory into a sink's [[Snapshot]] every N
    * batches (ADVICE r13): the per-batch `unionByName` grows the
    * snapshot's logical plan (and pins every batch delta's checkpoint
    * blocks) without bound in a long-running stream; since every delta
    * is parquet-APPENDed before it is unioned in, the directory equals
    * the snapshot at every batch boundary, so a periodic re-read is a
    * pure compaction — same rows, O(1) plan depth — after which the
    * snapshot drops the delta checkpoints it held. 64 keeps the
    * amortized listing cost negligible (bench replays run 2–3 batches
    * and never hit it). */
  private[graft] val HandleCompactEvery = 64

  /** Test seam for [[HandleCompactEvery]]: a sink reads it once, on the
    * thread that constructs the sink, so a spec can drive compactions
    * through a few batches with `compactEvery.withValue(2) { … }`. */
  private[graft] val compactEvery = new scala.util.DynamicVariable[Int](HandleCompactEvery)

  /** The cached snapshot of an at-rest sink's state directory (VERDICT
    * r11 note): `read` runs at the first batch, and each batch then
    * extends the snapshot with its own checkpointed deltas — the SAME
    * materialized frames the sink parquet-APPENDs, so the snapshot is
    * exactly the directory's contents at every batch boundary, while a
    * batch skips the directory listing and footer reads a fresh read
    * pays (they grow with accumulated state; the union is batch-sized).
    * Every [[HandleCompactEvery]]-th batch re-reads instead and drops
    * the checkpoints held since the last read. Not thread-safe: one
    * stream's batches run one at a time. */
  private final class Snapshot[H <: AnyRef](read: org.apache.spark.sql.SparkSession => H) {
    private val every = compactEvery.value
    private var handle: H = _
    private var batches = 0L
    private var held = List.empty[DataFrame]

    /** The snapshot for this batch, re-read on the first batch and on
      * every `every`-th. */
    def next(spark: org.apache.spark.sql.SparkSession): H = {
      batches += 1
      if (handle == null || batches % every == 0) {
        handle = read(spark)
        held.foreach(CacheScope.dropCheckpoint)
        held = Nil
      }
      handle
    }

    /** Replace the snapshot with `extended`, whose unions read the
      * checkpointed frames `deltas`; they are dropped at the next
      * re-read. */
    def extend(extended: H, deltas: DataFrame*): Unit = {
      handle = extended
      held = deltas.toList ::: held
    }
  }

  /** Batch-delta parquet append with sane file sizing (optimization
    * guide §6, small files): a micro-batch delta far below the advisory
    * partition size writes as ONE file — instead of one near-empty
    * footer per shuffle partition — keeping the at-rest directory's
    * file count O(batches), so every later directory read (probes,
    * rollups, template copies) pays listing + footer cost for real data
    * only. The deltas here are localCheckpointed batch frames (or
    * projections of one) or a micro-batch's exchange-free encoding, so
    * the coalesce is a narrow, shuffle-free single-task write, and the
    * optimizer's size statistic is the materialized size (or, for an
    * encoding, the size estimate of the batch's source files). A delta LARGER than the advisory
    * partition size takes the REBALANCE path instead (r14, closing
    * VERDICT r13 #1): AQE splits the write into sized files across
    * tasks, so a production-scale batch never funnels through one
    * writer. Frames with UNKNOWN stats (defaultSizeInBytes) also take
    * the rebalance path — the safe side at scale. */
  private[graft] def appendDelta(df: DataFrame, path: String): Unit = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val advisory = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (bytes <= BigInt(advisory))
      df.coalesce(1).write.mode("append").parquet(path)
    else
      df.hint("rebalance").write.mode("append").parquet(path)
  }

  /** Continuous drift monitoring — the streaming form of
    * [[graft.operators.Drift.psi]]: each micro-batch folds ONCE into
    * the running (bin, n) histogram (integer counts sum associatively
    * — the [[quantileStateIngest]] argument) and `emit` receives the
    * PSI of the CUMULATIVE stream against a FROZEN base histogram, so
    * any batch boundary can gate the pipeline ("stop ingesting, the
    * distribution moved") over ALL arrived rows without rescanning
    * one. The histogram is bin-bounded mergeable state (corpus-state
    * family, but tiny); pass `baseCounts` precomputed and persisted /
    * parquet-backed ([[graft.operators.Drift.binCounts]]) — a lazy
    * base would rescan its corpus on every batch's emit. Batch
    * boundaries are invisible by construction: counts merged in any
    * grouping equal the one-shot count (q_stream_drift hash-matches
    * the batch PSI replay). */
  def driftIngest(
      stream: DataFrame,
      baseCounts: DataFrame,
      binCol: org.apache.spark.sql.Column)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var state = baseCounts.limit(0).localCheckpoint()
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val bc = graft.operators.Drift.binCounts(batch.toDF(), binCol)
        state = state.unionByName(bc)
          .groupBy(org.apache.spark.sql.functions.col("bin"))
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("n")).as("n"))
          .localCheckpoint()
        emit(graft.operators.Drift.psiFromCounts(baseCounts, state))
    }
  }

  /** Streaming CALIBRATION monitoring — the [[driftIngest]] twin for the
    * classifier-quality gate: each micro-batch folds its per-bin
    * (n, sum_p, sum_y, sum_sq) into the running
    * [[graft.operators.Drift.calibrationState]], and `emit` receives the
    * CUMULATIVE reliability bins — so any batch boundary can gate on
    * "is the quality model still calibrated over everything arrived?"
    * without rescanning a row ([[graft.operators.Drift.brierFromState]]
    * reads the same state for the composite score). Counts and decimal
    * sums merge associatively, so the emitted bins hash-match the batch
    * one-shot replay (q_stream_calibration). */
  def calibIngest(
      stream: DataFrame,
      pred: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column,
      nBins: Int = 10)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var state: DataFrame = null
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val bs = graft.operators.Drift.calibrationState(
          batch.toDF(), pred, label, nBins)
        state = (if (state == null) bs
          else graft.operators.Drift.mergeCalibrationStates(state, bs))
          .localCheckpoint()
        emit(graft.operators.Drift.calibrationFromState(state))
    }
  }

  /** Stateless curation pass for streaming ingest: deterministic hash
    * sampling, quality scoring + threshold, and PII scan/redaction
    * composed as pure per-row expressions. Appends `quality`, the
    * per-pattern `*_hits` counts, and `redacted`; keeps rows passing the
    * sample and the quality floor.
    *
    * Every step is STATELESS — no watermark, no state store, no shuffle
    * — so the streaming==batch invariant is structural: the same
    * DataFrame code runs under `readStream` (append mode, any
    * micro-batching) and batch with identical surviving rows, and the
    * sampling is keyed-hash (never `rand()`), so replays and retries are
    * idempotent. Rows with NULL text are dropped (their sample bucket
    * and quality are NULL — the batch semantics of the underlying
    * operators). The q_stream_filter driver row pins streaming output ==
    * the DuckDB batch oracle. */
  def curationFilter(
      stream: DataFrame,
      textCol: String,
      sampleRate: Double = 1.0,
      salt: Int = 0,
      minQuality: Long = 0L,
      piiPatterns: Seq[(String, String)] = graft.operators.Pii.Default): DataFrame = {
    require(!stream.columns.contains("quality"),
      "curationFilter reserves output column `quality`; rename it in the input")
    graft.expressions.GraftFunctions.register(stream.sparkSession)
    val sampled = graft.operators.Sampling.hashSample(
      stream, graft.operators.Sampling.textKey(col(textCol)), sampleRate, salt)
    val scored = sampled
      .withColumn("quality", graft.operators.TextAnalysis.qualityScore(col(textCol)))
      .where(col("quality") >= minQuality)
    graft.operators.Pii.scan(scored, textCol, piiPatterns)
  }

  /** Streaming LM-perplexity monitoring: score each arriving
    * micro-batch under a FITTED Kneser-Ney model
    * ([[graft.operators.LanguageModel.knNgramFit]] — frozen,
    * materialized count tables) and hand `emit` the BATCH-ONLY scored
    * rows (idCol, n_trans, kn{order}_loss). Scoring is STATELESS — every
    * document's transitions come from its own row, so no document
    * splits across batches and streamed ≡ batch is structural (the
    * curationFilter argument); per-batch cost is batch-sized (the
    * model tables are probed, never re-derived — the r10 append-sink
    * lesson: no accumulated state re-materializes here). The emitted
    * rows are localCheckpointed so callers may hold them past the
    * batch's lifetime (union for a drained total, threshold for a
    * keep/drop gate, bin for a drift feed). */
  def knScoreIngest(
      stream: DataFrame,
      model: graft.operators.LanguageModel.KnNgramModel,
      idCol: String,
      textCol: String)(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        emit(graft.operators.LanguageModel
          .knNgramScoreWith(model, batch.toDF(), idCol, textCol)
          .localCheckpoint())
    }

  /** Stateless streaming quality-classifier scoring — the
    * [[knScoreIngest]] shape for a fitted
    * [[graft.operators.FeatureScaling.logisticFit]] model: the
    * coefficient vector is d+1 frozen doubles (riding the plan as
    * literals — no broadcast, no state), each micro-batch scores as ONE
    * codegen projection, and streamed ≡ batch is structural because
    * every row's features are row-local. The monitoring tail of the
    * classifier pipeline: fit once on the curated reference, watch live
    * ingest quality drift. */
  def qualityScoreIngest(
      stream: DataFrame,
      features: Seq[(org.apache.spark.sql.Column, Double)],
      betas: Array[Double],
      as: String = "prob")(
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        emit(graft.operators.FeatureScaling
          .logisticScore(batch.toDF(), features, betas, as)
          .localCheckpoint())
    }

  /** Continuous KN-model maintenance — the [[quantileStateIngest]]
    * shape for the language model: each micro-batch folds ONCE into its
    * own bounded [[graft.operators.LanguageModel.knNgramState]] (level-n
    * gram + unigram counts — the complete sufficient statistic at any
    * depth) and merges into the running state — one union+regroup of
    * vocabulary-bounded tables per batch, the batch text never scanned
    * again. `emit` receives the rolled state, so any batch boundary can
    * [[graft.operators.LanguageModel.knNgramModel]] a scoring-ready
    * model (or [[graft.operators.LanguageModel.knNgramLogLossFromState]]
    * -score) that EXACTLY equals the from-scratch fit on everything
    * arrived (integer-sum associativity — StreamingSpec pins the 3-batch
    * roll at orders 2 and 4). The state is CORPUS state (a
    * reference-corpus LM never watermark-evicts), so it rides
    * foreachBatch with the state in corpus storage at scale
    * ([[graft.operators.LanguageModel.writeKnNgramState]] — parquet
    * tables, MERGE INTO at 100 TB), not the state store. */
  def knNgramStateIngest(
      stream: DataFrame,
      initial: graft.operators.LanguageModel.KnNgramState,
      textCol: String)(
      emit: graft.operators.LanguageModel.KnNgramState => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.LanguageModel
    var state = initial
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = LanguageModel.knNgramState(batch.toDF(), textCol, initial.order)
        val merged = LanguageModel.mergeKnNgramStates(state, b)
        state = LanguageModel.KnNgramState(merged.order,
          merged.grams.localCheckpoint(), merged.unigrams.localCheckpoint())
        emit(state)
    }
  }

  /** The stupid-backoff twin of [[knNgramStateIngest]]: per-level raw
    * count tables rolled by union+regroup (each level localCheckpointed
    * so per-batch plans stay one day deep). */
  def sbNgramStateIngest(
      stream: DataFrame,
      initial: graft.operators.LanguageModel.SbNgramState,
      textCol: String)(
      emit: graft.operators.LanguageModel.SbNgramState => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.LanguageModel
    var state = initial
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = LanguageModel.sbNgramState(batch.toDF(), textCol, initial.order)
        val merged = LanguageModel.mergeSbNgramStates(state, b)
        state = LanguageModel.SbNgramState(merged.order,
          merged.levels.map { case (k, df) => k -> df.localCheckpoint() },
          merged.unigrams.localCheckpoint())
        emit(state)
    }
  }

  /** Streaming per-key running sum (NaN-skipping): the streaming analog of
    * `groupby_scan`'s nancumsum (SURVEY §2.2), as explicit keyed state via
    * flatMapGroupsWithState — one double per key, the chunk-carry of the
    * reference's Blelloch scan (core.py:2948-2992) turned into
    * micro-batch state. Rows are emitted in arrival order within a
    * micro-batch (streaming has no global event-time order without a
    * sort; pair with a watermark + event-time sort downstream if needed).
    */
  /** Stream-stream event-time INTERVAL join (inner): each right row is
    * matched to same-key left rows with
    * `rTs ∈ [lTs, lTs + maxDelay]` — "purchase within an hour of
    * signup". The canonical two-stream correlation that batch engines
    * express as a range self-join.
    *
    * Watermarks on BOTH sides bound the join state (Spark's stream-
    * stream join requirement): left rows are evicted once the watermark
    * passes `lTs + maxDelay`, right rows once it passes `rTs`. Inner
    * matches emit as soon as both rows have arrived — the watermark
    * governs only state cleanup — so the operator composes with
    * AvailableNow replay (everything lands in one batch, every match
    * emits) and the streaming==batch invariant is testable end to end.
    *
    * Inputs must have disjoint column names apart from `keyCols`
    * (rename upstream); the output carries left columns then right
    * columns minus the duplicate keys. Also valid on two BATCH frames
    * (watermarks are no-ops there), where it plans as an equality
    * shuffle join with the range predicate as a post-filter — the same
    * no-cartesian shape as [[graft.operators.RangeJoin]].
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      lTs: String,
      rTs: String,
      maxDelay: String,
      watermarkDelay: String): DataFrame = {
    require(keyCols.nonEmpty, "intervalJoin needs at least one equality key")
    val clash = left.columns.toSeq.intersect(right.columns.toSeq)
      .filterNot(keyCols.contains)
    require(clash.isEmpty,
      s"intervalJoin needs disjoint non-key columns; rename ${clash.mkString(", ")}")
    val l = left.withWatermark(lTs, watermarkDelay).alias("__ij_l")
    val r = right.withWatermark(rTs, watermarkDelay).alias("__ij_r")
    val keyCond = keyCols.map(k => col(s"__ij_l.$k") === col(s"__ij_r.$k"))
      .reduce(_ && _)
    val cond = keyCond &&
      col(s"__ij_r.$rTs") >= col(s"__ij_l.$lTs") &&
      col(s"__ij_r.$rTs") <= col(s"__ij_l.$lTs") + expr(s"INTERVAL $maxDelay")
    val rightKeep = right.columns.toSeq.filterNot(keyCols.contains)
    l.join(r, cond, "inner")
      .select(left.columns.toSeq.map(c => col(s"__ij_l.$c"))
        ++ rightKeep.map(c => col(s"__ij_r.$c")): _*)
  }

  /** Streaming funnel: the running-scan reformulation of
    * [[graft.operators.Funnel.stepTimes]] (the boundary note above —
    * batch funnel depends on an unbounded ordered prefix, but its
    * STATE is bounded: k step instants per key, monotone under
    * in-order arrival). Per-key state = the earliest strictly-ordered
    * completion instant of each step (micros; MinValue = not reached);
    * each micro-batch's rows are processed in EVENT-TIME order within
    * the key, and a step i event sets `t_i` iff `t_{i-1}` is set,
    * `ts > t_{i-1}` (strict, as in batch), and `t_i` is still unset.
    *
    * IN-ORDER-ARRIVAL CONTRACT (the runningNanSum convention): rows
    * are sorted by event time WITHIN each micro-batch, so
    * streaming == batch holds exactly when batches respect event-time
    * order across boundaries (a replay, or an ordered source). A late
    * row landing in a later batch after its step window was consumed
    * is ignored rather than retracting emitted state — the documented
    * trade of this operator class; batch [[graft.operators.Funnel]] is
    * the ground truth when late data matters.
    *
    * Emits one row per key per batch with the current step instants
    * (Update mode): (key, t0..t{k-1} micros, MinValue = unreached).
    */
  def streamingFunnel(
      stream: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "streamingFunnel needs at least one step")
    val spark = stream.sparkSession
    import spark.implicits._
    val k = steps.size
    val stepIdx = steps.zipWithIndex.toMap
    val None_ = Long.MinValue
    stream
      .select(col(keyCol).cast("string"), unix_micros(col(tsCol)), col(typeCol))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, Long, String)],
         state: GroupState[Array[Long]]) => {
          val t = state.getOption.getOrElse(Array.fill(k)(None_))
          // event-time order within the batch (bounded buffer: one
          // micro-batch of one key)
          rows.toArray.sortBy(_._2).foreach { case (_, ts, tp) =>
            stepIdx.get(tp).foreach { i =>
              val eligible = t(i) == None_ &&
                (i == 0 || (t(i - 1) != None_ && ts > t(i - 1)))
              if (eligible) t(i) = ts
            }
          }
          state.update(t)
          Iterator.single((key, t.toSeq))
        })
      .toDF(keyCol, "step_micros")
  }

  def runningNanSum(stream: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, Double)], state: GroupState[Double]) => {
          var acc = state.getOption.getOrElse(0.0)
          val out = rows.map { case (_, v) =>
            if (!v.isNaN) acc += v
            (key, v, acc)
          }.toList // drain before the state update below
          state.update(acc)
          out.iterator
        })
      .toDF(keyCol, valueCol, "running_sum")
  }
}
