package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The at-rest lifecycle every persisted index shares:
  * [[Dedup.NearDupIndex]], [[Search.PostingsIndex]],
  * [[Similarity.Sq8Index]] and [[Similarity.AnnIndex]].
  *
  * On disk an index is one parquet table per name under its directory:
  * the PER-ROW tables (rows keyed by the document id) and the FIT tables
  * (the frozen state the encoder reads — quantizers, sketch parameters —
  * and `meta`, written last). A family supplies its tables, its encoder,
  * its `read`, its `build` and its probe; the maintenance below is
  * written once, here.
  *
  * Per-row maintenance policy: every per-row row derives from its own
  * document alone, through an encoder that reads only the frozen fit
  * state — no cross-document aggregate. So maintenance is exact:
  *   - [[append]] ≡ a from-scratch build on the union, row for row:
  *     the batch alone is encoded and unioned on, history is never
  *     re-encoded, and on disk it is a parquet append of the batch's
  *     rows (the streaming sink
  *     [[graft.streaming.StreamingOps.indexIngestAppend]]);
  *   - [[remove]] ≡ never present: one left-anti join on the id per
  *     per-row table (takedowns, GDPR erasure, licensing pull-backs);
  *     ids absent from the index are a no-op, and the fit state does
  *     not change — re-fitting is the one rebuild-the-world operation.
  *     A takedown list is small and broadcasts; a bulk purge shuffles on
  *     id, which is the rewrite compaction pays anyway;
  *   - [[compact]] folds the lazy unions and anti-joins flat: it writes
  *     the current state to `dir` and reads it back — dead rows gone from
  *     disk, lineage truncated to a scan. `dir` must differ from the
  *     directory the index was read from (Spark cannot overwrite a
  *     parquet source it is reading): the versioned-directory swap.
  *
  * The pins (append ≡ rebuild, delete ≡ never-present, compaction is a
  * no-op rewrite) are in DedupSpec, SearchSpec, AnnIndexSpec and
  * StreamingSpec. */
trait AtRestIndex[I <: AtRestIndex[I]] {

  /** The per-row tables by on-disk name, in write order. */
  private[graft] def rowTables: Seq[(String, DataFrame)]

  /** The family's encoder: the per-row rows of `batch` (id column
    * `idCol`, encoded column `valueCol`) under the frozen fit state, in
    * [[rowTables]] order. */
  private[graft] def encode(batch: DataFrame, idCol: String, valueCol: String): Seq[DataFrame]

  /** The fit tables by on-disk name, `meta` last. */
  protected def fitTables(spark: SparkSession): Seq[(String, DataFrame)]

  /** The id column of the per-row tables. */
  protected def idColumn: String

  /** This index with its per-row tables replaced, in [[rowTables]] order. */
  protected def withRows(tables: Seq[DataFrame]): I

  protected def reader: AtRestIndex.Reader[I]

  def write(dir: String): Unit = {
    rowTables.foreach { case (name, t) => AtRestIndex.overwrite(t, s"$dir/$name") }
    writeFit(dir)
  }

  /** Writes the fit tables only — for a family that lays its per-row
    * tables out itself. */
  protected def writeFit(dir: String): Unit =
    fitTables(rowTables.head._2.sparkSession).foreach { case (name, t) =>
      AtRestIndex.overwrite(t, s"$dir/$name")
    }

  /** Rolls the index forward with a batch of new documents. */
  def append(batch: DataFrame, idCol: String, valueCol: String): I =
    union(encode(batch, idCol, valueCol))

  /** Unions per-row deltas (in [[rowTables]] order) onto the tables. */
  private[graft] def union(deltas: Seq[DataFrame]): I =
    withRows(rowTables.zip(deltas).map { case ((_, t), d) => t.unionByName(d) })

  /** Drops every per-row row of the ids in the one-column frame `ids`. */
  def remove(ids: DataFrame): I = {
    val drop = ids.toDF(idColumn).distinct()
    // re-select: the anti-join moves its key column first, and the
    // at-rest column order is part of the index contract
    withRows(rowTables.map { case (_, t) =>
      t.join(drop, Seq(idColumn), "left_anti").select(t.columns.toIndexedSeq.map(col): _*)
    })
  }

  def compact(dir: String): I = {
    write(dir)
    reader.read(rowTables.head._2.sparkSession, dir)
  }
}

object AtRestIndex {

  /** A family's `read`: the index at rest under `dir`. */
  trait Reader[I] {
    def read(spark: SparkSession, dir: String): I
  }

  private def overwrite(t: DataFrame, path: String): Unit =
    t.write.mode("overwrite").parquet(path)
}
