package graft.operators

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

/** The one parquet open of the library: `spark.read.parquet(path)`
  * without the Spark job that schema inference runs.
  *
  * Spark's non-merging inference reads ONE footer — a summary file
  * (`_common_metadata`, then `_metadata`) if the listing has one, else
  * the first data file in path order — but it reads it inside a
  * one-task Spark job, one job per open. Here the same footer is picked
  * from a driver-side listing and read with Spark's own
  * `readParquetFootersInParallel` + `readSchema` under the session conf
  * (`nanosAsLong`, binary-as-string, …), and the schema is handed to
  * `read.schema(…)`. Partition columns are not in a footer, so Spark
  * still discovers and types them from the directory names.
  *
  * Nothing is cached: every call lists and reads the footer again, so a
  * directory that grew by an append is opened as it is now. Whenever
  * the shortcut could differ from Spark's own inference — schema merging
  * on, a glob path, no data file, or any error listing or reading the
  * footer — the plain `spark.read.parquet(path)` runs instead, with its
  * usual behaviour and errors. */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val leaves = listLeaves(root.getFileSystem(hadoopConf), root)
        .sortBy(_.getPath.toString)
      val (summaries, data) = leaves.partition(f => isSummary(f.getPath.getName))
      if (data.isEmpty) None
      else {
        val footer = summaries.find(_.getPath.getName == "_common_metadata")
          .orElse(summaries.headOption).getOrElse(data.head)
        FooterSchema.read(spark, hadoopConf, footer)
      }
    } catch { case NonFatal(_) => None }
  }

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  // Spark's listing filter: hidden and in-flight files are not part of
  // the relation, summary files and `_k=v` partition directories are
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }

  private def listLeaves(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.filterNot(f => hidden(f.getPath.getName)).flatMap { f =>
      if (f.isDirectory) listLeaves(fs, f.getPath) else Seq(f)
    }
}
