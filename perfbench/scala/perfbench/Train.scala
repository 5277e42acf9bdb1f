package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Class-loading run for the build: starts a session and touches the
  * common SQL paths (aggregate, window, parquet write and read) so the
  * JVM can archive the loaded classes (AppCDS). Shortens every later
  * run's JVM and session start; it times nothing.
  *
  * Usage: Train <scratch dir> */
object Train {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val df = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
    df.groupBy("k").agg(sum("id"), count("id")).collect()
    df.withColumn("c", sum("id").over(Window.partitionBy("k").orderBy("id"))).collect()
    df.write.mode("overwrite").parquet(args(0))
    spark.read.parquet(args(0)).groupBy("k").count().collect()
    spark.stop()
  }
}
