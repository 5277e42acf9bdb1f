package perfbench

/** The registry workload: a fixed list of `graft.SparkEntry.queries`
  * entries. Every call is checked against its DuckDB oracle
  * (`SparkEntry.oracleSql`). */
object Workloads {

  /** One core flox row per family (the family names the
    * `family.<f>_ms` subtotal it adds to), Kneser-Ney scoring from the
    * LLM-curation band, and the streaming write path (near-duplicate
    * ingestion into an index at rest). */
  val Registry: Seq[(String, String)] = Seq(
    "q_sum" -> "reduce", "q_median" -> "holistic", "q_cumsum" -> "scan",
    "q_bins" -> "layout", "q_kn_loss" -> "curation", "q_stream_dedup_near" -> "stream")

  val Families: Seq[String] = Seq("reduce", "scan", "holistic", "layout")

  /** The names `query.<name>.ms` is reported for. */
  val PerQuery: Seq[String] = Registry.map(_._1)

  /** The test tables; set-up opens each one. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
