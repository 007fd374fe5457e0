package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator (SURVEY.md §2 IDs noted
  * at each definition site); `oracleSql` carries the DuckDB-equivalent ANSI
  * SQL for each hash-checked query. Every entry is hash-checked as of
  * round 18 — the last rows-only sketches (HLL approx-distinct, t-digest
  * approx-percentile) were replaced by deterministic KMV twins whose
  * estimates DuckDB re-derives bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's `obter_top_10_indices` (main.py:149–157) transliterated
    * — see queries.RefQueries.flagshipTop10.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_flagship_top10")(spark, "/root/testdata/sf0.001")

  /** Every registered module: its queries (one per implemented operator
    * from SURVEY.md §2) and, per query, the equivalent ANSI SQL runnable
    * by DuckDB on the same parquet tables.
    */
  private[graft] def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (graft.queries.RefQueries.queries, graft.queries.RefQueries.oracle),
      (graft.queries.JoinQueries.queries, graft.queries.JoinQueries.oracle),
      (graft.queries.RelQueries.queries, graft.queries.RelQueries.oracle),
      (graft.etl.EtlQueries.queries, graft.etl.EtlQueries.oracle),
      (graft.etl.Sampling.queries, graft.etl.Sampling.oracle),
      (graft.etl.Profiler.queries, graft.etl.Profiler.oracle),
      (graft.etl.Checks.queries, graft.etl.Checks.oracle),
      (graft.etl.SkewJoin.queries, graft.etl.SkewJoin.oracle),
      (graft.queries.EventQueries.queries, graft.queries.EventQueries.oracle),
      (graft.text.TextOps.queries, graft.text.TextOps.oracle),
      (graft.text.CurationOps.queries, graft.text.CurationOps.oracle),
      (graft.text.BpeTrainer.queries, graft.text.BpeTrainer.oracle),
      (graft.text.Dedup.queries, graft.text.Dedup.oracle),
      (graft.text.SpanDedup.queries, graft.text.SpanDedup.oracle),
      (graft.text.CorpusPipeline.queries, graft.text.CorpusPipeline.oracle),
      (graft.text.LangId.queries, graft.text.LangId.oracle),
      (graft.text.QualityModel.queries, graft.text.QualityModel.oracle),
      (graft.vec.VectorOps.queries, graft.vec.VectorOps.oracle),
      (graft.graph.Components.queries, graft.graph.Components.oracle),
      (graft.multimodal.Media.queries, graft.multimodal.Media.oracle),
      (graft.sources.Sinks.queries, graft.sources.Sinks.oracle),
      (graft.streaming.CorpusStreaming.queries, graft.streaming.CorpusStreaming.oracle),
      (graft.streaming.EventStreaming.queries, graft.streaming.EventStreaming.oracle),
      (graft.streaming.VectorStreaming.queries, graft.streaming.VectorStreaming.oracle))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
