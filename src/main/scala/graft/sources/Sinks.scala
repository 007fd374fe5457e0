package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface beyond the plain parquet scan (SURVEY.md S-1/S-3):
  * partitioned layouts, bucketed tables, and text formats with explicit
  * schemas. These are the write-side patterns that decide read-side cost at
  * 100 TB:
  *
  *   - `partitionBy(col)` → directory-level partition pruning: a filter on
  *     the partition column skips whole directories before any IO.
  *   - `bucketBy(n, key)` → co-located joins/aggregations: two tables
  *     bucketed on the same key by the same n join with ZERO shuffle.
  *   - CSV/JSON always with an explicit schema — inference reads the data
  *     twice and guesses types (the reference's main.py:167 mistake).
  */
object Sinks {

  /** Hive-style partitioned parquet: one directory per distinct value of
    * each partition column. Keep partition columns low-cardinality
    * (thousands of dirs, not millions — small-files death otherwise).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table. Requires saveAsTable (bucket metadata
    * lives in the catalog). Joining two tables bucketed on the same key
    * with the same bucket count plans SortMergeJoin with no Exchange.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Bucketed + sorted table at an EXPLICIT location (external table) —
    * same co-location contract as [[writeBucketed]] but the data lands at
    * `path` instead of the session warehouse, so ephemeral metastores
    * (fresh per JVM here) can re-register over a pre-existing directory
    * without managed-location conflicts.
    */
  def writeBucketedAt(
      df: DataFrame, table: String, path: String, bucketCol: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Driver-checked co-located join+aggregate over bucketed layouts — the
    * write-side decision that deletes the two big exchanges a fact⋈dim →
    * per-key rollup otherwise pays. Customer and orders are both written
    * bucketed 8 ways on the customer key; the join then needs no shuffle
    * (both sides' bucket layout IS the required clustering) and the
    * per-customer aggregate rides the same layout (grouping on a superset
    * of the bucket key satisfies its clustering too), so the only data
    * movement in the whole plan is the final top-10 TakeOrdered — at
    * 100 TB this is the difference between re-shuffling the fact table
    * per query and reading it join-ready (SourcesSpec pins the
    * no-Exchange plan; this entry pins the semantics against the plain
    *-join oracle). Temp tables/paths are per-sfDir and overwritten each
    * run; stale locations from prior JVMs are cleared first.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = SinkLifecycles.scratchDir(sfDir, "bucketed")
    val (base, cT, oT) = (root.getPath, s"${root.getName}_c", s"${root.getName}_o")
    spark.sql(s"DROP TABLE IF EXISTS $cT")
    spark.sql(s"DROP TABLE IF EXISTS $oT")
    writeBucketedAt(
      graft.model.Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name")),
      cT, s"$base/c", "c_custkey", 8)
    writeBucketedAt(
      graft.model.Tables.orders(spark, sfDir)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
      oT, s"$base/o", "c_custkey", 8)
    spark.table(cT).join(spark.table(oT), "c_custkey")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spent"))
      .orderBy(desc("total_spent"), col("c_custkey"))
      .limit(10)
  }

  val bucketedJoinSql: String =
    """SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** CSV read with an explicit schema — no inference pass, no type guessing. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** ORC: the other columnar format (predicate pushdown + column pruning
    * work the same as parquet through the vectorized ORC reader).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Driver-facing format roundtrip: a lineitem key slice written to CSV,
    * JSON, and ORC, read back through the explicit-schema readers above,
    * and audited per format — row count, an order-independent `bit_xor`
    * key fingerprint, and a string-column count (proves VARCHAR survives
    * the text formats, not just numerics). The DuckDB oracle computes the
    * SAME audit three times straight from parquet, so a row lost, a key
    * corrupted, or a flag mangled by ANY of the three format paths breaks
    * the hash — the source/sink surface moves from unit-tested to
    * driver-checked. Temp output is per-sfDir and overwritten each run
    * (bench reruns are idempotent).
    */
  def formatRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val slice = graft.model.Tables.lineitem(spark, sfDir)
      .where(col("l_orderkey") % 50 === 0)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"))
    val tmp = SinkLifecycles.scratchDir(sfDir, "roundtrip").getPath
    writeCsv(slice, s"$tmp/csv")
    writeJson(slice, s"$tmp/json")
    writeOrc(slice, s"$tmp/orc")
    def audit(df: DataFrame, fmt: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(l_orderkey * 10 + l_linenumber)").as("key_xor"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_flag_r"))
        .select(lit(fmt).as("format"), col("n_rows"), col("key_xor"), col("n_flag_r"))
    audit(readCsv(spark, s"$tmp/csv", slice.schema), "csv")
      .union(audit(readJson(spark, s"$tmp/json", slice.schema), "json"))
      .union(audit(readOrc(spark, s"$tmp/orc"), "orc"))
      .orderBy("format")
  }

  val formatRoundtripSql: String = {
    def audit(fmt: String): String =
      s"""SELECT '$fmt' AS format, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       bit_xor(l_orderkey * 10 + l_linenumber) AS key_xor,
         |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_r
         |FROM lineitem WHERE l_orderkey % 50 = 0""".stripMargin
    Seq("csv", "json", "orc").map(audit).mkString("", "\nUNION ALL\n", "\nORDER BY format")
  }

  /** Every checked query of this module: its plan and its DuckDB twin.
    * The lakehouse lifecycles are [[SinkLifecycles]]'s, the materialized
    * view and column-stat ones [[SinkMvLifecycles]]'s.
    */
  private val checked: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_format_roundtrip" -> (formatRoundtrip _, formatRoundtripSql),
    "q_bucketed_join" -> (bucketedJoin _, bucketedJoinSql),
    "q_dsv2_scan" -> (DocGen.dsv2Scan _, DocGen.dsv2ScanSql),
    "q_dsv2_columnar" -> (DocGen.dsv2Columnar _, DocGen.dsv2ColumnarSql),
    "q_dsv2_agg_pushdown" -> (DocGen.dsv2AggPushdown _, DocGen.dsv2AggPushdownSql),
    "q_dsv2_shard_rollup" -> (DocGen.dsv2ShardRollup _, DocGen.dsv2ShardRollupSql),
    "q_dsv2_spj" -> (DocGen.dsv2Spj _, DocGen.dsv2SpjSql),
    "q_dsv2_spj_bucket" -> (DocGen.dsv2SpjBucket _, DocGen.dsv2SpjBucketSql),
    "q_dsv2_metadata_cols" -> (DocGen.dsv2MetadataCols _, DocGen.dsv2MetadataColsSql),
    "q_dsv2_catalog_function" -> (DocGen.dsv2CatalogFunction _, DocGen.dsv2CatalogFunctionSql),
    "q_dsv2_runtime_filter" -> (DocGen.dsv2RuntimeFilter _, DocGen.dsv2RuntimeFilterSql),
    "q_dsv2_write_roundtrip" -> (SinkLifecycles.writeRoundtrip _, SinkLifecycles.writeRoundtripSql),
    "q_dsv2_delete" -> (SinkLifecycles.deleteRoundtrip _, SinkLifecycles.deleteRoundtripSql),
    "q_dsv2_delete_mor" -> (SinkLifecycles.morDeleteRoundtrip _, SinkLifecycles.morDeleteRoundtripSql),
    "q_dsv2_merge_mor" -> (SinkLifecycles.mergeMorRoundtrip _, SinkLifecycles.mergeMorRoundtripSql),
    "q_dsv2_cdf" -> (SinkLifecycles.changeFeedReport _, SinkLifecycles.changeFeedReportSql),
    "q_dsv2_cdf_update" -> (SinkLifecycles.changeFeedUpdate _, SinkLifecycles.changeFeedUpdateSql),
    "q_dsv2_merge_full" -> (SinkLifecycles.mergeFullSyncCow _, SinkLifecycles.mergeFullSyncSql),
    "q_dsv2_merge_full_mor" -> (SinkLifecycles.mergeFullSyncMor _, SinkLifecycles.mergeFullSyncSql),
    "s_dsv2_cdc_parity" -> (SinkLifecycles.cdcStreamParity _, SinkLifecycles.cdcStreamParitySql),
    "s_dsv2_replica_sync" -> (SinkLifecycles.replicaSyncParity _, SinkLifecycles.replicaSyncParitySql),
    "q_dsv2_merge" -> (SinkLifecycles.mergeRoundtrip _, SinkLifecycles.mergeRoundtripSql),
    "s_shardsink_stream_parity" -> (SinkLifecycles.streamWriteParity _, SinkLifecycles.streamWriteParitySql),
    "s_shardsink_tail_parity" -> (SinkLifecycles.tailParity _, SinkLifecycles.tailParitySql),
    "q_dsv2_time_travel" -> (SinkLifecycles.timeTravel _, SinkLifecycles.timeTravelSql),
    "q_dsv2_time_travel_ts" -> (SinkLifecycles.timeTravelTs _, SinkLifecycles.timeTravelTsSql),
    "q_dsv2_compact" -> (SinkLifecycles.compactRoundtrip _, SinkLifecycles.compactRoundtripSql),
    "q_dsv2_history" -> (SinkLifecycles.historyReport _, SinkLifecycles.historyReportSql),
    "q_dsv2_stats_prune" -> (SinkLifecycles.statsPrune _, SinkLifecycles.statsPruneSql),
    "q_dsv2_range_prune" -> (SinkLifecycles.rangePrune _, SinkLifecycles.rangePruneSql),
    "q_dsv2_count_meta" -> (SinkLifecycles.countMeta _, SinkLifecycles.countMetaSql),
    "q_dsv2_minmax_meta" -> (SinkLifecycles.minMaxMeta _, SinkLifecycles.minMaxMetaSql),
    "q_dsv2_evolve" -> (SinkLifecycles.schemaEvolution _, SinkLifecycles.schemaEvolutionSql),
    "q_dsv2_constraints" -> (SinkLifecycles.constraintsReport _, SinkLifecycles.constraintsReportSql),
    "q_dsv2_sink_spj" -> (SinkLifecycles.sinkSpj _, SinkLifecycles.sinkSpjSql),
    "q_dsv2_clone" -> (SinkLifecycles.cloneReport _, SinkLifecycles.cloneReportSql),
    "q_dsv2_meta_tables" -> (SinkLifecycles.metaTablesReport _, SinkLifecycles.metaTablesReportSql),
    "q_dsv2_ctas" -> (SinkLifecycles.ctasReport _, SinkLifecycles.ctasReportSql),
    "q_dsv2_manifest_segments" -> (SinkLifecycles.manifestSegmentsReport _, SinkLifecycles.manifestSegmentsReportSql),
    "q_dsv2_auto_evolve" -> (SinkLifecycles.autoEvolveReport _, SinkLifecycles.autoEvolveReportSql),
    "q_dsv2_seg_envelope" -> (SinkLifecycles.segEnvelopeReport _, SinkLifecycles.segEnvelopeReportSql),
    "q_dsv2_count_pruned" -> (SinkLifecycles.countPrunedReport _, SinkLifecycles.countPrunedReportSql),
    "q_dsv2_groupby_meta" -> (SinkLifecycles.groupByMetaReport _, SinkLifecycles.groupByMetaReportSql),
    "q_dsv2_sink_dpp" -> (SinkLifecycles.sinkDppReport _, SinkLifecycles.sinkDppReportSql),
    "q_dsv2_bloom_lookup" -> (SinkLifecycles.bloomLookupReport _, SinkLifecycles.bloomLookupReportSql),
    "q_dsv2_optimize_binpack" -> (SinkLifecycles.binPackReport _, SinkLifecycles.binPackReportSql),
    "q_dsv2_auto_compact" -> (SinkLifecycles.autoCompactReport _, SinkLifecycles.autoCompactReportSql),
    "q_dsv2_mv_refresh" -> (SinkMvLifecycles.mvRefreshReport _, SinkMvLifecycles.mvRefreshReportSql),
    "q_dsv2_col_skipping" -> (SinkMvLifecycles.colSkippingReport _, SinkMvLifecycles.colSkippingReportSql),
    "s_mv_stream_parity" -> (SinkMvLifecycles.mvStreamParity _, SinkMvLifecycles.mvStreamParitySql),
    "q_dsv2_mv_groups" -> (SinkMvLifecycles.mvGroupsReport _, SinkMvLifecycles.mvGroupsReportSql),
    "q_dsv2_mv_dist" -> (SinkMvLifecycles.mvDistReport _, SinkMvLifecycles.mvDistReportSql),
    "q_dsv2_mv_join" -> (SinkMvLifecycles.mvJoinReport _, SinkMvLifecycles.mvJoinReportSql),
    "q_dsv2_mv_restore" -> (SinkMvLifecycles.mvRestoreReport _, SinkMvLifecycles.mvRestoreReportSql),
    "q_dsv2_mv_join_dist" -> (SinkMvLifecycles.mvJoinDistReport _, SinkMvLifecycles.mvJoinDistReportSql),
    "s_mvjoin_stream_parity" -> (SinkMvLifecycles.mvJoinStreamParity _, SinkMvLifecycles.mvJoinStreamParitySql),
    "q_dsv2_mv_snowflake" -> (SinkMvLifecycles.mvSnowflakeReport _, SinkMvLifecycles.mvSnowflakeReportSql),
    "s_mvsnow_stream_parity" -> (SinkMvLifecycles.mvSnowflakeStreamParity _, SinkMvLifecycles.mvSnowflakeStreamParitySql),
    "q_dsv2_mv_rewrite" -> (SinkMvLifecycles.mvRewriteReport _, SinkMvLifecycles.mvRewriteReportSql),
    "q_dsv2_mv_filter_rewrite" -> (SinkMvLifecycles.mvFilterRewriteReport _, SinkMvLifecycles.mvFilterRewriteReportSql),
    "q_dsv2_mv_distinct_rewrite" -> (SinkMvLifecycles.mvDistinctRewriteReport _, SinkMvLifecycles.mvDistinctRewriteReportSql),
    "q_dsv2_mv_sql_ddl" -> (SinkMvLifecycles.mvSqlDdlReport _, SinkMvLifecycles.mvSqlDdlReportSql),
    "q_dsv2_mv_dimtail_rewrite" -> (SinkMvLifecycles.mvDimTailRewriteReport _, SinkMvLifecycles.mvDimTailRewriteReportSql),
    "q_dsv2_mv_join_rewrite" -> (SinkMvLifecycles.mvJoinRewriteReport _, SinkMvLifecycles.mvJoinRewriteReportSql),
    "q_dsv2_mv_snow_rewrite" -> (SinkMvLifecycles.mvSnowRewriteReport _, SinkMvLifecycles.mvSnowRewriteReportSql),
    "q_dsv2_mv_auto_rebucket" -> (SinkMvLifecycles.mvAutoRebucketReport _, SinkMvLifecycles.mvAutoRebucketReportSql),
    "q_dsv2_zorder_cols" -> (SinkMvLifecycles.zorderColsReport _, SinkMvLifecycles.zorderColsReportSql),
    "q_dsv2_meta_col_minmax" -> (SinkMvLifecycles.metaColMinMaxReport _, SinkMvLifecycles.metaColMinMaxReportSql),
    "q_dsv2_restore" -> (SinkLifecycles.restoreReport _, SinkLifecycles.restoreReportSql),
    "q_dsv2_replace_where" -> (SinkLifecycles.replaceWhereReport _, SinkLifecycles.replaceWhereReportSql),
    "q_dsv2_vacuum" -> (SinkLifecycles.vacuumReport _, SinkLifecycles.vacuumReportSql),
    "q_dsv2_zorder" -> (SinkLifecycles.zorderRoundtrip _, SinkLifecycles.zorderRoundtripSql),
    "q_dsv2_tags" -> (SinkLifecycles.tagsReport _, SinkLifecycles.tagsReportSql),
    "s_dsv2_stream_parity" -> (DocGen.dsv2StreamParity _, DocGen.dsv2StreamParitySql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    checked.map { case (k, (q, _)) => k -> q }

  val oracle: Map[String, String] = checked.map { case (k, (_, sql)) => k -> sql }

  /** PERMISSIVE CSV read: malformed lines land in `_corrupt_record` instead
    * of failing the job — the source-level twin of the reference's
    * drop-on-parse-failure (main.py:116–117 / SURVEY.md P-7). Callers
    * filter `_corrupt_record IS NULL` to drop (observable count) or keep
    * the column for quarantine-table routing. At 100 TB a FAILFAST job
    * dying at hour 9 on one bad line is the alternative — don't.
    * Note: Spark rejects queries touching ONLY `_corrupt_record` on the
    * raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache or materialize
    * the parse before corrupt-only filters.
    */
  def readCsvPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .csv(path)

  /** Small-file compaction: rewrite a directory (e.g. a streaming sink's
    * accumulated micro-batch files) into `nFiles` files via a staging dir +
    * swap. The operational follow-up to foreachBatch sinks — thousands of
    * tiny parquet files are the classic streaming-landing-zone pathology
    * (footer-per-file planning cost, tiny row groups).
    */
  def compact(spark: SparkSession, path: String, nFiles: Int): Unit = {
    val staging = path + "__compacting"
    spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"failed to clear $old")
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"failed to move $target aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), target))
      throw new java.io.IOException(s"failed to swap compacted files into $target")
    fs.delete(old, true)
  }

  /** JDBC source — the Spark-native replacement for the reference's
    * SQLAlchemy/Postgres read path (main.py:15, engine over DB_URL). The
    * partitioning contract is what makes it a PARALLEL scan instead of one
    * executor dragging the whole table through a single connection:
    * `partitionColumn` + `lowerBound`/`upperBound` + `numPartitions` split
    * the table into numPartitions range-predicate queries (`WHERE col >= lo
    * AND col < hi`), one per task, so 1000 executors each pull their slice.
    * Pick a roughly uniform numeric/date column (a surrogate key); bounds
    * only steer the split points — rows outside them are still read by the
    * first/last partition. No live DB ships in this container, so the
    * plumbing is unit-tested via the reader's declared options (see
    * SourcesSpec); the call shape is the production one.
    */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int,
      props: Map[String, String] = Map.empty): DataFrame = {
    require(numPartitions >= 1, "numPartitions must be >= 1")
    require(lowerBound < upperBound, "lowerBound must be < upperBound")
    val reader = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
    props.foreach { case (k, v) => reader.option(k, v) }
    reader.load()
  }

  /** JDBC sink — batch append, replacing the reference's per-row
    * session.add + COMMIT loop (main.py:130–147) with one transaction per
    * PARTITION: each task opens one connection and writes its rows in
    * `batchsize`-row batches (the two-round-trips-per-row pathology becomes
    * ~rows/batchsize round trips per executor). `numPartitions` caps
    * concurrent connections so 1000 tasks don't stampede the database —
    * coalesce (not repartition: no shuffle) down to it.
    */
  def writeJdbc(
      df: DataFrame,
      url: String,
      table: String,
      numPartitions: Int = 8,
      batchSize: Int = 10000,
      props: Map[String, String] = Map.empty): Unit = {
    require(numPartitions >= 1, "numPartitions must be >= 1")
    val writer = df.coalesce(numPartitions).write
      .format("jdbc")
      .mode(SaveMode.Append)
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
    props.foreach { case (k, v) => writer.option(k, v) }
    writer.save()
  }

  /** Range-partitioned, sorted-within-file layout: rows globally ordered on
    * `sortCol` across `nFiles` files. Parquet stores per-row-group min/max
    * on every column; with sorted data a range predicate on `sortCol` skips
    * whole row groups/files at scan time — the poor-man's index, and the
    * single highest-leverage layout decision for a 100 TB fact table.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, df(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
}
