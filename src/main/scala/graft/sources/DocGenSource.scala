package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{
  Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{
  Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics,
  SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{
  KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{
  EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector — the remaining Spark extension surface after
  * expressions (`graft.functions`), optimizer rules (`SinkMvRewrite`)
  * and whole-plan operators (`AsOfJoinPlan`): a custom table that
  * PARTICIPATES in planning instead of being a dumb row pump. The table is
  * a deterministic synthetic document corpus (doc_id → md5-derived body —
  * the crawl-simulator a 100 TB ingest pipeline uses for soak tests, and
  * deliberately derivable in DuckDB SQL so the whole connector is
  * hash-checkable end to end):
  *
  *   - **filter pushdown** ([[SupportsPushDownFilters]]): range/equality
  *     predicates on `doc_id` tighten the generated [lo, hi) interval
  *     INSIDE the source — accepted filters return no residual, so the
  *     plan carries no post-scan Filter for them;
  *   - **column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *     reader materializes only the requested fields (`body`, the
  *     expensive one, is never computed when pruned away);
  *   - **partition planning**: the surviving interval splits into
  *     `numPartitions` contiguous ranges — pushdown therefore IS
  *     partition pruning (a fully-filtered range plans zero partitions).
  *
  * Scale posture: partitions are independent closed-form ranges (no
  * driver-side row data, no skew — ranges are equal-width), the reader is
  * O(1) state, and every planning decision is visible in `Scan.description`
  * for plan-level tests. Registered by fully-qualified class name:
  * `spark.read.format("graft.sources.DocGenSource")`.
  */
class DocGenSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = DocGen.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DocGenTable(
      properties.getOrDefault("numDocs", DocGen.DefaultNumDocs.toString).toLong,
      properties.getOrDefault("numPartitions", DocGen.DefaultNumPartitions.toString).toInt,
      properties.getOrDefault("streamBatchSize", DocGen.DefaultStreamBatchSize.toString).toLong,
      properties.getOrDefault("partitionBy", "").equalsIgnoreCase("shard"),
      properties.getOrDefault("columnar", "false").toBoolean)
}

object DocGen {
  val DefaultNumDocs = 60000L
  val DefaultNumPartitions = 8
  val DefaultStreamBatchSize = 5000L

  /** doc_id, shard = doc_id % 16, body = md5 hex of the decimal id —
    * cheap, deterministic, and byte-identical to DuckDB's
    * `md5(CAST(doc_id AS VARCHAR))`.
    */
  val schema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("shard", IntegerType, nullable = false)
    .add("body", StringType, nullable = false)

  private val HexChars = "0123456789abcdef".toCharArray

  /** Per-row hot path: reuse one thread-local digest and a table-driven
    * hex encoder (a fresh MessageDigest + 16 Formatter calls per row would
    * dominate the generation cost the connector exists to benchmark).
    */
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def bodyOf(docId: Long): String = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(docId.toString.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Driver-checked exercise of the connector: a doc_id range predicate
    * (pushed into the source — the plan carries no post-scan Filter for
    * it) + per-shard rollup over all three columns. The DuckDB oracle
    * re-derives the ENTIRE table from `range()` + the same md5 formula,
    * so the connector's generation, pushdown arithmetic, and pruning are
    * all under the hash gate. sfDir-independent by design (the source is
    * synthetic); constant cost at every SF.
    */
  def dsv2Scan(spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    SinkLifecycles.shardRollup(
      SinkLifecycles.docs(spark, DefaultNumDocs, DefaultNumPartitions, 1000L, 26000L),
      sum(when(substring(col("body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
  }

  val dsv2ScanSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(1000, 26000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked COLUMNAR read (round 12 — the vectorized-source rung):
    * the same generated corpus delivered as ColumnarBatches of
    * OnHeapColumnVectors; Spark plans the ColumnarToRow transition and
    * downstream codegen consumes vectors, exactly how the built-in
    * parquet reader feeds a scan. Same pushdown (the range reaches the
    * generator), same rollup shape as dsv2Scan over a different window so
    * the two checked queries cannot be confused; DocGenSpec additionally
    * pins the ColumnarToRow node and row-vs-columnar equality.
    */
  def dsv2Columnar(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    SinkLifecycles.shardRollup(
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", DefaultNumDocs.toString)
        .option("columnar", "true")
        .load()
        .where(col("doc_id") >= 3000L && col("doc_id") < 41000L),
      sum(when(substring(col("body"), 1, 1) === "b", 1L).otherwise(0L)).as("n_body_b"))
  }

  val dsv2ColumnarSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(3000, 41000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_b
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked aggregate pushdown: COUNT/MIN/MAX(doc_id) per shard
    * over a pushed doc_id range. The connector answers the WHOLE
    * aggregation in closed form (DocGenAggScan — interval arithmetic, ≤16
    * rows, zero generated rows), so the executed plan contains NO
    * aggregate node (SourcesSpec pins that); the DuckDB oracle re-derives
    * the same answer by actually aggregating `range()`, which is exactly
    * the cross-check the closed form needs.
    */
  def dsv2AggPushdown(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    SinkLifecycles.docs(spark, DefaultNumDocs, DefaultNumPartitions, 777L, 44444L)
      .groupBy(col("shard"))
      .agg(
        count(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("shard")
  }

  val dsv2AggPushdownSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(777, 44444) t(doc_id))
      |SELECT shard, CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
      |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked reported partitioning: with `partitionBy=shard` each
    * input partition is one shard (+ its key via HasPartitionKey) and the
    * scan reports KeyGroupedPartitioning(shard), so the per-shard rollup
    * below runs WITHOUT a shuffle exchange (SourcesSpec pins the absence
    * of hashpartitioning; the ORDER BY's range exchange is presentation).
    * bit_xor is deliberately NOT pushable, so the aggregation itself runs
    * in Spark — this query isolates the partitioning contract from the
    * aggregate-pushdown one.
    */
  def dsv2ShardRollup(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // The no-exchange shape needs spark.sql.sources.v2.bucketing.enabled,
    // which graft.GraftSession sets at session construction for Bench,
    // Verify and Probe — NOT here: a query function mutating shared-session
    // conf would leak plan-shape changes into whatever runs after it
    // (round-12 ADVICE). Without the conf the query is still correct,
    // just with a shuffle.
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", DefaultNumDocs.toString)
      .option("partitionBy", "shard")
      .load()
      .where(col("doc_id") >= 2000L && col("doc_id") < 35000L)
      .groupBy(col("shard"))
      .agg(
        expr("bit_xor(doc_id)").as("xor_ids"),
        sum(when(substring(col("body"), 1, 1) === "f", 1L).otherwise(0L)).as("n_body_f"))
      .orderBy("shard")
  }

  val dsv2ShardRollupSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(2000, 35000) t(doc_id))
      |SELECT shard, bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'f' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_f
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Test/observability hook: the shard set most recently delivered to a
    * scan via runtime filtering — lets specs pin that DPP actually fired
    * (the pruning itself is invisible in the final rows by design).
    */
  val lastRuntimeFilter = new java.util.concurrent.atomic.AtomicReference[Set[Int]](null)

  /** Driver-checked runtime filtering: the docgen fact (shard-keyed) joins
    * a 5-row dim derived from `region` on shard. The dim broadcasts; at
    * execution Spark hands its shard values back through
    * [[SupportsRuntimeFiltering]] and 12 of 16 shard partitions are pruned
    * before any task launches (DocGenSpec pins the delivered filter and the
    * pruned partition count; this query pins the SEMANTICS — the oracle
    * joins the re-derived table against region in DuckDB).
    */
  def dsv2RuntimeFilter(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val fact = spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", DefaultNumDocs.toString)
      .option("partitionBy", "shard")
      .load()
      .where(col("doc_id") >= 4000L && col("doc_id") < 52000L)
    // the dim-side predicate is what makes DPP fire (Spark only prunes
    // when the build side is itself selectively filtered)
    val dim = graft.model.Tables.region(spark, sfDir)
      .where(col("r_regionkey") < 4)
      .select(col("r_regionkey").cast("int").as("shard_key"), col("r_name"))
    fact.join(broadcast(dim), fact("shard") === dim("shard_key"))
      .groupBy(col("shard"), col("r_name"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"))
      .orderBy("shard")
  }

  val dsv2RuntimeFilterSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(4000, 52000) t(doc_id))
      |SELECT shard, r_name, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids
      |FROM g JOIN region ON shard = CAST(r_regionkey AS INT) AND r_regionkey < 4
      |GROUP BY shard, r_name ORDER BY shard""".stripMargin

  /** Driver-checked STORAGE-PARTITIONED JOIN (the DSv2-to-DSv2
    * co-partitioned join, promoted from spec-level in round 12): two
    * shard-keyed docgen reads — overlapping doc_id windows — join on
    * (shard, doc_id) and roll up per shard. Both scans report
    * KeyGroupedPartitioning(shard) via HasPartitionKey, so with the SPJ
    * confs the SortMergeJoin runs with ZERO hash exchanges: each shard's
    * partition pair joins in place, exactly how two bucket-aligned 100 TB
    * tables should join on a real cluster.
    *
    * The SPJ confs (requireAllClusterKeysForCoPartition=false because the
    * join keys ⊃ the clustering key, pushPartValues, broadcast disabled so
    * the co-partitioned SMJ is what gets planned) would distort every
    * other query's plans if set on the shared session — so the query runs
    * in its OWN `spark.newSession()` (same SparkContext, session-local
    * conf), leaving the caller's session untouched. DocGenSpec pins the
    * zero-exchange plan on this exact function.
    */
  def dsv2Spj(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val s = SinkLifecycles.withSpj(spark.newSession())
    def side(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", DefaultNumDocs.toString)
      .option("partitionBy", "shard")
      .load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    val a = side(0L, 30000L)
      .select(col("shard").as("a_shard"), col("doc_id").as("a_id"), col("body").as("a_body"))
    val b = side(20000L, 50000L)
      .select(col("shard").as("b_shard"), col("doc_id").as("b_id"))
    a.join(b, col("a_shard") === col("b_shard") && col("a_id") === col("b_id"))
      .groupBy(col("a_shard").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(a_id)").as("xor_ids"),
        sum(when(substring(col("a_body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
      .orderBy("shard")
  }

  val dsv2SpjSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(20000, 30000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked BUCKET-TRANSFORM storage-partitioned join (round-13
    * VERDICT #2): the identity-transform SPJ above covers tables that
    * cluster on a raw column; real bucketed layouts (Iceberg-style)
    * declare `bucket(N, col)` TRANSFORMS, which Spark can only reason
    * about when the table's catalog serves the transform's canonical
    * function — so this query loads both sides through [[DocGenCatalog]]
    * (a V2 TableCatalog + FunctionCatalog) instead of the TableProvider
    * path. Both scans report KeyGroupedPartitioning(bucket(8, doc_id));
    * Spark resolves `bucket` via the catalog, checks the two
    * TransformExpressions share a canonical function + bucket count, and
    * plans the SMJ with ZERO exchanges below the join — each bucket's
    * partition pair joins in place (DocGenSpec pins the plan shape).
    * Join keys are doc_id alone: a transform clustering needs the join
    * keys to cover the transform's REFERENCES, not the bucket id.
    */
  def dsv2SpjBucket(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val s = SinkLifecycles.withSpj(
      SinkLifecycles.session(spark, Seq("graft_docgen"), classOf[DocGenCatalog]))
    def side(lo: Long, hi: Long) = s.read.table("graft_docgen.docs_60000_b8")
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    val a = side(0L, 30000L)
      .select(col("doc_id").as("a_id"), col("body").as("a_body"))
    val b = side(20000L, 50000L)
      .select(col("doc_id").as("b_id"))
    a.join(b, col("a_id") === col("b_id"))
      .groupBy(pmod(col("a_id"), lit(8L)).cast("int").as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(a_id)").as("xor_ids"),
        sum(when(substring(col("a_body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
      .orderBy("bucket")
  }

  val dsv2SpjBucketSql: String =
    """WITH g AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(20000, 30000) t(doc_id))
      |SELECT CAST(doc_id % 8 AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Driver-checked METADATA COLUMN read (round 13): `_range_start` is
    * provenance metadata (which input partition generated the row), never
    * part of the table schema — referenced explicitly it flows through
    * pruneColumns like any required field, and the rollup groups the
    * corpus by its 8 generating partitions. The oracle re-derives the
    * partition start in closed form (width 7500 over [0, 60000)), so the
    * split arithmetic the metadata column exposes is itself hash-checked.
    */
  def dsv2MetadataCols(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    SinkLifecycles.docs(spark, DefaultNumDocs, DefaultNumPartitions)
      .select(col("doc_id"), col("_range_start").as("range_start"))
      .groupBy(col("range_start"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("range_start")
  }

  val dsv2MetadataColsSql: String =
    """WITH g AS (
      |  SELECT doc_id, (doc_id // 7500) * 7500 AS range_start
      |  FROM range(0, 60000) t(doc_id))
      |SELECT range_start, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM g GROUP BY range_start ORDER BY range_start""".stripMargin

  /** Driver-checked SQL invocation of the V2 catalog function (round 13):
    * `graft_docgen.bucket(5, doc_id)` resolves through
    * [[DocGenCatalog.loadFunction]] and runs row-level via the typed
    * `invoke` magic method — the same canonical function SPJ planning
    * uses, now exercised as an ordinary scalar over a catalog-loaded
    * table with the usual pushdown (the WHERE range reaches the source).
    * The 5-bucket modulus is deliberately NOT the table's partition
    * modulus, so the result can't accidentally ride partition keys.
    */
  def dsv2CatalogFunction(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val s = SinkLifecycles.session(spark, Seq("graft_docgen"), classOf[DocGenCatalog])
    s.sql(
      """SELECT graft_docgen.bucket(5, doc_id) AS b,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       bit_xor(doc_id) AS xor_ids
        |FROM graft_docgen.docs
        |WHERE doc_id >= 10000 AND doc_id < 50000
        |GROUP BY graft_docgen.bucket(5, doc_id)
        |ORDER BY b""".stripMargin)
  }

  val dsv2CatalogFunctionSql: String =
    """SELECT CAST(doc_id % 5 AS INT) AS b, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids
      |FROM range(10000, 50000) t(doc_id)
      |GROUP BY 1 ORDER BY b""".stripMargin

  val NumShards = 16

  /** Closed-form per-residue slices of [lo, hi) under an arbitrary modulus:
    * residue r owns the arithmetic progression first(r), first(r)+mod, …
    * ≤ last(r). Empty residues are omitted. Requires lo ≥ 0 (doc ids are
    * nonnegative by construction). Shared by the shard split (mod 16) and
    * the bucket-transform split (mod numBuckets).
    */
  def modRanges(lo: Long, hi: Long, mod: Int): Array[(Int, Long, Long)] =
    (0 until mod).flatMap { s =>
      val first = lo + ((s - (lo % mod) + mod) % mod)
      if (first >= hi) None
      else {
        val last = (hi - 1) - ((((hi - 1) % mod) - s + mod) % mod)
        Some((s, first, last))
      }
    }.toArray

  def shardRanges(lo: Long, hi: Long): Array[(Int, Long, Long)] =
    modRanges(lo, hi, NumShards)

  private val streamSinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Micro-batch parity for the connector's streaming mode: the SAME
    * generated corpus drains as a 4-micro-batch stream (latestOffset
    * advances one `streamBatchSize` per call — genuinely multi-batch,
    * state crosses batch boundaries in the complete-mode aggregate) and
    * the final per-shard (count, bit_xor) table must equal the batch
    * read's — `n_diff = 0` is under the hash gate, with DuckDB
    * re-deriving the totals from `range()`.
    */
  def dsv2StreamParity(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // complete-mode aggregate = one state store per shuffle partition per
    // micro-batch: run the lifecycle in the tuned session (8 partitions,
    // session-local) — see graft.streaming.StreamTune
    val sparkTuned = graft.streaming.StreamTune.session(spark)
    val nDocs = 20000L
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"))
    val sink = s"graft_dsv2_stream_${streamSinkCounter.incrementAndGet()}"
    val q = rollup(
      sparkTuned.readStream.format("graft.sources.DocGenSource")
        .option("numDocs", nDocs.toString)
        .option("numPartitions", "4")
        .option("streamBatchSize", (nDocs / 4 + 1).toString)
        .load())
      .writeStream.outputMode("complete").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    // parity math stays in the tuned session too — cross-session frames
    // cannot be combined
    val streamed = sparkTuned.table(sink)
    val batch = rollup(
      SinkLifecycles.docs(sparkTuned, nDocs, 4))
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed.agg(count(lit(1)), sum(col("n_docs"))).collect().head
    import spark.implicits._
    Seq((totals.getLong(0), totals.getLong(1), nDiff))
      .toDF("n_shards", "n_docs", "n_diff")
  }

  val dsv2StreamParitySql: String =
    """WITH g AS (SELECT CAST(doc_id % 16 AS INT) AS shard FROM range(0, 20000) t(doc_id))
      |SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM g""".stripMargin
}

class DocGenTable(
    numDocs: Long, numPartitions: Int, streamBatchSize: Long,
    shardKeyed: Boolean = false, columnar: Boolean = false,
    bucketN: Option[Int] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"docgen($numDocs)"
  override def schema(): StructType = DocGen.schema

  /** [[org.apache.spark.sql.connector.catalog.SupportsMetadataColumns]]:
    * `_range_start` = the first doc_id of the generating input partition —
    * the docgen analogue of a file source's `_metadata.file_path`
    * (provenance: WHICH physical split produced this row). Materialized
    * only when referenced: pruneColumns sees it as one more required
    * field, so an ordinary scan never pays for it.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_range_start"
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "first doc_id of the generating input partition"
    })
  /** DDL-visible layout: identity(shard) in shard-keyed mode,
    * bucket(N, doc_id) in bucket mode — what the scan's reported
    * [[KeyGroupedPartitioning]] mirrors.
    */
  override def partitioning(): Array[Transform] =
    bucketN.map(n => Array(Expressions.bucket(n, "doc_id")))
      .orElse(if (shardKeyed) Some(Array(Expressions.identity("shard"))) else None)
      .getOrElse(Array.empty)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocGenScanBuilder(numDocs, numPartitions, streamBatchSize, shardKeyed, columnar, bucketN)
}

/** Mutable planning state: the [lo, hi) interval tightened by every
  * accepted `doc_id` predicate, the pruned schema, and (when the whole
  * aggregation is expressible in closed form over the surviving interval)
  * the pushed aggregate spec.
  */
class DocGenScanBuilder(
    numDocs: Long, numPartitions: Int,
    streamBatchSize: Long = DocGen.DefaultStreamBatchSize,
    shardKeyed: Boolean = false,
    columnar: Boolean = false,
    bucketN: Option[Int] = None)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates {

  private var lo = 0L
  private var hi = numDocs
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = DocGen.schema
  private var pushedAgg: Option[DocGenAggSpec] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition {
      case GreaterThan("doc_id", _: Long) => true
      case GreaterThanOrEqual("doc_id", _: Long) => true
      case LessThan("doc_id", _: Long) => true
      case LessThanOrEqual("doc_id", _: Long) => true
      case EqualTo("doc_id", _: Long) => true
      case _ => false
    }
    // saturating +1: v = Long.MaxValue must clamp, not wrap (a wrapped
    // bound with no residual would silently return wrong rows)
    def succ(v: Long): Long = if (v == Long.MaxValue) v else v + 1
    ours.foreach {
      case GreaterThan("doc_id", v: Long) =>
        lo = math.max(lo, succ(v)); if (v == Long.MaxValue) hi = lo // > MAX: empty
      case GreaterThanOrEqual("doc_id", v: Long) => lo = math.max(lo, v)
      case LessThan("doc_id", v: Long) => hi = math.min(hi, v)
      case LessThanOrEqual("doc_id", v: Long) => hi = math.min(hi, succ(v))
      case EqualTo("doc_id", v: Long) => lo = math.max(lo, v); hi = math.min(hi, succ(v))
      case _ =>
    }
    accepted = ours
    residual // range semantics are exact — accepted filters need no re-check
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown ([[SupportsPushDownAggregates]]) — the rung above
    * filters/columns: COUNT / MIN(doc_id) / MAX(doc_id), optionally grouped
    * by `shard`, all have CLOSED-FORM answers over the surviving [lo, hi)
    * interval (ids ≡ s (mod 16) form an arithmetic progression), so the
    * scan emits the final ≤16-row answer and Spark plans NO aggregate node
    * at all — at 100 TB this is the difference between shipping 16 rows
    * and scanning the corpus. Anything not expressible (sums over `body`,
    * distinct, other group keys) is declined and runs as a normal scan.
    */
  private def translateAgg(agg: Aggregation): Option[DocGenAggSpec] = {
    def isCol(e: org.apache.spark.sql.connector.expressions.Expression, name: String) =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array(name))
        case _ => false
      }
    val groupByShard = agg.groupByExpressions() match {
      case Array() => Some(false)
      case Array(e) if isCol(e, "shard") => Some(true)
      case _ => None
    }
    val funcs = agg.aggregateExpressions().map {
      case _: CountStar => Some("count")
      case c: Count if !c.isDistinct && isCol(c.column, "doc_id") => Some("count")
      case m: Min if isCol(m.column, "doc_id") => Some("min")
      case m: Max if isCol(m.column, "doc_id") => Some("max")
      case _ => None
    }
    for (g <- groupByShard if funcs.forall(_.isDefined) && funcs.nonEmpty)
      yield DocGenAggSpec(g, funcs.map(_.get).toSeq)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translateAgg(agg) match {
      case s @ Some(_) => pushedAgg = s; true
      case None => false
    }

  override def build(): Scan = pushedAgg match {
    case Some(spec) => DocGenAggScan(lo, math.max(lo, hi), spec)
    case None =>
      DocGenScan(
        lo, math.max(lo, hi), numPartitions, required, streamBatchSize, shardKeyed, columnar,
        bucketN)
  }
}

case class DocGenAggSpec(groupByShard: Boolean, funcs: Seq[String])

case class DocGenRange(start: Long, end: Long) extends InputPartition

/** One shard's ids within [lo, hi): the arithmetic progression first, first
  * +16, … ≤ last. Carries its key ([[HasPartitionKey]]) so Spark can trust
  * the scan's reported [[KeyGroupedPartitioning]].
  */
case class DocGenShardPartition(shard: Int, first: Long, last: Long)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val r = new GenericInternalRow(1)
    r.update(0, shard)
    r
  }
}

/** One BUCKET's ids within [lo, hi): the progression first, first+nBuckets,
  * … ≤ last (bucket = doc_id % nBuckets). The partition key is the bucket
  * VALUE — the result of the `bucket(nBuckets, doc_id)` transform — which
  * is what [[KeyGroupedPartitioning]] over a transform expects from
  * [[HasPartitionKey]] (contrast the identity-transform shard partitions,
  * whose key is the column itself).
  */
case class DocGenBucketPartition(bucket: Int, nBuckets: Int, first: Long, last: Long)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val r = new GenericInternalRow(1)
    r.update(0, bucket)
    r
  }
}

case class DocGenScan(
    lo: Long, hi: Long, numPartitions: Int, required: StructType,
    streamBatchSize: Long = DocGen.DefaultStreamBatchSize,
    shardKeyed: Boolean = false,
    columnar: Boolean = false,
    bucketN: Option[Int] = None)
  extends Scan with Batch with SupportsReportPartitioning with SupportsRuntimeFiltering
  with SupportsReportStatistics {

  /** [[SupportsReportStatistics]]: exact statistics from the surviving
    * interval (the row count IS hi−lo; bytes = fixed per-column widths,
    * body 32 hex chars when not pruned) — without this a V2 relation
    * defaults to "unknown = huge" and the optimizer can never choose to
    * broadcast a small docgen side. Reported AFTER pushdown, so a
    * tightly-filtered scan is honestly small (spec pins a broadcast
    * decision flipping on the filter).
    */
  override def estimateStatistics(): Statistics = {
    val rows = math.max(0L, hi - lo)
    val width = required.fieldNames.map {
      case "doc_id" => 8L
      case "shard" => 4L
      case "body" => 48L // 32 hex chars + string overhead
      case "_range_start" => 8L
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * math.max(1L, width))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  // Runtime (join-driven) shard pruning state — [[SupportsRuntimeFiltering]]
  // delivers the build side's shard values AFTER planning, at execution
  // (Spark's DPP for v2 sources), so this is deliberately a post-planning
  // mutable field, set once by filter() before partitions are (re)planned.
  @volatile private var runtimeShards: Option[Set[Int]] = None

  override def readSchema(): StructType = required

  override def description(): String =
    s"DocGenScan[range=[$lo,$hi), partitions=$numPartitions, " +
      s"columns=${required.fieldNames.mkString(",")}" +
      bucketN.map(n => s", keyed=bucket($n,doc_id)]")
        .getOrElse(if (shardKeyed) ", keyed=shard]" else "]")

  override def toBatch: Batch = this

  private def shardPartitions: Array[InputPartition] =
    DocGen.shardRanges(lo, hi)
      .filter { case (s, _, _) => runtimeShards.forall(_.contains(s)) }
      .map { case (s, first, last) => DocGenShardPartition(s, first, last): InputPartition }

  private def bucketPartitions(n: Int): Array[InputPartition] =
    DocGen.modRanges(lo, hi, n)
      .map { case (b, first, last) => DocGenBucketPartition(b, n, first, last): InputPartition }

  override def planInputPartitions(): Array[InputPartition] = bucketN match {
    case Some(n) => bucketPartitions(n)
    case None if shardKeyed => shardPartitions
    case None => DocGenScan.split(lo, hi, numPartitions)
  }

  /** [[SupportsRuntimeFiltering]]: a broadcast-join build side joining on
    * `shard` hands its shard values back at EXECUTION time (dynamic
    * partition pruning for v2 sources); in shard-keyed mode whole shard
    * partitions vanish before any task launches. In contiguous-range mode
    * every range interleaves all 16 shards, so pruning honestly keeps all
    * partitions (runtime filters are best-effort: the join still filters
    * rows). The accepted filter is recorded in [[DocGen.lastRuntimeFilter]]
    * so specs can pin that the engine actually delivered it.
    */
  override def filterAttributes(): Array[NamedReference] =
    // bucket partitions interleave shards (doc_id ≡ b mod N spans shards
    // b and b+N, …), so shard-based runtime pruning is honest only for
    // the shard-keyed split
    if (bucketN.isDefined) Array.empty else Array(Expressions.column("shard"))

  override def filter(filters: Array[Filter]): Unit = {
    val shards = filters.collectFirst {
      case In("shard", vs) => vs.collect { case n: Number => n.intValue }.toSet
    }
    shards.foreach { s =>
      runtimeShards = Some(s)
      DocGen.lastRuntimeFilter.set(s)
    }
  }

  /** [[SupportsReportPartitioning]]: with `partitionBy=shard` each planned
    * partition holds exactly one shard's rows and declares its key, so the
    * scan reports KeyGroupedPartitioning(identity(shard)) — a downstream
    * per-shard aggregation then needs NO exchange (requires
    * `spark.sql.sources.v2.bucketing.enabled`). The default contiguous-
    * range split interleaves shards and honestly reports Unknown.
    */
  override def outputPartitioning(): Partitioning = bucketN match {
    case Some(n) =>
      // bucket TRANSFORM partitioning: resolvable only through a
      // FunctionCatalog that serves the canonical `bucket` function
      // ([[DocGenCatalog]]) — a TableProvider-loaded read has no function
      // catalog and degrades to a normal shuffled join
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, "doc_id")), bucketPartitions(n).length)
    case None if shardKeyed =>
      new KeyGroupedPartitioning(Array(Expressions.identity("shard")), shardPartitions.length)
    case None => new UnknownPartitioning(DocGenScan.split(lo, hi, numPartitions).length)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocGenReaderFactory(required.fieldNames, columnar)

  /** Micro-batch form: the same rows drain as a bounded stream,
    * `streamBatchSize` ids per batch — the connector's ingest-simulation
    * mode. Offsets are plain positions in [lo, hi]; each batch plans the
    * same contiguous-range partitions the batch path uses.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new DocGenMicroBatchStream(lo, hi, numPartitions, streamBatchSize, required.fieldNames)
}

object DocGenScan {
  def split(lo: Long, hi: Long, numPartitions: Int): Array[InputPartition] = {
    val n = hi - lo
    if (n <= 0) return Array.empty // fully pruned: ZERO partitions planned
    val width = math.max(1L, (n + numPartitions - 1) / numPartitions)
    (lo until hi by width).map(s => DocGenRange(s, math.min(hi, s + width))).toArray
  }
}

/** Completely-pushed aggregation: the ≤16-row final answer computed in
  * closed form from the interval arithmetic — no row generation at all.
  * Output schema per the [[SupportsPushDownAggregates]] contract: group-by
  * columns first, then one column per aggregate, in pushdown order.
  */
case class DocGenAggScan(lo: Long, hi: Long, spec: DocGenAggSpec) extends Scan with Batch {

  override def readSchema(): StructType = {
    val base = if (spec.groupByShard) new StructType().add("shard", IntegerType, false)
      else new StructType()
    spec.funcs.zipWithIndex.foldLeft(base) { case (st, (f, i)) =>
      st.add(s"${f}_$i", LongType, nullable = !spec.groupByShard && f != "count")
    }
  }

  override def description(): String =
    s"DocGenAggScan[range=[$lo,$hi), groupByShard=${spec.groupByShard}, " +
      s"pushedAggregates=${spec.funcs.mkString(",")}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(DocGenRange(lo, hi)) // the answer is ≤16 rows: one partition

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = spec
    (partition: InputPartition) => {
      val r = partition.asInstanceOf[DocGenRange]
      val rows: Array[InternalRow] =
        if (s.groupByShard) {
          DocGen.shardRanges(r.start, r.end).map { case (shard, first, last) =>
            val row = new GenericInternalRow(1 + s.funcs.length)
            row.update(0, shard)
            s.funcs.zipWithIndex.foreach { case (f, i) =>
              row.update(1 + i, f match {
                case "count" => (last - first) / DocGen.NumShards + 1
                case "min" => first
                case "max" => last
              })
            }
            row: InternalRow
          }
        } else {
          val row = new GenericInternalRow(s.funcs.length)
          val empty = r.end <= r.start
          s.funcs.zipWithIndex.foreach { case (f, i) =>
            row.update(i, f match {
              case "count" => r.end - r.start
              case "min" => if (empty) null else r.start
              case "max" => if (empty) null else r.end - 1
            })
          }
          Array(row: InternalRow)
        }
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = rows(i)
        override def close(): Unit = ()
      }
    }
  }
}

/** Position offset in the generated id space. */
case class DocGenOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

class DocGenMicroBatchStream(
    lo: Long, hi: Long, numPartitions: Int, batchSize: Long, fields: Array[String])
  extends MicroBatchStream with SupportsAdmissionControl {
  // STATELESS admission control: the next batch end is a pure function of
  // the start offset Spark passes (min(hi, start + limit)), so there is no
  // instance cursor to restore and restart-safety is free — a recovered
  // query resumes from whatever offset the checkpoint log replays.
  // deserializeOffset is a pure parse per its contract (an earlier version
  // ratcheted a cursor there; any code path that deserializes an offset
  // merely to INSPECT it — e.g. reading the offset log — would then have
  // silently skipped rows). One batch-size step per call is the
  // rate-source pattern: a processAllAvailable drain genuinely crosses
  // multiple batch boundaries.
  override def initialOffset(): Offset = DocGenOffset(lo)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[DocGenOffset].pos
    // ReadAllAvailable (Trigger.Once / AvailableNow semantics) must drain
    // to hi in ONE batch — treating it as a single batch-size step would
    // silently stop short. CompositeReadLimit carries its row cap inside;
    // unwrap it rather than defaulting.
    import org.apache.spark.sql.connector.read.streaming.{
      CompositeReadLimit, ReadAllAvailable, ReadMaxRows, ReadMinRows}
    def stepOf(l: ReadLimit): Option[Long] = l match {
      case r: ReadMaxRows => Some(r.maxRows())
      case _: ReadAllAvailable => None // no cap: everything available
      // minRows is a TRIGGER threshold (when to start a batch), not a cap
      // on how much to read — inside a CompositeReadLimit mapping it to
      // batchSize would shrink the min() below an explicit maxRows cap
      case _: ReadMinRows => None
      case c: CompositeReadLimit =>
        val steps = c.getReadLimits.flatMap(stepOf)
        if (steps.isEmpty) None else Some(steps.min)
      case _ => Some(batchSize)
    }
    stepOf(limit) match {
      case None => DocGenOffset(hi)
      case Some(step) => DocGenOffset(math.min(hi, from + math.max(1L, step)))
    }
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")
  override def reportLatestOffset(): Offset = DocGenOffset(hi)
  override def deserializeOffset(json: String): Offset = DocGenOffset(json.trim.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    DocGenScan.split(
      start.asInstanceOf[DocGenOffset].pos, end.asInstanceOf[DocGenOffset].pos, numPartitions)
  override def createReaderFactory(): PartitionReaderFactory =
    new DocGenReaderFactory(fields)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Row- or COLUMNAR-mode reader factory. Columnar (round 12): the
  * vectorized-source rung — `supportColumnarReads` makes Spark plan the
  * scan as ColumnarBatch flow + one ColumnarToRow transition (the same
  * shape the built-in parquet reader uses), so downstream whole-stage
  * codegen consumes column vectors instead of per-row iterators. The
  * generator fills OnHeapColumnVectors in 4096-row batches; results are
  * byte-identical to the row reader (same id walk, same md5), which the
  * checked query's hash gate and the spec's row-vs-columnar diff pin.
  */
class DocGenReaderFactory(fields: Array[String], columnar: Boolean = false)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  private def bounds(partition: InputPartition): (Long, Long, Long) = partition match {
    case r: DocGenRange => (r.start, r.end, 1L)
    case s: DocGenShardPartition => (s.first, s.last + 1, DocGen.NumShards.toLong)
    case b: DocGenBucketPartition => (b.first, b.last + 1, b.nBuckets.toLong)
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (start, end, step) = bounds(partition)
    val schema = fields.foldLeft(new StructType()) { (st, f) =>
      f match {
        case "doc_id" => st.add("doc_id", LongType, nullable = false)
        case "shard" => st.add("shard", IntegerType, nullable = false)
        case "body" => st.add("body", StringType, nullable = false)
        case "_range_start" => st.add("_range_start", LongType, nullable = false)
      }
    }
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val Cap = 4096
      private val vectors =
        org.apache.spark.sql.execution.vectorized.OnHeapColumnVector.allocateColumns(Cap, schema)
      private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
        vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])
      private var cur = start

      override def next(): Boolean = {
        if (cur >= end) return false
        var i = 0
        while (i < vectors.length) { vectors(i).reset(); i += 1 }
        var n = 0
        while (n < Cap && cur < end) {
          var c = 0
          while (c < fields.length) {
            fields(c) match {
              case "doc_id" => vectors(c).putLong(n, cur)
              case "shard" => vectors(c).putInt(n, (cur % 16).toInt)
              case "body" =>
                val b = DocGen.bodyOf(cur).getBytes("UTF-8")
                vectors(c).putByteArray(n, b, 0, b.length)
              case "_range_start" => vectors(c).putLong(n, start)
            }
            c += 1
          }
          cur += step
          n += 1
        }
        batch.setNumRows(n)
        true
      }

      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
      override def close(): Unit = batch.close()
    }
  }
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // (start, end, step): contiguous ranges iterate by 1 over [start, end);
    // shard partitions iterate the shard's arithmetic progression by 16
    // over [first, last] inclusive
    val (start, end, step) = bounds(partition)
    new PartitionReader[InternalRow] {
      private var cur = start - step
      override def next(): Boolean = { cur += step; cur < end }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(fields.length)
        var i = 0
        while (i < fields.length) {
          fields(i) match {
            case "doc_id" => row.update(i, cur)
            case "shard" => row.update(i, (cur % 16).toInt)
            case "body" => row.update(i, UTF8String.fromString(DocGen.bodyOf(cur)))
            case "_range_start" => row.update(i, start)
          }
          i += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** The canonical `bucket` function [[DocGenCatalog]] serves: bucket id =
  * nonnegative value % numBuckets. Bound-argument order follows Spark's
  * V2 transform convention — the bucket-count LITERAL first, then the
  * referenced column — and [[canonicalName]] is what Spark compares to
  * decide two scans' bucket transforms are the SAME function (the
  * compatibility check behind a storage-partitioned join).
  */
object DocGenBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(IntegerType, LongType)
  override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.docgen.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    (((input.getLong(1) % n) + n) % n).toInt
  }
  /** The ScalarFunction MAGIC method: Spark's function resolution prefers
    * a typed `invoke` over the boxing `produceResult` path — row-level SQL
    * calls of `graft_docgen.bucket(...)` compile to a direct method call
    * inside codegen instead of building an InternalRow per row.
    */
  def invoke(numBuckets: Int, value: Long): Int =
    (((value % numBuckets) + numBuckets) % numBuckets).toInt
}

object DocGenBucketUnbound
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "bucket(numBuckets, doc_id): doc_id % numBuckets"
  override def bind(
      inputType: StructType): org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(
      inputType.length == 2,
      s"bucket expects (numBuckets, value), got ${inputType.simpleString}")
    DocGenBucketFunction
  }
}

/** V2 catalog for the docgen corpus — the missing half of the
  * bucket-transform SPJ story: `DataSourceV2Relation.funCatalog` is
  * populated only for CATALOG-loaded tables, and Spark's
  * `V2ScanPartitioningAndOrdering` resolves a reported
  * `bucket(N, doc_id)` partitioning by `loadFunction("bucket")` on that
  * catalog. Read-only: table identifiers encode the generator config
  * (`docs` = defaults; `docs_<numDocs>_b<numBuckets>` = bucket-keyed),
  * so there is nothing to create, alter, or drop. Register per session:
  * `spark.sql.catalog.<name> = graft.sources.DocGenCatalog`.
  */
class DocGenCatalog
  extends org.apache.spark.sql.connector.catalog.TableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
  import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}

  private var catalogName = "graft_docgen"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private val Bucketed = """docs_(\d+)_b(\d+)""".r

  override def loadTable(ident: Identifier): Table = ident.name() match {
    case Bucketed(nd, nb) if nb.toInt > 0 =>
      new DocGenTable(
        nd.toLong, DocGen.DefaultNumPartitions, DocGen.DefaultStreamBatchSize,
        bucketN = Some(nb.toInt))
    case "docs" =>
      new DocGenTable(
        DocGen.DefaultNumDocs, DocGen.DefaultNumPartitions, DocGen.DefaultStreamBatchSize)
    case _ => throw new NoSuchTableException(ident)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "docs"))
  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: NoSuchTableException => false }
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("docgen catalog is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("docgen catalog is read-only")
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("docgen catalog is read-only")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))
  override def loadFunction(
      ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") DocGenBucketUnbound
    else throw new NoSuchFunctionException(ident)
}
