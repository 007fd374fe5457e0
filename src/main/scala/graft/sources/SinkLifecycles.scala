package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import ShardSink._

/** The oracle-checked LIFECYCLE fixtures of the lakehouse connector: each
  * builds a private table (or catalog), runs one write/DML/maintenance
  * lifecycle through the public surface, and reports a rollup whose
  * DuckDB twin (`*Sql`) re-derives the same answer from `range()`. They
  * are registered in [[Sinks.queries]]; the storage engine
  * ([[ShardSink]]) carries none of them, and the MV and column-stat
  * fixtures live in [[SinkMvLifecycles]].
  *
  * Every fixture across `graft.sources` gets its scratch state from the
  * helpers at the top of this object: [[scratch]] (a wiped per-sfDir
  * directory plus a private session with its catalogs wired) and [[docs]]
  * (a doc_id window of the generated corpus). How a fixture gets a
  * private catalog is decided here and nowhere else, and [[probe]] is the
  * one place a fixture reads the engine's global counters.
  */
object SinkLifecycles {

  /** A fixture's scratch root: unique per (tag, sfDir), so fixtures and
    * scale factors never share tables. Not wiped — specs use it to inspect
    * what a fixture left behind.
    */
  def scratchRoot(sfDir: String, tag: String): java.io.File = {
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$sfDir".getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${tag}_$sfx")
  }

  /** [[scratchRoot]], wiped: each run is its own complete lifecycle. */
  private[sources] def scratchDir(sfDir: String, tag: String): java.io.File = {
    val root = scratchRoot(sfDir, tag)
    SinkFs.deleteRecursively(root)
    root
  }

  /** Catalog options: merge-on-read deletes; plus, for the MV
    * lifecycles, merge-on-read row-level ops and the change feed.
    */
  private[sources] val MorDelete: Map[String, String] = Map("delete.mode" -> "merge-on-read")
  private[sources] val MorCdf: Map[String, String] =
    MorDelete ++ Map("rlo.mode" -> "merge-on-read", "cdf.enabled" -> "true")

  /** A private session (stream-tuned when `streaming`, see
    * [[graft.streaming.StreamTune]]) with each of `cats` registered as
    * `catalog` under the given options.
    */
  private[sources] def session(
      spark: SparkSession, cats: Seq[String], catalog: Class[_],
      opts: Map[String, String] = Map.empty, streaming: Boolean = false): SparkSession = {
    val s = if (streaming) graft.streaming.StreamTune.session(spark) else spark.newSession()
    for (cat <- cats) {
      s.conf.set(s"spark.sql.catalog.$cat", catalog.getName)
      opts.foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.$cat.$k", v) }
    }
    s
  }

  /** A fixture's private lakehouse: the wiped [[scratchDir]] as the root
    * of every [[ShardSinkCatalog]] in `cats`, inside a private [[session]].
    */
  private[sources] def scratch(
      spark: SparkSession, sfDir: String, tag: String, cats: Seq[String] = Nil,
      opts: Map[String, String] = Map.empty, streaming: Boolean = false)
      : (SparkSession, java.io.File) = {
    val root = scratchDir(sfDir, tag)
    (session(spark, cats, classOf[ShardSinkCatalog], opts + ("root" -> root.getPath), streaming),
      root)
  }

  /** `s` with the storage-partitioned-join confs set: co-partitioned
    * sides join with zero exchanges. Session-local, since they would
    * distort every other query's plans on a shared session.
    */
  private[sources] def withSpj(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** The generated corpus of `numDocs` docs in `parts` partitions. */
  private[sources] def docs(s: SparkSession, numDocs: Long, parts: Int): DataFrame =
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", numDocs.toString).option("numPartitions", parts.toString).load()

  /** Its doc_id window [lo, hi). */
  private[sources] def docs(
      s: SparkSession, numDocs: Long, parts: Int, lo: Long, hi: Long): DataFrame =
    docs(s, numDocs, parts).where(col("doc_id") >= lo && col("doc_id") < hi)

  /** Append `df` to the path-addressed sink table at `dir`. */
  private[sources] def appendTo(df: DataFrame, dir: String): Unit =
    df.write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(SaveMode.Append).save()

  /** [[appendTo]] with `mergeSchema`: the append may add columns. */
  private[sources] def appendMerging(df: DataFrame, dir: String): Unit =
    df.write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true").mode(SaveMode.Append).save()

  /** The path-addressed sink table at `dir`, read through `s`. */
  private[sources] def readPath(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()

  /** A body's result with the deltas it caused on the engine's three
    * global counters: data files opened ([[ShardSink.dataFileReadCount]]),
    * MV rewrites fired and rewrites the cost guard refused
    * ([[SinkMvRewrite.rewrites]], [[SinkMvRewrite.costFallbacks]]).
    */
  private[sources] final case class Probed[T](
      value: T, files: Long, rewrites: Long, fallbacks: Long)

  /** Runs `body` and reports its counter deltas. The only place a fixture
    * reads those counters.
    */
  private[sources] def probe[T](body: => T): Probed[T] = {
    def now = (dataFileReadCount.get(), SinkMvRewrite.rewrites.get(),
      SinkMvRewrite.costFallbacks.get())
    val (f0, r0, c0) = now
    val value = body
    val (f1, r1, c1) = now
    Probed(value, f1 - f0, r1 - r0, c1 - c0)
  }

  /** The per-shard report most lifecycles end with: row count and
    * doc_id xor per shard, then `extra` aggregates, ordered by shard.
    */
  private[sources] def shardRollup(df: DataFrame, extra: org.apache.spark.sql.Column*)
      : DataFrame =
    df.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("xor_ids") +: extra: _*)
      .orderBy("shard")

  /** Driver-checked write→commit→read round trip: the generated corpus
    * [0, 20000) flows through the V2 writer (4 task files + manifest
    * commit), is read back through the manifest-trusting scan, and rolls
    * up per shard — the DuckDB oracle re-derives the same totals from
    * `range()`, so the whole write path (task files, commit renames,
    * manifest, read-back parse) sits under the hash gate. The landing dir
    * is wiped first: each run is its own complete job.
    */
  def writeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "shardsink")
    appendTo(docs(spark, 20000, 4), dir.getPath)
    shardRollup(readPath(spark, dir.getPath),
      sum(when(substring(col("body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
  }

  /** The tenth streaming lifecycle, and the connector matrix's last cell
    * (batch read / stream read / batch write / STREAM write): the docgen
    * corpus drains as a 4-micro-batch stream INTO the shard sink (one
    * epoch commit per batch, manifest accumulating), is read back through
    * the manifest-trusting batch scan, and must match the direct batch
    * read row-for-row — n_diff = 0 under the hash gate, totals re-derived
    * by DuckDB from range().
    */
  def streamWriteParity(spark: SparkSession, sfDir: String): DataFrame = {
    val nDocs = 20000L
    val dir = scratchDir(sfDir, "shardsink_stream")
    val ckpt = scratchDir(sfDir, "shardsink_ckpt")
    val q = spark.readStream.format("graft.sources.DocGenSource")
      .option("numDocs", nDocs.toString)
      .option("numPartitions", "4")
      .option("streamBatchSize", (nDocs / 4 + 1).toString)
      .load()
      .writeStream.format("graft.sources.ShardSinkSource")
      .option("path", dir.getPath)
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = readPath(spark, dir.getPath)
    val batch = docs(spark, nDocs, 4)
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed
      .agg(countDistinct(col("shard")), count(lit(1)), expr("bit_xor(doc_id)"))
      .collect().head
    import spark.implicits._
    Seq((totals.getLong(0), totals.getLong(1), totals.getLong(2), nDiff))
      .toDF("n_shards", "n_docs", "xor_ids", "n_diff")
  }

  val streamWriteParitySql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 20000) t(doc_id))
      |SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM g""".stripMargin

  val writeRoundtripSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(0, 20000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked SQL DELETE through the connector (round 13 — the
    * row-level-operations rung of the V2 surface): the corpus lands via
    * `writeTo` on a [[ShardSinkCatalog]] table, then
    * `DELETE FROM … WHERE shard < 4 OR doc_id >= 18000` runs through
    * [[ShardSinkTable.deleteWhere]] — the shard leg drops shard-whole
    * files as pure metadata (the clustered write layout earning its keep),
    * the doc_id leg forces partial-file rewrites under fresh names — and
    * the read-back rollup must match DuckDB re-deriving the surviving
    * rows from `range()`. The whole DML path (predicate compilation,
    * metadata drop, rewrite, manifest flip) sits under the hash gate.
    */
  def deleteRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkdel", Seq("graft_sink"))
    docs(s, 20000, 4)
      .writeTo("graft_sink.docs_del").append()
    s.sql("DELETE FROM graft_sink.docs_del WHERE shard < 4 OR doc_id >= 18000")
    shardRollup(s.read.table("graft_sink.docs_del"),
      sum(when(substring(col("body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
  }

  val deleteRoundtripSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(0, 20000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g WHERE NOT (shard < 4 OR doc_id >= 18000)
      |GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked MERGE-ON-READ DELETE (round 13 —
    * [[ShardSink.morDeleteImpl]]): the same corpus lands via a catalog
    * configured `delete.mode=merge-on-read`, then TWO successive DELETEs
    * run — the first marks a tail window, the second (an OR of a doc_id
    * window and a whole shard) lands on files that already carry vectors,
    * exercising the union path. No data file is written or removed: each
    * DELETE is one manifest flip plus tiny position sidecars, and the
    * read-back rollup (vector subtraction at scan time) must match DuckDB
    * re-deriving the survivors from `range()`. The MOR-specific layout
    * invariants (data files byte-identical, vectors present, snapshots
    * before the delete still readable) are pinned in ShardSinkSpec.
    */
  def morDeleteRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkmor", Seq("graft_mor"), MorDelete)
    docs(s, 20000, 4)
      .writeTo("graft_mor.docs_mor").append()
    s.sql("DELETE FROM graft_mor.docs_mor WHERE doc_id >= 15000")
    s.sql("DELETE FROM graft_mor.docs_mor WHERE doc_id < 2000 OR shard = 11")
    shardRollup(s.read.table("graft_mor.docs_mor"),
      sum(when(substring(col("body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
  }

  val morDeleteRoundtripSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(0, 20000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g WHERE NOT (doc_id >= 15000) AND NOT (doc_id < 2000 OR shard = 11)
      |GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked SQL UPDATE + MERGE INTO through the group-based
    * row-level operation (round 13): the corpus lands via the catalog,
    * an UPDATE upper-cases every shard ≥ 12 body, then a three-clause
    * MERGE against a crawl delta deletes matched ids < 19000, rewrites
    * the remaining matched bodies (suffix `!`), and inserts the
    * not-matched tail. Every rewrite is copy-on-write through
    * [[ShardSinkReplaceDataWrite]] (replacement files swap in under one
    * manifest flip) and the final per-shard rollup — including how many
    * bodies are upper-cased and how many carry the merge suffix — must
    * match DuckDB re-deriving the whole edit history from `range()`.
    */
  def mergeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkmerge", Seq("graft_sink"))
    docs(s, 20000, 4)
      .writeTo("graft_sink.docs_m").append()
    s.sql("UPDATE graft_sink.docs_m SET body = upper(body) WHERE shard >= 12")
    docs(s, 22000, 4)
      .where(col("doc_id") >= 18000L)
      .createOrReplaceTempView("graft_merge_src")
    s.sql(
      """MERGE INTO graft_sink.docs_m t USING graft_merge_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.doc_id < 19000 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET body = concat(s.body, '!')
        |WHEN NOT MATCHED THEN INSERT (doc_id, shard, body) VALUES (s.doc_id, s.shard, s.body)
        |""".stripMargin)
    shardRollup(s.read.table("graft_sink.docs_m"),
      sum(when(col("body") =!= lower(col("body")), 1L).otherwise(0L)).as("n_upper"),
      sum(when(col("body").endsWith("!"), 1L).otherwise(0L)).as("n_merged"))
  }

  val mergeRoundtripSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id >= 20000 THEN md5(CAST(doc_id AS VARCHAR))
      |              WHEN doc_id >= 19000 THEN md5(CAST(doc_id AS VARCHAR)) || '!'
      |              WHEN doc_id % 16 >= 12 THEN upper(md5(CAST(doc_id AS VARCHAR)))
      |              ELSE md5(CAST(doc_id AS VARCHAR)) END AS body
      |  FROM range(0, 22000) t(doc_id)
      |  WHERE doc_id < 18000 OR doc_id >= 19000)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN body <> lower(body) THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
      |       CAST(SUM(CASE WHEN body LIKE '%!' THEN 1 ELSE 0 END) AS BIGINT) AS n_merged
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked DELTA-BASED UPDATE + MERGE (round 13 —
    * [[ShardSinkDeltaOperation]], `rlo.mode=merge-on-read`): the SAME
    * edit script as [[mergeRoundtrip]] — upper-case UPDATE, three-clause
    * MERGE with delete/update/insert legs — but every edit lands as
    * positional delete vectors plus appended `part-u` files; no original
    * file is rewritten (pinned in ShardSinkSpec). The rollup must equal
    * the copy-on-write run's oracle exactly: strategy changes the
    * physical layout, never the answer.
    */
  def mergeMorRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) =
      scratch(spark, sfDir, "sinkdmor", Seq("graft_dmor"), Map("rlo.mode" -> "merge-on-read"))
    docs(s, 20000, 4)
      .writeTo("graft_dmor.docs_dm").append()
    s.sql("UPDATE graft_dmor.docs_dm SET body = upper(body) WHERE shard >= 12")
    docs(s, 22000, 4)
      .where(col("doc_id") >= 18000L)
      .createOrReplaceTempView("graft_dmerge_src")
    s.sql(
      """MERGE INTO graft_dmor.docs_dm t USING graft_dmerge_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.doc_id < 19000 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET body = concat(s.body, '!')
        |WHEN NOT MATCHED THEN INSERT (doc_id, shard, body) VALUES (s.doc_id, s.shard, s.body)
        |""".stripMargin)
    shardRollup(s.read.table("graft_dmor.docs_dm"),
      sum(when(col("body") =!= lower(col("body")), 1L).otherwise(0L)).as("n_upper"),
      sum(when(col("body").endsWith("!"), 1L).otherwise(0L)).as("n_merged"))
  }

  /** Same derivation as [[mergeRoundtripSql]]: the strategy (delta vs
    * group rewrite) must be answer-invariant.
    */
  val mergeMorRoundtripSql: String = mergeRoundtripSql

  /** Driver-checked FULL-SYNC MERGE (round 14): all FOUR clause kinds —
    * matched-delete, matched-update, not-matched-insert, and the
    * round-13-missing `WHEN NOT MATCHED BY SOURCE` delete+update pair
    * (the standard "make target mirror source" shape). Target rows the
    * source no longer carries are deleted below 2000 and upper-case
    * flagged below 4000; the oracle re-derives the complete edit script
    * from `range()`. Runs through the strategy given by `rlo` so the
    * copy-on-write and merge-on-read twins share one derivation.
    */
  private def mergeFullSync(
      spark: SparkSession, sfDir: String, rlo: String, tag: String): DataFrame = {
    val cat = s"graft_fs_$tag"
    val (s, _) = scratch(spark, sfDir, s"sinkfs_$tag", Seq(cat), Map("rlo.mode" -> rlo))
    docs(s, 20000, 4)
      .writeTo(s"$cat.docs_fs").append()
    docs(s, 25000, 4)
      .where(col("doc_id") >= 10000L)
      .createOrReplaceTempView(s"graft_fs_src_$tag")
    s.sql(
      s"""MERGE INTO $cat.docs_fs t USING graft_fs_src_$tag s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.doc_id < 12000 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET body = concat(s.body, '!')
         |WHEN NOT MATCHED THEN INSERT (doc_id, shard, body) VALUES (s.doc_id, s.shard, s.body)
         |WHEN NOT MATCHED BY SOURCE AND t.doc_id < 2000 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.doc_id < 4000 THEN UPDATE SET body = upper(t.body)
         |""".stripMargin)
    shardRollup(s.read.table(s"$cat.docs_fs"),
      sum(when(col("body") =!= lower(col("body")), 1L).otherwise(0L)).as("n_upper"),
      sum(when(col("body").endsWith("!"), 1L).otherwise(0L)).as("n_merged"))
  }

  def mergeFullSyncCow(spark: SparkSession, sfDir: String): DataFrame =
    mergeFullSync(spark, sfDir, "copy-on-write", "cow")

  def mergeFullSyncMor(spark: SparkSession, sfDir: String): DataFrame =
    mergeFullSync(spark, sfDir, "merge-on-read", "mor")

  val mergeFullSyncSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id >= 12000 AND doc_id < 20000
      |                THEN md5(CAST(doc_id AS VARCHAR)) || '!'
      |              WHEN doc_id < 4000 THEN upper(md5(CAST(doc_id AS VARCHAR)))
      |              ELSE md5(CAST(doc_id AS VARCHAR)) END AS body
      |  FROM range(0, 25000) t(doc_id)
      |  WHERE doc_id >= 2000 AND (doc_id < 10000 OR doc_id >= 12000))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN body <> lower(body) THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
      |       CAST(SUM(CASE WHEN body LIKE '%!' THEN 1 ELSE 0 END) AS BIGINT) AS n_merged
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked VERSION-TAIL streaming read (round 13 — the last
    * connector matrix cell: the sink as a streaming SOURCE): three Append
    * jobs land three manifest versions, then a micro-batch stream tails
    * the table one version per trigger ([[ShardSinkTailStream]] — each
    * batch is the file delta between consecutive retained manifests) into
    * a complete-mode rollup that must equal the batch read row-for-row;
    * the oracle re-derives the totals from `range()` and pins `n_diff=0`
    * and the version count, so the retention, version-diff, and replayed
    * offsets all sit under the hash gate.
    */
  def tailParity(spark: SparkSession, sfDir: String): DataFrame = {
    val (sparkTuned, dir) = scratch(spark, sfDir, "sinktail", streaming = true)
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(sparkTuned, 2000, 2, lo, hi), dir.getPath)
    append(0L, 500L); append(500L, 1200L); append(1200L, 2000L)
    val nVersions = currentManifestVersion(dir.getPath)
    def rollup(df: DataFrame) =
      df.groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"))
    val sink = s"graft_sinktail_${streamSinkCounter.incrementAndGet()}"
    val q = rollup(
      sparkTuned.readStream.format("graft.sources.ShardSinkSource")
        .option("path", dir.getPath).load())
      .writeStream.outputMode("complete").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = sparkTuned.table(sink)
    val batch = rollup(
      readPath(sparkTuned, dir.getPath))
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed.agg(count(lit(1)), sum(col("n_docs"))).collect().head
    import spark.implicits._
    Seq((totals.getLong(0), totals.getLong(1), nDiff, nVersions))
      .toDF("n_shards", "n_docs", "n_diff", "n_versions")
  }

  private val streamSinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Driver-checked TIME TRAVEL (round 13): three Appends land manifest
    * versions 1–3; `VERSION AS OF 2` (SQL, resolved via
    * [[ShardSinkCatalog.loadTable(ident, version)]]) must read EXACTLY
    * the snapshot after the second commit — rows appended later are
    * invisible, rows present then are all there. The oracle re-derives
    * the v2 window from `range()`; a spec additionally pins the
    * `versionAsOf` read-option spelling and the out-of-range failure.
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinktravel", Seq("graft_sink"))
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_sink.docs_tt").append()
    append(0L, 500L); append(500L, 1200L); append(1200L, 2000L)
    s.sql(
      """SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       bit_xor(doc_id) AS xor_ids
        |FROM graft_sink.docs_tt VERSION AS OF 2
        |GROUP BY shard ORDER BY shard""".stripMargin)
  }

  val timeTravelSql: String =
    """SELECT CAST(doc_id % 16 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids
      |FROM range(0, 1200) t(doc_id)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** Driver-checked `TIMESTAMP AS OF` (round 14): three Appends commit
    * under an INJECTED deterministic clock (one minute apart — the
    * frozen-literal discipline, so the oracle never sees wall clock),
    * then SQL `TIMESTAMP AS OF timestamp_millis(…)` pointing between the
    * second and third commits must resolve to version 2 exactly
    * ([[versionAtTimestamp]]: newest commit at-or-before the instant).
    * `timestamp_millis` keeps the resolution timezone-free; the
    * read-option spelling, the before-first-commit loud failure and the
    * past-last-commit latest-read are spec-pinned.
    */
  def timeTravelTs(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinktts", Seq("graft_tts"))
    val base = 1700000000000L
    val tick = new java.util.concurrent.atomic.AtomicLong(base)
    setCommitClock(Some(() => tick.addAndGet(60000L)))
    try {
      def append(lo: Long, hi: Long): Unit =
        docs(s, 2000, 2, lo, hi)
          .writeTo("graft_tts.docs_tts").append()
      append(0L, 500L); append(500L, 1200L); append(1200L, 2000L)
      // commits at base+60s/+120s/+180s; +150s lands between v2 and v3
      s.sql(
        s"""SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       bit_xor(doc_id) AS xor_ids
           |FROM graft_tts.docs_tts TIMESTAMP AS OF timestamp_millis(${base + 150000L})
           |GROUP BY shard ORDER BY shard""".stripMargin)
    } finally setCommitClock(None)
  }

  val timeTravelTsSql: String = timeTravelSql

  val tailParitySql: String =
    """WITH g AS (SELECT CAST(doc_id % 16 AS INT) AS shard FROM range(0, 2000) t(doc_id))
      |SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(0 AS BIGINT) AS n_diff,
      |       CAST(3 AS BIGINT) AS n_versions
      |FROM g""".stripMargin

  /** Driver-checked CHANGE DATA FEED (round 13 — the Delta-CDF analogue
    * [[changePartitions]] makes exact): two Appends land insert commits,
    * two merge-on-read DELETEs land delete commits (the second also
    * exercising the vector-diff and possible fully-dead-entry paths),
    * then `option("readChangeFeed","true")` reads the full change log
    * and rolls it up by (commit version, change type). Every cell —
    * including the per-commit xor of changed doc_ids — is re-derived by
    * DuckDB from the same windows, so which ROWS changed in which COMMIT
    * sits under the hash gate, not just final state.
    */
  def changeFeedReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkcdf", Seq("graft_cdf"), MorDelete)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_cdf.docs_cdf").append()
    append(0L, 800L); append(800L, 2000L)
    s.sql("DELETE FROM graft_cdf.docs_cdf WHERE doc_id >= 1500")
    s.sql("DELETE FROM graft_cdf.docs_cdf WHERE shard = 3")
    s.read.format("graft.sources.ShardSinkSource")
      .option("path", new java.io.File(root, "docs_cdf").getPath)
      .option("readChangeFeed", "true").load()
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(doc_id)").as("xor_ids"))
      .orderBy("_commit_version", "_change_type")
  }

  val changeFeedReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 2000) t(doc_id)),
      |ch AS (
      |  SELECT 1 AS v, 'insert' AS ct, doc_id FROM g WHERE doc_id < 800
      |  UNION ALL SELECT 2, 'insert', doc_id FROM g WHERE doc_id >= 800
      |  UNION ALL SELECT 3, 'delete', doc_id FROM g WHERE doc_id >= 1500
      |  UNION ALL SELECT 4, 'delete', doc_id FROM g WHERE shard = 3 AND doc_id < 1500)
      |SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(doc_id) AS xor_ids
      |FROM ch GROUP BY 1, 2 ORDER BY _commit_version, _change_type""".stripMargin

  /** Driver-checked STREAMING CDC tail (round 13): the same 4-commit
    * history, tailed via `readStream` + `readChangeFeed` one commit per
    * trigger over the durable version offsets; the drained change rows
    * must equal the batch change feed row-for-row (n_diff = 0), with
    * totals re-derived by DuckDB. This is the CDC consumption loop a
    * downstream index/aggregate maintains itself from — inserts AND
    * merge-on-read deletes, exactly once per commit.
    */
  def cdcStreamParity(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkcdcs", Seq("graft_cdc"), MorDelete, streaming = true)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_cdc.docs_cdc").append()
    append(0L, 800L); append(800L, 2000L)
    s.sql("DELETE FROM graft_cdc.docs_cdc WHERE doc_id >= 1500")
    s.sql("DELETE FROM graft_cdc.docs_cdc WHERE shard = 3")
    val dir = new java.io.File(root, "docs_cdc").getPath
    val sink = s"graft_cdc_${streamSinkCounter.incrementAndGet()}"
    val q = s.readStream.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = s.table(sink)
    val batch = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true").load()
    val nDiff = streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
    val totals = streamed.agg(
      count(lit(1)),
      sum(when(col("_change_type") === "insert", 1L).otherwise(0L)),
      sum(when(col("_change_type") === "delete", 1L).otherwise(0L)),
      countDistinct(col("_commit_version"))).collect().head
    import spark.implicits._
    Seq((totals.getLong(0), totals.getLong(1), totals.getLong(2), totals.getLong(3), nDiff))
      .toDF("n_changes", "n_inserts", "n_deletes", "n_commits", "n_diff")
  }

  val cdcStreamParitySql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 2000) t(doc_id)),
      |ch AS (
      |  SELECT 'insert' AS ct FROM g
      |  UNION ALL SELECT 'delete' FROM g WHERE doc_id >= 1500
      |  UNION ALL SELECT 'delete' FROM g WHERE shard = 3 AND doc_id < 1500)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_changes,
      |       CAST(SUM(CASE WHEN ct = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
      |       CAST(SUM(CASE WHEN ct = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
      |       CAST(4 AS BIGINT) AS n_commits,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM ch""".stripMargin

  /** Driver-checked CDF UPDATE PRE/POST-IMAGES (round 14 — the Delta CDF
    * update shape the round-13 feed collapsed to delete+insert): a
    * merge-on-read UPDATE commits its change record with exact
    * `update_preimage`/`update_postimage` pairs (recorded by the delta
    * writer's native update path), followed by a MOR DELETE that stays
    * derivation-only. The rollup pins, per (commit, change type), the row
    * count, the doc_id xor AND how many rows carry the post-update body —
    * so preimages carrying old bodies and postimages new ones sits under
    * the hash gate, not just the counts.
    */
  def changeFeedUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkcdfu", Seq("graft_cdfu"), MorCdf)
    docs(s, 2000, 2)
      .writeTo("graft_cdfu.docs_cu").append() // v1: 2000 inserts
    s.sql("UPDATE graft_cdfu.docs_cu SET body = upper(body) WHERE doc_id < 300") // v2
    s.sql("DELETE FROM graft_cdfu.docs_cu WHERE doc_id >= 1800") // v3
    s.read.format("graft.sources.ShardSinkSource")
      .option("path", new java.io.File(root, "docs_cu").getPath)
      .option("readChangeFeed", "true").load()
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(doc_id)").as("xor_ids"),
        sum(when(col("body") =!= lower(col("body")), 1L).otherwise(0L)).as("n_upper"))
      .orderBy("_commit_version", "_change_type")
  }

  val changeFeedUpdateSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 2000) t(doc_id)),
      |ch AS (
      |  SELECT 1 AS v, 'insert' AS ct, doc_id, 0 AS up FROM g
      |  UNION ALL SELECT 2, 'update_preimage', doc_id, 0 FROM g WHERE doc_id < 300
      |  UNION ALL SELECT 2, 'update_postimage', doc_id, 1 FROM g WHERE doc_id < 300
      |  UNION ALL SELECT 3, 'delete', doc_id, 0 FROM g WHERE doc_id >= 1800)
      |SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(up) AS BIGINT) AS n_upper
      |FROM ch GROUP BY 1, 2 ORDER BY _commit_version, _change_type""".stripMargin

  /** Driver-checked TAGS (round 14): Iceberg named refs — tag the
    * post-ingest snapshot (`SET TBLPROPERTIES ('graft.tag.x'='v')`),
    * DELETE, then compact with ZERO retained versions: the tag must
    * hold the retention horizon so the tagged snapshot stays exactly
    * readable through `VERSION AS OF 'tag'` while the current rollup
    * reflects the delete — both rollups and the held horizon under one
    * hash gate.
    */
  def tagsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinktag", Seq("graft_tag"), MorDelete)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_tag.docs_tag").append()
    append(0L, 800L) // v1
    s.sql("ALTER TABLE graft_tag.docs_tag SET TBLPROPERTIES ('graft.tag.ingest_v1' = '1')")
    append(800L, 2000L) // v2
    s.sql("DELETE FROM graft_tag.docs_tag WHERE doc_id >= 1500") // v3
    val dir = new java.io.File(root, "docs_tag").getPath
    compact(dir) // v4, retain 0 — but the tag holds the horizon at 1
    val tagged = s.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_tag, bit_xor(doc_id) AS xor_tag
        |FROM graft_tag.docs_tag VERSION AS OF 'ingest_v1'""".stripMargin)
    val cur = s.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_cur, bit_xor(doc_id) AS xor_cur
        |FROM graft_tag.docs_tag""".stripMargin)
    tagged.crossJoin(cur).withColumn("hz", lit(horizonOf(dir)))
  }

  val tagsReportSql: String =
    """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM range(0, 800)) AS n_tag,
      |       (SELECT bit_xor(doc_id) FROM range(0, 800) t(doc_id)) AS xor_tag,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM range(0, 1500)) AS n_cur,
      |       (SELECT bit_xor(doc_id) FROM range(0, 1500) t(doc_id)) AS xor_cur,
      |       CAST(1 AS BIGINT) AS hz""".stripMargin

  /** Driver-checked CDC REPLICA SYNC (round 14): the downstream loop the
    * change feed EXISTS for — tail table A's feed one commit per
    * trigger and maintain replica B with one MERGE per micro-batch
    * (Delta documents exactly this CDF-apply recipe): postimages and
    * inserts upsert, deletes delete, preimages drop. This is also WHY
    * update pre/post PAIRING matters: collapsed delete+insert of the
    * same doc in one batch would hit MERGE's multiple-source-rows error
    * — the paired feed applies cleanly. History: two appends, a
    * merge-on-read DELETE, a delta UPDATE; the final replica must equal
    * the source row-for-row (n_diff = 0, exceptAll both ways) with the
    * rollup re-derived by DuckDB.
    */
  def replicaSyncParity(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(
      spark, sfDir, "sinkrsync", Seq("graft_rsrc", "graft_rdst"), MorCdf, streaming = true)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_rsrc.docs_src").append()
    append(0L, 800L); append(800L, 2000L)                           // v1, v2
    s.sql("DELETE FROM graft_rsrc.docs_src WHERE doc_id >= 1500")    // v3
    s.sql("UPDATE graft_rsrc.docs_src SET body = upper(body) WHERE doc_id < 300") // v4
    val srcDir = new java.io.File(root, "docs_src").getPath
    val q = s.readStream.format("graft.sources.ShardSinkSource")
      .option("path", srcDir).option("readChangeFeed", "true").load()
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.createOrReplaceTempView("ch_sync")
        batch.sparkSession.sql(
          """MERGE INTO graft_rdst.docs_dst d
            |USING (SELECT doc_id, shard, body, _change_type FROM ch_sync
            |       WHERE _change_type != 'update_preimage') c
            |ON d.doc_id = c.doc_id
            |WHEN MATCHED AND c._change_type = 'delete' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET d.shard = c.shard, d.body = c.body
            |WHEN NOT MATCHED AND c._change_type != 'delete'
            |  THEN INSERT (doc_id, shard, body) VALUES (c.doc_id, c.shard, c.body)
            |""".stripMargin)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val src = s.read.table("graft_rsrc.docs_src")
    val dst = s.read.table("graft_rdst.docs_dst")
    val nDiff = dst.exceptAll(src).union(src.exceptAll(dst)).count()
    val totals = dst.agg(
      count(lit(1)),
      expr("bit_xor(doc_id)"),
      sum(when(col("body") =!= lower(col("body")), 1L).otherwise(0L))).collect().head
    import spark.implicits._
    Seq((totals.getLong(0), totals.getLong(1), totals.getLong(2), nDiff))
      .toDF("n_docs", "xor_ids", "n_upper", "n_diff")
  }

  val replicaSyncParitySql: String =
    """WITH fin AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id < 300 THEN 1 ELSE 0 END AS up
      |  FROM range(0, 2000) t(doc_id) WHERE doc_id < 1500)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(up) AS BIGINT) AS n_upper, CAST(0 AS BIGINT) AS n_diff
      |FROM fin""".stripMargin

  /** Driver-checked RESTORE (round 14): Delta `RESTORE TABLE` / Iceberg
    * rollback as a NEW commit — the bad-deploy undo button. Two appends,
    * a merge-on-read DELETE, a restore to the pre-delete snapshot
    * (SQL spelling `SET TBLPROPERTIES ('graft.restore'='2')`), then a
    * second DELETE on the restored state. The change feed is read across
    * ALL five commits and rolled up by (version, change type) — so the
    * restore's exact CDC semantics sit under the hash gate: the shrunk
    * delete vectors surface the resurrected rows as `insert` events at
    * the restore version (positions only — zero write amplification),
    * and the post-restore DELETE applies to the restored live set.
    * Every cell re-derived by DuckDB from the known windows.
    */
  def restoreReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkrst", Seq("graft_rst"), MorDelete)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_rst.docs_rst").append()
    append(0L, 800L)    // v1
    append(800L, 2000L) // v2
    s.sql("DELETE FROM graft_rst.docs_rst WHERE doc_id >= 1500") // v3: MOR vectors
    s.sql("ALTER TABLE graft_rst.docs_rst SET TBLPROPERTIES ('graft.restore' = '2')") // v4
    s.sql("DELETE FROM graft_rst.docs_rst WHERE shard = 3") // v5: on restored state
    s.read.format("graft.sources.ShardSinkSource")
      .option("path", new java.io.File(root, "docs_rst").getPath)
      .option("readChangeFeed", "true").load()
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(doc_id)").as("xor_ids"))
      .orderBy("_commit_version", "_change_type")
  }

  val restoreReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 2000) t(doc_id)),
      |ch AS (
      |  SELECT 1 AS v, 'insert' AS ct, doc_id FROM g WHERE doc_id < 800
      |  UNION ALL SELECT 2, 'insert', doc_id FROM g WHERE doc_id >= 800
      |  UNION ALL SELECT 3, 'delete', doc_id FROM g WHERE doc_id >= 1500
      |  UNION ALL SELECT 4, 'insert', doc_id FROM g WHERE doc_id >= 1500
      |  UNION ALL SELECT 5, 'delete', doc_id FROM g WHERE shard = 3)
      |SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(doc_id) AS xor_ids
      |FROM ch GROUP BY 1, 2 ORDER BY _commit_version, _change_type""".stripMargin

  /** Driver-checked FILTERED OVERWRITE (round 14): Delta's
    * `replaceWhere` — the partition-backfill idiom a landing zone lives
    * on (re-ingest one source/day atomically). `writeTo(t).overwrite
    * (cond)` drops the rows matching `cond` and lands the incoming data
    * in ONE commit: the drop side is the DELETE WHERE copy-on-write core
    * (metadata-only for shard-aligned predicates over the shard-whole
    * clustered files), the insert side the ordinary clustered append,
    * one manifest flip covering both. Delta's constraint holds too:
    * inserted rows must match the predicate, or the commit refuses. The
    * query re-ingests shard 3 with transformed bodies, then shrinks the
    * doc_id>=1800 window to [1800,1900) — the final per-shard rollup
    * (counts, id xors, transformed-body counts) pins both replaces and
    * their interaction under the hash gate.
    */
  def replaceWhereReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkow", Seq("graft_ow"), Map("cdf.enabled" -> "true"))
    def src = docs(s, 2000, 2)
    src.writeTo("graft_ow.docs_ow").append() // v1
    src.where(col("shard") === 3)
      .select(col("doc_id"), col("shard"), upper(col("body")).as("body"))
      .writeTo("graft_ow.docs_ow").overwrite(col("shard") === 3) // v2: re-ingest shard 3
    src.where(col("doc_id") >= 1800L && col("doc_id") < 1900L)
      .writeTo("graft_ow.docs_ow").overwrite(col("doc_id") >= 1800L) // v3: shrink the tail
    s.read.table("graft_ow.docs_ow")
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(doc_id)").as("xor_ids"),
        sum(when(col("body") =!= lower(col("body")), 1L).otherwise(0L)).as("n_upper"))
      .orderBy("shard")
  }

  /** Shard-3 bodies are upper ONLY below 1800: the v3 window replace
    * re-ingested [1800,1900) with original-case bodies.
    */
  val replaceWhereReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 2000) t(doc_id)),
      |fin AS (
      |  SELECT doc_id, shard,
      |         CASE WHEN shard = 3 AND doc_id < 1800 THEN 1 ELSE 0 END AS up
      |  FROM g WHERE doc_id < 1900)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(up) AS BIGINT) AS n_upper
      |FROM fin GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked SCHEMA EVOLUTION (round 14): the first thing a real
    * landing-zone user does after a month — add columns. v1 lands the
    * 3-column corpus; two `ALTER TABLE … ADD COLUMN`s widen the schema
    * (pure metadata flips — no data file touched); a post-evolution
    * append writes 5-column rows. The merged read must null-fill the
    * added columns for pre-evolution rows and carry real values for new
    * ones — the rollup groups by the added `lang` (nulls coalesced for
    * cross-engine ordering) and sums the added `score`, so the
    * null-fill boundary and both added-column payloads sit under the
    * hash gate. Old-snapshot-under-old-schema is spec-pinned.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkev", Seq("graft_ev"))
    docs(s, 2000, 2)
      .where(col("doc_id") < 1200L)
      .writeTo("graft_ev.docs_ev").append() // v1: 3 columns
    s.sql("ALTER TABLE graft_ev.docs_ev ADD COLUMN lang STRING")  // v2
    s.sql("ALTER TABLE graft_ev.docs_ev ADD COLUMN score BIGINT") // v3
    docs(s, 2000, 2)
      .where(col("doc_id") >= 1200L)
      .withColumn("lang", when(col("shard") < 8, "pt").otherwise("en"))
      .withColumn("score", col("doc_id") % 100L)
      .writeTo("graft_ev.docs_ev").append() // v4: 5 columns
    s.read.table("graft_ev.docs_ev")
      .groupBy(coalesce(col("lang"), lit("-")).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"),
        sum(col("score")).as("sum_score"),
        sum(when(col("score").isNull, 1L).otherwise(0L)).as("n_null_score"))
      .orderBy("lang")
  }

  val schemaEvolutionSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id >= 1200
      |              THEN (CASE WHEN doc_id % 16 < 8 THEN 'pt' ELSE 'en' END) END AS lang,
      |         CASE WHEN doc_id >= 1200 THEN doc_id % 100 END AS score
      |  FROM range(0, 2000) t(doc_id))
      |SELECT COALESCE(lang, '-') AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(score) AS BIGINT) AS sum_score,
      |       CAST(SUM(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_score
      |FROM g GROUP BY 1 ORDER BY lang""".stripMargin

  /** CHECK-constraint lifecycle under the hash gate: ADD validates
    * existing rows (a violated ADD refuses), admitted constraints are
    * enforced on appends and UPDATE postimages (violating jobs abort with
    * nothing committed), NULL passes (ANSI), UNSET lifts exactly one
    * constraint while the rest stay in force. `n_rejected` counts the
    * refusals the run OBSERVED — if enforcement ever goes quiet the
    * counter drops and the hash breaks, and if a rejected write leaks
    * rows the content aggregates break.
    */
  def constraintsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkck", Seq("graft_ck"))
    def docs(lo: Long, hi: Long): DataFrame =
      s.range(lo, hi).select(
        col("id").as("doc_id"),
        (col("id") % 16L).cast("int").as("shard"),
        concat(lit("body"), col("id")).as("body"))
    def chain(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    var rejected = 0L
    def expectRefused(frag: String)(op: => Unit): Unit =
      try { op; () } catch {
        case t: Throwable if chain(t).contains(frag) => rejected += 1L
      }
    docs(0L, 2000L).writeTo("graft_ck.docs_ck").append() // v1
    s.sql("ALTER TABLE graft_ck.docs_ck SET TBLPROPERTIES " +
      "('graft.constraint.valid_shard' = 'shard >= 0 AND shard < 16')") // v2
    // refused: rows 0..499 violate — the DDL never lands
    expectRefused("existing rows violate")(s.sql(
      "ALTER TABLE graft_ck.docs_ck SET TBLPROPERTIES " +
        "('graft.constraint.big_ids' = 'doc_id >= 500')"))
    docs(2000L, 2400L).writeTo("graft_ck.docs_ck").append() // v3: passes
    // violating append: every row lands shard -1 — job aborts, no commit
    expectRefused("CHECK constraint valid_shard")(
      docs(5000L, 5010L).withColumn("shard", lit(-1))
        .writeTo("graft_ck.docs_ck").append())
    s.sql("ALTER TABLE graft_ck.docs_ck ADD COLUMN score BIGINT") // v4
    s.sql("ALTER TABLE graft_ck.docs_ck SET TBLPROPERTIES " +
      "('graft.constraint.pos_score' = 'score > 0')") // v5
    docs(2400L, 2500L).writeTo("graft_ck.docs_ck").append() // v6: null score PASSES
    // copy-on-write UPDATE: violating postimage aborts the whole rewrite
    expectRefused("CHECK constraint pos_score")(
      s.sql("UPDATE graft_ck.docs_ck SET score = -5 WHERE doc_id = 200"))
    s.sql("UPDATE graft_ck.docs_ck SET score = 50 WHERE doc_id < 100") // valid
    // UNSET lifts valid_shard only: a negative shard now lands while
    // pos_score is still enforced on the same row (null score → passes)
    s.sql("ALTER TABLE graft_ck.docs_ck UNSET TBLPROPERTIES ('graft.constraint.valid_shard')")
    docs(9000L, 9001L).withColumn("shard", lit(-2))
      .writeTo("graft_ck.docs_ck").append()
    s.read.table("graft_ck.docs_ck").agg(
      count(lit(1)).as("n_docs"),
      expr("bit_xor(doc_id)").as("xor_ids"),
      sum(when(col("shard") < 0, 1L).otherwise(0L)).as("n_neg_shard"),
      sum(when(col("score") === 50L, 1L).otherwise(0L)).as("n_score50"),
      sum(when(col("score").isNull, 1L).otherwise(0L)).as("n_null_score"))
      .withColumn("n_rejected", lit(rejected))
  }

  val constraintsReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id < 100 THEN 50 END AS score
      |  FROM range(0, 2500) t(doc_id)
      |  UNION ALL SELECT 9000, -2, NULL)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN shard < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_shard,
      |       CAST(SUM(CASE WHEN score = 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_score50,
      |       CAST(SUM(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_score,
      |       CAST(3 AS BIGINT) AS n_rejected
      |FROM g""".stripMargin

  /** SHARD-GROUPED sink reads under the hash gate: two compacted sink
    * tables (every committed file shard-pure, manifest-proven) join on
    * (shard, doc_id) and roll up per shard with ZERO shuffle exchanges —
    * the scan reports [[KeyGroupedPartitioning]](identity(shard)), the
    * SPJ machinery pairs each shard's files across the tables, and the
    * post-join aggregate rides the same clustering. This is the read-side
    * payoff of the clustered write + compaction layout: a 100 TB landing
    * zone consumed like a bucketed table instead of re-shuffled per
    * query. Tables build once per JVM ([[graft.util.Memo]] — the
    * build-once-query-many shape); the timed body is the join itself.
    * ShardSinkSpec pins the zero-exchange plan AND the uncompacted
    * fallback (mixed-shard files degrade to a normal shuffled join, never
    * a wrong answer).
    */
  def sinkSpj(spark: SparkSession, sfDir: String): DataFrame = {
    val (dirA, dirB) = graft.util.Memo.cached("sinkSpjTables", spark, sfDir) {
      def build(tag: String, lo: Long, hi: Long): String = {
        val root = scratchDir(sfDir, s"sinkspj_$tag")
        appendTo(docs(spark, 4500, 2, lo, hi), root.getPath)
        compact(root.getPath) // one shard-pure file per shard → eligible
        root.getPath
      }
      (build("a", 0L, 3000L), build("b", 1500L, 4500L))
    }
    val s = withSpj(spark.newSession())
    def side(dir: String) = readPath(s, dir)
    val a = side(dirA).select(
      col("shard").as("a_shard"), col("doc_id").as("a_id"), col("body").as("a_body"))
    val b = side(dirB).select(col("shard").as("b_shard"), col("doc_id").as("b_id"))
    a.join(b, col("a_shard") === col("b_shard") && col("a_id") === col("b_id"))
      .groupBy(col("a_shard").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(a_id)").as("xor_ids"),
        sum(when(substring(col("a_body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
      .orderBy("shard")
  }

  val sinkSpjSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(1500, 3000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** SHALLOW CLONE under the hash gate: clone the source AT VERSION 1
    * through the SQL spelling, diverge BOTH tables (merge-on-read
    * deletes + a source append — MOR divergence never deletes data
    * files, so it is clone-safe; CoW rewrites / compaction / vacuum on
    * the source are the documented clone-breaking hazard, spec-pinned),
    * and report both tables' final rollups PLUS the zero-copy proof: the
    * clone's directory holds ZERO local data files even after its own
    * vector-based DML (`n_local_data_files` — a copied clone or a
    * rewriting delete would make it jump).
    */
  def cloneReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkcl", Seq("graft_cl"), MorDelete)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2100, 2, lo, hi)
        .writeTo("graft_cl.docs_src").append()
    append(0L, 1200L)    // src v1
    append(1200L, 2000L) // src v2
    val srcDir = new java.io.File(root, "docs_src").getPath
    s.sql("ALTER TABLE graft_cl.docs_clone SET TBLPROPERTIES " +
      s"('graft.clone' = '$srcDir@1')") // the v1 snapshot: docs 0..1199
    val cloneDir = new java.io.File(root, "docs_clone").getPath
    // divergence, all clone-safe MOR: the clone vectors rows out of the
    // source's files (local .pos, foreign .tsv untouched), the source
    // vectors + appends without deleting anything the clone references
    s.sql("DELETE FROM graft_cl.docs_clone WHERE doc_id < 100")
    s.sql("DELETE FROM graft_cl.docs_src WHERE doc_id >= 1000")
    append(2000L, 2100L) // src v4: invisible to the clone
    val localData = SinkFs.listFileNames(new org.apache.hadoop.fs.Path(cloneDir))
      .count(_.endsWith(".tsv"))
    val srcAgg = s.read.table("graft_cl.docs_src").agg(
      count(lit(1)).as("n_src"), expr("bit_xor(doc_id)").as("xor_src"))
    val clAgg = s.read.table("graft_cl.docs_clone").agg(
      count(lit(1)).as("n_clone"), expr("bit_xor(doc_id)").as("xor_clone"))
    srcAgg.crossJoin(clAgg)
      .withColumn("n_local_data_files", lit(localData.toLong))
  }

  val cloneReportSql: String =
    """WITH src AS (
      |  SELECT doc_id FROM range(0, 1000) t(doc_id)
      |  UNION ALL SELECT doc_id FROM range(2000, 2100) t(doc_id)),
      |cl AS (SELECT doc_id FROM range(100, 1200) t(doc_id))
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n_src,
      |       (SELECT bit_xor(doc_id) FROM src) AS xor_src,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS n_clone,
      |       (SELECT bit_xor(doc_id) FROM cl) AS xor_clone,
      |       CAST(0 AS BIGINT) AS n_local_data_files""".stripMargin

  /** METADATA TABLES under the hash gate: a lifecycle (append → MOR
    * delete → ADD CONSTRAINT validated over the vectored live rows →
    * chunked compaction) audited ENTIRELY through the SQL metadata
    * surface — `<cat>.<t>.files` proves the chunked layout (file count =
    * Σ ceil(liveRowsPerShard / target), all shard-pure, live row total
    * and doc extremes match the range math), `.history` proves the
    * op-stamped commit trail, `.tags` / `.constraints` the governance
    * state. The oracle re-derives the file math from range() — a wrong
    * chunk split, a lost vector fold or a missed op marker all break the
    * hash.
    */
  def metaTablesReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmt", Seq("graft_mt"), MorDelete)
    docs(s, 800, 2)
      .writeTo("graft_mt.docs_mt").append() // v1 append
    s.sql("DELETE FROM graft_mt.docs_mt WHERE doc_id < 40") // v2 delete (MOR)
    // validated over the LIVE (vector-subtracted) rows: passes post-delete
    s.sql("ALTER TABLE graft_mt.docs_mt SET TBLPROPERTIES " +
      "('graft.constraint.live_ids' = 'doc_id >= 40')") // v3 addConstraint
    val dir = new java.io.File(root, "docs_mt").getPath
    compact(dir, retainVersions = 9, targetRowsPerFile = 25L) // v4 compact
    s.sql("ALTER TABLE graft_mt.docs_mt SET TBLPROPERTIES ('graft.tag.audited' = '4')")
    val files = s.read.table("graft_mt.docs_mt.files").agg(
      count(lit(1)).as("n_files"),
      sum(col("n_rows")).as("n_file_rows"),
      countDistinct(col("shard_min")).as("n_shards"),
      min(col("doc_min")).as("min_doc"),
      max(col("doc_max")).as("max_doc"))
    val hist = s.read.table("graft_mt.docs_mt.history").agg(
      count(lit(1)).as("n_versions"),
      concat_ws(",", sort_array(collect_set(col("op")))).as("ops"))
    val tags = s.read.table("graft_mt.docs_mt.tags")
      .agg(count(lit(1)).as("n_tags"))
    val cks = s.read.table("graft_mt.docs_mt.constraints").agg(
      count(lit(1)).as("n_constraints"),
      concat_ws(",", sort_array(collect_set(col("predicate")))).as("predicates"))
    // partitions (round 16): post-compact every file is shard-pure, so
    // the rollup is exactly 16 shard rows, zero NULL-shard straddlers
    val parts = s.read.table("graft_mt.docs_mt.partitions").agg(
      count(lit(1)).as("n_partitions"),
      sum(col("n_rows")).as("n_part_rows"),
      sum(col("n_files")).as("n_part_files"),
      // ROWS in the NULL-shard straddler rollup (0 when compacted), not
      // the 0/1 presence of the rollup row itself
      sum(when(col("shard").isNull, col("n_rows")).otherwise(0L)).as("n_straddler_rows"))
    files.crossJoin(hist).crossJoin(tags).crossJoin(cks).crossJoin(parts)
  }

  val metaTablesReportSql: String =
    """WITH live AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(40, 800) t(doc_id)),
      |per_shard AS (SELECT shard, COUNT(*) AS n FROM live GROUP BY shard)
      |SELECT (SELECT CAST(SUM(CAST(CEIL(n / 25.0) AS BIGINT)) AS BIGINT) FROM per_shard) AS n_files,
      |       (SELECT CAST(SUM(n) AS BIGINT) FROM per_shard) AS n_file_rows,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM per_shard) AS n_shards,
      |       (SELECT MIN(doc_id) FROM live) AS min_doc,
      |       (SELECT MAX(doc_id) FROM live) AS max_doc,
      |       CAST(4 AS BIGINT) AS n_versions,
      |       'addConstraint,append,compact,delete' AS ops,
      |       CAST(1 AS BIGINT) AS n_tags,
      |       CAST(1 AS BIGINT) AS n_constraints,
      |       'doc_id >= 40' AS predicates,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM per_shard) AS n_partitions,
      |       (SELECT CAST(SUM(n) AS BIGINT) FROM per_shard) AS n_part_rows,
      |       (SELECT CAST(SUM(CAST(CEIL(n / 25.0) AS BIGINT)) AS BIGINT) FROM per_shard) AS n_part_files,
      |       CAST(0 AS BIGINT) AS n_straddler_rows""".stripMargin

  /** CTAS/RTAS under the hash gate: `CREATE TABLE … AS SELECT` derives a
    * new landing zone (with an EVOLVED extra column persisted through
    * the fresh table's schema flips) from an existing one, the derived
    * table is a full citizen (CoW DELETE runs on it), and
    * `REPLACE TABLE … AS SELECT` swaps a table's content wholesale —
    * the analyzer's existence gate rides the directory-based
    * [[ShardSinkCatalog.tableExists]].
    */
  def ctasReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, _) = scratch(spark, sfDir, "sinkct", Seq("graft_ct"))
    docs(s, 1500, 2)
      .writeTo("graft_ct.docs_src").append()
    s.sql("CREATE TABLE graft_ct.docs_scored AS " +
      "SELECT doc_id, shard, body, doc_id % 97 AS score " +
      "FROM graft_ct.docs_src WHERE doc_id < 1000")
    s.sql("DELETE FROM graft_ct.docs_scored WHERE score >= 90")
    s.sql("CREATE TABLE graft_ct.docs_swap AS " +
      "SELECT * FROM graft_ct.docs_src WHERE doc_id < 200")
    s.sql("REPLACE TABLE graft_ct.docs_swap AS " +
      "SELECT * FROM graft_ct.docs_src WHERE doc_id >= 1300")
    val scored = s.read.table("graft_ct.docs_scored").agg(
      count(lit(1)).as("n_docs"),
      expr("bit_xor(doc_id)").as("xor_ids"),
      sum(col("score")).as("sum_score"))
    val swap = s.read.table("graft_ct.docs_swap").agg(
      count(lit(1)).as("n_swap"),
      expr("bit_xor(doc_id)").as("xor_swap"))
    scored.crossJoin(swap)
  }

  val ctasReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 97 AS score FROM range(0, 1000) t(doc_id)
      |  WHERE doc_id % 97 < 90),
      |r AS (SELECT doc_id FROM range(1300, 1500) t(doc_id))
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_docs,
      |       (SELECT bit_xor(doc_id) FROM g) AS xor_ids,
      |       (SELECT CAST(SUM(score) AS BIGINT) FROM g) AS sum_score,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_swap,
      |       (SELECT bit_xor(doc_id) FROM r) AS xor_swap""".stripMargin

  /** TWO-LEVEL MANIFESTS under the driver's hash gate (the specs pin
    * the mechanics; this puts the layout itself under DuckDB): the whole
    * append/append/MOR-delete lifecycle runs with segmentTarget = 1 —
    * every version a manifest list over single-entry segments — and the
    * content aggregates must match the same range() math the
    * single-blob layout produces, plus structural booleans: v2 is
    * two-level and references EVERY v1 segment unchanged (append reuse).
    * The target is restored in a finally: the rest of the suite keeps
    * the default layout.
    */
  def manifestSegmentsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinksg", Seq("graft_sg"), MorDelete)
    val prevTarget = segmentTarget
    setSegmentTarget(1)
    try {
      def append(lo: Long, hi: Long): Unit =
        docs(s, 1600, 2, lo, hi)
          .writeTo("graft_sg.docs_sg").append()
      append(0L, 500L)     // v1: may stay inline (one coalesced file)
      append(500L, 1100L)  // v2: ≥2 entries → two-level
      append(1100L, 1600L) // v3: blind append — v2's segments all reuse
      s.sql("DELETE FROM graft_sg.docs_sg WHERE doc_id < 50") // v4: vector
      val dir = new java.io.File(root, "docs_sg").getPath
      val v2 = segmentRefsAt(dir, 2L).map(_.name)
      val v3 = segmentRefsAt(dir, 3L).map(_.name)
      val v4 = segmentRefsAt(dir, 4L).map(_.name)
      val twoLevel = v2.nonEmpty && v3.nonEmpty && v4.nonEmpty
      val appendReused = v2.nonEmpty && v2.forall(v3.contains)
      s.read.table("graft_sg.docs_sg").agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"))
        .withColumn("two_level", lit(if (twoLevel) 1L else 0L))
        .withColumn("append_reused_all_v1_segments", lit(if (appendReused) 1L else 0L))
    } finally setSegmentTarget(prevTarget)
  }

  val manifestSegmentsReportSql: String =
    """WITH g AS (SELECT doc_id FROM range(50, 1600) t(doc_id))
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, bit_xor(doc_id) AS xor_ids,
      |       CAST(1 AS BIGINT) AS two_level,
      |       CAST(1 AS BIGINT) AS append_reused_all_v1_segments
      |FROM g""".stripMargin

  /** WRITE-SIDE AUTO SCHEMA EVOLUTION under the driver's hash gate
    * (round 15): a `mergeSchema` append adds a `lang` column — schema
    * and rows land in ONE commit (no separate ALTER version) — then a
    * narrower REORDERED frame appends by name-resolution with the
    * evolved column null-filled. The aggregates must match the same
    * range() math in DuckDB; `evolve_rode_commits` pins the structural
    * claim (exactly one manifest version per append).
    */
  def autoEvolveReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkaev")
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(spark, 1500, 2, lo, hi)
    appendTo(docs(0L, 600L), dir.getPath) // v1: 3-column
    appendMerging(docs(600L, 1200L)
      .withColumn("lang", concat(lit("l"), (col("doc_id") % 3).cast("string"))),
      dir.getPath) // v2: evolves lang
    appendMerging(docs(1200L, 1500L).select("body", "shard", "doc_id"), // reordered, no lang
      dir.getPath) // v3: null-fills
    val oneCommitPerAppend = currentManifestVersion(dir.getPath) == 3L &&
      tableSchema(dir.getPath).fieldNames.sameElements(
        Array("doc_id", "shard", "body", "lang"))
    readPath(spark, dir.getPath)
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("xor_ids"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("evolve_rode_commits", lit(if (oneCommitPerAppend) 1L else 0L))
  }

  val autoEvolveReportSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id >= 600 AND doc_id < 1200
      |              THEN 'l' || CAST(doc_id % 3 AS VARCHAR) END AS lang
      |  FROM range(0, 1500) t(doc_id))
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
      |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(1 AS BIGINT) AS evolve_rode_commits
      |FROM l""".stripMargin

  /** SEGMENT-ENVELOPE PRUNING under the driver's hash gate (round 15):
    * compaction into shard-pure chunks makes every segment ref carry a
    * tight envelope; a pushed `shard = 3` scan must then read only the
    * matching segments — `pruned_whole_segments` pins that the physical
    * segment reads stayed below the census while the row aggregates
    * match DuckDB exactly.
    */
  def segEnvelopeReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkenv")
    val prevTarget = segmentTarget
    setSegmentTarget(1)
    try {
      appendTo(docs(spark, 400, 2), dir.getPath)
      compact(dir.getPath, targetRowsPerFile = 25L) // 16 shard-pure segments
      val total = segmentRefsAt(dir.getPath, currentManifestVersion(dir.getPath)).size
      clearSegmentCacheForTest()
      val before = segmentReadCount.get()
      val r = readPath(spark, dir.getPath)
        .where(col("shard") === 3)
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("xor_ids"))
        .head()
      val misses = segmentReadCount.get() - before
      val pruned = total >= 16 && misses >= 1L && misses < total.toLong
      spark.range(1).select(
        lit(r.getLong(0)).as("n_docs"),
        lit(r.getLong(1)).as("xor_ids"),
        lit(if (pruned) 1L else 0L).as("pruned_whole_segments"))
    } finally setSegmentTarget(prevTarget)
  }

  val segEnvelopeReportSql: String =
    """WITH g AS (SELECT doc_id FROM range(0, 400) t(doc_id) WHERE doc_id % 16 = 3)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, bit_xor(doc_id) AS xor_ids,
      |       CAST(1 AS BIGINT) AS pruned_whole_segments
      |FROM g""".stripMargin

  /** FILTERED METADATA-ONLY AGGREGATES under the driver's hash gate
    * (round 15): on the shard-pure compacted layout a `shard IN (…)`
    * (or chunk-aligned doc-range) predicate is FILE-exact, so COUNT /
    * MIN / MAX answer straight from the pruned manifest entries — zero
    * data IO, Iceberg/Delta's partition-pruned count. `meta_only` pins
    * the structural claim: both filtered aggregations planned as the
    * manifest-only [[ShardSinkCountScan]].
    */
  def countPrunedReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkcpr")
    appendTo(docs(spark, 400, 2), dir.getPath)
    compact(dir.getPath, targetRowsPerFile = 10L) // shard-pure 10-row chunks
    def table = readPath(spark, dir.getPath)
    val byShard = table.where(col("shard").isin(2, 3))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
    // chunk ranges per shard s: [s, s+144] [s+160, s+304] [s+320, s+384]
    // — doc_id >= 160 prunes every first chunk whole and full-matches
    // the rest, so the count stays metadata-only
    val tail = table.where(col("doc_id") >= 160L).agg(count(lit(1)).as("n_tail"))
    val metaOnly =
      byShard.queryExecution.executedPlan.toString.contains("ShardSinkCountScan") &&
        tail.queryExecution.executedPlan.toString.contains("ShardSinkCountScan")
    val r1 = byShard.head()
    val r2 = tail.head()
    spark.range(1).select(
      lit(r1.getLong(0)).as("n_docs"),
      lit(r1.getLong(1)).as("min_doc"),
      lit(r1.getLong(2)).as("max_doc"),
      lit(r2.getLong(0)).as("n_tail"),
      lit(if (metaOnly) 1L else 0L).as("meta_only"))
  }

  val countPrunedReportSql: String =
    """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM range(0, 400) t(doc_id)
      |        WHERE doc_id % 16 IN (2, 3)) AS n_docs,
      |       (SELECT MIN(doc_id) FROM range(0, 400) t(doc_id)
      |        WHERE doc_id % 16 IN (2, 3)) AS min_doc,
      |       (SELECT MAX(doc_id) FROM range(0, 400) t(doc_id)
      |        WHERE doc_id % 16 IN (2, 3)) AS max_doc,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM range(0, 400) t(doc_id)
      |        WHERE doc_id >= 160) AS n_tail,
      |       CAST(1 AS BIGINT) AS meta_only""".stripMargin

  /** BLOOM POINT-LOOKUP SKIPPING under the driver's hash gate (round
    * 15): an UNCLUSTERED landing zone (hash-partitioned writes, every
    * file's doc range spans the whole table, so range stats prune
    * nothing) answers `doc_id = K` and `doc_id IN (…)` touching only the
    * files whose per-entry bloom can't rule the ids out.
    * `bloom_pruned` pins the physical claim: fewer data files opened
    * than the census, on a layout where ranges alone would read all.
    */
  def bloomLookupReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkblm")
    // 8 ingest batches of interleaved residue slices: every file's doc
    // range spans ~the whole table, so range stats cannot prune a point
    // lookup — exactly the ingest-ordered landing zone shape
    (0 until 8).foreach { i =>
      appendTo(docs(spark, 2000, 1)
        .where(col("doc_id") % 8 === i.toLong), dir.getPath)
    }
    val census = committedEntries(dir.getPath).size
    def table = readPath(spark, dir.getPath)
    val Probed(hit, openedEq, _, _) = probe(table.where(col("doc_id") === 1337L).collect())
    val Probed(nIn, openedIn, _, _) = probe(table.where(col("doc_id").isin(3L, 777L, 1999L)).count())
    val pruned = census >= 8 &&
      openedEq >= 1L && openedEq < census.toLong &&
      openedIn >= 1L && openedIn < census.toLong
    spark.range(1).select(
      lit(hit.head.getLong(0)).as("doc_id"),
      lit(hit.head.getInt(1)).as("shard"),
      lit(hit.head.getString(2)).as("body"),
      lit(nIn).as("n_in"),
      lit(if (pruned && hit.length == 1) 1L else 0L).as("bloom_pruned"))
  }

  val bloomLookupReportSql: String =
    """SELECT CAST(1337 AS BIGINT) AS doc_id, CAST(1337 % 16 AS INT) AS shard,
      |       md5('1337') AS body, CAST(3 AS BIGINT) AS n_in,
      |       CAST(1 AS BIGINT) AS bloom_pruned""".stripMargin

  /** BIN-PACKING COMPACTION under the driver's hash gate (round 15):
    * Delta's `OPTIMIZE` shape — a second maintenance pass on a table
    * whose first pass already produced in-band shard-pure chunks must
    * rewrite ONLY the fresh ingest, keeping yesterday's chunks verbatim.
    * `kept_verbatim` pins the physical claim (every first-pass chunk's
    * entry name survives the second pass) while the row aggregates match
    * the same range() math in DuckDB.
    */
  def binPackReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkbpk")
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(spark, 1000, 1, lo, hi), dir.getPath)
    append(0L, 800L)
    compact(dir.getPath, targetRowsPerFile = 50L) // 16 in-band 50-row chunks
    val firstPass = committedEntries(dir.getPath).map(_.file).toSet
    append(800L, 1000L) // the day's ingest: one small straddling file
    compact(dir.getPath, targetRowsPerFile = 50L, binPack = true)
    val after = committedEntries(dir.getPath)
    val keptVerbatim = firstPass.subsetOf(after.map(_.file).toSet) &&
      after.forall(e => e.hasStats && e.shardMin == e.shardMax)
    readPath(spark, dir.getPath)
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("xor_ids"),
        countDistinct(col("shard")).as("n_shards"))
      .withColumn("kept_verbatim", lit(if (keptVerbatim) 1L else 0L))
  }

  val binPackReportSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, bit_xor(doc_id) AS xor_ids,
      |       CAST(COUNT(DISTINCT doc_id % 16) AS BIGINT) AS n_shards,
      |       CAST(1 AS BIGINT) AS kept_verbatim
      |FROM range(0, 1000) t(doc_id)""".stripMargin

  /** AUTO-COMPACT under the driver's hash gate (round 15): three
    * appends with `.option("autoCompact", "50")` — each append's own
    * maintenance pass re-packs whatever fell out of band, so the table
    * never accumulates straddling ingest files. `auto_packed` pins the
    * structural claim: after the third append every committed file is
    * shard-pure with no operator ever calling compact() explicitly, and
    * the version log shows one maintenance commit riding each append.
    */
  def autoCompactReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkacp")
    def append(lo: Long, hi: Long): Unit =
      docs(spark, 1000, 1, lo, hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir.getPath).option("autoCompact", "50")
        .mode(SaveMode.Append).save()
    append(0L, 800L); append(800L, 900L); append(900L, 1000L)
    val entries = committedEntries(dir.getPath)
    val packed = entries.forall(e => e.hasStats && e.shardMin == e.shardMax) &&
      currentManifestVersion(dir.getPath) == 6L // 3 appends + 3 maintenance
    readPath(spark, dir.getPath)
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("xor_ids"))
      .withColumn("auto_packed", lit(if (packed) 1L else 0L))
  }

  val autoCompactReportSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, bit_xor(doc_id) AS xor_ids,
      |       CAST(1 AS BIGINT) AS auto_packed
      |FROM range(0, 1000) t(doc_id)""".stripMargin

  /** GROUPED METADATA-ONLY AGGREGATES under the driver's hash gate
    * (round 15): on a compacted shard-pure layout `SELECT shard,
    * count(*), min(doc_id), max(doc_id) GROUP BY shard` answers entirely
    * from the manifest's per-file bookkeeping — the hourly
    * partition-level rollup of a 100 TB landing zone with zero data IO.
    * `meta_only` pins the structural claim (the grouped plan is the
    * manifest scan, no aggregate node reads rows).
    */
  def groupByMetaReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkgbm")
    appendTo(docs(spark, 400, 2), dir.getPath)
    compact(dir.getPath, targetRowsPerFile = 10L) // several shard-pure files per shard
    val grouped = readPath(spark, dir.getPath)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
    val metaOnly =
      grouped.queryExecution.executedPlan.toString.contains("ShardSinkCountScan")
    grouped.withColumn("meta_only", lit(if (metaOnly) 1L else 0L)).orderBy("shard")
  }

  val groupByMetaReportSql: String =
    """SELECT CAST(doc_id % 16 AS INT) AS shard,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |       CAST(1 AS BIGINT) AS meta_only
      |FROM range(0, 400) t(doc_id)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** RUNTIME FILE PRUNING (DPP on the lakehouse table) under the
    * driver's hash gate (round 15): the compacted sink fact joins a
    * selectively-filtered small dim on `shard`; the dim broadcasts, and
    * at execution Spark hands its shard values back through
    * `SupportsRuntimeFiltering` — whole manifest files for the other 12
    * shards vanish before any task launches. `dpp_pruned` pins the
    * physical claim: the delivered filter was exactly the dim's shard
    * set AND the scan opened fewer data files than the census.
    */
  def sinkDppReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkdpp")
    appendTo(docs(spark, 4000, 4), dir.getPath)
    compact(dir.getPath, targetRowsPerFile = 250L) // 16 shard-pure files
    val census = committedEntries(dir.getPath).size
    val fact = readPath(spark, dir.getPath)
    // the dim-side predicate is what makes DPP fire (Spark only prunes
    // when the build side is itself selectively filtered)
    val dim = graft.model.Tables.region(spark, sfDir)
      .where(col("r_regionkey") < 4)
      .select(col("r_regionkey").cast("int").as("shard_key"), col("r_name"))
    val joined = fact.join(broadcast(dim), fact("shard") === dim("shard_key"))
      .groupBy(col("shard"), col("r_name"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("xor_ids"))
    lastRuntimeFilter.set(null)
    val Probed(rows, opened, _, _) = probe(joined.collect())
    val pruned = lastRuntimeFilter.get() == Set(0, 1, 2, 3) &&
      opened >= 4L && opened < census.toLong
    import spark.implicits._
    rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (pruned) 1L else 0L))
      .toSeq.sortBy(_._1)
      .toDF("shard", "r_name", "n_docs", "xor_ids", "dpp_pruned")
  }

  val sinkDppReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(0, 4000) t(doc_id))
      |SELECT shard, r_name, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids, CAST(1 AS BIGINT) AS dpp_pruned
      |FROM g JOIN region ON shard = CAST(r_regionkey AS INT) AND r_regionkey < 4
      |GROUP BY shard, r_name ORDER BY shard""".stripMargin

  /** Driver-checked VACUUM (round 14): two Appends, then two planted
    * orphans impersonating a crashed job's leftovers (a renamed data
    * file whose manifest flip never happened, and its delete vector).
    * `vacuum(dir, 0)` must sweep exactly the two orphans and nothing
    * else — the live rollup afterwards is byte-identical to the
    * committed windows, with the sweep count and the remaining-orphan
    * count pinned in the same checked row.
    */
  def vacuumReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkvac")
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(spark, 2000, 2, lo, hi), dir.getPath)
    append(0L, 1200L); append(1200L, 2000L)
    // a crashed job's trace: renamed into place, never manifested
    Seq("part-bcrashed-0.tsv" -> "9999\t9\torphan row", "del-crashed.pos" -> "0")
      .foreach { case (n, content) =>
        val w = SinkFs.create(new Path(dir.getPath, n))
        try { w.write(content); w.write("\n") } finally w.close()
      }
    val swept = vacuum(dir.getPath, olderThanMillis = 0L)
    val left = SinkFs.listFileNames(new Path(dir.getPath))
      .count(f => f.contains("crashed"))
    readPath(spark, dir.getPath)
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(doc_id)").as("xor_ids"))
      .withColumn("n_swept", lit(swept.size.toLong))
      .withColumn("n_orphans_left", lit(left.toLong))
  }

  val vacuumReportSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(doc_id) AS xor_ids,
      |       CAST(2 AS BIGINT) AS n_swept, CAST(0 AS BIGINT) AS n_orphans_left
      |FROM range(0, 2000) t(doc_id)""".stripMargin

  /** Driver-checked COMPACTION (round 13): three fragmented Appends,
    * compact, read back — the rollup must be BYTE-IDENTICAL to the
    * uncompacted oracle (compaction may touch layout, never values), and
    * the emitted layout report pins one-file-per-shard with exact stats.
    */
  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkcompact")
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(spark, 2000, 2, lo, hi), dir.getPath)
    append(0L, 500L); append(500L, 1200L); append(1200L, 2000L)
    compact(dir.getPath)
    val entries = committedEntries(dir.getPath)
    // layout invariants folded into the CHECKED row: every file shard-pure
    // with exact stats, one file per shard
    val shardPure = entries.forall(e => e.hasStats && e.shardMin == e.shardMax)
    shardRollup(readPath(spark, dir.getPath))
      .withColumn("n_files", lit(entries.size.toLong))
      .withColumn("shard_pure", lit(shardPure))
  }

  val compactRoundtripSql: String =
    """SELECT CAST(doc_id % 16 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(16 AS BIGINT) AS n_files, TRUE AS shard_pure
      |FROM range(0, 2000) t(doc_id)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** Driver-checked Z-ORDER compaction (round 14): three fragmented
    * Appends, `compactZOrder` into 16 rectangle files, read back — the
    * per-shard rollup must be BYTE-IDENTICAL to the uncompacted oracle
    * (layout may change, values never), and the pruning contract is
    * folded into the checked row as booleans: a shard-only filter, a
    * doc-range-only filter AND their conjunction must each plan at most
    * half / half / a quarter of the files — the multi-dimensional
    * skipping plain shard-pure compaction cannot give (its doc_id
    * filters read every shard's file).
    */
  def zorderRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, dir) = scratch(spark, sfDir, "sinkzord")
    s.conf.set("spark.sql.adaptive.enabled", "false") // planned files == rdd partitions
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(s, 2000, 2, lo, hi), dir.getPath)
    append(0L, 500L); append(500L, 1200L); append(1200L, 2000L)
    compactZOrder(dir.getPath, rowsPerFile = 125) // 2000 rows -> 16 files
    val nFiles = committedEntries(dir.getPath).size
    def read = readPath(s, dir.getPath)
    val shardPlanned = read.where(col("shard") === 2).rdd.getNumPartitions
    val docPlanned = read.where(col("doc_id") >= 500L && col("doc_id") < 1000L)
      .rdd.getNumPartitions
    val bothPlanned = read.where(col("shard") === 2
      && col("doc_id") >= 500L && col("doc_id") < 1000L).rdd.getNumPartitions
    shardRollup(read)
      .withColumn("n_files", lit(nFiles.toLong))
      .withColumn("shard_prunes", lit(shardPlanned * 2 <= nFiles))
      .withColumn("doc_prunes", lit(docPlanned * 2 <= nFiles))
      .withColumn("both_prune_more", lit(bothPlanned * 4 <= nFiles))
  }

  val zorderRoundtripSql: String =
    """SELECT CAST(doc_id % 16 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids, CAST(16 AS BIGINT) AS n_files,
      |       TRUE AS shard_prunes, TRUE AS doc_prunes, TRUE AS both_prune_more
      |FROM range(0, 2000) t(doc_id)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** Driver-checked TABLE HISTORY (round 13): the lakehouse
    * `DESCRIBE HISTORY` analogue over the retained version log — one row
    * per manifest version with its committed row total and the row DELTA
    * vs the previous version (the per-commit audit an ingest dashboard
    * reads). Three Appends of known windows make every cell
    * deterministic; the oracle re-derives the cumulative totals from the
    * same windows.
    */
  /** DESCRIBE HISTORY under the hash gate (extended round 14 with the
    * per-commit OPERATION column — Delta's `operation` field): every
    * commit path now stamps its `"op"` marker, so the version log reads
    * as an audit trail — append, delete, alter, restore, compact here;
    * truncate/replaceWhere/rewrite/delta/streamingUpdate/clone/
    * addConstraint/dropConstraint/zorder on their paths. Rows stay
    * manifest-derived (no data IO): a restore's +200 and a compaction's
    * ±0 are visible next to their operation names.
    */
  def historyReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkhist", Seq("graft_h"), MorDelete)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_h.docs_h").append()
    append(0L, 500L)     // v1 append  +500
    append(500L, 1200L)  // v2 append  +700
    s.sql("DELETE FROM graft_h.docs_h WHERE doc_id >= 1000") // v3 delete -200
    s.sql("ALTER TABLE graft_h.docs_h ADD COLUMN note STRING") // v4 alter ±0
    s.sql("ALTER TABLE graft_h.docs_h SET TBLPROPERTIES ('graft.restore' = '2')") // v5 +200
    val dir = new java.io.File(root, "docs_h").getPath
    compact(dir, retainVersions = 9) // v6 compact ±0
    import s.implicits._
    history(dir).map(h => (h._1, h._2, h._3, h._4))
      .toDF("version", "op", "n_rows", "rows_added").orderBy("version")
  }

  val historyReportSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'append',  CAST(500 AS BIGINT),  CAST(500 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'append',  CAST(1200 AS BIGINT), CAST(700 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'delete',  CAST(1000 AS BIGINT), CAST(-200 AS BIGINT)),
      |  (CAST(4 AS BIGINT), 'alter',   CAST(1000 AS BIGINT), CAST(0 AS BIGINT)),
      |  (CAST(5 AS BIGINT), 'restore', CAST(1200 AS BIGINT), CAST(200 AS BIGINT)),
      |  (CAST(6 AS BIGINT), 'compact', CAST(1200 AS BIGINT), CAST(0 AS BIGINT)))
      |  t(version, op, n_rows, rows_added)
      |ORDER BY version""".stripMargin

  /** Driver-checked STATS-BASED FILE SKIPPING (round 13): four Appends
    * land narrow shard windows (the per-source ingest layout a landing
    * zone actually has), then a read filtered on `shard IN (…) AND
    * doc_id < …` goes through the pushed-filter prune — the shard
    * conjunct drops every file whose manifest shard range cannot match
    * BEFORE any data IO, the doc_id conjunct is residual and applied
    * row-level by Spark. Values re-derived by DuckDB from `range()`;
    * the pruning itself (planned-partition counts, conservative
    * stats-unknown behavior) is pinned in ShardSinkSpec where the
    * session's partition count is controlled.
    */
  def statsPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkprune")
    def append(loShard: Int, hiShard: Int): Unit =
      appendTo(docs(spark, 20000, 4)
        .where(col("shard") >= loShard && col("shard") < hiShard), dir.getPath)
    append(0, 4); append(4, 8); append(8, 12); append(12, 16)
    shardRollup(
      readPath(spark, dir.getPath).where(col("shard").isin(2, 7, 13) && col("doc_id") < 18000),
      sum(when(substring(col("body"), 1, 1) === "a", 1L).otherwise(0L)).as("n_body_a"))
  }

  val statsPruneSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(0, 20000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(SUM(CASE WHEN substring(body, 1, 1) = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_body_a
      |FROM g WHERE shard IN (2, 7, 13) AND doc_id < 18000
      |GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked DOC-RANGE FILE SKIPPING (round 13): four Appends
    * land consecutive doc_id windows (the time-ordered crawl-batch
    * layout a landing zone naturally has), then a read filtered on a
    * doc_id interval AND a shard set goes through BOTH prunes — files
    * outside the interval hull or the shard set are dropped before any
    * data IO; values re-derived by DuckDB from `range()`. Partition
    * counts and the statistics report are pinned in ShardSinkSpec.
    */
  def rangePrune(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkrange")
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(spark, 20000, 4, lo, hi), dir.getPath)
    append(0L, 5000L); append(5000L, 10000L); append(10000L, 15000L); append(15000L, 20000L)
    shardRollup(readPath(spark, dir.getPath)
      .where(col("doc_id") >= 6000L && col("doc_id") < 13000L && col("shard") < 8))
  }

  val rangePruneSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard FROM range(0, 20000) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       bit_xor(doc_id) AS xor_ids
      |FROM g WHERE doc_id >= 6000 AND doc_id < 13000 AND shard < 8
      |GROUP BY shard ORDER BY shard""".stripMargin

  /** Driver-checked METADATA-ONLY COUNT (round 13): `SELECT COUNT(*)`
    * answered from the manifest's live-row bookkeeping with ZERO data IO
    * ([[ShardSinkCountScan]]) — including after a merge-on-read DELETE
    * (the live counts must be maintained, not the physical ones) and
    * against a time-travelled version. The plan shape (count scan, one
    * partition, no data files) is pinned in ShardSinkSpec.
    */
  def countMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkcount", Seq("graft_cnt"), MorDelete)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2000, 2, lo, hi)
        .writeTo("graft_cnt.docs_cnt").append()
    append(0L, 800L); append(800L, 2000L)
    s.sql("DELETE FROM graft_cnt.docs_cnt WHERE doc_id >= 1500")
    val dir = new java.io.File(root, "docs_cnt").getPath
    val live = readPath(s, dir)
      .agg(expr("count(*)").as("n_live"))
    val atV2 = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", "2").load()
      .agg(expr("count(*)").as("n_v2"))
    live.crossJoin(atV2)
  }

  val countMetaSql: String =
    """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM range(0, 2000) t(doc_id)
      |        WHERE NOT doc_id >= 1500) AS n_live,
      |       CAST(2000 AS BIGINT) AS n_v2""".stripMargin

  /** Driver-checked metadata-only MIN/MAX (round 14): the companion to
    * `q_dsv2_count_meta` — an unfiltered, ungrouped
    * COUNT/MIN/MAX(doc_id, shard) rollup answers straight from the
    * manifest's per-file stat ranges, ZERO data IO (Iceberg answers
    * these from its manifests the same way). Eligibility is conservative
    * — any delete vector anywhere refuses the MIN/MAX push (the vector
    * may have killed exactly the extreme row) and the plan falls back to
    * the row scan, spec-pinned. Two appends of known windows make every
    * cell a literal for the oracle.
    */
  def minMaxMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkmm")
    def append(lo: Long, hi: Long): Unit =
      appendTo(docs(spark, 2000, 2, lo, hi), dir.getPath)
    append(100L, 900L); append(900L, 1700L)
    readPath(spark, dir.getPath)
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        min(col("shard")).as("min_shard"), max(col("shard")).as("max_shard"))
  }

  val minMaxMetaSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |       CAST(MIN(doc_id % 16) AS INT) AS min_shard,
      |       CAST(MAX(doc_id % 16) AS INT) AS max_shard
      |FROM range(100, 1700) t(doc_id)""".stripMargin
}
