package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import SinkLifecycles.{
  MorCdf, Probed, appendMerging, appendTo, docs, probe, readPath, scratch, scratchDir}
import SinkMatView.{MvAgg, RefreshStats}

/** The oracle-checked fixtures of the materialized-view and column-stat
  * layers, as [[SinkLifecycles]] holds the storage engine's: each builds a
  * private lakehouse, drives one MV or data-skipping lifecycle through the
  * public surface and reports a rollup whose DuckDB twin (`*Sql`)
  * re-derives it from `range()`. They are registered in [[Sinks.queries]];
  * the engine ([[SinkMvDist]] over [[SinkMatView]]'s definitions),
  * [[SinkMvDdl]], the rule [[SinkMvRewrite]] and [[SinkColStats]] carry
  * none of them.
  *
  * The steps the fixtures share are the plain helpers below, and each
  * fixture stays straight-line code that calls them: the slot lists and
  * their from-scratch aggregate, the refresh bookkeeping, the change-feed
  * drain, the rewrite bracket, one collected leg and the path-join query.
  * Counter reads go through [[SinkLifecycles.probe]] only.
  */
object SinkMvLifecycles {

  // ---- shared steps --------------------------------------------------------

  /** The doc rollup's slots over `doc_id` — row count and id sum, then
    * xor and the extremes — and the body-length sum. Every fixture takes
    * its definition from these lists, and [[aggOf]] turns the same list
    * into the from-scratch aggregate a parity diff compares against.
    */
  private val CountSum = Seq(MvAgg("n_docs", "count"), MvAgg("sum_ids", "sum", "doc_id"))
  private val XorIds = MvAgg("xor_ids", "xor", "doc_id")
  private val MaxDoc = MvAgg("max_doc", "max", "doc_id")
  private val WithMax = CountSum ++ Seq(XorIds, MaxDoc)
  private val WithExtremes = CountSum ++ Seq(XorIds, MvAgg("min_doc", "min", "doc_id"), MaxDoc)
  private val SumLen = MvAgg("sum_len", "sum", "length(body)")

  /** What each slot maintains, as the Spark aggregate a full recompute of
    * the view runs.
    */
  private def aggOf(slots: Seq[MvAgg]): Seq[Column] = slots.map { a =>
    (a.kind match {
      case "count" => count(lit(1))
      case "sum" => sum(expr(a.e))
      case "xor" => expr(s"bit_xor(${a.e})")
      case "min" => min(expr(a.e))
      case "max" => max(expr(a.e))
    }).as(a.name)
  }

  /** `df` grouped by `groups`, aggregated as the slots define. */
  private def aggregated(df: DataFrame, groups: Seq[String], slots: Seq[MvAgg]): DataFrame = {
    val aggs = aggOf(slots)
    df.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `df` with each named constant appended as a column, in order. */
  private def cells(df: DataFrame, named: (String, Any)*): DataFrame =
    named.foldLeft(df) { case (d, (n, v)) => d.withColumn(n, lit(v)) }

  /** A maintained view's report: `view`, then the refresh bookkeeping —
    * refreshes applied, change rows consumed and, when `dirty`, groups
    * whose extremes were recomputed — then the MV's version and `tail`'s
    * named cells (its source watermarks).
    */
  private def refreshReport(
      view: DataFrame, stats: Seq[RefreshStats], dirty: Boolean, mvVersion: Long,
      tail: (String, Long)*): DataFrame = {
    val counts = Seq(
      "n_refreshes" -> stats.count(_.applied).toLong,
      "change_rows" -> stats.map(_.changeRows).sum) ++
      (if (dirty) Seq("dirty_groups" -> stats.map(_.dirtyGroups).sum) else Nil)
    cells(view, counts ++ (("mv_version" -> mvVersion) +: tail): _*)
  }

  /** Tails `dir`'s change feed into the view at `mvDir` until it has
    * caught up: one `foreachBatch` call of the engine's `fold` per
    * delivered commit. Returns the batches applied and the ones recorded
    * as already covered.
    */
  private def drainChangeFeed(
      s: SparkSession, dir: String, mvDir: String,
      fold: (SparkSession, String, String, DataFrame, Long) => RefreshStats): (Long, Long) = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    val skipped = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = s.readStream.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val vs = batch.agg(
          min(col("_commit_version")), max(col("_commit_version"))).collect().head
        if (!vs.isNullAt(0)) {
          require(vs.getLong(0) == vs.getLong(1),
            "the CDF stream delivers one commit per trigger")
          val st = fold(s, dir, mvDir, batch, vs.getLong(0))
          (if (st.applied) applied else skipped).incrementAndGet()
          ()
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    (applied.get(), skipped.get())
  }

  /** Rows in one frame and not the other, both ways: 0 when they agree. */
  private def rowDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).union(b.exceptAll(a)).count()

  /** Runs `body` with the table's MVs registered for [[SinkMvRewrite]]
    * and the rule installed on `s`, and returns its value with the
    * counter deltas of the whole body: a fixture's rewrite and fallback
    * totals then cover every step between its query legs too — the
    * refreshes, compactions and DML, whose own scans must never rewrite.
    * Afterwards, also when `body` fails, unregisters every MV of the
    * table and uninstalls the rule.
    */
  private def withRewrite[T](s: SparkSession, mvs: (String, Seq[String]))(body: => T): Probed[T] = {
    val (src, dirs) = mvs
    dirs.foreach(SinkMvRewrite.register(src, _))
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      probe(body)
    } finally {
      SinkMvRewrite.unregister(src)
      s.experimental.extraOptimizations = Nil
    }
  }

  /** One leg's answer, collected now and kept with its own schema: later
    * commits cannot change it, and it joins the other legs by name.
    */
  private def leg(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** A dim of [[pathJoin]]: the table at `dir`, joined on `fk = doc_id`
    * with its key renamed `key`, contributing the columns `attrs`.
    */
  private final case class PathDim(dir: String, fk: String, key: String, attrs: Seq[String])

  /** The user's star or snowflake group-by over path-addressed tables: the
    * fact joined to each dim in turn, grouped by `groups`, counting rows
    * and summing `doc_id` — the query a join MV's rewrite answers.
    */
  private def pathJoin(
      s: SparkSession, factDir: String, dims: Seq[PathDim], groups: Seq[String]): DataFrame =
    aggregated(
      dims.foldLeft(readPath(s, factDir)) { (f, d) =>
        f.join(readPath(s, d.dir).select(col("doc_id").as(d.key) +: d.attrs.map(col): _*),
          col(d.fk) === col(d.key), "inner")
      }, groups, CountSum)

  /* SHARED LIFECYCLE BASES: the star/snowflake checked queries each used
   * to spend ~6–10 Spark commits rebuilding BYTE-EQUIVALENT base tables
   * (bootstrap + ALTERs + the 1200-doc ingest) before their actual
   * lifecycle began. The base build runs ONCE per JVM under the
   * [[graft.util.Memo]] discipline and every consumer receives a
   * file-level COPY of the table directories — the manifest protocol
   * stores only dir-relative names, so a copied table is a fully
   * independent clone (each query's own commits land on its copy;
   * versions, schemas and change feeds match the inline build exactly).
   * Only the per-query TAIL commits remain inline — they ARE the
   * lifecycles under test.
   */

  /** The STAR base: `dim` (16 keys, region r(k%3); bootstrap + ALTER +
    * map = v3) and `fact` (docs 0..1199, uid = doc % 300; bootstrap +
    * ALTER + ingest = v3) — the opening commits of every fact⋈dim
    * lifecycle query.
    */
  private def starBase(spark: SparkSession): String =
    graft.util.Memo.cached("mvStarBase", spark,
      new java.io.File(sys.props("java.io.tmpdir"), "graft_fixture_anchor").getPath) {
      val root = java.nio.file.Files.createTempDirectory("graft_starbase").toFile
      val dim = new java.io.File(root, "dim").getPath
      appendTo(docs(spark, 2400, 2, 0L, 0L), dim) // d1: bootstrap
      ShardSink.addColumn(dim, "region", StringType) // d2
      appendTo(docs(spark, 2400, 2, 0L, 16L)
        .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string"))), dim) // d3
      val fact = new java.io.File(root, "fact").getPath
      appendTo(docs(spark, 2400, 2, 0L, 0L), fact) // f1
      ShardSink.addColumn(fact, "uid", LongType) // f2
      appendTo(docs(spark, 2400, 2, 0L, 1200L)
        .withColumn("uid", (col("doc_id") % 300L).cast("long")), fact) // f3
      root.getPath
    }

  /** The SNOWFLAKE base: `dim2` (4 keys, zone z(k%2)), `dim1` (16 keys,
    * region r(k%3), catk = k % 4 → dim2) and `fact` (docs 0..1199,
    * uid = doc % 150) — the opening commits of every chain lifecycle.
    */
  private def snowBase(spark: SparkSession): String =
    graft.util.Memo.cached("mvSnowBase", spark,
      new java.io.File(sys.props("java.io.tmpdir"), "graft_fixture_anchor").getPath) {
      val root = java.nio.file.Files.createTempDirectory("graft_snowbase").toFile
      val d2 = new java.io.File(root, "dim2").getPath
      appendTo(docs(spark, 2400, 2, 0L, 0L), d2) // e1
      ShardSink.addColumn(d2, "zone", StringType) // e2
      appendTo(docs(spark, 2400, 2, 0L, 4L)
        .withColumn("zone", concat(lit("z"), (col("doc_id") % 2).cast("string"))), d2) // e3
      val d1 = new java.io.File(root, "dim1").getPath
      appendTo(docs(spark, 2400, 2, 0L, 0L), d1) // d1
      ShardSink.addColumn(d1, "region", StringType) // d2
      ShardSink.addColumn(d1, "catk", LongType) // d3
      appendTo(docs(spark, 2400, 2, 0L, 16L)
        .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
        .withColumn("catk", (col("doc_id") % 4).cast("long")), d1) // d4
      val fact = new java.io.File(root, "fact").getPath
      appendTo(docs(spark, 2400, 2, 0L, 0L), fact) // f1
      ShardSink.addColumn(fact, "uid", LongType) // f2
      appendTo(docs(spark, 2400, 2, 0L, 1200L)
        .withColumn("uid", (col("doc_id") % 150L).cast("long")), fact) // f3
      root.getPath
    }

  /** Copies tables of a memoized base into `root`, each file by file
    * under its base name plus `suffix`; returns their dirs in order.
    */
  private def copyBase(
      base: String, root: java.io.File, suffix: String, tables: String*): Seq[String] =
    tables.map { table =>
      val src = java.nio.file.Paths.get(base, table)
      val dst = new java.io.File(root, table + suffix).toPath
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
      dst.toString
    }

  /** Bootstraps the empty catalog `table` and adds the column `name` of
    * SQL type `ddlType` (two commits); returns its ingest of docs
    * [lo, hi) of the `numDocs` corpus with `name` set to `value`.
    */
  private def evolved(
      s: SparkSession, table: String, numDocs: Long, name: String, ddlType: String,
      value: Column): (Long, Long) => Unit = {
    docs(s, numDocs, 2, 0L, 0L).writeTo(table).append()
    s.sql(s"ALTER TABLE $table ADD COLUMN $name $ddlType")
    (lo, hi) => docs(s, numDocs, 2, lo, hi).withColumn(name, value).writeTo(table).append()
  }

  /** Appends docs [lo, hi) to a copied base fact through its catalog
    * `table`, with `uid` derived as the base derives it.
    */
  private def appendFact(s: SparkSession, table: String, uidMod: Long, lo: Long, hi: Long): Unit =
    docs(s, 2400, 2, lo, hi).withColumn("uid", (col("doc_id") % uidMod).cast("long"))
      .writeTo(table).append()

  // ---- single-table MV lifecycles over one bucket --------------------------

  /** Oracle-checked INCREMENTAL MV REFRESH (round 15): create a per-shard
    * rollup MV (count / sum / xor / min / max of doc_id, sum of body
    * length) after two ingest commits, then drive the source through an
    * in-place UPDATE (pre/post images; min/max must NOT dirty — the
    * fast-path), a tail DELETE (every shard's recorded max removed → the
    * pruned dirty-recompute path), a whole-shard DELETE (group-drop), and
    * a late APPEND (direct extreme extension + group resurrection) — one
    * incremental refresh after each. The final result is the MV state
    * crossed with the refresh bookkeeping (refresh count, change rows
    * consumed, dirty recomputes, MV/source versions), every cell
    * re-derived by DuckDB from the same windows — so the INCREMENTAL fold
    * equals the full recompute under the hash gate, not just row counts.
    */
  def mvRefreshReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmv", Seq("graft_mv"), MorCdf)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2400, 2, lo, hi)
        .writeTo("graft_mv.docs_mv").append()
    val dir = new java.io.File(root, "docs_mv").getPath
    val mvDir = dir + ".mv"
    append(0L, 800L) // v1
    append(800L, 2000L) // v2
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), WithExtremes :+ SumLen, buckets = 1)
    // v3: in-place update (600 change rows, 0 dirty — doc_id unchanged)
    s.sql("UPDATE graft_mv.docs_mv SET body = concat(body, '!') WHERE doc_id < 300")
    val r1 = SinkMvDist.refresh(s, dir, mvDir)
    // v4: tail delete (500 rows) — every shard's max is in [1500,2000) → 16 dirty
    s.sql("DELETE FROM graft_mv.docs_mv WHERE doc_id >= 1500")
    val r2 = SinkMvDist.refresh(s, dir, mvDir)
    // v5: whole-shard delete — shard 3 empties and leaves the view
    s.sql("DELETE FROM graft_mv.docs_mv WHERE shard = 3")
    val r3 = SinkMvDist.refresh(s, dir, mvDir)
    // v6: late append — maxes extend in-place, shard 3 resurrects
    append(2000L, 2400L)
    val r4 = SinkMvDist.refresh(s, dir, mvDir)
    refreshReport(SinkMvDist.read(s, mvDir), Seq(r1, r2, r3, r4), dirty = true,
      SinkMvDist.currentVersion(mvDir), "src_version" -> SinkMvDist.lastSourceVersion(mvDir))
      .orderBy("shard")
  }

  /** Oracle-checked MV ACROSS RESTORE + replaceWhere (round 16): the two
    * history-bending commit kinds a reporting MV must survive. A tail
    * MOR DELETE dirties every shard's max (pruned recompute); RESTORE to
    * v1 surfaces the resurrected rows as plain inserts in the feed (the
    * r14 exact-through-restore contract) and the fold re-extends the
    * extremes on the fast path; a `replaceWhere` on shard 3 drops the
    * shard and re-lands a third of it in ONE commit — net retractions
    * including the recorded max, one dirty group. Final per-shard view +
    * bookkeeping under the DuckDB hash gate.
    */
  def mvRestoreReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvr", Seq("graft_mvr"), MorCdf)
    def src = docs(s, 1200, 2)
    src.writeTo("graft_mvr.docs_mvr").append() // v1
    val dir = new java.io.File(root, "docs_mvr").getPath
    val mvDir = dir + ".mv"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), WithExtremes, buckets = 1)
    s.sql("DELETE FROM graft_mvr.docs_mvr WHERE doc_id >= 900") // v2
    val r1 = SinkMvDist.refresh(s, dir, mvDir)
    s.sql("ALTER TABLE graft_mvr.docs_mvr SET TBLPROPERTIES ('graft.restore' = '1')") // v3
    val r2 = SinkMvDist.refresh(s, dir, mvDir)
    src.where(col("shard") === 3 && ((col("doc_id") - 3L) / 16L) % 3L === 0L)
      .writeTo("graft_mvr.docs_mvr").overwrite(col("shard") === 3) // v4
    val r3 = SinkMvDist.refresh(s, dir, mvDir)
    refreshReport(SinkMvDist.read(s, mvDir), Seq(r1, r2, r3), dirty = true,
      SinkMvDist.currentVersion(mvDir), "src_version" -> SinkMvDist.lastSourceVersion(mvDir))
      .orderBy("shard")
  }

  /** DuckDB re-derivation: after restore the table is v1's 0..1199; the
    * replaceWhere keeps only every third shard-3 row (k ≡ 0 mod 3 of
    * doc = 3 + 16k). Constants: 3 refreshes; 300 (tail delete) + 300
    * (restore resurrections) + 100 (75 drops + 25 re-inserts) = 700
    * change rows; 16 + 0 + 1 dirty; MV v4 = create + 3; source v4.
    */
  val mvRestoreReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(0, 1200) t(doc_id)
      |  WHERE doc_id % 16 <> 3 OR ((doc_id - 3) / 16) % 3 = 0)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(3 AS BIGINT) AS n_refreshes,
      |       CAST(700 AS BIGINT) AS change_rows,
      |       CAST(17 AS BIGINT) AS dirty_groups,
      |       CAST(4 AS BIGINT) AS mv_version,
      |       CAST(4 AS BIGINT) AS src_version
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** Oracle-checked MULTI-COLUMN + PREDICATE MV (round 15): the
    * generalized definition — `GROUP BY (lang, shard)` (48 groups, an
    * evolved string column composed with the layout column) under a
    * WHERE clause (`length(body) = 32`). The UPDATE commit is the
    * predicate-CROSSING case filtered MVs exist for: its pre-images
    * match the predicate and its post-images (33-char bodies) do not, so
    * the signed fold nets to a pure retraction and the updated rows
    * LEAVE the view while staying in the table. The MOR delete then
    * dirties every group's max (the pruned recompute also runs under the
    * predicate). Final view + lifecycle constants under the hash gate;
    * the watermark/currency cells are derived, not wall-clock.
    */
  def mvGroupsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvg", Seq("graft_mvg"), MorCdf)
    // bootstrap the table, then evolve lang
    val ingest = evolved(s, "graft_mvg.docs_mvg", 2000, "lang", "STRING",
      concat(lit("l"), (col("doc_id") % 3).cast("string")))
    ingest(0L, 800L)
    ingest(800L, 2000L)
    val dir = new java.io.File(root, "docs_mvg").getPath
    val mvDir = dir + ".mv"
    SinkMvDist.create(s, dir, mvDir, Seq("lang", "shard"), WithMax, where = "length(body) = 32",
      buckets = 1)
    // predicate-crossing update: rows stay in the TABLE, leave the VIEW
    s.sql("UPDATE graft_mvg.docs_mvg SET body = concat(body, '!') WHERE doc_id < 300")
    val r1 = SinkMvDist.refresh(s, dir, mvDir)
    s.sql("DELETE FROM graft_mvg.docs_mvg WHERE doc_id >= 1500")
    val r2 = SinkMvDist.refresh(s, dir, mvDir)
    val perLang = SinkMvDist.read(s, mvDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_docs")).as("n_docs"),
        sum(col("sum_ids")).as("sum_ids"), expr("bit_xor(xor_ids)").as("xor_ids"),
        max(col("max_doc")).as("max_doc"))
    val current = SinkMvDist.lastSourceVersion(mvDir) == ShardSink.currentManifestVersion(dir)
    refreshReport(perLang, Seq(r1, r2), dirty = true, SinkMvDist.currentVersion(mvDir),
      "watermark_current" -> (if (current) 1L else 0L))
      .orderBy("lang")
  }

  /** DuckDB re-derivation: the view's final rows are docs in [300, 1500)
    * (0..299 crossed out of the predicate via the body update; ≥1500
    * deleted), grouped by (lang, shard) — rolled up per lang for a
    * compact 3-row gate. Constants: 2 refreshes; 300 pre-image rows (the
    * post-images are predicate-filtered) + 500 deletes = 800 change
    * rows; all 48 groups' maxes sat in the deleted tail → 48 dirty; MV
    * v3 = create + 2 refreshes; watermark current.
    */
  val mvGroupsReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         'l' || CAST(doc_id % 3 AS VARCHAR) AS lang
      |  FROM range(300, 1500) t(doc_id)),
      |pg AS (
      |  SELECT lang, shard, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(doc_id) AS BIGINT) AS s, bit_xor(doc_id) AS x,
      |         CAST(MAX(doc_id) AS BIGINT) AS m
      |  FROM g GROUP BY lang, shard)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |       CAST(SUM(n) AS BIGINT) AS n_docs, CAST(SUM(s) AS BIGINT) AS sum_ids,
      |       bit_xor(x) AS xor_ids, CAST(MAX(m) AS BIGINT) AS max_doc,
      |       CAST(2 AS BIGINT) AS n_refreshes,
      |       CAST(800 AS BIGINT) AS change_rows,
      |       CAST(48 AS BIGINT) AS dirty_groups,
      |       CAST(3 AS BIGINT) AS mv_version,
      |       CAST(1 AS BIGINT) AS watermark_current
      |FROM pg GROUP BY lang ORDER BY lang""".stripMargin

  /** Oracle-checked STREAMING MV MAINTENANCE (round 15): the same
    * 6-commit lifecycle, maintained CONTINUOUSLY — the change feed is
    * tailed one commit per trigger and every micro-batch lands through
    * [[SinkMvDist.refreshFromChanges]] in a `foreachBatch` loop, the recipe Delta
    * documents for streaming aggregate maintenance. The create-time
    * watermark (source v2) makes the first two streamed commits recorded
    * NO-OPS (already covered by the full build) — the exactly-once
    * dedup a replayed batch takes too — and the last four fold
    * incrementally, dirty recomputes included. The final view, the
    * applied/skipped split, the version ladder AND a zero row-diff
    * against a from-scratch aggregate of the source all sit under the
    * hash gate.
    */
  def mvStreamParity(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvs", Seq("graft_mvs"), MorCdf, streaming = true)
    def append(lo: Long, hi: Long): Unit =
      docs(s, 2400, 2, lo, hi)
        .writeTo("graft_mvs.docs_mvs").append()
    val dir = new java.io.File(root, "docs_mvs").getPath
    val mvDir = dir + ".mv"
    append(0L, 800L) // v1
    append(800L, 2000L) // v2
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), WithExtremes, buckets = 1)
    s.sql("UPDATE graft_mvs.docs_mvs SET body = concat(body, '!') WHERE doc_id < 300") // v3
    s.sql("DELETE FROM graft_mvs.docs_mvs WHERE doc_id >= 1500") // v4
    s.sql("DELETE FROM graft_mvs.docs_mvs WHERE shard = 3") // v5
    append(2000L, 2400L) // v6
    val (applied, skipped) = drainChangeFeed(s, dir, mvDir, SinkMvDist.refreshFromChanges)
    val mv = SinkMvDist.read(s, mvDir)
    cells(mv, "n_applied" -> applied, "n_skipped" -> skipped,
      "mv_version" -> SinkMvDist.currentVersion(mvDir),
      "src_version" -> SinkMvDist.lastSourceVersion(mvDir),
      "n_diff" -> rowDiff(mv, aggregated(readPath(s, dir), Seq("shard"), WithExtremes)))
      .orderBy("shard")
  }

  val mvStreamParitySql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(0, 2400) t(doc_id)
      |  WHERE (doc_id < 1500 AND doc_id % 16 <> 3) OR doc_id >= 2000)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(4 AS BIGINT) AS n_applied,
      |       CAST(2 AS BIGINT) AS n_skipped,
      |       CAST(5 AS BIGINT) AS mv_version,
      |       CAST(6 AS BIGINT) AS src_version,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  /** DuckDB re-derivation: the final live set is
    * `(doc_id < 1500 AND shard <> 3) OR doc_id >= 2000` with bodies
    * `md5(id) || '!'` below 300 — the MV per-shard rollup over exactly
    * that, plus the lifecycle constants (4 refreshes; 600+500+94+400
    * change rows — 94 = |{id < 1500 : id ≡ 3 (mod 16)}|; 16 dirty
    * max-recomputes from the tail delete; MV v5 = create + 4 refreshes;
    * source v6).
    */
  val mvRefreshReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CAST(CASE WHEN doc_id < 300 THEN 33 ELSE 32 END AS BIGINT) AS blen
      |  FROM range(0, 2400) t(doc_id)
      |  WHERE (doc_id < 1500 AND doc_id % 16 <> 3) OR doc_id >= 2000)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(SUM(blen) AS BIGINT) AS sum_len,
      |       CAST(4 AS BIGINT) AS n_refreshes,
      |       CAST(1594 AS BIGINT) AS change_rows,
      |       CAST(16 AS BIGINT) AS dirty_groups,
      |       CAST(5 AS BIGINT) AS mv_version,
      |       CAST(6 AS BIGINT) AS src_version
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  // ---- join MV lifecycle over one bucket ----------------------------------

  /** Oracle-checked JOIN MV (round 16): a per-`d_region` rollup of a
    * 2000-doc fact over a 15-key dim, maintained through all four delta
    * classes:
    *   1. fact DELETE (tail) → every region's max removed → the pruned
    *      dirty recompute runs as a JOIN (3 dirty groups),
    *   2. dim UPDATE (key 7 moves to region r9) → fact rows MOVE between
    *      groups with no rescan — and the vacated group's extreme stays
    *      derivable, the update FAST-PATH (0 dirty),
    *   3. dim INSERT (key 15) → previously-unjoined fact rows enter the
    *      view (inner-join semantics),
    *   4. fact APPEND against the evolved dim → extremes extend clean.
    * The final per-region view plus the refresh bookkeeping sits under
    * the DuckDB hash gate against a from-scratch join recompute.
    */
  def mvJoinReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvj", Seq("graft_mvj"), MorCdf)
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(s, 2400, 2, lo, hi)
    // the DIM: keys 0..14 (15 deliberately missing), region = 'r'||k%3
    docs(0L, 0L).writeTo("graft_mvj.dim_mvj").append() // d1: bootstrap
    s.sql("ALTER TABLE graft_mvj.dim_mvj ADD COLUMN region STRING") // d2
    docs(0L, 15L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo("graft_mvj.dim_mvj").append() // d3
    // the FACT: 2000 docs, fk = shard (0..15; shard-15 rows unjoined)
    docs(0L, 800L).writeTo("graft_mvj.fact_mvj").append() // f1
    docs(800L, 2000L).writeTo("graft_mvj.fact_mvj").append() // f2
    val factDir = new java.io.File(root, "fact_mvj").getPath
    val dimDir = new java.io.File(root, "dim_mvj").getPath
    val mvDir = factDir + ".mvj"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("d_region"), aggs = WithMax, buckets = 1)
    // f3: tail delete — every region's recorded max is in the tail → the
    // dirty recompute path, executed as a pruned fact⋈dim join
    s.sql("DELETE FROM graft_mvj.fact_mvj WHERE doc_id >= 1500")
    val r1 = SinkMvDist.refresh(s, factDir, mvDir)
    // d4: dim update — shard 7 moves r1 → r9; the moved rows' max (1495)
    // sits BELOW r1's surviving max (1498): clean fast-path, 0 dirty
    s.sql("UPDATE graft_mvj.dim_mvj SET region = 'r9' WHERE doc_id = 7")
    // d5: dim insert — key 15 joins shard-15 fact rows INTO the view
    docs(15L, 16L)
      .withColumn("region", lit("r0"))
      .writeTo("graft_mvj.dim_mvj").append()
    // ONE refresh covers BOTH dim commits — group-move and join-in fold
    // in the same [Δd ⋈ f] pass
    val r2 = SinkMvDist.refresh(s, factDir, mvDir)
    // f4: late fact append against the NOW-COMPLETE dim
    docs(2000L, 2400L).writeTo("graft_mvj.fact_mvj").append()
    val r3 = SinkMvDist.refresh(s, factDir, mvDir)
    val (fv, dv) = SinkMvDist.lastSourceVersions(mvDir)
    refreshReport(SinkMvDist.read(s, mvDir), Seq(r1, r2, r3), dirty = true,
      SinkMvDist.currentVersion(mvDir), "fact_version" -> fv, "dim_version" -> dv)
      .orderBy("d_region")
  }

  /** DuckDB re-derivation: live fact rows are `doc_id < 1500 OR doc_id
    * >= 2000`; the final region of shard s is r9 for 7, r0 for 15 (the
    * late insert), else r(s%3). Constants: 3 refreshes; contribution
    * rows 468 (500 tail-deletes minus the 32 unjoined shard-15 rows) +
    * 281 (one dim window: 94 shard-7 rows × ± for the update plus the
    * 93 shard-15 rows the insert joins in) + 400 (append, fully joined)
    * = 1149; 3 dirty groups (every region's max in the deleted tail —
    * the dim window stays clean); MV v4 = create + 3; fact v4, dim v5.
    */
  val mvJoinReportSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 16 = 7 THEN 'r9'
      |              WHEN doc_id % 16 = 15 THEN 'r0'
      |              ELSE 'r' || CAST((doc_id % 16) % 3 AS VARCHAR) END AS d_region
      |  FROM range(0, 2400) t(doc_id)
      |  WHERE doc_id < 1500 OR doc_id >= 2000)
      |SELECT d_region, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(3 AS BIGINT) AS n_refreshes,
      |       CAST(1149 AS BIGINT) AS change_rows,
      |       CAST(3 AS BIGINT) AS dirty_groups,
      |       CAST(4 AS BIGINT) AS mv_version,
      |       CAST(4 AS BIGINT) AS fact_version,
      |       CAST(5 AS BIGINT) AS dim_version
      |FROM g GROUP BY d_region ORDER BY d_region""".stripMargin

  // ---- distributed MVs (SinkMvDist) ---------------------------------------

  /** Oracle-checked DISTRIBUTED MV STATE (round 16): a per-`uid` grain
    * rollup (1200 groups over 16 buckets: every group lives in bucketed
    * state segments and the driver only ever collects bucket ids). Lifecycle: two ingests,
    * create, an in-place UPDATE whose net extremes dirty every updated
    * group's `min_len` (300-group distributed recompute), a tail DELETE
    * that removes 500 groups' recorded `max_doc` (500 more), and a late
    * append that extends extremes on the clean fast-path. The final
    * 1200-row view plus the refresh bookkeeping sits under the DuckDB
    * hash gate — the incremental distributed fold equals a full
    * recompute, value for value.
    */
  def mvDistReport(
      spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvd", Seq("graft_mvd"), MorCdf)
    // v1: bootstrap, v2: ADD COLUMN uid
    val ingest = evolved(s, "graft_mvd.docs_mvd", 2400, "uid", "BIGINT",
      (col("doc_id") % 1200L).cast("long"))
    ingest(0L, 800L) // v3
    ingest(800L, 2000L) // v4
    val dir = new java.io.File(root, "docs_mvd").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("uid"),
      WithMax ++ Seq(SumLen, MvAgg("min_len", "min", "length(body)")), buckets = 8)
    // v5: min_len's 32 is net-removed, 33 does not re-cover → 300 dirty
    s.sql("UPDATE graft_mvd.docs_mvd SET body = concat(body, '!') WHERE doc_id < 300")
    // v6: uids 300..799 lose doc uid+1200 — their recorded max → 500 dirty
    s.sql("DELETE FROM graft_mvd.docs_mvd WHERE doc_id >= 1500")
    // ONE refresh covers BOTH commits: the multi-commit window folds the
    // two dirty classes (min via update, max via delete) in one pass
    val r1 = SinkMvDist.refresh(s, dir, mvDir)
    // v7: uids 800..1199 regain a row; extremes extend on the fast path
    ingest(2000L, 2400L)
    val r2 = SinkMvDist.refresh(s, dir, mvDir)
    refreshReport(SinkMvDist.read(s, mvDir), Seq(r1, r2), dirty = true,
      SinkMvDist.currentVersion(mvDir), "src_version" -> SinkMvDist.lastSourceVersion(mvDir))
      .orderBy("uid")
  }

  /** DuckDB re-derivation: the live set is `doc_id < 1500 OR doc_id >=
    * 2000` with 33-char bodies below 300, grouped per uid = doc_id %
    * 1200 — plus the lifecycle constants (2 refreshes — the first covers
    * the UPDATE + DELETE window in one fold; 1100 + 400 change rows;
    * 300 + 500 dirty recomputes in that one pass; MV v3 = create + 2;
    * source v7 = bootstrap + ALTER + 2 ingests + UPDATE + DELETE +
    * append).
    */
  val mvDistReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 1200 AS uid,
      |         CAST(CASE WHEN doc_id < 300 THEN 33 ELSE 32 END AS BIGINT) AS blen
      |  FROM range(0, 2400) t(doc_id)
      |  WHERE doc_id < 1500 OR doc_id >= 2000)
      |SELECT uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(SUM(blen) AS BIGINT) AS sum_len,
      |       CAST(MIN(blen) AS BIGINT) AS min_len,
      |       CAST(2 AS BIGINT) AS n_refreshes,
      |       CAST(1500 AS BIGINT) AS change_rows,
      |       CAST(800 AS BIGINT) AS dirty_groups,
      |       CAST(3 AS BIGINT) AS mv_version,
      |       CAST(7 AS BIGINT) AS src_version
      |FROM g GROUP BY uid ORDER BY uid""".stripMargin

  /** Oracle-checked DISTRIBUTED JOIN MV (round 16): the round's two MV
    * features composed — `fact ⋈ dim GROUP BY (d_region, uid)` at
    * per-uid grain (hundreds of groups across region splits) with state
    * in bucketed segments and BOTH change feeds folding distributed: a
    * fact tail-DELETE (dirty extremes recomputed through a pruned
    * fact⋈dim join), a dim UPDATE that moves every shard-5 row between
    * region groups with no rescan, and a late fact append against the
    * updated dim. The full group table plus lifecycle bookkeeping sits
    * under the DuckDB hash gate.
    */
  def mvJoinDistReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvjd", Seq("graft_mvjd"), MorCdf)
    // base tables (d1–d3: the 16-key region dim; f1–f3: the 1200-doc
    // uid-grain fact) copied from the JVM-shared star fixture — same
    // commits, versions and content as the inline build (round 19)
    val Seq(dimDir, factDir) = copyBase(starBase(s), root, "_mvjd", "dim", "fact")
    val mvDir = factDir + ".mvjd"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("d_region", "uid"), aggs = WithMax, buckets = 8)
    s.sql("DELETE FROM graft_mvjd.fact_mvjd WHERE doc_id >= 900") // f4
    val r1 = SinkMvDist.refresh(s, factDir, mvDir)
    s.sql("UPDATE graft_mvjd.dim_mvjd SET region = 'rX' WHERE doc_id = 5") // d4
    val r2 = SinkMvDist.refresh(s, factDir, mvDir)
    appendFact(s, "graft_mvjd.fact_mvjd", 300L, 1200L, 1500L) // f5
    val r3 = SinkMvDist.refresh(s, factDir, mvDir)
    val (fv, dv) = SinkMvDist.lastSourceVersions(mvDir)
    refreshReport(SinkMvDist.read(s, mvDir), Seq(r1, r2, r3), dirty = false,
      SinkMvDist.currentVersion(mvDir), "fact_version" -> fv, "dim_version" -> dv)
      .orderBy("d_region", "uid")
  }

  /** DuckDB re-derivation: live fact rows are `doc_id < 900 OR 1200 <=
    * doc_id < 1500`; uid = doc % 300; the region of shard s is rX for 5
    * (the dim update — applied to pre-existing AND late-appended rows
    * alike), else r(s % 3). Constants: 3 refreshes; 300 (tail delete,
    * all shards dim-mapped) + 112 (dim update: 56 live shard-5 rows × ±)
    * + 300 (append) = 712 change rows; MV v4 = create + 3; fact v5, dim
    * v4.
    */
  val mvJoinDistReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 300 AS uid,
      |         CASE WHEN doc_id % 16 = 5 THEN 'rX'
      |              ELSE 'r' || CAST((doc_id % 16) % 3 AS VARCHAR) END AS d_region
      |  FROM range(0, 1500) t(doc_id)
      |  WHERE doc_id < 900 OR doc_id >= 1200)
      |SELECT d_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(3 AS BIGINT) AS n_refreshes,
      |       CAST(712 AS BIGINT) AS change_rows,
      |       CAST(4 AS BIGINT) AS mv_version,
      |       CAST(5 AS BIGINT) AS fact_version,
      |       CAST(4 AS BIGINT) AS dim_version
      |FROM g GROUP BY d_region, uid ORDER BY d_region, uid""".stripMargin

  /** Oracle-checked STREAMING JOIN-MV MAINTENANCE (round 17): the
    * distributed fact⋈dim MV maintained CONTINUOUSLY from BOTH change
    * feeds — each table's CDF stream lands its commits through
    * [[SinkMvDist.refreshFromChanges]] in its own `foreachBatch` loop, one
    * single-source window per batch ([Δf ⋈ d@dimV] / [Δd ⋈ f@factV]),
    * with per-source watermarks in the header. Exercised: a create-time
    * coverage no-op on the dim stream, an empty-commit (OPTIMIZE)
    * fast-forward gap on the fact feed (the compaction is also the CDF
    * retention horizon — the fact stream delivers from it onward), a
    * fact tail-DELETE (dirty extremes through the pruned join
    * recompute), a fact append, and a dim UPDATE that moves every
    * shard-5 row between region groups with no rescan. The
    * final per-(region, uid) view, the applied/skipped split, both
    * watermarks AND a zero row-diff against a from-scratch join all sit
    * under the DuckDB hash gate.
    */
  def mvJoinStreamParity(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvjs", Seq("graft_mvjs"), MorCdf, streaming = true)
    // base tables (d1–d3, f1–f3) from the JVM-shared star fixture —
    // identical commits/versions to the inline build (round 19)
    val Seq(dimDir, factDir) = copyBase(starBase(s), root, "_mvjs", "dim", "fact")
    val mvDir = factDir + ".mvjs"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("d_region", "uid"), aggs = WithMax, buckets = 8)
    // the compact lands FIRST: it is both the no-data gap the stream must
    // fast-forward across AND the CDF retention horizon (feeds below a
    // compaction are released, so the stream delivers from it onward —
    // data commits the stream must replay have to come after)
    ShardSink.compact(factDir) // f4: no-data commit — never a batch
    s.sql("DELETE FROM graft_mvjs.fact_mvjs WHERE doc_id >= 900") // f5
    appendFact(s, "graft_mvjs.fact_mvjs", 300L, 1200L, 1500L) // f6
    s.sql("UPDATE graft_mvjs.dim_mvjs SET region = 'rX' WHERE doc_id = 5") // d4
    // one stream per SOURCE, drained sequentially (fact first) so the
    // lifecycle constants are deterministic; each batch carries ONE
    // commit of its own feed and folds under that source's watermark
    val drains =
      Seq(factDir, dimDir).map(drainChangeFeed(s, _, mvDir, SinkMvDist.refreshFromChanges))
    val (fv, dv) = SinkMvDist.lastSourceVersions(mvDir)
    val d = SinkMatView.srcAt(s, dimDir, dv)
      .select(col("doc_id").as("_pk"), col("region").as("d_region"))
    val full = SinkMatView.srcAt(s, factDir, fv).join(d, col("shard") === col("_pk"))
    val mv = SinkMvDist.read(s, mvDir)
    cells(mv, "n_applied" -> drains.map(_._1).sum, "n_skipped" -> drains.map(_._2).sum,
      "mv_version" -> SinkMvDist.currentVersion(mvDir), "fact_version" -> fv,
      "dim_version" -> dv,
      "n_diff" -> rowDiff(mv, aggregated(full, Seq("d_region", "uid"), WithMax)))
      .orderBy("d_region", "uid")
  }

  /** DuckDB re-derivation: live fact rows are `doc_id < 900 OR 1200 <=
    * doc_id < 1500`; uid = doc % 300; region of shard s is rX for 5 (the
    * streamed dim update, folded last against the final fact), else
    * r(s % 3). Constants: 3 applied (the fact DELETE — arriving over the
    * compact's provably-empty (3,4] gap — the fact append, and the dim
    * update) + 1 skipped (d3, covered by the create; the fact stream
    * starts at the compaction horizon, so f3 is never delivered); MV v4
    * = create + 3; fact v6 = bootstrap + ALTER + ingest + OPTIMIZE +
    * DELETE + append; dim v4 = bootstrap + ALTER + map + update; diff 0.
    * Change rows: 300 (delete) + 300 (append) + 2 × 75 live shard-5 rows
    * (dim update: 56 in [0,900) + 19 in [1200,1500)) = 750 — not output
    * (the per-batch splits are already pinned by n_applied + the hash
    * over every group row).
    */
  val mvJoinStreamParitySql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 300 AS uid,
      |         CASE WHEN doc_id % 16 = 5 THEN 'rX'
      |              ELSE 'r' || CAST((doc_id % 16) % 3 AS VARCHAR) END AS d_region
      |  FROM range(0, 1500) t(doc_id)
      |  WHERE doc_id < 900 OR doc_id >= 1200)
      |SELECT d_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(3 AS BIGINT) AS n_applied,
      |       CAST(1 AS BIGINT) AS n_skipped,
      |       CAST(4 AS BIGINT) AS mv_version,
      |       CAST(6 AS BIGINT) AS fact_version,
      |       CAST(4 AS BIGINT) AS dim_version,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM g GROUP BY d_region, uid ORDER BY d_region, uid""".stripMargin

  /** Oracle-checked STREAMING SNOWFLAKE-MV MAINTENANCE (round 18): the
    * three-source chain MV of [[mvSnowflakeReport]] maintained
    * CONTINUOUSLY from THREE change feeds — fact, dim1 and dim2 each run
    * their own CDF stream landing commits through [[SinkMvDist.refreshFromChanges]],
    * one single-source window per batch, per-source watermarks in the
    * header. The both-dims-in-one-interleave window of the batch gate
    * appears here as consecutive single-source batches (d1's update folds
    * pinned at the header's d2 version, then d2's update folds against
    * the ALREADY-ADVANCED d1 — the same telescoping, one commit at a
    * time), and the fact feed crosses a compaction-horizon commit (the
    * compact is both the no-data gap the stream fast-forwards over and
    * the CDF retention floor the stream starts from). The final
    * per-(zone, region, uid) view, the applied/skipped split, all THREE
    * watermarks and a zero row-diff against a from-scratch chain join
    * sit under the DuckDB hash gate.
    */
  def mvSnowflakeStreamParity(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvss", Seq("graft_mvss"), MorCdf, streaming = true)
    // base tables (e1–e3: zone dim2; d1–d4: region/catk dim1; f1–f3: the
    // 1200-doc uid-grain fact) from the JVM-shared snowflake fixture —
    // identical commits/versions to the inline build (round 19)
    val Seq(d2Dir, d1Dir, factDir) = copyBase(snowBase(s), root, "_mvss", "dim2", "dim1", "fact")
    val mvDir = factDir + ".mvss"
    SinkMvDist.createSnowflake(s, factDir, mvDir,
      Seq(
        SinkMvDist.SnowDim(d1Dir, fk = "shard", pk = "doc_id", pfx = "d1_"),
        SinkMvDist.SnowDim(d2Dir, fk = "d1_catk", pk = "doc_id", pfx = "d2_")),
      groups = Seq("d2_zone", "d1_region", "uid"), aggs = WithMax, buckets = 8)
    // the compact lands FIRST: the no-data gap the fact stream
    // fast-forwards across AND its CDF retention horizon
    ShardSink.compact(factDir) // f4: no-data commit — never a batch
    s.sql("DELETE FROM graft_mvss.fact_mvss WHERE doc_id >= 900") // f5
    appendFact(s, "graft_mvss.fact_mvss", 150L, 1200L, 1400L) // f6
    s.sql("UPDATE graft_mvss.dim1_mvss SET region = 'rX' WHERE doc_id = 7") // d5
    s.sql("UPDATE graft_mvss.dim2_mvss SET zone = 'zX' WHERE doc_id = 1") // e4
    // one stream per SOURCE, drained sequentially (fact, then the dims in
    // chain order) so the lifecycle constants are deterministic; each
    // batch carries ONE commit of its own feed and folds with every
    // OTHER source pinned at its header watermark
    val drains =
      Seq(factDir, d1Dir, d2Dir).map(drainChangeFeed(s, _, mvDir, SinkMvDist.refreshFromChanges))
    val (fv, dvs) = SinkMvDist.lastSourceVersionsAll(mvDir)
    val full = SinkMatView.joinedAt(s, factDir, fv, Seq(
      SinkMatView.DimWindow(d1Dir, "shard", "doc_id", "d1_", dvs.head, dvs.head),
      SinkMatView.DimWindow(d2Dir, "d1_catk", "doc_id", "d2_", dvs(1), dvs(1))))
    val mv = SinkMvDist.read(s, mvDir)
    cells(mv, "n_applied" -> drains.map(_._1).sum, "n_skipped" -> drains.map(_._2).sum,
      "mv_version" -> SinkMvDist.currentVersion(mvDir), "fact_version" -> fv,
      "dim1_version" -> dvs.head, "dim2_version" -> dvs(1),
      "n_diff" -> rowDiff(mv, aggregated(full, Seq("d2_zone", "d1_region", "uid"), WithMax)))
      .orderBy("d2_zone", "d1_region", "uid")
  }

  /** DuckDB re-derivation: live fact rows are `doc_id < 900 OR 1200 <=
    * doc_id < 1400`; uid = doc % 150; shard s = doc % 16 maps region rX
    * for 7 (the streamed d1 update) else r(s % 3), and zone zX for catk
    * s % 4 = 1 (the streamed d2 update) else z((s % 4) % 2). Constants:
    * 4 applied (the fact DELETE — arriving over the compact's
    * provably-empty gap — the fact append, and one update per dim) + 2
    * skipped (d4 and e3, both covered by the create; the fact stream
    * starts at the compaction horizon, so f3 is never delivered); MV v5
    * = create + 4; fact v6 = bootstrap + ALTER + ingest + OPTIMIZE +
    * DELETE + append; dim1 v5 = bootstrap + 2 ALTERs + map + update;
    * dim2 v4 = bootstrap + ALTER + map + update; diff 0.
    */
  val mvSnowflakeStreamParitySql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 150 AS uid, doc_id % 16 AS s
      |  FROM range(0, 1400) t(doc_id)
      |  WHERE doc_id < 900 OR doc_id >= 1200),
      |m AS (
      |  SELECT doc_id, uid,
      |         CASE WHEN s = 7 THEN 'rX' ELSE 'r' || CAST(s % 3 AS VARCHAR) END AS d1_region,
      |         CASE WHEN s % 4 = 1 THEN 'zX' ELSE 'z' || CAST((s % 4) % 2 AS VARCHAR) END AS d2_zone
      |  FROM g)
      |SELECT d2_zone, d1_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(4 AS BIGINT) AS n_applied,
      |       CAST(2 AS BIGINT) AS n_skipped,
      |       CAST(5 AS BIGINT) AS mv_version,
      |       CAST(6 AS BIGINT) AS fact_version,
      |       CAST(5 AS BIGINT) AS dim1_version,
      |       CAST(4 AS BIGINT) AS dim2_version,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM m GROUP BY d2_zone, d1_region, uid
      |ORDER BY d2_zone, d1_region, uid""".stripMargin

  /** Oracle-checked SNOWFLAKE MV (round 17): `fact ⋈ dim1 ⋈ dim2 GROUP BY
    * (d2_zone, d1_region, uid)` — a CHAIN join (dim2 keys off dim1's
    * `catk` column, not the fact) over distributed bucketed state, with
    * one watermark per source and deltas composed in declaration order.
    * Lifecycle: a fact tail-DELETE (dirty extremes recomputed through the
    * full chain join, pruned), then BOTH dim updates land in ONE refresh
    * window — the case the fixed composition order exists for (Δd1 joins
    * d2@OLD, Δd2 joins d1@NEW) — shard-7 rows move region groups and
    * every catk-1 shard's rows move zone groups, no rescan; finally a
    * fact append against both evolved dims. The full group table plus
    * lifecycle bookkeeping sits under the DuckDB hash gate.
    */
  def mvSnowflakeReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvsn", Seq("graft_mvsn"), MorCdf)
    // base tables (e1–e3, d1–d4, f1–f3) from the JVM-shared snowflake
    // fixture — identical commits/versions to the inline build (round 19)
    val Seq(d2Dir, d1Dir, factDir) = copyBase(snowBase(s), root, "_mvsn", "dim2", "dim1", "fact")
    val mvDir = factDir + ".mvsn"
    SinkMvDist.createSnowflake(s, factDir, mvDir,
      Seq(
        SinkMvDist.SnowDim(d1Dir, fk = "shard", pk = "doc_id", pfx = "d1_"),
        SinkMvDist.SnowDim(d2Dir, fk = "d1_catk", pk = "doc_id", pfx = "d2_")),
      groups = Seq("d2_zone", "d1_region", "uid"), aggs = WithMax, buckets = 8)
    s.sql("DELETE FROM graft_mvsn.fact_mvsn WHERE doc_id >= 900") // f4
    val r1 = SinkMvDist.refresh(s, factDir, mvDir)
    // BOTH dim windows fold in ONE refresh, composed in order
    s.sql("UPDATE graft_mvsn.dim1_mvsn SET region = 'rX' WHERE doc_id = 7") // d5
    s.sql("UPDATE graft_mvsn.dim2_mvsn SET zone = 'zX' WHERE doc_id = 1") // e4
    val r2 = SinkMvDist.refresh(s, factDir, mvDir)
    appendFact(s, "graft_mvsn.fact_mvsn", 150L, 1200L, 1400L) // f5
    val r3 = SinkMvDist.refresh(s, factDir, mvDir)
    val (fv, dvs) = SinkMvDist.lastSourceVersionsAll(mvDir)
    refreshReport(SinkMvDist.read(s, mvDir), Seq(r1, r2, r3), dirty = false,
      SinkMvDist.currentVersion(mvDir), "fact_version" -> fv,
      "dim1_version" -> dvs.head, "dim2_version" -> dvs(1))
      .orderBy("d2_zone", "d1_region", "uid")
  }

  /** DuckDB re-derivation: live fact rows are `doc_id < 900 OR 1200 <=
    * doc_id < 1400`; uid = doc % 150; shard s = doc % 16 maps region rX
    * for 7 else r(s % 3), and zone zX for catk s % 4 = 1 else
    * z((s % 4) % 2). Constants: 3 refreshes; change rows 300 (tail
    * delete through the chain) + 562 in the one double-dim window (the
    * d1 update: 56 live shard-7 rows × ±, joined against d2@OLD; the d2
    * update: live catk-1 rows — shards 1/5/9/13 → 57+56+56+56 = 225 —
    * × ±, joined against d1@NEW) + 200 (append) = 1062; MV v4 = create
    * + 3; fact v5; dim1 v5 (bootstrap + 2 ALTERs + map + update); dim2
    * v4 (bootstrap + ALTER + map + update).
    */
  val mvSnowflakeReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 150 AS uid, doc_id % 16 AS s
      |  FROM range(0, 1400) t(doc_id)
      |  WHERE doc_id < 900 OR doc_id >= 1200),
      |m AS (
      |  SELECT doc_id, uid,
      |         CASE WHEN s = 7 THEN 'rX' ELSE 'r' || CAST(s % 3 AS VARCHAR) END AS d1_region,
      |         CASE WHEN s % 4 = 1 THEN 'zX' ELSE 'z' || CAST((s % 4) % 2 AS VARCHAR) END AS d2_zone
      |  FROM g)
      |SELECT d2_zone, d1_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(doc_id) AS xor_ids,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      |       CAST(3 AS BIGINT) AS n_refreshes,
      |       CAST(1062 AS BIGINT) AS change_rows,
      |       CAST(4 AS BIGINT) AS mv_version,
      |       CAST(5 AS BIGINT) AS fact_version,
      |       CAST(5 AS BIGINT) AS dim1_version,
      |       CAST(4 AS BIGINT) AS dim2_version
      |FROM m GROUP BY d2_zone, d1_region, uid
      |ORDER BY d2_zone, d1_region, uid""".stripMargin

  /** Oracle-checked AUTO-REBUCKET (round 17): a per-doc-grain MV born
    * with 2 buckets outgrows them through two ingest windows; the policy
    * triggers ONE metadata-driven rebucket (mean bucket bytes over
    * target → next power of two), after which the view answers
    * identically (asOf time travel across the flip is part of the
    * gate: n_diff compares the pre-rebucket version against the current
    * read). A second policy call is a recorded non-trigger.
    */
  def mvAutoRebucketReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvar")
    val dir = new java.io.File(root, "docs_mvar").getPath
    val mvDir = dir + ".mvd"
    def append(lo: Long, hi: Long): Unit = appendTo(docs(s, 2400, 2, lo, hi), dir)
    append(0L, 400L) // v1: small enough for 2 buckets
    SinkMvDist.create(s, dir, mvDir, Seq("doc_id"), Seq(CountSum.head, SumLen), buckets = 2)
    append(400L, 2400L) // v2: 6x growth
    SinkMvDist.refresh(s, dir, mvDir) // MV v2
    val before = SinkMvDist.bucketStats(mvDir)
    val vBefore = SinkMvDist.currentVersion(mvDir)
    // ~2400 rows × ~15 TSV bytes ≫ 2 × 4 KiB → the growth trigger fires
    val triggered = SinkMvDist.autoRebucket(s, mvDir, targetBytesPerBucket = 4096L)
    val after = SinkMvDist.bucketStats(mvDir)
    val again = SinkMvDist.autoRebucket(s, mvDir, targetBytesPerBucket = 4096L)
    val cur = SinkMvDist.read(s, mvDir)
    val perShard = cur
      .groupBy((col("doc_id") % 16L).as("shard"))
      .agg(count(lit(1)).as("n_groups"), sum("n_docs").as("n_docs"),
        sum("sum_len").as("sum_len"))
    cells(perShard, "buckets_before" -> before.map(_._1).toSet.size.toLong,
      "rebucketed" -> (if (triggered.isDefined) 1L else 0L),
      "buckets_after_ge8" -> (if (after.map(_._1).toSet.size >= 8) 1L else 0L),
      "retriggered" -> (if (again.isDefined) 1L else 0L),
      "mv_version" -> SinkMvDist.currentVersion(mvDir),
      "n_diff" -> rowDiff(cur, SinkMvDist.read(s, mvDir, asOf = Some(vBefore))))
      .orderBy("shard")
  }

  /** DuckDB re-derivation: 2400 per-doc groups (count 1, 32-char bodies)
    * rolled up per doc % 16. Constants: 2 populated buckets before; the
    * policy triggers once (2400 × ~15 B ≫ 2 × 4 KiB) to ≥ 8 buckets and
    * does NOT re-trigger at the new layout; MV v3 = create + refresh +
    * rebucket; time travel across the flip shows 0 row diff.
    */
  val mvAutoRebucketReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 16 AS shard FROM range(0, 2400) t(doc_id))
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(COUNT(*) * 32 AS BIGINT) AS sum_len,
      |       CAST(2 AS BIGINT) AS buckets_before,
      |       CAST(1 AS BIGINT) AS rebucketed,
      |       CAST(1 AS BIGINT) AS buckets_after_ge8,
      |       CAST(0 AS BIGINT) AS retriggered,
      |       CAST(3 AS BIGINT) AS mv_version,
      |       CAST(0 AS BIGINT) AS n_diff
      |FROM g GROUP BY shard ORDER BY shard""".stripMargin

  // ---- SQL DDL spellings (SinkMvDdl) --------------------------------------

  /** Oracle-checked SQL MV LIFECYCLE (round 19): create → rewrite →
    * refresh → census → drop, driven ENTIRELY through `spark.sql` —
    *   c:  `SET TBLPROPERTIES ('graft.mv.rollup' = '{…}')` creates the
    *       distributed MV and registers it for the automatic rewrite;
    *   s1: the plain SQL GROUP BY answers from state — ZERO base data
    *       files opened (s1_files pins it);
    *   s2: after an append tail and the SQL refresh key
    *       (`'graft.mv.refresh' = 'rollup'`), the same query answers at
    *       the current watermark, zero files again (s2_files);
    *   m:  `SELECT … FROM <cat>.<t>.mvs` — the census row pins the
    *       definition, both versions, currency and registration flags;
    *   r:  a simulated JVM RESTART (the in-memory registration drops,
    *       the census shows `registered = false`) followed by the SQL
    *       `('graft.mv.attach' = 'rollup')` — the rewrite resumes on
    *       the persisted state with zero files and no rebuild;
    *   d:  `UNSET TBLPROPERTIES ('graft.mv.rollup')` drops the view —
    *       the same query falls back to the base scan (0 extra
    *       rewrites, value parity) and the census goes empty.
    */
  def mvSqlDdlReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvsq", Seq("graft_mvsq"), Map("cdf.enabled" -> "true"))
    def ingest(lo: Long, hi: Long): Unit =
      docs(s, 1200, 2, lo, hi)
        .writeTo("graft_mvsq.docs_mvsq").append()
    ingest(0L, 900L) // v1
    val dir = new java.io.File(root.getPath, "docs_mvsq").getPath
    // the DDL below registers the view; the bracket unregisters the table.
    // Its window opens before the CREATE, which must add no rewrite: no
    // view of the table is registered until the create lands
    val Probed((s1, s2, s3, d, mvs, detached, nMvsAfter), _, nRewrites, _) =
      withRewrite(s, dir -> Nil) {
        // c — CREATE via property DDL (the definition reuses the header's
        // field grammar; the create is version-neutral on the table)
        s.sql("""ALTER TABLE graft_mvsq.docs_mvsq SET TBLPROPERTIES ('graft.mv.rollup' =
        '{"group":"shard","buckets":8,"aggs":[{"n":"n_docs","k":"count","e":""},{"n":"sum_ids","k":"sum","e":"doc_id"}]}')""")
        def q = s.sql(
          """SELECT shard, count(*) AS n_docs, sum(doc_id) AS sum_ids
            |FROM graft_mvsq.docs_mvsq GROUP BY shard""".stripMargin)
        // s1 — the SQL rollup answers from state, zero base files
        val s1 = probe(leg(q).toDF("shard", "s1_n", "s1_sum"))
        // s2 — append a tail, refresh through the SQL key, re-query
        ingest(900L, 1200L) // v2
        s.sql("ALTER TABLE graft_mvsq.docs_mvsq SET TBLPROPERTIES ('graft.mv.refresh' = 'rollup')")
        val s2 = probe(leg(q).toDF("shard", "s2_n", "s2_sum"))
        // m — the census
        val mvs = s.sql(
          """SELECT name, group_cols, aggs, buckets, src_version, mv_version,
            |       n_segments, watermark_current, registered
            |FROM graft_mvsq.docs_mvsq.mvs""".stripMargin).collect()
        // r — a JVM restart loses the IN-MEMORY registration while the
        // state dir survives: simulate the detach, observe the census
        // showing it, RE-ATTACH through SQL, and the rewrite resumes on
        // the existing state (s3, zero files — no rebuild)
        SinkMvRewrite.unregister(dir, SinkMvDdl.mvDirFor(dir, "rollup"))
        val detached = s.sql(
          "SELECT registered FROM graft_mvsq.docs_mvsq.mvs").collect().head.getBoolean(0)
        s.sql("ALTER TABLE graft_mvsq.docs_mvsq SET TBLPROPERTIES ('graft.mv.attach' = 'rollup')")
        val s3 = probe(q.collect())
        // d — DROP via UNSET: the query falls back and the census empties
        s.sql("ALTER TABLE graft_mvsq.docs_mvsq UNSET TBLPROPERTIES ('graft.mv.rollup')")
        val d = probe(leg(q).toDF("shard", "d_n", "d_sum"))
        val nMvsAfter = s.sql("SELECT * FROM graft_mvsq.docs_mvsq.mvs").count()
        (s1, s2, s3, d, mvs, detached, nMvsAfter)
      }
    val m = mvs.head
    s1.value.join(s2.value, "shard").join(d.value, "shard")
      .withColumn("mv_name", lit(m.getString(0)))
      .withColumn("mv_groups", lit(m.getString(1)))
      .withColumn("mv_aggs", lit(m.getString(2)))
      .withColumn("mv_buckets", lit(m.getLong(3)))
      .withColumn("mv_src_version", lit(m.getLong(4)))
      .withColumn("mv_version", lit(m.getLong(5)))
      .withColumn("seg_ge1", lit(if (m.getLong(6) >= 1L) 1L else 0L))
      .withColumn("mv_current", lit(if (m.getBoolean(7)) 1L else 0L))
      .withColumn("mv_registered", lit(if (m.getBoolean(8)) 1L else 0L))
      .withColumn("r_detached", lit(if (!detached) 1L else 0L))
      .withColumn("s3_files_opened", lit(s3.files))
      .withColumn("n_mvs_before", lit(mvs.length.toLong))
      .withColumn("n_mvs_after", lit(nMvsAfter))
      .withColumn("d_extra_rewrites", lit(d.rewrites)) // 0
      // s1 + s2 + s3 = 3
      .withColumn("n_rewrites", lit(nRewrites))
      .withColumn("s1_files_opened", lit(s1.files))
      .withColumn("s2_files_opened", lit(s2.files))
      .orderBy("shard")
  }

  /** DuckDB re-derivation: docs 0..899 at s1, 0..1199 from s2 on (s3
    * and the post-drop query repeat s2's values); shard = doc % 16.
    * Census constants: one MV named `rollup`, groups `shard`, two
    * slots, 8 buckets, src v2 after the SQL refresh, MV v2 (create +
    * refresh), watermark current, registered, ≥ 1 segment; the
    * simulated restart shows registered = false (r_detached) and the
    * SQL attach restores the rewrite on existing state; census empty
    * after the drop. Counters: 3 rewrites (s1, s2, s3-after-attach),
    * 0 after the drop, 0 files for every rewritten leg.
    */
  val mvSqlDdlReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(0, 1200) t(doc_id)),
      |g1 AS (SELECT * FROM g WHERE doc_id < 900)
      |SELECT a.shard, a.s1_n, a.s1_sum, b.s2_n, b.s2_sum,
      |       b.s2_n AS d_n, b.s2_sum AS d_sum,
      |       'rollup' AS mv_name, 'shard' AS mv_groups,
      |       'n_docs:count,sum_ids:sum(doc_id)' AS mv_aggs,
      |       CAST(8 AS BIGINT) AS mv_buckets,
      |       CAST(2 AS BIGINT) AS mv_src_version,
      |       CAST(2 AS BIGINT) AS mv_version,
      |       CAST(1 AS BIGINT) AS seg_ge1,
      |       CAST(1 AS BIGINT) AS mv_current,
      |       CAST(1 AS BIGINT) AS mv_registered,
      |       CAST(1 AS BIGINT) AS r_detached,
      |       CAST(0 AS BIGINT) AS s3_files_opened,
      |       CAST(1 AS BIGINT) AS n_mvs_before,
      |       CAST(0 AS BIGINT) AS n_mvs_after,
      |       CAST(0 AS BIGINT) AS d_extra_rewrites,
      |       CAST(3 AS BIGINT) AS n_rewrites,
      |       CAST(0 AS BIGINT) AS s1_files_opened,
      |       CAST(0 AS BIGINT) AS s2_files_opened
      |FROM (SELECT shard, CAST(COUNT(*) AS BIGINT) AS s1_n,
      |             CAST(SUM(doc_id) AS BIGINT) AS s1_sum
      |      FROM g1 GROUP BY shard) a
      |JOIN (SELECT shard, CAST(COUNT(*) AS BIGINT) AS s2_n,
      |             CAST(SUM(doc_id) AS BIGINT) AS s2_sum
      |      FROM g GROUP BY shard) b USING (shard)
      |ORDER BY a.shard""".stripMargin

  // ---- the automatic rewrite (SinkMvRewrite) ------------------------------

  /** Oracle-checked MV-AWARE REWRITE (rounds 17–18): three MVs over an
    * appending-then-churned table, registered for rewrite; the user's
    * PLAIN GROUP BYs are answered from MV state across six legs —
    *   q1: STALE watermark, linear aggregates compensated through the
    *       append tail's change feed;
    *   q4: the round-18 DERIVED aggregates — avg(doc_id) from the sum
    *       slot and its non-null counter, count(score) from the dsum
    *       slot's counter, sum(score) from the exact-decimal dsum slot —
    *       all through the same stale tail;
    *   q6: the round-19 TYPED extremes — max(score) from the dmax
    *       (DOUBLE) slot and min(body) from the smin (STRING) slot,
    *       over the same stale insert-only tail (declarative extension,
    *       no retraction probe);
    *   q2: AFTER a refresh — the full rewrite including the extreme,
    *       with ZERO base data files opened (the counter delta is an
    *       output column under the hash gate);
    *   q3: the predicate MV — a semantically-equal WHERE routes to it,
    *       stale-compensated under the predicate;
    *   g:  the GLOBAL aggregate — the empty group set re-rolls the
    *       shard MV's partials to one row;
    *   q5: the round-18 HYBRID EXTREME — after compaction (shard-pure
    *       layout) a MoR DELETE retracts part of shard 5, and the max
    *       query rewrites anyway: linear slots fold state ∪ tail, the
    *       ONE dirty shard's extreme is recomputed by a shard-pruned
    *       base read (q5_files_opened pins how few files that took).
    * All six results, the rewrite count and both file-open counters are
    * re-derived by DuckDB.
    */
  def mvRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvrw", Seq("graft_mvrw"), MorCdf)
    // v1: bootstrap, v2: ADD COLUMN score
    val ingest = evolved(s, "graft_mvrw.docs_mvrw", 1200, "score", "DOUBLE",
      when(col("doc_id") % 5L === 0L, lit(null).cast("double")).otherwise(col("doc_id") / lit(4.0)))
    ingest(0L, 800L) // v3
    val dir = new java.io.File(root.getPath, "docs_mvrw").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), WithMax, buckets = 8)
    val mvDirP = dir + ".mvdp"
    SinkMvDist.create(s, dir, mvDirP, Seq("shard"), Seq(
      MvAgg("q3_n", "count"),
      MvAgg("q3_sum", "sum", "doc_id")),
      // % 3, not % 2: shard = doc % 16 makes doc-parity shard-correlated
      // (even docs land only on even shards), and the gate wants every
      // shard to carry a q3 row
      where = "doc_id % 3 = 0", buckets = 8)
    val mvDirD = dir + ".mvdd"
    SinkMvDist.create(s, dir, mvDirD, Seq("shard"), Seq(
      MvAgg("d_n", "count"),
      MvAgg("d_sum", "sum", "doc_id"),
      MvAgg("d_ds", "dsum", "score"),
      // round-19 TYPED extremes: a DOUBLE max and a STRING min slot
      MvAgg("d_mx", "dmax", "score"),
      MvAgg("d_mnb", "smin", "body")), buckets = 8)
    val Probed((q1, q2, q3, q4, q5, q6, g), _, nRewrites, _) =
      withRewrite(s, dir -> Seq(mvDir, mvDirP, mvDirD)) {
        def base = readPath(s, dir)
        ingest(800L, 1000L) // v4: the un-refreshed tail
        // q1 — STALE-watermark linear aggregates compensate via the tail
        val q1 = leg(base.groupBy(col("shard"))
          .agg(count(lit(1)).as("q1_n"), sum("doc_id").as("q1_sum"),
            expr("bit_xor(doc_id)").as("q1_xor")))
        // q4 — DERIVED aggregates (avg / count(col) / sum(double)) route to
        // the dsum-bearing MV, also stale-compensated
        val q4 = leg(base.groupBy(col("shard"))
          .agg(avg("doc_id").as("d_avg"), count(col("score")).as("d_nscore"),
            sum("score").as("d_sscore")))
        // q6 — the round-19 TYPED extremes, over the same stale insert-only
        // tail: max(score) routes to the dmax slot, min(body) to the smin
        // slot; inserts extend both declaratively (no retraction → no probe)
        val q6 = leg(base.groupBy(col("shard"))
          .agg(max("score").as("d_mx"), min("body").as("d_mnb")))
        SinkMvDist.refresh(s, dir, mvDir) // MV → v4
        // q2 — CURRENT-watermark full rewrite incl. the extreme; base data
        // files must stay closed
        val q2 = probe(leg(aggregated(base, Seq("shard"), WithMax)))
        // q3 — the predicate-MV leg: the semantically-equal WHERE routes to
        // the second MV, stale-compensated under the predicate
        val q3 = leg(base.where(expr("doc_id % 3 = 0")).groupBy(col("shard"))
          .agg(count(lit(1)).as("q3_n"), sum("doc_id").as("q3_sum")))
        // g — GLOBAL aggregate: the empty group set is a subset of every
        // MV's, so the shard MV's partials re-roll to one row
        val g = base.agg(count(lit(1)).as("g_n"), sum("doc_id").as("g_sum")).collect().head
        // q5 — HYBRID EXTREME over a retracting tail: compact first (the
        // MV must be refreshed over the no-data commit — compaction is the
        // CDF retention horizon), then a MoR DELETE retracts shard 5's top
        ShardSink.compact(dir) // v5: no-data, shard-pure layout
        SinkMvDist.refresh(s, dir, mvDir) // fast-forward; MV srcV → v5
        s.sql("DELETE FROM graft_mvrw.docs_mvrw WHERE shard = 5 AND doc_id >= 500") // v6
        val q5 = probe(leg(base.groupBy(col("shard"))
          .agg(count(lit(1)).as("q5_n"), sum("doc_id").as("q5_sum"),
            max("doc_id").as("q5_max"))))
        (q1, q2, q3, q4, q5, q6, g)
      }
    Seq(q1, q3, q4, q5.value, q6).foldLeft(q2.value)(_.join(_, "shard"))
      .withColumn("g_n", lit(g.getLong(0)))
      .withColumn("g_sum", lit(g.getLong(1)))
      .withColumn("n_rewrites", lit(nRewrites)) // q1 q4 q6 q2 q3 g q5 = 7
      .withColumn("q2_files_opened", lit(q2.files))
      .withColumn("q5_files_opened", lit(q5.files))
      .orderBy("shard")
  }

  /** DuckDB re-derivation: q1/q2/q3/q4/q6 and the global leg aggregate
    * docs 0..999 per shard (score = doc/4, NULL on multiples of five;
    * body = md5 of the decimal id); q5 aggregates the post-DELETE live
    * set (shard-5 docs ≥ 500 removed). Constants: 7 rewrites (one per
    * leg — the refreshes' own internal scans are version-pinned and
    * never rewrite); q2 opened 0 base data files; q5 opened 3 — the
    * retraction probe and the spliced tail each read the DELETE's
    * vector-diffed shard-5 file, and the dirty recompute's shard-pruned
    * scan reads it once more (every other shard's file stays closed).
    */
  val mvRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id / 4.0 END AS score,
      |         md5(CAST(doc_id AS VARCHAR)) AS body
      |  FROM range(0, 1000) t(doc_id)),
      |l AS (
      |  SELECT * FROM g WHERE NOT (shard = 5 AND doc_id >= 500))
      |SELECT g.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(g.doc_id) AS BIGINT) AS sum_ids,
      |       bit_xor(g.doc_id) AS xor_ids,
      |       CAST(MAX(g.doc_id) AS BIGINT) AS max_doc,
      |       CAST(COUNT(*) AS BIGINT) AS q1_n,
      |       CAST(SUM(g.doc_id) AS BIGINT) AS q1_sum,
      |       bit_xor(g.doc_id) AS q1_xor,
      |       CAST(COUNT(*) FILTER (WHERE g.doc_id % 3 = 0) AS BIGINT) AS q3_n,
      |       CAST(SUM(g.doc_id) FILTER (WHERE g.doc_id % 3 = 0) AS BIGINT) AS q3_sum,
      |       CAST(SUM(g.doc_id) AS DOUBLE) / CAST(COUNT(g.doc_id) AS DOUBLE) AS d_avg,
      |       CAST(COUNT(g.score) AS BIGINT) AS d_nscore,
      |       CAST(SUM(CAST(g.score AS DECIMAL(24,6))) AS DOUBLE) AS d_sscore,
      |       CAST(MAX(g.score) AS DOUBLE) AS d_mx,
      |       MIN(g.body) AS d_mnb,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM l WHERE l.shard = g.shard) AS q5_n,
      |       (SELECT CAST(SUM(l.doc_id) AS BIGINT) FROM l WHERE l.shard = g.shard) AS q5_sum,
      |       (SELECT CAST(MAX(l.doc_id) AS BIGINT) FROM l WHERE l.shard = g.shard) AS q5_max,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS g_n,
      |       (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g) AS g_sum,
      |       CAST(7 AS BIGINT) AS n_rewrites,
      |       CAST(0 AS BIGINT) AS q2_files_opened,
      |       CAST(3 AS BIGINT) AS q5_files_opened
      |FROM g GROUP BY g.shard ORDER BY g.shard""".stripMargin

  /** Oracle-checked FILTERED-ROLLUP REWRITE (round 19): the single most
    * common dashboard query — a group-column WHERE over a plain rollup —
    * answered from MV state in every disguise the plan can take:
    *   f1: `WHERE shard IN (3, 5) GROUP BY shard` on the mixed-shard
    *       layout — the filter stays a residual Filter over a
    *       file-pruned scan; rewritten with ZERO base data files
    *       (f1_files pins it);
    *   f2: the same query over a STALE watermark — the residual applies
    *       to the state read AND the compensating tail;
    *   f3: predicate IMPLICATION — `WHERE doc_id % 3 = 0 AND shard = 5`
    *       routes to the predicate MV (pred = `doc_id % 3 = 0`): the MV
    *       conjuncts match and `shard = 5` is the group-column leftover,
    *       applied to the predicate MV's state; zero files (f3_files);
    *   f4: the GLOBAL aggregate under a group filter —
    *       `WHERE shard < 4` with no GROUP BY re-rolls filtered state
    *       partials to one row;
    *   f5: the FALLBACK pin — `WHERE doc_id < 100` references a
    *       non-group column, so the query must NOT rewrite (n_rewrites
    *       excludes it) and the base scan answers;
    *   f6: the CONSUMED-filter path — after OPTIMIZE the layout is
    *       shard-pure, so `shard IN (3, 5)` is consumed into file-exact
    *       pruning and NO Filter node remains; the scan's consumed-set
    *       testimony reconstructs the predicate and the rewrite still
    *       fires with zero files (f6_files).
    * All six legs' values, the rewrite count and the three file counters
    * sit under the DuckDB hash gate.
    */
  def mvFilterRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvfr", Seq("graft_mvfr"), MorCdf)
    def ingest(lo: Long, hi: Long): Unit =
      docs(s, 1200, 2, lo, hi)
        .writeTo("graft_mvfr.docs_mvfr").append()
    ingest(0L, 1000L) // v1
    val dir = new java.io.File(root.getPath, "docs_mvfr").getPath
    val mvA = dir + ".mvfa"
    SinkMvDist.create(s, dir, mvA, Seq("shard"), CountSum, buckets = 8)
    val mvP = dir + ".mvfp"
    SinkMvDist.create(s, dir, mvP, Seq("shard"), Seq(
      MvAgg("p_n", "count"),
      MvAgg("p_sum", "sum", "doc_id")),
      where = "doc_id % 3 = 0", buckets = 8)
    val Probed((f1, f2, f3, f4, f5, f6), _, nRewrites, _) = withRewrite(s, dir -> Seq(mvA, mvP)) {
      def base = readPath(s, dir)
      def shardQ = base.where(col("shard").isin(3, 5)).groupBy(col("shard"))
        .agg(count(lit(1)).as("q_n"), sum("doc_id").as("q_sum"))
      // f1 — residual Filter over a file-pruned scan, current watermark
      val f1 = probe(leg(shardQ).toDF("shard", "f1_n", "f1_sum"))
      // f2 — same query across a stale watermark: residual + tail
      ingest(1000L, 1200L) // v2
      val f2 = leg(shardQ).toDF("shard", "f2_n", "f2_sum")
      SinkMvDist.refresh(s, dir, mvA)
      SinkMvDist.refresh(s, dir, mvP)
      // f3 — predicate implication: MV pred ∧ group-column leftover
      val f3 = probe(base.where(expr("doc_id % 3 = 0 AND shard = 5")).groupBy(col("shard"))
        .agg(count(lit(1)).as("p_qn"), sum("doc_id").as("p_qsum")).collect().head)
      // f4 — the global aggregate under a group filter
      val f4 = base.where(col("shard") < 4)
        .agg(count(lit(1)).as("g_n"), sum("doc_id").as("g_sum")).collect().head
      // f5 — non-group residual: MUST fall back to the base scan
      val f5 = probe(base.where(col("doc_id") < 100).groupBy(col("shard"))
        .agg(count(lit(1)).as("n")).collect())
      // f6 — compacted shard-pure layout: the filter is CONSUMED into
      // file-exact pruning (no Filter node remains) and the scan's
      // consumed-set testimony still rewrites
      ShardSink.compact(dir) // v3: no-data commit
      SinkMvDist.refresh(s, dir, mvA) // fast-forward watermarks
      SinkMvDist.refresh(s, dir, mvP)
      val f6 = probe(leg(shardQ).toDF("shard", "f6_n", "f6_sum"))
      (f1, f2, f3, f4, f5, f6)
    }
    f1.value.join(f2, "shard").join(f6.value, "shard")
      .withColumn("f3_n", lit(f3.value.getLong(1)))
      .withColumn("f3_sum", lit(f3.value.getLong(2)))
      .withColumn("f4_n", lit(f4.getLong(0)))
      .withColumn("f4_sum", lit(f4.getLong(1)))
      .withColumn("f5_rows", lit(f5.value.length.toLong))
      .withColumn("f5_total", lit(f5.value.map(_.getLong(1)).sum))
      .withColumn("f5_extra_rewrites", lit(f5.rewrites)) // 0
      .withColumn("n_rewrites", lit(nRewrites)) // f1 f2 f3 f4 f6 = 5
      .withColumn("f1_files_opened", lit(f1.files))
      .withColumn("f3_files_opened", lit(f3.files))
      .withColumn("f6_files_opened", lit(f6.files))
      .orderBy("shard")
  }


  /** DuckDB re-derivation: docs 0..999 at f1, 0..1199 from f2 on, shard
    * = doc % 16, no deletes. Constants: 5 rewrites (f1, f2, f3, f4, f6 —
    * f5's non-group residual falls back, pinned separately as 0 extra
    * rewrites); f1/f3/f6 each opened 0 base data files (f2's tail
    * legitimately reads the appended commit's files); f5 returns one row
    * per shard (16) totalling the 100 filtered docs.
    */
  val mvFilterRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard
      |  FROM range(0, 1200) t(doc_id)),
      |g1 AS (SELECT * FROM g WHERE doc_id < 1000)
      |SELECT s.shard,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g1 WHERE g1.shard = s.shard) AS f1_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g1 WHERE g1.shard = s.shard) AS f1_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f2_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f2_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f6_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard = s.shard) AS f6_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard = 5 AND doc_id % 3 = 0) AS f3_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard = 5 AND doc_id % 3 = 0) AS f3_sum,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE g.shard < 4) AS f4_n,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g WHERE g.shard < 4) AS f4_sum,
      |  CAST(16 AS BIGINT) AS f5_rows,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE doc_id < 100) AS f5_total,
      |  CAST(0 AS BIGINT) AS f5_extra_rewrites,
      |  CAST(5 AS BIGINT) AS n_rewrites,
      |  CAST(0 AS BIGINT) AS f1_files_opened,
      |  CAST(0 AS BIGINT) AS f3_files_opened,
      |  CAST(0 AS BIGINT) AS f6_files_opened
      |FROM (VALUES (3), (5)) s(shard) ORDER BY s.shard""".stripMargin

  /** Oracle-checked COUNT-DISTINCT REWRITE (round 19): `count(DISTINCT
    * uid)` — a real user's second dashboard query — answered from an MV
    * grouped at the FINE grain `(shard, uid)`:
    *   d1: `SELECT shard, count(*), count(DISTINCT uid), sum(doc_id)
    *        GROUP BY shard` at a current watermark — live fine groups
    *        per shard ARE the distinct uids; ZERO base files (d1_files);
    *   d2: the same query over a STALE watermark — the tail folds at the
    *       fine grain first, so new/retracted uids surface exactly;
    *   d3: the GLOBAL `count(DISTINCT uid)`;
    *   d4: composed with the round-19 group filter —
    *       `WHERE shard IN (3, 5)` — both features in one plan, zero
    *       files (d4_files);
    *   d5: the FALLBACK pin — `count(DISTINCT doc_id)` has no MV whose
    *       group set contains doc_id, so the query must NOT rewrite.
    * NULL uids (every 7th doc) pin count_distinct's null exclusion
    * through the fine-group path. All values + counters are re-derived
    * by DuckDB.
    */
  def mvDistinctRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvdr", Seq("graft_mvdr"), MorCdf)
    // v1: bootstrap, v2: ADD COLUMN uid
    val ingest = evolved(s, "graft_mvdr.docs_mvdr", 1200, "uid", "BIGINT",
      when(col("doc_id") % 7L === 0L, lit(null).cast("long")).otherwise(col("doc_id") % 50L))
    ingest(0L, 1000L) // v3
    val dir = new java.io.File(root.getPath, "docs_mvdr").getPath
    val mvD = dir + ".mvdu"
    SinkMvDist.create(s, dir, mvD, Seq("shard", "uid"), Seq(
      MvAgg("n_rows", "count"),
      MvAgg("s_ids", "sum", "doc_id")), buckets = 8)
    val Probed((d1, d2, d3, d4, d5), _, nRewrites, _) = withRewrite(s, dir -> Seq(mvD)) {
      def base = readPath(s, dir)
      def shardQ = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("q_n"), count_distinct(col("uid")).as("q_du"),
          sum("doc_id").as("q_sum"))
      // d1 — current watermark, zero base files
      val d1 = probe(leg(shardQ).toDF("shard", "d1_n", "d1_du", "d1_sum"))
      // d2 — stale watermark: the tail folds at the fine grain first
      ingest(1000L, 1200L) // v4
      val d2 = leg(shardQ).toDF("shard", "d2_n", "d2_du", "d2_sum")
      SinkMvDist.refresh(s, dir, mvD)
      // d3 — the global distinct
      val d3 = base.agg(count_distinct(col("uid")).as("g_du")).collect().head.getLong(0)
      // d4 — distinct + group-column residual composed; zero files
      val d4 = probe(base.where(col("shard").isin(3, 5)).groupBy(col("shard"))
        .agg(count_distinct(col("uid")).as("f_du"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1))
      // d5 — no MV's grain carries doc_id: MUST fall back
      val d5 = probe(base.groupBy(col("shard"))
        .agg(count_distinct(col("doc_id")).as("n")).collect())
      (d1, d2, d3, d4, d5)
    }
    d1.value.join(d2, "shard")
      .withColumn("g_du", lit(d3))
      .withColumn("d4_du3", lit(d4.value.head._2))
      .withColumn("d4_du5", lit(d4.value(1)._2))
      .withColumn("d5_rows", lit(d5.value.length.toLong))
      .withColumn("d5_total", lit(d5.value.map(_.getLong(1)).sum))
      .withColumn("d5_extra_rewrites", lit(d5.rewrites)) // 0
      .withColumn("n_rewrites", lit(nRewrites)) // d1 d2 d3 d4 = 4
      .withColumn("d1_files_opened", lit(d1.files))
      .withColumn("d4_files_opened", lit(d4.files))
      .orderBy("shard")
  }


  /** DuckDB re-derivation: docs 0..999 at d1, 0..1199 from d2 on; shard
    * = doc % 16; uid = doc % 50, NULL on multiples of seven. Constants:
    * 4 rewrites (d1–d4; d5's doc_id grain is unregistered and falls
    * back — 0 extra rewrites); d1 and d4 opened 0 base data files; d5
    * answers 16 shard rows totalling 1200 distinct doc_ids.
    */
  val mvDistinctRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id % 50 END AS uid
      |  FROM range(0, 1200) t(doc_id)),
      |g1 AS (SELECT * FROM g WHERE doc_id < 1000)
      |SELECT a.shard,
      |  a.d1_n, a.d1_du, a.d1_sum, b.d2_n, b.d2_du, b.d2_sum,
      |  (SELECT CAST(COUNT(DISTINCT uid) AS BIGINT) FROM g) AS g_du,
      |  (SELECT CAST(COUNT(DISTINCT uid) AS BIGINT) FROM g WHERE shard = 3) AS d4_du3,
      |  (SELECT CAST(COUNT(DISTINCT uid) AS BIGINT) FROM g WHERE shard = 5) AS d4_du5,
      |  CAST(16 AS BIGINT) AS d5_rows,
      |  CAST(1200 AS BIGINT) AS d5_total,
      |  CAST(0 AS BIGINT) AS d5_extra_rewrites,
      |  CAST(4 AS BIGINT) AS n_rewrites,
      |  CAST(0 AS BIGINT) AS d1_files_opened,
      |  CAST(0 AS BIGINT) AS d4_files_opened
      |FROM (SELECT shard, CAST(COUNT(*) AS BIGINT) AS d1_n,
      |             CAST(COUNT(DISTINCT uid) AS BIGINT) AS d1_du,
      |             CAST(SUM(doc_id) AS BIGINT) AS d1_sum
      |      FROM g1 GROUP BY shard) a
      |JOIN (SELECT shard, CAST(COUNT(*) AS BIGINT) AS d2_n,
      |             CAST(COUNT(DISTINCT uid) AS BIGINT) AS d2_du,
      |             CAST(SUM(doc_id) AS BIGINT) AS d2_sum
      |      FROM g GROUP BY shard) b USING (shard)
      |ORDER BY a.shard""".stripMargin

  /** Oracle-checked JOIN-MV REWRITE (round 18): a fact ⋈ dim GROUP BY
    * (the reference's own flagship query shape) over a registered join
    * MV, exercised through four legs —
    *   A: both watermarks current → rewritten; NEITHER table's data
    *      files open (a_files pins 0);
    *   B: a fact append tail → rewritten through [Δf ⋈ d@new], the one
    *      delta-join part a fact tail needs;
    *   C: a dim UPDATE tail → the [Δd ⋈ f@old] part would rescan the
    *      whole fact, so the round-18 COST GUARD refuses (cost_fallbacks
    *      pins exactly one refusal) and the base join answers;
    *   D: after a refresh folds the dim move → rewritten again with
    *      zero data files (d_files pins 0), the rX group move visible.
    * The final per-(region, uid) table and all counters sit under the
    * DuckDB hash gate.
    */
  def mvJoinRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvjr", Seq("graft_mvjr"), MorCdf)
    // base tables (d1–d3, f1–f3) from the JVM-shared star fixture —
    // identical commits/versions to the inline build (round 19)
    val Seq(dimDir, factDir) = copyBase(starBase(s), root, "_mvjr", "dim", "fact")
    val mvDir = factDir + ".mvjr"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("d_region", "uid"), aggs = CountSum, buckets = 8)
    val Probed((throughC, d), _, nRewrites, _) = withRewrite(s, factDir -> Seq(mvDir)) {
      def q = pathJoin(s, factDir, Seq(PathDim(dimDir, "shard", "dk", Seq("region"))),
        Seq("region", "uid"))
      // b_rewrites and c_rewrites count from leg A on, the steps between
      // the legs included, as n_rewrites does
      val throughC = probe {
        val throughB = probe {
          // leg A: current watermarks — zero data files on EITHER table
          val aFiles = probe(q.collect()).files
          // leg B: fact tail — compensates through [Δf ⋈ d@new]
          appendFact(s, "graft_mvjr.fact_mvjr", 300L, 1200L, 1500L) // f4
          q.collect()
          aFiles
        }
        SinkMvDist.refresh(s, factDir, mvDir) // fold f4
        // leg C: dim tail — the cost guard must refuse ([Δd ⋈ f@old]
        // rescans the whole fact) and the base join answers correctly
        s.sql("UPDATE graft_mvjr.dim_mvjr SET region = 'rX' WHERE doc_id = 5") // d4
        q.collect()
        throughB
      }
      SinkMvDist.refresh(s, factDir, mvDir) // fold the dim move
      // leg D: current again — rewritten, group move visible, zero files
      (throughC, probe(leg(q)))
    }
    d.value.toDF("d_region", "uid", "n_docs", "sum_ids")
      .withColumn("n_rewrites", lit(nRewrites)) // 3
      .withColumn("b_rewrites", lit(throughC.value.rewrites)) // A + B = 2
      .withColumn("c_rewrites", lit(throughC.rewrites)) // still 2
      .withColumn("cost_fallbacks", lit(throughC.fallbacks)) // exactly 1
      .withColumn("a_files_opened", lit(throughC.value.value))
      .withColumn("d_files_opened", lit(d.files))
      .orderBy("d_region", "uid")
  }


  /** DuckDB re-derivation: live fact rows are docs 0..1499 with
    * uid = doc % 300; the region of shard s = doc % 16 is rX for 5 (the
    * dim update, folded before leg D) else r(s % 3). Constants: 3
    * rewrites total (A, B, D), 2 after leg B, still 2 after the refused
    * leg C, exactly 1 cost fallback (leg C's [Δd ⋈ f@old] rescan loses
    * to the base join), and 0 data files opened by legs A and D.
    */
  val mvJoinRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 300 AS uid,
      |         CASE WHEN doc_id % 16 = 5 THEN 'rX'
      |              ELSE 'r' || CAST((doc_id % 16) % 3 AS VARCHAR) END AS d_region
      |  FROM range(0, 1500) t(doc_id))
      |SELECT d_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       CAST(3 AS BIGINT) AS n_rewrites,
      |       CAST(2 AS BIGINT) AS b_rewrites,
      |       CAST(2 AS BIGINT) AS c_rewrites,
      |       CAST(1 AS BIGINT) AS cost_fallbacks,
      |       CAST(0 AS BIGINT) AS a_files_opened,
      |       CAST(0 AS BIGINT) AS d_files_opened
      |FROM g GROUP BY d_region, uid ORDER BY d_region, uid""".stripMargin

  /** Oracle-checked DIM-TAIL COMPENSATION (round 19): the join-MV
    * rewrite across a MOVED dim with no fact rescan — the MV's grain
    * includes the fk (`shard`), so state rows are key-addressable:
    *   A: both watermarks current → rewritten, zero files (a_files);
    *   B: a dim attribute UPDATE (region of key 5 → 'rX') → the changed
    *      key's state rows REMAP to the post-image group at query time;
    *      the rewrite fires (no cost refusal) reading ONLY dim-side
    *      files — the arriving-key probe (feed + old-snapshot keys),
    *      the uniqueness probe (dim@new), and the remap (feed +
    *      dim@new) open 8 small dim files in total (b_files_opened pins
    *      the exact count) while the 16-file compacted fact stays
    *      closed (the spec pins the plan carries no fact scan);
    *   C: a dim INSERT (genuinely key-changing) → the plan-time probe
    *      DISQUALIFIES the compensation and the base join answers
    *      (c_extra_rewrites pins 0; cost_fallbacks unchanged — this is
    *      a derivability refusal, not a cost one);
    *   D: after a refresh folds both dim commits → rewritten, zero
    *      files;
    *   E: a dim key DELETE (key 9) → compensation DROPS the key's state
    *      rows — the final table excludes shard 9 and is the hash-gated
    *      output (B ≡ D row-set equality rides as bd_equal).
    */
  def mvDimTailRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvdt", Seq("graft_mvdt"), MorCdf)
    // base tables (d1–d3, f1–f3) from the JVM-shared star fixture —
    // identical commits/versions to the inline build (round 19)
    val Seq(dimDir, factDir) = copyBase(starBase(s), root, "_mvdt", "dim", "fact")
    ShardSink.compact(factDir) // f4: shard-pure 16-file layout
    val mvDir = factDir + ".mvdt"
    // the FINE grain: fk (shard) rides the group set — the compensation's
    // addressability condition
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("shard", "d_region", "uid"), aggs = CountSum, buckets = 8)
    val Probed((throughB, c, d, e), _, nRewrites, fallbacks) =
      withRewrite(s, factDir -> Seq(mvDir)) {
        def q = pathJoin(s, factDir, Seq(PathDim(dimDir, "shard", "dk", Seq("region"))),
          Seq("region", "uid"))
        val throughB = probe {
          // A — current watermarks
          val a = probe(q.collect())
          // B — attribute-only dim move: compensated, fact never rescanned
          s.sql("UPDATE graft_mvdt.dim_mvdt SET region = 'rX' WHERE doc_id = 5") // d4
          (a, probe(q.collect()))
        }
        // C — a key-CHANGING dim commit: the probe refuses, base answers
        val c = probe {
          docs(s, 1200, 2, 16L, 18L).withColumn("region", lit("r9"))
            .writeTo("graft_mvdt.dim_mvdt").append() // d5
          q.collect()
        }
        SinkMvDist.refresh(s, factDir, mvDir) // fold d4 + d5
        // D — current again
        val d = probe(q.collect())
        // E — a dim key DELETE: compensation drops shard-9 state rows
        s.sql("DELETE FROM graft_mvdt.dim_mvdt WHERE doc_id = 9") // d6
        (throughB, c, d, leg(q))
      }
    val (a, b) = throughB.value
    e.toDF("d_region", "uid", "n_docs", "sum_ids")
      .withColumn("a_rows", lit(a.value.length.toLong))
      .withColumn("a_total", lit(a.value.map(_.getLong(3)).sum))
      .withColumn("bd_equal", lit(if (b.value.toSet == d.value.toSet) 1L else 0L))
      .withColumn("n_rewrites", lit(nRewrites)) // A B D E = 4
      .withColumn("b_rewrites", lit(throughB.rewrites)) // A + B = 2
      .withColumn("c_extra_rewrites", lit(c.rewrites)) // 0
      .withColumn("cost_fallbacks", lit(fallbacks)) // 0
      .withColumn("a_files_opened", lit(a.files))
      .withColumn("d_files_opened", lit(d.files))
      .withColumn("b_files_opened", lit(b.files))
      .orderBy("d_region", "uid")
  }


  /** DuckDB re-derivation: fact rows are docs 0..1199, uid = doc % 300,
    * shard s = doc % 16; the final (leg-E) region map is rX for 5 (the
    * compensated move) else r(s % 3), with shard 9 EXCLUDED (the
    * compensated key delete); legs B and D must agree row-for-row
    * (bd_equal). Constants: 4 rewrites (A, B, D, E — C's key-changing
    * window is a derivability refusal: 0 extra rewrites AND 0 cost
    * fallbacks); A and D opened 0 data files; B opened exactly 8 —
    * all dim-side (probe feed + dim@old keys, uniqueness dim@new,
    * remap feed + dim@new) — while the 16-file compacted fact stayed
    * closed.
    */
  val mvDimTailRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 300 AS uid, CAST(doc_id % 16 AS INT) AS s
      |  FROM range(0, 1200) t(doc_id)),
      |m AS (
      |  SELECT doc_id, uid,
      |         CASE WHEN s = 5 THEN 'rX' ELSE 'r' || CAST(s % 3 AS VARCHAR) END AS d_region
      |  FROM g WHERE s <> 9)
      |SELECT d_region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      |          SELECT DISTINCT 'r' || CAST(s % 3 AS VARCHAR), uid FROM g)) AS a_rows,
      |       (SELECT CAST(SUM(doc_id) AS BIGINT) FROM g) AS a_total,
      |       CAST(1 AS BIGINT) AS bd_equal,
      |       CAST(4 AS BIGINT) AS n_rewrites,
      |       CAST(2 AS BIGINT) AS b_rewrites,
      |       CAST(0 AS BIGINT) AS c_extra_rewrites,
      |       CAST(0 AS BIGINT) AS cost_fallbacks,
      |       CAST(0 AS BIGINT) AS a_files_opened,
      |       CAST(0 AS BIGINT) AS d_files_opened,
      |       CAST(8 AS BIGINT) AS b_files_opened
      |FROM m GROUP BY d_region, uid ORDER BY d_region, uid""".stripMargin

  /** Oracle-checked SNOWFLAKE-MV REWRITE (round 18): the full chain
    * query — `fact ⋈ dim1 ⋈ dim2 GROUP BY (zone, region, uid)`, dim2
    * keyed off dim1's `catk` column — answered from the snowflake MV
    * through four legs:
    *   A: all three watermarks current → rewritten; NO table's data
    *      files open (a_files pins 0);
    *   B: a fact append tail → rewritten through [Δf ⋈ d1@new ⋈ d2@new];
    *   C: a dim1 UPDATE tail → the [Δd1 ⋈ f@old ⋈ d2@old] part would
    *      rescan the whole fact, so the cost guard refuses
    *      (cost_fallbacks pins exactly one) and the base chain answers;
    *   D: after a refresh folds the region move → rewritten again with
    *      zero data files, the rX group move visible.
    */
  def mvSnowRewriteReport(spark: SparkSession, sfDir: String): DataFrame = {
    val (s, root) = scratch(spark, sfDir, "sinkmvsr", Seq("graft_mvsr"), MorCdf)
    // base tables (e1–e3, d1–d4, f1–f3) from the JVM-shared snowflake
    // fixture — identical commits/versions to the inline build (round 19)
    val Seq(d2Dir, d1Dir, factDir) = copyBase(snowBase(s), root, "_mvsr", "dim2", "dim1", "fact")
    val mvDir = factDir + ".mvsr"
    SinkMvDist.createSnowflake(s, factDir, mvDir,
      Seq(
        SinkMvDist.SnowDim(d1Dir, fk = "shard", pk = "doc_id", pfx = "d1_"),
        SinkMvDist.SnowDim(d2Dir, fk = "d1_catk", pk = "doc_id", pfx = "d2_")),
      groups = Seq("d2_zone", "d1_region", "uid"), aggs = CountSum, buckets = 8)
    val Probed((throughC, d), _, nRewrites, _) = withRewrite(s, factDir -> Seq(mvDir)) {
      def q = pathJoin(s, factDir, Seq(
        PathDim(d1Dir, "shard", "d1k", Seq("region", "catk")),
        PathDim(d2Dir, "catk", "d2k", Seq("zone"))), Seq("zone", "region", "uid"))
      // b_rewrites and c_rewrites count from leg A on, the steps between
      // the legs included, as n_rewrites does
      val throughC = probe {
        val throughB = probe {
          // leg A: every watermark current — zero data files on ALL tables
          val aFiles = probe(q.collect()).files
          // leg B: fact tail — the [Δf ⋈ d1@new ⋈ d2@new] part compensates
          appendFact(s, "graft_mvsr.fact_mvsr", 150L, 1200L, 1400L) // f4
          q.collect()
          aFiles
        }
        SinkMvDist.refresh(s, factDir, mvDir) // fold f4
        // leg C: dim1 tail — [Δd1 ⋈ f@old ⋈ d2@old] rescans the fact; the
        // cost guard refuses and the base chain answers
        s.sql("UPDATE graft_mvsr.dim1_mvsr SET region = 'rX' WHERE doc_id = 7") // d5
        q.collect()
        throughB
      }
      SinkMvDist.refresh(s, factDir, mvDir) // fold the region move
      // leg D: current again — rewritten, the group move visible
      (throughC, probe(leg(q)))
    }
    d.value
      .withColumn("n_rewrites", lit(nRewrites)) // 3
      .withColumn("b_rewrites", lit(throughC.value.rewrites)) // A + B = 2
      .withColumn("c_rewrites", lit(throughC.rewrites)) // still 2
      .withColumn("cost_fallbacks", lit(throughC.fallbacks)) // exactly 1
      .withColumn("a_files_opened", lit(throughC.value.value))
      .withColumn("d_files_opened", lit(d.files))
      .orderBy("zone", "region", "uid")
  }


  /** DuckDB re-derivation: live fact rows are docs 0..1399 with
    * uid = doc % 150; shard s = doc % 16 maps region rX for 7 (the dim1
    * update, folded before leg D) else r(s % 3), and zone z((s % 4) % 2)
    * through the catk chain. Constants: 3 rewrites (A, B, D), 2 after
    * leg B, still 2 after the refused leg C, exactly 1 cost fallback,
    * 0 data files opened by legs A and D.
    */
  val mvSnowRewriteReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 150 AS uid, doc_id % 16 AS s
      |  FROM range(0, 1400) t(doc_id)),
      |m AS (
      |  SELECT doc_id, uid,
      |         CASE WHEN s = 7 THEN 'rX' ELSE 'r' || CAST(s % 3 AS VARCHAR) END AS region,
      |         'z' || CAST((s % 4) % 2 AS VARCHAR) AS zone
      |  FROM g)
      |SELECT zone, region, uid, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |       CAST(3 AS BIGINT) AS n_rewrites,
      |       CAST(2 AS BIGINT) AS b_rewrites,
      |       CAST(2 AS BIGINT) AS c_rewrites,
      |       CAST(1 AS BIGINT) AS cost_fallbacks,
      |       CAST(0 AS BIGINT) AS a_files_opened,
      |       CAST(0 AS BIGINT) AS d_files_opened
      |FROM m GROUP BY zone, region, uid ORDER BY zone, region, uid""".stripMargin

  // ---- per-column data skipping (SinkColStats) ----------------------------

  /** Row count and doc_id xor of the table at `dir` where `where` holds,
    * with the data files the read opened.
    */
  private def countXor(s: SparkSession, dir: String, where: Column): Probed[Row] =
    probe(readPath(s, dir).where(where)
      .agg(count(lit(1)).as("n"), expr("bit_xor(doc_id)").as("x")).collect().head)

  /** Oracle-checked PER-COLUMN DATA SKIPPING (rounds 15–16): a landing
    * zone evolves `lang` (string) and `score` (bigint) columns via
    * mergeSchema appends whose batches are lang-homogeneous — the ingest
    * pattern the envelopes exist for — plus an ALL-NULL lang batch.
    * Equality, range, prefix, IS NULL and IS NOT NULL predicates then
    * read back: the row aggregates sit under DuckDB's hash gate, and the
    * `pruned_*` cells pin — via the physical read counter — that every
    * scan opened FEWER files than the census: values prune by envelope,
    * IS NULL by the round-16 null counts (zero-null files skip), IS NOT
    * NULL by the boundless all-null envelopes. After an OPTIMIZE gives
    * every file a null count, `COUNT(lang)` answers from the manifest
    * with zero data IO (`meta_count` pins plan shape + the unmoved read
    * counter).
    */
  def colSkippingReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkcs")
    def docs(lo: Long, hi: Long) = SinkLifecycles.docs(spark, 2200, 2, lo, hi)
    // v1: 3-column, no statsable payload predicate
    appendTo(docs(0L, 600L), dir.getPath)
    def ingest(lo: Long, hi: Long, lang: Option[String]): Unit =
      appendMerging(docs(lo, hi)
        .withColumn("lang", lang.map(lit).getOrElse(lit(null).cast("string")))
        .withColumn("score", (col("doc_id") * 2L).cast("long")), dir.getPath)
    ingest(600L, 1000L, Some("pt")) // v2
    ingest(1000L, 1400L, Some("en")) // v3
    ingest(1400L, 1800L, Some("de")) // v4
    ingest(1800L, 2200L, None) // v5: all-null lang — boundless envelopes
    val census = ShardSink.committedFiles(dir.getPath).count(_.endsWith(".tsv")).toLong
    val pt = countXor(spark, dir.getPath, col("lang") === "pt")
    val hi = countXor(spark, dir.getPath, col("score") >= 3200L)
    val de = countXor(spark, dir.getPath, col("lang").startsWith("d"))
    val nu = countXor(spark, dir.getPath, col("lang").isNull)
    val nn = countXor(spark, dir.getPath, col("lang").isNotNull)
    // OPTIMIZE rewrites every row under the evolved schema: all files now
    // carry lang null counts, no delete vectors → COUNT(lang) from the
    // manifest alone
    ShardSink.compact(dir.getPath)
    val metaDf = readPath(spark, dir.getPath).agg(count(col("lang")).as("n"))
    val metaPlanned = metaDf.queryExecution.executedPlan.toString
    val meta = probe(metaDf.collect().head.getLong(0))
    import spark.implicits._
    Seq((
      pt.value.getLong(0), pt.value.getLong(1),
      hi.value.getLong(0), hi.value.getLong(1),
      de.value.getLong(0), de.value.getLong(1),
      nu.value.getLong(0), nu.value.getLong(1),
      nn.value.getLong(0), nn.value.getLong(1),
      meta.value,
      if (pt.files < census) 1L else 0L,
      if (hi.files < census) 1L else 0L,
      // round 16: the zero-null ingests' files skip the IS NULL read...
      if (nu.files < census) 1L else 0L,
      // ...and the all-null ingest's files skip the IS NOT NULL read
      if (nn.files < census) 1L else 0L,
      if (metaPlanned.contains("ShardSinkCountScan") && meta.files == 0L) 1L else 0L)).toDF(
      "n_pt", "xor_pt", "n_hi", "xor_hi", "n_de", "xor_de",
      "n_null", "xor_null", "n_notnull", "xor_notnull", "n_lang_meta",
      "pruned_lang", "pruned_score", "pruned_null", "pruned_notnull", "meta_count")
  }

  /** Oracle-checked GENERALIZED Z-ORDER (round 15,
    * [[ShardSink.compactZOrderBy]]): ONE interleaved ingest (every file
    * spans every lang and score — the per-column envelopes prune
    * nothing, pinned by `unclustered_full`), then `ZORDER BY (lang)`
    * makes the lang envelopes tight — the `lang = 'l3'` read opens
    * EXACTLY the 4 chunks the 400 matching rows occupy (pinned as a
    * value: the rank-quantile layout is deterministic) — then a second
    * rewrite `ZORDER BY (lang, score)` clusters both dimensions and the
    * box predicate `lang = 'l3' AND score ∈ [600, 680)` opens a strict
    * subset (`pruned_box`). Row aggregates for every read sit under the
    * DuckDB hash gate; the flags pin the physical IO story.
    */
  def zorderColsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkzc")
    appendMerging(docs(spark, 2000, 2)
      .withColumn("lang", concat(lit("l"), (col("doc_id") % 5).cast("string")))
      .withColumn("score", ((col("doc_id") * 7L) % 1000L).cast("long")),
      dir.getPath) // v1: interleaved
    def census = ShardSink.committedFiles(dir.getPath).count(_.endsWith(".tsv")).toLong
    val l3Before = countXor(spark, dir.getPath, col("lang") === "l3")
    val fullCensus = census
    ShardSink.compactZOrderBy(dir.getPath, rowsPerFile = 125, cols = Seq("lang")) // v2
    val l3After = countXor(spark, dir.getPath, col("lang") === "l3")
    ShardSink.compactZOrderBy(dir.getPath, rowsPerFile = 125,
      cols = Seq("lang", "score")) // v3
    val box = countXor(spark, dir.getPath,
      col("lang") === "l3" && col("score") >= 600L && col("score") < 680L)
    val boxCensus = census
    import spark.implicits._
    Seq((
      l3Before.value.getLong(0), l3Before.value.getLong(1),
      l3After.value.getLong(0), l3After.value.getLong(1),
      box.value.getLong(0), box.value.getLong(1),
      if (l3Before.files == fullCensus) 1L else 0L, // interleaved: nothing prunable
      l3After.files, // deterministic: rows 1200..1599 of the 16×125 layout
      if (box.files < boxCensus) 1L else 0L)).toDF(
      "n_l3_pre", "xor_l3_pre", "n_l3", "xor_l3", "n_box", "xor_box",
      "unclustered_full", "opened_lang", "pruned_box")
  }

  /** Oracle-checked MANIFEST-ONLY PAYLOAD MIN/MAX (round 15): with the
    * per-column envelopes in every entry, `SELECT min(score), max(score),
    * min(lang), max(lang), count(*)` answers COMPLETELY from the
    * manifest — zero data IO, the same push the doc_id/shard aggregates
    * earned in rounds 13–15, now for columns the layout knows nothing
    * about. `meta_answered` pins the plan shape (the count-scan surface
    * planned, no aggregate node re-reading data) AND that the read
    * counter did not move; the values sit under the DuckDB hash gate.
    */
  def metaColMinMaxReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratchDir(sfDir, "sinkmcm")
    def ingest(lo: Long, hi: Long, lang: String): Unit =
      appendMerging(docs(spark, 1800, 2, lo, hi)
        .withColumn("lang", lit(lang))
        .withColumn("score", (col("doc_id") * 2L).cast("long")), dir.getPath)
    ingest(0L, 600L, "pt"); ingest(600L, 1200L, "en"); ingest(1200L, 1800L, "de")
    val df = readPath(spark, dir.getPath)
      .agg(
        min(col("score")).as("min_score"), max(col("score")).as("max_score"),
        min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"),
        count(lit(1)).as("n_docs"))
    val planned = df.queryExecution.executedPlan.toString
    val Probed(row, opened, _, _) = probe(df.collect().head)
    import spark.implicits._
    Seq((
      row.getLong(0), row.getLong(1), row.getString(2), row.getString(3),
      row.getLong(4),
      if (planned.contains("ShardSinkCountScan") && opened == 0L) 1L else 0L)).toDF(
      "min_score", "max_score", "min_lang", "max_lang", "n_docs", "meta_answered")
  }

  val metaColMinMaxReportSql: String =
    """SELECT CAST(0 AS BIGINT) AS min_score, CAST(3598 AS BIGINT) AS max_score,
      |       'de' AS min_lang, 'pt' AS max_lang,
      |       CAST(1800 AS BIGINT) AS n_docs, CAST(1 AS BIGINT) AS meta_answered""".stripMargin

  val zorderColsReportSql: String =
    """WITH g AS (
      |  SELECT doc_id, 'l' || CAST(doc_id % 5 AS VARCHAR) AS lang,
      |         (doc_id * 7) % 1000 AS score
      |  FROM range(0, 2000) t(doc_id))
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE lang = 'l3') AS n_l3_pre,
      |  (SELECT bit_xor(doc_id) FROM g WHERE lang = 'l3') AS xor_l3_pre,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE lang = 'l3') AS n_l3,
      |  (SELECT bit_xor(doc_id) FROM g WHERE lang = 'l3') AS xor_l3,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
      |     WHERE lang = 'l3' AND score >= 600 AND score < 680) AS n_box,
      |  (SELECT bit_xor(doc_id) FROM g
      |     WHERE lang = 'l3' AND score >= 600 AND score < 680) AS xor_box,
      |  CAST(1 AS BIGINT) AS unclustered_full,
      |  CAST(4 AS BIGINT) AS opened_lang,
      |  CAST(1 AS BIGINT) AS pruned_box""".stripMargin

  val colSkippingReportSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id < 600 THEN NULL
      |              WHEN doc_id < 1000 THEN 'pt'
      |              WHEN doc_id < 1400 THEN 'en'
      |              WHEN doc_id < 1800 THEN 'de'
      |              ELSE NULL END AS lang,
      |         CASE WHEN doc_id < 600 THEN NULL
      |              ELSE doc_id * 2 END AS score
      |  FROM range(0, 2200) t(doc_id))
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE lang = 'pt') AS n_pt,
      |  (SELECT bit_xor(doc_id) FROM g WHERE lang = 'pt') AS xor_pt,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE score >= 3200) AS n_hi,
      |  (SELECT bit_xor(doc_id) FROM g WHERE score >= 3200) AS xor_hi,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE lang LIKE 'd%') AS n_de,
      |  (SELECT bit_xor(doc_id) FROM g WHERE lang LIKE 'd%') AS xor_de,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE lang IS NULL) AS n_null,
      |  (SELECT bit_xor(doc_id) FROM g WHERE lang IS NULL) AS xor_null,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE lang IS NOT NULL) AS n_notnull,
      |  (SELECT bit_xor(doc_id) FROM g WHERE lang IS NOT NULL) AS xor_notnull,
      |  (SELECT CAST(COUNT(lang) AS BIGINT) FROM g) AS n_lang_meta,
      |  CAST(1 AS BIGINT) AS pruned_lang,
      |  CAST(1 AS BIGINT) AS pruned_score,
      |  CAST(1 AS BIGINT) AS pruned_null,
      |  CAST(1 AS BIGINT) AS pruned_notnull,
      |  CAST(1 AS BIGINT) AS meta_count""".stripMargin
}
