package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SinkLifecycles.scratch

/** SQL DDL SPELLINGS for distributed materialized views (round 19) — the
  * property-DDL channel every other governance feature already rides
  * (restore / tags / CHECK constraints / shallow clone are `graft.*`
  * TBLPROPERTIES keys, because Spark ships no CREATE MATERIALIZED VIEW
  * statement and this catalog's tables exist implicitly):
  *
  *   ALTER TABLE <cat>.<t> SET TBLPROPERTIES ('graft.mv.<name>' =
  *     '{"group":"g1,g2","pred":"<where or empty>","buckets":8,
  *       "aggs":[{"n":"n_docs","k":"count","e":""},
  *               {"n":"sum_ids","k":"sum","e":"doc_id"}]}')
  *     → CREATE the distributed MV ([[SinkMvDist.create]]) at the
  *       conventional sibling directory `<tableDir>.mv-<name>` AND
  *       register it with [[SinkMvRewrite]] — a SQL-only user's plain
  *       GROUP BY is then answered from state once the session wires the
  *       rule (`spark.experimental.extraOptimizations`);
  *   ALTER TABLE <cat>.<t> SET TBLPROPERTIES ('graft.mv.refresh' = '<name>')
  *     → one incremental refresh to the current watermark(s);
  *   ALTER TABLE <cat>.<t> SET TBLPROPERTIES ('graft.mv.attach' = '<name>')
  *     → RE-WIRE a persisted MV into the rewrite after a JVM restart
  *       (registration is in-memory; the census's `registered` column
  *       shows the detached state) — no state rebuild;
  *   ALTER TABLE <cat>.<t> UNSET TBLPROPERTIES ('graft.mv.<name>')
  *     → unregister from the rewrite and DROP the state directory;
  *   SELECT * FROM <cat>.<t>.mvs
  *     → the MV census, one metadata row per view (definition,
  *       watermark, version, segment stats, currency) — the
  *       `.files`-style operator surface for the MV layer.
  *
  * The definition value reuses the persisted header's field spellings
  * (`"group"`, `"pred"`, `"buckets"`, `"aggs":[{"n","k","e"}]`) and is
  * read by the same codec ([[SinkMeta.MvDef]]): any JSON layout of those
  * keys parses, and a malformed one fails the DDL naming the property;
  * [[SinkMatView.validate]] then enforces the same rules as the Scala API
  * (no line breaks in expressions, a count slot present, …). `refresh`
  * is a reserved name.
  */
object SinkMvDdl {

  private def requireName(name: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid MV name '$name'")
    require(name != "refresh" && name != "attach",
      s"the MV name '$name' is reserved (refresh/attach are operation keys)")
  }

  /** The conventional state directory — a SIBLING of the table dir, like
    * every MV location convention here (table listings/vacuums must stay
    * table-only), name-spaced per view.
    */
  def mvDirFor(tableDir: String, name: String): String =
    tableDir.stripSuffix("/") + ".mv-" + name

  /** The state directory of an existing view named `name`. */
  private def existing(tableDir: String, name: String): String = {
    requireName(name)
    val mvDir = mvDirFor(tableDir, name)
    require(SinkMvDist.currentVersion(mvDir) > 0L,
      s"no materialized view named '$name' on $tableDir")
    mvDir
  }

  def create(spark: SparkSession, tableDir: String, name: String, defn: String): Unit = {
    requireName(name)
    val d = SinkMeta.decode[SinkMeta.MvDef](defn, s"graft.mv.$name")
    require(d.aggs.nonEmpty,
      s"graft.mv.$name: the definition needs a non-empty \"aggs\":[{...}] list — got: $defn")
    val mvDir = mvDirFor(tableDir, name)
    SinkMvDist.create(spark, tableDir, mvDir, d.group, d.aggs, d.pred, d.buckets)
    SinkMvRewrite.register(tableDir, mvDir)
  }

  def refresh(spark: SparkSession, tableDir: String, name: String)
      : SinkMatView.RefreshStats =
    SinkMvDist.refresh(spark, tableDir, existing(tableDir, name))

  /** Re-wire a PERSISTED MV into the rewrite — registration is
    * in-memory, so after a JVM restart the state directory survives but
    * the rewrite no longer consults it (the census shows
    * `registered = false`). `SET TBLPROPERTIES ('graft.mv.attach' =
    * '<name>')` re-attaches without rebuilding state (review fix: the
    * only previous SQL remedy was UNSET + a full re-create).
    */
  def attach(tableDir: String, name: String): Unit =
    SinkMvRewrite.register(tableDir, existing(tableDir, name))

  def drop(tableDir: String, name: String): Unit = {
    val mvDir = existing(tableDir, name)
    SinkMvRewrite.unregister(tableDir, mvDir)
    SinkFs.deleteRecursively(new java.io.File(mvDir))
  }

  /** Driver-checked SQL MV LIFECYCLE (round 19): create → rewrite →
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
      SinkLifecycles.docs(s, 1200, 2, lo, hi)
        .writeTo("graft_mvsq.docs_mvsq").append()
    ingest(0L, 900L) // v1
    val dir = new java.io.File(root.getPath, "docs_mvsq").getPath
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      // c — CREATE via property DDL (the definition reuses the header's
      // field grammar; the create is version-neutral on the table)
      s.sql("""ALTER TABLE graft_mvsq.docs_mvsq SET TBLPROPERTIES ('graft.mv.rollup' =
        '{"group":"shard","buckets":8,"aggs":[{"n":"n_docs","k":"count","e":""},{"n":"sum_ids","k":"sum","e":"doc_id"}]}')""")
      def q = s.sql(
        """SELECT shard, count(*) AS n_docs, sum(doc_id) AS sum_ids
          |FROM graft_mvsq.docs_mvsq GROUP BY shard""".stripMargin)
      val r0 = SinkMvRewrite.rewrites.get()
      // s1 — the SQL rollup answers from state, zero base files
      val c1 = ShardSink.dataFileReadCount.get()
      val got1 = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val s1Files = ShardSink.dataFileReadCount.get() - c1
      // s2 — append a tail, refresh through the SQL key, re-query
      ingest(900L, 1200L) // v2
      s.sql("ALTER TABLE graft_mvsq.docs_mvsq SET TBLPROPERTIES ('graft.mv.refresh' = 'rollup')")
      val c2 = ShardSink.dataFileReadCount.get()
      val got2 = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val s2Files = ShardSink.dataFileReadCount.get() - c2
      // m — the census
      val mvs = s.sql(
        """SELECT name, group_cols, aggs, buckets, src_version, mv_version,
          |       n_segments, watermark_current, registered
          |FROM graft_mvsq.docs_mvsq.mvs""".stripMargin).collect()
      val m = mvs.head
      // r — a JVM restart loses the IN-MEMORY registration while the
      // state dir survives: simulate the detach, observe the census
      // showing it, RE-ATTACH through SQL, and the rewrite resumes on
      // the existing state (s3, zero files — no rebuild)
      SinkMvRewrite.unregister(dir, mvDirFor(dir, "rollup"))
      val detached = s.sql(
        "SELECT registered FROM graft_mvsq.docs_mvsq.mvs").collect().head.getBoolean(0)
      s.sql("ALTER TABLE graft_mvsq.docs_mvsq SET TBLPROPERTIES ('graft.mv.attach' = 'rollup')")
      val c3 = ShardSink.dataFileReadCount.get()
      q.collect()
      val s3Files = ShardSink.dataFileReadCount.get() - c3
      // d — DROP via UNSET: the query falls back and the census empties
      s.sql("ALTER TABLE graft_mvsq.docs_mvsq UNSET TBLPROPERTIES ('graft.mv.rollup')")
      val r3 = SinkMvRewrite.rewrites.get()
      val got3 = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val dExtra = SinkMvRewrite.rewrites.get() - r3 // 0
      val nMvsAfter = s.sql("SELECT * FROM graft_mvsq.docs_mvsq.mvs").count()
      val nRewrites = SinkMvRewrite.rewrites.get() - r0 // s1 + s2 + s3 = 3
      import s.implicits._
      val df1 = got1.toSeq.toDF("shard", "s1_n", "s1_sum")
      val df2 = got2.toSeq.toDF("shard", "s2_n", "s2_sum")
      val df3 = got3.toSeq.toDF("shard", "d_n", "d_sum")
      df1.join(df2, "shard").join(df3, "shard")
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
        .withColumn("s3_files_opened", lit(s3Files))
        .withColumn("n_mvs_before", lit(mvs.length.toLong))
        .withColumn("n_mvs_after", lit(nMvsAfter))
        .withColumn("d_extra_rewrites", lit(dExtra))
        .withColumn("n_rewrites", lit(nRewrites))
        .withColumn("s1_files_opened", lit(s1Files))
        .withColumn("s2_files_opened", lit(s2Files))
        .orderBy("shard")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
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

  /** One `.mvs` census row, rendering-ready. */
  final case class MvInfo(
      name: String, groups: String, pred: String, aggs: String, buckets: Int,
      srcV: Long, mvVersion: Long, nSegments: Int, stateBytes: Long,
      registered: Boolean)

  /** Every DDL-conventional MV of a table (siblings named
    * `<base>.mv-<name>` holding a committed distributed-MV header),
    * sorted by name — the `.mvs` metadata-table source.
    */
  def list(tableDir: String): Seq[MvInfo] = {
    val base = new java.io.File(tableDir)
    val prefix = base.getName + ".mv-"
    Option(base.getParentFile).flatMap(p => Option(p.listFiles()))
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .sortBy(_.getName).toSeq
      .flatMap { d =>
        if (SinkMvDist.currentVersion(d.getPath) == 0L) None
        else {
          val h = SinkMvDist.describe(d.getPath)
          Some(MvInfo(
            d.getName.stripPrefix(prefix), h.groups.mkString(","), h.pred,
            h.aggs.map(a =>
              if (a.e.isEmpty) s"${a.name}:${a.kind}"
              else s"${a.name}:${a.kind}(${a.e})").mkString(","),
            h.buckets, h.srcV, h.mvVersion, h.nSegments, h.stateBytes,
            SinkMvRewrite.isRegistered(tableDir, d.getPath)))
        }
      }
  }
}
