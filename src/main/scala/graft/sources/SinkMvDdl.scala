package graft.sources

import org.apache.spark.sql.SparkSession

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
