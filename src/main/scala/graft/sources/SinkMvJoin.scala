package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MATERIALIZED VIEWS OVER A JOIN (round 16) — the star-schema rollup a
  * reporting MV actually materializes:
  *
  *   `SELECT <groups>, aggs… FROM fact f JOIN dim d ON f.<fk> = d.<pk>
  *    [WHERE pred] GROUP BY <groups>`
  *
  * over TWO ShardSink tables, maintained incrementally from BOTH change
  * feeds. In every expression (groups, aggregates, predicate) the dim's
  * columns appear under a `d_` prefix (`d_region`, `d_body`) — the two
  * tables share core column names, so the prefix is the disambiguator,
  * fixed at definition time.
  *
  * Incremental maintenance is the classical delta-join decomposition:
  *
  *   J(f', d') − J(f, d) = [Δd ⋈ f] + [Δf ⋈ d']
  *
  * applied in that order — dim deltas join the OLD fact snapshot (at the
  * fact watermark), then fact deltas join the NEW dim snapshot — so the
  * two windows compose exactly. A dim UPDATE contributes its pre-image
  * rows (−, old attributes) and post-image rows (+, new attributes)
  * against the same fact rows: fact rows MOVE between groups without
  * either table rescanning. A dim INSERT pulls previously-unjoined fact
  * rows INTO the view (inner-join semantics); a dim DELETE drops them.
  * Each signed contribution stream then feeds the SAME net-grain fold as
  * the single-table MV ([[SinkMatView.foldChanges]]); min/max that go
  * underivable are recomputed by ONE join of fact⋈dim at the target
  * versions, pruned to the dirty groups.
  *
  * The dim's join key must be UNIQUE (checked on create with one
  * distributed aggregate, and re-checked per refresh for the window's
  * CHANGED keys only — a duplicate would silently double contributions,
  * so it fails loudly instead). State/versioning/vacuum are the blob
  * MV's, with TWO source watermarks (`factV`, `dimV`) in the header.
  */
object SinkMvJoin {
  import SinkMatView.{MvAgg, MvConflict, RefreshStats}

  private val StateV = """_mvj\.v(\d+)\.json""".r

  private final case class MvjState(
      fact: String, dim: String, fk: String, pk: String,
      groups: Seq[String], gtypes: Seq[String], pred: String,
      factV: Long, dimV: Long, aggs: Seq[MvAgg],
      rows: Map[List[String], Array[Option[Long]]])

  private def writeState(mvDir: String, version: Long, st: MvjState): Unit =
    SinkMatView.flipState(mvDir, "_mvj", version,
      SinkMeta.encode(SinkMeta.MvjHeader(st.fact, st.dim, st.fk, st.pk,
        st.groups, st.gtypes, st.pred, st.factV, st.dimV, st.aggs)),
      SinkMatView.rowLines(st.rows))

  def currentVersion(mvDir: String): Long = SinkMatView.ladderVersion(mvDir, StateV)

  private def readStateAt(mvDir: String, v: Long): MvjState = {
    val (h, body) = SinkMatView.readStateFile[SinkMeta.MvjHeader](mvDir, "_mvj", v)
    MvjState(h.fact, h.dim, h.fk, h.pk, h.group, h.gtype, h.pred, h.factV, h.dimV, h.aggs,
      SinkMatView.parseRows(mvDir, body, h.group.length, h.aggs.length))
  }

  private def readState(mvDir: String): MvjState = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no join materialized view at $mvDir (create it first)")
    readStateAt(mvDir, v)
  }

  /** (fact watermark, dim watermark) the current state provably reflects. */
  def lastSourceVersions(mvDir: String): (Long, Long) = {
    val st = readState(mvDir)
    (st.factV, st.dimV)
  }

  // ---- the joined relation --------------------------------------------------

  /** The dim side under its prefix (`d_` for the classic star MV; a
    * snowflake MV names one per dim, e.g. `d1_`/`d2_`). `extra` columns
    * (a sign computed from the dim change feed) ride along un-prefixed.
    * Only the KNOWN change-feed columns are excluded from prefixing — an
    * underscore-leading dim DATA column (legal per ADD COLUMN's
    * identifier rule, e.g. `_score`) is a real definition-surface column
    * and appears as `d__score`, instead of silently vanishing from the
    * join (review fix).
    */
  private val FeedCols = Set("_change_type", "_commit_version", "_sign")
  private[sources] def dimView(
      df: DataFrame, pfx: String = "d_", extra: Seq[String] = Nil): DataFrame = {
    val dataCols = df.columns.filterNot(c => FeedCols.contains(c) || extra.contains(c))
    df.select(extra.map(col) ++ dataCols.map(c => col(c).as(s"$pfx$c")): _*)
  }

  /** `left ⋈ dim ON left.fk = dim.<pfx>pk` — `left` is the fact, or (in a
    * snowflake chain) the fact already joined to earlier dims, with `fk`
    * resolving against any of its columns (so a chain dim can key off a
    * PREFIXED column of an earlier dim, e.g. fk = "d1_cat").
    */
  private[sources] def joinedFrame(
      left: DataFrame, dimPrefixed: DataFrame, fk: String, pk: String,
      pfx: String = "d_"): DataFrame =
    left.join(dimPrefixed, left(fk) === dimPrefixed(s"$pfx$pk"), "inner")

  private def factAt(spark: SparkSession, st: MvjState, v: Long): DataFrame =
    SinkMatView.srcAt(spark, st.fact, v)
  private def dimAt(spark: SparkSession, st: MvjState, v: Long): DataFrame =
    SinkMatView.srcAt(spark, st.dim, v)

  private[sources] def signOf(changeType: Column): Column =
    when(changeType.isin("insert", "update_postimage"), 1L).otherwise(-1L)

  /** Group-type resolution for a join definition: `d_`-prefixed names
    * resolve against the dim schema, everything else against the fact —
    * ONE rule shared by the blob and distributed join MVs.
    */
  private[sources] def resolveJoinGtypes(
      fSchema: StructType, dSchema: StructType, groups: Seq[String]): Seq[String] =
    groups.map { g =>
      if (g.startsWith("d_") && dSchema.fieldNames.contains(g.stripPrefix("d_")))
        SinkMatView.gtypeOf(dSchema(g.stripPrefix("d_")).dataType)
      else {
        require(fSchema.fieldNames.contains(g),
          s"group column '$g' resolves in neither fact (${fSchema.fieldNames.mkString(",")}) " +
            s"nor dim under d_ (${dSchema.fieldNames.map("d_" + _).mkString(",")})")
        SinkMatView.gtypeOf(fSchema(g).dataType)
      }
    }

  /** Fail loudly if any CHANGED dim key now maps to more than one live
    * dim row — the uniqueness the delta-join decomposition requires.
    */
  private[sources] def requireUniqueKeys(
      dimLive: DataFrame, pk: String, changedKeys: DataFrame): Unit = {
    val dup = dimLive.join(changedKeys.distinct(), Seq(pk), "left_semi")
      .groupBy(col(pk)).count().where(col("count") > 1L).limit(1).count()
    require(dup == 0L,
      s"join-MV dim key '$pk' is not unique after this window — refusing a fold " +
        "that would double contributions")
  }

  /** One dim of a join definition inside a refresh window: its directory,
    * the join key (`fk` resolves against the fact or an EARLIER dim's
    * prefixed columns — the snowflake chain), its unique key `pk`, its
    * column prefix, and its version window (fromV == toV ⇒ unchanged).
    * `delta`, when set, is this window's change rows ALREADY MATERIALIZED
    * (a streamed micro-batch, pre-signed with `_sign`) — the builder uses
    * it instead of re-deriving the window from the commit log, so the
    * streaming path shares every line of the join algebra without paying
    * a second feed read.
    */
  private[sources] final case class DimWindow(
      dim: String, fk: String, pk: String, pfx: String, fromV: Long, toV: Long,
      delta: Option[DataFrame] = None)

  /** THE shared signed contribution stream of one refresh window — the
    * delta-join decomposition, generalized to a dim CHAIN and applied in
    * a fixed composition order so the windows telescope exactly:
    *
    *   J(f′, d1′, …, dk′) − J(f, d1, …, dk)
    *     = Σᵢ [ f@old ⋈ d1′…dᵢ₋₁′@NEW ⋈ Δdᵢ ⋈ dᵢ₊₁…dk@OLD ]
    *     +    [ Δf ⋈ d1′…dk′@NEW ]
    *
    * — dim i's delta joins every EARLIER dim at its new version and every
    * LATER dim at its old version; the fact delta joins all dims new.
    * One builder for BOTH state backends: the blob MV
    * ([[SinkMvJoin.refreshOnce]]) and the distributed bucketed state
    * ([[SinkMvDist]]'s join refresh) feed the SAME frame to their folds.
    * Parts expose their snapshots' OWN columns and union BY NAME with
    * null-fill — a column added between the watermarks is NULL in the
    * old-snapshot part, which is exactly what those rows held there (a
    * fixed newest-schema column list would fail to resolve on the pinned
    * old snapshot and wedge the refresh). Changed dim keys are
    * uniqueness-checked per window. At least one window must be
    * non-empty. Signs ride on the single Δ side of each part: a dim
    * update is (−old attrs, +new attrs) against the SAME joined rows, so
    * rows MOVE between groups with no rescan.
    */
  private[sources] def contributionStream(
      spark: SparkSession, fact: String, factV: Long, factTo: Long,
      dims: Seq[DimWindow], factDelta: Option[DataFrame] = None): DataFrame = {
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    dims.zipWithIndex.foreach { case (d, i) =>
      if (d.toV > d.fromV) {
        val dCh = d.delta.getOrElse(
          SinkMatView.changes(spark, d.dim, d.fromV, d.toV)
            .withColumn("_sign", signOf(col("_change_type"))))
        val dChPrefixed = dimView(dCh, d.pfx, extra = Seq("_sign"))
        requireUniqueKeys(
          SinkMatView.srcAt(spark, d.dim, d.toV), d.pk,
          dChPrefixed.select(col(s"${d.pfx}${d.pk}").as(d.pk)))
        parts += dims.zipWithIndex.foldLeft(
          SinkMatView.srcAt(spark, fact, factV)) { case (acc, (dj, j)) =>
          val side =
            if (j < i) dimView(SinkMatView.srcAt(spark, dj.dim, dj.toV), dj.pfx)
            else if (j == i) dChPrefixed
            else dimView(SinkMatView.srcAt(spark, dj.dim, dj.fromV), dj.pfx)
          joinedFrame(acc, side, dj.fk, dj.pk, dj.pfx)
        }
      }
    }
    if (factTo > factV) {
      val fCh = factDelta.getOrElse(
        SinkMatView.changes(spark, fact, factV, factTo)
          .withColumn("_sign", signOf(col("_change_type"))))
        .drop("_change_type", "_commit_version")
      parts += dims.foldLeft(fCh) { (acc, dj) =>
        joinedFrame(acc, dimView(SinkMatView.srcAt(spark, dj.dim, dj.toV), dj.pfx),
          dj.fk, dj.pk, dj.pfx)
      }
    }
    require(parts.nonEmpty, "empty refresh window has no contribution stream")
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The joined fact⋈dims relation pinned at explicit versions (each
    * DimWindow read at its `toV`) — the dirty-group recompute target both
    * backends aggregate over.
    */
  private[sources] def joinedAt(
      spark: SparkSession, fact: String, factV: Long,
      dims: Seq[DimWindow]): DataFrame =
    dims.foldLeft(SinkMatView.srcAt(spark, fact, factV)) { (acc, d) =>
      joinedFrame(acc, dimView(SinkMatView.srcAt(spark, d.dim, d.toV), d.pfx),
        d.fk, d.pk, d.pfx)
    }

  // ---- create ---------------------------------------------------------------

  /** Full join-scan creation pinned at BOTH tables' current versions.
    * Group columns resolve against the fact schema, or the dim schema
    * under the `d_` prefix; aggregates and the predicate may reference
    * both sides the same way.
    */
  def create(
      spark: SparkSession, factDir: String, dimDir: String, mvDir: String,
      fk: String, pk: String, groups: Seq[String], aggs: Seq[MvAgg],
      where: String = ""): (Long, Long) = {
    SinkMatView.validate(groups, aggs, where)
    aggs.find(a => SinkMatView.DistOnlyKinds(a.kind)).foreach(a => sys.error(
      s"${a.kind} needs typed state cells — supported by the DISTRIBUTED MV (SinkMvDist) only"))
    require(currentVersion(mvDir) == 0L, s"join materialized view already exists at $mvDir")
    val factV = ShardSink.currentManifestVersion(factDir)
    val dimV = ShardSink.currentManifestVersion(dimDir)
    require(factV > 0L && dimV > 0L,
      s"create the join MV after both tables' first commits ($factDir v$factV, $dimDir v$dimV)")
    val fSchema = ShardSink.schemaAtVersion(factDir, factV)
    val dSchema = ShardSink.schemaAtVersion(dimDir, dimV)
    require(fSchema.fieldNames.contains(fk), s"join key '$fk' not in fact ${fSchema.fieldNames.mkString(",")}")
    require(dSchema.fieldNames.contains(pk), s"join key '$pk' not in dim ${dSchema.fieldNames.mkString(",")}")
    val gtypes = resolveJoinGtypes(fSchema, dSchema, groups)
    val st = MvjState(factDir, dimDir, fk, pk, groups, gtypes, where, factV, dimV, aggs, Map.empty)
    val dim = dimAt(spark, st, dimV)
    requireUniqueKeys(dim, pk, dim.select(col(pk)))
    val g = groups.length
    val nnCols = aggs.map { a =>
      if (a.kind == "sum" || a.kind == "xor")
        count(when(expr(a.e).isNotNull, 1)).as(s"_nn_${a.name}")
      else lit(0L).as(s"_nn_${a.name}")
    }
    val aggCols = aggs.map(SinkMatView.aggColumn)
    val full = SinkMatView.filtered(
      joinedFrame(factAt(spark, st, factV), dimView(dim), fk, pk), where)
      .groupBy(groups.map(col): _*)
      .agg(aggCols.head, aggCols.tail ++ nnCols: _*)
      .collect() // bounded: the MV's result cardinality
    val na = aggs.length
    val rows = full.map { r =>
      SinkMatView.keyOf(r, g) -> (0 until 2 * na)
        .map(i => if (r.isNullAt(i + g)) None else Some(r.getLong(i + g))).toArray
    }.toMap
    writeState(mvDir, 1L, st.copy(rows = rows))
    (factV, dimV)
  }

  // ---- refresh --------------------------------------------------------------

  def refresh(spark: SparkSession, mvDir: String): RefreshStats = {
    var attempt = 0
    while (true) {
      val stateV = currentVersion(mvDir)
      require(stateV > 0L, s"no join materialized view at $mvDir (create it first)")
      val st = readStateAt(mvDir, stateV)
      val factTo = ShardSink.currentManifestVersion(st.fact)
      val dimTo = ShardSink.currentManifestVersion(st.dim)
      if (factTo <= st.factV && dimTo <= st.dimV)
        return RefreshStats(st.factV, st.factV, 0L, 0L, stateV, applied = false)
      try return refreshOnce(spark, mvDir, st, stateV, factTo, dimTo)
      catch {
        case _: MvConflict if attempt < 5 => attempt += 1
        case c: MvConflict => throw c
      }
    }
    sys.error("unreachable")
  }

  private def refreshOnce(
      spark: SparkSession, mvDir: String, st: MvjState,
      stateV: Long, factTo: Long, dimTo: Long): RefreshStats = {
    val win = Seq(DimWindow(st.dim, st.fk, st.pk, "d_", st.dimV, dimTo))
    val ch = contributionStream(spark, st.fact, st.factV, factTo, win).persist()
    try {
      val outcome = SinkMatView.foldChanges(
        st.groups, st.aggs, SinkMatView.filtered(ch, st.pred), col("_sign"), st.rows,
        (dirtyKeys, dirtyAggIdx) => {
          val aggsToFix = dirtyAggIdx.map(i => SinkMatView.aggColumn(st.aggs(i)))
          SinkMatView.filtered(
            joinedAt(spark, st.fact, factTo, win), st.pred)
            .where(SinkMatView.groupFilter(st.groups, st.gtypes, dirtyKeys))
            .groupBy(st.groups.map(col): _*)
            .agg(aggsToFix.head, aggsToFix.tail: _*)
            .collect() // bounded: |dirty groups|
        })
      val next = stateV + 1L
      writeState(mvDir, next,
        st.copy(factV = factTo, dimV = dimTo, rows = outcome.rows))
      RefreshStats(st.factV, factTo, outcome.changeRows, outcome.dirtyGroups, next,
        applied = true)
    } finally { ch.unpersist(); () }
  }

  // ---- read -------------------------------------------------------------------

  /** The view as a DataFrame `(groups…, aggs…)` — state blob only. */
  def read(spark: SparkSession, mvDir: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(mvDir))
    require(v > 0L, s"no join materialized view at $mvDir")
    val st = readStateAt(mvDir, v)
    val schema = StructType(
      st.groups.zip(st.gtypes).map { case (gName, t) =>
        StructField(gName, SinkMatView.gdt(t), nullable = true)
      } ++ st.aggs.map(a => StructField(a.name, LongType, nullable = true)))
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    st.rows.toSeq.sortBy(_._1.map(SinkMatView.gcell).mkString("\t")).foreach { case (k, vs) =>
      val gs = st.gtypes.zip(k).map { case (t, p) =>
        if (p == null) null else SinkMatView.gvalue(t, p)
      }
      rows.add(org.apache.spark.sql.Row.fromSeq(
        gs ++ vs.take(st.aggs.length).map(_.map(Long.box).orNull).toSeq))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Retention for the join MV's version ladder — the same rule as
    * [[SinkMatView.vacuum]]: keep the newest `retainVersions` states,
    * sweep the rest plus aged `_mvj.tmp-*` litter from crashed flips.
    */
  def vacuum(
      mvDir: String, retainVersions: Int = 1,
      olderThanMillis: Long = 7L * 24 * 3600 * 1000L): Seq[String] =
    SinkMatView.sweepStateLadder(mvDir, currentVersion(mvDir), retainVersions,
      olderThanMillis, { case StateV(n) => n.toLong }, "_mvj.tmp-")
}
