package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MV definition surface and change algebra shared by [[SinkMvDist]]
  * (the materialized-view engine) and [[SinkMvRewrite]] (the rule that
  * answers group-bys from it).
  *
  * An MV is `SELECT <groups>, agg1, agg2, … FROM t [WHERE pred] GROUP BY
  * <groups>` for a declared list of aggregates ([[MvAgg]]) — or the same
  * over `fact ⋈ dim1 ⋈ … ⋈ dimk`, each dim's columns under its prefix
  * (`d_region`). It is built once by a full scan pinned at the source's
  * version and then kept by folding the signed change feed of the commits
  * since: refresh cost is O(changed rows), never O(table).
  *
  * Incremental math, per group (sign = +1 insert/update_postimage, −1
  * delete/update_preimage):
  *   - count:  n' = n + Σ sign
  *   - sum:    s' = s + Σ sign·v (nulls absent on both sides, exactly
  *             SQL's sum-ignores-null; a non-null counter per slot nulls
  *             the value when the last non-null contribution leaves)
  *   - bit_xor: x' = x ⊕ xor(all change values) — xor is its own inverse
  *   - min/max: folded at NET value grain — an in-window insert+delete of
  *             the same value cancels — and a net removal of the recorded
  *             extreme that no net addition re-covers makes the group
  *             DIRTY, re-aggregated by one source scan over the dirty groups.
  *
  * Join MVs keep the classical delta-join decomposition
  * ([[contributionStream]]):
  *
  *   J(f', d') − J(f, d) = [Δd ⋈ f] + [Δf ⋈ d']
  *
  * so a dim UPDATE moves fact rows between groups (−old attributes,
  * +new attributes against the same fact rows), a dim INSERT pulls
  * previously-unjoined fact rows in and a dim DELETE drops them, with
  * neither table rescanned. The dim's join key must be UNIQUE: checked on
  * create and re-checked per window for the changed keys
  * ([[requireUniqueKeys]]).
  *
  * Exactness inherits the change feed's contract: merge-on-read DML and
  * appends derive exactly from the manifest diff; copy-on-write DML needs
  * `cdf.enabled` on the table (a refresh over a non-derivable commit fails
  * loudly, never silently drifts).
  */
object SinkMatView {

  /** One declared aggregate: result column `name`, `kind` ∈
    * count|sum|xor|min|max|dsum|dmin|dmax|smin|smax, `e` a Spark-SQL
    * expression over the source's columns (ignored for count). Expressions
    * must be deterministic; the BIGINT kinds cast them to BIGINT.
    */
  final case class MvAgg(name: String, kind: String, e: String = "")

  final case class RefreshStats(
      fromV: Long, toV: Long, changeRows: Long, dirtyGroups: Long,
      mvVersion: Long, applied: Boolean)

  final case class MvConflict(mvDir: String, version: Long, msg: String)
    extends RuntimeException(
      s"concurrent MV refresh lost the flip to state version $version at $mvDir: $msg")

  // "dsum" (round 18): an EXACT-DECIMAL sum over a fractional column —
  // per-row values cast to DECIMAL(24,6), partials held as DECIMAL(30,6)
  // so the incremental fold (including retractions) is exact arithmetic;
  // a double-typed partial would drift (a + b − b ≠ a in IEEE). Exposed
  // to readers as DOUBLE.
  // "dmin"/"dmax"/"smin"/"smax" (round 19): TYPED extremes — min/max
  // over DOUBLE and STRING columns. Same net-grain fold and the same
  // clean-or-dirty decision table as the BIGINT extremes (comparisons,
  // not arithmetic — no precision caveat); only the value-grain cast and
  // the state cell type differ.
  private val Kinds =
    Set("count", "sum", "xor", "min", "max", "dsum", "dmin", "dmax", "smin", "smax")

  private[sources] def isExtremeKind(k: String): Boolean =
    k == "min" || k == "max" || k == "dmin" || k == "dmax" || k == "smin" || k == "smax"
  private[sources] def isMinKind(k: String): Boolean =
    k == "min" || k == "dmin" || k == "smin"
  /** The type an extreme slot's value-grain fold compares in. */
  private[sources] def extremeValueType(k: String): DataType = k match {
    case "min" | "max" => LongType
    case "dmin" | "dmax" => DoubleType
    case _ => StringType
  }

  /** dsum slot storage type (state cells + fold arithmetic). */
  private[sources] val DsumCell: DecimalType = DecimalType(30, 6)
  /** dsum per-row input cast — six fractional digits, exact for the
    * money/metric-shaped doubles a rollup MV sums; values needing more
    * precision should sum a scaled BIGINT instead.
    */
  private[sources] val DsumIn: DecimalType = DecimalType(24, 6)

  // ---- definitions -----------------------------------------------------------

  private[sources] def srcAt(spark: SparkSession, srcDir: String, v: Long): DataFrame =
    spark.read.format("graft.sources.ShardSinkSource")
      .option("path", srcDir).option("versionAsOf", v).load()

  private[sources] def changes(
      spark: SparkSession, srcDir: String, fromV: Long, toV: Long): DataFrame =
    spark.read.format("graft.sources.ShardSinkSource")
      .option("path", srcDir).option("readChangeFeed", "true")
      .option("changeFeedFrom", fromV).option("changeFeedTo", toV).load()

  private[sources] def aggColumn(a: MvAgg): Column = a.kind match {
    case "count" => count(lit(1)).as(a.name)
    case "sum" => sum(expr(a.e).cast(LongType)).as(a.name)
    case "xor" => expr(s"bit_xor(cast((${a.e}) as bigint))").as(a.name)
    case "dsum" => sum(expr(a.e).cast(DsumIn)).cast(DsumCell).as(a.name)
    case k if isExtremeKind(k) =>
      val v = expr(a.e).cast(extremeValueType(k))
      (if (isMinKind(k)) min(v) else max(v)).as(a.name)
  }

  private def badChars(e: String): Boolean =
    e.exists(c => c == '\n' || c == '\r' || c == '\t')

  private[sources] def validate(groups: Seq[String], aggs: Seq[MvAgg], pred: String): Unit = {
    require(groups.nonEmpty, "an MV needs at least one group column")
    require(groups.distinct.length == groups.length, s"duplicate group columns: $groups")
    require(aggs.nonEmpty, "an MV needs at least one aggregate")
    // group liveness (drop at zero, resurrect on re-insert) derives from
    // the count — a count-less view could keep phantom groups whose
    // every row was retracted
    require(aggs.exists(_.kind == "count"),
      "an MV must include a count aggregate (group liveness derives from it)")
    val names = aggs.map(_.name)
    require(names.distinct.length == names.length, s"duplicate agg names: $names")
    // line breaks and tabs stay out of definitions (each is one line of
    // SQL); quotes and backslashes are fine — the header codec escapes them
    require(!badChars(pred), "the MV predicate must not contain newlines/tabs")
    aggs.foreach { a =>
      require(Kinds(a.kind), s"unknown MV agg kind '${a.kind}' (${Kinds.mkString("/")})")
      require(a.name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid agg name '${a.name}'")
      require(a.kind == "count" || a.e.nonEmpty, s"agg ${a.name}: ${a.kind} needs an expression")
      require(!badChars(a.e), s"agg ${a.name}: expression must not contain newlines/tabs")
      require(!groups.contains(a.name), s"agg ${a.name} collides with a group column")
    }
  }

  /** The MV's WHERE clause applied to any frame with the source's data
    * columns — the full build, the change rows, the dirty recompute.
    */
  private[sources] def filtered(df: DataFrame, pred: String): DataFrame =
    if (pred.isEmpty) df else df.where(expr(pred))

  /** Group-key extraction from a collected aggregation row whose first
    * `g` columns are the group columns (null group values stay null).
    */
  private[sources] def keyOf(r: Row, g: Int): List[String] =
    (0 until g).map(i => if (r.isNullAt(i)) null else r.get(i).toString).toList

  /** The dirty-group recompute filter: OR of per-group conjunctions,
    * typed literals so source pruning (shard stats, column envelopes)
    * still engages on the recompute scan.
    */
  private[sources] def groupFilter(
      groups: Seq[String], gtypes: Seq[String], keys: Seq[List[String]]): Column =
    keys.map { parts =>
      groups.zip(gtypes).zip(parts).map { case ((c, t), p) =>
        if (p == null) col(c).isNull
        else col(c) === lit(t match {
          case "int" => p.toInt
          case "long" => p.toLong
          case _ => p
        })
      }.reduce(_ && _)
    }.reduce(_ || _)

  // ---- the delta-join algebra -------------------------------------------------

  /** The dim side under its prefix (`d_` for the classic star MV; a
    * snowflake MV names one per dim, e.g. `d1_`/`d2_`). `extra` columns
    * (a sign computed from the dim change feed) ride along un-prefixed.
    * Only the KNOWN change-feed columns are excluded from prefixing — an
    * underscore-leading dim DATA column (legal per ADD COLUMN's
    * identifier rule, e.g. `_score`) is a real definition-surface column
    * and appears as `d__score`, instead of silently vanishing from the
    * join.
    */
  private val FeedCols = Set("_change_type", "_commit_version", "_sign")
  private def dimView(df: DataFrame, pfx: String, extra: Seq[String] = Nil): DataFrame = {
    val dataCols = df.columns.filterNot(c => FeedCols.contains(c) || extra.contains(c))
    df.select(extra.map(col) ++ dataCols.map(c => col(c).as(s"$pfx$c")): _*)
  }

  /** `left ⋈ dim ON left.fk = dim.<pfx>pk` — `left` is the fact, or (in a
    * snowflake chain) the fact already joined to earlier dims, with `fk`
    * resolving against any of its columns (so a chain dim can key off a
    * PREFIXED column of an earlier dim, e.g. fk = "d1_cat").
    */
  private def joinedFrame(
      left: DataFrame, dimPrefixed: DataFrame, fk: String, pk: String, pfx: String): DataFrame =
    left.join(dimPrefixed, left(fk) === dimPrefixed(s"$pfx$pk"), "inner")

  private[sources] def signOf(changeType: Column): Column =
    when(changeType.isin("insert", "update_postimage"), 1L).otherwise(-1L)

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
    * (a streamed micro-batch, pre-signed with `_sign`), which
    * [[contributionStream]] uses instead of re-deriving the window from
    * the commit log, so the streaming path shares every line of the join
    * algebra without paying a second feed read.
    */
  private[sources] final case class DimWindow(
      dim: String, fk: String, pk: String, pfx: String, fromV: Long, toV: Long,
      delta: Option[DataFrame] = None)

  /** THE signed contribution stream of one refresh window — the
    * delta-join decomposition, generalized to a dim CHAIN and applied in
    * a fixed composition order so the windows telescope exactly:
    *
    *   J(f′, d1′, …, dk′) − J(f, d1, …, dk)
    *     = Σᵢ [ f@old ⋈ d1′…dᵢ₋₁′@NEW ⋈ Δdᵢ ⋈ dᵢ₊₁…dk@OLD ]
    *     +    [ Δf ⋈ d1′…dk′@NEW ]
    *
    * — dim i's delta joins every EARLIER dim at its new version and every
    * LATER dim at its old version; the fact delta joins all dims new.
    * The batch refresh, the streaming refresh and the rewrite's join tail
    * all fold this one frame.
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
          changes(spark, d.dim, d.fromV, d.toV)
            .withColumn("_sign", signOf(col("_change_type"))))
        val dChPrefixed = dimView(dCh, d.pfx, extra = Seq("_sign"))
        requireUniqueKeys(
          srcAt(spark, d.dim, d.toV), d.pk,
          dChPrefixed.select(col(s"${d.pfx}${d.pk}").as(d.pk)))
        parts += dims.zipWithIndex.foldLeft(srcAt(spark, fact, factV)) { case (acc, (dj, j)) =>
          val side =
            if (j < i) dimView(srcAt(spark, dj.dim, dj.toV), dj.pfx)
            else if (j == i) dChPrefixed
            else dimView(srcAt(spark, dj.dim, dj.fromV), dj.pfx)
          joinedFrame(acc, side, dj.fk, dj.pk, dj.pfx)
        }
      }
    }
    if (factTo > factV) {
      val fCh = factDelta.getOrElse(
        changes(spark, fact, factV, factTo)
          .withColumn("_sign", signOf(col("_change_type"))))
        .drop("_change_type", "_commit_version")
      parts += dims.foldLeft(fCh) { (acc, dj) =>
        joinedFrame(acc, dimView(srcAt(spark, dj.dim, dj.toV), dj.pfx), dj.fk, dj.pk, dj.pfx)
      }
    }
    require(parts.nonEmpty, "empty refresh window has no contribution stream")
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The joined fact⋈dims relation pinned at explicit versions (each
    * DimWindow read at its `toV`) — the full build's and the dirty-group
    * recompute's source.
    */
  private[sources] def joinedAt(
      spark: SparkSession, fact: String, factV: Long, dims: Seq[DimWindow]): DataFrame =
    dims.foldLeft(srcAt(spark, fact, factV)) { (acc, d) =>
      joinedFrame(acc, dimView(srcAt(spark, d.dim, d.toV), d.pfx), d.fk, d.pk, d.pfx)
    }
}
