package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** INCREMENTALLY-MAINTAINED MATERIALIZED VIEWS over a ShardSink table,
  * driven by the table's exact change feed — the Delta/Snowflake
  * "incremental MV refresh" shape (Delta documents the same recipe as a
  * hand-rolled CDF-apply loop; here it is a first-class primitive).
  *
  * An MV is `SELECT <group>, agg1, agg2, … FROM t GROUP BY <group>` for a
  * declared list of aggregates over integral expressions:
  * `count` / `sum(e)` / `bit_xor(e)` / `min(e)` / `max(e)`. `create`
  * computes it once with a FULL distributed scan pinned at the source's
  * current manifest version; every later `refresh` reads ONLY the change
  * feed of the commits since the last refresh — `(lastV, currentV]` via
  * the `changeFeedFrom`/`changeFeedTo` options — and folds the signed
  * delta into the stored state. Refresh cost is O(changed rows), never
  * O(table): at the 100 TB design point the nightly rollup of a landing
  * zone that appended 0.1% re-reads 0.1%.
  *
  * Incremental math, per group:
  *   - count:  n' = n + Σ sign        (sign = +1 insert/update_postimage,
  *                                            -1 delete/update_preimage)
  *   - sum:    s' = s + Σ sign·v      (nulls absent on both sides, exactly
  *                                     SQL's sum-ignores-null)
  *   - bit_xor: x' = x ⊕ xor(all change values) — xor is its own inverse,
  *             so inserts add and deletes retract with the SAME fold
  *   - min/max: inserts extend directly (min(state, posMin)); a DELETE of
  *             the current extreme is NOT invertible from the aggregate
  *             alone, so such groups go DIRTY and their extremes are
  *             recomputed by ONE pruned scan at the target version,
  *             filtered to the dirty groups (shard-clustered tables prune
  *             that scan to the dirty groups' files). An update whose
  *             pre- and post-image carry the same extreme value does NOT
  *             dirty the group (posMin ≤ negMin ⇒ the floor cannot rise).
  *
  * State is a versioned blob in the MV's own directory: `_mv.v<N>.json`,
  * flipped with the SAME fresh-name election the table's manifest commit
  * uses ([[SinkFs.moveFresh]]) — a crash mid-refresh leaves the previous
  * state intact and a lost race re-reads and retries (idempotent: the
  * delta is re-derived from the immutable commit log). State size is
  * O(|groups|) — the MV's own result cardinality, small by definition for
  * a reporting rollup; the per-refresh `collect()` is the same bounded
  * control-plane shape as the table's 1-row agg heads.
  *
  * Exactness inherits the change feed's contract: merge-on-read DML and
  * appends derive exactly from the manifest diff; copy-on-write DML needs
  * `cdf.enabled` on the table (a refresh over a non-derivable commit
  * fails loudly, never silently drifts). All aggregate expressions are
  * cast to BIGINT — integer math only, no float drift under the oracle's
  * hash gate.
  */
object SinkMatView {

  /** One declared aggregate: result column `name`, `kind` ∈
    * count|sum|xor|min|max, `e` a Spark-SQL expression over the table's
    * columns (ignored for count). Expressions must be deterministic and
    * integral-valued (they are cast to BIGINT).
    */
  final case class MvAgg(name: String, kind: String, e: String = "")

  final case class RefreshStats(
      fromV: Long, toV: Long, changeRows: Long, dirtyGroups: Long,
      mvVersion: Long, applied: Boolean)

  // "dsum" (round 18): an EXACT-DECIMAL sum over a fractional column —
  // per-row values cast to DECIMAL(24,6), partials held as DECIMAL(30,6)
  // so the incremental fold (including retractions) is exact arithmetic;
  // a double-typed partial would drift (a + b − b ≠ a in IEEE). Exposed
  // to readers as DOUBLE. Distributed ([[SinkMvDist]]) state only — the
  // blob MVs' Long-cell codec cannot hold it and rejects it at create.
  // "dmin"/"dmax"/"smin"/"smax" (round 19): TYPED extremes — min/max
  // over DOUBLE and STRING columns. Same net-grain fold and the same
  // clean-or-dirty decision table as the BIGINT extremes (comparisons,
  // not arithmetic — no precision caveat); only the value-grain cast and
  // the state cell type differ. Distributed state only, like dsum.
  private val Kinds =
    Set("count", "sum", "xor", "min", "max", "dsum", "dmin", "dmax", "smin", "smax")

  /** The kinds whose state cells outgrow the blob MVs' Long-cell codec —
    * distributed ([[SinkMvDist]]) state only.
    */
  private[sources] val DistOnlyKinds = Set("dsum", "dmin", "dmax", "smin", "smax")
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
  private val StateV = """_mv\.v(\d+)\.json""".r

  // ---- state model -------------------------------------------------------

  /** `rows`: group-value tuple (raw value strings; null = SQL NULL
    * group) → `2 × |aggs|` cells: one VALUE per agg (None = SQL NULL)
    * followed by one NON-NULL COUNTER per agg. The counters exist for
    * sum/xor exactness: SQL's `sum(e)` is NULL exactly when no non-null
    * value remains, and that is not derivable from the running value
    * (retracting the last non-null contribution leaves 0, not NULL) —
    * so the fold maintains `nn` alongside and nulls the value when it
    * reaches zero. min/max re-derive NULL-ness through their dirty
    * recompute; count is never NULL. `pred` ("" = none) is the MV's
    * WHERE clause: only rows satisfying it contribute, on the full
    * build AND on every change row (an update whose pre-image matched
    * and whose post-image does not is a net retraction — filtered-MV
    * semantics fall out of the signed fold).
    */
  private final case class MvState(
      src: String, groups: Seq[String], gtypes: Seq[String], pred: String,
      srcV: Long, aggs: Seq[MvAgg], rows: Map[List[String], Array[Option[Long]]])

  private def escape(s: String): String =
    s.flatMap {
      case '%' => "%25"
      case '\t' => "%09"
      case '\n' => "%0A"
      case c => c.toString
    }
  private def unescape(s: String): String =
    s.replace("%09", "\t").replace("%0A", "\n").replace("%25", "%")

  private[sources] def cell(v: Option[Long]): String = v.map(_.toString).getOrElse("")
  private[sources] def uncell(s: String): Option[Long] =
    if (s.isEmpty) None else Some(s.toLong)

  /** Group cells: escaped value, or the unambiguous null marker ("%N"
    * cannot collide — escape() rewrites a literal '%' to "%25").
    */
  private[sources] def gcell(v: String): String = if (v == null) "%N" else escape(v)
  private[sources] def ungcell(s: String): String = if (s == "%N") null else unescape(s)

  private def writeState(mvDir: String, version: Long, st: MvState): Unit =
    flipState(mvDir, "_mv", version,
      SinkMeta.encode(SinkMeta.MvHeader(st.src, st.groups, st.gtypes, st.pred, st.srcV, st.aggs)),
      rowLines(st.rows))

  final case class MvConflict(mvDir: String, version: Long, msg: String)
    extends RuntimeException(
      s"concurrent MV refresh lost the flip to _mv.v$version.json at $mvDir: $msg")

  /** The state flip every MV ladder shares (`prefix` `_mv`, `_mvj` or
    * `_mvd`): the header record line and the body lines go to a tmp name,
    * then the SAME fresh-name election the table's manifest commit uses
    * moves them to `<prefix>.v<version>.json` — a lost race surfaces as
    * [[MvConflict]].
    */
  private[sources] def flipState(
      mvDir: String, prefix: String, version: Long, header: String, body: Seq[String]): Unit = {
    val tmp = new Path(mvDir, s"$prefix.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = SinkFs.create(tmp)
    try (header +: body).foreach { l => w.write(l); w.write("\n") } finally w.close()
    try SinkFs.moveFresh(tmp, new Path(mvDir, s"$prefix.v$version.json"))
    catch {
      case e: IllegalArgumentException =>
        SinkFs.delete(tmp)
        throw MvConflict(mvDir, version, e.getMessage)
    }
  }

  /** A state version's decoded header record and its body lines. */
  private[sources] def readStateFile[H: SinkMeta.Codec](
      mvDir: String, prefix: String, v: Long): (H, Seq[String]) = {
    val name = s"$prefix.v$v.json"
    val lines = SinkFs.readLines(new Path(mvDir, name))
    (SinkMeta.decode[H](lines.head, s"$mvDir/$name"), lines.tail)
  }

  /** Group rows as body lines, in a deterministic order: the blob's bytes
    * are a function of the state, not of HashMap iteration — diffable,
    * digest-stable.
    */
  private[sources] def rowLines(rows: Map[List[String], Array[Option[Long]]]): Seq[String] =
    rows.toSeq.sortBy(_._1.map(gcell).mkString("\t")).map { case (g, vs) =>
      (g.map(gcell) ++ vs.map(cell)).mkString("\t")
    }

  private[sources] def parseRows(
      mvDir: String, body: Seq[String], g: Int, nAggs: Int): Map[List[String], Array[Option[Long]]] =
    body.map { l =>
      val cs = l.split("\t", -1)
      require(cs.length == 2 * nAggs + g, s"torn MV state row at $mvDir: $l")
      cs.take(g).map(ungcell).toList -> cs.drop(g).map(uncell)
    }.toMap

  /** Highest committed state version of a ladder (`stateV` matches its
    * file names), 0 when the MV does not exist. The MV directory is tiny
    * (one blob per refresh) — a listing is fine.
    */
  private[sources] def ladderVersion(mvDir: String, stateV: scala.util.matching.Regex): Long =
    SinkFs.listFileNames(new Path(mvDir)).collect { case stateV(n) => n.toLong }
      .foldLeft(0L)(math.max)

  def currentVersion(mvDir: String): Long = ladderVersion(mvDir, StateV)

  private def readState(mvDir: String): MvState = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no materialized view at $mvDir (create it first)")
    readStateAt(mvDir, v)
  }

  private def readStateAt(mvDir: String, v: Long): MvState = {
    val (h, body) = readStateFile[SinkMeta.MvHeader](mvDir, "_mv", v)
    MvState(h.src, h.group, h.gtype, h.pred, h.srcV, h.aggs,
      parseRows(mvDir, body, h.group.length, h.aggs.length))
  }

  /** Source-version watermark of the MV's current state — what the MV
    * provably reflects (reads at or before this version agree with a
    * full recompute there).
    */
  def lastSourceVersion(mvDir: String): Long = readState(mvDir).srcV

  /** Retention for the MV's own version ladder: every refresh writes a
    * new state blob and a long-lived continuously-maintained view would
    * otherwise accumulate one file per refresh FOREVER (the same
    * unbounded-litter class the sink's vacuum closed for segments).
    * Keeps the newest `retainVersions` states (min 1 — the current state
    * is never a candidate) and deletes the rest plus any orphaned
    * `_mv.tmp-*` bodies from crashed flips. Time travel below the swept
    * horizon then fails with the ordinary missing-version error. Returns
    * the swept file names.
    */
  def vacuum(
      mvDir: String, retainVersions: Int = 1,
      olderThanMillis: Long = 7L * 24 * 3600 * 1000L): Seq[String] =
    sweepStateLadder(mvDir, currentVersion(mvDir), retainVersions,
      olderThanMillis, { case StateV(n) => n.toLong }, "_mv.tmp-")

  /** The ONE retention core every blob-state MV ladder shares (this
    * object's and [[SinkMvJoin]]'s; [[SinkMvDist]] adds segment rules on
    * top of the same policy): keep the newest `retainVersions` states,
    * sweep the rest plus AGE-GATED tmp litter from crashed flips (a
    * concurrent refresh's in-flight tmp body is younger and survives;
    * olderThanMillis = 0 sweeps everything and is only safe with no
    * refresh in flight). `versionOf` is the ladder's file-name matcher.
    */
  private[sources] def sweepStateLadder(
      mvDir: String, cur: Long, retainVersions: Int, olderThanMillis: Long,
      versionOf: PartialFunction[String, Long], tmpPrefix: String): Seq[String] = {
    require(retainVersions >= 1, "an MV must retain at least its current state")
    require(cur > 0L, s"no materialized view at $mvDir")
    val floor = math.max(1L, cur - retainVersions + 1L)
    val dirPath = new Path(mvDir)
    val fs = SinkFs.fsOf(dirPath)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val swept = SinkFs.listFileNames(dirPath).filter { n =>
      versionOf.andThen(_ < floor).applyOrElse(n, (x: String) =>
        x.startsWith(tmpPrefix) &&
          fs.getFileStatus(new Path(mvDir, x)).getModificationTime <= cutoff)
    }.sorted
    swept.foreach(n => SinkFs.delete(new Path(mvDir, n)))
    swept
  }

  // ---- plumbing ----------------------------------------------------------

  private[sources] def srcAt(spark: SparkSession, srcDir: String, v: Long): DataFrame =
    spark.read.format("graft.sources.ShardSinkSource")
      .option("path", srcDir).option("versionAsOf", v).load()

  private[sources] def changes(
      spark: SparkSession, srcDir: String, fromV: Long, toV: Long): DataFrame =
    spark.read.format("graft.sources.ShardSinkSource")
      .option("path", srcDir).option("readChangeFeed", "true")
      .option("changeFeedFrom", fromV).option("changeFeedTo", toV).load()

  private[sources] def gtypeOf(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType => "long"
    case StringType => "string"
    case other =>
      throw new IllegalArgumentException(
        s"unsupported MV group column type $other (int/long/string)")
  }
  private[sources] def gvalue(gtype: String, s: String): Any = gtype match {
    case "int" => s.toInt
    case "long" => s.toLong
    case _ => s
  }
  private[sources] def gdt(gtype: String): DataType = gtype match {
    case "int" => IntegerType
    case "long" => LongType
    case _ => StringType
  }

  private[sources] def aggColumn(a: MvAgg): org.apache.spark.sql.Column = a.kind match {
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
      groups: Seq[String], gtypes: Seq[String],
      keys: Seq[List[String]]): org.apache.spark.sql.Column =
    keys.map { parts =>
      groups.zip(gtypes).zip(parts).map { case ((c, t), p) =>
        if (p == null) col(c).isNull else col(c) === lit(gvalue(t, p))
      }.reduce(_ && _)
    }.reduce(_ || _)

  // ---- create ------------------------------------------------------------

  /** Full-scan creation, pinned at the source's CURRENT manifest version
    * (the scan reads `versionAsOf` that pin, so commits racing the create
    * are cleanly excluded and picked up by the first refresh). Returns
    * the pinned source version.
    */
  def create(
      spark: SparkSession, srcDir: String, mvDir: String,
      group: String, aggs: Seq[MvAgg]): Long =
    create(spark, srcDir, mvDir, Seq(group), aggs, where = "")

  /** Generalized creation: `SELECT g1, …, gk, aggs… FROM src [WHERE
    * pred] GROUP BY g1, …, gk`. NULL group values form their own group,
    * SQL-style.
    */
  def create(
      spark: SparkSession, srcDir: String, mvDir: String,
      groups: Seq[String], aggs: Seq[MvAgg], where: String): Long = {
    validate(groups, aggs, where)
    aggs.find(a => DistOnlyKinds(a.kind)).foreach(a => sys.error(
      s"${a.kind} needs typed state cells — supported by the DISTRIBUTED MV (SinkMvDist) only"))
    require(currentVersion(mvDir) == 0L, s"materialized view already exists at $mvDir")
    val srcV = ShardSink.currentManifestVersion(srcDir)
    require(srcV > 0L, s"no committed version at $srcDir — create the MV after the first commit")
    val schema = ShardSink.schemaAtVersion(srcDir, srcV)
    groups.foreach(g => require(schema.fieldNames.contains(g),
      s"group column '$g' not in ${schema.fieldNames.mkString(",")}"))
    val gtypes = groups.map(g => gtypeOf(schema(g).dataType))
    val g = groups.length
    val nnCols = aggs.map { a =>
      if (a.kind == "sum" || a.kind == "xor")
        count(when(expr(a.e).isNotNull, 1)).as(s"_nn_${a.name}")
      else lit(0L).as(s"_nn_${a.name}")
    }
    val full = filtered(srcAt(spark, srcDir, srcV), where)
      .groupBy(groups.map(col): _*)
      .agg(aggColumn(aggs.head), aggs.tail.map(aggColumn) ++ nnCols: _*)
      .collect() // bounded: the MV's result cardinality
    val na = aggs.length
    val rows = full.map { r =>
      keyOf(r, g) -> (0 until 2 * na)
        .map(i => if (r.isNullAt(i + g)) None else Some(r.getLong(i + g))).toArray
    }.toMap
    writeState(mvDir, 1L, MvState(srcDir, groups, gtypes, where, srcV, aggs, rows))
    srcV
  }

  // ---- refresh -----------------------------------------------------------

  /** Incremental refresh to the source's current version. Reads ONLY the
    * change feed of `(state.srcV, currentV]`; recomputes min/max for the
    * (usually few) groups whose recorded extreme was removed, via one
    * scan pruned to those groups. Retries a lost state-flip race by
    * re-reading (the winner may already have covered the window).
    */
  def refresh(spark: SparkSession, srcDir: String): RefreshStats =
    refresh(spark, srcDir, mvDirOf(srcDir))

  def refresh(spark: SparkSession, srcDir: String, mvDir: String): RefreshStats = {
    var attempt = 0
    while (true) {
      // pin the state version NOW: the flip targets stateV+1, so a
      // competing refresh that lands first surfaces as MvConflict (and a
      // re-read shows its coverage) — never a silently regressed
      // watermark written over a newer state
      val stateV = currentVersion(mvDir)
      require(stateV > 0L, s"no materialized view at $mvDir (create it first)")
      val st = readStateAt(mvDir, stateV)
      require(st.src == srcDir,
        s"MV at $mvDir materializes ${st.src}, not $srcDir")
      val toV = ShardSink.currentManifestVersion(srcDir)
      if (toV <= st.srcV)
        return RefreshStats(st.srcV, st.srcV, 0L, 0L, stateV, applied = false)
      try return refreshOnce(spark, srcDir, mvDir, st, stateV, toV)
      catch {
        case _: MvConflict if attempt < 5 => attempt += 1 // re-read, re-derive
        case c: MvConflict => throw c
      }
    }
    sys.error("unreachable")
  }

  /** One-shot interleave for the concurrency spec: runs after the delta
    * is derived but before the state flip — the window a competing
    * refresh can win (the spec runs a REAL refresh inside it and asserts
    * the loser retries into a no-op instead of double-applying).
    */
  private[sources] val refreshBarrier =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** Default MV location: a sibling directory — keeps the MV's blobs out
    * of the table directory (whose listings and vacuum sweeps must stay
    * table-only).
    */
  def mvDirOf(srcDir: String): String = srcDir.stripSuffix("/") + ".mv"

  /** STREAMING maintenance: apply ONE micro-batch of change rows (the
    * CDF stream delivers one commit per trigger) to the MV — the
    * `foreachBatch` body of a continuously-maintained rollup. Exactly
    * once across replays by the state's own watermark: a batch at or
    * below `srcV` is a recorded no-op (the flip that covered it already
    * committed), a batch more than one commit ahead fails loudly (the
    * stream delivers versions in order; a gap means a skipped commit and
    * a silently wrong view). The fold itself is the batch refresh's —
    * same net-grain extremes, same pruned dirty recompute at `toV`.
    */
  def refreshFromChanges(
      spark: SparkSession, srcDir: String, mvDir: String,
      ch: DataFrame, toV: Long): RefreshStats = {
    var attempt = 0
    while (true) {
      val stateV = currentVersion(mvDir)
      require(stateV > 0L, s"no materialized view at $mvDir (create it first)")
      val st = readStateAt(mvDir, stateV)
      require(st.src == srcDir, s"MV at $mvDir materializes ${st.src}, not $srcDir")
      if (toV <= st.srcV) // replayed or pre-create commit: already covered
        return RefreshStats(st.srcV, st.srcV, 0L, 0L, stateV, applied = false)
      if (toV > st.srcV + 1L) {
        // a NO-DATA commit (OPTIMIZE / ZORDER / ALTER / constraint DDL)
        // derives an EMPTY change feed, so it never arrives as a
        // micro-batch and the stream jumps from the last data commit
        // straight to this one. Fast-forwarding the watermark across the
        // gap is safe exactly when the skipped window is PROVABLY
        // change-free: re-derive it from the immutable commit log and
        // require zero rows. Anything else is a genuinely skipped data
        // commit and still fails loudly — the alternative is a silently
        // wrong view.
        val gapRows =
          changes(spark, srcDir, st.srcV, toV - 1L).limit(1).count()
        require(gapRows == 0L,
          s"streaming MV gap at $mvDir: batch carries commit $toV but the " +
            s"view reflects ${st.srcV} and commits (${st.srcV}, ${toV - 1L}] " +
            "carry change rows — commits must apply in order")
      }
      val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L)
      val cached = ch.persist()
      try return refreshFolds(spark, srcDir, mvDir, st, stateV, toV, cached, sign)
      catch {
        case _: MvConflict if attempt < 5 => attempt += 1
        case c: MvConflict => throw c
      } finally { cached.unpersist(); () }
    }
    sys.error("unreachable")
  }

  private def refreshOnce(
      spark: SparkSession, srcDir: String, mvDir: String,
      st: MvState, stateV: Long, toV: Long): RefreshStats = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    // the delta is read ONCE from disk and cached: the row-grain fold and
    // each extreme's value-grain fold are separate aggregations over it
    val ch = changes(spark, srcDir, st.srcV, toV).persist()
    try refreshFolds(spark, srcDir, mvDir, st, stateV, toV, ch, sign)
    finally { ch.unpersist(); () }
  }

  private def refreshFolds(
      spark: SparkSession, srcDir: String, mvDir: String,
      st: MvState, stateV: Long, toV: Long,
      ch: DataFrame, sign: org.apache.spark.sql.Column): RefreshStats = {
    val outcome = foldChanges(
      st.groups, st.aggs, filtered(ch, st.pred), sign, st.rows,
      // dirty-group recompute: ONE scan at the target version, pruned to
      // exactly those groups (shard-clustered files make this cheap)
      (dirtyKeys, dirtyAggIdx) => {
        val aggsToFix = dirtyAggIdx.map(i => aggColumn(st.aggs(i)))
        filtered(srcAt(spark, srcDir, toV), st.pred)
          .where(groupFilter(st.groups, st.gtypes, dirtyKeys))
          .groupBy(st.groups.map(col): _*)
          .agg(aggsToFix.head, aggsToFix.tail: _*)
          .collect() // bounded: |dirty groups|
      })
    val barrier = refreshBarrier.getAndSet(null)
    if (barrier != null) barrier()
    val next = stateV + 1L
    writeState(mvDir, next, st.copy(srcV = toV, rows = outcome.rows))
    RefreshStats(st.srcV, toV, outcome.changeRows, outcome.dirtyGroups, next,
      applied = true)
  }

  private[sources] final case class FoldOutcome(
      rows: Map[List[String], Array[Option[Long]]],
      changeRows: Long, dirtyGroups: Long)

  /** The MV fold core, definition-agnostic: takes the PRE-FILTERED,
    * signed change frame (any frame carrying the group columns and the
    * aggregate expressions' inputs — a table's change feed, or a join
    * MV's delta⋈dim contribution rows), the prior state rows, and a
    * recompute callback `(dirtyKeys, dirtyAggIdx) => rows` that
    * re-aggregates exactly the dirty groups at the refresh target
    * (single-table scan or join — the caller knows). Returns the folded
    * rows; the caller owns state layout, watermarks, and the flip.
    */
  private[sources] def foldChanges(
      groups: Seq[String], aggs: Seq[MvAgg],
      chF: DataFrame, sign: org.apache.spark.sql.Column,
      prior: Map[List[String], Array[Option[Long]]],
      recompute: (Seq[List[String]], Seq[Int]) => Array[Row]): FoldOutcome = {
    // row-grain pass: count/sum/xor are LINEAR — every change row folds
    // independently of any other
    val deltaCols = aggs.zipWithIndex.flatMap { case (a, i) =>
      a.kind match {
        case "count" => Seq(sum(sign).as(s"d$i"))
        case "sum" => Seq(
          sum(sign * expr(a.e).cast(LongType)).as(s"d$i"),
          // signed count of NON-NULL contributions: SQL's sum/xor are
          // NULL exactly when this reaches zero
          sum(sign * when(expr(a.e).isNotNull, 1L).otherwise(0L)).as(s"d${i}_nn"))
        case "xor" => Seq(
          expr(s"bit_xor(cast((${a.e}) as bigint))").as(s"d$i"),
          sum(sign * when(expr(a.e).isNotNull, 1L).otherwise(0L)).as(s"d${i}_nn"))
        case _ => Seq.empty // extremes fold at value grain below
      }
    }
    val countIdx = aggs.indexWhere(_.kind == "count")
    val g = groups.length
    val deltaRows = chF
      .groupBy(groups.map(col): _*)
      .agg(sum(sign).as("_dn"), count(lit(1)).as("_rows") +: deltaCols: _*)
      .collect() // bounded: groups TOUCHED by the window, ≤ MV cardinality
    // value-grain pass, one per distinct extreme expression: net(g, v) =
    // Σ sign over rows with that value — an in-window insert+delete of
    // the same value (and an in-place update's pre/post pair) cancels to
    // net 0 and VANISHES, so `pos` (net additions) are values that
    // genuinely survive the window and `neg` (net removals) genuinely
    // left. That makes the extreme fold exact where row-grain min/max
    // candidates could not distinguish "inserted then deleted" from
    // "inserted and kept".
    val extremeExprs = aggs.filter(a => a.kind == "min" || a.kind == "max")
      .map(_.e).distinct
    // expr → group key → (posMin, posMax, negMin, negMax)
    val extremes: Map[String, Map[List[String], (Option[Long], Option[Long], Option[Long], Option[Long])]] =
      extremeExprs.map { e =>
        val per = chF
          .groupBy(groups.map(col) :+ expr(e).cast(LongType).as("_mv_v"): _*)
          .agg(sum(sign).as("_mv_net"))
          .groupBy(groups.map(col): _*)
          .agg(
            min(when(col("_mv_net") > 0L, col("_mv_v"))).as("_pos_min"),
            max(when(col("_mv_net") > 0L, col("_mv_v"))).as("_pos_max"),
            min(when(col("_mv_net") < 0L, col("_mv_v"))).as("_neg_min"),
            max(when(col("_mv_net") < 0L, col("_mv_v"))).as("_neg_max"))
          .collect()
        def opt(r: Row, c: String): Option[Long] =
          if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
        e -> per.map(r => keyOf(r, g) ->
          (opt(r, "_pos_min"), opt(r, "_pos_max"), opt(r, "_neg_min"), opt(r, "_neg_max"))).toMap
      }.toMap
    var changeRows = 0L
    val na = aggs.length
    val merged = scala.collection.mutable.Map[List[String], Array[Option[Long]]]()
    prior.foreach { case (k, vs) => merged(k) = vs.clone() }
    // groups whose min/max can no longer be derived incrementally → one
    // pruned recompute scan below; (groupKey → set of dirty agg indices)
    val dirty = scala.collection.mutable.Map[List[String], Set[Int]]()
    deltaRows.foreach { r =>
      val gk = keyOf(r, g)
      changeRows += r.getAs[Long]("_rows")
      val dn = r.getAs[Long]("_dn")
      val had = merged.contains(gk)
      val state = merged.getOrElseUpdate(gk, Array.fill(2 * na)(None))
      val oldN = if (countIdx >= 0 && had) state(countIdx).getOrElse(0L) else -1L
      aggs.zipWithIndex.foreach { case (a, i) =>
        def opt(c: String): Option[Long] =
          if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
        a.kind match {
          case "count" =>
            state(i) = Some(state(i).getOrElse(0L) + dn)
          case "sum" =>
            val nn = state(na + i).getOrElse(0L) + opt(s"d${i}_nn").getOrElse(0L)
            state(na + i) = Some(nn)
            state(i) =
              if (nn == 0L) None // SQL: sum over no non-null values is NULL
              else Some(state(i).getOrElse(0L) + opt(s"d$i").getOrElse(0L))
          case "xor" =>
            val nn = state(na + i).getOrElse(0L) + opt(s"d${i}_nn").getOrElse(0L)
            state(na + i) = Some(nn)
            state(i) =
              if (nn == 0L) None
              else Some(state(i).getOrElse(0L) ^ opt(s"d$i").getOrElse(0L))
          case "min" | "max" =>
            val (pMin, pMax, nMin, nMax) =
              extremes(a.e).getOrElse(gk, (None, None, None, None))
            val (pos, neg) =
              if (a.kind == "min") (pMin, nMin) else (pMax, nMax)
            state(i) = foldExtreme(state(i), pos, neg, had, gk, i, dirty,
              isMin = a.kind == "min")
        }
      }
      // sanity of the signed fold: a group that existed and whose count
      // reaches zero has had every row retracted — it leaves the view
      val newN = if (countIdx >= 0) state(countIdx).getOrElse(0L) else 1L
      if (countIdx >= 0 && newN == 0L) { merged.remove(gk); dirty.remove(gk) }
      else if (countIdx >= 0) require(newN > 0L,
        s"MV fold drove group '$gk' count negative ($oldN -> $newN): change feed incomplete?")
    }
    // recompute extremes for dirty surviving groups with ONE pruned pass
    // supplied by the caller (single-table scan or join)
    val dirtyKeys = dirty.keys.toSeq.sortBy(_.map(gcell).mkString("\t"))
    if (dirtyKeys.nonEmpty) {
      val dirtyAggIdx = dirty.values.flatten.toSet.toSeq.sorted
      val fixed = recompute(dirtyKeys, dirtyAggIdx)
      fixed.foreach { r =>
        val gk = keyOf(r, g)
        val state = merged(gk)
        dirtyAggIdx.zipWithIndex.foreach { case (ai, k) =>
          if (dirty(gk).contains(ai))
            state(ai) = if (r.isNullAt(k + g)) None else Some(r.getLong(k + g))
        }
      }
    }
    FoldOutcome(merged.toMap, changeRows, dirtyKeys.length.toLong)
  }

  /** The extreme-fold decision table over NET-grain window extremes
    * (`pos` = best net-ADDED value, `neg` = best net-REMOVED value; an
    * in-window insert+delete of the same value — including an in-place
    * update's pre/post pair — nets to zero and appears in neither).
    * Min shown; max is the mirror:
    *   - group unseen by the state: every surviving row is a net
    *     addition, so `pos` IS the extreme — exact, never dirty
    *   - no net removal → the floor can only fall: min(state, pos)
    *   - net removal strictly ABOVE the recorded floor → the recorded
    *     row's value survives: min(state, pos) stays exact
    *   - net removal AT/BELOW the recorded floor, but a net addition at
    *     or below the removed value (`pos ≤ neg`) establishes the new
    *     exact floor: pos ≤ neg ≤ state and everything else ≥ state →
    *     min = pos
    *   - otherwise the true floor is unknowable from aggregates alone
    *     (the removed value may or may not have had surviving twins) →
    *     DIRTY, recomputed by the pruned per-group scan
    */
  private def foldExtreme(
      state: Option[Long], pos: Option[Long], neg: Option[Long],
      had: Boolean, g: List[String], i: Int,
      dirty: scala.collection.mutable.Map[List[String], Set[Int]],
      isMin: Boolean): Option[Long] = {
    def better(a: Long, b: Long): Long = if (isMin) math.min(a, b) else math.max(a, b)
    def touches(s: Long, n: Long): Boolean = if (isMin) n <= s else n >= s
    def covers(p: Long, n: Long): Boolean = if (isMin) p <= n else p >= n
    val clean: Option[Long] = (state, pos) match {
      case (Some(s), Some(p)) => Some(better(s, p))
      case (Some(s), None) => Some(s)
      case (None, p) => p
    }
    val isDirty =
      if (!had) false // window-local group: pos is exact by construction
      else (state, neg) match {
        case (Some(s), Some(n)) if touches(s, n) =>
          !pos.exists(p => covers(p, n)) // a net addition re-covers the floor?
        case (None, Some(_)) => true // extreme unknown (all-null state), rows retracted
        case _ => false
      }
    if (isDirty) { dirty(g) = dirty.getOrElse(g, Set.empty) + i; state }
    else clean
  }

  // ---- read --------------------------------------------------------------

  /** The MV contents as a DataFrame: `(group, agg1, agg2, …)`. Reads the
    * state blob only — NEVER the source table; this is the whole point.
    * `asOf` time-travels the MV itself (state versions are retained like
    * manifest versions).
    */
  def read(spark: SparkSession, mvDir: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(mvDir))
    require(v > 0L, s"no materialized view at $mvDir")
    val st = readStateAt(mvDir, v)
    val schema = StructType(
      st.groups.zip(st.gtypes).map { case (gName, t) =>
        StructField(gName, gdt(t), nullable = true)
      } ++ st.aggs.map(a => StructField(a.name, LongType, nullable = true)))
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    st.rows.toSeq.sortBy(_._1.map(gcell).mkString("\t")).foreach { case (k, vs) =>
      val gs = st.gtypes.zip(k).map { case (t, p) =>
        if (p == null) null else gvalue(t, p)
      }
      // first |aggs| cells are the values; the rest are the fold's
      // internal non-null counters
      rows.add(Row.fromSeq(gs ++ vs.take(st.aggs.length).map(_.map(Long.box).orNull).toSeq))
    }
    spark.createDataFrame(rows, schema)
  }
}
