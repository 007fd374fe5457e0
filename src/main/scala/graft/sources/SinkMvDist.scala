package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The MATERIALIZED-VIEW engine (round 16): `SELECT g1..gk,
  * count/sum/xor/min/max… FROM t [WHERE pred] GROUP BY`, or the same over
  * a fact⋈dim join or a snowflake chain, kept incrementally from the
  * sources' change feeds with [[SinkMatView]]'s definition surface and
  * change algebra. The state lives as BUCKETED TSV SEGMENTS in the MV
  * directory and every refresh is a DISTRIBUTED plan:
  *
  *   state(touched buckets)  FULL OUTER JOIN (null-safe)  Δ(change feed)
  *     → fold columns (count/sum/xor linear; min/max clean-or-dirty)
  *     → dirty groups re-aggregated by ONE pruned source join
  *     → rewritten bucket segments;  untouched buckets CARRY FORWARD
  *       by reference into the new header
  *
  * Driver involvement per refresh is O(buckets), never O(groups): the
  * only rows ever collected are the ≤ `buckets` distinct bucket ids the
  * delta touches (pinned by [[driverRowsCollected]] and its spec). A
  * per-user or per-document grain MV over a 100 TB events table keeps its
  * millions of groups on the executors end to end; the driver moves a
  * handful of files and flips a header whose size is O(segment files).
  * A small rollup takes `buckets = 1`: one segment per version.
  *
  * Jobs and IO per refresh: each changed data file is opened ONCE — the
  * change feed has one reader, the cached delta aggregate (an MV with
  * min/max reads it twice, so there the change frame is cached too). A
  * count/sum/xor refresh whose inputs are below the broadcast threshold
  * runs in three Spark jobs: the delta's cache, the per-bucket rollup, and
  * the segment write, whose fold `graft.plans.OnePartition` plans as one
  * task. min/max adds the change-frame and fold caches, the dirty-key
  * hull and, for dirty groups, their recompute. Above the threshold the
  * fold is parallel and is clustered by bucket before its write.
  *
  * Commit protocol: segment files are written under job-unique names
  * FIRST, then the tiny versioned header `_mvd.v<N>.json` (definition +
  * watermark + file refs) flips with the same fresh-name election the
  * table manifest uses ([[SinkFs.moveFresh]]) — a crash leaves the
  * previous version intact plus sweepable orphans, a lost race surfaces
  * as [[SinkMatView.MvConflict]] and retries against the winner's state.
  */
object SinkMvDist {
  import SinkMatView.{MvAgg, MvConflict, RefreshStats}
  import SinkMeta.MvdJoin

  private val StateV = """_mvd\.v(\d+)\.json""".r

  /** One-shot interleave hook: runs after the fold is derived but before
    * the segment write + header flip — the window a competing refresh
    * can win (the spec asserts the loser retries into a no-op).
    */
  private[sources] val refreshBarrier =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** Total rows materialized on the driver by create/refresh control
    * flow — the observability hook for the scale contract: its growth is
    * bounded by `buckets` per refresh, independent of group cardinality
    * (spec-pinned at two grains).
    */
  val driverRowsCollected = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Same-count rebuckets answered as idempotent no-ops — the misuse
    * observability stat (a caller repeatedly "rebucketing" to the current
    * count is suspicious but never wrong; see [[rebucket]]).
    */
  val rebucketNoops = new java.util.concurrent.atomic.AtomicLong(0L)

  private final case class MvdState(
      src: String, groups: Seq[String], gtypes: Seq[String], pred: String,
      srcV: Long, buckets: Int, aggs: Seq[MvAgg], refs: Seq[(Int, String)],
      joins: Seq[MvdJoin] = Nil) {
    /** Each dim's refresh/recompute window view (fromV = its watermark). */
    def windows(tos: Seq[Long]): Seq[SinkMatView.DimWindow] =
      joins.zip(tos).map { case (j, to) =>
        SinkMatView.DimWindow(j.dim, j.fk, j.pk, j.pfx, j.dimV, to)
      }
  }

  // ---- header ------------------------------------------------------------

  /** The header record line, then one `bucket<TAB>file` ref per line, go
    * to a tmp name; the SAME fresh-name election the table's manifest
    * commit uses moves them to `_mvd.v<version>.json`, and a lost race
    * surfaces as [[MvConflict]].
    */
  private def writeHeader(mvDir: String, version: Long, st: MvdState): Unit = {
    val header = SinkMeta.encode(SinkMeta.MvdHeader(st.src, st.groups, st.gtypes, st.pred,
      st.srcV, st.buckets, st.joins, st.aggs))
    val body = st.refs.sortBy(r => (r._1, r._2)).map { case (b, f) => s"$b\t$f" }
    val tmp = new Path(mvDir, s"_mvd.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = SinkFs.create(tmp)
    try (header +: body).foreach { l => w.write(l); w.write("\n") } finally w.close()
    try SinkFs.moveFresh(tmp, new Path(mvDir, s"_mvd.v$version.json"))
    catch {
      case e: IllegalArgumentException =>
        SinkFs.delete(tmp)
        throw MvConflict(mvDir, version, e.getMessage)
    }
  }

  /** Highest committed header version, 0 when the MV does not exist. The
    * MV directory holds one header per refresh plus its segments — a
    * listing is fine.
    */
  def currentVersion(mvDir: String): Long =
    SinkFs.listFileNames(new Path(mvDir)).collect { case StateV(n) => n.toLong }
      .foldLeft(0L)(math.max)

  private def readHeaderAt(mvDir: String, v: Long): MvdState = {
    val name = s"_mvd.v$v.json"
    val lines = SinkFs.readLines(new Path(mvDir, name))
    val h = SinkMeta.decode[SinkMeta.MvdHeader](lines.head, s"$mvDir/$name")
    val refs = lines.tail.map(_.split("\t", 2) match { case Array(b, f) => (b.toInt, f) })
    MvdState(h.src, h.group, h.gtype, h.pred, h.srcV, h.buckets, h.aggs, refs, h.dims)
  }

  def lastSourceVersion(mvDir: String): Long = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir (create it first)")
    readHeaderAt(mvDir, v).srcV
  }

  /** The state segment files of a version — (bucket, file) refs; exposed
    * the way table formats expose their manifests (carry-forward and
    * vacuum behavior is observable, not implied).
    */
  def stateFiles(mvDir: String, v: Long): Seq[(Int, String)] =
    readHeaderAt(mvDir, v).refs

  // ---- row codec ---------------------------------------------------------

  /** A group column's declared type: the header's `gtype` cell. */
  private def gtypeOf(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType => "long"
    case StringType => "string"
    case other =>
      throw new IllegalArgumentException(
        s"unsupported MV group column type $other (int/long/string)")
  }
  private def gdt(gtype: String): DataType = gtype match {
    case "int" => IntegerType
    case "long" => LongType
    case _ => StringType
  }

  private def escCol(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, "%", "%25"), "\t", "%09"), "\n", "%0A")
  private def unescCol(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, "%09", "\t"), "%0A", "\n"), "%25", "%")
  /** Group cells: the value with `%`, TAB and newline escaped, or the
    * unambiguous null marker "%N" (a literal '%' is written "%25").
    */
  private def gcellCol(c: Column): Column =
    when(c.isNull, lit("%N")).otherwise(escCol(c.cast(StringType)))
  private def ungcellCol(c: Column, gtype: String): Column =
    when(c === "%N", lit(null).cast(StringType)).otherwise(unescCol(c))
      .cast(gdt(gtype))
  /** Value-or-empty cell, ANSI-safe in both directions. Decimal cells
    * round-trip exactly: cast-to-string renders the full scale
    * ("12.340000") and the typed cast parses it back bit-for-bit.
    */
  private def cellCol(c: Column): Column =
    coalesce(c.cast(StringType), lit(""))
  private def uncellCol(c: Column, dt: DataType): Column =
    when(c === "", lit(null).cast(StringType)).otherwise(c).cast(dt)

  /** The deterministic group→bucket map, computable on ANY frame carrying
    * the group columns (state rows, delta rows, source rows): xxhash64 of
    * the null-marked, escaped key string. Both sides of every join derive
    * it the same way, so bucket-pruned reads can never miss a group.
    * Cells join with a TAB — escaped out of gcellCol output, so the hash
    * input is unambiguous for every key shape.
    */
  private def bucketCol(st: MvdState, keys: Seq[Column]): Column =
    pmod(xxhash64(concat_ws("\t", keys.map(gcellCol): _*)), lit(st.buckets))
      .cast(IntegerType)

  private def slotV(i: Int) = s"_v$i"
  private def slotC(i: Int) = s"_c$i"

  /** Value-slot storage type: BIGINT for every round-16 kind, exact
    * DECIMAL for dsum (round 18), DOUBLE/STRING for the typed extremes
    * (round 19) — the counter slots stay BIGINT.
    */
  private[sources] def slotType(a: MvAgg): DataType = a.kind match {
    case "dsum" => SinkMatView.DsumCell
    case "dmin" | "dmax" => DoubleType
    case "smin" | "smax" => StringType
    case _ => LongType
  }

  private def stateSchema(st: MvdState): StructType =
    StructType(
      st.groups.zip(st.gtypes).map { case (n, t) =>
        StructField(n, gdt(t), nullable = true)
      } ++ st.aggs.zipWithIndex.flatMap { case (a, i) => Seq(
        StructField(slotV(i), slotType(a), nullable = true),
        StructField(slotC(i), LongType, nullable = true)) })

  /** Distributed scan of the state segments (optionally bucket-pruned —
    * file = bucket, so the prune is a file-list filter, zero data IO for
    * untouched buckets). Reads through [[MvStateSource]] (round 19): the
    * segment set is pinned here at PLAN time, and a segment a concurrent
    * vacuum swept before EXECUTION fails with the named
    * [[MvStateSweptException]] instead of a raw missing-file error —
    * the failure surface the rewrite's registration contract documents.
    */
  private def stateDf(
      spark: SparkSession, mvDir: String, st: MvdState,
      onlyBuckets: Option[Set[Int]]): DataFrame = {
    val refs = onlyBuckets match {
      case Some(bs) => st.refs.filter(r => bs.contains(r._1))
      case None => st.refs
    }
    val schema = stateSchema(st)
    if (refs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val cells = split(col("value"), "\t", -1)
    val g = st.groups.length
    val gcols = st.groups.zip(st.gtypes).zipWithIndex.map { case ((n, t), i) =>
      ungcellCol(element_at(cells, i + 1), t).as(n)
    }
    val vcols = (0 until 2 * st.aggs.length).map { j =>
      val cell = element_at(cells, g + j + 1)
      if (j < st.aggs.length) {
        val dt = slotType(st.aggs(j))
        // STRING value slots ride the group-cell codec (escaped content
        // + the unambiguous %N null marker — an empty-string VALUE must
        // not collide with NULL the way the numeric cells' "" does)
        if (dt == StringType) ungcellCol(cell, "string").as(slotV(j))
        else uncellCol(cell, dt).as(slotV(j))
      } else uncellCol(cell, LongType).as(slotC(j - st.aggs.length))
    }
    spark.read.format("graft.sources.MvStateSource")
      .option("mvDir", mvDir)
      .option("files", refs.map(_._2).mkString(","))
      .load()
      .select(gcols ++ vcols: _*)
  }

  /** Write a state frame's rows as bucket-pure segment files, each task
    * writing its buckets' files straight into the MV dir under
    * version-unique names ([[writeSegmentPartition]]). Returns the
    * (bucket, file) refs. The frame must carry the group columns and the
    * 2×|aggs| slots.
    */
  private def writeSegments(
      mvDir: String, version: Long, st: MvdState, state: DataFrame): Seq[(Int, String)] = {
    val na = st.aggs.length
    val lineCells =
      st.groups.map(n => gcellCol(col(n))) ++
        (0 until na).map { i =>
          // string slots: escaped + %N, mirroring the read side
          if (slotType(st.aggs(i)) == StringType) gcellCol(col(slotV(i)))
          else cellCol(col(slotV(i)))
        } ++
        (0 until na).map(i => cellCol(col(slotC(i))))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // cluster by bucket, then write the segments DIRECTLY from the tasks
    // (tmp name → rename, the sink writer's own pattern) instead of a
    // full Spark dynamic-partition text write: the Hadoop committer costs
    // a staging tree, a per-file commit rename, a `.crc` sidecar and (no
    // native lib) a forked chmod per file+dir, every refresh, to land
    // ≤ `buckets` tiny TSV files. One file per bucket per task either way,
    // so the rows are clustered by bucket only when the fold runs as more
    // than one task; a one-task fold (a broadcast-sized fold under
    // `graft.plans.OnePartition`) writes every touched bucket's file from
    // that task. The rows come from the frame's own plan
    // (`queryExecution.toRdd`), planned once; `Dataset.rdd`, or a
    // Dataset-level repartition, would analyze, optimize and plan the
    // whole fold a second time. The bucket id is already in [0, buckets),
    // so the hash partitioner sends bucket b to partition b.
    val mvDirStr = mvDir
    val lines = state
      .withColumn("_b", bucketCol(st, st.groups.map(col)))
      .select(col("_b").cast(IntegerType), concat_ws("\t", lineCells: _*))
      .queryExecution.toRdd
      .map(r => (r.getInt(0), r.getUTF8String(1).toString))
    val clustered =
      if (lines.getNumPartitions <= 1) lines
      else lines.partitionBy(new HashPartitioner(math.max(1, st.buckets)))
    clustered
      .mapPartitionsWithIndex { (pid, rows) =>
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        writeSegmentPartition(mvDirStr, version, nonce, pid, attempt, rows)
      }.collect().toSeq
  }

  /** One task's direct segment writes: buffer each bucket's lines into an
    * ATTEMPT-UNIQUE tmp file, then rename every completed file over its
    * final (attempt-independent) segment name. The attempt id in the tmp
    * name is the task-retry/speculation guard (round-20 VERDICT
    * "what's wrong" #1): two concurrent attempts of the same partition —
    * speculation or a zombie attempt racing its retry, normal at cluster
    * scale, invisible in local mode — each write their OWN tmp file, so a
    * segment can only ever be renamed from one attempt's complete,
    * deterministic content (renames are atomic; both attempts rename
    * identical bytes, so last-wins is a no-op). With a shared tmp name the
    * attempts would interleave writes into one file and could rename a
    * half-written segment. Package-visible so the concurrency spec can
    * drive two interleaved attempts directly.
    */
  private[sources] def writeSegmentPartition(
      mvDirStr: String, version: Long, nonce: String, pid: Int, attempt: Long,
      rows: Iterator[(Int, String)]): Iterator[(Int, String)] = {
    val open = scala.collection.mutable.Map[Int, java.io.BufferedWriter]()
    def tmp(b: Int) = new Path(mvDirStr, s"_mvd.tmp-$nonce-p$pid-a$attempt-b$b")
    rows.foreach { case (b, line) =>
      val w = open.getOrElseUpdate(b, SinkFs.create(tmp(b)))
      w.write(line); w.write("\n")
    }
    open.foreach(_._2.close())
    open.keysIterator.map { b =>
      val name = s"state-v$version-b$b-$nonce-$pid.tsv"
      SinkFs.moveOver(tmp(b), new Path(mvDirStr, name))
      (b, name)
    }.toList.iterator
  }

  /** The state slot columns a full build aggregates into: per agg, its
    * VALUE slot and its non-null COUNTER slot (sum/xor need the counter
    * for SQL NULL-ness; the rest carry 0) — one builder shared by the
    * single-table and join creates.
    */
  private def aggSlots(aggs: Seq[MvAgg]): (Seq[Column], Seq[Column]) = (
    aggs.zipWithIndex.map { case (a, i) => SinkMatView.aggColumn(a).as(slotV(i)) },
    aggs.zipWithIndex.map { case (a, i) =>
      if (a.kind == "sum" || a.kind == "xor" || a.kind == "dsum")
        count(when(expr(a.e).isNotNull, 1)).as(slotC(i))
      else lit(0L).as(slotC(i))
    })

  // ---- create --------------------------------------------------------------

  /** Full-scan creation pinned at the source's CURRENT manifest version
    * (the scan reads `versionAsOf` that pin, so commits racing the create
    * are excluded and picked up by the first refresh). The aggregation
    * result is WRITTEN DISTRIBUTED, never collected. NULL group values
    * form their own group, SQL-style. Returns the pinned source version.
    */
  def create(
      spark: SparkSession, srcDir: String, mvDir: String,
      groups: Seq[String], aggs: Seq[MvAgg], where: String = "",
      buckets: Int = 16): Long = {
    SinkMatView.validate(groups, aggs, where)
    require(buckets >= 1 && buckets <= 4096, s"buckets out of range: $buckets")
    require(currentVersion(mvDir) == 0L,
      s"distributed materialized view already exists at $mvDir")
    val srcV = ShardSink.currentManifestVersion(srcDir)
    require(srcV > 0L, s"no committed version at $srcDir — create the MV after the first commit")
    val schema = ShardSink.schemaAtVersion(srcDir, srcV)
    groups.foreach(g => require(schema.fieldNames.contains(g),
      s"group column '$g' not in ${schema.fieldNames.mkString(",")}"))
    val gtypes = groups.map(g => gtypeOf(schema(g).dataType))
    val st = MvdState(srcDir, groups, gtypes, where, srcV, buckets, aggs, Nil)
    val (aggCols, nnCols) = aggSlots(aggs)
    val full = SinkMatView.filtered(SinkMatView.srcAt(spark, srcDir, srcV), where)
      .groupBy(groups.map(col): _*)
      .agg(aggCols.head, aggCols.tail ++ nnCols: _*)
    val refs = writeSegments(mvDir, 1L, st, full)
    writeHeader(mvDir, 1L, st.copy(refs = refs))
    srcV
  }

  /** JOIN-MV creation over DISTRIBUTED state: `SELECT groups, aggs FROM
    * fact ⋈ dim ON fk = pk [WHERE pred] GROUP BY`, dim columns under the
    * `d_` prefix (`d_region`). Group columns resolve against the fact
    * schema, or the dim schema under the prefix; aggregates and the
    * predicate may reference both sides the same way. The dim key must
    * be unique. Returns (factV, dimV).
    */
  def createJoin(
      spark: SparkSession, factDir: String, dimDir: String, mvDir: String,
      fk: String, pk: String, groups: Seq[String], aggs: Seq[MvAgg],
      where: String = "", buckets: Int = 16): (Long, Long) = {
    val (fv, dvs) = createSnowflake(spark, factDir, mvDir,
      Seq(SnowDim(dimDir, fk, pk, "d_")), groups, aggs, where, buckets)
    (fv, dvs.head)
  }

  /** One dim of a snowflake definition: its table, the join key `fk`
    * (resolving against the fact or an EARLIER dim's prefixed columns —
    * the chain), its unique key `pk`, and its column prefix.
    */
  final case class SnowDim(dim: String, fk: String, pk: String, pfx: String)

  /** SNOWFLAKE-MV creation (round 17): `SELECT groups, aggs FROM fact ⋈
    * dim1 ⋈ … ⋈ dimk [WHERE pred] GROUP BY` over DISTRIBUTED state, each
    * dim's columns under its declared prefix and each dim carrying its
    * own watermark. Joins apply in declaration order; a later dim's `fk`
    * may name an earlier dim's prefixed column (the snowflake chain).
    * Returns (factV, per-dim versions).
    */
  def createSnowflake(
      spark: SparkSession, factDir: String, mvDir: String, dims: Seq[SnowDim],
      groups: Seq[String], aggs: Seq[MvAgg],
      where: String = "", buckets: Int = 16): (Long, Seq[Long]) = {
    SinkMatView.validate(groups, aggs, where)
    require(buckets >= 1 && buckets <= 4096, s"buckets out of range: $buckets")
    require(dims.nonEmpty, "a join MV needs at least one dim")
    val pfxes = dims.map(_.pfx)
    require(pfxes.distinct.length == pfxes.length, s"duplicate dim prefixes: $pfxes")
    pfxes.foreach(p => require(p.matches("[A-Za-z][A-Za-z0-9]*_"),
      s"dim prefix '$p' must be alphanumeric ending in '_'"))
    require(currentVersion(mvDir) == 0L,
      s"distributed materialized view already exists at $mvDir")
    val factV = ShardSink.currentManifestVersion(factDir)
    require(factV > 0L, s"create the join MV after the fact's first commit ($factDir)")
    val fSchema = ShardSink.schemaAtVersion(factDir, factV)
    val dimVs = dims.map(d => ShardSink.currentManifestVersion(d.dim))
    dims.zip(dimVs).foreach { case (d, v) =>
      require(v > 0L, s"create the join MV after every dim's first commit (${d.dim})") }
    val dSchemas = dims.zip(dimVs).map { case (d, v) =>
      ShardSink.schemaAtVersion(d.dim, v) }
    // each fk resolves against the columns AVAILABLE at its join step:
    // the fact's, plus every earlier dim's prefixed names
    dims.zipWithIndex.foldLeft(fSchema.fieldNames.toSet) { case (avail, (d, i)) =>
      require(avail.contains(d.fk),
        s"join key '${d.fk}' of ${d.dim} resolves against none of ${avail.toSeq.sorted.mkString(",")}")
      require(dSchemas(i).fieldNames.contains(d.pk),
        s"join key '${d.pk}' not in dim ${dSchemas(i).fieldNames.mkString(",")}")
      avail ++ dSchemas(i).fieldNames.map(c => s"${d.pfx}$c")
    }
    val gtypes = resolveSnowGtypes(fSchema, dims.map(_.pfx).zip(dSchemas), groups)
    dims.zip(dimVs).foreach { case (d, v) =>
      val dim = SinkMatView.srcAt(spark, d.dim, v)
      SinkMatView.requireUniqueKeys(dim, d.pk, dim.select(col(d.pk)))
    }
    val joins = dims.zip(dimVs).map { case (d, v) => MvdJoin(d.dim, d.fk, d.pk, v, d.pfx) }
    val st = MvdState(factDir, groups, gtypes, where, factV, buckets, aggs, Nil, joins)
    val (aggCols, nnCols) = aggSlots(aggs)
    val full = SinkMatView.filtered(
      SinkMatView.joinedAt(spark, factDir, factV, st.windows(dimVs)), where)
      .groupBy(groups.map(col): _*)
      .agg(aggCols.head, aggCols.tail ++ nnCols: _*)
    val refs = writeSegments(mvDir, 1L, st, full)
    writeHeader(mvDir, 1L, st.copy(refs = refs))
    (factV, dimVs)
  }

  /** Group-type resolution across a dim chain: a group column resolves
    * against the first dim whose prefix matches (stripped name in that
    * dim's schema), else against the fact.
    */
  private def resolveSnowGtypes(
      fSchema: StructType, dims: Seq[(String, StructType)],
      groups: Seq[String]): Seq[String] =
    groups.map { g =>
      dims.collectFirst {
        case (pfx, sch) if g.startsWith(pfx) && sch.fieldNames.contains(g.stripPrefix(pfx)) =>
          gtypeOf(sch(g.stripPrefix(pfx)).dataType)
      }.getOrElse {
        require(fSchema.fieldNames.contains(g),
          s"group column '$g' resolves in neither fact (${fSchema.fieldNames.mkString(",")}) " +
            s"nor any dim prefix (${dims.map(_._1).mkString(",")})")
        gtypeOf(fSchema(g).dataType)
      }
    }

  /** (fact watermark, dim watermark) of a distributed single-dim JOIN MV. */
  def lastSourceVersions(mvDir: String): (Long, Long) = {
    val (fv, dvs) = lastSourceVersionsAll(mvDir)
    require(dvs.length == 1,
      s"the MV at $mvDir has ${dvs.length} dims — use lastSourceVersionsAll")
    (fv, dvs.head)
  }

  /** (fact watermark, per-dim watermarks in declaration order). */
  def lastSourceVersionsAll(mvDir: String): (Long, Seq[Long]) = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    require(st.joins.nonEmpty, s"the MV at $mvDir is single-table")
    (st.srcV, st.joins.map(_.dimV))
  }

  // ---- refresh ---------------------------------------------------------------

  /** Refresh to the source's (and, for a join MV, the dim's) current
    * version. The returned stats' from/to versions are FACT-centric: a
    * dim-only window folds with fromV == toV and applied = true —
    * progress of both watermarks is read via [[lastSourceVersions]].
    */
  def refresh(spark: SparkSession, srcDir: String, mvDir: String): RefreshStats = {
    var attempt = 0
    while (true) {
      val stateV = currentVersion(mvDir)
      require(stateV > 0L, s"no distributed materialized view at $mvDir (create it first)")
      val st = readHeaderAt(mvDir, stateV)
      require(st.src == srcDir, s"MV at $mvDir materializes ${st.src}, not $srcDir")
      val toV = ShardSink.currentManifestVersion(srcDir)
      val dimTos = st.joins.map(j => ShardSink.currentManifestVersion(j.dim))
      if (toV <= st.srcV && st.joins.zip(dimTos).forall { case (j, dv) => dv <= j.dimV })
        return RefreshStats(st.srcV, st.srcV, 0L, 0L, stateV, applied = false)
      try return (
        if (st.joins.nonEmpty) joinRefreshOnce(spark, mvDir, st, stateV, toV, dimTos)
        else refreshOnce(spark, srcDir, mvDir, st, stateV, toV))
      catch {
        case _: MvConflict if attempt < 5 => attempt += 1 // re-read, re-derive
        case c: MvConflict => throw c
      }
    }
    sys.error("unreachable")
  }

  /** Null-safe equi-join on the group columns: the right side's keys are
    * renamed `_r_<k>` (caller reads them back under that name). NULL
    * group values match NULL — SQL's grouping identity, not its equality.
    */
  private def nsJoin(
      l: DataFrame, r: DataFrame, keys: Seq[String], how: String): DataFrame = {
    val rr = keys.foldLeft(r)((df, k) => df.withColumnRenamed(k, s"_r_$k"))
    val cond = keys.map(k => l(k) <=> rr(s"_r_$k")).reduce(_ && _)
    l.join(rr, cond, how)
  }

  /** Every dirty key satisfies this filter: per group column, the
    * [min, max] range of the dirty keys, or NULL when a dirty key holds
    * NULL there. `hull` is the dirty-key aggregate row: the count, then
    * per column its min, its max and whether any value is NULL.
    */
  private def hullFilter(keys: Seq[String], hull: Row): Column =
    keys.zipWithIndex.map { case (k, i) =>
      val inRange =
        if (hull.isNullAt(1 + 3 * i)) lit(false)
        else col(k).between(lit(hull.get(1 + 3 * i)), lit(hull.get(2 + 3 * i)))
      if (hull.getInt(3 + 3 * i) == 1) inRange || col(k).isNull else inRange
    }.reduce(_ && _)

  /** STREAMING maintenance: apply ONE micro-batch of change rows (the
    * CDF stream delivers one commit per trigger) — the `foreachBatch`
    * body, exactly-once by the header watermark: replayed batches (at or
    * below the watermark) are recorded no-ops, a gap fast-forwards only
    * after the skipped window is PROVEN change-free (no-data commits:
    * OPTIMIZE/ZORDER/ALTER), and a gap hiding a data commit fails
    * loudly. The fold itself is the batch refresh's distributed plan.
    *
    * JOIN MVs (round 17) stream too: `srcDir` names WHICH side's change
    * feed the batch came from — each source runs its own CDF stream with
    * its own watermark in the header, and the delta-join decomposition
    * applies one single-source window per batch: a dim batch is
    * `[Δd ⋈ f@factV]` (the fact watermark is fixed while only the dim
    * moves), a fact batch is `[Δf ⋈ d@dimV]`. Interleavings compose
    * exactly because every window is pinned at the OTHER side's current
    * header watermark — the same telescoping as the batch refresh, one
    * commit at a time. Gap fast-forward and replay dedup are per-source.
    * The returned stats' (fromV, toV) are the MOVED source's window —
    * a dim batch reports the dim versions it advanced, not the
    * unchanged fact watermark (advice fix).
    */
  def refreshFromChanges(
      spark: SparkSession, srcDir: String, mvDir: String,
      ch: DataFrame, toV: Long): RefreshStats = {
    var attempt = 0
    while (true) {
      val stateV = currentVersion(mvDir)
      require(stateV > 0L, s"no distributed materialized view at $mvDir (create it first)")
      val st = readHeaderAt(mvDir, stateV)
      val dimIdx = st.joins.indexWhere(_.dim == srcDir)
      val isDim = st.src != srcDir && dimIdx >= 0
      require(st.src == srcDir || isDim,
        s"MV at $mvDir materializes ${st.src}" +
          st.joins.map(j => s" ⋈ ${j.dim}").mkString + s", not $srcDir")
      val fromV = if (isDim) st.joins(dimIdx).dimV else st.srcV
      if (toV <= fromV) // replayed or pre-create commit: already covered
        return RefreshStats(fromV, fromV, 0L, 0L, stateV, applied = false)
      if (toV > fromV + 1L) {
        val gapRows =
          SinkMatView.changes(spark, srcDir, fromV, toV - 1L).limit(1).count()
        require(gapRows == 0L,
          s"streaming MV gap at $mvDir: batch carries commit $toV of $srcDir " +
            s"but the view reflects $fromV and commits ($fromV, ${toV - 1L}] " +
            "carry change rows — commits must apply in order per source")
      }
      // (contribution, dirty-recompute source, advanced watermarks). Every
      // path folds the DELIVERED batch frame directly — the stream already
      // materialized this commit's change rows, so re-deriving them from
      // the log would only add a read (phase-timed in PLANS.md §38.2).
      // Only the batch's own source moves; every other source is pinned at
      // its header watermark, so the join paths are ONE call into the
      // shared contributionStream core with the batch passed as the moved
      // source's delta override — the streaming path shares every line of
      // the join algebra (telescoping order, uniqueness guard, prefix
      // handling) with the batch refresh.
      val signed = ch.withColumn("_sign", SinkMatView.signOf(col("_change_type")))
      val (contrib, recompute, nextSt) =
        if (st.joins.isEmpty)
          (signed.drop("_change_type", "_commit_version"),
            () => SinkMatView.filtered(SinkMatView.srcAt(spark, srcDir, toV), st.pred),
            st.copy(srcV = toV))
        else {
          val wins = st.joins.zipWithIndex.map { case (jj, k) =>
            if (isDim && k == dimIdx)
              SinkMatView.DimWindow(jj.dim, jj.fk, jj.pk, jj.pfx, fromV, toV,
                delta = Some(signed))
            else SinkMatView.DimWindow(jj.dim, jj.fk, jj.pk, jj.pfx, jj.dimV, jj.dimV)
          }
          val factTo = if (isDim) st.srcV else toV
          val nextJoins =
            if (isDim) st.joins.updated(dimIdx, st.joins(dimIdx).copy(dimV = toV))
            else st.joins
          (SinkMatView.contributionStream(spark, st.src, st.srcV, factTo, wins,
            factDelta = if (isDim) None else Some(signed)),
            () => SinkMatView.filtered(
              SinkMatView.joinedAt(spark, st.src, factTo, wins), st.pred),
            st.copy(srcV = factTo, joins = nextJoins))
        }
      // stats carry the MOVED source's (fromV, toV): a dim batch used to
      // report the unchanged fact watermark twice, so callers/monitoring
      // could not see which dim version the applied batch advanced to
      // (advice fix) — fact batches are unchanged
      try return foldBatch(spark, mvDir, st, stateV, contrib, col("_sign"),
        recompute, nextSt, fromV, toV)
      catch {
        case _: MvConflict if attempt < 5 => attempt += 1
        case c: MvConflict => throw c
      }
    }
    sys.error("unreachable")
  }

  private def refreshOnce(
      spark: SparkSession, srcDir: String, mvDir: String,
      st: MvdState, stateV: Long, toV: Long): RefreshStats =
    foldBatch(spark, mvDir, st, stateV, SinkMatView.changes(spark, srcDir, st.srcV, toV),
      SinkMatView.signOf(col("_change_type")),
      () => SinkMatView.filtered(SinkMatView.srcAt(spark, srcDir, toV), st.pred),
      st.copy(srcV = toV), st.srcV, toV)

  /** The JOIN refresh: the delta-join decomposition — one signed window
    * per changed source, composed in declaration order — feeding the
    * DISTRIBUTED fold ([[SinkMatView.contributionStream]], any dim-chain
    * length); the dirty recompute is the full fact⋈dims join at the
    * target versions. Uniqueness of changed dim keys is re-checked per
    * window.
    */
  private def joinRefreshOnce(
      spark: SparkSession, mvDir: String, st: MvdState,
      stateV: Long, factTo: Long, dimTos: Seq[Long]): RefreshStats = {
    val wins = st.windows(dimTos)
    foldBatch(spark, mvDir, st, stateV,
      SinkMatView.contributionStream(spark, st.src, st.srcV, factTo, wins), col("_sign"),
      () => SinkMatView.filtered(
        SinkMatView.joinedAt(spark, st.src, factTo, wins), st.pred),
      st.copy(srcV = factTo,
        joins = st.joins.zip(dimTos).map { case (j, dv) => j.copy(dimV = dv) }),
      st.srcV, factTo)
  }

  /** The distributed fold over ONE pre-signed change frame. `sign` and
    * the dirty-recompute source are injected so the single-table path
    * (change feed + table scan) and the join path (delta-join
    * contributions + fact⋈dim scan) share every line of the fold;
    * `nextSt` carries the advanced watermark(s) into the header flip.
    */
  private def foldBatch(
      spark: SparkSession, mvDir: String,
      st: MvdState, stateV: Long, ch: DataFrame,
      sign: Column, recomputeSrc: () => DataFrame,
      nextSt: MvdState, fromV: Long, toV: Long): RefreshStats = {
    val na = st.aggs.length
    val keys = st.groups
    val next = stateV + 1L
    // Only an MV with min/max reads the change frame and the fold more
    // than once: the per-value extreme deltas read the change frame a
    // second time, and the dirty groups' hull, their recompute and the
    // segment write each read the fold. So only then are both cached.
    // Otherwise the linear delta is the change frame's one reader and the
    // segment write the fold's, and a cache would cost a job of its own.
    val rereads = st.aggs.exists(a => SinkMatView.isExtremeKind(a.kind))
    val chC = if (rereads) ch.persist() else ch
    try {
      val chF = SinkMatView.filtered(chC, st.pred)
      // ---- the linear (row-grain) delta: one distributed aggregation
      val deltaCols = st.aggs.zipWithIndex.flatMap { case (a, i) =>
        a.kind match {
          case "count" => Seq(sum(sign).as(s"_d$i"))
          case "sum" => Seq(
            sum(sign * expr(a.e).cast(LongType)).as(s"_d$i"),
            sum(sign * when(expr(a.e).isNotNull, 1L).otherwise(0L)).as(s"_dn$i"))
          case "dsum" => Seq(
            sum(sign * expr(a.e).cast(SinkMatView.DsumIn))
              .cast(SinkMatView.DsumCell).as(s"_d$i"),
            sum(sign * when(expr(a.e).isNotNull, 1L).otherwise(0L)).as(s"_dn$i"))
          case "xor" => Seq(
            expr(s"bit_xor(cast((${a.e}) as bigint))").as(s"_d$i"),
            sum(sign * when(expr(a.e).isNotNull, 1L).otherwise(0L)).as(s"_dn$i"))
          case _ => Seq.empty
        }
      }
      var delta = chF
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_chrows"), deltaCols: _*)
      // ---- the value-grain extreme deltas, one per distinct
      // (expression, value type) — the typed kinds (round 19) fold the
      // same way, comparing in their own type
      val extremeKeys = st.aggs.filter(a => SinkMatView.isExtremeKind(a.kind))
        .map(a => (a.e, SinkMatView.extremeValueType(a.kind))).distinct
      extremeKeys.zipWithIndex.foreach { case ((e, dt), j) =>
        val per = chF
          .groupBy(keys.map(col) :+ expr(e).cast(dt).as("_mv_v"): _*)
          .agg(sum(sign).as("_net"))
          .groupBy(keys.map(col): _*)
          .agg(
            min(when(col("_net") > 0L, col("_mv_v"))).as(s"_pmin$j"),
            max(when(col("_net") > 0L, col("_mv_v"))).as(s"_pmax$j"),
            min(when(col("_net") < 0L, col("_mv_v"))).as(s"_nmin$j"),
            max(when(col("_net") < 0L, col("_mv_v"))).as(s"_nmax$j"))
        val joined = nsJoin(delta, per, keys, "left")
        delta = joined.select(
          keys.map(joined(_)) ++ delta.columns.filterNot(keys.contains).map(joined(_)) ++
            Seq(s"_pmin$j", s"_pmax$j", s"_nmin$j", s"_nmax$j").map(joined(_)): _*)
      }
      // The delta is the one frame every fold caches: the per-bucket
      // rollup and the fold join both read it, and the cache is what opens
      // each changed data file once. A cached plan is exempt from AQE
      // partition coalescing (canChangeCachedPlanOutputPartitioning=false),
      // and the aggregate materializes at spark.sql.shuffle.partitions (32
      // in the bench shape), so it is coalesced to the bucket count before
      // it persists: ≤ `buckets` tasks carry the same ≤ a few hundred rows
      // into every job over it. Partitioning is part of no result.
      val deltaC = delta.coalesce(math.max(1, st.buckets)).persist()
      try {
        // the ONLY driver materializations: per-bucket rollups (≤ buckets
        // rows — touched ids and the window's change-row total in ONE
        // job) and one scalar — never rows proportional to groups
        val perBucket = deltaC
          .groupBy(bucketCol(st, keys.map(col)).as("_b"))
          .agg(sum("_chrows").as("_n"))
          .collect()
        val touched = perBucket.map(_.getInt(0)).toSet
        driverRowsCollected.addAndGet(touched.size.toLong)
        if (touched.isEmpty) {
          // change-free window (no-data commits / everything
          // predicate-filtered): advance the watermark, carry all refs
          writeHeader(mvDir, next, nextSt)
          return RefreshStats(fromV, toV, 0L, 0L, next, applied = true)
        }
        val changeRows = perBucket.map(_.getLong(1)).sum

        // ---- fold: state(touched) ⟗ delta, null-safe on the group key
        val state = stateDf(spark, mvDir, st, Some(touched))
          .withColumn("_present", lit(1))
        val j = nsJoin(state, deltaC.withColumn("_dpresent", lit(1)), keys, "full_outer")
        val had = j("_present").isNotNull
        def keyOut(k: String, i: Int): Column = coalesce(j(k), j(s"_r_$k")).as(k)
        val exprIdx = extremeKeys.zipWithIndex.toMap
        val countIdx = st.aggs.indexWhere(_.kind == "count")
        val foldCols = scala.collection.mutable.ArrayBuffer[Column]()
        val dirtyFlags = scala.collection.mutable.ArrayBuffer[Column]()
        st.aggs.zipWithIndex.foreach { case (a, i) =>
          val sv = j(slotV(i)); val sc = j(slotC(i))
          a.kind match {
            case "count" =>
              val n = coalesce(sv, lit(0L)) + coalesce(j(s"_d$i"), lit(0L))
              // the incomplete-feed sentinel: a negative count means retractions for rows the state
              // never saw — fail the refresh, never write the drift
              foldCols += when(n < 0L, expr(
                "raise_error('MV fold drove a group count negative: change feed incomplete?')")
                .cast(LongType)).otherwise(n).as(slotV(i))
              foldCols += lit(0L).as(slotC(i))
            case "sum" =>
              val nn = coalesce(sc, lit(0L)) + coalesce(j(s"_dn$i"), lit(0L))
              foldCols += when(nn === 0L, lit(null).cast(LongType))
                .otherwise(coalesce(sv, lit(0L)) + coalesce(j(s"_d$i"), lit(0L)))
                .as(slotV(i))
              foldCols += nn.as(slotC(i))
            case "dsum" =>
              val zero = lit(0).cast(SinkMatView.DsumCell)
              val nn = coalesce(sc, lit(0L)) + coalesce(j(s"_dn$i"), lit(0L))
              // exact decimal addition — retractions restore the partial
              // bit-for-bit, which double arithmetic cannot promise
              foldCols += when(nn === 0L, lit(null).cast(SinkMatView.DsumCell))
                .otherwise((coalesce(sv, zero) + coalesce(j(s"_d$i"), zero))
                  .cast(SinkMatView.DsumCell))
                .as(slotV(i))
              foldCols += nn.as(slotC(i))
            case "xor" =>
              val nn = coalesce(sc, lit(0L)) + coalesce(j(s"_dn$i"), lit(0L))
              foldCols += when(nn === 0L, lit(null).cast(LongType))
                .otherwise(coalesce(sv, lit(0L)).bitwiseXOR(coalesce(j(s"_d$i"), lit(0L))))
                .as(slotV(i))
              foldCols += nn.as(slotC(i))
            case k if SinkMatView.isExtremeKind(k) =>
              val ji = exprIdx((a.e, SinkMatView.extremeValueType(k)))
              val isMin = SinkMatView.isMinKind(k)
              val pos = if (isMin) j(s"_pmin$ji") else j(s"_pmax$ji")
              val neg = if (isMin) j(s"_nmin$ji") else j(s"_nmax$ji")
              val clean = if (isMin) least(sv, pos) else greatest(sv, pos)
              def touches(s: Column, n: Column) = if (isMin) n <= s else n >= s
              def covers(p: Column, n: Column) = if (isMin) p <= n else p >= n
              // the extreme-fold decision table over NET-grain window
              // extremes (pos = best net-added value, neg = best
              // net-removed one). Min shown; max is the mirror:
              //   - a group the state never held: pos is exact, clean
              //   - no net removal, or one strictly above the recorded
              //     floor: min(state, pos) stays exact
              //   - a net removal at or below the floor that a net
              //     addition re-covers (pos ≤ neg): min = pos, exact
              //   - otherwise (or an all-null state losing rows) the
              //     floor is unknowable from aggregates alone → DIRTY,
              //     recomputed by the pruned per-group scan below
              val dirty = had && (
                (sv.isNotNull && neg.isNotNull && touches(sv, neg) &&
                  !(pos.isNotNull && covers(pos, neg))) ||
                  (sv.isNull && neg.isNotNull))
              foldCols += clean.as(slotV(i))
              foldCols += lit(0L).as(slotC(i))
              dirtyFlags += coalesce(dirty, lit(false)).as(s"_dirty$i")
          }
        }
        val folded0 = j.select(
          keys.zipWithIndex.map { case (k, i) => keyOut(k, i) } ++
            foldCols ++ dirtyFlags: _*)
        // liveness: a group whose count reached zero leaves the view. A
        // cached fold is coalesced to the bucket count like deltaC; an
        // uncached one is written in the segment write's job, as one task
        // when the fold is planned as one.
        val live = folded0.where(col(slotV(countIdx)) > 0L)
        val folded = if (rereads) live.coalesce(math.max(1, st.buckets)).persist() else live
        try {
          val dirtyAggIdx = st.aggs.zipWithIndex
            .filter { case (a, _) => SinkMatView.isExtremeKind(a.kind) }.map(_._2)
          val anyDirty =
            if (dirtyAggIdx.isEmpty) lit(false)
            else dirtyAggIdx.map(i => col(s"_dirty$i")).reduce(_ || _)
          val dirtyKeys = folded.where(anyDirty).select(keys.map(col): _*)
          // the dirty groups' count and key hull in ONE job and ONE
          // collected row; an extreme-less MV can never dirty — skip the
          // job entirely (one Spark job per fold across every
          // sum/count-only lifecycle; round-19 harness hygiene)
          val dirtyHull: Option[Row] =
            if (dirtyAggIdx.isEmpty) None
            else {
              driverRowsCollected.incrementAndGet()
              Some(dirtyKeys.agg(count(lit(1)), keys.flatMap(k => Seq(
                min(col(k)), max(col(k)), max(col(k).isNull.cast(IntegerType)))): _*)
                .collect().head)
            }
          val nDirty = dirtyHull.fold(0L)(_.getLong(0))
          // ---- dirty extremes: ONE recompute join at toV; only dirty
          // groups re-aggregate. The hull filter bounds the source scan
          // by literals, so its file skipping (shard ranges, column
          // envelopes) engages — the join alone prunes no file
          val fixed: Option[DataFrame] =
            if (nDirty == 0L) None
            else {
              val src = recomputeSrc().where(hullFilter(keys, dirtyHull.get))
              val jj = nsJoin(src, dirtyKeys.distinct(), keys, "inner")
              Some(jj
                .groupBy(keys.map(jj(_)): _*)
                .agg(
                  dirtyAggIdx.map(i =>
                    SinkMatView.aggColumn(st.aggs(i)).as(s"_fx$i")).head,
                  dirtyAggIdx.drop(1).map(i =>
                    SinkMatView.aggColumn(st.aggs(i)).as(s"_fx$i")): _*))
            }
          val finalState = fixed match {
            case None => folded.select(
              (keys.map(col) ++
                (0 until na).map(i => col(slotV(i))) ++
                (0 until na).map(i => col(slotC(i)))): _*)
            case Some(fx) =>
              val jf = nsJoin(folded, fx, keys, "left")
              jf.select(
                (keys.map(jf(_)) ++
                  (0 until na).map { i =>
                    if (dirtyAggIdx.contains(i))
                      when(jf(s"_dirty$i"), jf(s"_fx$i")).otherwise(jf(slotV(i)))
                        .as(slotV(i))
                    else jf(slotV(i)).as(slotV(i))
                  } ++
                  (0 until na).map(i => jf(slotC(i)).as(slotC(i)))): _*)
          }
          // one-shot interleave for the concurrency spec — the window a
          // competing refresh can win
          val barrier = refreshBarrier.getAndSet(null)
          if (barrier != null) barrier()
          // ---- write touched buckets, carry the rest by reference
          val written = writeSegments(mvDir, next, st, finalState)
          val carried = st.refs.filterNot(r => touched.contains(r._1))
          writeHeader(mvDir, next, nextSt.copy(refs = written ++ carried))
          RefreshStats(fromV, toV, changeRows, nDirty, next, applied = true)
        } finally { if (rereads) folded.unpersist(); () }
      } finally { deltaC.unpersist(); () }
    } finally { if (rereads) chC.unpersist(); () }
  }

  // ---- read / vacuum -------------------------------------------------------

  /** The MV contents as a DISTRIBUTED DataFrame `(groups…, aggs…)` —
    * reads the state segments only, never the source.
    */
  def read(spark: SparkSession, mvDir: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(mvDir))
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    stateDf(spark, mvDir, st, None).select(outputProjection(st): _*)
  }

  /** A single-table MV definition + raw slot-level state, consumed by the
    * automatic query-rewrite rule ([[SinkMvRewrite]]): the distributed
    * state frame carries the group columns plus, per aggregate i, its
    * value slot `_v<i>` and non-null counter `_c<i>` — enough to
    * re-derive every aggregate EXACTLY (including SQL NULL-ness) after
    * folding a change-feed tail on top.
    */
  private[sources] final case class MvSlots(
      stateOf: () => DataFrame, src: String, groups: Seq[String], gtypes: Seq[String],
      aggs: Seq[MvAgg], pred: String, srcV: Long, joins: Seq[MvdJoin]) {
    /** Built on first use: the rewrite rule screens every registered MV
      * and only the candidate it answers from reads the state.
      */
    lazy val state: DataFrame = stateOf()
    def slotValue(i: Int): String = slotV(i)
    def slotCounter(i: Int): String = slotC(i)
  }

  private[sources] def slotState(spark: SparkSession, mvDir: String): MvSlots = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    MvSlots(() => stateDf(spark, mvDir, st, None), st.src, st.groups, st.gtypes,
      st.aggs, st.pred, st.srcV, st.joins)
  }

  /** O(one bucket) POINT READ of the view — the KV-probe pattern over MV
    * state: the key's bucket is derived with the SAME Spark expression
    * the writers use (evaluated on a one-row frame, so it can never
    * drift from the write-side hash), and only that bucket's segment
    * files are opened. A per-user-grain rollup answers a single-user
    * probe reading one segment, not the view. `key` gives one value per
    * group column (null = the NULL group).
    */
  def lookup(spark: SparkSession, mvDir: String, key: Seq[Any]): DataFrame = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    require(key.length == st.groups.length,
      s"lookup key has ${key.length} values for ${st.groups.length} group columns")
    // validate/coerce each key value against its group column's declared
    // type BEFORE building the probe frame: a mismatched value (e.g. a
    // Long for an int column) would otherwise surface as an opaque
    // encoder error deep in createDataFrame (review fix). Lossless
    // numeric widening/narrowing is accepted; anything else names the
    // column and the expected type.
    val coerced: Seq[Any] = st.groups.zip(st.gtypes).zip(key).map {
      case (_, null) => null
      case ((_, "int"), v: java.lang.Integer) => v
      case ((n, "int"), v: java.lang.Long) =>
        require(v.longValue == v.intValue,
          s"lookup key for group column '$n' (int) out of range: $v")
        Int.box(v.intValue)
      case ((_, "long"), v: java.lang.Long) => v
      case ((_, "long"), v: java.lang.Integer) => Long.box(v.longValue)
      case ((_, "string"), v: String) => v
      case ((n, t), v) => throw new IllegalArgumentException(
        s"lookup key for group column '$n' expects $t, got ${v.getClass.getSimpleName}: $v")
    }
    val keySchema = StructType(st.groups.zip(st.gtypes).map { case (n, t) =>
      StructField(n, gdt(t), nullable = true)
    })
    val keyDf = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row.fromSeq(coerced)),
      keySchema)
    val b = keyDf.select(bucketCol(st, st.groups.map(col)).as("_b"))
      .collect().head.getInt(0)
    driverRowsCollected.incrementAndGet()
    val pred = st.groups.zip(key).map { case (g, kv) =>
      if (kv == null) col(g).isNull else col(g) === lit(kv)
    }.reduce(_ && _)
    stateDf(spark, mvDir, st, Some(Set(b)))
      .where(pred)
      .select(outputProjection(st): _*)
  }

  /** The view's USER-FACING projection (groups, then each agg's value
    * slot under its declared name) — one definition for read and lookup.
    */
  private def outputProjection(st: MvdState): Seq[Column] =
    st.groups.map(col) ++
      st.aggs.zipWithIndex.map { case (a, i) =>
        // dsum reads back as DOUBLE (the type the summed column had);
        // the exact decimal is internal state discipline, not the API
        if (a.kind == "dsum") col(slotV(i)).cast(DoubleType).as(a.name)
        else col(slotV(i)).as(a.name)
      }

  /** Re-bucket the state into `newBuckets` segments — the maintenance op
    * for a view whose group cardinality outgrew its bucket count (fat
    * buckets make every refresh rewrite outsized files) or shrank below
    * it (needless small files). ONE distributed rewrite of the whole
    * state under the new bucket function, flipped as a new version with
    * UNCHANGED watermarks — refreshes before and after see the same
    * view; only the carry-forward granularity changes. Races with a
    * concurrent refresh resolve by the ordinary flip election.
    */
  def rebucket(spark: SparkSession, mvDir: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1 && newBuckets <= 4096, s"buckets out of range: $newBuckets")
    var attempt = 0
    while (true) {
      val stateV = currentVersion(mvDir)
      require(stateV > 0L, s"no distributed materialized view at $mvDir")
      val st = readHeaderAt(mvDir, stateV)
      if (st.buckets == newBuckets) {
        // the desired end state already holds — an IDEMPOTENT no-op on
        // every attempt, not just after a lost flip: a concurrent
        // rebucket to the same count that commits before this caller's
        // first header read must not turn into an error one flip earlier
        // than the identical race would succeed. The misuse signal is a
        // counter, not an exception.
        rebucketNoops.incrementAndGet()
        return
      }
      val newSt = st.copy(buckets = newBuckets)
      val full = stateDf(spark, mvDir, st, None)
      try {
        val refs = writeSegments(mvDir, stateV + 1L, newSt, full)
        writeHeader(mvDir, stateV + 1L, newSt.copy(refs = refs))
        return
      } catch {
        case _: MvConflict if attempt < 5 => attempt += 1
        case c: MvConflict => throw c
      }
    }
  }

  /** Definition + state summary for the `.mvs` census ([[SinkMvDdl]],
    * round 19) — header fields plus segment-count/bytes, no data IO.
    */
  private[sources] final case class MvDescribe(
      src: String, groups: Seq[String], pred: String, srcV: Long,
      buckets: Int, aggs: Seq[MvAgg], nSegments: Int, stateBytes: Long,
      mvVersion: Long)

  private[sources] def describe(mvDir: String): MvDescribe = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    MvDescribe(st.src, st.groups, st.pred, st.srcV, st.buckets, st.aggs,
      st.refs.size, bucketStats(mvDir).map(_._3).sum, v)
  }

  /** Per-bucket state-segment METADATA — (bucket, n_files, bytes) from
    * file status only, zero data IO: the policy input for
    * [[autoRebucket]], exposed the way the table format exposes its
    * partitions metadata table. Bytes proxy rows (fixed-width TSV cells),
    * so the growth/skew thresholds need no state scan.
    */
  def bucketStats(mvDir: String): Seq[(Int, Int, Long)] = {
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    // ONE directory listing, not one status RPC per segment — on an
    // object store per-file round trips would dominate the "metadata
    // only" promise (review fix). A referenced-but-missing segment is
    // corruption and fails loudly.
    val sizes = SinkFs.fileSizes(new Path(mvDir))
    st.refs.groupBy(_._1).toSeq.map { case (b, files) =>
      (b, files.size, files.map(f => sizes.getOrElse(f._2,
        sys.error(s"state segment ${f._2} referenced by v$v is missing at $mvDir"))).sum)
    }.sortBy(_._1)
  }

  /** STATS-TRIGGERED auto-rebucket — the dist-MV analogue of the table's
    * auto-compact: a view whose group cardinality outgrew its bucket
    * count makes every refresh rewrite outsized segment files, so when
    * the MEAN bucket size crosses `targetBytesPerBucket` the state is
    * rebucketed to the power-of-two count that brings it back under
    * target (capped at `maxBuckets`); a max/mean ratio past `skewFactor`
    * (adversarial key clustering) doubles the count instead. Returns the
    * new bucket count when triggered, None otherwise — an untriggered
    * call costs O(segment files) driver metadata reads and nothing else.
    * Query results are IDENTICAL before and after (rebucket changes only
    * carry-forward granularity; spec- and gate-pinned).
    */
  def autoRebucket(
      spark: SparkSession, mvDir: String, targetBytesPerBucket: Long,
      skewFactor: Double = 4.0, maxBuckets: Int = 4096): Option[Int] = {
    require(targetBytesPerBucket > 0L, "targetBytesPerBucket must be positive")
    // rebucket itself enforces <= 4096; a larger caller cap must clamp
    // here instead of crashing mid-policy (review fix)
    val cap = math.min(maxBuckets, 4096)
    val v = currentVersion(mvDir)
    require(v > 0L, s"no distributed materialized view at $mvDir")
    val st = readHeaderAt(mvDir, v)
    val stats = bucketStats(mvDir)
    val total = stats.map(_._3).sum
    val mean = total.toDouble / math.max(1, st.buckets)
    val maxBytes = stats.map(_._3).foldLeft(0L)(math.max)
    def pow2ceil(x: Long): Int = {
      var n = 1
      while (n < x && n < cap) n <<= 1
      // the last shift may overshoot a non-power-of-two cap (review fix)
      math.min(n, cap)
    }
    val want = pow2ceil(math.ceil(total.toDouble / targetBytesPerBucket).toLong)
    if (mean > targetBytesPerBucket && want > st.buckets) {
      rebucket(spark, mvDir, want)
      Some(want)
    } else if (st.buckets > 1 && st.buckets < cap &&
      maxBytes > skewFactor * math.max(1.0, mean)) {
      val n = math.min(cap, st.buckets * 2)
      rebucket(spark, mvDir, n)
      Some(n)
    } else None
  }

  /** Sweep superseded headers and every state segment no RETAINED header
    * references, plus aged staging/tmp litter from crashed flips. Carried
    * (shared) segments survive as long as any retained version lists
    * them. Age-gating protects an in-flight refresh's already-moved
    * segments, exactly like the table vacuum's tmp rule.
    */
  def vacuum(
      mvDir: String, retainVersions: Int = 1,
      olderThanMillis: Long = 7L * 24 * 3600 * 1000L): Seq[String] = {
    require(retainVersions >= 1, "an MV must retain at least its current state")
    val cur = currentVersion(mvDir)
    require(cur > 0L, s"no distributed materialized view at $mvDir")
    val floor = math.max(1L, cur - retainVersions + 1L)
    val dirPath = new Path(mvDir)
    val fs = SinkFs.fsOf(dirPath)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val names = SinkFs.listFileNames(dirPath)
    // a prior tighter vacuum may have swept versions above today's floor:
    // only read headers that still EXIST (review fix — a missing header
    // is already-swept history, not an error)
    val present: Set[Long] = names.collect { case StateV(n) => n.toLong }.toSet
    val referenced: Set[String] =
      (floor to cur).filter(present)
        .flatMap(v => readHeaderAt(mvDir, v).refs.map(_._2)).toSet
    val swept = names.filter {
      case StateV(n) => n.toLong < floor
      case n if n.startsWith("state-") =>
        !referenced.contains(n) &&
          fs.getFileStatus(new Path(mvDir, n)).getModificationTime <= cutoff
      case n => n.startsWith("_mvd.tmp-") &&
        fs.getFileStatus(new Path(mvDir, n)).getModificationTime <= cutoff
    }.sorted
    swept.foreach(n => SinkFs.delete(new Path(mvDir, n)))
    // crashed staging DIRECTORIES (listFileNames sees files only)
    val stages = fs.listStatus(dirPath).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("_mvd.stage-") &&
      s.getModificationTime <= cutoff)
    stages.foreach(s => fs.delete(s.getPath, true))
    swept ++ stages.map(_.getPath.getName).sorted
  }
}
