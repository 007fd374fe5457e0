package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{
  Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, SupportsReportPartitioning, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{
  KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder,
  DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsDelta, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 WRITE path — the one connector direction DocGenSource
  * (read-side) leaves unexercised: a landing-zone sink with the
  * manifest-commit protocol every real distributed sink uses.
  *
  * Transactional contract (the point of the exercise):
  *   - each task's [[DataWriter]] streams rows to a PRIVATE temp file
  *     (`_tmp/<query>-p<partition>-a<attempt>`) — no reader can observe it;
  *   - task commit returns the temp path + row count as the commit
  *     message; task abort deletes the temp file — a failed/retried task
  *     leaves NOTHING visible (speculative duplicates die the same way:
  *     Spark's output-commit coordinator admits one winner per partition);
  *   - driver [[BatchWrite.commit]] renames the winners to job-unique
  *     `part-b<queryId>-<n>.tsv` names and THEN writes the next VERSIONED
  *     manifest (`_manifest.v<N>.json`, highest N wins — see
  *     [[ShardSink.writeManifestAt]]): visibility of the whole job is one
  *     atomic rename to a fresh name, so readers either see the complete
  *     committed file set or the previous version — a crash mid-commit
  *     can never make committed data invisible. Append MERGES the prior
  *     manifest's entries (jobs accumulate); truncate replaces them and
  *     deletes the orphans after the flip. [[BatchWrite.abort]] deletes
  *     the temps.
  *
  * The READ path trusts only the manifest: unmanifested files (from a
  * crashed job, a concurrent writer, an aborted attempt) are invisible.
  * One InputPartition per committed file preserves write parallelism.
  *
  * Fixed 3-column contract (doc_id BIGINT, shard INT, body STRING — the
  * docgen crawl's landing schema), TSV; bodies may not contain
  * tab/newline (validated at write — the md5-hex bodies never do).
  * `q_dsv2_write_roundtrip` drives write→manifest→read end-to-end under
  * the DuckDB hash gate.
  *
  * All IO goes through the Hadoop FileSystem API ([[SinkFs]]), so the
  * same commit sequence runs on HDFS (atomic rename) as on the local FS
  * used in tests. Known caveat, stated rather than hidden: on S3A-style
  * object stores rename is copy+delete (production there would swap the
  * final move for a conditional PUT). The round-12 delete-then-rename
  * manifest replacement — whose crash window degraded the whole table to
  * invisible — was retired in round 13 for version-numbered manifests
  * with fresh-name renames: no replace window exists at all.
  */
class ShardSinkSource extends TableProvider {
  // a time-travel read option pins the TABLE to that version, so the
  // reported schema is the per-version one (evolution-aware travel, same
  // contract as the catalog's VERSION AS OF path). Spark looks a provider
  // up per read and calls inferSchema, then getTable, with the same
  // options: the first call resolves and getTable takes that resolution.
  private var resolved: Option[(Seq[Option[String]], Option[Long])] = None
  private def asOfOf(path: String, get: String => String): Option[Long] = {
    val key = Seq(Some(path), Option(get("versionAsOf")), Option(get("timestampAsOf")),
      Option(get("tag")))
    resolved.collect { case (k, v) if k == key => v }.getOrElse {
      val v = ShardSink.resolveAsOfOpts(path, key(1), key(2), key(3))
      resolved = Some(key -> v)
      v
    }
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("shard sink requires a 'path' option"))
    if (options.getBoolean("readChangeFeed", false)) ShardSink.changeSchemaOf(path)
    else asOfOf(path, options.get).map(ShardSink.schemaAtVersion(path, _))
      .getOrElse(ShardSink.tableSchema(path))
  }
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "shard sink requires a 'path' option")
    ShardSink.installPlanner()
    // Delta's readChangeFeed spelling: the CDF is a DIFFERENT table shape
    // (change metadata columns), so it gets its own Table incarnation
    if ("true".equalsIgnoreCase(properties.get("readChangeFeed")))
      new ShardSinkChangeTable(path)
    else new ShardSinkTable(path,
      asOf = try asOfOf(path, properties.get) finally resolved = None,
      deleteMode = Option(properties.get("delete.mode")).getOrElse("copy-on-write"),
      rloMode = Option(properties.get("rlo.mode")).getOrElse("copy-on-write"),
      cdfEnabled = "true".equalsIgnoreCase(properties.get("cdf.enabled")),
      // Delta's writer option: `.option("mergeSchema", "true")` lets an
      // append/overwrite carry NEW columns — resolved by name, persisted
      // in the same commit as the rows (see ShardSinkTable.newWriteBuilder)
      acceptAnySchema = "true".equalsIgnoreCase(properties.get("mergeSchema")),
      // Delta's autoOptimize: `.option("autoCompact", "<rowsPerFile>")`
      // runs a binPack pass after each successful append — a no-op when
      // everything is already in band, so steady-state appends pay once
      autoCompact = Option(properties.get("autoCompact")).map(_.toLong))
  }
}

/** The change-feed incarnation of a landing zone
  * (`option("readChangeFeed", "true")`): batch reads versions
  * (`changeFeedFrom`, `changeFeedTo`] (defaults 0, current); streaming
  * tails one commit's changes per trigger. See
  * [[ShardSink.changePartitions]] for exactly which commits are change
  * events.
  */
class ShardSinkChangeTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"shardsink_changes($path)"
  override def schema(): StructType = ShardSink.changeSchemaOf(path)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardSinkChangeScan(
        path,
        Option(options.get("changeFeedFrom")).map(_.toLong).getOrElse(0L),
        Option(options.get("changeFeedTo")).map(_.toLong))
    }
}

/** @param deleteMode `copy-on-write` (default: straddling files are
  *   rewritten, [[ShardSink.deleteWhereImpl]]) or `merge-on-read`
  *   (delete vectors, [[ShardSink.morDeleteImpl]]) — the same knob
  *   Iceberg spells `write.delete.mode`, here a table/catalog option.
  * @param rloMode strategy for SQL UPDATE / MERGE (and rewrite-DELETE):
  *   `copy-on-write` (default: group-based
  *   [[ShardSinkRowLevelOperation]], affected files rewritten whole) or
  *   `merge-on-read` (delta-based [[ShardSinkDeltaOperation]]: deletes
  *   and updates land as positional delete vectors plus an append of the
  *   new rows — Iceberg's `write.update.mode`/`write.merge.mode`).
  * @param cdfEnabled Delta's `enableChangeDataFeed` as a table/catalog
  *   option, default OFF like Delta's: when on, commits whose row-level
  *   changes cannot be derived from the manifest diff (CoW DML, delta
  *   updates) write their change record at commit time
  *   ([[ShardSink.writeCdcSidecar]]) so `readChangeFeed` is exact — CoW
  *   rewrites pay the extra driver-side diff ONLY when the table opts
  *   in. When off, a later change-feed read over a CoW-DML version
  *   fails loudly (never silently misses rows), and delta updates
  *   surface collapsed as delete+insert (complete, just unpaired).
  */
class ShardSinkTable(
    path: String, asOf: Option[Long] = None, deleteMode: String = "copy-on-write",
    rloMode: String = "copy-on-write", cdfEnabled: Boolean = false,
    acceptAnySchema: Boolean = false, pendingSchema: Option[StructType] = None,
    // the persisted schema the PENDING shape was merged from (staged
    // REPLACE): the write's concurrent-ALTER guard pins THIS, not a
    // re-read — see the basisSchema note in newWriteBuilder
    pendingBasis: Option[String] = None,
    autoCompact: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"shardsink($path)"

  /** Backing directory + version pin, read by the MV-rewrite rule to
    * match registered base tables (a version-pinned read is never
    * rewritten — the MV reflects the CURRENT watermark, and pinned scans
    * are exactly what the MV machinery's own recomputes use).
    */
  def tableDir: String = path
  def pinnedVersion: Option[Long] = asOf

  /** [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]:
    * SQL UPDATE / MERGE INTO (and the copy-on-write fallback for DELETEs
    * outside the metadata-only predicate class). `rlo.mode` picks the
    * strategy: group-based copy-on-write ([[ShardSinkRowLevelOperation]])
    * or delta-based merge-on-read ([[ShardSinkDeltaOperation]]). With
    * SupportsDelete also present Spark picks the cheaper path per
    * statement: metadata delete when `canDeleteWhere` accepts, row-level
    * rewrite otherwise.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    rloMode match {
      case "merge-on-read" => () => new ShardSinkDeltaOperation(path, info.command(), cdfEnabled)
      case "copy-on-write" => () => new ShardSinkRowLevelOperation(path, info.command(), cdfEnabled)
      case other => throw new IllegalArgumentException(
        s"unknown rlo.mode '$other' (copy-on-write | merge-on-read)")
    }

  /** [[org.apache.spark.sql.connector.catalog.SupportsMetadataColumns]]:
    * the positional row identity of the lakehouse formats — `_file` (the
    * committed file's manifest name) and `_pos` (the physical 0-based row
    * position inside it, stable under merge-on-read vectors because
    * vector positions are physical too). The delta operation's
    * [[ShardSinkDeltaOperation.rowId]] keys on exactly these, and any
    * read can project them for provenance.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "committed file (manifest name)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical 0-based row position in _file"
      })
  /** The version-pinned schema: a time-travelled table reads under the
    * schema AS OF that version (rows appended post-evolution are
    * invisible there anyway, so the old shape is the truthful one).
    * `pendingSchema` (a staged REPLACE that evolves columns) overrides:
    * the stage must report the TARGET shape so Spark projects the
    * replacement query into it — the evolution itself is persisted only
    * by the staged write's own commit (see [[ShardSinkWrite]]).
    */
  override def schema(): StructType = pendingSchema.getOrElse(asOf match {
    case Some(v) => ShardSink.schemaAtVersion(path, v)
    case None => ShardSink.tableSchema(path)
  })

  /** `SHOW TBLPROPERTIES <cat>.<t>` surface: the table state the
    * manifest carries — current version, retention horizon, CHECK
    * constraints (under the same `graft.constraint.<name>` keys the DDL
    * uses, so SHOW output is re-runnable DDL), tags, and the DML modes
    * in force. Driver-tiny, manifest-only.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("graft.version", ShardSink.currentManifestVersion(path).toString)
    m.put("graft.horizon", ShardSink.horizonOf(path).toString)
    m.put("delete.mode", deleteMode)
    m.put("rlo.mode", rloMode)
    m.put("cdf.enabled", cdfEnabled.toString)
    ShardSink.currentConstraints(path).foreach { case (n, p) =>
      m.put(s"graft.constraint.$n", p)
    }
    ShardSink.listTags(path).foreach { case (n, v) =>
      m.put(s"graft.tag.$n", v.toString)
    }
    m
  }
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE)
    // mergeSchema writes: Spark's by-position output check would reject
    // the wider frame before the connector ever saw it — declare
    // ACCEPT_ANY_SCHEMA (Delta's approach) and do NAME-based resolution
    // + evolution admission in newWriteBuilder instead
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  /** [[org.apache.spark.sql.connector.catalog.SupportsDelete]]: SQL
    * `DELETE FROM <catalog>.<table> WHERE …` handled by the connector —
    * metadata-only when the predicate aligns with the shard-whole file
    * layout, rewrite-under-new-name otherwise; see
    * [[ShardSink.deleteWhereImpl]]. Unsupported predicates (e.g. on
    * `body`) are rejected HERE so Spark raises a clean error instead of
    * the sink guessing.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    ShardSink.deletePredicate(filters).isDefined
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    deleteMode match {
      case "merge-on-read" => ShardSink.morDeleteImpl(path, filters)
      case "copy-on-write" => ShardSink.deleteWhereImpl(path, filters, cdfEnabled)
      case other => throw new IllegalArgumentException(
        s"unknown delete.mode '$other' (copy-on-write | merge-on-read)")
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // ONE persisted-schema read feeds expect, evolveTo AND the write's
    // concurrent-ALTER pin (review fix: three separate reads left a
    // window where an ALTER landing between them made the guard compare
    // against the post-ALTER schema and pass — the evolving commit then
    // silently reverted the concurrent evolution)
    val persisted = ShardSink.tableSchema(path)
    val expect = pendingSchema.getOrElse(persisted)
    val incoming = info.schema()
    val exact = incoming.fields.map(f => (f.name, f.dataType)).sameElements(
      expect.fields.map(f => (f.name, f.dataType)))
    // WRITE-SIDE AUTO SCHEMA EVOLUTION (round 15 — Delta's mergeSchema):
    // under ACCEPT_ANY_SCHEMA the incoming frame resolves by NAME — new
    // columns are admitted as nullable evolution, missing evolved
    // columns null-fill, and the widened schema is persisted IN THE SAME
    // manifest flip as the rows (never a separate ALTER commit a crash
    // could strand). Without the option the exact-schema contract holds.
    val (target, colMap) =
      if (exact) (expect, null: Array[Int])
      else {
        require(acceptAnySchema,
          s"shard sink expects ${expect.simpleString}, got ${incoming.simpleString}")
        ShardSink.resolveWriteSchema(expect, incoming)
      }
    // the evolution (or a staged REPLACE's pending schema) rides the
    // write's own commit — compare against what is PERSISTED now
    val evolveTo = {
      val t = ShardSink.schemaString(target)
      if (t == ShardSink.schemaString(persisted)) None else Some(t)
    }
    // what the target was DERIVED from: the stage-time schema for a
    // staged REPLACE's merge, the just-read persisted schema otherwise
    val basis = pendingBasis.getOrElse(ShardSink.schemaString(persisted))
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // SaveMode.Overwrite maps here: the new job's manifest REPLACES the
      // old one (old files become invisible the instant it lands), and
      // commit() then deletes the orphaned previous files — visibility
      // flips atomically, physical cleanup follows
      private var doTruncate = false
      // FILTERED OVERWRITE (Delta's replaceWhere / dynamic-partition
      // backfill): `writeTo(t).overwrite(cond)` atomically replaces the
      // rows matching `cond` with the incoming data in ONE commit —
      // drop side via the DELETE WHERE copy-on-write core (metadata-only
      // for shard-aligned predicates), insert side the ordinary
      // clustered append, one manifest flip covering both
      private var replaceFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (filters.exists(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          doTruncate = true // overwrite(true) IS a truncate
        else {
          // fail at PLAN time on unsupported predicates, not mid-commit
          require(ShardSink.deletePredicate(filters).isDefined,
            s"unsupported overwrite predicate for shard sink: ${filters.mkString(", ")} " +
              "(supported: doc_id/shard comparisons and conjunctions)")
          replaceFilters = Some(filters)
        }
        this
      }
      override def build(): Write =
        new ShardSinkWrite(path, info.queryId(), doTruncate, target,
          replaceFilters, cdfEnabled, colMap = colMap, evolveTo = evolveTo,
          basisSchema = basis, autoCompact = autoCompact)
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // time travel, all the spellings: SQL `VERSION AS OF n` /
    // `VERSION AS OF 'tag'` / `TIMESTAMP AS OF ts` arrive via
    // [[ShardSinkCatalog.loadTable]] overloads (the table-level asOf);
    // the `versionAsOf` / `timestampAsOf` / `tag` read options arrive
    // here. Timestamps resolve to the newest version committed
    // at-or-before the instant; tags resolve through their ref file.
    val v = ShardSink.resolveAsOfOpts(path, Option(options.get("versionAsOf")),
      Option(options.get("timestampAsOf")), Option(options.get("tag")), pinned = asOf)
    // STATS-BASED FILE SKIPPING (round 13): shard-constraining conjuncts
    // prune whole files against the manifest's per-file shard range before
    // any data IO — file-granular only, so every filter is also returned
    // as a residual for Spark to re-apply row-level (pruning can keep a
    // file that still contains non-matching rows).
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      private var prune: Option[Set[Int]] = None
      private var pruneDocs: Option[(Long, Long)] = None
      private var prunePoints: Option[Set[Long]] = None
      // generic per-column envelope predicates ([[SinkColStats]]) — file
      // skipping on ANY eligible payload column; always residual (a kept
      // file may still hold non-matching rows), never consumption-eligible
      private var pruneColPreds: Seq[SinkColStats.ColPred] = Nil
      private var used: Array[Filter] = Array.empty
      private var sawFilters = false
      // filters CONSUMED by file-exact pruning (returned empty from
      // pushFilters): the built scan carries them so a downstream plan
      // analysis (the MV-rewrite rule) can reconstruct the predicate a
      // consumed Filter node no longer testifies to
      private var consumedF: Seq[Filter] = Nil
      // FILE-EXACT FILTER CONSUMPTION (round 15): when every pushed
      // filter is in the shard/doc class AND the manifest proves every
      // kept file is ALL-match (stats fully inside the predicate — the
      // shard-pure compacted layout makes this the common case for
      // shard-keyed predicates), the filters are consumed here: no
      // residual, the row scan reads exactly the matching rows, and —
      // the point — a COUNT/MIN/MAX on top stays eligible for the
      // manifest-only push. `SELECT count(*) WHERE shard IN (…)` on a
      // compacted landing zone is then zero data IO, the
      // partition-pruned count every table format special-cases. The
      // scan pins the version resolved HERE so the claim cannot rot
      // under a concurrent commit (snapshot isolation, like Delta).
      private var pinnedV: Option[Long] = v
      // ONE manifest resolution shared by the consumption proof and the
      // aggregate soundness gates (review fix: this was resolved up to
      // three times per planned query — and the gates validated against
      // a version the unpinned scan would NOT read, letting the purity
      // claim rot under a concurrent commit). prune/pruneDocs are set by
      // pushFilters before any aggregate call, so caching is safe.
      private var resolvedOnce: Option[(Option[Long], Seq[SinkEntry])] = None
      private def resolveForProof(): (Option[Long], Seq[SinkEntry]) =
        resolvedOnce.getOrElse {
          val pv = v.orElse(Some(ShardSink.currentManifestVersion(path)))
          // prunePoints rides the proof too: a bloom-pruned file contains
          // NO sought id, so excluding it from the all-match set (and
          // from a consumed count/min/max) is exact — and it keeps the
          // PLANNING read at O(bloom-positive segments), which is the
          // whole point on a point lookup over a segmented manifest
          val r = (pv, ShardSink.entriesAsOfPruned(path, pv, prune, pruneDocs,
            prunePoints))
          resolvedOnce = Some(r)
          r
        }
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        sawFilters = filters.nonEmpty
        prune = ShardSink.shardPruneSet(filters)
        pruneDocs = ShardSink.docPruneRange(filters)
        prunePoints = ShardSink.docPointSet(filters)
        // compiled once per filter: the flattened preds drive pruning and
        // the per-filter view drives the pushed-filter report
        val colPredsPerFilter = filters.map(f => SinkColStats.predsOf(Array(f), table))
        pruneColPreds = colPredsPerFilter.toSeq.flatten
        used = filters.zip(colPredsPerFilter).collect {
          case (f, ps) if ShardSink.oneShardSet(f).isDefined ||
            ShardSink.oneDocInterval(f).isDefined || ps.nonEmpty => f
        }
        // consumption eligibility: every filter understood EXACTLY —
        // shard filters are exact by construction (value sets, not
        // hulls), doc filters only in the convex class (review fix:
        // `oneDocInterval` HULLS In/Or — sound for skipping, WRONG for
        // consumption: `doc_id IN (0, 399)` hulls to [0,399] and a file
        // fully inside the hull is NOT all-match). IsNotNull on the
        // non-nullable core columns is trivially true.
        val understood = filters.forall {
          case org.apache.spark.sql.sources.IsNotNull("doc_id" | "shard" | "body") => true
          case f => ShardSink.oneShardSet(f).isDefined ||
            ShardSink.exactDocInterval(f)
        }
        if (sawFilters && understood) {
          val (pv, kept) = resolveForProof()
          val exact = kept.forall { e =>
            prune.forall(s => e.hasStats &&
              (e.shardMin to e.shardMax).forall(s.contains)) &&
              pruneDocs.forall { case (lo, hi) =>
                e.hasDocStats && e.docMin >= lo && e.docMax <= hi }
          }
          if (exact) {
            pinnedV = pv
            used = filters
            consumedF = filters.toSeq
            sawFilters = false // fully applied by file pruning
            return Array.empty
          }
        }
        filters // all residual: skipping decides which FILES to read
      }
      override def pushedFilters(): Array[Filter] = used
      // column pruning doubles as the metadata-column channel: a read
      // projecting `_file`/`_pos` arrives here with them appended
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // the version-pinned schema: positional layout for the reader AND
      // the unpruned default projection
      private val table: StructType = v match {
        case Some(ver) => ShardSink.schemaAtVersion(path, ver)
        case None => ShardSink.tableSchema(path)
      }
      private var required: StructType = table
      /** METADATA-ONLY COUNT (round 13): an unfiltered, ungrouped
        * `COUNT(*)` (or COUNT of a non-nullable column) is answered
        * straight from the manifest's live-row bookkeeping — zero data
        * IO, the `SELECT COUNT(*)` every table format special-cases.
        * Filters disqualify (this scan applies none itself); Spark only
        * attempts the push when no post-scan filter remains, and the
        * guard keeps the contract local.
        */
      /** METADATA-ONLY AGGREGATES (rounds 13/14/15): an ungrouped
        * COUNT(*) / COUNT(non-nullable col) answers from the manifest's
        * live-row bookkeeping, and MIN/MAX over the stats columns
        * (doc_id, shard) answer from the per-file ranges — zero data IO
        * either way, the `SELECT COUNT(*)/MIN/MAX` every table format
        * special-cases. Residual filters disqualify (this scan applies
        * none itself) — but filters CONSUMED by the file-exact pruning
        * path above stay eligible: the builder proved every kept file is
        * all-match, so the pruned entries' bookkeeping IS the filtered
        * answer. MIN/MAX additionally require every (kept) entry to
        * carry the stat AND no delete vectors anywhere: a vector may
        * have killed exactly the extreme row, making the file-level
        * range an over-approximation — COUNT stays eligible because
        * live-row counts are maintained through vector growth.
        *
        * GROUP BY shard (round 15): on a compacted layout where EVERY
        * kept entry is shard-PURE (s0 == s1 — rows never cross files
        * within a shard), the per-shard rollup is exactly the per-file
        * bookkeeping summed by shard: `SELECT shard, count(*) GROUP BY
        * shard` answers from the manifest with zero data IO, the
        * partition-level rollup a 100 TB landing zone is asked for
        * hourly. Straddling entries disqualify (a file's rows cannot be
        * attributed to one group), and a shard whose live rows all died
        * to vectors emits NO group row — group-by over zero rows has no
        * group.
        */
      private def metaAggs(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(Boolean, Seq[ShardSinkMetaAgg])] = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate._
        def col1(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
          e match {
            case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
            case _ => None
          }
        val grouped = agg.groupByExpressions() match {
          case Array() => Some(false)
          case Array(e) if col1(e).contains("shard") => Some(true)
          case _ => None
        }
        if (sawFilters || grouped.isEmpty || agg.aggregateExpressions().isEmpty) None
        else {
          val specs = agg.aggregateExpressions().toSeq.map {
            case _: CountStar => Some(MetaCount)
            case c: Count if !c.isDistinct =>
              col1(c.column).flatMap {
                case "doc_id" | "shard" | "body" => Some(MetaCount) // non-null core
                case n => payloadStatCol(n).map(_ => MetaCountCol(n))
              }
            case m: Min => col1(m.column).flatMap {
              case "doc_id" => Some(MetaMinDoc)
              case "shard" => Some(MetaMinShard)
              case n => payloadStatCol(n).map { dt => MetaMinCol(n, dt) }
            }
            case m: Max => col1(m.column).flatMap {
              case "doc_id" => Some(MetaMaxDoc)
              case "shard" => Some(MetaMaxShard)
              case n => payloadStatCol(n).map { dt => MetaMaxCol(n, dt) }
            }
            case _ => None
          }
          if (specs.exists(_.isEmpty)) None
          else {
            val out = specs.flatten
            val g = grouped.get
            // soundness gates, resolved ONCE and version-PINNED (review
            // fix: validating purity/no-deletes against the current
            // version and then executing unpinned let a concurrent
            // commit rot the claim between plan and run): grouped pushes
            // need shard-pure entries, MIN/MAX need full stats and zero
            // delete vectors
            if (!g && out.forall(_ == MetaCount)) Some((g, out))
            else {
              val (_, entries) = resolveForProof()
              val pure = !g ||
                entries.forall(e => e.hasStats && e.shardMin == e.shardMax)
              val docShard = out.exists(a =>
                a == MetaMinDoc || a == MetaMaxDoc ||
                  a == MetaMinShard || a == MetaMaxShard)
              val minmaxOk = !docShard ||
                entries.forall(e => e.hasStats && e.hasDocStats && !e.hasDeletes)
              // payload MIN/MAX: every entry must carry the column's
              // envelope under the column's own tag, vectors-free —
              // the same over-approximation argument as doc/shard
              val payloadCols = out.collect {
                case MetaMinCol(n, dt) => (n, SinkColStats.tagOf(dt).get)
                case MetaMaxCol(n, dt) => (n, SinkColStats.tagOf(dt).get)
              }.distinct
              // COUNT(col) additionally needs the null count in every entry
              val countCols = out.collect { case MetaCountCol(n) => n }.distinct
              val payloadOk = (payloadCols.isEmpty && countCols.isEmpty) ||
                entries.forall { e =>
                  !e.hasDeletes && e.cs.nonEmpty && {
                    val m = SinkColStats.decode(e.cs)
                    payloadCols.forall { case (n, t) => m.get(n).exists(_.t == t) } &&
                      countCols.forall(n => m.get(n).exists(_.nc.isDefined))
                  }
                }
              if (pure && minmaxOk && payloadOk) Some((g, out)) else None
            }
          }
        }
      }
      /** A payload column eligible for envelope-answered MIN/MAX: in the
        * pinned schema, stat-typed. doc_id/shard use the dedicated specs.
        */
      private def payloadStatCol(n: String)
          : Option[org.apache.spark.sql.types.DataType] =
        if (!table.fieldNames.contains(n)) None
        else {
          val dt = table(n).dataType
          SinkColStats.tagOf(dt).map(_ => dt)
        }
      private var pushedMeta: Option[(Boolean, Seq[ShardSinkMetaAgg])] = None
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        metaAggs(agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        metaAggs(agg) match {
          case some @ Some((g, out)) =>
            pushedMeta = some
            // pin the gated pushes to the version the gate validated —
            // the scan then reads exactly the proven snapshot
            if (g || out.exists(_ != MetaCount)) pinnedV = resolveForProof()._1
            true
          case None => false
        }
      override def build(): Scan = pushedMeta match {
        case Some((g, specs)) =>
          new ShardSinkCountScan(path, pinnedV, specs, prune, pruneDocs,
            prunePoints = prunePoints, groupByShard = g)
        case None =>
          new ShardSinkScan(path, pinnedV, prune, required, pruneDocs, table, prunePoints,
            pruneColPreds, consumedF)
      }
    }
  }
}

/** The pushed metadata-only aggregate shapes ([[ShardSinkCountScan]]):
  * live-row COUNT from the manifest bookkeeping; MIN/MAX over the stats
  * columns from the per-file ranges (eligibility — full stats, zero
  * delete vectors — is decided at push time).
  */
sealed trait ShardSinkMetaAgg extends Serializable
case object MetaCount extends ShardSinkMetaAgg
case object MetaMinDoc extends ShardSinkMetaAgg
case object MetaMaxDoc extends ShardSinkMetaAgg
case object MetaMinShard extends ShardSinkMetaAgg
case object MetaMaxShard extends ShardSinkMetaAgg
/** MIN/MAX over a PAYLOAD column, answered from the per-entry column
  * envelopes ([[SinkColStats]]) — eligible only when every kept entry
  * carries the column's stat with the column's own type tag and no
  * delete vectors exist (a vector may have killed exactly the extreme
  * row; an envelope min over non-null values IS SQL's null-ignoring
  * MIN). `dt` is the column's catalyst type: the pushed aggregate's
  * output schema must match it exactly.
  */
case class MetaMinCol(name: String, dt: org.apache.spark.sql.types.DataType)
  extends ShardSinkMetaAgg
case class MetaMaxCol(name: String, dt: org.apache.spark.sql.types.DataType)
  extends ShardSinkMetaAgg
/** COUNT over a nullable PAYLOAD column (round 16): live rows minus the
  * recorded per-file null counts — eligible only when every kept entry
  * carries the column's null count and no delete vectors exist (a
  * vector shrinks `rows` but not the write-time `nc`, so the
  * subtraction would drift; the gate keeps it exact).
  */
case class MetaCountCol(name: String) extends ShardSinkMetaAgg

/** The manifest-aggregate scan: one partition, every value resolved at
  * plan time on the driver from the (possibly version-pinned) manifest —
  * COUNTs from live-row bookkeeping, MIN/MAX from per-file stat ranges.
  * Ungrouped: one row (empty table: COUNT 0, MIN/MAX null). Grouped by
  * shard (builder proved every kept entry shard-pure): one row per shard
  * with live rows, the per-group values summed/min'd/max'd over that
  * shard's entries — a shard whose rows all died emits no group row.
  */
class ShardSinkCountScan(
    path: String, asOf: Option[Long], specs: Seq[ShardSinkMetaAgg],
    pruneShards: Option[Set[Int]] = None,
    pruneDocs: Option[(Long, Long)] = None,
    prunePoints: Option[Set[Long]] = None,
    groupByShard: Boolean = false)
  extends Scan with Batch {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override def readSchema(): StructType = {
    // contract: group-by columns first, then one column per aggregate
    val base =
      if (groupByShard) new StructType().add("shard", IntegerType, nullable = false)
      else new StructType()
    specs.zipWithIndex.foldLeft(base) { case (st, (sp, i)) =>
      sp match {
        case MetaCount => st.add(s"count_$i", LongType, nullable = false)
        case MetaMinDoc | MetaMaxDoc =>
          st.add(s"agg_$i", LongType, nullable = !groupByShard)
        case MetaMinShard | MetaMaxShard =>
          st.add(s"agg_$i", IntegerType, nullable = !groupByShard)
        case MetaMinCol(_, dt) => st.add(s"agg_$i", dt, nullable = !groupByShard)
        case MetaMaxCol(_, dt) => st.add(s"agg_$i", dt, nullable = !groupByShard)
        case MetaCountCol(_) => st.add(s"count_$i", LongType, nullable = false)
      }
    }
  }
  override def description(): String =
    s"ShardSinkCountScan[$path, manifest-only count/minmax" +
      (if (groupByShard) ", groupBy=shard" else "") +
      asOf.map(v => s", versionAsOf=$v").getOrElse("") +
      pruneShards.map(s => s", pruneShards=${s.toSeq.sorted.mkString("{", ",", "}")}")
        .getOrElse("") +
      pruneDocs.map { case (lo, hi) => s", pruneDocs=[$lo,$hi]" }.getOrElse("") + "]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // the SAME validation the row scan applies: out-of-range fails
    // loudly, and an expired snapshot's count is an error even though
    // the manifest alone could "answer" it — count and collect must
    // agree on validity (spec-pinned). Prune args arrive only from the
    // file-exact filter-consumption path, where the builder proved every
    // kept entry is ALL-match — summing their live rows IS the filtered
    // count.
    val entries =
      ShardSink.entriesAsOfPruned(path, asOf, pruneShards, pruneDocs, prunePoints)
    asOf.foreach(v => ShardSink.requireSnapshotLive(path, v, entries))
    // a clone whose source was vacuumed must not answer a stale
    // manifest-only count — same count/collect validity agreement
    ShardSink.requireForeignLive(path, entries)
    // the pushed payload MIN/MAX fold: per entry, the envelope's bound
    // for the column (push-time gating proved every entry carries it);
    // typed exactly as the output schema demands (strings → UTF8String).
    // Each entry's cs decodes ONCE per plan, shared across specs/groups.
    lazy val csDecoded: Map[String, Map[String, SinkColStats.ColStat]] =
      entries.map(e => e.file -> SinkColStats.decode(e.cs)).toMap
    def colBound(es: Seq[SinkEntry], n: String,
        dt: org.apache.spark.sql.types.DataType, isMin: Boolean): Any = {
      if (es.isEmpty) return null
      val t = SinkColStats.tagOf(dt).get
      // boundless (all-null) entries contribute no values — exactly
      // SQL's null-ignoring MIN/MAX; every entry boundless → NULL
      val raws = es.flatMap(e => {
        val st = csDecoded(e.file)(n)
        Option(if (isMin) st.lo else st.hi)
      })
      if (raws.isEmpty) return null
      val raw = if (isMin) raws.min(SinkColStats.orderFor(t))
        else raws.max(SinkColStats.orderFor(t))
      dt match {
        case org.apache.spark.sql.types.IntegerType => raw.toInt
        case org.apache.spark.sql.types.LongType => raw.toLong
        case org.apache.spark.sql.types.DoubleType => raw.toDouble
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      }
    }
    def aggsOf(es: Seq[SinkEntry]): Seq[Any] = specs.map {
      case MetaCount => es.map(_.rows).sum: Any
      case MetaMinDoc => if (es.isEmpty) null else es.map(_.docMin).min
      case MetaMaxDoc => if (es.isEmpty) null else es.map(_.docMax).max
      case MetaMinShard => if (es.isEmpty) null else es.map(_.shardMin).min
      case MetaMaxShard => if (es.isEmpty) null else es.map(_.shardMax).max
      case MetaMinCol(n, dt) => colBound(es, n, dt, isMin = true)
      case MetaMaxCol(n, dt) => colBound(es, n, dt, isMin = false)
      // push-time gating proved: no delete vectors (rows == written) and
      // every entry carries the column's null count — COUNT(col) is the
      // live rows minus the recorded nulls, zero data IO
      case MetaCountCol(n) =>
        es.map(e => e.rows - csDecoded(e.file)(n).nc.get).sum: Any
    }
    val rows: Array[Array[Any]] =
      if (groupByShard)
        entries.groupBy(_.shardMin).toSeq.sortBy(_._1)
          .filter { case (_, es) => es.map(_.rows).sum > 0L } // no rows, no group
          .map { case (s, es) => ((s: Any) +: aggsOf(es)).toArray }
          .toArray
      else Array(aggsOf(entries).toArray)
    Array(ShardSinkCountPartition(rows))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val rows = partition.asInstanceOf[ShardSinkCountPartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = {
          val vs = rows(i)
          val row = new GenericInternalRow(vs.length)
          vs.zipWithIndex.foreach { case (v, j) => row.update(j, v) }
          row
        }
        override def close(): Unit = ()
      }
    }
}

case class ShardSinkCountPartition(rows: Array[Array[Any]]) extends InputPartition

/** Hadoop-FileSystem IO layer: every read/write/rename/delete the sink
  * performs, resolved per-path so `file:`, `hdfs:` and compatible schemes
  * all work; executors build their own Configuration (classpath
  * core-site), the standard connector pattern.
  */
private[sources] object SinkFs {
  import org.apache.hadoop.fs.{FileSystem, Path}

  // ONE shared Configuration: each `new Configuration()` re-parses the
  // default XML resources on first property access (~ms), and fsOf runs
  // on every manifest/header/hint touch — thousands of times per
  // multi-commit lifecycle. Configuration is read-only here and
  // thread-safe for reads; FileSystem.get caches instances per scheme.
  private val hadoopConf = new org.apache.hadoop.conf.Configuration()

  def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Local (`file:`/schemeless) fast path. Hadoop's LocalFileSystem is a
    * ChecksumFileSystem and, with no native library loaded (this
    * container), permissioned creates FORK a `chmod` per file and every
    * create/read pays a `.crc` sidecar write/verify — measured as a
    * visible slice of every multi-commit lifecycle. Local paths therefore
    * go straight through java.io/java.nio (same bytes, same rename/
    * visibility semantics — [[moveFresh]] already special-cases local);
    * any real scheme (hdfs://, s3a://) keeps the Hadoop FS API path.
    */
  private def localOf(p: Path): Option[java.io.File] = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") Some(new java.io.File(u.getPath))
    else None
  }

  def exists(p: Path): Boolean = localOf(p) match {
    case Some(f) => f.exists()
    case None => fsOf(p).exists(p)
  }

  /** Name → length of the files directly under `dir`, from one listing
    * (empty when `dir` does not exist): the size source of the
    * metadata-only cost and statistics estimates.
    */
  def fileSizes(dir: Path): Map[String, Long] = {
    val fs = fsOf(dir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).filter(_.isFile).map(f => f.getPath.getName -> f.getLen).toMap
  }

  def delete(p: Path): Unit = localOf(p) match {
    case Some(f) => f.delete(); ()
    case None => fsOf(p).delete(p, false); ()
  }

  def create(p: Path): java.io.BufferedWriter = localOf(p) match {
    case Some(f) =>
      val parent = f.getParentFile
      if (parent != null && !parent.isDirectory) { parent.mkdirs(); () }
      new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(f, false), "UTF-8"))
    case None =>
      val fs = fsOf(p)
      fs.mkdirs(p.getParent)
      new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(p, true), "UTF-8"))
  }

  /** Raw input stream; throws java.io.FileNotFoundException on a missing
    * file on BOTH paths (callers map it to their named errors).
    */
  def open(p: Path): java.io.InputStream = localOf(p) match {
    case Some(f) => new java.io.FileInputStream(f)
    case None => fsOf(p).open(p)
  }

  def readString(p: Path): String = {
    val in = open(p)
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }

  def readLines(p: Path): Seq[String] =
    readString(p).split("\n", -1).toSeq.filter(_.nonEmpty)

  def listFileNames(dir: Path): Seq[String] = localOf(dir) match {
    case Some(d) =>
      val fs = d.listFiles()
      if (fs == null) Seq.empty else fs.toSeq.filter(_.isFile).map(_.getName)
    case None =>
      val fs = fsOf(dir)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
  }

  /** Recursive local delete — the one copy of the helper every
    * fixture-building query used to inline.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Move src over dest: atomic rename where the FS provides it (HDFS,
    * POSIX); the delete-first REPLACE window degrades to "file absent",
    * never to partial content (the src is fully written before the move).
    * Used for DATA files, whose destination names are job-unique — the
    * manifest flip uses [[moveFresh]] so it never opens this window.
    */
  def moveOver(src: Path, dest: Path): Unit = (localOf(src), localOf(dest)) match {
    case (Some(s), Some(d)) =>
      java.nio.file.Files.move(s.toPath, d.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    case _ =>
      val fs = fsOf(dest)
      if (fs.exists(dest)) fs.delete(dest, false)
      require(fs.rename(src, dest), s"rename failed: $src -> $dest")
  }

  /** Move to a name that must NOT exist — the winner-election primitive
    * of the whole commit protocol: of N writers racing the same manifest
    * version, exactly ONE must land and the rest must fail loudly.
    * On HDFS-like stores a plain rename IS that primitive (rename fails
    * when the destination exists, atomically). POSIX rename REPLACES the
    * destination, so on local paths an exists-check + rename is a TOCTOU
    * hole (two racers can both "win", the second silently burying the
    * first commit — caught by the 4-way concurrent append spec); there
    * the election is a hard LINK to the destination, which the kernel
    * fails with EEXIST atomically, followed by deleting the source.
    */
  def moveFresh(src: Path, dest: Path): Unit = {
    val scheme = dest.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val s = java.nio.file.Paths.get(src.toUri.getPath)
      val d = java.nio.file.Paths.get(dest.toUri.getPath)
      try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.delete(s)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalArgumentException(
            s"rename to fresh name failed (concurrent writer?): $src -> $dest")
      }
    } else {
      val fs = fsOf(dest)
      require(!fs.exists(dest) && fs.rename(src, dest),
        s"rename to fresh name failed (concurrent writer?): $src -> $dest")
    }
  }
}

/** The storage engine behind [[ShardSinkSource]] and [[ShardSinkCatalog]]:
  * the manifest commit protocol and its IO, file pruning, DML,
  * compaction, vacuum, time travel and table state. Only versioned
  * manifests (`_manifest.v<N>.json`) are read; a directory without one
  * holds no committed data. The oracle-checked lifecycle fixtures that
  * drive this engine end to end live in [[SinkLifecycles]].
  *
  * Every version is published by ONE commit loop, [[commit]]: it pins a
  * [[Base]], flips to exactly base+1 and, when a concurrent commit took
  * that version first, applies the commit's conflict rule:
  *   - blind appends and stream epochs re-base always ([[Commutes]]):
  *     their files are new and job-unique, so no commit can conflict
  *     with them (Delta's append-only rule);
  *   - compaction re-bases iff every entry it pinned is still present
  *     byte-identical — the winner only added files, which it carries
  *     forward verbatim ([[rebasesIfIntact]]);
  *   - copy-on-write and merge-on-read DELETE and replaceWhere re-base
  *     iff, in addition, manifest statistics prove every added file
  *     disjoint from the predicate ([[rebasesIfDisjoint]]): the serial
  *     order would have left those rows untouched;
  *   - everything else aborts ([[Aborts]]): truncate, ALTER, CHECK
  *     constraint DDL, restore, clone and the copy-on-write and delta
  *     row-level operations, whose content was derived from the pinned
  *     base.
  * Re-bases stop after 20 attempts. Independently of the rule, a commit
  * aborts on any base that gained a CHECK constraint after its rows were
  * validated, or — for a schema-evolving write — whose schema moved off
  * the one its target was derived from ([[Pins]]). An aborted commit
  * says which version won and why, and the winner stays intact.
  */
object ShardSink {
  import org.apache.hadoop.fs.Path
  import SinkMeta.{Manifest, SegmentFile, SegmentRef, Tag}

  /** VERSIONED manifests (round 13): the committed view is the
    * HIGHEST-numbered `_manifest.v<N>.json`. Every flip writes a body to
    * a temp name and renames it to a FRESH version name — plain atomic
    * rename, no delete, so the old delete-then-rename replace window
    * (whose crash degraded the WHOLE table to invisible) no longer
    * exists: a crash mid-flip leaves the previous version intact and the
    * operation simply never happened. Version-hint discovery is how real
    * table formats (Iceberg et al.) solve the same problem. Superseded
    * versions are RETAINED as the table's commit log (time travel, the
    * version-tail stream, CDF and history all read them).
    */
  private val ManifestV = """_manifest\.v(\d+)\.json""".r

  /** Installs [[graft.plans.OnePartition]] on the active session, so the
    * small reads of a lakehouse table (time travel, point and range
    * lookups, shard group-bys) aggregate and sort in one task. Called by
    * the path-based source and the catalog; idempotent.
    */
  private[sources] def installPlanner(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(graft.plans.OnePartition.install)

  /** Commit clock: every manifest version records its commit timestamp
    * (epoch millis, `"ts"` key) for `TIMESTAMP AS OF` resolution.
    * Injectable for deterministic tests and oracle-checked queries — the
    * same frozen-literal discipline F-6 uses for `current_timestamp`
    * (SURVEY §7.5): wall-clock values never reach an oracle compare.
    */
  @volatile private var clockOverride: Option[() => Long] = None
  def setCommitClock(c: Option[() => Long]): Unit = clockOverride = c
  private def commitTimeMillis(): Long =
    clockOverride.map(_()).getOrElse(System.currentTimeMillis())

  /** VERSION-HINT discovery (round 15, Iceberg's `version-hint.text`):
    * every flip also overwrites `_manifest.hint` with its version —
    * best-effort, NOT part of the commit (the flip's atomic rename is) —
    * and discovery reads the hint and probes FORWARD until the first
    * missing version instead of listing the directory. The hint is only
    * ever a LOWER BOUND: it is written after a successful flip (never
    * for a lost race), racing writers can overwrite each other with the
    * smaller value (the probe recovers), a crash between flip and hint
    * leaves it one behind (ditto), and a missing or torn hint falls back
    * to the full listing. Soundness never depends on the hint; only
    * cost does. WHY: `currentManifestVersion` runs at every query plan
    * and every commit, and the listing enumerates EVERY file in the
    * table directory — on the million-file table the rest of the
    * manifest layer is built for, that is O(table) driver IO per query
    * for a single number. With the hint it is one small read + O(commits
    * since the hint) existence probes.
    */
  /** The ONE resolution of the three time-travel read options —
    * `versionAsOf` / `timestampAsOf` / `tag`, at most one — shared by the
    * path-based source (schema + table pinning) and the scan builder, so
    * the spellings and errors can never diverge between the surfaces. A
    * table already `pinned` (by the same options at `getTable`, or by SQL
    * time travel) keeps its version: the options are checked, not resolved
    * again.
    */
  private[sources] def resolveAsOfOpts(
      path: String, vOpt: Option[String], tsOpt: Option[String],
      tagOpt: Option[String], pinned: Option[Long] = None): Option[Long] = {
    require(Seq(vOpt, tsOpt, tagOpt).count(_.isDefined) <= 1,
      "specify at most one of versionAsOf, timestampAsOf, tag")
    pinned.orElse(vOpt.map(_.toLong))
      .orElse(tsOpt.map(s => versionAtTimestamp(path, parseTsMillis(s))))
      .orElse(tagOpt.map(t => resolveTag(path, t)))
  }

  def currentManifestVersion(dir: String): Long = {
    val hinted = try {
      val hp = new Path(dir, "_manifest.hint")
      if (!SinkFs.exists(hp)) -1L
      else {
        val v = SinkFs.readString(hp).trim.toLong
        if (v > 0L && SinkFs.exists(new Path(dir, s"_manifest.v$v.json"))) v else -1L
      }
    } catch { case _: Exception => -1L }
    if (hinted > 0L) {
      var cur = hinted
      while (SinkFs.exists(new Path(dir, s"_manifest.v${cur + 1}.json"))) cur += 1
      cur
    } else {
      manifestListCount.incrementAndGet()
      SinkFs.listFileNames(new Path(dir))
        .collect { case ManifestV(n) => n.toLong }
        .foldLeft(0L)(math.max)
    }
  }

  /** Observability: full-listing fallbacks taken by [[currentManifestVersion]]
    * — the spec pins that hinted discovery does NOT list the directory.
    */
  private[sources] val manifestListCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Best-effort, post-flip: a plain overwrite-create (no tmp/rename
    * dance — the hint is advisory, a torn read falls back to listing).
    */
  private def writeHint(dir: String, version: Long): Unit =
    try {
      val w = SinkFs.create(new Path(dir, "_manifest.hint"))
      try w.write(version.toString) finally w.close()
    } catch { case _: Exception => () } // the commit already happened

  private val compactCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** COMPACTION — the small-files maintenance op every landing zone
    * accumulates toward: many small committed files (one per append job ×
    * write partition) consolidate into ONE shard-pure, id-sorted file per
    * shard, published as a new manifest version. Row content is untouched
    * (values are the oracle's business); the layout becomes the best case
    * for every later operation — shard stats exact per file, shard-keyed
    * deletes pure metadata, reads one partition per shard. Output names
    * use the `part-c` prefix, which the version-tail stream does NOT
    * treat as appended data — a tailer sees compaction as a no-op instead
    * of a full re-emit. Runs driver-side like the DELETE rewrite (a
    * control-plane op; a 100 TB deployment submits the per-shard merges
    * as a job — the manifest protocol is identical).
    *
    * RETENTION semantics (round 14 — the configurable horizon Iceberg
    * spells expire-snapshots): `retainVersions = N` keeps the last N
    * pre-compaction snapshots fully readable — their files, delete
    * vectors and change sidecars survive the sweep, and the new manifest
    * records the moved horizon (`"hz"`, [[horizonOf]]). Time travel,
    * change-feed ranges and tail positions OLDER than the horizon fail
    * loudly with the horizon in the message — never a raw FileNotFound
    * mid-job, never silently-wrong data. The default N = 0 is the
    * round-13 behavior: only the compacted snapshot remains.
    */
  /** `targetRowsPerFile`: 0 (default) keeps the one-file-per-shard
    * layout — right at harness sizes, WRONG at 100 TB, where a single
    * shard's consolidated file would be terabytes and one task would
    * read it. A positive target chunks each shard's id-sorted rows into
    * ≤target files, every chunk still shard-pure with exact doc-range
    * stats, so shard-grouped reads stay eligible (the V2 bucketing
    * machinery groups a shard's chunks into one task) and doc-range
    * pruning gets FINER — a point lookup reads one chunk, not the whole
    * shard. A production deployment always sets this (it is Delta
    * OPTIMIZE's maxFileSize, in rows).
    */
  /** Consolidate the table's files into shard-pure, doc-sorted chunks,
    * folding delete vectors. `binPack = false` (default) rewrites the
    * WHOLE live census — total clustering, the behavior every earlier
    * round pinned. `binPack = true` is Delta's `OPTIMIZE` shape: a file
    * that is already shard-pure, vector-free and WELL-SIZED (rows in
    * [⌈target/2⌉, target], the bin-packing band) — and locally owned —
    * is kept VERBATIM, name and bytes untouched; only the small, the
    * straddling, the vectored and the cloned-in files read and rewrite.
    * At 100 TB this is the difference between a maintenance pass that
    * rewrites the table and one that rewrites the day's ingest: cost is
    * O(unoptimized), and the steady state converges (yesterday's chunks
    * are all in-band, today's appends are not). Rewritten output smaller
    * than the band (a shard's ingest tail) packs again on a later pass —
    * Delta behaves the same way.
    */
  def compact(
      dir: String, retainVersions: Int = 0, targetRowsPerFile: Long = 0L,
      binPack: Boolean = false): Unit = {
    require(targetRowsPerFile <= Int.MaxValue.toLong,
      s"targetRowsPerFile $targetRowsPerFile exceeds the per-file row ceiling (2^31-1)")
    require(!binPack || targetRowsPerFile > 0L,
      "binPack compaction needs a targetRowsPerFile band")
    // base pinned at read; a commit landing mid-compaction (whose rows
    // would be silently un-compacted away) re-bases over blind appends
    // and aborts loudly on conflicting DML — data wins
    val base = resolveBase(dir)
    val (baseV, entries) = (base.v, base.entries)
    if (entries.isEmpty) return
    requireForeignLive(dir, entries)
    val minKeep = if (binPack) (targetRowsPerFile + 1L) / 2L else Long.MaxValue
    val (kept, toRewrite) = entries.partition(e =>
      binPack && e.hasStats && e.shardMin == e.shardMax && !e.hasDeletes &&
        e.rows >= minKeep && e.rows <= targetRowsPerFile &&
        !isForeign(e.file))
    if (toRewrite.isEmpty) {
      // everything in band: no rewrite — but the caller's retention
      // request still stands (review fix: a steady-state table's nightly
      // `compact(retainVersions = N, binPack = true)` must still expire
      // old versions, or the files a previous pass superseded are held
      // forever). Publish a horizon-only commit (census unchanged)
      // exactly when advancing the horizon would RELEASE at least one
      // file — anything weaker leaks, anything stronger never converges
      // (each horizon commit is itself a version, so an idle table would
      // commit forever chasing its own tail).
      val hz = horizonIn(base.m)
      val tagFloor = listTags(dir).map(_._2).minOption.getOrElse(Long.MaxValue)
      val wouldHz = math.min(tagFloor,
        math.max(hz, math.max(1L, (baseV + 1L) - retainVersions)))
      if (wouldHz > hz) {
        val keepAfter = (wouldHz to baseV).flatMap(refsAt(dir, _)).toSet ++
          entries.flatMap(fileRefs)
        val releasable =
          (math.max(1L, hz) until wouldHz).flatMap(refsAt(dir, _)).toSet -- keepAfter
        if (releasable.nonEmpty)
          publishCompaction(dir, base, kept,
            compactCounter.incrementAndGet(), retainVersions)
      }
      return
    }
    val byShard = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, String)]]
    toRewrite.foreach { e =>
      // live view: compaction FOLDS merge-on-read delete vectors — the
      // consolidated files carry only surviving rows and no vectors
      liveLines(dir, e).foreach { l =>
        val c = l.split("\t", 3)
        byShard.getOrElseUpdate(c(1).toInt, scala.collection.mutable.ArrayBuffer.empty)
          .append((c(0).toLong, l))
      }
    }
    val gen = compactCounter.incrementAndGet()
    // rewrites re-derive the per-column envelopes from the surviving
    // rows (schema pinned at the compaction base — older files simply
    // have shorter rows, whose missing cells the accumulator skips)
    val csTable = schemaIn(base.m)
    val newEntries = byShard.toSeq.sortBy(_._1).flatMap { case (shard, rows) =>
      val sorted = rows.sortBy(_._1)
      val chunks =
        if (targetRowsPerFile <= 0L) Seq(sorted.toSeq)
        else sorted.grouped(targetRowsPerFile.toInt).map(_.toSeq).toSeq
      chunks.zipWithIndex.map { case (chunk, k) =>
        val nf =
          if (chunks.size == 1) s"part-c$gen-s$shard.tsv"
          else s"part-c$gen-s$shard-$k.tsv"
        writeDataFile(dir, nf, chunk.map(_._2), csTable)
      }
    }
    // priorEntries = the FULL pinned base: the re-base intact check must
    // cover kept files too (an interloper's vector on a kept file would
    // otherwise be silently dropped by the carried-verbatim entry), and
    // the sweep spares them because the new manifest references them
    publishCompaction(dir, base, kept ++ newEntries, gen, retainVersions)
  }

  /** The shared publish tail of [[compact]] and the z-order rewrites:
    * flip the consolidated entries in with the moved horizon, then sweep
    * ONLY what no retained version references — data files, delete
    * vectors and change sidecars of versions at-or-above the horizon all
    * survive, so every promised snapshot/feed range stays exactly
    * readable (expiry below the horizon is enforced by the readers).
    *
    * A compaction runs minutes to hours at 100 TB, so a lost race
    * re-bases over pure additions ([[rebasesIfIntact]]) instead of
    * aborting — data wins, maintenance adapts.
    */
  private def publishCompaction(
      dir: String, base: Base, newEntries: Seq[SinkEntry], gen: Long,
      retainVersions: Int, opName: String = "compact"): Unit = {
    val priorEntries = base.entries
    val oldHz = horizonIn(base.m)
    // tags HOLD the horizon (Iceberg refs pin snapshots against
    // expiration): the horizon never moves past the oldest tagged
    // version, so tagged snapshots stay readable until dropped
    val tagFloor = listTags(dir).map(_._2).minOption.getOrElse(Long.MaxValue)
    def horizonOn(b: Base): Long =
      math.min(tagFloor, math.max(horizonIn(b.m), math.max(1L, b.v + 1 - retainVersions)))
    val published = (b: Base) => newEntries ++ additions(base, b)
    val curBase = commit(dir, base, opName, retryTag(s"c$gen"), rebasesIfIntact(),
      horizon = b => Some(horizonOn(b)))(published)
    val newV = curBase.v + 1
    val newHz = horizonOn(curBase)
    // one manifest read per version: the kept range and the expired
    // range are disjoint, and the base and the new version come from the
    // records in hand
    val newRefs = published(curBase).flatMap(fileRefs)
    val baseRefs = curBase.entries.flatMap(fileRefs) ++ curBase.m.toSeq.flatMap(_.cdc)
    def refsOfVersion(v: Long): Seq[String] =
      if (v == newV) newRefs else if (v == curBase.v) baseRefs else refsAt(dir, v)
    val keep: Set[String] = (newHz to newV).flatMap(refsOfVersion).toSet
    // EVERYTHING the newly-expired versions referenced is releasable,
    // not just the rewritten census (review follow-up: a file superseded
    // in an EARLIER retained version — a MOR-dropped data file, a
    // pre-compaction append a previous retaining pass held — leaked
    // forever once the horizon finally moved past it, because only
    // priorEntries were swept)
    val expiredRefs: Set[String] =
      (math.max(1L, oldHz) until newHz).flatMap(refsOfVersion).toSet
    // foreign (cloned-in) files are the SOURCE's property: dropping the
    // entry is the whole removal — compacting a clone MATERIALIZES it
    deleteOwned(dir,
      (priorEntries.map(_.file).toSet ++ expiredRefs).toSeq.filterNot(keep))
    SinkFs.listFileNames(new Path(dir)).filter(f =>
      (f.startsWith("del-") && f.endsWith(".pos")) ||
        (f.startsWith("cdc-") && f.endsWith(".tsv")))
      .filterNot(keep)
      .foreach(f => SinkFs.delete(new Path(dir, f)))
  }

  /** Z-ORDER compaction (round 14): Delta's `OPTIMIZE … ZORDER BY
    * (shard, doc_id)` — MULTI-dimensional clustering so BOTH filter
    * dimensions prune files. Plain [[compact]] makes shard-pure files:
    * shard filters prune perfectly, but a doc_id range must read every
    * shard's file. Here rows sort by the Morton interleave of the shard
    * with the doc_id's position in its value range — both normalized to
    * 4 bits so neither dimension dominates the order (the classic
    * zero-padded interleave would let the wider doc_id drown the shard
    * bits) — then chunk into `rowsPerFile` files. Each file covers a
    * small shard-range × doc-range rectangle with exact per-file stats,
    * so a filter on EITHER column skips most files and a conjunction
    * skips multiplicatively. Same commit protocol, vector folding and
    * retention semantics as [[compact]]; `part-c` names keep the
    * tail/CDF no-op semantics. Runs driver-side like every maintenance
    * rewrite — a 100 TB deployment submits the sort as a job (one range
    * exchange over z-values); the manifest protocol is identical.
    */
  def compactZOrder(
      dir: String, rowsPerFile: Int, retainVersions: Int = 0): Unit = {
    val base = resolveBase(dir)
    val entries = base.entries
    if (entries.isEmpty) return
    // same shallow-clone guard as plain compact: a vacuumed source must
    // surface as the named error, not a raw FileNotFound mid-rewrite
    requireForeignLive(dir, entries)
    val rows = entries.flatMap { e =>
      liveLines(dir, e).map { l =>
        val c = l.split("\t", 3); (c(0).toLong, c(1).toInt, l)
      }
    }
    val minDoc = rows.iterator.map(_._1).min
    val span = math.max(1L, rows.iterator.map(_._1).max - minDoc + 1L)
    def morton(doc: Long, shard: Int): Int = {
      val db = (((doc - minDoc) << 4) / span).toInt // doc quantile, 0..15
      var z = 0
      var i = 0
      while (i < 4) {
        z |= ((db >> i) & 1) << (2 * i + 1)
        z |= ((shard >> i) & 1) << (2 * i)
        i += 1
      }
      z
    }
    val gen = compactCounter.incrementAndGet()
    val csTable = schemaIn(base.m)
    val sorted = rows.sortBy { case (d, s, _) => (morton(d, s), d) }
    val newEntries = sorted.grouped(math.max(1, rowsPerFile)).zipWithIndex.map {
      case (chunk, i) => writeDataFile(dir, s"part-c$gen-z$i.tsv", chunk.map(_._3), csTable)
    }.toSeq
    publishCompaction(dir, base, newEntries, gen, retainVersions, opName = "zorder")
  }

  /** GENERALIZED Z-ORDER — `OPTIMIZE … ZORDER BY (c1, c2, …)` for
    * ARBITRARY columns (round 15): interleaves 4-bit EXACT-RANK quantiles
    * of each key column (long/int/double/string; doc_id and shard
    * included) into a Morton code and rewrites the table into chunks
    * sorted by it. The payoff is the per-column envelopes
    * ([[SinkColStats]]): after clustering, every chunk's min/max for
    * each key column is TIGHT, so pushed predicates on ANY of them prune
    * files — the multi-dimensional locality Delta's ZORDER BY buys, here
    * feeding the manifest skip instead of parquet row groups. Rank
    * quantiles (not linear interpolation) make the bucketing skew-proof:
    * 16 equal-POPULATION buckets per dimension regardless of value
    * distribution. NULLs sort into bucket 0 (they reach no envelope, but
    * they cluster together so non-null chunks stay tight). Runs
    * driver-side like [[compactZOrder]] — a cluster deployment would
    * sample ranks and range-partition the rewrite as a job; the manifest
    * protocol under test is identical.
    */
  def compactZOrderBy(
      dir: String, rowsPerFile: Int, cols: Seq[String],
      retainVersions: Int = 0): Unit = {
    require(cols.nonEmpty && cols.size <= 8,
      s"ZORDER BY takes 1..8 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate ZORDER BY columns: $cols")
    val base = resolveBase(dir)
    val entries = base.entries
    if (entries.isEmpty) return
    requireForeignLive(dir, entries)
    val table = schemaIn(base.m)
    val keyCols: Seq[(Int, Char)] = cols.map { c =>
      require(table.fieldNames.contains(c),
        s"ZORDER BY column '$c' not in ${table.fieldNames.mkString(",")}")
      val i = table.fieldIndex(c)
      val tag = SinkColStats.tagOf(table.fields(i).dataType).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column '$c' has unsupported type ${table.fields(i).dataType}"))
      (i, tag)
    }
    val rows: Seq[(Array[String], String)] = entries.flatMap { e =>
      liveLines(dir, e).map(l => (l.split("\t", -1), l))
    }
    def cellOf(cells: Array[String], i: Int): String =
      if (i < cells.length && cells(i) != NullCell) cells(i) else null
    def ordOf(tag: Char): Ordering[String] = SinkColStats.orderFor(tag)
    // exact rank → 16 equal-population buckets per dimension
    val bucketMaps: Seq[scala.collection.Map[String, Int]] = keyCols.map { case (i, tag) =>
      val ds = rows.iterator.map(r => cellOf(r._1, i)).filter(_ != null)
        .toArray.distinct.sorted(ordOf(tag))
      ds.iterator.zipWithIndex
        .map { case (v, k) => v -> (k * 16 / math.max(1, ds.length)) }
        .toMap
    }
    val n = keyCols.length
    // Long-typed Morton code: 8 columns × 4 bits reaches bit 31, which
    // would be an Int's sign bit and invert the curve's upper half
    def zOf(cells: Array[String]): Long = {
      var z = 0L
      var c = 0
      while (c < n) {
        val cell = cellOf(cells, keyCols(c)._1)
        val b = if (cell == null) 0 else bucketMaps(c)(cell)
        var bit = 0
        while (bit < 4) {
          z |= ((b >> bit) & 1).toLong << (bit * n + c)
          bit += 1
        }
        c += 1
      }
      z
    }
    val gen = compactCounter.incrementAndGet()
    // doc_id tie-break keeps the layout deterministic (ids are unique)
    val sorted = rows.sortBy { case (cells, _) => (zOf(cells), cells(0).toLong) }
    val newEntries = sorted.grouped(math.max(1, rowsPerFile)).zipWithIndex.map {
      case (chunk, i) => writeDataFile(dir, s"part-c$gen-z$i.tsv", chunk.map(_._2), table)
    }.toSeq
    publishCompaction(dir, base, newEntries, gen, retainVersions, opName = "zorder")
  }

  /** VACUUM — sweep files NO manifest version references: the garbage a
    * crashed or aborted job leaves (data files renamed into place whose
    * manifest flip never happened are invisible forever — correct, but
    * they hold disk). The reference set is every data file, delete
    * vector and change sidecar of EVERY manifest version still on disk
    * (compaction already swept what expired below the horizon), so
    * nothing any reader was promised can ever be vacuumed. Delta's
    * retention guard applies: only files whose modification time is at
    * least `olderThanMillis` old are candidates — a concurrent writer's
    * renamed-but-not-yet-committed files are younger and survive (7-day
    * default, Delta's; 0 sweeps everything and is only safe with no
    * write in flight — offline maintenance and tests). `_`-prefixed
    * names (manifests, `_tmp/`) are never candidates: temps are
    * attempt-unique and cleaned by their own writers/aborts. Returns the
    * swept names, oldest-lexicographic order.
    */
  def vacuum(dir: String, olderThanMillis: Long = 7L * 24 * 3600 * 1000L): Seq[String] = {
    val p = new Path(dir)
    val fs = SinkFs.fsOf(p)
    if (!fs.exists(p)) return Seq.empty
    val statuses = fs.listStatus(p).toSeq.filter(_.isFile)
    val manifests = statuses.map(_.getPath.getName)
      .collect { case ManifestV(n) => manifestAt(dir, n.toLong) }.flatten
    val refd: Set[String] = manifests.flatMap(refsOf(dir, _)).toSet
    // segment files NO version's manifest list references — a crashed
    // writer's orphans (written before the list flip that never
    // happened), or a conflict loser whose in-handler cleanup died. The
    // age guard protects an IN-FLIGHT commit's fresh segments exactly as
    // it protects its renamed data files. `.tmp` siblings of a crashed
    // mid-segment write are never referenced either, so the same rule
    // sweeps them.
    val refdSegs: Set[String] =
      manifests.flatMap(_.segs.getOrElse(Nil).map(_.name)).toSet
    val now = System.currentTimeMillis()
    val swept = statuses.filter { st =>
      val f = st.getPath.getName
      val sweepable =
        if (f.startsWith("_manifest.seg-")) !refdSegs.contains(f)
        else !f.startsWith("_") && !refd.contains(f)
      sweepable && now - st.getModificationTime >= olderThanMillis
    }.map(_.getPath.getName).sorted
    swept.foreach(f => SinkFs.delete(new Path(dir, f)))
    swept
  }

  /** (version, operation, total rows, rows added vs previous version,
    * commit timestamp) per retained manifest — driver-tiny (one row per
    * commit); op-less manifests read as "write".
    */
  def history(dir: String): Seq[(Long, String, Long, Long, Option[Long])] = {
    val current = currentManifestVersion(dir)
    // ONE manifest parse per version: the previous total folds forward
    var prev = 0L
    (1L to current).map { v =>
      val m = manifestAt(dir, v)
      val rows = m.map(entriesIn(dir, _)).getOrElse(Nil).map(_.rows).sum
      val row = (v, m.flatMap(_.op).getOrElse("write"), rows, rows - prev, m.map(_.ts))
      prev = rows
      row
    }
  }

  /** Committed (file, rows) pairs, from the manifest only. Missing
    * manifest = no committed data (an in-flight or crashed job), never an
    * error.
    */
  def committedFilesWithRows(dir: String): Seq[(String, Long)] =
    committedEntries(dir).map(e => (e.file, e.rows))

  /** Full manifest entries incl. per-file shard statistics. Missing
    * stats (pre-stats manifests, recovered entries) parse as unknown.
    */
  def committedEntries(dir: String): Seq[SinkEntry] =
    entriesAtVersion(dir, currentManifestVersion(dir))

  /** TWO-LEVEL MANIFESTS (round 14) — the layout that survives millions
    * of files: above [[segmentTarget]] entries, a version's blob stops
    * inlining the file list and instead references immutable SEGMENT
    * files (`"segs":[{"f":"_manifest.seg-<tag>-<k>.json","n":N},…]`,
    * Iceberg's manifest-list shape). Commit cost becomes O(changed):
    * [[writeSegments]] REUSES every previous segment whose entry set is
    * untouched (a blind append rewrites nothing — it adds one new
    * segment; a vector growth rewrites exactly the segment holding that
    * entry), so a million-file table's append writes a few KB, not the
    * whole census. Segments are `_`-prefixed (exempt from vacuum and
    * data-file classification), written BEFORE the list flip (a lost
    * race orphans only invisible litter), immutable once referenced
    * (cacheable forever — [[segmentCache]]), and format-mixable per
    * version: a table crosses the threshold whenever a commit does,
    * and old single-blob versions keep reading. The default target
    * keeps harness-scale tables single-blob; [[setSegmentTarget]] is
    * both the production tuning knob and the test hook.
    */
  private val segmentTargetRef = new java.util.concurrent.atomic.AtomicInteger(512)
  def setSegmentTarget(n: Int): Unit = {
    require(n >= 1, s"segment target must be >= 1, got $n")
    segmentTargetRef.set(n)
  }
  def segmentTarget: Int = segmentTargetRef.get()

  /** The ONE read of a table version's manifest: None when the version
    * does not exist (0 = before any commit). A caller that needs several
    * fields of a version reads it once and uses the record. Versions are
    * immutable, but there is no JVM-wide cache: the same directory can be
    * wiped and recommitted in one JVM, reusing version numbers.
    */
  def manifestAt(dir: String, version: Long): Option[Manifest] =
    if (version <= 0L) None
    else {
      val name = s"_manifest.v$version.json"
      try Some(SinkMeta.decode[Manifest](SinkFs.readString(new Path(dir, name)), s"$dir/$name"))
      catch { case _: java.io.FileNotFoundException => None }
    }

  private[sources] def segmentRefsAt(dir: String, version: Long): Seq[SegmentRef] =
    manifestAt(dir, version).flatMap(_.segs).getOrElse(Nil)

  // immutable-once-referenced: safe to cache across the JVM. LRU at the
  // cap (access-ordered LinkedHashMap) — a full clear would force a
  // re-read STORM on the next query of a table sitting just above the
  // cap, which is exactly the design-point table the layout exists for.
  private val segmentCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), Seq[SinkEntry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Seq[SinkEntry]]): Boolean =
        size() > 4096
    })
  /** Physical segment-file reads (cache misses) — the observability hook
    * the envelope-pruning spec pins its "whole segments were skipped"
    * assertion on.
    */
  private[sources] val segmentReadCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test/observability hook: the shard set most recently delivered to a
    * sink scan via [[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]]
    * — lets specs and the checked query pin that DPP actually fired (the
    * pruning is invisible in the final rows by design).
    */
  val lastRuntimeFilter = new java.util.concurrent.atomic.AtomicReference[Set[Int]](null)

  /** Data TSV files physically opened by sink readers — the "how many
    * files did this query actually read" proof runtime pruning and
    * point-lookup skipping assertions pin (local-mode observability; on
    * a cluster the same signal is the scan's input-file metrics).
    */
  val dataFileReadCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private[sources] def clearSegmentCacheForTest(): Unit = segmentCache.clear()
  /** Executor-callable segment read for the DISTRIBUTED metadata-table
    * scan (round 16): segments are immutable once referenced, so a
    * reader on any host sees exactly the snapshot the driver planned.
    */
  private[sources] def readSegmentEntries(dir: String, name: String): Seq[SinkEntry] =
    readSegment(dir, name)

  private def readSegment(dir: String, name: String): Seq[SinkEntry] = {
    val key = (dir, name)
    val cached = segmentCache.get(key)
    if (cached != null) cached
    else {
      // racing reads of the same immutable file are idempotent — no lock
      segmentReadCount.incrementAndGet()
      val es = SinkMeta.decode[SegmentFile](
        SinkFs.readString(new Path(dir, name)), s"$dir/$name").files
      segmentCache.put(key, es)
      es
    }
  }

  /** The envelope of a segment's entries: set only when EVERY entry
    * carries the stat (a partial envelope could claim a range an
    * unknown entry exceeds — same all-or-silent rule as the reported
    * column statistics).
    */
  private def envelopeOf(es: Seq[SinkEntry]): (Int, Int, Long, Long) = {
    val (s0, s1) =
      if (es.nonEmpty && es.forall(_.hasStats))
        (es.map(_.shardMin).min, es.map(_.shardMax).max)
      else (-1, -1)
    val (d0, d1) =
      if (es.nonEmpty && es.forall(_.hasDocStats))
        (es.map(_.docMin).min, es.map(_.docMax).max)
      else (-1L, -1L)
    (s0, s1, d0, d1)
  }

  /** Write one fresh segment: body to a `.tmp` sibling, then a
    * [[SinkFs.moveFresh]] ELECTION into the final name — never an
    * overwrite-create. Combined with the per-attempt nonce in the name
    * this makes "immutable once referenced" a guarantee, not a
    * convention: a colliding writer (two JVMs whose per-process counters
    * generated the same tag) fails its link with EEXIST instead of
    * silently clobbering a segment a committed version already
    * references.
    */
  private def writeSegmentFile(
      dir: String, tag: String, nonce: String, k: Int,
      entries: Seq[SinkEntry]): SegmentRef = {
    val name = s"_manifest.seg-$tag-$nonce-$k.json"
    val tmp = new Path(dir, s"$name.tmp")
    val w = SinkFs.create(tmp)
    try w.write(SinkMeta.encode(SegmentFile(entries))) finally w.close()
    SinkFs.moveFresh(tmp, new Path(dir, name))
    val (s0, s1, d0, d1) = envelopeOf(entries)
    SegmentRef(name, entries.size, s0, s1, d0, d1, DocBloom.union(entries.map(_.bf)),
      SinkColStats.mergeEnvelopes(entries.map(_.cs)))
  }

  /** The O(changed) commit core: previous segments whose entries are ALL
    * still wanted are referenced as-is; partially-surviving segments
    * rewrite with just their survivors; entries no previous segment
    * covers (the commit's additions) chunk into fresh segments.
    * Returns the refs (reused + fresh, with envelopes) AND the fresh
    * names alone — a lost manifest race must delete exactly the fresh
    * ones (they are attempt-unique and referenced by nothing; the reused
    * names belong to committed history).
    */
  private def writeSegments(
      dir: String, desired: Seq[SinkEntry], tag: String,
      prev: Seq[SegmentRef]): (Seq[SegmentRef], Seq[String]) = {
    val target = segmentTargetRef.get()
    // attempt-unique nonce: segment names must be collision-proof across
    // JVMs/restarts (compaction/DDL tags come from per-process counters)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val desiredSet = desired.toSet
    val covered = scala.collection.mutable.Set.empty[SinkEntry]
    val out = Seq.newBuilder[SegmentRef]
    val fresh = Seq.newBuilder[String]
    var k = 0
    prev.foreach { ref =>
      val es = readSegment(dir, ref.name)
      val kept = es.filter(e => desiredSet.contains(e) && !covered.contains(e))
      if (kept.nonEmpty) {
        if (kept.size == es.size) out += ref // reused as-is, envelope and all
        else {
          k += 1
          val r = writeSegmentFile(dir, tag, nonce, k, kept)
          out += r
          fresh += r.name
        }
        covered ++= kept
      }
    }
    desired.filterNot(covered.contains).grouped(target).foreach { chunk =>
      k += 1
      val r = writeSegmentFile(dir, tag, nonce, k, chunk)
      out += r
      fresh += r.name
    }
    (out.result(), fresh.result())
  }

  /** A version's entries in EITHER census layout, with ENVELOPE
    * PRUNING: a segment whose ref-level envelope cannot intersect the
    * pushed shard/doc predicates is skipped WITHOUT being read — the
    * scale payoff of the two-level layout (see [[SegmentRef]]). Surviving
    * segments' entries (and inline lists) then prune per-entry, so the
    * result is identical to filtering the full census.
    */
  private def entriesIn(
      dir: String, m: Manifest,
      pruneShards: Option[Set[Int]] = None, pruneDocs: Option[(Long, Long)] = None,
      prunePoints: Option[Set[Long]] = None,
      pruneCols: Seq[SinkColStats.ColPred] = Nil): Seq[SinkEntry] = {
    def perEntry(es: Seq[SinkEntry]): Seq[SinkEntry] = es
      .filter(e => pruneShards.forall(e.mayContainShard))
      .filter(e => pruneDocs.forall { case (lo, hi) => e.mayContainDocRange(lo, hi) })
      .filter(e => prunePoints.forall(e.mayContainDocPoints))
      // generic per-column envelopes ([[SinkColStats]]): entry-level only
      // (segment refs keep their shard/doc envelope; surviving segments'
      // entries prune here, after the segment read)
      .filter(e => e.mayMatchCols(pruneCols))
    m.segs match {
      case Some(refs) =>
        perEntry(refs
          .filter(r => pruneShards.forall(r.mayContainShard))
          .filter(r => pruneDocs.forall { case (lo, hi) => r.mayContainDocRange(lo, hi) })
          // union-bloom segment skipping: on stripe layouts whose doc
          // RANGES all overlap, this is the level that makes a point
          // lookup O(matching segments) driver IO
          .filter(r => prunePoints.forall(r.mayContainDocPoints))
          // per-column envelope: `lang = 'pt'` skips whole segments too
          .filter(r => r.mayMatchCols(pruneCols))
          .flatMap(r => readSegment(dir, r.name)))
      case None => perEntry(m.files)
    }
  }

  /** A file's data name plus its delete vector, if any. */
  private[sources] def fileRefs(e: SinkEntry): Seq[String] =
    e.file +: (if (e.hasDeletes) Seq(e.dv) else Nil)

  /** Everything a version references: data files, delete vectors and
    * its change sidecar.
    */
  private def refsOf(dir: String, m: Manifest): Seq[String] =
    entriesIn(dir, m).flatMap(fileRefs) ++ m.cdc

  private def refsAt(dir: String, version: Long): Seq[String] =
    manifestAt(dir, version).map(refsOf(dir, _)).getOrElse(Nil)

  def committedFiles(dir: String): Seq[String] = committedFilesWithRows(dir).map(_._1)

  /** The base a commit builds on: the current version, resolved ONCE,
    * with its manifest record and entries. Every flip path pins this at
    * read time and renames to base+1 — any interleaved commit is then
    * GUARANTEED to collide on the fresh-name rename ([[moveFresh]]),
    * closing the old TOCTOU window where a re-list between the conflict
    * check and the rename could land a stale entry list one version past
    * the interloper and silently drop its files. The record also carries
    * the table state (horizon, schema, constraints) the next version
    * inherits, so a commit reads its base manifest once.
    */
  private[sources] final case class Base(v: Long, m: Option[Manifest], entries: Seq[SinkEntry])
  private[sources] val NoBase = Base(0L, None, Nil)

  private[sources] def resolveBase(dir: String): Base = {
    val v = currentManifestVersion(dir)
    val m = manifestAt(dir, v)
    Base(v, m, m.map(entriesIn(dir, _)).getOrElse(Nil))
  }

  /** A lost manifest-version race: some other commit renamed `version`
    * into place first. [[commit]] answers it with the commit's rule.
    */
  private[sources] final case class ShardSinkConflict(dir: String, version: Long)
    extends RuntimeException(
      s"manifest version $version at $dir was committed by a concurrent writer")

  /** Shared manifest flip core: body to a temp name, then ONE atomic
    * rename to the CALLER-PINNED fresh version name — visibility is all
    * or nothing, a crash anywhere leaves the previous version (and
    * therefore the whole committed table) intact, and a concurrent
    * writer racing to the same version loses the rename (dst exists) and
    * surfaces as [[ShardSinkConflict]]. Superseded versions are retained
    * as the commit log.
    *
    * SCALE: below [[segmentTarget]] entries the version is ONE JSON
    * blob enumerating every live file — right at harness counts. Above
    * it, the blob becomes a manifest LIST referencing immutable SEGMENT
    * files with per-commit reuse (Iceberg's two-level layout,
    * implemented in [[writeSegments]]), so a million-file table's
    * append writes O(changed), not O(table). The protocol — pin-base,
    * fresh-name rename, carried-forward table state — is identical in
    * both layouts; state keys always live in the list blob.
    */
  private[sources] def writeManifestAt(
      dir: String, files: Seq[SinkEntry], tag: String, base: Base,
      cdc: Option[String], horizon: Option[Long], schema: Option[String],
      op: Option[String], constraints: Option[Seq[(String, String)]]): Unit = {
    val version = base.v + 1
    val mTmp = new Path(dir, s"_manifest.$tag.tmp")
    // `op` is a per-commit marker (NOT table state — never carried
    // forward): a RESTORE commit's file-set diff is all genuine row
    // change (no physical rewrites ride a restore), so the change feed
    // derives it with plain-diff semantics. Retention horizon, schema
    // and CHECK constraints are table state: carried forward from the
    // base version unless this commit moves them (a retaining
    // compaction / an ALTER TABLE); an empty constraint list overrides
    // once and is not carried
    val head = Manifest(commitTimeMillis(), op,
      horizon.orElse(base.m.flatMap(_.hz)), schema.orElse(base.m.flatMap(_.schema)),
      constraints.orElse(base.m.flatMap(_.ck).filter(_.nonEmpty)), cdc)
    // above the segment target the list references immutable segment
    // files instead of inlining the census — commit cost O(changed),
    // see the TWO-LEVEL MANIFESTS scaladoc
    var freshSegs: Seq[String] = Nil
    val json = SinkMeta.encode(
      if (files.size <= segmentTargetRef.get()) head.copy(files = files)
      else {
        val (refs, fresh) =
          writeSegments(dir, files, tag, base.m.flatMap(_.segs).getOrElse(Nil))
        freshSegs = fresh
        head.copy(segs = Some(refs))
      })
    val w = SinkFs.create(mTmp)
    try w.write(json) finally w.close()
    val dest = new Path(dir, s"_manifest.v$version.json")
    try SinkFs.moveFresh(mTmp, dest)
    catch {
      case _: IllegalArgumentException =>
        SinkFs.delete(mTmp)
        // this attempt's fresh segments are attempt-unique and referenced
        // by nothing — delete them here, or a conflict-heavy workload
        // (the 20-retry append loop at segment scale) accumulates
        // unreclaimable litter (vacuum also sweeps unreferenced segments
        // as a backstop, for the crash case this handler can't see)
        freshSegs.foreach(n => SinkFs.delete(new Path(dir, n)))
        throw ShardSinkConflict(dir, version)
    }
    // O(1) discovery for every subsequent read/commit (advisory — see
    // [[currentManifestVersion]]); racing writers may interleave hint
    // writes in either order, the forward probe absorbs it
    writeHint(dir, version)
  }

  /** How a commit answers a lost manifest race: given the base it pinned
    * and the winner's base, `None` re-runs it on the winner's base (the
    * commits commute), `Some(why)` aborts it. The rules are described
    * once, in the [[ShardSink]] scaladoc.
    */
  private[sources] type OnConflict = (Base, Base) => Option[String]

  /** Blind appends and stream epochs: their files are new and job-unique
    * and no other commit can have read them, so they commute with every
    * commit (Delta's append-only rule).
    */
  private[sources] val Commutes: OnConflict = (_, _) => None

  /** Read-modify-write commits whose content is derived from the pinned
    * base and not re-derivable on another one (truncate, ALTER, CHECK
    * constraints, restore, clone, copy-on-write and delta row-level
    * operations).
    */
  private[sources] val Aborts: OnConflict =
    (_, _) => Some("its result was derived from the base version")

  /** Compaction and DML: re-base iff every pinned entry is still present
    * byte-identical in the winner (no interloper touched a file this
    * operation read, kept, rewrote or vectored — a vector on a kept file
    * would otherwise be silently dropped by the carried entry) and
    * `admit` accepts the winner's [[additions]].
    */
  private[sources] def rebasesIfIntact(
      admit: Seq[SinkEntry] => Option[String] = _ => None): OnConflict = (pinned, winner) => {
    val now = winner.entries.map(e => e.file -> e).toMap
    if (!pinned.entries.forall(e => now.get(e.file).contains(e)))
      Some("changed the operation's input files")
    else admit(additions(pinned, winner))
  }

  /** The DML rule: besides intact inputs, every added entry must be
    * PROVABLY DISJOINT from the DML predicate by manifest statistics —
    * its shard range, doc envelope or doc-id bloom rules out every row
    * the predicate matches (the same sound-superset derivations the
    * read-side prune uses). A serial execution (append first, then this
    * DML) would have left those rows untouched, so carrying them forward
    * verbatim IS the serial result; a stats-less or possibly-matching
    * file might have lost rows in the serial order, so it aborts.
    */
  private[sources] def rebasesIfDisjoint(filters: Array[Filter]): OnConflict = {
    val ps = shardPruneSet(filters)
    val pd = docPruneRange(filters)
    val pp = docPointSet(filters)
    rebasesIfIntact { added =>
      val disjoint = added.forall(e =>
        ps.exists(ss => !e.mayContainShard(ss)) ||
          pd.exists { case (lo, hi) => !e.mayContainDocRange(lo, hi) } ||
          pp.exists(s => !e.mayContainDocPoints(s)))
      if (disjoint) None
      else Some("added files that may match the operation's predicate " +
        "(manifest statistics cannot prove them disjoint)")
    }
  }

  /** The entries of `b` the pinned base did not hold: what a re-based
    * commit carries forward verbatim.
    */
  private[sources] def additions(pinned: Base, b: Base): Seq[SinkEntry] =
    if (b eq pinned) Nil
    else {
      val files = pinned.entries.iterator.map(_.file).toSet
      b.entries.filterNot(e => files.contains(e.file))
    }

  /** The per-attempt manifest tag of a commit named `tag`: the tag itself,
    * then `<tag>-r<n>` for the n-th re-base.
    */
  private[sources] def retryTag(tag: String): Int => String =
    n => if (n == 0) tag else s"$tag-r$n"

  /** What a commit pinned when it derived its rows: the CHECK constraints
    * its rows were validated against, and — for a schema-changing write —
    * the schema it derived its target from. Every base the commit lands
    * on is checked: a constraint added since then never saw the landed
    * rows, and overwriting a concurrently changed schema would silently
    * revert that evolution (Delta resolves both as transaction
    * conflicts).
    */
  private[sources] final case class Pins(
      constraints: Option[Seq[(String, String)]] = None, schema: Option[String] = None) {
    def check(dir: String, op: String, b: Base): Unit = {
      constraints.foreach { pinned =>
        val added = constraintsIn(b.m).filterNot(pinned.contains)
        if (added.nonEmpty)
          throw new IllegalStateException(
            s"ShardSink $op at $dir conflicts with a concurrent ADD CONSTRAINT " +
              s"(${added.map(_._1).mkString(", ")}): the rows it lands were not " +
              "validated against these CHECK constraints; aborted loudly — re-run")
      }
      schema.foreach { pinned =>
        val cur = schemaString(schemaIn(b.m))
        if (cur != pinned)
          throw new IllegalStateException(
            s"ShardSink schema-evolving $op at $dir conflicts with a concurrent " +
              s"schema change ($pinned -> $cur); aborted loudly — re-run")
      }
    }
  }

  /** Deterministic interleave hook for the concurrency specs: runs ONCE at
    * the start of the next [[commit]] — after the commit pinned its base
    * and derived its content, before its first flip: the window a
    * concurrent commit lands in on a real deployment, impossible to
    * schedule reliably with threads alone.
    */
  private[sources] val beforeFlip =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** THE commit loop: every manifest version is published here. Flips
    * `publish(b)` onto `b` = the `pinned` base (renaming to exactly
    * base+1, so any interleaved commit collides, [[writeManifestAt]]);
    * on a lost race `onConflict` either re-runs the flip on the winner's
    * base or aborts loudly, naming the version that won and why — at most
    * 20 re-bases. The `pins` guard is checked on every base the commit
    * lands on. Returns the base the commit landed on. No files are lost
    * either way: the winner's commit is untouched, and an aborted
    * commit's artifacts stay invisible (never manifested).
    */
  private[sources] def commit(
      dir: String, pinned: Base, op: String, tag: Int => String, onConflict: OnConflict,
      pins: Pins = Pins(), cdc: Option[String] = None, schema: Option[String] = None,
      constraints: Option[Seq[(String, String)]] = None,
      horizon: Base => Option[Long] = _ => None)(publish: Base => Seq[SinkEntry]): Base = {
    Option(beforeFlip.getAndSet(null)).foreach(_.apply())
    @scala.annotation.tailrec
    def attempt(n: Int, b: Base): Base = {
      pins.check(dir, op, b)
      val lost =
        try {
          writeManifestAt(dir, publish(b), tag(n), b, cdc, horizon(b), schema, Some(op),
            constraints)
          None
        } catch { case c: ShardSinkConflict => Some(c.version) }
      lost match {
        case None => b
        case Some(v) =>
          val next = resolveBase(dir)
          onConflict(pinned, next)
            .orElse(if (n >= 20) Some("kept conflicting through 20 re-base attempts") else None)
            .foreach { why =>
              throw new IllegalStateException(
                s"ShardSink concurrent-writer conflict at $dir: version $v was " +
                  s"committed while this $op (base version ${pinned.v}) was in flight " +
                  s"and $why; the operation aborted loudly and the concurrent commit " +
                  "is intact — re-run against the new table state")
            }
          attempt(n + 1, next)
      }
    }
    attempt(0, pinned)
  }

  /** The committed file entries AS OF a specific manifest version (0 =
    * before any commit). Versions are retained (see [[writeManifestAt]]),
    * so the diff of consecutive versions is the commit's file delta.
    */
  def entriesAtVersion(
      dir: String, version: Long,
      pruneShards: Option[Set[Int]] = None,
      pruneDocs: Option[(Long, Long)] = None,
      prunePoints: Option[Set[Long]] = None,
      pruneCols: Seq[SinkColStats.ColPred] = Nil): Seq[SinkEntry] =
    manifestAt(dir, version)
      .map(entriesIn(dir, _, pruneShards, pruneDocs, prunePoints, pruneCols))
      .getOrElse(Nil)

  /** The RETENTION HORIZON a manifest records (`"hz"`): the oldest
    * version still readable (time travel, change feed, tail). Moved only
    * by a retaining [[compact]]; carried forward by every other commit;
    * absent (= 1, everything readable) until the first compaction.
    */
  private[sources] def horizonIn(m: Option[Manifest]): Long = m.flatMap(_.hz).getOrElse(1L)

  /** The CURRENT retention horizon: reads older than this version must
    * fail loudly instead of hitting missing files mid-job.
    */
  def horizonOf(dir: String): Long =
    horizonIn(manifestAt(dir, currentManifestVersion(dir)))

  /** SCHEMA EVOLUTION (round 14): the table schema is PER-VERSION state,
    * recorded in the manifest (`"schema":"name:type,…"`) and carried
    * forward by every commit; absent = the original 3-column layout.
    * Columns map to TSV positions by schema order, so evolution is pure
    * metadata: `ALTER TABLE … ADD COLUMN` flips a manifest with the
    * widened schema and touches NO data file — pre-evolution files are
    * simply shorter rows, null-filled at read time; a literal `\N` cell
    * is an explicit null in post-evolution files. The first three
    * columns (doc_id, shard, body) are load-bearing (sharding, stats,
    * delete predicates) and cannot be renamed or retyped; added columns
    * can be renamed (positional mapping is unaffected). Iceberg does the
    * same thing with field IDs; positions suffice here because columns
    * are never dropped or reordered.
    */
  private[sources] val NullCell = "\\N"

  /** CHECK constraints (round 14 — Delta ADD CONSTRAINT semantics, see
    * [[SinkConstraint]]): table state in the manifest, `"ck":[{"n":name,
    * "p":pred},…]` in definition order, carried forward by every commit
    * like schema and the retention horizon. Names are identifiers;
    * predicates are JSON strings, so any character a SQL predicate can
    * hold round-trips. An empty list (all constraints dropped) still
    * overrides the carry-forward.
    */
  private[sources] def constraintsIn(m: Option[Manifest]): Seq[(String, String)] =
    m.flatMap(_.ck).getOrElse(Nil)

  /** The named CHECK constraints in force AS OF a manifest version. */
  def constraintsAt(dir: String, version: Long): Seq[(String, String)] =
    constraintsIn(manifestAt(dir, version))

  def currentConstraints(dir: String): Seq[(String, String)] =
    constraintsAt(dir, currentManifestVersion(dir))

  /** `ALTER TABLE … SET TBLPROPERTIES ('graft.constraint.<name>' =
    * '<pred>')`: admit the predicate (grammar + column/type resolution,
    * [[SinkConstraint.compile]]), then VALIDATE EXISTING ROWS with a
    * distributed Spark job over the connector scan — Delta's ADD
    * CONSTRAINT runs exactly this full-table check — refusing the DDL if
    * any live row violates (predicate IS FALSE; NULL passes). The flip
    * is read-modify-write on the pinned base: a concurrent commit aborts
    * it loudly, so a row landing mid-validation can never slip under the
    * new constraint.
    */
  private[sources] def addConstraint(dir: String, name: String, pred: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid constraint name '$name'")
    require(!pred.exists(_.isControl), "constraint predicates may not contain control chars")
    val base = resolveBase(dir)
    val (baseV, entries) = (base.v, base.entries)
    SinkConstraint.compile(pred, schemaIn(base.m)) // admit grammar + refs before any IO
    val cur = constraintsIn(base.m)
    require(!cur.exists(_._1 == name),
      s"CHECK constraint $name already exists on $dir (UNSET it first)")
    if (entries.nonEmpty) {
      val spark = org.apache.spark.sql.SparkSession.active
      val violations = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("versionAsOf", baseV.toString).load()
        .where(org.apache.spark.sql.functions.expr(s"NOT ($pred)"))
        .limit(1).count()
      require(violations == 0L,
        s"cannot add CHECK constraint $name: existing rows violate ($pred)")
    }
    commit(dir, base, "addConstraint", retryTag(s"ckadd${alterCounter.incrementAndGet()}"),
      Aborts, constraints = Some(cur :+ ((name, pred))))(_ => entries)
  }

  private[sources] def dropConstraint(dir: String, name: String): Unit = {
    val base = resolveBase(dir)
    val cur = constraintsIn(base.m)
    require(cur.exists(_._1 == name), s"no CHECK constraint $name on $dir")
    commit(dir, base, "dropConstraint", retryTag(s"ckdrop${alterCounter.incrementAndGet()}"),
      Aborts, constraints = Some(cur.filterNot(_._1 == name)))(_ => base.entries)
  }

  private def typeNameOf(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType => "long"
    case org.apache.spark.sql.types.IntegerType => "int"
    case org.apache.spark.sql.types.DoubleType => "double"
    case org.apache.spark.sql.types.StringType => "string"
    case other => throw new IllegalArgumentException(
      s"unsupported shard sink column type ${other.simpleString} " +
        "(supported: bigint, int, double, string)")
  }

  private def typeOfName(s: String): org.apache.spark.sql.types.DataType = s match {
    case "long" => org.apache.spark.sql.types.LongType
    case "int" => org.apache.spark.sql.types.IntegerType
    case "double" => org.apache.spark.sql.types.DoubleType
    case "string" => org.apache.spark.sql.types.StringType
    case other => throw new IllegalArgumentException(s"unknown shard sink column type $other")
  }

  private[sources] def schemaString(st: StructType): String =
    st.fields.map(f => s"${f.name}:${typeNameOf(f.dataType)}").mkString(",")

  /** NAME-based write resolution for mergeSchema writes: every `expect`
    * column maps to its position in the incoming frame (or -1 =
    * null-fill, legal because evolved columns are nullable); incoming
    * columns beyond `expect` are admitted as nullable evolution. Core
    * columns must be present with exact types; known columns must match
    * their declared type exactly (type WIDENING stays an explicit ALTER —
    * a write that silently widened the table would invert the
    * reader/writer contract). Returns the TARGET schema and the
    * per-target-column source index.
    */
  private[sources] def resolveWriteSchema(
      expect: StructType, incoming: StructType): (StructType, Array[Int]) = {
    val inIdx = incoming.fields.zipWithIndex.map { case (f, i) => f.name -> i }.toMap
    require(inIdx.size == incoming.fields.length,
      s"duplicate column names in write schema ${incoming.simpleString}")
    DocGen.schema.fields.foreach { cf =>
      val i = inIdx.getOrElse(cf.name, -1)
      require(i >= 0, s"shard sink write must include core column '${cf.name}'")
      require(incoming.fields(i).dataType == cf.dataType,
        s"core column '${cf.name}' must be ${cf.dataType.simpleString}, " +
          s"got ${incoming.fields(i).dataType.simpleString}")
    }
    expect.fields.foreach { f =>
      inIdx.get(f.name).foreach { i =>
        require(incoming.fields(i).dataType == f.dataType,
          s"write column '${f.name}': ${incoming.fields(i).dataType.simpleString} " +
            s"does not match table type ${f.dataType.simpleString} " +
            "(type widening is an explicit ALTER TABLE)")
      }
    }
    val known = expect.fieldNames.toSet
    val extras = incoming.fields.filterNot(f => known.contains(f.name))
    extras.foreach(f => typeNameOf(f.dataType)) // admission: supported types only
    val target = StructType(expect.fields ++ extras.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)))
    (target, target.fields.map(f => inIdx.getOrElse(f.name, -1)))
  }

  /** Serialize one row to its TSV line in TABLE-schema column order;
    * `idx(i)` is the physical position of table column i in the incoming
    * row. Null added-column cells write the `\N` sentinel; string values
    * are tab/newline-guarded (and must not BE the sentinel).
    */
  private[sources] def serializeRow(
      row: org.apache.spark.sql.catalyst.InternalRow,
      idx: Array[Int], table: StructType): String = {
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < idx.length) {
      if (i > 0) sb.append('\t')
      val f = table.fields(i)
      // idx(i) < 0 = column absent from the incoming frame (a mergeSchema
      // write missing an evolved column): null-fill, legal for i >= 3
      if (i >= 3 && (idx(i) < 0 || row.isNullAt(idx(i)))) sb.append(NullCell)
      else f.dataType match {
        case org.apache.spark.sql.types.LongType => sb.append(row.getLong(idx(i)))
        case org.apache.spark.sql.types.IntegerType => sb.append(row.getInt(idx(i)))
        case org.apache.spark.sql.types.DoubleType => sb.append(row.getDouble(idx(i)))
        case _ =>
          val s = row.getUTF8String(idx(i)).toString
          require(!s.exists(c => c == '\t' || c == '\n' || c == '\r'),
            s"shard sink ${f.name} values may not contain tab/newline")
          require(s != NullCell,
            s"shard sink ${f.name} values may not be the literal null sentinel $NullCell")
          sb.append(s)
      }
      i += 1
    }
    sb.toString
  }

  private def parseSchemaString(s: String): StructType =
    StructType(s.split(",").zipWithIndex.map { case (c, i) =>
      val Array(n, t) = c.split(":")
      org.apache.spark.sql.types.StructField(n, typeOfName(t), nullable = i >= 3)
    })

  private[sources] def schemaIn(m: Option[Manifest]): StructType =
    m.flatMap(_.schema).map(parseSchemaString).getOrElse(DocGen.schema)

  /** The table schema AS OF a manifest version (pre-commit = the
    * original 3-column layout) — time travel reads old snapshots under
    * their OLD schema, spec-pinned.
    */
  def schemaAtVersion(dir: String, version: Long): StructType =
    schemaIn(manifestAt(dir, version))

  def tableSchema(dir: String): StructType =
    schemaAtVersion(dir, currentManifestVersion(dir))

  private val alterCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `ALTER TABLE … ADD COLUMN`: pure metadata — the widened schema flips
    * in on the same entries; no data file is touched. New columns are
    * nullable (pre-evolution rows read as null) and append after the
    * existing ones.
    */
  private[sources] def addColumn(
      dir: String, name: String, dt: org.apache.spark.sql.types.DataType): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name '$name'")
    typeNameOf(dt) // reject unsupported types before touching anything
    val base = resolveBase(dir)
    val cur = schemaIn(base.m)
    require(!cur.fieldNames.contains(name), s"column $name already exists")
    // a re-used name (rename-then-re-add) must not inherit the old
    // column's envelopes: the new column is all-null for existing rows
    val scrubbed = base.entries.map(e =>
      if (e.cs.isEmpty) e else e.copy(cs = SinkColStats.dropIn(e.cs, name)))
    alter(dir, base, scrubbed, cur.add(name, dt, nullable = true))
  }

  /** Widen an ADDED column's type (pure metadata): int→bigint,
    * int/bigint→double. Old cells reparse under the wider type — "5" is
    * a valid long and a valid double — so no data file is touched.
    * Narrowing and core-column retypes refuse loudly.
    */
  private[sources] def widenColumn(
      dir: String, name: String, to: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val base = resolveBase(dir)
    val cur = schemaIn(base.m)
    val idx = cur.fieldIndex(name)
    require(idx >= 3,
      s"column $name is part of the fixed (doc_id, shard, body) core and cannot be retyped")
    val ok = (cur.fields(idx).dataType, to) match {
      case (IntegerType, LongType) | (IntegerType, DoubleType)
           | (LongType, DoubleType) => true
      case (a, b) => a == b
    }
    require(ok,
      s"unsupported type change for $name: ${cur.fields(idx).dataType.simpleString} -> " +
        s"${to.simpleString} (only widenings int->bigint, int/bigint->double)")
    val widened = StructType(cur.fields.updated(idx, cur.fields(idx).copy(dataType = to)))
    alter(dir, base, base.entries, widened)
  }

  /** Rename an ADDED column (pure metadata; positional mapping
    * unaffected). The original three columns are load-bearing — sharding,
    * stats, delete predicates key on them — and refuse to move.
    */
  private[sources] def renameColumn(dir: String, from: String, to: String): Unit = {
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name '$to'")
    val base = resolveBase(dir)
    val cur = schemaIn(base.m)
    val idx = cur.fieldIndex(from) // throws a clear error when absent
    require(idx >= 3,
      s"column $from is part of the fixed (doc_id, shard, body) core and cannot be renamed")
    require(!cur.fieldNames.contains(to), s"column $to already exists")
    // Delta blocks renaming a column a CHECK constraint references: the
    // stored predicate names it, so the rename would break enforcement
    constraintsIn(base.m).foreach { case (n, p) =>
      require(!SinkConstraint.references(p).contains(from),
        s"column $from is referenced by CHECK constraint $n; drop it first")
    }
    val renamed = StructType(cur.fields.updated(idx, cur.fields(idx).copy(name = to)))
    // the envelopes describe POSITIONS; carry them to the new name so a
    // renamed column keeps pruning and the old name carries nothing
    val carried = base.entries.map(e =>
      if (e.cs.isEmpty) e else e.copy(cs = SinkColStats.renameIn(e.cs, from, to)))
    alter(dir, base, carried, renamed)
  }

  /** The schema flip every column DDL ends in: same files, new schema. */
  private def alter(dir: String, base: Base, entries: Seq[SinkEntry], to: StructType): Unit = {
    commit(dir, base, "alter", retryTag(s"alter${alterCounter.incrementAndGet()}"), Aborts,
      schema = Some(schemaString(to)))(_ => entries)
  }

  private val restoreCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** RESTORE the table to an earlier snapshot (Delta `RESTORE TABLE …
    * VERSION AS OF`, Iceberg rollback): a NEW commit whose entry list
    * and schema are the target version's — history is preserved, so a
    * restore is itself undoable and shows in the version log (marked
    * `"op":"restore"`, which also lets the change feed derive its row
    * changes exactly: a restore performs no physical rewrites, so every
    * file-set difference is genuine row change). Read-modify-write:
    * pins its base and aborts loudly on a concurrent commit. Refuses
    * below the retention horizon, and refuses when any restored file or
    * delete vector was already released by a later copy-on-write
    * rewrite / compaction (retention 0 sweeps replaced files at commit)
    * — never manifests dangling entries. SQL spelling:
    * `ALTER TABLE t SET TBLPROPERTIES ('graft.restore' = '<version>')`.
    */
  private[sources] def restore(dir: String, toVersion: Long): Unit = {
    val base = resolveBase(dir)
    val baseV = base.v
    require(toVersion >= 1L && toVersion <= baseV,
      s"cannot restore $dir to version $toVersion: the table is at version " +
        s"$baseV (restorable range is 1..$baseV)")
    val hz = horizonIn(base.m)
    require(toVersion >= hz,
      s"cannot restore $dir to version $toVersion: the retention horizon is " +
        s"$hz (versions below it were released by compaction)")
    val target = manifestAt(dir, toVersion)
    val entries = target.map(entriesIn(dir, _)).getOrElse(Nil)
    val missing = entries.flatMap(fileRefs).filterNot(f => SinkFs.exists(new Path(dir, f)))
    require(missing.isEmpty,
      s"cannot restore $dir to version $toVersion: ${missing.sorted.mkString(", ")} " +
        "released by a later rewrite or compaction (compact with retainVersions " +
        "to keep snapshots restorable)")
    commit(dir, base, "restore", retryTag(s"restore${restoreCounter.incrementAndGet()}"),
      Aborts, schema = Some(schemaString(schemaIn(target))),
      // Delta RESTORE reverts table METADATA with the data: the CHECK
      // constraint set becomes the target version's (an empty set writes
      // the empty-list override, not a carry-forward of the pre-restore set)
      constraints = Some(constraintsIn(target)))(_ => entries)
  }

  /** A manifest entry naming a file OUTSIDE this table's directory — the
    * mark of a SHALLOW CLONE ([[cloneShallow]]): clone entries carry the
    * source's files as absolute paths, which every read site resolves
    * correctly because `new Path(dir, child)` ignores `dir` for an
    * absolute child. Foreign files are the SOURCE's property: physical
    * cleanup (compaction sweeps, CoW/truncate/replaceWhere obsolete
    * deletion) must drop them from the manifest WITHOUT deleting bytes —
    * Delta's shallow-clone remove semantics.
    */
  private[sources] def isForeign(name: String): Boolean =
    name.startsWith("/") || name.contains("://")

  /** Physical deletion that respects clone boundaries: never touches a
    * foreign (cloned-in) file.
    */
  private[sources] def deleteOwned(dir: String, names: Iterable[String]): Unit =
    names.filterNot(isForeign).foreach(f => SinkFs.delete(new Path(dir, f)))

  /** A CLONED-IN file must still exist at plan time: the source table's
    * VACUUM or zero-retention compaction can release files a shallow
    * clone references (the documented shallow-clone hazard — Delta's
    * too). Local manifest-committed files are trusted (this table's own
    * retention controls them); foreign ones get an explicit existence
    * check so the failure is a named error, never a raw FileNotFound
    * mid-job. Driver-side, clones only, a stat per foreign file.
    */
  private[sources] def requireForeignLive(dir: String, entries: Seq[SinkEntry]): Unit = {
    val missing = entries.flatMap(fileRefs).filter(isForeign)
      .filterNot(f => SinkFs.exists(new Path(f)))
    require(missing.isEmpty,
      s"shallow clone at $dir references source files that no longer exist " +
        s"(${missing.sorted.mkString(", ")}) — the source was VACUUMed or " +
        "compacted; re-clone, or compact the clone right after cloning to " +
        "materialize it")
  }

  private val cloneCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** SHALLOW CLONE (round 14) — Delta `CREATE TABLE … SHALLOW CLONE src
    * [VERSION AS OF v]`: a NEW table whose first commit references the
    * source snapshot's data files (and delete vectors) by absolute path —
    * ZERO data copied, metadata only. From then on the tables diverge
    * independently: DML on the clone copies-on-writes or vectors locally
    * (new files land in the CLONE's directory; dropped foreign entries
    * are manifest-only removals — the source's bytes are never touched),
    * and commits to the source are invisible to the clone (it pinned a
    * version, not a reference). Compacting the clone MATERIALIZES it
    * (all entries become local; the source dependency ends). The clone
    * starts its OWN history at v1 (op = "clone"): its time travel,
    * retention and tags are independent of the source's. Schema and
    * CHECK constraints come from the cloned snapshot, like RESTORE.
    * SQL spelling (Spark has no CLONE statement; Delta ships one via a
    * parser extension; this catalog's tables exist implicitly, so the
    * spelling is property-DDL like restore/tags): `ALTER TABLE <cat>.<t>
    * SET TBLPROPERTIES ('graft.clone' = '<src-dir>[@<version-or-tag>]')`
    * on an EMPTY table. Documented hazard (Delta's too): VACUUM,
    * compaction or copy-on-write rewrites on the SOURCE release files
    * the clone references (this sink has no tombstone-retention window —
    * replaced files delete at commit) — clone reads then fail with a
    * named error ([[requireForeignLive]]); merge-on-read DML and appends
    * on the source are clone-safe. Compact the clone to end the
    * dependency.
    */
  /** Resolve a `graft.clone` spec to (source dir, pinned version). The
    * explicit companion property `graft.clone.version` wins and leaves
    * the whole spec as the path (immune to '@' in directory names);
    * otherwise the `<path>@<version-or-tag>` shorthand applies ONLY when
    * the prefix before the last '@' is a real (committed) table — a
    * path that merely CONTAINS '@' clones at latest.
    */
  private[sources] def parseCloneSpec(
      spec: String, explicit: Option[String]): (String, Option[Long]) = {
    def abs(p: String) = if (p.contains("://")) p else new java.io.File(p).getAbsolutePath
    explicit match {
      case Some(v) =>
        val src = abs(spec)
        (src, Some(if (v.nonEmpty && v.forall(_.isDigit)) v.toLong else resolveTag(src, v)))
      case None =>
        spec.lastIndexOf('@') match {
          case -1 => (spec, None)
          case at =>
            val prefix = abs(spec.substring(0, at))
            val ref = spec.substring(at + 1)
            if (ref.nonEmpty && currentManifestVersion(prefix) >= 1L)
              (prefix, Some(
                if (ref.forall(_.isDigit)) ref.toLong else resolveTag(prefix, ref)))
            else (spec, None) // the '@' belongs to the path itself
        }
    }
  }

  private[sources] def cloneShallow(
      srcSpec: String, dst: String, version: Option[Long] = None): Unit = {
    // a RELATIVE source would manifest entries that are neither foreign
    // (no leading '/') nor valid local names — normalize local paths to
    // absolute so isForeign/deleteOwned/requireForeignLive classify them
    val src =
      if (srcSpec.contains("://")) srcSpec
      else new java.io.File(srcSpec).getAbsolutePath
    require(new Path(src).toString != new Path(dst).toString,
      s"cannot clone $src onto itself")
    require(currentManifestVersion(dst) == 0L,
      s"clone target $dst already has commits (shallow clone creates a NEW table)")
    val srcCur = currentManifestVersion(src)
    require(srcCur >= 1L, s"cannot clone $src: the source has no committed version")
    val srcV = version.getOrElse(srcCur)
    require(srcV >= 1L && srcV <= srcCur,
      s"cannot clone $src at version $srcV: the source is at version $srcCur")
    val srcHz = horizonOf(src)
    require(srcV >= srcHz,
      s"cannot clone $src at version $srcV: the source's retention horizon is " +
        s"$srcHz (versions below it were released by compaction)")
    val srcM = manifestAt(src, srcV)
    val entries = srcM.map(entriesIn(src, _)).getOrElse(Nil)
    requireSnapshotLive(src, srcV, entries)
    val cloned = entries.map { e =>
      e.copy(
        file = new Path(src, e.file).toString,
        dv = if (e.hasDeletes) new Path(src, e.dv).toString else "")
    }
    commit(dst, NoBase, "clone", retryTag(s"clone${cloneCounter.incrementAndGet()}"), Aborts,
      schema = Some(schemaString(schemaIn(srcM))),
      constraints = Some(constraintsIn(srcM)))(_ => cloned)
  }

  /** TAGS (round 14) — Iceberg's named snapshot refs: a tag is an
    * immutable name → version pin stored as its own `_tag.<name>` file
    * (created with the fresh-name primitive, so two racers creating the
    * same tag elect one winner; re-tagging requires an explicit drop).
    * Like Iceberg refs pin snapshots against expiration, a tag HOLDS
    * the retention horizon: compaction never moves the horizon past the
    * oldest tagged version, so every tagged snapshot stays exactly
    * readable until its tag is dropped. Readable via
    * `VERSION AS OF 'name'` (string refs share Spark's version-travel
    * spelling) and `option("tag", name)`; `graft.restore` accepts a tag
    * name too. Names must not be all digits (that spelling is a version
    * number).
    */
  private[sources] def createTag(dir: String, name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z0-9_-]+") && !name.forall(_.isDigit),
      s"invalid tag name '$name' (letters/digits/_/- and not all digits)")
    val current = currentManifestVersion(dir)
    require(version >= 1L && version <= current,
      s"cannot tag version $version at $dir: the table is at version $current")
    require(version >= horizonOf(dir),
      s"cannot tag version $version at $dir: below the retention horizon " +
        s"${horizonOf(dir)} (already released by compaction)")
    val tmp = new Path(dir, s"_tag.$name.tmp")
    val w = SinkFs.create(tmp)
    try w.write(SinkMeta.encode(Tag(version))) finally w.close()
    try SinkFs.moveFresh(tmp, new Path(dir, s"_tag.$name"))
    catch {
      case _: IllegalArgumentException =>
        SinkFs.delete(tmp)
        throw new IllegalStateException(
          s"tag '$name' already exists at $dir (tags are immutable — drop it first)")
    }
  }

  private[sources] def dropTag(dir: String, name: String): Unit = {
    val p = new Path(dir, s"_tag.$name")
    require(SinkFs.exists(p), s"no tag '$name' at $dir")
    SinkFs.delete(p)
  }

  def tagVersion(dir: String, name: String): Option[Long] =
    try Some(SinkMeta.decode[Tag](SinkFs.readString(new Path(dir, s"_tag.$name")),
      s"$dir/_tag.$name").v)
    catch { case _: java.io.FileNotFoundException => None }

  def listTags(dir: String): Seq[(String, Long)] = {
    val Tag = """_tag\.(.+)""".r
    SinkFs.listFileNames(new Path(dir)).collect {
      case f @ Tag(n) if !f.endsWith(".tmp") => n -> tagVersion(dir, n)
    }.collect { case (n, Some(v)) => n -> v }.sortBy(_._1)
  }

  def resolveTag(dir: String, name: String): Long =
    tagVersion(dir, name).getOrElse(throw new IllegalArgumentException(
      s"no tag '$name' at $dir (tags: ${listTags(dir).map(_._1).mkString(", ")})"))

  /** The CHANGE-RECORD sidecar (the manifest's `"cdc"` key) — Delta's
    * `_change_data` analogue. Commits whose row-level changes cannot be
    * derived from the manifest diff (copy-on-write DELETE and
    * UPDATE/MERGE rewrites, delta commits carrying update pre/post
    * images) write their complete change record to a `cdc-*.tsv` sidecar
    * (lines `change_type\tdoc\tshard\tbody`) and reference it there;
    * blind appends and pure merge-on-read deletes stay derivation-only —
    * zero write amplification on the commits a landing zone is made of.
    * Visibility rides the manifest flip: an unreferenced sidecar (crash
    * before the flip) is invisible, exactly like an unmanifested part.
    * The record goes to a temp name and moves into place (the same
    * two-step every data file uses).
    */
  private[sources] def writeCdcSidecar(
      dir: String, tag: String, records: Seq[(String, String)]): Option[String] = {
    // an EMPTY record is still written: it states "this commit changed no
    // rows" — without it, a file-swapping no-op DML would look like an
    // unrepresentable truncate to the feed's derivation
    val name = s"cdc-$tag.tsv"
    val tmp = new Path(dir, s"_tmp/$name")
    val w = SinkFs.create(tmp)
    try records.foreach { case (ct, line) => w.write(s"$ct\t$line\n") }
    finally w.close()
    SinkFs.moveOver(tmp, new Path(dir, name))
    Some(name)
  }

  /** `TIMESTAMP AS OF` resolution: the NEWEST version whose commit
    * timestamp is ≤ the requested instant (Delta/Iceberg semantics). A
    * timestamp before the first commit fails loudly — same stance as an
    * out-of-range `versionAsOf`; a timestamp past the last commit reads
    * the latest version. Versions scan driver-side — one open per version,
    * parsed only up to its `ts` ([[SinkMeta.manifestTs]]); a production
    * catalog binary-searches its metadata.
    */
  def versionAtTimestamp(dir: String, tsMillis: Long): Long = {
    val current = currentManifestVersion(dir)
    require(current > 0L, s"timestampAsOf on $dir: table has no commits")
    val stamped = (1L to current).flatMap(v => commitTsAt(dir, v).map(v -> _))
    require(tsMillis >= stamped.head._2,
      s"timestampAsOf=$tsMillis is before the first commit " +
        s"(version ${stamped.head._1} at ts ${stamped.head._2})")
    stamped.filter(_._2 <= tsMillis).map(_._1).max
  }

  /** The commit timestamp of `version`, or None when it does not exist. */
  private def commitTsAt(dir: String, version: Long): Option[Long] = {
    val name = s"_manifest.v$version.json"
    val in =
      try SinkFs.open(new Path(dir, name))
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(SinkMeta.manifestTs(in, s"$dir/$name"))
    finally in.close()
  }

  /** A `timestampAsOf` read-option value: epoch-millis digits (the
    * deterministic spelling the checked queries use) or a
    * `yyyy-MM-dd[ HH:mm:ss[.f]]` timestamp string (JVM-local, like
    * Delta's option).
    */
  private[sources] def parseTsMillis(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else if (s.length == 10) java.sql.Timestamp.valueOf(s + " 00:00:00").getTime
    else java.sql.Timestamp.valueOf(s).getTime

  /** The ONE version-pinned entry resolution every read path (row scan
    * AND metadata-only count) must go through: an out-of-range
    * `versionAsOf` fails loudly here, so no scan shape can silently
    * answer from an empty `entriesAtVersion` result (the round-13 count
    * pushdown bypassed this and returned 0 for a typo'd version — the
    * exact silent-wrong-answer the validation exists to prevent).
    */
  def entriesAsOf(dir: String, asOf: Option[Long]): Seq[SinkEntry] =
    entriesAsOfPruned(dir, asOf, None, None)

  /** [[entriesAsOf]] with the scan's pushed shard/doc predicates applied
    * DURING manifest resolution: on a segmented manifest, whole segments
    * the ref envelopes rule out are skipped unread
    * ([[entriesIn]]); surviving entries prune per-entry as
    * always. Same validation, same result as filtering the full census —
    * just O(matching) metadata IO instead of O(files/segmentTarget).
    */
  def entriesAsOfPruned(
      dir: String, asOf: Option[Long],
      pruneShards: Option[Set[Int]], pruneDocs: Option[(Long, Long)],
      prunePoints: Option[Set[Long]] = None,
      pruneCols: Seq[SinkColStats.ColPred] = Nil): Seq[SinkEntry] =
    asOf match {
      case None =>
        entriesAtVersion(dir, currentManifestVersion(dir), pruneShards, pruneDocs, prunePoints,
          pruneCols)
      case Some(v) =>
        val current = currentManifestVersion(dir)
        require(v >= 0 && v <= current,
          s"versionAsOf=$v out of range: table at $dir has versions 1..$current")
        // v = 0 is the empty pre-commit snapshot — always safe; anything
        // below the retention horizon has (or may have) swept files, and
        // the horizon error beats an incidental missing-file one
        val hz = horizonOf(dir)
        require(v == 0L || v >= hz,
          s"snapshot versionAsOf=$v expired: the retention horizon is $hz " +
            s"(versions below it were released by compaction)")
        entriesAtVersion(dir, v, pruneShards, pruneDocs, prunePoints, pruneCols)
    }

  /** A travelled snapshot may be compaction-expired: every entry that
    * will be read must still have its data file AND (merge-on-read) its
    * delete-vector sidecar on disk — a missing sidecar would otherwise
    * surface as a raw FileNotFound mid-job (or worse, rows the snapshot
    * had deleted would resurrect). Applies to the metadata-only COUNT
    * too: the manifest could answer an expired snapshot's count
    * "correctly", but count and collect of the same version must agree
    * on validity, so both fail with the same loud error.
    */
  def requireSnapshotLive(dir: String, asOf: Long, kept: Seq[SinkEntry]): Unit = {
    val missing = kept.flatMap(fileRefs).filterNot(f => SinkFs.exists(new Path(dir, f)))
    require(missing.isEmpty,
      s"snapshot versionAsOf=$asOf expired: compaction removed ${missing.mkString(", ")}")
  }

  /** Write `lines` as the data file `name` — to a temp name, then one
    * rename into place — and return its entry, statistics derived under
    * `table` ([[FileStats]]): the driver-side twin of the task writers,
    * used by compaction and copy-on-write rewrites.
    */
  private[sources] def writeDataFile(
      dir: String, name: String, lines: Iterable[String], table: StructType): SinkEntry = {
    val tmp = new Path(dir, s"_tmp/$name")
    val out = new DataFileOut(tmp, table)
    val stats =
      try { lines.foreach(out.writeLine); out.close() }
      catch { case t: Throwable => out.abort(); throw t }
    SinkFs.moveOver(tmp, new Path(dir, name))
    stats.copy(file = name)
  }

  /** Compile a conjunctive source-Filter array over the (doc_id, shard)
    * columns into a row predicate; None = some filter is out of the
    * supported class (body predicates, unknown columns) and the DELETE
    * must be REJECTED at `canDeleteWhere`, never silently half-applied.
    */
  private[sources] def deletePredicate(filters: Array[Filter]): Option[(Long, Int) => Boolean] = {
    import org.apache.spark.sql.sources._
    def colOf(name: String): Option[(Long, Int) => Long] = name match {
      case "doc_id" => Some((d, _) => d)
      case "shard" => Some((_, s) => s.toLong)
      case _ => None
    }
    def lit(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue)
      case _ => None
    }
    def one(f: Filter): Option[(Long, Int) => Boolean] = f match {
      case And(l, r) => for (a <- one(l); b <- one(r)) yield (d: Long, s: Int) => a(d, s) && b(d, s)
      case Or(l, r) => for (a <- one(l); b <- one(r)) yield (d: Long, s: Int) => a(d, s) || b(d, s)
      case Not(c) => one(c).map(p => (d: Long, s: Int) => !p(d, s))
      case EqualTo(c, v) => for (g <- colOf(c); x <- lit(v)) yield (d: Long, s: Int) => g(d, s) == x
      case In(c, vs) =>
        for (g <- colOf(c); xs <- Some(vs.flatMap(lit)) if xs.length == vs.length)
          yield (d: Long, s: Int) => xs.contains(g(d, s))
      case LessThan(c, v) => for (g <- colOf(c); x <- lit(v)) yield (d: Long, s: Int) => g(d, s) < x
      case LessThanOrEqual(c, v) =>
        for (g <- colOf(c); x <- lit(v)) yield (d: Long, s: Int) => g(d, s) <= x
      case GreaterThan(c, v) =>
        for (g <- colOf(c); x <- lit(v)) yield (d: Long, s: Int) => g(d, s) > x
      case GreaterThanOrEqual(c, v) =>
        for (g <- colOf(c); x <- lit(v)) yield (d: Long, s: Int) => g(d, s) >= x
      case IsNotNull(c) => colOf(c).map(_ => (_: Long, _: Int) => true) // both non-nullable
      case IsNull(c) => colOf(c).map(_ => (_: Long, _: Int) => false)
      case AlwaysTrue() => Some((_: Long, _: Int) => true)
      case AlwaysFalse() => Some((_: Long, _: Int) => false)
      case _ => None
    }
    val parts = filters.map(one)
    if (parts.exists(_.isEmpty)) None
    else Some((d: Long, s: Int) => parts.forall(_.get(d, s)))
  }

  private val deleteCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Driver side of the task-file protocol, shared by the batch, epoch,
    * row-level and delta writes: a zero-row task file is dropped (a
    * clustered write can leave empty shuffle partitions, and an empty
    * committed file is manifest noise every later operation re-reads);
    * the rest rename from their attempt-unique temps to the job-unique
    * final names `name(i)` and become entries.
    */
  private[sources] def landTaskFiles(
      dir: String, messages: Array[WriterCommitMessage], name: Int => String): Seq[SinkEntry] = {
    val (empty, written) =
      messages.toSeq.collect { case c: TaskFileCommit => c }.partition(_.file.rows == 0L)
    empty.foreach(c => SinkFs.delete(new Path(c.tempPath)))
    written.zipWithIndex.map { case (c, i) =>
      SinkFs.moveOver(new Path(c.tempPath), new Path(dir, name(i)))
      c.file.copy(file = name(i))
    }
  }

  /** Job abort of every write: the task files' temps go, nothing else
    * was ever visible.
    */
  private[sources] def abortTaskFiles(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case c: TaskFileCommit => SinkFs.delete(new Path(c.tempPath))
      case _ =>
    }

  /** The set of `shard` values a single filter could match, when the
    * filter constrains ONLY `shard`; None for anything else (then it
    * cannot participate in a stats-only decision).
    */
  private[sources] def oneShardSet(f: Filter): Option[Set[Int]] = {
    import org.apache.spark.sql.sources._
    val all = (0 until DocGen.NumShards.toInt).toSet
    f match {
      case EqualTo("shard", v: Number) => Some(Set(v.intValue))
      case In("shard", vs) => Some(vs.collect { case n: Number => n.intValue }.toSet)
      case LessThan("shard", v: Number) => Some(all.filter(_ < v.intValue))
      case LessThanOrEqual("shard", v: Number) => Some(all.filter(_ <= v.intValue))
      case GreaterThan("shard", v: Number) => Some(all.filter(_ > v.intValue))
      case GreaterThanOrEqual("shard", v: Number) => Some(all.filter(_ >= v.intValue))
      case And(l, r) => for (a <- oneShardSet(l); b <- oneShardSet(r)) yield a.intersect(b)
      case Or(l, r) => for (a <- oneShardSet(l); b <- oneShardSet(r)) yield a.union(b)
      case _ => None
    }
  }

  /** If every filter constrains ONLY `shard`, the union of shard values
    * that could match — enabling the stats-only file skip. Conservative
    * None for anything else.
    */
  private def shardOnlySet(filters: Array[Filter]): Option[Set[Int]] = {
    val parts = filters.map(oneShardSet)
    if (parts.isEmpty || parts.exists(_.isEmpty)) None
    else Some(parts.flatten.reduce(_ intersect _))
  }

  /** The doc_id interval HULL a single filter could match, when it
    * constrains ONLY `doc_id`; None for anything else. `Or` takes the
    * conservative hull (superset — sound for skipping), `And` the
    * intersection.
    */
  private[sources] def oneDocInterval(f: Filter): Option[(Long, Long)] = {
    import org.apache.spark.sql.sources._
    def lit(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue)
      case _ => None
    }
    f match {
      case EqualTo("doc_id", v) => lit(v).map(x => (x, x))
      case In("doc_id", vs) =>
        val xs = vs.flatMap(lit(_))
        if (xs.length == vs.length && xs.nonEmpty) Some((xs.min, xs.max)) else None
      case LessThan("doc_id", v) => lit(v).map(x => (Long.MinValue, x - 1))
      case LessThanOrEqual("doc_id", v) => lit(v).map(x => (Long.MinValue, x))
      case GreaterThan("doc_id", v) => lit(v).map(x => (x + 1, Long.MaxValue))
      case GreaterThanOrEqual("doc_id", v) => lit(v).map(x => (x, Long.MaxValue))
      case And(l, r) =>
        for (a <- oneDocInterval(l); b <- oneDocInterval(r))
          yield (math.max(a._1, b._1), math.min(a._2, b._2))
      case Or(l, r) =>
        for (a <- oneDocInterval(l); b <- oneDocInterval(r))
          yield (math.min(a._1, b._1), math.max(a._2, b._2))
      case _ => None
    }
  }

  /** Is this doc-only filter's matching set EXACTLY its interval hull?
    * True only for the convex class — equality, range bounds, And of
    * convex (interval intersection is an interval). `In` with several
    * values and `Or` are NOT convex: their hull admits ids the predicate
    * rejects, so a hull-based all-match proof would consume a filter the
    * file does not actually satisfy row-for-row (the review-caught
    * `doc_id IN (0, 399)` wrong-count bug). Sound for the consumption
    * gate only — skipping keeps using the hull.
    */
  private[sources] def exactDocInterval(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo("doc_id", _) => oneDocInterval(f).isDefined
      case In("doc_id", vs) => vs.distinct.length == 1 && oneDocInterval(f).isDefined
      case LessThan("doc_id", _) | LessThanOrEqual("doc_id", _) |
           GreaterThan("doc_id", _) | GreaterThanOrEqual("doc_id", _) =>
        oneDocInterval(f).isDefined
      case And(l, r) => exactDocInterval(l) && exactDocInterval(r)
      case _ => false
    }
  }

  /** READ-side doc_id range skipping: the intersection of the interval
    * hulls implied by the doc-only CONJUNCTS — any conjunct alone soundly
    * skips a file whose recorded `d0`/`d1` range cannot overlap it.
    */
  private[sources] def docPruneRange(filters: Array[Filter]): Option[(Long, Long)] = {
    val parts = filters.flatMap(oneDocInterval)
    if (parts.isEmpty) None
    else Some((parts.map(_._1).max, parts.map(_._2).min))
  }

  /** POINT-lookup value set: the doc_id values a conjunct pins exactly
    * (`doc_id = K` / `doc_id IN (…)`) — the shape the per-file blooms
    * ("bf") can skip on. Range conjuncts don't qualify (a bloom answers
    * membership, not intervals); several point conjuncts intersect.
    */
  private[sources] def docPointSet(filters: Array[Filter]): Option[Set[Long]] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val parts = filters.collect {
      case EqualTo("doc_id", v: Long) => Set(v)
      case In("doc_id", vs) if vs.forall(_.isInstanceOf[Long]) =>
        vs.collect { case v: Long => v }.toSet
    }
    if (parts.isEmpty) None else Some(parts.reduce(_ intersect _))
  }

  /** READ-side data skipping (round 13): the intersection of the shard
    * sets implied by the shard-only CONJUNCTS of a pushed filter array —
    * unlike [[shardOnlySet]] (DELETE semantics: ALL filters must be
    * shard-only or nothing happens), any conjunct that mentions other
    * columns is simply ignored here, because skipping a file is sound
    * whenever ANY conjunct alone rules it out. None = no conjunct prunes.
    */
  private[sources] def shardPruneSet(filters: Array[Filter]): Option[Set[Int]] = {
    val parts = filters.flatMap(oneShardSet)
    if (parts.isEmpty) None else Some(parts.reduce(_ intersect _))
  }

  /** DELETE WHERE over the committed view — metadata-first, rewrite only
    * what must be rewritten:
    *   - a file with NO matching rows keeps its manifest entry untouched;
    *   - a file where EVERY row matches is simply dropped from the
    *     manifest (with shard-whole clustered files, a `shard`-keyed
    *     DELETE is usually this pure-metadata case — no data IO at all);
    *   - a partially-matching file is rewritten under a fresh job-unique
    *     name (`part-d<n>.tsv`) — the old file stays on disk untouched
    *     until AFTER the manifest flip, so a reader holding the previous
    *     manifest keeps a consistent view through the whole delete.
    * The rewrite runs driver-side: deletes are control-plane operations
    * over a landing zone, and the per-file work is line filtering. A
    * 100 TB deployment would submit the rewrite of the (few) straddling
    * files as a job; the manifest protocol — the part under test — is
    * identical.
    */
  private[sources] def deleteWhereImpl(
      dir: String, filters: Array[Filter], cdf: Boolean = false): Unit = {
    // base pinned at read: the flip goes to exactly base+1, so any
    // interleaved commit collides there and this rewrite aborts loudly
    // instead of silently dropping the interloper's files
    val base = resolveBase(dir)
    requireForeignLive(dir, base.entries)
    val (entries, obsolete, removed) =
      cowDrop(dir, base.entries, filters, recordRemoved = cdf)
    val gen = deleteCounter.incrementAndGet()
    commit(dir, base, "delete", retryTag(s"d$gen"), rebasesIfDisjoint(filters),
      Pins(Some(constraintsIn(base.m))),
      cdc = if (cdf) writeCdcSidecar(dir, s"d$gen", removed) else None)(
      b => entries ++ additions(base, b))
    // physical cleanup AFTER the flip, same as truncate; cloned-in files
    // stay on the source's disk
    deleteOwned(dir, obsolete)
  }

  /** The copy-on-write drop core shared by DELETE WHERE and the filtered
    * OVERWRITE: removes the rows matching `filters` from `base`,
    * returning (kept/rewritten entries, files to delete AFTER the flip,
    * and — when `recordRemoved` — the dropped rows as `delete` change
    * records, because a copy-on-write swap destroys the evidence: the
    * old file is physically cleaned after the commit, so the change feed
    * must read a sidecar instead of diffing manifests — Delta's CDF does
    * exactly this).
    */
  private[sources] def cowDrop(
      dir: String, base: Seq[SinkEntry], filters: Array[Filter],
      recordRemoved: Boolean): (Seq[SinkEntry], Seq[String], Seq[(String, String)]) = {
    val drop = deletePredicate(filters).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported predicate for shard sink: ${filters.mkString(", ")}"))
    // rewritten survivors re-derive per-column envelopes under the
    // CURRENT schema (the lines' physical layout: evolution only appends)
    val csTable = tableSchema(dir)
    // shard-stats fast path: a pure-shard predicate can skip READING any
    // file whose recorded shard range cannot match (the metadata-only
    // case the clustered layout exists for)
    val shardOnly = shardOnlySet(filters)
    val obsolete = scala.collection.mutable.ArrayBuffer.empty[String]
    val removed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val entries = base.flatMap { e =>
      if (shardOnly.exists(ss => !e.mayContainShard(ss))) Some(e) // untouched, unread
      else {
        // live view: a prior merge-on-read delete's vector must not be
        // resurrected by this rewrite
        val lines = liveLines(dir, e)
        val kept = lines.filterNot { l =>
          val c = l.split("\t", 3)
          val dead = drop(c(0).toLong, c(1).toInt)
          if (dead && recordRemoved) removed += (("delete", l))
          dead
        }
        if (kept.size == lines.size) Some(e)
        else if (kept.isEmpty) {
          obsolete += e.file; if (e.hasDeletes) obsolete += e.dv; None
        } else {
          obsolete += e.file
          if (e.hasDeletes) obsolete += e.dv
          Some(writeDataFile(dir, s"part-d${deleteCounter.incrementAndGet()}.tsv", kept, csTable))
        }
      }
    }
    (entries, obsolete.toSeq, removed.toSeq)
  }

  /** Bytes a change-feed read of `parts` opens — each partition's file
    * (append feeds read the commit's data files zero-copy; DML feeds read
    * their cdc sidecars or vector-diffed files), looked up by name in
    * `sizes`, a listing of the table directory.
    */
  private[sources] def changeBytes(parts: Seq[InputPartition], sizes: Map[String, Long]): Long =
    parts.map {
      case f: ShardSinkChangeFile => sizes.getOrElse(new Path(f.file).getName, 0L)
      case s: ShardSinkChangeSidecar => sizes.getOrElse(new Path(s.file).getName, 0L)
      case _ => 0L
    }.sum

  /** CHANGE DATA FEED (rounds 13/14 — the Delta-CDF analogue the
    * versioned manifests + delete vectors + change-record sidecars make
    * exact): the row-level changes committed in versions (fromV, toV].
    *
    * A version that references a CDC SIDECAR ([[writeCdcSidecar]]) reads
    * it verbatim as the commit's COMPLETE change record — that is how
    * copy-on-write DELETE (`part-d` swaps), copy-on-write UPDATE/MERGE
    * (`part-r` swaps) and delta commits carrying update
    * `update_preimage`/`update_postimage` pairs are represented, since
    * none of those derive from the manifest diff alone.
    *
    * Every other version derives, paying zero write amplification at
    * commit time:
    *   - a file NEW in version v (append `part-b`/epoch `part-e`/delta
    *     `part-u` namespaces) emits its live-at-v rows as `insert`;
    *   - a file whose delete vector GREW in v emits exactly the newly
    *     dead positions as `delete` (rows recovered from the retained
    *     data file);
    *   - a fully-dead entry REMOVED in v (the MOR drop — data file
    *     retained) emits its live-at-(v−1) rows as `delete`;
    *   - a compaction swap (`part-c`) is NOT a change event — the rows
    *     it carries were already emitted at their original commits;
    *   - a derivation-only version whose swapped-out files are GONE
    *     (a truncate/overwrite, or pre-round-14 copy-on-write DML with
    *     no recorded sidecar) FAILS LOUDLY: the removed rows cannot be
    *     reconstructed, and a consumer must never silently miss them.
    * Positions ride the partition (driver-resolved); production would
    * reference vector files instead of inlining, same protocol.
    */
  private[sources] def changePartitions(
      dir: String, fromV: Long, toV: Long): Seq[InputPartition] = {
    // the range's versions must all sit at-or-above the retention
    // horizon (the diff of (fromV, fromV+1] also reads fromV's manifest,
    // which is always retained — only FILES expire)
    val hz = horizonOf(dir)
    require(toV <= fromV || fromV + 1 >= hz,
      s"change feed range ($fromV, $toV] expired: the retention horizon is " +
        s"$hz (versions below it were released by compaction)")
    def cdcScope(f: String): Boolean =
      f.startsWith("part-b") || f.startsWith("part-e") || f.startsWith("part-u")
    // every file/vector a change partition will read must still exist —
    // compaction may have expired the range; fail with the real reason,
    // never a raw FileNotFound (driver-side here, executor-side for data)
    def live(f: String): Path = {
      val p = new Path(dir, f)
      require(SinkFs.exists(p),
        s"change feed range ($fromV, $toV] expired: $f was released by a " +
          "later rewrite or compaction (retention horizon 0 sweeps replaced " +
          "files immediately — compact with retainVersions to keep feed " +
          "history readable)")
      p
    }
    def dvOf(e: SinkEntry): Set[Int] =
      if (e.hasDeletes) readDeleteVector(live(e.dv)) else Set.empty
    (fromV + 1 to toV).flatMap { v =>
      val m = manifestAt(dir, v)
      m.flatMap(_.cdc) match {
        case Some(sidecar) =>
          Seq(ShardSinkChangeSidecar(live(sidecar).toString, v): InputPartition)
        case None =>
          val prev = entriesAtVersion(dir, v - 1).map(e => e.file -> e).toMap
          val cur = m.map(entriesIn(dir, _)).getOrElse(Nil).map(e => e.file -> e).toMap
          // a RESTORE commit performs no physical rewrites — every
          // file-set difference is genuine row change, so plain-diff
          // semantics apply: ANY re-added file's live rows are inserts
          // (not just cdcScope appends), and a SHRUNK delete vector is a
          // resurrection (the restore un-deleted those positions). A
          // CLONE-creation commit is the same shape: its referenced
          // (foreign-named) files' live rows are all genuine inserts to
          // THIS table, read zero-copy from the source at feed time.
          val isRestore =
            m.flatMap(_.op).exists(o => o == "restore" || o == "clone")
          val inserts = cur.valuesIterator
            .filter(e => (cdcScope(e.file) || isRestore) && !prev.contains(e.file))
            .map(e => ShardSinkChangeFile(
              live(e.file).toString, "insert", v,
              only = None, skip = dvOf(e).toSeq): InputPartition)
          // ALL removed/vector-grown entries considered, whatever their
          // name prefix — a vector can grow on a rewritten or compacted
          // file too, and an unexplained removal must never pass silently
          val deletes = prev.valuesIterator.flatMap { pe =>
            cur.get(pe.file) match {
              case Some(ce) if ce.dv != pe.dv =>
                val before = dvOf(pe)
                val after = dvOf(ce)
                val fresh = after -- before
                val resurrected = before -- after
                val grow: Option[InputPartition] =
                  if (fresh.isEmpty) None
                  else Some(ShardSinkChangeFile(
                    live(pe.file).toString, "delete", v,
                    only = Some(fresh.toSeq.sorted), skip = Seq.empty))
                val shrink: Option[InputPartition] =
                  if (resurrected.isEmpty) None
                  else Some(ShardSinkChangeFile(
                    live(pe.file).toString, "insert", v,
                    only = Some(resurrected.toSeq.sorted), skip = Seq.empty))
                grow.toSeq ++ shrink.toSeq
              case Some(_) => Seq.empty[InputPartition]
              case None if !isRestore && cur.keysIterator.exists(f =>
                  f.startsWith("part-c") && !prev.contains(f)) =>
                // compaction swap: rows already emitted at their commits.
                // Checked BEFORE the exists-based MOR-drop branch — with
                // a retention horizon the swapped-out files legitimately
                // survive on disk, and a compaction commit is only ever a
                // compaction (single-operation commits). A restore that
                // re-adds an old part-c file must NOT take this branch:
                // its removed files carry genuinely deleted rows
                Seq.empty[InputPartition]
              case None if SinkFs.exists(new Path(dir, pe.file)) =>
                // fully-dead MOR drop (or a restore dropping a
                // later-appended file): every live-at-(v-1) row died
                Seq(ShardSinkChangeFile(
                  new Path(dir, pe.file).toString, "delete", v,
                  only = None, skip = dvOf(pe).toSeq): InputPartition)
              case None =>
                // the swapped-out rows are unrecoverable AND unrecorded —
                // a truncate/overwrite, or pre-sidecar CoW DML. Refusing
                // beats a consumer silently missing deleted rows.
                throw new IllegalStateException(
                  s"change feed cannot represent version $v at $dir: commit " +
                    s"replaced ${pe.file} without a change record (truncate/" +
                    "overwrite, or copy-on-write DML on a table without " +
                    "cdf.enabled=true) — enable cdf.enabled before the DML, " +
                    "or read from a later changeFeedFrom")
            }
          }
          inserts ++ deletes
      }
    }
  }

  /** CDF output schema: the table's CURRENT columns plus the change
    * metadata — change rows from pre-evolution commits null-fill the
    * added columns, same as ordinary reads.
    */
  def changeSchemaOf(dir: String): StructType =
    tableSchema(dir)
      .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)

  /** The input partition for a manifest entry: data file plus its delete
    * vector (both resolved to full paths) — the ONE place entry→partition
    * mapping lives, so no read path can forget the vector.
    */
  private[sources] def partitionOf(dir: String, e: SinkEntry): InputPartition =
    ShardSinkFile(
      new Path(dir, e.file).toString,
      if (e.hasDeletes) new Path(dir, e.dv).toString else "",
      e.file)

  /** A delete vector: 0-based row positions, one per line, sorted. */
  private[sources] def readDeleteVector(p: Path): Set[Int] =
    SinkFs.readLines(p).map(_.toInt).toSet

  private[sources] def writeDeleteVector(dir: String, name: String, positions: Seq[Int]): Unit = {
    val tmp = new Path(dir, s"_tmp/$name")
    val w = SinkFs.create(tmp)
    try positions.sorted.foreach { p => w.write(p.toString); w.write("\n") }
    finally w.close()
    SinkFs.moveOver(tmp, new Path(dir, name))
  }

  /** An entry's LIVE lines: physical TSV lines minus its delete vector.
    * Every driver-side path that reads committed data (copy-on-write
    * rewrite, compaction, MOR re-delete) goes through this.
    */
  private[sources] def liveLines(dir: String, e: SinkEntry): Seq[String] = {
    val all = SinkFs.readLines(new Path(dir, e.file))
    if (!e.hasDeletes) all
    else {
      val dead = readDeleteVector(new Path(dir, e.dv))
      all.zipWithIndex.collect { case (l, i) if !dead.contains(i) => l }
    }
  }

  private val morCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fresh generation number for merge-on-read artifacts (delete vectors,
    * manifest tags) — shared by the metadata DELETE path and the delta
    * write commit so names never collide within a JVM.
    */
  private[sources] def nextMorGen(): Long = morCounter.incrementAndGet()

  /** MERGE-ON-READ DELETE (round 13) — the write-cheap half of the DML
    * trade every table format exposes (Iceberg `write.delete.mode`):
    * instead of rewriting straddling files ([[deleteWhereImpl]]), the
    * commit writes a tiny DELETE VECTOR per affected file — the 0-based
    * row positions to skip, sound even on tables with duplicate doc_ids
    * because positions, not keys, identify rows (the reason a row-id
    * delta design was rejected) — and flips a manifest version whose
    * entries point at the vectors. NO data file is written, moved or
    * deleted; readers subtract the vector at scan time
    * ([[ShardSinkReaderFactory]]), and [[compact]] folds vectors away.
    * Re-deleting a file with an existing vector writes the UNION under a
    * fresh vector name (old vectors stay for time travel — a snapshot
    * before the delete references the same data file without, or with an
    * older, vector and still reads exactly its rows). A file whose every
    * live row matches keeps no entry but KEEPS its data file — MOR never
    * destroys data, so pre-delete snapshots stay readable; only
    * compaction/rewrite/truncate expire snapshots. Entry `rows` stays the
    * LIVE count; shard stats stay the (sound) superset.
    */
  private[sources] def morDeleteImpl(dir: String, filters: Array[Filter]): Unit = {
    val drop = deletePredicate(filters).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported DELETE predicate for shard sink: ${filters.mkString(", ")}"))
    // any shard-only conjunct alone soundly skips a file (same reasoning
    // as the read-side prune): if no row of the file can satisfy that
    // conjunct, none satisfies the whole conjunction
    val prune = shardPruneSet(filters)
    val gen = morCounter.incrementAndGet()
    // base pinned at read; a lost race re-bases over disjoint additions
    val base = resolveBase(dir)
    // DML over a clone reads foreign files: same named error as reads
    requireForeignLive(dir, base.entries)
    val entries = foldDeletes(dir, gen, base.entries) { e =>
      if (prune.exists(ss => !e.mayContainShard(ss))) Set.empty // untouched, unread
      else SinkFs.readLines(new Path(dir, e.file)).iterator.zipWithIndex.collect {
        case (l, i) if { val c = l.split("\t", 3); drop(c(0).toLong, c(1).toInt) } => i
      }.toSet
    }
    commit(dir, base, "delete", retryTag(s"m$gen"), rebasesIfDisjoint(filters),
      Pins(Some(constraintsIn(base.m))))(b => entries ++ additions(base, b))
    // no physical cleanup: MOR leaves every data file (and superseded
    // vector) in place — prior snapshots keep reading their exact rows
  }

  /** The merge-on-read delete write, shared by [[morDeleteImpl]] and the
    * delta commit: folds each entry's `deleted` physical positions into
    * its delete vector. An entry none of whose positions is newly dead
    * stays as it is; one whose every live row died drops (its data file
    * stays — earlier snapshots keep reading it); otherwise the union
    * vector is written under the fresh name `del-m<gen>-<k>.pos` and the
    * entry's live row count shrinks.
    */
  private[sources] def foldDeletes(dir: String, gen: Long, entries: Seq[SinkEntry])(
      deleted: SinkEntry => Set[Int]): Seq[SinkEntry] = {
    var k = 0
    entries.flatMap { e =>
      val hit = deleted(e)
      val dead: Set[Int] =
        if (hit.isEmpty || !e.hasDeletes) Set.empty else readDeleteVector(new Path(dir, e.dv))
      val fresh = hit -- dead
      if (fresh.isEmpty) Some(e)
      else if (fresh.size >= e.rows) None
      else {
        k += 1
        val nv = s"del-m$gen-$k.pos"
        writeDeleteVector(dir, nv, (dead ++ fresh).toSeq)
        Some(e.copy(rows = e.rows - fresh.size, dv = nv))
      }
    }
  }
}

/** The statistics of one data file, accumulated line by line as it is
  * written or re-read: row count, shard and doc_id ranges (−1 when
  * unknown), the doc_id bloom (manifest-level point-lookup skipping) and
  * — only when the lines' schema is KNOWN, since envelopes computed
  * against a guessed schema would prune unsoundly — the per-column
  * envelopes ([[SinkColStats]]). The one builder of every data-derived
  * [[SinkEntry]]: task writers, compaction chunks, copy-on-write
  * survivors and recovered epochs.
  */
private[sources] final class FileStats(table: Option[StructType]) {
  private var rows = 0L
  private var sMin = Int.MaxValue
  private var sMax = -1
  private var dMin = Long.MaxValue
  private var dMax = -1L
  private val bloom = DocBloom.empty()
  private val cols = table.map(new SinkColStats.LineAcc(_))

  /** One line whose doc_id and shard the caller already holds. */
  def add(doc: Long, shard: Int, line: String): Unit = {
    note(doc, shard)
    cols.foreach(_.addLine(line))
  }

  /** One TSV line, parsed here. */
  def addLine(line: String): Unit = {
    val cells = line.split("\t", -1)
    note(cells(0).toLong, cells(1).toInt)
    cols.foreach(_.add(cells))
  }

  private def note(doc: Long, shard: Int): Unit = {
    if (shard < sMin) sMin = shard
    if (shard > sMax) sMax = shard
    if (doc < dMin) dMin = doc
    if (doc > dMax) dMax = doc
    DocBloom.insert(bloom, doc)
    rows += 1
  }

  def entry(file: String): SinkEntry =
    SinkEntry(file, rows, if (sMax < 0) -1 else sMin, sMax, "",
      if (dMax < 0L) -1L else dMin, dMax,
      bf = if (rows == 0L) "" else DocBloom.encode(bloom),
      cs = if (rows == 0L) "" else cols.map(_.encode()).getOrElse(""))
}

/** One data file being written: lines stream to `tmp` (created with the
  * first line — an empty task leaves no file) and feed its
  * [[FileStats]] under the writer's pinned table schema. `close` returns
  * the file's entry (named at landing); `abort` leaves nothing.
  */
private[sources] final class DataFileOut(tmp: org.apache.hadoop.fs.Path, table: StructType) {
  private var out: java.io.BufferedWriter = null
  private val stats = new FileStats(Some(table))

  private def put(line: String): Unit = {
    if (out == null) out = SinkFs.create(tmp)
    out.write(line)
    out.write("\n")
  }

  def write(doc: Long, shard: Int, line: String): Unit = {
    stats.add(doc, shard, line)
    put(line)
  }

  def writeLine(line: String): Unit = {
    stats.addLine(line)
    put(line)
  }

  def close(): SinkEntry = {
    if (out != null) out.close()
    stats.entry("")
  }

  def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Throwable => () } }
    SinkFs.delete(tmp)
  }
}

/** Task-commit message of a task that wrote a data file: its temp path
  * and its statistics (`file.file` is empty until the driver lands it
  * under its final name, [[ShardSink.landTaskFiles]]).
  */
sealed trait TaskFileCommit extends WriterCommitMessage {
  def tempPath: String
  def file: SinkEntry
}

case class ShardSinkCommit(tempPath: String, file: SinkEntry) extends TaskFileCommit

/** [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
  * of the writes that land whole files: clustered-by-shard distribution
  * plus (shard, doc_id) ordering, so Spark inserts exactly one exchange
  * (plus a local sort) before the write and every committed file is
  * shard-whole — no shard straddles two files, and rows within a file
  * arrive id-ordered. At 100 TB this is the difference between a landing
  * zone a bucketed reader can consume in place and one that needs a full
  * re-shuffle on first read. Partition COUNT is left to Spark (0 = no
  * requirement): several shards may share one task's file, but never the
  * reverse.
  */
trait ShardClusteredWrite
  extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(Expressions.identity("shard")))
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array(
      Expressions.sort(
        Expressions.column("shard"),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING),
      Expressions.sort(
        Expressions.column("doc_id"),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
}

/** The write [[ShardSinkTable.newWriteBuilder]] builds: append, truncate,
  * filtered overwrite (replaceWhere) and streaming epochs. `evolveTo` is
  * the schema this write persists in its own commit (a mergeSchema write
  * or a staged REPLACE), derived from `basisSchema`.
  */
class ShardSinkWrite(
    path: String, queryId: String, truncate: Boolean, tableSchema: StructType,
    replaceFilters: Option[Array[org.apache.spark.sql.sources.Filter]], cdf: Boolean,
    colMap: Array[Int], evolveTo: Option[String], basisSchema: String,
    autoCompact: Option[Long])
  extends Write with BatchWrite with StreamingWrite with ShardClusteredWrite {

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // both parent defaults return true; Scala requires an explicit pick
  // when two traits contribute the same concrete member
  override def useCommitCoordinator(): Boolean = true

  // CHECK constraints pinned at write-build (driver): every task enforces
  // this set per row, and the commit aborts if one was added since
  private val pinnedCks = ShardSink.currentConstraints(path)
  // an EVOLVING commit also pins the schema it derived its target from —
  // never a re-read (review fix: re-reading raced a concurrent ALTER
  // past the guard)
  private val pins = ShardSink.Pins(Some(pinnedCks), evolveTo.map(_ => basisSchema))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ShardSinkWriterFactory(path, queryId, table = tableSchema,
      constraints = pinnedCks, colMap = colMap)

  /** STREAMING_WRITE: the same temp-file/manifest protocol, per epoch.
    * Final names carry the epoch (`part-e<epoch>-<i>.tsv`) and each epoch
    * commit REPLACES its own epoch's manifest entries before appending —
    * a replayed micro-batch (restart re-commits the last epoch) lands
    * idempotently instead of doubling rows: exactly-once visibility on
    * top of at-least-once delivery, which is the whole streaming-sink
    * contract in one sentence.
    */
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ShardSinkStreamingFactory(path, queryId, tableSchema, pinnedCks)

  import org.apache.hadoop.fs.Path

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochFiles = ShardSink.landTaskFiles(path, messages, i => s"part-e$epochId-$i.tsv")
    // replace-then-append keyed on the epoch prefix = replay idempotence;
    // the transform is idempotent, so re-applying it on a race winner's
    // base is exactly correct (a concurrent appender's files are kept)
    ShardSink.commit(path, ShardSink.resolveBase(path), "streamingUpdate",
      n => s"$queryId-e$epochId-a$n", ShardSink.Commutes, ShardSink.Pins(Some(pinnedCks))) { b =>
      val kept =
        if (b.entries.nonEmpty) b.entries.filterNot(_.file.startsWith(s"part-e$epochId-"))
        else recoverPriorEpochs(epochId)
      kept ++ epochFiles
    }
  }

  /** DEFENSE-IN-DEPTH recovery for the streaming path: with versioned
    * manifests a crash mid-flip leaves the previous version intact, so
    * this path should never fire on a healthy dir — but a replayed epoch
    * landing on a manifest-ABSENT directory (operator deleted the
    * manifests, legacy dir, total manifest loss) must still not lose the
    * epochs the checkpoint recorded as done. Epoch files are safe to
    * recover from disk: their names are deterministic
    * (`part-e<epoch>-<i>.tsv`) and every one was fully renamed BEFORE any
    * manifest flip was attempted, so we rebuild prior epochs' entries
    * from the directory listing (recounting rows; no column envelopes —
    * the files' schema is unknown). The replayed epoch's own files are
    * excluded: its fresh commit replaces them. Batch (`part-b*`) files
    * stay unrecovered — a batch job with no manifest never committed.
    */
  private def recoverPriorEpochs(replayEpoch: Long): Seq[SinkEntry] = {
    val EpochFile = """part-e(\d+)-\d+\.tsv""".r
    SinkFs.listFileNames(new Path(path)).sorted.flatMap {
      case f @ EpochFile(e) if e.toLong != replayEpoch =>
        val stats = new FileStats(None)
        SinkFs.readLines(new Path(path, f)).foreach(stats.addLine)
        Some(stats.entry(f))
      case _ => None
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abort(messages)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // job-unique final names (`part-b<queryId>-<i>.tsv`): a second Append
    // never overwrites a prior job's committed files, so a reader holding
    // the old manifest keeps a consistent view right through the commit
    // (the `b` prefix also keeps the namespace disjoint from the
    // streaming path's `part-e<epoch>-<i>.tsv`)
    val finals = ShardSink.landTaskFiles(path, messages, i => s"part-b$queryId-$i.tsv")
    // manifest LAST: the job becomes visible as one rename or not at all.
    // A blind Append commutes with every commit; truncate and the
    // filtered overwrite are read-modify-write (see the ShardSink
    // scaladoc's conflict rules). A pending/merged schema flips IN the
    // commit — the one atomic publication a staged REPLACE or mergeSchema
    // write gets.
    if (truncate) {
      val base = ShardSink.resolveBase(path)
      ShardSink.commit(path, base, "truncate", ShardSink.retryTag(queryId), ShardSink.Aborts,
        pins, schema = evolveTo)(_ => finals)
      // cleanup AFTER the flip: old files are already invisible;
      // deleting them can race nothing
      ShardSink.deleteOwned(path,
        base.entries.flatMap(ShardSink.fileRefs).filterNot(finals.map(_.file).contains))
    } else if (replaceFilters.isDefined) {
      // FILTERED OVERWRITE (replaceWhere): ONE commit that drops the
      // rows matching the predicate (DELETE WHERE's copy-on-write core —
      // metadata-only for shard-aligned predicates) and lands the new
      // files, re-basing over disjoint additions like DELETE
      val filters = replaceFilters.get
      val drop = ShardSink.deletePredicate(filters).get // validated at build()
      // Delta's replaceWhere constraint: every INSERTED row must fall
      // inside the replaced region, otherwise the "overwrite" silently
      // appends outside its own predicate. Checked before any flip; on
      // violation the landed files are removed (they were never
      // manifested — invisible throughout).
      try finals.foreach { e =>
        SinkFs.readLines(new Path(path, e.file)).foreach { l =>
          val c = l.split("\t", 3)
          require(drop(c(0).toLong, c(1).toInt),
            s"overwrite constraint violation at $path: inserted row " +
              s"(doc_id=${c(0)}, shard=${c(1)}) does not match the replace " +
              s"predicate ${filters.mkString(", ")}")
        }
      } catch {
        case t: Throwable =>
          finals.foreach(e => SinkFs.delete(new Path(path, e.file)))
          throw t
      }
      val base = ShardSink.resolveBase(path)
      val (kept, obsolete, removed) = ShardSink.cowDrop(path, base.entries, filters,
        recordRemoved = cdf)
      // change record only when the table opted into CDF: the dropped
      // rows' evidence dies with the cleanup below, and once a sidecar
      // exists it must be the version's COMPLETE record — so the
      // inserted rows ride it too (driver-side over files the commit
      // just wrote; a 100 TB deployment records them in the write job)
      val cdc = if (!cdf) None else {
        val inserted = finals.flatMap(e =>
          SinkFs.readLines(new Path(path, e.file)).map(("insert", _)))
        ShardSink.writeCdcSidecar(path, s"o$queryId", removed ++ inserted)
      }
      ShardSink.commit(path, base, "replaceWhere", ShardSink.retryTag(s"o$queryId"),
        ShardSink.rebasesIfDisjoint(filters), pins, cdc = cdc, schema = evolveTo)(
        b => kept ++ finals ++ ShardSink.additions(base, b))
      // physical cleanup AFTER the flip, same as DELETE
      ShardSink.deleteOwned(path, obsolete)
    } else {
      ShardSink.commit(path, ShardSink.resolveBase(path), "append", n => s"$queryId-a$n",
        ShardSink.Commutes, pins, schema = evolveTo)(_.entries ++ finals)
      // AUTO-COMPACT (Delta autoOptimize, round 15): the append itself is
      // already durable — this maintenance pass runs binPack AFTER it, a
      // no-op when everything is in band. A lost race with concurrent DML
      // yields silently: data wins, the next append's pass catches up.
      autoCompact.foreach { t =>
        try ShardSink.compact(path, targetRowsPerFile = t, binPack = true)
        catch { case _: IllegalStateException => () }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ShardSink.abortTaskFiles(messages)
}

/** Standalone (serializable) streaming factory — must not capture the
  * driver-side ShardSinkWrite.
  */
case class ShardSinkStreamingFactory(
    path: String, queryId: String, table: StructType = DocGen.schema,
    constraints: Seq[(String, String)] = Nil)
  extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ShardSinkDataWriter(path, s"$queryId-e$epochId", partitionId, taskId,
      table = table, constraints = constraints)
}

/** `trailingCols`: the plain batch/stream writes receive exactly the
  * 3-column table schema; a GROUP-BASED replacement plan (SQL UPDATE /
  * MERGE / rewrite-DELETE) PREPENDS Spark's `__row_operation` marker
  * column to the physical rows while `LogicalWriteInfo.schema()` still
  * reports the bare row schema — the connector contract (decoded from
  * `ReplaceDataExec.writingTask`: the marker is only projected away when
  * the operation declares metadata attributes). With `trailingCols` the
  * writer reads (doc_id, shard, body) as the LAST three fields, which is
  * correct in both shapes; assuming ordinals (0,1,2) silently wrote the
  * marker as doc_id (found the hard way).
  */
class ShardSinkWriterFactory(
    path: String, queryId: String, trailingCols: Boolean = false,
    table: StructType = DocGen.schema,
    constraints: Seq[(String, String)] = Nil,
    colMap: Array[Int] = null)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardSinkDataWriter(path, queryId, partitionId, taskId, trailingCols, table,
      constraints, colMap)
}

class ShardSinkDataWriter(
    path: String, queryId: String, partitionId: Int, taskId: Long,
    trailingCols: Boolean = false, table: StructType = DocGen.schema,
    constraints: Seq[(String, String)] = Nil,
    colMap: Array[Int] = null)
  extends DataWriter[InternalRow] {
  // compiled ON the executor from the pinned predicate strings; throws on
  // the first violating row, failing the task before any commit
  private lazy val checkRow = SinkConstraint.enforcer(constraints, table)
  // attempt-unique temp name: a speculative twin or retry writes its OWN
  // file; only the committed attempt's message reaches driver commit
  private val tmp =
    new org.apache.hadoop.fs.Path(path, s"_tmp/$queryId-p$partitionId-a$taskId.tsv")
  private val out = new DataFileOut(tmp, table)
  // row width is fixed per write job: the column mapping is computed once
  private var colIdx: Array[Int] = null

  override def write(row: InternalRow): Unit = {
    if (colIdx == null) {
      // an explicit NAME-resolved mapping (mergeSchema writes) wins; the
      // default is the contiguous layout (optionally offset past the
      // row-operation marker a group-based replacement plan prepends)
      colIdx =
        if (colMap != null) colMap
        else {
          val base = if (trailingCols) row.numFields - table.length else 0
          Array.tabulate(table.length)(base + _)
        }
    }
    checkRow(row, colIdx)
    out.write(row.getLong(colIdx(0)), row.getInt(colIdx(1)),
      ShardSink.serializeRow(row, colIdx, table))
  }

  override def commit(): WriterCommitMessage = ShardSinkCommit(tmp.toString, out.close())

  override def abort(): Unit = out.abort() // a failed attempt leaves nothing

  override def close(): Unit = ()
}

/** One committed file plus (merge-on-read deletes) the full path of its
  * delete vector, "" when none — every reader of the file must skip the
  * vector's 0-based row positions. `name` is the file's MANIFEST entry
  * name (what the `_file` row-id metadata column must carry so delta
  * commits can match positions back to entries): the basename for local
  * files, the absolute path for cloned-in foreign files.
  */
case class ShardSinkFile(file: String, dv: String = "", name: String = "")
  extends InputPartition

/** A SHARD-PURE committed file (manifest stats prove s0 == s1): carries
  * its shard as the partition key so Spark can trust the scan's reported
  * [[KeyGroupedPartitioning]] — several files of the same shard group
  * into one task under the V2 bucketing machinery.
  */
case class ShardSinkShardFile(file: String, dv: String, shard: Int, name: String = "")
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = {
    val r = new GenericInternalRow(1)
    r.update(0, shard)
    r
  }
}

class ShardSinkScan(
    path: String,
    asOf: Option[Long] = None,
    pruneShards: Option[Set[Int]] = None,
    required: StructType = DocGen.schema,
    pruneDocs: Option[(Long, Long)] = None,
    table: StructType = DocGen.schema,
    prunePoints: Option[Set[Long]] = None,
    pruneCols: Seq[SinkColStats.ColPred] = Nil,
    consumed: Seq[Filter] = Nil) extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with SupportsReportPartitioning with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required

  /** True iff this scan reads the CURRENT table in full — no version pin
    * and no pushed pruning of any kind. The MV-rewrite rule requires it:
    * a predicate that file-exact pruning CONSUMED leaves no residual
    * Filter node in the plan, so only the scan itself can testify that
    * the aggregate really covers the whole table (review fix).
    */
  def isFullUnprunedScan: Boolean =
    asOf.isEmpty && pruneShards.isEmpty && pruneDocs.isEmpty &&
      prunePoints.isEmpty && pruneCols.isEmpty
  /** The pruned-column names when this scan's ONLY pruning is
    * `col IS NOT NULL` envelopes on an unpinned read — the one pruning
    * kind the MV-rewrite rule may accept, PROVIDED the columns prove to
    * be matched inner-join keys (such files hold exclusively null key
    * values, rows the join drops anyway). None for any other shape.
    */
  def notNullOnlyPruning: Option[Set[String]] =
    if (asOf.isEmpty && pruneShards.isEmpty && pruneDocs.isEmpty &&
        prunePoints.isEmpty && pruneCols.nonEmpty &&
        pruneCols.forall(_.isInstanceOf[SinkColStats.ColNotNull]))
      Some(pruneCols.collect { case SinkColStats.ColNotNull(c) => c }.toSet)
    else None
  /** Filters the builder CONSUMED into file-exact pruning (round 19):
    * when a pushed predicate was fully applied by pruning, the Filter
    * node disappears from the plan, so a consumer that must account for
    * every applied predicate (the MV-rewrite rule's filtered-rollup
    * match) reads the consumed set here and reconstructs it. Consumption
    * always pins the proven snapshot, exposed as [[consumedPin]] — the
    * consumer must check the pin against its own version resolution.
    */
  private[sources] def consumedFilters: Seq[Filter] = consumed
  private[sources] def consumedPin: Option[Long] = asOf
  /** True iff the scan is unpinned and every pruning it applies derives
    * from pushed filters (i.e. from conjuncts of a residual Filter the
    * plan still carries above it) — under such a Filter, (Filter ∘ this
    * scan) equals σ_cond(full table) because pruning only ever skips
    * files that provably cannot match the pushed predicates.
    */
  private[sources] def filterDerivedPruningOnly: Boolean =
    asOf.isEmpty && consumed.isEmpty
  /** The entries this scan will read — the metadata input for a cost
    * model that must price a PRUNED base scan honestly (round 19).
    */
  private[sources] def costEntries: Seq[SinkEntry] = kept
  override def description(): String =
    s"ShardSinkScan[$path, manifest-committed files only" +
      asOf.map(v => s", versionAsOf=$v").getOrElse("") +
      pruneShards.map(s => s", pruneShards=${s.toSeq.sorted.mkString("{", ",", "}")}")
        .getOrElse("") +
      pruneDocs.map { case (lo, hi) => s", pruneDocs=[$lo,$hi]" }.getOrElse("") +
      prunePoints.map(p => s", bloomPoints=${p.size}").getOrElse("") +
      (if (pruneCols.isEmpty) ""
       else s", pruneCols=[${pruneCols.map(_.describe).mkString("; ")}]") + "]"
  override def toBatch: Batch = this

  /** The entries this scan will read: the pinned (or current) version's
    * manifest minus every file whose shard/doc_id stats rule it out —
    * ONE snapshot shared by partition planning, the reported statistics
    * AND the reported partitioning, so the three can never disagree (a
    * concurrent commit between partitioning-report and planning would
    * otherwise let Spark plan shard-grouped tasks over partitions that
    * no longer carry keys).
    */
  private lazy val kept: Seq[SinkEntry] =
    // pruning happens DURING manifest resolution: on a segmented
    // manifest, ref envelopes AND ref union-blooms skip whole segments
    // unread; point lookups then consult each surviving entry's doc_id
    // BLOOM — on an unclustered ingest layout where every file's range
    // contains every id, this is what turns `doc_id = K` into an O(1
    // file) read (and O(matching segments) driver IO at million-file
    // counts)
    ShardSink.entriesAsOfPruned(path, asOf, pruneShards, pruneDocs, prunePoints,
      pruneCols)

  private def keptEntries(): Seq[SinkEntry] = kept

  /** RUNTIME (join-driven) file pruning — [[SupportsRuntimeFiltering]],
    * DPP for the lakehouse table (round 15): a broadcast-join build side
    * joining on `shard` hands its shard values back at EXECUTION time,
    * after planning; whole manifest entries whose shard range misses the
    * delivered set vanish before any task launches. File-granular and
    * best-effort like the planning-time skip: stats-unknown entries
    * always read (the join still filters rows), so the kept set only
    * shrinks to files that provably cannot match. On a compacted
    * shard-pure snapshot this drops whole KeyGrouped partitions — a dim
    * that selects 2 of 16 shards reads 1/8th of the landing zone with no
    * change to the query.
    */
  @volatile private var runtimeShards: Option[Set[Int]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // Spark resolves these against the scan OUTPUT — a pruned projection
    // without `shard` (e.g. a delta writer's row-id scan) must not
    // advertise it, or analysis dies unresolved
    if (required.fieldNames.contains("shard")) Array(Expressions.column("shard"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val shards = filters.collectFirst {
      case org.apache.spark.sql.sources.In("shard", vs) =>
        vs.collect { case n: Number => n.intValue }.toSet
    }
    shards.foreach { s =>
      runtimeShards = Some(s)
      ShardSink.lastRuntimeFilter.set(s)
    }
  }

  /** `kept` minus entries the runtime filter rules out — the set
    * planInputPartitions actually reads. Planning-time reports
    * (statistics, partitioning eligibility) use the pre-filter snapshot:
    * runtime filters arrive after those are consumed, and shrinking the
    * read set can only keep them conservative.
    */
  private def effectiveEntries(): Seq[SinkEntry] = runtimeShards match {
    case None => kept
    case Some(s) =>
      kept.filter(e => !e.hasStats || (e.shardMin to e.shardMax).exists(s.contains))
  }

  /** SHARD-GROUPED READS (round 14): after compaction every committed
    * file is shard-PURE with exact stats (s0 == s1) — the manifest
    * proves rows never cross files within a shard, which is exactly a
    * [[KeyGroupedPartitioning]] on `identity(shard)`. Reporting it makes
    * the clustered write layout PAY on the read side: per-shard
    * aggregations run with no exchange, and two compacted sink tables
    * join shard-co-partitioned with ZERO shuffles under the SPJ confs —
    * at 100 TB, the difference between re-shuffling the landing zone on
    * every consumption and reading it like a bucketed table. Freshly
    * appended files may straddle shards (one task's file can carry
    * several shards), so eligibility is per-SNAPSHOT and conservative:
    * every kept entry must be provably shard-pure, and the scan must
    * still output the shard column. Ineligible snapshots degrade to the
    * ordinary unknown partitioning — never wrong, just shuffled.
    */
  private lazy val shardGrouped: Boolean =
    kept.nonEmpty && required.fieldNames.contains("shard") &&
      kept.forall(e => e.hasStats && e.shardMin == e.shardMax)

  override def outputPartitioning(): Partitioning =
    if (shardGrouped)
      new KeyGroupedPartitioning(Array(Expressions.identity("shard")), kept.length)
    else new UnknownPartitioning(kept.length)

  /** [[org.apache.spark.sql.connector.read.SupportsReportStatistics]]:
    * EXACT post-prune live-row counts straight from the manifest (`rows`
    * is maintained as the live count through every DML path), sized at
    * the TSV row estimate — a pruned read of a big landing zone reports
    * small and becomes the optimizer's broadcast side, same as the
    * DocGen scan's spec-pinned behavior.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import java.util.{Optional, OptionalLong}
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val rows = keptEntries().map(_.rows).sum
    // COLUMN-LEVEL statistics for the cost-based optimizer, straight
    // from the manifest's per-file ranges — the join-reorder /
    // build-side-choice inputs Iceberg and Delta feed Spark from their
    // manifests. min/max are exact over live files (delete vectors only
    // narrow them — sound for estimation); ndv is the conservative
    // estimate the ranges support (doc_id ≈ one per row on this ingest
    // layout, shard = the covered range width); null counts are 0 (the
    // core columns are non-null by construction). Reported only when
    // EVERY kept file carries the stat — partial coverage stays silent
    // rather than claiming extremes the unknown files could exceed.
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    val k = kept
    if (k.nonEmpty && k.forall(_.hasDocStats)) {
      val (lo, hi) = (k.map(_.docMin).min, k.map(_.docMax).max)
      colStats.put(Expressions.column("doc_id"), new ColumnStatistics {
        override def distinctCount(): OptionalLong = OptionalLong.of(rows)
        override def min(): Optional[Object] = Optional.of(Long.box(lo))
        override def max(): Optional[Object] = Optional.of(Long.box(hi))
        override def nullCount(): OptionalLong = OptionalLong.of(0L)
      })
    }
    if (k.nonEmpty && k.forall(_.hasStats)) {
      val (lo, hi) = (k.map(_.shardMin).min, k.map(_.shardMax).max)
      colStats.put(Expressions.column("shard"), new ColumnStatistics {
        override def distinctCount(): OptionalLong = OptionalLong.of((hi - lo + 1).toLong)
        override def min(): Optional[Object] = Optional.of(Int.box(lo))
        override def max(): Optional[Object] = Optional.of(Int.box(hi))
        override def nullCount(): OptionalLong = OptionalLong.of(0L)
      })
    }
    // payload columns (round 15): fold the per-entry column envelopes
    // into CBO min/max — all-or-silent like everything envelope-shaped
    // (a stat-less entry blanks the column). No distinct/null counts:
    // the envelope doesn't know them, and a wrong guess misleads the
    // optimizer worse than absence.
    if (k.nonEmpty && k.forall(_.cs.nonEmpty)) {
      import org.apache.spark.sql.types.{DoubleType => DT, IntegerType => IT, LongType => LT, StringType => ST}
      SinkColStats.decode(SinkColStats.mergeEnvelopes(k.map(_.cs))).foreach {
        case (name, st) =>
          // boxed as the COLUMN's catalyst type (Spark interprets the
          // stat against the schema): an int column gets Integer, a
          // widened column's integral stats convert numerically, and a
          // tag/type mismatch (rename-era stats) publishes nothing.
          // A boundless (all-null) envelope has no min/max to publish.
          val boxed: Option[(Object, Object)] =
            if (st.lo == null) None
            else table.fields.find(_.name == name).map(_.dataType).flatMap {
              case IT if st.t == 'l' =>
                Some((Int.box(st.lo.toInt), Int.box(st.hi.toInt)))
              case LT if st.t == 'l' =>
                Some((Long.box(st.lo.toLong), Long.box(st.hi.toLong)))
              case DT if st.t == 'l' || st.t == 'd' =>
                Some((Double.box(st.lo.toDouble), Double.box(st.hi.toDouble)))
              case ST if st.t == 's' =>
                Some((
                  org.apache.spark.unsafe.types.UTF8String.fromString(st.lo),
                  org.apache.spark.unsafe.types.UTF8String.fromString(st.hi)))
              case _ => None
            }
          // null count (round 16): the merged sum, a write-time upper
          // bound on live nulls — the estimator's input, not a proof
          val nc: Option[Long] = st.nc
          if (boxed.isDefined || nc.isDefined)
            colStats.put(Expressions.column(name), new ColumnStatistics {
              override def min(): Optional[Object] =
                boxed.fold(Optional.empty[Object]())(b => Optional.of(b._1))
              override def max(): Optional[Object] =
                boxed.fold(Optional.empty[Object]())(b => Optional.of(b._2))
              override def nullCount(): OptionalLong =
                nc.fold(OptionalLong.empty())(OptionalLong.of)
            })
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * 45L)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics] =
        colStats
    }
  }

  /** TIME TRAVEL (round 13): `asOf` pins the scan to a specific retained
    * manifest version — the snapshot-isolation read the version log makes
    * free. A version beyond the current one fails loudly (typo'd travel
    * must not silently read latest). `pruneShards`/`pruneDocs`
    * (pushed-filter data skipping) then drop every file whose manifest
    * stats cannot match — stats-unknown entries always read
    * (conservative).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // a compaction may have expired a travelled snapshot's files — fail
    // with the real reason, never a raw FileNotFound mid-job (pruned-away
    // files are exempt: they will not be read)
    val toRead = effectiveEntries()
    asOf.foreach(v => ShardSink.requireSnapshotLive(path, v, toRead))
    // cloned-in files can be released by the SOURCE's vacuum/compaction
    ShardSink.requireForeignLive(path, toRead)
    if (shardGrouped)
      // every partition must carry its key when KeyGroupedPartitioning
      // was reported — same snapshot, so eligibility cannot have flipped
      // (a runtime filter only REMOVES whole keyed partitions)
      toRead.map { e =>
        ShardSinkShardFile(
          new org.apache.hadoop.fs.Path(path, e.file).toString,
          if (e.hasDeletes) new org.apache.hadoop.fs.Path(path, e.dv).toString else "",
          e.shardMin, e.file): InputPartition
      }.toArray
    else toRead.map(e => ShardSink.partitionOf(path, e)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ShardSinkReaderFactory(path, required, table)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ShardSinkTailStream(path)
}

/** Standalone serializable reader factory shared by the batch scan, the
  * version-tail stream and the row-level-operation scans: one partition =
  * one committed TSV file. `required` is the (possibly pruned, possibly
  * metadata-extended) output schema — data columns by name, plus the
  * positional row identity every merge-on-read write keys on:
  * `_file` = the committed file's manifest name, `_pos` = the PHYSICAL
  * 0-based line index (vector positions are physical, so `_pos` stays
  * stable no matter how many rows a vector already hides).
  */
case class ShardSinkReaderFactory(
    path: String, required: StructType = DocGen.schema,
    table: StructType = DocGen.schema) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (file, dv, name) = partition match {
      case f: ShardSinkFile => (f.file, f.dv, f.name)
      case f: ShardSinkShardFile => (f.file, f.dv, f.name)
    }
    val fp = new org.apache.hadoop.fs.Path(file)
    ShardSink.dataFileReadCount.incrementAndGet()
    val all = SinkFs.readLines(fp)
    // merge-on-read: drop the delete vector's positions at read time —
    // TSV line index IS the stable row position the vector records
    val dead: Set[Int] =
      if (dv.isEmpty) Set.empty
      else ShardSink.readDeleteVector(new org.apache.hadoop.fs.Path(dv))
    val live = all.zipWithIndex.filter { case (_, i) => !dead.contains(i) }
    // _file must carry the MANIFEST entry name (delta commits match it
    // back to entries): a cloned-in file's name is its absolute path
    val fileName = UTF8String.fromString(if (name.nonEmpty) name else fp.getName)
    // required column → (TSV position by the table's schema order, type);
    // -1 = metadata column. Pre-evolution files are simply SHORTER rows:
    // a position past the line's width (or an explicit \N cell) is null.
    val cols: Array[(Int, org.apache.spark.sql.types.DataType)] =
      required.fields.map { fld =>
        fld.name match {
          case "_file" => (-1, fld.dataType)
          case "_pos" => (-2, fld.dataType)
          case n => (table.fieldIndex(n), fld.dataType)
        }
      }
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < live.size }
      override def get(): InternalRow = {
        val (line, pos) = live(i)
        val parts = line.split("\t", -1)
        val row = new GenericInternalRow(cols.length)
        var c = 0
        while (c < cols.length) {
          cols(c) match {
            case (-1, _) => row.update(c, fileName)
            case (-2, _) => row.update(c, pos.toLong)
            case (p, _) if p >= parts.length => row.update(c, null)
            case (p, _) if parts(p) == ShardSink.NullCell => row.update(c, null)
            case (p, org.apache.spark.sql.types.LongType) => row.update(c, parts(p).toLong)
            case (p, org.apache.spark.sql.types.IntegerType) => row.update(c, parts(p).toInt)
            case (p, org.apache.spark.sql.types.DoubleType) => row.update(c, parts(p).toDouble)
            case (p, _) => row.update(c, UTF8String.fromString(parts(p)))
          }
          c += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** One file's contribution to a change-feed batch: `only` = emit exactly
  * these physical positions (delete events); otherwise emit all lines
  * except `skip` (insert events, skipping the commit's own vector).
  */
case class ShardSinkChangeFile(
    file: String, changeType: String, version: Long,
    only: Option[Seq[Int]], skip: Seq[Int]) extends InputPartition

/** A commit's recorded change sidecar (`cdc-*.tsv`): each line carries
  * its OWN change type (`change_type\tdoc\tshard\tbody`) — the complete
  * change record of version `version`.
  */
case class ShardSinkChangeSidecar(file: String, version: Long) extends InputPartition

case class ShardSinkChangeReaderFactory(
    path: String, table: StructType = DocGen.schema) extends PartitionReaderFactory {
  private def reader(rows: IndexedSeq[(String, String)], version: Long)
      : PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val n = table.length
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.size }
      override def get(): InternalRow = {
        val (ct, line) = rows(i)
        val parts = line.split("\t", -1)
        val row = new GenericInternalRow(n + 2)
        var c = 0
        while (c < n) {
          // pre-evolution change rows are shorter: null-fill, like reads
          if (c >= parts.length || parts(c) == ShardSink.NullCell) row.update(c, null)
          else table.fields(c).dataType match {
            case org.apache.spark.sql.types.LongType => row.update(c, parts(c).toLong)
            case org.apache.spark.sql.types.IntegerType => row.update(c, parts(c).toInt)
            case org.apache.spark.sql.types.DoubleType => row.update(c, parts(c).toDouble)
            case _ => row.update(c, UTF8String.fromString(parts(c)))
          }
          c += 1
        }
        row.update(n, UTF8String.fromString(ct))
        row.update(n + 1, version)
        row
      }
      override def close(): Unit = ()
    }

  /** A compaction/vacuum released this change file between a consumer's
    * PLAN and its EXECUTION (the tail windows a spliced MV rewrite pins,
    * a refresh racing maintenance) — named instead of a raw
    * FileNotFoundException out of a task (round 19; state segments get
    * the same treatment in [[MvStateSweptException]]).
    */
  private def named[A](file: String)(body: => A): A =
    try body
    catch {
      case _: java.io.FileNotFoundException =>
        throw new RuntimeException(
          s"change-feed file '$file' of $path was compacted/vacuumed away " +
            "between plan and execution — re-run the query (it will " +
            "re-resolve, or fall back to the base scan); run maintenance " +
            "with retention covering in-flight readers")
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case s: ShardSinkChangeSidecar =>
        // counted like data reads: the MV spec proves refresh IO is
        // O(changed files), and change partitions are that IO
        ShardSink.dataFileReadCount.incrementAndGet()
        val rows = named(s.file)(
          SinkFs.readLines(new org.apache.hadoop.fs.Path(s.file))).map { l =>
          val cut = l.indexOf('\t')
          (l.substring(0, cut), l.substring(cut + 1))
        }
        reader(rows.toIndexedSeq, s.version)
      case f: ShardSinkChangeFile =>
        ShardSink.dataFileReadCount.incrementAndGet()
        val all = named(f.file)(SinkFs.readLines(new org.apache.hadoop.fs.Path(f.file)))
        val picked = f.only match {
          case Some(ps) => ps.filter(_ < all.size).map(all)
          case None =>
            val dead = f.skip.toSet
            all.zipWithIndex.collect { case (l, i) if !dead.contains(i) => l }
        }
        reader(picked.map(l => (f.changeType, l)).toIndexedSeq, f.version)
    }
}

/** The change-feed scan (`readChangeFeed=true`): batch reads the changes
  * of versions (changeFeedFrom, changeFeedTo] (defaults: 0, current);
  * streaming tails the table one COMMIT's changes per micro-batch over
  * the same durable version offsets as the plain tail.
  */
class ShardSinkChangeScan(path: String, fromV: Long, toV: Option[Long])
  extends Scan with Batch with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = ShardSink.changeSchemaOf(path)
  override def description(): String =
    s"ShardSinkChangeScan[$path, versions ($fromV, ${toV.getOrElse("current")}]]"
  override def toBatch: Batch = this
  // resolved once per scan: the statistics and the partitions describe
  // the same version window
  private lazy val parts: Seq[InputPartition] = {
    val to = toV.getOrElse(ShardSink.currentManifestVersion(path))
    val current = ShardSink.currentManifestVersion(path)
    require(fromV >= 0 && to <= current,
      s"change feed ($fromV, $to] out of range: table at $path has versions 1..$current")
    ShardSink.changePartitions(path, fromV, to)
  }
  override def planInputPartitions(): Array[InputPartition] = parts.toArray

  // set when Spark tails this scan as a stream, which it does before it
  // asks any micro-batch plan for statistics: a stream's batches come
  // from its offsets, not from this scan's (fromV, toV] window
  @volatile private var streaming = false

  /** A batch read reports the bytes of the files the feed reads, so a
    * small window is sized as one (a broadcast side, a one-task read under
    * [[graft.plans.OnePartition]]) instead of `spark.sql.defaultSizeInBytes`;
    * a stream reports no size.
    */
  private lazy val bytes =
    ShardSink.changeBytes(parts, SinkFs.fileSizes(new org.apache.hadoop.fs.Path(path)))
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (streaming) java.util.OptionalLong.empty() else java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  override def createReaderFactory(): PartitionReaderFactory =
    ShardSinkChangeReaderFactory(path, ShardSink.tableSchema(path))
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    streaming = true
    new ShardSinkTailStream(path, cdc = true)
  }
}

/** Offset for the sink's version-tail stream: a manifest version number. */
case class SinkVersionOffset(v: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** STREAMING READ of the landing zone — tailing the table by manifest
  * version, the payoff of retaining the version sequence: each committed
  * version is a snapshot, so the batch for offsets (a, b] is exactly the
  * files present in manifest b and absent from manifest a. One version
  * per micro-batch by default ([[SupportsAdmissionControl]] — the
  * rate-source pattern); Trigger.Once/AvailableNow drains to the current
  * version in one batch. Exactly-once for the append-only workloads a
  * landing zone runs (Append jobs and streaming epochs only add files):
  * offsets are durable version numbers and replay re-reads the same
  * immutable files. DML rewrites (`part-r`/`part-d`) and truncates are
  * OUT OF SCOPE for tailing and are skipped — a rewritten file re-emits
  * rows a tailer already saw; CDC-style delta events would need the
  * delta-based write path. Documented, not hidden.
  */
class ShardSinkTailStream(path: String, cdc: Boolean = false)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def appendOnly(f: String): Boolean =
    f.startsWith("part-b") || f.startsWith("part-e")

  /** A FRESH tail starts at the retention horizon, not version 0: on a
    * compacted table the pre-horizon file deltas are gone, and the
    * horizon snapshot is exactly what retention still promises a new
    * consumer. Uncompacted tables start at 0 — the full history.
    */
  override def initialOffset(): Offset =
    SinkVersionOffset(ShardSink.horizonOf(path) - 1L)
  // the admission unit is a manifest VERSION (one commit per trigger —
  // the rate-source pattern); maxFiles(1) is the closest ReadLimit
  // vocabulary Spark has for "one commit's worth"
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(1)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SinkVersionOffset].v
    val current = math.max(from, ShardSink.currentManifestVersion(path))
    import org.apache.spark.sql.connector.read.streaming.ReadAllAvailable
    limit match {
      case _: ReadAllAvailable => SinkVersionOffset(current)
      case _ => SinkVersionOffset(math.min(current, from + 1))
    }
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")
  override def reportLatestOffset(): Offset =
    SinkVersionOffset(ShardSink.currentManifestVersion(path))
  override def deserializeOffset(json: String): Offset =
    SinkVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[SinkVersionOffset].v
    val b = end.asInstanceOf[SinkVersionOffset].v
    // a checkpointed position older than the retention horizon cannot be
    // resumed — its file deltas were released by compaction. Refuse with
    // the horizon named, never a raw FileNotFound mid-stream (the CDC
    // path enforces the same inside changePartitions).
    val hz = ShardSink.horizonOf(path)
    require(b <= a || a + 1 >= hz,
      s"tail position $a at $path expired: the retention horizon is $hz — " +
        "restart the stream from a fresh checkpoint to resume at the horizon")
    // CDC mode: the full change feed of versions (a, b] — inserts AND
    // merge-on-read deletes (the vector diffs the plain tail cannot see)
    if (cdc) return ShardSink.changePartitions(path, a, b).toArray
    val prior = ShardSink.entriesAtVersion(path, a).map(_.file).toSet
    // foreign (cloned-in) entries count as appends: they only ever enter
    // via a clone-creation commit, whose rows are bulk-loaded new data
    // for THIS table — a fresh tail of a clone must emit them, not
    // silently skip on the name prefix
    val delta = ShardSink.entriesAtVersion(path, b)
      .filter(e => (appendOnly(e.file) || ShardSink.isForeign(e.file)) &&
        !prior.contains(e.file))
    ShardSink.requireForeignLive(path, delta)
    delta.map(e => ShardSink.partitionOf(path, e)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val table = ShardSink.tableSchema(path)
    if (cdc) ShardSinkChangeReaderFactory(path, table)
    else ShardSinkReaderFactory(path, table, table)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Writable V2 catalog over shard-sink landing zones: identifiers map to
  * directories under a root taken from the catalog options
  * (`spark.sql.catalog.<name>.root`). The catalog is what unlocks the
  * SQL row-level surface — `DELETE FROM <cat>.<table> WHERE …` and
  * `df.writeTo("<cat>.<table>").append()` both resolve through
  * [[ShardSinkCatalog.loadTable]]; the TableProvider path
  * (`format(...).option("path", …)`) has no identifier for SQL DML to
  * name. Tables exist implicitly (a fresh identifier is an empty landing
  * zone — the manifest protocol already treats manifest-absent as
  * no-data), so create/drop are trivial metadata ops.
  */
class ShardSinkCatalog extends org.apache.spark.sql.connector.catalog.TableCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, TableChange, TableInfo}

  private var catalogName = "graft_sink"
  private var root = ""
  private var deleteMode = "copy-on-write"
  private var rloMode = "copy-on-write"
  private var cdfEnabled = false

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      new java.io.File(sys.props("java.io.tmpdir"), "graft_sink_cat").getPath)
    // catalog-level defaults for the DML strategies (Iceberg's
    // write.delete.mode / write.update.mode / write.merge.mode as catalog
    // options): copy-on-write | merge-on-read. `delete.mode` governs the
    // metadata DELETE path, `rlo.mode` the UPDATE/MERGE/rewrite-DELETE
    // row-level operations. `cdf.enabled` (default false, Delta's
    // enableChangeDataFeed) makes DML commits record their change
    // sidecars so readChangeFeed is exact over CoW rewrites and delta
    // updates carry pre/post images.
    deleteMode = Option(options.get("delete.mode")).getOrElse("copy-on-write")
    rloMode = Option(options.get("rlo.mode")).getOrElse("copy-on-write")
    cdfEnabled = options.getBoolean("cdf.enabled", false)
    ShardSink.installPlanner()
  }
  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    new java.io.File(root, (ident.namespace() :+ ident.name()).mkString("_")).getPath

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style METADATA TABLES: `<cat>.<table>.files` / `.history`
    // / `.tags` / `.constraints` — the extra identifier level serves the
    // manifest state as a SQL-queryable table ([[ShardSinkMetaTable]]).
    // Only when the PARENT table has commits: a genuinely empty landing
    // zone keeps the plain-table resolution (same shadowing rule as
    // Iceberg's metadata suffixes).
    if (ident.namespace().nonEmpty && ShardSinkMetaTable.Kinds(ident.name())) {
      val parent = new java.io.File(root, ident.namespace().mkString("_")).getPath
      if (ShardSink.currentManifestVersion(parent) >= 1L)
        return new ShardSinkMetaTable(parent, ident.name())
    }
    new ShardSinkTable(dirOf(ident),
      deleteMode = deleteMode, rloMode = rloMode, cdfEnabled = cdfEnabled)
  }
  /** SQL time travel: `SELECT … FROM <cat>.<t> VERSION AS OF n` resolves
    * here — the table is pinned to retained manifest version n. A
    * non-numeric version is a TAG name (`VERSION AS OF 'prod'` — string
    * refs share the version-travel spelling, Iceberg-style).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val v =
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else ShardSink.resolveTag(dir, version)
    new ShardSinkTable(dir, Some(v), deleteMode, rloMode, cdfEnabled)
  }
  /** SQL `TIMESTAMP AS OF ts`: Spark hands the evaluated instant in
    * MICROseconds; resolve it to the newest manifest version committed
    * at-or-before it ([[ShardSink.versionAtTimestamp]]) and pin.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    val v = ShardSink.versionAtTimestamp(dir, Math.floorDiv(timestampMicros, 1000L))
    new ShardSinkTable(dir, Some(v), deleteMode, rloMode, cdfEnabled)
  }
  /** A table EXISTS when its directory does (a created-empty or written
    * landing zone); a never-touched identifier does not — which is what
    * lets `CREATE TABLE … AS SELECT` through the analyzer's existence
    * check. Reads and writes still resolve ANY identifier ([[loadTable]]
    * never throws): a fresh identifier is an empty landing zone, the
    * manifest protocol's manifest-absent = no-data state.
    */
  override def tableExists(ident: Identifier): Boolean =
    new java.io.File(dirOf(ident)).exists()
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => Identifier.of(namespace, d.getName))
  /** CREATE TABLE (incl. the CTAS path — the analyzer routes here after
    * [[tableExists]] says no): the (doc_id, shard, body) core is
    * required as the schema PREFIX; any FURTHER columns are persisted as
    * schema-evolution flips on the fresh table, so
    * `CREATE TABLE t AS SELECT … extra columns` round-trips the evolved
    * shape exactly (the CTAS write then lands against it by name).
    */
  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val core = DocGen.schema.fields.map(f => (f.name, f.dataType))
    require(
      schema.isEmpty ||
        schema.fields.take(core.length).map(f => (f.name, f.dataType)).sameElements(core),
      s"shard sink tables start with the ${DocGen.schema.simpleString} core " +
        "(further columns evolve; reorders/renames of the core do not)")
    val dir = dirOf(ident)
    // the directory IS the existence marker, so its creation must be the
    // election: two concurrent CTAS of one identifier race the atomic
    // createDirectory and exactly one proceeds — the same no-TOCTOU
    // discipline as the manifest flip's fresh-name rename
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d.getParent)
    try java.nio.file.Files.createDirectory(d)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          Array(name()) ++ ident.namespace() :+ ident.name())
    }
    schema.fields.drop(core.length).foreach(f => ShardSink.addColumn(dir, f.name, f.dataType))
    loadTable(ident)
  }
  /** SCHEMA EVOLUTION (round 14): `ALTER TABLE … ADD COLUMN` (appends a
    * nullable column; pure metadata — see [[ShardSink.addColumn]]),
    * `RENAME COLUMN` and type WIDENING (int→bigint, int/bigint→double)
    * on added columns. Drops, reorders and narrowings are refused
    * loudly: columns map to TSV positions, and the (doc_id, shard, body)
    * core is load-bearing.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"shard sink columns are top-level, got ${add.fieldNames.mkString(".")}")
        ShardSink.addColumn(dir, add.fieldNames.head, add.dataType)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"shard sink columns are top-level, got ${rn.fieldNames.mkString(".")}")
        ShardSink.renameColumn(dir, rn.fieldNames.head, rn.newName)
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1,
          s"shard sink columns are top-level, got ${up.fieldNames.mkString(".")}")
        ShardSink.widenColumn(dir, up.fieldNames.head, up.newDataType)
      // RESTORE's SQL spelling (Spark has no RESTORE statement; Delta
      // ships one via a parser extension): SET TBLPROPERTIES
      // ('graft.restore' = '<version-or-tag>') rolls the table back to
      // that snapshot as a new commit — see [[ShardSink.restore]]
      case sp: TableChange.SetProperty if sp.property == "graft.restore" =>
        ShardSink.restore(dir,
          if (sp.value.nonEmpty && sp.value.forall(_.isDigit)) sp.value.toLong
          else ShardSink.resolveTag(dir, sp.value))
      // TAG management (Iceberg refs): SET TBLPROPERTIES
      // ('graft.tag.<name>' = '<version>') creates an immutable tag,
      // UNSET TBLPROPERTIES ('graft.tag.<name>') drops it
      case sp: TableChange.SetProperty if sp.property.startsWith("graft.tag.") =>
        ShardSink.createTag(dir, sp.property.stripPrefix("graft.tag."), sp.value.toLong)
      case rp: TableChange.RemoveProperty if rp.property.startsWith("graft.tag.") =>
        ShardSink.dropTag(dir, rp.property.stripPrefix("graft.tag."))
      // CHECK constraints (Delta ADD/DROP CONSTRAINT): SET TBLPROPERTIES
      // ('graft.constraint.<name>' = '<pred>') adds one (validating
      // existing rows), UNSET drops it — see [[SinkConstraint]]
      case sp: TableChange.SetProperty if sp.property.startsWith("graft.constraint.") =>
        ShardSink.addConstraint(dir, sp.property.stripPrefix("graft.constraint."), sp.value)
      // SHALLOW CLONE's SQL spelling (tables exist implicitly in this
      // catalog, so CREATE TABLE never fires — property-DDL like restore
      // and tags): ALTER TABLE <cat>.<t> SET TBLPROPERTIES
      // ('graft.clone' = '<src-dir>[@<version-or-tag>]') turns the EMPTY
      // table <t> into a zero-copy clone of the source snapshot —
      // schema, CHECK constraints and referenced files all come from it
      // (see [[ShardSink.cloneShallow]])
      case sp: TableChange.SetProperty if sp.property == "graft.clone.version" =>
        () // consumed by the graft.clone change in the same statement
      case sp: TableChange.SetProperty if sp.property == "graft.clone" =>
        val explicit = changes.collectFirst {
          case vp: TableChange.SetProperty if vp.property == "graft.clone.version" =>
            vp.value
        }
        val (src, version) = ShardSink.parseCloneSpec(sp.value, explicit)
        ShardSink.cloneShallow(src, dir, version)
      case rp: TableChange.RemoveProperty if rp.property.startsWith("graft.constraint.") =>
        ShardSink.dropConstraint(dir, rp.property.stripPrefix("graft.constraint."))
      // MATERIALIZED-VIEW DDL (round 19, [[SinkMvDdl]]): SET
      // TBLPROPERTIES ('graft.mv.<name>' = '<definition>') creates a
      // distributed MV at the conventional sibling dir and registers it
      // for the automatic rewrite; ('graft.mv.refresh' = '<name>')
      // refreshes one; UNSET ('graft.mv.<name>') unregisters + drops.
      case sp: TableChange.SetProperty if sp.property == "graft.mv.refresh" =>
        SinkMvDdl.refresh(
          org.apache.spark.sql.SparkSession.active, dir, sp.value)
        ()
      // re-wire a persisted MV after a JVM restart (registration is
      // in-memory; the census shows registered = false until this)
      case sp: TableChange.SetProperty if sp.property == "graft.mv.attach" =>
        SinkMvDdl.attach(dir, sp.value)
      case sp: TableChange.SetProperty if sp.property.startsWith("graft.mv.") =>
        SinkMvDdl.create(org.apache.spark.sql.SparkSession.active, dir,
          sp.property.stripPrefix("graft.mv."), sp.value)
      case rp: TableChange.RemoveProperty if rp.property.startsWith("graft.mv.") =>
        SinkMvDdl.drop(dir, rp.property.stripPrefix("graft.mv."))
      case other => throw new UnsupportedOperationException(
        "shard sink supports ADD COLUMN, RENAME COLUMN, type widening, " +
          "'graft.restore', 'graft.tag.*', 'graft.constraint.*' and " +
          s"'graft.mv.*' only, got $other")
    }
    loadTable(ident)
  }
  /** ATOMIC CTAS / RTAS ([[org.apache.spark.sql.connector.catalog.StagingTableCatalog]]):
    * with staging, Spark routes CREATE/REPLACE TABLE AS SELECT through a
    * staged handle instead of drop-create-write. The payoff is on
    * REPLACE: the swap is ONE truncate-flip on the existing version log
    * — readers see the old content or the new, never an empty window,
    * and the LOG SURVIVES (version numbering and the op trail continue,
    * vs the non-staged drop+recreate which zeroes them; pre-replace
    * snapshot FILES follow the sink's immediate-cleanup retention like
    * any truncate — travel to them fails loudly as expired, never
    * silently empty). Columns beyond the current schema evolve INSIDE
    * the staged write's truncate commit (the stage reports the merged
    * shape as a PENDING schema; nothing is persisted at stage time);
    * previously-evolved columns absent from the replacement query stay
    * (null-filled) — the log keeps reading old snapshots under their
    * true shapes. A failed staged CTAS drops the half-created table; a
    * failed staged REPLACE leaves the previous content AND schema fully
    * intact — the truncate flip that would have carried both never
    * happened (round 15; previously alter flips persisted at stage time
    * and survived an aborted stage).
    */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Array(name()) ++ ident.namespace() :+ ident.name())
    createTable(ident, info.schema(), info.partitions(), info.properties())
    staged(ident, forceTruncate = false, dropOnAbort = true)
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    val dir = dirOf(ident)
    val core = DocGen.schema.fields.map(f => (f.name, f.dataType))
    require(
      info.schema().fields.take(core.length).map(f => (f.name, f.dataType))
        .sameElements(core),
      s"shard sink tables start with the ${DocGen.schema.simpleString} core")
    // schema evolution rides the staged write's OWN truncate commit (the
    // table is built with the merged schema as PENDING): a failed staged
    // REPLACE leaves both the previous content AND the previous schema
    // untouched — the r14 rollback gap (alter flips persisted at stage
    // time) is closed. Previously-evolved columns absent from the
    // replacement query stay (Spark null-fills them by name against the
    // staged shape), so the log keeps reading old snapshots truthfully.
    val cur = ShardSink.tableSchema(dir)
    val curNames = cur.fieldNames.toSet
    val merged = StructType(cur.fields ++
      info.schema().fields.drop(core.length)
        .filterNot(f => curNames.contains(f.name))
        .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType,
          nullable = true)))
    staged(ident, forceTruncate = true, dropOnAbort = false,
      pendingSchema = Some(merged), pendingBasis = Some(ShardSink.schemaString(cur)))
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    if (tableExists(ident)) stageReplace(ident, info) else stageCreate(ident, info)

  private def staged(
      ident: Identifier, forceTruncate: Boolean, dropOnAbort: Boolean,
      pendingSchema: Option[StructType] = None,
      pendingBasis: Option[String] = None): StagedTable = {
    val t =
      if (pendingSchema.isDefined)
        new ShardSinkTable(dirOf(ident), deleteMode = deleteMode, rloMode = rloMode,
          cdfEnabled = cdfEnabled, pendingSchema = pendingSchema,
          pendingBasis = pendingBasis)
      else loadTable(ident)
    new StagedTable with SupportsRead with SupportsWrite {
      override def name(): String = t.name()
      override def schema(): StructType = t.schema()
      override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
        t.capabilities()
      override def properties(): util.Map[String, String] = t.properties()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        t.asInstanceOf[SupportsRead].newScanBuilder(options)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
        val b = t.asInstanceOf[SupportsWrite].newWriteBuilder(info)
        if (forceTruncate)
          b.asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate].truncate()
        else b
      }
      // the write's own manifest flip IS the atomic publication: staged
      // commit has nothing left to do, staged abort undoes the CREATE
      override def commitStagedChanges(): Unit = ()
      override def abortStagedChanges(): Unit = if (dropOnAbort) { dropTable(ident); () }
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = new java.io.File(dirOf(ident))
    val existed = d.exists()
    SinkFs.deleteRecursively(d)
    existed
  }
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("rename not supported")
}

/** GROUP-BASED row-level operations (round 13 — the copy-on-write DML
  * rung: SQL `UPDATE` and `MERGE INTO`, plus the rewrite fallback for
  * DELETEs whose predicate is outside [[ShardSink.deletePredicate]]'s
  * metadata-only class). Spark's rewrite plans read the table through
  * THIS operation's scan, compute the full replacement rows for every
  * group the scan produced, and write them through this operation's
  * write — commit then atomically swaps the read files for the new ones
  * in the manifest. The scan and write are linked by the operation
  * instance: [[ShardSinkRowLevelScan.planInputPartitions]] records the
  * file set it planned, and the replacement commit replaces exactly that
  * set (a thunk, so late runtime pruning is honored). Without per-file
  * statistics the affected-group set is every committed file — a
  * whole-table copy-on-write, correct and honestly coarse; a 100 TB
  * deployment adds min/max stats per manifest entry and prunes groups at
  * planning, which the shard-whole layout from
  * [[ShardSinkWrite.requiredDistribution]] makes precise for shard-keyed
  * predicates.
  */
class ShardSinkRowLevelOperation(
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    cdf: Boolean = false)
  extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var planned: Seq[String] = Seq.empty
  private[sources] def recordPlanned(files: Seq[String]): Unit = planned = files

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"ShardSinkRowLevelOperation[$cmd, $path]"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardSinkRowLevelScan(path, ShardSinkRowLevelOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new ShardSinkReplaceDataWrite(path, info.queryId(), () => planned, cdf)
    }
}

/** The operation's read side: the ordinary manifest-trusting scan, plus
  * two jobs — (1) RUNTIME GROUP FILTERING: Spark's
  * `RowLevelOperationRuntimeGroupFiltering` rule runs a matching-groups
  * subquery over the DML condition and hands the matching `shard` values
  * back through [[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]];
  * files whose manifest shard range cannot intersect are pruned BEFORE
  * the rewrite reads anything, so a shard-scoped UPDATE/MERGE/DELETE
  * rewrites only the affected files instead of the whole table (the
  * statistics-pruned copy-on-write every table format runs at scale);
  * (2) bookkeeping — the file set it ultimately plans IS the
  * affected-group set the replacement commit swaps out.
  */
class ShardSinkRowLevelScan(path: String, op: ShardSinkRowLevelOperation)
  extends ShardSinkScan(path,
    required = ShardSink.tableSchema(path), table = ShardSink.tableSchema(path))
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  @volatile private var shardFilter: Option[Set[Int]] = None

  override def description(): String = s"ShardSinkRowLevelScan[$path]"

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("shard"))

  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    filters.collectFirst {
      case In("shard", vs) => vs.collect { case n: Number => n.intValue }.toSet
      case EqualTo("shard", v: Number) => Set(v.intValue)
    }.foreach(s => shardFilter = Some(s))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val entries = ShardSink.committedEntries(path)
      .filter(e => shardFilter.forall(e.mayContainShard))
    // a CoW rewrite over a clone reads foreign files: same named error
    // as the batch scan when the source released them
    ShardSink.requireForeignLive(path, entries)
    op.recordPlanned(entries.map(_.file))
    // dv passed through: a copy-on-write rewrite over a file carrying a
    // merge-on-read delete vector must NOT resurrect the deleted rows
    entries
      .map(e => ShardSink.partitionOf(path, e))
      .toArray
  }
}

/** The operation's write side: same temp-file/task-commit protocol as the
  * batch write, same declared clustered-by-shard distribution (replacement
  * files stay shard-whole and id-ordered), but commit REPLACES the
  * affected files instead of appending — old entries minus the files the
  * operation scan read, plus the replacement files, one atomic manifest
  * flip, physical cleanup after.
  */
class ShardSinkReplaceDataWrite(
    path: String, queryId: String, affected: () => Seq[String], cdf: Boolean = false)
  extends Write with BatchWrite with ShardClusteredWrite {
  import org.apache.hadoop.fs.Path

  override def toBatch: BatchWrite = this

  // pinned at factory-build: rewritten rows (UPDATE/MERGE can set any
  // value) re-validate against every CHECK constraint in force
  private val pinnedCks = ShardSink.currentConstraints(path)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ShardSinkWriterFactory(path, s"rlo-$queryId", trailingCols = true,
      table = ShardSink.tableSchema(path), constraints = pinnedCks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val replaced = affected().toSet
    val finals = ShardSink.landTaskFiles(path, messages, i => s"part-r$queryId-$i.tsv")
    // base pinned at commit-read; additionally every file the operation
    // SCAN read must still be in the base — a concurrent DML/compaction
    // that rewrote one of them between scan and commit invalidates the
    // replacement rows, so this commit aborts loudly instead of
    // resurrecting superseded data
    val pinned = ShardSink.resolveBase(path)
    val (swapped, kept) = pinned.entries.partition(e => replaced.contains(e.file))
    val vanished = replaced -- swapped.map(_.file).toSet
    if (vanished.nonEmpty)
      throw new IllegalStateException(
        s"ShardSink row-level operation at $path conflicts with a concurrent " +
          s"commit: files read by the operation are no longer current " +
          s"(${vanished.toSeq.sorted.mkString(", ")}); aborted loudly — re-run")
    // CHANGE RECORD (only when the table opted into CDF — Delta's
    // enableChangeDataFeed): a group-based rewrite replaces whole files,
    // most of whose rows are carried over verbatim — the commit's actual
    // changes are the multiset difference between the swapped-out live
    // rows and the swapped-in rows. Rows that vanished are `delete`
    // events, rows that appeared are `insert` events (an UPDATE surfaces
    // as the pair; Spark's group-based plan does not tell the connector
    // which carried rows were modified, so exact pre/post pairing is the
    // delta path's job — rlo.mode=merge-on-read). Computed driver-side
    // over data the rewrite already materialized; a 100 TB deployment
    // runs the same diff inside the rewrite job. Without CDF the diff is
    // skipped entirely and a later change-feed read over this version
    // fails loudly instead of missing rows.
    val cdc = if (!cdf) None else {
      val before = scala.collection.mutable.Map.empty[String, Int]
      swapped.foreach(e => ShardSink.liveLines(path, e).foreach { l =>
        before(l) = before.getOrElse(l, 0) + 1
      })
      val inserted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      finals.foreach(e => SinkFs.readLines(new Path(path, e.file)).foreach { l =>
        val n = before.getOrElse(l, 0)
        if (n > 0) before(l) = n - 1 else inserted += (("insert", l))
      })
      val removed = before.iterator
        .flatMap { case (l, n) => Iterator.fill(n)(("delete", l)) }.toSeq
      ShardSink.writeCdcSidecar(path, s"r$queryId", removed ++ inserted.toSeq)
    }
    ShardSink.commit(path, pinned, "rewrite", ShardSink.retryTag(s"r$queryId"),
      ShardSink.Aborts, ShardSink.Pins(Some(pinnedCks)), cdc = cdc)(_ => kept ++ finals)
    // replaced data files AND their (now folded-in) delete vectors;
    // cloned-in files are manifest-only removals (the source keeps them)
    ShardSink.deleteOwned(path, swapped.flatMap(ShardSink.fileRefs))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ShardSink.abortTaskFiles(messages)
}

/** DELTA-BASED row-level operations (round 13 — the merge-on-read rung
  * for SQL UPDATE / MERGE / rewrite-DELETE, Spark's
  * [[org.apache.spark.sql.connector.write.SupportsDelta]]): instead of
  * rewriting every affected file whole
  * ([[ShardSinkRowLevelOperation]]'s group-based copy-on-write), the
  * rewrite plan feeds the writer individual row DELTAS — delete(rowId)
  * and insert(row), with updates represented as delete+insert
  * ([[representUpdateAsDeleteAndInsert]]) — and the commit lands as
  * positional delete vectors over the untouched originals plus one
  * appended file of new rows. The row identity is PURELY POSITIONAL:
  * `rowId = (_file, _pos)` over the table's metadata columns, the same
  * design Iceberg's position deltas use, sound on duplicate-id tables
  * where a key-based row id is not. At 100 TB this is the
  * write-amplification trade every format documents: an UPDATE touching
  * 0.1% of rows writes ~0.1% of the data instead of every straddled
  * file, at the cost of read-side vector subtraction until
  * [[ShardSink.compact]] folds it.
  */
class ShardSinkDeltaOperation(
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    cdf: Boolean = false)
  extends org.apache.spark.sql.connector.write.RowLevelOperation with SupportsDelta {

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"ShardSinkDeltaOperation[$cmd, $path]"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))
  // native update rows (round 14): Spark hands UPDATE operations to
  // DeltaWriter.update with the row id AND the new row, which is what
  // lets the change feed emit exact update_preimage/update_postimage
  // pairs instead of collapsing every update to delete+insert
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private val table: StructType = ShardSink.tableSchema(path)
      private var prune: Option[Set[Int]] = None
      private var pruneDocs: Option[(Long, Long)] = None
      private var pruneColPreds: Seq[SinkColStats.ColPred] = Nil
      private var required: StructType = table
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        prune = ShardSink.shardPruneSet(filters)
        pruneDocs = ShardSink.docPruneRange(filters)
        // a DML condition on a payload column (`WHERE lang = 'x'`) skips
        // whole files here: a pruned file holds no row the operation
        // could touch, so excluding it from the rewrite read is exact
        pruneColPreds = SinkColStats.predsOf(filters, table)
        filters // residual — skipping is file-granular
      }
      override def pushedFilters(): Array[Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema // data columns + the (_file, _pos) rowId
      override def build(): Scan =
        new ShardSinkScan(path, None, prune, required, pruneDocs, table,
          pruneCols = pruneColPreds)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new ShardSinkDeltaWrite(path, info, cdf)
    }
}

/** Task commit for a delta write: per-file deleted positions observed by
  * this task, plus the task's appended-rows temp file (same protocol as
  * the batch write).
  */
case class ShardSinkDeltaCommit(
    deletes: Map[String, Seq[Long]],
    // UPDATE operations: file → (physical position of the old row, the
    // new row's TSV line). The position also folds into the file's
    // delete vector; the line also landed in this task's appended file —
    // this pairing exists so the commit can record exact
    // update_preimage/update_postimage change events.
    updates: Map[String, Seq[(Long, String)]],
    tempPath: String, file: SinkEntry)
  extends TaskFileCommit

class ShardSinkDeltaWrite(path: String, info: LogicalWriteInfo, cdf: Boolean = false)
  extends Write with DeltaWrite with DeltaBatchWrite {
  import org.apache.hadoop.fs.Path

  override def toBatch: DeltaBatchWrite = this

  private val pinnedCks = ShardSink.currentConstraints(path)

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val idSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("delta write without a rowId schema"))
    val table = ShardSink.tableSchema(path)
    val data = info.schema()
    ShardSinkDeltaWriterFactory(
      path, info.queryId(),
      idSchema.fieldIndex("_file"), idSchema.fieldIndex("_pos"),
      // table column i → its physical position in the incoming data row;
      // a delete-only write carries row ids and no data row at all
      if (data.isEmpty) Array.empty[Int] else table.fields.map(f => data.fieldIndex(f.name)),
      table, cdf, pinnedCks)
  }

  /** Driver commit: union each file's deleted positions into its (new)
    * delete vector, drop entries whose every live row died (data files
    * stay — MOR never destroys data), append the insert files, ONE
    * manifest flip. Entry `rows` stays the live count throughout.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: ShardSinkDeltaCommit => m }
    val allUpd = scala.collection.mutable.Map.empty[String, Seq[(Long, String)]]
    msgs.foreach(_.updates.foreach { case (f, us) =>
      allUpd(f) = allUpd.getOrElse(f, Seq.empty) ++ us
    })
    // update positions are deletions of the old row versions: fold them
    // into the vectors alongside the pure deletes
    val allDel = scala.collection.mutable.Map.empty[String, Set[Int]]
    msgs.foreach(_.deletes.foreach { case (f, ps) =>
      allDel(f) = allDel.getOrElse(f, Set.empty) ++ ps.map(_.toInt)
    })
    allUpd.foreach { case (f, us) =>
      allDel(f) = allDel.getOrElse(f, Set.empty) ++ us.map(_._1.toInt)
    }
    val inserts = ShardSink.landTaskFiles(path, messages, i => s"part-u${info.queryId()}-$i.tsv")
    val gen = ShardSink.nextMorGen()
    // base pinned at commit-read; a delete targeting a file no longer in
    // the base means a concurrent commit rewrote rows this operation's
    // positions were resolved against — positional deletes against the
    // rewritten layout would hit the WRONG rows, so abort loudly
    val pinned = ShardSink.resolveBase(path)
    val vanished = allDel.keySet -- pinned.entries.map(_.file).toSet
    if (vanished.nonEmpty)
      throw new IllegalStateException(
        s"ShardSink delta commit at $path conflicts with a concurrent commit: " +
          s"positional deletes target files no longer current " +
          s"(${vanished.toSeq.sorted.mkString(", ")}); aborted loudly — re-run")
    val updated = ShardSink.foldDeletes(path, gen, pinned.entries)(
      e => allDel.getOrElse(e.file, Set.empty))
    // CHANGE RECORD, only when the table opted into CDF AND updates rode
    // this commit: a pure delete/insert delta derives exactly from the
    // manifest diff (vector growth / new part-u files — zero write
    // amplification), but updates need their pre/post PAIRING recorded,
    // and once a sidecar exists it is the version's complete record — so
    // it also carries the commit's plain deletes (preimages resolved
    // from the retained originals) and the appended rows that were NOT
    // update postimages, as inserts. Without CDF an update-carrying
    // commit stays derivation-only and the feed later shows it as
    // delete+insert — complete, just unpaired (Delta does the same).
    val cdc = if (!cdf || allUpd.isEmpty) None else {
      val recs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val lineCache = scala.collection.mutable.Map.empty[String, IndexedSeq[String]]
      def lineAt(f: String, pos: Long): String =
        lineCache.getOrElseUpdate(f, SinkFs.readLines(new Path(path, f)).toIndexedSeq)(pos.toInt)
      msgs.foreach(_.deletes.foreach { case (f, ps) =>
        ps.foreach(p => recs += (("delete", lineAt(f, p))))
      })
      val postCount = scala.collection.mutable.Map.empty[String, Int]
      allUpd.foreach { case (f, us) =>
        us.foreach { case (pos, post) =>
          recs += (("update_preimage", lineAt(f, pos)))
          recs += (("update_postimage", post))
          postCount(post) = postCount.getOrElse(post, 0) + 1
        }
      }
      inserts.foreach(e => SinkFs.readLines(new Path(path, e.file)).foreach { l =>
        val n = postCount.getOrElse(l, 0)
        if (n > 0) postCount(l) = n - 1 else recs += (("insert", l))
      })
      ShardSink.writeCdcSidecar(path, s"u$gen", recs.toSeq)
    }
    ShardSink.commit(path, pinned, "delta", ShardSink.retryTag(s"u$gen"), ShardSink.Aborts,
      ShardSink.Pins(Some(pinnedCks)), cdc = cdc)(_ => updated ++ inserts)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ShardSink.abortTaskFiles(messages)
}

case class ShardSinkDeltaWriterFactory(
    path: String, queryId: String,
    fileIdx: Int, posIdx: Int, colIdx: Array[Int], table: StructType,
    cdf: Boolean = false, constraints: Seq[(String, String)] = Nil)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new ShardSinkDeltaWriter(path, queryId, partitionId, taskId,
      fileIdx, posIdx, colIdx, table, cdf, constraints)
}

/** Accumulates this task's deltas: deleted (file → physical positions)
  * in memory — vectors are tiny relative to data — and inserted rows
  * streamed to the same attempt-unique temp file the batch writer uses.
  */
class ShardSinkDeltaWriter(
    path: String, queryId: String, partitionId: Int, taskId: Long,
    fileIdx: Int, posIdx: Int, colIdx: Array[Int], table: StructType,
    cdf: Boolean = false, constraints: Seq[(String, String)] = Nil)
  extends DeltaWriter[InternalRow] {
  // UPDATE postimages and MERGE inserts both land through writeLine:
  // one enforcement point covers every row this delta can introduce
  private lazy val checkRow = SinkConstraint.enforcer(constraints, table)
  private val deletes =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private val tmp =
    new org.apache.hadoop.fs.Path(path, s"_tmp/delta-$queryId-p$partitionId-a$taskId.tsv")
  private val out = new DataFileOut(tmp, table)

  private val updates = scala.collection.mutable
    .Map.empty[String, scala.collection.mutable.ArrayBuffer[(Long, String)]]

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
      scala.collection.mutable.ArrayBuffer.empty) += id.getLong(posIdx)

  /** An UPDATE is physically a positional delete of the old row plus an
    * append of the new one — and when the table opted into CDF, the
    * PAIRING is recorded too, so the change feed can emit exact
    * `update_preimage`/`update_postimage` events (Delta CDF's update
    * shape) instead of delete+insert. Without CDF nothing is buffered:
    * the position folds into the vector like any delete.
    */
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    val line = writeLine(row)
    if (cdf)
      updates.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
        scala.collection.mutable.ArrayBuffer.empty) += ((id.getLong(posIdx), line))
    else
      deletes.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
        scala.collection.mutable.ArrayBuffer.empty) += id.getLong(posIdx)
  }

  override def insert(row: InternalRow): Unit = { writeLine(row); () }

  private def writeLine(row: InternalRow): String = {
    checkRow(row, colIdx)
    val line = ShardSink.serializeRow(row, colIdx, table)
    out.write(row.getLong(colIdx(0)), row.getInt(colIdx(1)), line)
    line
  }

  override def commit(): WriterCommitMessage =
    ShardSinkDeltaCommit(
      deletes.map { case (f, ps) => f -> ps.toSeq }.toMap,
      updates.map { case (f, us) => f -> us.toSeq }.toMap,
      tmp.toString, out.close())

  override def abort(): Unit = out.abort()

  override def close(): Unit = ()
}
