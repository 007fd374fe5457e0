package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsReportStatistics}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES over a shard-sink landing zone: the
  * manifest state, SQL-queryable through the catalog's extra identifier
  * level — `SELECT * FROM <cat>.<table>.files` (also `history`, `tags`,
  * `constraints`), exactly Iceberg's `db.table.files` spelling. A
  * landing-zone operator audits layout health (file sizes after
  * compaction, delete-vector presence, cloned-in foreign files), the
  * commit trail, and the governance state (tags, CHECK constraints)
  * with plain SQL — no API, no driver code.
  *
  * Everything is manifest-derived. history/tags/constraints are
  * control-plane cardinality even at 100 TB and materialize at plan
  * time; `files` — one row per DATA file, which IS table-scale at
  * million-file counts — plans one InputPartition per manifest segment
  * and parses entries on the EXECUTORS (round 16, the way Iceberg
  * serves `db.table.files`), falling back to the plan-time shape only
  * for single-blob manifests where the census is small by construction.
  */
object ShardSinkMetaTable {
  val Kinds: Set[String] =
    Set("files", "history", "tags", "constraints", "partitions", "mvs")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("shard_min", IntegerType, nullable = true),
      StructField("shard_max", IntegerType, nullable = true),
      StructField("doc_min", LongType, nullable = true),
      StructField("doc_max", LongType, nullable = true),
      StructField("has_deletes", BooleanType, nullable = false),
      StructField("foreign", BooleanType, nullable = false)))
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("rows_added", LongType, nullable = false),
      StructField("ts_millis", LongType, nullable = true)))
    case "tags" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case "constraints" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("predicate", StringType, nullable = false)))
    // the MV census (round 19, [[SinkMvDdl]]): one row per
    // DDL-conventional materialized view of the table — definition,
    // watermark vs the table's current version, state-segment stats.
    // Control-plane cardinality (a table carries a handful of MVs);
    // resolves at plan time like history/tags.
    case "mvs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("group_cols", StringType, nullable = false),
      StructField("predicate", StringType, nullable = false),
      StructField("aggs", StringType, nullable = false),
      StructField("buckets", LongType, nullable = false),
      StructField("src_version", LongType, nullable = false),
      StructField("mv_version", LongType, nullable = false),
      StructField("n_segments", LongType, nullable = false),
      StructField("state_bytes", LongType, nullable = false),
      StructField("watermark_current", BooleanType, nullable = false),
      // registration is in-memory: a persisted MV shows false after a
      // JVM restart until 'graft.mv.attach' re-wires it
      StructField("registered", BooleanType, nullable = false)))
    // Iceberg's `db.table.partitions` analogue over the shard layout:
    // one row per shard of PURE files (the clustered/compacted state),
    // plus ONE NULL-shard row rolling up files that straddle shards or
    // carry no stats — never silently dropped from the census. The
    // rollup resolves at PLAN time (≤ shards+1 rows out, but O(files)
    // driver parse in) — at segmented million-file scale the same
    // answer is one SQL over the DISTRIBUTED files table
    // (`SELECT shard_min, count(*), sum(n_rows) FROM cat.t.files
    //  WHERE shard_min = shard_max GROUP BY shard_min`), which is the
    // path a scale-conscious operator should take; this kind exists for
    // the control-plane convenience query
    case "partitions" => StructType(Seq(
      StructField("shard", IntegerType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("doc_min", LongType, nullable = true),
      StructField("doc_max", LongType, nullable = true),
      StructField("has_deletes", BooleanType, nullable = false)))
  }

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  /** One `files` row from a manifest entry — shared by the plan-time
    * (single-blob) and executor-side (per-segment) paths.
    */
  def fileRow(e: SinkEntry): Array[Any] =
    Array[Any](
      u(e.file), e.rows,
      if (e.hasStats) e.shardMin else null,
      if (e.hasStats) e.shardMax else null,
      if (e.hasDocStats) e.docMin else null,
      if (e.hasDocStats) e.docMax else null,
      e.hasDeletes, ShardSink.isForeign(e.file))

  def rowsOf(dir: String, kind: String): Seq[Array[Any]] = kind match {
    case "history" =>
      ShardSink.history(dir).map { case (v, op, rows, added, ts) =>
        Array[Any](v, u(op), rows, added, ts.map(Long.box).orNull)
      }
    case "tags" =>
      ShardSink.listTags(dir).map { case (n, v) => Array[Any](u(n), v) }
    case "constraints" =>
      ShardSink.currentConstraints(dir).map { case (n, p) =>
        Array[Any](u(n), u(p))
      }
    case "mvs" =>
      val cur = ShardSink.currentManifestVersion(dir)
      SinkMvDdl.list(dir).map { i =>
        Array[Any](u(i.name), u(i.groups), u(i.pred), u(i.aggs),
          i.buckets.toLong, i.srcV, i.mvVersion, i.nSegments.toLong,
          i.stateBytes, i.srcV == cur, i.registered)
      }
    case "partitions" =>
      val es = ShardSink.committedEntries(dir)
      val (pure, rest) = es.partition(e => e.hasStats && e.shardMin == e.shardMax)
      def docMin(g: Seq[SinkEntry]): Any = {
        val ds = g.filter(_.hasDocStats)
        if (ds.isEmpty) null else Long.box(ds.map(_.docMin).min)
      }
      def docMax(g: Seq[SinkEntry]): Any = {
        val ds = g.filter(_.hasDocStats)
        if (ds.isEmpty) null else Long.box(ds.map(_.docMax).max)
      }
      val perShard = pure.groupBy(_.shardMin).toSeq.sortBy(_._1).map { case (sh, g) =>
        Array[Any](sh, g.size.toLong, g.map(_.rows).sum, docMin(g), docMax(g),
          g.exists(_.hasDeletes))
      }
      val strag =
        if (rest.isEmpty) Seq.empty
        else Seq(Array[Any](null, rest.size.toLong, rest.map(_.rows).sum,
          docMin(rest), docMax(rest), rest.exists(_.hasDeletes)))
      perShard ++ strag
  }
}

case class ShardSinkMetaRows(rows: Seq[Array[Any]]) extends InputPartition

/** One manifest SEGMENT of the `files` metadata table — read on the
  * EXECUTOR (round 16): at the million-file counts the two-level
  * manifests target, `cat.t.files` is itself a real distributed scan
  * (one task per segment, the way Iceberg serves its metadata tables),
  * not a driver materialization. Segments are immutable once referenced,
  * so the snapshot the driver planned is exactly what each task reads.
  */
case class ShardSinkMetaSegment(dir: String, segment: String) extends InputPartition

class ShardSinkMetaTable(dir: String, kind: String) extends Table with SupportsRead {
  override def name(): String = s"shardsink_meta($dir, $kind)"
  override def schema(): StructType = ShardSinkMetaTable.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch with SupportsReportStatistics {
      override def readSchema(): StructType = ShardSinkMetaTable.schemaOf(kind)
      override def description(): String = s"ShardSinkMetaScan[$dir, $kind]"
      override def toBatch: Batch = this
      /** `files` over a SEGMENTED manifest: one partition per segment,
        * entries parsed executor-side. Everything else (single-blob
        * `files`, history/tags/constraints — control-plane cardinality
        * by construction) materializes at PLAN time. Resolved once per
        * scan, so the partitions and the statistics describe one
        * snapshot, consistent under concurrent commits.
        */
      private lazy val (parts: Array[InputPartition], rows: Long) =
        if (kind == "files") {
          val m = ShardSink.manifestAt(dir, ShardSink.currentManifestVersion(dir))
          m.flatMap(_.segs) match {
            case Some(segs) =>
              (segs.map(r => ShardSinkMetaSegment(dir, r.name): InputPartition).toArray,
                segs.map(_.n.toLong).sum)
            case None =>
              val fs = m.map(_.files).getOrElse(Nil)
              (Array[InputPartition](ShardSinkMetaRows(fs.map(ShardSinkMetaTable.fileRow))),
                fs.size.toLong)
          }
        } else {
          val rs = ShardSinkMetaTable.rowsOf(dir, kind)
          (Array[InputPartition](ShardSinkMetaRows(rs)), rs.size.toLong)
        }
      override def planInputPartitions(): Array[InputPartition] = parts

      /** The row count (a segment's from its manifest ref) times the
        * schema's default row size, so a small metadata table is sized as
        * one (a broadcast side, a one-task read under
        * [[graft.plans.OnePartition]]) instead of
        * `spark.sql.defaultSizeInBytes`.
        */
      override def estimateStatistics(): Statistics = new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(rows * readSchema().defaultSize)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => {
          val rs: Seq[Array[Any]] = partition match {
            case ShardSinkMetaRows(rows) => rows
            case ShardSinkMetaSegment(d, seg) =>
              ShardSink.readSegmentEntries(d, seg).map(ShardSinkMetaTable.fileRow)
          }
          new PartitionReader[InternalRow] {
            private var i = -1
            override def next(): Boolean = { i += 1; i < rs.size }
            override def get(): InternalRow = {
              val vs = rs(i)
              val row = new GenericInternalRow(vs.length)
              var c = 0
              while (c < vs.length) { row.update(c, vs(c)); c += 1 }
              row
            }
            override def close(): Unit = ()
          }
        }
    }
}
