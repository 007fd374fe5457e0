package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsReportStatistics}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A concurrent maintenance op (refresh + vacuum, rebucket + vacuum)
  * removed a state segment between a reader's PLAN and its EXECUTION —
  * the registration contract's documented race, now a NAMED error
  * instead of a raw FileNotFoundException out of a task (round 19).
  */
final case class MvStateSweptException(mvDir: String, file: String)
  extends RuntimeException(
    s"MV state segment '$file' at $mvDir was vacuumed between plan and " +
      "execution — re-run the query (it will re-resolve the current state " +
      "or fall back to the base scan); run MV maintenance with the table " +
      "unregistered or with retention covering in-flight queries")

/** The MV state-segment reader ([[SinkMvDist]]'s `stateDf`): one task per
  * segment file (the bucketed layout's natural parallelism), emitting raw
  * TSV lines as a single `value` column — the caller parses cells, like
  * the previous `spark.read.text` path. The difference is the FAILURE
  * surface (round 19): the file set is pinned at PLAN time (exactly the
  * header's refs), and a file missing at EXECUTION throws the named
  * [[MvStateSweptException]] instead of Spark's generic
  * missing-file error — the spliced rewrite plan and the refresh fold
  * both read state through this, so the documented vacuum race always
  * fails with its own name and remedy.
  */
class MvStateSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MvStateSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MvStateTable(
      properties.get("mvDir"),
      Option(properties.get("files")).map(_.split(",", -1).toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty))
}

object MvStateSource {
  val schema: StructType = new StructType().add("value", StringType, nullable = false)
}

case class MvStateFilePartition(mvDir: String, file: String) extends InputPartition

class MvStateTable(mvDir: String, files: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"mv_state($mvDir, ${files.length} segments)"
  override def schema(): StructType = MvStateSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch with SupportsReportStatistics {
      override def readSchema(): StructType = MvStateSource.schema
      override def description(): String = s"MvStateScan[$mvDir, n=${files.length}]"
      override def toBatch: Batch = this
      // the segments' bytes from one listing, so a small MV is sized as
      // one (a broadcast side, a one-task read under
      // graft.plans.OnePartition) instead of spark.sql.defaultSizeInBytes;
      // a segment already swept counts 0 and fails by name at execution
      private lazy val bytes = {
        val sizes = SinkFs.fileSizes(new Path(mvDir))
        files.map(f => sizes.getOrElse(f, 0L)).sum
      }
      override def estimateStatistics(): Statistics =
        new Statistics {
          override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
          override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
        }
      override def planInputPartitions(): Array[InputPartition] =
        files.map(f => MvStateFilePartition(mvDir, f): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => {
          val p = partition.asInstanceOf[MvStateFilePartition]
          // stream the segment line by line instead of materializing it:
          // per-task memory stays one line regardless of segment size, so
          // a mis-bucketed MV degrades to slow, not to a task OOM
          // (round-19 ADVICE/verdict residual; guide §5)
          val path = new Path(p.mvDir, p.file)
          val reader =
            try new java.io.BufferedReader(new java.io.InputStreamReader(
              SinkFs.open(path), "UTF-8"))
            catch {
              case _: java.io.FileNotFoundException =>
                throw MvStateSweptException(p.mvDir, p.file)
            }
          new PartitionReader[InternalRow] {
            private var line: String = null
            override def next(): Boolean = {
              line = reader.readLine()
              while (line != null && line.isEmpty) line = reader.readLine()
              line != null
            }
            override def get(): InternalRow = {
              val r = new GenericInternalRow(1)
              r.update(0, UTF8String.fromString(line))
              r
            }
            override def close(): Unit = reader.close()
          }
        }
    }
}
