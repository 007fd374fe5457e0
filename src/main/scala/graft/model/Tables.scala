package graft.model

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver testdata (TESTDATA.md / FIXTURES.md §B).
  *
  * All queries read through here so the scan layer stays in one place:
  * Spark's parquet relation gives us the vectorized reader, column pruning
  * and predicate pushdown for free — at 100 TB the same call pattern works
  * over a partitioned table root (Spark splits files into
  * `maxPartitionBytes` tasks).
  *
  * Relation resolution. Resolving a parquet path — inferring its schema
  * from the footers (a Spark job, 79–98 ms on a warm 4-core JVM), then
  * resolving the data source and listing its files into a new file index
  * — is fixed cost that small warm queries would pay per table on every
  * DataFrame they build: 28 ms a read even with the schema known, against
  * about 1 ms for a DataFrame over an already-resolved relation.
  * [[readParquet]] resolves each path once per (session, path, file stamp,
  * `spark.sql.legacy.parquet.nanosAsLong`) and builds each DataFrame over
  * that relation; [[schemaOf]] reads the schema from the same entry. The
  * stamp is the path's data files with their lengths and modification
  * times, taken on every read with `listStatus`, which looks up no file
  * permissions (`listFiles` does, and on a local file system without
  * native Hadoop each lookup forks a shell). A rewritten file has a new
  * stamp, and its entry is resolved again in place. This is catalog
  * metadata, not a result cache — every read still checks the stamp and
  * scans its files. Sessions key the map weakly, because session confs
  * (timestamp inference, binary-as-string) shape the schema and a relation
  * belongs to its session.
  *
  * Planner strategy. The first read in a session also installs
  * [[graft.plans.OnePartition]] on the session's extra strategies
  * (idempotent, the install-on-use pattern of `AsOfJoinPlan`), so the
  * queries built over these tables join, aggregate, window and sort
  * broadcast-sized inputs in one task instead of shuffling them.
  */
object Tables {
  private type Stamp = Seq[(String, Long, Long)]

  /** A path's resolution at one stamp. The relation holds its session,
    * which keys [[resolved]] weakly, so it is held softly: a collected
    * relation is rebuilt from the kept schema, without inference.
    */
  private final case class Resolved(
      stamp: Stamp, schema: StructType, relation: SoftReference[HadoopFsRelation])

  private val resolved =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), Resolved]]()

  private val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** (file, length, modification time) of every data file under `path`:
    * the file itself, or a directory's non-hidden leaf files (Spark skips
    * names starting with `_` or `.`). Empty when nothing is there.
    */
  private def stampOf(spark: SparkSession, path: String): Stamp = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(st: FileStatus, rel: String): Stamp =
      if (!st.isDirectory) Seq((rel, st.getLen, st.getModificationTime))
      else fs.listStatus(st.getPath).toSeq.flatMap { c =>
        val name = c.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil else leaves(c, s"$rel/$name")
      }
    val p = new Path(path)
    if (!fs.exists(p)) Nil else leaves(fs.getFileStatus(p), "").sortBy(_._1)
  }

  /** The parquet relation Spark resolves for `path`, over `schema` when
    * one is given.
    */
  private def relationOf(
      spark: SparkSession, path: String, schema: Option[StructType]): HadoopFsRelation = {
    val read = schema.fold(spark.read)(spark.read.schema).parquet(path)
    read.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get
  }

  /** The schema and relation of `path` at its current stamp (see the object
    * doc); `None` for a missing or empty path, which is not pinned.
    */
  private def resolve(spark: SparkSession, path: String): Option[(StructType, HadoopFsRelation)] = {
    val stamp = stampOf(spark, path)
    if (stamp.isEmpty) None
    else {
      val bySession = resolved.synchronized {
        resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap[(String, String), Resolved]())
      }
      var relation: HadoopFsRelation = null
      val entry = bySession.compute((path, spark.conf.get(NanosAsLongConf, "false")), (_, old) => {
        val kept = Option(old).filter(_.stamp == stamp)
        relation = kept.map(_.relation.get).orNull
        if (relation != null) old
        else {
          relation = relationOf(spark, path, kept.map(_.schema))
          Resolved(stamp, kept.fold(relation.schema)(_.schema), new SoftReference(relation))
        }
      })
      Some((entry.schema, relation))
    }
  }

  /** The parquet schema at `path`, inferred once per file stamp (see the
    * object doc). A missing or empty path raises Spark's own error.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    resolve(spark, path).fold(spark.read.parquet(path).schema)(_._1)

  /** A parquet read over the path's resolved relation, with fresh attribute
    * ids, so two reads of one table self-join; installs the session's
    * planner strategy on first use.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    graft.plans.OnePartition.install(spark)
    resolve(spark, path).fold(spark.read.parquet(path)) { case (_, rel) =>
      spark.baseRelationToDataFrame(rel)
    }
  }

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "lineitem")
  /** The events table's `ts` column has been written three different ways
    * across testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — readable only as raw longs via the legacy conf),
    * microsecond TIMESTAMP_NTZ (isAdjustedToUTC=false), and plain TIMESTAMP.
    * The reader adapts on the actual file schema instead of assuming one
    * encoding, so a testdata regeneration can't break every events query:
    *   - LongType (nanos legacy conf active) → rebuild a µs timestamp with
    *     integer arithmetic (`DIV`, not `/` — double division loses precision
    *     above 2^53 ns; the testdata carries no sub-µs precision).
    *   - TimestampNTZType → cast to session-TZ TimestampType. The session TZ
    *     is pinned UTC everywhere (Bench/Verify/specs), so the instant is
    *     unchanged and matches the LTZ values the oracle hashes.
    *   - TimestampType → pass through.
    * ONE definition shared by batch and streaming reads
    * (EventStreaming.parquetEventStream) so the two plans cannot diverge.
    */
  val NanosTsToMicrosExpr = "timestamp_micros(ts DIV 1000)"

  def readEventsAsNanoLongs(spark: SparkSession): Unit =
    spark.conf.set(NanosAsLongConf, "true")

  /** Contract schema for a not-yet-populated events landing zone (stream
    * startup before the first file arrives — inference has nothing to
    * read, so ONE encoding must be assumed). `ts TIMESTAMP_NTZ` matches
    * what the current generator writes (µs, isAdjustedToUTC=false);
    * [[adaptEventTs]] normalizes it exactly as it would an inferred
    * schema. A landing zone fed in a different historical encoding
    * (TIMESTAMP(NANOS) / plain TIMESTAMP) passes an explicit schema to
    * `parquetEventStream` instead — a parquet INT64 column cannot be read
    * under a mismatched logical type, so no single fallback can cover all
    * three.
    */
  val eventStreamDdl: String =
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  def adaptEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr(NanosTsToMicrosExpr))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected BIGINT (nanos), TIMESTAMP_NTZ or TIMESTAMP")
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    readEventsAsNanoLongs(spark)
    adaptEventTs(read(spark, sfDir, "events"))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** One testdata table by name, events through its nanos-safe reader. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else read(spark, sfDir, name)
}
