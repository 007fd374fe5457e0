package graft.model

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver testdata (TESTDATA.md / FIXTURES.md §B).
  *
  * All queries read through here so the scan layer stays in one place:
  * `spark.read.parquet` gives us the vectorized reader, column pruning and
  * predicate pushdown for free — at 100 TB the same call pattern works over a
  * partitioned table root (Spark splits files into `maxPartitionBytes` tasks).
  *
  * Schema resolution. Inferring a parquet schema starts a Spark job that
  * reads the footers (79–98 ms on a warm 4-core JVM, against 7–11 ms for
  * the same read with the schema given), and every DataFrame a query builds
  * would pay it once per table. [[schemaOf]] resolves each path's schema
  * once per (session, path, file stamp, `spark.sql.legacy.parquet
  * .nanosAsLong`) and [[readParquet]] reads with `spark.read.schema(s)`.
  * The stamp is the path's data files with their lengths and modification
  * times, taken on every read: a rewritten file has a new stamp and is
  * inferred again. This is catalog metadata, not a result cache — every read
  * still lists and scans its files. Sessions key the map weakly, because
  * session confs (timestamp inference, binary-as-string) shape the schema.
  *
  * Planner strategy. The first read in a session also installs
  * [[graft.plans.OnePartition]] on the session's extra strategies
  * (idempotent, the install-on-use pattern of `AsOfJoinPlan`), so the
  * queries built over these tables sort and aggregate broadcast-sized
  * reads in one task instead of shuffling them.
  */
object Tables {
  private final case class SchemaKey(
      path: String, stamp: Seq[(String, Long, Long)], nanosAsLong: String)

  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, StructType]]()

  private val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** (file, length, modification time) of every data file under `path`:
    * the file itself, or a directory's non-hidden leaf files (Spark skips
    * names starting with `_` or `.`). Empty when nothing is there.
    */
  private def stampOf(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified, so the prefix strip below leaves only names under `path`
    val p = fs.makeQualified(new Path(path))
    if (!fs.exists(p)) Nil
    else {
      val files = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(p.toUri.getPath)
        if (!rel.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
          out += ((rel, f.getLen, f.getModificationTime))
      }
      out.result().sortBy(_._1)
    }
  }

  /** The parquet schema at `path`, inferred once per file stamp (see the
    * object doc). A missing or empty path is not pinned: inference runs and
    * raises Spark's own error for it.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val stamp = stampOf(spark, path)
    if (stamp.isEmpty) spark.read.parquet(path).schema
    else {
      val bySession = schemas.synchronized {
        schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[SchemaKey, StructType]())
      }
      val key = SchemaKey(path, stamp, spark.conf.get(NanosAsLongConf, "false"))
      bySession.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    }
  }

  /** A parquet read over the resolved schema; installs the session's
    * planner strategy on first use.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    graft.plans.OnePartition.install(spark)
    spark.read.schema(schemaOf(spark, path)).parquet(path)
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

  /** Register every testdata table as a temp view — the one-call catalog
    * for `spark.sql` sessions.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    AllTables.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))
}
