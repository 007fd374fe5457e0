package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session configuration. `Bench`, `Verify`, `Probe` and
  * every other `main` build their session here, so the correctness gate
  * and the tools run the exact engine the bench times.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, the bench's core count (default 4). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[cpus]` builder with every engine setting; callers may add
    * settings before `getOrCreate()`.
    */
  def builder(): SparkSession.Builder = {
    val cpus = GraftSession.cpus
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // pinned session TZ, as in SparkSpec: an NTZ-encoded events.parquet
      // must bench the same instants Verify hashes, regardless of host zone
      .config("spark.sql.session.timeZone", "UTC")
      // session-wide so q_dsv2_shard_rollup's no-exchange shape holds
      // without any query function mutating shared conf mid-suite
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // static conf, default 100: the suite generates thousands of codegen
      // classes (each multi-commit lifecycle alone compiles ~200), so the
      // default LRU evicts everything before reuse and EVERY rep re-runs
      // janino on identical sources (measured: ~200 recompiles per
      // q_dsv2_mv_* rep, 10–30 ms each). Scale-neutral engine tuning —
      // any long-running Spark app with a diverse query mix raises it;
      // memory cost is bounded (generated source + bytecode per entry).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // never take the bypass-merge shuffle writer: it opens one file PER
      // REDUCE PARTITION per map task (32× the files at this shape, on a
      // slow ext4 /tmp — profiled as the single hottest syscall site),
      // where the sort writer opens one. Production reducer counts sit
      // far above the 200-partition bypass threshold anyway, so this also
      // makes local plans exercise the same shuffle machinery a cluster
      // runs.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // local `file:` IO inside SPARK itself (streaming offset/commit logs,
      // state-store deltas, parquet writes, warehouse tables) stops writing
      // Hadoop's `.crc` SIDECAR FILE per file — doubling the file count on
      // a slow ext4 /tmp where FILE COUNT is the profiled binding resource
      // (the round-20/21 job decompositions, OPTIMIZATION_r21.md) to
      // duplicate an integrity check the local disk already provides.
      // graft.util.NoCrcLocalFileSystem IS a LocalFileSystem
      // (FileSystem.getLocal's cast — hit by the RocksDB state store — still
      // holds; the raw class breaks it) with the two checksum switches off;
      // RawLocalFs covers the FileContext API that streaming's checkpoint
      // manager resolves. Our own sink IO (SinkFs) bypassed Hadoop for
      // local paths in round 20; this extends the same posture to the
      // engine's file manager. At 100 TB these paths live on hdfs://s3a://
      // where `fs.file.impl` is never consulted — the checksummed path
      // remains for any real scheme.
      .config("spark.hadoop.fs.file.impl", "graft.util.NoCrcLocalFileSystem")
      .config(
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.ui.enabled", "false")
  }
}
