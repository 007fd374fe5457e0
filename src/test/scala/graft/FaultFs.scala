package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test-only fault-injecting FileSystem (round-12 VERDICT #7): a local FS
  * under the `faultfs:` scheme (registered via the Hadoop ServiceLoader
  * manifest in test resources) whose `rename` can be made to throw when
  * the destination matches a trigger name — simulating a crash at the
  * ShardSink manifest flip (since round 13 a rename to the next
  * `_manifest.v<N>.json`; the specs pin that the PREVIOUS version — and
  * therefore all committed data — stays visible through the crash).
  *
  * Round 15 adds SEGMENT-path injection: `failRenameToContaining`
  * (substring match, because segment names carry a per-attempt nonce and
  * cannot be predicted exactly) and `failCreateContaining` (crash
  * MID-segment-write, before any rename) — the two-level manifest
  * layout's crash points between "segments written" and "list flipped".
  * Every `open` is counted per file name ([[FaultFs.opens]]).
  */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")

  override def rename(src: Path, dst: Path): Boolean = {
    val trigger = FaultFs.failRenameTo.get()
    if (trigger != null && dst.getName == trigger)
      throw new java.io.IOException(s"FaultFs injected crash: rename $src -> $dst")
    val sub = FaultFs.failRenameToContaining.get()
    if (sub != null && dst.getName.contains(sub))
      throw new java.io.IOException(s"FaultFs injected crash: rename $src -> $dst")
    super.rename(src, dst)
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    FaultFs.opens.merge(f.getName, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
    super.open(f, bufferSize)
  }

  // both concrete create overloads RawLocalFileSystem exposes — the
  // permission-less one is what FileSystem.create(p, overwrite) reaches
  private def checkCreate(f: Path): Unit = {
    val sub = FaultFs.failCreateContaining.get()
    if (sub != null && f.getName.contains(sub))
      throw new java.io.IOException(s"FaultFs injected crash: create $f")
  }

  override def create(
      f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    checkCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(
      f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    checkCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultFs {
  /** When non-null, any rename whose DESTINATION file name equals this
    * value throws (driver and executors share the JVM in local mode).
    */
  val failRenameTo = new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Substring variants, for nonce-carrying segment names. */
  val failRenameToContaining = new java.util.concurrent.atomic.AtomicReference[String](null)
  val failCreateContaining = new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Opens per file name since the last `opens.clear()` — the read-count
    * proof behind the parse-once specs.
    */
  val opens = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
}
