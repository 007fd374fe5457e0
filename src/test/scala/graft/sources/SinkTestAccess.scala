package graft.sources

/** Test-only bridge into the `private[sources]` commit protocol so the
  * concurrency specs (in package `graft`) can interleave commits
  * DETERMINISTICALLY: pin a base, let an interloper commit, then attempt
  * the stale flip — the exact TOCTOU shape the optimistic protocol must
  * catch, impossible to schedule reliably with threads alone.
  */
object SinkTestAccess {
  def resolveBase(dir: String): (Long, Seq[SinkEntry]) = {
    val b = ShardSink.resolveBase(dir)
    (b.v, b.entries)
  }

  /** A flip onto `version`, built on whatever `version - 1` holds. */
  private def baseAt(dir: String, version: Long): ShardSink.Base =
    ShardSink.Base(version, ShardSink.manifestAt(dir, version), Nil)

  def writeManifestAt(dir: String, files: Seq[SinkEntry], tag: String, version: Long): Unit =
    ShardSink.writeManifestAt(dir, files, tag, baseAt(dir, version - 1), None, None, None, None,
      None)

  /** A read-modify-write commit of `files` pinned at `baseVersion`. */
  def flipFromBase(dir: String, baseVersion: Long, files: Seq[SinkEntry], tag: String): Unit =
    ShardSink.commit(dir, baseAt(dir, baseVersion), "write", ShardSink.retryTag(tag),
      ShardSink.Aborts)(_ => files)

  /** A plain append of the 3-column table, as `ShardSinkTable.newWriteBuilder`
    * builds it.
    */
  def plainWrite(dir: String, queryId: String): ShardSinkWrite =
    new ShardSinkWrite(dir, queryId, truncate = false, DocGen.schema, replaceFilters = None,
      cdf = false, colMap = null, evolveTo = None,
      basisSchema = ShardSink.schemaString(DocGen.schema), autoCompact = None)

  def isConflict(t: Throwable): Boolean = t.isInstanceOf[ShardSink.ShardSinkConflict]

  def widenColumn(dir: String, name: String, to: org.apache.spark.sql.types.DataType): Unit =
    ShardSink.widenColumn(dir, name, to)

  def addColumn(dir: String, name: String, dt: org.apache.spark.sql.types.DataType): Unit =
    ShardSink.addColumn(dir, name, dt)

  def createFile(dir: String, name: String): java.io.BufferedWriter =
    SinkFs.create(new org.apache.hadoop.fs.Path(dir, name))

  def createTag(dir: String, name: String, version: Long): Unit =
    ShardSink.createTag(dir, name, version)

  def addConstraint(dir: String, name: String, pred: String): Unit =
    ShardSink.addConstraint(dir, name, pred)

  /** The state frame the MV rewrite answers from. */
  def mvState(spark: org.apache.spark.sql.SparkSession, mvDir: String): org.apache.spark.sql.DataFrame =
    SinkMvDist.slotState(spark, mvDir).state

  def segmentRefs(dir: String, version: Long): Seq[String] =
    ShardSink.segmentRefsAt(dir, version).map(_.name)

  def segmentRefsFull(dir: String, version: Long): Seq[(String, Int, Int, Int, Long, Long)] =
    ShardSink.segmentRefsAt(dir, version)
      .map(r => (r.name, r.n, r.shardMin, r.shardMax, r.docMin, r.docMax))

  def segmentReadCount: Long = ShardSink.segmentReadCount.get()

  def clearSegmentCache(): Unit = ShardSink.clearSegmentCacheForTest()

  def cloneShallow(src: String, dst: String, version: Option[Long] = None): Unit =
    ShardSink.cloneShallow(src, dst, version)

  def morDelete(dir: String, docId: Long): Unit =
    ShardSink.morDeleteImpl(dir,
      Array(org.apache.spark.sql.sources.EqualTo("doc_id", docId)))

  /** One-shot interleave: `f` runs inside the next commit, after it
    * pinned its base and derived its content, before its first flip.
    */
  def onNextFlip(f: () => Unit): Unit = ShardSink.beforeFlip.set(f)

  /** [[onNextFlip]], under the names the compaction and DML re-base
    * specs use.
    */
  def onNextCompactPublish(f: () => Unit): Unit = onNextFlip(f)
  def onNextDmlFlip(f: () => Unit): Unit = onNextFlip(f)

  def cowDelete(dir: String, filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    ShardSink.deleteWhereImpl(dir, filters)

  def morDeleteWhere(dir: String, filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    ShardSink.morDeleteImpl(dir, filters)

  def manifestListCount: Long = ShardSink.manifestListCount.get()

  def exactDoc(f: org.apache.spark.sql.sources.Filter): Boolean =
    ShardSink.exactDocInterval(f)

  def docInterval(f: org.apache.spark.sql.sources.Filter): Option[(Long, Long)] =
    ShardSink.oneDocInterval(f)

  def rowPredicate(fs: Array[org.apache.spark.sql.sources.Filter])
      : Option[(Long, Int) => Boolean] = ShardSink.deletePredicate(fs)

  /** One-shot interleave for the MV concurrency spec: `f` runs inside the
    * next refresh, after its fold is derived but before the state flip.
    */
  def onNextMvdFlip(f: () => Unit): Unit = SinkMvDist.refreshBarrier.set(f)

  /** Direct drive of the distributed MV's per-task segment writer, so the
    * concurrency spec can interleave two attempts of ONE partition.
    */
  def writeSegmentPartition(
      mvDir: String, version: Long, nonce: String, pid: Int, attempt: Long,
      rows: Iterator[(Int, String)]): Seq[(Int, String)] =
    SinkMvDist.writeSegmentPartition(mvDir, version, nonce, pid, attempt, rows).toList

  def deleteRecursively(f: java.io.File): Unit = SinkFs.deleteRecursively(f)

  /** Version-pinned table read, for spec-side parity recomputes. */
  def srcAt(spark: org.apache.spark.sql.SparkSession, dir: String, v: Long)
      : org.apache.spark.sql.DataFrame = SinkMatView.srcAt(spark, dir, v)
}
