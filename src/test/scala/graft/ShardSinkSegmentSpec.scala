package graft

import graft.sources.{ShardSink, SinkTestAccess}
import org.apache.spark.sql.functions._

/** Round-15 hardening of the TWO-LEVEL manifest layout (r14 verdict #1–3):
  * crash-safety under fault injection at every segment-path write point,
  * vacuum of orphaned segment files, conflict-loser litter cleanup, and
  * envelope-based whole-segment pruning.
  */
class ShardSinkSegmentSpec extends SparkSpec {

  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("shardsink_seg").toFile
    d.deleteOnExit()
    d
  }

  // AQE coalescing would land each append as ONE file (≤ target → inline
  // manifest); disable it so appends produce several entries and
  // segmentation has something to segment
  private lazy val s = {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    ns
  }

  private def append(dir: String, lo: Long, hi: Long, n: Int = 400): Unit =
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", n.toString).option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()

  private def readBack(dir: String) =
    spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()

  private def segFilesOnDisk(local: String): Seq[String] =
    new java.io.File(local).listFiles().map(_.getName).toSeq
      .filter(_.startsWith("_manifest.seg-"))

  test("segment crash safety: list-flip crash AFTER segments written — previous version intact, orphans vacuumed") {
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 300L) // v1, segmented
      assert(readBack(dir).count() === 300L)
      val v1Segs = SinkTestAccess.segmentRefs(dir, 1L)
      assert(v1Segs.nonEmpty, "v1 did not segment")
      // the crash point the r14 verdict called out: fresh segments land,
      // the list flip to v2 dies
      FaultFs.failRenameTo.set("_manifest.v2.json")
      try intercept[Exception](append(dir, 300L, 400L))
      finally FaultFs.failRenameTo.set(null)
      // previous version (and all its data) stays exactly visible
      assert(readBack(dir).count() === 300L)
      assert(ShardSink.currentManifestVersion(dir) === 1L)
      // the failed attempt's fresh segments are on-disk litter, invisible
      val orphans = segFilesOnDisk(local).filterNot(v1Segs.contains)
      assert(orphans.nonEmpty, "expected orphaned segment files from the crashed flip")
      // vacuum's segment rule: unreferenced _manifest.seg-* files sweep
      // (with the same age guard as data files; 0 = offline/test)
      val swept = ShardSink.vacuum(dir, olderThanMillis = 0L)
      assert(orphans.forall(swept.contains), s"orphans $orphans not in swept $swept")
      assert(segFilesOnDisk(local).toSet === v1Segs.toSet,
        "vacuum must sweep exactly the unreferenced segments")
      assert(readBack(dir).count() === 300L)
      // a clean retry commits v2 and reuses every v1 segment
      append(dir, 300L, 400L)
      assert(readBack(dir).count() === 400L)
      val v2Segs = SinkTestAccess.segmentRefs(dir, 2L)
      assert(v1Segs.forall(v2Segs.contains))
    } finally ShardSink.setSegmentTarget(512)
  }

  test("segment crash safety: crash MID-segment-write (create) and at the segment rename — commit aborts, table intact") {
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 300L) // v1
      val v1Segs = SinkTestAccess.segmentRefs(dir, 1L)
      // crash 1: the segment BODY write dies (create of the .tmp)
      FaultFs.failCreateContaining.set("_manifest.seg-")
      try intercept[Exception](append(dir, 300L, 350L))
      finally FaultFs.failCreateContaining.set(null)
      assert(readBack(dir).count() === 300L)
      assert(ShardSink.currentManifestVersion(dir) === 1L)
      // crash 2: the body wrote, the moveFresh ELECTION into the final
      // segment name dies
      FaultFs.failRenameToContaining.set("_manifest.seg-")
      try intercept[Exception](append(dir, 300L, 350L))
      finally FaultFs.failRenameToContaining.set(null)
      assert(readBack(dir).count() === 300L)
      assert(ShardSink.currentManifestVersion(dir) === 1L)
      // both crashes' litter (tmp bodies, orphaned finals) sweeps; the
      // referenced v1 segments survive
      ShardSink.vacuum(dir, olderThanMillis = 0L)
      assert(segFilesOnDisk(local).toSet === v1Segs.toSet)
      // the table still appends normally afterwards
      append(dir, 300L, 400L)
      assert(readBack(dir).count() === 400L)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("conflict loser deletes its own fresh segments (no litter from the retry loop)") {
    val dir = freshDir().getPath
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 200L)   // v1
      append(dir, 200L, 400L) // v2
      val referenced = (1L to 2L).flatMap(SinkTestAccess.segmentRefs(dir, _)).toSet
      // a loser: tries to commit version 2, which already exists — the
      // fresh-name election fails and the handler must remove the fresh
      // segment files this attempt wrote
      val entries = ShardSink.committedEntries(dir)
      intercept[Exception] {
        SinkTestAccess.writeManifestAt(dir, entries, "loser", 2L)
      }
      val onDisk = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("_manifest.seg-")).toSet
      assert(!onDisk.exists(_.contains("loser")),
        s"conflict loser left segment litter: $onDisk")
      assert(referenced.subsetOf(onDisk), "committed segments must survive")
    } finally ShardSink.setSegmentTarget(512)
  }

  test("segment names are attempt-unique and never overwrite: two writers with colliding tags cannot clobber") {
    val dir = freshDir().getPath
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 200L) // v1
      // two commits under the SAME tag (a restarted driver whose
      // per-process counter repeats — compaction/DDL tags are c<gen>,
      // alter<gen>, … from counters that reset per JVM): the per-attempt
      // nonce keeps the fresh segment names disjoint, so the second
      // commit can never clobber a segment the first one's version
      // already references
      val e1 = ShardSink.committedEntries(dir) ++
        Seq(graft.sources.SinkEntry("part-bfake-0.tsv", 1L, 0, 0, "", 999L, 999L))
      SinkTestAccess.writeManifestAt(dir, e1, "dup", 2L)
      val v2Segs = SinkTestAccess.segmentRefs(dir, 2L)
      val v2Bytes = v2Segs.map(n =>
        n -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, n)).toSeq).toMap
      val e2 = e1 ++
        Seq(graft.sources.SinkEntry("part-bfake-1.tsv", 1L, 1, 1, "", 998L, 998L))
      SinkTestAccess.writeManifestAt(dir, e2, "dup", 3L)
      v2Bytes.foreach { case (n, bytes) =>
        assert(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, n)).toSeq === bytes,
          s"committed segment $n was clobbered by a same-tag writer")
      }
      // and v2 still resolves its exact entry set through its own refs
      assert(ShardSink.entriesAtVersion(dir, 2L).toSet === e1.toSet)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("envelope pruning: a pushed shard filter reads ONLY the matching segments") {
    val dir = freshDir().getPath
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 400L)
      // shard-pure chunks of 10 rows: 25 rows per shard → 3 chunks each
      // (10/10/5) → 48 single-entry segments, each with a tight
      // one-shard envelope and a DISJOINT within-shard doc range
      ShardSink.compact(dir, targetRowsPerFile = 10L)
      val v2 = SinkTestAccess.segmentRefsFull(dir, 2L)
      assert(v2.size === 48, s"expected 48 shard-pure segments, got ${v2.size}")
      assert(v2.forall { case (_, _, s0, s1, d0, _) => s0 >= 0 && s0 === s1 && d0 >= 0L },
        s"segment refs must carry tight envelopes: $v2")
      val matching = v2.count { case (_, _, s0, s1, _, _) => s0 <= 3 && 3 <= s1 }
      assert(matching === 3)
      SinkTestAccess.clearSegmentCache()
      val before = SinkTestAccess.segmentReadCount
      val rows = readBack(dir).where(col("shard") === 3).collect()
      val misses = SinkTestAccess.segmentReadCount - before
      assert(rows.length === 25, s"wrong row count ${rows.length}")
      assert(rows.forall(_.getAs[Int]("shard") === 3))
      assert(misses >= 1L && misses < v2.size.toLong,
        s"expected whole-segment skipping, read $misses of ${v2.size} segments")
      assert(misses <= matching.toLong + 1L,
        s"read $misses segments for $matching matching")
      // doc-range pruning through the d0/d1 envelope: shard s's chunks
      // cover docs [s, s+144], [s+160, s+304], [s+320, s+384] — doc_id <
      // 150 intersects only the FIRST chunk of each shard (16 of 48)
      SinkTestAccess.clearSegmentCache()
      val b2 = SinkTestAccess.segmentReadCount
      // collect (not count) to stay on the row scan — the metadata-only
      // COUNT path resolves the full census by design
      val n = readBack(dir).where(col("doc_id") < 150L).collect().length
      assert(n === 150)
      val m2 = SinkTestAccess.segmentReadCount - b2
      assert(m2 >= 1L && m2 <= 17L, s"doc-range pruning read $m2 of 48 segments")
      // and the unpruned read still agrees end to end
      assert(readBack(dir).count() === 400L)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("union-bloom pruning: a point lookup reads only bloom-positive segments") {
    val dir = freshDir().getPath
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 400L)
      // shard-pure 25-row chunks → 16 single-entry segments whose doc
      // RANGES all overlap (stripes [s, s+384]): the envelope cannot
      // prune a point lookup here — only the ref's union bloom can
      ShardSink.compact(dir, targetRowsPerFile = 25L)
      val refs = SinkTestAccess.segmentRefsFull(dir, 2L)
      assert(refs.size === 16)
      val envMatching = refs.count { case (_, _, _, _, d0, d1) => d0 <= 37L && 37L <= d1 }
      assert(envMatching >= 14, s"stripes must overlap doc 37: $envMatching")
      SinkTestAccess.clearSegmentCache()
      val before = SinkTestAccess.segmentReadCount
      val rows = readBack(dir).where(col("doc_id") === 37L).collect()
      val misses = SinkTestAccess.segmentReadCount - before
      assert(rows.length === 1 && rows.head.getAs[Long]("doc_id") === 37L)
      assert(misses >= 1L && misses <= 3L,
        s"union blooms must skip envelope-positive segments: read $misses of 16")
      // an id the table never held: zero rows, and (fp aside) zero reads
      SinkTestAccess.clearSegmentCache()
      val b2 = SinkTestAccess.segmentReadCount
      assert(readBack(dir).where(col("doc_id") === 4040L).collect().isEmpty)
      assert(SinkTestAccess.segmentReadCount - b2 <= 1L)
      // the unpruned read still sees everything
      assert(readBack(dir).count() === 400L)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("the files metadata table is a DISTRIBUTED scan: one partition per manifest segment") {
    val local = freshDir().getPath
    ShardSink.setSegmentTarget(1)
    try {
      val ms = spark.newSession()
      ms.conf.set("spark.sql.adaptive.enabled", "false")
      ms.conf.set("spark.sql.catalog.segmeta", classOf[graft.sources.ShardSinkCatalog].getName)
      ms.conf.set("spark.sql.catalog.segmeta.root", local)
      def app(lo: Long, hi: Long): Unit =
        ms.read.format("graft.sources.DocGenSource")
          .option("numDocs", "400").option("numPartitions", "2").load()
          .where(col("doc_id") >= lo && col("doc_id") < hi)
          .writeTo("segmeta.docs").append()
      app(0L, 150L); app(150L, 300L); app(300L, 400L)
      val dir = new java.io.File(local, "docs").getPath
      val segs = SinkTestAccess.segmentRefs(dir, ShardSink.currentManifestVersion(dir))
      assert(segs.size >= 3, s"expected a segmented manifest, got $segs")
      val files = ms.sql("SELECT * FROM segmeta.docs.files")
      // one task per segment — the metadata table scales with the
      // manifest store, not with the driver
      assert(files.rdd.getNumPartitions === segs.size,
        s"files scan planned ${files.rdd.getNumPartitions} partitions for ${segs.size} segments")
      // and the distributed rows equal the driver-resolved census
      val got = files.select("file", "n_rows").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val want = SinkTestAccess.resolveBase(dir)._2.map(e => (e.file, e.rows)).toSet
      assert(got === want)
      // a single-blob table keeps the plan-time shape (one partition)
      ShardSink.setSegmentTarget(512)
      ms.read.format("graft.sources.DocGenSource")
        .option("numDocs", "50").option("numPartitions", "1").load()
        .writeTo("segmeta.blob").append()
      val blobFiles = ms.sql("SELECT * FROM segmeta.blob.files")
      assert(blobFiles.rdd.getNumPartitions === 1)
      assert(blobFiles.count() >= 1L)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("a metadata-table scan opens its manifest once and reports its size") {
    import scala.jdk.CollectionConverters._
    for (segTarget <- Seq(512, 1)) {
      val local = freshDir().getPath
      ShardSink.setSegmentTarget(segTarget)
      try {
        val ms = s.newSession()
        ms.conf.set("spark.sql.catalog.ffmeta", classOf[graft.sources.ShardSinkCatalog].getName)
        ms.conf.set("spark.sql.catalog.ffmeta.root", "faultfs://" + local)
        (0L until 300L by 100L).foreach { lo =>
          ms.read.format("graft.sources.DocGenSource")
            .option("numDocs", "300").option("numPartitions", "2").load()
            .where(col("doc_id") >= lo && col("doc_id") < lo + 100L)
            .writeTo("ffmeta.docs").append()
        }
        FaultFs.opens.clear()
        val df = ms.sql("SELECT count(*), sum(n_rows) FROM ffmeta.docs.files")
        val row = df.collect().head
        val opens = FaultFs.opens.asScala.collect {
          case (n, c) if n.startsWith("_manifest.") => n -> c.longValue
        }.toMap
        assert(row.getLong(1) === 300L)
        // the current version once (the partitions and the statistics share
        // it), each segment of a segmented manifest once, and the version
        // hint once for the table load and once for the scan
        assert(opens.keySet.filter(_.startsWith("_manifest.v")) === Set("_manifest.v3.json"))
        assert(opens.get("_manifest.v3.json").contains(1L), s"segTarget $segTarget opened $opens")
        assert(opens.collect { case (n, c) if n.startsWith("_manifest.seg") => c }.forall(_ == 1L),
          s"segTarget $segTarget re-read a segment: $opens")
        assert(opens.getOrElse("_manifest.hint", 0L) <= 2L, s"segTarget $segTarget opened $opens")
        // a few hundred bytes, not spark.sql.defaultSizeInBytes
        val size = df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
        assert(size > 0 && size < 100000, s"segTarget $segTarget sized $size")
      } finally ShardSink.setSegmentTarget(512)
    }
  }

  test("a malformed manifest entry fails the read loudly, inline or in a segment") {
    // a non-numeric row count: the entry regex misses the entry, which
    // must throw instead of silently dropping the file from the read set
    def corrupt(f: java.io.File): Unit = {
      val body = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      java.nio.file.Files.write(
        f.toPath, body.replaceFirst("\"rows\":", "\"rows\":x").getBytes("UTF-8"))
    }
    val inline = freshDir().getPath
    append(inline, 0L, 300L)
    corrupt(new java.io.File(inline, "_manifest.v1.json"))
    val e1 = intercept[IllegalStateException](ShardSink.committedEntries(inline))
    assert(e1.getMessage.contains(s"$inline/_manifest.v1.json"), e1.getMessage)
    ShardSink.setSegmentTarget(1)
    try {
      val seg = freshDir().getPath
      append(seg, 0L, 300L)
      val name = SinkTestAccess.segmentRefs(seg, 1L).head
      corrupt(new java.io.File(seg, name))
      SinkTestAccess.clearSegmentCache()
      val e2 = intercept[IllegalStateException](ShardSink.entriesAsOf(seg, None))
      assert(e2.getMessage.contains(s"$seg/$name"), e2.getMessage)
    } finally ShardSink.setSegmentTarget(512)
  }
}
