package graft

import graft.sources.{ShardSink, ShardSinkDataWriter, ShardSinkScan, SinkLifecycles}
import org.apache.spark.sql.functions._

/** Round-11 DSv2 WRITE path: the manifest-commit protocol's transactional
  * guarantees, pinned at the writer/scan level, plus the end-to-end round
  * trip the hash gate checks via `q_dsv2_write_roundtrip`.
  */
class ShardSinkSpec extends SparkSpec {

  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("shardsink_spec").toFile
    d.deleteOnExit()
    d
  }

  private def row(id: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    r.update(0, id)
    r.update(1, (id % 16).toInt)
    r.update(2, org.apache.spark.unsafe.types.UTF8String.fromString(s"body$id"))
    r
  }

  test("round trip: write through the V2 sink, read back identical rows") {
    val dir = freshDir().getPath
    val src = spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "500").option("numPartitions", "3").load()
    src.write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(back.count() === 500L)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // the sink's RequiresDistributionAndOrdering re-clusters the 3 source
    // partitions by shard before the write, so the file count follows the
    // shuffle (and AQE coalescing), not the source split — layout claims
    // are pinned in the dedicated distribution test below
    assert(ShardSink.committedFiles(dir).nonEmpty)
  }

  test("task abort leaves nothing visible; uncommitted job is invisible to readers") {
    val dir = freshDir().getPath
    // task 1 writes and ABORTS: its temp file must vanish
    val w1 = new ShardSinkDataWriter(dir, "q1", 0, 100L)
    w1.write(row(1L)); w1.write(row(2L))
    w1.abort()
    // task 2 writes and task-commits, but the JOB never commits: no
    // manifest → the scan plans zero partitions (reader trusts manifest only)
    val w2 = new ShardSinkDataWriter(dir, "q1", 1, 101L)
    w2.write(row(3L))
    w2.commit()
    assert(new ShardSinkScan(dir).planInputPartitions().isEmpty,
      "reader saw data from an uncommitted job")
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".json")),
      "no manifest of any version may exist for an uncommitted job")
  }

  test("unmanifested files are invisible (crashed concurrent writer, stale parts)") {
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    // a rogue file that never went through commit
    java.nio.file.Files.write(
      new java.io.File(dir, "part-99.tsv").toPath, "9999\t15\trogue\n".getBytes("UTF-8"))
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(back.count() === 100L, "reader picked up an unmanifested file")
    assert(back.where(col("doc_id") === 9999L).isEmpty)
  }

  test("schema contract and body validation fail fast") {
    val dir = freshDir().getPath
    import spark.implicits._
    val bad = Seq((1L, "x")).toDF("doc_id", "body")
    val e = intercept[Exception] {
      bad.write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    }
    // Spark's write analysis rejects the mismatch before our WriteBuilder
    // backstop even runs — either message proves the contract holds
    assert(
      e.getMessage.contains("shard sink expects") ||
        e.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE"),
      e.getMessage)
    val w = new ShardSinkDataWriter(dir, "q2", 0, 1L)
    val r = row(1L)
    r.update(2, org.apache.spark.unsafe.types.UTF8String.fromString("has\ttab"))
    val e2 = intercept[IllegalArgumentException](w.write(r))
    assert(e2.getMessage.contains("tab/newline"))
    w.abort()
  }

  test("streaming write: epoch commits accumulate; replayed epoch is idempotent") {
    val r = SinkLifecycles.streamWriteParity(spark, sf001).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) === ((16L, 20000L, 0L)))
    // replay idempotence at the protocol level: re-committing the SAME
    // epoch replaces its manifest entries instead of doubling them
    val dir = freshDir().getPath
    val w = new graft.sources.ShardSinkWrite(dir, "qs")
    def epochMsg(id: Long, n: Int) = {
      val dw = new ShardSinkDataWriter(dir, s"qs-e$id", 0, id * 10 + n)
      (1 to n).foreach(i => dw.write(row(i.toLong)))
      dw.commit()
    }
    w.commit(0L, Array(epochMsg(0L, 3)))
    w.commit(1L, Array(epochMsg(1L, 2)))
    assert(ShardSink.committedFilesWithRows(dir).map(_._2).sum === 5L)
    w.commit(1L, Array(epochMsg(1L, 2))) // restart replays epoch 1
    assert(ShardSink.committedFilesWithRows(dir).map(_._2).sum === 5L,
      "replayed epoch doubled its rows")
  }

  test("streaming write survives a mid-stream restart exactly-once (checkpoint recovery)") {
    // the end-to-end form of the replay-idempotence claim: kill the query
    // partway, restart from the SAME checkpoint, and the sink must hold
    // exactly the corpus — no lost epochs (offsets resume via the pure
    // deserializeOffset) and no doubled epochs (manifest replace-by-epoch)
    val dir = freshDir().getPath
    val ckpt = freshDir().getPath
    val nDocs = 40000L
    def start() = spark.readStream.format("graft.sources.DocGenSource")
      .option("numDocs", nDocs.toString)
      .option("numPartitions", "2")
      .option("streamBatchSize", "2000") // 20 batches — a stop lands midway
      .load()
      .writeStream.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      // wait for SOME progress, then kill mid-stream
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
        System.nanoTime() < deadline) Thread.sleep(50)
    } finally q1.stop()
    val partial = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(back.count() === nDocs, s"restart lost/duplicated rows (partial run had $partial)")
    assert(back.select("doc_id").distinct().count() === nDocs)
    assert(partial < nDocs, s"first run already finished ($partial) — shrink the batch size")
  }

  test("RequiresDistributionAndOrdering: ONE exchange before the write; shard-whole, id-ordered files") {
    // AQE off in a throwaway session so the declared clustering lands as a
    // deterministic 4-partition exchange (AQE would coalesce this tiny
    // write to one file and make shard-wholeness trivially true)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    @volatile var plan = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          fn: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        // the write command's executed plan is the AppendData node over the
        // exchange; match on content, not the funcName (which varies by
        // DataFrameWriter entry point across Spark versions)
        val p = qe.executedPlan.toString
        if (p.contains("AppendData") || p.contains("shardsink")) plan = p
      }
      override def onFailure(
          fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val dir = freshDir().getPath
    try {
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "2000").option("numPartitions", "3").load()
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (plan.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally s.listenerManager.unregister(listener)
    assert(plan.nonEmpty, "write plan never reached the QueryExecutionListener")
    // the sink's declared clustering: exactly one exchange, on shard, plus
    // the (shard, doc_id) local sort — and nothing else
    assert(plan.contains("Exchange hashpartitioning(shard"), plan)
    assert(plan.indexOf("Exchange") === plan.lastIndexOf("Exchange"),
      s"expected exactly one exchange before the write:\n$plan")
    assert(plan.contains("Sort [shard"), plan)
    // committed layout: no shard straddles two files; rows id-ordered
    // within each file — the landing zone a bucketed reader consumes in
    // place at 100 TB
    val files = ShardSink.committedFiles(dir)
    assert(files.size > 1, s"expected a multi-file clustered layout, got $files")
    val parsed = files.map { f =>
      val rows = java.nio.file.Files.readAllLines(new java.io.File(dir, f).toPath)
        .toArray(Array.empty[String]).toSeq
        .map { l => val c = l.split("\t"); (c(0).toLong, c(1).toInt) }
      f -> rows
    }
    assert(parsed.map(_._2.size).sum === 2000)
    val shardSets = parsed.map { case (_, rows) => rows.map(_._2).toSet }
    shardSets.combinations(2).foreach { case Seq(a, b) =>
      assert(a.intersect(b).isEmpty, s"a shard straddles two files: $shardSets")
    }
    parsed.foreach { case (f, rows) =>
      assert(rows === rows.sortBy(r => (r._2, r._1)), s"$f is not (shard, doc_id)-ordered")
    }
  }

  test("SaveMode.Append accumulates: second job merges the manifest, first job's rows survive") {
    val dir = freshDir().getPath
    def append(n: Int) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", n.toString).option("numPartitions", "2").load()
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(500)
    val firstFiles = ShardSink.committedFiles(dir).toSet
    append(200)
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    // 500 + 200 rows, with doc_ids [0,200) present twice
    assert(back.count() === 700L)
    assert(back.where(col("doc_id") === 100L).count() === 2L)
    // the first job's committed files are untouched (job-unique names):
    // a reader holding the old manifest stays consistent through commit
    val merged = ShardSink.committedFiles(dir).toSet
    assert(firstFiles.subsetOf(merged), s"$firstFiles not in $merged")
    assert((merged -- firstFiles).nonEmpty, "second job committed no files")
    firstFiles.foreach(f => assert(new java.io.File(dir, f).exists(), s"$f deleted by append"))
  }

  test("SaveMode.Overwrite truncates: old files invisible AND physically cleaned") {
    val dir = freshDir().getPath
    def write(n: Int, mode: org.apache.spark.sql.SaveMode) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", n.toString).option("numPartitions", "3").load()
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(mode).save()
    write(500, org.apache.spark.sql.SaveMode.Append)
    write(200, org.apache.spark.sql.SaveMode.Overwrite)
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(back.count() === 200L)
    // physical cleanup happened too: only the new job's files remain
    val tsvs = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".tsv"))
    assert(tsvs.toSet === ShardSink.committedFiles(dir).toSet, tsvs.mkString(","))
  }

  test("manifest flip crash leaves the PREVIOUS version fully visible (FaultFs, versioned manifests)") {
    // round-13 upgrade executed under fault injection: the old
    // delete-then-rename replace window degraded the whole table to
    // invisible on a crash; versioned manifests rename to a FRESH name,
    // so a crash mid-flip simply means "the new job never committed" —
    // the previous version (and all committed data) stays readable.
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    def write(n: Int) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", n.toString).option("numPartitions", "2").load()
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    // job 1 commits cleanly THROUGH the faultfs scheme (whole IO stack on
    // the Hadoop FileSystem API — the HDFS-portability claim)
    write(300)
    def readBack() = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(readBack().count() === 300L)
    assert(new java.io.File(local, "_manifest.v1.json").exists())
    // job 2 crashes at the flip (rename of the NEXT version)
    FaultFs.failRenameTo.set("_manifest.v2.json")
    try {
      val e = intercept[Exception](write(200))
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: causes(t.getCause)
      assert(causes(e).exists(m => m != null && m.contains("injected crash")),
        s"expected the injected crash, got: $e")
    } finally FaultFs.failRenameTo.set(null)
    // the whole point: job 1's data is STILL committed and readable; the
    // crashed job is simply absent — never a torn manifest, never a
    // vanished table
    assert(readBack().count() === 300L, "crash mid-flip must not hide committed data")
    assert(ShardSink.committedFilesWithRows(dir).map(_._2).sum === 300L)
    // the crashed job's manifest body survives only as an ignored temp
    val leftovers = new java.io.File(local).listFiles().map(_.getName)
    assert(leftovers.exists(f => f.startsWith("_manifest.") && f.endsWith(".tmp")),
      leftovers.mkString(","))
    // a clean retry lands v2 and ACCUMULATES (Append semantics); v1 is
    // RETAINED — the version sequence is the commit log tail reads diff
    write(100)
    assert(readBack().count() === 400L)
    assert(new java.io.File(local, "_manifest.v2.json").exists())
    assert(new java.io.File(local, "_manifest.v1.json").exists(),
      "version log must be retained for tailing")
  }

  test("history, vacuum and an append commit read each manifest version at most once") {
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    (0 until 5).foreach { i =>
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "100").option("numPartitions", "1").load()
        .where(col("doc_id") >= i * 20L && col("doc_id") < (i + 1) * 20L)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    }
    assert(ShardSink.currentManifestVersion(dir) === 5L)
    def manifestOpens(call: => Unit): Map[String, Long] = {
      FaultFs.opens.clear()
      call
      import scala.jdk.CollectionConverters._
      FaultFs.opens.asScala.collect {
        case (n, c) if n.startsWith("_manifest.v") => n -> c.longValue
      }.toMap
    }
    def atMostOnce(what: String, opens: Map[String, Long], expect: Set[String]): Unit = {
      assert(opens.keySet === expect, s"$what opened $opens")
      assert(opens.values.forall(_ <= 1L), s"$what re-read a manifest version: $opens")
    }
    val all = (1 to 5).map(v => s"_manifest.v$v.json").toSet
    val hist = manifestOpens(assert(ShardSink.history(dir).map(_._3) === Seq(20L, 40L, 60L, 80L, 100L)))
    atMostOnce("history", hist, all)
    atMostOnce("vacuum", manifestOpens(assert(ShardSink.vacuum(dir).isEmpty)), all)
    // the commit half of an append (the write was planned above the
    // counter reset): one read of its base version, nothing else
    val w = new graft.sources.ShardSinkWrite(dir, "parseonce")
    atMostOnce("append commit", manifestOpens(w.commit(Array.empty)), Set("_manifest.v5.json"))
    assert(ShardSink.currentManifestVersion(dir) === 6L)
    assert(ShardSink.committedEntries(dir).map(_.rows).sum === 100L)
  }

  test("compact reads its base version once and every other version at most once") {
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    (0 until 6).foreach { i =>
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "120").option("numPartitions", "1").load()
        .where(col("doc_id") >= i * 20L && col("doc_id") < (i + 1) * 20L)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    }
    assert(ShardSink.currentManifestVersion(dir) === 6L)
    FaultFs.opens.clear()
    ShardSink.compact(dir, retainVersions = 2)
    import scala.jdk.CollectionConverters._
    val opens = FaultFs.opens.asScala.collect {
      case (n, c) if n.startsWith("_manifest.v") => n -> c.longValue
    }.toMap
    assert(opens.get("_manifest.v6.json").contains(1L), s"compact opened $opens")
    assert(opens.values.forall(_ <= 1L), s"compact re-read a manifest version: $opens")
    assert(!opens.contains("_manifest.v7.json"), s"compact re-read its own commit: $opens")
    // horizon 5 = 7 - 2: versions 5..7 stay readable, the rows are intact
    assert(ShardSink.horizonOf(dir) === 5L)
    assert(ShardSink.committedEntries(dir).map(_.rows).sum === 120L)
  }

  test("a timestampAsOf read opens each version below the one it resolves once") {
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    ShardSink.setCommitClock(Some(() => clock.addAndGet(1000L)))
    try (0 until 6).foreach { i =>
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "120").option("numPartitions", "1").load()
        .where(col("doc_id") >= i * 20L && col("doc_id") < (i + 1) * 20L)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    } finally ShardSink.setCommitClock(None)
    assert(ShardSink.currentManifestVersion(dir) === 6L)
    // an instant between the commits of v4 and v5 resolves to v4
    val ts = ShardSink.history(dir).map(_._5.get)
    FaultFs.opens.clear()
    val rows = spark.read.format("graft.sources.ShardSinkSource").option("path", dir)
      .option("timestampAsOf", (ts(3) + ts(4)) / 2).load().collect().length
    import scala.jdk.CollectionConverters._
    val opens = FaultFs.opens.asScala.collect {
      case (n, c) if n.startsWith("_manifest.v") => n -> c.longValue
    }.toMap
    assert(rows === 80)
    for (v <- 1 to 3)
      assert(opens.get(s"_manifest.v$v.json").contains(1L), s"timestampAsOf opened $opens")
  }

  test("streaming epoch crash at the flip: prior epochs stay visible; replay is idempotent") {
    // the streaming twin: epoch 1's commit dies at the version flip. With
    // versioned manifests epoch 0's manifest is UNTOUCHED (the checkpoint
    // says epoch 0 is done, and it still is); the replayed epoch 1 then
    // lands normally and a second replay does not double it.
    val local = freshDir().getPath
    val dir = "faultfs://" + local
    val w = new graft.sources.ShardSinkWrite(dir, "qf")
    def epochMsg(id: Long, n: Int) = {
      val dw = new ShardSinkDataWriter(dir, s"qf-e$id", 0, id * 10 + n)
      (1 to n).foreach(i => dw.write(row(i.toLong)))
      dw.commit()
    }
    w.commit(0L, Array(epochMsg(0L, 3)))
    assert(ShardSink.committedFilesWithRows(dir).map(_._2).sum === 3L)
    FaultFs.failRenameTo.set("_manifest.v2.json")
    try {
      val e = intercept[Exception](w.commit(1L, Array(epochMsg(1L, 2))))
      assert(e.getMessage != null)
    } finally FaultFs.failRenameTo.set(null)
    // epoch 0 still committed — the crash affected only the in-flight epoch
    assert(ShardSink.committedFilesWithRows(dir).map(_._2).sum === 3L)
    // restart replays epoch 1
    w.commit(1L, Array(epochMsg(1L, 2)))
    val after = ShardSink.committedFilesWithRows(dir)
    assert(after.map(_._2).sum === 5L, s"post-replay manifest wrong: $after")
    assert(after.map(_._1).count(_.startsWith("part-e0-")) === 1, after.toString)
    assert(after.map(_._1).count(_.startsWith("part-e1-")) === 1, after.toString)
    // a second replay of the SAME epoch is the ordinary
    // replace-then-append path — still 5 rows
    w.commit(1L, Array(epochMsg(1L, 2)))
    assert(ShardSink.committedFilesWithRows(dir).map(_._2).sum === 5L)
    // the read path agrees end to end
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 5L)
  }

  test("manifest-ABSENT replay recovers prior epochs from deterministic file names (defense in depth)") {
    // total manifest loss (operator wipe, legacy dir): a replayed epoch
    // must rebuild prior epochs' entries from their part-e names instead
    // of silently dropping them
    val dir = freshDir().getPath
    val w = new graft.sources.ShardSinkWrite(dir, "qr")
    def epochMsg(id: Long, n: Int) = {
      val dw = new ShardSinkDataWriter(dir, s"qr-e$id", 0, id * 10 + n)
      (1 to n).foreach(i => dw.write(row(i.toLong)))
      dw.commit()
    }
    w.commit(0L, Array(epochMsg(0L, 3)))
    w.commit(1L, Array(epochMsg(1L, 2)))
    // wipe every manifest version
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest")).foreach(_.delete())
    assert(ShardSink.committedFiles(dir).isEmpty)
    // replay the LAST epoch: epoch 0 must come back from its file name
    w.commit(1L, Array(epochMsg(1L, 2)))
    val after = ShardSink.committedFilesWithRows(dir)
    assert(after.map(_._2).sum === 5L, s"recovery lost an epoch: $after")
    assert(after.map(_._1).count(_.startsWith("part-e0-")) === 1, after.toString)
  }

  test("SQL DELETE: shard-aligned predicates drop whole files as metadata; others rewrite; body rejected") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // deterministic 4-file clustered layout
    val root = freshDir().getPath
    s.conf.set("spark.sql.catalog.graft_sink", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_sink.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2000").option("numPartitions", "3").load()
      .writeTo("graft_sink.t").append()
    val dir = new java.io.File(root, "t").getPath
    val before = ShardSink.committedFilesWithRows(dir)
    assert(before.size > 1, before.toString)
    // pick one committed file's (whole) shard set and DELETE exactly it:
    // the clustered layout makes this pure metadata — the entry vanishes,
    // nothing is rewritten
    val victim = before.head._1
    val victimShards = java.nio.file.Files.readAllLines(new java.io.File(dir, victim).toPath)
      .toArray(Array.empty[String]).map(_.split("\t")(1).toInt).toSet
    s.sql(s"DELETE FROM graft_sink.t WHERE shard IN (${victimShards.mkString(",")})")
    val afterMeta = ShardSink.committedFilesWithRows(dir)
    assert(!afterMeta.map(_._1).contains(victim), afterMeta.toString)
    assert(afterMeta.forall(!_._1.startsWith("part-d")),
      s"shard-aligned delete should not rewrite any file: $afterMeta")
    assert(!new java.io.File(dir, victim).exists(), "dropped file not cleaned up")
    // a doc_id predicate straddles files: survivors rewritten under part-d
    // names, untouched files keep their entries
    // modulo is outside the metadata-only predicate class — the DELETE
    // falls back to the GROUP-BASED rewrite (SupportsRowLevelOperations):
    // correct answer, copy-on-write cost, replacement files under part-r
    val beforeFallback = s.read.table("graft_sink.t").count()
    val fallbackMatches = s.read.table("graft_sink.t")
      .where("doc_id % 2 = 0 AND doc_id < 100").count()
    s.sql("DELETE FROM graft_sink.t WHERE doc_id % 2 = 0 AND doc_id < 100")
    assert(s.read.table("graft_sink.t").count() === beforeFallback - fallbackMatches)
    assert(ShardSink.committedFiles(dir).exists(_.startsWith("part-r")),
      ShardSink.committedFiles(dir).toString)
    s.sql("DELETE FROM graft_sink.t WHERE doc_id < 100")
    val afterRewrite = ShardSink.committedFilesWithRows(dir)
    assert(afterRewrite.exists(_._1.startsWith("part-d")), afterRewrite.toString)
    // remaining rows: everything except the victim shards and ids < 100
    val expect = (0L until 2000L)
      .filterNot(d => victimShards.contains((d % 16).toInt)).count(_ >= 100L)
    assert(s.read.table("graft_sink.t").count() === expect.toLong)
    // reader still sees a consistent manifest-only view
    assert(afterRewrite.map(_._2).sum === expect.toLong)
  }

  test("row-level ops prune by manifest shard stats: shard-scoped UPDATE rewrites only affected files") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // deterministic 4-file layout
    val root = freshDir().getPath
    s.conf.set("spark.sql.catalog.graft_sink", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_sink.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2000").option("numPartitions", "3").load()
      .writeTo("graft_sink.p").append()
    val dir = new java.io.File(root, "p").getPath
    val before = ShardSink.committedEntries(dir)
    assert(before.size > 1)
    // every committed entry carries its shard range (the clustered write
    // computes it for free on the sorted stream)
    before.foreach(e => assert(e.hasStats, e.toString))
    // pick a shard only SOME files can contain
    val target = 3
    val canContain = before.count(_.mayContainShard(Set(target)))
    assert(canContain < before.size,
      s"layout degenerate — every file may contain shard $target: $before")
    s.sql(s"UPDATE graft_sink.p SET body = upper(body) WHERE shard = $target")
    val after = ShardSink.committedEntries(dir)
    // untouched files keep their names; only candidates were rewritten
    val untouched = before.map(_.file).toSet.intersect(after.map(_.file).toSet)
    assert(untouched.size === before.size - canContain,
      s"expected ${before.size - canContain} untouched, got $untouched of $before -> $after")
    // and the rewrite is still exactly right
    assert(s.read.table("graft_sink.p").where("body <> lower(body)").count() === 125L)
    assert(s.read.table("graft_sink.p").count() === 2000L)
    // no empty replacement files manifested
    after.foreach(e => assert(e.rows > 0L, e.toString))
  }

  test("version-tail stream: one version per trigger, consecutive-manifest diffs, append-only scope") {
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 200); append(200, 350); append(350, 600)
    assert(ShardSink.currentManifestVersion(dir) === 3L)
    val s = new graft.sources.ShardSinkTailStream(dir)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    def v(o: org.apache.spark.sql.connector.read.streaming.Offset) =
      o.asInstanceOf[graft.sources.SinkVersionOffset].v
    // admission: one manifest version per trigger; drain jumps to current
    assert(v(s.initialOffset()) === 0L)
    assert(v(s.latestOffset(graft.sources.SinkVersionOffset(0L), s.getDefaultReadLimit)) === 1L)
    assert(v(s.latestOffset(graft.sources.SinkVersionOffset(1L), s.getDefaultReadLimit)) === 2L)
    assert(v(s.latestOffset(graft.sources.SinkVersionOffset(3L), s.getDefaultReadLimit)) === 3L)
    assert(v(s.latestOffset(graft.sources.SinkVersionOffset(0L), ReadLimit.allAvailable())) === 3L)
    // each batch is exactly the file delta between consecutive manifests
    def files(a: Long, b: Long) = s.planInputPartitions(
      graft.sources.SinkVersionOffset(a), graft.sources.SinkVersionOffset(b))
      .map(p => new org.apache.hadoop.fs.Path(
        p.asInstanceOf[graft.sources.ShardSinkFile].file).getName).toSet
    val v1 = ShardSink.entriesAtVersion(dir, 1L).map(_.file).toSet
    val v2 = ShardSink.entriesAtVersion(dir, 2L).map(_.file).toSet
    val v3 = ShardSink.entriesAtVersion(dir, 3L).map(_.file).toSet
    assert(files(0L, 1L) === v1)
    assert(files(1L, 2L) === v2 -- v1)
    assert(files(2L, 3L) === v3 -- v2)
    assert(files(0L, 3L) === v3)
    // a replayed offset range re-plans the same immutable files (exactly-once)
    assert(files(1L, 2L) === files(1L, 2L))
    // DML rewrites are out of tailing scope: a rewrite lands version 4
    // whose delta contains only part-r files, which the tailer skips
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.graft_sink", classOf[graft.sources.ShardSinkCatalog].getName)
    sess.conf.set("spark.sql.catalog.graft_sink.root", new java.io.File(dir).getParent)
    val ident = new java.io.File(dir).getName
    sess.sql(s"UPDATE graft_sink.`$ident` SET body = upper(body) WHERE doc_id < 50")
    assert(ShardSink.currentManifestVersion(dir) === 4L)
    assert(files(3L, 4L).isEmpty, "rewritten part-r files must not re-emit to a tailer")
  }

  test("time travel: versionAsOf option reads the pinned snapshot; out-of-range fails loudly") {
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 200); append(200, 500)
    def readV(v: Long) = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", v.toString).load()
    assert(readV(1L).count() === 200L)
    assert(readV(2L).count() === 500L)
    assert(readV(0L).count() === 0L, "version 0 is the empty pre-commit snapshot")
    // the old snapshot is EXACT, not just a count: no id from the second
    // append leaks backward
    assert(readV(1L).where(col("doc_id") >= 200L).isEmpty)
    val e = intercept[Exception](readV(9L).count())
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("time travel: timestampAsOf resolves to the newest commit at-or-before the instant") {
    val dir = freshDir().getPath
    val base = 1700000000000L
    val tick = new java.util.concurrent.atomic.AtomicLong(base)
    ShardSink.setCommitClock(Some(() => tick.addAndGet(60000L)))
    try {
      def append(lo: Long, hi: Long) =
        spark.read.format("graft.sources.DocGenSource")
          .option("numDocs", "600").option("numPartitions", "2").load()
          .where(col("doc_id") >= lo && col("doc_id") < hi)
          .write.format("graft.sources.ShardSinkSource")
          .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
      append(0, 200); append(200, 500) // commits at base+60s, base+120s
      def readTs(ts: Long) = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("timestampAsOf", ts.toString).load()
      // between the commits → v1; exactly at a commit → that commit;
      // past the last commit → latest
      assert(readTs(base + 90000L).count() === 200L)
      assert(readTs(base + 60000L).count() === 200L)
      assert(readTs(base + 120000L).count() === 500L)
      assert(readTs(base + 999999L).count() === 500L)
      // count-pushdown shape agrees with the row read (no silent bypass)
      assert(readTs(base + 90000L).where(col("doc_id") >= 200L).isEmpty)
      // before the first commit: loud failure, not an empty read
      val e = intercept[Exception](readTs(base + 1000L).count())
      assert(e.getMessage.contains("before the first commit"), e.getMessage)
      // both pins at once is a user error
      val e2 = intercept[Exception](
        spark.read.format("graft.sources.ShardSinkSource")
          .option("path", dir).option("versionAsOf", "1")
          .option("timestampAsOf", (base + 90000L).toString).load().count())
      assert(e2.getMessage.contains("at most one"), e2.getMessage)
    } finally ShardSink.setCommitClock(None)
  }

  test("compaction: one shard-pure sorted file per shard; values untouched; old snapshots expire loudly") {
    val dir = freshDir().getPath
    // AQE off so each append lands its full 4-partition clustered split —
    // genuine small-files fragmentation for compaction to clean up
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def append(lo: Long, hi: Long) =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 120); append(120, 250); append(250, 380); append(380, 500); append(500, 600)
    val beforeFiles = ShardSink.committedFiles(dir).size
    val beforeRows = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().orderBy("doc_id").collect()
    ShardSink.compact(dir)
    val entries = ShardSink.committedEntries(dir)
    assert(entries.size === 16, entries.toString)
    assert(entries.size < beforeFiles, s"compaction grew the file count: $beforeFiles -> ${entries.size}")
    entries.foreach { e =>
      assert(e.hasStats && e.shardMin === e.shardMax, e.toString)
      assert(e.file.startsWith("part-c"), e.toString)
      // rows inside each file are doc_id-sorted
      val ids = java.nio.file.Files.readAllLines(new java.io.File(dir, e.file).toPath)
        .toArray(Array.empty[String]).map(_.split("\t")(0).toLong).toSeq
      assert(ids === ids.sorted, s"${e.file} not id-sorted")
    }
    val afterRows = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().orderBy("doc_id").collect()
    assert(afterRows.toSeq === beforeRows.toSeq, "compaction changed row content")
    // pre-compaction snapshots are expired, and say so
    val e = intercept[Exception](
      spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("versionAsOf", "2").load().count())
    assert(e.getMessage.contains("expired"), e.getMessage)
    // the current version still time-travels fine
    val cur = ShardSink.currentManifestVersion(dir)
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", cur.toString).load().count() === 600L)
  }

  test("retention horizon: compact(retain=N) keeps the last N snapshots readable; older expire loudly") {
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "1000").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 200); append(200, 400); append(400, 600); append(600, 800); append(800, 1000)
    ShardSink.compact(dir, retainVersions = 2) // v6; horizon = 4
    assert(ShardSink.horizonOf(dir) === 4L)
    def readV(v: Long) = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", v.toString).load()
    // within the horizon: exact snapshots, data intact
    assert(readV(6L).count() === 1000L)
    assert(readV(5L).count() === 1000L)
    assert(readV(4L).count() === 800L)
    assert(readV(4L).where(col("doc_id") >= 800L).isEmpty)
    // below the horizon: loud expiry naming the horizon, for row reads
    // AND the metadata-only count
    val e1 = intercept[Exception](readV(3L).collect())
    assert(e1.getMessage.contains("horizon is 4"), e1.getMessage)
    val e2 = intercept[Exception](readV(3L).count())
    assert(e2.getMessage.contains("horizon is 4"), e2.getMessage)
    // change feed: readable from the horizon boundary, expired below
    def feed(from: Long) = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", from.toString).load()
    assert(feed(3L).count() === 400L) // v4 + v5 inserts; v6 compaction silent
    val e3 = intercept[Exception](feed(2L).count())
    assert(e3.getMessage.contains("horizon"), e3.getMessage)
    // the horizon is carried forward by later commits
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1100").option("numPartitions", "2").load()
      .where(col("doc_id") >= 1000L)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save() // v7: 100 rows
    assert(ShardSink.horizonOf(dir) === 4L)
    // a fresh tail starts AT the horizon: it sees exactly the append
    // deltas retention still promises (v4 200 + v5 200 + v7 100; v6 is
    // the compaction, silent), not a FileNotFound from swept v1-v3 deltas
    val s = graft.streaming.StreamTune.session(spark)
    val sink = s"retention_tail_${System.nanoTime()}"
    val q = s.readStream.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    assert(s.table(sink).count() === 500L)
  }

  test("schema evolution: ADD COLUMN null-fills old rows; snapshots keep their old schema; DML spans the boundary") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.ev", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.ev.root", root)
    s.conf.set("spark.sql.catalog.ev.rlo.mode", "merge-on-read")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .writeTo("ev.docs").append() // v1: 3 columns
    s.sql("ALTER TABLE ev.docs ADD COLUMN score BIGINT") // v2: metadata only
    val dir = new java.io.File(root, "docs").getPath
    assert(ShardSink.tableSchema(dir).fieldNames.toSeq ===
      Seq("doc_id", "shard", "body", "score"))
    // the ALTER touched no data file
    assert(ShardSink.committedEntries(dir).forall(_.file.startsWith("part-b")))
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "600").option("numPartitions", "2").load()
      .where(col("doc_id") >= 400L)
      .withColumn("score", col("doc_id") * 2L)
      .writeTo("ev.docs").append() // v3: 4-column rows
    val merged = s.read.table("ev.docs")
    assert(merged.schema.fieldNames.toSeq === Seq("doc_id", "shard", "body", "score"))
    assert(merged.count() === 600L)
    assert(merged.where(col("score").isNull).count() === 400L) // pre-evolution rows
    assert(merged.where(col("score") === col("doc_id") * 2L).count() === 200L)
    // time travel reads OLD snapshots under their OLD schema
    val v1 = s.sql("SELECT * FROM ev.docs VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq === Seq("doc_id", "shard", "body"))
    assert(v1.count() === 400L)
    // post-alter, pre-data snapshot: wide schema, all added cells null
    val v2 = s.sql("SELECT * FROM ev.docs VERSION AS OF 2")
    assert(v2.schema.fieldNames.toSeq === Seq("doc_id", "shard", "body", "score"))
    assert(v2.where(col("score").isNotNull).count() === 0L)
    // delta UPDATE across the evolution boundary: sets the added column
    // on PRE-evolution rows (their files stay 3-column; the update lands
    // as vector + 4-column part-u rows)
    s.sql("UPDATE ev.docs SET score = 7 WHERE doc_id < 50")
    val after = s.read.table("ev.docs")
    assert(after.where(col("score") === 7L).count() === 50L)
    assert(after.where(col("score").isNull).count() === 350L)
    assert(after.count() === 600L)
    // compaction folds the mixed-width files and keeps the schema
    ShardSink.compact(dir)
    val compacted = s.read.table("ev.docs")
    assert(compacted.schema.fieldNames.length === 4)
    assert(compacted.where(col("score") === 7L).count() === 50L)
    assert(compacted.count() === 600L)
    // rename an ADDED column: pure metadata, values survive
    s.sql("ALTER TABLE ev.docs RENAME COLUMN score TO points")
    assert(s.read.table("ev.docs").where(col("points") === 7L).count() === 50L)
    // widening an added column is pure metadata: old long cells reparse
    // as double, values preserved
    s.sql("ALTER TABLE ev.docs ALTER COLUMN points TYPE DOUBLE")
    assert(s.read.table("ev.docs").schema("points").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(s.read.table("ev.docs").where(col("points") === 7.0d).count() === 50L)
    // the load-bearing core refuses to move; drops and narrowings refuse
    val e1 = intercept[Exception](s.sql("ALTER TABLE ev.docs RENAME COLUMN body TO text"))
    assert(e1.getMessage.contains("cannot be renamed"), e1.getMessage)
    val e2 = intercept[Exception](s.sql("ALTER TABLE ev.docs DROP COLUMN points"))
    assert(e2.getMessage.contains("type widening"), e2.getMessage)
    // Spark's analyzer already rejects the narrowing (upcast check); the
    // connector keeps its own guard for direct-API callers
    val e4 = intercept[Exception](s.sql("ALTER TABLE ev.docs ALTER COLUMN points TYPE INT"))
    assert(e4.getMessage.contains("only widenings")
      || e4.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e4.getMessage)
    val e5 = intercept[Exception](
      graft.sources.SinkTestAccess.widenColumn(dir,
        "points", org.apache.spark.sql.types.IntegerType))
    assert(e5.getMessage.contains("only widenings"), e5.getMessage)
    // an append MISSING the added (nullable) column: Spark's by-name
    // resolution fills null, the writer lands the \N sentinel
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "610").option("numPartitions", "1").load()
      .where(col("doc_id") >= 600L)
      .writeTo("ev.docs").append()
    val fin = s.read.table("ev.docs")
    assert(fin.count() === 610L)
    assert(fin.where(col("doc_id") >= 600L && col("points").isNull).count() === 10L)
  }

  test("restore: rollback as a new commit — reads, feed resurrection, schema, refusals") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.rs", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.rs.root", root)
    s.conf.set("spark.sql.catalog.rs.delete.mode", "merge-on-read")
    def docs(lo: Long, hi: Long) =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 400L).writeTo("rs.docs").append()               // v1: 400 rows
    s.sql("DELETE FROM rs.docs WHERE doc_id >= 300")          // v2: MOR, 100 dead
    assert(s.read.table("rs.docs").count() === 300L)
    s.sql("ALTER TABLE rs.docs SET TBLPROPERTIES ('graft.restore' = '1')") // v3
    assert(s.read.table("rs.docs").count() === 400L)
    // history preserved: the pre-restore snapshot still travels
    val dir = new java.io.File(root, "docs").getPath
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", "2").load().count() === 300L)
    assert(ShardSink.manifestAt(dir, 3L).flatMap(_.op) === Some("restore"))
    docs(400L, 500L).writeTo("rs.docs").append()              // v4: +100
    assert(s.read.table("rs.docs").count() === 500L)
    s.sql("ALTER TABLE rs.docs SET TBLPROPERTIES ('graft.restore' = '3')") // v5
    // the restore DROPPED v4's file: table back to 400, v4 still travels
    assert(s.read.table("rs.docs").count() === 400L)
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", "4").load().count() === 500L)
    // change feed across the restores: v3 resurrects the 100 deleted
    // rows as inserts (shrunk vectors, position-granular), v4 inserts
    // 100, v5 deletes the 100 it un-appended
    val feed = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "2").load()
    val byVt = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(byVt === Map((3L, "insert") -> 100L, (4L, "insert") -> 100L,
      (5L, "delete") -> 100L))
    assert(feed.where(col("_commit_version") === 3L)
      .agg(min(col("doc_id")), max(col("doc_id"))).collect().head match {
        case r => r.getLong(0) === 300L && r.getLong(1) === 399L
      })
    // refusals: out-of-range versions
    val e1 = intercept[Exception](
      s.sql("ALTER TABLE rs.docs SET TBLPROPERTIES ('graft.restore' = '9')"))
    assert(e1.getMessage.contains("restorable range"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql("ALTER TABLE rs.docs SET TBLPROPERTIES ('graft.restore' = '0')"))
    assert(e2.getMessage.contains("restorable range"), e2.getMessage)
    // schema evolution interplay: restore also restores the SCHEMA
    s.sql("ALTER TABLE rs.docs ADD COLUMN lang STRING")        // v6: 4 cols
    assert(s.read.table("rs.docs").schema.fieldNames.length === 4)
    s.sql("ALTER TABLE rs.docs SET TBLPROPERTIES ('graft.restore' = '5')") // v7
    assert(s.read.table("rs.docs").schema.fieldNames.toSeq ===
      Seq("doc_id", "shard", "body"))
    assert(s.read.table("rs.docs").count() === 400L)
  }

  test("filtered overwrite: one-commit replace, Delta's insert constraint, CDF record") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.ow", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.ow.root", root)
    s.conf.set("spark.sql.catalog.ow.cdf.enabled", "true")
    def src = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
    src.writeTo("ow.docs").append() // v1
    src.where(col("shard") === 3)
      .select(col("doc_id"), col("shard"), upper(col("body")).as("body"))
      .writeTo("ow.docs").overwrite(col("shard") === 3) // v2: ONE commit
    val dir = new java.io.File(root, "docs").getPath
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    val t = s.read.table("ow.docs")
    assert(t.count() === 400L) // 25 dropped, 25 landed
    assert(t.where(col("body") =!= lower(col("body"))).count() === 25L)
    assert(t.where(col("shard") === 3 && col("body") === lower(col("body"))).count() === 0L)
    // retention 0: the CoW rewrite released v1's touched file at commit,
    // so travel to the pre-overwrite snapshot expires LOUDLY (same
    // posture as CoW DELETE; compact with retainVersions to keep it)
    val eT = intercept[Exception](
      s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("versionAsOf", "1").load().count())
    assert(eT.getMessage.contains("expired"), eT.getMessage)
    // cdf.enabled: the commit recorded its complete change sidecar
    val feed = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "1").load()
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType === Map("delete" -> 25L, "insert" -> 25L))
    assert(feed.where(col("_change_type") === "insert"
      && col("body") === lower(col("body"))).count() === 0L)
    // Delta's replaceWhere constraint: inserted rows outside the
    // predicate refuse loudly, and the failed commit left no trace
    val e1 = intercept[Exception](
      src.where(col("shard") === 3)
        .writeTo("ow.docs").overwrite(col("shard") === 5))
    assert(e1.getMessage.contains("constraint violation")
      || Option(e1.getCause).exists(_.getMessage.contains("constraint violation")),
      e1.getMessage)
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    assert(s.read.table("ow.docs").count() === 400L)
    // unsupported predicates refuse at PLAN time
    val e2 = intercept[Exception](
      src.limit(1).writeTo("ow.docs").overwrite(col("body") === "x"))
    assert(e2.getMessage.contains("unsupported overwrite predicate")
      || Option(e2.getCause).exists(_.getMessage.contains("unsupported overwrite predicate")),
      e2.getMessage)
  }

  test("filtered overwrite without cdf.enabled: commits fine, feed over it refuses") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.ow2", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.ow2.root", root)
    def src = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
    src.writeTo("ow2.docs").append() // v1
    src.where(col("doc_id") >= 300L && col("doc_id") < 350L)
      .writeTo("ow2.docs").overwrite(col("doc_id") >= 300L) // v2: 100 -> 50
    assert(s.read.table("ow2.docs").count() === 350L)
    val dir = new java.io.File(root, "docs").getPath
    assert(ShardSink.manifestAt(dir, 2L).flatMap(_.cdc).isEmpty) // no sidecar cost paid
    val e = intercept[Exception](
      s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", "1").load().count())
    assert(e.getMessage.contains("cdf.enabled"), e.getMessage)
  }

  test("tags: immutable named refs that hold the retention horizon") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tg", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.tg.root", root)
    s.conf.set("spark.sql.catalog.tg.delete.mode", "merge-on-read")
    def append(lo: Long, hi: Long): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .writeTo("tg.docs").append()
    append(0L, 400L)  // v1
    s.sql("ALTER TABLE tg.docs SET TBLPROPERTIES ('graft.tag.stable' = '1')")
    append(400L, 600L) // v2
    val dir = new java.io.File(root, "docs").getPath
    assert(ShardSink.listTags(dir) === Seq("stable" -> 1L))
    // both read spellings resolve the ref
    assert(s.sql("SELECT * FROM tg.docs VERSION AS OF 'stable'").count() === 400L)
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("tag", "stable").load().count() === 400L)
    // immutable: re-tagging refuses; unknown tags and bad names refuse
    val e1 = intercept[Exception](
      s.sql("ALTER TABLE tg.docs SET TBLPROPERTIES ('graft.tag.stable' = '2')"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql("SELECT * FROM tg.docs VERSION AS OF 'nope'").count())
    assert(e2.getMessage.contains("no tag 'nope'"), e2.getMessage)
    val e3 = intercept[Exception](
      graft.sources.SinkTestAccess.createTag(dir, "123", 1L))
    assert(e3.getMessage.contains("invalid tag name"), e3.getMessage)
    // zero-retention compaction CANNOT expire the tagged snapshot: the
    // tag holds the horizon, the ref stays exactly readable
    ShardSink.compact(dir) // v3
    assert(ShardSink.horizonOf(dir) === 1L)
    assert(s.sql("SELECT * FROM tg.docs VERSION AS OF 'stable'").count() === 400L)
    // restore accepts the tag name
    s.sql("ALTER TABLE tg.docs SET TBLPROPERTIES ('graft.restore' = 'stable')") // v4
    assert(s.read.table("tg.docs").count() === 400L)
    // drop releases the hold: the next compaction expires below it
    s.sql("ALTER TABLE tg.docs UNSET TBLPROPERTIES ('graft.tag.stable')")
    assert(ShardSink.listTags(dir) === Seq.empty)
    ShardSink.compact(dir) // v5, horizon moves to 5
    assert(ShardSink.horizonOf(dir) === 5L)
    val e4 = intercept[Exception](
      s.sql("SELECT * FROM tg.docs VERSION AS OF '1'").count())
    assert(e4.getMessage.contains("retention horizon"), e4.getMessage)
    assert(s.read.table("tg.docs").count() === 400L)
  }

  test("metadata-only MIN/MAX: answers from stats, refuses with vectors and filters") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    def append(lo: Long, hi: Long): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "1600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(100L, 900L); append(900L, 1500L)
    def read = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // the whole rollup answers from the manifest: the plan is the
    // one-row metadata scan, no data file is opened
    val agg = read.agg(
      count(lit(1)).as("n"), min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
      min(col("shard")).as("slo"), max(col("shard")).as("shi"))
    assert(planOf(agg).contains("manifest-only count/minmax"), planOf(agg))
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)) ===
      ((1400L, 100L, 1499L, 0, 15)))
    // a FILE-EXACT filter (>= 900 keeps exactly the second file) is
    // consumed by pruning — the filtered min stays manifest-only (r15)
    val filtered = read.where(col("doc_id") >= 900L).agg(min(col("doc_id")).as("lo"))
    assert(planOf(filtered).contains("manifest-only"), planOf(filtered))
    assert(filtered.collect().head.getLong(0) === 900L)
    // a STRADDLING filter disqualifies the push — row scan, same answer
    val strad = read.where(col("doc_id") >= 500L).agg(min(col("doc_id")).as("lo"))
    assert(!planOf(strad).contains("manifest-only"), planOf(strad))
    assert(strad.collect().head.getLong(0) === 500L)
    // a delete vector anywhere refuses MIN/MAX (the vector may have
    // killed the extreme row) but plain COUNT stays manifest-only
    graft.sources.SinkTestAccess.morDelete(dir, 1499L)
    val mm = read.agg(max(col("doc_id")).as("hi"))
    assert(!planOf(mm).contains("manifest-only"), planOf(mm))
    assert(mm.collect().head.getLong(0) === 1498L) // the row scan is exact
    val cnt = read.agg(count(lit(1)).as("n"))
    assert(planOf(cnt).contains("manifest-only"), planOf(cnt))
    assert(cnt.collect().head.getLong(0) === 1399L)
  }

  test("z-order compaction: rectangle files prune on BOTH dimensions; values untouched") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def append(lo: Long, hi: Long): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "1600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0L, 600L); append(600L, 1600L)
    def read = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    val before = read.groupBy("shard").agg(expr("bit_xor(doc_id)").as("x"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // a MOR vector must FOLD (not resurrect) through the rewrite
    graft.sources.SinkTestAccess.morDelete(dir, 1590L)
    ShardSink.compactZOrder(dir, rowsPerFile = 100) // 1599 live rows -> 16 files
    val entries = ShardSink.committedEntries(dir)
    assert(entries.size === 16)
    assert(entries.forall(e => e.hasStats && e.hasDocStats))
    assert(read.count() === 1599L)
    // every file is a small rectangle: no file spans more than half of
    // either dimension (the whole point vs shard-pure compaction)
    assert(entries.forall(e => e.shardMax - e.shardMin <= 7),
      entries.map(e => (e.file, e.shardMin, e.shardMax)).mkString(", "))
    assert(entries.forall(e => e.docMax - e.docMin <= 800L),
      entries.map(e => (e.file, e.docMin, e.docMax)).mkString(", "))
    // both single-dimension filters prune to at most half the files, the
    // conjunction to at most a quarter
    val shardN = read.where(col("shard") === 2).rdd.getNumPartitions
    val docN = read.where(col("doc_id") >= 400L && col("doc_id") < 800L)
      .rdd.getNumPartitions
    val bothN = read.where(col("shard") === 2
      && col("doc_id") >= 400L && col("doc_id") < 800L).rdd.getNumPartitions
    assert(shardN * 2 <= 16, s"shard filter planned $shardN of 16")
    assert(docN * 2 <= 16, s"doc filter planned $docN of 16")
    assert(bothN * 4 <= 16, s"conjunction planned $bothN of 16")
    // values byte-identical (minus the folded delete)
    val after = read.groupBy("shard").agg(expr("bit_xor(doc_id)").as("x"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val deletedShard = (1590L % 16L).toInt
    assert(after.filter(_._1 != deletedShard) === before.filter(_._1 != deletedShard))
    assert(after(deletedShard) === (before(deletedShard) ^ 1590L))
  }

  test("vacuum: sweeps only unreferenced files, age guard protects in-flight commits") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    def append(lo: Long, hi: Long): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "400").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0L, 200L); append(200L, 400L) // v1, v2
    // orphans: a crashed job's renamed data file, vector and sidecar
    Seq("part-bdead-0.tsv", "del-dead.pos", "cdc-dead.tsv").foreach { n =>
      val w = graft.sources.SinkTestAccess.createFile(dir, n)
      try w.write("x\n") finally w.close()
    }
    // the age guard: everything is younger than a day — nothing sweeps
    assert(ShardSink.vacuum(dir, olderThanMillis = 24L * 3600 * 1000) === Seq.empty)
    // age 0: exactly the three orphans go, in sorted order
    assert(ShardSink.vacuum(dir, olderThanMillis = 0L) ===
      Seq("cdc-dead.tsv", "del-dead.pos", "part-bdead-0.tsv"))
    // committed state fully intact: reads, travel, manifests
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 400L)
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", "1").load().count() === 200L)
    // idempotent: a second vacuum finds nothing
    assert(ShardSink.vacuum(dir, olderThanMillis = 0L) === Seq.empty)
  }

  test("restore: refuses when a later copy-on-write rewrite released the snapshot's files") {
    val root = freshDir().getPath
    val s = spark.newSession()
    // default delete.mode = copy-on-write: the DELETE rewrites the
    // partially-hit file and releases the original at commit
    s.conf.set("spark.sql.catalog.rc", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.rc.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .writeTo("rc.docs").append()                            // v1
    s.sql("DELETE FROM rc.docs WHERE doc_id >= 300")           // v2: CoW rewrite
    val e = intercept[Exception](
      s.sql("ALTER TABLE rc.docs SET TBLPROPERTIES ('graft.restore' = '1')"))
    assert(e.getMessage.contains("released by a later rewrite"), e.getMessage)
    // the table is untouched by the refusal
    assert(s.read.table("rc.docs").count() === 300L)
    assert(ShardSink.currentManifestVersion(new java.io.File(root, "docs").getPath) === 2L)
  }

  test("sink post-prune statistics flip the broadcast decision a census estimate would miss") {
    import org.apache.spark.sql.functions._
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "16000").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    graft.sources.ShardSink.compact(dir) // shard-pure files: the prune substrate
    val s = spark.newSession()
    // census estimate 16000 × 45 B ≈ 720 KB sits ABOVE this threshold;
    // the shard-pruned estimate (1/16th ≈ 45 KB) falls below — the
    // broadcast decision depends on the scan REPORTING post-prune rows
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "102400")
    def sink = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
    val big = s.range(200000).select(col("id").as("k"))
    val pruned = sink.where(col("shard") === 3)
      .join(big, col("doc_id") === col("k"))
    assert(pruned.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      pruned.queryExecution.executedPlan.toString)
    val unfiltered = sink.join(big, col("doc_id") === col("k"))
    assert(!unfiltered.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the census-sized side must NOT broadcast under the same threshold")
  }

  test("reported statistics flip the optimizer's broadcast decision with the pushed filter") {
    import org.apache.spark.sql.functions._
    // a session without graft.plans.OnePartition, which plans a join whose
    // leaves sum under the threshold as one task instead of broadcasting
    val s = spark.newSession()
    def docgen = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "60000").load()
    val big = s.range(500000).select(col("id").as("k"))
    // tightly filtered docgen (100 rows ≈ 6 KB reported) → broadcast side
    val small = docgen.where(col("doc_id") < 100L)
      .join(big, col("doc_id") === col("k"))
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      small.queryExecution.executedPlan.toString)
    // unfiltered docgen (60k × ~60 B ≈ 3.6 MB < 10 MB) still broadcasts;
    // the stats are EXACT either way — pin numRows via the stats API
    val scan = docgen.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    assert(scan.estimateStatistics().numRows().getAsLong === 60000L)
  }

  test("read-side stats pruning: shard filters skip whole files; stats-unknown files always read") {
    val dir = freshDir().getPath
    // AQE off so the clustered appends land their full multi-file split
    // and .rdd partition counts equal planned input files (one file = one
    // partition, filters are narrow)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def append(lo: Int, hi: Int) =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "1600").option("numPartitions", "2").load()
        .where(col("shard") >= lo && col("shard") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 4); append(4, 8); append(8, 12); append(12, 16)
    val total = ShardSink.committedEntries(dir).size
    assert(total >= 4, s"expected fragmented layout, got $total files")
    def read = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
    // a single shard lives in ONE append window → at most a quarter of
    // the files survive pruning
    val one = read.where(col("shard") === 2)
    assert(one.rdd.getNumPartitions <= total / 4,
      s"shard=2 planned ${one.rdd.getNumPartitions} of $total files")
    assert(one.count() === 100L) // 1600 docs / 16 shards
    // mixed conjunction: the shard leg prunes to two windows, the doc_id
    // leg is residual and applied row-level
    val mixed = read.where(col("shard").isin(2, 13) && col("doc_id") < 800L)
    assert(mixed.rdd.getNumPartitions <= total / 2,
      s"shard IN (2,13) planned ${mixed.rdd.getNumPartitions} of $total files")
    assert(mixed.count() === 100L) // 50 matching ids in each of the two shards
    // a value outside every file's range reads NOTHING
    val none = read.where(col("shard") === 20)
    assert(none.rdd.getNumPartitions === 0, "impossible shard still planned files")
    // stats-unknown manifest entries (pre-stats layout) are conservatively
    // read in full — strip the stats by publishing a new manifest version
    val cur = ShardSink.currentManifestVersion(dir)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, s"_manifest.v$cur.json")), "UTF-8")
    val stripped = txt.replaceAll(""","s0":-?\d+,"s1":-?\d+""", "")
    assert(stripped != txt, "manifest had no stats to strip")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, s"_manifest.v${cur + 1}.json"),
      stripped.getBytes("UTF-8"))
    val blind = read.where(col("shard") === 2)
    assert(blind.rdd.getNumPartitions === total, "stats-unknown files must all be read")
    assert(blind.count() === 100L)
  }

  test("merge-on-read delete: vectors not rewrites — union, time travel, compaction fold") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mor_t", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mor_t.root", root)
    s.conf.set("spark.sql.catalog.mor_t.delete.mode", "merge-on-read")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1600").option("numPartitions", "2").load()
      .writeTo("mor_t.docs").append()
    val dir = new java.io.File(root, "docs").getPath
    def dataFiles: Map[String, String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".tsv")).map { f =>
          f.getName -> java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    def vectors: Seq[String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".pos")).map(_.getName).toSeq
    val before = dataFiles
    val v1 = ShardSink.currentManifestVersion(dir)
    def read = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()

    s.sql("DELETE FROM mor_t.docs WHERE doc_id >= 1200")
    assert(dataFiles === before, "MOR delete must not write/remove any data file")
    assert(vectors.nonEmpty, "expected delete-vector sidecars")
    val e1 = ShardSink.committedEntries(dir)
    assert(e1.exists(_.hasDeletes) && e1.map(_.rows).sum === 1200L)
    assert(read.count() === 1200L)

    // second delete lands on files that already carry vectors: union path
    s.sql("DELETE FROM mor_t.docs WHERE doc_id < 200")
    assert(dataFiles === before, "second MOR delete still rewrote nothing")
    assert(read.count() === 1000L)
    assert(read.agg(min(col("doc_id")), max(col("doc_id"))).collect().head
      .toSeq === Seq(200L, 1199L))

    // time travel: pre-delete and between-deletes snapshots read their
    // exact rows (same data files, no/older vectors)
    def travel(v: Long) = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("versionAsOf", v.toString).load()
    assert(travel(v1).count() === 1600L)
    assert(travel(v1 + 1).count() === 1200L)

    // compaction folds the vectors away: shard-pure files, no dv entries,
    // sidecars cleaned up, values unchanged
    ShardSink.compact(dir)
    val e2 = ShardSink.committedEntries(dir)
    assert(e2.forall(e => !e.hasDeletes && e.shardMin === e.shardMax))
    assert(vectors.isEmpty, "compaction must delete folded vector files")
    assert(read.count() === 1000L)

    // fully-dead entries drop from the manifest but the data files stay:
    // MOR never destroys data, so the pre-delete snapshot is still live
    val vPre = ShardSink.currentManifestVersion(dir)
    val compacted = dataFiles
    s.sql("DELETE FROM mor_t.docs WHERE doc_id >= 0")
    assert(ShardSink.committedEntries(dir).isEmpty && read.count() === 0L)
    assert(dataFiles === compacted, "delete-all must retain every data file")
    assert(travel(vPre).count() === 1000L)
  }

  test("delta-based UPDATE and MERGE (merge-on-read): vectors + appended rows, originals untouched") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dmor", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.dmor.root", root)
    s.conf.set("spark.sql.catalog.dmor.rlo.mode", "merge-on-read")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .writeTo("dmor.docs").append()
    val dir = new java.io.File(root, "docs").getPath
    def fileHashes(pred: String => Boolean): Map[String, String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && pred(f.getName)).map { f =>
          f.getName -> java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    val originals = fileHashes(_.startsWith("part-b"))
    def read = s.read.table("dmor.docs")

    // UPDATE = delete vector over the old rows + appended new rows
    s.sql("UPDATE dmor.docs SET body = upper(body) WHERE shard = 5")
    assert(fileHashes(_.startsWith("part-b")) === originals,
      "delta UPDATE must not rewrite any original file")
    assert(fileHashes(_.startsWith("part-u")).nonEmpty, "expected appended delta files")
    assert(read.count() === 800L)
    val shard5 = read.where(col("shard") === 5).collect()
    assert(shard5.length === 50)
    assert(shard5.forall(r => r.getString(2) == r.getString(2).toUpperCase))
    assert(read.where(col("shard") =!= 5)
      .where(col("body") =!= lower(col("body"))).count() === 0L)

    // three-clause MERGE through the same delta path
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "900").option("numPartitions", "2").load()
      .where(col("doc_id") >= 700)
      .selectExpr("doc_id", "shard", "upper(body) AS body")
      .createOrReplaceTempView("src")
    s.sql(
      """MERGE INTO dmor.docs t USING src
        |ON t.doc_id = src.doc_id
        |WHEN MATCHED AND src.doc_id < 750 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET body = src.body
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(fileHashes(_.startsWith("part-b")) === originals,
      "delta MERGE must not rewrite any original file")
    assert(read.count() === 850L) // 800 - 50 deleted + 100 inserted
    assert(read.where(col("doc_id") >= 700L && col("doc_id") < 750L).count() === 0L)
    val upperTail = read.where(col("doc_id") >= 750L).collect()
    assert(upperTail.length === 150)
    assert(upperTail.forall(r => r.getString(2) == r.getString(2).toUpperCase))
    // manifest live counts stay honest
    assert(ShardSink.committedEntries(dir).map(_.rows).sum === 850L)
  }

  test("copy-on-write rewrite after a MOR delete does not resurrect the deleted rows") {
    val root = freshDir().getPath
    val s = spark.newSession()
    for ((cat, mode) <- Seq(("mor_a", "merge-on-read"), ("cow_a", "copy-on-write"))) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.ShardSinkCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.delete.mode", mode)
    }
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .writeTo("mor_a.docs").append()
    s.sql("DELETE FROM mor_a.docs WHERE doc_id >= 600")
    // same directory through the copy-on-write catalog: the rewrite reads
    // the LIVE view of vector-carrying files
    s.sql("DELETE FROM cow_a.docs WHERE shard < 8")
    val back = s.read.table("cow_a.docs")
    assert(back.count() === 296L) // doc_id < 600 ∧ shard ≥ 8: 37 full 16-blocks × 8
    assert(back.agg(max(col("doc_id"))).collect().head.getLong(0) < 600L)
    // files the rewrite DID touch carry no vector anymore (folded in);
    // untouched files legitimately keep theirs
    val live = ShardSink.committedEntries(new java.io.File(root, "docs").getPath)
    assert(live.filter(_.file.startsWith("part-d")).forall(!_.hasDeletes))
  }

  test("change feed: version slicing, rewrite/compaction silence, out-of-range rejection") {
    val root = freshDir().getPath
    val s = spark.newSession()
    for ((cat, mode) <- Seq(("cdf_m", "merge-on-read"), ("cdf_c", "copy-on-write"))) {
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.ShardSinkCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.delete.mode", mode)
      s.conf.set(s"spark.sql.catalog.$cat.cdf.enabled", "true")
    }
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .writeTo("cdf_m.docs").append() // v1: 800 inserts
    s.sql("DELETE FROM cdf_m.docs WHERE doc_id >= 600") // v2: 200 MOR deletes
    val dir = new java.io.File(root, "docs").getPath
    def feed(opts: (String, String)*) = {
      val r = s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load()
    }
    // full feed: 800 inserts @v1 + 200 deletes @v2
    assert(feed().groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((1L, "insert", 800L), (2L, "delete", 200L)))
    // version slicing: only the delete commit
    assert(feed("changeFeedFrom" -> "1").select("_change_type").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("delete"))
    assert(feed("changeFeedTo" -> "1").count() === 800L)
    // a COPY-ON-WRITE delete swaps files, destroying the manifest-diff
    // evidence — the commit records its change sidecar instead, and the
    // feed emits EXACTLY the dropped rows (500 ≤ doc_id < 600 still live)
    s.sql("DELETE FROM cdf_c.docs WHERE doc_id >= 500") // v3: rewrites
    val cow = feed("changeFeedFrom" -> "2")
    assert(cow.select("_change_type").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("delete"))
    assert(cow.count() === 100L)
    assert(cow.agg(min(col("doc_id")), max(col("doc_id"))).collect().head
      .toSeq === Seq(500L, 599L))
    // compaction IS silent: a layout swap changes no rows
    ShardSink.compact(dir)
    assert(feed("changeFeedFrom" -> "3").count() === 0L)
    // beyond-current range fails loudly
    val e = intercept[Exception] {
      feed("changeFeedTo" -> "99").count()
    }
    assert(e.getMessage.contains("out of range"))
  }

  test("change feed: delta UPDATE emits exact update_preimage/update_postimage pairs") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cdfu", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.cdfu.root", root)
    s.conf.set("spark.sql.catalog.cdfu.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.cdfu.cdf.enabled", "true")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .writeTo("cdfu.docs").append() // v1
    s.sql("UPDATE cdfu.docs SET body = concat(body, '!') WHERE doc_id < 50") // v2
    val dir = new java.io.File(root, "docs").getPath
    val feed = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "1").load()
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType === Map("update_preimage" -> 50L, "update_postimage" -> 50L))
    // pre/post images pair up per doc_id, old body vs new body
    val pre = feed.where(col("_change_type") === "update_preimage")
      .select("doc_id", "body").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val post = feed.where(col("_change_type") === "update_postimage")
      .select("doc_id", "body").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pre.keySet === post.keySet)
    pre.foreach { case (id, b) => assert(post(id) === b + "!", s"doc $id") }
    // a mixed MERGE commit: matched-update + matched-delete + insert —
    // one version, complete record, all three shapes
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "500").option("numPartitions", "1").load()
      .where(col("doc_id") >= 380L)
      .createOrReplaceTempView("merge_src")
    s.sql(
      """MERGE INTO cdfu.docs t USING merge_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND t.doc_id < 390 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET body = concat(t.body, '?')
        |WHEN NOT MATCHED THEN INSERT (doc_id, shard, body) VALUES (s.doc_id, s.shard, s.body)
        |""".stripMargin) // v3
    val m = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "2").load()
      .groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m === Map(
      "delete" -> 10L, // 380..389
      "update_preimage" -> 10L, "update_postimage" -> 10L, // 390..399
      "insert" -> 100L)) // 400..499
    // final state agrees with the recorded changes
    assert(s.read.table("cdfu.docs").count() === 490L)
  }

  test("change feed: copy-on-write UPDATE/MERGE records delete+insert; truncate refuses loudly") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cdfc", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.cdfc.root", root)
    s.conf.set("spark.sql.catalog.cdfc.cdf.enabled", "true")
    // default rlo.mode = copy-on-write: whole affected files rewritten
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .writeTo("cdfc.docs").append() // v1
    s.sql("UPDATE cdfc.docs SET body = concat(body, '*') WHERE doc_id < 40") // v2
    val dir = new java.io.File(root, "docs").getPath
    val feed = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "1").load()
    // group-based rewrite can't attribute WHICH carried rows changed, so
    // the update surfaces as its complete delete+insert multiset — the
    // consumer misses nothing (the ADVICE gap this closes)
    val byType = feed.groupBy("_change_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType === Map("delete" -> 40L, "insert" -> 40L))
    val oldB = feed.where(col("_change_type") === "delete")
      .select("doc_id", "body").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val newB = feed.where(col("_change_type") === "insert")
      .select("doc_id", "body").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(oldB.keySet === newB.keySet)
    oldB.foreach { case (id, b) => assert(newB(id) === b + "*", s"doc $id") }
    // truncate/overwrite destroys rows without a record: CDF over that
    // version must refuse, not silently emit only the new inserts
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Overwrite).save() // v3
    val e = intercept[Exception](
      s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", "2").load().count())
    assert(e.getMessage.contains("cannot represent"), e.getMessage)
    // reading from AFTER the truncate works fine
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "3").load().count() === 0L)
  }

  test("change feed: CoW DML without cdf.enabled refuses loudly, never silently misses rows") {
    val root = freshDir().getPath
    val s = spark.newSession()
    // cdf.enabled NOT set — the default-off posture (Delta's): DML pays
    // no change-record cost, and the feed must refuse rather than emit
    // a feed with the deleted rows missing
    s.conf.set("spark.sql.catalog.cdfd", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.cdfd.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .writeTo("cdfd.docs").append() // v1
    s.sql("DELETE FROM cdfd.docs WHERE doc_id >= 300") // v2: CoW rewrite, no record
    val dir = new java.io.File(root, "docs").getPath
    // no sidecar was written
    assert(ShardSink.manifestAt(dir, 2L).flatMap(_.cdc).isEmpty)
    // the range that reads v2's diff hits the unrecorded rewrite: refuse
    // with guidance, never emit a feed missing the deleted rows
    val e = intercept[Exception](
      s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", "1").load().count())
    assert(e.getMessage.contains("cdf.enabled"), e.getMessage)
    // replaying v1's inserts needs the pre-DML file the CoW cleanup
    // released (retention 0 = Delta-after-vacuum): loudly expired, with
    // the retention pointer — NOT a raw FileNotFound
    val e2 = intercept[Exception](
      s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedTo", "1").load().count())
    assert(e2.getMessage.contains("released by a later rewrite"), e2.getMessage)
    // the range past the unrecorded commit reads fine (empty here)
    assert(s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", "2").load().count() === 0L)
  }

  test("doc-range pruning, manifest-only count, and reported statistics") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def append(lo: Long, hi: Long) =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "1600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 400); append(400, 800); append(800, 1200); append(1200, 1600)
    val total = ShardSink.committedEntries(dir).size
    assert(ShardSink.committedEntries(dir).forall(_.hasDocStats))
    def read = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
    // a doc_id window inside ONE append prunes to a quarter of the files
    val one = read.where(col("doc_id") >= 500L && col("doc_id") < 700L)
    assert(one.rdd.getNumPartitions <= total / 4,
      s"window planned ${one.rdd.getNumPartitions} of $total files")
    assert(one.count() === 200L)
    // an impossible window plans nothing
    assert(read.where(col("doc_id") >= 5000L).rdd.getNumPartitions === 0)
    // reported statistics are the post-prune LIVE rows
    def statsOf(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().numRows().getAsLong
    assert(statsOf(read) === 1600L)
    assert(statsOf(read.where(col("doc_id") < 400L)) === 400L)
    // COUNT(*) with no filter is answered from the manifest: the plan
    // carries the count scan and exactly one 1-row partition
    val cnt = read.agg(expr("count(*)"))
    assert(cnt.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"),
      cnt.queryExecution.executedPlan.toString)
    assert(cnt.collect().head.getLong(0) === 1600L)
    // a filtered count falls back to the data scan
    val fcnt = read.where(col("doc_id") < 100L).agg(expr("count(*)"))
    assert(!fcnt.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"))
    assert(fcnt.collect().head.getLong(0) === 100L)
  }

  test("filtered metadata-only aggregates: file-exact predicates answer from the pruned manifest") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    // shard-pure 10-row chunks: shard predicates and chunk-aligned doc
    // ranges become FILE-exact
    ShardSink.compact(dir, targetRowsPerFile = 10L)
    def read = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // shard IN (…): every kept chunk is shard-pure → consumed → the
    // count/min/max plan is the manifest-only scan, zero data IO
    val byShard = read.where(col("shard").isin(2, 3))
      .agg(expr("count(*)"), min("doc_id"), max("doc_id"))
    assert(planOf(byShard).contains("ShardSinkCountScan"), planOf(byShard))
    val r = byShard.collect().head
    assert(r.getLong(0) === 50L)
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 387L)
    // chunk-aligned doc range (chunks per shard s: [s, s+144],
    // [s+160, s+304], [s+320, s+384]): >= 160 full-matches or prunes
    // every chunk
    val tail = read.where(col("doc_id") >= 160L).agg(expr("count(*)"))
    assert(planOf(tail).contains("ShardSinkCountScan"), planOf(tail))
    assert(tail.collect().head.getLong(0) === 240L)
    // a straddling doc range falls back to the row scan — and agrees
    val strad = read.where(col("doc_id") < 150L).agg(expr("count(*)"))
    assert(!planOf(strad).contains("ShardSinkCountScan"))
    assert(strad.collect().head.getLong(0) === 150L)
    // the consumed-filter ROW scan reads exactly the matching rows
    val rows = read.where(col("shard") === 5).collect()
    assert(rows.length === 25 && rows.forall(_.getAs[Int]("shard") === 5))
    // a merge-on-read delete keeps filtered COUNT exact (live-row
    // bookkeeping) but disqualifies MIN/MAX (vector may hide extremes)
    graft.sources.SinkTestAccess.morDelete(dir, 2L) // doc 2, shard 2
    val afterDel = read.where(col("shard").isin(2, 3)).agg(expr("count(*)"))
    assert(planOf(afterDel).contains("ShardSinkCountScan"), planOf(afterDel))
    assert(afterDel.collect().head.getLong(0) === 49L)
    val mm = read.where(col("shard").isin(2, 3)).agg(min("doc_id"))
    assert(!planOf(mm).contains("ShardSinkCountScan"))
    assert(mm.collect().head.getLong(0) === 3L, "doc 3 (shard 3) survives the delete of doc 2")
  }

  test("grouped metadata-only aggregates: GROUP BY shard answers from shard-pure manifest entries") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    def read = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // uncompacted files straddle shards: rows cannot be attributed to one
    // group — the push refuses, the row scan answers
    val pre = read.groupBy(col("shard")).agg(expr("count(*)"))
    assert(!planOf(pre).contains("ShardSinkCountScan"), planOf(pre))
    ShardSink.compact(dir, targetRowsPerFile = 10L) // shard-pure, ~3 files/shard
    val g = read.groupBy(col("shard"))
      .agg(expr("count(*)"), min("doc_id"), max("doc_id"))
    assert(planOf(g).contains("groupBy=shard"), planOf(g))
    val rows = g.collect().sortBy(_.getInt(0))
    assert(rows.length === 16)
    rows.foreach { r =>
      val sh = r.getInt(0)
      assert(r.getLong(1) === 25L)
      assert(r.getLong(2) === sh.toLong, "min doc per shard")
      assert(r.getLong(3) === (384 + sh).toLong, "max doc per shard")
    }
    // grouped + a consumed file-exact filter: the pruned entries' grouped
    // bookkeeping is still the whole answer
    val gf = read.where(col("shard").isin(2, 3)).groupBy(col("shard")).agg(expr("count(*)"))
    assert(planOf(gf).contains("ShardSinkCountScan"), planOf(gf))
    assert(gf.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq ===
      Seq((2, 25L), (3, 25L)))
    // a MOR delete keeps grouped COUNT exact (live-row bookkeeping) but
    // disqualifies grouped MIN/MAX (the vector may hide the extreme)
    graft.sources.SinkTestAccess.morDelete(dir, 2L)
    val gd = read.groupBy(col("shard")).agg(expr("count(*)"))
    assert(planOf(gd).contains("ShardSinkCountScan"), planOf(gd))
    val byShard = gd.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byShard(2) === 24L && byShard(3) === 25L)
    val gm = read.groupBy(col("shard")).agg(min("doc_id"))
    assert(!planOf(gm).contains("ShardSinkCountScan"), planOf(gm))
    assert(gm.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap.apply(2) === 18L)
  }

  test("grouped metadata-only count: a shard whose rows all died emits NO group row") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "16").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    ShardSink.compact(dir, targetRowsPerFile = 1L) // one 1-row file per shard
    graft.sources.SinkTestAccess.morDelete(dir, 5L) // shard 5's only row
    val g = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      .groupBy(col("shard")).agg(expr("count(*)"))
    assert(g.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"))
    val shards = g.collect().map(_.getInt(0)).toSet
    assert(shards.size === 15 && !shards.contains(5),
      "group-by over zero rows has no group")
  }

  test("runtime filtering: a broadcast dim's shard values prune sink files at execution") {
    // the checked query's own structural booleans prove delivery + pruning
    val df = SinkLifecycles.sinkDppReport(spark, sf001)
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq === (0 to 3))
    rows.foreach { r =>
      assert(r.getLong(2) === 250L, "250 docs per shard in range(0,4000)")
      assert(r.getLong(4) === 1L,
        "runtime filter must be delivered and files pruned below the census")
    }
    // direct partition-planning contract: a delivered In(shard, …) keeps
    // exactly the matching shard-pure files
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "160").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    ShardSink.compact(dir, targetRowsPerFile = 10L) // 16 shard-pure files
    val scan = new graft.sources.ShardSinkScan(dir)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("shard", Array(1, 5, 9))))
    assert(scan.planInputPartitions().length === 3)
  }

  test("q_dsv2_write_roundtrip: rerunning replaces the manifest atomically, same answer") {
    val a = SinkLifecycles.writeRoundtrip(spark, sf001).collect()
    val b = SinkLifecycles.writeRoundtrip(spark, sf001).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.map(_.getLong(1)).sum === 20000L)
  }

  test("optimistic concurrency: parallel blind Appends ALL commit; every file set visible") {
    val dir = freshDir().getPath
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // four writers race the same table: the optimistic retry (re-read
    // base, flip at next version) must land all four — the old
    // single-writer detection threw away whichever lost the window
    val jobs = (0 until 4).map { i =>
      Future {
        spark.read.format("graft.sources.DocGenSource")
          .option("numDocs", "800").option("numPartitions", "2").load()
          .where(col("doc_id") >= i * 200L && col("doc_id") < (i + 1) * 200L)
          .write.format("graft.sources.ShardSinkSource")
          .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
      }
    }
    Await.result(Future.sequence(jobs), 120.seconds)
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(back.count() === 800L, "a concurrent append's files were dropped")
    assert(back.select("doc_id").distinct().count() === 800L)
    // one manifest version per commit, in an unbroken sequence
    assert(ShardSink.currentManifestVersion(dir) === 4L)
  }

  test("bin-packing compaction: in-band files keep their bytes, only fresh ingest rewrites") {
    // the checked query's own structural boolean: every first-pass chunk
    // name survives the second (binPack) pass verbatim
    val r = SinkLifecycles.binPackReport(spark, sf001).collect().head
    assert(r.getAs[Long]("kept_verbatim") === 1L)
    assert(r.getAs[Long]("n_docs") === 1000L)
    assert(r.getAs[Long]("n_shards") === 16L)
    // a fully in-band table: the binPack pass is a NO-OP (no commit)
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    ShardSink.compact(dir, targetRowsPerFile = 50L) // v2: 16 × 50-row chunks
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    ShardSink.compact(dir, targetRowsPerFile = 50L, binPack = true)
    assert(ShardSink.currentManifestVersion(dir) === 2L, "in-band: nothing to do")
    // a delete vector takes exactly ONE chunk out of band: the next pass
    // rewrites that chunk alone, folding the vector
    graft.sources.SinkTestAccess.morDelete(dir, 3L) // v3: vector on shard 3
    val beforeNames = ShardSink.committedEntries(dir).map(_.file).toSet
    ShardSink.compact(dir, targetRowsPerFile = 50L, binPack = true) // v4
    val after = ShardSink.committedEntries(dir)
    assert(after.size === 16)
    assert((beforeNames -- after.map(_.file).toSet).size === 1,
      "exactly the vectored chunk was rewritten")
    val sh3 = after.find(e => e.shardMin == 3).get
    assert(!sh3.hasDeletes && sh3.rows === 49L, "the vector folded")
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 799L)
  }

  test("file-exact consumption rejects non-convex doc predicates: IN/OR hulls stay residual") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // ONE file spanning [0,399]: any hull-contained predicate would have
    // been wrongly consumed as all-match before the fix
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    def read = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
    // IN: hull [0,399] contains the file — the count was 400 with the bug
    assert(read.where(col("doc_id").isin(0L, 399L)).count() === 2L)
    assert(read.where(col("doc_id").isin(0L, 399L)).agg(expr("count(*)"))
      .collect().head.getLong(0) === 2L)
    // OR of disjoint ranges: hull = everything
    assert(read.where(col("doc_id") < 10L || col("doc_id") > 389L).count() === 20L)
    // a SINGLE-value IN is convex — still consumed on a file-exact layout
    ShardSink.compact(dir, targetRowsPerFile = 25L)
    val one = read.where(col("doc_id").isin(5L)).agg(expr("count(*)"))
    assert(one.collect().head.getLong(0) === 1L)
  }

  test("exactDocInterval soundness: an exact filter's hull admits NO rejected id") {
    import org.apache.spark.sql.sources._
    import graft.sources.SinkTestAccess
    val candidates: Seq[Filter] = Seq(
      EqualTo("doc_id", 7L), In("doc_id", Array[Any](7L)),
      In("doc_id", Array[Any](3L, 9L)), In("doc_id", Array[Any](7L, 7L)),
      LessThan("doc_id", 10L), LessThanOrEqual("doc_id", 10L),
      GreaterThan("doc_id", 5L), GreaterThanOrEqual("doc_id", 5L),
      And(GreaterThan("doc_id", 2L), LessThanOrEqual("doc_id", 8L)),
      And(In("doc_id", Array[Any](5L)), LessThan("doc_id", 9L)),
      Or(LessThan("doc_id", 3L), GreaterThan("doc_id", 8L)),
      Or(EqualTo("doc_id", 1L), EqualTo("doc_id", 5L)),
      And(Or(LessThan("doc_id", 3L), GreaterThan("doc_id", 8L)), LessThan("doc_id", 20L)))
    // the consumption invariant: whenever a filter claims exactness,
    // EVERY id inside its interval satisfies the row predicate — a
    // violation is precisely the class of wrong-results bug the review
    // caught for IN/OR hulls
    candidates.filter(SinkTestAccess.exactDoc).foreach { f =>
      val (lo, hi) = SinkTestAccess.docInterval(f).get
      val pred = SinkTestAccess.rowPredicate(Array(f)).get
      (math.max(lo, -50L) to math.min(hi, 50L)).foreach { x =>
        assert(pred(x, (math.floorMod(x, 16L)).toInt),
          s"$f claims exact but its hull [$lo,$hi] contains rejected id $x")
      }
    }
    // the known non-convex shapes must refuse exactness outright
    assert(!SinkTestAccess.exactDoc(In("doc_id", Array[Any](3L, 9L))))
    assert(!SinkTestAccess.exactDoc(
      Or(LessThan("doc_id", 3L), GreaterThan("doc_id", 8L))))
    assert(!SinkTestAccess.exactDoc(
      Or(EqualTo("doc_id", 1L), EqualTo("doc_id", 5L))))
    // and the convex core must still be accepted (no over-refusal)
    assert(SinkTestAccess.exactDoc(EqualTo("doc_id", 7L)))
    assert(SinkTestAccess.exactDoc(In("doc_id", Array[Any](7L, 7L))))
    assert(SinkTestAccess.exactDoc(
      And(GreaterThan("doc_id", 2L), LessThanOrEqual("doc_id", 8L))))
  }

  test("autoCompact writer option: each append re-packs its own ingest") {
    val r = SinkLifecycles.autoCompactReport(spark, sf001).collect().head
    assert(r.getAs[Long]("auto_packed") === 1L,
      "every file shard-pure, one maintenance commit per append")
    assert(r.getAs[Long]("n_docs") === 1000L)
    // without the option nothing auto-runs (the default is untouched)
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    assert(ShardSink.currentManifestVersion(dir) === 1L)
    assert(ShardSink.committedEntries(dir).exists(e => e.shardMin != e.shardMax),
      "plain appends keep their straddling ingest file")
  }

  test("binPack retention: an all-in-band pass still releases below-horizon files, then converges") {
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save() // v1
    val v1File = ShardSink.committedEntries(dir).head.file
    // a RETAINING pass: horizon stays 1, the superseded v1 append is held
    ShardSink.compact(dir, retainVersions = 3, targetRowsPerFile = 50L) // v2
    assert(ShardSink.horizonOf(dir) === 1L)
    assert(new java.io.File(dir, v1File).exists(), "retention holds the superseded file")
    // everything is now in-band — but the retention request must still
    // move the horizon and RELEASE the held file (was: silent no-op)
    ShardSink.compact(dir, retainVersions = 0, targetRowsPerFile = 50L, binPack = true) // v3
    assert(ShardSink.currentManifestVersion(dir) === 3L)
    assert(ShardSink.horizonOf(dir) === 3L)
    assert(!new java.io.File(dir, v1File).exists(), "the expired append releases")
    // and the next identical pass has nothing to release: a true no-op
    ShardSink.compact(dir, retainVersions = 0, targetRowsPerFile = 50L, binPack = true)
    assert(ShardSink.currentManifestVersion(dir) === 3L, "converged — no commit churn")
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 800L)
  }

  test("version-hint discovery: O(1) forward probe; the hint is never load-bearing") {
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "400").option("numPartitions", "1").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 100); append(100, 200) // v1, v2 — each flip rewrites the hint
    val hint = new java.io.File(dir, "_manifest.hint")
    assert(hint.exists())
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath), "UTF-8").trim === "2")
    // hinted discovery lists NOTHING
    val before = graft.sources.SinkTestAccess.manifestListCount
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    assert(graft.sources.SinkTestAccess.manifestListCount === before,
      "hinted discovery must not enumerate the table directory")
    // a STALE hint (racing writers, crash between flip and hint) is a
    // lower bound: the forward probe self-heals, still without a listing
    def overwriteHint(s: String): Unit = {
      val w = graft.sources.SinkTestAccess.createFile(dir, "_manifest.hint")
      try w.write(s) finally w.close()
    }
    overwriteHint("1")
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    assert(graft.sources.SinkTestAccess.manifestListCount === before)
    // a torn/corrupt hint falls back to the full listing — sound
    overwriteHint("not-a-number")
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    assert(graft.sources.SinkTestAccess.manifestListCount === before + 1)
    // a missing hint falls back too; the next commit restores it
    java.nio.file.Files.delete(hint.toPath)
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    append(200, 300)
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath), "UTF-8").trim === "3")
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 300L)
  }

  test("bloom point-lookup skipping: doc_id = K opens only bloom-positive files on an unclustered layout") {
    // the filter itself: no false negatives, deterministic encoding
    val bits = graft.sources.DocBloom.empty()
    (0L until 500L).foreach(graft.sources.DocBloom.insert(bits, _))
    val enc = graft.sources.DocBloom.encode(bits)
    assert((0L until 500L).forall(graft.sources.DocBloom.mayContain(enc, _)),
      "a bloom may never false-negative an inserted id")
    assert(graft.sources.DocBloom.encode({
      val b2 = graft.sources.DocBloom.empty()
      (0L until 500L).foreach(graft.sources.DocBloom.insert(b2, _))
      b2
    }) === enc, "deterministic across builds — manifest bytes must be stable")
    assert(graft.sources.DocBloom.mayContain("not-base64!!", 1L),
      "malformed payloads read the file, never skip")
    // the checked query's own structural boolean proves the skip
    val r = SinkLifecycles.bloomLookupReport(spark, sf001).collect().head
    assert(r.getAs[Long]("doc_id") === 1337L)
    assert(r.getAs[Int]("shard") === (1337 % 16))
    assert(r.getAs[Long]("n_in") === 3L)
    assert(r.getAs[Long]("bloom_pruned") === 1L,
      "point lookups must open fewer files than the census")
    // plan surface: the scan advertises the bloom-point prune
    val dir = SinkLifecycles.scratchRoot(sf001, "sinkblm")
    val d = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir.getPath).load().where(col("doc_id") === 7L)
    assert(d.queryExecution.executedPlan.toString.contains("bloomPoints=1"),
      d.queryExecution.executedPlan.toString)
    // delete vectors keep the bloom a sound superset: the id still
    // resolves to its file, and the row is gone
    graft.sources.SinkTestAccess.morDelete(dir.getPath, 1337L)
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir.getPath).load().where(col("doc_id") === 1337L).count() === 0L)
  }

  test("compaction RE-BASES over concurrent blind appends instead of aborting") {
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "400").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 200) // v1
    // an interloper append lands INSIDE the compaction, between its input
    // read and its publish flip — the lost race must re-base, not abort
    graft.sources.SinkTestAccess.onNextCompactPublish(() => append(200, 300)) // v2
    ShardSink.compact(dir, targetRowsPerFile = 25L) // v3, carries the append
    assert(ShardSink.currentManifestVersion(dir) === 3L)
    val back = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    assert(back.count() === 300L, "the interleaved append's rows must survive")
    assert(back.where(col("doc_id") >= 200L).count() === 100L)
    // the census is the compacted snapshot PLUS the carried append files
    val entries = ShardSink.committedEntries(dir)
    val (compacted, carriedF) = entries.partition(_.file.startsWith("part-c"))
    assert(compacted.forall(e => e.shardMin == e.shardMax), "compacted files shard-pure")
    assert(compacted.map(_.rows).sum === 200L)
    assert(carriedF.nonEmpty && carriedF.map(_.rows).sum === 100L,
      "carried entries are the interloper's, verbatim")
    // an interloper that CHANGES an input file (vector growth) still
    // aborts loudly — the rewrite was derived from a stale snapshot
    graft.sources.SinkTestAccess.onNextCompactPublish(() =>
      graft.sources.SinkTestAccess.morDelete(dir, 5L))
    val e = intercept[IllegalStateException](ShardSink.compact(dir))
    assert(e.getMessage.contains("changed the operation's input files"), e.getMessage)
    // the interloper's delete is intact; the aborted compaction changed nothing
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 299L)
    // and a plain re-run (no interloper) now succeeds over the new state
    ShardSink.compact(dir)
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 299L)
  }

  test("DML RE-BASES over provably-disjoint concurrent appends; possible matches abort") {
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "600").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    def total: Long = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count()
    append(0, 200) // v1
    // copy-on-write DELETE doc_id < 100; interloper appends [300, 400) —
    // every added entry's doc envelope is disjoint from the predicate,
    // so the serial order (append, then delete) leaves them untouched:
    // the lost race must re-base, carrying the append verbatim
    graft.sources.SinkTestAccess.onNextDmlFlip(() => append(300, 400)) // v2
    graft.sources.SinkTestAccess.cowDelete(dir, Array(LessThan("doc_id", 100L))) // v3
    assert(ShardSink.currentManifestVersion(dir) === 3L)
    assert(total === 200L, "100 survivors of the delete + the carried 100")
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().where(col("doc_id") >= 300L).count() === 100L,
      "the interleaved append's rows survive the re-based delete")
    // merge-on-read DELETE of one doc id; a disjoint append re-bases too
    graft.sources.SinkTestAccess.onNextDmlFlip(() => append(400, 500)) // v4
    graft.sources.SinkTestAccess.morDeleteWhere(dir, Array(EqualTo("doc_id", 150L))) // v5
    assert(ShardSink.currentManifestVersion(dir) === 5L)
    assert(total === 299L)
    // an interloper whose rows MAY match the predicate aborts loudly:
    // stats cannot prove [500, 600) disjoint from doc_id >= 550
    graft.sources.SinkTestAccess.onNextDmlFlip(() => append(500, 600))
    val e1 = intercept[IllegalStateException](graft.sources.SinkTestAccess.cowDelete(
      dir, Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 550L))))
    assert(e1.getMessage.contains("may match"), e1.getMessage)
    assert(total === 399L, "the aborted delete changed nothing; the append is intact")
    // an interloper that TOUCHES a base entry (vector growth on a file
    // the delete kept) aborts: the carried entry would resurrect the row
    graft.sources.SinkTestAccess.onNextDmlFlip(() =>
      graft.sources.SinkTestAccess.morDelete(dir, 350L))
    val e2 = intercept[IllegalStateException](
      graft.sources.SinkTestAccess.cowDelete(dir, Array(LessThan("doc_id", 120L))))
    assert(e2.getMessage.contains("changed the operation's input files"), e2.getMessage)
    assert(total === 398L, "the interloper's vector delete is intact")
    // a CHECK constraint added mid-flight aborts: rows this commit lands
    // escaped the ADD-time validation scan
    graft.sources.SinkTestAccess.onNextDmlFlip(() =>
      graft.sources.SinkTestAccess.addConstraint(dir, "pos", "doc_id >= 0"))
    val e3 = intercept[IllegalStateException](graft.sources.SinkTestAccess.cowDelete(
      dir, Array(LessThan("doc_id", 120L))))
    assert(e3.getMessage.contains("CHECK constraints"), e3.getMessage)
    // and with no interloper the same delete now succeeds over the new state
    graft.sources.SinkTestAccess.cowDelete(dir, Array(LessThan("doc_id", 120L)))
    assert(total === 378L)
  }

  test("optimistic concurrency: a stale flip is GUARANTEED to collide (pin-at-read protocol)") {
    val dir = freshDir().getPath
    def append(lo: Long, hi: Long) =
      spark.read.format("graft.sources.DocGenSource")
        .option("numDocs", "400").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(0, 100)
    // pin a base at v1, then let an interloper land v2 — the formerly
    // racy shape (stale entry list flipped one past the interloper)
    val (baseV, base) = graft.sources.SinkTestAccess.resolveBase(dir)
    assert(baseV === 1L)
    append(100, 300)
    // the stale writer targets v2 = base+1, which now EXISTS: the fresh-
    // name rename collides and surfaces as a conflict — it can never
    // silently drop the interloper's files
    val e1 = intercept[Exception](
      graft.sources.SinkTestAccess.writeManifestAt(dir, base, "stale", baseV + 1))
    assert(graft.sources.SinkTestAccess.isConflict(e1), e1.toString)
    // the read-modify-write wrapper (DML, truncate, compaction) converts
    // the same lost race into a loud abort naming both versions
    val e2 = intercept[IllegalStateException](
      graft.sources.SinkTestAccess.flipFromBase(dir, baseV, base, "staledml"))
    assert(e2.getMessage.contains("concurrent-writer conflict"), e2.getMessage)
    // the interloper's commit is intact either way
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 300L)
  }

  private def messageChain(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
    sb.toString
  }

  test("CHECK constraints: ADD validates existing rows, every write path enforces, UNSET lifts") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.ck", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.ck.root", root)
    import s.implicits._
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "200").option("numPartitions", "2").load()
      .writeTo("ck.docs").append() // v1
    val dir = new java.io.File(root, "docs").getPath

    // ADD runs Delta's full-table validation: existing violators refuse the DDL
    val e0 = intercept[Exception](s.sql(
      "ALTER TABLE ck.docs SET TBLPROPERTIES ('graft.constraint.big_ids' = 'doc_id >= 100')"))
    assert(e0.getMessage.contains("existing rows violate"), e0.getMessage)
    assert(ShardSink.currentConstraints(dir).isEmpty)

    // admitted constraint: metadata-only commit, carried forward by data commits
    s.sql("ALTER TABLE ck.docs SET TBLPROPERTIES " +
      "('graft.constraint.valid_shard' = 'shard >= 0 AND shard < 16')")
    assert(ShardSink.currentConstraints(dir) ===
      Seq(("valid_shard", "shard >= 0 AND shard < 16")))
    Seq((500L, 3, "ok")).toDF("doc_id", "shard", "body").writeTo("ck.docs").append() // v3
    assert(ShardSink.currentConstraints(dir).map(_._1) === Seq("valid_shard"))

    // violating append fails in the task, BEFORE any manifest flip
    val before = s.read.table("ck.docs").count()
    val e1 = intercept[Exception](
      Seq((501L, -2, "bad")).toDF("doc_id", "shard", "body").writeTo("ck.docs").append())
    assert(messageChain(e1).contains("CHECK constraint valid_shard"), messageChain(e1))
    assert(s.read.table("ck.docs").count() === before)

    // NULL passes (ANSI/Delta): constraint over an evolved nullable column
    // admits rows whose cell is null-filled
    s.sql("ALTER TABLE ck.docs ADD COLUMN score BIGINT")
    s.sql("ALTER TABLE ck.docs SET TBLPROPERTIES ('graft.constraint.pos_score' = 'score > 0')")
    Seq((502L, 4, "nullscore")).toDF("doc_id", "shard", "body").writeTo("ck.docs").append()
    assert(s.read.table("ck.docs").where(col("doc_id") === 502L).count() === 1L)

    // copy-on-write UPDATE: postimages re-validate; a violating SET aborts
    // the whole rewrite and the table is untouched
    val e2 = intercept[Exception](s.sql("UPDATE ck.docs SET score = -1 WHERE doc_id = 500"))
    assert(messageChain(e2).contains("CHECK constraint pos_score"), messageChain(e2))
    assert(s.read.table("ck.docs").where(col("score") === -1L).count() === 0L)
    s.sql("UPDATE ck.docs SET score = 9 WHERE doc_id = 500")
    assert(s.read.table("ck.docs").where(col("score") === 9L).count() === 1L)

    // DDL guards: rename-under-constraint, duplicate names, bad predicates
    val e3 = intercept[Exception](s.sql("ALTER TABLE ck.docs RENAME COLUMN score TO points"))
    assert(e3.getMessage.contains("referenced by CHECK constraint pos_score"), e3.getMessage)
    val e4 = intercept[Exception](s.sql(
      "ALTER TABLE ck.docs SET TBLPROPERTIES ('graft.constraint.pos_score' = 'score > 10')"))
    assert(e4.getMessage.contains("already exists"), e4.getMessage)
    val e5 = intercept[Exception](s.sql(
      "ALTER TABLE ck.docs SET TBLPROPERTIES ('graft.constraint.oops' = 'missing > 0')"))
    assert(e5.getMessage.contains("unknown column"), e5.getMessage)
    val e6 = intercept[Exception](s.sql(
      "ALTER TABLE ck.docs SET TBLPROPERTIES ('graft.constraint.oops' = 'body > 3')"))
    assert(e6.getMessage.contains("string column"), e6.getMessage)

    // UNSET lifts enforcement, and LATER commits do not resurrect the
    // dropped set from older manifests
    s.sql("ALTER TABLE ck.docs UNSET TBLPROPERTIES ('graft.constraint.valid_shard')")
    s.sql("ALTER TABLE ck.docs UNSET TBLPROPERTIES ('graft.constraint.pos_score')")
    assert(ShardSink.currentConstraints(dir).isEmpty)
    val e7 = intercept[Exception](s.sql(
      "ALTER TABLE ck.docs UNSET TBLPROPERTIES ('graft.constraint.valid_shard')"))
    assert(e7.getMessage.contains("no CHECK constraint"), e7.getMessage)
    Seq((501L, -2, "now ok")).toDF("doc_id", "shard", "body").writeTo("ck.docs").append()
    assert(s.read.table("ck.docs").where(col("shard") === -2).count() === 1L)
    Seq((503L, -3, "still ok")).toDF("doc_id", "shard", "body").writeTo("ck.docs").append()
    assert(ShardSink.currentConstraints(dir).isEmpty)
    assert(s.read.table("ck.docs").where(col("shard") === -3).count() === 1L)
  }

  test("shard-grouped reads: compacted tables join and roll up with ZERO exchanges; uncompacted degrades to shuffle") {
    // the CHECKED query itself: two compacted sink tables, SPJ join +
    // per-shard rollup — the whole plan runs without one hash exchange
    // (the rollup rides the join's shard clustering)
    val df = SinkLifecycles.sinkSpj(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"shard-grouped sink join still shuffled:\n$plan")
    val rows = df.collect()
    assert(rows.length === 16)
    assert(rows.map(_.getLong(1)).sum === 1500L) // overlap [1500, 3000)
    // single-table rollup, step by step: BEFORE compaction one task file
    // carries several shards (clustered write, 4 shuffle partitions), so
    // the scan reports unknown partitioning and the rollup shuffles —
    // correct, just not exchange-free. The threshold at -1 shows Spark's
    // own distribution planning: a broadcast-sized input would otherwise
    // roll up in one task with no exchange either way (graft.plans.OnePartition)
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    def rollup() = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
      .groupBy("shard").agg(sum("doc_id").as("sum_ids"))
    val raw = rollup()
    assert(raw.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      raw.queryExecution.executedPlan.toString)
    assert(raw.collect().map(_.getLong(1)).sum === (0L until 800L).sum)
    // AFTER compaction every file is shard-pure (manifest-proven s0==s1):
    // KeyGroupedPartitioning(shard) reported, rollup plans NO exchange
    ShardSink.compact(dir)
    val grouped = rollup()
    val gplan = grouped.queryExecution.executedPlan.toString
    assert(!gplan.contains("Exchange hashpartitioning"), gplan)
    assert(grouped.collect().map(_.getLong(1)).sum === (0L until 800L).sum)
    // a MOR delete keeps files shard-pure — still exchange-free, vector
    // subtracted through the keyed partitions
    val morDir = dir // reuse: catalog-free positional delete via compact'd layout
    val scan = new ShardSinkScan(morDir,
      required = org.apache.spark.sql.types.StructType(graft.sources.DocGen.schema.fields))
    val parts = scan.planInputPartitions()
    assert(parts.forall(_.isInstanceOf[graft.sources.ShardSinkShardFile]), parts.mkString(", "))
    assert(parts.map(_.asInstanceOf[graft.sources.ShardSinkShardFile].shard).toSet ===
      (0 until 16).toSet)
  }

  test("chunked compaction: targetRowsPerFile splits shards into shard-pure chunks; grouped reads stay exchange-free; doc pruning gets finer") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    // 800 docs / 16 shards = 50 rows per shard → target 20 ⇒ 3 chunks each
    ShardSink.compact(dir, targetRowsPerFile = 20L)
    val entries = ShardSink.committedEntries(dir)
    assert(entries.length === 48, entries.map(_.file).mkString(", "))
    assert(entries.forall(e => e.hasStats && e.shardMin == e.shardMax))
    assert(entries.forall(_.rows <= 20L))
    // chunks are id-ordered partitions of the shard: doc ranges nest
    // without overlap inside each shard
    entries.groupBy(_.shardMin).foreach { case (_, es) =>
      val ranges = es.sortBy(_.docMin).map(e => (e.docMin, e.docMax))
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2, ranges.toString)
        case _ =>
      }
    }
    def read() = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
    // STILL shard-grouped: multiple chunks per shard carry the same key,
    // the V2 bucketing machinery groups them — rollup plans no exchange
    val rollup = read().groupBy("shard").agg(sum("doc_id").as("sum_ids"))
    assert(!rollup.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      rollup.queryExecution.executedPlan.toString)
    assert(rollup.collect().map(_.getLong(1)).sum === (0L until 800L).sum)
    // finer pruning: a narrow doc_id window plans a fraction of the 48
    // chunks (one chunk per shard at most for a ≤1/3-shard window)
    val pruned = read().where(col("doc_id") >= 100L && col("doc_id") < 110L)
    val scan = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.inputPartitions.size <= 16, s"${scan.inputPartitions.size} partitions planned")
    assert(pruned.count() === 10L)
  }

  test("CHECK constraints: predicates holding ';', '=' and quotes round-trip through the manifest") {
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    val cks = Seq("nosemi" -> "body <> 'a;b'", "eq" -> "body <> 'x=\"y\"' OR doc_id >= 0")
    cks.foreach { case (n, p) => graft.sources.SinkTestAccess.addConstraint(dir, n, p) }
    assert(ShardSink.currentConstraints(dir) === cks)
    // carried forward verbatim by a data commit, and enforced
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "200").option("numPartitions", "1").load()
      .where(col("doc_id") >= 100L)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    assert(ShardSink.currentConstraints(dir) === cks)
    import spark.implicits._
    val e = intercept[Exception](Seq((900L, 1, "a;b")).toDF("doc_id", "shard", "body")
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save())
    assert(messageChain(e).contains("CHECK constraint nosemi"), messageChain(e))
    assert(ShardSink.committedEntries(dir).map(_.rows).sum === 200L)
  }

  test("CHECK constraints: streaming epochs enforce like batch writes") {
    val root = freshDir().getPath
    val s0 = spark.newSession()
    s0.conf.set("spark.sql.catalog.cks", classOf[graft.sources.ShardSinkCatalog].getName)
    s0.conf.set("spark.sql.catalog.cks.root", root)
    import s0.implicits._
    Seq((1L, 1, "seed")).toDF("doc_id", "shard", "body").writeTo("cks.docs").append()
    s0.sql("ALTER TABLE cks.docs SET TBLPROPERTIES ('graft.constraint.pos_ids' = 'doc_id > 0')")
    val dir = new java.io.File(root, "docs").getPath
    val st = graft.streaming.StreamTune.session(spark)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = st.sqlContext
    val input = MemoryStream[(Long, Int, String)]
    val q = input.toDF().toDF("doc_id", "shard", "body")
      .writeStream.format("graft.sources.ShardSinkSource")
      .option("path", dir)
      .option("checkpointLocation", freshDir().getPath)
      .start()
    try {
      input.addData((10L, 2, "ok"))
      q.processAllAvailable() // valid epoch lands
      assert(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load().count() === 2L)
      input.addData((-5L, 3, "bad"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        if (q.exception.isDefined) throw q.exception.get
      }
      def chain(t: Throwable): String = {
        val sb = new StringBuilder
        var c: Throwable = t
        while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
        sb.toString
      }
      assert(chain(e).contains("CHECK constraint pos_ids"), chain(e))
    } finally q.stop()
    // the failed epoch committed nothing
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().count() === 2L)
  }

  test("column statistics: manifest min/max/ndv reach the cost-based optimizer") {
    val dir = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "320").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    val df = s.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().where(col("doc_id") >= 0L)
    val rel = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val stats = rel.stats
    assert(stats.rowCount.contains(BigInt(320)), stats.toString)
    val byName = stats.attributeStats.map { case (a, cs) => a.name -> cs }
    assert(byName.contains("doc_id"), s"no doc_id column stats: $stats")
    val doc = byName("doc_id")
    assert(doc.min.contains(0L) && doc.max.contains(319L), doc.toString)
    assert(doc.distinctCount.contains(BigInt(320)), doc.toString)
    val shard = byName("shard")
    assert(shard.min.contains(0) && shard.max.contains(15), shard.toString)
    assert(shard.nullCount.contains(BigInt(0)), shard.toString)
  }

  test("CHECK constraints: a constraint landing mid-write aborts the stale commit loudly") {
    val dir = freshDir().getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "50").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    // a write pins its (empty) constraint set at construction...
    val stale = new graft.sources.ShardSinkWrite(dir, "stalew")
    // ...an interloper's ADD CONSTRAINT lands (validating only EXISTING
    // rows — it cannot see the in-flight write's)...
    graft.sources.SinkTestAccess.addConstraint(dir, "neg_free", "doc_id >= 0")
    // ...so the stale commit, whose rows were never validated against
    // the newcomer, must abort instead of flipping them in
    val w = graft.sources.SinkTestAccess.createFile(dir, "_tmp/stale-race.tsv")
    try { w.write("-7\t3\tunchecked\n") } finally w.close()
    val e = intercept[IllegalStateException](stale.commit(Array(
      graft.sources.ShardSinkCommit(
        new java.io.File(dir, "_tmp/stale-race.tsv").getPath, 1L, 3, 3, -7L, -7L))))
    assert(e.getMessage.contains("concurrent ADD CONSTRAINT"), e.getMessage)
    assert(e.getMessage.contains("neg_free"), e.getMessage)
    // nothing flipped: the violating row is invisible
    assert(spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().where(col("doc_id") < 0L).count() === 0L)
    // a FRESH write (pinning the new set) enforces it normally
    val e2 = intercept[Exception] {
      val s2 = spark.newSession()
      import s2.implicits._
      Seq((-8L, 3, "bad")).toDF("doc_id", "shard", "body")
        .write.format("graft.sources.ShardSinkSource")
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    }
    assert(messageChain(e2).contains("CHECK constraint neg_free"), messageChain(e2))
  }

  test("two-level manifests: segment reuse makes commits O(changed); mixed-format history reads exactly") {
    import graft.sources.SinkTestAccess
    val dir = freshDir().getPath
    val twin = freshDir().getPath // same data, default single-blob format
    // AQE coalescing would land each append as ONE file; disable it so
    // appends produce several entries and segmentation has something to
    // segment
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def append(d: String, lo: Long, hi: Long): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "400").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .write.format("graft.sources.ShardSinkSource")
        .option("path", d).mode(org.apache.spark.sql.SaveMode.Append).save()
    ShardSink.setSegmentTarget(1)
    try {
      append(dir, 0L, 200L)   // v1: one file per shuffle partition → two-level
      assert(ShardSink.committedEntries(dir).size > 1)
      val v1Segs = SinkTestAccess.segmentRefs(dir, 1L)
      assert(v1Segs.nonEmpty, "v1 did not segment")
      val v1Bytes = v1Segs.map(n =>
        n -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, n)).toSeq).toMap
      // BLIND APPEND reuses every prior segment untouched: v2 references
      // all of v1's segment files, byte-identical, plus fresh ones for
      // the new entries only
      append(dir, 200L, 400L) // v2
      val v2Segs = SinkTestAccess.segmentRefs(dir, 2L)
      assert(v1Segs.forall(v2Segs.contains), s"v1 $v1Segs not reused in v2 $v2Segs")
      v1Bytes.foreach { case (n, bytes) =>
        assert(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, n)).toSeq === bytes, s"$n mutated")
      }
      assert((v2Segs.toSet -- v1Segs).nonEmpty)
      // a MERGE-ON-READ delete touches ONE entry (its dv): exactly the
      // segment holding it rewrites; every other segment is reused
      graft.sources.SinkTestAccess.morDelete(dir, 7L)
      val v3Segs = SinkTestAccess.segmentRefs(dir, 3L)
      assert(v3Segs.nonEmpty)
      val reused = v3Segs.toSet.intersect(v2Segs.toSet)
      assert(reused.size === v2Segs.size - 1,
        s"expected all-but-one segment reused: v2=$v2Segs v3=$v3Segs")
      // every read surface agrees with a single-blob twin of the same data
      append(twin, 0L, 200L); append(twin, 200L, 400L)
      graft.sources.SinkTestAccess.morDelete(twin, 7L)
      def read(d: String) = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", d).load()
      assert(read(dir).count() === 399L)
      assert(read(dir).exceptAll(read(twin)).isEmpty)
      assert(read(twin).exceptAll(read(dir)).isEmpty)
      // time travel across two-level versions
      assert(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("versionAsOf", "1").load().count() === 200L)
      // change feed derives across segmented versions (vector diff at v3)
      val feed = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true").load()
      assert(feed.where(col("_commit_version") === 3L &&
        col("_change_type") === "delete").count() === 1L)
      // a shallow clone FROM a segmented source: entriesAtVersion is the
      // shared seam, so the clone absolutizes the same entries whatever
      // the source's layout (and the clone's own v1 segments too)
      val cloneDir = freshDir().getPath + "/c"
      graft.sources.SinkTestAccess.cloneShallow(dir, cloneDir)
      assert(read(cloneDir).count() === 399L)
      assert(ShardSink.committedEntries(cloneDir).forall(e => e.file.startsWith("/")))
      // back under the target the NEXT commit inlines again — mixed
      // format history keeps reading end to end
      ShardSink.setSegmentTarget(100000)
      graft.sources.SinkTestAccess.morDelete(dir, 8L)
      assert(SinkTestAccess.segmentRefs(dir, 4L).isEmpty) // v4 is single-blob
      assert(read(dir).count() === 398L)
      assert(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("versionAsOf", "2").load().count() === 400L)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("partitions metadata table: pure shards roll up, straddlers land in the NULL row") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mtp", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mtp.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "320").option("numPartitions", "2").load()
      .writeTo("mtp.docs").append() // append files straddle shards
    val dir = new java.io.File(root, "docs").getPath
    val before = s.sql("SELECT * FROM mtp.docs.partitions").collect()
    // fresh append layout: every file straddles → one NULL-shard row
    // carrying the full census (nothing silently dropped)
    assert(before.exists(r => r.isNullAt(0)))
    assert(before.filter(r => r.isNullAt(0)).map(_.getLong(2)).sum +
      before.filter(r => !r.isNullAt(0)).map(_.getLong(2)).sum === 320L)
    graft.sources.ShardSink.compact(dir) // shard-pure files
    val after = s.sql("SELECT * FROM mtp.docs.partitions").collect()
    assert(after.length === 16 && after.forall(r => !r.isNullAt(0)))
    assert(after.map(_.getLong(2)).sum === 320L)
    // per-shard rows agree with the files table rolled up
    val fromFiles = s.sql(
      """SELECT shard_min, COUNT(*) nf, SUM(n_rows) nr
        |FROM mtp.docs.files WHERE shard_min = shard_max
        |GROUP BY shard_min""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val fromParts = after.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromParts === fromFiles)
  }

  test("metadata tables: files/history/tags/constraints via the extra identifier level") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mt2", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mt2.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "1").load()
      .writeTo("mt2.docs").append() // v1
    s.sql("ALTER TABLE mt2.docs SET TBLPROPERTIES ('graft.constraint.ok' = 'shard < 16')") // v2
    s.sql("ALTER TABLE mt2.docs SET TBLPROPERTIES ('graft.tag.base' = '1')")
    val files = s.sql("SELECT * FROM mt2.docs.files")
    assert(files.columns.toSeq === Seq(
      "file", "n_rows", "shard_min", "shard_max", "doc_min", "doc_max",
      "has_deletes", "foreign"))
    assert(files.agg(sum("n_rows")).head.getLong(0) === 100L)
    assert(files.where(col("foreign") || col("has_deletes")).count() === 0L)
    val hist = s.sql("SELECT version, op FROM mt2.docs.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist === Seq((1L, "append"), (2L, "addConstraint")), hist.toString)
    assert(s.sql("SELECT name, predicate FROM mt2.docs.constraints").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("ok", "shard < 16")))
    assert(s.sql("SELECT name, version FROM mt2.docs.tags").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("base", 1L)))
    // no shadowing at the top level: `mt2.files` (empty namespace) is a
    // plain — empty — table, and a commitless parent keeps plain
    // resolution for `parent.files` too
    assert(s.read.table("mt2.files").count() === 0L)
    assert(s.read.table("mt2.nocommits.files").count() === 0L)
    // a shallow clone's files table flags every entry foreign
    val srcDir = new java.io.File(root, "docs").getPath
    s.sql(s"ALTER TABLE mt2.c SET TBLPROPERTIES ('graft.clone' = '$srcDir')")
    assert(s.sql("SELECT * FROM mt2.c.files").where(!col("foreign")).count() === 0L)
    assert(s.sql("SELECT op FROM mt2.c.history").collect().map(_.getString(0)).toSeq ===
      Seq("clone"))
  }

  test("operation markers + SHOW TBLPROPERTIES surface the manifest state") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.pr", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.pr.root", root)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "1").load()
      .writeTo("pr.docs").append() // v1: append
    s.sql("ALTER TABLE pr.docs SET TBLPROPERTIES ('graft.constraint.ok' = 'shard >= 0')") // v2
    s.sql("ALTER TABLE pr.docs ADD COLUMN note STRING") // v3: alter
    s.sql("DELETE FROM pr.docs WHERE doc_id < 10") // v4: delete (CoW)
    val dir = new java.io.File(root, "docs").getPath
    s.sql("ALTER TABLE pr.docs SET TBLPROPERTIES ('graft.tag.base' = '1')") // tag, no commit
    assert(ShardSink.history(dir).map(t => (t._1, t._2)) ===
      Seq((1L, "append"), (2L, "addConstraint"), (3L, "alter"), (4L, "delete")))
    // SHOW TBLPROPERTIES: constraint rows come back under the SAME keys
    // the DDL uses (re-runnable), alongside version/horizon/tags/modes
    val props = s.sql("SHOW TBLPROPERTIES pr.docs").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.constraint.ok") === "shard >= 0", props.toString)
    assert(props("graft.tag.base") === "1")
    assert(props("graft.version") === "4")
    assert(props("graft.horizon") === "1")
    assert(props("delete.mode") === "copy-on-write")
  }

  test("shallow clone: zero-copy create, independent divergence, own history, CDF plain-diff, compact materializes") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cl", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.cl.root", root)
    s.conf.set("spark.sql.catalog.cl.delete.mode", "merge-on-read")
    import s.implicits._
    def append(lo: Long, hi: Long): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "400").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .writeTo("cl.src").append()
    append(0L, 300L)   // v1
    append(300L, 400L) // v2
    val srcDir = new java.io.File(root, "src").getPath
    val cloneDir = new java.io.File(root, "c1").getPath
    // clone AT A TAG (string refs work like version travel)
    s.sql("ALTER TABLE cl.src SET TBLPROPERTIES ('graft.tag.snap' = '1')")
    s.sql(s"ALTER TABLE cl.c1 SET TBLPROPERTIES ('graft.clone' = '$srcDir@snap')")
    assert(s.read.table("cl.c1").count() === 300L)
    // ZERO COPY: the clone dir holds no data files, only its manifest
    def localTsv() = Option(new java.io.File(cloneDir).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".tsv"))
    assert(localTsv() === 0, s"clone copied data: ${localTsv()} local files")
    // change feed read NOW, while v1 is the whole history: the
    // clone-creation commit is plain-diff — 300 inserts, read zero-copy
    // from the source's files (later CoW DML folds the MOR vector and
    // sweeps it — retention-0 feed history expires like any table's)
    val feed = s.read.format("graft.sources.ShardSinkSource")
      .option("path", cloneDir).option("readChangeFeed", "true").load()
    val v1 = feed.where(col("_commit_version") === 1L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1 === Map("insert" -> 300L), v1.toString)
    // MOR delete on the clone: a LOCAL vector over the FOREIGN file —
    // still zero local data files, source untouched
    s.sql("DELETE FROM cl.c1 WHERE doc_id < 50")
    assert(s.read.table("cl.c1").count() === 250L)
    assert(s.read.table("cl.src").count() === 400L)
    assert(localTsv() === 0)
    // append to the clone lands locally; the source never sees it
    Seq((5000L, 3, "local")).toDF("doc_id", "shard", "body").writeTo("cl.c1").append()
    assert(s.read.table("cl.c1").count() === 251L)
    assert(s.read.table("cl.src").count() === 400L)
    // CoW UPDATE on the clone rewrites the affected foreign file into a
    // LOCAL replacement; the source's bytes survive (manifest-only drop)
    s.sql("UPDATE cl.c1 SET body = 'zz' WHERE doc_id = 100")
    assert(s.read.table("cl.c1").where(col("body") === "zz").count() === 1L)
    assert(s.read.table("cl.src").count() === 400L)
    assert(s.read.table("cl.src").where(col("body") === "zz").count() === 0L)
    // the clone's OWN history: v1 is the cloned snapshot
    assert(s.sql("SELECT * FROM cl.c1 VERSION AS OF 1").count() === 300L)
    // compaction MATERIALIZES the clone: every entry becomes local, and
    // the source dependency ends — destroying the source's files no
    // longer touches the clone
    ShardSink.compact(cloneDir)
    assert(ShardSink.committedEntries(cloneDir).forall(e => !e.file.startsWith("/")),
      ShardSink.committedEntries(cloneDir).map(_.file).mkString(", "))
    ShardSink.compact(srcDir) // rewrites + sweeps the source's originals
    assert(s.read.table("cl.c1").count() === 251L)
  }

  test("shallow clone: source rewrites break the clone loudly; refusals; clone of clone; constraints inherit") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.cl2", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.cl2.root", root)
    import s.implicits._
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "200").option("numPartitions", "2").load()
      .writeTo("cl2.src").append()
    s.sql("ALTER TABLE cl2.src SET TBLPROPERTIES ('graft.constraint.small' = 'doc_id < 1000')")
    val srcDir = new java.io.File(root, "src").getPath
    val c1Dir = new java.io.File(root, "c1").getPath
    s.sql(s"ALTER TABLE cl2.c1 SET TBLPROPERTIES ('graft.clone' = '$srcDir')") // latest
    assert(s.read.table("cl2.c1").count() === 200L)
    // the cloned snapshot's CHECK constraints are in force on the clone
    assert(ShardSink.currentConstraints(c1Dir) === Seq(("small", "doc_id < 1000")))
    val e0 = intercept[Exception](
      Seq((5000L, 1, "big")).toDF("doc_id", "shard", "body").writeTo("cl2.c1").append())
    assert(messageChain(e0).contains("CHECK constraint small"), messageChain(e0))
    // clone OF a clone: entries stay absolute against the ORIGINAL files
    s.sql(s"ALTER TABLE cl2.c2 SET TBLPROPERTIES ('graft.clone' = '$c1Dir')")
    assert(s.read.table("cl2.c2").count() === 200L)
    // refusals: re-clone onto a table with commits; out-of-range version;
    // empty source
    val e1 = intercept[Exception](
      s.sql(s"ALTER TABLE cl2.c1 SET TBLPROPERTIES ('graft.clone' = '$srcDir')"))
    assert(e1.getMessage.contains("already has commits"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql(s"ALTER TABLE cl2.c3 SET TBLPROPERTIES ('graft.clone' = '$srcDir@9')"))
    assert(e2.getMessage.contains("source is at version"), e2.getMessage)
    val e3 = intercept[Exception](
      s.sql(s"ALTER TABLE cl2.c4 SET TBLPROPERTIES " +
        s"('graft.clone' = '${new java.io.File(root, "nothing").getPath}')"))
    assert(e3.getMessage.contains("no committed version"), e3.getMessage)
    // THE documented hazard: compaction on the SOURCE releases the files
    // both clones reference — reads AND metadata-only counts fail with
    // the named error, never a raw FileNotFound or a silently-stale count
    ShardSink.compact(srcDir)
    val e4 = intercept[Exception](s.read.table("cl2.c1").collect())
    assert(e4.getMessage.contains("source files that no longer exist"), e4.getMessage)
    val e5 = intercept[Exception](s.read.table("cl2.c2").count())
    assert(e5.getMessage.contains("source files that no longer exist"), e5.getMessage)
    // DML over the broken clone gets the same named error, not a raw
    // FileNotFound mid-rewrite
    val e6 = intercept[Exception](s.sql("DELETE FROM cl2.c1 WHERE shard = 1"))
    assert(messageChain(e6).contains("source files that no longer exist"), messageChain(e6))
    // a source PATH containing '@' clones at latest when the prefix is
    // NOT a table (the '@' shorthand only applies to real-table
    // prefixes — a sibling table named like the prefix takes the
    // shorthand reading, which is why the explicit graft.clone.version
    // property exists: it is immune to '@' entirely)
    val atDir = new java.io.File(root, "ingest@host").getPath
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "30").option("numPartitions", "1").load()
      .write.format("graft.sources.ShardSinkSource")
      .option("path", atDir).mode(org.apache.spark.sql.SaveMode.Append).save() // v1
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "40").option("numPartitions", "1").load()
      .where(col("doc_id") >= 30L)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", atDir).mode(org.apache.spark.sql.SaveMode.Append).save() // v2
    s.sql(s"ALTER TABLE cl2.cat1 SET TBLPROPERTIES ('graft.clone' = '$atDir')")
    assert(s.read.table("cl2.cat1").count() === 40L) // latest, not 'version 2 of src'
    s.sql(s"ALTER TABLE cl2.cat2 SET TBLPROPERTIES " +
      s"('graft.clone' = '$atDir', 'graft.clone.version' = '1')")
    assert(s.read.table("cl2.cat2").count() === 30L)
  }

  test("CHECK constraints: IS NOT NULL lifecycle; RESTORE reverts the constraint set with the data") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.ckn", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.ckn.root", root)
    import s.implicits._
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "50").option("numPartitions", "1").load()
      .writeTo("ckn.docs").append() // v1
    val dir = new java.io.File(root, "docs").getPath
    s.sql("ALTER TABLE ckn.docs ADD COLUMN score BIGINT") // v2
    // NOT NULL (spelled IS NOT NULL) is DEFINITE: the existing null cells
    // are violations, not UNKNOWN-passes — the ADD refuses until backfill
    val e1 = intercept[Exception](s.sql(
      "ALTER TABLE ckn.docs SET TBLPROPERTIES ('graft.constraint.score_nn' = 'score IS NOT NULL')"))
    assert(e1.getMessage.contains("existing rows violate"), e1.getMessage)
    s.sql("UPDATE ckn.docs SET score = doc_id") // v3: backfill
    s.sql("ALTER TABLE ckn.docs SET TBLPROPERTIES " +
      "('graft.constraint.score_nn' = 'score IS NOT NULL')") // v4
    // Spark null-fills the missing column by name — and NOT NULL rejects it
    val e2 = intercept[Exception](
      Seq((100L, 4, "x")).toDF("doc_id", "shard", "body").writeTo("ckn.docs").append())
    assert(messageChain(e2).contains("CHECK constraint score_nn"), messageChain(e2))
    Seq((100L, 4, "x", 5L)).toDF("doc_id", "shard", "body", "score")
      .writeTo("ckn.docs").append() // v5
    assert(s.read.table("ckn.docs").count() === 51L)
    // RESTORE reverts table METADATA with the data (Delta semantics): at
    // the pre-constraint version the set is empty and the null append lands
    s.sql("ALTER TABLE ckn.docs SET TBLPROPERTIES ('graft.restore' = '3')") // v6
    assert(ShardSink.currentConstraints(dir).isEmpty)
    Seq((200L, 5, "y")).toDF("doc_id", "shard", "body").writeTo("ckn.docs").append() // v7
    assert(s.read.table("ckn.docs").where(col("doc_id") === 200L).count() === 1L)
    // restoring forward to the constrained snapshot re-arms enforcement
    s.sql("ALTER TABLE ckn.docs SET TBLPROPERTIES ('graft.restore' = '5')") // v8
    assert(ShardSink.currentConstraints(dir).map(_._1) === Seq("score_nn"))
    val e3 = intercept[Exception](
      Seq((300L, 6, "z")).toDF("doc_id", "shard", "body").writeTo("ckn.docs").append())
    assert(messageChain(e3).contains("CHECK constraint score_nn"), messageChain(e3))
    assert(s.read.table("ckn.docs").count() === 51L) // v5's snapshot exactly
  }

  test("CHECK constraints: merge-on-read delta writer enforces on UPDATE postimages and MERGE inserts") {
    val root = freshDir().getPath
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.ckm", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.ckm.root", root)
    s.conf.set("spark.sql.catalog.ckm.rlo.mode", "merge-on-read")
    import s.implicits._
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "100").option("numPartitions", "2").load()
      .writeTo("ckm.docs").append()
    val dir = new java.io.File(root, "docs").getPath
    s.sql("ALTER TABLE ckm.docs SET TBLPROPERTIES ('graft.constraint.small_ids' = 'doc_id < 1000')")

    // delta UPDATE postimage violating → task failure, no vector, no part-u
    val e1 = intercept[Exception](
      s.sql("UPDATE ckm.docs SET doc_id = 5000 WHERE doc_id = 7"))
    assert(messageChain(e1).contains("CHECK constraint small_ids"), messageChain(e1))
    assert(s.read.table("ckm.docs").where(col("doc_id") === 7L).count() === 1L)
    assert(s.read.table("ckm.docs").count() === 100L)

    // MERGE insert branch violating → same enforcement point
    Seq((2000L, 1, "too big")).toDF("doc_id", "shard", "body")
      .createOrReplaceTempView("ckm_updates")
    val e2 = intercept[Exception](s.sql(
      """MERGE INTO ckm.docs t USING ckm_updates u ON t.doc_id = u.doc_id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(messageChain(e2).contains("CHECK constraint small_ids"), messageChain(e2))
    assert(s.read.table("ckm.docs").count() === 100L)

    // valid delta UPDATE still lands
    s.sql("UPDATE ckm.docs SET doc_id = 900 WHERE doc_id = 7")
    assert(s.read.table("ckm.docs").where(col("doc_id") === 900L).count() === 1L)
    assert(ShardSink.currentConstraints(dir).map(_._1) === Seq("small_ids"))
  }
}
