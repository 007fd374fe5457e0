package graft

import graft.sources.{ShardSink, SinkMvDist, SinkTestAccess}
import graft.sources.SinkMatView.MvAgg
import org.apache.spark.sql.functions._

/** Round-15 INCREMENTAL MATERIALIZED VIEWS: [[graft.sources.SinkMatView]]'s
  * single-table definition surface and change algebra, driven through the
  * MV engine ([[SinkMvDist]]) at ONE bucket — the small-rollup shape the
  * `q_dsv2_mv_*` lifecycles use. The refresh must be O(changed files) —
  * proven with the read counter, not claimed — exact against a full
  * recompute through mixed DML, crash-safe at the state flip, and
  * race-safe under concurrent refreshes. The end-to-end lifecycle (update
  * fast-path, pruned dirty recompute, group drop and resurrection)
  * additionally sits under the driver's hash gate as `q_dsv2_mv_refresh`.
  */
class SinkMatViewSpec extends SparkSpec {

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getPath
  }

  private def append(dir: String, lo: Long, hi: Long, n: Int = 1600): Unit =
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", n.toString).option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()

  private def sourceRollup(dir: String): Set[(Int, Long, Long, Long, Long)] =
    spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"),
        min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  private def mvRollup(mvDir: String): Set[(Int, Long, Long, Long, Long)] =
    SinkMvDist.read(spark, mvDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  private val rollupAggs = Seq(
    MvAgg("n", "count"), MvAgg("s", "sum", "doc_id"),
    MvAgg("lo", "min", "doc_id"), MvAgg("hi", "max", "doc_id"))

  private def entryCount(dir: String): Int = SinkTestAccess.resolveBase(dir)._2.length

  private def mvDirOf(dir: String): String = dir + ".mv"

  /** A one-bucket MV over `dir` at `mvDir`. */
  private def create(
      s: org.apache.spark.sql.SparkSession, dir: String, mvDir: String,
      groups: Seq[String], aggs: Seq[MvAgg], where: String = ""): Long =
    SinkMvDist.create(s, dir, mvDir, groups, aggs, where, buckets = 1)

  test("refresh IO is O(changed files): an insert-only refresh opens exactly the new commit") {
    val dir = freshDir("mv_inc")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 1600L) // v1
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    val filesBefore = entryCount(dir)
    append(dir, 1600L, 1700L, n = 1700) // v2: the delta
    val newFiles = entryCount(dir) - filesBefore
    assert(newFiles >= 1)
    val c0 = ShardSink.dataFileReadCount.get()
    val stats = SinkMvDist.refresh(spark, dir, mvDir)
    val opened = ShardSink.dataFileReadCount.get() - c0
    assert(stats.applied && stats.fromV === 1L && stats.toV === 2L)
    // new maxes extend in-place (1600.. sits above every recorded hi):
    // no dirty recompute, so the ONLY data IO is the new commit's files
    assert(stats.dirtyGroups === 0L)
    assert(opened === newFiles.toLong,
      s"refresh opened $opened files; the delta commit has $newFiles (census ${entryCount(dir)})")
    assert(mvRollup(mvDir) === sourceRollup(dir))
  }

  test("incremental fold equals full recompute through appends, deletes, drop and resurrection") {
    val dir = freshDir("mv_full")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 800L) // v1
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    append(dir, 800L, 1600L) // v2
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 1200L))) // v3
    SinkMvDist.refresh(spark, dir, mvDir)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    // drop shard 7 entirely, refresh: the group must LEAVE the view
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.EqualTo("shard", 7))) // v4
    SinkMvDist.refresh(spark, dir, mvDir)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    assert(!mvRollup(mvDir).exists(_._1 == 7))
    // resurrect it with a late append
    append(dir, 1600L, 1640L, n = 1700) // v5
    SinkMvDist.refresh(spark, dir, mvDir)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    assert(mvRollup(mvDir).exists(_._1 == 7))
    assert(SinkMvDist.lastSourceVersion(mvDir) === 5L)
  }

  test("dirty extreme recompute is pruned to the dirty group's files") {
    val dir = freshDir("mv_dirty")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 1600L) // v1
    ShardSink.compact(dir) // v2: shard-pure files — the pruning substrate
    val census = entryCount(dir)
    assert(census >= 16, s"expected one file per shard, got $census")
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    // remove shard 5's recorded max (1589 = largest id ≡ 5 mod 16 < 1600):
    // the extreme is no longer derivable → ONE group recomputes
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.EqualTo("doc_id", 1589L))) // v3
    val c0 = ShardSink.dataFileReadCount.get()
    val stats = SinkMvDist.refresh(spark, dir, mvDir)
    val opened = ShardSink.dataFileReadCount.get() - c0
    assert(stats.dirtyGroups === 1L)
    // IO = the delete's one change partition + the recompute scan pruned
    // to shard 5's single compacted file — never the census
    assert(opened <= 3L, s"dirty recompute opened $opened files (census $census)")
    assert(mvRollup(mvDir) === sourceRollup(dir))
    assert(mvRollup(mvDir).find(_._1 == 5).get._5 === 1573L)
  }

  test("no-op refresh performs zero data IO") {
    val dir = freshDir("mv_noop")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 200L, n = 200)
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    val v = SinkMvDist.currentVersion(mvDir)
    val c0 = ShardSink.dataFileReadCount.get()
    val stats = SinkMvDist.refresh(spark, dir, mvDir)
    assert(!stats.applied && stats.changeRows === 0L)
    assert(ShardSink.dataFileReadCount.get() === c0)
    assert(SinkMvDist.currentVersion(mvDir) === v)
  }

  test("crash at the state flip: previous state intact, retry converges") {
    val dir = freshDir("mv_crash")
    val local = java.nio.file.Files.createTempDirectory("mv_crash_state").toString
    val mvDir = "faultfs://" + local
    append(dir, 0L, 400L, n = 400)
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    append(dir, 400L, 500L, n = 500)
    // crash 1: the state writes die mid-create (segment and header
    // bodies both stage under `_mvd.tmp-` names)
    FaultFs.failCreateContaining.set("_mvd.tmp")
    try intercept[Exception](SinkMvDist.refresh(spark, dir, mvDir))
    finally FaultFs.failCreateContaining.set(null)
    assert(SinkMvDist.currentVersion(mvDir) === 1L)
    assert(SinkMvDist.lastSourceVersion(mvDir) === 1L)
    // crash 2: the segments and header body wrote, the flip rename dies
    FaultFs.failRenameTo.set("_mvd.v2.json")
    try intercept[Exception](SinkMvDist.refresh(spark, dir, mvDir))
    finally FaultFs.failRenameTo.set(null)
    assert(SinkMvDist.currentVersion(mvDir) === 1L)
    assert(SinkMvDist.lastSourceVersion(mvDir) === 1L)
    // both windows re-derive from the immutable commit log: retry is exact
    val stats = SinkMvDist.refresh(spark, dir, mvDir)
    assert(stats.applied && SinkMvDist.currentVersion(mvDir) === 2L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
  }

  test("concurrent refresh: the loser retries into a no-op, never a double-apply") {
    val dir = freshDir("mv_race")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 400L, n = 400)
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    append(dir, 400L, 500L, n = 500)
    // a REAL competing refresh lands inside the loser's read→flip window
    var innerApplied = false
    SinkTestAccess.onNextMvdFlip(() => {
      innerApplied = SinkMvDist.refresh(spark, dir, mvDir).applied
    })
    val outer = SinkMvDist.refresh(spark, dir, mvDir)
    assert(innerApplied, "the interposed refresh must win")
    assert(!outer.applied, "the loser must observe coverage and no-op")
    assert(SinkMvDist.currentVersion(mvDir) === 2L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
  }

  test("copy-on-write DML without cdf.enabled fails the refresh loudly") {
    val dir = freshDir("mv_cow")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 400L, n = 400)
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    SinkTestAccess.cowDelete(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 300L)))
    val e = intercept[Exception](SinkMvDist.refresh(spark, dir, mvDir))
    assert(e.getMessage.contains("change feed") || e.getMessage.contains("change record"),
      s"expected the named CDF-gap error, got: ${e.getMessage}")
    // the MV stays at its last consistent watermark
    assert(SinkMvDist.lastSourceVersion(mvDir) === 1L)
  }

  test("streaming apply: replays are no-ops, gaps fail loudly") {
    val dir = freshDir("mv_stream")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 400L, n = 600) // v1
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    append(dir, 400L, 500L, n = 600) // v2
    append(dir, 500L, 600L, n = 600) // v3
    def changesOf(v: Long) =
      spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", v - 1).option("changeFeedTo", v).load()
    val first = SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(2L), 2L)
    assert(first.applied && SinkMvDist.lastSourceVersion(mvDir) === 2L)
    // exactly-once on replay: the watermark records the covered commit
    val replay = SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(2L), 2L)
    assert(!replay.applied && SinkMvDist.currentVersion(mvDir) === 2L)
    // a gap (v4 applied over a view at v2... simulate by appending v4 and
    // skipping v3) must fail loudly, never silently drift
    append(dir, 600L, 700L, n = 700) // v4
    val e = intercept[IllegalArgumentException](
      SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(4L), 4L))
    assert(e.getMessage.contains("gap"))
    // in-order catch-up converges to the batch answer
    SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(3L), 3L)
    SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(4L), 4L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
  }

  test("streaming apply fast-forwards over verified no-data commits instead of wedging") {
    val dir = freshDir("mv_ffwd")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 400L, n = 800) // v1
    create(spark, dir, mvDir, Seq("shard"), rollupAggs)
    // v2: OPTIMIZE — derives an EMPTY change feed, so the CDF stream
    // never delivers a micro-batch for it and the next data batch
    // arrives with a version gap
    ShardSink.compact(dir)
    append(dir, 400L, 600L, n = 800) // v3: the next data commit
    def changesOf(fromV: Long, toV: Long) =
      spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", fromV).option("changeFeedTo", toV).load()
    // before round 16 this require(toV == srcV + 1) wedged the MV
    // permanently; the gap (1, 2] is provably change-free, so the fold
    // applies and the watermark fast-forwards
    val st = SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(2L, 3L), 3L)
    assert(st.applied && SinkMvDist.lastSourceVersion(mvDir) === 3L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    // a gap that HIDES a data commit still fails loudly
    append(dir, 600L, 700L, n = 800) // v4 (data — about to be skipped)
    append(dir, 700L, 800L, n = 800) // v5
    val e = intercept[IllegalArgumentException](
      SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(4L, 5L), 5L))
    assert(e.getMessage.contains("gap"))
    // in-order catch-up still converges
    SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(3L, 4L), 4L)
    SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(4L, 5L), 5L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
  }

  test("refresh folds exactly across RESTORE and replaceWhere source commits") {
    val root = java.nio.file.Files.createTempDirectory("mv_rst").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mv_rst", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mv_rst.root", root)
    s.conf.set("spark.sql.catalog.mv_rst.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mv_rst.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mv_rst.cdf.enabled", "true")
    def src = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
    src.writeTo("mv_rst.docs").append() // v1
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = mvDirOf(dir)
    create(s, dir, mvDir, Seq("shard"), rollupAggs)
    def parity(): Unit = {
      val got = SinkMvDist.read(s, mvDir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val want = s.read.table("mv_rst.docs").groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("s"),
          min("doc_id").as("lo"), max("doc_id").as("hi"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got === want)
    }
    s.sql("DELETE FROM mv_rst.docs WHERE doc_id >= 900") // v2
    val r1 = SinkMvDist.refresh(s, dir, mvDir)
    assert(r1.dirtyGroups === 16L) // every shard's max in the tail
    parity()
    // RESTORE to v1: the feed surfaces the resurrected rows as inserts —
    // the fold extends extremes back on the fast path
    s.sql("ALTER TABLE mv_rst.docs SET TBLPROPERTIES ('graft.restore' = '1')") // v3
    val r2 = SinkMvDist.refresh(s, dir, mvDir)
    assert(r2.applied && r2.changeRows === 300L && r2.dirtyGroups === 0L, r2.toString)
    parity()
    // replaceWhere shard 3: ONE commit dropping the shard and re-landing
    // a SUBSET — net retractions including the recorded max → dirty
    src.where(col("shard") === 3 && ((col("doc_id") - 3L) / 16L) % 3L === 0L)
      .writeTo("mv_rst.docs").overwrite(col("shard") === 3) // v4
    val r3 = SinkMvDist.refresh(s, dir, mvDir)
    assert(r3.applied && r3.dirtyGroups === 1L, r3.toString)
    parity()
    assert(SinkMvDist.lastSourceVersion(mvDir) === 4L)
  }

  test("multi-column groups, WHERE predicate, and NULL group values fold correctly") {
    val dir = freshDir("mv_multi")
    // pre-evolution rows: lang is NULL → they form their own group
    append(dir, 0L, 200L, n = 1000)
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1000").option("numPartitions", "2").load()
      .where(col("doc_id") >= 200L && col("doc_id") < 800L)
      .withColumn("lang", concat(lit("l"), (col("doc_id") % 2).cast("string")))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    val mvDir = mvDirOf(dir)
    // predicate excludes the doc_id % 7 == 0 rows from the view entirely
    create(spark, dir, mvDir, Seq("lang", "shard"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id"),
        MvAgg("hi", "max", "doc_id")),
      where = "doc_id % 7 <> 0")
    def expected = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
      .where(expr("doc_id % 7 <> 0"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"), max("doc_id").as("hi"))
    def viewDf = SinkMvDist.read(spark, mvDir)
    def diff = viewDf.exceptAll(expected).union(expected.exceptAll(viewDf)).count()
    assert(diff === 0L)
    assert(viewDf.where(col("lang").isNull).count() > 0L, "NULL lang must form groups")
    // deletes touching null-group rows and the predicate-excluded rows
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.LessThan("doc_id", 100L)))
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 700L)))
    val st = SinkMvDist.refresh(spark, dir, mvDir)
    assert(st.applied)
    assert(diff === 0L)
    // predicate-excluded rows never contributed: deleting doc 700 (a
    // multiple of 7) must not have driven any group negative — covered
    // by the fold's own count guard having not thrown above
  }

  test("MV aggregates over an evolved column: null-filled change rows fold like SQL") {
    val dir = freshDir("mv_evolve")
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "600").option("numPartitions", "2").load()
      .where(col("doc_id") < 300L)
      .withColumn("lang", concat(lit("x"), (col("doc_id") % 2).cast("string")))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save() // v1: lang present
    val mvDir = mvDirOf(dir)
    create(spark, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sl", "sum", "length(lang)")))
    // v2: an ingest MISSING the evolved column — its rows (and its
    // change rows) null-fill lang; sum must ignore them, count must not
    append(dir, 300L, 600L, n = 600)
    val st = SinkMvDist.refresh(spark, dir, mvDir)
    assert(st.applied)
    val expected = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load()
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(length(col("lang"))).as("sl"))
    val view = SinkMvDist.read(spark, mvDir)
    assert(view.exceptAll(expected).union(expected.exceptAll(view)).count() === 0L)
    // the evolved-null rows contributed to n but not to sl
    assert(view.agg(sum("n"), sum("sl")).collect().head.getLong(0) === 600L)
  }

  test("sum/xor return to SQL NULL when the last non-null contribution is retracted") {
    val dir = freshDir("mv_nullsum")
    // shard-0 group: doc 0 carries the ONLY non-null lang; docs 16/32 null
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "48").option("numPartitions", "1").load()
      .where(col("shard") === 0)
      .withColumn("lang", when(col("doc_id") === 0L, lit("xx")))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    val mvDir = mvDirOf(dir)
    create(spark, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sl", "sum", "length(lang)"),
      MvAgg("xl", "xor", "length(lang)")))
    def cells = SinkMvDist.read(spark, mvDir).collect().head
    assert(cells.getLong(1) === 3L && cells.getLong(2) === 2L && cells.getLong(3) === 2L)
    // retract the one non-null contribution: SQL's sum/xor over the
    // surviving all-null group are NULL, not 0
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.EqualTo("doc_id", 0L)))
    assert(SinkMvDist.refresh(spark, dir, mvDir).applied)
    val after = cells
    assert(after.getLong(1) === 2L)
    assert(after.isNullAt(2) && after.isNullAt(3),
      s"sum/xor must be SQL NULL over an all-null group, got $after")
    val expected = spark.read.format("graft.sources.ShardSinkSource")
      .option("path", dir).load().groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(length(col("lang"))).as("sl"),
        expr("bit_xor(cast(length(lang) as bigint))").as("xl"))
    val view = SinkMvDist.read(spark, mvDir)
    assert(view.exceptAll(expected).union(expected.exceptAll(view)).count() === 0L)
  }

  test("MV vacuum: superseded states and tmp litter sweep; current state survives") {
    val dir = freshDir("mv_vac")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 200L, n = 400) // v1
    create(spark, dir, mvDir, Seq("shard"), rollupAggs) // mv v1
    append(dir, 200L, 300L, n = 400)
    SinkMvDist.refresh(spark, dir, mvDir) // mv v2
    append(dir, 300L, 400L, n = 400)
    SinkMvDist.refresh(spark, dir, mvDir) // mv v3
    // crashed-flip litter, as a crashed header write would leave it
    val w = SinkTestAccess.createFile(mvDir, "_mvd.tmp-deadbeef")
    w.write("torn"); w.close()
    val live = SinkMvDist.stateFiles(mvDir, 3L).map(_._2).toSet
    val superseded = (SinkMvDist.stateFiles(mvDir, 1L) ++ SinkMvDist.stateFiles(mvDir, 2L))
      .map(_._2).toSet -- live
    val swept = SinkMvDist.vacuum(mvDir, retainVersions = 1, olderThanMillis = 0L)
    assert(swept.toSet ===
      Set("_mvd.v1.json", "_mvd.v2.json", "_mvd.tmp-deadbeef") ++ superseded)
    assert(superseded.nonEmpty, "every refresh rewrites the one bucket")
    assert(SinkMvDist.currentVersion(mvDir) === 3L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    intercept[Exception](SinkMvDist.read(spark, mvDir, asOf = Some(1L)))
    // maintenance continues over the swept ladder
    append(dir, 400L, 450L, n = 450)
    assert(SinkMvDist.refresh(spark, dir, mvDir).applied)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    intercept[IllegalArgumentException](SinkMvDist.vacuum(mvDir, retainVersions = 0))
  }

  test("definition validation and misuse are rejected up front") {
    val dir = freshDir("mv_valid")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 100L, n = 100)
    intercept[IllegalArgumentException](
      create(spark, dir, mvDir, Seq("shard"), Seq.empty))
    intercept[IllegalArgumentException](
      create(spark, dir, mvDir, Seq("shard"),
        Seq(MvAgg("n", "count"), MvAgg("n", "sum", "doc_id"))))
    intercept[IllegalArgumentException](
      create(spark, dir, mvDir, Seq("shard"), Seq(MvAgg("m", "median", "doc_id"))))
    intercept[IllegalArgumentException](
      create(spark, dir, mvDir, Seq("shard"), Seq(MvAgg("s", "sum"))))
    intercept[IllegalArgumentException](
      create(spark, dir, mvDir, Seq("no_such_col"), Seq(MvAgg("n", "count"))))
    create(spark, dir, mvDir, Seq("shard"), Seq(MvAgg("n", "count")))
    intercept[IllegalArgumentException](
      create(spark, dir, mvDir, Seq("shard"), Seq(MvAgg("n", "count"))))
    val other = freshDir("mv_valid_other")
    append(other, 0L, 50L, n = 50)
    intercept[IllegalArgumentException](
      SinkMvDist.refresh(spark, other, mvDir)) // MV materializes `dir`
  }
}
