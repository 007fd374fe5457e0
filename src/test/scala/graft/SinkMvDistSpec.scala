package graft

import graft.sources.{ShardSink, SinkMvDist, SinkTestAccess}
import graft.sources.SinkMatView.MvAgg
import org.apache.spark.sql.functions._

/** Round-16 DISTRIBUTED MV STATE ([[SinkMvDist]]): state lives as
  * bucketed segment files and every refresh is a distributed plan. The
  * contract under test, beyond fold exactness: driver materialization is
  * bounded by the BUCKET count, never the group count, untouched buckets
  * carry forward by reference, and vacuum keeps every segment a retained
  * version still lists. The end-to-end lifecycle also sits under the
  * driver's hash gate as `q_dsv2_mv_dist`.
  */
class SinkMvDistSpec extends SparkSpec {
  import SinkMvDistSpec.SmallRun

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

  private def mvDirOf(dir: String): String = dir.stripSuffix("/") + ".mvd"

  test("distributed fold equals full recompute through appends, deletes, drop and resurrection") {
    val dir = freshDir("mvd_full")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 800L) // v1
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"), rollupAggs, buckets = 8)
    append(dir, 800L, 1600L) // v2
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 1200L))) // v3
    val r1 = SinkMvDist.refresh(spark, dir, mvDir)
    assert(r1.applied && r1.fromV === 1L && r1.toV === 3L)
    // the deleted rows were INSERTED in the same window — net-grain
    // extremes cancel them, so nothing is dirty (the fast-path)
    assert(r1.dirtyGroups === 0L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    // now delete rows the state HAS seen: every shard's recorded max is
    // in [1000, 1200) → all 16 groups dirty, recomputed distributed
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 1000L))) // v4
    val r1b = SinkMvDist.refresh(spark, dir, mvDir)
    assert(r1b.dirtyGroups === 16L, r1b.toString)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    // drop shard 7 entirely: the group must LEAVE the view
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.EqualTo("shard", 7))) // v5
    SinkMvDist.refresh(spark, dir, mvDir)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    assert(!mvRollup(mvDir).exists(_._1 == 7))
    // resurrect it with a late append (pure fast-path: extends extremes)
    append(dir, 1600L, 1640L, n = 1700) // v6
    val r3 = SinkMvDist.refresh(spark, dir, mvDir)
    assert(r3.dirtyGroups === 0L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    assert(mvRollup(mvDir).exists(_._1 == 7))
    assert(SinkMvDist.lastSourceVersion(mvDir) === 6L)
    // no-op refresh: recorded, no new version
    val noop = SinkMvDist.refresh(spark, dir, mvDir)
    assert(!noop.applied)
  }

  test("typed extremes (dmin/dmax/smin/smax) fold, dirty-recompute and round-trip the codec") {
    val dir = freshDir("mvd_typed")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 800L) // v1
    // bodies are md5 strings; the double kinds ride doc_id (CAST keeps
    // the SQL-string expression in DOUBLE arithmetic — a bare `/ 4.0`
    // literal is DECIMAL division)
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"),
      MvAgg("dmx", "dmax", "cast(doc_id as double) / 4"),
      MvAgg("dmn", "dmin", "cast(doc_id as double) / 4"),
      MvAgg("smx", "smax", "body"),
      MvAgg("smn", "smin", "body")), buckets = 4)
    def sourceTyped: Set[(Int, Long, Double, Double, String, String)] =
      spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          max(expr("cast(doc_id as double) / 4")).as("dmx"),
          min(expr("cast(doc_id as double) / 4")).as("dmn"),
          max(col("body")).as("smx"), min(col("body")).as("smn"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getString(4), r.getString(5))).toSet
    def mvTyped: Set[(Int, Long, Double, Double, String, String)] =
      SinkMvDist.read(spark, mvDir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getString(4), r.getString(5))).toSet
    assert(mvTyped === sourceTyped) // create + codec round trip
    // an append extends all four extremes on the clean fast path
    append(dir, 800L, 1600L) // v2
    val r1 = SinkMvDist.refresh(spark, dir, mvDir)
    assert(r1.applied && r1.dirtyGroups === 0L, r1.toString)
    assert(mvTyped === sourceTyped)
    // a tail delete removes every shard's recorded dmax AND the smax/smin
    // where the extreme body sat in the tail — the dirty recompute
    // re-derives exactly those groups in their own types
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 1000L))) // v3
    val r2 = SinkMvDist.refresh(spark, dir, mvDir)
    assert(r2.applied && r2.dirtyGroups > 0L, r2.toString)
    assert(mvTyped === sourceTyped)
  }

  test("driver materialization is bounded by buckets, independent of group cardinality") {
    // identical lifecycle at per-doc grain with 4x the groups: the
    // counter must grow by the same bounded amount (≤ buckets + 2 per
    // refresh), or the design has a hidden O(groups) collect
    def run(n: Int): Long = {
      val dir = freshDir(s"mvd_scale_$n")
      val mvDir = mvDirOf(dir)
      append(dir, 0L, n.toLong, n = n)
      SinkMvDist.create(spark, dir, mvDir, Seq("doc_id"),
        Seq(MvAgg("n", "count"), MvAgg("s", "sum", "length(body)"),
          MvAgg("hi", "max", "length(body)")), buckets = 8)
      append(dir, n.toLong, n.toLong + 100L, n = n + 100)
      val before = SinkMvDist.driverRowsCollected.get()
      val st = SinkMvDist.refresh(spark, dir, mvDir)
      assert(st.applied && st.changeRows === 100L)
      SinkMvDist.driverRowsCollected.get() - before
    }
    val small = run(400)
    val large = run(1600)
    assert(small <= 10L, s"driver rows collected: $small")
    assert(large === small,
      s"driver materialization scaled with group count: $small -> $large")
    // and the per-doc MV itself is exact at both grains (spot: large)
  }

  /** One 8-bucket MV over `shard` at a broadcast threshold: created at v1,
    * refreshed over an append window (v2, every shard) and over a
    * merge-on-read delete of rows the state holds (v3, every shard).
    */
  private def smallRun(tag: String, aggs: Seq[MvAgg], threshold: String): SmallRun = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, threshold)
    try {
      val dir = freshDir(tag)
      val mvDir = mvDirOf(dir)
      def files = SinkTestAccess.resolveBase(dir)._2.length
      append(dir, 0L, 800L) // v1
      SinkMvDist.create(spark, dir, mvDir, Seq("shard"), aggs, buckets = 8)
      val before = files
      append(dir, 800L, 1200L) // v2
      val appendFiles = files - before
      def refresh(): (Int, Long, Long) = {
        val (c0, d0) = (ShardSink.dataFileReadCount.get(), SinkMvDist.driverRowsCollected.get())
        val (stats, jobs) = Probe.withJobLog(spark.sparkContext)(log =>
          log(SinkMvDist.refresh(spark, dir, mvDir)))
        assert(stats.applied, stats.toString)
        (jobs.size, ShardSink.dataFileReadCount.get() - c0,
          SinkMvDist.driverRowsCollected.get() - d0)
      }
      val (appendJobs, opened, appendRows) = refresh()
      SinkTestAccess.morDeleteWhere(dir,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 1000L))) // v3
      val (deleteJobs, _, deleteRows) = refresh()
      val segments = (1L to SinkMvDist.currentVersion(mvDir)).flatMap { v =>
        SinkMvDist.stateFiles(mvDir, v).groupBy(_._1).values.map(_.size)
      }
      SmallRun(SinkMvDist.read(spark, mvDir).collect().map(_.toSeq).toSet,
        Seq(appendJobs, deleteJobs), opened, appendFiles, Seq(appendRows, deleteRows),
        segments.max)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The source's live doc ids after [[smallRun]]'s v3, by shard. */
  private val live = (0L until 1000L).groupBy(id => (id % 16).toInt)

  test("a broadcast-sized refresh runs in at most 3 Spark jobs and opens each changed file once") {
    val aggs = Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id"), MvAgg("x", "xor", "doc_id"))
    val small = smallRun("mvd_small", aggs, "10485760")
    assert(small.jobs.forall(_ <= 3), s"Spark jobs per refresh: ${small.jobs}")
    assert(small.appendFiles >= 1)
    assert(small.appendOpened === small.appendFiles.toLong,
      s"the refresh opened ${small.appendOpened} files; the window has ${small.appendFiles}")
    assert(small.driverRows.forall(_ <= 8L), s"driver rows per refresh: ${small.driverRows}")
    assert(small.maxSegmentsPerBucket === 1)
    // without the broadcast threshold the fold is parallel and clusters
    // by bucket before its write: the same view, one segment per bucket
    val parallel = smallRun("mvd_small_par", aggs, "-1")
    assert(parallel.rows === small.rows)
    assert(parallel.maxSegmentsPerBucket === 1)
    assert(small.rows === live.map { case (s, ids) =>
      Seq(s, ids.size.toLong, ids.sum, ids.reduce(_ ^ _)) }.toSet)
  }

  test("a broadcast-sized dirty-extreme refresh folds as the parallel plan does") {
    val small = smallRun("mvd_small_ext", rollupAggs, "10485760")
    val parallel = smallRun("mvd_small_ext_par", rollupAggs, "-1")
    assert(small.rows === parallel.rows)
    assert(small.maxSegmentsPerBucket === 1 && parallel.maxSegmentsPerBucket === 1)
    assert(small.appendOpened === small.appendFiles.toLong)
    // every shard lost its recorded max at v3, so every group recomputed
    assert(small.rows === live.map { case (s, ids) =>
      Seq(s, ids.size.toLong, ids.sum, ids.min, ids.max) }.toSet)
  }

  test("per-doc grain: dirty recompute and parity at high cardinality") {
    val root = java.nio.file.Files.createTempDirectory("mvd_doc").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvd_doc", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvd_doc.root", root)
    s.conf.set("spark.sql.catalog.mvd_doc.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvd_doc.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvd_doc.cdf.enabled", "true")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "2").load()
      .where(col("doc_id") < 1200L)
      .writeTo("mvd_doc.docs").append() // v1: docs 0..1199
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = mvDirOf(dir)
    SinkMvDist.create(s, dir, mvDir, Seq("doc_id"),
      Seq(MvAgg("n", "count"), MvAgg("sum_len", "sum", "length(body)"),
        MvAgg("max_len", "max", "length(body)"),
        MvAgg("min_len", "min", "length(body)")), buckets = 16)
    // in-place update: each group's recorded MIN (32) is net-removed and
    // the net addition (33) does not re-cover it → DIRTY on min_len, the
    // per-group recompute path at 300-group scale, fully distributed.
    // MAX stays clean: 33 covers the removed 32 (greatest re-derives it).
    s.sql("UPDATE mvd_doc.docs SET body = concat(body, '!') WHERE doc_id < 300") // v2
    val st = SinkMvDist.refresh(s, dir, mvDir)
    assert(st.applied && st.changeRows === 600L && st.dirtyGroups === 300L, st.toString)
    val got = SinkMvDist.read(s, mvDir)
      .agg(count(lit(1)), sum("sum_len"), sum("max_len"), sum("min_len"),
        min("n"), max("n"))
      .collect().head
    assert(got.getLong(0) === 1200L)
    assert(got.getLong(1) === 300L * 33 + 900L * 32)
    assert(got.getLong(2) === 300L * 33 + 900L * 32)
    assert(got.getLong(3) === 300L * 33 + 900L * 32)
    assert(got.getLong(4) === 1L && got.getLong(5) === 1L)
  }

  test("untouched buckets carry forward by reference; vacuum keeps shared segments") {
    val dir = freshDir("mvd_carry")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 800L, n = 900) // v1
    SinkMvDist.create(spark, dir, mvDir, Seq("doc_id"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id")), buckets = 16)
    val v1Files = SinkMvDist.stateFiles(mvDir, 1L).toMap
    assert(v1Files.keySet.size >= 8, s"expected spread over buckets: ${v1Files.keySet}")
    // a 4-doc append touches ≤ 4 buckets; the rest must carry forward
    append(dir, 800L, 804L, n = 900) // v2
    val st = SinkMvDist.refresh(spark, dir, mvDir)
    assert(st.applied)
    val v2Refs = SinkMvDist.stateFiles(mvDir, 2L)
    val v1Refs = SinkMvDist.stateFiles(mvDir, 1L).toSet
    val carried = v2Refs.toSet.intersect(v1Refs)
    val rewritten = v2Refs.toSet.diff(v1Refs)
    assert(rewritten.map(_._1).size <= 4L,
      s"rewrote ${rewritten.map(_._1)} buckets for a 4-group delta")
    assert(carried.nonEmpty, "no carry-forward happened")
    assert(SinkMvDist.read(spark, mvDir).count() === 804L)
    // vacuum retaining only the current version: v1's header goes, but
    // every segment v2 still references SURVIVES even if v1 listed it
    val swept = SinkMvDist.vacuum(mvDir, retainVersions = 1, olderThanMillis = 0L)
    assert(swept.contains("_mvd.v1.json"))
    val still = SinkMvDist.stateFiles(mvDir, 2L)
    still.foreach { case (_, f) =>
      assert(new java.io.File(mvDir, f).exists(), s"vacuum swept live segment $f")
    }
    assert(SinkMvDist.read(spark, mvDir).count() === 804L)
    // v1-only segments (rewritten buckets' old files) are gone
    val v1Only = v1Refs.diff(v2Refs.toSet)
    v1Only.foreach { case (_, f) =>
      assert(!new java.io.File(mvDir, f).exists(), s"unreferenced segment $f survived vacuum")
    }
    // a LOOSER retention after a tighter sweep must skip the already-
    // swept versions, not crash reading their missing headers
    val swept2 = SinkMvDist.vacuum(mvDir, retainVersions = 3, olderThanMillis = 0L)
    assert(swept2.isEmpty)
    assert(SinkMvDist.read(spark, mvDir).count() === 804L)
  }

  test("streaming maintenance: replays no-op, no-data commits fast-forward, final parity") {
    val dir = freshDir("mvd_stream")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 600L, n = 1000) // v1
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"), rollupAggs, buckets = 8)
    ShardSink.compact(dir) // v2: no-data commit — never delivered as a batch
    append(dir, 600L, 800L, n = 1000) // v3
    append(dir, 800L, 1000L, n = 1000) // v4
    def changesOf(fromV: Long, toV: Long) =
      spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", fromV).option("changeFeedTo", toV).load()
    // v3 arrives over the (1, 2] gap — provably change-free, fast-forward
    val st3 = SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(2L, 3L), 3L)
    assert(st3.applied && SinkMvDist.lastSourceVersion(mvDir) === 3L)
    // replay of v3 is a recorded no-op
    val replay = SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(2L, 3L), 3L)
    assert(!replay.applied)
    // in-order v4 folds; final parity against the source rollup
    SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(3L, 4L), 4L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
    // a gap HIDING a data commit still fails loudly
    append(dir, 1000L, 1100L, n = 1100) // v5 (data, skipped)
    append(dir, 1100L, 1200L, n = 1200) // v6
    val e = intercept[IllegalArgumentException](
      SinkMvDist.refreshFromChanges(spark, dir, mvDir, changesOf(5L, 6L), 6L))
    assert(e.getMessage.contains("gap"))
  }

  test("streaming JOIN MV: per-source batches fold under per-source watermarks") {
    val root = java.nio.file.Files.createTempDirectory("mvdjs").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvdjs", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvdjs.root", root)
    s.conf.set("spark.sql.catalog.mvdjs.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvdjs.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvdjs.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvdjs.dim").append() // d1
    s.sql("ALTER TABLE mvdjs.dim ADD COLUMN region STRING") // d2
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo("mvdjs.dim").append() // d3
    docs(0L, 600L).writeTo("mvdjs.fact").append() // f1
    val factDir = new java.io.File(root, "fact").getPath
    val dimDir = new java.io.File(root, "dim").getPath
    val mvDir = factDir + ".mvdjs"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, "shard", "doc_id",
      Seq("d_region"),
      Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
        MvAgg("hi", "max", "doc_id")), buckets = 4)
    def changesOf(dir: String, fromV: Long, toV: Long) =
      s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("readChangeFeed", "true")
        .option("changeFeedFrom", fromV).option("changeFeedTo", toV).load()
    def parity(): Unit = {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val (fv, dv) = SinkMvDist.lastSourceVersions(mvDir)
      val d = graft.sources.SinkTestAccess.srcAt(s, dimDir, dv)
        .select(col("doc_id").as("_pk"), col("region").as("d_region"))
      val want = canon(graft.sources.SinkTestAccess.srcAt(s, factDir, fv)
        .join(d, col("shard") === col("_pk"))
        .groupBy(col("d_region"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi")))
      assert(canon(SinkMvDist.read(s, mvDir)) === want)
    }
    // a FACT batch folds [Δf ⋈ d@dimV] under the fact watermark
    s.sql("DELETE FROM mvdjs.fact WHERE doc_id >= 400") // f2: dirties maxes
    val stF = SinkMvDist.refreshFromChanges(s, factDir, mvDir, changesOf(factDir, 1L, 2L), 2L)
    assert(stF.applied && stF.changeRows === 200L)
    assert(SinkMvDist.lastSourceVersions(mvDir) === ((2L, 3L)))
    parity()
    // its replay is a recorded no-op
    assert(!SinkMvDist.refreshFromChanges(s, factDir, mvDir, changesOf(factDir, 1L, 2L), 2L).applied)
    // a DIM batch folds [Δd ⋈ f@factV] under the dim watermark: fact rows
    // move between groups with no rescan
    s.sql("UPDATE mvdjs.dim SET region = 'rX' WHERE doc_id = 5") // d4
    val stD = SinkMvDist.refreshFromChanges(s, dimDir, mvDir, changesOf(dimDir, 3L, 4L), 4L)
    assert(stD.applied)
    // stats report the MOVED source's window — a dim batch carries the
    // dim versions it advanced, not the unchanged fact watermark
    // (advice fix r18)
    assert(stD.fromV === 3L && stD.toV === 4L)
    assert(SinkMvDist.lastSourceVersions(mvDir) === ((2L, 4L)))
    parity()
    assert(SinkMvDist.read(s, mvDir).collect().exists(_.getString(0) == "rX"))
    // a fact gap over a no-data commit fast-forwards; a gap hiding DATA
    // fails loudly on ITS source
    ShardSink.compact(factDir) // f3: no-data
    docs(600L, 700L).writeTo("mvdjs.fact").append() // f4
    val stG = SinkMvDist.refreshFromChanges(s, factDir, mvDir, changesOf(factDir, 3L, 4L), 4L)
    assert(stG.applied)
    parity()
    docs(700L, 800L).writeTo("mvdjs.fact").append() // f5 (data, to be skipped)
    docs(800L, 900L).writeTo("mvdjs.fact").append() // f6
    val e = intercept[IllegalArgumentException](
      SinkMvDist.refreshFromChanges(s, factDir, mvDir, changesOf(factDir, 5L, 6L), 6L))
    assert(e.getMessage.contains("gap"), e.getMessage)
    // a batch from a table the MV does not materialize is rejected
    val e2 = intercept[IllegalArgumentException](
      SinkMvDist.refreshFromChanges(s, dimDir + "x", mvDir, changesOf(dimDir, 3L, 4L), 4L))
    assert(e2.getMessage.contains("materializes"), e2.getMessage)
  }

  test("concurrent refresh: the loser retries into a no-op, never a double-apply") {
    val dir = freshDir("mvd_race")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 400L, n = 600)
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"), rollupAggs, buckets = 4)
    append(dir, 400L, 600L, n = 600) // the delta both refreshes race for
    // the barrier fires inside the first refresh AFTER its fold is
    // derived; the interloper's refresh covers the window and flips v2,
    // so the original's flip loses and its retry must see srcV == toV
    SinkTestAccess.onNextMvdFlip(() => {
      val won = SinkMvDist.refresh(spark, dir, mvDir)
      assert(won.applied)
      ()
    })
    val lost = SinkMvDist.refresh(spark, dir, mvDir)
    assert(!lost.applied, "the loser must converge to a no-op, not re-apply")
    assert(SinkMvDist.currentVersion(mvDir) === 2L)
    assert(mvRollup(mvDir) === sourceRollup(dir))
  }

  test("distributed JOIN MV: per-(region, uid) grain folds from both feeds, driver bounded") {
    val root = java.nio.file.Files.createTempDirectory("mvd_join").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvdj", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvdj.root", root)
    s.conf.set("spark.sql.catalog.mvdj.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvdj.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvdj.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    // dim: keys 0..15, region = r(k % 3)
    docs(0L, 0L).writeTo("mvdj.dim").append()
    s.sql("ALTER TABLE mvdj.dim ADD COLUMN region STRING")
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo("mvdj.dim").append()
    // fact: per-uid grain (uid = doc % 600 — 600 groups × regions)
    docs(0L, 0L).writeTo("mvdj.fact").append()
    s.sql("ALTER TABLE mvdj.fact ADD COLUMN uid BIGINT")
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi).withColumn("uid", (col("doc_id") % 600L).cast("long"))
        .writeTo("mvdj.fact").append()
    ingest(0L, 1200L)
    val factDir = new java.io.File(root, "fact").getPath
    val dimDir = new java.io.File(root, "dim").getPath
    val mvDir = factDir + ".mvdj"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, "shard", "doc_id",
      Seq("d_region", "uid"),
      Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
        MvAgg("hi", "max", "doc_id")), buckets = 8)
    def parity(): Unit = {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val got = canon(SinkMvDist.read(s, mvDir))
      val d = s.read.table("mvdj.dim")
        .select(col("doc_id").as("pk"), col("region").as("d_region"))
      val want = canon(s.read.table("mvdj.fact")
        .join(d, col("shard") === col("pk"))
        .groupBy(col("d_region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi")))
      assert(got === want)
    }
    parity()
    // fact delta path: a tail delete dirties high-doc groups
    val before = SinkMvDist.driverRowsCollected.get()
    s.sql("DELETE FROM mvdj.fact WHERE doc_id >= 900")
    val r1 = SinkMvDist.refresh(s, factDir, mvDir)
    assert(r1.applied && r1.changeRows === 300L)
    assert(SinkMvDist.driverRowsCollected.get() - before <= 10L,
      "driver materialization must stay bucket-bounded for the join fold too")
    parity()
    // dim delta path: key 5 moves r2 -> rX — fact rows change group
    s.sql("UPDATE mvdj.dim SET region = 'rX' WHERE doc_id = 5")
    val r2 = SinkMvDist.refresh(s, factDir, mvDir)
    assert(r2.applied)
    parity()
    // fact append against the updated dim; watermarks both current
    ingest(1200L, 1400L)
    SinkMvDist.refresh(s, factDir, mvDir)
    parity()
    val (fv, dv) = SinkMvDist.lastSourceVersions(mvDir)
    assert(fv === ShardSink.currentManifestVersion(factDir))
    assert(dv === ShardSink.currentManifestVersion(dimDir))
    assert(!SinkMvDist.refresh(s, factDir, mvDir).applied)
  }

  test("snowflake MV: fact⋈dim1⋈dim2 chain folds from all three feeds, composed in order") {
    val root = java.nio.file.Files.createTempDirectory("mvd_snow").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvds", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvds.root", root)
    s.conf.set("spark.sql.catalog.mvds.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvds.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvds.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1600").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    // dim2 (outer ring): keys 0..3, zone z(k%2)
    docs(0L, 0L).writeTo("mvds.dim2").append()
    s.sql("ALTER TABLE mvds.dim2 ADD COLUMN zone STRING")
    docs(0L, 4L)
      .withColumn("zone", concat(lit("z"), (col("doc_id") % 2).cast("string")))
      .writeTo("mvds.dim2").append()
    // dim1 (inner ring): keys 0..15, region r(k%3), catk = k%4 → dim2 key
    docs(0L, 0L).writeTo("mvds.dim1").append()
    s.sql("ALTER TABLE mvds.dim1 ADD COLUMN region STRING")
    s.sql("ALTER TABLE mvds.dim1 ADD COLUMN catk BIGINT")
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .withColumn("catk", (col("doc_id") % 4).cast("long"))
      .writeTo("mvds.dim1").append()
    docs(0L, 800L).writeTo("mvds.fact").append()
    val factDir = new java.io.File(root, "fact").getPath
    val d1Dir = new java.io.File(root, "dim1").getPath
    val d2Dir = new java.io.File(root, "dim2").getPath
    val mvDir = factDir + ".mvds"
    SinkMvDist.createSnowflake(s, factDir, mvDir,
      Seq(
        SinkMvDist.SnowDim(d1Dir, fk = "shard", pk = "doc_id", pfx = "d1_"),
        SinkMvDist.SnowDim(d2Dir, fk = "d1_catk", pk = "doc_id", pfx = "d2_")),
      groups = Seq("d2_zone", "d1_region"),
      aggs = Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
        MvAgg("hi", "max", "doc_id")), buckets = 4)
    def parity(): Unit = {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val d1 = s.read.table("mvds.dim1")
        .select(col("doc_id").as("_pk1"), col("region").as("d1_region"),
          col("catk").as("d1_catk"))
      val d2 = s.read.table("mvds.dim2")
        .select(col("doc_id").as("_pk2"), col("zone").as("d2_zone"))
      val want = canon(s.read.table("mvds.fact")
        .join(d1, col("shard") === col("_pk1"))
        .join(d2, col("d1_catk") === col("_pk2"))
        .groupBy(col("d2_zone"), col("d1_region"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi")))
      assert(canon(SinkMvDist.read(s, mvDir)) === want)
    }
    parity()
    // fact window: tail delete dirties extremes → recompute through the
    // FULL chain join, pruned to dirty groups
    s.sql("DELETE FROM mvds.fact WHERE doc_id >= 600")
    val r1 = SinkMvDist.refresh(s, factDir, mvDir)
    assert(r1.applied && r1.changeRows === 200L && r1.dirtyGroups > 0L, r1.toString)
    parity()
    // BOTH dim windows in ONE refresh — the composition order the
    // telescoping fixes: Δd1 joins d2@OLD, Δd2 joins d1@NEW
    s.sql("UPDATE mvds.dim1 SET region = 'rX' WHERE doc_id = 7")
    s.sql("UPDATE mvds.dim2 SET zone = 'zX' WHERE doc_id = 1")
    val r2 = SinkMvDist.refresh(s, factDir, mvDir)
    assert(r2.applied)
    parity()
    val got = SinkMvDist.read(s, mvDir).collect()
    assert(got.exists(_.getString(1) == "rX") && got.exists(_.getString(0) == "zX"))
    // fact append against BOTH evolved dims; all three watermarks current.
    // IO pin: the clean fold opens ONLY the appended commit's fact files
    // plus the (control-plane small) dims — never the fact census
    val factFilesBefore = graft.sources.SinkTestAccess.resolveBase(factDir)._2.length
    docs(800L, 1000L).writeTo("mvds.fact").append()
    val newFactFiles =
      graft.sources.SinkTestAccess.resolveBase(factDir)._2.length - factFilesBefore
    val dimFiles = graft.sources.SinkTestAccess.resolveBase(d1Dir)._2.length +
      graft.sources.SinkTestAccess.resolveBase(d2Dir)._2.length
    val before = SinkMvDist.driverRowsCollected.get()
    val c0 = ShardSink.dataFileReadCount.get()
    val rA = SinkMvDist.refresh(s, factDir, mvDir)
    val opened = ShardSink.dataFileReadCount.get() - c0
    assert(rA.applied && rA.dirtyGroups === 0L)
    assert(opened <= (newFactFiles + dimFiles).toLong,
      s"refresh opened $opened files; delta is $newFactFiles fact + $dimFiles dim " +
        s"(fact census ${graft.sources.SinkTestAccess.resolveBase(factDir)._2.length})")
    assert(SinkMvDist.driverRowsCollected.get() - before <= 10L,
      "driver materialization must stay bucket-bounded through the chain fold")
    parity()
    val (fv, dvs) = SinkMvDist.lastSourceVersionsAll(mvDir)
    assert(fv === ShardSink.currentManifestVersion(factDir))
    assert(dvs === Seq(
      ShardSink.currentManifestVersion(d1Dir),
      ShardSink.currentManifestVersion(d2Dir)))
    assert(!SinkMvDist.refresh(s, factDir, mvDir).applied)
    // a dim1 batch also streams through refreshFromChanges (chain MV)
    s.sql("UPDATE mvds.dim1 SET region = 'rY' WHERE doc_id = 8")
    val d1v = ShardSink.currentManifestVersion(d1Dir)
    val ch = s.read.format("graft.sources.ShardSinkSource")
      .option("path", d1Dir).option("readChangeFeed", "true")
      .option("changeFeedFrom", d1v - 1L).option("changeFeedTo", d1v).load()
    assert(SinkMvDist.refreshFromChanges(s, d1Dir, mvDir, ch, d1v).applied)
    parity()
    // duplicate prefixes and unresolvable chain keys are rejected
    val eP = intercept[IllegalArgumentException](
      SinkMvDist.createSnowflake(s, factDir, factDir + ".bad1",
        Seq(SinkMvDist.SnowDim(d1Dir, "shard", "doc_id", "d_"),
          SinkMvDist.SnowDim(d2Dir, "d_catk", "doc_id", "d_")),
        Seq("d_region"), Seq(MvAgg("n", "count"))))
    assert(eP.getMessage.contains("duplicate dim prefixes"), eP.getMessage)
    val eK = intercept[IllegalArgumentException](
      SinkMvDist.createSnowflake(s, factDir, factDir + ".bad2",
        Seq(SinkMvDist.SnowDim(d2Dir, "d1_catk", "doc_id", "d2_"),
          SinkMvDist.SnowDim(d1Dir, "shard", "doc_id", "d1_")),
        Seq("d1_region"), Seq(MvAgg("n", "count"))))
    assert(eK.getMessage.contains("resolves against none"), eK.getMessage)
  }

  test("a segment swept between plan and execution fails with the NAMED error") {
    val dir = freshDir("mvd_swept")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 400L)
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"), rollupAggs, buckets = 4)
    val df = SinkMvDist.read(spark, mvDir)
    df.queryExecution.executedPlan // pin the plan — and the v1 segment refs
    // a rebucket rewrites EVERY segment, so the eager vacuum sweeps all
    // of v1's — exactly the maintenance race the registration contract
    // documents (refresh/rebucket + vacuum between a reader's plan and
    // its execution)
    SinkMvDist.rebucket(spark, mvDir, 8)
    SinkMvDist.vacuum(mvDir, retainVersions = 1, olderThanMillis = 0L)
    val e = intercept[Throwable](df.collect())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    val msgs = chain(e).map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("vacuumed between plan and execution"),
      s"expected the NAMED swept-state error, got: $e")
    // the current state still answers — a fresh read re-resolves cleanly
    assert(SinkMvDist.read(spark, mvDir).count() === 16L)
  }

  test("lookup reads exactly the key's bucket — the KV probe over MV state") {
    val dir = freshDir("mvd_lookup")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 800L, n = 900)
    SinkMvDist.create(spark, dir, mvDir, Seq("doc_id"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id")), buckets = 16)
    val probe = SinkMvDist.lookup(spark, mvDir, Seq(Long.box(123L)))
    val rows = probe.collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 123L && rows.head.getLong(1) === 1L &&
      rows.head.getLong(2) === 123L)
    // physical IO: only the key's bucket's segment files were planned —
    // never the whole state (read via the named-error state source, so
    // the pin inspects its planned partitions; inputFiles only surfaces
    // file-table relations)
    val opened = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten.collect {
          case p: graft.sources.MvStateFilePartition => p.file
        }
    }.flatten.toSet
    val byBucket = SinkMvDist.stateFiles(mvDir, 1L).groupBy(_._1)
    val owning = byBucket.find { case (_, fs) => fs.map(_._2).toSet == opened }
    assert(owning.isDefined,
      s"lookup planned $opened, not exactly one bucket of ${byBucket.mapValues(_.map(_._2))}")
    assert(opened.size < SinkMvDist.stateFiles(mvDir, 1L).size,
      "lookup read the whole state")
    // a missing key answers empty from the same single bucket
    assert(SinkMvDist.lookup(spark, mvDir, Seq(Long.box(5555L))).count() === 0L)
    // NULL group values probe their own group
    val e = intercept[IllegalArgumentException](
      SinkMvDist.lookup(spark, mvDir, Seq(Long.box(1L), Long.box(2L))))
    assert(e.getMessage.contains("group columns"))
    // key values are VALIDATED against the group column's declared type
    // before the probe frame is built: a mismatch names the column and
    // the expected type instead of dying in the row encoder (review fix),
    // and lossless numeric widening is accepted
    val bad = intercept[IllegalArgumentException](
      SinkMvDist.lookup(spark, mvDir, Seq("123")))
    assert(bad.getMessage.contains("doc_id") && bad.getMessage.contains("long"),
      bad.getMessage)
    assert(SinkMvDist.lookup(spark, mvDir, Seq(Int.box(123)))
      .collect().head.getLong(0) === 123L)
  }

  test("asOf reads time-travel the view's own ladder") {
    val dir = freshDir("mvd_asof")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 300L, n = 600)
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"), rollupAggs, buckets = 4)
    append(dir, 300L, 600L, n = 600)
    SinkMvDist.refresh(spark, dir, mvDir)
    assert(SinkMvDist.read(spark, mvDir, asOf = Some(1L))
      .agg(sum("n")).collect().head.getLong(0) === 300L)
    assert(SinkMvDist.read(spark, mvDir)
      .agg(sum("n")).collect().head.getLong(0) === 600L)
    intercept[Exception](SinkMvDist.read(spark, mvDir, asOf = Some(9L)).collect())
  }

  test("distributed JOIN MV honors a WHERE predicate across both delta paths") {
    val root = java.nio.file.Files.createTempDirectory("mvdj_pred").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvdjp", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvdjp.root", root)
    s.conf.set("spark.sql.catalog.mvdjp.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvdjp.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvdjp.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvdjp.dim").append()
    s.sql("ALTER TABLE mvdjp.dim ADD COLUMN region STRING")
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo("mvdjp.dim").append()
    docs(0L, 800L).writeTo("mvdjp.fact").append()
    val factDir = new java.io.File(root, "fact").getPath
    val dimDir = new java.io.File(root, "dim").getPath
    val mvDir = factDir + ".mvdjp"
    // predicate mixes BOTH sides: even fact ids in non-r1 regions
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, "shard", "doc_id",
      Seq("d_region"),
      Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")),
      where = "doc_id % 2 = 0 AND d_region <> 'r1'", buckets = 4)
    def parity(): Unit = {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val d = s.read.table("mvdjp.dim")
        .select(col("doc_id").as("pk"), col("region").as("d_region"))
      val want = canon(s.read.table("mvdjp.fact")
        .join(d, col("shard") === col("pk"))
        .where(expr("doc_id % 2 = 0 AND d_region <> 'r1'"))
        .groupBy(col("d_region"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd")))
      assert(canon(SinkMvDist.read(s, mvDir)) === want)
    }
    parity()
    // fact delta under the predicate
    s.sql("DELETE FROM mvdjp.fact WHERE doc_id >= 600")
    SinkMvDist.refresh(s, factDir, mvDir)
    parity()
    // dim delta that crosses the predicate boundary BOTH ways: r1 rows
    // enter the view (r1 → rZ), rZ's even facts leave nothing — and a
    // region moving INTO 'r1' would leave it (covered by parity)
    s.sql("UPDATE mvdjp.dim SET region = 'rZ' WHERE doc_id = 4") // was r1
    SinkMvDist.refresh(s, factDir, mvDir)
    parity()
    assert(SinkMvDist.read(s, mvDir).collect().exists(_.getString(0) == "rZ"))
  }

  test("rebucket rewrites the state under a new bucket function; refreshes keep folding") {
    val dir = freshDir("mvd_rebucket")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 600L, n = 1000)
    SinkMvDist.create(spark, dir, mvDir, Seq("doc_id"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id")), buckets = 2)
    assert(SinkMvDist.stateFiles(mvDir, 1L).map(_._1).toSet.size <= 2)
    SinkMvDist.rebucket(spark, mvDir, 16)
    val spread = SinkMvDist.stateFiles(mvDir, 2L).map(_._1).toSet
    assert(spread.size >= 8, s"rebucket left groups in $spread")
    assert(SinkMvDist.read(spark, mvDir).count() === 600L)
    assert(SinkMvDist.lastSourceVersion(mvDir) === 1L) // watermark untouched
    // a post-rebucket refresh folds against the NEW layout and carries
    // untouched new-granularity buckets forward
    append(dir, 600L, 604L, n = 1000)
    val st = SinkMvDist.refresh(spark, dir, mvDir)
    assert(st.applied && st.changeRows === 4L)
    val v3 = SinkMvDist.stateFiles(mvDir, 3L).toSet
    val v2 = SinkMvDist.stateFiles(mvDir, 2L).toSet
    assert(v3.intersect(v2).nonEmpty, "no carry-forward after rebucket")
    assert(SinkMvDist.read(spark, mvDir)
      .agg(sum("n")).collect().head.getLong(0) === 604L)
    // same-count rebucket on a current-hash MV: IDEMPOTENT no-op on every
    // attempt (a concurrent rebucket to the same count that lands first
    // must not turn the caller's identical request into an error) — the
    // misuse signal is a counter, never an exception (review fix)
    val noopsBefore = SinkMvDist.rebucketNoops.get()
    val vBefore = SinkMvDist.currentVersion(mvDir)
    SinkMvDist.rebucket(spark, mvDir, 16)
    assert(SinkMvDist.rebucketNoops.get() === noopsBefore + 1L)
    assert(SinkMvDist.currentVersion(mvDir) === vBefore, "no-op rebucket flipped a version")
    assert(SinkMvDist.read(spark, mvDir)
      .agg(sum("n")).collect().head.getLong(0) === 604L)
    // file = bucket: growing and shrinking both leave ONE segment per
    // bucket, whatever number of tasks read the old segments
    def segmentsPerBucket(v: Long) =
      SinkMvDist.stateFiles(mvDir, v).groupBy(_._1).values.map(_.size).toSet
    assert(segmentsPerBucket(2L) === Set(1), "grow 2 → 16")
    SinkMvDist.rebucket(spark, mvDir, 2)
    val shrunk = SinkMvDist.currentVersion(mvDir)
    assert(SinkMvDist.stateFiles(mvDir, shrunk).map(_._1).toSet === Set(0, 1))
    assert(segmentsPerBucket(shrunk) === Set(1), "shrink 16 → 2")
    assert(SinkMvDist.read(spark, mvDir)
      .agg(sum("n")).collect().head.getLong(0) === 604L)
  }

  test("an MV header without the hash version is rejected, not read under another hash") {
    val dir = freshDir("mvd_nohashv")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 100L, n = 800)
    SinkMvDist.create(spark, dir, mvDir, Seq("doc_id"), Seq(MvAgg("n", "count")), buckets = 4)
    val header = new java.io.File(mvDir, "_mvd.v1.json")
    val stripped = new String(java.nio.file.Files.readAllBytes(header.toPath), "UTF-8")
      .replace("\"hashv\":2,", "")
    java.nio.file.Files.write(header.toPath, stripped.getBytes("UTF-8"))
    val e = intercept[RuntimeException](SinkMvDist.read(spark, mvDir).count())
    assert(e.getMessage.contains("unparseable distributed-MV header"))
  }

  test("a malformed aggregate in an MV header fails the read loudly, naming the header") {
    val dir = freshDir("mvd_badagg")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 100L, n = 800)
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"),
      Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    val header = new java.io.File(mvDir, "_mvd.v1.json")
    val body = new String(java.nio.file.Files.readAllBytes(header.toPath), "UTF-8")
    // one agg object with a non-string kind: it must not be dropped from
    // the slot list (the MV would then read with fewer slots)
    val corrupt = body.replace("\"k\":\"sum\"", "\"k\":7")
    assert(corrupt !== body)
    java.nio.file.Files.write(header.toPath, corrupt.getBytes("UTF-8"))
    val e = intercept[IllegalStateException](SinkMvDist.read(spark, mvDir).count())
    assert(e.getMessage.contains(s"$mvDir/_mvd.v1.json"), e.getMessage)
  }

  test("MV predicates and aggregate expressions may hold double quotes and backslashes") {
    val dir = freshDir("mvd_quotes")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 800L)
    val pred = """body <> "x\\y" AND doc_id < 1500"""
    val e = """length(concat(body, "\\"))"""
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"),
      Seq(MvAgg("n", "count"), MvAgg("l", "sum", e)), where = pred, buckets = 4)
    append(dir, 800L, 1600L)
    SinkMvDist.refresh(spark, dir, mvDir) // re-reads the definition from the header
    val want = spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      .where(expr(pred)).groupBy("shard")
      .agg(count(lit(1)), sum(expr(e).cast("long")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val got = SinkMvDist.read(spark, mvDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("multi-column keys with embedded separator chars spread across buckets (v2 hash)") {
    val root = java.nio.file.Files.createTempDirectory("mvd_sep").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvd_sep", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvd_sep.root", root)
    s.conf.set("spark.sql.catalog.mvd_sep.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvd_sep.docs").append()
    s.sql("ALTER TABLE mvd_sep.docs ADD COLUMN ka STRING")
    s.sql("ALTER TABLE mvd_sep.docs ADD COLUMN kb STRING")
    // the adversarial shape the v1 hash collapsed: 7 DISTINCT (ka, kb)
    // pairs that all concatenate (with the v1 U+0001 joiner) to the SAME
    // string 'x␁x␁x␁x␁x␁x␁x␁x' — under v1 they were one hash input and
    // thus ONE bucket; the v2 tab-separated input keeps them distinct, so
    // they must spread
    val S = "concat_ws(char(1), 'x','x','x','x','x','x','x','x')"
    docs(0L, 350L)
      .withColumn("ka", expr(s"substring($S, 1, 2 * cast(doc_id % 7 as int) + 1)"))
      .withColumn("kb", expr(s"substring($S, 2 * cast(doc_id % 7 as int) + 3)"))
      .writeTo("mvd_sep.docs").append()
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = mvDirOf(dir)
    SinkMvDist.create(s, dir, mvDir, Seq("ka", "kb"),
      Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 8)
    val groups = SinkMvDist.read(s, mvDir).collect()
    assert(groups.length === 7, s"expected 7 distinct groups, got ${groups.length}")
    val spread = SinkMvDist.stateFiles(mvDir, 1L).map(_._1).toSet
    assert(spread.size >= 3,
      s"adversarial keys collapsed into buckets $spread — separator ambiguity?")
    // and the fold still routes deltas to the right buckets
    docs(350L, 400L)
      .withColumn("ka", expr(s"substring($S, 1, 2 * cast(doc_id % 7 as int) + 1)"))
      .withColumn("kb", expr(s"substring($S, 2 * cast(doc_id % 7 as int) + 3)"))
      .writeTo("mvd_sep.docs").append()
    SinkMvDist.refresh(s, dir, mvDir)
    assert(SinkMvDist.read(s, mvDir)
      .agg(sum("n")).collect().head.getLong(0) === 400L)
  }

  test("autoRebucket: growth past target triggers one metadata-driven rebucket") {
    val dir = freshDir("mvd_auto")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 200L, n = 2000)
    SinkMvDist.create(spark, dir, mvDir, Seq("doc_id"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id")), buckets = 2)
    // well under target: no trigger, no version flip, metadata-only cost
    assert(SinkMvDist.autoRebucket(spark, mvDir, targetBytesPerBucket = 1L << 20).isEmpty)
    assert(SinkMvDist.currentVersion(mvDir) === 1L)
    append(dir, 200L, 2000L, n = 2000)
    SinkMvDist.refresh(spark, dir, mvDir) // v2
    val got = SinkMvDist.autoRebucket(spark, mvDir, targetBytesPerBucket = 4096L)
    assert(got.isDefined && got.get > 2, s"growth did not trigger: $got")
    assert(SinkMvDist.currentVersion(mvDir) === 3L)
    assert(SinkMvDist.bucketStats(mvDir).map(_._1).toSet.size >= 8)
    // identical view across the flip; watermark untouched
    assert(SinkMvDist.read(spark, mvDir).agg(sum("n")).collect().head.getLong(0) === 2000L)
    assert(SinkMvDist.lastSourceVersion(mvDir) === 2L)
    // the new layout is under target: a second call is a non-trigger
    assert(SinkMvDist.autoRebucket(spark, mvDir, targetBytesPerBucket = 4096L).isEmpty)
    assert(SinkMvDist.currentVersion(mvDir) === 3L)
    // refreshes keep folding on the new layout
    append(dir, 2000L, 2004L, n = 2004)
    val st = SinkMvDist.refresh(spark, dir, mvDir)
    assert(st.applied && st.changeRows === 4L)
    assert(SinkMvDist.read(spark, mvDir).agg(sum("n")).collect().head.getLong(0) === 2004L)
    // a non-power-of-two maxBuckets CAPS the growth target instead of the
    // last shift overshooting it (review fix)
    val dir2 = freshDir("mvd_auto_cap")
    val mvDir2 = mvDirOf(dir2)
    append(dir2, 0L, 1000L, n = 1200)
    SinkMvDist.create(spark, dir2, mvDir2, Seq("doc_id"),
      Seq(MvAgg("n", "count")), buckets = 2)
    val capped = SinkMvDist.autoRebucket(spark, mvDir2,
      targetBytesPerBucket = 64L, maxBuckets = 3)
    assert(capped === Some(3), s"cap not honored: $capped")
    assert(SinkMvDist.bucketStats(mvDir2).map(_._1).toSet.subsetOf(Set(0, 1, 2)))
  }

  test("string group values round-trip the segment codec: %, the %N marker, NULL groups") {
    val root = java.nio.file.Files.createTempDirectory("mvd_esc").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvd_esc", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvd_esc.root", root)
    s.conf.set("spark.sql.catalog.mvd_esc.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvd_esc.docs").append()
    s.sql("ALTER TABLE mvd_esc.docs ADD COLUMN lang STRING")
    // group values chosen to attack the TSV codec: a literal '%', the
    // escaped forms themselves, the null MARKER as a real value, and
    // SQL NULL — each must stay a distinct group through write+read
    def langOf = when(col("doc_id") % 5 === 0, lit("a%b"))
      .when(col("doc_id") % 5 === 1, lit("%N"))
      .when(col("doc_id") % 5 === 2, lit("%25"))
      .when(col("doc_id") % 5 === 3, lit(null).cast("string"))
      .otherwise(lit("plain"))
    docs(0L, 300L).withColumn("lang", langOf).writeTo("mvd_esc.docs").append()
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = mvDirOf(dir)
    SinkMvDist.create(s, dir, mvDir, Seq("lang"),
      Seq(MvAgg("n", "count"), MvAgg("x", "xor", "doc_id")), buckets = 4)
    docs(300L, 400L).withColumn("lang", langOf).writeTo("mvd_esc.docs").append()
    SinkMvDist.refresh(s, dir, mvDir)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r =>
        (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = canon(SinkMvDist.read(s, mvDir))
    val want = canon(s.read.table("mvd_esc.docs").groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(doc_id)").as("x")))
    assert(got === want)
    assert(got.size === 5 && got.exists(_._1 == null) && got.exists(_._1 == "%N"))
  }

  test("WHERE predicate and watermark advance over change-free windows") {
    val dir = freshDir("mvd_pred")
    val mvDir = mvDirOf(dir)
    append(dir, 0L, 600L, n = 800) // v1
    SinkMvDist.create(spark, dir, mvDir, Seq("shard"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id")),
      where = "doc_id % 2 = 0", buckets = 4)
    assert(SinkMvDist.read(spark, mvDir).agg(sum("n")).collect().head.getLong(0) === 300L)
    // a commit whose rows ALL fail the predicate: the fold is empty but
    // the watermark must still advance (no wedge, no stale currency)
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "1").load()
      .where(col("doc_id") >= 601L && col("doc_id") < 611L && col("doc_id") % 2 === 1)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save() // v2: odd ids only
    val st = SinkMvDist.refresh(spark, dir, mvDir)
    assert(st.applied && st.changeRows === 0L && SinkMvDist.lastSourceVersion(mvDir) === 2L)
    assert(SinkMvDist.read(spark, mvDir).agg(sum("n")).collect().head.getLong(0) === 300L)
  }

  test("segment write: two concurrent attempts of one partition never mix content") {
    // The cluster-scale schedule local mode can't produce: a zombie
    // attempt (B) starts writing partition 3, stalls mid-iterator; its
    // retry (A) runs TO COMPLETION — writes and renames — then B wakes,
    // finishes its own writes and renames too. With attempt-unique tmp
    // names each rename publishes ONE attempt's complete bytes; with the
    // pre-round-21 shared tmp name, A and B would interleave into one
    // file and A's rename could publish a half-written mix. Contents
    // differ here ONLY to make interleaving detectable — real attempts
    // write identical deterministic rows, so last-rename-wins is a no-op.
    val mvDir = java.nio.file.Files.createTempDirectory("mvd_attempts").toFile
    mvDir.deleteOnExit()
    val dirS = mvDir.getPath
    val rowsA = (0 until 50).map(i => (3, s"attemptA-$i"))
    val rowsB = (0 until 50).map(i => (3, s"attemptB-$i"))
    var aRefs: Seq[(Int, String)] = null
    val interleaved: Iterator[(Int, String)] = new Iterator[(Int, String)] {
      private var i = 0
      def hasNext: Boolean = i < rowsB.length
      def next(): (Int, String) = {
        if (i == 25) // B descheduled mid-write; retry A runs start-to-finish
          aRefs = SinkTestAccess.writeSegmentPartition(dirS, 7L, "n0", 3, 101L, rowsA.iterator)
        val r = rowsB(i); i += 1; r
      }
    }
    val bRefs = SinkTestAccess.writeSegmentPartition(dirS, 7L, "n0", 3, 202L, interleaved)
    assert(aRefs === Seq((3, "state-v7-b3-n0-3.tsv")))
    assert(bRefs === aRefs) // both attempts publish the same segment name
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dirS, "state-v7-b3-n0-3.tsv"))
      .asScala.toSeq
    assert(lines.length === 50,
      s"segment must be ONE attempt's complete content, got ${lines.length} lines")
    assert(lines === rowsA.map(_._2) || lines === rowsB.map(_._2),
      "segment content mixes the two attempts")
    // both tmp files were renamed away — no orphans for vacuum beyond the
    // normal sweep pattern
    assert(!mvDir.listFiles().exists(_.getName.startsWith("_mvd.tmp-")))
  }
}

object SinkMvDistSpec {
  /** What a [[SinkMvDistSpec]] small-MV lifecycle saw: the view's rows,
    * Spark jobs, opened data files and driver rows per refresh, and the
    * most segments any version holds for one bucket.
    */
  final case class SmallRun(
      rows: Set[Seq[Any]], jobs: Seq[Int], appendOpened: Long, appendFiles: Int,
      driverRows: Seq[Long], maxSegmentsPerBucket: Int)
}
