package graft

import graft.sources.{ShardSink, SinkMvDist, SinkTestAccess}
import graft.sources.SinkMatView.MvAgg
import org.apache.spark.sql.functions._

/** Round-16 JOIN MVs: fact⋈dim GROUP BY maintained from BOTH change feeds
  * via the delta-join decomposition ([[graft.sources.SinkMatView]]'s
  * `contributionStream`), driven through the MV engine ([[SinkMvDist]])
  * at ONE bucket, as `q_dsv2_mv_join` runs it. Pinned here: the refresh
  * reads ONLY the delta (read counter, not claimed), a dim update moves
  * fact rows between groups with no rescan, a dim insert pulls
  * previously-unjoined fact rows into the view, and a duplicate dim key
  * fails the refresh loudly. The full lifecycle also sits under the
  * driver's hash gate as `q_dsv2_mv_join`.
  */
class SinkMvJoinSpec extends SparkSpec {

  private def freshRoot(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getPath
  }

  private def fixture(tag: String): (org.apache.spark.sql.SparkSession, String, String, String) = {
    val root = freshRoot(s"mvj_$tag")
    val s = spark.newSession()
    s.conf.set(s"spark.sql.catalog.mvj_$tag", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.mvj_$tag.root", root)
    s.conf.set(s"spark.sql.catalog.mvj_$tag.rlo.mode", "merge-on-read")
    s.conf.set(s"spark.sql.catalog.mvj_$tag.delete.mode", "merge-on-read")
    s.conf.set(s"spark.sql.catalog.mvj_$tag.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo(s"mvj_$tag.dim").append()
    s.sql(s"ALTER TABLE mvj_$tag.dim ADD COLUMN region STRING")
    docs(0L, 15L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo(s"mvj_$tag.dim").append()
    docs(0L, 1200L).writeTo(s"mvj_$tag.fact").append()
    (s, new java.io.File(root, "fact").getPath, new java.io.File(root, "dim").getPath, tag)
  }

  /** A one-bucket `d_`-prefixed join MV of `factDir` ⋈ `dimDir` on
    * shard = doc_id.
    */
  private def create(
      s: org.apache.spark.sql.SparkSession, factDir: String, dimDir: String, mvDir: String,
      groups: Seq[String], aggs: Seq[MvAgg]): (Long, Long) =
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, "shard", "doc_id", groups, aggs,
      buckets = 1)

  private val aggs = Seq(
    MvAgg("n", "count"), MvAgg("s", "sum", "doc_id"), MvAgg("hi", "max", "doc_id"))

  private def joinRollup(
      s: org.apache.spark.sql.SparkSession, factDir: String, dimDir: String): Set[(String, Long, Long, Long)] = {
    val f = s.read.format("graft.sources.ShardSinkSource").option("path", factDir).load()
    val d = s.read.format("graft.sources.ShardSinkSource").option("path", dimDir).load()
      .select(col("doc_id").as("pk"), col("region").as("d_region"))
    f.join(d, col("shard") === col("pk"))
      .groupBy(col("d_region"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"), max("doc_id").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
  }

  private def mvRollup(s: org.apache.spark.sql.SparkSession, mvDir: String): Set[(String, Long, Long, Long)] =
    SinkMvDist.read(s, mvDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("join fold equals full join recompute; dim updates move groups with no rescan") {
    val (s, factDir, dimDir, tag) = fixture("move")
    val mvDir = factDir + ".mvj"
    create(s, factDir, dimDir, mvDir, Seq("d_region"), aggs)
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
    // dim update: shard 5's rows move r2 → rX; the vacated group's max
    // (largest shard∈{2,8,11,14} doc) survives → fast-path, 0 dirty
    s.sql(s"UPDATE mvj_$tag.dim SET region = 'rX' WHERE doc_id = 5")
    val r1 = SinkMvDist.refresh(s, factDir, mvDir)
    assert(r1.applied)
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
    assert(mvRollup(s, mvDir).exists(_._1 == "rX"))
    // fact tail delete: every group's max dies → dirty recompute as a
    // pruned JOIN; parity again
    s.sql(s"DELETE FROM mvj_$tag.fact WHERE doc_id >= 900")
    val r2 = SinkMvDist.refresh(s, factDir, mvDir)
    assert(r2.dirtyGroups === 4L, r2.toString) // r0 r1 r2 rX
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
    // dim insert: key 15 pulls the previously-unjoined shard-15 rows in
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "1").load()
      .where(col("doc_id") === 15L)
      .withColumn("region", lit("r0"))
      .writeTo(s"mvj_$tag.dim").append()
    SinkMvDist.refresh(s, factDir, mvDir)
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
    val (fv, dv) = SinkMvDist.lastSourceVersions(mvDir)
    assert(fv === 2L && dv === 5L)
    // no-op refresh
    assert(!SinkMvDist.refresh(s, factDir, mvDir).applied)
  }

  test("refresh IO is delta-only: a fact append opens the new commit plus the dim") {
    val (s, factDir, dimDir, tag) = fixture("io")
    val mvDir = factDir + ".mvj"
    create(s, factDir, dimDir, mvDir, Seq("d_region"), aggs)
    val factFilesBefore = SinkTestAccess.resolveBase(factDir)._2.length
    val dimFiles = SinkTestAccess.resolveBase(dimDir)._2.length
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "2").load()
      .where(col("doc_id") >= 1200L && col("doc_id") < 1300L)
      .writeTo(s"mvj_$tag.fact").append()
    val newFactFiles = SinkTestAccess.resolveBase(factDir)._2.length - factFilesBefore
    assert(newFactFiles >= 1)
    val c0 = ShardSink.dataFileReadCount.get()
    val st = SinkMvDist.refresh(s, factDir, mvDir)
    val opened = ShardSink.dataFileReadCount.get() - c0
    assert(st.applied && st.dirtyGroups === 0L)
    // Δf ⋈ d': the fact side reads ONLY the appended commit's files; the
    // dim (control-plane small) reads once — never the fact census
    assert(opened <= (newFactFiles + dimFiles).toLong,
      s"refresh opened $opened files; delta is $newFactFiles fact + $dimFiles dim " +
        s"(fact census ${SinkTestAccess.resolveBase(factDir)._2.length})")
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
  }

  test("a duplicate dim key fails the refresh loudly instead of doubling contributions") {
    val (s, _, dimDir, tag) = fixture("dup")
    val factDir = new java.io.File(new java.io.File(dimDir).getParent, "fact").getPath
    val mvDir = factDir + ".mvj"
    create(s, factDir, dimDir, mvDir, Seq("d_region"), aggs)
    // a second dim row for key 3 — the uniqueness the decomposition needs
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "1").load()
      .where(col("doc_id") === 3L)
      .withColumn("region", lit("rDUP"))
      .writeTo(s"mvj_$tag.dim").append()
    val e = intercept[IllegalArgumentException](SinkMvDist.refresh(s, factDir, mvDir))
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("fact schema evolution inside a dim window does not wedge the refresh") {
    val (s, factDir, dimDir, tag) = fixture("evo")
    val mvDir = factDir + ".mvj"
    create(s, factDir, dimDir, mvDir, Seq("d_region"), aggs)
    // fact evolves (no-data commit) while a dim change is in flight: the
    // dim-delta part joins the fact snapshot PINNED BEFORE the ALTER —
    // a fixed newest-schema column list failed to resolve there and
    // wedged the refresh forever (review fix: parts union by name)
    s.sql(s"ALTER TABLE mvj_$tag.fact ADD COLUMN score BIGINT")
    s.sql(s"UPDATE mvj_$tag.dim SET region = 'rY' WHERE doc_id = 2")
    val st = SinkMvDist.refresh(s, factDir, mvDir)
    assert(st.applied)
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
    assert(mvRollup(s, mvDir).exists(_._1 == "rY"))
  }

  test("join-MV vacuum: superseded states sweep, the current state survives") {
    val (s, factDir, dimDir, tag) = fixture("vac")
    val mvDir = factDir + ".mvj"
    create(s, factDir, dimDir, mvDir, Seq("d_region"), aggs)
    s.sql(s"DELETE FROM mvj_$tag.fact WHERE doc_id >= 1000")
    SinkMvDist.refresh(s, factDir, mvDir)
    assert(SinkMvDist.currentVersion(mvDir) === 2L)
    val live = SinkMvDist.stateFiles(mvDir, 2L).map(_._2)
    val swept = SinkMvDist.vacuum(mvDir, retainVersions = 1, olderThanMillis = 0L)
    assert(swept.contains("_mvd.v1.json") && !swept.exists(live.contains), swept.toString)
    live.foreach(f => assert(new java.io.File(mvDir, f).exists(), s"vacuum swept live $f"))
    assert(mvRollup(s, mvDir) === joinRollup(s, factDir, dimDir))
    intercept[Exception](SinkMvDist.read(s, mvDir, asOf = Some(1L)))
  }

  test("create rejects unresolvable group columns and duplicate dim keys") {
    val (s, factDir, dimDir, _) = fixture("val")
    val e1 = intercept[IllegalArgumentException](
      create(s, factDir, dimDir, factDir + ".x", Seq("nope"), aggs))
    assert(e1.getMessage.contains("resolves in neither"), e1.getMessage)
  }

  test("an underscore-leading dim DATA column is a real join-MV group, not dropped") {
    // ADD COLUMN's identifier rule admits names like `_tier`; the dim view
    // must prefix them (`d__tier`) instead of silently dropping anything
    // that starts with '_' — only the KNOWN feed columns are excluded
    // (review fix)
    val (s, factDir, dimDir, tag) = fixture("uscr")
    s.sql(s"ALTER TABLE mvj_$tag.dim ADD COLUMN _tier STRING")
    s.sql(s"UPDATE mvj_$tag.dim SET _tier = concat('t', CAST(doc_id % 2 AS STRING))")
    val mvDir = factDir + ".mvju"
    create(s, factDir, dimDir, mvDir, Seq("d__tier"),
      Seq(MvAgg("n", "count"), MvAgg("s", "sum", "doc_id")))
    def want: Set[(String, Long, Long)] = {
      val f = s.read.format("graft.sources.ShardSinkSource").option("path", factDir).load()
      val d = s.read.format("graft.sources.ShardSinkSource").option("path", dimDir).load()
        .select(col("doc_id").as("pk"), col("_tier").as("d__tier"))
      f.join(d, col("shard") === col("pk"))
        .groupBy(col("d__tier"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    def got: Set[(String, Long, Long)] = SinkMvDist.read(s, mvDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    // both delta paths keep resolving the underscore column: a dim update
    // moves groups, a fact append folds against the evolved dim
    s.sql(s"UPDATE mvj_$tag.dim SET _tier = 'tX' WHERE doc_id = 3")
    SinkMvDist.refresh(s, factDir, mvDir)
    assert(got === want)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "2400").option("numPartitions", "2").load()
      .where(col("doc_id") >= 1200L && col("doc_id") < 1400L)
      .writeTo(s"mvj_$tag.fact").append()
    SinkMvDist.refresh(s, factDir, mvDir)
    assert(got === want)
    assert(got.exists(_._1 == "tX"))
  }
}
