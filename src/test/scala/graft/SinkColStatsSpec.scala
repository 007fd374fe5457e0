package graft

import graft.sources.{ShardSink, SinkColStats, SinkTestAccess}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Round-15 PER-COLUMN DATA SKIPPING ([[SinkColStats]]): envelope codec
  * soundness (poisoning, cross-type, prefix successor), file pruning
  * proven with the physical read counter on the append path, envelope
  * carry-through on every rewrite path (compaction, CoW, MOR), and the
  * NULL-rejection rule that keeps skipping sound under evolution nulls.
  * The end-to-end lifecycle also sits under the driver's hash gate as
  * `q_dsv2_col_skipping`.
  */
class SinkColStatsSpec extends SparkSpec {

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getPath
  }

  private def docs(lo: Long, hi: Long, n: Int = 1800) =
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", n.toString).option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)

  private def ingest(dir: String, lo: Long, hi: Long, lang: String): Unit =
    docs(lo, hi)
      .withColumn("lang", lit(lang))
      .withColumn("score", (col("doc_id") * 2L).cast("long"))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save()

  private def read(dir: String) =
    spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()

  private def entryCount(dir: String): Int = SinkTestAccess.resolveBase(dir)._2.length

  private def counted(df: => org.apache.spark.sql.DataFrame): (Long, Long) = {
    val before = ShardSink.dataFileReadCount.get()
    val n = df.count()
    (n, ShardSink.dataFileReadCount.get() - before)
  }

  // ---- codec ---------------------------------------------------------------

  test("codec: round-trip, string base64, poison on long strings and NaN") {
    val table = new StructType()
      .add("doc_id", LongType).add("shard", org.apache.spark.sql.types.IntegerType)
      .add("s", StringType).add("l", LongType)
      .add("d", org.apache.spark.sql.types.DoubleType)
    val acc = new SinkColStats.LineAcc(table)
    acc.add(Array("1", "0", "héllo:|\"wor}ld", "42", "1.5"))
    acc.add(Array("2", "1", "aa", "-7", "2.5"))
    val enc = acc.encode()
    val st = SinkColStats.decode(enc)
    assert(st("s") === SinkColStats.ColStat('s', "aa", "héllo:|\"wor}ld", Some(0L)))
    assert(st("l") === SinkColStats.ColStat('l', "-7", "42", Some(0L)))
    assert(st("d") === SinkColStats.ColStat('d', "1.5", "2.5", Some(0L)))
    // the encoded token must be manifest-regex-safe: no quote, no brace
    assert(!enc.exists(c => c == '"' || c == '{' || c == '}' || c == '\\'))
    // a >MaxTracked string poisons ONLY its column
    val acc2 = new SinkColStats.LineAcc(table)
    acc2.add(Array("1", "0", "x" * (SinkColStats.MaxTracked + 1), "5", "1.0"))
    val st2 = SinkColStats.decode(acc2.encode())
    assert(!st2.contains("s") && st2.contains("l"))
    // NaN poisons the double column (order-based pruning would be wrong)
    val acc3 = new SinkColStats.LineAcc(table)
    acc3.add(Array("1", "0", "ok", "5", "NaN"))
    acc3.add(Array("2", "1", "ok", "6", "1.0"))
    val st3 = SinkColStats.decode(acc3.encode())
    assert(!st3.contains("d") && st3.contains("l"))
    // null sentinel and short (pre-evolution) rows skip, not crash
    val acc4 = new SinkColStats.LineAcc(table)
    acc4.add(Array("1", "0", "\\N", "5")) // the writer's null sentinel
    acc4.add(Array("2", "1"))
    val st4 = SinkColStats.decode(acc4.encode())
    // the all-null string column records a BOUNDLESS token with its null
    // count (round 16); the short row null-counts into BOTH columns
    assert(st4("s") === SinkColStats.ColStat('s', null, null, Some(2L)))
    assert(st4("l") === SinkColStats.ColStat('l', "5", "5", Some(1L)))
    // malformed null-count fields degrade to "no stats, never prunes" —
    // never a parse crash (review fix: empty / overflowing nc)
    assert(SinkColStats.decode("c:l:1:2:").isEmpty)
    assert(SinkColStats.decode("c:l:1:2:99999999999999999999").isEmpty)
    assert(SinkColStats.decode("c:l:1:2:7")("c").nc === Some(7L))
  }

  test("predicates: ranges, IN exactness, prefix successor, cross-type never prunes") {
    import SinkColStats._
    val lng = ColStat('l', "10", "20")
    assert(!ColIn("c", 'l', Seq("5", "25")).mayMatch(lng))
    assert(ColIn("c", 'l', Seq("5", "15")).mayMatch(lng))
    // IN is value-exact, not a hull: {5, 25} straddles but misses
    assert(!ColRange("c", 'l', Some("21"), loInc = true, None, hiInc = false).mayMatch(lng))
    assert(ColRange("c", 'l', Some("20"), loInc = true, None, hiInc = false).mayMatch(lng))
    assert(!ColRange("c", 'l', Some("20"), loInc = false, None, hiInc = false).mayMatch(lng))
    assert(!ColRange("c", 'l', None, loInc = false, Some("10"), hiInc = false).mayMatch(lng))
    assert(ColRange("c", 'l', None, loInc = false, Some("10"), hiInc = true).mayMatch(lng))
    // numeric order, not lexicographic: "9" < "10" would prune wrongly
    assert(ColIn("c", 'l', Seq("9")).mayMatch(ColStat('l', "9", "100")))
    val s = ColStat('s', "en", "en")
    assert(!ColPrefix("c", "d").mayMatch(s)) // "en" ≥ succ("d") = "e"
    assert(ColPrefix("c", "e").mayMatch(s))
    assert(ColPrefix("c", "en").mayMatch(s))
    assert(!ColPrefix("c", "enx").mayMatch(s))
    // cross-type (stat recorded as long, predicate typed string): keep
    assert(ColIn("c", 's', Seq("zz")).mayMatch(lng))
    // unknown column in the entry: keep
    assert(mayMatch("other:l:1:2", Seq(ColIn("c", 'l', Seq("99")))))
  }

  // ---- file pruning on the write paths --------------------------------------

  test("append path: an equality read opens only the matching ingest's files") {
    val dir = freshDir("cs_append")
    ingest(dir, 0L, 600L, "pt") // v1: scores 0..1198
    val ptFiles = entryCount(dir)
    ingest(dir, 600L, 1200L, "en") // v2: scores 1200..2398
    val afterEn = entryCount(dir)
    ingest(dir, 1200L, 1800L, "de") // v3: scores 2400..3598
    val census = entryCount(dir)
    val deFiles = census - afterEn
    assert(census > ptFiles)
    val (n, opened) = counted(read(dir).where(col("lang") === "pt"))
    assert(n === 600L)
    assert(opened === ptFiles.toLong,
      s"lang=pt opened $opened files, expected the pt ingest's $ptFiles (census $census)")
    // numeric range: only the de ingest's files carry score >= 2400
    val (nHi, openedHi) = counted(read(dir).where(col("score") >= 2400L))
    assert(nHi === 600L)
    assert(openedHi === deFiles.toLong,
      s"score>=2400 opened $openedHi files, expected the de ingest's $deFiles (census $census)")
  }

  test("compaction re-derives envelopes; chunked files keep pruning effective") {
    val dir = freshDir("cs_compact")
    ingest(dir, 0L, 600L, "pt")
    ingest(dir, 600L, 1200L, "en")
    ShardSink.compact(dir, targetRowsPerFile = 40L) // shard-pure doc-run chunks
    val census = entryCount(dir)
    // per shard: 75 docs → a 40-row chunk spanning both langs and a
    // 35-row chunk that is pure 'en' — the pt read must skip the latter
    val (n, opened) = counted(read(dir).where(col("lang") === "pt"))
    assert(n === 600L)
    assert(opened < census.toLong, s"opened $opened of census $census after compaction")
    assert(opened <= (census / 2 + 1).toLong)
  }

  test("copy-on-write rewrite re-derives envelopes from the surviving rows") {
    val dir = freshDir("cs_cow")
    ingest(dir, 0L, 600L, "pt")
    ingest(dir, 600L, 1200L, "en")
    // CoW delete rewrites every straddling file (doc predicate): the
    // rewritten survivors must re-carry lang/score envelopes
    SinkTestAccess.cowDelete(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 900L)))
    val census = entryCount(dir)
    val (n, opened) = counted(read(dir).where(col("lang") === "en"))
    assert(n === 300L)
    assert(opened < census.toLong,
      s"rewritten files lost their envelopes: opened $opened of $census")
    // and the envelope reflects the SURVIVORS: score now tops out below
    // 1800, so a read above that prunes everything
    val (nHi, openedHi) = counted(read(dir).where(col("score") >= 1800L))
    assert(nHi === 0L && openedHi === 0L)
  }

  test("merge-on-read delete keeps the (superset) envelope: pruning stays sound") {
    val dir = freshDir("cs_mor")
    ingest(dir, 0L, 600L, "pt")
    ingest(dir, 600L, 1200L, "en")
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 1000L)))
    val census = entryCount(dir)
    // the recorded 'en' envelope still names the dead rows' scores — a
    // SUPERSET, so the pruned read is correct, merely less selective
    val (n, opened) = counted(read(dir).where(col("lang") === "en"))
    assert(n === 400L)
    assert(opened < census.toLong)
    val (nGone, _) = counted(read(dir).where(col("score") >= 2000L))
    assert(nGone === 0L) // rows are gone even though envelopes may keep the files
  }

  test("IS NULL prunes zero-null files; IS NOT NULL prunes all-null files; pre-evolution reads") {
    val dir = freshDir("cs_null")
    docs(0L, 400L).write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    val preFiles = entryCount(dir)
    ingest(dir, 400L, 800L, "pt")
    val midFiles = entryCount(dir)
    // v3: an ALL-NULL lang ingest — a boundless `!` envelope per file
    docs(800L, 1200L, n = 1200)
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("score", (col("doc_id") * 2L).cast("long"))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    val census = entryCount(dir)
    val ptFiles = midFiles - preFiles
    val nullFiles = census - midFiles
    // IS NULL: the pt files record nc = 0 and SKIP; the pre-evolution
    // files (no lang token) and the all-null files read
    val (n, opened) = counted(read(dir).where(col("lang").isNull))
    assert(n === 800L)
    assert(opened === (census - ptFiles).toLong, s"IS NULL opened $opened of $census")
    // IS NOT NULL: the all-null files' boundless envelopes SKIP; the
    // stats-less pre-evolution files still read (conservative)
    val (nn, openedNn) = counted(read(dir).where(col("lang").isNotNull))
    assert(nn === 400L)
    assert(openedNn === (census - nullFiles).toLong,
      s"IS NOT NULL opened $openedNn of $census")
    // a null-rejecting VALUE predicate also skips the all-null files
    val (nPt, openedPt) = counted(read(dir).where(col("lang") === "pt"))
    assert(nPt === 400L)
    assert(openedPt === (census - nullFiles).toLong)
    // manifest-only COUNT(col): after compaction every file carries the
    // null count, no delete vectors — zero data IO
    ShardSink.compact(dir)
    val cdf = read(dir).agg(count(col("lang")).as("n"))
    val planned = cdf.queryExecution.executedPlan.toString
    val c0 = ShardSink.dataFileReadCount.get()
    assert(cdf.collect().head.getLong(0) === 400L)
    assert(planned.contains("ShardSinkCountScan") &&
      ShardSink.dataFileReadCount.get() === c0,
      s"COUNT(lang) not manifest-answered:\n$planned")
  }

  test("segment refs carry merged column envelopes: payload predicates skip whole segments") {
    val dir = freshDir("cs_seg")
    ShardSink.setSegmentTarget(1) // one entry per segment: maximal ref count
    try {
      ingest(dir, 0L, 600L, "pt")
      ingest(dir, 600L, 1200L, "en")
      ingest(dir, 1200L, 1800L, "de")
      val refs = SinkTestAccess.segmentRefsFull(dir, 3L)
      assert(refs.size >= 3, s"expected a multi-segment manifest, got ${refs.size}")
      SinkTestAccess.clearSegmentCache()
      val segBefore = SinkTestAccess.segmentReadCount
      val (n, opened) = counted(read(dir).where(col("lang") === "en"))
      val segRead = SinkTestAccess.segmentReadCount - segBefore
      assert(n === 600L)
      // the lang predicate prunes at BOTH levels: whole segments unread
      // (driver IO) and member files unopened (executor IO)
      assert(segRead < refs.size.toLong,
        s"read $segRead of ${refs.size} segments — segment-level cs envelope missing")
      assert(opened < entryCount(dir).toLong)
    } finally ShardSink.setSegmentTarget(512)
  }

  test("generalized Z-order: clustering makes payload envelopes selective; content identical") {
    val dir = freshDir("cs_zorder")
    // ONE interleaved ingest: every file spans every lang
    docs(0L, 1000L, n = 1000)
      .withColumn("lang", concat(lit("l"), (col("doc_id") % 4).cast("string")))
      .withColumn("score", ((col("doc_id") * 3L) % 500L).cast("long"))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    val preRows = read(dir).collect().toSet
    val censusBefore = entryCount(dir)
    val (n0, opened0) = counted(read(dir).where(col("lang") === "l2"))
    assert(n0 === 250L && opened0 === censusBefore.toLong, "interleaved: nothing prunable")
    ShardSink.compactZOrderBy(dir, rowsPerFile = 125, cols = Seq("lang"))
    // rewrite preserves content exactly
    assert(read(dir).collect().toSet === preRows)
    val census = entryCount(dir)
    assert(census === 8)
    // 250 l2 rows sorted to positions 500..749 → chunks 4 and 5 only
    val (n1, opened1) = counted(read(dir).where(col("lang") === "l2"))
    assert(n1 === 250L && opened1 === 2L, s"lang read opened $opened1 of $census")
    // multi-column curve: a box predicate prunes on both dimensions
    ShardSink.compactZOrderBy(dir, rowsPerFile = 125, cols = Seq("lang", "score"))
    assert(read(dir).collect().toSet === preRows)
    val (nb, openedBox) = counted(read(dir)
      .where(col("lang") === "l2" && col("score") >= 200L && col("score") < 260L))
    val expected = (0L until 1000L).count(id =>
      id % 4 == 2 && { val s = (id * 3) % 500; s >= 200 && s < 260 }).toLong
    assert(nb === expected)
    assert(openedBox < census.toLong, s"box read opened $openedBox of $census")
    // validation
    intercept[IllegalArgumentException](
      ShardSink.compactZOrderBy(dir, 125, Seq.empty))
    intercept[IllegalArgumentException](
      ShardSink.compactZOrderBy(dir, 125, Seq("lang", "lang")))
    intercept[IllegalArgumentException](
      ShardSink.compactZOrderBy(dir, 125, Seq("no_such")))
  }

  test("CBO column statistics: payload envelopes reach the optimizer's stats API") {
    val dir = freshDir("cs_cbo")
    ingest(dir, 0L, 600L, "aa")
    ingest(dir, 600L, 1200L, "zz")
    val scan = read(dir).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val cols = scan.estimateStatistics().columnStats()
    val byName = cols.entrySet().iterator()
    var found = Map.empty[String, (Object, Object)]
    while (byName.hasNext) {
      val e = byName.next()
      if (e.getValue.min().isPresent)
        found += e.getKey.describe() -> (e.getValue.min().get(), e.getValue.max().get())
    }
    assert(found.contains("score"), s"score stats missing: ${found.keySet}")
    assert(found("score") === (Long.box(0L), Long.box(2398L)))
    assert(found.contains("lang"))
    assert(found("lang")._1.toString === "aa" && found("lang")._2.toString === "zz")
  }

  test("payload MIN/MAX answers manifest-only; vectors and stat-less files disqualify") {
    val dir = freshDir("cs_meta")
    ingest(dir, 0L, 600L, "pt")
    ingest(dir, 600L, 1200L, "en")
    def aggDf = read(dir).agg(
      min(col("score")).as("mn"), max(col("score")).as("mx"), max(col("lang")).as("ml"))
    val pushed = aggDf
    assert(pushed.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"),
      pushed.queryExecution.executedPlan.toString)
    val before = ShardSink.dataFileReadCount.get()
    val r = pushed.collect().head
    assert(ShardSink.dataFileReadCount.get() === before, "manifest-only means zero data IO")
    assert((r.getLong(0), r.getLong(1), r.getString(2)) === ((0L, 2398L, "pt")))
    // a delete vector may have killed the extreme: the push must refuse
    SinkTestAccess.morDeleteWhere(dir,
      Array(org.apache.spark.sql.sources.EqualTo("doc_id", 1199L)))
    val fallback = aggDf
    assert(!fallback.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"))
    val r2 = fallback.collect().head
    assert((r2.getLong(0), r2.getLong(1)) === ((0L, 2396L))) // 1199's score is gone
    // a stat-less (pre-evolution) file disqualifies too — and the data
    // answer it falls back to is the null-ignoring SQL MIN
    val dir2 = freshDir("cs_meta2")
    docs(0L, 100L, n = 100).write.format("graft.sources.ShardSinkSource")
      .option("path", dir2).mode(org.apache.spark.sql.SaveMode.Append).save()
    ingest(dir2, 100L, 200L, "xx")
    val f2 = read(dir2).agg(min(col("score")).as("mn"))
    assert(!f2.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"))
    assert(f2.collect().head.getLong(0) === 200L)
  }

  test("type widening: stale 'l' envelopes never prune the widened column, reads stay exact") {
    val dir = freshDir("cs_widen")
    ingest(dir, 0L, 600L, "pt") // score recorded under tag 'l'
    SinkTestAccess.widenColumn(dir, "score", org.apache.spark.sql.types.DoubleType)
    // the predicate now types as 'd'; the recorded 'l' stats are
    // cross-type → no file prunes, and no file is WRONGLY pruned
    val census = entryCount(dir)
    val (n, opened) = counted(read(dir).where(col("score") >= 600.0))
    assert(n === 300L)
    assert(opened === census.toLong, "cross-type envelopes must read, never skip")
    // post-widening ingests write doubles; the UNTOUCHED lang envelope
    // keeps pruning (widening one column must not blank the others)
    docs(600L, 1200L)
      .withColumn("lang", lit("en"))
      .withColumn("score", (col("doc_id") * 2L).cast("double"))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    val (n2, opened2) = counted(
      read(dir).where(col("lang") === "en" && col("score") >= 2000.0))
    assert(n2 === 200L)
    assert(opened2 < entryCount(dir).toLong,
      "the lang envelope must still prune the pt files after the score widening")
    // and the manifest-only MIN/MAX refuses on the mixed-tag census
    val agg = read(dir).agg(max(col("score")).as("mx"))
    assert(!agg.queryExecution.executedPlan.toString.contains("ShardSinkCountScan"))
    assert(agg.collect().head.getDouble(0) === 2398.0)
  }

  test("rename-then-re-add: the new column inherits NO envelope; the renamed one keeps its own") {
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val root = java.nio.file.Files.createTempDirectory("cs_rename").toFile
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft_csr", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_csr.root", root.getPath)
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .where(col("doc_id") < 0L)
      .writeTo(s"graft_csr.t_$sfx").append() // bootstrap the 3-col table
    s.sql(s"ALTER TABLE graft_csr.t_$sfx ADD COLUMN lang STRING")
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .withColumn("lang", lit("pt"))
      .writeTo(s"graft_csr.t_$sfx").append()
    s.sql(s"ALTER TABLE graft_csr.t_$sfx RENAME COLUMN lang TO lang_old")
    s.sql(s"ALTER TABLE graft_csr.t_$sfx ADD COLUMN lang STRING")
    // the NEW lang is all-null: stale envelopes must not answer for it —
    // neither as a manifest-only MIN (would say 'pt') nor as a prune
    val mx = s.read.table(s"graft_csr.t_$sfx").agg(max(col("lang"))).collect().head
    assert(mx.isNullAt(0), s"stale envelope answered for the re-added column: $mx")
    assert(s.read.table(s"graft_csr.t_$sfx").where(col("lang") === "pt").count() === 0L)
    assert(s.read.table(s"graft_csr.t_$sfx").where(col("lang").isNull).count() === 400L)
    // the RENAMED column carried its envelope: equality on it still
    // prunes nothing away wrongly and answers exactly
    assert(s.read.table(s"graft_csr.t_$sfx").where(col("lang_old") === "pt").count() === 400L)
    assert(s.read.table(s"graft_csr.t_$sfx").where(col("lang_old") === "zz").count() === 0L)
  }

  test("row-level DML reads prune on payload predicates") {
    val sfx = java.util.UUID.randomUUID().toString.take(8)
    val root = java.nio.file.Files.createTempDirectory("cs_dml").toFile
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft_cs", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_cs.root", root.getPath)
    s.conf.set("spark.sql.catalog.graft_cs.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.graft_cs.delete.mode", "merge-on-read")
    def ing(lo: Long, hi: Long, lang: String): Unit =
      s.read.format("graft.sources.DocGenSource")
        .option("numDocs", "1200").option("numPartitions", "2").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .withColumn("lang", lit(lang))
        .writeTo(s"graft_cs.t_$sfx").append()
    // bootstrap the 3-column table, widen it, then land lang-pure ingests
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
      .where(col("doc_id") < 0L) // empty seed: creates the table
      .writeTo(s"graft_cs.t_$sfx").append()
    s.sql(s"ALTER TABLE graft_cs.t_$sfx ADD COLUMN lang STRING")
    ing(0L, 600L, "pt")
    ing(600L, 1200L, "en")
    val dir = new java.io.File(root, s"t_$sfx").getPath
    val census = entryCount(dir)
    val before = ShardSink.dataFileReadCount.get()
    s.sql(s"UPDATE graft_cs.t_$sfx SET body = upper(body) WHERE lang = 'en'")
    val opened = ShardSink.dataFileReadCount.get() - before
    assert(opened < census.toLong,
      s"the UPDATE's rewrite read opened $opened of $census files — payload pruning missing")
    val upd = s.read.table(s"graft_cs.t_$sfx")
      .where(col("body") =!= lower(col("body"))).count()
    assert(upd === 600L)
  }

  // ---- UTF-8 (code-point) string order — round 16 --------------------------

  test("string envelopes order by UTF-8 bytes, not UTF-16 units") {
    val emoji = "😀" // U+1F600 (supplementary plane)
    val wide = "Ａ" // U+FF21 fullwidth A (BMP above the surrogates)
    // the premise: Java's UTF-16 unit order INVERTS Spark's UTF-8 order
    // for exactly this pair — an envelope folded the Java way records an
    // upper bound below a value the file contains
    assert(emoji.compareTo(wide) < 0)
    assert(SinkColStats.utf8Cmp(emoji, wide) > 0)
    val table = new StructType()
      .add("doc_id", LongType).add("shard", org.apache.spark.sql.types.IntegerType)
      .add("s", StringType)
    val acc = new SinkColStats.LineAcc(table)
    acc.add(Array("1", "0", emoji))
    acc.add(Array("2", "1", wide))
    val st = SinkColStats.decode(acc.encode())("s")
    assert(st === SinkColStats.ColStat('s', wide, emoji, Some(0L)), st.toString)
    // the segment-level union folds with the same order
    val a1 = new SinkColStats.LineAcc(table); a1.add(Array("1", "0", emoji))
    val a2 = new SinkColStats.LineAcc(table); a2.add(Array("2", "1", wide))
    val merged = SinkColStats.decode(
      SinkColStats.mergeEnvelopes(Seq(a1.encode(), a2.encode())))("s")
    assert(merged === SinkColStats.ColStat('s', wide, emoji, Some(0L)), merged.toString)
    // and the prune test agrees with Spark's evaluation: `s > 'Ａ'`
    // matches the emoji row, so the envelope may NOT prune
    val pred = SinkColStats.ColRange("s", 's', Some(wide), loInc = false, None, hiInc = false)
    assert(pred.mayMatch(st))
  }

  test("prefix pruning is surrogate-safe and still prunes ASCII prefixes") {
    import SinkColStats.{ColPrefix, ColStat}
    val emoji = "😀"
    // a prefix ending in a lone lead surrogate: the value's continuation
    // combines into one supplementary char whose bytes have no prefix
    // relationship to any UTF-16 successor — the upper test must yield,
    // never prune a file holding a genuine match
    assert(ColPrefix("c", "a" + emoji.charAt(0))
      .mayMatch(ColStat('s', "a" + emoji, "a" + emoji)))
    // supplementary chars INSIDE a fully-paired prefix also skip the
    // upper bound (conservative), and the lower test stays exact
    assert(ColPrefix("c", "a" + emoji).mayMatch(ColStat('s', "a" + emoji + "x", "a" + emoji + "x")))
    assert(!ColPrefix("c", "b").mayMatch(ColStat('s', "c", "d")))
    assert(!ColPrefix("c", "b").mayMatch(ColStat('s', "a", "ax")))
    assert(ColPrefix("c", "b").mayMatch(ColStat('s', "b1", "b2")))
    // U+D7FF (successor would be a surrogate) drops from the tail like ￿
    assert(ColPrefix("c", "b퟿").mayMatch(ColStat('s', "b퟿z", "b퟿z")))
    assert(!ColPrefix("c", "b퟿").mayMatch(ColStat('s', "a", "a")))
  }

  test("no false prune and Spark-exact manifest MIN/MAX on supplementary-plane data") {
    val dir = freshDir("cs_utf8")
    val emoji = "😀"
    val wide = "Ａ"
    ingest(dir, 0L, 100L, "seed") // v1 establishes the evolved column
    docs(100L, 200L)
      .withColumn("lang",
        when(col("doc_id") % 2 === 0, lit(emoji)).otherwise(lit(wide)))
      .withColumn("score", (col("doc_id") * 2L).cast("long"))
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).option("mergeSchema", "true")
      .mode(org.apache.spark.sql.SaveMode.Append).save() // v2: mixed-plane
    // Spark evaluates U+1F600 > U+FF21 (code points): the 50 emoji rows
    // match; a UTF-16-ordered envelope records hi = Ａ and would have
    // pruned the very files that hold them → silent zero
    val (n, _) = counted(read(dir).where(col("lang") > lit(wide)))
    assert(n === 50L)
    // manifest-answered extremes agree with Spark's own aggregate order
    val row = read(dir).where(col("doc_id") >= 100L)
      .agg(min("lang").as("lo"), max("lang").as("hi")).collect().head
    assert(row.getString(0) === wide && row.getString(1) === emoji, row.toString)
  }
}
