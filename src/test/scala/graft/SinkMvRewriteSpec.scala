package graft

import graft.sources.{ShardSink, SinkMvDist, SinkMvRewrite}
import graft.sources.SinkMatView.MvAgg
import org.apache.spark.sql.functions._

/** Round-17 MV-AWARE QUERY REWRITE ([[SinkMvRewrite]]): a plain GROUP BY
  * over a registered ShardSink base table is transparently answered from
  * the distributed MV's state (+ change-feed tail) — pinned here by the
  * data-file read counter (base files NOT opened), the rewrite counter,
  * and value parity against the un-rewritten scan. Conservative bails:
  * version-pinned reads, extreme aggregates over a stale watermark,
  * unregistered tables.
  */
class SinkMvRewriteSpec extends SparkSpec {

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getPath
  }

  private def append(s: org.apache.spark.sql.SparkSession, dir: String, lo: Long, hi: Long): Unit =
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()

  test("a refused candidate never builds the MV's state frame") {
    // a doc_id range over a shard-grain MV: the rule screens the MV and
    // refuses it, so planning must cost the analyzer about what the query
    // without the rule costs — the rule's own runs, not the state frame's
    // analysis on top
    val dir = freshDir("mvrefuse")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 800L)
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      import org.apache.spark.sql.catalyst.rules.RuleExecutor
      def ruleRuns(body: => Any): Long = {
        val before = RuleExecutor.getCurrentMetrics()
        body
        (RuleExecutor.getCurrentMetrics() - before).numRuns
      }
      def planned() = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .where(col("doc_id") >= 100L && col("doc_id") < 300L)
        .agg(count(lit(1)), sum("doc_id")).queryExecution.optimizedPlan
      val stateRuns = ruleRuns(graft.sources.SinkTestAccess.mvState(s, mvDir))
      val withoutRule = ruleRuns(planned())
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      val r0 = SinkMvRewrite.rewrites.get()
      val withRule = ruleRuns(planned())
      assert(SinkMvRewrite.rewrites.get() === r0, "the doc_id range was rewritten")
      assert(withRule - withoutRule < stateRuns / 2,
        s"screening cost $withRule - $withoutRule rule runs; the state frame costs $stateRuns")
    } finally SinkMvRewrite.unregister(dir)
  }

  test("registered MV answers matching aggregates; base data files stay closed") {
    val dir = freshDir("mvrw")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 800L) // v1
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
      MvAgg("x", "xor", "doc_id"), MvAgg("hi", "max", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // current watermark: full rewrite including the extreme — ZERO base
      // data files opened, and the plan carries no base-table scan
      val q1 = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got1 = canon(q1.collect())
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L,
        "rewritten aggregate opened base data files")
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L)
      assert(!q1.queryExecution.executedPlan.toString.contains("ShardSinkScan["),
        "rewritten plan still scans the base table")
      val want1 = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load().groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
        .collect())
      assert(got1 === want1)
      // stale watermark: LINEAR aggregates compensate through the tail —
      // only the tail commit's files open
      val filesBefore = graft.sources.SinkTestAccess.resolveBase(dir)._2.length
      append(s, dir, 800L, 900L) // v2, not yet refreshed into the MV
      val tailFiles = graft.sources.SinkTestAccess.resolveBase(dir)._2.length - filesBefore
      val q2 = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"),
          expr("bit_xor(doc_id)").as("x"))
      val c1 = ShardSink.dataFileReadCount.get()
      val got2 = canon(q2.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L)
      assert(ShardSink.dataFileReadCount.get() - c1 <= tailFiles.toLong,
        "tail compensation read more than the tail commit")
      val want2 = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load().groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"),
          expr("bit_xor(doc_id)").as("x")).collect())
      assert(got2 === want2)
      // an EXTREME over a stale watermark takes the HYBRID path (round
      // 18): this tail is append-only, so no group is retracted-from —
      // the extreme is max(state, tail inserts), zero base data files
      // beyond the tail feed
      val q3 = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
      val c2 = ShardSink.dataFileReadCount.get()
      val got3 = canon(q3.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 3L, "extreme-over-tail did not hybrid-rewrite")
      assert(ShardSink.dataFileReadCount.get() - c2 <= tailFiles.toLong,
        "clean hybrid extreme read beyond the tail commit")
      assert(got3 === canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load().groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
        .collect()))
      // version-pinned reads never rewrite (the MV machinery's own
      // recompute shape)
      val qPinned = s.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).option("versionAsOf", 1).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
      qPinned.collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 3L, "pinned read was rewritten")
      // a residual filter bails (the MV has no predicate)
      base.where(col("doc_id") < 10L).groupBy(col("shard"))
        .agg(count(lit(1)).as("n")).collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 3L, "filtered aggregate was rewritten")
      // a filter CONSUMED by file-exact pruning leaves NO Filter node in
      // the plan — the scan itself must testify it is unpruned, or the
      // rewrite would answer a shard-3 query with every shard (review
      // fix). Compaction makes the layout shard-pure, which is exactly
      // when ShardSink consumes a one-shard predicate.
      // catch the MV up BEFORE compacting: compaction is the CDF
      // retention horizon, so an un-refreshed window would expire
      SinkMvDist.refresh(s, dir, mvDir)
      ShardSink.compact(dir)
      SinkMvDist.refresh(s, dir, mvDir) // fast-forward over the no-data commit
      val qc = base.where(col("shard") === 3).groupBy(col("shard"))
        .agg(count(lit(1)).as("n"))
      val rBefore = SinkMvRewrite.rewrites.get()
      val gotC = qc.collect()
      assert(SinkMvRewrite.rewrites.get() === rBefore, "consumed-filter aggregate was rewritten")
      assert(gotC.length === 1 && gotC.head.getInt(0) === 3, gotC.mkString(","))
      assert(!qc.queryExecution.optimizedPlan.toString.contains("Filter"),
        "expected the shard predicate to be CONSUMED by file pruning — " +
          "the regression this test exists for did not engage")
      // the UNFILTERED aggregate still rewrites after compaction (the
      // full scan is unpruned). A SUM rides along so ShardSink's own
      // metadata agg pushdown — which claims pure count/min/max rollups
      // on the compacted layout before this rule ever sees them, an even
      // cheaper answer — does not swallow the Aggregate node
      val qf = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      qf.collect()
      assert(SinkMvRewrite.rewrites.get() === rBefore + 1L)
      // unregistering restores the base scan — on a FRESH frame (an
      // already-executed DataFrame reuses its cached plan, so re-running
      // q1 would prove nothing — review fix), pinned by the plan shape
      SinkMvRewrite.unregister(dir)
      val rFinal = SinkMvRewrite.rewrites.get()
      val qU = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      qU.collect()
      assert(SinkMvRewrite.rewrites.get() === rFinal, "unregistered table was rewritten")
      assert(qU.queryExecution.executedPlan.toString.contains("ShardSinkScan["),
        "unregistered query did not return to the base scan")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("coarser GROUP BYs and the global aggregate re-roll the MV's fine-group partials") {
    val dir = freshDir("mvrw_coarse")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 600L)
    // per-(shard, doc bucket) grain — the query rolls it up coarser
    SinkMvDist.create(s, dir, mvDir, Seq("shard", "doc_id"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
      MvAgg("hi", "max", "doc_id")), buckets = 8)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      val r0 = SinkMvRewrite.rewrites.get()
      // coarser: GROUP BY shard over the (shard, doc_id)-grain MV —
      // extremes are exact at the coarse grain (min of fine mins)
      val qc = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
      val c0 = ShardSink.dataFileReadCount.get()
      val gotC = qc.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "coarser rollup did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L)
      val wantC = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load().groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotC === wantC)
      // global: no GROUP BY at all
      val qg = base.agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val gotG = qg.collect().head
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "global aggregate did not rewrite")
      assert(gotG.getLong(0) === 600L && gotG.getLong(1) === (599L * 600L) / 2L)
      // a group column OUTSIDE the MV's set still bails
      base.groupBy(col("body")).agg(count(lit(1)).as("n")).collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "non-subset grouping was rewritten")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("count(DISTINCT group column) answers from the fine-grain MV; non-linear companions gate off") {
    val dir = freshDir("mvrw_dc")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 600L)
    SinkMvDist.create(s, dir, mvDir, Seq("shard", "doc_id"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
      MvAgg("x", "xor", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      val r0 = SinkMvRewrite.rewrites.get()
      // fine-grain subsumption: doc_id is an MV group column, so live
      // fine groups per shard ARE the distinct doc_ids — zero base files
      val q = base.groupBy(col("shard"))
        .agg(count_distinct(col("doc_id")).as("du"), count(lit(1)).as("n"),
          sum("doc_id").as("sd"))
      val c0 = ShardSink.dataFileReadCount.get()
      val got = q.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "count(distinct) did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L,
        "the distinct rewrite opened base data files")
      val want = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load().groupBy(col("shard"))
        .agg(count_distinct(col("doc_id")).as("du"), count(lit(1)).as("n"),
          sum("doc_id").as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === want)
      // a non-linear companion (bit_xor does not re-roll through the
      // two-level distinct aggregation) must fall back
      base.groupBy(col("shard"))
        .agg(count_distinct(col("doc_id")).as("du"), expr("bit_xor(doc_id)").as("x"))
        .collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "distinct+xor was rewritten")
      // a distinct column outside the MV's group set must fall back
      base.groupBy(col("shard")).agg(count_distinct(col("body")).as("du")).collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "non-grain distinct was rewritten")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("a stale MV whose tail expired under compaction falls back to the base scan") {
    val dir = freshDir("mvrw_hz")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 400L) // v1
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      append(s, dir, 400L, 500L) // v2: un-refreshed tail
      ShardSink.compact(dir) // v3: horizon = 3 — the (1, 3] feed expired
      val r0 = SinkMvRewrite.rewrites.get()
      val q = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      // the rule must BAIL, not splice an expired change-feed scan that
      // fails the user's query at execution (review fix)
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0, "expired-tail MV was rewritten")
      val want = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("a non-integral aggregate never maps to a BIGINT MV slot") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_typ").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwt", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwt.root", root)
    s.conf.set("spark.sql.catalog.mvrwt.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwt.docs").append()
    s.sql("ALTER TABLE mvrwt.docs ADD COLUMN score DOUBLE")
    docs(0L, 300L).withColumn("score", col("doc_id") / 4.0).writeTo("mvrwt.docs").append()
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    // the MV folds sum(cast(score AS BIGINT)) — per-row truncation. A
    // query's sum(score) (a DOUBLE sum) matches the slot TEXTUALLY but
    // must NOT rewrite: the truncated slot is not the double sum
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sc", "sum", "score")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      val r0 = SinkMvRewrite.rewrites.get()
      val got = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("score").as("sc"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0,
        "a DOUBLE sum was rewritten to the truncated BIGINT slot")
      // avg(double) has the same hazard through a different door: its
      // output is ALWAYS double, so the slot-kind guard must key off the
      // INPUT type — a BIGINT sum slot over a DOUBLE column would return
      // truncated averages (review fix r18)
      val gotAvg = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(avg("score").as("a"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0,
        "avg(double) was rewritten to the truncated BIGINT sum slot")
      val wantAvg = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard")).agg(avg("score").as("a"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(gotAvg === wantAvg)
      val want = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("score").as("sc"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want)
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("try_sum never maps to the MV's ANSI sum slot") {
    val dir = freshDir("mvrw_try")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 300L)
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      val r0 = SinkMvRewrite.rewrites.get()
      // try_sum(doc_id) matches the sum slot TEXTUALLY but differs in the
      // Long-overflow corner (NULL vs error) — it must fall back (advice
      // fix r18); plain sum in the same query shape still rewrites
      val gotTry = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), expr("try_sum(doc_id)").as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0, "try_sum was rewritten to the ANSI slot")
      val gotSum = base.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L)
      assert(gotTry === gotSum)
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("a predicate-bearing MV matches the semantically-equal query WHERE") {
    val dir = freshDir("mvrw_pred")
    val mvDir = dir + ".mvd"
    val s = spark.newSession()
    append(s, dir, 0L, 600L)
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")),
      where = "doc_id % 2 = 0 AND length(body) = 32", buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def base = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // the same predicate — written with different spacing/order than the
      // definition — rewrites, base files stay closed
      val q = base.where(expr("length(body) = 32 AND doc_id % 2 = 0"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "predicate MV did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L)
      val want = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .where(expr("doc_id % 2 = 0 AND length(body) = 32"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect())
      assert(got === want)
      // tail compensation honors the predicate (a FRESH frame — an
      // already-optimized plan stays pinned to its snapshot, as any DSv2
      // scan does)
      append(s, dir, 600L, 700L)
      val q2 = base.where(expr("length(body) = 32 AND doc_id % 2 = 0"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val got2 = canon(q2.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L)
      assert(got2 === canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .where(expr("doc_id % 2 = 0 AND length(body) = 32"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect()))
      // a DIFFERENT predicate must not match, in either direction
      base.where(expr("doc_id % 2 = 1 AND length(body) = 32"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n")).collect()
      base.where(expr("doc_id % 2 = 0")).groupBy(col("shard"))
        .agg(count(lit(1)).as("n")).collect()
      base.groupBy(col("shard")).agg(count(lit(1)).as("n")).collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L,
        "a non-matching predicate (or no predicate) was rewritten against a predicate MV")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("group liveness and NULL-ness survive the state \u222a tail compensation") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_null").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwn", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwn.root", root)
    s.conf.set("spark.sql.catalog.mvrwn.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwn.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwn.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwn.docs").append() // v1
    s.sql("ALTER TABLE mvrwn.docs ADD COLUMN val BIGINT") // v2
    s.sql("ALTER TABLE mvrwn.docs ADD COLUMN grp BIGINT") // v3
    // grp 0..2 get 100 NULL-val rows each (v4) plus non-null val rows
    // (v5, docs 300..559); grp 3 (docs 560..599) lives ONLY in v5's file;
    // v6 is the untouched bulk that keeps the base scan expensive, so the
    // round-18 cost guard approves the compensation (the MoR delete feed
    // rereads only v5's file)
    docs(0L, 300L).withColumn("grp", col("doc_id") / lit(100L))
      .writeTo("mvrwn.docs").append() // v4: val NULL
    docs(300L, 600L)
      .withColumn("val", col("doc_id"))
      .withColumn("grp", when(col("doc_id") >= 560L, lit(3L))
        .otherwise((col("doc_id") - 300L) / lit(100L)))
      .writeTo("mvrwn.docs").append() // v5
    docs(600L, 1400L)
      .withColumn("val", col("doc_id"))
      .withColumn("grp", col("doc_id") / lit(100L))
      .writeTo("mvrwn.docs").append() // v6
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("grp"), Seq(
      MvAgg("n", "count"), MvAgg("sv", "sum", "val")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      // the tail: delete docs [300, 600) \u2014 every non-null val
      // contribution of grps 0..2 retracts (their sums must go back to
      // NULL, not 0) and grp 3 empties entirely (must LEAVE the result)
      s.sql("DELETE FROM mvrwn.docs WHERE doc_id >= 300 AND doc_id < 600")
      val r0 = SinkMvRewrite.rewrites.get()
      val got = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .where(col("grp") < 4L)
        .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum("val").as("sv"))
        .collect()
      // the filtered probe above does NOT rewrite (residual filter, no
      // predicate MV) \u2014 the rewrite target is the full-grain query
      val full = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum("val").as("sv"))
      val gotF = full.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else Long.box(r.getLong(2)))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "tail compensation did not rewrite")
      val want = spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum("val").as("sv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else Long.box(r.getLong(2)))).toSet
      assert(gotF === want)
      assert(!gotF.exists(_._1 == 3L), "emptied group survived the compensation")
      assert(gotF.filter(_._1 < 3L).forall(_._3 == null),
        "sum must return to NULL where the tail retracted the last non-null value")
      assert(got.nonEmpty) // the filtered probe stays correct on the base path
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("cost guard: a tail whose feed outweighs the base scan provably falls back") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_cost").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwc", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwc.root", root)
    s.conf.set("spark.sql.catalog.mvrwc.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwc.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwc.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "400").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwc.docs").append() // v1: bootstrap
    docs(0L, 400L).writeTo("mvrwc.docs").append() // v2
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      // churn: three MoR delete commits whose vector growth rereads the
      // data files once per commit in the diff feed \u2014 the un-refreshed
      // window's feed outweighs the one-pass base scan and the guard
      // must refuse
      s.sql("DELETE FROM mvrwc.docs WHERE doc_id >= 150 AND doc_id < 250") // v3
      s.sql("DELETE FROM mvrwc.docs WHERE doc_id >= 250 AND doc_id < 350") // v4
      s.sql("DELETE FROM mvrwc.docs WHERE doc_id >= 350") // v5
      val r0 = SinkMvRewrite.rewrites.get()
      val f0 = SinkMvRewrite.costFallbacks.get()
      val q = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0, "uneconomic tail was rewritten")
      assert(SinkMvRewrite.costFallbacks.get() === f0 + 1L,
        "the refusal was not a recorded cost fallback")
      val want = spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
      // after a refresh the tail is gone and the same query rewrites
      SinkMvDist.refresh(s, dir, mvDir)
      val q2 = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      q2.collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "refreshed MV did not rewrite")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("MV selection: the cheaper (coarser) of two subsuming MVs answers the query") {
    val dir = freshDir("mvrw_sel")
    val fineDir = dir + ".mvd_fine"
    val coarseDir = dir + ".mvd_coarse"
    val s = spark.newSession()
    append(s, dir, 0L, 900L)
    // registration ORDER is fine first \u2014 under round-17's first-match
    // iteration the per-row-grain MV would win; the round-18 cost model
    // must pick the 16-row coarse state instead
    SinkMvDist.create(s, dir, fineDir, Seq("shard", "doc_id"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 8)
    SinkMvDist.create(s, dir, coarseDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 2)
    SinkMvRewrite.register(dir, fineDir)
    SinkMvRewrite.register(dir, coarseDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      val q = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val r0 = SinkMvRewrite.rewrites.get()
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L)
      val planFiles = q.queryExecution.executedPlan.toString
      assert(planFiles.contains(".mvd_coarse"),
        s"expected the coarse MV state in the plan: $planFiles")
      assert(!planFiles.contains(".mvd_fine"),
        "the per-row-grain MV was chosen over the cheaper coarse state")
      val want = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard")).agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("hybrid extremes: tail retractions recompute ONLY the dirty groups, pruned") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_hyb").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwh", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwh.root", root)
    s.conf.set("spark.sql.catalog.mvrwh.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwh.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwh.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1000").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 1000L).writeTo("mvrwh.docs").append() // v1
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
      MvAgg("hi", "max", "doc_id")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      // shard-pure layout FIRST, so the dirty recompute's IN-list prunes
      // to exactly one file; the MV must be refreshed over the compaction
      // before the horizon moves
      SinkMvDist.refresh(s, dir, mvDir)
      ShardSink.compact(dir) // v2
      SinkMvDist.refresh(s, dir, mvDir) // fast-forward over the no-data commit
      val baseFiles = graft.sources.SinkTestAccess.resolveBase(dir)._2.length
      assert(baseFiles >= 8, s"expected a multi-file compacted layout, got $baseFiles")
      // the tail retracts shard 5's recorded max (doc 997 is shard 5;
      // delete the top) \u2014 every other shard's extreme stays derivable
      s.sql("DELETE FROM mvrwh.docs WHERE shard = 5 AND doc_id >= 500") // v3
      val q = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val opened = ShardSink.dataFileReadCount.get() - c0
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "retraction tail did not hybrid-rewrite")
      // the recompute may open only the dirty shard's file(s) \u2014 far
      // fewer than the full layout (the MoR delete feed reads the same
      // shard file again through its vector, so allow a handful)
      assert(opened < baseFiles.toLong,
        s"hybrid recompute opened $opened of $baseFiles files \u2014 not pruned")
      val want = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"), max("doc_id").as("hi"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === want)
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("typed extremes: dmax/smin slots rewrite; a retracting tail takes the hybrid path") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_tex").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwt", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwt.root", root)
    s.conf.set("spark.sql.catalog.mvrwt.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwt.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwt.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1000").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwt.docs").append() // v1
    s.sql("ALTER TABLE mvrwt.docs ADD COLUMN score DOUBLE") // v2
    docs(0L, 1000L).withColumn("score",
      when(col("doc_id") % 5L === 0L, lit(null).cast("double"))
        .otherwise(col("doc_id") / lit(4.0)))
      .writeTo("mvrwt.docs").append() // v3
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"),
      MvAgg("mx", "dmax", "score"),
      MvAgg("mb", "smin", "body")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def q = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), max("score").as("mx"), min("body").as("mb"))
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      def want = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), max("score").as("mx"), min("body").as("mb"))
        .collect())
      // current watermark: the typed slots answer with zero base files
      // (DOUBLE and STRING values round-trip the segment codec exactly)
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got0 = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "typed extremes did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L,
        "typed-extreme rewrite opened base data files")
      assert(got0 === want)
      // shard-pure layout first (the MoR delete's feed then touches ONE
      // shard file instead of ≈ the whole table — on the mixed layout
      // the cost guard rightly refuses); MV refreshed across the no-data
      // commit before the horizon moves
      ShardSink.compact(dir) // v4
      SinkMvDist.refresh(s, dir, mvDir)
      // a retracting tail: shard 5 loses its top half — its recorded
      // dmax (score rides doc_id) is removed and the smin may be too, so
      // the hybrid path recomputes the dirty group and splices it
      s.sql("DELETE FROM mvrwt.docs WHERE shard = 5 AND doc_id >= 500") // v5
      val r1 = SinkMvRewrite.rewrites.get()
      val got1 = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r1 + 1L,
        "retracting typed tail did not hybrid-rewrite")
      assert(got1 === want)
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("derived aggregates: avg, count(col) and sum(double) answer from MV slots") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_der").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwd", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwd.root", root)
    s.conf.set("spark.sql.catalog.mvrwd.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwd.docs").append() // v1
    s.sql("ALTER TABLE mvrwd.docs ADD COLUMN score DOUBLE") // v2
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi).withColumn("score",
        when(col("doc_id") % 5L === 0L, lit(null).cast("double"))
          .otherwise(col("doc_id") / lit(4.0)))
        .writeTo("mvrwd.docs").append()
    ingest(0L, 600L) // v3
    val dir = new java.io.File(root, "docs").getPath
    val mvDir = dir + ".mvd"
    SinkMvDist.create(s, dir, mvDir, Seq("shard"), Seq(
      MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
      MvAgg("ds", "dsum", "score")), buckets = 4)
    SinkMvRewrite.register(dir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def q = s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard"))
        .agg(avg("doc_id").as("a"), count(col("score")).as("ns"),
          sum("score").as("ss"))
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getDouble(3))).toSet
      // current watermark: all three derive from slots, zero base files
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "derived aggregates did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L)
      val want = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard"))
        .agg(avg("doc_id").as("a"), count(col("score")).as("ns"),
          sum("score").as("ss")).collect())
      assert(got === want)
      // stale watermark: the same trio compensates through the tail
      ingest(600L, 800L) // v4
      val got2 = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "derived tail did not rewrite")
      val want2 = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", dir).load()
        .groupBy(col("shard"))
        .agg(avg("doc_id").as("a"), count(col("score")).as("ns"),
          sum("score").as("ss")).collect())
      assert(got2 === want2)
      // try_avg never maps (overflow-corner semantics, like try_sum)
      s.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
        .groupBy(col("shard")).agg(expr("try_avg(doc_id)").as("a")).collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "try_avg was rewritten")
    } finally {
      SinkMvRewrite.unregister(dir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("join rewrite: fact \u22c8 dim GROUP BY answers from the join MV, both scans closed") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_join").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwj", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwj.root", root)
    s.conf.set("spark.sql.catalog.mvrwj.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwj.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwj.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwj.dim").append() // d1
    s.sql("ALTER TABLE mvrwj.dim ADD COLUMN region STRING") // d2
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo("mvrwj.dim").append() // d3
    docs(0L, 0L).writeTo("mvrwj.fact").append() // f1
    s.sql("ALTER TABLE mvrwj.fact ADD COLUMN uid BIGINT") // f2
    def ingest(lo: Long, hi: Long): Unit =
      docs(lo, hi).withColumn("uid", (col("doc_id") % 40L).cast("long"))
        .writeTo("mvrwj.fact").append()
    ingest(0L, 800L) // f3
    val factDir = new java.io.File(root, "fact").getPath
    val dimDir = new java.io.File(root, "dim").getPath
    val mvDir = factDir + ".mvjd"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("d_region", "uid"), aggs = Seq(
        MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id"),
        MvAgg("hi", "max", "doc_id")), buckets = 4)
    SinkMvRewrite.register(factDir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def fact = s.read.format("graft.sources.ShardSinkSource").option("path", factDir).load()
      def dim = s.read.format("graft.sources.ShardSinkSource").option("path", dimDir).load()
      def q = fact.join(
        dim.select(col("doc_id").as("dk"), col("region")),
        col("shard") === col("dk"), "inner")
        .groupBy(col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      def want() = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(spark.read.format("graft.sources.ShardSinkSource")
          .option("path", dimDir).load()
          .select(col("doc_id").as("dk"), col("region")),
          col("shard") === col("dk"), "inner")
        .groupBy(col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // current watermarks: NEITHER table's data files open
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "join query did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L,
        "join rewrite opened base data files at a current watermark")
      assert(got === want())
      // fact tail: compensates through [\u0394f \u22c8 d@new] \u2014 rewrites, and the
      // dim is read as the join side (small), never the fact's data files
      // beyond the tail commit
      ingest(800L, 1200L) // f4
      val got2 = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "fact-tail join query did not rewrite")
      assert(got2 === want())
      // dim tail: the [\u0394d \u22c8 f@old] part would rescan the whole fact \u2014
      // the cost guard refuses and the base join answers
      SinkMvDist.refresh(s, factDir, mvDir)
      s.sql("UPDATE mvrwj.dim SET region = 'rX' WHERE doc_id = 5") // d4
      val f0 = SinkMvRewrite.costFallbacks.get()
      val got3 = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "dim-tail join query was rewritten")
      assert(SinkMvRewrite.costFallbacks.get() >= f0 + 1L,
        "the dim-tail refusal was not a recorded cost fallback")
      assert(got3 === want())
      // refreshed over the dim update: rewrites again, group moves applied
      SinkMvDist.refresh(s, factDir, mvDir)
      val got4 = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 3L, "refreshed join MV did not rewrite")
      assert(got4 === want())
      assert(got4.exists(_._1 == "rX"), "the dim update's group move is missing")
      // a USER-written narrowing cast on the join key must never match:
      // only the analyzer's lossless up-cast to the other key's type is
      // looked through (review fix r18) — cast(dk AS INT) changes which
      // rows join under wraparound and is not the MV's equality
      val rN = SinkMvRewrite.rewrites.get()
      fact.join(
        dim.select(col("doc_id").as("dk"), col("region")),
        col("shard") === col("dk").cast("int"), "inner")
        .groupBy(col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect()
      assert(SinkMvRewrite.rewrites.get() === rN,
        "a narrowing join-key cast was matched to the MV's up-cast equality")
      // an extreme over ANY join tail falls back (no hybrid for joins):
      // the bail is the EXTREME guard, which runs BEFORE the cost model —
      // pinned by costFallbacks staying put (a cost refusal would move it)
      s.sql("UPDATE mvrwj.dim SET region = 'rY' WHERE doc_id = 7") // d5: dim tail
      val qx = fact.join(
        dim.select(col("doc_id").as("dk"), col("region")),
        col("shard") === col("dk"), "inner")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), max("doc_id").as("hi"))
      val rX = SinkMvRewrite.rewrites.get()
      val fX = SinkMvRewrite.costFallbacks.get()
      val gotX = qx.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === rX, "join extreme over a tail was rewritten")
      assert(SinkMvRewrite.costFallbacks.get() === fX,
        "the join-extreme bail reached the cost guard instead of bailing first")
      val wantX = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(spark.read.format("graft.sources.ShardSinkSource")
          .option("path", dimDir).load()
          .select(col("doc_id").as("dk"), col("region")),
          col("shard") === col("dk"), "inner")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), max("doc_id").as("hi"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotX === wantX)
    } finally {
      SinkMvRewrite.unregister(factDir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("dim-tail compensation: attr-only dim moves remap state; key changes refuse") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_dt").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrwdt", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrwdt.root", root)
    s.conf.set("spark.sql.catalog.mvrwdt.rlo.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwdt.delete.mode", "merge-on-read")
    s.conf.set("spark.sql.catalog.mvrwdt.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "800").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrwdt.dim").append()
    s.sql("ALTER TABLE mvrwdt.dim ADD COLUMN region STRING")
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .writeTo("mvrwdt.dim").append()
    docs(0L, 800L).writeTo("mvrwdt.fact").append()
    val factDir = new java.io.File(root, "fact").getPath
    val dimDir = new java.io.File(root, "dim").getPath
    val mvDir = factDir + ".mvdt"
    SinkMvDist.createJoin(s, factDir, dimDir, mvDir, fk = "shard", pk = "doc_id",
      groups = Seq("shard", "d_region"), aggs = Seq(
        MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    SinkMvRewrite.register(factDir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def q = s.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(s.read.format("graft.sources.ShardSinkSource")
          .option("path", dimDir).load()
          .select(col("doc_id").as("dk"), col("region")),
          col("shard") === col("dk"), "inner")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      def want = spark.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(spark.read.format("graft.sources.ShardSinkSource")
          .option("path", dimDir).load()
          .select(col("doc_id").as("dk"), col("region")),
          col("shard") === col("dk"), "inner")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // an attribute-only dim UPDATE: the rewrite fires WITHOUT the fact
      // in the plan (the compensation reads state + dim + feed only)
      s.sql("UPDATE mvrwdt.dim SET region = 'rX' WHERE doc_id = 5")
      val r0 = SinkMvRewrite.rewrites.get()
      val qq = q
      val got = qq.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L,
        "the attr-only dim tail did not compensate-rewrite")
      val plan = qq.queryExecution.executedPlan.toString
      assert(!plan.contains(s"ShardSinkScan[$factDir,"),
        s"the compensated rewrite still scans the fact: $plan")
      assert(got === want)
      // a dim DELETE (key 7 leaves): compensation drops its state rows
      s.sql("DELETE FROM mvrwdt.dim WHERE doc_id = 7")
      val got2 = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L,
        "the dim-delete tail did not compensate-rewrite")
      assert(got2 === want)
      // a pk-CHANGING dim UPDATE (update_postimage with a NEW key — the
      // feed spells it update, never insert) is ALSO key-arriving and
      // must refuse: the arriving key 55 pulls no state rows while key
      // 3's vanish, underivable from state (review fix — an insert-only
      // probe let this through)
      s.sql("UPDATE mvrwdt.dim SET doc_id = 55 WHERE doc_id = 3")
      val got2b = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L,
        "a pk-changing dim update was compensated")
      assert(got2b === want)
      // a genuinely KEY-CHANGING dim tail (an insert) must refuse — the
      // new key would pull fact rows the state never saw
      docs(16L, 17L).withColumn("region", lit("r9")).writeTo("mvrwdt.dim").append()
      val got3 = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L,
        "a key-changing dim tail was compensated")
      assert(got3 === want)
    } finally {
      SinkMvRewrite.unregister(factDir)
      s.experimental.extraOptimizations = Nil
    }
  }

  test("snowflake rewrite: the chain query answers from the snowflake MV") {
    val root = java.nio.file.Files.createTempDirectory("mvrw_snow").toString
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.mvrws", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.mvrws.root", root)
    s.conf.set("spark.sql.catalog.mvrws.cdf.enabled", "true")
    def docs(lo: Long, hi: Long) = s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "1200").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)
    docs(0L, 0L).writeTo("mvrws.dim2").append()
    s.sql("ALTER TABLE mvrws.dim2 ADD COLUMN zone STRING")
    docs(0L, 4L).withColumn("zone", concat(lit("z"), (col("doc_id") % 2).cast("string")))
      .writeTo("mvrws.dim2").append()
    docs(0L, 0L).writeTo("mvrws.dim1").append()
    s.sql("ALTER TABLE mvrws.dim1 ADD COLUMN region STRING")
    s.sql("ALTER TABLE mvrws.dim1 ADD COLUMN catk BIGINT")
    docs(0L, 16L)
      .withColumn("region", concat(lit("r"), (col("doc_id") % 3).cast("string")))
      .withColumn("catk", (col("doc_id") % 4).cast("long"))
      .writeTo("mvrws.dim1").append()
    docs(0L, 0L).writeTo("mvrws.fact").append()
    s.sql("ALTER TABLE mvrws.fact ADD COLUMN uid BIGINT")
    docs(0L, 800L).withColumn("uid", (col("doc_id") % 150L).cast("long"))
      .writeTo("mvrws.fact").append()
    val factDir = new java.io.File(root, "fact").getPath
    val d1Dir = new java.io.File(root, "dim1").getPath
    val d2Dir = new java.io.File(root, "dim2").getPath
    val mvDir = factDir + ".mvsr"
    SinkMvDist.createSnowflake(s, factDir, mvDir,
      Seq(SinkMvDist.SnowDim(d1Dir, "shard", "doc_id", "d1_"),
        SinkMvDist.SnowDim(d2Dir, "d1_catk", "doc_id", "d2_")),
      Seq("d2_zone", "d1_region", "uid"),
      Seq(MvAgg("n", "count"), MvAgg("sd", "sum", "doc_id")), buckets = 4)
    SinkMvRewrite.register(factDir, mvDir)
    try {
      s.experimental.extraOptimizations = Seq(SinkMvRewrite)
      def fact = s.read.format("graft.sources.ShardSinkSource").option("path", factDir).load()
      def d1 = s.read.format("graft.sources.ShardSinkSource").option("path", d1Dir).load()
      def d2 = s.read.format("graft.sources.ShardSinkSource").option("path", d2Dir).load()
      def q = fact
        .join(d1.select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("shard") === col("d1k"), "inner")
        .join(d2.select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val r0 = SinkMvRewrite.rewrites.get()
      val c0 = ShardSink.dataFileReadCount.get()
      val got = canon(q.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "snowflake chain did not rewrite")
      assert(ShardSink.dataFileReadCount.get() - c0 === 0L,
        "snowflake rewrite opened base data files at current watermarks")
      val want = canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load()
        .join(spark.read.format("graft.sources.ShardSinkSource").option("path", d1Dir).load()
          .select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("shard") === col("d1k"), "inner")
        .join(spark.read.format("graft.sources.ShardSinkSource").option("path", d2Dir).load()
          .select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd")).collect())
      assert(got === want)
      // a DIFFERENT chain (fact joined straight to dim2 on shard) pairs
      // no MV — the dim-order/dir contract must hold
      fact.join(d2.select(col("doc_id").as("d2k"), col("zone")),
        col("shard") === col("d2k"), "inner")
        .groupBy(col("zone")).agg(count(lit(1)).as("n")).collect()
      assert(SinkMvRewrite.rewrites.get() === r0 + 1L, "a mis-paired chain was rewritten")
      // the FACT side under a renaming Project resolves like a dim side
      // (review fix r18: the tree builder's leaf regressed to attr-only
      // projects) — aliased fact columns still rewrite
      val qa = fact.select(col("shard").as("sh"), col("uid"), col("doc_id"))
        .join(d1.select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("sh") === col("d1k"), "inner")
        .join(d2.select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val gotA = canon(qa.collect())
      assert(SinkMvRewrite.rewrites.get() === r0 + 2L, "aliased-fact chain did not rewrite")
      assert(gotA === want)
      // a REAL IS NOT NULL filter on a non-key GROUP column pushed into
      // a side is a round-19 filtered-rollup residual: uid is an MV
      // group column, so the filter applies to state fine-groups exactly
      // and the query REWRITES (pre-r19 this had to refuse — the nn-peel
      // alone is valid for matched join keys only)
      val rNn = SinkMvRewrite.rewrites.get()
      val qn = fact.where(col("uid").isNotNull)
        .join(d1.select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("shard") === col("d1k"), "inner")
        .join(d2.select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"))
      val gotN = canon(qn.collect())
      assert(SinkMvRewrite.rewrites.get() === rNn + 1L,
        "the group-column IS NOT NULL residual did not rewrite")
      assert(gotN === canon(spark.read.format("graft.sources.ShardSinkSource")
        .option("path", factDir).load().where(col("uid").isNotNull)
        .join(spark.read.format("graft.sources.ShardSinkSource").option("path", d1Dir).load()
          .select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("shard") === col("d1k"), "inner")
        .join(spark.read.format("graft.sources.ShardSinkSource").option("path", d2Dir).load()
          .select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sd")).collect()))
      // a residual over a NON-group column (body is no MV group) must
      // still fall back — group-column-only is the exactness condition
      val rNg = SinkMvRewrite.rewrites.get()
      fact.where(length(col("body")) >= 0)
        .join(d1.select(col("doc_id").as("d1k"), col("region"), col("catk")),
          col("shard") === col("d1k"), "inner")
        .join(d2.select(col("doc_id").as("d2k"), col("zone")),
          col("catk") === col("d2k"), "inner")
        .groupBy(col("zone"), col("region"), col("uid"))
        .agg(count(lit(1)).as("n")).collect()
      assert(SinkMvRewrite.rewrites.get() === rNg,
        "a non-group-column residual was absorbed into the rewrite")
    } finally {
      SinkMvRewrite.unregister(factDir)
      s.experimental.extraOptimizations = Nil
    }
  }
}
