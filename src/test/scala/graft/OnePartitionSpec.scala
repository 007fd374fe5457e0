package graft

import graft.model.Tables
import graft.plans.OnePartition
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plan shapes of [[graft.plans.OnePartition]]: broadcast-sized
  * joins, aggregates, windows, rollups, explodes and global sorts run as
  * one task with no exchange and no broadcast, with Spark's rows; UDFs,
  * typed `MapPartitions`, nondeterministic expressions, dynamic partition
  * pruning, row-level commits, streaming plans, a threshold of −1 and
  * inputs above the threshold keep Spark's plan; every ShardSink session
  * gets the strategy once.
  */
class OnePartitionSpec extends SparkSpec {
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private def noAqe[T](body: => T): T = withConfs("spark.sql.adaptive.enabled" -> "false")(body)

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    plan(df).collect { case e: ShuffleExchangeExec => e }
  private def coalesces(df: DataFrame): Int = plan(df).collect { case c: CoalesceExec => c }.size
  private def broadcasts(df: DataFrame): Int =
    plan(df).collect { case b: BroadcastExchangeExec => b }.size
  private def hashJoins(df: DataFrame): Int =
    plan(df).collect { case j: ShuffledHashJoinExec => j }.size
  private def rowSet(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("onepart").toFile.getPath

  private def docs(s: SparkSession, n: Int) =
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", n.toString).option("numPartitions", "3").load()

  test("a small read under an aggregate or a sort plans no exchange; same rows") {
    val orders = () => Tables.orders(spark, sf001)
    val cases: Seq[(String, Boolean, () => DataFrame)] = Seq(
      ("grouped aggregate", false, () =>
        orders().groupBy("o_orderstatus").agg(count(lit(1)), sum("o_totalprice"))),
      ("global aggregate over a filter", false, () =>
        Tables.lineitem(spark, sf001).where(col("l_quantity") > 10)
          .agg(count(lit(1)), max("l_extendedprice"))),
      ("sort over a filter", true, () =>
        orders().where(col("o_orderstatus") === "F")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))),
      ("sort over an aggregate over a union", true, () =>
        orders().select(col("o_custkey").as("k"))
          .union(Tables.customer(spark, sf001).select(col("c_custkey").as("k")))
          .groupBy("k").count().orderBy(col("count").desc, col("k"))))
    noAqe {
      for ((what, ordered, q) <- cases) {
        val df = q()
        assert(exchanges(df).isEmpty, s"$what:\n${plan(df)}")
        assert(coalesces(df) === 1, s"$what:\n${plan(df)}")
        val (ours, sparks) = withConfs(Threshold -> "-1") {
          val viaSpark = q()
          assert(exchanges(viaSpark).nonEmpty, s"$what without the strategy:\n${plan(viaSpark)}")
          if (ordered) (df.collect().toSeq.map(_.toString), viaSpark.collect().toSeq.map(_.toString))
          else (rowSet(df), rowSet(viaSpark))
        }
        assert(ours.nonEmpty && ours === sparks, what)
      }
    }
  }

  test("time travel, point and range reads of a lakehouse table plan no exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.catalog.onep", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.onep.root", freshRoot())
    docs(s, 600).writeTo("onep.t").append()
    docs(s, 900).where(col("doc_id") >= 600).writeTo("onep.t").append()
    val queries = Seq(
      "SELECT count(*), sum(doc_id), sum(length(body)) FROM onep.t VERSION AS OF 1",
      "SELECT doc_id, body FROM onep.t WHERE doc_id IN (3, 601, 899) ORDER BY doc_id",
      "SELECT count(*), sum(doc_id) FROM onep.t WHERE doc_id >= 100 AND doc_id < 700",
      "SELECT shard, count(*) FROM onep.t GROUP BY shard ORDER BY shard")
    for (q <- queries) {
      val df = s.sql(q)
      assert(plan(df).collect { case e: ShuffleExchangeExec => e }.isEmpty, s"$q:\n${plan(df)}")
    }
    assert(s.sql(queries(0)).collect().head.getLong(0) === 600L)
    assert(s.sql(queries(1)).collect().map(_.getLong(0)).toSeq === Seq(3L, 601L, 899L))
    assert(s.sql(queries(2)).collect().head.getLong(0) === 600L)
  }

  test("MV state and change-feed reads report their bytes and plan no exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val root = freshRoot()
    Seq("" -> classOf[graft.sources.ShardSinkCatalog].getName, ".root" -> root,
      ".delete.mode" -> "merge-on-read", ".cdf.enabled" -> "true")
      .foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.onepm$k", v) }
    docs(s, 600).writeTo("onepm.t").append()
    val dir = new java.io.File(root, "t").getPath
    val mvDir = dir + ".mvd"
    graft.sources.SinkMvDist.create(s, dir, mvDir, Seq("shard"),
      Seq(graft.sources.SinkMatView.MvAgg("n", "count")), buckets = 4)
    docs(s, 900).where(col("doc_id") >= 600).writeTo("onepm.t").append()
    val state = graft.sources.SinkMvDist.read(s, mvDir).orderBy("shard")
    val feed = s.read.format("graft.sources.ShardSinkSource").option("path", dir)
      .option("readChangeFeed", "true").option("changeFeedFrom", "1").load()
      .groupBy("_change_type").count()
    for (df <- Seq(state, feed)) {
      // a few KB of files, not spark.sql.defaultSizeInBytes
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1 << 20),
        df.queryExecution.optimizedPlan)
      assert(exchanges(df).isEmpty, plan(df))
    }
    assert(state.collect().map(_.getLong(1)).sum === 600L)
    assert(feed.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq === Seq("insert" -> 300L))
  }

  test("a change-feed stream over a compacted table sizes its batches by their own data") {
    // the stream's scan keeps the batch defaults (versions 0..current),
    // which compaction expired; its micro-batches must not be sized by them
    val s = spark.newSession()
    val root = freshRoot()
    Seq("" -> classOf[graft.sources.ShardSinkCatalog].getName, ".root" -> root,
      ".cdf.enabled" -> "true")
      .foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.onepc$k", v) }
    docs(s, 300).writeTo("onepc.t").append()
    docs(s, 600).where(col("doc_id") >= 300).writeTo("onepc.t").append()
    val dir = new java.io.File(root, "t").getPath
    graft.sources.ShardSink.compact(dir)
    docs(s, 800).where(col("doc_id") >= 600).writeTo("onepc.t").append()
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = s.readStream.format("graft.sources.ShardSinkSource").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy("_change_type").count().collect().foreach(r => seen.addAndGet(r.getLong(1)))
      }
      .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(seen.get() === 200L)
  }

  test("a broadcast-sized sort over a join, or over an aggregate of a join, runs as one task") {
    noAqe {
      // a join's size estimate is the product of its sides' sizes; its
      // leaves' bytes, what the one task reads, are their sum
      val joined = () => Tables.nation(spark, sf001)
        .join(Tables.region(spark, sf001), col("n_regionkey") === col("r_regionkey"))
      val cases: Seq[(String, () => DataFrame)] = Seq(
        "sort over a join" -> (() => joined().select("n_name", "r_name").orderBy("n_name")),
        "sort over an aggregate of a join" -> (() =>
          joined().groupBy("r_name").count().orderBy("r_name")))
      for ((what, q) <- cases) {
        val df = q()
        assert(exchanges(df).isEmpty && broadcasts(df) === 0, s"$what:\n${plan(df)}")
        assert(hashJoins(df) === 1 && coalesces(df) >= 2, s"$what:\n${plan(df)}")
        val sparks = withConfs(Threshold -> "-1")(q().collect().toSeq.map(_.toString))
        assert(sparks.nonEmpty && df.collect().toSeq.map(_.toString) === sparks, what)
      }
    }
  }

  test("a two-read join, a nested join, a window, a rollup and an explode run as one task") {
    val orders = () => Tables.orders(spark, sf001)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "join with a broadcast hint" -> (() => orders()
        .join(broadcast(Tables.customer(spark, sf001)), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")),
      "left anti join" -> (() => orders().join(Tables.customer(spark, sf001)
        .where(col("c_custkey") % 3 === 0), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("o_orderkey")),
      "nested join (the reference top-10)" -> (() =>
        SparkEntry.queries("q_flagship_top10")(spark, sf001)),
      "window" -> (() => orders().where(col("o_custkey") < 50).select(col("o_orderkey"),
        row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
          .as("seq"))),
      "rollup" -> (() => orders().rollup("o_orderstatus", "o_orderpriority").count()),
      "explode" -> (() => Tables.documents(spark, sf001)
        .select(explode(split(col("text"), " ")).as("token")).groupBy("token").count()))
    noAqe {
      for ((what, q) <- cases) {
        val df = q()
        assert(exchanges(df).isEmpty && broadcasts(df) === 0, s"$what:\n${plan(df)}")
        val sparks = withConfs(Threshold -> "-1") {
          val viaSpark = q()
          assert(exchanges(viaSpark).size + broadcasts(viaSpark) > 0,
            s"$what without the strategy:\n${plan(viaSpark)}")
          rowSet(viaSpark)
        }
        assert(sparks.nonEmpty && rowSet(df) === sparks, what)
      }
    }
    // one Spark job each, AQE on as in the engine session
    val (_, jobs) = Probe.withJobLog(spark.sparkContext)(log => log(cases.foreach(_._2().collect())))
    assert(jobs.size === cases.size, jobs.map(_.site).mkString("; "))
  }

  test("over the threshold, with a UDF, with MapPartitions or with DPP a join keeps Spark's plan") {
    import spark.implicits._
    val plusOne = udf((x: Long) => x + 1L)
    val orders = () => Tables.orders(spark, sf001)
    val customer = () => Tables.customer(spark, sf001)
    val dppDir = freshRoot() + "/parts"
    orders().select(col("o_orderkey"), (col("o_custkey") % 8).as("part"))
      .write.partitionBy("part").parquet(dppDir)
    val cases: Seq[(String, String, () => DataFrame)] = Seq(
      ("over the threshold", "1", () =>
        orders().join(customer(), col("o_custkey") === col("c_custkey"))),
      ("udf", "10485760", () => orders().select(plusOne(col("o_custkey")).as("k"))
        .join(customer(), col("k") === col("c_custkey"))),
      ("mapPartitions", "10485760", () => orders().select("o_custkey").as[Long]
        .mapPartitions(_.map(_ + 1L)).toDF("k").join(customer(), col("k") === col("c_custkey"))),
      ("dpp", "10485760", () => spark.read.parquet(dppDir)
        .join(Tables.nation(spark, sf001).where(col("n_name") === "NATION_3"),
          col("part") === col("n_nationkey"))))
    noAqe {
      for ((what, threshold, q) <- cases) withConfs(Threshold -> threshold) {
        val ours = q()
        val unplanned = q()
        val extra = spark.experimental.extraStrategies
        val sparks =
          try {
            spark.experimental.extraStrategies = extra.filterNot(_ == OnePartition.Strategy)
            plan(unplanned)
          } finally spark.experimental.extraStrategies = extra
        assert(plan(ours).canonicalized === sparks.canonicalized, s"$what:\n${plan(ours)}")
        assert(hashJoins(ours) === 0 && coalesces(ours) === 0, s"$what:\n${plan(ours)}")
        if (what == "dpp") assert(plan(ours).toString.contains("dynamicpruning"), plan(ours))
      }
    }
  }

  test("ShardSink MERGE and UPDATE commits keep Spark's plan") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // merge-on-read: an UPDATE's semi-join carries no nondeterministic row
    // id (a MERGE's target side does), so only the row-level read keeps it
    Seq("" -> classOf[graft.sources.ShardSinkCatalog].getName, ".root" -> freshRoot(),
      ".delete.mode" -> "merge-on-read", ".rlo.mode" -> "merge-on-read")
      .foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.onepmg$k", v) }
    docs(s, 400).writeTo("onepmg.t").append()
    // a source with a size estimate, so the join is broadcast-sized
    s.range(300L, 500L).select(col("id").as("doc_id"), (col("id") % 16).cast("int").as("shard"),
      upper(md5(col("id").cast("string"))).as("body")).createOrReplaceTempView("onepmg_src")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      s.sql("""MERGE INTO onepmg.t t USING onepmg_src src ON t.doc_id = src.doc_id
              |WHEN MATCHED THEN UPDATE SET body = src.body
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("UPDATE onepmg.t SET body = 'x' " +
        "WHERE doc_id IN (SELECT doc_id FROM onepmg_src WHERE doc_id < 320)")
      org.apache.spark.ListenerBusAccess.drain(s.sparkContext)
    } finally s.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val commits = plans.asScala.toSeq
    assert(commits.size === 2)
    for (p <- commits) {
      val joins = p.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty && !joins.exists(_.isInstanceOf[ShuffledHashJoinExec]), p.toString)
      assert(p.collectWithSubqueries { case c: CoalesceExec => c }.isEmpty, p.toString)
    }
    val rows = s.table("onepmg.t")
    assert(rows.count() === 500L)
    assert(rows.where(col("body") === "x").count() === 20L)
    assert(rows.where(col("doc_id") >= 320 && col("body") =!= upper(col("body"))).count() === 0L)
  }

  test("a read with a UDF or a nondeterministic expression keeps its exchange") {
    val plusOne = udf((x: Long) => x + 1L)
    noAqe {
      val orders = Tables.orders(spark, sf001)
      val cases = Seq(
        "udf" -> orders.select(plusOne(col("o_orderkey")).as("k")).groupBy(col("k") % 3).count(),
        "rand" -> orders.select((rand(7) * 3).cast("int").as("b")).groupBy("b").count(),
        "row id" -> orders.select(monotonically_increasing_id().as("id"), col("o_orderkey"))
          .orderBy(col("id")),
        "udf in the aggregate" -> orders.groupBy("o_orderstatus").agg(sum(plusOne(col("o_orderkey")))))
      for ((what, df) <- cases) {
        assert(coalesces(df) === 0, s"$what:\n${plan(df)}")
        assert(exchanges(df).nonEmpty, s"$what:\n${plan(df)}")
      }
    }
  }

  test("a streaming aggregate keeps Spark's stateful plan") {
    val s = spark.newSession()
    OnePartition.install(s)
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Long]
    val q = input.toDF().groupBy((col("value") % 3).as("m")).count()
      .writeStream.format("memory").queryName("onepart_stream").outputMode("complete").start()
    try {
      input.addData(1L to 10L)
      q.processAllAvailable()
      val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(p.collect { case c: CoalesceExec => c }.isEmpty, p.toString)
      assert(p.collect { case e: ShuffleExchangeExec => e }.nonEmpty, p.toString)
      val counts = s.table("onepart_stream").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts === Map(0L -> 3L, 1L -> 4L, 2L -> 3L))
    } finally q.stop()
  }

  test("with the threshold at -1, or an input above it, an aggregate keeps its exchange") {
    noAqe {
      for (t <- Seq("1", "-1")) withConfs(Threshold -> t) {
        val df = Tables.orders(spark, sf001).groupBy("o_orderstatus").count()
        assert(coalesces(df) === 0, s"threshold $t:\n${plan(df)}")
        assert(exchanges(df).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
          s"threshold $t:\n${plan(df)}")
      }
    }
  }

  test("the ShardSink catalog and path source install the strategy once per session") {
    def installed(s: SparkSession): Int = s.experimental.extraStrategies.count(_ == OnePartition.Strategy)
    val root = freshRoot()
    val s = spark.newSession()
    assert(installed(s) === 0)
    s.conf.set("spark.sql.catalog.onepi", classOf[graft.sources.ShardSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.onepi.root", root)
    docs(s, 200).writeTo("onepi.t").append()
    assert(installed(s) === 1)
    s.sql("SELECT count(*) FROM onepi.t").collect()
    OnePartition.install(s)
    assert(installed(s) === 1)
    val viaPath = spark.newSession()
    assert(installed(viaPath) === 0)
    val t = viaPath.read.format("graft.sources.ShardSinkSource")
      .option("path", new java.io.File(root, "t").getPath).load()
    assert(installed(viaPath) === 1)
    assert(t.groupBy("shard").count().collect().map(_.getLong(1)).sum === 200L)
    assert(installed(viaPath) === 1)
  }
}
