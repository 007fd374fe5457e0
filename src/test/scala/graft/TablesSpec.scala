package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.model.Tables
import graft.plans.OnePartition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The table loaders' relation resolver and the planner strategy they
  * install: a read over the resolved relation is the inferred read, two
  * reads of one stamp share a relation and self-join, a new file stamp or
  * a flipped nanos conf resolves again, and the strategy
  * ([[graft.plans.OnePartition]], whose plan shapes `OnePartitionSpec`
  * pins) leaves large sorts alone and keeps the reference's top-10 a
  * `TakeOrderedAndProject`.
  */
class TablesSpec extends SparkSpec {
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  test("for every table at every SF the given-schema read is the inferred read") {
    for (sf <- sfDirs; t <- Tables.AllTables) {
      val path = s"$sf/$t.parquet"
      if (t == "events") Tables.readEventsAsNanoLongs(spark)
      val inferred = spark.read.parquet(path).schema
      val given = Tables.read(spark, sf, t).schema
      assert(given.map(_.name) === inferred.map(_.name), path)
      assert(given.map(_.dataType) === inferred.map(_.dataType), path)
      assert(given.map(_.nullable) === inferred.map(_.nullable), path)
      assert(given.map(_.metadata) === inferred.map(_.metadata), path)
      assert(given === inferred, path)
    }
    // and it reads the same rows
    for (t <- Tables.AllTables) {
      val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
      assert(rows(Tables.read(spark, sf001, t)) === rows(spark.read.parquet(s"$sf001/$t.parquet")), t)
    }
  }

  test("a schema resolves once per file stamp; a rewritten file is inferred again") {
    val dir = Files.createTempDirectory("graft-tables")
    val copy = dir.resolve("t.parquet")
    Files.copy(java.nio.file.Paths.get(s"$sf001/region.parquet"), copy)
    val path = copy.toString
    val first = Tables.schemaOf(spark, path)
    assert(first.fieldNames.toSeq === Seq("r_regionkey", "r_name"))
    assert(Tables.schemaOf(spark, path) eq first, "an unchanged stamp must reuse the resolution")
    // rewrite in place with another table's bytes: new length, new stamp
    Files.copy(java.nio.file.Paths.get(s"$sf001/nation.parquet"), copy,
      StandardCopyOption.REPLACE_EXISTING)
    val second = Tables.schemaOf(spark, path)
    assert(second.fieldNames.toSeq === Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(Tables.readParquet(spark, path).count() === 25L)
    // the same bytes under a new modification time are a new stamp too
    Files.setLastModifiedTime(copy,
      java.nio.file.attribute.FileTime.fromMillis(Files.getLastModifiedTime(copy).toMillis - 60000L))
    val third = Tables.schemaOf(spark, path)
    assert(!(third eq second) && third === second)
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("two reads of an unchanged path share one relation; a rewritten file gets a new one") {
    val dir = Files.createTempDirectory("graft-tables")
    val copy = dir.resolve("t.parquet")
    Files.copy(java.nio.file.Paths.get(s"$sf001/region.parquet"), copy)
    val path = copy.toString
    val (a, b) = (Tables.readParquet(spark, path), Tables.readParquet(spark, path))
    assert(relationOf(a) eq relationOf(b))
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty, "fresh attribute ids")
    Files.copy(java.nio.file.Paths.get(s"$sf001/nation.parquet"), copy,
      StandardCopyOption.REPLACE_EXISTING)
    val c = Tables.readParquet(spark, path)
    assert(!(relationOf(c) eq relationOf(a)))
    assert(c.columns.toSeq === Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(c.collect().map(_.toString).sorted.toSeq ===
      spark.read.parquet(s"$sf001/nation.parquet").collect().map(_.toString).sorted.toSeq)
    assert(relationOf(Tables.readParquet(spark, path)) eq relationOf(c))
  }

  test("a self-join of two orders reads returns the rows of two separate parquet reads") {
    def selfJoin(a: DataFrame, b: DataFrame): Seq[String] =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey"), b("o_totalprice"))
        .collect().map(_.toString).sorted.toSeq
    val path = s"$sf001/orders.parquet"
    val ours = selfJoin(Tables.orders(spark, sf001), Tables.orders(spark, sf001))
    assert(ours.nonEmpty)
    assert(ours === selfJoin(spark.read.parquet(path), spark.read.parquet(path)))
  }

  test("a missing path is not pinned: Spark's own error, then a resolution once it exists") {
    val dir = Files.createTempDirectory("graft-tables").resolve("late")
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.schemaOf(spark, dir.toString))
    assert(e.getMessage.contains("PATH_NOT_FOUND") || e.getMessage.contains("does not exist"),
      e.getMessage)
    spark.range(3).toDF("x").coalesce(1).write.parquet(dir.toString)
    assert(Tables.schemaOf(spark, dir.toString).fieldNames.toSeq === Seq("x"))
    assert(Tables.readParquet(spark, dir.toString).count() === 3L)
  }

  test("after Bench.warmUp, building every table's DataFrame starts no Spark job") {
    // a fresh session: its own schema resolutions, the nanos conf unset
    val s = spark.newSession()
    Bench.warmUp(s, sf001)
    val (_, jobs) = Probe.withJobLog(s.sparkContext)(log =>
      log(Tables.AllTables.foreach(Tables.load(s, sf001, _))))
    assert(jobs.isEmpty, jobs.map(_.site).mkString("; "))
  }

  test("flipping the nanos-as-long conf resolves events again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    val path = s"$sf001/events.parquet"
    try {
      spark.conf.set(key, "false")
      val off = Tables.schemaOf(spark, path)
      spark.conf.set(key, "true")
      val on = Tables.schemaOf(spark, path)
      assert(!(on eq off), "the conf is part of the resolution key")
      spark.conf.set(key, "false")
      assert(Tables.schemaOf(spark, path) eq off)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  private def ranged(plan: Seq[ShuffleExchangeExec]): Int =
    plan.count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  test("over the threshold, or with the threshold at -1, the sort keeps its range exchange") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      for (t <- Seq("1", "-1")) withConfs(Threshold -> t) {
        val sorted = Tables.lineitem(spark, sf001).orderBy("l_extendedprice")
        assert(ranged(exchanges(sorted)) === 1, s"threshold $t")
      }
    }
  }

  test("q_getorcreate_dims gains no exchange; q_flagship_top10 still plans TakeOrderedAndProject") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val dims = () => SparkEntry.queries("q_getorcreate_dims")(spark, sf001)
      val withStrategy = exchanges(dims())
      // Spark's own plan: the strategy off (after building, which installs
      // it), broadcast joins still on
      val unplanned = dims()
      val extra = spark.experimental.extraStrategies
      val sparkPlan =
        try {
          spark.experimental.extraStrategies = extra.filterNot(_ == OnePartition.Strategy)
          exchanges(unplanned)
        } finally spark.experimental.extraStrategies = extra
      // the distinct, the anti-join and the window run as one task
      assert(withStrategy.isEmpty && sparkPlan.nonEmpty, withStrategy.mkString("\n"))
      val top: SparkPlan =
        SparkEntry.queries("q_flagship_top10")(spark, sf001).queryExecution.executedPlan
      assert(top.collect { case t: TakeOrderedAndProjectExec => t }.size === 1, top.toString)
      assert(top.collect { case g: OnePartition.Gather => g }.isEmpty)
    }
  }

  test("the strategy installs once per session and survives an extraOptimizations overwrite") {
    Tables.region(spark, sf001)
    Tables.nation(spark, sf001)
    assert(spark.experimental.extraStrategies.count(_ == OnePartition.Strategy) === 1)
    val oldOpt = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Nil
      Tables.region(spark, sf001)
      assert(spark.experimental.extraStrategies.count(_ == OnePartition.Strategy) === 1)
    } finally spark.experimental.extraOptimizations = oldOpt
  }
}
