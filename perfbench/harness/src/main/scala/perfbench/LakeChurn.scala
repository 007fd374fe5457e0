package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{ShardSink, ShardSinkCatalog, SinkMatView, SinkMvDist, SinkMvRewrite}

/** One lakehouse: a copy-on-write table, a merge-on-read table with a
  * change feed and a distributed MV over it, and a running stream that
  * appends into the copy-on-write table through `ShardSinkSource`.
  * Every op is a call into the `graft.sources` public surface or catalog SQL.
  */
final class Lake(spark: SparkSession, root: String, prefix: String, retain: Int,
    targetRows: Long) {
  private val cat = Map("cow" -> s"${prefix}cow", "mor" -> s"${prefix}mor")
  val dir = Map("cow" -> s"$root/cow/docs", "mor" -> s"$root/mor/docs")
  val mvDir = s"$root/mor/docs.mvd"
  private val lastVersion = mutable.Map("cow" -> 0L, "mor" -> 0L)
  private var input: MemoryStream[(Long, Long)] = _
  private var stream: StreamingQuery = _

  spark.conf.set(s"spark.sql.catalog.${cat("cow")}", classOf[ShardSinkCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.${cat("cow")}.root", s"$root/cow")
  spark.conf.set(s"spark.sql.catalog.${cat("mor")}", classOf[ShardSinkCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.${cat("mor")}.root", s"$root/mor")
  spark.conf.set(s"spark.sql.catalog.${cat("mor")}.delete.mode", "merge-on-read")
  spark.conf.set(s"spark.sql.catalog.${cat("mor")}.rlo.mode", "merge-on-read")
  spark.conf.set(s"spark.sql.catalog.${cat("mor")}.cdf.enabled", "true")

  /** The generator's body: md5("<doc_id>:<salt>") + ((doc_id + salt) % 7) x's. */
  private def body(id: Column, salt: Column): Column =
    concat(md5(concat(id.cast("string"), lit(":"), salt.cast("string"))),
      repeat(lit("x"), ((id + salt) % 7).cast("int")))

  private def rows(ids: org.apache.spark.sql.Dataset[_], salt: Long): DataFrame =
    ids.toDF("id").select(col("id").as("doc_id"), (col("id") % 16).cast("int").as("shard"),
      body(col("id"), lit(salt)).as("body"))

  private def table(t: String) = s"${cat(t)}.docs"
  private def commit(t: String): Unit = lastVersion(t) = ShardSink.currentManifestVersion(dir(t))

  def create(initialRows: Long, salt: Long): Unit = {
    for (t <- Seq("cow", "mor")) {
      rows(spark.range(0L, initialRows), salt).writeTo(table(t)).append()
      commit(t)
    }
    SinkMvDist.create(spark, dir("mor"), mvDir, Seq("shard"), Seq(
      SinkMatView.MvAgg("n_docs", "count"),
      SinkMatView.MvAgg("sum_ids", "sum", "doc_id"),
      SinkMatView.MvAgg("xor_ids", "xor", "doc_id"),
      SinkMatView.MvAgg("sum_len", "sum", "length(body)")), buckets = 8)
    SinkMvRewrite.register(dir("mor"), mvDir)
    spark.experimental.extraOptimizations = Seq(SinkMvRewrite)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, Long)]
    val in = input.toDF()
    stream = in.select(col("_1").as("doc_id"), (col("_1") % 16).cast("int").as("shard"),
      body(col("_1"), col("_2")).as("body"))
      .writeStream.format("graft.sources.ShardSinkSource")
      .option("path", dir("cow"))
      .option("checkpointLocation", s"$root/stream-checkpoint")
      .outputMode("append").start()
  }

  private def agg(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L)),
      coalesce(expr("bit_xor(doc_id)"), lit(0L)),
      coalesce(sum(length(col("body"))), lit(0L))).collect().head
    Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def longs(op: JsonNode, k: String): Long = op.get(k).asLong

  /** Runs one op; returns its checked result and per-op extras. */
  def run(op: JsonNode, t: Tracer): (Any, Map[String, Double]) = {
    val kind = op.get("kind").asText
    val tb = op.get("table").asText
    def sql(q: String): DataFrame = t("driver.construct")(spark.sql(q))
    kind match {
      case "append" =>
        rows(spark.range(longs(op, "lo"), longs(op, "hi")), longs(op, "salt"))
          .writeTo(table(tb)).append()
        commit(tb)
        (lastVersion(tb), Map.empty)
      case "stream" =>
        val s = longs(op, "salt")
        input.addData((longs(op, "lo") until longs(op, "hi")).map(k => (k, s)))
        stream.processAllAvailable()
        commit(tb)
        (lastVersion(tb), Map.empty)
      case "merge" =>
        val s = longs(op, "salt")
        rows(spark.range(longs(op, "lo"), longs(op, "hi"), longs(op, "step"))
          .union(spark.range(longs(op, "ins_lo"), longs(op, "ins_hi"))), s)
          .createOrReplaceTempView("perfbench_merge_src")
        spark.sql(
          s"""MERGE INTO ${table(tb)} t USING perfbench_merge_src s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET body = s.body
             |WHEN NOT MATCHED THEN INSERT (doc_id, shard, body) VALUES (s.doc_id, s.shard, s.body)
             |""".stripMargin)
        commit(tb)
        (lastVersion(tb), Map.empty)
      case "delete" =>
        val (lo, hi) = (longs(op, "lo"), longs(op, "hi"))
        spark.sql(s"DELETE FROM ${table(tb)} WHERE (doc_id >= $lo AND doc_id < $hi) OR " +
          s"(shard = ${longs(op, "shard")} AND doc_id >= $hi AND doc_id < ${longs(op, "shard_hi")})")
        commit(tb)
        (lastVersion(tb), Map.empty)
      case "point" =>
        val keys = op.get("keys").elements().asScala.map(_.asLong).toSeq
        val got = sql(s"SELECT doc_id, body FROM ${table(tb)} WHERE doc_id IN (${keys.mkString(",")}) " +
          "ORDER BY doc_id").collect().map(r => Seq(r.getLong(0), r.getString(1))).toSeq
        (got, Map("rows_returned" -> got.size.toDouble))
      case "range" =>
        val (lo, hi) = (longs(op, "lo"), longs(op, "hi"))
        val got = agg(sql(s"SELECT doc_id, body FROM ${table(tb)} WHERE doc_id >= $lo AND doc_id < $hi"))
        (got, Map("rows_returned" -> got.head.toDouble))
      case "version" =>
        val v = lastVersion(tb)
        val got = agg(sql(s"SELECT doc_id, body FROM ${table(tb)} VERSION AS OF $v"))
        (got, Map("rows_returned" -> got.head.toDouble, "version" -> v.toDouble))
      case "meta" =>
        val f = sql(s"SELECT count(*), coalesce(sum(n_rows), 0) FROM ${table(tb)}.files").collect().head
        val h = sql(s"SELECT max(version) FROM ${table(tb)}.history").collect().head
        (Map("files" -> f.getLong(0), "rows" -> f.getLong(1), "max_version" -> h.getLong(0),
          "current_version" -> ShardSink.currentManifestVersion(dir(tb))), Map.empty)
      case "groupby" =>
        val got = sql(s"SELECT shard, count(*), sum(doc_id), bit_xor(doc_id), sum(length(body)) " +
          s"FROM ${table(tb)} GROUP BY shard ORDER BY shard").collect()
          .map(r => Seq(r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
        (got, Map("rows_returned" -> got.map(_(1)).sum.toDouble))
      case "refresh" =>
        val st = SinkMvDist.refresh(spark, dir(tb), mvDir)
        (st.mvVersion, Map("change_rows" -> st.changeRows.toDouble))
      case "mvread" =>
        val got = t("driver.construct")(SinkMvDist.read(spark, mvDir)).orderBy("shard")
          .select("shard", "n_docs", "sum_ids", "xor_ids", "sum_len").collect()
          .map(r => Seq(r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
        (got, Map.empty)
      case "maintain" =>
        for (tt <- Seq("cow", "mor")) {
          ShardSink.compact(dir(tt), retainVersions = retain, targetRowsPerFile = targetRows,
            binPack = true)
          ShardSink.vacuum(dir(tt), olderThanMillis = 0L)
        }
        SinkMvDist.vacuum(mvDir, retainVersions = 2, olderThanMillis = 0L)
        (census(), Map.empty)
      case other => sys.error(s"unknown lake op $other")
    }
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Files and bytes on disk under the table roots, live files, manifest versions. */
  def census(): Map[String, Long] = {
    val files = Seq(dir("cow"), dir("mor"), mvDir).flatMap(d => walk(new File(d)))
    Map(
      "bytes" -> files.map(_.length).sum,
      "files" -> files.size.toLong,
      "live_files" -> Seq("cow", "mor").map(t => ShardSink.committedEntries(dir(t)).size.toLong).sum,
      "manifest_versions" -> files.count(_.getName.matches("_manifest\\.v\\d+\\.json")).toLong)
  }

  def fileNames(): Set[String] =
    Seq(dir("cow"), dir("mor")).flatMap(d => walk(new File(d)).map(_.getPath)).toSet

  def stop(): Unit = if (stream != null) { stream.stop(); stream = null }
}

/** `lake_churn`: the seeded op stream against fresh table roots. Set-up
  * creates the tables, the MV and the stream, and warms every op kind on a
  * throwaway lakehouse first.
  */
final class LakeChurn(inputs: String, work: String, spec: JsonNode) extends Workload {
  private val ops = spec.get("ops").elements().asScala.toIndexedSeq
  private val warmOps = spec.get("warm").get("ops").elements().asScala.toIndexedSeq
  private val retain = spec.get("retain_versions").asInt
  private val target = spec.get("target_rows_per_file").asLong
  private var k = 0
  private var lake: Lake = _
  private var seen = Set.empty[String]

  def setup(spark: SparkSession): Unit = {
    val root = s"$work/lake"
    val warm = new Lake(spark, s"$root/warm", "pbwarm", retain, target)
    warm.create(spec.get("warm").get("initial_rows").asLong, spec.get("warm").get("initial_salt").asLong)
    warmOps.foreach(op => warm.run(op, new Tracer(false)))
    warm.stop()
    lake = new Lake(spark, s"$root/main", "pb", retain, target)
    lake.create(spec.get("initial_rows").asLong, spec.get("initial_salt").asLong)
  }
  override def afterSetup(spark: SparkSession): Unit = seen = lake.fileNames()
  def hasNext: Boolean = k < ops.size
  def nextKind: String = ops(k).get("kind").asText
  def runNext(spark: SparkSession, t: Tracer): (Any, Map[String, Double]) = {
    val op = ops(k)
    k += 1
    t(s"mod.sources:${op.get("kind").asText}")(lake.run(op, t))
  }
  /** Traced runs count the files each op left under the table roots. */
  override def afterOp(t: Tracer): Map[String, Double] =
    if (!t.enabled) Map.empty
    else {
      val now = lake.fileNames()
      val fresh = (now -- seen).size
      seen = seen ++ now
      Map("lake.files_written" -> fresh.toDouble)
    }
  override def finish(spark: SparkSession): Any = lake.census()
  override def teardown(spark: SparkSession): Unit = if (lake != null) lake.stop()
}
