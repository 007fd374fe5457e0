package graft

import graft.sources.{
  DocGen, ShardSink, ShardSinkDataWriter, ShardSinkDeltaCommit, ShardSinkDeltaWrite,
  ShardSinkReplaceDataWrite, SinkEntry, SinkTestAccess}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one commit loop, kind by kind: every commit kind the lakehouse
  * publishes loses its manifest flip to an interloping blind append,
  * injected through the one interleave hook after the commit pinned its
  * base. Commits that commute with an append re-base onto the winner;
  * read-modify-write commits abort loudly. Either way the interloper's
  * rows stay intact.
  */
class ShardSinkCommitSpec extends SparkSpec {

  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("shardsink_commit_spec").toFile
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

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** Doc ids far above every operation's predicate: manifest stats prove
    * the interloper's file disjoint from each DML below.
    */
  private val interloper = 10000L until 10032L

  /** A blind append through the task writer and the append commit, with
    * no Spark job: it runs inside another commit.
    */
  private def interlope(dir: String): Unit = {
    val w = new ShardSinkDataWriter(dir, "interloper", 0, 1L)
    interloper.foreach(id => w.write(row(id)))
    SinkTestAccess.plainWrite(dir, "interloper").commit(Array(w.commit()))
  }

  private def docs(s: SparkSession, lo: Long, hi: Long): DataFrame =
    s.read.format("graft.sources.DocGenSource")
      .option("numDocs", "600").option("numPartitions", "2").load()
      .where(col("doc_id") >= lo && col("doc_id") < hi)

  /** One commit kind: catalog options, optional setup after the 400-doc
    * v1, the operation, and its outcome under a lost race — the manifest
    * op it lands as when it re-bases (None = it aborts) and the table's
    * rows afterwards, the interloper's excluded.
    */
  private case class Kind(
      name: String, run: (SparkSession, String) => Unit, rebasesAs: Option[String],
      rows: Long, opts: Map[String, String] = Map.empty,
      setup: SparkSession => Unit = _ => ())

  private val kinds = Seq(
    Kind("append", (s, _) => docs(s, 400, 500).writeTo("cc.t").append(),
      Some("append"), 500L),
    Kind("stream epoch", (_, dir) => {
      val epoch = new ShardSinkDataWriter(dir, "stream-e0", 0, 2L)
      (400L until 450L).foreach(id => epoch.write(row(id)))
      SinkTestAccess.plainWrite(dir, "stream").commit(0L, Array(epoch.commit()))
    }, Some("streamingUpdate"), 450L),
    Kind("truncate", (s, _) => docs(s, 0, 100).writeTo("cc.t").overwrite(lit(true)),
      None, 400L),
    Kind("replaceWhere", (s, _) =>
      docs(s, 0, 100).select(col("doc_id"), col("shard"), upper(col("body")).as("body"))
        .writeTo("cc.t").overwrite(col("doc_id") < 100L),
      Some("replaceWhere"), 400L),
    Kind("copy-on-write DELETE", (s, _) => { s.sql("DELETE FROM cc.t WHERE doc_id < 50"); () },
      Some("delete"), 350L),
    Kind("merge-on-read DELETE", (s, _) => { s.sql("DELETE FROM cc.t WHERE doc_id < 50"); () },
      Some("delete"), 350L, Map("delete.mode" -> "merge-on-read")),
    Kind("copy-on-write MERGE", (s, _) => {
      docs(s, 0, 50).select(col("doc_id"), col("shard"), upper(col("body")).as("body"))
        .createOrReplaceTempView("merge_src")
      s.sql("""MERGE INTO cc.t t USING merge_src m ON t.doc_id = m.doc_id
              |WHEN MATCHED THEN UPDATE SET body = m.body
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      ()
    }, None, 400L),
    Kind("merge-on-read UPDATE", (s, _) => {
      s.sql("UPDATE cc.t SET body = upper(body) WHERE doc_id < 50"); ()
    }, None, 400L, Map("rlo.mode" -> "merge-on-read")),
    Kind("compact", (_, dir) => ShardSink.compact(dir), Some("compact"), 400L),
    Kind("zorder", (_, dir) => ShardSink.compactZOrder(dir, rowsPerFile = 100),
      Some("zorder"), 400L),
    Kind("ALTER", (s, _) => { s.sql("ALTER TABLE cc.t ADD COLUMN score DOUBLE"); () },
      None, 400L),
    Kind("restore", (s, _) => {
      s.sql("ALTER TABLE cc.t SET TBLPROPERTIES ('graft.restore' = '1')"); ()
    }, None, 500L, setup = s => docs(s, 400, 500).writeTo("cc.t").append()))

  kinds.foreach { k =>
    test(s"lost flip race: ${k.name} ${if (k.rebasesAs.isDefined) "re-bases" else "aborts"}") {
      val root = freshDir().getPath
      val s = spark.newSession()
      s.conf.set("spark.sql.catalog.cc", classOf[graft.sources.ShardSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.cc.root", root)
      k.opts.foreach { case (o, v) => s.conf.set(s"spark.sql.catalog.cc.$o", v) }
      docs(s, 0, 400).writeTo("cc.t").append() // v1
      k.setup(s)
      val dir = new java.io.File(root, "t").getPath
      val before = ShardSink.currentManifestVersion(dir)
      SinkTestAccess.onNextFlip(() => interlope(dir))
      val outcome =
        try scala.util.Try(k.run(s, dir)) finally SinkTestAccess.onNextFlip(null)
      val table = spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      assert(table.where(col("doc_id") >= interloper.head).count() === interloper.size.toLong,
        "the interloper's rows must stay intact")
      assert(table.where(col("doc_id") < interloper.head).count() === k.rows)
      val ops = ShardSink.history(dir).map(_._2)
      k.rebasesAs match {
        case Some(op) =>
          outcome.get
          assert(ShardSink.currentManifestVersion(dir) === before + 2)
          assert(ops.takeRight(2) === Seq("append", op))
        case None =>
          val e = outcome.failed.get
          assert(chain(e).contains("concurrent-writer conflict"), chain(e))
          assert(ShardSink.currentManifestVersion(dir) === before + 1)
          assert(ops.last === "append")
          assert(table.columns.toSeq === Seq("doc_id", "shard", "body"))
      }
    }
  }

  test("lost flip race: a schema-evolving write aborts over a concurrent ALTER") {
    val dir = freshDir().getPath
    docs(spark, 0, 100).write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save() // v1
    SinkTestAccess.onNextFlip(() =>
      SinkTestAccess.addColumn(dir, "score", org.apache.spark.sql.types.DoubleType))
    val e = intercept[Exception] {
      try docs(spark, 100, 200).withColumn("lang", lit("en"))
        .write.format("graft.sources.ShardSinkSource").option("path", dir)
        .option("mergeSchema", "true").mode(org.apache.spark.sql.SaveMode.Append).save()
      finally SinkTestAccess.onNextFlip(null)
    }
    assert(chain(e).contains("concurrent schema change"), chain(e))
    // the ALTER is intact and the evolving write never landed
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    assert(ShardSink.tableSchema(dir).fieldNames.toSeq === Seq("doc_id", "shard", "body", "score"))
    assert(spark.read.format("graft.sources.ShardSinkSource").option("path", dir).load()
      .count() === 100L)
  }

  test("row-level commits abort when the files their scan read are no longer current") {
    val dir = freshDir().getPath
    docs(spark, 0, 200).write.format("graft.sources.ShardSinkSource")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save() // v1
    val read = ShardSink.committedFiles(dir)
    ShardSink.compact(dir) // v2 rewrites every file the "scan" read
    val e1 = intercept[IllegalStateException](
      new ShardSinkReplaceDataWrite(dir, "stale", () => read).commit(Array.empty))
    assert(e1.getMessage.contains("no longer current"), e1.getMessage)
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      override def queryId(): String = "stale"
      override def schema(): org.apache.spark.sql.types.StructType = DocGen.schema
    }
    val e2 = intercept[IllegalStateException](
      new ShardSinkDeltaWrite(dir, info).commit(Array(ShardSinkDeltaCommit(
        Map(read.head -> Seq(0L)), Map.empty,
        new java.io.File(dir, "_tmp/stale.tsv").getPath, SinkEntry("", 0L)))))
    assert(e2.getMessage.contains("no longer current"), e2.getMessage)
    assert(ShardSink.currentManifestVersion(dir) === 2L)
    assert(ShardSink.committedEntries(dir).map(_.rows).sum === 200L)
  }
}
