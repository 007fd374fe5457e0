package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.util.Memo

/** One benchmark run: set up, drive one closed-loop client for the timed
  * window, write every op's record and the run's counters as JSON.
  *
  *   Main --workload <curate_fresh|analytics_warm|lake_churn>
  *        --inputs <dir> --work <dir> --out <file>
  *        --seconds <s> --trace <0|1> --cpus <n>
  *
  * `inputs` holds what the seeded generator wrote (tables, op lists); the
  * harness reads nothing else. Results are checked by the caller: every op
  * record carries the value its check needs.
  */
object Main {

  /** One op's record. `result` is the value its correctness check reads. */
  final case class Op(i: Int, kind: String, startMs: Long, endMs: Long, wallS: Double,
      ok: Boolean, err: String, result: Any, extra: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val inputs = new File(o("inputs")).getAbsolutePath
    val work = new File(o("work")).getAbsolutePath
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cpus = o.getOrElse("cpus", "4").toInt
    val spec = new ObjectMapper().readTree(new File(inputs, "spec.json"))

    val calibPre = graft.Bench.calibBurn()
    val w: Workload = workload match {
      case "curate_fresh" => new CurateFresh(inputs, work, spec)
      case "analytics_warm" => new AnalyticsWarm(inputs, work, spec)
      case "lake_churn" => new LakeChurn(inputs, work, spec)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start plus the workload's program-side warm-up
    val t0 = System.nanoTime()
    val spark = Session.start(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    w.setup(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupMemo = Memo.buildTimes
    w.afterSetup(spark)

    val tracer = new Tracer(trace)
    val probe = if (trace) Some(new Probe(spark)) else None
    probe.foreach(_.install())
    val ops = mutable.ArrayBuffer.empty[Op]
    // One timed window, closed loop, one client: the next op starts when the
    // previous ends; ops start only inside the window, and the last one runs
    // to its end. A workload's untimed per-op bookkeeping (`afterOp`) stops
    // the window's clock while it runs.
    probe.foreach(_.drain())
    val c0 = probe.map(_.counters())
    val jw0 = Probe.cpuJiffies()
    val wStartNs = System.nanoTime()
    val wStartMs = System.currentTimeMillis()
    var deadline = wStartNs + (seconds * 1e9).toLong
    var pausedNs = 0L
    while (System.nanoTime() < deadline && w.hasNext) {
      val i = ops.size
      tracer.op = i
      Memo.clearBuildTimes()
      val kind = w.nextKind
      val io0 = if (trace) Probe.procIo() else Map.empty[String, Double]
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val (ok, err, result, extra) =
        try {
          val (r, x) = tracer("op:" + kind)(w.runNext(spark, tracer))
          (true, null, r, x)
        } catch {
          case e: Throwable =>
            (false, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}", null,
              Map.empty[String, Double])
        }
      val wall = (System.nanoTime() - n0) / 1e9
      val s1 = System.currentTimeMillis()
      val memo = Memo.buildTimes
      val h0 = System.nanoTime()
      val io = if (trace) {
        val io1 = Probe.procIo()
        Seq("read_bytes", "write_bytes").map(k =>
          s"io.$k" -> (io1.getOrElse(k, 0.0) - io0.getOrElse(k, 0.0))).toMap
      } else Map.empty[String, Double]
      val after = w.afterOp(tracer)
      val hookNs = System.nanoTime() - h0
      deadline += hookNs
      pausedNs += hookNs
      ops += Op(i, kind, s0, s1, wall, ok, err, result,
        extra ++ io ++ after ++ Map("memo.builds" -> memo.size.toDouble,
          "memo.build_s" -> memo.values.sum))
    }
    val windowS = (System.nanoTime() - wStartNs - pausedNs) / 1e9
    val jw1 = Probe.cpuJiffies()
    probe.foreach(_.drain())
    val c1 = probe.map(_.counters())
    val window = Map(
      "window_s" -> windowS,
      "untimed_s" -> pausedNs / 1e9,
      "start_ms" -> wStartMs,
      "end_ms" -> System.currentTimeMillis(),
      "steal_share" ->
        (if (jw1._2 > jw0._2) (jw1._1 - jw0._1).toDouble / (jw1._2 - jw0._2) else 0.0),
      "counters" -> c1.map(e => e.map { case (k, v) => k -> (v - c0.get(k)) }).getOrElse(Map.empty))
    val post = w.finish(spark)
    // bytes the engine holds in its block manager (the Memo cache's
    // checkpointed relations live there)
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val calibPost = graft.Bench.calibBurn()

    val perOp = probe.map(p => Layers.perOp(p, ops.toSeq))
      .getOrElse(ops.toSeq.map(_ => Map.empty[String, Double]))
    val out = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "session_start_s" -> sessionS,
      "setup_memo" -> Map("builds" -> setupMemo.size, "build_s" -> setupMemo.values.sum),
      "window" -> window,
      "calib_pre_s" -> calibPre,
      "calib_post_s" -> calibPost,
      "peak_rss_mb" -> Probe.peakRssMb(),
      "cached_bytes" -> cachedBytes,
      "cpus" -> cpus,
      "ops" -> ops.toSeq.map(op => Map(
        "i" -> op.i, "kind" -> op.kind, "start_ms" -> op.startMs, "end_ms" -> op.endMs,
        "wall_s" -> op.wallS, "ok" -> op.ok, "err" -> op.err, "result" -> op.result,
        "extra" -> op.extra, "layers" -> perOp(op.i))),
      "post" -> post)
    Results.json.writeValue(new File(o("out")), out)
    if (trace)
      Results.json.writeValue(new File(o("out") + ".spans.json"), tracer.spans.toSeq.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end)))
    w.teardown(spark)
    spark.stop()
  }
}

/** The session every workload runs on: `graft.Bench`'s configuration, with
  * Spark's scratch and warehouse directories inside the run's work dir.
  */
object Session {
  def start(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl", "graft.util.NoCrcLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** A workload: set-up on a fresh session, then an op stream. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Untimed work after set-up (reference dumps). */
  def afterSetup(spark: SparkSession): Unit = ()
  def hasNext: Boolean
  def nextKind: String
  /** Runs the next op; returns its checked result and per-op extras. */
  def runNext(spark: SparkSession, t: Tracer): (Any, Map[String, Double])
  /** Untimed per-op bookkeeping, run after the op's clock has stopped. */
  def afterOp(t: Tracer): Map[String, Double] = Map.empty
  /** Untimed work after the window; its value lands in the output's `post`. */
  def finish(spark: SparkSession): Any = null
  def teardown(spark: SparkSession): Unit = ()
}

object Results {
  /** The harness's output records are Scala maps and sequences. */
  val json: ObjectMapper = new ObjectMapper().registerModule(
    com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Canonical text of one collected value; binary as hex, maps in order. */
  def canon(v: Any): String = v match {
    case null => "N"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("x'", "", "'")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((canon(r) + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes collected rows as one parquet file, for the DuckDB compare. */
  def dump(spark: SparkSession, rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Module of each declared query, by the object that declares it. */
  lazy val moduleOfQuery: Map[String, String] = {
    import graft._
    Seq(
      "queries" -> Seq(queries.RefQueries.queries, queries.JoinQueries.queries,
        queries.RelQueries.queries, queries.EventQueries.queries),
      "etl" -> Seq(etl.EtlQueries.queries, etl.Sampling.queries, etl.Profiler.queries,
        etl.Checks.queries, etl.SkewJoin.queries),
      "text" -> Seq(text.TextOps.queries, text.CurationOps.queries, text.BpeTrainer.queries,
        text.Dedup.queries, text.SpanDedup.queries, text.CorpusPipeline.queries,
        text.LangId.queries, text.QualityModel.queries),
      "vec" -> Seq(vec.VectorOps.queries),
      "graph" -> Seq(graph.Components.queries),
      "multimodal" -> Seq(multimodal.Media.queries),
      "sources" -> Seq(sources.Sinks.queries),
      "streaming" -> Seq(streaming.CorpusStreaming.queries, streaming.EventStreaming.queries,
        streaming.VectorStreaming.queries))
      .flatMap { case (m, qs) => qs.flatMap(_.keys).map(_ -> m) }.toMap
  }
}

/** `curate_fresh`: each op is one curation job over a corpus this process
  * has not curated yet — every Memo index is dropped first and rebuilt by
  * the job's consumers. Set-up warms the same job on a small corpus.
  */
final class CurateFresh(inputs: String, work: String, spec: JsonNode) extends Workload {
  private val consumers = spec.get("consumers").elements().asScala.map(_.asText).toSeq
  private val corpus = s"$inputs/curate"
  private val warm = s"$inputs/curate_warm"
  private var n = 0
  private var firstRows: Seq[(String, Array[Row], org.apache.spark.sql.types.StructType)] = Nil

  private def job(spark: SparkSession, dir: String, t: Tracer, keep: Boolean): Seq[String] = {
    Memo.clear()
    consumers.map { name =>
      val fn = SparkEntry.queries(name)
      t(s"mod.${Results.moduleOfQuery(name)}:$name") {
        val df = t("driver.construct")(fn(spark, dir))
        val rows = df.collect()
        if (keep) firstRows :+= ((name, rows, df.schema))
        Results.hash(rows)
      }
    }
  }

  def setup(spark: SparkSession): Unit = job(spark, warm, new Tracer(false), keep = false)
  def hasNext: Boolean = true
  def nextKind: String = "curate"
  def runNext(spark: SparkSession, t: Tracer): (Any, Map[String, Double]) = {
    val hashes = job(spark, corpus, t, keep = n == 0)
    n += 1
    (consumers.zip(hashes).toMap, Map.empty)
  }
  override def finish(spark: SparkSession): Any = {
    firstRows.foreach { case (name, rows, schema) =>
      Results.dump(spark, rows, schema, s"$work/out/curate/$name")
    }
    Results.json.writeValue(new File(s"$work/out/curate/oracle.json"),
      consumers.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    Map("consumers" -> consumers)
  }
}

/** `analytics_warm`: a seeded draw over the read-only query pool, after an
  * untimed pass in set-up has built every Memo index and warmed the JIT.
  */
final class AnalyticsWarm(inputs: String, work: String, spec: JsonNode) extends Workload {
  private val pool = spec.get("pool").elements().asScala.map(_.asText).toSeq
  private val draw = spec.get("draw").elements().asScala.map(_.asText).toIndexedSeq
  private val data = s"$inputs/tables"
  private var k = 0
  private var warmRows = Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  def setup(spark: SparkSession): Unit = {
    warmRows = pool.map { name =>
      val df = SparkEntry.queries(name)(spark, data)
      name -> (df.collect(), df.schema)
    }.toMap
  }
  override def afterSetup(spark: SparkSession): Unit = {
    warmRows.foreach { case (name, (rows, schema)) =>
      Results.dump(spark, rows, schema, s"$work/out/analytics/$name")
    }
    Results.json.writeValue(new File(s"$work/out/analytics/oracle.json"),
      pool.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
  def hasNext: Boolean = k < draw.size
  def nextKind: String = draw(k)
  def runNext(spark: SparkSession, t: Tracer): (Any, Map[String, Double]) = {
    val name = draw(k)
    k += 1
    val fn = SparkEntry.queries(name)
    t(s"mod.${Results.moduleOfQuery(name)}:$name") {
      val df = t("driver.construct")(fn(spark, data))
      val rows = df.collect()
      (Results.hash(rows), Map("rows_returned" -> rows.length.toDouble))
    }
  }
  override def finish(spark: SparkSession): Any =
    warmRows.map { case (name, (rows, _)) => name -> Results.hash(rows) }
}
