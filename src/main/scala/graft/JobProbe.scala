package graft

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: run one named query and decompose its wall clock into Spark
  * jobs — id, duration, stage/task counts, callsite — so lifecycle-class
  * queries (q_dsv2_*, s_*) can be attributed to job-count floors vs real
  * stage compute before touching any code (guide §1: measure first).
  *
  *   sbt "runMain graft.JobProbe <sfDir> <name> [reps]"
  *
  * Prints one line per job (ordered) plus a summary: total job time vs
  * wall (the gap is driver-side work: planning, manifest IO, fs calls).
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000") // same as Bench
      .config("spark.shuffle.sort.bypassMergeThreshold", "1") // same as Bench
      .config("spark.hadoop.fs.file.impl",
        "graft.util.NoCrcLocalFileSystem") // same as Bench
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs") // same as Bench
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRow(
        id: Int, t0: Long, var t1: Long = -1L, var nStages: Int = 0,
        var nTasks: Int = 0, var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val row = JobRow(e.jobId, e.time, site = site)
        row.nStages = e.stageInfos.size
        row.nTasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, row)
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ()
    }
    Bench.warmUp(spark, sfDir)

    // SPARK_GRAFT_SAMPLE=1: sample every thread's stacks at 20 ms while the
    // query runs; print the hottest (method, state) frames afterwards —
    // the driver-side gap (wall − sum of jobs) decomposed without a
    // profiler agent. Frames are bucketed by the deepest graft/spark frame.
    val sample = sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")
    val hist = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val stacks = Thread.getAllStackTraces()
          stacks.forEach { (t, st) =>
            if (t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
              !t.getName.contains("sampler")) {
              val interesting = st.find { e =>
                val c = e.getClassName
                (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.catalyst") ||
                  c.startsWith("org.apache.spark.sql.execution") ||
                  c.startsWith("org.codehaus.janino") ||
                  c.startsWith("org.apache.hadoop")) && !c.contains("Probe")
              }.getOrElse(st.head)
              // blocking IO syscalls: attribute to the nearest spark/graft
              // caller so "open0" decomposes into shuffle vs state store
              // vs sink writes
              val top = st.head
              val key =
                if (top.getMethodName.endsWith("0") || top.isNativeMethod) {
                  val caller = st.find { e =>
                    val c = e.getClassName
                    c.startsWith("org.apache.spark") || c.startsWith("graft.")
                  }.map(e => e.getClassName.replaceAll("\\$.*", "").split("\\.").last +
                    "." + e.getMethodName).getOrElse("?")
                  top.getMethodName + " <- " + caller
                } else interesting.getClassName.replaceAll("\\$.*", "") + "." +
                  interesting.getMethodName
              hist.merge(key, 1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(20)
      }
    }, "jobprobe-sampler")
    sampler.setDaemon(true)
    if (sample) sampler.start()

    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { rep =>
      sampling = sample
      if (rep == reps && sample) hist.clear() // keep only the last rep's profile
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let the listener bus drain
      var sum = 0.0
      val it = order.iterator()
      println(f"%n===== $name rep $rep: rows=$n wall=$wall%.2f s =====")
      while (it.hasNext) {
        val j = jobs.get(it.next())
        val d = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
        if (d > 0) sum += d
        println(f"  job ${j.id}%4d  ${d}%7.3f s  stages=${j.nStages}%2d tasks=${j.nTasks}%4d  ${j.site}")
      }
      println(f"  [sum of jobs $sum%.2f s vs wall $wall%.2f s — gap ${wall - sum}%.2f s driver-side]")
      sampling = false
      if (sample && rep == reps) {
        println("  hottest sampled frames (20 ms ticks, RUNNABLE threads):")
        import scala.jdk.CollectionConverters._
        hist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
          println(f"    $n%5d  $k")
        }
      }
    }
    spark.stop()
  }
}
