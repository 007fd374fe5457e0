package graft

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Dev tool: steady-state timing of named queries in the driver's bench
  * shape (local[N] from SPARK_GRAFT_CPUS, N shuffle partitions).
  *
  *   sbt "runMain graft.QueryProbe <sfDir> <reps> <name> [<name> ...]"
  *
  * Prints per-rep wall + JIT-compile delta so a JIT-storm rep (wall ≫
  * median, jit ≫ 0 on identical code) is distinguishable from a plan
  * cost. The per-query MIN is the comparable bench number.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
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
    // SPARK_GRAFT_CONF="k1=v1;k2=v2" for config experiments
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def janino: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Bench.warmUp(spark, sfDir)
    // SPARK_GRAFT_PLAN_ONLY=1: time analysis+optimization+physical planning
    // without execution — separates Catalyst cost from run cost for
    // literal-heavy plans
    val planOnly = sys.env.get("SPARK_GRAFT_PLAN_ONLY").contains("1")
    // SPARK_GRAFT_REUSE=1: build the DataFrame once and re-count it, so
    // rep 2+ time is pure execution (no re-analysis/optimization)
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      lazy val reused = fn(spark, sfDir)
      val times = (1 to reps).map { i =>
        val (j0, c0) = (jitMs, janino)
        val t0 = System.nanoTime()
        val n =
          if (planOnly) { fn(spark, sfDir).queryExecution.executedPlan; -1L }
          else if (reuse) reused.count()
          else fn(spark, sfDir).count()
        val w = (System.nanoTime() - t0) / 1e9
        println(f"[$name rep $i] rows=$n wall=$w%.2f s jit=+${jitMs - j0} ms janino=+${janino - c0}")
        w
      }
      println(f"[$name] min=${times.min}%.2f s median=${times.sorted.apply(reps / 2)}%.2f s")
    }
    spark.stop()
  }
}
