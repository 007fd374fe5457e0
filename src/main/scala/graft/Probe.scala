package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev tool: where named queries spend their time, on the session the bench
  * times ([[GraftSession]]).
  *
  *   sbt "runMain graft.Probe <sfDir> <name,…|all> [--reps N] [--plan-only|--census|--explain]"
  *
  *  - default: for each rep, rows, wall and the JIT ms and janino compile
  *    deltas; then one line per Spark job (duration, stages, tasks, executor
  *    run and CPU ms, callsite) and the driver gap, wall minus the sum of the
  *    jobs (planning, manifest and commit IO, result collection). The
  *    per-query minimum over reps is the number comparable to the bench.
  *    Each rep times `count()`, as [[Bench]] does, and Catalyst prunes a
  *    count's sorts and unused windows, so a query can start fewer jobs
  *    here than under the `collect()` that perfbench and `ScaleGuardSpec`'s
  *    job budgets run: before broadcast-sized windows ran as one task,
  *    `q_window_frames` and `q_session_counts` showed 1 job here and 3 on
  *    collect. The job count follows the action, not the scale factor.
  *  - `--plan-only`: DataFrame build plus physical planning, not run.
  *  - `--census`: each query's shuffle-exchange count with AQE off, the
  *    audit behind `ScaleGuardSpec`'s shuffle budget.
  *  - `--explain`: runs each query once, then prints its formatted plan,
  *    which then holds both AQE's final and its initial plan.
  *
  * `SPARK_GRAFT_CONF="k1=v1;k2=v2"` adds session settings for config
  * experiments. Both timed modes run `Bench.warmUp` first.
  */
object Probe {

  /** One Spark job: its shape, when it ran, and its tasks' executor run and
    * CPU time.
    */
  final case class Job(
      id: Int, site: String, stages: Int, tasks: Int, start: Long,
      end: Long = -1L, runMs: Long = 0L, cpuMs: Long = 0L) {
    def seconds: Double = if (end < 0) -1.0 else (end - start) / 1e3
  }

  /** Logs the Spark jobs blocks start on `sc`. [[apply]] drains the listener
    * bus before and after its block, so the jobs it returns are exactly the
    * block's, each one finished.
    */
  final class JobLog(sc: SparkContext) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val jobOfStage = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage's name is the job's call site ("count at …")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) =
        Job(e.jobId, site, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, e.time)
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      for (id <- jobOfStage.get(e.stageInfo.stageId); j <- jobs.get(id) if m != null)
        jobs(id) = j.copy(
          runMs = j.runMs + m.executorRunTime, cpuMs = j.cpuMs + m.executorCpuTime / 1000000)
    }

    /** `body`'s result and the jobs it started, in start order. */
    def apply[T](body: => T): (T, Seq[Job]) = {
      ListenerBusAccess.drain(sc)
      synchronized { jobs.clear(); jobOfStage.clear() }
      val out = body
      ListenerBusAccess.drain(sc)
      (out, synchronized(jobs.values.toList))
    }
  }

  /** Runs `body` with a [[JobLog]] listening on `sc`. */
  def withJobLog[T](sc: SparkContext)(body: JobLog => T): T = {
    val log = new JobLog(sc)
    sc.addSparkListener(log)
    try body(log)
    finally sc.removeSparkListener(log)
  }

  /** The shuffle exchanges in `df`'s physical plan, the static plan
    * `EnsureRequirements` produced. Callers turn AQE off first: an adaptive
    * plan hides its exchanges from this count.
    */
  def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size

  private val Modes = Set("--plan-only", "--census", "--explain")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Probe <sfDir> <name,…|all> [--reps N] [--plan-only|--census|--explain]")
    val sfDir = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted else args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def parse(os: List[String], reps: Int, modes: Set[String]): (Int, Set[String]) = os match {
      case Nil => (reps, modes)
      case "--reps" :: n :: rest if n.toIntOption.exists(_ > 0) => parse(rest, n.toInt, modes)
      case m :: rest if Modes(m) => parse(rest, reps, modes + m)
      case o :: _ => sys.error(s"bad option at $o")
    }
    val (reps, modes) = parse(args.drop(2).toList, 1, Set.empty)
    require(modes.size <= 1, s"choose one of ${modes.mkString(", ")}")
    val mode = modes.headOption.getOrElse("--jobs")

    val builder = GraftSession.builder()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "--census" => spark.conf.set("spark.sql.adaptive.enabled", "false")
      case "--explain" => ()
      case _ => Bench.warmUp(spark, sfDir)
    }
    def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def janino: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    withJobLog(spark.sparkContext) { log =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        try mode match {
          case "--census" => println(s"CENSUS $name ${exchanges(fn(spark, sfDir))}")
          case "--explain" =>
            val df = fn(spark, sfDir)
            // collect() runs THIS DataFrame's QueryExecution (count() would
            // build another), so the plan it prints is the final one
            df.collect()
            println(s"\n===== $name =====")
            df.explain("formatted")
          case _ =>
            val walls = (1 to reps).map { rep =>
              val (j0, c0) = (jitMs, janino)
              val ((rows, wall), jobs) = log {
                val t0 = System.nanoTime()
                val rows =
                  if (mode == "--plan-only") { fn(spark, sfDir).queryExecution.executedPlan; "-" }
                  else fn(spark, sfDir).count().toString
                (rows, (System.nanoTime() - t0) / 1e9)
              }
              println(f"[$name rep $rep] rows=$rows wall=$wall%.3f s " +
                f"jit=+${jitMs - j0} ms janino=+${janino - c0}")
              jobs.foreach { j =>
                println(f"  job ${j.id}%5d ${j.seconds}%7.3f s stages=${j.stages}%2d " +
                  f"tasks=${j.tasks}%4d run=${j.runMs}%6d ms cpu=${j.cpuMs}%6d ms  ${j.site}")
              }
              val sum = jobs.map(_.seconds).filter(_ > 0).sum
              println(f"  [${jobs.size} jobs $sum%.3f s vs wall $wall%.3f s: " +
                f"driver gap ${wall - sum}%.3f s]")
              wall
            }
            if (reps > 1)
              println(f"[$name] min=${walls.min}%.3f s median=${walls.sorted.apply(reps / 2)}%.3f s")
        } catch { case e: Throwable => println(s"[$name] FAILED: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
