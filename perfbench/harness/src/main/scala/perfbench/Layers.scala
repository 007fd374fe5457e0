package perfbench

import scala.jdk.CollectionConverters._

/** Per-op layer numbers from the probe's events. A job belongs to the op
  * whose [start, end] holds its start; a task or stage to the op of its
  * job; a SQL execution to the op that holds its end; a planning phase to
  * the op that holds its end; a streaming batch to the op that holds its
  * trigger start.
  */
object Layers {
  def perOp(p: Probe, ops: Seq[Main.Op]): Seq[Map[String, Double]] = {
    val jobs = p.jobs.asScala.toSeq
    val tasks = p.tasks.asScala.toSeq.groupBy(_.stage)
    val stagesDone = p.stagesDone.asScala.toSet
    val actions = p.actions.asScala.toSeq.map(_.longValue)
    val phases = p.phases.asScala.toSeq
    val batches = p.batches.asScala.toSeq
    ops.map { op =>
      val in = (ms: Long) => ms >= op.startMs && ms <= op.endMs
      val js = jobs.filter(j => in(j.start))
      val stages = js.flatMap(_.stages).distinct.filter(stagesDone)
      val ts = stages.flatMap(s => tasks.getOrElse(s, Nil))
      def phase(name: String) = phases.filter(x => x.name == name && in(x.endMs)).map(_.seconds).sum
      val bs = batches.filter(b => in(b.startMs))
      val wallMs = (op.endMs - op.startMs).toDouble
      val raw = Probe.unionMs(js.map(j => (j.start, if (j.end < 0) op.endMs else j.end)))
      val clipped = Probe.unionMs(js.map(j =>
        (j.start, math.min(op.endMs, if (j.end < 0) op.endMs else j.end))))
      val runS = ts.map(_.runMs).sum / 1e3
      Map(
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> stages.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_run_s" -> runS,
        "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "exec.task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "exec.job_union_s" -> raw / 1e3,
        "exec.driver_gap_s" -> (wallMs - clipped) / 1e3,
        "shuffle.write_bytes" -> ts.map(_.shWrite).sum.toDouble,
        "shuffle.write_s" -> ts.map(_.shWriteNs).sum / 1e9,
        "shuffle.read_bytes" -> ts.map(_.shRead).sum.toDouble,
        "shuffle.fetch_wait_s" -> ts.map(_.fetchMs).sum / 1e3,
        "spill.bytes" -> ts.map(_.spill).sum.toDouble,
        "scan.bytes_read" -> ts.map(_.inBytes).sum.toDouble,
        "scan.rows_read" -> ts.map(_.inRecords).sum.toDouble,
        "plan.actions" -> actions.count(in).toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimize_s" -> phase("optimization"),
        "plan.physical_s" -> phase("planning"),
        "stream.batches" -> bs.size.toDouble,
        "stream.add_batch_s" -> bs.map(_.addBatch).sum,
        "stream.wal_commit_s" -> bs.map(_.walCommit).sum,
        "stream.planning_s" -> bs.map(_.planning).sum)
    }
  }
}
