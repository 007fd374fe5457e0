package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session tuning for the streaming parity lifecycles (round-12 VERDICT
  * #5). A streaming micro-batch commits one state-store delta file per
  * shuffle partition per stateful operator, and the offset/commit logs
  * fsync per batch — BASELINE.md's streaming-lifecycle decomposition: a
  * no-op 4-batch lifecycle costs 2.86 s at 32 shuffle partitions vs
  * 1.31 s at 8 (the state-store file count IS the cost at parity-harness
  * data sizes). The
  * MemoryStream lifecycles already pin 4 partitions inside
  * `runBoundedStream`; the DSv2-source lifecycles get the same treatment
  * here via a session-local override — a `newSession` so the shared bench
  * session's conf is never touched (the round-12 conf-leak rule).
  *
  * This is harness right-sizing, not a semantics change: every parity
  * output is partitioning-invariant (that is what the hash gate and the
  * local[4]-vs-local[7] determinism audits prove), and a production
  * deployment sizes state partitions to key cardinality, not to a
  * constant 32.
  */
object StreamTune {
  val LifecycleShufflePartitions = 8

  def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", LifecycleShufflePartitions.toString)
    s
  }
}
