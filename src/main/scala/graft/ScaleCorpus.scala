package graft

import org.apache.spark.sql.functions._

/** Dev tool (round-21 VERDICT item 6): materialize a K×-scaled documents
  * corpus so the scan-bound text operators can be measured at a scale
  * factor the committed testdata does not provide — sf0.1 is the largest
  * SF on disk, and at sf0.1 the suite is fixed-overhead-dominated (8-core
  * ≈ 32-core total, round-20 scaling block), which hides every scan-side
  * win behind per-job floors.
  *
  *   sbt "runMain graft.ScaleCorpus <srcSfDir> <dstDir> <k>"
  *
  * `documents` is replicated K times with doc_id offset 10^7 per replica
  * (far above the corpus id range and the query families' mirror offsets,
  * so no synthetic id can collide); every other table file is copied
  * byte-for-byte so Bench's warm-up and table plumbing work unchanged.
  * Deterministic — no RNG, no timestamps — so two runs produce identical
  * corpora. Output is a DEV measurement corpus only: nothing in the
  * declared query set or the driver contract reads it.
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    require(k >= 1 && k <= 64, s"k out of range: $k")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dstDir = new java.io.File(dst)
    dstDir.mkdirs()
    // byte-copy every non-documents table (events/, lineitem, ... — files
    // OR directories of parquet parts)
    def copyTree(f: java.io.File, t: java.io.File): Unit =
      if (f.isDirectory) {
        t.mkdirs()
        f.listFiles().foreach(c => copyTree(c, new java.io.File(t, c.getName)))
      } else
        java.nio.file.Files.copy(f.toPath, t.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(src).listFiles()
      .filterNot(_.getName.startsWith("documents"))
      .foreach(f => copyTree(f, new java.io.File(dstDir, f.getName)))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val scaled = (0 until k)
      .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    scaled.repartition(GraftSession.cpus.toInt)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"[scalecorpus] wrote ${spark.read.parquet(s"$dst/documents.parquet").count()} docs to $dst")
    spark.stop()
  }
}
