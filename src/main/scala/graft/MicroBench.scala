package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Micro-benchmark: higher-order-function dot product vs the native
  * codegen'd [[graft.functions.DotProduct]] expression, on synthetic
  * 64-dim vectors. Decides (with numbers, not guesses) which path the
  * embedding queries use. Run: sbt "runMain graft.MicroBench [nRows]".
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    // declarative wiring on purpose: this main doubles as the end-to-end
    // check that spark.sql.extensions loads GraftExtensions (no imperative
    // register() call anywhere in this file)
    val spark = GraftSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("sql graft_dot via extensions: " +
      spark.sql("SELECT graft_dot(array(1.0,2.0,3.0), array(4.0,5.0,6.0)) AS d").head.getDouble(0))

    val vecs = spark.range(n).select(
      col("id"),
      transform(sequence(lit(0), lit(63)), i => (col("id") + i).cast("double") / lit(97.0))
        .as("a"),
      transform(sequence(lit(0), lit(63)), i => (col("id") * 2 + i).cast("double") / lit(101.0))
        .as("b"))

    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val native = GraftFunctions.dot(col("a"), col("b"))

    def time(name: String, c: org.apache.spark.sql.Column): Double = {
      val df = vecs.select(sum(c).as("s"))
      df.collect() // warm
      val t0 = System.nanoTime()
      val r = df.collect()(0).getDouble(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-8s $sec%8.3f s   (checksum $r%.6e)")
      sec
    }

    val h = time("hof", hof)
    val nat = time("native", native)
    println(f"native is ${h / nat}%.2fx the HOF path on $n rows x 64 dims")
    // typed-Aggregator surface check: one-pass centroid over the synthetic
    // vectors (the shuffle-light alternative to posexplode+groupBy)
    val cent = vecs.select(col("a"))
      .agg(graft.vec.VectorAggregates.centroidAgg(64)(col("a")).as("c"))
      .head.getSeq[Double](0)
    println(f"udaf centroid: dim=${cent.length} c0=${cent.head}%.6f")
    spark.stop()
  }
}
