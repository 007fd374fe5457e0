package graft.etl

import graft.sources.Sinks
import org.apache.spark.sql.types.StructType

/** Runnable example of the idempotent star-schema load:
  *
  *   sbt "runMain graft.etl.PipelineDemo <rawCsvDir> <starDir> [runs]"
  *
  * Reads a raw scrape batch (CSV, reference main.py:108–115 shape), runs
  * [[Pipeline.run]] `runs` times against the same star directory, printing
  * (paisRows, setorRows, factRows) after each run — dims must stay flat
  * while facts accumulate.
  */
object PipelineDemo {
  val RawSchema: StructType = StructType.fromDDL(
    "nome STRING, valor_atual_s STRING, maxima_s STRING, " +
      "minima_s STRING, variacao_s STRING, pais STRING")

  def main(args: Array[String]): Unit = {
    val rawDir = args(0)
    val starDir = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw = Sinks.readCsv(spark, rawDir, RawSchema)
    val paths = Pipeline.StarPaths(s"$starDir/pais", s"$starDir/setor", s"$starDir/fato")
    val brazilMap = Map("Ibovespa" -> "Diversificado", "IBrX 50" -> "Financeiro")
    val countryMap = Map("China" -> "Primário", "EUA" -> "Primário")
    (1 to runs).foreach { i =>
      val (p, s, f) = Pipeline.run(spark, raw, paths, brazilMap, countryMap)
      println(s"run$i: pais=$p setor=$s facts=$f")
    }
    spark.stop()
  }
}
