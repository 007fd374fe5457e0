package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (dev iteration;
    // the driver always runs the full set)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the correctness gate runs the exact engine the bench times
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Named schema gate (round-8 postmortem: a testdata regeneration broke
    // 17 queries with the same opaque AnalysisException). Diagnostic only —
    // queries not touched by a drifted column must still dump, so report
    // loudly and continue rather than zeroing the whole round.
    val contractDiff = graft.model.SchemaContract.diff(spark, sfDir)
    if (contractDiff.nonEmpty)
      System.err.println(
        "[verify] SCHEMA CONTRACT VIOLATION (FIXTURES.md §B) — expect " +
          s"failures in queries touching these columns:\n  ${contractDiff.mkString("\n  ")}")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // written BEFORE the query loop: if one query hangs past the driver's
    // timeout, the completed queries still get oracle-checked instead of
    // the whole round zeroing out on a missing oracle_sql.json
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (k, _) => subset.forall(_.contains(k)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
