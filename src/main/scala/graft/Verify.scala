package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev loops only — the driver passes 2): run only
    // queries whose name starts with one of the comma-separated prefixes
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    Runner.select(args.lift(2)).foreach { q =>
      Runner.run(spark, q, sfDir, Runner.parquet(s"$outDir/${q.name}"), q.name)
        .left.foreach(e => System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}"))
    }
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
    // oracleSqlAll (not oracleSql): the generated ANN oracles embed the
    // fitted centroids/codebooks this run's queries used (Artifacts cache)
    val json = SparkEntry.oracleSqlAll(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
