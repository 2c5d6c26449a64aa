package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dev-loop filter; the
    // driver always runs the full set (2 args).
    val only: Set[String] = if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = GraftSession()
    // The driver hashes our parquet via pyarrow→pandas. INT96 (the
    // verified-green physical type for 187 r10 queries) reads there as
    // NAIVE timestamp[ns] — matching DuckDB's naive oracle strings.
    // TIMESTAMP_MICROS would read as tz-aware (`+00:00` suffix) and
    // mismatch every timestamp column, so pin INT96 explicitly; ns
    // safety is instead guaranteed by keeping every written timestamp
    // below 2262-04-11 (see EventQueries.ScdOpenEnd).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // drop any per-query persists
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
