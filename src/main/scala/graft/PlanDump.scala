package graft

/** Dump `explain("formatted")` for a comma-separated list of registered
  * queries to `<outDir>/<name>_<suffix>.txt` — the per-round before/after
  * plan evidence the optimization writeups commit under `plans/rNN/`.
  * Plan SHAPE is scale-independent, so the default sf0.001 corpus keeps
  * memo builds cheap. Usage:
  *   tools/run_graft.sh graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]")
    val (outDir, suffix, list) = (args(0), args(1), args(2))
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val full = SparkEntry.queries.keys
        .find(n => n == name || n.takeWhile(_ != '_') == name)
        .getOrElse(sys.error(s"unknown query: $name"))
      val df = SparkEntry.queries(full)(spark, sfDir)
      val p  = java.nio.file.Paths.get(outDir, s"${full}_$suffix.txt")
      java.nio.file.Files.write(p, df.queryExecution.explainString(mode).getBytes("UTF-8"))
      println(s"[plandump] $p")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
