package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    mismatches: Seq[String],
    e2e: Map[String, Double],
    layer: Map[String, Double],
    detail: Seq[String] = Nil
)

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    trace: Trace,
    sparkLayer: SparkLayer,
    progress: ProgressLog,
    work: Path,
    root: Path,
    sessionStartS: Double
)

/** Benchmark entry: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints detail lines, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics when
  * `--trace 0`, per-layer metrics when `--trace 1`).
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "mean_ms" -> "ms")

  val BoardRows: Seq[String] = Seq(
    "q09", "q12", "q159", "q169", "q174")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.rows_per_s" -> "1/s",
    "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes",
    "streaming.compact_ms" -> "ms",
    "streaming.store_files" -> "count",
    "streaming.store_get_ms" -> "ms",
    "streaming.rest_overhead_ms" -> "ms",
    "streaming.get_p50_ms" -> "ms",
    "streaming.get_p95_ms" -> "ms",
    "streaming.rest_404" -> "count",
    "streaming.rest_500" -> "count",
    "model.decode_ms" -> "ms",
    "operators.topology_ms" -> "ms",
    "sources.route_write_ms" -> "ms",
    "queries.board_s" -> "s",
    "queries.warm_pass_s" -> "s",
    "queries.plan_ms" -> "ms"
  ) ++ BoardRows.flatMap(r => Seq(s"queries.$r.s" -> "s", s"queries.$r.plan_ms" -> "ms")) ++ Seq(
    "spark.codegen_compiles" -> "count",
    "spark.codegen_compile_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.driver_gap_ms" -> "ms",
    "bench.ops" -> "count",
    "bench.ops_failed" -> "count",
    "bench.gen_late_ms" -> "ms",
    "bench.queued_end" -> "count",
    "bench.gen_behind" -> "count",
    "bench.session_s" -> "s",
    "bench.rss_peak_mb" -> "MB",
    "trace.spans" -> "count",
    "trace.self_bench_ms" -> "ms",
    "trace.self_streaming_ms" -> "ms",
    "trace.self_rest_ms" -> "ms",
    "trace.self_store_ms" -> "ms",
    "trace.self_queries_ms" -> "ms",
    "trace.self_layers_ms" -> "ms",
    "trace.p50_ms" -> "ms",
    "trace.p90_ms" -> "ms",
    "trace.mean_ms" -> "ms"
  )

  def main(args: Array[String]): Unit = {
    // Exit explicitly: a stray non-daemon thread must not keep the run alive.
    val code =
      try { bench(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def bench(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed     = opts.getOrElse("seed", "1").toLong
    val seconds  = opts.getOrElse("seconds", "10").toInt
    val traced   = opts.getOrElse("trace", "0") == "1"
    val cpus     = opts.getOrElse("cpus", "4").toInt
    val root     = Paths.get(opts.getOrElse("root", ".")).toAbsolutePath.normalize
    val work     = root.resolve(opts.getOrElse("work", ".bench_out/work"))
    val runs: Map[String, Ctx => Outcome] = Map(
      "pay-live" -> PayLive.run, "pay-backlog" -> PayBacklog.run, "board-slice" -> BoardSlice.run)
    val run = runs.getOrElse(workload, sys.error(s"unknown workload $workload (known: ${runs.keys.mkString(", ")})"))

    val spark = session(cpus, root)
    // JVM start to a ready session: the part of set-up every workload pays.
    val sessionS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sparkLayer = new SparkLayer
    val progress   = new ProgressLog
    if (traced) spark.sparkContext.addSparkListener(sparkLayer)
    spark.streams.addListener(progress)
    val trace = new Trace(traced)

    val out =
      try run(Ctx(spark, seed, seconds, trace, sparkLayer, progress, work, root, sessionS))
      finally shutdown(spark)

    val layer = out.layer ++ Map(
      "bench.session_s" -> sessionS,
      "bench.rss_peak_mb" -> Stats.rssPeakMb,
      "bench.ops" -> out.attempted.toDouble,
      "bench.ops_failed" -> out.failed.toDouble,
      "trace.spans" -> trace.all.size.toDouble,
      "trace.p50_ms" -> out.e2e.getOrElse("p50_ms", 0.0),
      "trace.p90_ms" -> out.e2e.getOrElse("p90_ms", 0.0),
      "trace.mean_ms" -> out.e2e.getOrElse("mean_ms", 0.0)
    ) ++ trace.selfMsByLayer.map { case (l, v) => s"trace.self_${l}_ms" -> v }
    if (traced)
      trace.write(root.resolve(s".bench_out/trace-$workload-$seed.jsonl"))

    val (names, values) =
      if (traced) (PerLayer, layer)
      else (EndToEnd, out.e2e)
    out.detail.foreach(l => println(s"[detail] $l"))
    out.mismatches.take(20).foreach(m => println(s"[mismatch] $m"))
    names.foreach { case (n, u) => println(f"[metric] $n%-28s ${values.getOrElse(n, 0.0)}%.4f $u") }
    val metrics = names.map { case (n, u) => n -> Seq("value" -> values.getOrElse(n, 0.0), "unit" -> u) }
    println(Json.obj(Seq(
      "correct" -> out.mismatches.isEmpty,
      "attempted" -> math.max(out.attempted, 1L),
      "failed" -> out.failed,
      "metrics" -> metrics)))
    System.out.flush()
  }

  /** The engine's board configuration (as `graft.Bench` builds it), with
    * every scratch path inside the benchmark's own output directory.
    */
  def session(cpus: Int, root: Path): SparkSession = {
    val local = root.resolve(".bench_out/spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", root.resolve(".bench_out/warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NoCrcLocalFileSystem].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def shutdown(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }

  /** A fresh, empty directory under the run's work root. */
  def fresh(ctx: Ctx, name: String): Path = {
    val p = ctx.work.resolve(name)
    deleteTree(p)
    Files.createDirectories(p)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
