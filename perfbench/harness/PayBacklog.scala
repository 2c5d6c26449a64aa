package perfbench

import graft.model.PaymentSerde
import graft.streaming.PaymentPipeline

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `pay-backlog`: the same topology drains a pre-generated backlog of equal
  * 100k-event micro-batches (one parquet file of `(key, value)` JSON
  * records per batch, `maxFilesPerTrigger = 1`) drawn uniformly over 1M
  * accounts. No reads run while it drains.
  *
  * End-to-end: the balance query's per-batch latency (trigger start to
  * commit) over the drained batches; backlog events/s is printed beside it.
  */
object PayBacklog {
  val Accounts  = 1000000
  val PerBatch  = Layers.Events
  val WarmEvents = 10000
  val Setups    = 3

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // Batches sized so the drain takes about --seconds at ~40k events/s, plus
    // one full-size lead batch whose timing is not counted.
    val nBatches = math.max(3, ctx.seconds * 40000 / PerBatch) + 1
    val exp      = new PayGen.Expected
    val src      = new PayGen.Source(ctx.seed, "B", _.nextInt(Accounts))

    val genStart = Clock.now
    val input    = Main.fresh(ctx, "backlog-in")
    val staged   = Main.fresh(ctx, "backlog-staged")
    Layers.write(spark, Layers.draw(src, WarmEvents, exp), staged.resolve("warm"))
    moveParts(staged.resolve("warm"), input, "warm")
    // Draw in order (the model is sequential), then write the files in parallel.
    val drawn = (0 until nBatches).map(i => staged.resolve(s"b$i") -> Layers.draw(src, PerBatch, exp))
    val drawS = Clock.s(Clock.now - genStart)
    val pool  = java.util.concurrent.Executors.newFixedThreadPool(4)
    try drawn.map { case (dir, rows) => pool.submit((() => Layers.write(spark, rows, dir)): Runnable) }.foreach(_.get())
    finally pool.shutdown()
    val genS = Clock.s(Clock.now - genStart)
    val schema = spark.read.parquet(input.toString).schema

    def start(i: Int): (PaymentPipeline.RunningTopology, String) = {
      val dir    = Main.fresh(ctx, s"backlog-$i")
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(input.toString)
      val topo   = PaymentPipeline.start(
        PaymentSerde.decodeKafka(stream), dir.resolve("ckpt").toString, dir.resolve("sink").toString)
      topo.processAllAvailable() // the warm-up batch
      (topo, dir.resolve("sink").toString)
    }
    val setups = (1 to Setups).map { i =>
      val t = Clock.now
      val r = start(i)
      val s = Clock.s(Clock.now - t)
      if (i < Setups) r._1.stop()
      (s, r)
    }
    val (topo, sink) = setups.last._2

    // --- drain ----------------------------------------------------------------
    val codegen0 = Codegen.mark()
    val spark0   = ctx.sparkLayer.snapshot
    val t0       = Clock.now
    (0 until nBatches).foreach(i => moveParts(staged.resolve(s"b$i"), input, s"b$i"))
    topo.processAllAvailable()
    val drained  = Clock.now
    val spark1   = ctx.sparkLayer.snapshot
    val codegen1 = Codegen.mark()
    val ids      = Set(topo.balance.id, topo.routing.id)
    val batches  = ctx.progress.all.filter(b => ids(b.id) && b.arrivedNs >= t0)
    val balance  = batches.filter(_.id == topo.balance.id).sortBy(_.batchId)
    batches.foreach(b =>
      ctx.trace.add(s"batch:${b.query}", "streaming",
        b.arrivedNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L, b.arrivedNs, op = b.batchId))
    val trig = balance.drop(1).map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val eps  = nBatches.toDouble * PerBatch / Clock.s(drained - t0)

    // --- output checks ------------------------------------------------------
    val mismatches = ArrayBuffer.empty[String]
    // the balance query scans its source once per currency branch: 2 input rows per event
    if (balance.size != nBatches || balance.exists(_.inputRows != 2L * PerBatch))
      mismatches += s"balance batch input rows ${balance.map(_.inputRows).mkString(",")}, want $nBatches x ${2 * PerBatch}"
    val got = topo.store.snapshot
    if (got != exp.balance.toMap) {
      val bad = (got.keySet ++ exp.balance.keySet).filter(k => got.get(k) != exp.balance.get(k))
      mismatches += s"store snapshot differs on ${bad.size} accounts, e.g. ${bad.take(3).map(k => s"$k got ${got.get(k)} want ${exp.balance.get(k)}").mkString("; ")}"
    }
    Checks.routed(spark, sink, exp, mismatches)
    val failedQueries = ctx.progress.failures.asScala.toSeq
    failedQueries.foreach(f => mismatches += s"query failed: $f")

    // Direct point lookups on the drained store (traced runs).
    val storeMs =
      if (!ctx.trace.on) Nil
      else {
        val r = new java.util.SplittableRandom(ctx.seed + 5)
        (1 to 20).map { j =>
          val a = PayGen.account(r.nextInt(Accounts))
          val t = Clock.now
          val v = topo.store.get(a)
          val e = Clock.now
          ctx.trace.add("store.get", "store", t, e, op = j)
          if (v != exp.balance.get(a)) mismatches += s"store.get($a) = $v, want ${exp.balance.get(a)}"
          Clock.ms(e - t)
        }
      }
    val files = topo.store.dataFileCount
    topo.stop()

    val (compiles, compileMs) = Codegen.between(codegen0, codegen1)
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + genS + Stats.median(setups.map(_._1))),
      "p50_ms" -> Stats.median(trig),
      "p90_ms" -> Stats.pct(trig, 90),
      "mean_ms" -> Stats.mean(trig))
    val layer = ctx.progress.layerMetrics(batches) ++
      spark1.map { case (k, v) => k -> (v - spark0.getOrElse(k, 0.0)) } ++ Map(
        "spark.codegen_compiles" -> compiles.toDouble,
        "spark.codegen_compile_ms" -> compileMs,
        "spark.driver_gap_ms" -> ctx.sparkLayer.driverGapMs(t0, drained),
        "streaming.store_files" -> files.toDouble,
        "streaming.store_get_ms" -> Stats.mean(storeMs)
      ) ++ (if (ctx.trace.on) Layers.replay(ctx) else Map.empty)
    val detail = Seq(
      f"generation $genS%.3f s (draw $drawS%.3f s); set-ups (s): ${setups.map(_._1).map(x => f"$x%.3f").mkString(" ")}; session ${ctx.sessionStartS}%.3f s",
      f"backlog_eps $eps%.1f 1/s ($nBatches batches x $PerBatch events in ${Clock.s(drained - t0)}%.3f s)",
      s"balance batch ms (lead batch first, not counted): ${balance.map(_.durations.getOrElse("triggerExecution", 0L)).mkString(" ")}",
      s"ops ${batches.size} ops_failed ${failedQueries.size}"
    )
    Outcome(batches.size, failedQueries.size, mismatches.toSeq, e2e, layer, detail)
  }

  /** Move a written batch's data files into the watched source directory. */
  private def moveParts(from: java.nio.file.Path, to: java.nio.file.Path, tag: String): Unit = {
    val s = Files.list(from)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).foreach(f =>
      Files.move(f, to.resolve(s"$tag-${f.getFileName}")))
    finally s.close()
  }
}
