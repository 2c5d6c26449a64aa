package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `board-slice`: twelve registry rows at sf0.1 — one warm pass (set-up),
  * then as many timed passes as fit in `--seconds` (at least one). Each row's
  * time covers building its frame and one action that materialises every
  * column: an order-insensitive hash of the rows, checked against the hash
  * recorded for the corpus in `board_hashes.txt`.
  *
  * End-to-end: per-row wall time (median over timed passes), summarised as
  * p50 / p90 / mean over the rows; `board_s` is their sum.
  */
object BoardSlice {

  final case class Hash(rows: Long, sum: String) { override def toString = s"$rows $sum" }

  /** Row count and the exact sum of per-row `xxhash64` over the JSON of every column. */
  def hash(df: DataFrame): Hash = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Hash(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark  = ctx.spark
    val data   = ctx.root.resolve("perfbench/data/sf0.1").toString
    val hashes = ctx.root.resolve("perfbench/board_hashes.txt")
    require(Files.isDirectory(java.nio.file.Paths.get(data)), s"board corpus missing at $data")
    val registry = SparkEntry.queries
    val rows = Main.BoardRows.map { id =>
      id -> registry.keys.find(_.takeWhile(_ != '_') == id).getOrElse(sys.error(s"no registry row $id"))
    }
    val recorded: Map[String, String] =
      if (!Files.exists(hashes)) Map.empty
      else Files.readAllLines(hashes).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val p = l.split("\\s+", 2); p(0) -> p(1) }.toMap

    /** One row: (seconds, plan ms, hash); the frame is built inside the timing. */
    def runRow(id: String, name: String, pass: Int, parent: Long): (Double, Double, Hash) = {
      val span = ctx.trace.open()
      val t    = Clock.now
      val df   = registry(name)(spark, data)
      val planMs =
        if (!ctx.trace.on) 0.0
        else {
          val p = Clock.now
          df.queryExecution.executedPlan
          val e = Clock.now
          ctx.trace.add(s"plan:$id", "queries", p, e, span, pass)
          Clock.ms(e - p)
        }
      val h = hash(df)
      val s = Clock.s(Clock.now - t)
      ctx.trace.close(span, s"row:$id", "queries", t, parent, pass)
      spark.catalog.clearCache()
      (s, planMs, h)
    }

    val warmStart = Clock.now
    val warmHashes = rows.map { case (id, name) => id -> runRow(id, name, 0, 0L)._3 }.toMap
    val warmS = Clock.s(Clock.now - warmStart)

    val codegen0 = Codegen.mark()
    val spark0   = ctx.sparkLayer.snapshot
    val t0       = Clock.now
    val passes   = ArrayBuffer.empty[Map[String, (Double, Double, Hash)]]
    // Another pass only if it is expected to end within --seconds.
    while (passes.isEmpty || Clock.s(Clock.now - t0) * (passes.size + 1) / passes.size <= ctx.seconds) {
      val span = ctx.trace.open()
      val ps   = Clock.now
      passes += rows.map { case (id, name) => id -> runRow(id, name, passes.size + 1, span) }.toMap
      ctx.trace.close(span, "pass", "bench", ps, op = passes.size)
    }
    val t1       = Clock.now
    val spark1   = ctx.sparkLayer.snapshot
    val codegen1 = Codegen.mark()

    val mismatches = ArrayBuffer.empty[String]
    rows.foreach { case (id, _) =>
      val seen = (warmHashes(id) +: passes.map(_(id)._3).toSeq).map(_.toString).distinct
      recorded.get(id) match {
        case None    => mismatches += s"$id: no recorded hash (got ${seen.mkString(" / ")})"
        case Some(h) => if (seen != Seq(h)) mismatches += s"$id: hash ${seen.mkString(" / ")}, recorded $h"
      }
    }
    val failedQueries = ctx.progress.failures.asScala.toSeq
    failedQueries.foreach(f => mismatches += s"query failed: $f")

    val rowS   = rows.map { case (id, _) => id -> Stats.median(passes.map(_(id)._1).toSeq) }.toMap
    val planMs = rows.map { case (id, _) => id -> Stats.median(passes.map(_(id)._2).toSeq) }.toMap
    val ms     = rowS.values.map(_ * 1000).toSeq
    val boardS = rowS.values.sum
    val (compiles, compileMs) = Codegen.between(codegen0, codegen1)
    val streamB = ctx.progress.all.filter(_.arrivedNs >= t0)
    streamB.foreach(b =>
      ctx.trace.add(s"batch:${b.query}", "streaming",
        b.arrivedNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L, b.arrivedNs, op = b.batchId))
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + warmS),
      "p50_ms" -> Stats.median(ms),
      "p90_ms" -> Stats.pct(ms, 90),
      "mean_ms" -> Stats.mean(ms))
    val layer = ctx.progress.layerMetrics(streamB) ++
      spark1.map { case (k, v) => k -> (v - spark0.getOrElse(k, 0.0)) / passes.size } ++
      rows.flatMap { case (id, _) => Seq(s"queries.$id.s" -> rowS(id), s"queries.$id.plan_ms" -> planMs(id)) } ++
      Map(
        "queries.board_s" -> boardS,
        "queries.warm_pass_s" -> warmS,
        "queries.plan_ms" -> planMs.values.sum,
        "spark.codegen_compiles" -> compiles.toDouble / passes.size,
        "spark.codegen_compile_ms" -> compileMs / passes.size,
        "spark.driver_gap_ms" -> ctx.sparkLayer.driverGapMs(t0, t1) / passes.size
      ) ++ (if (ctx.trace.on) Layers.replay(ctx) else Map.empty)
    val detail = Seq(
      f"warm pass (memo builds included) $warmS%.3f s; session ${ctx.sessionStartS}%.3f s",
      f"board_s $boardS%.4f s (${passes.size} timed passes, per-row median)",
      rows.map { case (id, _) => f"$id ${rowS(id)}%.3f" }.mkString("rows (s): ", " ", ""),
      s"ops ${rows.size * (passes.size + 1)} ops_failed 0",
      rows.map { case (id, _) => s"$id ${warmHashes(id)}" }.mkString("hashes: ", "; ", "")
    )
    Outcome(rows.size * (passes.size + 1), failedQueries.size, mismatches.toSeq, e2e, layer, detail)
  }
}
