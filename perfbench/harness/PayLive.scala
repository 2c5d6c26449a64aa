package perfbench

import graft.model.PaymentSerde
import graft.streaming.{PaymentPipeline, RestService}
import org.apache.spark.sql.functions.{col, substring_index}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ScheduledThreadPoolExecutor, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `pay-live`: the two-query payment topology fed `(key, value)` JSON
  * records in an open loop at 1,000 events/s (50 ms ticks), over Spark's
  * socket source (one connection per query, both sent the same lines, so a
  * record's line number is its offset in either query), with REST
  * balance GETs in an open loop at 4/s beside it.
  *
  * End-to-end: each event's visibility latency, from its tick's scheduled
  * send time to the `onQueryProgress` of the first `graft-balance` batch
  * whose end offset covers it (at that point it is in the store REST serves).
  *
  * The balance changelog is not compacted while GETs run: `BalanceStore`
  * compaction deletes files that a concurrent GET may have planned against
  * (its class doc), which fails that GET at random. The store is compacted
  * once after the window instead, with nothing else running, and the
  * output checks read the compacted store.
  */
object PayLive {
  val Accounts   = 20000
  val Ghosts     = 20000
  val TickMs     = 50
  val PerTick    = 50  // 1,000 events/s
  val GetEveryMs = 250 // 4 GET/s
  val GetThreads = 3   // plus the generator: 4 load threads
  val WarmRounds = 1   // warm-up batches per set-up
  val WarmTicks  = 10  // ticks per warm-up batch
  val Setups     = 3
  val LeadMs     = 5000 // open-loop load before the measured window (not measured)
  val Balance    = "graft-balance"

  private final case class Live(
      feed: Feed,
      topo: PaymentPipeline.RunningTopology,
      rest: RestService,
      sink: String) {
    def stop(): Unit = { rest.stop(); topo.stop(); feed.close() }
  }

  /** The record source: a localhost server socket that Spark's socket
    * source connects to, once per query. Every line goes to every client.
    */
  private final class Feed {
    private val server  = new java.net.ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
    private val clients = ArrayBuffer.empty[(java.net.Socket, java.io.Writer)]
    server.setSoTimeout(60000)
    def port: Int = server.getLocalPort

    def accept(n: Int): Unit = (1 to n).foreach { _ =>
      val c = server.accept()
      clients += c -> new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(c.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    }

    def send(lines: Seq[String]): Unit = clients.foreach { case (_, w) =>
      lines.foreach { l => w.write(l); w.write('\n') }
      w.flush()
    }

    def close(): Unit = {
      clients.foreach { case (c, _) => c.close() }
      server.close()
    }
  }

  private final case class Get(
      j: Int, account: String, ghost: Boolean, due: Long, start: Long, end: Long, status: Int, body: String)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark

    val zipf    = new PayGen.Zipf(Accounts, 1.0)
    val warm    = WarmRounds * WarmTicks
    val lead    = warm + LeadMs / TickMs // first measured tick
    val nTicks  = lead + ctx.seconds * 1000 / TickMs
    val src     = new PayGen.Source(ctx.seed, "P", zipf.sample)
    val ticks   = Array.fill(nTicks)(Array.fill(PerTick)(src.next()))
    val lines   = ticks.map(_.map(e => e.id + "\t" + e.json).toSeq)
    // line number of a tick's last record = the offset that covers the tick
    val lastOff = (t: Int) => (t + 1).toLong * PerTick - 1
    val storeGetNs = new ConcurrentLinkedQueue[java.lang.Long]()
    val getSpan    = new ConcurrentHashMap[String, java.lang.Long]()

    /** Block until both of the topology's queries have committed `off`. */
    def await(topo: PaymentPipeline.RunningTopology, off: Long): Unit = {
      val ids      = Set(topo.balance.id, topo.routing.id)
      val deadline = Clock.now + 120L * 1000000000L
      while (ids.exists(id => !ctx.progress.all.exists(b => b.id == id && b.endOffset.toLong >= off))) {
        topo.balance.exception.orElse(topo.routing.exception).foreach(e => throw e)
        require(Clock.now < deadline, s"offset $off not committed within 120 s")
        Thread.sleep(5)
      }
    }

    def start(i: Int): Live = {
      val dir  = Main.fresh(ctx, s"live-$i")
      val feed = new Feed
      val raw  = spark.readStream.format("socket")
        .option("host", "localhost").option("port", feed.port.toString).load()
      val topo = PaymentPipeline.start(
        PaymentSerde.decodeKafka(raw.select(
          substring_index(col("value"), "\t", 1).as("key"),
          substring_index(col("value"), "\t", -1).as("value"))),
        dir.resolve("ckpt").toString, dir.resolve("sink").toString, compactEvery = 0L)
      feed.accept(2)
      val rest =
        if (!ctx.trace.on) RestService.forTopology(topo, "payment topology")
        else
          new RestService(a => {
            val t = Clock.now
            try topo.store.get(a)
            finally {
              val e = Clock.now
              storeGetNs.add(e - t)
              ctx.trace.add("store.get", "store", t, e, Option(getSpan.get(a)).map(_.longValue).getOrElse(0L))
            }
          }, () => "payment topology")
      rest.start()
      (0 until WarmRounds).foreach { r =>
        feed.send((r * WarmTicks until (r + 1) * WarmTicks).flatMap(lines))
        await(topo, lastOff((r + 1) * WarmTicks - 1))
      }
      Http.get(s"http://localhost:${rest.boundPort}/v1/kafka-streams/balance/${PayGen.account(0)}")
      Live(feed, topo, rest, dir.resolve("sink").toString)
    }

    // Set up several times (fresh checkpoint and sink each time); keep the last.
    val setupS = (1 to Setups).map { i =>
      val t = Clock.now
      val l = start(i)
      val s = Clock.s(Clock.now - t)
      if (i < Setups) l.stop()
      (s, l)
    }
    val live     = setupS.last._2
    val setupMed = Stats.median(setupS.map(_._1))
    val url      = s"http://localhost:${live.rest.boundPort}/v1/kafka-streams/balance/"

    // Track the store's file count at each balance commit (traced runs).
    val storeFiles = new ConcurrentLinkedQueue[java.lang.Integer]()
    if (ctx.trace.on)
      ctx.progress.onBatch(b => if (b.id == live.topo.balance.id) storeFiles.add(live.topo.store.dataFileCount))

    // --- open-loop load -------------------------------------------------
    val t0         = Clock.now + 200L * 1000000L
    val m0         = t0 + LeadMs * 1000000L // measured window start
    val due        = (t: Int) => t0 + (t - warm).toLong * TickMs * 1000000L
    val late       = new Array[Long](nTicks)
    val gen = new Thread(() => {
      (warm until nTicks).foreach { t =>
        val wait = due(t) - Clock.now
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        val s = Clock.now
        late(t) = s - due(t)
        live.feed.send(lines(t))
        ctx.trace.add("tick", "bench", s, Clock.now, op = t)
      }
    }, "perfbench-gen")

    val nGets = ctx.seconds * 1000 / GetEveryMs
    val pick  = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    val plan = (0 until nGets).map { j =>
      if (pick.nextDouble() < 0.8) (PayGen.account(zipf.sample(pick)), false)
      else (PayGen.ghost(pick.nextInt(Ghosts)), true)
    }
    val gets  = new ConcurrentLinkedQueue[Get]()
    val sched = new ScheduledThreadPoolExecutor(GetThreads)
    plan.zipWithIndex.foreach { case ((account, ghost), j) =>
      val d = m0 + j.toLong * GetEveryMs * 1000000L
      sched.schedule((() => {
        val s  = Clock.now
        val id = ctx.trace.open()
        if (ctx.trace.on) getSpan.put(account, id)
        val r  =
          try Http.get(url + account)
          catch { case scala.util.control.NonFatal(e) => Http.Reply(599, e.toString) }
        val e = Clock.now
        ctx.trace.close(id, "rest.get", "rest", s, op = j)
        gets.add(Get(j, account, ghost, d, s, e, r.status, r.body))
      }): Runnable, d - Clock.now, TimeUnit.NANOSECONDS)
    }
    gen.start()
    java.util.concurrent.locks.LockSupport.parkNanos(m0 - Clock.now)
    val codegen0 = Codegen.mark()
    val spark0   = ctx.sparkLayer.snapshot
    gen.join()
    val loadEnd = Clock.now
    val committedAtEnd =
      ctx.progress.all.filter(_.id == live.topo.balance.id).map(_.endOffset.toLong).maxOption.getOrElse(-1L)
    val queuedEnd = math.max(0L, lastOff(nTicks - 1) - committedAtEnd)
    sched.shutdown()
    sched.awaitTermination(120, TimeUnit.SECONDS)
    await(live.topo, lastOff(nTicks - 1))
    val drained = Clock.now
    val spark1   = ctx.sparkLayer.snapshot
    val codegen1 = Codegen.mark()
    val c0       = Clock.now
    live.topo.store.compact()
    val compactMs = Clock.ms(Clock.now - c0)
    ctx.trace.add("store.compact", "store", c0, Clock.now)

    // --- visibility latency ----------------------------------------------
    val ids      = Set(live.topo.balance.id, live.topo.routing.id)
    val batches  = ctx.progress.all.filter(b => ids(b.id) && b.arrivedNs >= m0)
    val balance  = ctx.progress.all.filter(_.id == live.topo.balance.id).sortBy(_.arrivedNs)
    val balOff   = balance.map(b => (b.arrivedNs, b.endOffset.toLong))
    // per event: its tick's due time to the first balance commit covering its line
    val visible = (lead until nTicks).flatMap { t =>
      (0 until PerTick).map { j =>
        val off = t.toLong * PerTick + j
        balOff.find(_._2 >= off).map(b => Clock.ms(b._1 - due(t))).getOrElse(Double.NaN)
      }
    }
    balance.foreach(b =>
      ctx.trace.add(s"batch:${b.query}", "streaming",
        b.arrivedNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L, b.arrivedNs, op = b.batchId))
    batches.filter(_.query != Balance).foreach(b =>
      ctx.trace.add(s"batch:${b.query}", "streaming",
        b.arrivedNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L, b.arrivedNs, op = b.batchId))

    // --- output checks -----------------------------------------------------
    val mismatches = ArrayBuffer.empty[String]
    val exp        = new PayGen.Expected
    // per account: (offset, running balance) after each credited event
    val history = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[(Long, Long)]]
    ticks.indices.foreach { t =>
      ticks(t).zipWithIndex.foreach { case (e, j) =>
        exp.add(e)
        if (e.rails != 2)
          history.getOrElseUpdate(PayGen.account(e.from), ArrayBuffer.empty) +=
            ((t.toLong * PerTick + j) -> exp.balance(PayGen.account(e.from)))
      }
    }
    def balanceAt(a: String, off: Long): Option[Long] =
      history.get(a).flatMap(_.takeWhile(_._1 <= off).lastOption.map(_._2))

    val got = live.topo.store.snapshot
    if (got != exp.balance.toMap) {
      val bad = (got.keySet ++ exp.balance.keySet).filter(k => got.get(k) != exp.balance.get(k))
      mismatches += s"store snapshot differs on ${bad.size} accounts, e.g. ${bad.take(3).map(k => s"$k got ${got.get(k)} want ${exp.balance.get(k)}").mkString("; ")}"
    }
    Checks.routed(spark, live.sink, exp, mismatches)

    val getsSeq = gets.asScala.toSeq.sortBy(_.j)
    getsSeq.foreach { g =>
      if (g.status < 500) {
        val lo = balOff.lastIndexWhere(_._1 <= g.start)
        val hi0 = balOff.indexWhere(_._1 >= g.end)
        val hi = if (hi0 < 0) balOff.size - 1 else hi0
        val allowed = (math.max(lo, 0) to hi).map(i => balanceAt(g.account, balOff(i)._2)).toSet ++
          (if (lo < 0) Set(None) else Set.empty)
        val seen = g.status match {
          case 200 => g.body.trim.toLongOption.map(Some(_))
          case 404 => Some(None)
          case _   => None
        }
        if (g.ghost && g.status != 404) mismatches += s"GET ${g.account} (never sent) returned ${g.status}"
        else if (!seen.exists(allowed.contains))
          mismatches += s"GET ${g.account} returned ${g.status} '${g.body.take(40)}', not a batch-boundary balance ${allowed.take(4)}"
      }
    }
    val failedQueries = ctx.progress.failures.asScala.toSeq
    failedQueries.foreach(f => mismatches += s"query failed: $f")
    live.stop()

    // --- metrics ------------------------------------------------------------
    val getMs   = getsSeq.map(g => Clock.ms(g.end - g.due))
    val failed  = getsSeq.count(_.status >= 500) + failedQueries.size
    val windowB = batches.filter(b => b.arrivedNs <= drained)
    val lateMs  = (lead until nTicks).map(t => Clock.ms(late(t)))
    val lateP99 = Stats.pct(lateMs, 99)
    val behind  = lateP99 > TickMs
    val storeMs = storeGetNs.asScala.toSeq.map(n => Clock.ms(n.longValue))
    val (compiles, compileMs) = Codegen.between(codegen0, codegen1)
    val visOk   = visible.filterNot(_.isNaN)
    if (visOk.size != visible.size) mismatches += s"${visible.size - visOk.size} events never became visible"

    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + setupMed),
      "p50_ms" -> Stats.median(visOk),
      "p90_ms" -> Stats.pct(visOk, 90),
      "mean_ms" -> Stats.mean(visOk))
    val layer = ctx.progress.layerMetrics(windowB) ++
      spark1.map { case (k, v) => k -> (v - spark0.getOrElse(k, 0.0)) } ++ Map(
        "spark.codegen_compiles" -> compiles.toDouble,
        "spark.codegen_compile_ms" -> compileMs,
        "spark.driver_gap_ms" -> ctx.sparkLayer.driverGapMs(m0, drained),
        "streaming.compact_ms" -> compactMs,
        "streaming.store_files" -> Stats.mean(storeFiles.asScala.toSeq.map(_.doubleValue)),
        "streaming.store_get_ms" -> Stats.mean(storeMs),
        "streaming.rest_overhead_ms" ->
          (if (storeMs.isEmpty) 0.0 else Stats.mean(getsSeq.map(g => Clock.ms(g.end - g.start))) - Stats.mean(storeMs)),
        "streaming.get_p50_ms" -> Stats.median(getMs),
        "streaming.get_p95_ms" -> Stats.pct(getMs, 95),
        "streaming.rest_404" -> getsSeq.count(_.status == 404).toDouble,
        "streaming.rest_500" -> getsSeq.count(_.status >= 500).toDouble,
        "bench.gen_late_ms" -> lateP99,
        "bench.queued_end" -> queuedEnd.toDouble,
        "bench.gen_behind" -> (if (behind) 1.0 else 0.0)
      ) ++ (if (ctx.trace.on) Layers.replay(ctx) else Map.empty)

    val detail = Seq(
      f"set-ups (s): ${setupS.map(_._1).map(x => f"$x%.3f").mkString(" ")}; session ${ctx.sessionStartS}%.3f s",
      f"events ${(nTicks - lead) * PerTick} measured, load ended ${Clock.s(loadEnd - m0)}%.2f s into the window; balance batches ${balance.size} (${windowB.count(_.query == Balance)} in window)",
      f"visible_p50_ms ${e2e("p50_ms")}%.1f ms, visible_p90_ms ${e2e("p90_ms")}%.1f ms (${visOk.size} events)",
      f"get_p50_ms ${Stats.median(getMs)}%.1f ms, get_p95_ms ${Stats.pct(getMs, 95)}%.1f ms (${getMs.size} GETs from due time)",
      s"ops ${getsSeq.size + windowB.size} ops_failed $failed (GET 5xx ${getsSeq.count(_.status >= 500)}, failed queries ${failedQueries.size})",
      f"generator late p99 $lateP99%.2f ms; events queued at load end $queuedEnd" +
        (if (behind) "; GENERATOR FELL BEHIND: open-loop schedule not kept" else "")
    )
    Outcome(getsSeq.size + windowB.size, failed, mismatches.toSeq, e2e, layer, detail)
  }
}

/** Output checks shared by the payment workloads. */
object Checks {
  /** Routed rows per topic in the file sink equal the generator's count. */
  def routed(spark: org.apache.spark.sql.SparkSession, sinkDir: String, exp: PayGen.Expected,
      mismatches: ArrayBuffer[String]): Unit = {
    val got = spark.read.parquet(sinkDir).groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (got != exp.routedMap) mismatches += s"routed counts $got, want ${exp.routedMap}"
  }
}
