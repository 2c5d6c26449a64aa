package graft.streaming

import graft.SparkSpec
import graft.streaming.AsofStreamJoin.{AsofRow, SideEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** HOT-KEY STRESS — the one scale dimension the corpus never probes: all
  * shipped keys are benign, but a 100 TB feed has keys holding millions of
  * in-window events, and `flatMapGroupsWithState` state is PER-KEY — it cannot be salted without changing semantics. This
  * spec drives one crafted hot key (one key ≫ all others) through the
  * custom-state families and pins the HONEST ENVELOPE each one's pruning
  * actually guarantees (measured numbers in SCALE.md §hot-key):
  *
  *   - BACKWARD as-of (q198): the buffer is TRANSIENT — a micro-
  *     batch's hot-key arrivals live in state only until the next
  *     watermark advance, then compact to ONE anchor. Peak per-key state
  *     = one micro-batch's arrivals for that key; steady = 1 row.
  *   - NEAREST/tolerance as-of (q200/q202): quotes inside the ±tolerance
  *     window around the floor are PERSISTENT state — a key streaming K
  *     quotes/sec holds K·tol quotes until the window passes. The
  *     mitigation IS the tolerance: size it to the rate.
  *   - FUNNEL (q194/q199): buffered candidates are bounded by the 2·step
  *     SPAN, not by count — a hot user holds arrival-rate × 2·step
  *     events until the funnel closes, then exactly one row emits and
  *     the state drops to a tombstone (zero past close + TTL).
  *
  * Each test also proves CORRECTNESS is unaffected by the skew (the
  * argmax/funnel rows are exact).
  */
class HotKeyStressSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000L * 1000000L + 777L
  private val H  = 3600L * 1000000L

  private def mkTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    ts
  }

  private def ev(uid: Long, us: Long, side: String, eid: Long, cents: Long = 0L): SideEvent[Long, Long] =
    SideEvent(mkTs(us), us, uid, side, eid, cents)

  /** Bytes of the CURRENT store version (the HDFS provider's
    * `memoryUsedBytes` also counts its retained old-version map cache, so
    * it never shrinks back — the custom metric is the live-state truth).
    */
  private def stateBytes(q: StreamingQuery): Long = q.recentProgress.reverse
    .find(_.stateOperators.nonEmpty)
    .map { p =>
      val m = p.stateOperators.head.customMetrics
      if (m != null && m.containsKey("stateOnCurrentVersionSizeBytes"))
        m.get("stateOnCurrentVersionSizeBytes").toLong
      else p.stateOperators.head.memoryUsedBytes
    }
    .getOrElse(-1L)

  private def stateRows(q: StreamingQuery): Long = q.recentProgress.reverse
    .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

  /** One hot key carrying `n` quotes, 200 cold keys with 10 each, plus
    * one hot trade AFTER every quote (its argmax pins correctness).
    */
  private def hotFixture(n: Int): (Seq[SideEvent[Long, Long]], AsofRow[Long, Long]) = {
    val hot  = (0 until n).map(i => ev(1L, T0 + i.toLong, "q", 10L + i, 100L + i))
    val cold = for (k <- 2L to 201L; i <- 0 until 10)
      yield ev(k, T0 + i.toLong * H, "q", 100000L + k * 100L + i, k)
    val trade    = ev(1L, T0 + n.toLong + H, "t", 999999L)
    val expected = AsofRow(999999L, 1L, T0 + n.toLong + H, T0 + (n - 1).toLong, 10L + n - 1, Some(100L + n - 1L), 1L)
    (hot ++ cold :+ trade, expected)
  }

  test("backward as-of: a hot-key burst is TRANSIENT state — compacts to one anchor at the next watermark advance") {
    val n = 20000
    val (fixture, expected) = hotFixture(n)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-hotkey")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"hot_asof_${System.nanoTime()}"
    val q = AsofStreamJoin.joined(input.toDS())
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable() // burst batch + the follow-up timer batch that compacts it
      // the peak lives only BETWEEN the burst batch and the next watermark
      // advance (processAllAvailable already ran the compacting timer
      // batch) — read it off the burst batch's OWN progress entry
      val burst = q.recentProgress
        .find(_.numInputRows >= fixture.size.toLong)
        .getOrElse(fail("no progress entry for the burst batch"))
      val peakBytes = {
        val m = burst.stateOperators.head.customMetrics
        if (m != null && m.containsKey("stateOnCurrentVersionSizeBytes"))
          m.get("stateOnCurrentVersionSizeBytes").toLong
        else burst.stateOperators.head.memoryUsedBytes
      }
      val burstMs = burst.durationMs.get("triggerExecution").toLong
      input.addData(ev(-1L, T0 + n.toLong + 2L * H, "__sentinel__", -1L))
      q.processAllAvailable() // trade resolves
      input.addData(ev(-1L, T0 + n.toLong + 3L * H, "__sentinel__", -1L))
      q.processAllAvailable()
      val steadyBytes = stateBytes(q)
      val steadyRows  = stateRows(q)
      info(s"hot-key backward as-of: n=$n peak=${peakBytes}B burstBatch=${burstMs}ms " +
        s"steady=${steadyBytes}B rows=$steadyRows")
      // the envelope: peak scales with the burst, steady state does NOT —
      // every hot quote behind the watermark collapsed into ONE anchor at
      // the very next watermark advance
      assert(peakBytes > steadyBytes * 4,
        s"burst state must compact away: peak=$peakBytes steady=$steadyBytes")
      assert(steadyRows == 201L, s"one state row per key (anchor-only), got $steadyRows")
      // and the skew changed nothing semantically
      val got = spark.table(name).as[AsofRow[Long, Long]].collect().toSeq
      assert(got == Seq(expected), s"hot-key argmax wrong: $got")
    } finally q.stop()
  }

  test("nearest as-of: in-window hot-key quotes are PERSISTENT state (rate x tolerance) until the window passes") {
    val n   = 3000
    val tol = 10L * H // every hot quote within ±tol of the floor stays buffered
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-hotkey")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"hot_near_${System.nanoTime()}"
    val q = AsofStreamJoin.joinedNearest(input.toDS(), tol)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData((0 until n).map(i => ev(1L, T0 + i.toLong, "q", 10L + i, 100L)): _*)
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + H, "__sentinel__", -1L)) // wm INSIDE the window
      q.processAllAvailable()
      val inWindowBytes = stateBytes(q)
      input.addData(ev(-1L, T0 + n.toLong + 3L * tol, "__sentinel__", -1L)) // wm past every window
      q.processAllAvailable()
      val afterBytes = stateBytes(q)
      val afterRows  = stateRows(q)
      info(s"hot-key nearest as-of: n=$n tol=${tol / H}h inWindow=${inWindowBytes}B " +
        s"after=${afterBytes}B rows=$afterRows")
      // while the ±tol window is open the whole burst is live state (the
      // honest rate×tol bound); once it passes, the key retires to ZERO
      assert(inWindowBytes > afterBytes * 4,
        s"window passage must retire the buffer: in=$inWindowBytes after=$afterBytes")
      assert(afterRows == 0L, s"a retired nearest key must hold zero rows, got $afterRows")
    } finally q.stop()
  }

  test("funnel: a hot entrant's candidate buffer is span-bounded, emits ONE exact row, and retires to zero past TTL") {
    import graft.streaming.FunnelTracker.{FunnelEvent, FunnelRow}
    val step = 1L * H
    val m    = 2000 // clicks/purchases inside the (t1, t1+step] / (t2, t2+step] windows
    val ttl  = 1L * H
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val tmp   = Files.createTempDirectory("graft-hotkey")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"hot_funnel_${System.nanoTime()}"
    def fev(uid: Long, us: Long, t: String) = FunnelEvent(mkTs(us), us, uid, t)
    val q = FunnelTracker.funnels(input.toDS(), step, 3L * step, tombstoneTtlUs = ttl)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      // one view, then a hot in-window burst of candidate clicks/purchases
      input.addData(
        (fev(1L, T0, "view") +:
          (1 to m).map(i => fev(1L, T0 + i.toLong, "click"))) ++
          (1 to m).map(i => fev(1L, T0 + step + i.toLong, "purchase")): _*)
      q.processAllAvailable()
      val peakBytes = stateBytes(q)
      input.addData(fev(-1L, T0 + 2L * step + ttl + H, "__sentinel__")) // wm past close + TTL
      q.processAllAvailable()
      input.addData(fev(-1L, T0 + 2L * step + ttl + 2L * H, "__sentinel__"))
      q.processAllAvailable()
      val afterBytes = stateBytes(q)
      val afterRows  = stateRows(q)
      info(s"hot-entrant funnel: m=$m peak=${peakBytes}B after=${afterBytes}B rows=$afterRows")
      assert(peakBytes > afterBytes * 4,
        s"funnel close + TTL must retire the hot buffer: peak=$peakBytes after=$afterBytes")
      assert(afterRows == 0L, s"past close+TTL the entrant must hold zero rows, got $afterRows")
      // exactly ONE row, with the exact earliest qualifying chain
      val rows = spark.table(name).as[FunnelRow].collect().toSeq
      assert(rows == Seq(FunnelRow(1L, T0, T0 + 1L, T0 + step + 1L, 3L, 1L)),
        s"hot skew must not change the funnel chain: $rows")
    } finally q.stop()
  }
}
