package graft.streaming

import graft.SparkSpec
import graft.streaming.FunnelTracker.{FunnelEvent, FunnelRow, FunnelState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** FunnelTracker must reproduce q191's funnel semantics exactly (the
  * q193/q194-style byte gate hashes the stream against q191's oracle; this
  * spec pins the boundaries and the out-of-order machinery the corpus
  * fixtures never isolate):
  *   - strict `>` between stages, INCLUSIVE step bound (a click at exactly
  *     t1+step qualifies; one µs beyond does not);
  *   - inclusive horizon bound for `completed`;
  *   - a LATER-arriving EARLIER view moves t1 and re-qualifies buffered
  *     clicks (the reason state buffers candidates instead of resolving
  *     greedily);
  *   - emission only on watermark proof (never on within-batch evidence);
  *   - never-viewed users' buffers retire with the watermark.
  */
class FunnelTrackerSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val StepUs    = 24L * 3600L * 1000000L
  private val HorizonUs = 36L * 3600L * 1000000L

  private def ev(uid: Long, us: Long, etype: String): FunnelEvent = {
    val ts = new java.sql.Timestamp(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    FunnelEvent(ts, us, uid, etype)
  }

  // ---- the pure kernel: resolve() boundaries

  private val T0 = 1700000000L * 1000000L + 777L // non-ms-aligned µs

  test("resolve: stage bounds strict-after / inclusive-step to the µs") {
    def row(clicks: List[Long], purchases: List[Long]): FunnelRow =
      FunnelTracker.resolve(1L, FunnelState(T0, clicks, purchases), StepUs, HorizonUs).get
    // click at exactly t1 → not strictly after → stage 1
    assert(row(List(T0), Nil).stage == 1L)
    // click at exactly t1+step → qualifies (inclusive)
    assert(row(List(T0 + StepUs), Nil) == FunnelRow(1L, T0, T0 + StepUs, 0L, 2L, 0L))
    // one µs beyond the step → out
    assert(row(List(T0 + StepUs + 1L), Nil).stage == 1L)
    // purchase window anchors at t2, not t1
    val t2 = T0 + StepUs
    assert(row(List(t2), List(t2 + StepUs)).stage == 3L)
    assert(row(List(t2), List(t2 + StepUs + 1L)).stage == 2L)
    // FIRST qualifying click wins even when a later one also qualifies
    assert(row(List(T0 + 5L, T0 + 3L), Nil).t2_us == T0 + 3L)
  }

  test("resolve: completed iff the chain closes within the horizon (inclusive), stage 3 either way") {
    // t2 at +13h keeps the purchase at +36h within the 24h step of t2
    // while probing the horizon bound exactly
    val t2 = T0 + 13L * 3600L * 1000000L
    def done(t3Off: Long): FunnelRow =
      FunnelTracker.resolve(
        1L, FunnelState(T0, List(t2), List(T0 + t3Off)), StepUs, HorizonUs).get
    assert(done(HorizonUs) == FunnelRow(1L, T0, t2, T0 + HorizonUs, 3L, 1L))
    val missed = done(HorizonUs + 1L)
    assert(missed.stage == 3L && missed.completed == 0L)
  }

  test("prune: keeps everything a still-possible final t1 could qualify, drops the rest") {
    // no view yet, watermark at w: events ≤ w can never strictly follow a
    // future view (which must be ≥ w) → dropped; events > w survive
    val w  = T0 + 1000L
    val st = FunnelTracker.prune(
      FunnelState(FunnelTracker.NoView, List(w - 1L, w, w + 1L), List(w + 2L)), w, StepUs)
    assert(st.clicks == List(w + 1L) && st.purchases == List(w + 2L))
    // with a view: clicks below min(t1, wm) drop, beyond t1+step drop,
    // BELOW-t1-but-above-wm survive (t1 may still decrease past them)
    val st2 = FunnelTracker.prune(
      FunnelState(T0 + 500L, List(T0 + 100L, T0 + 600L, T0 + 500L + StepUs + 1L), Nil),
      T0, StepUs)
    assert(st2.clicks == List(T0 + 100L, T0 + 600L)) // filter keeps list order
  }

  // ---- end-to-end via MemoryStream

  private def runStream(
      batches: Seq[Seq[FunnelEvent]],
      tombstoneTtlUs: Long = Long.MaxValue): Seq[FunnelRow] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val tmp   = Files.createTempDirectory("graft-funnel-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"funnel_spec_${System.nanoTime()}"
    val q = FunnelTracker
      .funnels(input.toDS(), StepUs, HorizonUs, tombstoneTtlUs)
      .writeStream
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[FunnelRow].collect().toSeq
  }

  test("stream: stages fold across batches; emission only on watermark proof; sentinel forms no state") {
    val h = 3600L * 1000000L
    val out = runStream(Seq(
      Seq(ev(1, T0, "view"), ev(1, T0 + h, "signup")), // non-funnel type ignored
      Seq(ev(1, T0 + 2L * h, "click")),
      Seq(ev(1, T0 + 3L * h, "purchase")),
      // watermark still below t1+2·step → nothing may have emitted yet
      Seq(ev(-1L, T0 + 2L * StepUs, "__sentinel__")),
      // strictly past the close deadline → the row emits
      Seq(ev(-1L, T0 + 2L * StepUs + 2L * h, "__sentinel__"))
    ))
    assert(out == Seq(FunnelRow(1L, T0, T0 + 2L * h, T0 + 3L * h, 3L, 1L)), s"got $out")
  }

  test("stream: nothing emits before the close deadline even when the funnel looks complete") {
    val h = 3600L * 1000000L
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val tmp   = Files.createTempDirectory("graft-funnel-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"funnel_spec_${System.nanoTime()}"
    val q = FunnelTracker.funnels(input.toDS(), StepUs, HorizonUs)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(ev(1, T0, "view"), ev(1, T0 + h, "click"), ev(1, T0 + 2L * h, "purchase"))
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + StepUs, "__sentinel__")) // wm below t1+2·step
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "a 'complete-looking' funnel must still wait for the watermark (a second, earlier view could re-anchor it)")
      input.addData(ev(-1L, T0 + 2L * StepUs + h, "__sentinel__"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[FunnelRow].collect().toSeq
    assert(out == Seq(FunnelRow(1L, T0, T0 + h, T0 + 2L * h, 3L, 1L)), s"got $out")
  }

  test("stream: a later-arriving EARLIER view re-anchors t1 and re-qualifies a buffered click") {
    val h = 3600L * 1000000L
    // batch 1: click at T0+26h and a view at T0+25h → under that t1 the
    // click qualifies trivially; batch 2 delivers an EARLIER view at T0
    // (legal: the watermark after batch 1 lags behind T0+25h only if
    // lateness admits it — with 0s watermark the wm after batch 1 is
    // T0+26h, so deliver the early view in the SAME batch to stay admitted;
    // the cross-batch variant would be dropped as late, which is itself the
    // watermark contract, not a tracker property).
    val out = runStream(Seq(
      Seq(ev(1, T0 + 26L * h, "click"), ev(1, T0 + 25L * h, "view"), ev(1, T0, "view")),
      Seq(ev(-1L, T0 + 3L * StepUs, "__sentinel__"))
    ))
    // final t1 = T0; the click at T0+26h is > t1+step(24h) → must NOT
    // qualify, even though it qualified against the provisional t1=T0+25h
    assert(out == Seq(FunnelRow(1L, T0, 0L, 0L, 1L, 0L)),
      s"t1 re-anchor must re-qualify buffered clicks: $out")
  }

  test("stream: a view arriving AFTER the user's row emitted never re-opens the funnel (tombstone)") {
    val h = 3600L * 1000000L
    val out = runStream(Seq(
      Seq(ev(1, T0, "view"), ev(1, T0 + h, "click")),
      Seq(ev(-1L, T0 + 2L * StepUs + h, "__sentinel__")), // closes and emits user 1
      // a second view for user 1, well past the close — batch q191 keeps
      // t1 = the global min view, so this must change NOTHING
      Seq(ev(1, T0 + 2L * StepUs + 2L * h, "view")),
      Seq(ev(-1L, T0 + 5L * StepUs, "__sentinel__"))
    ))
    assert(out == Seq(FunnelRow(1L, T0, T0 + h, 0L, 2L, 0L)),
      s"exactly one row per entrant under multi-batch delivery: $out")
  }

  test("tombstone TTL: in-TTL events fold identically to the unbounded run (straggler still ignored)") {
    val h = 3600L * 1000000L
    // the tombstone test's exact delivery, once unbounded and once with a
    // TTL that covers every delivered event — the rows must be identical:
    // the straggler view lands BEFORE close+TTL, so the tombstone is still
    // alive and q191's one-row-per-entrant contract holds under both
    val batches = Seq(
      Seq(ev(1, T0, "view"), ev(1, T0 + h, "click")),
      Seq(ev(-1L, T0 + 2L * StepUs + h, "__sentinel__")), // closes and emits user 1
      Seq(ev(1, T0 + 2L * StepUs + 2L * h, "view")),      // straggler, inside the TTL
      Seq(ev(-1L, T0 + 4L * StepUs, "__sentinel__"))
    )
    val unbounded = runStream(batches)
    val bounded   = runStream(batches, tombstoneTtlUs = 10L * StepUs)
    assert(unbounded == Seq(FunnelRow(1L, T0, T0 + h, 0L, 2L, 0L)))
    assert(bounded == unbounded, s"in-TTL results must be byte-identical: $bounded vs $unbounded")
  }

  test("tombstone TTL: past the TTL the entrant's state is dropped and a new view re-enters") {
    val h   = 3600L * 1000000L
    val ttl = 2L * h
    // close deadline = T0 + 2·step; TTL expiry = close + 2h. The watermark
    // then passes the expiry (sentinel), the tombstone is REMOVED (the
    // 100 TB state bound: zero bytes per retired entrant), and a later
    // view re-enters user 1 as a fresh entrant — a SECOND row with the
    // new t1, which is exactly the relaxed "first view within TTL"
    // semantics the bound buys.
    val t1b = T0 + 2L * StepUs + ttl + 2L * h // the re-entry view, past the expiry watermark
    val out = runStream(
      Seq(
        Seq(ev(1, T0, "view"), ev(1, T0 + h, "click")),
        Seq(ev(-1L, T0 + 2L * StepUs + h, "__sentinel__")),  // emits row 1, arms the TTL
        Seq(ev(-1L, T0 + 2L * StepUs + ttl + h, "__sentinel__")), // wm past close+TTL → tombstone drops
        Seq(ev(1, t1b, "view")),                              // re-entry as a fresh entrant
        Seq(ev(-1L, t1b + 3L * StepUs, "__sentinel__"))       // closes the second funnel
      ),
      tombstoneTtlUs = ttl)
    assert(out == Seq(
      FunnelRow(1L, T0, T0 + h, 0L, 2L, 0L),
      FunnelRow(1L, t1b, 0L, 0L, 1L, 0L)),
      s"expected re-entry after TTL expiry: $out")
    // and WITHOUT the final re-entry view the expiry leaves no row behind
    val silent = runStream(
      Seq(
        Seq(ev(1, T0, "view"), ev(1, T0 + h, "click")),
        Seq(ev(-1L, T0 + 2L * StepUs + h, "__sentinel__")),
        Seq(ev(-1L, T0 + 2L * StepUs + ttl + h, "__sentinel__"))
      ),
      tombstoneTtlUs = ttl)
    assert(silent == Seq(FunnelRow(1L, T0, T0 + h, 0L, 2L, 0L)), s"expiry must emit nothing: $silent")
  }

  test("satAdd saturates instead of wrapping (TTL = MaxValue reads as never)") {
    assert(FunnelTracker.satAdd(Long.MaxValue - 5L, 10L) == Long.MaxValue)
    assert(FunnelTracker.satAdd(5L, Long.MaxValue) == Long.MaxValue)
    assert(FunnelTracker.satAdd(3L, 4L) == 7L)
  }

  test("stream: never-viewed users emit nothing and their buffers retire with the watermark") {
    val out = runStream(Seq(
      Seq(ev(7L, T0, "click"), ev(7L, T0 + 1L, "purchase")),
      Seq(ev(-1L, T0 + 3L * StepUs, "__sentinel__"))
    ))
    assert(out.isEmpty, s"no view → never entered the funnel: $out")
  }

  test("restore: an OPEN funnel's candidate buffers survive a checkpoint stop/restart") {
    val h = 3600L * 1000000L
    val Seq(run1, run2) = runEpochs(Seq(
      // EPOCH 1: view + click land; the watermark stays BELOW the close
      // deadline, so the funnel stays open across the restart.
      Seq(ev(1, T0, "view"), ev(1, T0 + h, "click"), ev(-1L, T0 + StepUs, "__sentinel__")), // wm < t1 + 2·step
      // EPOCH 2: the purchase arrives after the restart — only the
      // RESTORED t1/click buffers can chain it; then the sentinel closes.
      Seq(
        ev(1, T0 + StepUs + h, "purchase"), // within step of the click, past run-1 wm
        ev(-1L, T0 + 3L * StepUs, "__sentinel__"))))(FunnelTracker.funnels(_, StepUs, HorizonUs))
    assert(run1.isEmpty, s"run 1 must emit nothing (funnel still open): $run1")
    // t3 − t1 = step + 1h = 25h ≤ the 36h horizon → completed
    assert(run2 == Seq(FunnelRow(1L, T0, T0 + h, T0 + StepUs + h, 3L, 1L)),
      s"the restored open funnel must chain the post-restart purchase: $run2")
  }
}
