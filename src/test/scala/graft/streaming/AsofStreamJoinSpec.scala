package graft.streaming

import graft.SparkSpec
import graft.streaming.AsofStreamJoin.{AsofRow, JoinState, Quote, SideEvent, Trade}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A multi-column quote payload for the genericity test — bid/ask plus a
  * venue tag (top-level so the product encoder derives cleanly).
  */
final case class PxPayload(bid: Long, ask: Long, venue: String)

/** The stream-stream as-of join (q198's operator) must land the batch
  * argmax semantics exactly — the board row byte-gates it against the
  * independent SQL formulation at 3 SFs; this spec pins the boundaries
  * and the state machinery the corpus never isolates:
  *   - INCLUSIVE at-or-before (a quote at exactly the trade's ts
  *     qualifies; one µs after does not), ties to the highest event_id;
  *   - emission only on watermark proof, exactly once per trade;
  *   - anchor compaction: quotes behind the floor collapse to ONE record
  *     that still wins any later trade's argmax (the per-key state bound);
  *   - quote-less trades emit the matched=0 sentinel row;
  *   - same-batch delivery order is irrelevant (resolution is
  *     timer-driven, never within-batch);
  *   - GENERICITY: the operator is typed in (key, payload) — the Long/Long
  *     board instantiation and a String-keyed multi-column-payload one run
  *     the same kernel.
  */
class AsofStreamJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000L * 1000000L + 777L // non-ms-aligned µs

  private def mkTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    ts
  }

  private def ev(uid: Long, us: Long, side: String, eid: Long, cents: Long = 0L): SideEvent[Long, Long] =
    SideEvent(mkTs(us), us, uid, side, eid, cents)

  /** The board instantiation's row: matched carries Some(cents), the
    * matched=0 sentinel zeroes the q columns and has no payload.
    */
  private def row(
      eid: Long, uid: Long, tus: Long, qus: Long, qeid: Long, cents: Long, m: Long): AsofRow[Long, Long] =
    if (m == 1L) AsofRow(eid, uid, tus, qus, qeid, Some(cents), 1L)
    else AsofRow(eid, uid, tus, 0L, 0L, None, 0L)

  // ---- the pure kernel

  test("resolve: inclusive at-or-before to the µs; ties break to the highest event_id") {
    val st = JoinState(None, List(Quote(T0, 1L, 100L), Quote(T0, 2L, 200L), Quote(T0 + 5L, 3L, 300L)), Nil)
    // trade AT the later quote's instant: that quote qualifies (inclusive)
    assert(AsofStreamJoin.resolve(9L, Trade(T0 + 5L, 50L), st) ==
      row(50L, 9L, T0 + 5L, T0 + 5L, 3L, 300L, 1L))
    // one µs before it: falls back to the T0 tie, higher event_id wins
    assert(AsofStreamJoin.resolve(9L, Trade(T0 + 4L, 51L), st) ==
      row(51L, 9L, T0 + 4L, T0, 2L, 200L, 1L))
    // before every quote: the matched=0 sentinel row
    assert(AsofStreamJoin.resolve(9L, Trade(T0 - 1L, 52L), st) ==
      row(52L, 9L, T0 - 1L, 0L, 0L, 0L, 0L))
  }

  test("prune: quotes at-or-below the floor collapse to the single dominating anchor") {
    val st = JoinState(
      Some(Quote(T0 - 10L, 1L, 10L)),
      List(Quote(T0, 2L, 20L), Quote(T0 + 1L, 3L, 30L), Quote(T0 + 100L, 4L, 40L)),
      Nil)
    val pruned = AsofStreamJoin.prune(st, floor = T0 + 1L)
    assert(pruned.anchor.contains(Quote(T0 + 1L, 3L, 30L)), s"got ${pruned.anchor}")
    assert(pruned.quotes == List(Quote(T0 + 100L, 4L, 40L)))
    // and the compacted state still resolves a later trade identically
    assert(AsofStreamJoin.resolve(9L, Trade(T0 + 50L, 60L), pruned).q_eid == 3L)
  }

  // ---- end-to-end via MemoryStream

  private def runStream(batches: Seq[Seq[SideEvent[Long, Long]]]): Seq[AsofRow[Long, Long]] =
    runStreamWith(batches, ds => AsofStreamJoin.joined(ds))

  private def runStreamWith(
      batches: Seq[Seq[SideEvent[Long, Long]]],
      join: org.apache.spark.sql.Dataset[SideEvent[Long, Long]] => org.apache.spark.sql.Dataset[AsofRow[Long, Long]])
      : Seq[AsofRow[Long, Long]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val q = join(input.toDS())
      .writeStream
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[AsofRow[Long, Long]].collect().toSeq.sortBy(r => (r.event_id, r.t_us))
  }

  test("stream: emission only on watermark proof, exactly once, same-batch order irrelevant") {
    val h = 3600L * 1000000L
    // trade delivered BEFORE its quote in the same batch — resolution is
    // timer-driven, so the quote is folded first regardless
    val out = runStream(Seq(
      Seq(ev(1, T0 + h, "t", 100L), ev(1, T0, "q", 10L, 500L)),
      // watermark at the trade's instant is NOT strictly past it → pending
      Seq(ev(-1L, T0 + h, "__sentinel__", -1L)),
      Seq(ev(-1L, T0 + 2L * h, "__sentinel__", -1L))
    ))
    assert(out == Seq(row(100L, 1L, T0 + h, T0, 10L, 500L, 1L)), s"got $out")
  }

  test("stream: nothing emits while the trade's instant is still reachable by new quotes") {
    val h = 3600L * 1000000L
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val q = AsofStreamJoin.joined(input.toDS())
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(ev(1, T0 + h, "t", 100L), ev(1, T0, "q", 10L, 500L))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "a trade must wait for watermark proof — a same-instant quote could still arrive")
      // the late-but-admitted BETTER quote (at the trade's exact instant)
      input.addData(ev(1, T0 + h, "q", 11L, 900L))
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + 3L * h, "__sentinel__", -1L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[AsofRow[Long, Long]].collect().toSeq
    assert(out == Seq(row(100L, 1L, T0 + h, T0 + h, 11L, 900L, 1L)),
      s"the at-instant quote must win once the watermark proves finality: $out")
  }

  test("stream: the anchor carries an old quote to a much later trade (state stays compacted)") {
    val h = 3600L * 1000000L
    val lateTrade = T0 + 1000L * h
    val out = runStream(Seq(
      Seq(ev(2, T0, "q", 10L, 700L)),
      Seq(ev(-1L, T0 + 500L * h, "__sentinel__", -1L)), // wm passes the quote — it compacts to the anchor
      Seq(ev(2, lateTrade, "t", 200L)),
      Seq(ev(-1L, lateTrade + h, "__sentinel__", -1L))
    ))
    assert(out == Seq(row(200L, 2L, lateTrade, T0, 10L, 700L, 1L)),
      s"the anchor must survive arbitrary watermark advance: $out")
  }

  test("stream: quote-less trades emit the matched=0 sentinel; sentinels form no state") {
    val h = 3600L * 1000000L
    val out = runStream(Seq(
      Seq(ev(3, T0, "t", 300L)),
      Seq(ev(-1L, T0 + h, "__sentinel__", -1L))
    ))
    assert(out == Seq(row(300L, 3L, T0, 0L, 0L, 0L, 0L)), s"got $out")
  }

  test("tolerance: in-window results identical to unbounded; out-of-window trades get matched=0") {
    val h   = 3600L * 1000000L
    val tol = 10L * h
    // kernel: exactly at the tolerance bound qualifies, one µs past it out
    val st = JoinState(None, List(Quote(T0, 1L, 100L)), Nil)
    assert(AsofStreamJoin.resolve(9L, Trade(T0 + tol, 50L), st, tol).matched == 1L)
    assert(AsofStreamJoin.resolve(9L, Trade(T0 + tol + 1L, 51L), st, tol).matched == 0L)
    // prune: a stale anchor expires once the floor's window passes it
    val withAnchor = JoinState(Some(Quote(T0, 1L, 100L)), Nil, Nil)
    assert(AsofStreamJoin.prune(withAnchor, T0 + tol, tol).anchor.isDefined)
    assert(AsofStreamJoin.prune(withAnchor, T0 + tol + 1L, tol).anchor.isEmpty,
      "quote-only keys must hold zero steady state under a finite tolerance")
  }

  test("tolerance stream: a trade past the window emits matched=0 even though a quote existed") {
    val h   = 3600L * 1000000L
    val tol = 5L * h
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val q = AsofStreamJoin.joined(input.toDS(), tol)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(ev(1, T0, "q", 10L, 500L), ev(1, T0 + h, "t", 100L)) // in window
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + 20L * h, "__sentinel__", -1L)) // resolves 100; expires the anchor
      q.processAllAvailable()
      input.addData(ev(1, T0 + 30L * h, "t", 101L)) // way out of the quote's window
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + 40L * h, "__sentinel__", -1L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[AsofRow[Long, Long]].collect().toSeq.sortBy(_.event_id)
    assert(out == Seq(
      row(100L, 1L, T0 + h, T0, 10L, 500L, 1L),
      row(101L, 1L, T0 + 30L * h, 0L, 0L, 0L, 0L)),
      s"got $out")
  }

  test("tolerance stream: a quote-only key's anchor expires via its OWN timer — zero state with no further traffic") {
    val h   = 3600L * 1000000L
    val tol = 5L * h
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val q = AsofStreamJoin.joined(input.toDS(), tol)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    def stateRows: Long = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
    try {
      input.addData(ev(1, T0, "q", 10L, 500L)) // a quote, then SILENCE on key 1
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + h, "__sentinel__", -1L)) // wm past the quote → it compacts to the anchor
      q.processAllAvailable()
      assert(stateRows == 1L, s"the anchor must still be held inside its window: $stateRows rows")
      input.addData(ev(-1L, T0 + tol + 2L * h, "__sentinel__", -1L)) // wm past anchor + tol
      q.processAllAvailable()
      // the expiry must ride the key's own timer: NO event for key 1 ever
      // arrives again, so retention-on-next-visit would hold the anchor
      // forever — the bound the tolerance flavor's scaladoc promises
      assert(stateRows == 0L,
        s"a stale anchor must expire via its own armed timer, not wait for traffic: $stateRows rows")
    } finally q.stop()
  }

  test("forward kernel: inclusive [t, t+tol] window, EARLIEST wins, ties to the LOWEST event_id") {
    val h   = 3600L * 1000000L
    val tol = 10L * h
    val st = JoinState(None, List(Quote(T0, 2L, 200L), Quote(T0, 1L, 100L), Quote(T0 + h, 3L, 300L)), Nil)
    // trade AT the first quotes' instant: at-or-after inclusive, tie → eid 1
    assert(AsofStreamJoin.resolveForward(9L, Trade(T0, 50L), st, tol) ==
      row(50L, 9L, T0, T0, 1L, 100L, 1L))
    // between the ties and the later quote: only the later one is ahead
    assert(AsofStreamJoin.resolveForward(9L, Trade(T0 + 1L, 51L), st, tol).q_eid == 3L)
    // exactly at the window end qualifies; one µs past it does not
    assert(AsofStreamJoin.resolveForward(9L, Trade(T0 + h - tol, 52L), st, tol).matched == 1L)
    assert(AsofStreamJoin.resolveForward(9L, Trade(T0 + h + 1L, 53L), st, tol).matched == 0L)
    // forward pruning keeps no anchor: everything below the floor drops
    val pruned = AsofStreamJoin.pruneForward(st, T0 + 1L)
    assert(pruned.anchor.isEmpty && pruned.quotes == List(Quote(T0 + h, 3L, 300L)))
  }

  test("forward stream: trade waits for its window END; an in-window later quote wins over none") {
    val h   = 3600L * 1000000L
    val tol = 5L * h
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val q = AsofStreamJoin.joinedForward(input.toDS(), tol)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(ev(1, T0, "t", 100L))
      q.processAllAvailable()
      // wm past the trade itself but NOT past its look-ahead window:
      // the qualifying quote may still be coming — nothing may emit
      input.addData(ev(-1L, T0 + 2L * h, "__sentinel__", -1L))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "a forward trade must wait for its window END, not its own instant")
      input.addData(ev(1, T0 + 3L * h, "q", 10L, 800L)) // lands inside the window
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + tol + h, "__sentinel__", -1L)) // window closed
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[AsofRow[Long, Long]].collect().toSeq
    assert(out == Seq(row(100L, 1L, T0, T0 + 3L * h, 10L, 800L, 1L)), s"got $out")
  }

  test("forward stream: quote-only keys retire to zero state; out-of-window trades emit matched=0") {
    val h   = 3600L * 1000000L
    val tol = 5L * h
    val out = runStreamWith(Seq(
      Seq(ev(2, T0, "q", 10L, 700L)),                       // a quote, then silence
      Seq(ev(-1L, T0 + 2L * tol, "__sentinel__", -1L)),     // floor passes it → buffer retires
      Seq(ev(2, T0 + 3L * tol, "t", 200L)),                 // far-later trade: nothing ahead of it
      Seq(ev(-1L, T0 + 5L * tol, "__sentinel__", -1L))
    ), ds => AsofStreamJoin.joinedForward(ds, tol))
    assert(out == Seq(row(200L, 2L, T0 + 3L * tol, 0L, 0L, 0L, 0L)), s"got $out")
  }

  test("nearest kernel: least |distance|, ties backward-first then the batch node's key rules") {
    val h   = 3600L * 1000000L
    val tol = 10L * h
    val st = JoinState(None, List(
      Quote(T0 - 2L * h, 1L, 100L), Quote(T0 + h / 2L, 2L, 200L),
      Quote(T0 - h, 3L, 300L), Quote(T0 - h, 4L, 400L)), Nil)
    // STRICTLY nearest wins regardless of side (forward +30min beats backward −1h)
    assert(AsofStreamJoin.resolveNearest(9L, Trade(T0, 50L), st, tol).q_eid == 2L)
    // equidistant backward/forward: backward wins (q106/q114's rule)
    val eq = JoinState(None, List(Quote(T0 - h, 1L, 100L), Quote(T0 + h, 2L, 200L)), Nil)
    assert(AsofStreamJoin.resolveNearest(9L, Trade(T0, 51L), eq, tol).q_eid == 1L)
    // two backward at the same distance: GREATEST event_id
    val bb = JoinState(None, List(Quote(T0 - h, 3L, 300L), Quote(T0 - h, 4L, 400L)), Nil)
    assert(AsofStreamJoin.resolveNearest(9L, Trade(T0, 52L), bb, tol).q_eid == 4L)
    // two forward at the same distance: LEAST event_id
    val ff = JoinState(None, List(Quote(T0 + h, 5L, 500L), Quote(T0 + h, 6L, 600L)), Nil)
    assert(AsofStreamJoin.resolveNearest(9L, Trade(T0, 53L), ff, tol).q_eid == 5L)
    // the ±tolerance bound is inclusive to the µs
    val edge = JoinState(None, List(Quote(T0 - tol, 7L, 700L)), Nil)
    assert(AsofStreamJoin.resolveNearest(9L, Trade(T0, 54L), edge, tol).matched == 1L)
    assert(AsofStreamJoin.resolveNearest(9L, Trade(T0 + 1L, 55L), edge, tol).matched == 0L)
    // pruning keeps the full back half-window (floor − tol), no anchor
    val pr = AsofStreamJoin.pruneNearest(st, T0, tol)
    assert(pr.anchor.isEmpty && pr.quotes.length == 4)
    assert(AsofStreamJoin.pruneNearest(st, T0 + tol - h, tol).quotes.map(_.event_id).toSet == Set(2L, 3L, 4L))
  }

  test("nearest stream: a LATER closer quote beats an earlier one; emission waits for the forward half-window") {
    val h   = 3600L * 1000000L
    val tol = 5L * h
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val q = AsofStreamJoin.joinedNearest(input.toDS(), tol)
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(ev(1, T0 - 2L * h, "q", 10L, 100L), ev(1, T0, "t", 100L))
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + h, "__sentinel__", -1L)) // past the trade, NOT past t+tol
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "nearest must wait for the forward half-window — a closer later quote may still arrive")
      input.addData(ev(1, T0 + h, "q", 11L, 200L)) // closer, on the forward side
      q.processAllAvailable()
      input.addData(ev(-1L, T0 + tol + h, "__sentinel__", -1L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[AsofRow[Long, Long]].collect().toSeq
    assert(out == Seq(row(100L, 1L, T0, T0 + h, 11L, 200L, 1L)),
      s"the closer forward quote must win: $out")
  }

  test("stream matches the batch argmax on an adversarial mixed fixture") {
    val h = 3600L * 1000000L
    // two users, interleaved quotes/trades, ties, quote-less trades,
    // same-instant quote+trade, multiple trades sharing one quote
    val quotes = Seq(
      (1L, T0, 1L, 100L), (1L, T0 + 2L * h, 2L, 200L), (1L, T0 + 2L * h, 3L, 300L),
      (2L, T0 + h, 4L, 400L))
    val trades = Seq(
      (1L, T0 - h, 50L), (1L, T0 + 2L * h, 51L), (1L, T0 + 5L * h, 52L),
      (2L, T0 + h, 53L), (2L, T0 + 9L * h, 54L))
    val evs = quotes.map { case (u, us, e, c) => ev(u, us, "q", e, c) } ++
      trades.map { case (u, us, e) => ev(u, us, "t", e) }
    val out = runStream(Seq(evs, Seq(ev(-1L, T0 + 100L * h, "__sentinel__", -1L))))
    // batch truth, computed by the oracle rule (argmax by ts then event_id)
    def expect(uid: Long, tus: Long, teid: Long): AsofRow[Long, Long] = {
      val c = quotes.filter(q => q._1 == uid && q._2 <= tus)
      if (c.isEmpty) row(teid, uid, tus, 0L, 0L, 0L, 0L)
      else {
        val b = c.maxBy(q => (q._2, q._3))
        row(teid, uid, tus, b._2, b._3, b._4, 1L)
      }
    }
    val expected = trades.map { case (u, us, e) => expect(u, us, e) }
      .sortBy(r => (r.event_id, r.t_us))
    assert(out == expected, s"\n got $out\n exp $expected")
  }

  test("genericity: a String-keyed, multi-column-payload instantiation runs the same kernel") {
    val h = 3600L * 1000000L
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[String, PxPayload]]
    val tmp   = Files.createTempDirectory("graft-asof-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"asof_spec_${System.nanoTime()}"
    val none = PxPayload(0L, 0L, "") // quotes carry real payloads; trades/sentinels a placeholder
    def gev(key: String, us: Long, side: String, eid: Long, p: PxPayload = none): SideEvent[String, PxPayload] =
      SideEvent(mkTs(us), us, key, side, eid, p)
    val q = AsofStreamJoin.joined(input.toDS())
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      input.addData(
        gev("EURUSD", T0, "q", 1L, PxPayload(10850L, 10852L, "LSE")),
        gev("EURUSD", T0 + h, "q", 2L, PxPayload(10860L, 10862L, "NYX")),
        gev("GBPUSD", T0, "q", 3L, PxPayload(12700L, 12704L, "LSE")),
        gev("EURUSD", T0 + 2L * h, "t", 100L),
        gev("GBPUSD", T0 - h, "t", 101L)) // before every GBPUSD quote → unmatched
      q.processAllAvailable()
      input.addData(gev("__wm__", T0 + 10L * h, "__sentinel__", -1L))
      q.processAllAvailable()
      input.addData(gev("__wm__", T0 + 20L * h, "__sentinel__", -1L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[AsofRow[String, PxPayload]].collect().toSeq.sortBy(_.event_id)
    assert(out == Seq(
      AsofRow(100L, "EURUSD", T0 + 2L * h, T0 + h, 2L, Some(PxPayload(10860L, 10862L, "NYX")), 1L),
      AsofRow(101L, "GBPUSD", T0 - h, 0L, 0L, None, 0L)),
      s"got $out")
  }

  // ---- stop/restart from a checkpoint

  test("restore: the compacted anchor AND a pending trade survive a checkpoint stop/restart") {
    val h = 3600L * 1000000L
    val Seq(run1, run2) = runEpochs(Seq(
      // EPOCH 1: a quote that must compact to the ANCHOR (wm sentinel far
      // past it), plus a trade the run-1 watermark does NOT reach — it
      // must stay PENDING through the stop/restart.
      Seq(
        ev(2L, T0, "q", 10L, 700L),
        ev(4L, T0 + 10L * h, "q", 20L, 800L),
        ev(4L, T0 + 600L * h, "t", 400L), // pending: wm only reaches 500h
        ev(-1L, T0 + 500L * h, "__sentinel__", -1L)),
      // EPOCH 2: a much-later trade for key 2 (only the RESTORED anchor
      // can serve it — the quote that wins arrived 1000 h earlier and was
      // compacted before the restart), a post-trade quote that must NOT
      // match, and the closing sentinel that also resolves key 4's
      // restored pending trade against its restored quote buffer/anchor.
      Seq(
        ev(2L, T0 + 1000L * h, "t", 200L),
        ev(2L, T0 + 1001L * h, "q", 11L, 900L), // after the trade: must not serve it
        ev(-1L, T0 + 1100L * h, "__sentinel__", -1L))))(AsofStreamJoin.joined(_))
    assert(run1.isEmpty, s"run 1 must emit nothing (trade still pending): $run1")
    assert(run2.sortBy(_.event_id) == Seq(
      row(200L, 2L, T0 + 1000L * h, T0, 10L, 700L, 1L),
      row(400L, 4L, T0 + 600L * h, T0 + 10L * h, 20L, 800L, 1L)),
      s"restored state must serve both the anchor match and the pending trade: $run2")
  }

  test("restore: the nearest ±window buffer and a pending trade survive a checkpoint stop/restart") {
    val h   = 3600L * 1000000L
    val tol = 5L * h
    val Seq(run1, run2) = runEpochs(Seq(
      // EPOCH 1: a backward quote 3h before the trade and the trade itself
      // — the trade's FORWARD half-window (t + 5h) is NOT cleared by the
      // run-1 watermark, so it must stay pending across the restart with
      // its candidate quote buffered (no anchor to fall back on).
      Seq(
        ev(7L, T0, "q", 10L, 700L),
        ev(7L, T0 + 3L * h, "t", 300L),
        ev(-1L, T0 + 4L * h, "__sentinel__", -1L)), // wm < t + tol
      // EPOCH 2: a closer FORWARD quote arrives after the restart — it
      // must beat the restored backward candidate (2h < 3h, strictly
      // closer); the sentinel then clears the half-window.
      Seq(
        ev(7L, T0 + 5L * h, "q", 11L, 800L), // |Δ| = 2h — the winner
        ev(-1L, T0 + 20L * h, "__sentinel__", -1L))))(AsofStreamJoin.joinedNearest(_, tol))
    assert(run1.isEmpty, s"run 1 must emit nothing (forward half-window open): $run1")
    assert(run2 == Seq(row(300L, 7L, T0 + 3L * h, T0 + 5L * h, 11L, 800L, 1L)),
      s"the restored pending trade must resolve against the post-restart closer quote: $run2")
  }
}
