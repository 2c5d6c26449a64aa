package graft.streaming

import graft.SparkSpec
import graft.streaming.AsofStreamJoin.{AsofRow, SideEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The v2 (`transformWithState` + RocksDB) as-of join must honor the SAME
  * contract as the v1 (`flatMapGroupsWithState`) operator — the q203 board
  * row proves byte parity against q198's oracle at 3 SFs; this spec pins
  * what the board row can't isolate: direct v1/v2 output equality on the
  * adversarial fixture, the ANCHOR (and a pending trade) surviving a
  * RocksDB checkpoint stop/restart, and the v2 timer machinery (single
  * armed timer, resolution only on firings, tolerance expiry to zero
  * state). transformWithState requires the RocksDB provider; each test
  * pins it and restores the session conf.
  */
class AsofStreamV2Spec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000L * 1000000L + 777L // non-ms-aligned µs
  private val H  = 3600L * 1000000L

  private def mkTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    ts
  }

  private def ev(uid: Long, us: Long, side: String, eid: Long, cents: Long = 0L): SideEvent[Long, Long] =
    SideEvent(mkTs(us), us, uid, side, eid, cents)

  private def row(
      eid: Long, uid: Long, tus: Long, qus: Long, qeid: Long, cents: Long, m: Long): AsofRow[Long, Long] =
    if (m == 1L) AsofRow(eid, uid, tus, qus, qeid, Some(cents), 1L)
    else AsofRow(eid, uid, tus, 0L, 0L, None, 0L)

  /** MemoryStream run of a joined-family operator (RocksDB pinned by the
    * caller for v2 variants).
    */
  private def runOp(
      op: org.apache.spark.sql.Dataset[SideEvent[Long, Long]] =>
        org.apache.spark.sql.Dataset[AsofRow[Long, Long]],
      batches: Seq[Seq[SideEvent[Long, Long]]],
      tag: String): Seq[AsofRow[Long, Long]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-asofv2-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"${tag}_${System.nanoTime()}"
    val q = op(input.toDS())
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[AsofRow[Long, Long]].collect().toSeq.sortBy(r => (r.event_id, r.t_us))
  }

  /** MemoryStream run of the v2 join (RocksDB pinned by the caller). */
  private def runV2(
      batches: Seq[Seq[SideEvent[Long, Long]]],
      toleranceUs: Long = Long.MaxValue): Seq[AsofRow[Long, Long]] =
    runOp(AsofStreamV2.joined(_, toleranceUs), batches, "asofv2_spec")

  test("v2 output == v1 output on the adversarial mixed fixture (shared kernel, different machinery)") {
    val quotes = Seq(
      (1L, T0, 1L, 100L), (1L, T0 + 2L * H, 2L, 200L), (1L, T0 + 2L * H, 3L, 300L),
      (2L, T0 + H, 4L, 400L))
    val trades = Seq(
      (1L, T0 - H, 50L), (1L, T0 + 2L * H, 51L), (1L, T0 + 5L * H, 52L),
      (2L, T0 + H, 53L), (2L, T0 + 9L * H, 54L))
    val evs = quotes.map { case (u, us, e, c) => ev(u, us, "q", e, c) } ++
      trades.map { case (u, us, e) => ev(u, us, "t", e) }
    val batches = Seq(evs, Seq(ev(-1L, T0 + 100L * H, "__sentinel__", -1L)),
      Seq(ev(-1L, T0 + 200L * H, "__sentinel__", -1L)))

    val v2 = withRocksDb(runV2(batches))
    // the v1 run, on the default (HDFS-backed) provider
    val v1 = runOp(AsofStreamJoin.joined(_), batches, "asofv1_twin")
    assert(v1.nonEmpty && v1 == v2, s"\n v1 $v1\n v2 $v2")
  }

  test("v2 forward/nearest output == v1 output on the adversarial fixture (ties, out-of-window, straddles)") {
    val tol = 5L * H
    // ties: key 3 has two quotes EQUIDISTANT from trade 60 (backward must
    // win — the nearest tie chain) and two forward quotes at one instant
    // (least event_id wins forward, greatest wins backward); key 1 mixes
    // in-window, out-of-window and post-window quotes around two trades.
    val evs = Seq(
      ev(1L, T0, "q", 1L, 100L), ev(1L, T0 + 7L * H, "q", 2L, 200L),
      ev(1L, T0 + H, "t", 50L), ev(1L, T0 + 20L * H, "t", 51L),
      ev(3L, T0 + H, "q", 10L, 300L), ev(3L, T0 + 3L * H, "q", 11L, 400L),
      ev(3L, T0 + 3L * H, "q", 12L, 500L), // same instant as 11: event_id ties
      ev(3L, T0 + 2L * H, "t", 60L))
    val batches = Seq(evs,
      Seq(ev(-1L, T0 + 40L * H, "__sentinel__", -1L)),
      Seq(ev(-1L, T0 + 80L * H, "__sentinel__", -1L)))
    val fwdV1 = runOp(AsofStreamJoin.joinedForward(_, tol), batches, "fwd_v1")
    val fwdV2 = withRocksDb(runOp(AsofStreamV2.joinedForward(_, tol), batches, "fwd_v2"))
    assert(fwdV1.nonEmpty && fwdV1 == fwdV2, s"\n v1 $fwdV1\n v2 $fwdV2")
    val nearV1 = runOp(AsofStreamJoin.joinedNearest(_, tol), batches, "near_v1")
    val nearV2 = withRocksDb(runOp(AsofStreamV2.joinedNearest(_, tol), batches, "near_v2"))
    assert(nearV1.nonEmpty && nearV1 == nearV2, s"\n v1 $nearV1\n v2 $nearV2")
    // pin the semantics, not just the parity: trade 60's nearest is the
    // EQUIDISTANT pair's backward side (quote 10), and its forward twin
    // is the least-event_id of the same-instant pair (quote 11)
    assert(nearV2.find(_.event_id == 60L).get.q_eid == 10L, s"backward-first tie: $nearV2")
    assert(fwdV2.find(_.event_id == 60L).get.q_eid == 11L, s"least-forward-key tie: $fwdV2")
    // trade 51 at +20h: no quote within [t, t+5h] forward nor ±5h nearest
    assert(fwdV2.find(_.event_id == 51L).get.matched == 0L)
    assert(nearV2.find(_.event_id == 51L).get.matched == 0L)
  }

  test("v2 forward: NO anchor forms — a trade-less key's quote buffer retires to ZERO state") {
    withRocksDb {
      val tol = 5L * H
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[SideEvent[Long, Long]]
      val tmp   = Files.createTempDirectory("graft-asofv2-spec")
      graft.sources.SessionMemo.deleteOnExit(tmp)
      val name = s"asofv2_fwd_zero_${System.nanoTime()}"
      val q = AsofStreamV2.joinedForward(input.toDS(), tol)
        .writeStream.queryName(name).outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
      def stateRows: Long = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      try {
        input.addData(ev(1, T0, "q", 10L, 500L), ev(1, T0 + H, "q", 11L, 600L))
        q.processAllAvailable()
        input.addData(ev(-1L, T0 + H / 2L, "__sentinel__", -1L)) // wm between the quotes
        q.processAllAvailable()
        assert(stateRows > 0L, s"the newer quote is still ahead of the floor: $stateRows rows")
        input.addData(ev(-1L, T0 + 2L * H, "__sentinel__", -1L)) // wm past BOTH quotes
        q.processAllAvailable()
        assert(stateRows == 0L,
          s"forward keeps no anchor — a passed quote buffer must retire to zero: $stateRows rows")
      } finally q.stop()
    }
  }

  test("restore: the nearest ±window buffer and a pending trade survive a RocksDB checkpoint stop/restart") {
    withRocksDb {
      val tol   = 5L * H
      val tmp   = Files.createTempDirectory("graft-asofv2-near-restore")
      graft.sources.SessionMemo.deleteOnExit(tmp)
      val watch = s"$tmp/watch"
      val outP  = s"$tmp/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      def writeEpoch(tag: String, rows: Seq[SideEvent[Long, Long]]): Unit =
        rows.toDS().toDF().coalesce(1).write.parquet(s"$watch/$tag")
      def drain(): Seq[AsofRow[Long, Long]] = {
        val evs = spark.readStream
          .schema(Seq.empty[SideEvent[Long, Long]].toDS().schema)
          .parquet(s"$watch/*")
          .as[SideEvent[Long, Long]]
        val q = AsofStreamV2.joinedNearest(evs, tol)
          .toDF()
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$outP/batch=run${System.nanoTime()}_$id")
            ()
          }
          .start()
        try q.awaitTermination()
        finally q.stop()
        val outDirs = new java.io.File(outP)
        if (outDirs.exists())
          spark.read.parquet(s"$outP/batch=*").as[AsofRow[Long, Long]]
            .collect().toSeq.sortBy(r => (r.event_id, r.t_us))
        else Seq.empty
      }
      // EPOCH 1: a backward quote 3h before the trade and the trade itself
      // — the trade's FORWARD half-window (t + 5h) is NOT cleared by the
      // run-1 watermark, so it must stay pending across the restart with
      // its candidate quote buffered (no anchor to fall back on).
      writeEpoch("e1", Seq(
        ev(7L, T0, "q", 10L, 700L),
        ev(7L, T0 + 3L * H, "t", 300L),
        ev(-1L, T0 + 4L * H, "__sentinel__", -1L))) // wm < t + tol
      val run1 = drain()
      assert(run1.isEmpty, s"run 1 must emit nothing (forward half-window open): $run1")
      // EPOCH 2: a closer FORWARD quote arrives after the restart — it
      // must beat the restored backward candidate (2h < 3h, strictly
      // closer); the sentinel then clears the half-window.
      writeEpoch("e2", Seq(
        ev(7L, T0 + 5L * H, "q", 11L, 800L), // |Δ| = 2h — the winner
        ev(-1L, T0 + 20L * H, "__sentinel__", -1L)))
      val run2 = drain()
      assert(run2 == Seq(row(300L, 7L, T0 + 3L * H, T0 + 5L * H, 11L, 800L, 1L)),
        s"the restored pending trade must resolve against the post-restart closer quote: $run2")
    }
  }

  /** The compacted-anchor stop/restart with run 1 and run 2 under the given
    * RocksDB changelog-checkpointing settings (`None`: Spark's default, off).
    * The board's stream scope turns changelog on, so a checkpoint written
    * in snapshot form must resume under changelog and the reverse.
    */
  private def anchorRestore(clog1: Option[String], clog2: Option[String]): Unit =
    withRocksDb {
      val tmp   = Files.createTempDirectory("graft-asofv2-restore")
      graft.sources.SessionMemo.deleteOnExit(tmp)
      val watch = s"$tmp/watch"
      val outP  = s"$tmp/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))

      def writeEpoch(tag: String, rows: Seq[SideEvent[Long, Long]]): Unit =
        rows.toDS().toDF().coalesce(1).write.parquet(s"$watch/$tag")
      // the file source watches a glob over the epoch subdirs
      def drain(): Seq[AsofRow[Long, Long]] = {
        val evs = spark.readStream
          .schema(Seq.empty[SideEvent[Long, Long]].toDS().schema)
          .parquet(s"$watch/*")
          .as[SideEvent[Long, Long]]
        val q = AsofStreamV2.joined(evs)
          .toDF()
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$outP/batch=run${System.nanoTime()}_$id")
            ()
          }
          .start()
        try q.awaitTermination()
        finally q.stop()
        val outDirs = new java.io.File(outP)
        if (outDirs.exists())
          spark.read.parquet(s"$outP/batch=*").as[AsofRow[Long, Long]]
            .collect().toSeq.sortBy(r => (r.event_id, r.t_us))
        else Seq.empty
      }

      // EPOCH 1: a quote that must compact to the ANCHOR (wm sentinel far
      // past it), plus a trade the run-1 watermark does NOT reach — it
      // must stay PENDING through the stop/restart.
      writeEpoch("e1", Seq(
        ev(2L, T0, "q", 10L, 700L),
        ev(4L, T0 + 10L * H, "q", 20L, 800L),
        ev(4L, T0 + 600L * H, "t", 400L), // pending: wm only reaches 500h
        ev(-1L, T0 + 500L * H, "__sentinel__", -1L)))
      // the checkpoint form each run wrote: changelog files only when on
      def stateFiles(suffix: String): Int = {
        val walk = Files.walk(java.nio.file.Paths.get(s"$tmp/ckpt/state"))
        try walk.filter(_.toString.endsWith(suffix)).count().toInt finally walk.close()
      }
      val run1 = withConfs(ClogKey -> clog1)(drain())
      assert(run1.isEmpty, s"run 1 must emit nothing (trade still pending): $run1")
      val (logs1, zips1) = (stateFiles(".changelog"), stateFiles(".zip"))
      assert((logs1 > 0) == clog1.contains("true"), s"run 1 wrote $logs1 changelog files under $clog1")

      // EPOCH 2: a much-later trade for key 2 (only the RESTORED anchor
      // can serve it — the quote that wins arrived 1000 h earlier and was
      // compacted before the restart), a post-trade quote that must NOT
      // match, and the closing sentinel that also resolves key 4's
      // restored pending trade against its restored quote buffer/anchor.
      writeEpoch("e2", Seq(
        ev(2L, T0 + 1000L * H, "t", 200L),
        ev(2L, T0 + 1001L * H, "q", 11L, 900L), // after the trade: must not serve it
        ev(-1L, T0 + 1100L * H, "__sentinel__", -1L)))
      val run2 = withConfs(ClogKey -> clog2)(drain())
      if (clog2.contains("true")) assert(stateFiles(".changelog") > logs1, "run 2 wrote no changelog files")
      else assert(stateFiles(".zip") > zips1, "run 2 wrote no snapshot files")
      assert(run2 == Seq(
        row(200L, 2L, T0 + 1000L * H, T0, 10L, 700L, 1L),
        row(400L, 4L, T0 + 600L * H, T0 + 10L * H, 20L, 800L, 1L)),
        s"restored state must serve both the anchor match and the pending trade: $run2")
    }

  private val ClogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  test("restore: the compacted anchor AND a pending trade survive a RocksDB checkpoint stop/restart") {
    anchorRestore(None, None)
  }

  test("restore: the compacted anchor AND a pending trade survive a stop/restart from snapshot to changelog checkpoints") {
    anchorRestore(Some("false"), Some("true"))
  }

  test("restore: the compacted anchor AND a pending trade survive a stop/restart from changelog to snapshot checkpoints") {
    anchorRestore(Some("true"), Some("false"))
  }

  test("v2 tolerance: out-of-window trades emit matched=0; a stale anchor expires to ZERO state via its own timer") {
    withRocksDb {
      val tol = 5L * H
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[SideEvent[Long, Long]]
      val tmp   = Files.createTempDirectory("graft-asofv2-spec")
      graft.sources.SessionMemo.deleteOnExit(tmp)
      val name = s"asofv2_spec_${System.nanoTime()}"
      val q = AsofStreamV2.joined(input.toDS(), tol)
        .writeStream.queryName(name).outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
      def stateRows: Long = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      try {
        input.addData(ev(1, T0, "q", 10L, 500L), ev(1, T0 + H, "t", 100L)) // in window
        q.processAllAvailable()
        input.addData(ev(-1L, T0 + 2L * H, "__sentinel__", -1L)) // resolves the trade
        q.processAllAvailable()
        input.addData(ev(-1L, T0 + 3L * H, "__sentinel__", -1L)) // anchor still in window
        q.processAllAvailable()
        assert(stateRows > 0L, s"the anchor must still be held inside its window: $stateRows rows")
        input.addData(ev(-1L, T0 + tol + 2L * H, "__sentinel__", -1L)) // wm past anchor + tol
        q.processAllAvailable()
        assert(stateRows == 0L,
          s"a stale anchor must expire via its own armed timer (no further key-1 traffic): $stateRows rows")
        input.addData(ev(1, T0 + 30L * H, "t", 101L)) // way out of the (expired) quote's window
        q.processAllAvailable()
        input.addData(ev(-1L, T0 + 40L * H, "__sentinel__", -1L))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(name).as[AsofRow[Long, Long]].collect().toSeq.sortBy(_.event_id)
      assert(out == Seq(
        row(100L, 1L, T0 + H, T0, 10L, 500L, 1L),
        row(101L, 1L, T0 + 30L * H, 0L, 0L, 0L, 0L)),
        s"got $out")
    }
  }
}
