package graft.streaming

import graft.SparkSpec
import graft.streaming.FunnelTracker.{FunnelEvent, FunnelRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The v2 (`transformWithState` + RocksDB) funnel must honor the SAME
  * contract as the v1 (`flatMapGroupsWithState`) tracker — the q207/q208
  * board rows prove byte parity against q191's oracle at 3 SFs; this spec
  * pins what the board rows can't isolate: direct v1/v2 output equality on
  * the adversarial fixtures (t1 re-anchor, tombstone straggler), the v2
  * tombstone-TTL expiry/re-entry path (zero state, then a fresh entrant),
  * and an open funnel surviving a RocksDB checkpoint stop/restart with its
  * candidate buffers intact. transformWithState requires the RocksDB
  * provider; each test pins it and restores the session conf.
  */
class FunnelTrackerV2Spec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val StepUs    = 24L * 3600L * 1000000L
  private val HorizonUs = 36L * 3600L * 1000000L
  private val T0        = 1700000000L * 1000000L + 777L // non-ms-aligned µs
  private val H         = 3600L * 1000000L

  private def ev(uid: Long, us: Long, etype: String): FunnelEvent = {
    val ts = new java.sql.Timestamp(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    FunnelEvent(ts, us, uid, etype)
  }

  /** MemoryStream run of either tracker (RocksDB pinned by the caller for
    * v2). Rows come back sorted for order-free comparison.
    */
  private def runStream(
      batches: Seq[Seq[FunnelEvent]],
      api: String,
      tombstoneTtlUs: Long = Long.MaxValue): Seq[FunnelRow] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val tmp   = Files.createTempDirectory("graft-funnelv2-spec")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"funnelv2_spec_${System.nanoTime()}"
    val ds =
      if (api == "v2") FunnelTrackerV2.funnels(input.toDS(), StepUs, HorizonUs, tombstoneTtlUs)
      else FunnelTracker.funnels(input.toDS(), StepUs, HorizonUs, tombstoneTtlUs)
    val q = ds.writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[FunnelRow].collect().toSeq.sortBy(r => (r.user_id, r.t1_us))
  }

  test("v2 output == v1 output on the adversarial fixtures (t1 re-anchor, tombstone straggler, never-viewed)") {
    // one delivery exercising all three v1-proven disciplines at once:
    // user 1's later-arriving EARLIER view re-anchors t1 and must
    // DE-qualify the buffered click; user 2 completes, emits on proof,
    // then a straggler view hits the tombstone; user 7 never views
    val batches = Seq(
      Seq(
        ev(1, T0 + 26L * H, "click"), ev(1, T0 + 25L * H, "view"), ev(1, T0, "view"),
        ev(2, T0, "view"), ev(2, T0 + H, "click"), ev(2, T0 + 2L * H, "purchase"),
        ev(7, T0, "click"), ev(7, T0 + 1L, "purchase")),
      Seq(ev(-1L, T0 + 2L * StepUs + H, "__sentinel__")), // closes user 1 and 2
      Seq(ev(2, T0 + 2L * StepUs + 2L * H, "view")),      // straggler on user 2's tombstone
      Seq(ev(-1L, T0 + 5L * StepUs, "__sentinel__"))
    )
    val v1 = runStream(batches, "v1")
    val v2 = withRocksDb(runStream(batches, "v2"))
    assert(v1.nonEmpty && v1 == v2, s"\n v1 $v1\n v2 $v2")
    // pin the semantics, not just the parity
    assert(v2 == Seq(
      FunnelRow(1L, T0, 0L, 0L, 1L, 0L),               // re-anchored: click de-qualified
      FunnelRow(2L, T0, T0 + H, T0 + 2L * H, 3L, 1L)), // completed, exactly one row
      s"got $v2")
  }

  test("v2 tombstone TTL: past the TTL the entrant's state drops to ZERO and a new view re-enters") {
    withRocksDb {
      val ttl = 2L * H
      val t1b = T0 + 2L * StepUs + ttl + 2L * H // the re-entry view, past the expiry watermark
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[FunnelEvent]
      val tmp   = Files.createTempDirectory("graft-funnelv2-spec")
      graft.sources.SessionMemo.deleteOnExit(tmp)
      val name = s"funnelv2_ttl_${System.nanoTime()}"
      val q = FunnelTrackerV2.funnels(input.toDS(), StepUs, HorizonUs, tombstoneTtlUs = ttl)
        .writeStream.queryName(name).outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
      def stateRows: Long = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      try {
        input.addData(ev(1, T0, "view"), ev(1, T0 + H, "click"))
        q.processAllAvailable()
        input.addData(ev(-1L, T0 + 2L * StepUs + H, "__sentinel__")) // emits row 1, arms the TTL
        q.processAllAvailable()
        assert(stateRows > 0L, s"the tombstone must be held inside its TTL: $stateRows rows")
        input.addData(ev(-1L, T0 + 2L * StepUs + ttl + H, "__sentinel__")) // wm past close+TTL
        q.processAllAvailable()
        assert(stateRows == 0L,
          s"past close+TTL the tombstone must expire via its own timer: $stateRows rows")
        input.addData(ev(1, t1b, "view")) // re-entry as a fresh entrant
        q.processAllAvailable()
        input.addData(ev(-1L, t1b + 3L * StepUs, "__sentinel__"))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(name).as[FunnelRow].collect().toSeq.sortBy(_.t1_us)
      assert(out == Seq(
        FunnelRow(1L, T0, T0 + H, 0L, 2L, 0L),
        FunnelRow(1L, t1b, 0L, 0L, 1L, 0L)),
        s"expected re-entry after TTL expiry: $out")
    }
  }

  test("restore: an OPEN funnel's candidate buffers survive a RocksDB checkpoint stop/restart") {
    withRocksDb {
      val tmp   = Files.createTempDirectory("graft-funnelv2-restore")
      graft.sources.SessionMemo.deleteOnExit(tmp)
      val watch = s"$tmp/watch"
      val outP  = s"$tmp/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      def writeEpoch(tag: String, rows: Seq[FunnelEvent]): Unit =
        rows.toDS().toDF().coalesce(1).write.parquet(s"$watch/$tag")
      def drain(): Seq[FunnelRow] = {
        val evs = spark.readStream
          .schema(Seq.empty[FunnelEvent].toDS().schema)
          .parquet(s"$watch/*")
          .as[FunnelEvent]
        val q = FunnelTrackerV2.funnels(evs, StepUs, HorizonUs)
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
          spark.read.parquet(s"$outP/batch=*").as[FunnelRow]
            .collect().toSeq.sortBy(r => (r.user_id, r.t1_us))
        else Seq.empty
      }
      // EPOCH 1: view + click land; the watermark stays BELOW the close
      // deadline, so the funnel stays open across the restart.
      writeEpoch("e1", Seq(
        ev(1, T0, "view"),
        ev(1, T0 + H, "click"),
        ev(-1L, T0 + StepUs, "__sentinel__"))) // wm < t1 + 2·step
      val run1 = drain()
      assert(run1.isEmpty, s"run 1 must emit nothing (funnel still open): $run1")
      // EPOCH 2: the purchase arrives after the restart — only the
      // RESTORED t1/click buffers can chain it; then the sentinel closes.
      writeEpoch("e2", Seq(
        ev(1, T0 + StepUs + H, "purchase"), // within step of the click, past run-1 wm
        ev(-1L, T0 + 3L * StepUs, "__sentinel__")))
      val run2 = drain()
      // t3 − t1 = step + 1h = 25h ≤ the 36h horizon → completed
      assert(run2 == Seq(FunnelRow(1L, T0, T0 + H, T0 + StepUs + H, 3L, 1L)),
        s"the restored open funnel must chain the post-restart purchase: $run2")
    }
  }
}
