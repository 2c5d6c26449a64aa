package graft.streaming

import graft.SparkSpec
import graft.streaming.AsofStreamJoin.{AsofRow, SideEvent}
import graft.streaming.FunnelTracker.{FunnelEvent, FunnelRow}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** RANDOMIZED adversary for the stateful stream machines (the r14 verdict's
  * directive #4): the crafted as-of/funnel fixtures pin known-hard corners,
  * but hand-picked cases can only refute the failure modes their author
  * imagined. This suite generates seeded-random event histories — random
  * event orders within micro-batches, duplicate timestamps on a coarse
  * lattice (tie chains fire constantly), random watermark-advance sentinel
  * placement, random micro-batch boundaries, and a random stop/restart
  * epoch split — and asserts on every case that
  *
  *   uninterrupted run  ≡  stop/restart run  ≡  plain-Scala brute-force oracle
  *
  * on all THREE as-of directions (backward unbounded + tolerance, forward,
  * nearest) and the funnel (unbounded-TTL vs oracle; finite random TTL as
  * an uninterrupted ≡ restarted cross-check). Each generated case lives
  * under its own key, so one stream run carries every case per mode;
  * events are fed in globally non-decreasing event-time chunks so nothing
  * is watermark-late and the batch oracle (which sees every event) stays
  * the ground truth.
  *
  * Why the oracle is trustworthy: for every mode it is a one-line argmax /
  * argmin / min-chain over the full per-key event multiset — no state, no
  * pruning, no timers — i.e. exactly the contract the operators' scaladocs
  * promise, computed the naive way the operators exist to avoid.
  */
class StateMachineAdversarySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000L * 1000000L + 777L // non-ms-aligned µs
  private val Q  = 15L * 60L * 1000000L          // 15-min lattice step
  private val Tol = 4L * Q                       // 1 h tolerance window

  private val Cases = 50 // generated keys per mode (the verdict's floor)

  private def mkTs(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(us / 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    ts
  }

  // ---- generated histories --------------------------------------------

  /** One as-of case: up to 8 quotes and 6 trades for one key, timestamps on
    * a 25-value lattice (duplicates are frequent by construction, including
    * quote-quote, trade-trade, and quote-trade collisions).
    */
  private case class AsofCase(key: Long, quotes: Seq[Long], trades: Seq[Long])

  private val genAsofCase: Gen[(Seq[Long], Seq[Long])] = for {
    nq <- Gen.chooseNum(0, 8)
    nt <- Gen.chooseNum(0, 6)
    qs <- Gen.listOfN(nq, Gen.chooseNum(0L, 24L).map(T0 + _ * Q))
    ts <- Gen.listOfN(nt, Gen.chooseNum(0L, 24L).map(T0 + _ * Q))
  } yield (qs, ts)

  /** One funnel case: a random interleaving of views/clicks/purchases for
    * one user on the same lattice.
    */
  private val genFunnelCase: Gen[Seq[(String, Long)]] = for {
    n  <- Gen.chooseNum(1, 12)
    es <- Gen.listOfN(
      n,
      for {
        kind <- Gen.oneOf("view", "click", "purchase")
        at   <- Gen.chooseNum(0L, 24L)
      } yield (kind, T0 + at * Q))
  } yield es

  /** Deterministic sample of `n` values from a generator. */
  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** Chop a globally ts-sorted event list into contiguous micro-batch
    * chunks (cut only between DISTINCT instants so no row is late under the
    * 0-second watermark), shuffle order WITHIN each chunk, and append a
    * far-future close-everything sentinel chunk. `mkSentinel` builds a
    * watermark-advance row at a given instant; a random subset of chunks
    * additionally carries a sentinel at its own max instant (random
    * sentinel placement — forces mid-stream resolution/compaction).
    */
  private def chunked[E](
      events: Seq[E],
      usOf: E => Long,
      mkSentinel: Long => E,
      rng: scala.util.Random): Seq[Seq[E]] = {
    val sorted  = events.sortBy(usOf)
    val distinct = sorted.map(usOf).distinct
    val cuts = distinct.drop(1).filter(_ => rng.nextDouble() < 0.3).toSet
    val chunks = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[E])
    sorted.foreach { e =>
      if (chunks.last.nonEmpty && cuts(usOf(e)) && usOf(chunks.last.last) < usOf(e))
        chunks += scala.collection.mutable.ArrayBuffer.empty[E]
      chunks.last += e
    }
    val far = T0 + 1000L * Q
    chunks
      .filter(_.nonEmpty)
      .map { c =>
        val withSent =
          if (rng.nextDouble() < 0.4) c.toSeq :+ mkSentinel(usOf(c.last)) else c.toSeq
        rng.shuffle(withSent)
      }
      .toSeq :+ Seq(mkSentinel(far))
  }

  // ---- as-of: oracle + harness ----------------------------------------

  private def better(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    if (a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)) a else b
  private def earlier(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b

  private def sortRows(rs: Seq[AsofRow[Long, Long]]): Seq[AsofRow[Long, Long]] =
    rs.sortBy(r => (r.key, r.t_us, r.event_id))

  /** MemoryStream run over the generated chunks. */
  private def runMem(
      op: Dataset[SideEvent[Long, Long]] => Dataset[AsofRow[Long, Long]],
      batches: Seq[Seq[SideEvent[Long, Long]]],
      tag: String): Seq[AsofRow[Long, Long]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SideEvent[Long, Long]]
    val tmp   = Files.createTempDirectory("graft-adv-asof")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"adv_${tag}_${System.nanoTime()}"
    val q = op(input.toDS())
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    sortRows(spark.table(name).as[AsofRow[Long, Long]].collect().toSeq)
  }

  test(s"as-of adversary: uninterrupted and restarted runs == brute force on $Cases random cases x 4 modes (random batches, ties, sentinels)") {
    val histories = sample(genAsofCase, Cases, seed = 0xA50FL)
    val cases = histories.zipWithIndex.map { case ((qs, ts), i) => AsofCase(i + 1L, qs, ts) }
    // unique, deterministic event ids (the tie chains pick by id, and
    // duplicate instants per (key, side) exist by construction, so the
    // oracle works off the raw event multiset below)
    var nextEid = 1L
    val events = cases.flatMap { c =>
      c.quotes.map(us => (c.key, us, "q")) ++ c.trades.map(us => (c.key, us, "t"))
    }.map { case (key, us, side) =>
      val eid = { val e = nextEid; nextEid += 1; e }
      SideEvent[Long, Long](mkTs(us), us, key, side, eid, eid)
    }
    val quotesByKey = events.filter(_.side == "q").groupBy(_.key)
    val tradesByKey = events.filter(_.side == "t").groupBy(_.key)
    def oracle(mode: String, tolUs: Long): Seq[AsofRow[Long, Long]] = sortRows(
      cases.flatMap { c =>
        val quotes = quotesByKey.getOrElse(c.key, Nil).map(e => (e.us, e.event_id))
        tradesByKey.getOrElse(c.key, Nil).map { t =>
          val cand = mode match {
            case "backward" => quotes.filter(q => q._1 <= t.us && t.us - q._1 <= tolUs)
            case "forward"  => quotes.filter(q => q._1 >= t.us && q._1 - t.us <= tolUs)
            case _          => quotes.filter(q => math.abs(q._1 - t.us) <= tolUs)
          }
          val pick = mode match {
            case "backward" => cand.reduceOption(better)
            case "forward"  => cand.reduceOption(earlier)
            case _ =>
              cand.reduceOption { (a, b) =>
                val (da, db) = (math.abs(a._1 - t.us), math.abs(b._1 - t.us))
                if (da != db) { if (da < db) a else b }
                else {
                  val (ba, bb) = (a._1 <= t.us, b._1 <= t.us)
                  if (ba != bb) { if (ba) a else b }
                  else if (ba) { if (a._2 >= b._2) a else b }
                  else { if (a._2 <= b._2) a else b }
                }
              }
          }
          pick match {
            case Some((qus, qeid)) => AsofRow(t.event_id, c.key, t.us, qus, qeid, Some(qeid), 1L)
            case None              => AsofRow(t.event_id, c.key, t.us, 0L, 0L, None, 0L)
          }
        }
      })
    val rng     = new scala.util.Random(0xBADD1CEL)
    val sentinel = (us: Long) => SideEvent[Long, Long](mkTs(us), us, -1L, "__sentinel__", -1L, 0L)
    val batches = chunked[SideEvent[Long, Long]](events, _.us, sentinel, rng)
    // random restart boundary: a chunk index strictly inside the feed
    val split  = 1 + rng.nextInt(math.max(1, batches.size - 1))
    val epochs = Seq(batches.take(split).flatten, batches.drop(split).flatten)

    val modes: Seq[(String, String, Long, Dataset[SideEvent[Long, Long]] => Dataset[AsofRow[Long, Long]])] = Seq(
      ("backward_unbounded", "backward", Long.MaxValue, AsofStreamJoin.joined(_: Dataset[SideEvent[Long, Long]])),
      ("backward_tol", "backward", Tol, AsofStreamJoin.joined(_: Dataset[SideEvent[Long, Long]], Tol)),
      ("forward_tol", "forward", Tol, AsofStreamJoin.joinedForward(_: Dataset[SideEvent[Long, Long]], Tol)),
      ("nearest_tol", "nearest", Tol, AsofStreamJoin.joinedNearest(_: Dataset[SideEvent[Long, Long]], Tol)))
    modes.foreach { case (tag, mode, tol, op) =>
      val expected = oracle(mode, tol)
      val got = runMem(op, batches, tag)
      assert(got == expected, s"[$tag] stream != oracle\n got: $got\n or: $expected")
      val gotR = sortRows(runEpochs(epochs)(op).flatten) // stop/restart at the split
      assert(gotR == expected, s"[$tag] restart(split=$split) != oracle\n got: $gotR\n or: $expected")
    }
  }

  // ---- funnel: oracle + harness ----------------------------------------

  private val Step    = 2L * Q
  private val Horizon = 4L * Q

  /** Brute-force q191 funnel over the full per-user multiset. */
  private def funnelOracle(users: Seq[(Long, Seq[(String, Long)])]): Seq[FunnelRow] =
    users.flatMap { case (uid, evs) =>
      val views = evs.collect { case ("view", us) => us }
      if (views.isEmpty) None
      else {
        val t1 = views.min
        val t2 = evs.collect { case ("click", us) if us > t1 && us - t1 <= Step => us }
          .minOption
        val t3 = t2.flatMap(t =>
          evs.collect { case ("purchase", us) if us > t && us - t <= Step => us }.minOption)
        val stage     = 1L + t2.size + t3.size
        val completed = if (t3.exists(_ - t1 <= Horizon)) 1L else 0L
        Some(FunnelRow(uid, t1, t2.getOrElse(0L), t3.getOrElse(0L), stage, completed))
      }
    }.sortBy(_.user_id)

  private def runFunnel(
      op: Dataset[FunnelEvent] => Dataset[FunnelRow],
      batches: Seq[Seq[FunnelEvent]],
      tag: String): Seq[FunnelRow] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val tmp   = Files.createTempDirectory("graft-adv-funnel")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val name = s"adv_funnel_${tag}_${System.nanoTime()}"
    val q = op(input.toDS())
      .writeStream.queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").format("memory").start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[FunnelRow].collect().toSeq.sortBy(r => (r.user_id, r.t1_us))
  }

  test(s"funnel adversary: uninterrupted and restarted runs == brute force on $Cases random users; finite random TTL survives the restart") {
    val histories = sample(genFunnelCase, Cases, seed = 0xF00E1L)
    val users  = histories.zipWithIndex.map { case (evs, i) => (i + 1L, evs) }
    val events = users.flatMap { case (uid, evs) =>
      evs.map { case (kind, us) => FunnelEvent(mkTs(us), us, uid, kind) }
    }
    val rng     = new scala.util.Random(0x5EED5L)
    val sentinel = (us: Long) => FunnelEvent(mkTs(us), us, -1L, "__sentinel__")
    val batches = chunked[FunnelEvent](events, _.us, sentinel, rng)
    val expected = funnelOracle(users)

    val ttl   = (1L + rng.nextInt(8).toLong) * Q
    // random restart boundary: a chunk index strictly inside the feed
    val split = 1 + rng.nextInt(math.max(1, batches.size - 1))
    val epochs = Seq(batches.take(split).flatten, batches.drop(split).flatten)
    def restarted(op: Dataset[FunnelEvent] => Dataset[FunnelRow]): Seq[FunnelRow] =
      runEpochs(epochs)(op).flatten.sortBy(r => (r.user_id, r.t1_us))

    val got = runFunnel(FunnelTracker.funnels(_, Step, Horizon), batches, "unbounded")
    assert(got == expected, s"funnel != oracle\n got: $got\n or: $expected")
    val gotR = restarted(FunnelTracker.funnels(_, Step, Horizon))
    assert(gotR == expected, s"funnel restart(split=$split) != oracle\n got: $gotR\n or: $expected")

    // finite random TTL: "first view ever" relaxes to "first view within
    // TTL" — not oracle-expressible above, and expiry depends on where
    // the micro-batch boundaries fall, so the reference is an
    // uninterrupted run over the SAME two batches: the stop/restart must
    // not change a row (the TTL'd tombstones and timeouts restore too)
    val gotT  = runFunnel(FunnelTracker.funnels(_, Step, Horizon, ttl), epochs, "ttl")
    val gotTR = restarted(FunnelTracker.funnels(_, Step, Horizon, ttl))
    assert(gotT == gotTR, s"funnel ttl=$ttl: uninterrupted != restart(split=$split)\n run: $gotT\n restart: $gotTR")
  }
}
