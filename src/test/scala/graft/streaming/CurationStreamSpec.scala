package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

class CurationStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Checkpoint/sink scratch registered for JVM-exit cleanup — repeated
    * test runs must not leak RocksDB checkpoint trees into /tmp (the
    * CdcScdAdversarySpec pattern).
    */
  private def tmpDir(tag: String): String = {
    val p = Files.createTempDirectory(tag)
    graft.sources.SessionMemo.deleteOnExit(p)
    p.toString
  }

  // ~50 tokens with a healthy stopword ratio → quality ≈ 1.0
  private val goodText =
    Seq.fill(10)("the quick brown fox jumps").mkString(" ")
  // single junk token → quality ≈ 0
  private val junkText = "zzzzzzzzzzzz"

  private def doc(id: Long, sec: Long, text: String) =
    (id, new Timestamp(sec * 1000L), text)

  test("streaming curation: quality gate + cross-batch fingerprint dedup within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val tmp   = tmpDir("graft-curation")
    val query = CurationStream
      .curate(input.toDF().toDF("doc_id", "ts", "text"), java.time.Duration.ofMinutes(10))
      .writeStream
      .queryName("curated_stream")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    // batch 1: original, same-batch duplicate (differs only by id), junk
    input.addData(doc(1, 10, goodText), doc(2, 11, goodText), doc(3, 12, junkText))
    query.processAllAvailable()
    // batch 2: cross-batch duplicate (within watermark) and a fresh doc
    input.addData(doc(4, 20, goodText), doc(5, 21, goodText + " extra"))
    query.processAllAvailable()

    val ids = spark.table("curated_stream").select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L), "original must pass")
    assert(!ids.contains(2L), "same-batch duplicate must drop")
    assert(!ids.contains(3L), "junk must not pass the quality gate (nor occupy dedup state)")
    assert(!ids.contains(4L), "cross-batch duplicate within the watermark must drop")
    assert(ids.contains(5L), "distinct content must pass")
    query.stop()
  }

  test("incremental curation: stream dedups against the static historical corpus AND itself") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tmpDir("graft-incr")
    // yesterday's corpus: the fingerprint table of already-kept content
    import org.apache.spark.sql.functions.{col, lower, md5, trim}
    val historic = goodText
    Seq(historic).toDF("text")
      .select(md5(lower(trim(col("text")))).as("fp"))
      .write.parquet(s"$tmp/seen")
    val seen  = spark.read.parquet(s"$tmp/seen")
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = CurationStream
      .curateIncremental(
        input.toDF().toDF("doc_id", "ts", "text"), seen, java.time.Duration.ofMinutes(10))
      .writeStream
      .queryName("incremental_stream")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()
    // 10: already in the historical corpus -> dropped by the anti join;
    // 11: new content -> kept; 12: same-run duplicate of 11 -> dropped by
    // the within-stream watermark dedup; 13: junk -> quality gate
    input.addData(
      doc(10, 10, historic),
      doc(11, 11, goodText + " fresh"),
      doc(12, 12, goodText + " fresh"),
      doc(13, 13, junkText))
    query.processAllAvailable()
    query.stop()
    val kept = spark.table("incremental_stream").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L), s"got $kept")
  }

  test("streaming NEAR-dup curation: LSH band collisions drop within the watermark, pass outside it") {
    implicit val sqlCtx = spark.sqlContext
    val base   = goodText                                      // 50 tokens, 5 distinct shingles
    val nearA  = goodText + " wobble"                          // NOT byte-identical: shares shingles
    val other  = Seq.fill(10)("a slow green turtle walks").mkString(" ")
    val other2 = Seq.fill(10)("the tiny red crab swims").mkString(" ")

    val input = MemoryStream[(Long, Timestamp, String)]
    val tmp   = tmpDir("graft-neardup")
    val query = CurationStream
      .curateNearDup(
        input.toDF().toDF("doc_id", "ts", "text"),
        lateness = java.time.Duration.ofMinutes(2),
        window = "1 minute"
      )
      .writeStream
      .queryName("neardup_stream")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    input.addData(doc(1, 60, base))
    query.processAllAvailable()
    // cross-batch NEAR duplicate (extra trailing token, same band buckets)
    // inside the horizon, plus genuinely distinct content
    input.addData(doc(2, 70, nearA), doc(3, 80, other))
    query.processAllAvailable()
    // advance the watermark to 480s: band-signature state from t<=360 evicts
    input.addData(doc(6, 600, other2))
    query.processAllAvailable()
    // the same near-dup content again — ORIGINAL's state is beyond the
    // horizon now, so it must pass (the bounded-state contract)
    input.addData(doc(7, 700, nearA))
    query.processAllAvailable()
    // flush: push the watermark far past every open window so verdicts emit
    input.addData(doc(9, 4000, other))
    query.processAllAvailable()

    val ids = spark.table("neardup_stream").select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L), "original must pass")
    assert(!ids.contains(2L), "near-duplicate (not byte-identical) within the watermark must drop")
    assert(ids.contains(3L), "distinct content must pass")
    assert(ids.contains(6L), "distinct content must pass")
    assert(ids.contains(7L), "near-duplicate arriving outside the horizon must pass (state evicted)")
    query.stop()
  }

  test("near-dup curation: quality gate runs before LSH state; short docs pass through") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val tmp   = tmpDir("graft-neardup-gate")
    val query = CurationStream
      .curateNearDup(
        input.toDF().toDF("doc_id", "ts", "text"),
        lateness = java.time.Duration.ofMinutes(2),
        window = "1 minute"
      )
      .writeStream
      .queryName("neardup_gate")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    // junk fails the gate and never occupies LSH state
    input.addData(doc(1, 60, junkText), doc(2, 70, goodText))
    query.processAllAvailable()
    input.addData(doc(9, 4000, goodText + " flush"))
    query.processAllAvailable()
    val ids = spark.table("neardup_gate").select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(1L), "junk must not pass the quality gate (nor occupy LSH state)")
    assert(ids.contains(2L), "good doc must pass")
    query.stop()

    // shingle-less pass-through with the gate lowered
    val input2 = MemoryStream[(Long, Timestamp, String)]
    val tmp2   = tmpDir("graft-neardup-short")
    val query2 = CurationStream
      .curateNearDup(
        input2.toDF().toDF("doc_id", "ts", "text"),
        lateness = java.time.Duration.ofMinutes(2),
        minQuality = 0.0,
        window = "1 minute"
      )
      .writeStream
      .queryName("neardup_short")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp2/ckpt")
      .format("memory")
      .start()
    input2.addData(doc(1, 60, "two tokens"), doc(2, 70, goodText))
    query2.processAllAvailable()
    input2.addData(doc(9, 4000, goodText + " flush"))
    query2.processAllAvailable()
    val ids2 = spark.table("neardup_short").select("doc_id").as[Long].collect().toSet
    assert(ids2.contains(1L), "shingle-less doc must pass through the union branch")
    assert(ids2.contains(2L))
    query2.stop()
  }

  test("normalization: case/whitespace variants collapse to one fingerprint (batch q40 parity)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val tmp   = tmpDir("graft-curation-norm")
    val query = CurationStream
      .curate(input.toDF().toDF("doc_id", "ts", "text"), java.time.Duration.ofMinutes(10))
      .writeStream
      .queryName("curated_norm")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    input.addData(doc(1, 10, goodText), doc(2, 11, "  " + goodText.toUpperCase + "  "))
    query.processAllAvailable()
    val ids = spark.table("curated_norm").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L), s"case/trim variant must dedup against the original, got $ids")
    query.stop()
  }

  test("vocabDrift: closed windows score KL vs the baseline; drifted feeds spike") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val baselineDocs = Seq.fill(20)("the quick brown fox jumps over the lazy dog").toDF("text")
    val baseline     = CurationStream.vocabBaseline(baselineDocs).cache()
    val input        = MemoryStream[(Timestamp, String, String)]
    val tmp          = tmpDir("graft-drift")
    val out          = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Long, Double)]
    val query = CurationStream.vocabDrift(
      input.toDF().toDF("ts", "source", "text"),
      baseline,
      windowLength = "10 minutes",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      out.synchronized {
        out ++= batch.as[(Timestamp, String, Long, Double)].collect()
      }
    }
    def t(min: Long) = new Timestamp(min * 60000L)
    // window A: srcOk matches the baseline vocabulary, srcBad has drifted
    input.addData(
      (t(1), "srcOk", "the quick brown fox jumps over the lazy dog"),
      (t(2), "srcOk", "the quick brown fox jumps"),
      (t(1), "srcBad", "xxqq yyzz wwvv uuss rrtt"),
      (t(2), "srcBad", "xxqq yyzz wwvv")
    )
    query.processAllAvailable()
    assert(out.isEmpty, "no window closed yet — append mode must not emit")
    input.addData((t(12), "srcOk", "the fox")) // pushes the watermark past window A
    query.processAllAvailable()
    val winA = out.synchronized(out.filter(_._1 == t(0)).map(r => r._2 -> (r._3, r._4)).toMap)
    assert(winA.keySet == Set("srcOk", "srcBad"), s"got $winA")
    assert(winA("srcOk")._1 == 14L && winA("srcBad")._1 == 8L, s"token totals: $winA")
    assert(winA("srcBad")._2 > winA("srcOk")._2 + 1.0,
      s"drifted source must score far above the in-distribution one: $winA")
    // batch-twin parity: the same rows through a batch aggregate + driftOf
    val batchCounts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps"
    ).toDF("text")
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy(CurationStream.vocabBucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("cs"))
      .select(lit(t(0)).as("window_start"), lit("srcOk").as("source"), col("b"), col("cs"))
    val twin = CurationStream.driftOf(batchCounts, baseline)
      .as[(Timestamp, String, Long, Double)].collect().head
    assert((twin._3, twin._4) == winA("srcOk"), s"stream vs batch twin: $twin vs ${winA("srcOk")}")
    query.stop()
  }

  test("length drift: in-distribution window scores KS 0, drifted window the exact quantized gap") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // baseline corpus: one doc of length 2, one of length 4 → F_b(2) = 1/2,
    // F_b(4) = 1 → qb = {2 -> 524288, 4 -> 1048576}
    val baseline = CurationStream.lengthBaseline(Seq("ab", "abcd").toDF("text"))
    val got      = baseline.as[(Int, Long)].collect().toMap
    assert(got == Map(2 -> 524288L, 4 -> 1048576L), s"baseline ECDF: $got")

    val input = MemoryStream[(Timestamp, String, String)]
    val tmp   = tmpDir("graft-lendrift")
    val out   = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Long, Long)]
    val query = CurationStream.lengthDrift(
      input.toDF().toDF("ts", "source", "text"),
      baseline,
      windowLength = "60 seconds",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      val rows = batch.select("window_start", "source", "n_docs", "ks_q20")
        .as[(Timestamp, String, Long, Long)].collect()
      out.synchronized { out ++= rows }; ()
    }
    // window A [0, 60): one len-2 + one len-4 doc — the window's empirical
    // distribution EQUALS the baseline → KS must be exactly 0.
    // window B [60, 120): two len-4 docs — F_w(2) = 0 vs F_b(2) = 1/2 →
    // gap = 524288; at v=4 both reach 2^20 → KS = 524288 exactly.
    input.addData((t(10), "s1", "xy"), (t(20), "s1", "wxyz"),
      (t(70), "s1", "wxyz"), (t(80), "s1", "qrst"))
    query.processAllAvailable()
    input.addData((t(1000), "s1", "x")) // sentinel: closes both windows
    query.processAllAvailable()
    query.stop()
    val byWin = out.synchronized(out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
    assert(byWin.keySet == Set(t(0), t(60)), s"closed windows: ${byWin.keySet}")
    assert(byWin(t(0)) == (("s1", 2L, 0L)), s"in-distribution window: ${byWin(t(0))}")
    assert(byWin(t(60)) == (("s1", 2L, 524288L)), s"drifted window: ${byWin(t(60))}")
    // batch-twin parity: the same window-B rows through ksOf directly
    val counts = Seq((t(60), "s1", 4, 2L))
      .toDF("window_start", "source", "v", "cs")
    val twin = CurationStream.ksOf(counts, baseline)
      .as[(Timestamp, String, Long, Long)].collect().head
    assert((twin._3, twin._4) == ((2L, 524288L)), s"batch twin: $twin")
  }

  test("length drift: window values OUTSIDE the baseline support join the union grid (exact sup)") {
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // baseline lengths {2 -> 524288, 4 -> 1048576}; the window holds one
    // doc each of length 1, 3, 9 — NONE of them baseline values. Union
    // grid {1,2,3,4,9}: F_w = 1/3,1/3,2/3,2/3,1 vs F_b = 0,1/2,1/2,1,1 →
    // quantized gaps 349525, 174763, 174762, 349526, 0 — sup = 349526 at
    // v=4. (The old baseline-only grid silently dropped every window
    // count: the window CDF never left 0 and the statistic read a
    // spurious 1048576.)
    val baseline = CurationStream.lengthBaseline(Seq("ab", "abcd").toDF("text"))
    val counts = Seq((t(0), "s1", 1, 1L), (t(0), "s1", 3, 1L), (t(0), "s1", 9, 1L))
      .toDF("window_start", "source", "v", "cs")
    val got = CurationStream.ksOf(counts, baseline)
      .as[(Timestamp, String, Long, Long)].collect().head
    assert((got._3, got._4) == ((3L, 349526L)), s"union-grid KS: $got")
  }

  test("ksQuantilesOf equals ksOf joined with quantilesOf, window values outside the baseline included") {
    import org.apache.spark.sql.functions.col
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // baseline lengths {2, 4, 4}. Window 0 holds baseline lengths only;
    // window 60/s1 holds lengths 1, 3 and 9 (none in the baseline) beside
    // a 4, so its union grid gains three points and its p50 (c = 3, 5, 6,
    // 10 of n = 10 → the first c ≥ 5) is the out-of-baseline 3; s2 is a
    // one-value window entirely off the baseline.
    val baseline = CurationStream.lengthBaseline(Seq("ab", "abcd", "wxyz").toDF("text"))
    val counts = Seq(
      (t(0), "s1", 2L, 1L), (t(0), "s1", 4L, 3L),
      (t(60), "s1", 1L, 3L), (t(60), "s1", 3L, 2L), (t(60), "s1", 4L, 1L), (t(60), "s1", 9L, 4L),
      (t(60), "s2", 9L, 1L))
      .toDF("window_start", "source", "v", "cs")
    val cols = Seq("window_start", "source", "n_docs", "ks_q20", "p50", "p90", "p99").map(col)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(cols: _*)
      .as[(Timestamp, String, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(r => (r._1.getTime, r._2))
    val fused = rows(CurationStream.ksQuantilesOf(counts, baseline))
    val unfused = rows(CurationStream.ksOf(counts, baseline)
      .join(CurationStream.quantilesOf(counts).drop("n_docs"), Seq("window_start", "source")))
    assert(fused.map(r => (r._1, r._2)) == Seq((t(0), "s1"), (t(60), "s1"), (t(60), "s2")), s"pairs: $fused")
    assert(fused(1)._5 == 3L && fused(1)._6 == 9L, s"out-of-baseline quantiles: ${fused(1)}")
    assert(fused == unfused, s"fused != ksOf ⋈ quantilesOf:\n fused   $fused\n unfused $unfused")
  }

  test("lang drift: per-window PSI matches the plain-Scala quantize-first referee; out-of-baseline category joins the grid") {
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // baseline corpus categories: en 2, fr 1, de 1 → t = 4, k = 3
    val blCt = Map("en" -> 2L, "fr" -> 1L, "de" -> 1L)
    val baseline = CurationStream.langBaseline(Seq("en", "en", "fr", "de").toDF("lang"))
    // the independent referee: q212's exact integer contract in plain
    // Scala longs over the union domain (baseline k stays pinned at 3)
    def psiRef(counts: Map[String, Long]): (Long, Double) = {
      val nw = counts.values.sum
      val psiq = (blCt.keySet ++ counts.keySet).toSeq.sorted.map { l =>
        val psq = math.max((counts.getOrElse(l, 0L) + 1L) * 1048576L / (nw + 3L), 1L)
        val pcq = math.max((blCt.getOrElse(l, 0L) + 1L) * 1048576L / (4L + 3L), 1L)
        (psq - pcq) * math.floor(math.log(psq.toDouble / pcq) * 1048576.0).toLong
      }.sum
      (nw, BigDecimal.valueOf(psiq.toDouble / 1099511627776.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val input = MemoryStream[(Timestamp, String, String)]
    val tmp   = tmpDir("graft-psidrift")
    val out   = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Long, Double)]
    val query = CurationStream.langDrift(
      input.toDF().toDF("ts", "source", "lang"),
      baseline,
      windowLength = "60 seconds",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      val rows = batch.select("window_start", "source", "n_docs", "psi")
        .as[(Timestamp, String, Long, Double)].collect()
      out.synchronized { out ++= rows }; ()
    }
    // window A [0, 60): en + fr — all in the baseline domain. window B
    // [60, 120): en + two docs of "zz", a category the baseline NEVER saw —
    // it must enter the evaluation grid with ct = 0 (smoothed corpus mass
    // 1/(t+k)), not silently vanish.
    input.addData((t(10), "s1", "en"), (t(20), "s1", "fr"),
      (t(70), "s1", "en"), (t(80), "s1", "zz"), (t(90), "s1", "zz"))
    query.processAllAvailable()
    input.addData((t(1000), "s1", "en")) // sentinel: closes both windows
    query.processAllAvailable()
    query.stop()
    val byWin = out.synchronized(out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
    assert(byWin.keySet == Set(t(0), t(60)), s"closed windows: ${byWin.keySet}")
    val refA = psiRef(Map("en" -> 1L, "fr" -> 1L))
    val refB = psiRef(Map("en" -> 1L, "zz" -> 2L))
    assert(byWin(t(0)) == (("s1", refA._1, refA._2)), s"window A: ${byWin(t(0))} vs $refA")
    assert(byWin(t(60)) == (("s1", refB._1, refB._2)), s"window B: ${byWin(t(60))} vs $refB")
    // the window holding an unseen category must alarm louder than the
    // in-distribution-ish one
    assert(refB._2 > refA._2, s"unseen-category window must score higher PSI: $refB vs $refA")
  }

  test("length quantiles: per-window p50/p90/p99 are the exact discrete quantiles (q209's integer rule)") {
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val input = MemoryStream[(Timestamp, String, String)]
    val tmp   = tmpDir("graft-lenquant")
    val out   = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Long, Long, Long, Long)]
    val query = CurationStream.lengthQuantiles(
      input.toDF().toDF("ts", "source", "text"),
      windowLength = "60 seconds",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      val rows = batch.select("window_start", "source", "n_docs", "p50", "p90", "p99")
        .as[(Timestamp, String, Long, Long, Long, Long)].collect()
      out.synchronized { out ++= rows }; ()
    }
    // window A: lengths {1,2,3,4,5,6,7,8,9,10} — p50 = 5, p90 = 9, p99 = 10
    // (smallest v whose cumulative count reaches ceil(p*n/100)); window B:
    // lengths {4,4,4,7} — p50 = 4 (c=3 >= 2), p90 = 7 (needs c >= 3.6 -> 4),
    // p99 = 7.
    val winA = (1 to 10).map(i => (t(i.toLong), "s1", "x" * i))
    val winB = Seq((t(70), "s1", "wxyz"), (t(75), "s1", "abcd"), (t(80), "s1", "qrst"),
      (t(85), "s1", "abcdefg"))
    input.addData(winA ++ winB: _*)
    query.processAllAvailable()
    input.addData((t(1000), "s1", "x")) // sentinel: closes both windows
    query.processAllAvailable()
    query.stop()
    val byWin = out.synchronized(out.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap)
    assert(byWin.keySet == Set(t(0), t(60)), s"closed windows: ${byWin.keySet}")
    assert(byWin(t(0)) == (("s1", 10L, 5L, 9L, 10L)), s"window A quantiles: ${byWin(t(0))}")
    assert(byWin(t(60)) == (("s1", 4L, 4L, 7L, 7L)), s"window B quantiles: ${byWin(t(60))}")
  }

  test("multiDrift: ONE stateful operator holds the union histogram; output == the three singles' reductions") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val lenBl = CurationStream.lengthBaseline(Seq("ab", "abcd").toDF("text"))
    val catBl = CurationStream.langBaseline(Seq("en", "en", "fr", "de").toDF("lang"))
    val input = MemoryStream[(Timestamp, String, String, String)] // (ts, source, lang, text)
    val tmp   = tmpDir("graft-multidrift")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Timestamp, String, Long, Long, Long, Long, Long, Double)]
    val query = CurationStream.multiDrift(
      input.toDF().toDF("ts", "source", "lang", "text"),
      lenBl,
      catBl,
      windowLength = "60 seconds",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      val rows = batch
        .select("window_start", "source", "n_docs", "ks_q20", "p50", "p90", "p99", "psi")
        .as[(Timestamp, String, Long, Long, Long, Long, Long, Double)].collect()
      out.synchronized { out ++= rows }; ()
    }
    // batch 1: window A only (the watermark stays below the window end, so
    // batch 0's committed state snapshot is exactly window A's live
    // histograms); batch 2: window B (closes A); batch 3: sentinel (closes B)
    input.addData((t(10), "s1", "en", "xy"), (t(20), "s1", "fr", "wxyz"))
    query.processAllAvailable()
    // THE SINGLE-PASS GATE, part 1: exactly one stateful operator in the
    // whole query — KS, quantiles and PSI share it, nothing is kept twice.
    // (Operator COUNT from progress is structural; the row-count metric is
    // deliberately not asserted — foreachBatch sinks re-execute the batch
    // plan and the numRowsTotal accumulator sums re-executions.)
    val soCounts = query.recentProgress.toSeq.map(_.stateOperators.length).filter(_ > 0)
    assert(soCounts.nonEmpty && soCounts.forall(_ == 1),
      s"expected ONE stateful operator in every batch, got $soCounts")
    input.addData((t(70), "s1", "en", "wxyz"), (t(80), "s1", "zz", "qrst"),
      (t(90), "s1", "zz", "qr"))
    query.processAllAvailable()
    input.addData((t(1000), "s1", "en", "x"))
    query.processAllAvailable()
    query.stop()
    // THE SINGLE-PASS GATE, part 2, from the CHECKPOINT itself (the
    // authoritative state, immune to metric double-counting): after batch
    // 0 the one store holds exactly the union histogram — window A's 2
    // distinct lengths + 2 distinct langs = 4 rows, not the 6 (2+2+2)
    // three singles would hold in aggregate.
    val state0 = spark.read.format("statestore")
      .option("batchId", 0).load(s"$tmp/ckpt")
      .select("key.axis", "key.vl", "key.vs")
      .as[(String, Option[Long], Option[String])].collect().toSet
    assert(state0 == Set(
      ("len", Some(2L), None), ("len", Some(4L), None),
      ("cat", None, Some("en")), ("cat", None, Some("fr"))),
      s"batch-0 state must be the 4-row union histogram, got $state0")
    // and closed windows EVICT: the final committed state holds only the
    // sentinel's never-closing window (1 length + 1 lang)
    val stateEnd = spark.read.format("statestore").load(s"$tmp/ckpt")
      .select("key.axis").as[String].collect().toSeq
    assert(stateEnd.sorted == Seq("cat", "len"),
      s"final state must be the sentinel window's 2 rows only, got $stateEnd")
    // semantic union: the one-pass monitor's wide rows == the three
    // singles' reductions (ksOf / quantilesOf / psiOf — each refereed
    // against hand values in the tests above) joined per (window, source),
    // computed off the same per-window histograms the stream kept
    val lenCounts = Seq(
      (t(0), "s1", 2L, 1L), (t(0), "s1", 4L, 1L),
      (t(60), "s1", 4L, 2L), (t(60), "s1", 2L, 1L))
      .toDF("window_start", "source", "v", "cs")
    val langCounts = Seq(
      (t(0), "s1", "en", 1L), (t(0), "s1", "fr", 1L),
      (t(60), "s1", "en", 1L), (t(60), "s1", "zz", 2L))
      .toDF("window_start", "source", "lang", "cs")
    val expected = CurationStream.ksOf(lenCounts, lenBl)
      .join(CurationStream.quantilesOf(lenCounts).drop("n_docs"), Seq("window_start", "source"))
      .join(CurationStream.psiOf(langCounts, catBl).drop("n_docs"), Seq("window_start", "source"))
      .select(col("window_start"), col("source"), col("n_docs"),
        col("ks_q20"), col("p50"), col("p90"), col("p99"), col("psi"))
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1.getTime, r._2))
    val got = out.synchronized(out.toSeq).sortBy(r => (r._1.getTime, r._2))
    assert(got == expected, s"one-pass monitor != singles' union:\n got $got\n exp $expected")
    assert(got.map(_._1).toSet == Set(t(0), t(60)), s"closed windows: ${got.map(_._1)}")
  }

  test("fullDrift: the vocab axis joins the single pass — still ONE stateful operator, KL == driftOf") {
    import org.apache.spark.sql.functions.{col, sum}
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val vocBl = CurationStream.vocabBaseline(Seq("ab", "abcd").toDF("text"))
    val lenBl = CurationStream.lengthBaseline(Seq("ab", "abcd").toDF("text"))
    val catBl = CurationStream.langBaseline(Seq("en", "en", "fr", "de").toDF("lang"))
    val input = MemoryStream[(Timestamp, String, String, String)] // (ts, source, lang, text)
    val tmp   = tmpDir("graft-fulldrift")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Timestamp, String, Long, Long, Double, Long, Long, Long, Long, Double)]
    val query = CurationStream.fullDrift(
      input.toDF().toDF("ts", "source", "lang", "text"),
      vocBl,
      lenBl,
      catBl,
      windowLength = "60 seconds",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      val rows = batch
        .select("window_start", "source", "n_docs", "n_tokens", "kl",
          "ks_q20", "p50", "p90", "p99", "psi")
        .as[(Timestamp, String, Long, Long, Double, Long, Long, Long, Long, Double)].collect()
      out.synchronized { out ++= rows }; ()
    }
    // multi-token texts so the voc axis really fans out per token
    input.addData((t(10), "s1", "en", "ab cd"), (t(20), "s1", "fr", "abcd"))
    query.processAllAvailable()
    val soCounts = query.recentProgress.toSeq.map(_.stateOperators.length).filter(_ > 0)
    assert(soCounts.nonEmpty && soCounts.forall(_ == 1),
      s"expected ONE stateful operator in every batch, got $soCounts")
    input.addData((t(70), "s1", "en", "wx yz"), (t(80), "s1", "zz", "qrst"))
    query.processAllAvailable()
    input.addData((t(1000), "s1", "en", "x"))
    query.processAllAvailable()
    query.stop()
    // checkpoint state at batch 0 = window A's union histogram across ALL
    // THREE axes: lengths {5, 4}, langs {en, fr}, voc buckets of the
    // tokens {ab, cd, abcd} (computed through the production fold so a
    // bucket collision cannot break the assertion)
    val vocA = Seq("ab", "cd", "abcd").toDF("tok")
      .select(CurationStream.vocabBucket(col("tok")).as("b"))
      .as[Long].collect().toSet
    val state0 = spark.read.format("statestore")
      .option("batchId", 0).load(s"$tmp/ckpt")
      .select("key.axis", "key.vl", "key.vs")
      .as[(String, Option[Long], Option[String])].collect().toSet
    val expState = Set(
      ("len", Some(5L), None), ("len", Some(4L), None),
      ("cat", None, Some("en")), ("cat", None, Some("fr"))) ++
      vocA.map(b => ("voc", Some(b), None))
    assert(state0 == expState, s"batch-0 state:\n got $state0\n exp $expState")
    // the wide row == the four singles' reductions off the same histograms
    val lenCounts = Seq(
      (t(0), "s1", 5L, 1L), (t(0), "s1", 4L, 1L),
      (t(60), "s1", 5L, 1L), (t(60), "s1", 4L, 1L))
      .toDF("window_start", "source", "v", "cs")
    val langCounts = Seq(
      (t(0), "s1", "en", 1L), (t(0), "s1", "fr", 1L),
      (t(60), "s1", "en", 1L), (t(60), "s1", "zz", 1L))
      .toDF("window_start", "source", "lang", "cs")
    val vocCounts = Seq(
      (t(0), "s1", "ab"), (t(0), "s1", "cd"), (t(0), "s1", "abcd"),
      (t(60), "s1", "wx"), (t(60), "s1", "yz"), (t(60), "s1", "qrst"))
      .toDF("window_start", "source", "tok")
      .select(col("window_start"), col("source"), CurationStream.vocabBucket(col("tok")).as("b"))
      .groupBy("window_start", "source", "b").agg(sum(org.apache.spark.sql.functions.lit(1L)).as("cs"))
    val expected = CurationStream.ksOf(lenCounts, lenBl)
      .join(CurationStream.quantilesOf(lenCounts).drop("n_docs"), Seq("window_start", "source"))
      .join(CurationStream.psiOf(langCounts, catBl).drop("n_docs"), Seq("window_start", "source"))
      .join(CurationStream.driftOf(vocCounts, vocBl), Seq("window_start", "source"))
      .select(col("window_start"), col("source"), col("n_docs"), col("n_tokens"), col("kl"),
        col("ks_q20"), col("p50"), col("p90"), col("p99"), col("psi"))
      .as[(Timestamp, String, Long, Long, Double, Long, Long, Long, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1.getTime, r._2))
    val got = out.synchronized(out.toSeq).sortBy(r => (r._1.getTime, r._2))
    assert(got == expected, s"four-axis monitor != singles' union:\n got $got\n exp $expected")
    assert(got.map(_._1).toSet == Set(t(0), t(60)), s"closed windows: ${got.map(_._1)}")
  }

  test("allDrift: all FIVE axes (incl. MI pairs with src = NULL) in ONE stateful operator") {
    import org.apache.spark.sql.functions.{col, sum}
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val vocBl = CurationStream.vocabBaseline(Seq("ab", "abcd").toDF("text"))
    val lenBl = CurationStream.lengthBaseline(Seq("ab", "abcd").toDF("text"))
    val catBl = CurationStream.langBaseline(Seq("en", "en", "fr", "de").toDF("lang"))
    val input = MemoryStream[(Timestamp, String, String, String)] // (ts, source, lang, text)
    val tmp   = tmpDir("graft-alldrift")
    val outW = scala.collection.mutable.ArrayBuffer
      .empty[(Timestamp, String, Long, Long, Double, Long, Long, Long, Long, Double)]
    val outP = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Long, Double)]
    val query = CurationStream.allDrift(
      input.toDF().toDF("ts", "source", "lang", "text"),
      vocBl,
      lenBl,
      catBl,
      windowLength = "60 seconds",
      watermark = "0 seconds",
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      val w = batch.filter(col("kind") === "source")
        .select("window_start", "series", "n_docs", "n_tokens", "kl",
          "ks_q20", "p50", "p90", "p99", "psi")
        .as[(Timestamp, String, Long, Long, Double, Long, Long, Long, Long, Double)].collect()
      val p = batch.filter(col("kind") === "pair")
        .select("window_start", "series", "n_cells", "mi")
        .as[(Timestamp, String, Long, Double)].collect()
      outW.synchronized { outW ++= w }; outP.synchronized { outP ++= p }; ()
    }
    // TWO sources in window A — the MI cells must merge them (src = NULL
    // key) while the per-source axes keep them apart
    input.addData((t(10), "s1", "en", "ab cd"), (t(20), "s2", "fr", "abcd"))
    query.processAllAvailable()
    val soCounts = query.recentProgress.toSeq.map(_.stateOperators.length).filter(_ > 0)
    assert(soCounts.nonEmpty && soCounts.forall(_ == 1),
      s"expected ONE stateful operator in every batch, got $soCounts")
    input.addData((t(70), "s1", "en", "wx yz"), (t(80), "s1", "zz", "qrst"))
    query.processAllAvailable()
    input.addData((t(1000), "s1", "en", "x"))
    query.processAllAvailable()
    query.stop()
    // checkpoint state at batch 0 = window A's union histogram across ALL
    // FIVE axis families: per-source lengths/langs/voc buckets PLUS the
    // three src-NULL MI pair cells ("ab cd" → len 5, lenmag "1"; "abcd" →
    // len 4, lenmag "1")
    def buckets(toks: Seq[String]): Set[Long] = toks.toDF("tok")
      .select(CurationStream.vocabBucket(col("tok")).as("b")).as[Long].collect().toSet
    val state0 = spark.read.format("statestore")
      .option("batchId", 0).load(s"$tmp/ckpt")
      .select("key.src", "key.axis", "key.vl", "key.vs", "key.vs2")
      .as[(Option[String], String, Option[Long], Option[String], Option[String])]
      .collect().toSet
    val expState: Set[(Option[String], String, Option[Long], Option[String], Option[String])] =
      Set[(Option[String], String, Option[Long], Option[String], Option[String])](
        (Some("s1"), "len", Some(5L), None, None), (Some("s2"), "len", Some(4L), None, None),
        (Some("s1"), "cat", None, Some("en"), None), (Some("s2"), "cat", None, Some("fr"), None),
        (None, "mi:lang_lenmag", None, Some("en"), Some("1")),
        (None, "mi:lang_lenmag", None, Some("fr"), Some("1")),
        (None, "mi:lang_source", None, Some("en"), Some("s1")),
        (None, "mi:lang_source", None, Some("fr"), Some("s2")),
        (None, "mi:source_lenmag", None, Some("s1"), Some("1")),
        (None, "mi:source_lenmag", None, Some("s2"), Some("1"))) ++
        buckets(Seq("ab", "cd")).map(b => (Some("s1"), "voc", Some(b), None, None)) ++
        buckets(Seq("abcd")).map(b => (Some("s2"), "voc", Some(b), None, None))
    assert(state0 == expState, s"batch-0 state:\n got $state0\n exp $expState")
    // wide rows == the four singles' reductions per (window, source)
    val lenCounts = Seq(
      (t(0), "s1", 5L, 1L), (t(0), "s2", 4L, 1L),
      (t(60), "s1", 5L, 1L), (t(60), "s1", 4L, 1L))
      .toDF("window_start", "source", "v", "cs")
    val langCounts = Seq(
      (t(0), "s1", "en", 1L), (t(0), "s2", "fr", 1L),
      (t(60), "s1", "en", 1L), (t(60), "s1", "zz", 1L))
      .toDF("window_start", "source", "lang", "cs")
    val vocCounts = Seq(
      (t(0), "s1", "ab"), (t(0), "s1", "cd"), (t(0), "s2", "abcd"),
      (t(60), "s1", "wx"), (t(60), "s1", "yz"), (t(60), "s1", "qrst"))
      .toDF("window_start", "source", "tok")
      .select(col("window_start"), col("source"), CurationStream.vocabBucket(col("tok")).as("b"))
      .groupBy("window_start", "source", "b").agg(sum(org.apache.spark.sql.functions.lit(1L)).as("cs"))
    val expWide = CurationStream.ksOf(lenCounts, lenBl)
      .join(CurationStream.quantilesOf(lenCounts).drop("n_docs"), Seq("window_start", "source"))
      .join(CurationStream.psiOf(langCounts, catBl).drop("n_docs"), Seq("window_start", "source"))
      .join(CurationStream.driftOf(vocCounts, vocBl), Seq("window_start", "source"))
      .select(col("window_start"), col("source"), col("n_docs"), col("n_tokens"), col("kl"),
        col("ks_q20"), col("p50"), col("p90"), col("p99"), col("psi"))
      .as[(Timestamp, String, Long, Long, Double, Long, Long, Long, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1.getTime, r._2))
    val gotWide = outW.synchronized(outW.toSeq).sortBy(r => (r._1.getTime, r._2))
    assert(gotWide == expWide, s"five-axis wide rows != singles' union:\n got $gotWide\n exp $expWide")
    // pair rows == miOf over the window-global (source-merged) cells
    val miCells = Seq(
      (t(0), "lang_lenmag", "en", "1", 1L), (t(0), "lang_lenmag", "fr", "1", 1L),
      (t(0), "lang_source", "en", "s1", 1L), (t(0), "lang_source", "fr", "s2", 1L),
      (t(0), "source_lenmag", "s1", "1", 1L), (t(0), "source_lenmag", "s2", "1", 1L),
      (t(60), "lang_lenmag", "en", "1", 1L), (t(60), "lang_lenmag", "zz", "1", 1L),
      (t(60), "lang_source", "en", "s1", 1L), (t(60), "lang_source", "zz", "s1", 1L),
      (t(60), "source_lenmag", "s1", "1", 2L))
      .toDF("window_start", "pair", "x", "y", "c")
    val expPairs = CurationStream.miOf(miCells)
      .select(col("window_start"), col("pair"), col("n_cells"), col("mi"))
      .as[(Timestamp, String, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1.getTime, r._2))
    val gotPairs = outP.synchronized(outP.toSeq).sortBy(r => (r._1.getTime, r._2))
    assert(gotPairs == expPairs, s"five-axis pair rows != miOf:\n got $gotPairs\n exp $expPairs")
    assert(gotWide.map(_._1).toSet == Set(t(0), t(60)))
  }
}
