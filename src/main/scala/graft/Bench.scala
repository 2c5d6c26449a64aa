package graft

/** Per-round benchmark: one JSON line of per-query wall times at the target
  * scale factor. A warm-up pass at the smallest SF first absorbs JVM/codegen
  * /classloading cost so the timed pass measures the queries, not the
  * first query's startup tax.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    // SPARK_GRAFT_BENCH_QUERIES narrows the board to a comma-separated
    // subset (full names or qNN short ids) — the 30x tail probe runs only
    // the data-bound queries, where a full-board pass would be wall-clock
    // prohibitive at that corpus size.
    val names = {
      val all = SparkEntry.queries.keys.toSeq
      sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
        case Some(list) if list.trim.nonEmpty =>
          val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
          all.filter(n => want.contains(n) || want.contains(n.takeWhile(_ != '_')))
        case _ => all
      }
    }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache() // drop warm-up persists; keep JIT/codegen

    // Pre-materialize the session memos for the TIMED dir before any timed
    // rep: the warm-up above runs at sf0.001, so without this the first
    // consumer of each memo family absorbs the entire build into its timed
    // row — invisible under the 2x2 min protocol (later reps read the
    // memo) but a 10-100x artifact under the single-rep deep-scale tail
    // (round 8's q155 published 110.7x at 30x for a ~1x steady-state
    // query). Builds are timed separately by graft.ScaleBuilds.
    // SPARK_GRAFT_BENCH_PREBUILD: "1" (default, all families), "0" (none),
    // or a comma list from {dedup, kmeans, kmeans_adaptive, pca, stream}
    // for probes where an unused memo's build is wall-clock prohibitive.
    val prebuild = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREBUILD", "1")
    val allFamilies = Set("dedup", "kmeans", "kmeans_adaptive", "pca", "stream")
    val families = prebuild match {
      case "0" => Set.empty[String]
      case "1" => allFamilies
      case list =>
        val asked = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val bad   = asked.diff(allFamilies)
        // a silently-dropped typo ("kmeans_adptive") would quietly
        // reintroduce the memo-fold artifact this protocol exists to
        // eliminate — fail loudly instead
        require(bad.isEmpty,
          s"SPARK_GRAFT_BENCH_PREBUILD: unknown families ${bad.mkString(",")} " +
            s"(valid: ${allFamilies.mkString(",")}, or 0/1)")
        asked
    }
    if (families("dedup")) graft.queries.DedupQueries.prebuildMemo(spark, sfDir)
    graft.queries.SimilarityQueries.prebuildMemos(spark, sfDir, families)
    if (families("stream")) graft.queries.StreamQueries.prebuildMemos(spark, sfDir)
    spark.catalog.clearCache()

    // Per query: min over 2 rounds × 2 back-to-back reps. The box shares
    // CPU with co-tenant load (observed 2-10x outliers, including
    // multi-second stalls), and the driver runs Bench once per round.
    // Back-to-back reps keep page cache/JIT warm for the low-noise floor;
    // the second ROUND separates repeats by minutes, so a stall that
    // swallowed a query's adjacent reps has to recur at the same query
    // next round to survive the min.
    // A rep that THROWS contributes no time: folding a fast failure into the
    // min would silently deflate the total, so failed queries are excluded
    // from `queries`/total and reported by name in `failed` instead.
    // SPARK_GRAFT_BENCH_ROUNDS/REPS shrink the protocol for deep-scale
    // probes (30x+), where per-query times are 10-300 s — large enough to
    // dwarf rep noise — and the full 2x2 protocol would cost hours.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "2").toInt
    val reps   = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val timed: Seq[Map[String, Double]] = (1 to rounds).map { _ =>
      names.flatMap { name =>
        val okReps = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { SparkEntry.queries(name)(spark, sfDir).count(); true }
            catch { case scala.util.control.NonFatal(_) => false }
          val s = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          if (ok) Some(s) else None
        }
        okReps.minOption.map(name -> _)
      }.toMap
    }
    val results = names.flatMap(n => timed.flatMap(_.get(n)).minOption.map(n -> _)).toMap
    val failed  = names.filterNot(results.contains).sorted
    if (failed.nonEmpty) System.err.println(s"[bench] failed: ${failed.mkString(",")}")
    val sfShort = sfDir.stripSuffix("/").split('/').last
    val printed = buildLine(results, failed, names, sfShort, LineBudget)
    val qsFull = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val headFull = s""""metric":"total","value":${sec(results.values.sum)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":${failedJson(failed)}"""
    // Default dump path is UNTRACKED (target/): driver re-runs must not
    // dirty the committed canonical bench_full.json — promoting a cohesive
    // run to the repo root is a deliberate copy, never a side effect.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/target/bench_full.json"))
    try {
      Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outPath,
        s"""{$headFull,"queries":$qsFull,"sf":"$sfDir"}\n""".getBytes("UTF-8")
      )
      ()
    } catch { case scala.util.control.NonFatal(e) => System.err.println(s"[bench] detail write failed: $e") }
    // THE UNLOSABLE-LINE ORDER (round 16's driver bench went unparsed):
    // printing before spark.stop() let a StateStore maintenance thread
    // race shutdown and dump a ~1.1 KB "SparkEnv not active" WARN + stack
    // AFTER the metric line, pushing the line head out of the harness's
    // 2000-char tail window. So: stop every streaming query, stop the
    // state-store maintenance machinery, stop Spark — and only THEN print
    // the metric line, as the process's last stdout bytes.
    spark.streams.active.foreach(q =>
      try q.stop() catch { case scala.util.control.NonFatal(_) => () })
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    println(printed)
    System.out.flush()
  }

  /** Printed-line budget 1500 (was 1850): the 2000-char tail window must
    * also absorb sbt's "[success]" footer (~70 chars) plus any stray
    * trailing WARN a daemon thread emits after the line — 1500 leaves ~430
    * chars of post-line headroom even in the worst case (see the shutdown
    * ordering in main for the primary defense). BenchLineSpec replays the
    * tail capture against both.
    */
  private val LineBudget = 1500

  private def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def csec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Cap the printed failure list: round 7's 35-name array pushed the line
    * past the harness tail window and the whole bench went unparsed.
    * n_failed always carries the true count; full names go to stderr.
    */
  private def failedJson(failed: Seq[String]): String =
    failed.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Assemble the ONE printed metric line under `lineBudget` chars.
    *
    * The harness captures only the LAST 2000 chars of stdout (sbt's own
    * trailing "[success]" line eats ~70 of them) and json-parses the metric
    * line, so the PRINTED line must stay short: per-query keys are the qNN
    * id (unique by construction), printed times are centisecond-rounded,
    * sf is the basename, and the budget guard drops the FASTEST per-query
    * entries until the line fits — the expensive queries the grading reads
    * survive, "q_omitted" counts the dropped cheap ones, and the
    * full-precision full-name map is always in bench_full.json.
    * Extracted from main so BenchLineSpec can replay the harness's tail
    * capture against real board-sized lines.
    */
  private[graft] def buildLine(
      results: Map[String, Double],
      failed: Seq[String],
      names: Seq[String],
      sfShort: String,
      lineBudget: Int): String = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val shortIds = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    val ids = // collision guard: fall back to full names if ids ever clash
      if (shortIds.values.toSet.size == names.size) shortIds
      else names.map(n => n -> n).toMap
    def line(kept: Seq[(String, Double)], omitted: Int): String = {
      val qs = kept.sortBy(_._1)
        .map { case (k, v) => "\"" + ids(k) + "\":" + csec(v) }
        .mkString("{", ",", "}")
      val omit = if (omitted > 0) s""","q_omitted":$omitted""" else ""
      // n_queries contextualizes the total: the registry grows round over
      // round, so the sum is only comparable per-query or per-count.
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":${failedJson(failed)}$omit,"queries":$qs,"sf":"$sfShort"}"""
    }
    val byCost = results.toSeq.sortBy { case (_, v) => -v } // keep slowest first
    // bounded: dropRight(1) on an empty Seq is a fixed point, so an
    // unbounded iterate would spin forever when even the zero-entry line
    // exceeds a (pathologically small) budget — take() makes the fallback
    // reachable
    Iterator.iterate(byCost)(_.dropRight(1))
      .take(results.size + 1)
      .map(kept => line(kept, results.size - kept.size))
      .find(_.length <= lineBudget)
      .getOrElse(line(Seq.empty, results.size))
  }
}
