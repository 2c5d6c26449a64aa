package graft

import org.apache.spark.sql.functions._

/** Times the SESSION-MEMO BUILD pipelines the per-query bench cannot see:
  * the registered dedup/k-means queries read their memoized tables, so
  * their bench times measure the memoized READ — the build (shingle →
  * signature → LSH self-join → exact Jaccard, and the iterated Lloyd
  * refinement) executes once per session inside whichever query runs
  * first. For growth measurement those builds ARE the machinery, so this
  * main times their un-memoized plans directly (min of `reps` runs each,
  * cache cleared between runs) plus the min-label CC over the scored
  * edges. One JSON line, same spirit as graft.Bench.
  *
  * Usage: `sbt "runMain graft.ScaleBuilds [sfDir] [reps]"`
  */
object ScaleBuilds {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps  = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession()

    val builds: Seq[(String, () => Long)] = Seq(
      "dedup_memo_build" -> (() =>
        graft.queries.DedupQueries.memoBuildPlan(spark, sfDir).count()),
      "kmeans_refine_build" -> (() =>
        graft.queries.SimilarityQueries.refineBuildPlan(spark, sfDir).count()),
      "kmeans_adaptive_build" -> (() =>
        // q129's k ∝ n refinement — the build whose cluster count grows
        // with the corpus, keeping the downstream pair scan linear
        graft.queries.SimilarityQueries.adaptiveBuildPlan(spark, sfDir).count()),
      "pca_build" -> (() =>
        // q154/q155's train chain: exact-integer scatter matrix + power
        // rounds (the registered queries read its memoized output)
        graft.queries.SimilarityQueries.pcaBuildPlan(spark, sfDir).count()),
      "stream_inputs_build" -> { () =>
        // the streaming board's one-time session cost: every memoized
        // stream input (drift docs copy + baseline, event windows, payment
        // files, curation slice + seen table, join sides) built against a
        // fresh root — identical work to StreamQueries.prebuildMemos
        val t = java.nio.file.Files.createTempDirectory("graft-streambuild-")
        try {
          graft.queries.StreamQueries.buildInputsAt(spark, sfDir, t.toString)
          0L
        } finally {
          import java.nio.file._
          Files.walk(t).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
        }
      },
      "cc_min_label" -> { () =>
        // the full edge derivation + iterative CC, un-memoized (q47's machinery)
        val scored = graft.queries.DedupQueries.memoBuildPlan(spark, sfDir)
        val edges  = scored.filter(col("jac") >= 0.5)
          .select(col("ia").as("src"), col("ib").as("dst"))
        graft.operators.GraphOps
          .connectedComponents(
            graft.sources.Tables.documents(spark, sfDir).select(col("doc_id").as("id")), edges)
          .count()
      }
    )
    // one untimed warm-up each (JIT/codegen), then timed reps
    builds.foreach { case (_, f) => f() }; spark.catalog.clearCache()
    val results = builds.map { case (name, f) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }
      name -> times.min
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_builds","builds":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
