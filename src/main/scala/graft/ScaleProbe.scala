package graft

import org.apache.spark.sql.functions._

/** SCALE-PROBE CORPUS SYNTHESIS — builds an N× replica of a harness scale
  * factor so the full query board can be growth-measured (SCALE.md), since
  * the driver provides no SF above 0.1.
  *
  * Construction (deterministic — no RNG anywhere; replica index is the
  * only seed): the output is the UNION of `replicas` key-shifted copies of
  * every table. Copy 0 is byte-identical to the source; copy i shifts
  * every replicated-entity key by `i * KeyOffset` (2^40 — far above any
  * source key, far below overflow for every id-arithmetic formula in the
  * queries). Foreign keys shift together (orders.o_custkey moves with
  * customer.c_custkey, lineitem with orders/part/supplier, events.user_id
  * with itself), so every join keeps exactly its per-copy match structure:
  * the corpus is 10 disjoint shards of the original relational world.
  * DIMENSION tables (nation, region) are NOT replicated — a real 10×
  * corpus has the same 25 nations, and dim-key joins must keep resolving.
  *
  * CONTENT perturbation — why copies are not byte-identical in the two
  * similarity-bearing tables: ten verbatim copies of every document would
  * put each doc's 10 twins into the SAME LSH/SimHash/FastSS buckets, and
  * candidate-pair counts (Σ bucket²) would grow ×100 — a data-shape
  * artifact that measures nothing about the operators (a real 10× crawl
  * is ~10× more mostly-distinct content, and near-dup RATE, not near-dup
  * cluster size, is scale-invariant). So:
  *   - documents: copy i ≥ 1 suffixes every whitespace token with `~i` —
  *     token/shingle/trigram sets become copy-disjoint while every
  *     WITHIN-copy relationship (exact dups, near-dups, boilerplate,
  *     quality shape) is preserved exactly;
  *   - customer names (q122's fuzzy-match corpus): copy i appends `~i` —
  *     within-copy edit distances are preserved, cross-copy collisions
  *     don't occur;
  *   - embeddings: copy i ≥ 1 adds a small per-(copy, dimension)
  *     deterministic offset — vectors de-duplicate across copies while
  *     within-copy geometry barely moves.
  * Known INTENTIONAL quadratics this makes visible instead of hiding:
  * q45/q124 block by the FIXED label/cluster set, so 10× rows = 10× per
  * block = ~100× pairs — the documented remedy is k ∝ n (more clusters),
  * not a different operator.
  *
  * Output is written multi-file (one file per cpu per table), so
  * scans split naturally — the `Tables.spread` single-row-group shim stays
  * harmless but is no longer what creates scan parallelism.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [srcDir] [outDir] [replicas]"`
  */
object ScaleProbe {

  val KeyOffset = 1L << 40

  def main(args: Array[String]): Unit = {
    val src      = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out      = if (args.length > 1) args(1) else "/tmp/graft-scale"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val cpus     = GraftSession.cpus
    val spark    = GraftSession(cpus)

    def shift(c: String, i: Int) = col(c) + lit(i * KeyOffset)
    // suffix every whitespace token of `c` with ~i (copy 0: untouched)
    def perturbText(c: String, i: Int) =
      if (i == 0) col(c) else regexp_replace(col(c), "(\\S+)", s"$$1~$i")
    def perturbVec(c: String, i: Int) =
      if (i == 0) col(c)
      else
        transform(col(c), (x, j) =>
          (x + ((lit(i * 31) + j * 7) % 19 - 9).cast("float") * lit(0.01f)).cast("float"))

    /** table -> per-copy column transforms (cols not listed pass through) */
    val plans: Seq[(String, Int => Seq[(String, org.apache.spark.sql.Column)])] = Seq(
      "customer" -> (i => Seq(
        "c_custkey" -> shift("c_custkey", i),
        "c_name"    -> (if (i == 0) col("c_name") else concat(col("c_name"), lit(s"~$i"))))),
      "supplier" -> (i => Seq("s_suppkey" -> shift("s_suppkey", i))),
      "part"     -> (i => Seq("p_partkey" -> shift("p_partkey", i))),
      "orders" -> (i => Seq(
        "o_orderkey" -> shift("o_orderkey", i),
        "o_custkey"  -> shift("o_custkey", i))),
      "lineitem" -> (i => Seq(
        "l_orderkey" -> shift("l_orderkey", i),
        "l_partkey"  -> shift("l_partkey", i),
        "l_suppkey"  -> shift("l_suppkey", i))),
      "events" -> (i => Seq(
        "event_id" -> shift("event_id", i),
        "user_id"  -> shift("user_id", i))),
      "documents" -> (i => Seq(
        "doc_id" -> shift("doc_id", i),
        "text"   -> perturbText("text", i))),
      "embeddings" -> (i => Seq(
        "vec_id"    -> shift("vec_id", i),
        "embedding" -> perturbVec("embedding", i))),
      "nation" -> (_ => Seq.empty), // dims: single copy
      "region" -> (_ => Seq.empty)
    )

    plans.foreach { case (name, colsFor) =>
      val base = spark.read.parquet(s"${src.stripSuffix("/")}/$name.parquet")
      val isDim = colsFor(1).isEmpty
      val copies =
        if (isDim) Seq(base)
        else (0 until replicas).map { i =>
          colsFor(i).foldLeft(base) { case (df, (c, e)) => df.withColumn(c, e) }
        }
      val unioned = copies.reduce(_.unionByName(_))
      // multi-file output so scans split; repartition (not coalesce) to
      // break the per-copy lineage into evenly sized files
      unioned.repartition(cpus)
        .write.mode("overwrite").parquet(s"${out.stripSuffix("/")}/$name.parquet")
      val n = spark.read.parquet(s"${out.stripSuffix("/")}/$name.parquet").count()
      println(s"[scale] $name: ${if (isDim) "dim (1 copy)" else s"$replicas copies"} -> $n rows")
    }
    println(s"[scale] wrote ${plans.size} tables to $out")
    spark.stop()
  }
}
