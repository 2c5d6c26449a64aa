package graft.queries

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cost-based optimization: table/column statistics (ANALYZE) feeding
  * Catalyst's CBO — the mechanism that picks join orders at 100 TB, where
  * a human-ordered join chain written against yesterday's cardinalities is
  * wrong tomorrow. Proves (a) ANALYZE statistics are visible to the
  * optimizer as exact row counts, and (b) with CBO + join reorder enabled
  * the DP reorderer rewrites a deliberately bad syntactic join order
  * (fact ⋈ fact first, tiny dim last) into one that reduces through the
  * small relation earlier.
  */
class CboSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Each test builds (and tears down) its own analyzed tables, so the
    * suite has no inter-test order dependency and a failed run cannot
    * leave stale tables whose stats poison the next run.
    */
  private def withAnalyzedTables[T](body: => T): T = {
    for (t <- Seq("cbo_li", "cbo_ord", "cbo_cust")) spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables.lineitem(spark, dir).write.mode("overwrite").saveAsTable("cbo_li")
    Tables.orders(spark, dir).write.mode("overwrite").saveAsTable("cbo_ord")
    Tables.customer(spark, dir).write.mode("overwrite").saveAsTable("cbo_cust")
    for (t <- Seq("cbo_li", "cbo_ord", "cbo_cust"))
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    try body
    finally for (t <- Seq("cbo_li", "cbo_ord", "cbo_cust")) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ANALYZE statistics surface exact row counts to the optimizer") {
    withAnalyzedTables {
      withConfs("spark.sql.cbo.enabled" -> Some("true")) {
        val expected = Tables.lineitem(spark, dir).count()
        val stats    = spark.table("cbo_li").queryExecution.optimizedPlan.stats
        assert(stats.rowCount.contains(BigInt(expected)),
          s"ANALYZE row count should reach the plan: got ${stats.rowCount}")
      }
    }
  }

  test("CBO join reorder rewrites a bad syntactic order to reduce through the small side first") {
    withAnalyzedTables {
    // syntactically: (lineitem ⋈ orders) first — the two largest tables —
    // with the tiny filtered customer set joined LAST
    def query = spark
      .table("cbo_li")
      .join(spark.table("cbo_ord"), col("l_orderkey") === col("o_orderkey"))
      .join(
        spark.table("cbo_cust").filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"))
      .agg(sum(col("l_quantity")).as("qty"))

    // deepest (first-executed) join's table names, from the optimized tree
    def deepestJoinTables: Set[String] = {
      val joins     = query.queryExecution.optimizedPlan.collect { case j: Join => j }
      val innermost = joins.last // collect is pre-order: last = deepest
      Set("cbo_li", "cbo_ord", "cbo_cust").filter(t => innermost.toString.contains(t))
    }

    val without = withConfs(
      "spark.sql.cbo.enabled" -> Some("false"),
      "spark.sql.cbo.joinReorder.enabled" -> Some("false"))(deepestJoinTables)
    val withCbo = withConfs(
      "spark.sql.cbo.enabled" -> Some("true"),
      "spark.sql.cbo.joinReorder.enabled" -> Some("true"))(deepestJoinTables)

    assert(without == Set("cbo_li", "cbo_ord"),
      s"syntactic order should join the two facts first, got $without")
    assert(withCbo.contains("cbo_cust"),
      s"CBO should pull the tiny filtered dim into the first join, got $withCbo")

    // and reordering never changes results
    val r1 = withConfs("spark.sql.cbo.enabled" -> Some("false"), "spark.sql.cbo.joinReorder.enabled" -> Some("false"))(
      query.orderBy(col("c_custkey")).collect().toSeq)
    val r2 = withConfs("spark.sql.cbo.enabled" -> Some("true"), "spark.sql.cbo.joinReorder.enabled" -> Some("true"))(
      query.orderBy(col("c_custkey")).collect().toSeq)
    assert(r1 == r2)
    }
  }
}
