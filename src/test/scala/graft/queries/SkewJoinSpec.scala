package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RUNTIME proof that the declared skew story holds: AQE's skew-join
  * handling must actually split a hot key's partition at execution time
  * (OptimizeSkewedJoin marks the SortMergeJoin `skew=true`), not just be
  * "on by default" in the docs. Thresholds are lowered so local-scale data
  * exhibits the production trigger; every conf is restored.
  */
class SkewJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold"                        -> Some("-1"), // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor"           -> Some("1.0"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> Some("16KB"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"             -> Some("16KB"),
      // keep AQE from first coalescing tiny partitions into one
      "spark.sql.adaptive.coalescePartitions.enabled"               -> Some("false")
    ) {
      // 200k rows on ONE key vs a trickle on others: the hot partition is
      // orders of magnitude over the (lowered) threshold
      val fact = spark
        .range(0, 210000)
        .select(
          when(col("id") < 200000, lit(7L)).otherwise(col("id") % 100).as("k"),
          concat(lit("payload-"), col("id")).as("payload")
        )
      val dim = (0L until 100L).map(i => (i, s"dim-$i")).toDF("k", "name")
      val joined = fact.join(dim, Seq("k"))
      // collect() executes THIS Dataset's QueryExecution — count()/foreach
      // build a new one and would leave this AQE plan un-finalized
      assert(joined.collect().length == 210000)
      val adaptive = joined.queryExecution.executedPlan.collectFirst { case a: AdaptiveSparkPlanExec => a }
      val finalPlan = adaptive.map(_.executedPlan.toString).getOrElse(joined.queryExecution.executedPlan.toString)
      assert(finalPlan.contains("SortMergeJoin"), "setup failed — join was not an SMJ:\n" + finalPlan.take(600))
      assert(finalPlan.contains("skew=true"), "AQE did not split the hot key:\n" + finalPlan.take(1200))
    }
  }
}
