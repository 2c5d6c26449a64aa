package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session factory — one lazy SparkSession per suite. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** [[GraftSession.withConfs]] on the shared session. */
  def withConfs[A](confs: (String, Option[String])*)(body: => A): A =
    GraftSession.withConfs(spark, confs: _*)(body)

  /** Pin the RocksDB state-store provider for the scope of `body`. */
  def withRocksDb[A](body: => A): A =
    withConfs("spark.sql.streaming.stateStore.providerClass" -> Some(SparkSpec.RocksDbProvider))(body)
}

object SparkSpec {
  // One session for the whole test JVM (suites run in a single forked JVM):
  // the board's configuration at 4 cpus, so every test sees 4 partitions.
  lazy val session: SparkSession = GraftSession(cpus = 4, "graft-test")

  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
