package graft

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.Trigger
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

  /** Stop/restart harness for a stateful operator: each epoch lands as one
    * parquet file in a watched dir and is drained by its own
    * `Trigger.AvailableNow` run over ONE checkpoint. An epoch's file is
    * deleted once its run has committed, so a later run sees only its own
    * epoch: whatever it knows of earlier ones (state, timers, watermark)
    * came from the checkpoint. Returns each run's emitted rows.
    */
  def runEpochs[E: Encoder, R: Encoder](epochs: Seq[Seq[E]])(op: Dataset[E] => Dataset[R]): Seq[Seq[R]] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-epochs")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    epochs.zipWithIndex.map { case (rows, i) =>
      spark.createDataset(rows).coalesce(1).write.parquet(s"$tmp/watch/e$i")
      val outP = s"$tmp/out/run$i"
      val q = op(spark.readStream.schema(implicitly[Encoder[E]].schema).parquet(s"$tmp/watch/*").as[E])
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[R], _: Long) => batch.write.mode("append").parquet(outP); () }
        .start()
      try q.awaitTermination()
      finally q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/watch/e$i"))
      if (new java.io.File(outP).exists()) spark.read.parquet(outP).as[R].collect().toSeq
      else Seq.empty
    }
  }
}

object SparkSpec {
  // One session for the whole test JVM (suites run in a single forked JVM):
  // the board's configuration at 4 cpus, so every test sees 4 partitions.
  lazy val session: SparkSession = GraftSession(cpus = 4, "graft-test")

  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
