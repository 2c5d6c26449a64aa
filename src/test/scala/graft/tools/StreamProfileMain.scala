package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only profiler (test scope, never on the board): runs the named
  * registered queries once against a dir and dumps every micro-batch's
  * StreamingQueryProgress durations via a session-level listener, so the
  * bounded-stream lifecycle floor can be decomposed (walCommit vs addBatch
  * vs state commit vs planning) without touching the query runners.
  *
  * Usage: sbt "Test/runMain graft.tools.StreamProfileMain <dir> q171,q216"
  */
object StreamProfileMain {
  def main(args: Array[String]): Unit = {
    val dir  = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val want = (if (args.length > 1) args(1) else "q171").split(",").map(_.trim).toSet
    val spark = graft.GraftSession()

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(e.jobId, (e.time, desc))
        ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val (t0, desc) = Option(starts.remove(e.jobId)).getOrElse((e.time, ""))
        val ms = e.time - t0
        if (ms >= 30)
          System.err.println(s"[prof-job] id=${e.jobId} ms=$ms desc=$desc")
      }
      private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stageSubmit.put(e.stageInfo.stageId, System.currentTimeMillis())
        ()
      }
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si  = e.stageInfo
        val sub = Option(stageSubmit.remove(si.stageId)).getOrElse(0L)
        val wall = System.currentTimeMillis() - sub
        val exec = si.taskMetrics.executorRunTime
        val cpu  = si.taskMetrics.executorCpuTime / 1000000
        if (wall >= 30)
          System.err.println(s"[prof-stage] id=${si.stageId} tasks=${si.numTasks} " +
            s"wall=${wall}ms execSum=${exec}ms cpuSum=${cpu}ms name=${si.name}")
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        System.err.println(s"[prof] started ${e.name} ${e.id} at ${e.timestamp}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[prof] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs} stateOps=" +
          p.stateOperators.map(so => s"(rows=${so.numRowsTotal},commit=${so.commitTimeMs}ms," +
            s"custom=${so.customMetrics})").mkString(","))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        System.err.println(s"[prof] terminated ${e.id}")
    })

    val names = graft.SparkEntry.queries.keys.toSeq
      .filter(n => want.contains(n) || want.contains(n.takeWhile(_ != '_')))
      .sorted
    // one warm rep (JIT/memo) then a timed rep per query
    names.foreach { n =>
      graft.queries.StreamQueries.prebuildMemos(spark, dir)
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(n)(spark, dir).count()
      val t1 = System.nanoTime()
      spark.catalog.clearCache()
      System.err.println(f"[prof] WARM $n rows=$rows wall=${(t1 - t0) / 1e9}%.2f s")
      val t2 = System.nanoTime()
      val rows2 = graft.SparkEntry.queries(n)(spark, dir).count()
      val t3 = System.nanoTime()
      spark.catalog.clearCache()
      System.err.println(f"[prof] TIMED $n rows=$rows2 wall=${(t3 - t2) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
