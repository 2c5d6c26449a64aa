package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: every main (Bench, Verify, the
  * plan dumps, the scale probes) and the test harness run the board's
  * configuration, so a number measured by one of them holds for the others.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = GraftSession.cpus, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts (Tables.events)
      .config("spark.ui.enabled", "false")
      // file:// without the Hadoop CRC sidecar layer (see
      // NoCrcLocalFileSystem's scaladoc: halves local file creates and the
      // fork-per-permission-call tail behind them; data bytes untouched —
      // parquet carries its own page checksums, and the sidecars never
      // reach the bytes Verify's output is hashed on).
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NoCrcLocalFileSystem].getName)
      // Artifact SESSION ISOLATION off (r18, measured): every StreamingQuery
      // runs on a session CLONE, and with isolation on each clone gets its
      // own artifact classloader — which KEYS the whole-stage-codegen
      // compilation cache (CodeGenerator.cache is per-classloader since
      // 4.x), so every streaming query RUN re-Janino-compiles every
      // generated class even when the code is byte-identical (JFR: 698
      // KeyLock compile-waits per q217 pair-run, ~27 s of executor
      // thread-wait; 162 with isolation off — the timed run then hits the
      // cache). This engine adds no per-session artifacts (no addArtifact
      // anywhere), so isolation buys nothing and only defeats compile
      // reuse; a single-tenant production driver running repeated
      // micro-batch work wants the same setting.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with each `key -> value` set on the session conf (`None`
    * unsets the key for the scope), then put every key back as it was:
    * its previous value, or unset if it had none.
    */
  def withConfs[T](s: SparkSession, confs: (String, Option[String])*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    def put(kv: (String, Option[String])): Unit = kv match {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
    try {
      confs.foreach(put)
      body
    } finally saved.foreach(put)
  }
}
