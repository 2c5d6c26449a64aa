package perfbench

import graft.model.PaymentSerde
import graft.operators.PaymentOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.Path

/** The topology's stages as separate public calls, replayed over one
  * backlog batch: JSON decode alone (`model`), decode plus the operator
  * chain up to the balance aggregate (`operators`), and decode plus the
  * routed, topic-partitioned parquet write (`sources`). The first two end
  * in Spark's `noop` sink, so only the layer's own work runs.
  */
object Layers {

  val Events = 100000

  /** Draw `n` events from `src` into the expected model, as `(key, value)` records. */
  def draw(src: PayGen.Source, n: Int, exp: PayGen.Expected): Seq[(String, String)] =
    Seq.fill(n) { val e = src.next(); exp.add(e); (e.id, e.json) }

  /** Write records as one parquet file (one file = one file-source batch). */
  def write(spark: SparkSession, rows: Seq[(String, String)], dir: Path): Unit = {
    import spark.implicits._
    spark.createDataset(rows).toDF("key", "value").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
  }

  private def merged(decoded: DataFrame): DataFrame = {
    val supported     = PaymentOps.railsFilter(decoded)
    val Seq(gbp, usd) = PaymentOps.branchByCurrency(supported)
    PaymentOps.merge(gbp, PaymentOps.fxConvert(usd))
  }

  /** Median ms of three replays of each stage over `Events` fresh events. */
  def replay(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val dir   = Main.fresh(ctx, "layers")
    val in    = dir.resolve("in")
    write(spark, draw(new PayGen.Source(ctx.seed * 7919 + 11, "L", _.nextInt(1000000)), Events,
      new PayGen.Expected), in)
    def decoded = PaymentSerde.decodeKafka(spark.read.parquet(in.toString))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(name: String)(body: => Unit): Double = {
      val ms = (1 to 3).map { i =>
        val t = Clock.now
        body
        val e = Clock.now
        ctx.trace.add(name, "layers", t, e, op = i)
        Clock.ms(e - t)
      }
      Stats.median(ms)
    }
    val out = Map(
      "model.decode_ms" -> time("model.decode")(noop(decoded)),
      "operators.topology_ms" -> time("operators.topology")(noop(PaymentOps.balances(merged(decoded)))),
      "sources.route_write_ms" -> time("sources.route_write") {
        PaymentOps.branchFirstMatch(merged(decoded), "topic", Seq(
            "rails-foo-topic" -> (col("rails") === "BANK_RAILS_FOO"),
            "rails-bar-topic" -> (col("rails") === "BANK_RAILS_BAR")))
          .write.mode("overwrite").partitionBy("topic").parquet(dir.resolve("routed").toString)
      }
    )
    Main.deleteTree(dir)
    out
  }
}

/** Minimal blocking HTTP GET: no client-side retry, no connection reuse
  * tricks; the status and body come back as the server sent them.
  */
object Http {
  final case class Reply(status: Int, body: String)

  def get(url: String): Reply = {
    val c = new java.net.URL(url).openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(30000)
    c.setReadTimeout(60000)
    try {
      val status = c.getResponseCode
      val in     = if (status < 400) c.getInputStream else c.getErrorStream
      val body   = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Reply(status, body)
    } finally c.disconnect()
  }
}
