package perfbench

/** Seeded payment-event generator plus the model of what the topology must
  * produce from it: per-account balances after the rails filter and the
  * USD->GBP conversion `Math.round(amount * 0.8)`, and per-topic routed
  * counts. The engine only ever sees the generated JSON records.
  */
object PayGen {
  val Rails     = Array("BANK_RAILS_FOO", "BANK_RAILS_BAR", "BANK_RAILS_XXX")
  val Topics    = Array("rails-foo-topic", "rails-bar-topic")
  def account(i: Int): String = pad("ACC-", i)
  def ghost(i: Int): String   = pad("GHOST-", i)
  private def pad(prefix: String, i: Int): String = {
    val d = i.toString
    prefix + "0000000".substring(math.min(d.length, 7)) + d
  }

  /** One event; `rails` indexes [[Rails]], `from` is the account number. */
  final case class Ev(id: String, amount: Long, usd: Boolean, from: Int, rails: Int) {
    def json: String =
      new java.lang.StringBuilder(160)
        .append("{\"paymentId\":\"").append(id)
        .append("\",\"amount\":").append(amount)
        .append(",\"currency\":\"").append(if (usd) "USD" else "GBP")
        .append("\",\"toAccount\":\"DEF-").append(from % 97)
        .append("\",\"fromAccount\":\"").append(account(from))
        .append("\",\"rails\":\"").append(Rails(rails)).append("\"}")
        .toString

    /** The amount credited to `from`'s balance; 0 when the rails filter drops it. */
    def credited: Long =
      if (rails == 2) 0L else if (usd) Math.round(amount * 0.8) else amount
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Events with amount uniform in [10, 10000], 20% USD, rails FOO/BAR/XXX
    * as 60/30/10, `from` drawn by `pickFrom`.
    */
  final class Source(seed: Long, tag: String, pickFrom: java.util.SplittableRandom => Int) {
    private val r = new java.util.SplittableRandom(seed)
    private var n = 0L
    def next(): Ev = {
      n += 1
      val u = r.nextDouble()
      Ev(s"$tag-$n", 10L + r.nextLong(9991L), r.nextDouble() < 0.2, pickFrom(r),
        if (u < 0.6) 0 else if (u < 0.9) 1 else 2)
    }
  }

  /** Expected sink contents for a stream of events. */
  final class Expected {
    val balance = scala.collection.mutable.HashMap.empty[String, Long]
    val routed  = Array(0L, 0L)
    def add(e: Ev): Unit =
      if (e.rails != 2) {
        balance.update(account(e.from), balance.getOrElse(account(e.from), 0L) + e.credited)
        routed(e.rails) += 1
      }
    def routedMap: Map[String, Long] = Map(Topics(0) -> routed(0), Topics(1) -> routed(1))
  }
}
