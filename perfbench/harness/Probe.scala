package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** Monotonic clock shared by every probe: nanoseconds since the run began. */
object Clock {
  private val t0          = System.nanoTime()
  def now: Long           = System.nanoTime() - t0
  def ms(ns: Long): Double = ns / 1e6
  def s(ns: Long): Double  = ns / 1e9
}

/** One traced interval; times are [[Clock]] nanoseconds, `parent` 0 is a root. */
final case class Span(id: Long, name: String, layer: String, start: Long, end: Long, parent: Long, op: Long)

/** Spans recorded around the calls the benchmark makes into each layer.
  * Kept in memory; written out once at exit. A disabled trace records
  * nothing and costs one branch per call.
  */
final class Trace(val on: Boolean) {
  private val ids   = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(name: String, layer: String, start: Long, end: Long, parent: Long = 0, op: Long = 0): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, layer, start, end, parent, op))
      id
    }

  /** Reserve a span id before its children run; [[close]] records the span. */
  def open(): Long = if (on) ids.incrementAndGet() else 0L

  def close(id: Long, name: String, layer: String, start: Long, parent: Long = 0, op: Long = 0): Unit =
    if (on) spans.add(Span(id, name, layer, start, Clock.now, parent, op))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per layer: total span time minus the part covered by child spans
    * (children clipped to their parent's interval, overlaps merged).
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss       = all
    val children = ss.filter(_.parent != 0).groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { sp =>
        val kids = children.getOrElse(sp.id, Nil)
          .map(k => (math.max(k.start, sp.start), math.min(k.end, sp.end)))
          .filter { case (a, b) => b > a }
        Clock.ms((sp.end - sp.start) - Stats.unionLength(kids))
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { sp =>
      Json.obj(Seq(
        "id" -> sp.id, "name" -> sp.name, "layer" -> sp.layer, "start_ns" -> sp.start,
        "end_ns" -> sp.end, "parent" -> sp.parent, "op" -> sp.op))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

/** Spark scheduler counters through the public listener API: jobs, tasks,
  * executor run vs CPU time, shuffle and spill bytes, and job intervals
  * (for the driver-side gap: wall time during which no job ran).
  */
final class SparkLayer extends SparkListener {
  val jobs, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spill = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment(); jobStart.put(e.jobId, Clock.now)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s, Clock.now)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wall time in [from, to) during which no Spark job was running. */
  def driverGapMs(from: Long, to: Long): Double = {
    val busy = intervals.asScala.toSeq.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
    Clock.ms((to - from) - Stats.unionLength(busy))
  }

  def snapshot: Map[String, Double] = Map(
    "spark.jobs"               -> jobs.sum.toDouble,
    "spark.tasks"              -> tasks.sum.toDouble,
    "spark.executor_run_ms"    -> runMs.sum.toDouble,
    "spark.executor_cpu_ms"    -> cpuNs.sum / 1e6,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "spark.spill_bytes"        -> spill.sum.toDouble
  )
}

/** Whole-stage codegen compiles, read from Spark's public `CodegenMetrics`
  * histogram. The count is exact. The histogram keeps a sample of at most
  * 1028 values, so the compile time is exact until then and estimated
  * (count x sample mean) after.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  final case class Mark(count: Long, sumMs: Double, sampled: Int)
  def mark(): Mark = {
    val snap = METRIC_COMPILATION_TIME.getSnapshot
    Mark(METRIC_COMPILATION_TIME.getCount, snap.getValues.map(_.toDouble).sum, snap.size)
  }
  /** (compiles, compile ms) between two marks. */
  def between(a: Mark, b: Mark): (Long, Double) = {
    val n = b.count - a.count
    val ms =
      if (b.count == b.sampled) b.sumMs - a.sumMs
      else if (b.sampled == 0) 0.0
      else n * (b.sumMs / b.sampled)
    (n, ms)
  }
}

/** One finished micro-batch, as reported by `onQueryProgress`. */
final case class Batch(
    query: String,
    id: java.util.UUID,
    batchId: Long,
    arrivedNs: Long,
    endOffset: String,
    inputRows: Long,
    durations: Map[String, Long],
    stateCommitMs: Long,
    stateRows: Long,
    stateMemBytes: Long
)

/** Collects every query's progress events and terminations. The benchmark
  * needs these with tracing off too: event visibility is measured at the
  * `onQueryProgress` of the balance batch that covers an event.
  */
final class ProgressLog extends StreamingQueryListener {
  val batches  = new ConcurrentLinkedQueue[Batch]()
  val failures = new ConcurrentLinkedQueue[String]()
  @volatile private var listeners: List[Batch => Unit] = Nil

  def onBatch(f: Batch => Unit): Unit = synchronized { listeners = f :: listeners }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(s"${e.id}: ${x.linesIterator.take(1).mkString}"))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p     = e.progress
    val state = p.stateOperators.toSeq
    val b = Batch(
      query = Option(p.name).getOrElse(""),
      id = p.id,
      batchId = p.batchId,
      arrivedNs = Clock.now,
      endOffset = p.sources.headOption.map(_.endOffset).getOrElse(""),
      inputRows = p.numInputRows,
      durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      stateCommitMs = state.map(_.commitTimeMs).sum,
      stateRows = state.map(_.numRowsTotal).sum,
      stateMemBytes = state.map(_.memoryUsedBytes).sum
    )
    batches.add(b)
    listeners.foreach(_(b))
  }

  def all: Seq[Batch] = batches.asScala.toSeq

  /** Per-layer numbers of the `streaming` layer over batches with input. */
  def layerMetrics(bs: Seq[Batch]): Map[String, Double] = {
    def d(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
    val trig = d("triggerExecution")
    val rows = bs.map(_.inputRows).sum
    Map(
      "streaming.batches"           -> bs.size.toDouble,
      "streaming.trigger_ms_p50"    -> Stats.pct(trig, 50),
      "streaming.wal_commit_ms"     -> Stats.mean(d("walCommit")),
      "streaming.commit_offsets_ms" -> Stats.mean(d("commitOffsets")),
      "streaming.query_planning_ms" -> Stats.mean(d("queryPlanning")),
      "streaming.latest_offset_ms"  -> Stats.mean(d("latestOffset")),
      "streaming.add_batch_ms"      -> Stats.mean(d("addBatch")),
      "streaming.state_commit_ms"   -> Stats.mean(bs.map(_.stateCommitMs.toDouble)),
      "streaming.rows_per_s"        -> (if (trig.sum > 0) rows / (trig.sum / 1000.0) else 0.0),
      "streaming.state_rows"        -> bs.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mem_bytes"   -> bs.map(_.stateMemBytes.toDouble).maxOption.getOrElse(0.0)
    )
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA  = Long.MinValue
    var curB  = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case s: String  => str(s)
    case b: Boolean => b.toString
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Long    => n.toString
    case n: Int     => n.toString
    case m: Seq[_]  => obj(m.asInstanceOf[Seq[(String, Any)]])
    case other      => str(String.valueOf(other))
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
