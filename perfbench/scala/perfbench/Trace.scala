package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.StateBackend

/** Spans and counters of one run, kept in memory and written when the
  * run ends. A span records name, start, end, its parent span and the
  * run id; with tracing off every call is a pass-through. */
final class Trace(val enabled: Boolean, val runId: String) {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, attrs: Map[String, Any])

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  /** Parent for spans opened on threads with no open span (the wave pool). */
  @volatile private var phase: Long = 0L
  private val epochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(phase)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, attrs))
        stack.set(stack.get().tail)
      }
    }

  @volatile private var timedFromNs = Long.MinValue

  /** Open the timed phase's span. Layer durations count from here on, so
    * set-up and warm-up spans are not mixed into them. */
  def openTimed(): Unit = {
    phase = ids.incrementAndGet()
    timedFromNs = System.nanoTime()
  }
  def closeTimed(): Unit = {
    if (enabled) spans.add(Span(phase, "timed", timedFromNs, System.nanoTime(), 0L, Map.empty))
    timedToNs = System.nanoTime()
  }
  @volatile private var timedToNs = Long.MaxValue
  /** Whether the timed phase is open now. */
  def inTimed: Boolean = { val t = System.nanoTime(); t >= timedFromNs && t < timedToNs }

  def count(name: String, by: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(by)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.get()).getOrElse(0L)

  /** Durations in ms of the spans named `name` opened since the timed
    * phase began. */
  def durations(name: String): Seq[Double] =
    spans.asScala.filter(s => s.name == name && s.startNs >= timedFromNs)
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def json: Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> (epochMs + (s.startNs - baseNs) / 1e6),
        "end_ms" -> (epochMs + (s.endNs - baseNs) / 1e6),
        "parent" -> s.parent, "run" -> runId) ++ s.attrs
    },
    "counters" -> counters.asScala.map { case (k, v) => k -> v.get() }.toMap)
}

/** Timing decorator around a [[StateBackend]]: persist and gc calls
  * become spans, and each persist of the timed phase adds the bytes of
  * the generation it wrote when the backend keeps state under a root
  * directory. */
final class TimedBackend(inner: StateBackend, trace: Trace,
    root: Option[java.io.File]) extends StateBackend {
  def durable: Boolean = inner.durable
  def persist(name: String, df: DataFrame): DataFrame =
    persist(name, df, None)
  override def persist(name: String, df: DataFrame,
      delta: Option[(DataFrame, DataFrame)]): DataFrame = {
    val out = trace.span("state.persist", Map("table" -> name,
      "kind" -> (if (delta.isDefined) "delta" else "full"))) {
      inner.persist(name, df, delta)
    }
    if (trace.inTimed) root.foreach { r =>
      val gens = Option(new java.io.File(r, name).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("g"))
      gens.maxByOption(_.getName.drop(1).toLongOption.getOrElse(-1L))
        .foreach(g => trace.count("state.written_bytes", Files.du(g)))
    }
    out
  }
  override def gc(): Unit = trace.span("state.gc")(inner.gc())
}

object Files {
  def du(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
}

/** Block-manager storage memory, from block-update events. A window
  * reports the highest level storage memory reached while it was open. */
final class StorageListener extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private var used = 0L
  private var peak = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    used -= blocks.getOrElse(id, 0L)
    if (info.storageLevel.isValid && info.memSize > 0) {
      blocks(id) = info.memSize
      used += info.memSize
    } else blocks.remove(id)
    peak = math.max(peak, used)
  }
  def current: Long = synchronized(used)
  /** Peak level in bytes since the previous call; starts the next window. */
  def window(): Long = synchronized {
    val top = peak
    peak = used
    top
  }
}

/** Spark work of the timed phase: jobs, stages, tasks, CPU, GC,
  * shuffle, spill and per-task scheduler delay. */
final class WorkListener extends SparkListener {
  @volatile var on = false
  private val c = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val delays = mutable.ArrayBuffer.empty[Double]
  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    c("tasks") += 1
    if (m != null) {
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
      c("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
      delays += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime).toDouble
    }
  }
  private def add(k: String, n: Long): Unit = if (on) synchronized { c(k) += n }
  def snapshot: (Map[String, Long], Seq[Double]) =
    synchronized((c.toMap.withDefaultValue(0L), delays.toSeq))
}

/** Streaming progress of the timed phase, plus the highest end offset
  * seen per source (sources are listed in the union's order). */
final class ProgressListener(nSources: Int) extends StreamingQueryListener {
  final case class Batch(id: Long, rows: Long, durations: Map[String, Long],
      ranges: Seq[(Long, Long)])
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val processed = Array.fill(nSources)(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.length == nSources && p.numInputRows > 0) {
      def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)
      val ranges = p.sources.toSeq.map(s => (off(s.startOffset), off(s.endOffset)))
      // the batch is listed before its offsets count as processed, so a
      // reader that sees them processed also finds the batch
      batches.add(Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, ranges))
      synchronized {
        ranges.zipWithIndex.foreach { case ((_, end), i) =>
          processed(i) = math.max(processed(i), end)
        }
      }
    }
  }
  def processedOffsets: Seq[Long] = synchronized(processed.toSeq)
}

/** Fixed pure-JVM work, timed: a host-drift canary, not a gate. */
object HostProbe {
  def apply(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) println("") // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Session-wide listeners shared by every workload. */
final class Probes(spark: SparkSession, val trace: Trace) {
  val storage = new StorageListener
  val work = new WorkListener
  spark.sparkContext.addSparkListener(storage)
  if (trace.enabled) spark.sparkContext.addSparkListener(work)

  /** Per-layer `spark.*` metrics of the timed phase. */
  def sparkMetrics(units: Double): Map[String, Double] = {
    val (c, delays) = work.snapshot
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> c("jobs").toDouble,
      "spark.stages" -> c("stages").toDouble,
      "spark.tasks" -> c("tasks").toDouble,
      "spark.jobs_per_batch" -> c("jobs") / math.max(units, 1.0),
      "spark.executor_cpu_s" -> c("cpu_ns") / 1e9,
      "spark.jvm_gc_s" -> c("gc_ms") / 1e3,
      "spark.shuffle_write_mb" -> c("shuffle_write") / mb,
      "spark.shuffle_read_mb" -> c("shuffle_read") / mb,
      "spark.spill_mb" -> c("spill") / mb,
      "spark.sched_delay_ms_p50" -> Stats.quantile(delays, 0.5),
      "spark.sched_delay_ms_p90" -> Stats.quantile(delays, 0.9))
  }
}
