package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.Platform

import graft.sinks.RestSink
import graft.state.StateStore

/** Spans and counters recorded from the benchmark's side of each public
  * call. Disabled (the untraced runs) every call is a plain pass-through. */
object Trace {
  @volatile var enabled = false

  final case class Span(name: String, parent: Int, startNs: Long, endNs: Long)
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val spanIds = new ConcurrentHashMap[Int, Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet().toInt
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(name, parents.headOption.getOrElse(0), t0, System.nanoTime())
        stack.set(parents)
        spanIds.put(id, s)
      }
    }

  private val counters = new ConcurrentHashMap[String, DoubleAdder]
  def add(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def counter(name: String): Double = Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  /** Per span name: calls, total ms, and self ms (duration minus the part
    * covered by direct children). */
  def summary(): Map[String, (Long, Double, Double)] = {
    val all = spanIds.asScala.toMap
    val childMs = all.values.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => (c.endNs - c.startNs) / 1e6).sum }
    all.toSeq.groupBy(_._2.name).map { case (name, ss) =>
      val total = ss.map { case (_, s) => (s.endNs - s.startNs) / 1e6 }.sum
      val self = ss.map { case (id, s) => (s.endNs - s.startNs) / 1e6 - childMs.getOrElse(id, 0.0) }.sum
      name -> (ss.size.toLong, total, self)
    }
  }
}

/** What the recording destination received for one sync. */
final class SendLog(val keyCol: String, val keepKeys: Boolean) {
  val rows = new LongAdder
  val sends = new LongAdder
  val keyHash = new AtomicLong
  val firstNs = new AtomicLong(Long.MaxValue)
  val lastNs = new AtomicLong(0L)
  val keys = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def keyList: Seq[String] = keys.asScala.toSeq
}

/** Registry behind [[RecordingTransport]]: transports are serialized into
  * tasks, so what they record lives in JVM-global state keyed by log id. */
object Recorder {
  private val logs = new ConcurrentHashMap[String, SendLog]
  def fresh(id: String, keyCol: String, keepKeys: Boolean): SendLog = {
    val l = new SendLog(keyCol, keepKeys); logs.put(id, l); l
  }
  def log(id: String): SendLog = logs.get(id)

  /** The same 64-bit hash Spark's `xxhash64` gives one string column, so a
    * key set's wrapping sum can be checked against a Spark aggregate. */
  def hash64(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}

/** A destination that acknowledges every batch and records what it got. */
final class RecordingTransport(id: String) extends RestSink.Transport {
  override def send(batch: Seq[Map[String, Any]]): Unit = {
    val t0 = System.nanoTime()
    val l = Recorder.log(id)
    var h = 0L
    batch.foreach { r =>
      val k = String.valueOf(r(l.keyCol))
      h += Recorder.hash64(k)
      if (l.keepKeys) l.keys.add(k)
    }
    l.keyHash.addAndGet(h)
    l.rows.add(batch.size.toLong)
    l.sends.increment()
    l.firstNs.accumulateAndGet(t0, math.min)
    l.lastNs.accumulateAndGet(System.nanoTime(), math.max)
    Trace.add("sinks.send_ms", (System.nanoTime() - t0) / 1e6)
  }
}

/** Timing decorator over a [[StateStore]]: reads and writes are counted
  * and timed as the `state` layer. */
final class TimingStore(inner: StateStore, file: Path) extends StateStore {
  private def read[T](body: => T): T = timed("state.read_ms")(body)
  private def write[T](body: => T): T = timed("state.set_ms")(body)
  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(name.stripSuffix("_ms"))(body)
    finally { Trace.add(name, (System.nanoTime() - t0) / 1e6); Trace.add("state.ops", 1) }
  }
  override def get(key: Seq[String]): Option[String] = read(inner.get(key))
  override def set(key: Seq[String], value: String): Unit = write(inner.set(key, value))
  override def del(key: Seq[String]): Unit = write(inner.del(key))
  override def list(prefix: Seq[String]): Seq[(Seq[String], String)] = read(inner.list(prefix))
  override def deleteByPrefix(prefix: Seq[String]): Int = write(inner.deleteByPrefix(prefix))
  override def size(prefix: Seq[String]): Long = read(inner.size(prefix))
  def fileBytes: Long = if (Files.exists(file)) Files.size(file) else 0L
}

/** Spark-side counters for the `spark` layer: a SparkListener for jobs
  * and tasks, a QueryExecutionListener for planning time. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentHashMap[Int, Long]
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  val jobs = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val shuffleRead = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  val planMs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.put(e.jobId, e.time); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.increment()
    Option(jobStarts.remove(e.jobId)).foreach(t0 => jobSpans.add((t0, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wall time inside any job within [t0, t1] (epoch ms): the union of
    * job intervals clipped to the window. */
  def inJobMs(t0: Long, t1: Long): Long = {
    val clipped = jobSpans.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  private var attached = false
  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }
  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }
}
