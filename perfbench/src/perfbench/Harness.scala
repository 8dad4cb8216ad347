package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported figure: value, unit, sample count and, for tails, the
  * percentile it was read at. */
final case class Metric(value: Double, unit: String, n: Int = 1, pct: Option[Double] = None)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank), as (value, percentile). With ten or fewer samples no such
    * percentile exists and the maximum is reported at 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (Double.NaN, 100.0)
    else if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

final case class OpSample(op: String, ms: Double, rows: Long)

/** Spark-layer deltas of one traced operation. */
final case class OpLayer(op: String, wallMs: Double, inJobMs: Double, jobs: Long, tasks: Long,
                         runMs: Long, cpuMs: Double, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, gcMs: Long, janinoN: Long, janinoMs: Double,
                         planMs: Long, leakedRdds: Int)

/** Runs operations for one workload: times them, counts attempts and
  * failures, and — in a traced pass — reads the Spark layer around each. */
final class Harness(val cores: Int) {
  var spark: SparkSession = _
  var timing = false
  var probe: Option[SparkProbe] = None

  val samples = mutable.ArrayBuffer.empty[OpSample]
  val passWallMs = mutable.ArrayBuffer.empty[Double]
  val untracedWallMs = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.ArrayBuffer.empty[OpLayer]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  private val failedOps = mutable.Set.empty[Long]

  def failed: Long = failedOps.size.toLong

  /** Record a wrong result against the most recent operation. */
  def fail(msg: String): Unit = {
    failures += msg
    failedOps += attempted
    System.err.println(s"[perfbench] FAIL $msg")
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def janino: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Run one operation; `body` returns the rows it produced or delivered.
    * Returns the wall time in ms, or None if it threw. */
  def op(name: String)(body: => Long): Option[Double] = {
    attempted += 1
    val p = if (timing && Trace.enabled) probe else None
    p.foreach(_ => org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext))
    val before = p.map(pr => (pr.jobs.sum, pr.tasks.sum, pr.runMs.sum, pr.cpuNs.sum,
      pr.shuffleRead.sum, pr.shuffleWrite.sum, pr.spill.sum, pr.planMs.sum))
    val (gc0, jan0, rdd0) =
      if (p.isDefined) (gcMs, janino._1, spark.sparkContext.getPersistentRDDs.size) else (0L, 0L, 0)
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rows =
      try Some(Trace.span(s"op.$name")(body))
      catch { case e: Throwable =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val e1 = System.currentTimeMillis()
    rows.map { n =>
      if (timing) samples += OpSample(name, ms, n)
      for (pr <- p; b <- before) {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        val (janN, janMean) = janino
        layers += OpLayer(name, ms, pr.inJobMs(e0, e1).toDouble,
          pr.jobs.sum - b._1, pr.tasks.sum - b._2, pr.runMs.sum - b._3,
          (pr.cpuNs.sum - b._4) / 1e6, pr.shuffleRead.sum - b._5, pr.shuffleWrite.sum - b._6,
          pr.spill.sum - b._7, gcMs - gc0, janN - jan0, (janN - jan0) * janMean,
          pr.planMs.sum - b._8, spark.sparkContext.getPersistentRDDs.size - rdd0)
      }
      ms
    }
  }

  /** Run `pass` repeatedly for about `seconds`: another pass starts while
    * the time is not up. At least one pass runs.
    *
    * With a probe (a traced run) passes alternate untraced and traced,
    * starting and ending untraced, so each traced pass sits between two
    * untraced ones; only traced passes keep their samples, and the
    * untraced walls land in `untracedWallMs` for the tracing overhead. */
  def timedPasses(seconds: Double)(pass: => Unit): Int = {
    timing = true
    val start = System.nanoTime()
    var n = 0
    def more = (System.nanoTime() - start) / 1e9 < seconds
    while (n == 0 || (probe.isDefined && (n == 1 || n % 2 == 0)) || more) {
      val traced = probe.isDefined && n % 2 == 1
      probe.foreach(p => if (traced) p.attach(spark) else p.detach(spark))
      Trace.enabled = traced
      val i0 = samples.size
      pass
      val wall = samples.drop(i0).map(_.ms).sum
      if (probe.isEmpty || traced) passWallMs += wall
      else { untracedWallMs += wall; samples.remove(i0, samples.size - i0) }
      n += 1
    }
    probe.foreach(_.detach(spark))
    Trace.enabled = false
    timing = false
    passWallMs.size
  }

  /** Traced pass walls against the mean of the untraced passes on either
    * side, in percent. The first untraced pass is left out: it is still
    * markedly slower than the passes after it (the JVM keeps warming). */
  def traceOverheadPct: Double = {
    val pairs = passWallMs.indices.map(i => (passWallMs(i),
      Stats.mean(untracedWallMs.slice(math.max(1, i), i + 2).toSeq)))
    100.0 * (pairs.map(_._1).sum / pairs.map(_._2).sum - 1)
  }

  /** The end-to-end metrics every workload reports, from the timed
    * passes' samples: one pass's wall with every operation at its median,
    * the geometric mean of those medians, and rows over summed op time. */
  def endToEnd(): Map[String, Metric] = {
    val byOp = samples.groupBy(_.op)
    val opMedians = byOp.values.map(ss => Stats.median(ss.map(_.ms).toSeq)).toSeq
    val totalMs = samples.map(_.ms).sum
    Map(
      "wall_s" -> Metric(opMedians.sum / 1e3, "s", passWallMs.size),
      "op_geomean_ms" -> Metric(Stats.geomean(opMedians), "ms", samples.size),
      "rows_per_s" -> Metric(samples.map(_.rows).sum / (totalMs / 1e3), "rows/s", samples.size))
  }

  /** Latency distribution of one operation's samples, as `<op>_p50_ms`
    * and `<op>_tail_ms`. */
  def latency(name: String): Map[String, Metric] = {
    val xs = samples.filter(_.op == name).map(_.ms).toSeq
    val (t, pct) = Stats.tail(xs)
    Map(s"${name}_p50_ms" -> Metric(Stats.median(xs), "ms", xs.size, Some(50.0)),
        s"${name}_tail_ms" -> Metric(t, "ms", xs.size, Some(pct)))
  }

  /** The `spark` layer: per-pass totals over the traced operations. */
  def sparkLayer(passes: Int): Map[String, Double] = {
    val k = math.max(1, passes).toDouble
    val inJob = layers.map(_.inJobMs).sum
    val run = layers.map(_.runMs).sum.toDouble
    Map(
      "spark.driver_only_ms" -> layers.map(l => l.wallMs - l.inJobMs).sum / k,
      "spark.jobs" -> layers.map(_.jobs).sum / k,
      "spark.tasks" -> layers.map(_.tasks).sum / k,
      "spark.executor_run_ms" -> run / k,
      "spark.executor_cpu_ms" -> layers.map(_.cpuMs).sum / k,
      "spark.slot_use" -> (if (inJob > 0) run / (inJob * cores) else 0.0),
      "spark.shuffle_read_bytes" -> layers.map(_.shuffleRead).sum / k,
      "spark.shuffle_write_bytes" -> layers.map(_.shuffleWrite).sum / k,
      "spark.spill_bytes" -> layers.map(_.spill).sum / k,
      "spark.gc_ms" -> layers.map(_.gcMs).sum / k,
      "spark.janino_compiles" -> layers.map(_.janinoN).sum / k,
      "spark.janino_ms" -> layers.map(_.janinoMs).sum / k,
      "spark.plan_ms" -> layers.map(_.planMs).sum / k,
      "spark.persisted_rdds_leaked" -> layers.map(_.leakedRdds).sum / k)
  }
}
