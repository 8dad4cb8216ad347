package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One workload: seeded inputs built in a fresh session, an untimed
  * warm-up that also checks outputs, and the timed pass. */
trait Workload {
  /** Build the seeded inputs; runs once per set-up, each in a fresh session. */
  def prepare(h: Harness): Unit
  def warmUp(h: Harness): Unit
  def pass(h: Harness): Unit
  /** SHA-256 of the generated inputs: equal seeds give equal digests. */
  def inputsDigest: String
  /** Workload-specific end-to-end figures (reported beside the common ones). */
  def metrics(h: Harness): Map[String, Metric]
  /** Per-layer figures of a traced run, beyond the `spark` layer. */
  def layerMetrics(h: Harness, passes: Int): Map[String, Double]
}

object Digest {
  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Order-independent digest of a frame: row count and the wrapping sum
    * of one 64-bit hash per row over its columns in name order. Floating
    * columns hash at 12 significant digits. */
  def frame(df: DataFrame): (Long, Long) = {
    def norm(f: StructField): Column = f.dataType match {
      case DoubleType | FloatType => format_string("%.12g", col(f.name).cast(DoubleType))
      case _: DecimalType | TimestampType | DateType => col(f.name).cast(StringType)
      case _ => col(f.name)
    }
    val cols = df.schema.fields.sortBy(_.name).map(norm).toSeq
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L))
  }
}

/** The operator catalog: a fixed query set over one scale factor, run in
  * a seed-permuted order. Each execution's output is digested and compared
  * with the expected values recorded beside the benchmark. */
final class CatalogWorkload(seed: Long, sfDir: String, expectedFile: String) extends Workload {
  val iterative = Seq("q181_ppr")
  val singlePass = Seq("q205_exact_jaccard", "q121_winsorize", "q220_winnowing", "q02_agg",
    "q224_rfm", "q89_audience_diff")
  val queries: Seq[String] = new scala.util.Random(seed).shuffle(iterative ++ singlePass)

  /** name → (rows, hash), parsed from the expected-values file. */
  private lazy val expected: Map[String, (Long, Long)] = {
    val text = new String(Files.readAllBytes(Paths.get(expectedFile)), "UTF-8")
    val Entry = "\"(q[0-9a-z_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"(-?\\d+)\"".r
    Entry.findAllMatchIn(text).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def inputsDigest: String = Digest.sha256(queries.iterator)

  def prepare(h: Harness): Unit = require(expected.keySet == queries.toSet,
    s"expected values in $expectedFile cover ${expected.keySet.toSeq.sorted}, need ${queries.sorted}")

  /** Two passes: the first one runs cold, and the second still runs
    * markedly slower than the passes after it. */
  def warmUp(h: Harness): Unit = { pass(h); pass(h) }

  /** Each query is materialised in full through a digest: one hash per
    * row summed, so every timed execution's output is also checked. */
  def pass(h: Harness): Unit = queries.foreach { q =>
    var got = (0L, 0L)
    h.op(q) {
      got = Trace.span(s"queries.$q")(Digest.frame(graft.SparkEntry.queries(q)(h.spark, sfDir)))
      got._1
    }.foreach(_ => h.check(got == expected(q), s"$q: output (rows, hash) $got, expected ${expected(q)}"))
  }

  def metrics(h: Harness): Map[String, Metric] = {
    val perQuery = h.samples.groupBy(_.op).values.map(ss => Stats.median(ss.map(_.ms).toSeq) / 1e3)
    Map("query_geomean_s" -> Metric(Stats.geomean(perQuery.toSeq), "s", h.samples.size))
  }

  def layerMetrics(h: Harness, passes: Int): Map[String, Double] =
    queries.flatMap { q =>
      val ls = h.layers.filter(_.op == q).toSeq
      Seq(s"queries.$q.wall_s" -> Stats.mean(ls.map(_.wallMs / 1e3)),
          s"queries.$q.driver_only_ms" -> Stats.mean(ls.map(l => l.wallMs - l.inJobMs)),
          s"queries.$q.jobs" -> Stats.mean(ls.map(_.jobs.toDouble)),
          s"queries.$q.slot_use" -> {
            val inJob = ls.map(_.inJobMs).sum
            if (inJob > 0) ls.map(_.runMs).sum / (inJob * h.cores) else 0.0
          })
    }.toMap
}
