package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.duration._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A query still running this long after it starts in its worker is
    * cancelled and recorded as failed: 25× the 23.5 s cold wall of q242,
    * the slowest catalog query at sf0.1 in perfbench's per-query split. */
  val QueryLimit: FiniteDuration = 600.seconds

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name prefixes — dev-loop filter to
    // dump just the queries under iteration (driver always passes 2 args).
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // The graft session (tuned confs + GraftExtensions SQL registration),
    // so Verify runs queries under exactly the library's intended setup.
    val spark: SparkSession = GraftSession.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    dump(spark, selected, sfDir, outDir, QueryLimit)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each query's result to `<outDir>/<name>` as one parquet file,
    * or its failure reason to `<outDir>/<name>.failed`.
    *
    * Each query runs in a Spark job group named after it. A watchdog
    * cancels that group, and every job the query starts after it, `limit`
    * after the query starts; the query is then recorded with a reason that
    * begins "timed out". The wait for the whole dump is bounded as well:
    * a query not finished by the time every worker could have run its
    * share at twice the limit each is recorded as timed out and left
    * behind, so the caller always gets control back. */
  def dump(spark: SparkSession, queries: Seq[(String, (SparkSession, String) => DataFrame)],
           sfDir: String, outDir: String, limit: FiniteDuration): Unit = {
    new java.io.File(outDir).mkdirs()
    val sc = spark.sparkContext
    def fail(name: String, reason: String): Unit = {
      System.err.println(s"[verify] $name failed: $reason")
      Files.writeString(Paths.get(s"$outDir/$name.failed"), reason)
    }
    // Queries are independent read-only jobs on one session, so run them
    // from a small thread pool (guide §2.6 — overlap independent jobs):
    // each query's tail/stragglers back-fill with the next query's tasks,
    // and one slow query no longer serializes the whole dump. Writes land
    // in per-query directories, so there is no output contention. The r12
    // driver round died with ZERO verify outputs when the sequential dump
    // starved its phase budget; wall time here is correctness insurance.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    // daemon threads: a worker stuck in a query cannot keep the JVM alive
    // once main is done or has failed
    val daemons: ThreadFactory = (r: Runnable) => {
      val t = new Thread(r, "graft-verify")
      t.setDaemon(true)
      t
    }
    val pool = Executors.newFixedThreadPool(threads, daemons)
    val watchdog = Executors.newSingleThreadScheduledExecutor(daemons)
    try {
      val tasks = queries.map { case (name, fn) =>
        val run: Runnable = () => {
          Files.deleteIfExists(Paths.get(s"$outDir/$name.failed"))
          val timedOut = new AtomicBoolean
          sc.setJobGroup(name, s"verify $name", interruptOnCancel = true)
          val cancel: Runnable = () => {
            timedOut.set(true)
            sc.cancelJobGroupAndFutureJobs(name, s"verify limit of $limit reached")
          }
          val alarm = watchdog.schedule(cancel, limit.toMillis, TimeUnit.MILLISECONDS)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            fail(name, if (timedOut.get) s"timed out: cancelled $limit after it started"
                       else e.toString)
          } finally {
            alarm.cancel(false)
            sc.clearJobGroup()
          }
        }
        name -> pool.submit(run)
      }
      val deadline = (limit * 2 * ((queries.size + threads - 1) / threads)).fromNow
      tasks.foreach { case (name, task) =>
        try task.get(deadline.timeLeft.toMillis.max(0L), TimeUnit.MILLISECONDS)
        catch { case _: TimeoutException =>
          fail(name, "timed out: not finished when the dump's wait ended")
        }
      }
    } finally {
      pool.shutdownNow()
      watchdog.shutdownNow()
    }
  }
}
