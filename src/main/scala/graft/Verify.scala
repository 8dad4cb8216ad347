package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
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
    new java.io.File(outDir).mkdirs()
    // Queries are independent read-only jobs on one session, so run them
    // from a small thread pool (guide §2.6 — overlap independent jobs):
    // each query's tail/stragglers back-fill with the next query's tasks,
    // and one slow query no longer serializes the whole dump. Writes land
    // in per-query directories, so there is no output contention. The r12
    // driver round died with ZERO verify outputs when the sequential dump
    // starved its phase budget; wall time here is correctness insurance.
    val verifyThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    // daemon threads: a worker stuck in a query cannot keep the JVM alive
    // once main is done or has failed
    val pool = java.util.concurrent.Executors.newFixedThreadPool(verifyThreads, (r: Runnable) => {
      val t = new Thread(r, "graft-verify")
      t.setDaemon(true)
      t
    })
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    try {
      val tasks = selected.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            // a failed query leaves its reason next to the dumps
            val failed = Paths.get(s"$outDir/$name.failed")
            Files.deleteIfExists(failed)
            try {
              spark.sparkContext.setJobDescription(s"verify $name")
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
            } catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              Files.writeString(failed, e.toString)
            }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
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
}
