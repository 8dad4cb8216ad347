package perfbench

import java.nio.file.{Files, Paths}

/** The traced per-query split behind the catalog workload's choice of
  * queries: each query runs twice through the `noop` sink in one session,
  * and the second (warm) run is read with the Spark probe.
  *
  * Usage: perfbench.Split <sfDir> <q1,q2,...> <outFile>
  */
object Split {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names, out) = args
    val h = new Harness(Runtime.getRuntime.availableProcessors())
    h.spark = graft.GraftSession.local(h.cores, "perfbench-split")
    h.spark.sparkContext.setLogLevel("WARN")
    h.probe = Some(new SparkProbe)
    val rows = names.split(",").toSeq.map { q =>
      def run(): Long = {
        graft.SparkEntry.queries(q)(h.spark, sfDir).write.format("noop").mode("overwrite").save(); 0L
      }
      val coldMs = h.op(q)(run()).getOrElse(Double.NaN)
      h.timing = true
      h.probe.foreach(_.attach(h.spark))
      Trace.enabled = true
      h.op(q)(run())
      Trace.enabled = false
      h.probe.foreach(_.detach(h.spark))
      h.timing = false
      val l = h.layers.last
      Json.str(q) + ":" + Json.obj("cold_s" -> Json.num(coldMs / 1e3), "warm_s" -> Json.num(l.wallMs / 1e3),
        "jobs" -> l.jobs.toString, "driver_only_ms" -> Json.num(l.wallMs - l.inJobMs),
        "slot_use" -> Json.num(if (l.inJobMs > 0) l.runMs / (l.inJobMs * h.cores) else 0.0))
    }
    Files.write(Paths.get(out), rows.mkString("{", ",", "}\n").getBytes("UTF-8"))
    h.spark.stop()
  }
}
