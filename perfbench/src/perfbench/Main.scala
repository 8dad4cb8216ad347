package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** The benchmark's JVM side. Runs one workload — set-up, untimed warm-up
  * with correctness checks, timed passes — and writes one JSON document.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *                       <expectedCatalog> <tmpDir> <outFile>
  */
object Main {
  /** Set-ups per run; set-up time is their median plus the warm-up. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, expected, tmpS, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val tmp = Paths.get(tmpS)
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = loadavg()
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val w: Workload = workload match {
      case "catalog" => new CatalogWorkload(seed, s"$dataDir/sf0.001", expected)
      case "sync_bulk" => new SyncBulkWorkload(seed, s"$dataDir/sf0.1", tmp)
      case "sync_trickle" => new SyncTrickleWorkload(seed, s"$dataDir/sf0.01", tmp)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val h = new Harness(cores)

    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      if (h.spark != null) h.spark.stop()
      h.spark = graft.GraftSession.local(cores, "perfbench")
      h.spark.sparkContext.setLogLevel("WARN")
      w.prepare(h)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp(h)
    val warmupS = (System.nanoTime() - w0) / 1e9

    if (trace) h.probe = Some(new SparkProbe)
    val passes = h.timedPasses(seconds)(w.pass(h))

    val e2e = h.endToEnd() ++ w.metrics(h) ++ Map(
      "setup_s" -> Metric(jvmS + Stats.median(setups) + warmupS, "s", setups.size),
      "peak_rss_mb" -> Metric(peakRssMb(), "MB"),
      "failed_ratio" -> Metric(h.failed.toDouble / math.max(1L, h.attempted), "ratio", h.attempted.toInt))
    // every per-layer metric is reported on every workload: 0 where the
    // workload does not reach that layer
    val layer: Map[String, Double] =
      if (!trace) Map.empty
      else Layers.zero ++ h.sparkLayer(passes) ++ w.layerMetrics(h, passes) ++
        Layers.fromEndToEnd.flatMap(k => e2e.get(k).map(k -> _.value)) ++ Map(
          "trace.overhead_pct" -> h.traceOverheadPct, "setup.warmup_s" -> warmupS)
    h.spark.stop()

    val doc = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> trace.toString, "nproc" -> cores.toString,
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(loadavg()),
      "inputs_sha256" -> Json.str(w.inputsDigest),
      "passes" -> passes.toString,
      "pass_walls_s" -> Json.arr(h.passWallMs.map(ms => Json.num(ms / 1e3)).toSeq),
      "untraced_pass_walls_s" -> Json.arr(h.untracedWallMs.map(ms => Json.num(ms / 1e3)).toSeq),
      "correct" -> (h.failed == 0).toString, "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "failures" -> Json.arr(h.failures.map(Json.str).toSeq),
      "setup" -> Json.obj("jvm_s" -> Json.num(jvmS), "setups_s" -> Json.arr(setups.map(Json.num)),
        "warmup_s" -> Json.num(warmupS)),
      "metrics" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, m) => k -> Json.metric(m) }: _*),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "ops" -> Json.obj(h.samples.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ss) =>
        op -> Json.obj("n" -> ss.size.toString,
          "median_ms" -> Json.num(Stats.median(ss.map(_.ms).toSeq)),
          "rows" -> ss.head.rows.toString)
      }: _*),
      "spans" -> Json.obj(Trace.summary().toSeq.sortBy(_._1).map { case (k, (n, total, self)) =>
        k -> Json.obj("n" -> n.toString, "total_ms" -> Json.num(total), "self_ms" -> Json.num(self))
      }: _*))
    Files.write(Paths.get(out), (doc + "\n").getBytes("UTF-8"))
    println(doc)
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Exception => "" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** Names of the per-layer metrics a traced run reports, on every workload. */
object Layers {
  val catalogQueries: Seq[String] = new CatalogWorkload(0L, "", "").queries.sorted
  /** Workload-specific end-to-end figures, carried as per-layer metrics. */
  val fromEndToEnd: Seq[String] = Seq("query_geomean_s", "sync_p50_ms", "sync_tail_ms",
    "stream_p50_ms", "stream_tail_ms", "failed_ratio", "peak_rss_mb")
  val zero: Map[String, Double] = (
    catalogQueries.flatMap(q => Seq("wall_s", "driver_only_ms", "jobs", "slot_use").map(m => s"queries.$q.$m")) ++
    Seq("driver_only_ms", "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "slot_use",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms", "janino_compiles",
      "janino_ms", "plan_ms", "persisted_rdds_leaked").map("spark." + _) ++
    Seq("sends", "rows", "batch_fill", "retries", "send_ms", "jdbc_insert_ms", "jdbc_update_ms").map("sinks." + _) ++
    Seq("run_ms", "pre_sink_ms", "sink_ms", "post_sink_ms", "chunks", "cdc_ms").map("sync." + _) ++
    Seq("project.load_ms", "state.ops", "state.set_ms", "state.read_ms", "state.file_bytes",
      "streaming.invocation_ms", "streaming.batches", "streaming.first_send_ms") ++
    fromEndToEnd).map(_ -> 0.0).toMap
}

/** Just enough JSON writing for the result document. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String = kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metric(m: Metric): String =
    obj(Seq("value" -> num(m.value), "unit" -> str(m.unit), "n" -> m.n.toString) ++
      m.pct.map(p => "pct" -> num(p)): _*)
}
