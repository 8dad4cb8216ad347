package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

/** D3/D4 — true Structured Streaming paths over a file source, driven with
  * AvailableNow so specs are deterministic and hermetic. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def ts(minutes: Double): Timestamp = new Timestamp(t0 + (minutes * 60000).toLong)

  /** (event_id, ts, user_id, event_type, value) rows → parquet dir. */
  private def writeEvents(rows: Seq[(Long, Timestamp, Long, String, Double)]): String = {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("D3: readStream → watermark → window → parquet sink equals batch answer") {
    // two 5-min windows of real data + one far-future sentinel that pushes
    // the watermark past them (append mode only emits finalized windows)
    val rows = Seq(
      (1L, ts(0.0), 1L, "view", 1.0), (2L, ts(1.0), 2L, "view", 2.0),
      (3L, ts(2.0), 1L, "click", 3.0),
      (4L, ts(6.0), 3L, "view", 4.0), (5L, ts(7.0), 1L, "view", 5.0),
      (9L, ts(600.0), 9L, "sentinel", 0.0))
    val in = writeEvents(rows)
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    EventStreams.runWindowedAggToParquet(spark, in, out, ckpt)

    val got = spark.read.parquet(out)
      .select("window_start", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val expected = Set(
      (ts(0.0), "view", 2L, 3.0), (ts(0.0), "click", 1L, 3.0),
      (ts(5.0), "view", 2L, 9.0))
    assert(got == expected)
  }

  test("D4: streaming dedup drops watermark-window duplicates") {
    val rows = Seq(
      (1L, ts(0.0), 1L, "view", 1.0), (1L, ts(0.5), 1L, "view", 1.0), // dup id
      (2L, ts(1.0), 2L, "view", 2.0), (2L, ts(1.1), 2L, "view", 2.0), // dup id
      (3L, ts(2.0), 3L, "click", 3.0))
    val in = writeEvents(rows)
    val q = EventStreams.dedup(EventStreams.readEvents(spark, in))
      .writeStream.format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("D2 declarative: built-in session_window emits gap-merged sessions with exact bounds") {
    val rows = Seq(
      (1L, ts(0.0), 1L, "view", 1.0), (2L, ts(10.0), 1L, "view", 2.0), // u1 session A
      (3L, ts(60.0), 1L, "view", 4.0),                                 // u1 session B (> 30 min gap)
      (4L, ts(5.0), 2L, "view", 8.0),                                  // u2 session
      (9L, ts(600.0), 9L, "sentinel", 0.0))                            // watermark pusher
    val in = writeEvents(rows)
    val q = EventStreams.sessionWindowAgg(EventStreams.readEvents(spark, in))
      .writeStream.format("memory").queryName("sw_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sw_out")
      .filter(col("user_id") =!= 9L)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, ts(0.0), ts(40.0), 2L, 3.0),   // last event 10 min + 30 min gap
      (1L, ts(60.0), ts(90.0), 1L, 4.0),
      (2L, ts(5.0), ts(35.0), 1L, 8.0)))
  }

  test("D2 streaming: gap-closed sessions emit with exact bounds") {
    // user 1: session A (3 events, 0-10 min), 40-min gap, session B (2 events);
    // the sentinel pushes the watermark past B's close boundary so both emit.
    val rows = Seq(
      (1L, ts(0.0), 1L, "view", 1.0), (2L, ts(5.0), 1L, "view", 2.0),
      (3L, ts(10.0), 1L, "view", 3.0),
      (4L, ts(50.0), 1L, "view", 4.0), (5L, ts(55.0), 1L, "view", 5.0),
      (9L, ts(6000.0), 9L, "sentinel", 0.0))
    val in = writeEvents(rows)
    val q = EventStreams.sessionize(EventStreams.readEvents(spark, in))
      .writeStream.format("memory").queryName("sessions_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sessions_out")
      .select("user_id", "session_start_ms", "session_end_ms", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, ts(0.0).getTime, ts(10.0).getTime, 3L, 6.0),
      (1L, ts(50.0).getTime, ts(55.0).getTime, 2L, 9.0)),
      s"both closed sessions must emit with exact bounds, got $got")
  }

  // ---- multi-batch out-of-order arrivals (MemoryStream drives explicit
  // micro-batches; the watermark-buffered state ops must fold in EVENT-time
  // order, not arrival order) --------------------------------------------

  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.DataFrame

  private def eventStream(): (MemoryStream[(Long, Timestamp, Long, String, Double)], DataFrame) = {
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)](spark)
    (mem, mem.toDS().toDF("event_id", "ts", "user_id", "event_type", "value"))
  }

  test("D2 streaming: a late bridge event merges two apparent sessions (cross-batch)") {
    val (mem, df) = eventStream()
    val q = EventStreams.sessionize(df)
      .writeStream.format("memory").queryName("sessions_ooo").start()
    try {
      // batch 1: events at 0 and 40 min — 40-min gap, LOOKS like two sessions
      mem.addData((1L, ts(0.0), 1L, "view", 1.0), (2L, ts(40.0), 1L, "view", 2.0))
      q.processAllAvailable()
      // batch 2: the 20-min event arrives late (within the 30-min watermark:
      // wm = 40 - 30 = 10 min) and BRIDGES them into one session
      mem.addData((3L, ts(20.0), 1L, "view", 4.0))
      q.processAllAvailable()
      // batch 3: sentinel closes everything
      mem.addData((9L, ts(6000.0), 9L, "sentinel", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_ooo")
      .select("user_id", "session_start_ms", "session_end_ms", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, ts(0.0).getTime, ts(40.0).getTime, 3L, 7.0)),
      s"batch q51 semantics: ONE bridged session 0→40 with 3 events, got $got")
  }

  test("D9 streaming: late view in a later batch still precedes an earlier-arrived click") {
    val (mem, df) = eventStream()
    val q = EventStreams.funnelStages(df)
      .writeStream.format("memory").queryName("funnel_ooo").start()
    try {
      // batch 1: the click ARRIVES first (event time 1 min)
      mem.addData((1L, ts(1.0), 1L, "click", 0.0))
      q.processAllAvailable()
      // batch 2: the view arrives later but with EARLIER event time (0 min),
      // still watermark-valid (wm = max(1 min − 30 min, 0) = 0)
      mem.addData((2L, ts(0.0), 1L, "view", 0.0))
      q.processAllAvailable()
      // batch 3: sentinel pushes the watermark past the quiet window → flush
      mem.addData((9L, ts(6000.0), 9L, "sentinel", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_ooo")
      .select("user_id", "t_view", "t_click", "t_purchase")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2.isDefined, r._3.isDefined, r._4.isDefined))).toMap
    assert(got(1L) == ((true, true, false)),
      s"view@0 must fold BEFORE click@1 despite arriving a batch later, got $got")
  }

  test("D10 streaming: late earlier-week event assigns ONE cohort, never two") {
    val wk = 7 * 24 * 60.0
    val (mem, df) = eventStream()
    val q = EventStreams.retentionUpdates(df, watermark = "8 days")
      .writeStream.format("memory").queryName("retention_ooo").start()
    try {
      // batch 1: user 1 first seen in week 1
      mem.addData((1L, ts(wk + 1), 1L, "view", 0.0))
      q.processAllAvailable()
      // batch 2: a week-0 event arrives late (8-day watermark keeps it
      // valid) — the cohort must become week 0, with NO week-1 cohort row
      mem.addData((2L, ts(1.0), 1L, "view", 0.0))
      q.processAllAvailable()
      // batch 3: sentinel finalizes every cohort
      mem.addData((9L, ts(10 * wk), 9L, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val base = ts(0.0).getTime / 604800000L
    val got = spark.table("retention_ooo")
      .select("user_id", "cohort_week", "week_offset")
      .as[(Long, Long, Long)].collect().toSeq
      .filter(_._1 == 1L).map(r => (r._2 - base, r._3))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(got == Map((0L, 0L) -> 1, (0L, 1L) -> 1),
      s"user 1 belongs to cohort week 0 with offsets {0, 1}, exactly once each; got $got")
  }

  test("D9 streaming: funnel stage times equal the batch funnel's strict-order rule") {
    val rows = Seq(
      // user 1 completes the whole funnel in order
      (1L, ts(0.0), 1L, "view", 0.0), (2L, ts(1.0), 1L, "click", 0.0),
      (3L, ts(2.0), 1L, "purchase", 0.0),
      // user 2: click BEFORE first view → click must not count
      (4L, ts(0.0), 2L, "click", 0.0), (5L, ts(1.0), 2L, "view", 0.0),
      // user 3: view only
      (6L, ts(0.0), 3L, "view", 0.0),
      // sentinel pushes the watermark far past every quiet window
      (9L, ts(6000.0), 9L, "sentinel", 0.0))
    val in = writeEvents(rows)
    val q = EventStreams.funnelStages(EventStreams.readEvents(spark, in))
      .writeStream.format("memory").queryName("funnel_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("funnel_out")
      .select("user_id", "t_view", "t_click", "t_purchase")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2.isDefined, r._3.isDefined, r._4.isDefined))).toMap
    assert(got(1L) == ((true, true, true)))
    assert(got(2L) == ((true, false, false)), "out-of-order click must not advance the funnel")
    assert(got(3L) == ((true, false, false)))
    // aggregate = the batch q58 counts for these rows: 3 viewed, 1 clicked,
    // 1 purchased (the sentinel user's state never times out, so no row)
    val counts = got.values.toSeq
    assert(counts.count(_._1) == 3 && counts.count(_._2) == 1 && counts.count(_._3) == 1)
  }

  test("D10 streaming: retention increments aggregate to the batch cohort grid") {
    val wk = 7 * 24 * 60.0 // one week in minutes
    val rows = Seq(
      // user 1 active weeks 0,1,3 — cohort 0, offsets 0,1,3
      (1L, ts(0.0), 1L, "view", 0.0), (2L, ts(wk + 1), 1L, "view", 0.0),
      (3L, ts(3 * wk + 1), 1L, "view", 0.0),
      (4L, ts(wk + 2), 1L, "view", 0.0), // same week again — no duplicate increment
      // user 2 first active week 1, again week 2 — cohort 1, offsets 0,1
      (5L, ts(wk + 3), 2L, "view", 0.0), (6L, ts(2 * wk + 1), 2L, "view", 0.0))
    val in = writeEvents(rows)
    val q = EventStreams.retentionUpdates(EventStreams.readEvents(spark, in))
      .writeStream.format("memory").queryName("retention_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val base = ts(0.0).getTime / 604800000L
    val got = spark.table("retention_out")
      .select("cohort_week", "week_offset")
      .as[(Long, Long)].collect().toSeq
      .groupBy(identity).map { case (k, v) => (k._1 - base, k._2) -> v.size }
    // batch q59 on the same rows: cohort 0 → offsets {0,1,3}; cohort 1 → {0,1}
    assert(got == Map((0L, 0L) -> 1, (0L, 1L) -> 1, (0L, 3L) -> 1,
                      (1L, 0L) -> 1, (1L, 1L) -> 1), s"got $got")
  }

  test("D12: incremental sketch maintenance equals the one-shot batch sketches") {
    val rows1 = Seq(
      (1L, ts(0.0), 1L, "view", 0.0), (2L, ts(1.0), 2L, "view", 0.0),
      (3L, ts(2.0), 1L, "click", 0.0), (4L, ts(3.0), 1L, "view", 0.0))
    val rows2 = Seq(
      (5L, ts(10.0), 3L, "view", 0.0), (6L, ts(11.0), 1L, "view", 0.0),
      (7L, ts(12.0), 2L, "click", 0.0))
    val in = Files.createTempDirectory("graft-sketch-in").toString
    val state = Files.createTempDirectory("graft-sketch-state").toString
    val ckpt = Files.createTempDirectory("graft-sketch-ckpt").toString

    def runOnce(): Unit = EventStreams.sketchMaintenance(
      EventStreams.readEvents(spark, in), "event_type", "user_id", state, ckpt)

    // run 1: first file; run 2: a second file arrives — two separate
    // AvailableNow executions exercise the merge-with-previous path
    rows1.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    rows2.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val est = EventStreams.sketchEstimates(spark, state, k = 10)
      .select(col("event_type"), col("approx_distinct"),
        expr("transform(top_items, e -> struct(e.item AS item, e.count AS cnt))").as("top"))
      .as[(String, Long, Seq[(Long, Long)])].collect()
      .map(r => r._1 -> ((r._2, r._3.toMap))).toMap
    // exact over this tiny input: HLL is exact at these cardinalities and
    // the top-k sketch is exact under capacity
    assert(est("view")._1 == 3 && est("click")._1 == 2, s"got $est")
    assert(est("view")._2 == Map(1L -> 3L, 2L -> 1L, 3L -> 1L), s"got $est")
    assert(est("click")._2 == Map(1L -> 1L, 2L -> 1L), s"got $est")

    // replaying with the same checkpoint must not double-apply any batch
    runOnce()
    val again = EventStreams.sketchEstimates(spark, state, k = 10)
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toMap
    assert(again == Map("view" -> 3L, "click" -> 2L), s"got $again")
  }

  test("D16 streaming: transition increments aggregate to the batch matrix") {
    val rows = Seq(
      // user 1: in-order view → click → purchase (2 transitions)
      (1L, ts(0.0), 1L, "view", 0.0), (2L, ts(1.0), 1L, "click", 0.0),
      (3L, ts(2.0), 1L, "purchase", 0.0),
      // user 2 arrives out of ARRIVAL order; event-time chain is
      // view(0) → click(5) → view(9)
      (5L, ts(5.0), 2L, "click", 0.0), (4L, ts(0.0), 2L, "view", 0.0),
      (6L, ts(9.0), 2L, "view", 0.0),
      // sentinel pushes the watermark far past every quiet window
      (9L, ts(6000.0), 9L, "sentinel", 0.0))
    val in = writeEvents(rows)
    val q = EventStreams.transitionUpdates(EventStreams.readEvents(spark, in))
      .writeStream.format("memory").queryName("trans_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("trans_out").groupBy("from_type", "to_type").count()
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("view", "click") -> 2L, ("click", "purchase") -> 1L,
      ("click", "view") -> 1L), s"got $got")
  }

  test("D16 streaming: a cross-batch pair bridges through state exactly once") {
    val (mem, df) = eventStream()
    val q = EventStreams.transitionUpdates(df)
      .writeStream.format("memory").queryName("trans_ooo").start()
    try {
      // batch 1: view at 0; a far event at 100 min ripens it (wm = 70)
      mem.addData((1L, ts(0.0), 1L, "view", 0.0), (2L, ts(100.0), 1L, "click", 0.0))
      q.processAllAvailable()
      // batch 2: purchase at 200 ripens the click; the view→click pair must
      // NOT re-emit when the bridged click pairs with the purchase
      mem.addData((3L, ts(200.0), 1L, "purchase", 0.0))
      q.processAllAvailable()
      // batch 3: sentinel flushes the tail
      mem.addData((9L, ts(6000.0), 9L, "sentinel", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("trans_ooo").groupBy("from_type", "to_type").count()
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("view", "click") -> 1L, ("click", "purchase") -> 1L), s"got $got")
  }

  test("D14: incremental aggregate maintenance equals the one-shot batch aggregate") {
    val rows1 = Seq(
      (1L, ts(0.0), 1L, "view", 10.25), (2L, ts(1.0), 2L, "view", 3.75),
      (3L, ts(2.0), 1L, "click", 7.00))
    val rows2 = Seq(
      (4L, ts(10.0), 3L, "view", 0.50), (5L, ts(11.0), 1L, "click", 2.25))
    val in = Files.createTempDirectory("graft-agg-in").toString
    val state = Files.createTempDirectory("graft-agg-state").toString
    val ckpt = Files.createTempDirectory("graft-agg-ckpt").toString

    def runOnce(): Unit = EventStreams.aggMaintenance(
      EventStreams.readEvents(spark, in), Seq("event_type"), "value", state, ckpt)

    rows1.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    rows2.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val out = EventStreams.aggReadout(spark, state, Seq("event_type"))
      .select("event_type", "n_rows", "total", "min_value", "max_value", "avg_value")
      .as[(String, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // one-shot values over all five rows — decimal sums make this exact
    assert(out("view") == ((3L, 14.5, 0.5, 10.25, 14.5 / 3)), s"got $out")
    assert(out("click") == ((2L, 9.25, 2.25, 7.0, 9.25 / 2)), s"got $out")

    // replay with the same checkpoint: nothing double-applies
    runOnce()
    val again = EventStreams.aggReadout(spark, state, Seq("event_type"))
      .select("event_type", "n_rows").as[(String, Long)].collect().toMap
    assert(again == Map("view" -> 3L, "click" -> 2L), s"got $again")
  }

  test("D14: a restarted aggMaintenance stream reuses the code its earlier starts compiled") {
    val in = Files.createTempDirectory("graft-agg-reuse-in").toString
    val state = Files.createTempDirectory("graft-agg-reuse-state").toString
    val ckpt = Files.createTempDirectory("graft-agg-reuse-ckpt").toString
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def push(id: Long): Unit = Seq((id, ts(id.toDouble), id, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.aggMaintenance(
      EventStreams.readEvents(spark, in), Seq("event_type"), "value", state, ckpt)

    def compiledBy(id: Long): Long = { push(id); val before = compiles; runOnce(); compiles - before }

    // the first start writes the state, the second plans the first merge;
    // the state keeps its schema from then on, so the third start repeats
    // the second's plan
    (1 to 2).foreach { id => push(id); runOnce() }
    val third = compiledBy(3)
    val fourth = compiledBy(4)
    val out = EventStreams.aggReadout(spark, state, Seq("event_type"))
      .select("event_type", "n_rows").as[(String, Long)].collect().toMap
    assert(out == Map("view" -> 4L), s"got $out")
    assert(third == 0, s"third start compiled $third classes")
    assert(fourth == 0, s"fourth start compiled $fourth classes")
  }

  test("D18: streaming expectations monitor — per-batch quality reports, replay-safe") {
    import graft.model.Expectations._
    val in = Files.createTempDirectory("graft-exp-in").toString
    val hist = Files.createTempDirectory("graft-exp-hist").toString
    val ckpt = Files.createTempDirectory("graft-exp-ckpt").toString

    def runOnce(): Unit = EventStreams.expectationsMonitor(
      spark.readStream.schema("id LONG, status STRING").parquet(in),
      local = Seq(Unique(Seq("id")), AcceptedValues("status", Seq("ok", "warn"))),
      fks = Nil, historyRoot = hist, checkpointDir = ckpt)
    def push(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "status").coalesce(1).write.mode("append").parquet(in)

    push(Seq((1L, "ok"), (2L, "warn")))       // clean batch
    runOnce()
    push(Seq((3L, "ok"), (3L, "BAD")))        // dup id + bad status
    runOnce()

    val got = EventStreams.expectationsHistory(spark, hist)
      .select("batch_id", "expectation", "failures")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (0L, "accepted:status", 0L), (0L, "unique:id", 0L),
      (1L, "accepted:status", 1L), (1L, "unique:id", 1L)))

    runOnce() // replay: idempotent, still exactly two reports
    assert(EventStreams.expectationsHistory(spark, hist).count() == 4L)
  }

  test("D17: streaming SCD2 — upserts version history, absent keys stay open, " +
       "re-sent unchanged rows add no version") {
    val in = Files.createTempDirectory("graft-scd-in").toString
    val state = Files.createTempDirectory("graft-scd-state").toString
    val ckpt = Files.createTempDirectory("graft-scd-ckpt").toString

    def runOnce(): Unit = EventStreams.scdMaintenance(
      spark.readStream.schema("id LONG, name STRING, ts TIMESTAMP").parquet(in),
      Seq("id"), "ts", state, ckpt)
    def push(rows: Seq[(Long, String, Timestamp)]): Unit =
      rows.toDF("id", "name", "ts").coalesce(1).write.mode("append").parquet(in)

    push(Seq((1L, "alice", ts(0)), (2L, "bob", ts(0))))
    runOnce()
    // batch 2: update 1, insert 3; key 2 absent — must STAY open (no snapshot close)
    push(Seq((1L, "alicia", ts(10)), (3L, "carol", ts(10))))
    runOnce()
    // batch 3: re-send 2 unchanged — must add NO version
    push(Seq((2L, "bob", ts(20))))
    runOnce()

    def history = EventStreams.scdHistory(spark, state)
      .orderBy("id", "valid_from")
      .select("id", "name", "valid_to", "is_current")
      .as[(Long, String, Option[Timestamp], Boolean)].collect().toSeq
    assert(history == Seq(
      (1L, "alice", Some(ts(10)), false),   // closed by the batch-2 update
      (1L, "alicia", None, true),
      (2L, "bob", None, true),              // one version only, still open
      (3L, "carol", None, true)))

    // replay with the same checkpoint: nothing double-applies
    runOnce()
    assert(history.size == 4)
  }

  test("D17: streaming SCD2 seeds first-batch history even when key columns are not leading") {
    val in = Files.createTempDirectory("graft-scd2-in").toString
    val state = Files.createTempDirectory("graft-scd2-state").toString
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toString
    // key `id` is the SECOND column of the stream — the seed history must
    // still come out in applyScd2's keys ++ payload ++ meta order
    Seq(("alice", 1L, ts(0)), ("bob", 2L, ts(0)))
      .toDF("name", "id", "ts").coalesce(1).write.mode("append").parquet(in)
    EventStreams.scdMaintenance(
      spark.readStream.schema("name STRING, id LONG, ts TIMESTAMP").parquet(in),
      Seq("id"), "ts", state, ckpt)
    val hist = EventStreams.scdHistory(spark, state)
    assert(hist.columns.toSeq == Seq("id", "name", "valid_from", "valid_to", "is_current"))
    assert(hist.filter(col("is_current")).count() == 2)
  }

  test("D22: continuous shard assignment packs across batch boundaries, replay-safe") {
    val in = Files.createTempDirectory("graft-shard-in").toString
    val state = Files.createTempDirectory("graft-shard-state").toString
    val out = Files.createTempDirectory("graft-shard-out").toString
    val ckpt = Files.createTempDirectory("graft-shard-ckpt").toString
    def runOnce(): Unit = EventStreams.shardAssign(
      spark.readStream.schema("doc_id LONG, n_tokens LONG").parquet(in),
      shardTokens = 100L, state, out, ckpt)
    def push(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("doc_id", "n_tokens").coalesce(1).write.mode("append").parquet(in)

    push(Seq((1L, 40L), (2L, 40L), (3L, 40L)))  // batch 1: 120 tokens
    runOnce()
    push(Seq((4L, 30L), (5L, 30L)))              // batch 2: continues shard 1
    runOnce()

    val got = EventStreams.shardAssignments(spark, out)
      .select("doc_id", "n_tokens", "shard_id", "token_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L), "every doc assigned exactly once")
    // token offsets are the gapless global prefix in (batch, hash) order
    assert(got.map(_._4).toSeq == got.scanLeft(0L)(_ + _._2).dropRight(1).toSeq)
    assert(got.map(_._3).toSeq == got.map(_._4 / 100L).toSeq, "shard = prefix div budget")
    // batch 2 CONTINUES the part-full shard: its first doc has offset 120 → shard 1
    val batch2 = got.filter(r => Set(4L, 5L)(r._1))
    assert(batch2.head._4 == 120L && batch2.head._3 == 1L,
      s"batch 2 must continue shard 1, got ${batch2.toSeq}")

    runOnce() // replay with the same checkpoint: nothing re-emitted or double-counted
    assert(EventStreams.shardAssignments(spark, out).count() == 5)
    push(Seq((6L, 10L)))
    runOnce()
    val last = EventStreams.shardAssignments(spark, out)
      .filter(col("doc_id") === 6L).select("token_offset").as[Long].head()
    assert(last == 180L, "cumulative state survives replays and further batches")
  }

  test("D13: continuous ingestion dedup catches cross-batch near-dups via the growing index") {
    val in = Files.createTempDirectory("graft-ingest-in").toString
    val idx = Files.createTempDirectory("graft-ingest-idx").toString
    val matches = Files.createTempDirectory("graft-ingest-matches").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    def runOnce(): Unit = EventStreams.dedupIngest(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(in), idx, matches, ckpt)
    def readMatches(): Set[(Long, Long)] =
      spark.read.option("recursiveFileLookup", "true").parquet(matches)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet

    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // batch 1: two originals — nothing to match yet, index seeds
    Seq((1L, base), (2L, "totally different words one two three four five six"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    runOnce()

    // batch 2: a near-copy of doc 1 (one appended token, jaccard 8/9) and
    // a fresh doc — only the near-copy must match, against BATCH 1's slice
    Seq((10L, base + " lambda"), (11L, "fresh unrelated content seven eight nine ten eleven"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(readMatches() == Set((10L, 1L)), s"got ${readMatches()}")

    // replay on the same checkpoint: no new data, nothing re-applied
    runOnce()
    assert(readMatches() == Set((10L, 1L)))
  }

  test("D28: URL frontier emits each canonical page once across batches and spellings") {
    val in = Files.createTempDirectory("graft-frontier-in").toString
    val seen = Files.createTempDirectory("graft-frontier-seen").toString
    val out = Files.createTempDirectory("graft-frontier-out").toString
    val ckpt = Files.createTempDirectory("graft-frontier-ckpt").toString
    def runOnce(): Unit = EventStreams.urlFrontier(
      spark.readStream.schema("url STRING").parquet(in), seen, out, ckpt)
    def frontier(): Seq[(String, String, Long)] =
      spark.read.option("recursiveFileLookup", "true").parquet(out)
        .select("canonical_url", "url_example", "n_seen")
        .as[(String, String, Long)].collect().toSeq.sorted

    // batch 1: page A under two spellings (must collapse in-batch), page B
    Seq("https://a.com:443/p?utm_source=x&id=1",
        "HTTPS://A.COM/p/?id=1#top",
        "https://b.com/q").toDF("url").coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(frontier() == Seq(
      ("https://a.com/p?id=1", "HTTPS://A.COM/p/?id=1#top", 2L),
      ("https://b.com/q", "https://b.com/q", 1L)))

    // batch 2: a THIRD spelling of page A (suppressed — seen across
    // batches), and a genuinely new page C
    Seq("https://a.com/p?id=1&gclid=zz",
        "https://c.com/r?x=2").toDF("url").coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(frontier() == Seq(
      ("https://a.com/p?id=1", "HTTPS://A.COM/p/?id=1#top", 2L),
      ("https://b.com/q", "https://b.com/q", 1L),
      ("https://c.com/r?x=2", "https://c.com/r?x=2", 1L)))

    // replay on the same checkpoint: nothing re-emitted
    runOnce()
    assert(frontier().size == 3)
  }

  test("D13 crash-replay: a batch whose slices landed but whose done-marker didn't " +
       "does not probe its own slice (no spurious within-batch matches)") {
    val in = Files.createTempDirectory("graft-ingest2-in").toString
    val idx = Files.createTempDirectory("graft-ingest2-idx").toString
    val matches = Files.createTempDirectory("graft-ingest2-matches").toString
    val ckpt = Files.createTempDirectory("graft-ingest2-ckpt").toString
    def runOnce(): Unit = EventStreams.dedupIngest(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(in), idx, matches, ckpt)

    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, base), (2L, "totally different words one two three four five six"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    runOnce() // batchId 0 seeds the index

    // batch 2 (batchId 1) holds TWO docs that are near-dups of EACH OTHER
    // plus one near-copy of corpus doc 1. Simulate a crash that wrote the
    // batch's index slices but died before the done-marker: pre-write
    // bands/v1 + sets/v1 from the same rows, no _done_v1.
    val batch2 = Seq(
      (10L, base + " lambda"),
      (20L, "shared sentence repeated across the pair exactly once more"),
      (21L, "shared sentence repeated across the pair exactly once less"))
      .toDF("doc_id", "text")
    val (b2bands, b2sets) = graft.operators.Dedup.bandIndex(batch2)
    b2bands.write.mode("overwrite").parquet(s"$idx/bands/v1")
    b2sets.write.mode("overwrite").parquet(s"$idx/sets/v1")

    batch2.coalesce(1).write.mode("append").parquet(in)
    runOnce() // replayed batchId 1: must ignore its own v1 slice when probing

    val got = spark.read.option("recursiveFileLookup", "true").parquet(matches)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L)),
      s"only the cross-batch near-dup may match — within-batch pairs (20,21) " +
      s"must not leak in via the batch's own crashed slice; got $got")
  }

  test("curation crash-replay: a batch whose cum state landed but whose done-marker " +
       "didn't places its survivors from the prior batch's offset") {
    import org.apache.spark.sql.types._
    val in = Files.createTempDirectory("graft-curate2-in").toString
    val root = Files.createTempDirectory("graft-curate2-root").toString
    val ckpt = Files.createTempDirectory("graft-curate2-ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def runOnce(): Unit = EventStreams.curationSync(
      spark.readStream.schema(schema).parquet(in), schema, root, ckpt,
      shardTokens = 50L)((_, _) => ())
    def shards() = spark.read.option("recursiveFileLookup", "true").parquet(s"$root/shards")
      .select("doc_id", "token_offset", "n_tokens").as[(Long, Long, Long)].collect().toSeq

    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    runOnce() // batchId 0
    val w1tokens = shards().map(_._3).sum

    // wave 2 (batchId 1): simulate a first attempt that crashed after it
    // wrote its cum state and flipped a pointer to it, before `_done_v1`
    val wave2 = Seq((10L, "red orange yellow green blue indigo violet"),
                    (11L, "north south east west up down left right in out"))
      .toDF("doc_id", "text")
    val w2tokens = wave2.select(sum(size(graft.operators.TextOps.tokens(col("text")))))
      .head().getLong(0)
    Seq(w1tokens + w2tokens).toDF("cum_tokens").write.mode("overwrite").parquet(s"$root/state/v1")
    Files.write(java.nio.file.Paths.get(root, "state", "_latest_v1"), s"$root/state/v1".getBytes)
    wave2.coalesce(1).write.mode("append").parquet(in)
    runOnce() // replayed batchId 1

    val got = shards()
    assert(got.filter(_._1 >= 10L).map(_._2).min == w1tokens,
      s"wave 2 starts right after wave 1's $w1tokens tokens, not past its own crashed cum; got $got")
    assert(got.map(o => (o._2, o._2 + o._3)).sorted.sliding(2).forall {
      case Seq((_, e), (s, _)) => s == e; case _ => true
    } && got.map(_._2).min == 0L, s"token prefixes tile the axis with no gaps; got $got")
  }

  test("D12 crash-publish: a partial pointer tmp file never hides the previous version") {
    val in = Files.createTempDirectory("graft-sketch2-in").toString
    val state = Files.createTempDirectory("graft-sketch2-state").toString
    val ckpt = Files.createTempDirectory("graft-sketch2-ckpt").toString
    def runOnce(): Unit = EventStreams.sketchMaintenance(
      EventStreams.readEvents(spark, in), "event_type", "user_id", state, ckpt)

    Seq((1L, ts(0.0), 1L, "view", 0.0), (2L, ts(1.0), 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()

    // exactly one published pointer; superseded versions are reclaimed
    val ptrs = new java.io.File(state).listFiles.map(_.getName)
      .filter(n => n.startsWith("_latest_v") && !n.endsWith(".tmp"))
    assert(ptrs.length == 1, s"got ${ptrs.toSeq}")

    // simulate a crash mid-publish of a later batch: a stray tmp file and
    // no new versioned pointer — readers must still see the old state
    java.nio.file.Files.write(
      java.nio.file.Paths.get(state, "_latest_v7.tmp"), "garbage".getBytes)
    val est = EventStreams.sketchEstimates(spark, state, k = 10)
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toMap
    assert(est == Map("view" -> 2L), s"got $est")
  }

  test("D11: stream-stream attribution join equals the batch join") {
    val rows = Seq(
      (1L, ts(0.0), 1L, "view", 0.0),      // impression
      (2L, ts(10.0), 1L, "purchase", 9.0), // within 30-min horizon → attributed
      (3L, ts(50.0), 1L, "purchase", 7.0), // past horizon → not attributed
      (4L, ts(0.0), 2L, "view", 0.0),
      (5L, ts(5.0), 3L, "purchase", 5.0))  // no impression → dropped (inner)
    val in = writeEvents(rows)
    val impressions = EventStreams.readEvents(spark, in).filter(col("event_type") === "view")
    val conversions = EventStreams.readEvents(spark, in).filter(col("event_type") === "purchase")
    val q = EventStreams.attributionJoin(impressions, conversions)
      .writeStream.format("memory").queryName("attrib_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("attrib_out")
      .select("user_id", "impression_id", "conversion_id", "value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 1L, 2L, 9.0)),
      s"only the in-horizon same-user pair attributes, got $got")
  }

  test("D8: streaming reverse-ETL — foreachBatch drives the batch sink library") {
    val rows = Seq(
      (1L, ts(0.0), 1L, "view", 1.0), (2L, ts(1.0), 2L, "click", 2.0),
      (3L, ts(2.0), 3L, "view", 3.0))
    val in = writeEvents(rows)
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = EventStreams.readEvents(spark, in)
      .select(col("event_id"), col("user_id"))
    EventStreams.runToSink(stream, ckpt) { (batch, batchId) =>
      // stand-in for RestSink/JdbcSink: any DataFrame-consuming sink works
      seen += ((batchId, batch.count()))
    }
    assert(seen.map(_._2).sum == 3, s"all rows must reach the sink, got $seen")

    // restart on the same checkpoint: AvailableNow finds no new data, so
    // the sink must NOT be re-invoked with already-delivered rows
    EventStreams.runToSink(stream, ckpt) { (_, _) => fail("no new data, no sink call") }
  }

  test("D23: streaming classifier scoring matches the batch kernel; drift history accumulates per batch") {
    import graft.operators.TextAnalysis
    val in = Files.createTempDirectory("graft-clf-in").toString
    val hist = Files.createTempDirectory("graft-clf-hist").toString
    val ckpt = Files.createTempDirectory("graft-clf-ckpt").toString

    // train on the static documents table (English = positive), deploy
    // the weights against a stream of new docs
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val w = TextAnalysis.trainQualityWeights(docs, isPositive = col("lang") === "en")
    // the extracted weights reproduce qualityClassifier's own scores
    val viaWeights = TextAnalysis.scoreDocs(docs, w, dims = 16)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    val viaClassifier = TextAnalysis.qualityClassifier(docs, col("lang") === "en")
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    assert(viaWeights == viaClassifier,
      "trainQualityWeights + scoreDocs must equal the self-contained path")

    val thresholds = Seq(250000L, 500000L, 750000L)
    def runOnce(): Unit = EventStreams.classifierMonitor(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(in),
      w, dims = 16, thresholds = thresholds, historyRoot = hist, checkpointDir = ckpt)

    val b1 = docs.filter(col("doc_id") < 40).select("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val b2 = docs.filter(col("doc_id") >= 40 && col("doc_id") < 90).select("doc_id", "text")
    b2.coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val history = EventStreams.classifierScoreHistory(spark, hist)
    val batches = history.select("batch_id").distinct().as[Long].collect().sorted
    assert(batches.length == 2, s"one history version per batch, got ${batches.toSeq}")

    // every batch's bucket counts equal the batch-computed expectation
    for ((batch, bid) <- Seq(b1, b2).zip(batches)) {
      val expect = TextAnalysis.scoreDocs(batch.toDF(), w, dims = 16)
        .withColumn("bucket",
          thresholds.map(t => when(col("score") >= t, 1).otherwise(0)).reduce(_ + _))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .as[(Int, Long)].collect().toMap
      val got = history.filter(col("batch_id") === bid)
        .select("bucket", "n_docs").as[(Int, Long)].collect().toMap
      assert(got == expect, s"batch $bid: $got != $expect")
    }
    // drift signal is usable: per-batch predicted share derives from history
    val share = history.groupBy("batch_id")
      .agg((sum("n_predicted") * 1000000L / sum("n_docs")).as("rate"))
      .count()
    assert(share == 2)

    // replay on the same checkpoint: no new data, no new history version
    runOnce()
    assert(EventStreams.classifierScoreHistory(spark, hist)
      .select("batch_id").distinct().count() == 2)
  }

  test("D29: streaming KS drift matches the batch kernel; a biased batch scores higher; replay-safe") {
    import graft.operators.Drift
    val in = Files.createTempDirectory("graft-ks-in").toString
    val hist = Files.createTempDirectory("graft-ks-hist").toString
    val ckpt = Files.createTempDirectory("graft-ks-ckpt").toString

    // calibration reference: the static corpus's length distribution
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reference = docs.groupBy(col("n_chars").cast("long").as("v"))
      .agg(count(lit(1)).as("c")).as[(Long, Long)].collect().toSeq

    def runOnce(): Unit = EventStreams.ksDriftMonitor(
      spark.readStream.schema("doc_id LONG, source STRING, n_chars LONG").parquet(in),
      reference, historyRoot = hist, checkpointDir = ckpt,
      sliceCol = "source", valueCol = "n_chars")

    // batch 1: an unbiased slice of the corpus; batch 2: only LONG docs —
    // a genuinely drifted distribution
    val b1 = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
    b1.coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val b2 = docs.filter(col("n_chars") > 400)
      .select(col("doc_id"), lit("drifted").as("source"), col("n_chars").cast("long").as("n_chars"))
    b2.coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val history = EventStreams.ksDriftHistory(spark, hist)
    val batches = history.select("batch_id").distinct().as[Long].collect().sorted
    assert(batches.length == 2, s"one history version per batch, got ${batches.toSeq}")

    // each batch's history rows equal the batch-computed kernel output
    val refDf = reference.toDF("v", "c")
    for ((batch, bid) <- Seq(b1, b2).zip(batches)) {
      val expect = Drift.ksVsReference(batch.toDF(), refDf, col("source"), col("n_chars"))
        .select("slice", "ks_pm").as[(String, Long)].collect().toMap
      val got = history.filter(col("batch_id") === bid)
        .select("slice", "ks_pm").as[(String, Long)].collect().toMap
      assert(got == expect, s"batch $bid: $got != $expect")
    }
    // the alarm signal works: the long-docs batch drifts far more than
    // any unbiased per-source slice of batch 1
    val calmMax = history.filter(col("batch_id") === batches(0))
      .agg(max("ks_pm")).as[Long].head()
    val drifted = history.filter(col("batch_id") === batches(1) && col("slice") === "drifted")
      .select("ks_pm").as[Long].head()
    assert(drifted > calmMax && drifted > 500,
      s"drifted=$drifted must exceed calm max=$calmMax")

    // replay on the same checkpoint: no new data, no new history version
    runOnce()
    assert(EventStreams.ksDriftHistory(spark, hist)
      .select("batch_id").distinct().count() == 2)
  }

  test("D38: streaming PSI matches the batch kernel; drifted batch alarms; replay-safe") {
    import graft.operators.Drift
    val in = Files.createTempDirectory("graft-psi-in").toString
    val hist = Files.createTempDirectory("graft-psi-hist").toString
    val ckpt = Files.createTempDirectory("graft-psi-ckpt").toString

    // calibration: the static corpus's length distribution binned at the
    // calibration extrema — the fixed edges every batch scores against
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bins = 10
    val (mn, mx) = docs.agg(min(col("n_chars").cast("long")), max(col("n_chars").cast("long")))
      .as[(Long, Long)].head()
    val refCounts = docs
      .select(expr(s"greatest(0L, least(${bins - 1}L, " +
        s"cast(cast(n_chars - ${mn}L as decimal(38,0)) * $bins div (cast(${mx}L as decimal(38,0)) - ${mn}L + 1) as long)))").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c")).as[(Long, Long)].collect().toSeq

    def runOnce(): Unit = EventStreams.psiMonitor(
      spark.readStream.schema("doc_id LONG, n_chars LONG").parquet(in),
      refCounts, mn, mx, bins, historyRoot = hist, checkpointDir = ckpt,
      valueCol = "n_chars")

    // batch 1: an unbiased slice; batch 2: only LONG docs + some values
    // OUTSIDE the calibration range (must clamp, not error)
    val b1 = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    b1.coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val b2 = docs.filter(col("n_chars") > 400)
      .select(col("doc_id"), (col("n_chars") + 2000).cast("long").as("n_chars"))
    b2.coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val history = EventStreams.psiHistory(spark, hist)
    val batches = history.select("batch_id").distinct().as[Long].collect().sorted
    assert(batches.length == 2, s"one history version per batch, got ${batches.toSeq}")

    // each batch's history rows equal the batch-computed kernel output
    for ((batch, bid) <- Seq(b1, b2).zip(batches)) {
      val expect = Drift.psiVsReference(batch.toDF(), col("n_chars"), refCounts, mn, mx, bins)
        .select("bin", "n_cur", "term_q10ppm", "psi_q10ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
      val got = history.filter(col("batch_id") === bid)
        .select("bin", "n_cur", "term_q10ppm", "psi_q10ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expect, s"batch $bid: $got != $expect")
    }
    // the alarm signal works: out-of-range mass clamps into the top bin
    // and the drifted batch's PSI dwarfs the calm batch's
    val calm = history.filter(col("batch_id") === batches(0))
      .select("psi_q10ppm").distinct().as[Long].head()
    val drifted = history.filter(col("batch_id") === batches(1))
      .select("psi_q10ppm").distinct().as[Long].head()
    assert(drifted > calm * 10 && drifted > 148L * 1000000,
      s"drifted=$drifted must alarm over calm=$calm")
    val topBin = history.filter(col("batch_id") === batches(1) && col("bin") === (bins - 1))
      .select("n_cur").as[Long].head()
    assert(topBin == b2.count(), "out-of-range values clamp into the edge bin")

    // replay on the same checkpoint: no new data, no new history version
    runOnce()
    assert(EventStreams.psiHistory(spark, hist)
      .select("batch_id").distinct().count() == 2)
  }

  test("D25: continuous enrichment-view maintenance tracks fact deltas AND dim drift, replay-safe") {
    val in = Files.createTempDirectory("graft-enrich-in").toString
    val state = Files.createTempDirectory("graft-enrich-state").toString
    val ckpt = Files.createTempDirectory("graft-enrich-ckpt").toString
    var dim = Seq((10L, "ten"), (20L, "twenty")).toDF("dk", "name")
    def runOnce(): Unit = EventStreams.enrichmentMaintain(
      spark.readStream.schema("fk LONG, dk LONG, v DOUBLE, _deleted BOOLEAN").parquet(in),
      () => dim, state, ckpt, factKey = "fk", dimKey = "dk")
    def push(rows: Seq[(Long, Long, Double, Boolean)]): Unit =
      rows.toDF("fk", "dk", "v", "_deleted").coalesce(1).write.mode("append").parquet(in)
    def view(): Set[(Long, Long, Double, String)] =
      EventStreams.enrichmentView(spark, state)
        .select("fk", "dk", "v", "name")
        .as[(Long, Long, Double, String)].collect().toSet

    push(Seq((1L, 10L, 5.0, false), (2L, 20L, 6.0, false)))
    runOnce()
    assert(view() == Set((1L, 10L, 5.0, "ten"), (2L, 20L, 6.0, "twenty")))

    // batch 2: fact update + insert + tombstone delete, dim drifts too
    dim = Seq((10L, "ten_v2"), (20L, "twenty"), (30L, "thirty")).toDF("dk", "name")
    push(Seq((1L, 10L, 7.5, false), (3L, 30L, 2.0, false), (2L, 0L, 0.0, true)))
    runOnce()
    assert(view() == Set((1L, 10L, 7.5, "ten_v2"), (3L, 30L, 2.0, "thirty")),
      s"got ${view()}")

    // replay on the same checkpoint: nothing double-applies
    runOnce()
    assert(view() == Set((1L, 10L, 7.5, "ten_v2"), (3L, 30L, 2.0, "thirty")))

    // a later batch sees the carried state; dim delete nulls its rows out
    dim = Seq((10L, "ten_v2"), (20L, "twenty")).toDF("dk", "name")
    push(Seq((4L, 20L, 1.0, false)))
    runOnce()
    val v3 = EventStreams.enrichmentView(spark, state)
      .select("fk", "dk", "v", "name")
      .as[(Long, Long, Double, Option[String])].collect().toSet
    assert(v3 == Set((1L, 10L, 7.5, Some("ten_v2")), (4L, 20L, 1.0, Some("twenty")),
      (3L, 30L, 2.0, None)), s"got $v3")
  }

  test("D24: budget burn-down accumulates per domain, flags crossings the batch they happen") {
    val in = Files.createTempDirectory("graft-budget-in").toString
    val state = Files.createTempDirectory("graft-budget-state").toString
    val report = Files.createTempDirectory("graft-budget-report").toString
    val ckpt = Files.createTempDirectory("graft-budget-ckpt").toString
    val plan = Map("web" -> 10L, "books" -> 100L)
    def runOnce(): Unit = EventStreams.budgetMonitor(
      spark.readStream.schema("doc_id LONG, source STRING, text STRING").parquet(in),
      plan, state, report, ckpt)
    def push(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("append").parquet(in)

    push(Seq((1L, "web", "a b c d e f"), (2L, "books", "x y z")))   // web 6, books 3
    runOnce()
    push(Seq((3L, "web", "g h i j k"), (4L, "wild", "q r")))        // web +5 → 11 > 10
    runOnce()

    val hist = EventStreams.budgetHistory(spark, report)
      .select("batch_id", "domain", "batch_tokens", "consumed_tokens",
        "remaining", "over_budget")
      .as[(Long, String, Long, Long, Option[Long], Boolean)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // batch 0: within budget
    assert(hist((0L, "web")) == ((6L, 6L, Some(4L), false)))
    assert(hist((0L, "books")) == ((3L, 3L, Some(97L), false)))
    // batch 1: web crosses its allocation THIS batch; books carries state
    // without new rows; the unplanned domain flags immediately, NULL alloc
    assert(hist((1L, "web")) == ((5L, 11L, Some(-1L), true)))
    assert(hist((1L, "books")) == ((0L, 3L, Some(97L), false)))
    assert(hist((1L, "wild")) == ((2L, 2L, None, true)))

    // replay: no double count, no extra report version
    runOnce()
    assert(EventStreams.budgetHistory(spark, report)
      .select("batch_id").distinct().count() == 2)
    push(Seq((5L, "books", "m n")))
    runOnce()
    val b3 = EventStreams.budgetHistory(spark, report)
      .filter(col("domain") === "books").agg(max("consumed_tokens"))
      .as[Long].head()
    assert(b3 == 5L, "state must survive replay and accumulate further batches")
  }

  test("D27: continuous drift monitor's final report equals the one-shot q162 audit") {
    import graft.queries.{ReverseEtl, Tables}
    val in = Files.createTempDirectory("graft-drift-in").toString
    val state = Files.createTempDirectory("graft-drift-state").toString
    val report = Files.createTempDirectory("graft-drift-report").toString
    val ckpt = Files.createTempDirectory("graft-drift-ckpt").toString
    val t = Tables(spark, sfDir)
    val oneShot = ReverseEtl.q162DriftAudit(t)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val refPpm = oneShot.map(r => r._1 -> r._4).toMap // bin -> share_old_ppm

    // stream the CURRENT period (post-1997 orders) in three arbitrary cuts
    val cur = t.orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Double)].collect().sortBy(_._1)
    def runOnce(): Unit = EventStreams.driftMonitor(
      spark.readStream.schema("o_orderkey LONG, o_totalprice DOUBLE").parquet(in),
      refPpm, binWidth = 25000.0, metricCol = "o_totalprice", state, report, ckpt)
    cur.grouped((cur.length + 2) / 3).foreach { c =>
      c.toSeq.toDF("o_orderkey", "o_totalprice").coalesce(1).write.mode("append").parquet(in)
      runOnce()
    }
    val lastBatch = EventStreams.driftHistory(spark, report)
      .agg(max("batch_id")).as[Long].head()
    val finalRep = EventStreams.driftHistory(spark, report)
      .filter(col("batch_id") === lastBatch)
      .select("bin", "cum_n", "share_cum_ppm", "ref_ppm", "gap_ppm", "tvd_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // once the whole current period has streamed, the cumulative report IS
    // the batch audit: same bins, counts, current shares, gaps, TVD
    val expect = oneShot.map(r => (r._1, r._3, r._5, r._4, r._6, r._7)).sortBy(_._1)
    assert(finalRep == expect)

    runOnce() // replay: nothing double-counts
    val again = EventStreams.driftHistory(spark, report)
      .agg(max("batch_id")).as[Long].head()
    assert(again == lastBatch)
  }

  test("D26: continuous concurrency slices merge exactly to the batch q158 sweep") {
    import graft.queries.{Events, Tables}
    val in = Files.createTempDirectory("graft-conc-in").toString
    val state = Files.createTempDirectory("graft-conc-state").toString
    val out = Files.createTempDirectory("graft-conc-out").toString
    val ckpt = Files.createTempDirectory("graft-conc-ckpt").toString
    def runOnce(): Unit = EventStreams.concurrencyMonitor(
      spark.readStream.schema("t_us LONG, delta LONG, user_id LONG, session_seq LONG")
        .parquet(in), state, out, ckpt)

    // the real sf0.001 session boundaries, cut into three time-ordered
    // batches at arbitrary points — opens and closes land in different
    // batches, so the carry genuinely bridges open sessions
    val t = Tables(spark, sfDir)
    val sessions = Events.sessionIntervals(t)
      .as[(Long, Long, Long, Long)].collect() // user, seq, start, end
    val bounds = sessions.flatMap { case (u, s, lo, hi) =>
      Seq((lo, 1L, u, s), (hi + 1, -1L, u, s))
    }.sortBy(b => (b._1, b._2, b._3, b._4))
    val chunks = bounds.grouped((bounds.length + 2) / 3).toSeq
    chunks.zipWithIndex.foreach { case (c, _) =>
      c.toSeq.toDF("t_us", "delta", "user_id", "session_seq")
        .coalesce(1).write.mode("append").parquet(in)
      runOnce()
    }
    // the merge law: max(peak), sum(starts), sum(ends) per day over slices
    val merged = EventStreams.concurrencySlices(spark, out)
      .groupBy("day")
      .agg(max("peak_concurrency").as("peak_concurrency"),
           sum("n_starts").as("n_starts"), sum("n_ends").as("n_ends"))
      .orderBy("day")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val oneShot = Events.q158Concurrency(t)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(merged == oneShot, "slices must merge exactly to the batch sweep")

    runOnce() // replay: no new slices, carry not advanced twice
    val again = EventStreams.concurrencySlices(spark, out)
      .groupBy("day").agg(max("peak_concurrency"), sum("n_starts"), sum("n_ends"))
      .orderBy("day").as[(Long, Long, Long, Long)].collect().toSeq
    assert(again == oneShot)
  }

  test("D30: streaming CUSUM continues the exact walk across any batch cut; alarms on slow drift; replay-safe") {
    val in = Files.createTempDirectory("graft-cusum-in").toString
    val state = Files.createTempDirectory("graft-cusum-state").toString
    val hist = Files.createTempDirectory("graft-cusum-hist").toString
    val ckpt = Files.createTempDirectory("graft-cusum-ckpt").toString
    val level = 10L
    val threshold = 40L

    // series "calm": noise around the calibration level; series "drift":
    // level + 2 every point — no single batch looks alarming, the
    // accumulated excursion does
    val rnd = new scala.util.Random(5)
    val pts = (0 until 60).flatMap { t =>
      Seq(("calm", t.toLong, level + rnd.nextInt(5) - 2),
        ("drift", t.toLong, level + 2L))
    }

    // the driver-side textbook recursion — the truth the monitor's
    // carried closed form must reproduce at every cut
    def ref(vals: Seq[Long]): (Long, Long) = {
      var h = 0L; var l = 0L
      vals.foreach { x =>
        h = math.max(0L, h + (x - level)); l = math.max(0L, l - (x - level))
      }
      (h, l)
    }
    val refEnd = Map(
      "calm" -> ref(pts.filter(_._1 == "calm").sortBy(_._2).map(_._3)),
      "drift" -> ref(pts.filter(_._1 == "drift").sortBy(_._2).map(_._3)))

    def runOnce(): Unit = EventStreams.cusumMonitor(
      spark.readStream.schema("series STRING, t LONG, x LONG").parquet(in),
      level, threshold, stateRoot = state, historyRoot = hist,
      checkpointDir = ckpt, seriesCol = "series", timeCol = "t", valueCol = "x")

    // three UNEVEN cuts — the carry must bridge them exactly
    for ((lo, hi) <- Seq((0, 13), (13, 41), (41, 60))) {
      pts.filter(p => p._2 >= lo && p._2 < hi).toDF("series", "t", "x")
        .coalesce(1).write.mode("append").parquet(in)
      runOnce()
    }

    val end = EventStreams.cusumState(spark, state)
      .select("series", "s_high", "s_low").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(end("calm") == refEnd("calm"), s"calm: ${end("calm")} != ${refEnd("calm")}")
    assert(end("drift") == refEnd("drift"), s"drift: ${end("drift")} != ${refEnd("drift")}")

    // the slow drift alarms (2/point × 60 points ≫ threshold), and only
    // once the walk has had time to accumulate — never in batch 1
    val history = EventStreams.cusumHistory(spark, hist)
    val alarms = history.filter(col("alarm_high"))
      .select("series", "batch_id").as[(String, Long)].collect().toSeq
    assert(alarms.nonEmpty && alarms.forall(_._1 == "drift"), s"alarms: $alarms")
    val firstAlarm = alarms.map(_._2).min
    val batches = history.select("batch_id").distinct().as[Long].collect().sorted
    assert(batches.length == 3)
    assert(firstAlarm > batches.head, "a slow drift must take >1 batch to alarm")
    assert(!end.contains("calm-alarm")) // calm never alarms
    assert(history.filter(col("alarm_high") && col("series") === "calm").count() == 0)

    // replay on the same checkpoint: no new data — state pointer and
    // history versions unchanged
    runOnce()
    assert(EventStreams.cusumHistory(spark, hist)
      .select("batch_id").distinct().count() == 3)
    val endAgain = EventStreams.cusumState(spark, state)
      .select("series", "s_high", "s_low").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(endAgain == end)
  }

  test("D31: incremental identity resolution — adopt, mint, transitive clusters, merge ledger, replay-safe") {
    val in = Files.createTempDirectory("graft-link-in").toString
    val state = Files.createTempDirectory("graft-link-state").toString
    val out = Files.createTempDirectory("graft-link-out").toString
    val ckpt = Files.createTempDirectory("graft-link-ckpt").toString

    def runOnce(): Unit = EventStreams.linkageIngest(
      spark.readStream.schema("id LONG, blk STRING, f0 STRING, f1 STRING").parquet(in),
      stateRoot = state, outRoot = out, checkpointDir = ckpt,
      idCol = "id", blockCols = Seq("blk"),
      fields = Seq(("f0", 30L, -5L), ("f1", 30L, -5L)), matchThreshold = 25L)

    // batch 1: records 1+2 link transitively (one minted entity 1),
    // 5 and 7 are singletons
    Seq((1L, "b", "X", "Y"), (2L, "b", "X", "Y"), (5L, "b", "W", "Z"),
      (7L, "c", "Q", "R")).toDF("id", "blk", "f0", "f1")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    // batch 2: 9 matches the stored 1/2 → ADOPTS entity 1; 10 mints
    Seq((9L, "b", "X", "Y"), (10L, "b", "T", "U")).toDF("id", "blk", "f0", "f1")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    // batch 3: 20 = (X, Z) bridges entity 1 (agrees f0 with 1/2/9:
    // 30−5 = 25) AND entity 5 (agrees f1 with 5: −5+30 = 25) → adopts
    // the smaller entity 1 and the ledger records 5 folding into 1
    Seq((20L, "b", "X", "Z")).toDF("id", "blk", "f0", "f1")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val entities = EventStreams.linkageEntities(spark, state)
      .select("id", "entity_id").as[(Long, Long)].collect().toMap
    assert(entities == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L,
      9L -> 1L, 10L -> 10L, 20L -> 1L), s"entities: $entities")
    val merges = EventStreams.linkageMerges(spark, out)
      .select("entity_kept", "entity_merged", "batch_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(merges.map(m => (m._1, m._2)) == Set((1L, 5L)), s"merges: $merges")

    // replay on the same checkpoint: no new data — nothing changes
    runOnce()
    assert(EventStreams.linkageEntities(spark, state).count() == 7)
    assert(EventStreams.linkageMerges(spark, out).count() == 1)
  }

  test("D32: maintained retrieval index scores BM25 identically to the one-shot batch path") {
    val b1 = Seq((1L, "spark join agg spark"), (2L, "table scan slow"),
      (3L, "spark window data"))
    val b2 = Seq((4L, "join join agg table"), (5L, "merge sort hash window"))
    val b3 = Seq((6L, "data row value key"), (7L, "spark join agg table scan"))
    val queries = Seq(1 -> "spark join", 2 -> "slow scan table")

    val in = Files.createTempDirectory("graft-idx-in").toString
    val state = Files.createTempDirectory("graft-idx-state").toString
    val ckpt = Files.createTempDirectory("graft-idx-ckpt").toString
    def push(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.indexMaintenance(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(in), state, ckpt)

    push(b1); runOnce()
    push(b2); runOnce()
    push(b3); runOnce()

    val fromIndex = EventStreams.bm25FromIndex(spark, state, queries, k = 5)
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    val oneShot = graft.operators.Search.bm25TopK(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), queries, k = 5)
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    assert(fromIndex == oneShot, s"index: $fromIndex\nbatch: $oneShot")
    assert(fromIndex.nonEmpty)

    // merged scalars are the corpus totals
    val st = EventStreams.indexStats(spark, state).as[(Long, Long)].head()
    assert(st == ((7L, (b1 ++ b2 ++ b3).map(_._2.split(" ").length.toLong).sum)))
    // df merged additively across batches: 'spark' appears in docs 1,3,7
    val df = EventStreams.indexTerms(spark, state)
      .filter(col("term") === "spark").select("df").as[Long].head()
    assert(df == 3L)

    // replay with the same checkpoint: nothing double-applies
    runOnce()
    val again = EventStreams.bm25FromIndex(spark, state, queries, k = 5)
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    assert(again == oneShot)
  }

  test("D34: streaming winnowing ingest catches cross-batch excerpts; within-batch stays out") {
    val shared = "The quick brown fox jumps over the lazy dog again and again"
    def noise(seed: Int, n: Int) = {
      val r = new scala.util.Random(seed); Seq.fill(n)(('a' + r.nextInt(26)).toChar).mkString
    }
    val b1 = Seq((1L, noise(1, 50) + shared), (2L, noise(2, 120)))
    val b2 = Seq((10L, noise(3, 140)), (11L, noise(4, 30) + shared + noise(5, 30)))
    val b3 = Seq((20L, shared + noise(6, 60)), (21L, noise(4, 30) + shared + noise(5, 30)))
    val in = Files.createTempDirectory("graft-win-in").toString
    val idx = Files.createTempDirectory("graft-win-idx").toString
    val out = Files.createTempDirectory("graft-win-out").toString
    val ckpt = Files.createTempDirectory("graft-win-ckpt").toString
    def push(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.winnowIngest(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(in),
      idx, out, ckpt, minShared = 1L)

    push(b1); runOnce()
    push(b2); runOnce()
    push(b3); runOnce()

    val matches = EventStreams.winnowMatches(spark, out)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    // doc 11 (batch 2) lifted the excerpt from doc 1 (batch 1)
    assert(matches.contains((11L, 1L)), s"cross-batch excerpt missed: $matches")
    // docs 20/21 (batch 3) match both earlier carriers, two batches apart
    assert(matches.contains((20L, 1L)) && matches.contains((20L, 11L)), s"$matches")
    assert(matches.contains((21L, 1L)) && matches.contains((21L, 11L)), s"$matches")
    // noise-only docs never match
    assert(!matches.exists(p => p._1 == 10L || p._2 == 10L || p._1 == 2L || p._2 == 2L))
    // within-batch pairs are not this operator's job (20 vs 21 same batch)
    assert(!matches.contains((21L, 20L)) && !matches.contains((20L, 21L)))

    // replay: nothing double-applies
    val n = EventStreams.winnowMatches(spark, out).count()
    runOnce()
    assert(EventStreams.winnowMatches(spark, out).count() == n)
  }

  test("D33: maintained KMV sketches equal the one-shot build bit-for-bit after 3 batches") {
    // three batches over two slices with overlap across batches
    val b1 = (0 until 300).map(i => ("A", s"v$i")) ++ (0 until 150).map(i => ("B", s"w$i"))
    val b2 = (200 until 500).map(i => ("A", s"v$i")) ++ (100 until 400).map(i => ("B", s"w$i"))
    val b3 = (0 until 100).map(i => ("A", s"w$i")) // cross-slice values into A
    val in = Files.createTempDirectory("graft-kmv-in").toString
    val state = Files.createTempDirectory("graft-kmv-state").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt").toString
    def push(rows: Seq[(String, String)]): Unit =
      rows.toDF("slice", "v").coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.kmvMaintenance(
      spark.readStream.schema("slice STRING, v STRING").parquet(in),
      "slice", "v", state, ckpt, k = 128)

    push(b1); runOnce()
    push(b2); runOnce()
    push(b3); runOnce()

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("slice", "rk", "hu", "n_kept", "est")
      .as[(String, Long, java.math.BigDecimal, Long, Long)]
      .collect().map(r => (r._1, r._2, r._3.toBigInteger, r._4, r._5)).toSet
    val maintained = norm(EventStreams.kmvState(spark, state))
    val oneShot = norm(graft.operators.Sketches.kmvSketches(
      (b1 ++ b2 ++ b3).toDF("slice", "v"), "slice", "v", k = 128))
    assert(maintained == oneShot, "closure law: merged state == one-shot sketch")

    // pairwise estimates from state equal the batch-path pairs
    val fromState = EventStreams.kmvPairsFromState(spark, state, k = 128)
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSet
    val direct = graft.operators.Sketches.kmvPairs(
        graft.operators.Sketches.kmvSketches(
          (b1 ++ b2 ++ b3).toDF("slice", "v"), "slice", "v", k = 128), k = 128)
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(fromState == direct && fromState.nonEmpty)

    // replay with the same checkpoint: nothing changes
    runOnce()
    assert(norm(EventStreams.kmvState(spark, state)) == oneShot)
  }

  test("D35: maintained contingency chi-square equals the one-shot per version; replay-safe") {
    // three batches; dependence strengthens over time: batch 1 is an
    // exact product table (chi2 = 0), batches 2-3 pile mass onto the
    // diagonal so V² must strictly rise version over version
    val b1 = for (x <- 0 until 2; y <- 0 until 2; _ <- 0 until 25) yield (s"x$x", s"y$y")
    val b2 = Seq.fill(60)(("x0", "y0")) ++ Seq.fill(10)(("x1", "y1"))
    val b3 = Seq.fill(80)(("x1", "y1"))
    val in = Files.createTempDirectory("graft-dep-in").toString
    val state = Files.createTempDirectory("graft-dep-state").toString
    val rep = Files.createTempDirectory("graft-dep-rep").toString
    val ckpt = Files.createTempDirectory("graft-dep-ckpt").toString
    def push(rows: Seq[(String, String)]): Unit =
      rows.toDF("lang", "src").coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.dependenceMonitor(
      spark.readStream.schema("lang STRING, src STRING").parquet(in),
      "lang", "src", state, rep, ckpt)

    push(b1); runOnce()
    push(b2); runOnce()
    push(b3); runOnce()

    // maintained cells == the one-shot contingency of everything so far
    val cells = EventStreams.dependenceState(spark, state)
      .as[(String, String, Long)].collect().toSet
    val all = b1 ++ b2 ++ b3
    val expect = all.groupBy(identity).map { case ((x, y), v) => (x, y, v.size.toLong) }.toSet
    assert(cells == expect, "additivity: maintained cells == one-shot counts")

    // every version's report equals chiSquare over that prefix
    val hist = EventStreams.dependenceHistory(spark, rep)
      .select("batch_id", "n_rows", "chi2_ppm", "v2_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(hist.length == 3)
    val prefixes = Seq(b1, b1 ++ b2, all)
    for (((bid, n, chi2, v2), pre) <- hist.zip(prefixes)) {
      val direct = graft.operators.Dependence.chiSquare(
          pre.toDF("a", "b"), col("a"), col("b"))
        .select("n_rows", "chi2_ppm", "v2_ppm").as[(Long, Long, Long)].head()
      assert((n, chi2, v2) == direct, s"version $bid equals one-shot over its prefix")
    }
    assert(hist(0)._3 == 0L, "product-structured batch 1 scores exactly 0")
    assert(hist(0)._4 < hist(1)._4 && hist(1)._4 < hist(2)._4,
      "V² strictly rises as diagonal mass accumulates")

    // replay with the same checkpoint: no new version, state unchanged
    runOnce()
    assert(EventStreams.dependenceHistory(spark, rep).count() == 3)
    assert(EventStreams.dependenceState(spark, state)
      .as[(String, String, Long)].collect().toSet == expect)
  }

  test("D36: maintained EWMA walk equals the one-shot walk; late points dropped; replay-safe") {
    val rnd = new scala.util.Random(31)
    val a = (0L until 30L).map(t => ("a", t, rnd.nextInt(800).toLong))
    val b = (0L until 22L).map(t => ("b", t, rnd.nextInt(90).toLong))
    val full = a ++ b
    // arbitrary cuts; batch 3 also replays a LATE point (a, 5) that the
    // monitor must drop
    val b1 = a.slice(0, 7) ++ b.slice(0, 1)
    val b2 = a.slice(7, 8) ++ b.slice(1, 15)
    val b3 = a.slice(8, 30) ++ b.slice(15, 22) :+ (("a", 5L, 999L))
    val in = Files.createTempDirectory("graft-ewma-in").toString
    val state = Files.createTempDirectory("graft-ewma-state").toString
    val rep = Files.createTempDirectory("graft-ewma-rep").toString
    val ckpt = Files.createTempDirectory("graft-ewma-ckpt").toString
    def push(rows: Seq[(String, Long, Long)]): Unit =
      rows.toDF("series", "t", "v").coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.ewmaMonitor(
      spark.readStream.schema("series STRING, t LONG, v LONG").parquet(in),
      "series", "t", "v", state, rep, ckpt)

    push(b1); runOnce()
    push(b2); runOnce()
    push(b3); runOnce()

    val maintained = EventStreams.ewmaHistory(spark, rep)
      .select("series", "t", "v", "sm", "fc", "err")
      .as[(String, Long, Long, Long, Option[Long], Option[Long])].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val oneShot = graft.operators.Smoothing.ewma(
        full.toDF("s", "t", "v"), col("s"), col("t"), col("v"))
      .select("series", "t", "v", "sm", "fc", "err")
      .as[(String, Long, Long, Long, Option[Long], Option[Long])].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(maintained == oneShot, "carry law: concatenated reports == one-shot walk")
    assert(!maintained.exists(r => r._1 == "a" && r._2 == 5L && r._3 == 999L),
      "the late replayed point never enters the walk")

    // state carries each series' last point
    val st = EventStreams.ewmaState(spark, state)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st("a") == ((29L, oneShot.filter(_._1 == "a").last._4)))
    assert(st("b") == ((21L, oneShot.filter(_._1 == "b").last._4)))

    // replay: nothing changes
    runOnce()
    assert(EventStreams.ewmaHistory(spark, rep)
      .select("series", "t").count() == full.size)
  }

  test("D39: maintained Markov attribution equals the batch kernel across arbitrary batch cuts") {
    import graft.operators.Attribution
    val in = Files.createTempDirectory("graft-mkv-in").toString
    val state = Files.createTempDirectory("graft-mkv-state").toString
    val report = Files.createTempDirectory("graft-mkv-report").toString
    val ckpt = Files.createTempDirectory("graft-mkv-ckpt").toString

    // quiet window 300 min: wide enough that the watermark pushers
    // (needed to ripen buffered events) do not flush the journeys that
    // convert across batch cuts at +80/85 min; u7's 100-min click still
    // abandons once the sentinel advances the watermark past 400 min
    def runOnce(): Unit = EventStreams.markovAttributionMonitor(
      EventStreams.readEvents(spark, in), convChannel = "purchase",
      stateRoot = state, reportRoot = report, checkpointDir = ckpt,
      quietMs = 300 * 60 * 1000L)
    def append(rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)

    // journeys cut across FIVE batch boundaries: u1 converts across a
    // cut, u2 converts inside one batch, u3's journey opens in batch 1
    // and converts in batch 3, u7 is abandoned (quiet-gap NULL flush)
    append(Seq((1L, ts(0.0), 1L, "view", 0.0), (2L, ts(1.0), 1L, "click", 0.0),
      (3L, ts(2.0), 2L, "view", 0.0), (4L, ts(3.0), 2L, "purchase", 0.0),
      (5L, ts(4.0), 3L, "view", 0.0)))
    runOnce()
    append(Seq((6L, ts(100.0), 7L, "click", 0.0)))
    runOnce()
    append(Seq((7L, ts(80.0), 1L, "purchase", 0.0), (8L, ts(85.0), 3L, "purchase", 0.0)))
    runOnce()
    append(Seq((9L, ts(6000.0), 9L, "view", 0.0)))
    runOnce()
    append(Seq((10L, ts(6001.0), 8L, "view", 0.0)))
    runOnce()

    // closed users: 1, 2, 3 (conversions) and 7 (quiet-gap NULL flush);
    // the batch kernel over exactly their rows must equal the state
    val closedRows = Seq(
      (1L, ts(0.0), 1L, "view"), (2L, ts(1.0), 1L, "click"),
      (3L, ts(2.0), 2L, "view"), (4L, ts(3.0), 2L, "purchase"),
      (5L, ts(4.0), 3L, "view"), (7L, ts(80.0), 1L, "purchase"),
      (8L, ts(85.0), 3L, "purchase"), (6L, ts(100.0), 7L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val wantTr = Attribution.markovTransitions(closedRows,
        "user_id", "event_type", "ts", "event_id", "purchase")
      .as[(String, String, Long)].collect().toSet
    val gotTr = EventStreams.markovState(spark, state)
      .as[(String, String, Long)].collect().toSet
    assert(gotTr == wantTr, s"state $gotTr != batch $wantTr")
    // u7's abandoned journey flushed as click -> NULL
    assert(gotTr.contains(("click", "NULL", 1L)))

    // the newest report version equals the kernel priced from the same counts
    val lastBatch = EventStreams.markovHistory(spark, report)
      .agg(max("batch_id")).as[Long].head()
    val gotRep = EventStreams.markovHistory(spark, report)
      .filter(col("batch_id") === lastBatch)
      .select("channel", "n_touches", "p_base_ppm", "p_removed_ppm",
        "removal_ppm", "attribution_ppm")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().toSet
    val wantRep = Attribution.markovAttributionFromCounts(spark, wantTr.toSeq)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().toSet
    assert(gotRep == wantRep, s"report $gotRep != kernel $wantRep")

    // replay on the same checkpoint: no new data, no new version
    val versions = EventStreams.markovHistory(spark, report)
      .select("batch_id").distinct().count()
    runOnce()
    assert(EventStreams.markovHistory(spark, report)
      .select("batch_id").distinct().count() == versions)
  }

  test("D39: the quiet-gap journey boundary is event-time-deterministic across batch cuts") {
    // ADVICE r11: an event past lastTs+quietMs used to EXTEND the open
    // journey when it arrived before the timeout fired, but close it when
    // the same events were cut into different micro-batches. The gap rule
    // now closes at the event-time boundary, so BOTH cuttings of the same
    // event set must maintain identical transition counts: u1 has a
    // 400-min gap (> 300-min quiet window) between click and view.
    val evs = Seq(
      (1L, ts(0.0), 1L, "click", 0.0), (2L, ts(400.0), 1L, "view", 0.0),
      (3L, ts(410.0), 1L, "purchase", 0.0),
      // watermark pusher, far in the future: ripens + times out u1
      (9L, ts(6000.0), 9L, "view", 0.0))
    def runCut(cuts: Seq[Seq[(Long, Timestamp, Long, String, Double)]]): Set[(String, String, Long)] = {
      val in = Files.createTempDirectory("graft-gap-in").toString
      val state = Files.createTempDirectory("graft-gap-state").toString
      val report = Files.createTempDirectory("graft-gap-report").toString
      val ckpt = Files.createTempDirectory("graft-gap-ckpt").toString
      for (c <- cuts) {
        c.toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(in)
        EventStreams.markovAttributionMonitor(
          EventStreams.readEvents(spark, in), convChannel = "purchase",
          stateRoot = state, reportRoot = report, checkpointDir = ckpt,
          quietMs = 300 * 60 * 1000L)
      }
      EventStreams.markovState(spark, state)
        .as[(String, String, Long)].collect().toSet
    }
    val oneBatch = runCut(Seq(evs))
    val split = runCut(Seq(evs.take(1), evs.slice(1, 3), evs.drop(3)))
    val want = Set(("START", "click", 1L), ("click", "NULL", 1L),
      ("START", "view", 1L), ("view", "CONV", 1L))
    assert(oneBatch == want, s"one-batch transitions: $oneBatch")
    assert(split == want, s"split-batch transitions: $split")
  }

  test("D40: maintained item recs equal the one-shot kernel across basket-splitting cuts") {
    import graft.operators.Recommend
    val in = Files.createTempDirectory("graft-rec-in").toString
    val state = Files.createTempDirectory("graft-rec-state").toString
    val report = Files.createTempDirectory("graft-rec-report").toString
    val ckpt = Files.createTempDirectory("graft-rec-ckpt").toString

    def runOnce(): Unit = EventStreams.itemRecsMonitor(
      spark.readStream.schema("basket LONG, ts TIMESTAMP, item LONG").parquet(in),
      "basket", "item", "ts", minPair = 2L, k = 2,
      stateRoot = state, reportRoot = report, checkpointDir = ckpt)
    def append(rows: Seq[(Long, Long)]): Unit =
      rows.zipWithIndex.map { case ((b, i), ix) => (b, ts(ix.toDouble), i) }
        .toDF("basket", "ts", "item").coalesce(1).write.mode("append").parquet(in)

    // baskets split across the cut: basket 1 and 2 get more items in
    // batch 2; duplicates within a basket must not double-count
    val batch1 = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L),
      (3L, 12L), (1L, 10L)) // dup (1,10)
    val batch2 = Seq((1L, 12L), (2L, 12L), (3L, 11L), (4L, 10L), (4L, 11L),
      (2L, 11L)) // dup (2,11) ACROSS the cut
    append(batch1); runOnce()
    append(batch2); runOnce()

    val all = (batch1 ++ batch2).toDF("basket", "item")
    val want = Recommend.itemToItem(all, "basket", "item", minPair = 2L, k = 2)
      .select("item", "rank", "rec", "n_ab", "n_item", "n_rec", "lift_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val lastBatch = EventStreams.itemRecsHistory(spark, report)
      .agg(max("batch_id")).as[Long].head()
    val got = EventStreams.itemRecsHistory(spark, report)
      .filter(col("batch_id") === lastBatch)
      .select("item", "rank", "rec", "n_ab", "n_item", "n_rec", "lift_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"state recs $got != one-shot $want")
    // the maintained counts are the one-shot frames exactly
    val stCounts = EventStreams.itemRecsState(spark, state)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(stCounts.contains(("pair", 10L, 11L, 4L)), s"$stCounts") // baskets 1,2,3,4
    assert(stCounts.contains(("item", 10L, 0L, 4L)))
    assert(stCounts.toSeq.filter(_._1 == "basket").map(_._4).sum == 4L)
    // replay on the same checkpoint: no new data, no new version
    val versions = EventStreams.itemRecsHistory(spark, report)
      .select("batch_id").distinct().count()
    runOnce()
    assert(EventStreams.itemRecsHistory(spark, report)
      .select("batch_id").distinct().count() == versions)
  }

  test("D40: a mega-basket crossing the cap mid-stream is retracted, ledgered, " +
       "and the maintained recs equal the capped one-shot") {
    import graft.operators.Recommend
    val in = Files.createTempDirectory("graft-cap-in").toString
    val state = Files.createTempDirectory("graft-cap-state").toString
    val report = Files.createTempDirectory("graft-cap-report").toString
    val ckpt = Files.createTempDirectory("graft-cap-ckpt").toString

    def runOnce(): Unit = EventStreams.itemRecsMonitor(
      spark.readStream.schema("basket LONG, ts TIMESTAMP, item LONG").parquet(in),
      "basket", "item", "ts", minPair = 2L, k = 2,
      stateRoot = state, reportRoot = report, checkpointDir = ckpt,
      maxBasketSize = 3L)
    def append(rows: Seq[(Long, Long)]): Unit =
      rows.zipWithIndex.map { case ((b, i), ix) => (b, ts(ix.toDouble), i) }
        .toDF("basket", "ts", "item").coalesce(1).write.mode("append").parquet(in)

    // basket 9 stays within the cap (3 items) in batch 1 — its pairs are
    // EMITTED — then crosses it in batch 2, so the monitor must RETRACT
    // them across the cut; baskets 1-3 carry the real signal
    val batch1 = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (9L, 10L), (9L, 11L), (9L, 12L))
    val batch2 = Seq((9L, 13L), (9L, 14L), (9L, 13L), // dup after capping
      (3L, 10L), (3L, 11L))
    append(batch1); runOnce()
    append(batch2); runOnce()

    val all = (batch1 ++ batch2).toDF("basket", "item")
    val want = Recommend.itemToItem(all, "basket", "item", minPair = 2L, k = 2,
        maxBasketSize = 3L)
      .select("item", "rank", "rec", "n_ab", "n_item", "n_rec", "lift_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val lastBatch = EventStreams.itemRecsHistory(spark, report)
      .agg(max("batch_id")).as[Long].head()
    val got = EventStreams.itemRecsHistory(spark, report)
      .filter(col("batch_id") === lastBatch)
      .select("item", "rank", "rec", "n_ab", "n_item", "n_rec", "lift_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"capped maintained recs $got != capped one-shot $want")

    val st = EventStreams.itemRecsState(spark, state)
      .as[(String, Long, Long, Long)].collect().toSet
    // retraction is exact: no basket-9 residue in the count frames
    // (baskets 1-3 share items 10/11, so n=3 there; 12/13/14 are gone)
    assert(st.contains(("pair", 10L, 11L, 3L)), s"$st")
    assert(!st.exists(r => r._1 == "pair" && (r._2 >= 12L || r._3 >= 12L)),
      s"capped basket left pair residue: $st")
    assert(st.contains(("item", 10L, 0L, 3L)))
    assert(st.toSeq.filter(_._1 == "basket").map(_._4).sum == 3L)
    // the refusal is in-band: ledger kinds carry the exact refusal
    assert(st.contains(("capped_basket", 9L, 0L, 1L)))
    assert(st.contains(("dropped_pairs", 9L, 0L, 12L))) // (cap+1)·cap = 4·3
    // post-cap arrivals counted loudly (item 14 + the duplicate 13)
    assert(st.contains(("capped_arrival", 9L, 0L, 2L)), s"$st")
    // state is bounded: the capped basket holds no member set, so the
    // mega tail never re-expands — replay safety unchanged
    val versions = EventStreams.itemRecsHistory(spark, report)
      .select("batch_id").distinct().count()
    runOnce()
    assert(EventStreams.itemRecsHistory(spark, report)
      .select("batch_id").distinct().count() == versions)
  }

  test("D37: maintained AUC equals the one-shot AUC per version; decay is visible; replay-safe") {
    val rnd = new scala.util.Random(41)
    // batch 1: well-separated scores (high AUC); batches 2-3: the score
    // degrades toward noise — the maintained AUC must strictly fall
    def sep(n: Int) = Seq.fill(n) {
      val y = rnd.nextBoolean()
      (y, (rnd.nextInt(20) + (if (y) 40 else 0)).toLong)
    }
    def noise(n: Int) = Seq.fill(n)((rnd.nextBoolean(), rnd.nextInt(60).toLong))
    val b1 = sep(300); val b2 = noise(400); val b3 = noise(400)
    val in = Files.createTempDirectory("graft-auc-in").toString
    val state = Files.createTempDirectory("graft-auc-state").toString
    val rep = Files.createTempDirectory("graft-auc-rep").toString
    val ckpt = Files.createTempDirectory("graft-auc-ckpt").toString
    def push(rows: Seq[(Boolean, Long)]): Unit =
      rows.toDF("y", "s").coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = EventStreams.aucMonitor(
      spark.readStream.schema("y BOOLEAN, s LONG").parquet(in),
      "y", "s", state, rep, ckpt)

    push(b1); runOnce()
    push(b2); runOnce()
    push(b3); runOnce()

    val hist = EventStreams.aucHistory(spark, rep)
      .select("batch_id", "n_pos", "n_neg", "auc_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(hist.length == 3)
    val prefixes = Seq(b1, b1 ++ b2, b1 ++ b2 ++ b3)
    for (((bid, np, nn, auc), pre) <- hist.zip(prefixes)) {
      val direct = graft.operators.Evaluation.rocAuc(
          pre.toDF("y", "s"), col("y"), col("s"))
        .select("n_pos", "n_neg", "auc_ppm").as[(Long, Long, Long)].head()
      assert((np, nn, auc) == direct, s"version $bid equals one-shot over its prefix")
    }
    assert(hist(0)._4 > 900000L, "separated scores start high")
    assert(hist(0)._4 > hist(1)._4 && hist(1)._4 > hist(2)._4,
      "AUC strictly decays as noise accumulates")

    // replay: no new version
    runOnce()
    assert(EventStreams.aucHistory(spark, rep).count() == 3)
  }

  test("state readouts on a root no batch has published to fail loudly, naming the root") {
    val root = Files.createTempDirectory("graft-unpublished").toString
    val readouts = Seq[() => Any](
      () => EventStreams.kmvState(spark, root),
      () => EventStreams.cusumState(spark, root))
    for (read <- readouts) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(root), s"got ${e.getMessage}")
    }
  }

  test("exactly-once steps: a replayed batch id keeps the published version, an empty batch " +
       "publishes nothing, prior slices never include the batch's own version") {
    def tmp(tag: String) = Files.createTempDirectory(s"graft-steps-$tag").toString
    def entries(root: String, prefix: String): Seq[String] =
      Option(new java.io.File(root).listFiles).toSeq.flatten.map(_.getName)
        .filter(n => n.startsWith(prefix) && !n.endsWith(".tmp")).sorted
    def events(rows: Seq[(Long, Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")

    // replay: a fresh checkpoint re-runs batch id 0 over ALL files; its
    // version is already published, so the merge does not apply twice
    val in = tmp("agg-in"); val state = tmp("agg-state")
    def runAgg(ckpt: String): Unit = EventStreams.aggMaintenance(
      EventStreams.readEvents(spark, in), Seq("event_type"), "value", state, ckpt)
    def readout() = EventStreams.aggReadout(spark, state, Seq("event_type"))
      .select("event_type", "n_rows").as[(String, Long)].collect().toMap
    events(Seq((1L, ts(0.0), 1L, "view", 1.0), (2L, ts(1.0), 2L, "view", 2.0)))
      .coalesce(1).write.mode("append").parquet(in)
    runAgg(tmp("agg-ckpt"))
    assert(readout() == Map("view" -> 2L))
    events(Seq((3L, ts(2.0), 3L, "view", 3.0)))
      .coalesce(1).write.mode("append").parquet(in)
    runAgg(tmp("agg-ckpt2"))
    assert(entries(state, "_latest_v") == Seq("_latest_v0") && readout() == Map("view" -> 2L),
      "replayed batch 0 must not re-merge")

    // empty: an input file with no rows is a micro-batch that publishes
    // nothing — no pointer, no done-marker
    val emptyIn = tmp("empty-in")
    events(Nil).coalesce(1).write.mode("append").parquet(emptyIn)
    val aggState = tmp("empty-agg"); val aggCkpt = tmp("empty-agg-ckpt")
    EventStreams.aggMaintenance(EventStreams.readEvents(spark, emptyIn),
      Seq("event_type"), "value", aggState, aggCkpt)
    assert(new java.io.File(s"$aggCkpt/commits/0").exists, "the empty file ran as batch 0")
    assert(entries(aggState, "_latest_v").isEmpty, s"got ${entries(aggState, "")}")
    val docsIn = tmp("empty-docs")
    Seq.empty[(Long, String)].toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(docsIn)
    val idx = tmp("empty-idx"); val docsCkpt = tmp("empty-docs-ckpt")
    EventStreams.dedupIngest(spark.readStream.schema("doc_id LONG, text STRING").parquet(docsIn),
      idx, tmp("empty-matches"), docsCkpt)
    assert(new java.io.File(s"$docsCkpt/commits/0").exists, "the empty file ran as batch 0")
    assert(entries(idx, "_done_v").isEmpty, s"got ${entries(idx, "")}")

    // prior slices: batch 1 crashed after writing its seen-key slice but
    // before its marker; on replay it must not probe that slice, or its
    // own URL would look already seen and never reach the frontier
    val urlIn = tmp("url-in"); val seen = tmp("url-seen"); val out = tmp("url-out")
    val urlCkpt = tmp("url-ckpt")
    def runUrls(): Unit = EventStreams.urlFrontier(
      spark.readStream.schema("url STRING").parquet(urlIn), seen, out, urlCkpt)
    Seq("https://a.com/p").toDF("url").coalesce(1).write.mode("append").parquet(urlIn)
    runUrls()
    Seq("https://c.com/r").toDF("url")
      .select(graft.operators.Urls.canonicalize(col("url")).as("canonical_url"))
      .write.mode("overwrite").parquet(s"$seen/keys/v1")
    Seq("https://c.com/r").toDF("url").coalesce(1).write.mode("append").parquet(urlIn)
    runUrls()
    val frontier = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .select("url_example").as[String].collect().toSet
    assert(frontier == Set("https://a.com/p", "https://c.com/r"), s"got $frontier")
    assert(entries(seen, "_done_v") == Seq("_done_v0", "_done_v1"))
  }
}
