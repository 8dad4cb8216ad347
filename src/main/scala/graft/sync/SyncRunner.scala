package graft.sync

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.{JBool, JLong, JNull, JObject, JString}
import org.json4s.jackson.JsonMethods
import graft.model.Model
import graft.operators.Diff
import graft.state.StateStore

/**
 * B14 — the full sync pipeline: model → cursor filter → validate →
 * enrich → column-map → sink, with cursor checkpointing in the state
 * store.
 *
 * Reference flow: core/src/commands/sync.ts:553-616 — read rows past the
 * persisted cursor, assert monotone order, validate each row against the
 * error threshold, enrich (row → rows channels, sync.ts:588-616), push to
 * the destination in batches, persist the cursor — every `checkpointEvery`
 * rows mid-run (sync.ts:566, types/objects.ts:55) and at the end.
 * Row-at-a-time there; declarative plans here:
 *
 *  - The increment is scanned ONCE per (chunk of a) run: validation flags
 *    are computed into a persisted frame, the stats/threshold aggregation
 *    and the sink both read that materialization instead of re-scanning
 *    the source (the r2 version scanned the source twice per run).
 *  - Mid-run checkpoints chunk the increment into cursor-ordered ranges
 *    (never splitting one cursor value), checkpointing after each chunk —
 *    a killed 100 TB sync resumes from the last completed chunk instead
 *    of from zero. Chunk boundaries come from a cursor-histogram pass
 *    that reads ONLY the (column-pruned) cursor column.
 *  - Enrichment is a DataFrame → DataFrame hook between validation and
 *    column mapping, so row → rows expansion joins run distributed inside
 *    the same plan that feeds the sink.
 */
final class SyncRunner(store: StateStore, threshold: ErrorThreshold = ErrorThreshold()) {

  private def cursorKey(syncId: String) = Seq(s"syncId=$syncId", "$lastCursor")

  final case class SyncReport(
      syncId: String, rowsIn: Long, rowsValid: Long, rowsInvalid: Long,
      newCursor: Option[String], incremental: Boolean, chunks: Long = 1)

  /** Validate → stats/threshold → enrich → map → sink over ONE source
    * scan: the flagged frame is persisted, the single stats aggregation
    * (counts + max valid cursor) runs on the materialization, and the sink
    * consumes the same materialization. The sink must consume its rows
    * before returning — the backing cache is dropped afterwards. */
  private def syncOnce(model: Model, df: DataFrame,
                       enrich: DataFrame => DataFrame,
                       sink: DataFrame => Unit): (Long, Long, Option[String]) = {
    val rules = model.validations
    val flagged =
      if (rules.isEmpty) df.withColumn("__valid", lit(true))
      else df.withColumn("__valid", rules.map(_._2(df)).reduce(_ && _))
    flagged.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one aggregation job materializes the cache AND yields the gate stats
      // max cursor over ALL processed rows (valid or not): the cursor is a
      // STREAM POSITION, exactly the reference's semantics (sync.ts:566
      // advances the checkpoint past skipped rows too) — invalid rows are
      // skipped permanently and surface in the report/threshold, never
      // retried. The chunked path checkpoints chunk upper bounds, which is
      // the same rule, so both modes replay identically after a crash.
      val aggCols = Seq(
        count(lit(1)).as("n"),
        count(when(col("__valid"), 1)).as("n_valid")) ++
        model.cursorCol.map(c => max(col(c)).cast("string").as("max_cursor"))
      val stats: Row = flagged.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      val n = stats.getAs[Long]("n")
      val nValid = stats.getAs[Long]("n_valid")

      // error-threshold gate BEFORE any rows reach the destination
      threshold.check(nValid, n - nValid)

      val valid = flagged.filter(col("__valid")).drop("__valid")
      val enriched = enrich(valid)
      val mapped = model.columnMap match {
        case Some(m) => enriched.select(m.map { case (name, e) => e(enriched).as(name) }: _*)
        case None    => enriched
      }
      sink(mapped)
      (n, nValid, model.cursorCol.flatMap(_ => Option(stats.getAs[String]("max_cursor"))))
    } finally { flagged.unpersist(blocking = false); () }
  }

  /** The rows the next run of `syncId` reads, with the persisted cursor
    * they start past (None on a first run or a full refresh, which read
    * the whole model). Incremental cursor (reference: `:cursor`
    * substitution): SQL-text models bind the value INTO their query as a
    * typed parameter; DataFrame models get a cursorCol predicate (both
    * reach the scan). */
  def increment(spark: SparkSession, model: Model, syncId: String,
                fullRefresh: Boolean = false): (Option[String], DataFrame) = {
    val lastCursor = if (fullRefresh) None else store.get(cursorKey(syncId))
    val rows = (model.buildIncremental, model.cursorCol, lastCursor) match {
      case (Some(bi), _, Some(v)) => bi(spark, v)
      case (None, Some(c), Some(v)) =>
        val base = model.build(spark)
        base.filter(col(c) > lit(v).cast(base.schema(c).dataType))
      case _ => model.build(spark)
    }
    (lastCursor, rows)
  }

  /** One sync run. `sink` receives the validated, enriched, mapped rows
    * and must consume them before returning (they read a run-scoped
    * cache). `checkpointEvery` enables mid-run checkpoints roughly every
    * that many rows (requires a cursor column). */
  def run(spark: SparkSession, model: Model, syncId: String,
          sink: DataFrame => Unit, fullRefresh: Boolean = false,
          enrich: DataFrame => DataFrame = identity,
          checkpointEvery: Option[Long] = None): SyncReport = {
    val (lastCursor, increment) = this.increment(spark, model, syncId, fullRefresh)
    val report = checkpointEvery match {
      case Some(every) if model.cursorCol.isDefined =>
        runChunked(model, syncId, increment, lastCursor, every, enrich, sink)
      case _ =>
        val (n, nValid, maxCursor) = syncOnce(model, increment, enrich, sink)
        // checkpoint max(cursor) over processed rows — only after a
        // successful sink (invalid rows advance the cursor too; see syncOnce)
        val newCursor = maxCursor.orElse(lastCursor)
        newCursor.foreach(v => store.set(cursorKey(syncId), v))
        SyncReport(syncId, n, nValid, n - nValid, newCursor, lastCursor.isDefined)
    }
    recordRun(report)
    report
  }

  /** B27: run history — every completed run's report lands in the store
    * under `syncId=<id>::$runs::<seq>` (the reference keeps sync
    * bookkeeping in the same KV store), so operators can audit volumes
    * and validity over time without log archaeology. */
  private def recordRun(r: SyncReport): Unit = {
    val prefix = Seq(s"syncId=${r.syncId}", "$runs")
    val seq = store.size(prefix)
    store.set(prefix :+ seq.toString, JsonMethods.compact(JObject(
      "rowsIn" -> JLong(r.rowsIn), "rowsValid" -> JLong(r.rowsValid),
      "rowsInvalid" -> JLong(r.rowsInvalid),
      "newCursor" -> r.newCursor.map(JString(_)).getOrElse(JNull),
      "incremental" -> JBool(r.incremental), "chunks" -> JLong(r.chunks))))
  }

  /** Recorded run reports for one sync, oldest first: (seq, report json). */
  def runHistory(syncId: String): Seq[(Long, String)] =
    store.list(Seq(s"syncId=$syncId", "$runs"))
      .map { case (k, v) => (k.last.toLong, v) }.sortBy(_._1)

  /** One micro-batch's sync report: what [[run]]'s SyncReport is to a
    * batch run. */
  final case class BatchReport(batchId: Long, rowsIn: Long, rowsValid: Long)

  /** B25: CONTINUOUS sync — the same validate → threshold → enrich → map
    * → sink pipeline applied per micro-batch of a STREAMING model frame
    * via foreachBatch. The stream's checkpoint replaces the cursor (the
    * checkpoint IS the stream position — models for continuous syncs
    * declare no cursor), and the error threshold accumulates across
    * batches so a slow-burn stream of bad rows still trips the 20%/100
    * gate. Batch ids are recorded in the state store AFTER a successful
    * sink; a replayed batch (crash before its marker landed) re-runs the
    * sink — at-least-once into the destination, which is why every graft
    * destination profile is idempotent (upserts, audience membership) —
    * and marker-present batches skip entirely.
    *
    * Runs with Trigger.AvailableNow: process everything available, then
    * stop — re-invocation picks up new files from the checkpoint, the
    * scheduled-sync deployment shape. */
  def runContinuous(stream: DataFrame, model: Model, syncId: String,
                    checkpointDir: String, sink: DataFrame => Unit,
                    enrich: DataFrame => DataFrame = identity): Seq[BatchReport] = {
    val reports = scala.collection.mutable.ListBuffer.empty[BatchReport]
    graft.streaming.EventStreams.runToSink(stream, checkpointDir) { (batch, batchId) =>
      val doneKey = Seq(s"syncId=$syncId", "$batches", batchId.toString)
      if (store.get(doneKey).isEmpty) {
        val (n, nValid, _) = syncOnce(model, batch, enrich, sink)
        store.set(doneKey, s"""{"rows":$n,"valid":$nValid}""")
        reports += BatchReport(batchId, n, nValid)
      }
    }
    reports.toSeq
  }

  /** Hard cap on mid-run chunk count: bounds driver memory (the planning
    * pass collects exactly one row per chunk) and the number of
    * checkpoint round-trips. 10k chunks × `checkpointEvery` rows is far
    * past any single run's useful granularity. */
  private val MaxChunks = 10000

  /** Mid-run checkpointing (reference `checkpointEvery`, sync.ts:566):
    * split the increment into ~`every`-row cursor-ordered ranges (never
    * splitting one cursor value), sync chunk-by-chunk, persist the
    * chunk's upper cursor after each successful sink. A killed run
    * restarts from the last completed chunk: the resumed increment's
    * cursor predicate excludes everything already sunk.
    *
    * Boundary planning must NOT collect a per-cursor-value histogram:
    * the reference's canonical cursor is a timestamp (docs
    * incremental.mdx) — near-unique per row, so that histogram is the
    * row count and a driver OOM at scale. Instead the (column-pruned)
    * cursor column is `repartitionByRange(K)`-split — Spark's range
    * partitioner picks the K-1 split points by distributed reservoir
    * sampling, works for any orderable cursor type (timestamp, numeric,
    * string), and co-locates equal values, so a per-partition max is a
    * valid chunk bound that never splits a cursor value. Exactly
    * K ≤ [[MaxChunks]] boundary rows ever reach the driver. */
  private def runChunked(model: Model, syncId: String, increment: DataFrame,
                         lastCursor: Option[String], every: Long,
                         enrich: DataFrame => DataFrame,
                         sink: DataFrame => Unit): SyncReport = {
    val c = model.cursorCol.get
    val n = increment.select(col(c)).count()
    val k = math.min(MaxChunks.toLong, math.max(1L, (n + every - 1) / every)).toInt
    val bounds: Array[(Any, String)] =
      if (n == 0L) Array.empty
      else increment
        .select(col(c).as("v"))
        .repartitionByRange(k, col("v"))
        .select(spark_partition_id().as("p"), col("v"))
        .groupBy("p").agg(max("v").as("hi"))
        .where(col("hi").isNotNull)           // empty range partitions
        .orderBy("p")                          // range partitions are cursor-ordered
        .select(col("hi"), col("hi").cast("string").as("his"))
        .collect()
        .map(r => (r.get(0), r.getString(1)))

    val dt = increment.schema(c).dataType
    var totalN = 0L; var totalValid = 0L
    var prevHi: Option[Any] = None
    var lastCkpt: Option[String] = lastCursor
    bounds.foreach { case (hi, hiStr) =>
      val lower = prevHi.map(p => col(c) > lit(p).cast(dt)).getOrElse(lit(true))
      val chunk = increment.filter(lower && col(c) <= lit(hi).cast(dt))
      val (n, nValid, _) = syncOnce(model, chunk, enrich, sink)
      totalN += n; totalValid += nValid
      // chunk fully sunk → everything ≤ hi is done; safe to resume after it
      store.set(cursorKey(syncId), hiStr)
      lastCkpt = Some(hiStr)
      prevHi = Some(hi)
    }
    SyncReport(syncId, totalN, totalValid, totalN - totalValid,
      lastCkpt, lastCursor.isDefined, chunks = bounds.size.toLong)
  }

  /** CDC run: diff the model's current output against the previous
    * snapshot, sink only changes, write the new snapshot. The snapshot
    * lives as parquet (bucketable at scale), NOT in the KV store. */
  def runDiff(spark: SparkSession, model: Model, syncId: String, snapshotRoot: String,
              sink: DataFrame => Unit): String = {
    val curr = model.build(spark)
    val prevPath = store.get(Seq(s"syncId=$syncId", "$snapshot"))
    val changes = prevPath match {
      case Some(p) =>
        val prev = spark.read.parquet(p)
        // B46: drift gate BEFORE the row diff — evolve-or-halt with the
        // per-column plan instead of a row-level failure mid-push.
        // Nullability is excluded HERE (not in SchemaDrift): the parquet
        // round-trip does not preserve requiredness, so that dimension is
        // noise at this boundary — it matters at the destination, where
        // the declared stream schema (not a snapshot file) is the prev.
        val drift = graft.model.SchemaDrift.diff(prev.schema, curr.schema)
          .filterNot(_.change == "nullability_changed")
        require(drift.forall(_.safe),
          "snapshot schema drift is not auto-safe:\n" +
            drift.filterNot(_.safe).map(c => s"  ${c.column}: ${c.action}").mkString("\n"))
        if (drift.isEmpty) Diff.snapshotDiff(curr, prev, model.keyCols)
        else {
          // safe drift only: align the previous snapshot to the current
          // schema (cast widened columns, null-fill added ones, keep
          // column identity by name) so the row diff sees one schema
          val aligned = prev.select(curr.schema.fields.map { f =>
            if (prev.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
          Diff.snapshotDiff(curr, aligned, model.keyCols)
        }
      case None    => curr.withColumn(Diff.ChangeCol, lit("insert"))
    }
    sink(changes)
    // monotone run counter → every run writes a FRESH snapshot path; the
    // previous snapshot must stay intact while `changes` is still lazily
    // consumable by the caller.
    val runId = store.get(Seq(s"syncId=$syncId", "$runSeq")).map(_.toLong).getOrElse(0L) + 1
    store.set(Seq(s"syncId=$syncId", "$runSeq"), runId.toString)
    val newPath = graft.sinks.FileSink.snapshot(curr, snapshotRoot, syncId, runId.toString)
    store.set(Seq(s"syncId=$syncId", "$snapshot"), newPath)
    newPath
  }
}
