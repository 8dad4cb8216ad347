package graft.streaming

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/**
 * §2D — Structured Streaming over the events shape: readStream → watermark
 * → windowed agg / dedup / stateful sessionization → sink.
 *
 * The batch twins (queries.Events q50/q51) compute identical answers and
 * carry the DuckDB oracle; these are the true incremental paths. State is
 * bounded by watermarks everywhere — at production scale that is what keeps
 * the state store from growing without limit.
 */
object EventStreams {

  /** Streaming source over a directory of parquet/json event files with an
    * explicit schema (no inference — schema drift must be a deliberate act,
    * and inference would read data on the driver). */
  def readEvents(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    spark.readStream
      .format(format)
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .load(dir)

  /** D3 core: watermarked 5-minute tumbling-window aggregation. */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
                  windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** D4: streaming exact dedup on event_id, state bounded by the watermark
    * (an id can only repeat within the lateness horizon). */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  // --- stateful sessionization ----------------------------------------

  final case class SessionState(pending: List[(Long, Double)], open: Boolean,
                                start: Long, end: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                              n_events: Long, sum_value: Double)

  /** D2 (true streaming form): 30-minute-gap sessions per user via
    * flatMapGroupsWithState, event-time-driven throughout. The gap fold is
    * ORDER-SENSITIVE (a late event can BRIDGE two apparent sessions into
    * one), so — like [[funnelStages]] — events buffer in state until the
    * watermark passes them and only then fold, sorted by event time; the
    * open session closes and emits once the watermark passes its end by
    * more than the gap (no admissible arrival can extend it: anything
    * later lands in a new session). On a closed input whose watermark is
    * pushed past the last event + gap, the emitted sessions equal the
    * batch q51 gaps-and-islands answer for ANY arrival order. Buffered
    * state is bounded by the lateness horizon. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "30 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[Timestamp], col("value").as[Double])
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Timestamp, Double)], state: GroupState[SessionState]) =>
          val wm = state.getCurrentWatermarkMs()
          var s = state.getOption.getOrElse(SessionState(Nil, false, 0L, 0L, 0L, 0.0))
          s = s.copy(pending = s.pending ++ rows.map(r => (r._2.getTime, r._3)))
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          // fold events the watermark has passed, in event-time order —
          // later batches can only deliver ts ≥ wm, so fold order is
          // globally ascending and a late bridge event merges correctly
          val (ripe, hold) = s.pending.partition(_._1 < wm)
          ripe.sortBy(_._1).foreach { case (t, v) =>
            if (s.open && t - s.end <= gapMs)
              s = s.copy(end = math.max(s.end, t), n = s.n + 1, sum = s.sum + v)
            else {
              if (s.open) closed += SessionOut(user, s.start, s.end, s.n, s.sum)
              s = s.copy(open = true, start = t, end = t, n = 1, sum = v)
            }
          }
          // the open session is FINAL once wm > end + gap: any future
          // arrival has ts ≥ wm > end + gap and starts a new session
          if (s.open && wm > s.end + gapMs) {
            closed += SessionOut(user, s.start, s.end, s.n, s.sum)
            s = s.copy(open = false)
          }
          s = s.copy(pending = hold)
          if (!s.open && s.pending.isEmpty) state.remove()
          else {
            state.update(s)
            // wake at the earliest event-time decision point: the open
            // session's close boundary, or the oldest buffered event
            val wake = (if (s.open) List(s.end + gapMs + 1) else Nil) ++
                       (if (s.pending.nonEmpty) List(s.pending.iterator.map(_._1).min + 1) else Nil)
            state.setTimeoutTimestamp(math.max(wm + 1, wake.min))
          }
          closed.iterator
      }.toDF()
  }

  // --- streaming funnel / retention (D9/D10 true-streaming twins) -------

  final case class FunnelState(pending: List[(Long, String)], tView: Long, tClick: Long,
                               tPurchase: Long, lastTs: Long)
  final case class FunnelOut(user_id: Long, t_view: Option[Long], t_click: Option[Long],
                             t_purchase: Option[Long])

  /** D9 (true streaming form): per-user view → click → purchase progress
    * via flatMapGroupsWithState. The funnel fold is ORDER-SENSITIVE (a
    * stage only counts after the previous stage's FIRST time, q58's strict
    * rule), and micro-batches deliver events in ARRIVAL order — so events
    * buffer in state until the watermark passes them, and only then fold,
    * sorted by event time. An event folds at watermark wm only when
    * ts < wm: every not-yet-arrived event has ts ≥ its batch's watermark
    * ≥ wm (the watermark filter drops older arrivals), so fold order is
    * globally ascending in event time and a late-but-valid 'view' lands
    * BEFORE an earlier-arrived 'click'. On a closed input the emitted rows
    * therefore aggregate to exactly the batch funnel, whatever the arrival
    * order. A user flushes once the watermark passes `quietMs` past their
    * last event; buffered state is bounded by the lateness horizon (events
    * older than the watermark fold out of the buffer every batch). */
  def funnelStages(events: DataFrame, watermark: String = "30 minutes",
                   quietMs: Long = 30 * 60 * 1000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val U = -1L // unset
    def fold(s0: FunnelState, evs: Seq[(Long, String)]): FunnelState =
      evs.sortBy(_._1).foldLeft(s0) { case (s, (t, kind)) =>
        kind match {
          case "view"     if s.tView == U                     => s.copy(tView = t)
          case "click"    if s.tClick == U && s.tView != U  && t > s.tView  => s.copy(tClick = t)
          case "purchase" if s.tPurchase == U && s.tClick != U && t > s.tClick => s.copy(tPurchase = t)
          case _ => s
        }
      }
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[Timestamp], col("event_type").as[String])
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Timestamp, String)], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // watermark ≥ lastTs + quietMs > every buffered ts → fold the rest
            val s0 = state.get
            val s = fold(s0, s0.pending)
            state.remove()
            def opt(v: Long) = if (v == U) None else Some(v)
            Iterator.single(FunnelOut(user, opt(s.tView), opt(s.tClick), opt(s.tPurchase)))
          } else {
            val wm = state.getCurrentWatermarkMs()
            var s = state.getOption.getOrElse(FunnelState(Nil, U, U, U, 0L))
            val fresh = rows.map(r => (r._2.getTime, r._3)).toList
            if (fresh.nonEmpty)
              s = s.copy(lastTs = math.max(s.lastTs, fresh.iterator.map(_._1).max))
            val (ripe, hold) = (s.pending ++ fresh).partition(_._1 < wm)
            s = fold(s.copy(pending = hold), ripe)
            state.update(s)
            state.setTimeoutTimestamp(math.max(wm + 1, s.lastTs + quietMs))
            Iterator.empty
          }
      }.toDF()
  }

  final case class TransState(pending: List[(Long, Long, String)],
                              last: Option[(Long, Long, String)], lastTs: Long)
  final case class TransitionOut(user_id: Long, from_type: String, to_type: String)

  /** D16 (true streaming form of the q99 transition matrix): emits one
    * (user, from_type, to_type) increment per ADJACENT event pair in the
    * user's event-time order — `groupBy(from_type, to_type).count` over
    * the output reproduces the batch matrix incrementally. Adjacency is
    * order-sensitive, so events buffer in state until the watermark
    * passes them (an out-of-order arrival below the watermark is dropped
    * by Spark; above it, it still slots into its true position before the
    * pair emits); each pair emits exactly once, when its LATER event
    * ripens. The last ripe event stays in state to bridge batches; a
    * quiet-period event-time timeout flushes tails (the funnel's
    * discipline). State per user: the held events plus one bridge tuple. */
  def transitionUpdates(events: DataFrame, watermark: String = "30 minutes",
                        quietMs: Long = 30 * 60 * 1000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def emitChain(user: Long, prev: Option[(Long, Long, String)],
                  ripe: List[(Long, Long, String)]): List[TransitionOut] =
      (prev.toList ++ ripe).sliding(2).collect {
        case List(a, b) => TransitionOut(user, a._3, b._3)
      }.toList
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[Timestamp],
              col("event_id").as[Long], col("event_type").as[String])
      .as[(Long, Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, TransitionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Timestamp, Long, String)], state: GroupState[TransState]) =>
          if (state.hasTimedOut) {
            // watermark ≥ lastTs + quietMs > every held ts → all final
            val s = state.get
            val ripe = s.pending.sortBy(e => (e._1, e._2))
            state.update(TransState(Nil, ripe.lastOption.orElse(s.last), s.lastTs))
            emitChain(user, s.last, ripe).iterator
          } else {
            val wm = state.getCurrentWatermarkMs()
            var s = state.getOption.getOrElse(TransState(Nil, None, 0L))
            val fresh = rows.map(r => (r._2.getTime, r._3, r._4)).toList
            if (fresh.nonEmpty)
              s = s.copy(lastTs = math.max(s.lastTs, fresh.iterator.map(_._1).max))
            val (ripe0, hold) = (s.pending ++ fresh).partition(_._1 < wm)
            val ripe = ripe0.sortBy(e => (e._1, e._2))
            val out = emitChain(user, s.last, ripe)
            s = TransState(hold, ripe.lastOption.orElse(s.last), s.lastTs)
            state.update(s)
            if (s.pending.nonEmpty)
              state.setTimeoutTimestamp(math.max(wm + 1, s.lastTs + quietMs))
            out.iterator
          }
      }.toDF()
  }

  final case class JourneyState(pending: List[(Long, Long, String)],
                                open: Option[(String, Long)], lastTs: Long)
  final case class JourneyOut(user_id: Long, src: String, dst: String)

  /** D39 kernel: B53's JOURNEY TRANSITION increments, continuously —
    * the streaming form of `Attribution.markovTransitions`: per user,
    * ripened events (the D16 watermark-buffer discipline: a pair emits
    * only when its later event is final) chain through the OPEN
    * journey — the first event of a journey emits (START, state), a
    * conversion emits (prev, CONV) and closes, and a quiet gap closes
    * an abandoned journey with (last, NULL).
    *
    * The quiet-gap NULL closure is the streaming-native journey
    * boundary (a batch corpus has a hard end; a stream must DECIDE
    * when a journey is abandoned), and it is EVENT-TIME-DETERMINISTIC
    * (ADVICE r11): a ripe event more than `quietMs` past the open
    * journey's last event closes that journey with (last, NULL) BEFORE
    * starting a new one — the same boundary whether the two events
    * share a micro-batch or arrive batches apart — and the event-time
    * timeout closes the final tail the same way, so the maintained
    * transition counts are a pure function of the event set. With
    * every journey closed by a conversion or the gap rule,
    * `groupBy(src, dst).count` over the output equals the batch
    * transition frame exactly (spec-pinned). State per user: the held
    * events + the open journey's (last state, last event time). */
  def journeyUpdates(events: DataFrame, convChannel: String,
                     watermark: String = "30 minutes",
                     quietMs: Long = 30 * 60 * 1000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def chain(user: Long, open: Option[(String, Long)],
              ripe: List[(Long, Long, String)]): (List[JourneyOut], Option[(String, Long)]) = {
      var cur = open
      val out = scala.collection.mutable.ListBuffer.empty[JourneyOut]
      for (e <- ripe) {
        cur match {
          // the deterministic gap boundary: close BEFORE chaining an
          // event that sits a full quiet period past the open journey
          case Some((last, lastTs)) if e._1 > lastTs + quietMs =>
            out += JourneyOut(user, last, "NULL")
            cur = None
          case _ => ()
        }
        val st = if (e._3 == convChannel) "CONV" else e._3
        out += JourneyOut(user, cur.map(_._1).getOrElse("START"), st)
        cur = if (st == "CONV") None else Some((st, e._1))
      }
      (out.toList, cur)
    }
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[Timestamp],
              col("event_id").as[Long], col("event_type").as[String])
      .as[(Long, Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[JourneyState, JourneyOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Timestamp, Long, String)], state: GroupState[JourneyState]) =>
          if (state.hasTimedOut) {
            // watermark ≥ lastTs + quietMs > every held ts → all final;
            // the abandoned journey closes into NULL. State is REMOVED,
            // not zeroed: an inert row per ever-seen user would grow
            // state forever at stream scale, and a later event starts a
            // fresh journey either way (open = None ≡ no state)
            val s = state.get
            val ripe = s.pending.sortBy(e => (e._1, e._2))
            val (out, cur) = chain(user, s.open, ripe)
            val closed = cur.map(c => JourneyOut(user, c._1, "NULL")).toList
            state.remove()
            (out ++ closed).iterator
          } else {
            val wm = state.getCurrentWatermarkMs()
            var s = state.getOption.getOrElse(JourneyState(Nil, None, 0L))
            val fresh = rows.map(r => (r._2.getTime, r._3, r._4)).toList
            if (fresh.nonEmpty)
              s = s.copy(lastTs = math.max(s.lastTs, fresh.iterator.map(_._1).max))
            val (ripe0, hold) = (s.pending ++ fresh).partition(_._1 < wm)
            val ripe = ripe0.sortBy(e => (e._1, e._2))
            val (out, cur) = chain(user, s.open, ripe)
            s = JourneyState(hold, cur, s.lastTs)
            state.update(s)
            if (s.pending.nonEmpty || s.open.nonEmpty)
              state.setTimeoutTimestamp(math.max(wm + 1, s.lastTs + quietMs))
            out.iterator
          }
      }.toDF()
  }

  /** D39: continuously-maintained MARKOV ATTRIBUTION — the streaming
    * face of B53 (as D37 is of C147): [[journeyUpdates]] streams
    * journey transitions, each micro-batch's increments merge into the
    * maintained ADDITIVE (src, dst, n) count state (exactly once via
    * [[versioned]]), and every
    * version re-prices `Attribution.markovAttributionFromCounts` from
    * state alone — the SAME kernel the one-shot q236 runs, so
    * "attribution from maintained state" equals "attribution from the
    * corpus" by construction. History: one channel-frame per batch. */
  def markovAttributionMonitor(events: DataFrame, convChannel: String,
                               stateRoot: String, reportRoot: String,
                               checkpointDir: String,
                               watermark: String = "30 minutes",
                               quietMs: Long = 30 * 60 * 1000L): Unit = {
    val journeys = journeyUpdates(events, convChannel, watermark, quietMs)
    runToSink(journeys, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        import spark.implicits._
        val fresh = batch.groupBy("src", "dst").agg(count(lit(1)).as("n"))
        val merged = prev match {
          case Some(p) => fresh
            .join(spark.read.parquet(p)
              .select(col("src"), col("dst"), col("n").as("pn")),
              Seq("src", "dst"), "full_outer")
            .select(col("src"), col("dst"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("pn"), lit(0L))).as("n"))
          case None => fresh
        }
        merged.write.mode("overwrite").parquet(target)
        graft.operators.Attribution.markovAttributionFromCounts(spark,
            spark.read.parquet(target).as[(String, String, Long)].collect().toSeq)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
      }
    }
  }

  /** Current maintained transition counts of [[markovAttributionMonitor]]. */
  def markovState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Versioned attribution history of [[markovAttributionMonitor]]. */
  def markovHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  final case class BasketState(items: Set[Long], lastTs: Long, capped: Boolean)
  final case class BasketOut(kind: String, a: Long, b: Long, w: Long)

  /** D40 kernel: INCREMENTAL distinct basket increments — the streaming
    * decomposition of B54's count frames, as WEIGHTED rows (w = ±1
    * increments, plus exact ledger deltas): `sum(w)` per (kind, a, b)
    * over the output equals the one-shot frames. Pair emission is
    * ORDER-INSENSITIVE (the pair set of a basket does not depend on
    * arrival order), so unlike D16/D39 no watermark BUFFERING is
    * needed: each arriving item not yet in its basket's state emits
    * ('item', i, 0, +1), both directed ('pair', i, j, +1) rows against
    * the members already seen, and ('basket', b, 0, +1) when it opens
    * the basket — every increment exactly once.
    *
    * BASKET CAP (the B54 contract, mirrored): when the basket's
    * (maxBasketSize+1)-th DISTINCT item arrives, everything the basket
    * has emitted is RETRACTED (w = −1 for the basket row, each member's
    * item row, and all s·(s−1) directed pair rows — ≤ cap² rows, once
    * per capped basket), the ledger rows ('capped_basket', b, 0, +1)
    * and ('dropped_pairs', b, 0, (cap+1)·cap) are emitted, and the
    * state COLLAPSES to an O(1) capped marker — the member set is
    * dropped, so a mega-basket (the hub pathology the cap refuses)
    * cannot grow state either. Post-cap arrivals emit only
    * ('capped_arrival', b, 0, +1) (duplicates included — without the
    * member set they cannot be deduplicated; the counter is a loud
    * upper bound on further distinct items, so 'dropped_pairs' is exact
    * for baskets that stop at cap+1 distinct items and a declared lower
    * bound beyond). `sum(w)` over the non-ledger kinds therefore equals
    * `Recommend.itemToItem`'s count frames with the SAME cap exactly,
    * whatever the arrival order or batch cuts (spec-pinned).
    *
    * The quiet-period EVENT-TIME timeout (wall-clock timers would keep
    * an AvailableNow drain alive until they fire) EVICTS closed
    * baskets — eviction only bounds state; a late post-eviction (or
    * below-watermark-dropped) item re-opens the basket id as a fresh
    * basket, the documented streaming boundary. */
  def basketUpdates(rows: DataFrame, basketCol: String, itemCol: String,
                    tsCol: String, watermark: String = "30 minutes",
                    quietMs: Long = 30 * 60 * 1000L,
                    maxBasketSize: Long = 1024L): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must allow a pair (got $maxBasketSize)")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .withWatermark(tsCol, watermark)
      .select(col(basketCol).cast("long").as[Long],
        col(tsCol).as[Timestamp],
        col(itemCol).cast("long").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[BasketState, BasketOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (basket: Long, it: Iterator[(Long, Timestamp, Long)], state: GroupState[BasketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var s = state.getOption.getOrElse(BasketState(Set.empty, 0L, capped = false))
            val out = scala.collection.mutable.ListBuffer.empty[BasketOut]
            for ((_, ts, i) <- it) {
              s = s.copy(lastTs = math.max(s.lastTs, ts.getTime))
              if (s.capped) {
                out += BasketOut("capped_arrival", basket, 0L, 1L)
              } else if (!s.items.contains(i)) {
                if (s.items.size >= maxBasketSize) {
                  // the (cap+1)-th distinct item: retract everything this
                  // basket contributed, ledger the refusal, collapse state
                  out += BasketOut("basket", basket, 0L, -1L)
                  for (m <- s.items) out += BasketOut("item", m, 0L, -1L)
                  for (m <- s.items; o <- s.items if m != o)
                    out += BasketOut("pair", m, o, -1L)
                  out += BasketOut("capped_basket", basket, 0L, 1L)
                  out += BasketOut("dropped_pairs", basket, 0L,
                    (maxBasketSize + 1) * maxBasketSize)
                  s = s.copy(items = Set.empty, capped = true)
                } else {
                  if (s.items.isEmpty) out += BasketOut("basket", basket, 0L, 1L)
                  out += BasketOut("item", i, 0L, 1L)
                  for (j <- s.items) {
                    out += BasketOut("pair", i, j, 1L)
                    out += BasketOut("pair", j, i, 1L)
                  }
                  s = s.copy(items = s.items + i)
                }
              }
            }
            state.update(s)
            state.setTimeoutTimestamp(math.max(wm + 1, s.lastTs + quietMs))
            out.iterator
          }
      }.toDF()
  }

  /** D40: continuously-maintained ITEM-TO-ITEM RECOMMENDATIONS — the
    * streaming face of B54 (as D39 is of B53): [[basketUpdates]]
    * streams exactly-once WEIGHTED basket/item/pair increments (±1
    * rows — a capped basket retracts its prior contributions), each
    * micro-batch merges them into the maintained ADDITIVE count state
    * (one (kind, a, b, n) frame, exactly once via [[versioned]];
    * zeroed rows are dropped — for additive counts zero IS absence),
    * and every version re-ranks `Recommend.scoreFromCounts` from state
    * alone — the SAME kernel the one-shot q245 runs, so "recs from
    * maintained state" equals "recs from the corpus" (same
    * `maxBasketSize`) by construction. The ledger kinds
    * ('capped_basket'/'dropped_pairs'/'capped_arrival') ride the same
    * state frame, so the refusal is in-band, never silent. */
  def itemRecsMonitor(rows: DataFrame, basketCol: String, itemCol: String,
                      tsCol: String, minPair: Long, k: Int,
                      stateRoot: String, reportRoot: String,
                      checkpointDir: String,
                      maxBasketSize: Long = 1024L): Unit = {
    val updates = basketUpdates(rows, basketCol, itemCol, tsCol, maxBasketSize = maxBasketSize)
    runToSink(updates, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val fresh = batch.groupBy("kind", "a", "b").agg(sum(col("w")).as("n"))
        val merged = (prev match {
          case Some(p) => fresh
            .join(spark.read.parquet(p)
              .select(col("kind"), col("a"), col("b"), col("n").as("pn")),
              Seq("kind", "a", "b"), "full_outer")
            .select(col("kind"), col("a"), col("b"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("pn"), lit(0L))).as("n"))
          case None => fresh
        }).filter(col("n") =!= 0L)
        merged.write.mode("overwrite").parquet(target)
        val st = spark.read.parquet(target)
        val pairs = st.filter(col("kind") === "pair")
          .select(col("a").as("item"), col("b").as("rec"), col("n").as("n_ab"))
        val items = st.filter(col("kind") === "item")
          .select(col("a").as("it"), col("n").as("n_it"))
        val n = st.filter(col("kind") === "basket")
          .agg(coalesce(sum(col("n")), lit(0L)).as("n_baskets"))
        graft.operators.Recommend.scoreFromCounts(pairs, items, n, minPair, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
      }
    }
  }

  /** Current maintained (kind, a, b, n) counts of [[itemRecsMonitor]]. */
  def itemRecsState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Versioned recommendation history of [[itemRecsMonitor]]. */
  def itemRecsHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  final case class RetentionState(firstWeek: Long, seen: Set[Long], pending: Set[Long])
  final case class RetentionOut(user_id: Long, cohort_week: Long, week_offset: Long)

  /** D10 (true streaming form): emits ONE (user, cohort_week, week_offset)
    * increment per newly-seen (user, week) — `groupBy(cohort_week,
    * week_offset).count` over the output reproduces the batch retention
    * grid incrementally. The cohort label (firstWeek) can be REASSIGNED by
    * a late-but-watermark-valid event in an earlier week, so increments
    * are held in `pending` until firstWeek is FINAL: once the watermark
    * reaches firstWeek's start, any event in an earlier week would be
    * older than the watermark and is already dropped, so the label can
    * never move again — only then do the user's pending (week) increments
    * emit, each exactly once. An event-time timeout at firstWeek's start
    * flushes users whose label became final without further events. State
    * per user stays a handful of longs: seen weeks prune once the
    * watermark passes their end (no event for them can arrive again). */
  def retentionUpdates(events: DataFrame, watermark: String = "1 day"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val WeekMs = 604800000L
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").as[Long], col("ts").as[Timestamp])
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RetentionState, RetentionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[RetentionState]) =>
          val wm = state.getCurrentWatermarkMs()
          var s = state.getOption.getOrElse(RetentionState(Long.MaxValue, Set.empty, Set.empty))
          rows.map(_._2.getTime / WeekMs).toSet[Long].foreach { w =>
            if (w < s.firstWeek) s = s.copy(firstWeek = w)
            if (!s.seen.contains(w)) s = s.copy(seen = s.seen + w, pending = s.pending + w)
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[RetentionOut]
          val cohortFinal = s.firstWeek != Long.MaxValue && s.firstWeek * WeekMs <= wm
          if (s.pending.nonEmpty && cohortFinal) {
            s.pending.toSeq.sorted.foreach(w => out += RetentionOut(user, s.firstWeek, w - s.firstWeek))
            s = s.copy(pending = Set.empty)
          }
          // prune weeks whose whole span is below the watermark — they
          // cannot recur (arrivals for them are dropped as late)
          s = s.copy(seen = s.seen.filter(w => (w + 1) * WeekMs > wm || s.pending.contains(w)))
          state.update(s)
          if (s.pending.nonEmpty) // wake when the watermark crosses firstWeek's start
            state.setTimeoutTimestamp(math.max(wm + 1, s.firstWeek * WeekMs))
          out.iterator
      }.toDF()
  }

  /** D11: watermarked stream-stream join — attribute each conversion to
    * the impressions of the same user within `horizon` before it (the
    * canonical ad-attribution shape). The event-time range condition +
    * both-side watermarks BOUND the join state: Spark evicts buffered
    * rows once the other side's watermark passes their horizon — without
    * the range bound, stream-stream join state grows forever. Inner join,
    * so results emit as soon as both sides arrive. */
  def attributionJoin(impressions: DataFrame, conversions: DataFrame,
                      horizon: String = "30 minutes",
                      watermark: String = "10 minutes"): DataFrame = {
    val imp = impressions
      .select(col("user_id").as("i_user"), col("ts").as("i_ts"),
              col("event_id").as("impression_id"))
      .withWatermark("i_ts", watermark)
    val conv = conversions
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("conversion_id"), col("value"))
      .withWatermark("c_ts", watermark)
    imp.join(conv, expr(
        s"i_user = c_user AND c_ts >= i_ts AND c_ts <= i_ts + interval $horizon"))
      .select(col("i_user").as("user_id"), col("impression_id"), col("conversion_id"),
              col("i_ts"), col("c_ts"), col("value"))
  }

  /** D3 end-to-end: stream a directory into a windowed-agg parquet sink and
    * block until all currently-available input is processed (AvailableNow —
    * the batch-boundary trigger used for backfills). */
  def runWindowedAggToParquet(spark: SparkSession, inDir: String, outDir: String,
                              checkpointDir: String): Unit = {
    val q = windowedAgg(readEvents(spark, inDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** D12: continuously-maintained sketch state — every micro-batch's
    * per-group sketches (HLL distinct + top-k frequency) MERGE into a
    * persisted sketch table, so "distinct users / heavy hitters so far"
    * reads a few KB of state instead of rescanning raw events: the
    * mergeable-sketch answer to the lambda architecture, streaming and
    * batch sharing one state representation (graft.operators.Sketches).
    * The non-idempotent top-k counts merge exactly once via [[versioned]]. */
  def sketchMaintenance(events: DataFrame, groupCol: String, valueCol: String,
                        stateRoot: String, checkpointDir: String,
                        lgK: Int = 12, maxItemsTracked: Int = 100000): Unit = {
    runToSink(events, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val fresh = batch.groupBy(col(groupCol)).agg(
          hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"),
          expr(s"approx_top_k_accumulate($valueCol, $maxItemsTracked)").as("tk_state"))
        val merged = prev match {
          case Some(p) => spark.read.parquet(p).unionByName(fresh)
            .groupBy(col(groupCol)).agg(
              hll_union_agg(col("sketch")).as("sketch"),
              expr(s"approx_top_k_combine(tk_state, $maxItemsTracked)").as("tk_state"))
          case None => fresh
        }
        merged.write.mode("overwrite").parquet(target)
      }
    }
  }

  /** D14: continuously-maintained EXACT aggregate state — the streaming
    * twin of B24 (graft.operators.IncrementalAgg), as [[sketchMaintenance]]
    * is of the sketch family: every micro-batch's per-group mergeable
    * state (count / exact-decimal sum / min / max) merges into a persisted
    * state table, so "totals so far" reads one row per group instead of
    * rescanning event history. Decimal sums are associative, so the
    * maintained state equals the one-shot aggregate bit-for-bit — the
    * spec pins that equality after multi-batch out-of-order ingestion.
    * Exactly once via [[versioned]]. */
  def aggMaintenance(events: DataFrame, keys: Seq[String], valueCol: String,
                     stateRoot: String, checkpointDir: String): Unit = {
    runToSink(events, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val fresh = graft.operators.IncrementalAgg.buildState(batch, keys, valueCol)
        val merged = prev match {
          case Some(p) =>
            graft.operators.IncrementalAgg.merge(keys, spark.read.parquet(p), fresh)
          case None => fresh
        }
        merged.write.mode("overwrite").parquet(target)
      }
    }
  }

  /** D2 (declarative path): sessionization via Spark's NATIVE
    * `session_window` — gap-merged session aggregation with watermark
    * state eviction, planned by Catalyst as a session-window state-store
    * aggregate. The flatMapGroupsWithState path ([[sessionize]]) exists
    * for richer per-session logic (event-time-ordered folds, custom
    * emission); when the output is plain per-session aggregates, this
    * built-in form is less code, AQE/codegen-friendly, and the one to
    * reach for first. Session = [first event, last event + gap). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** D17: continuously-maintained SCD2 dimension history — the streaming
    * twin of B29 ([[graft.operators.Scd]]), as [[aggMaintenance]] is of
    * B24: each micro-batch is an UPSERT slice (key + payload + event ts,
    * NOT a full snapshot), reduced to its latest change per key and
    * folded into the versioned history with `closeMissing = false` —
    * absent keys stay open, because absence from a partial slice is not
    * deletion. The batch's effective timestamp is its max event ts.
    * Re-sending an unchanged row creates NO new version (the null-safe
    * payload compare sees through it), so at-least-once upstream delivery
    * is harmless even across batches. Exactly once via [[versioned]]. */
  def scdMaintenance(changes: DataFrame, keys: Seq[String], tsCol: String,
                     stateRoot: String, checkpointDir: String): Unit = {
    runToSink(changes, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        // latest change per key WITHIN the batch (callers must make ties
        // on tsCol impossible per key — e.g. a change-log sequence ts)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(tsCol).desc)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val eff = latest.agg(max(col(tsCol))).head().getTimestamp(0)
        val cur = latest.drop(tsCol)
        val hist = prev match {
          case Some(p) => spark.read.parquet(p)
          case None =>
            // seed history in applyScd2's required column order
            // (keys ++ payload ++ meta) — the incoming stream's own
            // column order may interleave keys and payload
            val payload = cur.columns.filterNot(keys.contains).toSeq
            cur.select((keys ++ payload).map(col): _*).limit(0)
              .withColumn("valid_from", lit(null).cast("timestamp"))
              .withColumn("valid_to", lit(null).cast("timestamp"))
              .withColumn("is_current", lit(true))
        }
        graft.operators.Scd
          .applyScd2(hist, cur, keys, lit(eff), closeMissing = false)
          .write.mode("overwrite").parquet(target)
      }
    }
  }

  /** D18: continuous data-quality MONITORING — the streaming face of B30
    * ([[graft.model.Expectations]]): every micro-batch is scored against
    * the declared expectations and its report row-set lands under a
    * batchId-versioned dir (idempotent overwrite → replay-safe without
    * pointers: a replayed batch rewrites the same report). The history is
    * the audit trail an on-call pages on ("accepted:status started
    * failing at batch 12") — per-batch report size is #expectations rows,
    * so the trail costs KBs regardless of stream volume. */
  def expectationsMonitor(stream: DataFrame,
                          local: Seq[graft.model.Expectations.TableLocal],
                          fks: Seq[graft.model.Expectations.RefIntegrity],
                          historyRoot: String, checkpointDir: String): Unit = {
    runToSink(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.model.Expectations.report(batch, local, fks)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$historyRoot/v$batchId")
      }
    }
  }

  /** The full expectations audit trail: one row per (batch, expectation). */
  def expectationsHistory(spark: SparkSession, historyRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(historyRoot)

  /** D23: streaming classifier scoring + DRIFT monitor — the online-
    * inference face of the trainable quality classifier (C65) deployed
    * at the cut chosen by the calibration sweep (C68): every micro-batch
    * of documents is scored against the BROADCAST trained weight vector
    * (element_at on a literal array — per-row arithmetic, no join, the
    * same kernel as the batch path), folded into the C68 threshold
    * buckets (a codegen'd comparison chain, never a k× fan-out), and the
    * per-bucket score distribution is appended to a versioned history —
    * the artifact a drift alarm diffs across batches ("did the
    * predicted-positive rate move against calibration?").
    *
    * Scale: per batch, one tokenize+distinct pass and one ≤(k+1)-key
    * aggregate; driver state is the dims+1 weight literal. History rows
    * per batch ≤ k+1. */
  def classifierMonitor(stream: DataFrame, weights: Array[Long], dims: Int,
                        thresholds: Seq[Long], historyRoot: String,
                        checkpointDir: String, scale: Long = 1000000L,
                        idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted &&
      thresholds.distinct.size == thresholds.size,
      "thresholds: sorted, distinct, non-empty")
    runToSink(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val scored = graft.operators.TextAnalysis.scoreDocs(
          batch, weights, dims, scale, idCol, textCol)
        val bucket = thresholds
          .map(t => when(col("score") >= t, 1).otherwise(0))
          .reduce(_ + _)
        scored.withColumn("bucket", bucket)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("score")).as("score_sum"),
            sum(when(col("predicted"), 1L).otherwise(0L)).as("n_predicted"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$historyRoot/v$batchId")
      }
    }
  }

  /** The drift history: one row per (batch, threshold bucket). */
  def classifierScoreHistory(spark: SparkSession, historyRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(historyRoot)

  /** D29: streaming KS DRIFT monitor — the whole-distribution companion
    * to D23's score buckets: every micro-batch's per-slice metric
    * distribution is tested against the FIXED calibration reference
    * ([[graft.operators.Drift.ksVsReference]] — exact per-mille
    * two-sample KS, integer arithmetic) and the per-slice statistics are
    * appended as a versioned history; an alarm reads the history and
    * fires on `ks_pm` above its tolerance ("this source's length/quality
    * profile no longer looks like what we calibrated on").
    *
    * Scale: the reference rides as a value-domain-sized literal frame
    * (KBs — bucketize unbounded metrics first), each batch reduces to
    * its (slice × value) counts, and every window rides that grid.
    * History rows per batch = |slices in batch|. */
  def ksDriftMonitor(stream: DataFrame, reference: Seq[(Long, Long)],
                     historyRoot: String, checkpointDir: String,
                     sliceCol: String, valueCol: String): Unit = {
    require(reference.nonEmpty, "reference distribution must be non-empty")
    runToSink(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        import spark.implicits._
        val refDf = reference.toDF("v", "c")
        graft.operators.Drift.ksVsReference(batch, refDf, col(sliceCol), col(valueCol))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$historyRoot/v$batchId")
      }
    }
  }

  /** The KS drift history: one row per (batch, slice). */
  def ksDriftHistory(spark: SparkSession, historyRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(historyRoot)

  /** D38: streaming PSI monitor — the BINNED drift scalar next to D29's
    * KS (PSI is what model-governance sheets alarm on; KS is the
    * whole-distribution test): every micro-batch's metric distribution
    * scores against the FIXED calibration reference
    * ([[graft.operators.Drift.psiVsReference]] — calibration bin edges,
    * out-of-range mass clamps into the edge bins, integer q10·ppm PSI)
    * and the per-bin rows land as a versioned history; an alarm reads
    * the repeated `psi_q10ppm` total against its tolerance (the classic
    * 0.1/0.25 thresholds ≈ 148/369 ·10⁶ q10ppm in bits).
    *
    * Scale: the reference is a B-row literal; each batch reduces to its
    * B-bin counts map-side. History rows per batch = B. */
  def psiMonitor(stream: DataFrame, refCounts: Seq[(Long, Long)],
                 mn: Long, mx: Long, bins: Int,
                 historyRoot: String, checkpointDir: String,
                 valueCol: String): Unit = {
    require(refCounts.nonEmpty, "reference bin counts must be non-empty")
    runToSink(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.operators.Drift.psiVsReference(batch, col(valueCol), refCounts, mn, mx, bins)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$historyRoot/v$batchId")
      }
    }
  }

  /** The PSI history: B rows per batch, total repeated per row. */
  def psiHistory(spark: SparkSession, historyRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(historyRoot)

  /** D30: streaming CUSUM monitor — the time-localizing companion to
    * D29's per-batch distribution test: per monitored series, the
    * two-sided CUSUM excursion vs the FIXED calibration level k runs
    * CONTINUOUSLY across batches ([[graft.operators.Changepoint
    * .cusumVsReference]] — the carried-origin closed form, so the walk
    * is exactly the one an unbroken stream would produce wherever the
    * micro-batches cut it). D29 asks "does this batch look calibrated?"
    * — a slow drift never makes any single batch look bad; CUSUM
    * accumulates the small per-batch biases until the excursion crosses
    * the threshold, then reports WHEN.
    *
    * Per batch: observations pre-aggregate to (series, t) points, the
    * windowed kernel advances every seen series' walk from the carried
    * state, the carry-out unions with untouched series' state (exactly
    * once via [[versioned]]), and the history
    * appends one row per seen series with the batch's peak excursions
    * and alarm flags. State = ONE row per monitored series; nothing
    * rescans event history.
    *
    * @param level     calibration level k (integer; pre-scale fractions).
    * @param threshold alarm when a peak excursion reaches it (same
    *                  integer units as the values). */
  def cusumMonitor(stream: DataFrame, level: Long, threshold: Long,
                   stateRoot: String, historyRoot: String, checkpointDir: String,
                   seriesCol: String, timeCol: String, valueCol: String): Unit = {
    runToSink(stream, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val pts = batch.groupBy(col(seriesCol).as("series"), col(timeCol).as("t"))
          .agg(sum(col(valueCol)).as("x"))
        val carried = prev.map(p => spark.read.parquet(p))
        val advanced = graft.operators.Changepoint.cusumVsReference(
          pts, col("series"), col("t"), col("x"), level, carried)
        advanced.withColumn("batch_id", lit(batchId))
          .withColumn("alarm_high", col("peak_high") >= threshold)
          .withColumn("alarm_low", col("peak_low") >= threshold)
          .write.mode("overwrite").parquet(s"$historyRoot/v$batchId")
        val freshState = advanced.select(col("series"),
          col("end_high").as("s_high"), col("end_low").as("s_low"))
        val merged = carried match {
          case Some(st) => st.join(freshState.select("series"), Seq("series"), "left_anti")
            .unionByName(freshState)
          case None => freshState
        }
        merged.write.mode("overwrite").parquet(target)
      }
    }
  }

  /** The CUSUM history: one row per (batch, series). */
  def cusumHistory(spark: SparkSession, historyRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(historyRoot)

  /** The current CUSUM walk state: one row per monitored series. */
  def cusumState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** D31: INCREMENTAL identity resolution — the streaming face of
    * C118/C119 and how contact dedup actually runs in a reverse-ETL
    * ingest: new records stream in, each micro-batch is scored against
    * the PERSISTED record store ([[graft.operators.Linkage
    * .scoreAgainst]] — blocked, match-grade only) and within itself
    * ([[graft.operators.Linkage.scorePairs]] + the C26 closure), then
    * every new record is assigned an entity id:
    *
    *  - a record matching existing entities adopts the SMALLEST matched
    *    entity id (deterministic survivorship);
    *  - within-batch transitive clusters mint ONE entity (the min
    *    member record id) unless a member matched an existing entity —
    *    then the whole cluster adopts the smallest such;
    *  - a record bridging ≥2 existing entities emits MERGE EVENTS
    *    (kept = the adopted min, merged = each other entity) rather
    *    than retro-rewriting history — the standard late-merge ledger:
    *    readers fold the ledger when they need the fully-merged view.
    *
    * Record, assignment and merge slices are applied exactly once via
    * [[oncePerBatch]]. Per-ingest cost is
    * blocked-probe-join-sized — independent of how many batches came
    * before (the store grows, but the probe is block-partitioned; at
    * scale, compact the record slices bucketed by block key so the
    * probe stops shuffling the stored side — D13's operational note).
    *
    * @param fields (columnName, agreeWeight, disagreeWeight).
    * @param matchThreshold score ≥ this links records into one entity. */
  def linkageIngest(records: DataFrame, stateRoot: String, outRoot: String,
                    checkpointDir: String, idCol: String,
                    blockCols: Seq[String], fields: Seq[(String, Long, Long)],
                    matchThreshold: Long): Unit = {
    runToSink(records, checkpointDir) { (b, batchId) =>
      oncePerBatch(b, batchId, stateRoot) { (spark, priorSlices) =>
        val priorDirs = priorSlices("records")
        val cFields = fields.map { case (n, a, d) => (col(n), a, d) }
        val cBlocks = blockCols.map(col)
        // candidate entities from the stored records (empty on batch 0)
        val cand = if (priorDirs.nonEmpty) {
          val prior = spark.read.parquet(priorDirs: _*)
          graft.operators.Linkage.scoreAgainst(b, prior, col(idCol),
              cBlocks, cFields, matchThreshold, matchThreshold)
            .join(prior.select(col(idCol).as("id_index"), col("entity_id")), "id_index")
            .select(col("id_probe").as("rec"), col("entity_id").as("cand"))
            .distinct()
        } else spark.emptyDataFrame
          .select(lit(null).cast(b.schema(idCol).dataType).as("rec"),
            lit(null).cast(b.schema(idCol).dataType).as("cand")).limit(0)
        // within-batch clusters (match-grade links, transitive closure);
        // the C26 label IS the min member id — the mint id
        val within = graft.operators.Linkage.scorePairs(b, col(idCol),
          cBlocks, cFields, matchThreshold, matchThreshold)
        val clusters = graft.operators.Dedup
          .resolveClusters(within, "id_a", "id_b")
          .select(col("doc_id").as("rec"), col("cluster_id"))
        val labeled = b.select(col(idCol).as("rec"))
          .join(clusters, Seq("rec"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("rec")))
          .join(cand, Seq("rec"), "left")
        // one entity per cluster: smallest matched existing entity,
        // else the mint (cluster label)
        val perCluster = labeled.groupBy("cluster_id")
          .agg(min(col("cand")).as("adopted"))
          .withColumn("entity_id", coalesce(col("adopted"), col("cluster_id")))
        // labeled carries one row per (record, candidate entity) — a
        // bridging record has several; the assignment is per RECORD
        val assigned = labeled.select(col("rec"), col("cluster_id")).distinct()
          .join(perCluster.select("cluster_id", "entity_id"), "cluster_id")
          .select(col("rec").as(idCol), col("entity_id"))
        // merge ledger: every OTHER matched entity of the cluster folds
        // into the adopted one
        val merges = labeled.join(perCluster.select("cluster_id", "entity_id"), "cluster_id")
          .filter(col("cand").isNotNull && col("cand") =!= col("entity_id"))
          .select(col("entity_id").as("entity_kept"), col("cand").as("entity_merged"))
          .distinct()
        assigned.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outRoot/assign/v$batchId")
        merges.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outRoot/merge/v$batchId")
        b.join(assigned, idCol)
          .write.mode("overwrite").parquet(s"$stateRoot/records/v$batchId")
      }
    }
  }

  /** All resolved records so far: the stored rows + their entity ids. */
  def linkageEntities(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$stateRoot/records")

  /** The assignment history: one row per (batch, record). */
  def linkageAssignments(spark: SparkSession, outRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$outRoot/assign")

  /** The merge ledger: (entity_kept, entity_merged, batch_id). */
  def linkageMerges(spark: SparkSession, outRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$outRoot/merge")

  /** Current SCD2 history under the latest published pointer. */
  def scdHistory(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Read the maintained aggregate state out as user-facing values
    * (n_rows / total / min / max / derived avg) — one row per group. */
  def aggReadout(spark: SparkSession, stateRoot: String, keys: Seq[String]): DataFrame =
    graft.operators.IncrementalAgg.readout(
      spark.read.parquet(publishedVersion(spark, stateRoot)), keys)

  /** Read the current sketch state as estimates: (group, approx_distinct,
    * top items by estimated count). Reads KBs, never the raw events. */
  def sketchEstimates(spark: SparkSession, stateRoot: String, k: Int = 10): DataFrame = {
    val st = spark.read.parquet(publishedVersion(spark, stateRoot))
    st.select(st.columns.head, "sketch", "tk_state")
      .withColumn("approx_distinct", hll_sketch_estimate(col("sketch")))
      .withColumn("top_items", expr(s"approx_top_k_estimate(tk_state, $k)"))
      .drop("sketch", "tk_state")
  }

  /** Pointer files are batchId-VERSIONED (`_latest_v<batchId>`) and each new
    * version lands under a fresh name via tmp-write + rename, so there is
    * never an instant with zero pointers on disk: a crash mid-publish leaves
    * the previous version readable, and readers always take the highest
    * version. (The old delete-then-rename of a single `_latest` file had a
    * window where a crash left NO pointer and a replayed batch silently
    * rebuilt state from only its own rows.) */
  private val PointerName = """_latest_v(\d+)""".r

  private def readPointer(spark: SparkSession, stateRoot: String): Option[String] = {
    val root = new org.apache.hadoop.fs.Path(stateRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val versions = fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case PointerName(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }
    versions.sortBy(-_._1).headOption.map { case (_, p) =>
      val in = fs.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
        bos.toString("UTF-8").trim
      } finally in.close()
    }
  }

  private def writePointer(spark: SparkSession, stateRoot: String, batchId: Long,
                           target: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$stateRoot/_latest_v$batchId")
    val tmp = new org.apache.hadoop.fs.Path(s"$stateRoot/_latest_v$batchId.tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(target.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not publish sketch state pointer $p")
    // Older pointer versions are now superseded; reclaim them best-effort
    // (readers pick the max version, so a concurrent read stays correct).
    fs.listStatus(new org.apache.hadoop.fs.Path(stateRoot)).foreach { st =>
      st.getPath.getName match {
        case PointerName(v) if v.toLong < batchId => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** The state version a readout reads: the one the latest pointer
    * names. A readout before any batch has published fails loudly,
    * naming the root, rather than answering from nothing. */
  private def publishedVersion(spark: SparkSession, stateRoot: String): String =
    readPointer(spark, stateRoot)
      .getOrElse(throw new IllegalStateException(s"no published state under $stateRoot"))

  /** The POINTER-FLIP exactly-once step (D12) for an operator whose state
    * is one batchId-versioned frame under `stateRoot`. The body gets the
    * published version it merges from (`prev`, None before the first
    * batch) and the directory to write this batch's version to
    * (`target` = `stateRoot/v<batchId>`); anything else it writes must be
    * batchId-addressed and overwrite-idempotent. Then:
    *
    *  - replay skip: a batch whose own version is already published
    *    (crash between the pointer flip and the checkpoint commit) runs
    *    nothing, so non-idempotent merges apply exactly once;
    *  - empty skip: a batch with no rows runs nothing and publishes
    *    nothing (no pointer churn, no empty version);
    *  - publish last: the pointer flips to `target` only after the body
    *    returns, so a crash mid-body leaves the previous version
    *    readable and the replayed batch redoes its work from it. */
  private def versioned(batch: DataFrame, batchId: Long, stateRoot: String)
                       (body: (SparkSession, Option[String], String) => Unit): Unit = {
    val spark = batch.sparkSession
    val target = s"$stateRoot/v$batchId"
    val prev = readPointer(spark, stateRoot)
    if (!prev.contains(target) && !batch.isEmpty) {
      body(spark, prev, target)
      writePointer(spark, stateRoot, batchId, target)
    }
  }

  /** The DONE-MARKER exactly-once step (D13) for an operator that appends
    * one batchId-versioned slice per batch (`root/<sub>/v<batchId>`)
    * instead of replacing one state frame. The body gets `priorSlices(sub)`:
    * the slice dirs under `root/<sub>` written by EARLIER batches — never
    * this batch's own `v<batchId>`, which a crashed earlier attempt may
    * have half-written (probing it would match the batch against
    * itself). Everything the body writes must be batchId-addressed and
    * overwrite-idempotent. Then:
    *
    *  - replay skip: a batch whose `root/_done_v<batchId>` marker exists
    *    runs nothing;
    *  - empty skip: a batch with no rows runs nothing and writes no
    *    marker;
    *  - publish last: the marker is written only after the body returns,
    *    so a crash mid-body re-runs the whole batch against prior slices
    *    only. */
  private def oncePerBatch(batch: DataFrame, batchId: Long, root: String)
                          (body: (SparkSession, String => Seq[String]) => Unit): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_done_v$batchId")
    if (!fs.exists(marker) && !batch.isEmpty) {
      def priorSlices(sub: String): Seq[String] = {
        val dir = new org.apache.hadoop.fs.Path(s"$root/$sub")
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq
          .filter { st =>
            val name = st.getPath.getName
            st.isDirectory && name.startsWith("v") && name != s"v$batchId"
          }
          .map(_.getPath.toString)
      }
      body(spark, priorSlices)
      fs.create(marker, true).close()
    }
  }

  /** D13: continuous ingestion DEDUP — the streaming form of the C27
    * incremental near-dup loop: every micro-batch of documents (a) probes
    * the persisted band index for near-dups against EVERYTHING already
    * ingested (cost independent of corpus size — the C27 property), then
    * (b) appends its own band keys and shingle sets to the index, so later
    * batches dedupe against it. Matches land in `matchesDir` as
    * (new_id, corpus_id, jaccard) parquet.
    *
    * Index slices and match outputs are applied exactly once via
    * [[oncePerBatch]]. Within-batch duplicates are not this operator's job (run the batch
    * self-dedup inside the batch if needed); ACROSS batches every dup is
    * caught no matter how far apart the batches are.
    *
    * Operational note: the index accumulates one slice per batch; slices
    * are plain parquet, so a periodic batch job compacts them (read
    * recursive, rewrite as one slice, drop the old dirs) and, at scale,
    * rewrites bucketed by band_key so probe joins stop shuffling the
    * index side. Probe cost reads the whole index — that is the C27
    * contract (bands + sets are a few percent of corpus bytes), not a
    * corpus re-scan. */
  def dedupIngest(docs: DataFrame, indexRoot: String, matchesDir: String,
                  checkpointDir: String, threshold: Double = 0.7): Unit = {
    runToSink(docs, checkpointDir) { (batch, batchId) =>
      oncePerBatch(batch, batchId, indexRoot) { (spark, priorSlices) =>
        val bandDirs = priorSlices("bands")
        if (bandDirs.nonEmpty) {
          val idxBands = spark.read.parquet(bandDirs: _*)
          val idxSets = spark.read.parquet(priorSlices("sets"): _*)
          graft.operators.Dedup
            .incrementalNearDup(batch, idxBands, idxSets, threshold = threshold)
            .write.mode("overwrite").parquet(s"$matchesDir/v$batchId")
        }
        val (newBands, newSets) = graft.operators.Dedup.bandIndex(batch)
        newBands.write.mode("overwrite").parquet(s"$indexRoot/bands/v$batchId")
        newSets.write.mode("overwrite").parquet(s"$indexRoot/sets/v$batchId")
      }
    }
  }

  /** D28: continuous URL-FRONTIER dedup — the streaming face of C90
    * ([[graft.operators.Urls]]), which is how URL dedup actually runs in
    * a crawl: discovered links stream in, each micro-batch is
    * canonicalized, collapsed within the batch (min spelling per
    * canonical key, with the sighting count kept), and anti-joined
    * against the persisted SEEN set — only first-ever-seen canonical
    * URLs land in the frontier output a fetcher consumes; every later
    * spelling of the same page, however many batches later, emits
    * nothing. The batch then appends its fresh keys to the seen set.
    *
    * Frontier and seen-key slices are applied exactly once via
    * [[oncePerBatch]].
    *
    * Scale: the anti join probes the seen KEY set — canonical keys only,
    * a few percent of crawl-log bytes; at scale a periodic compaction
    * rewrites the slices bucketed by canonical_url so the probe join
    * stops shuffling the seen side (same operational note as D13's
    * band index). */
  def urlFrontier(urls: DataFrame, seenRoot: String, outRoot: String,
                  checkpointDir: String, urlCol: String = "url"): Unit = {
    runToSink(urls, checkpointDir) { (batch, batchId) =>
      oncePerBatch(batch, batchId, seenRoot) { (spark, priorSlices) =>
        val batchFirst = batch
          .withColumn("canonical_url", graft.operators.Urls.canonicalize(col(urlCol)))
          .groupBy("canonical_url")
          .agg(min(col(urlCol)).as("url_example"), count(lit(1)).as("n_seen"))
        val priorDirs = priorSlices("keys")
        val fresh =
          if (priorDirs.isEmpty) batchFirst
          else batchFirst.join(spark.read.parquet(priorDirs: _*),
            Seq("canonical_url"), "left_anti")
        // the frontier write is the one computation (canonicalize +
        // in-batch collapse + the seen-set anti join — the dominant
        // cost as the seen set grows); the key slice re-reads it
        // instead of running the probe a second time
        fresh.write.mode("overwrite").parquet(s"$outRoot/v$batchId")
        spark.read.parquet(s"$outRoot/v$batchId").select("canonical_url")
          .write.mode("overwrite").parquet(s"$seenRoot/keys/v$batchId")
      }
    }
  }

  /** D22: CONTINUOUS shard assignment — the streaming twin of C60
    * ([[graft.operators.Chunking.shardLayout]]): documents stream in,
    * each micro-batch is packed (portable-hash order WITHIN the batch,
    * arrival order across batches) onto the global token axis, and
    * shard ids keep growing monotonically — a shard left part-full at a
    * batch boundary is continued by the next batch, exactly as one big
    * batch layout would have filled it. Emits one assignment slice per
    * batch: (doc_id, n_tokens, shard_id, token_offset) where
    * token_offset is the document's global token prefix — enough for a
    * writer to place every document without any further coordination.
    *
    * State = ONE row (cumulative token count), advanced exactly once via
    * [[versioned]]. */
  def shardAssign(docs: DataFrame, shardTokens: Long, stateRoot: String,
                  outRoot: String, checkpointDir: String,
                  idCol: String = "doc_id", tokCol: String = "n_tokens"): Unit = {
    runToSink(docs, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val offset = prev.map(p => spark.read.parquet(p)
          .select(col("cum_tokens")).head().getLong(0)).getOrElse(0L)
        val placed = placeBatchOnAxis(batch, offset, shardTokens, idCol, tokCol)
        placed.write.mode("overwrite").parquet(s"$outRoot/v$batchId")
        val newCum = offset + placed.agg(sum(col("n_tokens"))).head().getLong(0)
        writeCumState(spark, target, newCum)
      }
    }
  }

  /** D24: streaming token-budget BURN-DOWN monitor — the live third of
    * the C70→C71 planning family (plan → schedule → EXECUTION tracking):
    * the water-filling plan's per-domain allocation rides as a broadcast
    * frame; each micro-batch's per-domain token count folds into a
    * pointer-versioned cumulative state (one row per domain — KBs), and
    * a burn-down report (domain, batch_tokens, consumed_tokens,
    * allocation, remaining, over_budget, batch_id) lands per batch. A
    * domain crossing its allocation is visible the batch it happens —
    * the signal that stops over-consuming a source mid-ingest instead of
    * at the post-hoc audit. Domains absent from the plan report a NULL
    * allocation and flag over_budget from their first token.
    *
    * Consumption is counted exactly once via [[versioned]]. Scale: per batch one
    * map-side-partial token count; state, plan and report are all
    * domain-frame-sized. */
  def budgetMonitor(docs: DataFrame, plan: Map[String, Long], stateRoot: String,
                    reportRoot: String, checkpointDir: String,
                    domainCol: String = "source", textCol: String = "text"): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val stateSchema = StructType(Seq(
      StructField("domain", StringType, nullable = true),
      StructField("consumed_tokens", LongType, nullable = false)))
    runToSink(docs, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val batchTok = batch
          .select(col(domainCol).as("domain"),
            size(split(col(textCol), " ")).cast("long").as("__t"))
          .groupBy("domain").agg(sum(col("__t")).as("batch_tokens"))
        val prior = prev.map(p => spark.read.parquet(p))
          .getOrElse(spark.createDataFrame(
            java.util.List.of[org.apache.spark.sql.Row](), stateSchema))
        val next = prior.select(col("domain"), col("consumed_tokens").as("__prior"))
          .join(batchTok, Seq("domain"), "full_outer")
          .select(col("domain"),
            coalesce(col("batch_tokens"), lit(0L)).as("batch_tokens"),
            (coalesce(col("__prior"), lit(0L)) +
              coalesce(col("batch_tokens"), lit(0L))).as("consumed_tokens"))
        import scala.jdk.CollectionConverters._
        val planDf = spark.createDataFrame(
          plan.toSeq.sortBy(_._1)
            .map { case (d, a) => org.apache.spark.sql.Row(d, a) }.asJava,
          StructType(Seq(
            StructField("domain", StringType, nullable = true),
            StructField("allocation", LongType, nullable = false))))
        next.join(broadcast(planDf), Seq("domain"), "left_outer")
          .select(col("domain"), col("batch_tokens"), col("consumed_tokens"),
            col("allocation"),
            (col("allocation") - col("consumed_tokens")).as("remaining"),
            coalesce(col("consumed_tokens") > col("allocation"), lit(true))
              .as("over_budget"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
        next.select("domain", "consumed_tokens")
          .write.mode("overwrite").parquet(target)
      }
    }
  }

  /** The burn-down audit trail: one row per (batch, domain). */
  def budgetHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  /** D25: CONTINUOUS enrichment-view maintenance — the streaming face of
    * B39 ([[graft.operators.Diff.maintainJoin]]), closing the
    * B3 → B39 → D25 family: the fact DELTA streams in (upserts + rows
    * flagged by `tombstoneCol` as deletes); each micro-batch re-reads the
    * current dimension, DIFFS it against the dim snapshot stored with the
    * state (B3 inside the loop — dim inserts/updates/deletes all become
    * changed keys), and applies the delta-join maintenance to the
    * pointer-versioned view. Fact history is never re-joined; per batch
    * the work is one view scan + broadcast joins of delta/dim frames.
    *
    * State = {view, dim snapshot} under one batchId version, so the view
    * applies each delta exactly once via [[versioned]]. The dim snapshot
    * rides the state (dims are broadcast-small by the B39 contract), so
    * dim drift between batches is detected without any dim changelog. */
  def enrichmentMaintain(facts: DataFrame, dimProvider: () => DataFrame,
                         stateRoot: String, checkpointDir: String,
                         factKey: String, dimKey: String,
                         tombstoneCol: String = "_deleted"): Unit = {
    runToSink(facts, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val dim = dimProvider()
        val deletes = batch.filter(col(tombstoneCol)).select(col(factKey))
        val upserts = batch.filter(!col(tombstoneCol)).drop(tombstoneCol)
        val (oldView, oldDim) = prev match {
          case Some(p) =>
            (spark.read.parquet(s"$p/view"), spark.read.parquet(s"$p/dim"))
          case None =>
            val viewSchema = org.apache.spark.sql.types.StructType(
              upserts.schema.fields ++
                dim.schema.fields.filter(_.name != dimKey).map(_.copy(nullable = true)))
            (spark.createDataFrame(
              java.util.List.of[org.apache.spark.sql.Row](), viewSchema),
              spark.createDataFrame(
                java.util.List.of[org.apache.spark.sql.Row](), dim.schema))
        }
        val changedKeys = graft.operators.Diff
          .snapshotDiff(dim, oldDim, Seq(dimKey)).select(dimKey)
        val next = graft.operators.Diff.maintainJoin(
          oldView, upserts, deletes, dim, changedKeys, factKey, dimKey)
        next.write.mode("overwrite").parquet(s"$target/view")
        dim.write.mode("overwrite").parquet(s"$target/dim")
      }
    }
  }

  /** The current maintained enrichment view. */
  def enrichmentView(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(s"${publishedVersion(spark, stateRoot)}/view")

  /** The C60 two-level hash-bucketed token-prefix placement of one batch
    * starting at global token `offset` — shared by [[shardAssign]] and
    * [[curationSync]]: (idCol, n_tokens, shard_id, token_offset). */
  private def placeBatchOnAxis(batch: DataFrame, offset: Long, shardTokens: Long,
                               idCol: String, tokCol: String): DataFrame = {
    val base = batch.select(col(idCol), col(tokCol).cast("long").as("__tok"))
      .withColumn("__k", graft.operators.Sampling.rankHash(col(idCol)))
      .withColumn("__bkt", expr(s"__k div ${1L << 44}"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("__bkt").orderBy(col("__k"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wBuckets = org.apache.spark.sql.expressions.Window.orderBy("__bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val offsets = base.groupBy("__bkt").agg(sum(col("__tok")).as("__tot"))
      .withColumn("__off", sum(col("__tot")).over(wBuckets) - col("__tot"))
      .select("__bkt", "__off")
    base
      .withColumn("__cum", sum(col("__tok")).over(wLocal))
      .join(broadcast(offsets), "__bkt")
      .withColumn("__prefix", lit(offset) + col("__off") + col("__cum") - col("__tok"))
      .select(col(idCol), col("__tok").as("n_tokens"),
        expr(s"__prefix div $shardTokens").as("shard_id"),
        col("__prefix").as("token_offset"))
  }

  private def writeCumState(spark: SparkSession, target: String, cum: Long): Unit =
    spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(cum)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cum_tokens",
            org.apache.spark.sql.types.LongType, nullable = false))))
      .write.mode("overwrite").parquet(target)

  /** All shard assignments emitted so far, oldest batch first. */
  def shardAssignments(spark: SparkSession, outRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(outRoot)

  /** Per-batch curation report of [[curationSync]]. */
  final case class CurationReport(batchId: Long, rowsIn: Long, invalid: Long,
                                  dups: Long, kept: Long)

  /** The CONTINUOUS CURATION SYNC — B25's per-micro-batch sync loop
    * composed with the training-data composites it was built next to:
    * stream source → B20 schema-driven VALIDATE (rejects quarantined) →
    * D13 NEAR-DUP PROBE against the persisted band index (matches
    * recorded, duplicates dropped, survivors appended to the index so
    * later batches dedupe against them) → D22 SHARD ASSIGN (survivors
    * packed onto the monotone global token axis) → DESTINATION sink
    * (per-batch callback — a RestSink delivery profile in the spec).
    *
    * [[oncePerBatch]] wraps the whole composition, so every stage runs
    * once per batch; the destination callback is at-least-once, same
    * contract as
    * [[graft.sync.SyncRunner.runContinuous]]. State read per batch is
    * the latest prior batch's 1-row cum count (the done-marker is the
    * only commit, so a replay never reads its own); index probe cost is
    * the C27 contract (index bytes, not corpus bytes).
    *
    * Layout under `root`: `index/{bands,sets}/v<id>`, `matches/v<id>`,
    * `rejects/v<id>`, `shards/v<id>`, `state/v<id>`, `_done_v<id>`. */
  def curationSync(docs: DataFrame, docSchema: org.apache.spark.sql.types.StructType,
                   root: String, checkpointDir: String,
                   shardTokens: Long = 2000L, threshold: Double = 0.7,
                   idCol: String = "doc_id", textCol: String = "text")
                  (sink: (DataFrame, Long) => Unit): Seq[CurationReport] = {
    val reports = scala.collection.mutable.ListBuffer.empty[CurationReport]
    runToSink(docs, checkpointDir) { (batch, batchId) =>
      oncePerBatch(batch, batchId, root) { (spark, priorSlices) =>
        val df = batch.cut() // one source read
        // B20: schema-driven validation; rejects are quarantined, not lost
        val rules = graft.model.SchemaValidation.rules(docSchema)
        val validCol = rules.map(_._2(df)).reduceOption(_ && _).getOrElse(lit(true))
        val flagged = df.withColumn("__valid", validCol)
        flagged.filter(!col("__valid")).drop("__valid")
          .write.mode("overwrite").parquet(s"$root/rejects/v$batchId")
        val valid = flagged.filter(col("__valid")).drop("__valid")
        // D13: probe the index built by PRIOR batches, record matches,
        // drop the duplicates
        val bandDirs = priorSlices("index/bands")
        val dupIds: DataFrame = if (bandDirs.isEmpty) valid.select(col(idCol)).limit(0)
        else {
          val matches = graft.operators.Dedup.incrementalNearDup(valid,
            spark.read.parquet(bandDirs: _*), spark.read.parquet(priorSlices("index/sets"): _*),
            textCol = textCol, idCol = idCol, threshold = threshold)
          matches.write.mode("overwrite").parquet(s"$root/matches/v$batchId")
          spark.read.parquet(s"$root/matches/v$batchId")
            .select(col("new_id").as(idCol)).distinct()
        }
        val kept = valid.join(dupIds, Seq(idCol), "left_anti")
          .cut()
        // survivors (only) enter the index: later batches dedupe against
        // the canonical copy, never against dropped duplicates
        val (nb, ns) = graft.operators.Dedup.bandIndex(kept, textCol = textCol, idCol = idCol)
        nb.write.mode("overwrite").parquet(s"$root/index/bands/v$batchId")
        ns.write.mode("overwrite").parquet(s"$root/index/sets/v$batchId")
        // D22: pack survivors onto the global token axis, starting at the
        // cum count of the latest prior batch — never this batch's own
        // `state/v<id>`, which a crashed first attempt may have left
        val offset = priorSlices("state")
          .maxByOption(p => new org.apache.hadoop.fs.Path(p).getName.drop(1).toLong)
          .fold(0L)(p => spark.read.parquet(p).select(col("cum_tokens")).head().getLong(0))
        val withTok = kept.withColumn("__ntok",
          size(graft.operators.TextOps.tokens(col(textCol))).cast("long"))
        val placed = placeBatchOnAxis(withTok, offset, shardTokens, idCol, "__ntok")
        placed.write.mode("overwrite").parquet(s"$root/shards/v$batchId")
        val newCum = offset + spark.read.parquet(s"$root/shards/v$batchId")
          .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
        writeCumState(spark, s"$root/state/v$batchId", newCum)
        // destination: curated rows + their placement, per-batch profile
        sink(kept.join(spark.read.parquet(s"$root/shards/v$batchId"), idCol), batchId)
        val Seq(nIn, nValid, nKept) = Seq(df, valid, kept).map(_.count())
        reports += CurationReport(batchId, nIn, nIn - nValid, nValid - nKept, nKept)
      }
    }
    reports.toSeq
  }

  /** D8: streaming reverse-ETL — any stream into any graft batch sink
    * (RestSink / JdbcSink / Payloads shapers) via foreachBatch: each
    * micro-batch is an ordinary DataFrame, so the WHOLE batch sink
    * library applies unchanged, with exactly-once bookkeeping from the
    * checkpoint + the sink's idempotence (upserts/audience diffs are
    * idempotent by construction; batchId lets non-idempotent sinks
    * dedupe). This is how a production continuous sync runs: the batch
    * SyncRunner semantics, incrementally.
    *
    * It is also the ONE micro-batch runner: every foreachBatch query in
    * graft (every maintained-state operator here and
    * [[graft.sync.SyncRunner.runContinuous]]) starts here, in append mode
    * with an AvailableNow trigger — process everything available, then
    * stop; re-invocation resumes from `checkpointDir`. The runner adds
    * no skip rules of its own: `sink` sees every batch, empty and
    * replayed ones included. Operators that maintain state wrap their
    * sink in one of the two exactly-once steps, [[versioned]] (one
    * pointer-published state frame) or [[oncePerBatch]] (appended
    * slices + a done-marker), which own the replay skip, the empty skip
    * and publish-last. */
  def runToSink(transformed: DataFrame, checkpointDir: String)
               (sink: (DataFrame, Long) => Unit): Unit = {
    val q = transformed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** D26: CONTINUOUS concurrency monitor — the streaming twin of A38's
    * sweep-line (`Events.q158Concurrency`). A session tracker emits a
    * BOUNDARY log — (+1, t) when a session opens, (−1, end+1µs) when it
    * closes — in time order; each micro-batch runs the same two-level
    * [[graft.operators.Sweep]] running sum, lifted by the carried
    * open-session count from state, so `running` is the TRUE global
    * concurrency at every boundary no matter where the stream was cut
    * (a session open in batch N may not close until batch N+3 — the
    * carry bridges it). Emits one slice per batch:
    * (day, peak_concurrency, n_starts, n_ends); slice peaks already
    * include the carry, so the exact merge law is
    *   groupBy(day).agg(max(peak), sum(starts), sum(ends)) over slices
    *     == the one-shot batch q158
    * (spec-pinned). State = ONE row (Σdelta so far = open sessions at
    * the axis frontier), advanced exactly once via [[versioned]]. */
  def concurrencyMonitor(boundaries: DataFrame, stateRoot: String,
                         outRoot: String, checkpointDir: String): Unit = {
    runToSink(boundaries, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val carry = prev.map(p => spark.read.parquet(p)
          .select(col("cum_tokens")).head().getLong(0)).getOrElse(0L)
        val bounds = batch
          .select(col("t_us"), col("delta"), col("user_id"), col("session_seq"))
        val slice = graft.operators.Sweep
          .runningSum(bounds, expr("t_us div 86400000000L"),
            Seq("t_us", "delta", "user_id", "session_seq"), "delta")
          .withColumn("day", expr("t_us div 86400000000L"))
          .groupBy("day")
          .agg(max(col("running") + carry).as("peak_concurrency"),
               sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
               sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"))
        slice.write.mode("overwrite").parquet(s"$outRoot/v$batchId")
        val newCum = carry + bounds.agg(sum(col("delta"))).head().getLong(0)
        writeCumState(spark, target, newCum)
      }
    }
  }

  /** All concurrency slices emitted so far by [[concurrencyMonitor]]. */
  def concurrencySlices(spark: SparkSession, outRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(outRoot)

  /** D27: CONTINUOUS distribution-drift monitor — the streaming twin of
    * B43's `q162DriftAudit`: the reference period's per-bin ppm shares
    * ride as a broadcast frame, each micro-batch's binned counts fold
    * into pointer-versioned cumulative per-bin state, and a drift report
    * lands per batch — (bin, batch_n, cum_n, share_cum_ppm, ref_ppm,
    * gap_ppm, tvd_ppm, batch_id), where shares and TVD are over the
    * CUMULATIVE current-period histogram so far (the monotone-refining
    * estimate a monitor wants; a bin unseen in the reference reports
    * ref_ppm 0 and drifts from its first row). Exact merge law,
    * spec-pinned: once the stream has delivered the whole current
    * period, the last batch's report equals the one-shot batch audit.
    * State and report are bin-frame-sized; per batch one map-side
    * partial count; exactly once via [[versioned]]. */
  def driftMonitor(rows: DataFrame, refPpm: Map[Long, Long], binWidth: Double,
                   metricCol: String, stateRoot: String, reportRoot: String,
                   checkpointDir: String): Unit = {
    runToSink(rows, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val binned = batch
          .select(floor(col(metricCol) / lit(binWidth)).cast("long").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("batch_n"))
        val prior = prev.map(p => spark.read.parquet(p))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("bin",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("cum_n",
                org.apache.spark.sql.types.LongType, nullable = false)))))
        val cum = binned.join(prior, Seq("bin"), "full_outer")
          .select(col("bin"),
            (coalesce(col("batch_n"), lit(0L)) + coalesce(col("cum_n"), lit(0L))).as("cum_n"),
            coalesce(col("batch_n"), lit(0L)).as("batch_n"))
        val ref = spark.createDataFrame(refPpm.toSeq).toDF("bin", "ref_ppm")
        val report = cum
          .join(broadcast(ref), Seq("bin"), "full_outer")
          .na.fill(0L, Seq("cum_n", "batch_n", "ref_ppm"))
          .crossJoin(broadcast(cum.agg(sum(col("cum_n")).as("__tot"))))
          .select(col("bin"), col("batch_n"), col("cum_n"),
            expr("cum_n * 1000000 div __tot").as("share_cum_ppm"), col("ref_ppm"))
          .withColumn("gap_ppm", abs(col("share_cum_ppm") - col("ref_ppm")))
        val tvd = report.agg(expr("sum(gap_ppm) div 2").as("tvd_ppm"))
        report.crossJoin(broadcast(tvd))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
        cum.select("bin", "cum_n")
          .write.mode("overwrite").parquet(target)
      }
    }
  }

  /** Drift-report history of [[driftMonitor]], all batches. */
  def driftHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  /** D34: continuous WINNOWING excerpt detection on ingest — the
    * streaming face of C140 and the character-granular companion to
    * D13's shingle-band dedup ingest: every document micro-batch's
    * winnowing fingerprints (guaranteed to witness any shared substring
    * ≥ k+w−1 chars) probe the persisted fingerprint index for excerpt
    * overlap against EVERYTHING already ingested, then append as the
    * batch's own index slice — so a lifted paragraph is caught however
    * many batches apart the source and the copy arrive, at per-ingest
    * cost independent of corpus size (the C27 property).
    *
    * Fingerprint slices and match outputs are applied exactly once via
    * [[oncePerBatch]]. */
  def winnowIngest(docs: DataFrame, indexRoot: String, matchesDir: String,
                   checkpointDir: String, k: Int = 8, w: Int = 16,
                   minShared: Long = 3L): Unit = {
    runToSink(docs, checkpointDir) { (batch, batchId) =>
      oncePerBatch(batch, batchId, indexRoot) { (spark, priorSlices) =>
        val fresh = graft.operators.Dedup.winnowFingerprints(batch, k, w)
        val priorDirs = priorSlices("fps")
        if (priorDirs.nonEmpty) {
          val idx = spark.read.parquet(priorDirs: _*)
            .select(col("id").as("corpus_id"), col("fp"))
          fresh.select(col("id").as("new_id"), col("fp"))
            .join(idx, "fp")
            .groupBy("new_id", "corpus_id")
            .agg(count(lit(1)).as("shared"))
            .filter(col("shared") >= minShared)
            .write.mode("overwrite").parquet(s"$matchesDir/v$batchId")
        }
        fresh.write.mode("overwrite").parquet(s"$indexRoot/fps/v$batchId")
      }
    }
  }

  /** Excerpt matches found by [[winnowIngest]], all batches. */
  def winnowMatches(spark: SparkSession, matchesDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(matchesDir)

  /** D32: continuously-maintained RETRIEVAL INDEX — the streaming face
    * of C38's inverted index and C126's BM25 scorer, which is how a
    * search index actually runs over an ingest stream: each document
    * micro-batch (a) appends its postings slice (doc_id, dl, term, tf)
    * under `postings/v<batchId>`, and (b) merges its term deltas
    * (df, total_tf) and corpus scalars (n_docs, l_total) into the
    * pointer-versioned current index frames — so BM25 idf and length
    * norms stay exact and current at per-batch cost, with no corpus
    * rescans, and [[bm25FromIndex]] scores queries through the SAME
    * kernel as the one-shot batch path
    * ([[graft.operators.Search.scoreBm25]]): maintained state must
    * equal scoring the full corpus bit-for-bit, which the spec pins.
    *
    * Contract: append-only corpus, every document ingested exactly once
    * (the C27/D13 ingest discipline) — df/total_tf/n_docs/l_total are
    * then additive across batches.
    *
    * Exactly once via [[versioned]], whose pointer flip publishes the
    * postings slice too: [[bm25FromIndex]] reads only postings slices at
    * or below the published version, so a crash-orphaned newer slice is
    * invisible until its batch replays and publishes.
    *
    * Scale: the per-batch merge shuffles batch-vocabulary keys against
    * the term frame (vocabulary-sized, a fraction of corpus bytes);
    * postings slices are plain parquet a periodic job compacts bucketed
    * by term (the D13 operational note) so probe joins stop shuffling
    * the index side. */
  def indexMaintenance(docs: DataFrame, stateRoot: String, checkpointDir: String,
                       idCol: String = "doc_id", textCol: String = "text"): Unit = {
    runToSink(docs, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val toks = batch
          .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
          .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
            explode(col("__toks")).as("term"))
        val tf = toks.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        tf.write.mode("overwrite").parquet(s"$stateRoot/postings/v$batchId")
        val termDelta = tf.groupBy("term").agg(
          count(lit(1)).cast("long").as("df"), sum("tf").cast("long").as("total_tf"))
        val statDelta = batch.agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(size(split(col(textCol), " "))).cast("long").as("l_total"))
        val (terms, stats) = prev match {
          case Some(p) => (
            spark.read.parquet(s"$p/terms").unionByName(termDelta)
              .groupBy("term").agg(sum("df").cast("long").as("df"),
                sum("total_tf").cast("long").as("total_tf")),
            spark.read.parquet(s"$p/stats").unionByName(statDelta)
              .agg(sum("n_docs").cast("long").as("n_docs"),
                sum("l_total").cast("long").as("l_total")))
          case None => (termDelta, statDelta)
        }
        terms.write.mode("overwrite").parquet(s"$target/terms")
        stats.write.mode("overwrite").parquet(s"$target/stats")
      }
    }
  }

  /** Current merged term frame (term, df, total_tf) of [[indexMaintenance]]. */
  def indexTerms(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(s"${publishedVersion(spark, stateRoot)}/terms")

  /** Current merged corpus scalars (n_docs, l_total) of [[indexMaintenance]]. */
  def indexStats(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(s"${publishedVersion(spark, stateRoot)}/stats")

  /** D33: continuously-maintained KMV bottom-k sketches — the streaming
    * face of C127, and the set-operation upgrade over D12's HLL state:
    * HLL state can only union; maintained KMV rows answer per-slice
    * cardinality AND pairwise union/Jaccard/intersection between slices
    * at any point in the stream, from a few hundred rows per slice.
    *
    * The merge IS the operator's own kernel: bottom-k sets are closed
    * under union, so each batch's kept rows union the persisted rows and
    * re-cut through `Sketches.kmvFromHashes` — the maintained sketch is
    * BIT-FOR-BIT the sketch of all data so far (the spec pins equality
    * with the one-shot build after multi-batch ingest). Exactly once via
    * [[versioned]]. */
  def kmvMaintenance(rows: DataFrame, sliceCol: String, valueCol: String,
                     stateRoot: String, checkpointDir: String,
                     k: Int = 256): Unit = {
    runToSink(rows, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val fresh = graft.operators.Sketches
          .kmvSketches(batch, sliceCol, valueCol, k)
          .select("slice", "hu")
        val merged = prev match {
          case Some(p) => graft.operators.Sketches.kmvFromHashes(
            spark.read.parquet(p).select("slice", "hu").unionByName(fresh), k)
          case None => graft.operators.Sketches.kmvFromHashes(fresh, k)
        }
        merged.write.mode("overwrite").parquet(target)
      }
    }
  }

  /** Current maintained KMV sketch rows of [[kmvMaintenance]]. */
  def kmvState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Pairwise set-operation estimates from the MAINTAINED sketches —
    * same kernel as the batch path (`Sketches.kmvPairs`). */
  def kmvPairsFromState(spark: SparkSession, stateRoot: String, k: Int = 256): DataFrame =
    graft.operators.Sketches.kmvPairs(kmvState(spark, stateRoot), k)

  /** D35: continuously-maintained CONTINGENCY state + chi-square
    * dependence monitor — the streaming face of C141, and the
    * categorical member of the drift-monitor family (D23 score buckets,
    * D27 binned TVD, D29 KS, D30 CUSUM watch ONE metric's distribution;
    * this watches whether two categorical columns STAY independent —
    * "has the language mix drifted into source-dependence?").
    *
    * Cell counts are ADDITIVE, so the maintained (x, y, o) frame is
    * exactly the one-shot contingency table of all data so far (the D33
    * closure argument with + in place of union-and-cut — spec-pinned
    * equal to the batch build); each published version re-prices
    * [[graft.operators.Dependence.chiSquareFromCells]] from the
    * category-domain-sized cell frame ALONE — history is never
    * rescanned — and appends (batch_id, chi2_ppm, v2_ppm, …) as a
    * versioned dependence history whose V² trajectory is the alarm
    * signal. Exactly once via [[versioned]]. */
  def dependenceMonitor(rows: DataFrame, xCol: String, yCol: String,
                        stateRoot: String, reportRoot: String,
                        checkpointDir: String): Unit = {
    runToSink(rows, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val fresh = batch
          .select(col(xCol).cast("string").as("x"), col(yCol).cast("string").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("o"))
        val merged = prev match {
          case Some(p) => fresh
            .join(spark.read.parquet(p).withColumnRenamed("o", "prev_o"),
              Seq("x", "y"), "full_outer")
            .select(col("x"), col("y"),
              (coalesce(col("o"), lit(0L)) + coalesce(col("prev_o"), lit(0L))).as("o"))
          case None => fresh
        }
        merged.write.mode("overwrite").parquet(target)
        graft.operators.Dependence.chiSquareFromCells(spark.read.parquet(target))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
      }
    }
  }

  /** D37: continuously-maintained RANKING-QUALITY (ROC-AUC) monitor —
    * the streaming face of C147 and the online form of the model-decay
    * question ("is the deployed score still separating the classes it
    * was shipped on?"): per-score (np, nn) counts are ADDITIVE, so the
    * maintained distinct-score frame is exactly the one-shot frame of
    * all labeled outcomes so far (the D35 closure argument); each
    * version re-prices [[graft.operators.Evaluation.rocAucFromCounts]]
    * from that value-domain-sized frame alone — history never
    * rescanned — appending a versioned (auc_ppm, gini_ppm) history
    * whose downward drift is the retrain signal. Exactly once via
    * [[versioned]]. */
  def aucMonitor(rows: DataFrame, labelCol: String, scoreCol: String,
                 stateRoot: String, reportRoot: String,
                 checkpointDir: String): Unit = {
    runToSink(rows, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val fresh = batch
          .select(col(scoreCol).cast("long").as("s"),
            when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("pos"))
          .groupBy("s")
          .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
        val merged = prev match {
          case Some(p) => fresh
            .join(spark.read.parquet(p)
              .select(col("s"), col("np").as("pnp"), col("nn").as("pnn")),
              Seq("s"), "full_outer")
            .select(col("s"),
              (coalesce(col("np"), lit(0L)) + coalesce(col("pnp"), lit(0L))).as("np"),
              (coalesce(col("nn"), lit(0L)) + coalesce(col("pnn"), lit(0L))).as("nn"))
          case None => fresh
        }
        merged.write.mode("overwrite").parquet(target)
        graft.operators.Evaluation.rocAucFromCounts(spark.read.parquet(target))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
      }
    }
  }

  /** Current maintained per-score counts of [[aucMonitor]]. */
  def aucState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Versioned AUC history of [[aucMonitor]], all batches. */
  def aucHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  /** D36: continuous EWMA level monitor — the streaming face of C144
    * and the SMOOTHED companion to D30's CUSUM (CUSUM accumulates
    * excursions vs a fixed level; this maintains the level estimate
    * itself and emits each point's one-step-ahead forecast error). The
    * carried state is one (series, t, sm) row per series; the carry law
    * (`Smoothing.ewma(carried=…)` — the head of a batch smooths AGAINST
    * the carry) makes a batch cut anywhere continue the exact same
    * fixed-point walk, so the concatenated per-batch reports are
    * BIT-FOR-BIT the one-shot walk over the full series (spec-pinned).
    *
    * Contract: the stream delivers COMPLETE (series, t, v) bucket
    * points in time order per series (the D30 grain discipline);
    * points at or before the carried t are LATE and dropped (counted
    * nowhere — a monitor never rewrites history). Exactly once via
    * [[versioned]]. */
  def ewmaMonitor(points: DataFrame, seriesCol: String, timeCol: String,
                  valueCol: String, stateRoot: String, reportRoot: String,
                  checkpointDir: String, aNum: Long = 1L, aDen: Long = 4L): Unit = {
    runToSink(points, checkpointDir) { (batch, batchId) =>
      versioned(batch, batchId, stateRoot) { (spark, prev, target) =>
        val pts = batch.select(col(seriesCol).as("series"),
          col(timeCol).cast("long").as("t"), col(valueCol).cast("long").as("v"))
        val state = prev.map(p => spark.read.parquet(p))
        val fresh = state match {
          case Some(st) => pts.join(
              broadcast(st.select(col("series"), col("t").as("__lt"))),
              Seq("series"), "left")
            .filter(col("__lt").isNull || col("t") > col("__lt"))
            .drop("__lt")
          case None => pts
        }
        val walk = graft.operators.Smoothing.ewma(fresh,
          col("series"), col("t"), col("v"), aNum, aDen,
          carried = state.map(_.select(col("series"), col("sm"))))
        walk.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportRoot/v$batchId")
        // new state: each touched series' last point; untouched series
        // carry forward unchanged
        val report = spark.read.parquet(s"$reportRoot/v$batchId")
        val wLast = org.apache.spark.sql.expressions.Window
          .partitionBy("series").orderBy(col("t").desc)
        val touched = report
          .withColumn("__rn", row_number().over(wLast))
          .filter(col("__rn") === 1).select("series", "t", "sm")
        val merged = state match {
          case Some(st) => st.join(touched.select(col("series")), Seq("series"), "left_anti")
            .unionByName(touched)
          case None => touched
        }
        merged.write.mode("overwrite").parquet(target)
      }
    }
  }

  /** Current maintained EWMA state of [[ewmaMonitor]]. */
  def ewmaState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Versioned walk history of [[ewmaMonitor]], all batches. */
  def ewmaHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  /** Current maintained contingency cells of [[dependenceMonitor]]. */
  def dependenceState(spark: SparkSession, stateRoot: String): DataFrame =
    spark.read.parquet(publishedVersion(spark, stateRoot))

  /** Versioned dependence history of [[dependenceMonitor]], all batches. */
  def dependenceHistory(spark: SparkSession, reportRoot: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(reportRoot)

  /** BM25 top-k from the MAINTAINED index — same kernel, same exact
    * integers as the one-shot [[graft.operators.Search.bm25TopK]]; reads
    * only postings slices at or below the published pointer version. */
  def bm25FromIndex(spark: SparkSession, stateRoot: String,
                    queries: Seq[(Int, String)], k: Int = 10,
                    k1Pm: Long = 1200L, bPm: Long = 750L): DataFrame = {
    val ptr = publishedVersion(spark, stateRoot)
    val published = ptr.substring(ptr.lastIndexOf("/v") + 2).toLong
    val root = new org.apache.hadoop.fs.Path(s"$stateRoot/postings")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slices = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v") &&
        st.getPath.getName.drop(1).toLong <= published)
      .map(_.getPath.toString)
    val tf = spark.read.parquet(slices: _*)
    graft.operators.Search.scoreBm25(tf,
      indexTerms(spark, stateRoot).select("term", "df"),
      indexStats(spark, stateRoot), queries, k, k1Pm, bPm)
  }
}
