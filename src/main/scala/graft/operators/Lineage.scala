package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The one round loop of the iterative family (components, MSF,
 * k-core/k-truss, LPA, Louvain, PageRank/PPR, HITS, BFS/Bellman-Ford,
 * near-dup clustering, BPE, hierarchy closure, MMR, k-center): every
 * operator hands [[Lineage.iterate]] its step and its stop rule, and the
 * loop owns the lineage cut, the freeing of superseded rounds and the
 * round budget.
 *
 * Why freeing needs care: each round's EAGER `localCheckpoint` persists
 * the frame as RDD storage blocks, and `Dataset.unpersist` only talks to
 * the CacheManager (entries registered by `persist()`/`cache()`) — it is
 * a SILENT NO-OP for checkpoint RDDs. Dead rounds then stay in executor
 * storage until a JVM GC lets the ContextCleaner find them: storage
 * pressure that grows with round count and, in a multi-query session,
 * with catalog position. [[free]] unpersists the checkpoint RDD itself.
 */
object Lineage {

  /** Free the storage blocks behind an EAGERLY `localCheckpoint`ed frame
    * that nothing references anymore. Safe ONLY when every consumer of
    * the frame has already materialized (the checkpoint's lineage is
    * truncated — dropped blocks cannot be recomputed). A frame that was
    * never checkpointed (plan is not a bare LogicalRDD) is left alone. */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** One round as the step and the stop rule see it: the previous
    * round's frame (the loop's `init` for round 0) and the 0-based round
    * index. */
  final class Round private[Lineage] (val prev: DataFrame, val index: Int) {
    private var scratch: List[DataFrame] = Nil

    /** Cache a frame this round reads more than once. It is unpersisted
      * as soon as the round's cut has materialized, before the stop test. */
    def persist(df: DataFrame): DataFrame = {
      scratch ::= df
      df.persist()
    }

    private[Lineage] def release(): Unit = scratch.foreach(_.unpersist(blocking = false))
  }

  /** Run at most `rounds` rounds of `step` from `init`; return the last
    * round's frame (`init` itself when `rounds` is 0).
    *
    * Per round, in this order:
    *  1. `step` builds the next frame from [[Round.prev]];
    *  2. the loop cuts it (`.cut()`, eager) and unpersists the frames the
    *     step cached with [[Round.persist]];
    *  3. unless this was the last allowed round, `stop(round, next)`
    *     decides whether `next` is final — it may read both rounds;
    *  4. only then is `prev` freed ([[free]]: a no-op unless `prev` is a
    *     bare checkpoint — the loop's own cut, or an `init` the caller
    *     cut for the loop and hands over with it).
    *
    * The step may keep alive any frame that does not read `prev`'s
    * storage: pre-loop frames, and checkpoints it cut itself (MSF keeps
    * each round's selection for its forest union). It must not keep a
    * frame that is a view over `prev` past the round. */
  def iterate(init: DataFrame, rounds: Int)(step: Round => DataFrame)
             (stop: (Round, DataFrame) => Boolean = (_, _) => false): DataFrame = {
    @annotation.tailrec
    def go(round: Round): DataFrame =
      if (round.index >= rounds) round.prev
      else {
        val next = step(round).cut()
        round.release()
        val last = round.index + 1 >= rounds || stop(round, next)
        free(round.prev)
        if (last) next else go(new Round(next, round.index + 1))
      }
    go(new Round(init, 0))
  }

  /** [[iterate]] for a loop that must reach its fixed point within
    * `rounds`: the stop test also judges the last allowed round, and a
    * loop that would need one more round fails with `failure`. */
  def converge(init: DataFrame, rounds: Int, failure: => String)(step: Round => DataFrame)
              (stop: (Round, DataFrame) => Boolean): DataFrame =
    iterate(init, rounds + 1) { round =>
      require(round.index < rounds, failure)
      step(round)
    }(stop)

  /** `f` taken at most once per frame: a stop rule comparing a per-round
    * scalar reads each round's value twice, once as `next` and once more
    * as the following round's `prev`. The last three values are kept, so
    * the rule may read the two rounds in either order. */
  def once[K](f: DataFrame => K): DataFrame => K = {
    var seen = List.empty[(DataFrame, K)]
    df => seen.collectFirst { case (d, k) if d eq df => k }.getOrElse {
      val k = f(df)
      seen = ((df, k) :: seen).take(3)
      k
    }
  }

  /** Eager `localCheckpoint` + carried-stats clamp — the lineage cut every
    * iterative round must use. `Dataset.localCheckpoint` preserves the
    * origin plan's ESTIMATED stats on the resulting LogicalRDD; with
    * Catalyst's join estimate being the product of child sizes, round-
    * over-round checkpoints compound the estimate double-exponentially
    * until the BigInteger arithmetic inside the NEXT checkpoint costs
    * minutes of driver CPU (q239@sf0.01 hung the whole r12 verify phase
    * there). The clamp (see [[org.apache.spark.sql.GraftStatsBridge]])
    * caps the carried value at Long.MaxValue — identical planning
    * behavior in every sane regime, bounded arithmetic in the insane one. */
  implicit final class LineageOps(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame =
      org.apache.spark.sql.GraftStatsBridge.clampCheckpointStats(
        df.localCheckpoint(eager = true))
  }
}
