package graft.operators

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * A37: HIERARCHICAL closure — the recursive-CTE workload (org charts,
 * bill-of-materials, category trees, thread ancestry) Spark SQL has no
 * native construct for (no `WITH RECURSIVE`), solved as the classic
 * PATH-DOUBLING iteration: after round k the frame holds every
 * (node, ancestor, depth) with depth ≤ 2^k, so a depth-D hierarchy
 * closes in ⌈log₂ D⌉ joins — not D self-joins, and never a driver-side
 * walk. This is the textbook distributed transitive closure specialised
 * to forests/DAGs-with-unique-paths, where (node, ancestor) pairs are
 * unique and `distinct` is the whole dedup story.
 *
 * Scale: each round shuffles the closure frame on the join key (size =
 * Σ depths — the OUTPUT, so the work is output-proportional); driver
 * state per round is one row count (the k-means-loop contract);
 * localCheckpoint keeps plan depth constant across rounds. Terminates at
 * the fixpoint (no growth) or `maxIter` — fails loud rather than
 * silently truncating a deeper hierarchy.
 */
object Hierarchy {

  /** All (node, anc, depth ≥ 1) ancestor pairs of a forest/unique-path
    * DAG given its (child, parent) edge list. Self-loops are rejected —
    * they would make the closure infinite. */
  def ancestors(edges: DataFrame, childCol: String, parentCol: String,
                maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1)
    val acc0 = edges
      .filter(col(childCol) =!= col(parentCol))
      .select(col(childCol).as("node"), col(parentCol).as("anc"),
        lit(1L).as("depth"))
      .distinct().cut()
    val size = Lineage.once(_.count())
    if (size(acc0) == 0L) acc0
    else Lineage.converge(acc0, maxIter, s"hierarchy deeper than 2^$maxIter — raise maxIter") { round =>
      val acc = round.prev
      val ext = acc.as("a")
        .join(acc.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node").as("node"), col("b.anc").as("anc"),
          (col("a.depth") + col("b.depth")).as("depth"))
      acc.unionByName(ext).distinct()
    } { (round, next) => size(next) == size(round.prev) }
  }
}
