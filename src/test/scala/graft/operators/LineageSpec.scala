package graft.operators

import graft.SparkSuite
import graft.operators.Lineage.LineageOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Storage hygiene of the iterative family: [[Lineage.iterate]] frees
  * every superseded round's checkpoint as the loop advances
  * ([[Lineage.free]] — `Dataset.unpersist` is a CacheManager no-op for
  * checkpoint RDDs).
  *
  * The combinator tests read each superseded checkpoint RDD's storage
  * level: `RDD.unpersist` sets it to NONE, `Dataset.unpersist` does not,
  * and no GC can change it. The census table is the coarser end-to-end
  * check per operator: the persistent-RDD count after a many-round run
  * stays bounded instead of growing with round count. That census holds
  * its RDDs weakly, so a GC between the two reads can hide a leak — it
  * bounds, it does not prove. */
class LineageSpec extends SparkSuite {
  import spark.implicits._

  private def checkpointOf(df: DataFrame): RDD[_] = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd
    case other => fail(s"not a checkpoint: ${other.getClass.getSimpleName}")
  }

  test("iterate frees every superseded round and keeps the returned one readable") {
    val init = (1L to 20L).toDF("x").cut()
    val superseded = ArrayBuffer.empty[DataFrame]
    val out = Lineage.iterate(init, 6) { round =>
      superseded += round.prev
      round.prev.select((col("x") + 1).as("x"))
    }()
    assert(superseded.size == 6)
    superseded.zipWithIndex.foreach { case (f, i) =>
      assert(checkpointOf(f).getStorageLevel == StorageLevel.NONE, s"round $i's input still stored")
    }
    assert(checkpointOf(out).getStorageLevel != StorageLevel.NONE)
    assert(out.agg(sum(col("x"))).head().getLong(0) == (7L to 26L).sum)
  }

  test("iterate stops early, never tests after the last round, releases round caches") {
    val tested = ArrayBuffer.empty[Int]
    val cached = ArrayBuffer.empty[DataFrame]
    def run(rounds: Int, stopAfter: Int): DataFrame =
      Lineage.iterate((1L to 5L).toDF("x").cut(), rounds) { round =>
        val twice = round.persist(round.prev.select((col("x") * 2).as("x")))
        cached += twice
        twice.select((col("x") - round.prev.agg(min(col("x"))).head().getLong(0)).as("x"))
      } { (round, _) => tested += round.index; round.index == stopAfter }

    val early = run(rounds = 5, stopAfter = 1)
    assert(tested == Seq(0, 1))
    assert(cached.size == 2)
    val full = run(rounds = 3, stopAfter = -1)
    assert(tested.drop(2) == Seq(0, 1), "the stop test ran after the last allowed round")
    cached.foreach(c => assert(c.storageLevel == StorageLevel.NONE, "round cache kept"))
    assert(early.count() == 5 && full.count() == 5)
  }

  test("converge judges the last allowed round and fails when one more is needed") {
    // x ← min(x + 1, 3) over {1, 2, 3}: sums 6, 8, 9, then 9 — fixed in round 2
    def run(rounds: Int): DataFrame =
      Lineage.converge((1L to 3L).toDF("x").cut(), rounds, "no fixed point") { round =>
        round.prev.select(least(col("x") + 1, lit(3L)).as("x"))
      } { (round, next) =>
        round.prev.agg(sum(col("x"))).head().getLong(0) == next.agg(sum(col("x"))).head().getLong(0)
      }
    assert(run(3).agg(sum(col("x"))).head().getLong(0) == 9L)
    val e = intercept[IllegalArgumentException](run(2))
    assert(e.getMessage.contains("no fixed point"))
  }

  private def census(): Int = spark.sparkContext.getPersistentRDDs.size

  // diameter-40 path ⇒ several pointer-doubling / peeling / closure rounds
  // actually run; a 30-node ring for the rank family
  private lazy val path = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
  private lazy val wpath = path.withColumn("w", col("src") % 3)
  private lazy val ring = (0L until 30L).map(i => (i, (i + 7) % 30, 1L)).toDF("src", "dst", "w")
  private lazy val docs = Seq((1L, "low lower lowest newer newest wider"),
    (2L, "lowest newest widest low new")).toDF("doc_id", "text")
  private lazy val vecs = (0L until 24L).map { i =>
    (i, Array((i % 5).toFloat, (i % 3).toFloat + 0.5f, (i % 7).toFloat - 2.0f))
  }.toDF("vec_id", "embedding")

  // (operator, census growth bound, run, result rows): the bound counts
  // live pre-loop checkpoints plus the result — never a round
  private lazy val censusTable: Seq[(String, Int, () => DataFrame, Long)] = Seq(
    ("components", 3, () => Graph.components(path, rounds = 8), 41L),
    ("pageRank", 4, () => Rank.pageRank(ring, iters = 6), 30L),
    ("personalizedPageRank", 5,
      () => Rank.personalizedPageRank(ring, Seq(0L, 3L).toDF("node"), iters = 6), 30L),
    ("hits", 5, () => Rank.hits(ring, iters = 4), 30L),
    ("seedDistance", 3, () => Rank.seedDistance(path, Seq(0L).toDF("node"), maxHops = 8), 9L),
    ("weightedSeedCost", 3,
      () => Rank.weightedSeedCost(wpath, Seq(0L).toDF("node"), rounds = 8), 9L),
    // 12 rounds peel 12 nodes off each end of the 41-node path
    ("kCore", 2, () => Graph.kCore(path, k = 2), 17L),
    ("kTruss", 2, () => Graph.kTruss(path, k = 3), 0L),
    ("labelPropagation", 3, () => Graph.labelPropagation(path, rounds = 6), 41L),
    ("louvainMove", 4, () => Graph.louvainMove(path, sweeps = 4), 41L),
    ("minimumSpanningForest", 8, () => Graph.minimumSpanningForest(wpath), 40L),
    ("resolveClusters", 3, () => Dedup.resolveClusters(path, "src", "dst", maxIter = 45), 41L),
    ("Hierarchy.ancestors", 2, () => Hierarchy.ancestors(path, "dst", "src"), 820L),
    ("Bpe.train", 2, () => Bpe.train(docs, merges = 6).symbols, 22L),
    ("Bpe.encodeStats", 5, () => Bpe.encodeStats(docs, Bpe.train(docs, merges = 6)), 2L),
    ("mmrRerank", 4,
      () => Similarity.mmrRerank(vecs, vecs.filter(col("vec_id") < 2L), m = 8, k = 5), 10L),
    ("kCenterSelect", 2, () => Similarity.kCenterSelect(vecs, k = 6), 6L))

  censusTable.foreach { case (name, bound, run, rows) =>
    test(s"$name frees superseded round checkpoints") {
      val before = census()
      val out = run()
      out.write.format("noop").mode("overwrite").save()
      val after = census()
      assert(after - before <= bound,
        s"$name leaked round checkpoints: census grew $before -> $after")
      assert(out.count() == rows)
    }
  }
}
