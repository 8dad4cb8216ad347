package graft.operators

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * C89: distributed PAGERANK — weighted random-walk centrality over an edge
 * frame, the link-graph quality signal web-corpus curation uses for seed
 * selection (Common Crawl ranks domains by link centrality and curation
 * pipelines treat that rank as a quality prior; reference pipelines score
 * "is this domain worth crawling/keeping" from exactly this computation).
 *
 * Spark-first shape: each round is ONE co-partitioned join + ONE
 * bounded-key aggregation — `contrib = edges ⋈ rank on src` shuffles on
 * src, the sum groups by dst, and the new rank left-joins back to the node
 * frame. No Pregel runtime, no driver-side graph: the rank frame IS the
 * state, `localCheckpoint(eager)` truncates lineage each round (the
 * suffix-doubling / k-means convention), so K rounds cost K bounded
 * shuffles at any graph size and driver state is zero.
 *
 * Exact integer fixed-point so the DuckDB oracle replays every round:
 * ranks are ppb-scaled longs (init = `scale` per node), each edge
 * contributes `r·w div wt` (truncating division, per-edge — the sum is
 * order-independent), and the damped update is
 * `((100−d)·scale + d·Σ contrib) div 100`. Overflow margin: total walk
 * mass stays ≈ N·scale, so a single hub rank < N·scale; with
 * N·scale·max(w) < 2⁶³ the products are safe (documented, ~1e16 at the
 * 100k-node purchase graph vs 9.2e18).
 *
 * Dangling nodes (no out-edges — real link graphs are full of them) get
 * the standard treatment: their rank mass is summed each round into a
 * ONE-ROW frame and redistributed uniformly, `dshare = D div N` per node
 * (truncating division — up to N−1 ppb-units of walk mass per round are
 * dropped rather than fabricated, deterministic on both engines). The
 * 1-row frame rides a broadcast nested-loop join — never a shuffle, never
 * driver state. Graphs where every node has out-edges (e.g. q170's
 * symmetrized purchase graph) have D = 0 every round and reproduce the
 * pre-dangling fixed point bit-for-bit.
 */
object Rank {

  /** PERSONALIZED PageRank: the teleport lands on a seed set instead of
    * uniformly — the topic-focused variant web curation uses to expand a
    * trusted seed list into a ranked neighborhood ("which domains does
    * the walk from THESE seeds keep visiting"). Same Spark shape as
    * [[pageRank]] (K co-partitioned rounds, zero driver state, exact
    * integer fixed-point), with the seed membership riding a broadcast
    * flag on the node frame:
    *
    *  - total walk mass is ONE unit `U = scale`; initialization and the
    *    per-round teleport give each seed `U div |S|` /
    *    `((100−d)·U div 100) div |S|` (truncating — up to |S|−1 units
    *    lost per term, deterministic on both engines);
    *  - dangling mass teleports to the SEEDS (`D div |S|` inside the
    *    damped term), the standard PPR formulation — walks restart at
    *    the personalization vector, never uniformly.
    *
    * @param seeds one column `node`; must be non-empty and a subset of
    *              the graph's nodes for the mass accounting to hold. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 6,
                           dampingPct: Int = 85,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // The caller's edge build (often an expensive corpus aggregation) is
    // evaluated exactly ONCE: `wt` rides a src-partitioned window on the
    // same shuffle the per-round join needs anyway — the r9 join-against-
    // groupBy shape re-evaluated the edge plan in wsum, ed AND the node
    // frame (4 corpus passes before round 1).
    val ed = edges.withColumn("wt",
      sum(col("w")).over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .cut()
    val srcs = ed.select(col("src").as("node")).distinct()
    val seedSet = seeds.select(col("node")).distinct().cut()
    // node frame with BOTH flags fused in (seed membership + dangling) —
    // one distinct, one checkpoint; the per-flag frames of the r9 shape
    // cost three extra upfront barriers
    val nodes = srcs
      .union(ed.select(col("dst").as("node")))
      .distinct()
      .join(srcs.withColumn("__out", lit(true)), Seq("node"), "left")
      .join(seedSet.withColumn("__s", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(false)).as("__seed"),
        col("__out").isNull.as("__dang"))
      .cut()
    // one bounded job: in-graph seed count + dangling existence
    val totals = nodes.agg(
      sum(when(col("__seed"), 1L).otherwise(0L)).as("n_seed_in_graph"),
      sum(when(col("__dang"), 1L).otherwise(0L)).as("nd")).head()
    val nS = seedSet.count() // checkpointed seeds-sized frame — cheap
    require(nS > 0, "personalized PageRank needs at least one seed")
    // out-of-graph seeds would silently leak teleport mass (they count in
    // |S| but hold no node row) — fail loudly instead
    require(totals.getLong(0) == nS, "every seed must be a node of the graph")
    val hasDanglings = totals.getLong(1) > 0L
    val teleport = ((100L - dampingPct) * scale / 100L) / nS
    val r0 = nodes.select(col("node"), col("__seed"), col("__dang"),
      when(col("__seed"), lit(scale / nS)).otherwise(lit(0L)).as("r"))
    Lineage.iterate(r0, iters) { round =>
      val r = round.prev
      val contrib = ed.join(r, ed("src") === r("node"))
        .select(ed("dst").as("node"), expr("r * w div wt").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      val joined = nodes.join(contrib, Seq("node"), "left")
      val withShare =
        if (hasDanglings) {
          // the flag rides the rank frame: bare aggregation, no semi-join
          val dshare = r
            .agg(coalesce(sum(when(col("__dang"), col("r"))), lit(0L)).as("dmass"))
            .select(expr(s"dmass div ${nS}L").as("dshare"))
          joined.crossJoin(broadcast(dshare))
        } else joined.withColumn("dshare", lit(0L))
      withShare
        .select(col("node"), col("__seed"), col("__dang"),
          (expr(s"$dampingPct * (coalesce(s, 0L) + if(__seed, dshare, 0L)) div 100") +
            when(col("__seed"), lit(teleport)).otherwise(lit(0L))).as("r"))
    }().select("node", "r")
  }

  /** Multi-source BFS SEED DISTANCE — hop count from the nearest seed,
    * the crawl-depth quality prior of web curation (Common Crawl-style
    * "how far from the trusted frontier was this page found"; pages
    * beyond depth d are routinely down-weighted or dropped). Frontier
    * BFS as bounded relational rounds: round k expands ONLY the nodes
    * first reached at hop k−1 (the frontier), so each round is one
    * co-partitioned join + a min-aggregate over (settled ∪ expansions),
    * `localCheckpoint` cutting lineage; K rounds = K bounded shuffles,
    * zero driver state. By default nodes unreached within `maxHops` are
    * absent from the result; `includeUnreached = true` left-joins the
    * graph's src-node set (derived from the ALREADY-CHECKPOINTED edge
    * frame — no second pass over the caller's edge build) so unreached
    * nodes appear with NULL hops.
    *
    * @return (node, d) for every node within `maxHops` of a seed; with
    *         `includeUnreached`, every src node, d NULL when beyond the
    *         horizon. */
  def seedDistance(edges: DataFrame, seeds: DataFrame, maxHops: Int = 6,
                   includeUnreached: Boolean = false): DataFrame = {
    require(maxHops >= 0)
    val ed = edges.select("src", "dst").distinct().cut()
    val dist0 = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("d")).cut()
    // round h expands the frontier: the nodes first reached at hop h
    def frontier(dist: DataFrame, h: Int) = dist.filter(col("d") === h)
    val dist = Lineage.iterate(dist0, if (maxHops > 0 && !dist0.isEmpty) maxHops else 0) { round =>
      val f = frontier(round.prev, round.index)
      val expand = ed.join(f, ed("src") === f("node"))
        .select(ed("dst").as("node"), (col("d") + 1).as("d"))
      round.prev.unionByName(expand)
        .groupBy("node").agg(min(col("d")).as("d"))
    } { (round, next) => frontier(next, round.index + 1).isEmpty }
    if (!includeUnreached) dist
    else ed.select(col("src").as("node")).distinct()
      .join(dist, Seq("node"), "left")
  }

  /** C137: WEIGHTED shortest paths from a seed set (distributed
    * Bellman–Ford) — the cost-aware upgrade over [[seedDistance]]'s
    * hop-count BFS: when edges carry real traversal costs (link
    * latency, inverse co-occurrence strength, toll), the nearest seed
    * in HOPS is not the nearest in COST. Integer weights, so every
    * relaxation replays exactly.
    *
    * Round r relaxes every edge once:
    * `dist ← min(dist, min over in-edges (dist[src] + w))` — after r
    * rounds dist is exact for all shortest paths of ≤ r edges, and a
    * fixed point is the true distance everywhere (negative weights are
    * refused, so monotone convergence is guaranteed). The early exit
    * is sound the components/LPA way: Σdist is strictly decreasing
    * until the fixed point, and post-convergence rounds are no-ops for
    * the oracle's full unroll.
    *
    * Scale shape per round: ONE co-partitioned edge⋈dist join + one
    * min-aggregation + checkpoint lineage cut; driver state = the
    * convergence scalar. The classic Pregel SSSP shape.
    *
    * @param edges (src, dst, w) DIRECTED, w ≥ 0 integer; symmetrize at
    *              the call site for undirected costs.
    * @return (node, cost) for reached nodes; unreached absent. */
  def weightedSeedCost(edges: DataFrame, seeds: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1)
    val ed = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .distinct().cut()
    require(ed.filter(col("w") < 0).isEmpty,
      "weightedSeedCost requires non-negative weights (Bellman-Ford with " +
        "negative edges needs V-1 rounds and a cycle check — out of contract)")
    val dist0 = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("cost")).cut()
    // (Σcost, |reached|) is a sound fixed-point signature: costs only
    // decrease under the min-agg and new nodes only add — equal pairs ⇒
    // nothing changed
    val signature = Lineage.once { dist =>
      val s = dist.agg(sum(col("cost").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n")).head()
      (s.getDecimal(0), s.getLong(1))
    }
    Lineage.iterate(dist0, rounds) { round =>
      val dist = round.prev
      val relax = ed.join(dist, ed("src") === dist("node"))
        .select(ed("dst").as("node"), (col("cost") + col("w")).as("cost"))
      dist.unionByName(relax)
        .groupBy("node").agg(min(col("cost")).as("cost"))
    } { (round, next) =>
      // the seeds' own signature is never taken: round 0 compares nothing
      round.index > 0 && signature(round.prev) == signature(next)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) — the link-analysis dual to
    * PageRank: a node is a good HUB if it points at good authorities and
    * a good AUTHORITY if good hubs point at it. On a bipartite
    * interaction graph (customers→suppliers, crawl-frontier→domains) the
    * duality is the natural reading: hub scores rank the pointing side,
    * authority scores the pointed-at side.
    *
    * Exact integer power iteration, so the DuckDB oracle replays every
    * round: scores are fixed-point longs starting at 10⁴; each round
    * computes `auth(v) = Σ_{u→v} hub(u)·w` then `hub(u) = Σ_{u→v}
    * auth(v)·w` and renormalizes EACH side to max 10⁴ by truncating
    * division (the q163 power-method convention — wide intermediates via
    * DECIMAL(38,0)/HUGEINT sums, loud failure past int64 on both
    * engines). Each round is two co-partitioned join+agg passes with
    * `localCheckpoint` lineage cuts; zero driver state beyond the two
    * 1-row maxima.
    *
    * @return (node, hub_fx, auth_fx) — fixed-point scores in [0, 10⁴];
    *         nodes with no out-edges have hub 0, no in-edges auth 0. */
  def hits(edges: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1)
    val ed = edges.select("src", "dst", "w").cut()
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node")))
      .distinct().cut()
    // Each half-round checkpoints the RAW SUMS frame (join+agg), collects
    // the side's max as ONE bounded driver scalar (the same kmeans-d /
    // pageRank-N convention), and renormalizes with the max as a LITERAL
    // — a plain codegen'd projection over the checkpointed data. The r9
    // shape checkpointed AFTER a crossJoin(broadcast(max)) renorm, so the
    // 1-row broadcast embedded a SECOND copy of the whole join+agg
    // subtree and every half-round paid the expensive pass twice, plus a
    // BroadcastNestedLoopJoin (A/B-measured ~20% slower than the scalar
    // form even before the double compute). Nodes absent from a sums
    // frame have score 0 IMPLICITLY (zero mass, can't win the max —
    // scores are non-negative), so the r9 per-half-round zero-fill join
    // against the node frame is dropped too; the fill happens once, in
    // the final output.
    // half-round `half` turns (node, x) scores of one side into the
    // other side's raw sums (node, s): even halves hub → authority
    // (score on src, sum on dst), odd halves authority → hub
    def sums(score: DataFrame, half: Int): DataFrame = {
      val (joinKey, outKey) = if (half % 2 == 0) ("src", "dst") else ("dst", "src")
      ed.join(score, ed(joinKey) === score("node"))
        .select(ed(outKey).as("node"), (col("x").cast("decimal(38,0)") * col("w")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
    }
    def normalize(sums: DataFrame, scoreCol: String): DataFrame = {
      val mx = sums.agg(max(col("s"))).head().getDecimal(0)
      if (mx != null && mx.signum > 0)
        sums.select(col("node"),
          expr(s"cast(s * 10000 div cast('${mx.toPlainString}' as decimal(38,0)) as long)")
            .as(scoreCol))
      else sums.select(col("node"), lit(0L).as(scoreCol))
    }
    // every half-round but the last: the loop keeps the final authority
    // sums alive for both the last hub half and the output
    val authSums = Lineage.iterate(nodes.select(col("node"), lit(10000L).as("x")),
        2 * iters - 1) { round =>
      sums(if (round.index == 0) round.prev else normalize(round.prev, "x"), round.index)
    }()
    val auth = normalize(authSums, "a")
    val hub = normalize(sums(auth.withColumnRenamed("a", "x"), 1).cut(), "h")
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_fx"),
        coalesce(col("a"), lit(0L)).as("auth_fx"))
  }

  /** @param edges (src: long, dst: long, w: long); the node set is
    *              distinct(src ∪ dst) — pure sinks are handled by the
    *              dangling-mass redistribution, no symmetrization needed.
    * @return (node, r) — fixed-point rank after `iters` damped rounds. */
  def pageRank(edges: DataFrame, iters: Int = 6, dampingPct: Int = 85,
               scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // The caller's edge build (often an expensive corpus aggregation) is
    // evaluated exactly ONCE: `wt` rides a src-partitioned window on the
    // same shuffle the per-round join needs anyway — the r9 join-against-
    // groupBy shape re-evaluated the edge plan in wsum, ed AND the node
    // frame (4 corpus passes before round 1, the q170 idle regression).
    val ed = edges.withColumn("wt",
      sum(col("w")).over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .cut()
    val srcs = ed.select(col("src").as("node")).distinct()
    // node frame with the dangling flag FUSED in ("never appears as
    // src" = left join against the src set) — one materialization
    // instead of the r9 shape's separate anti-join checkpoint
    val nodes = srcs
      .union(ed.select(col("dst").as("node")))
      .distinct()
      .join(srcs.withColumn("__out", lit(true)), Seq("node"), "left")
      .select(col("node"), col("__out").isNull.as("__dang"))
      .cut()
    // N and the dangling-existence probe from ONE bounded job on the
    // checkpointed node frame (was two: count + isEmpty)
    val totals = nodes.agg(count(lit(1)).as("n"),
      sum(when(col("__dang"), 1L).otherwise(0L)).as("nd")).head()
    val n = totals.getLong(0)
    // graphs where every node has out-edges (the symmetrized case) have
    // D = 0 every round by construction — skip the per-round dangling
    // aggregation and broadcast entirely
    val hasDanglings = totals.getLong(1) > 0L
    Lineage.iterate(nodes.select(col("node"), col("__dang"), lit(scale).as("r")), iters) { round =>
      val r = round.prev
      val contrib = ed.join(r, ed("src") === r("node"))
        .select(ed("dst").as("node"), expr("r * w div wt").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      val joined = nodes.join(contrib, Seq("node"), "left")
      val withShare =
        if (hasDanglings) {
          // this round's dangling mass as a 1-row broadcast: D div N —
          // the flag rides the rank frame, so this is a bare aggregation
          // over r, no semi-join
          val dshare = r
            .agg(coalesce(sum(when(col("__dang"), col("r"))), lit(0L)).as("dmass"))
            .select(expr(s"dmass div ${n}L").as("dshare"))
          joined.crossJoin(broadcast(dshare))
        } else joined.withColumn("dshare", lit(0L))
      withShare
        .select(col("node"), col("__dang"),
          expr(s"(${100 - dampingPct} * ${scale}L + $dampingPct * (coalesce(s, 0L) + dshare)) div 100")
            .as("r"))
    }().select("node", "r")
  }
}
