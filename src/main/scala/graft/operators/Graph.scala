package graft.operators

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * C107-C109: graph COHESION suite — the structural corpus-quality
 * measures that complement the centrality family (Rank): butterfly
 * counting (bipartite clustering), connected components (co-occurrence
 * cluster discovery — the graph face of dedup clustering), and k-core
 * decomposition (the dense interaction backbone). All three are EXACT
 * integer computations with bounded relational rounds, so the DuckDB
 * oracle replays them bit-for-bit; none keeps driver state beyond
 * bounded scalars (the kmeans-d / pageRank-N convention).
 *
 * Reference context: the reference's pipelines treat co-occurrence
 * clusters and interaction density as curation signals (the same role
 * its audience/dedup grouping plays — studied, not ported); web-corpus
 * curation uses exactly these measures on link/co-citation graphs
 * (butterfly counts for bipartite cohesion, components for mirror-site
 * groups, k-cores for spam-farm density).
 */
object Graph {

  /** Symmetrize (src, dst) in ONE pass over the input: each edge row
    * explodes into itself and its reverse. Value-identical to
    * `edges.union(edges.select(dst as src, src as dst))`, but the union
    * form evaluates the caller's edge-building plan TWICE (Spark does
    * no common-subexpression elimination across union branches), and
    * graph queries routinely feed an expensive aggregation here — q209's
    * co-purchase pair expansion was re-run once per branch per operator
    * call. The caller applies its own filter/distinct on top. */
  private[operators] def symmetrize(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** BUTTERFLY count — the bipartite clustering primitive: a butterfly
    * is a complete 2×2 biclique (two left nodes sharing two right
    * nodes), the bipartite analog of the triangle (bipartite graphs
    * have none). Counted from the LEFT (src) pivot: per src, every
    * unordered dst pair is one wedge; k wedges on the same dst pair
    * make C(k,2) butterflies.
    *
    * CALLER PICKS THE PIVOT SIDE: wedge volume is Σ C(deg,2) over the
    * pivot side, so feed the side with the smaller square-degree sum as
    * `src` (the Chiba–Nishizeki vertex-priority convention — on a
    * customers×suppliers graph the many-low-degree customer side beats
    * the few-high-degree supplier side by orders of magnitude). Scale
    * shape: one self-join co-partitioned on src (expansion bounded by
    * pivot-side degree), one bounded groupBy on the dst pair, two
    * 1-row aggregates. Wedge/butterfly sums ride DECIMAL(38,0) so k
    * near int64's root cannot overflow the C(k,2) products.
    *
    * HUB CAP (enforced, not advisory — the r10 scale audit): a pivot of
    * degree d expands into C(d,2) wedge rows, so ONE hub pivot of 10⁶
    * degree is 5·10¹¹ rows — quadratic blowup no partitioning absorbs.
    * Pivots with degree > `maxPivotDegree` are EXCLUDED from the wedge
    * expansion (one co-partitioned semi-join on the same src key) and
    * reported in the output ledger instead: `n_pivots_capped` and
    * `n_wedges_dropped` (= Σ C(deg,2) over capped pivots, the exact
    * expansion that was refused). A zero ledger certifies the counts
    * are exact; a non-zero ledger is a loud, quantified lower bound —
    * silent truncation is the failure mode this refuses. The default
    * (8192 ⇒ ≤ ~3.4·10⁷ wedges per pivot) sits far above bounded
    * per-entity degrees (TPC-H customer→supplier degree is O(40)
    * independent of SF) while refusing the web-scale hub pathology.
    *
    * @param edges (src, dst) — bipartite, deduplicated internally.
    * @param maxPivotDegree pivots above this degree are ledgered, not
    *                       expanded.
    * @return ONE row: (n_src, n_dst, n_edges, n_wedges, n_butterflies,
    *         n_pivots_capped, n_wedges_dropped). */
  def butterflies(edges: DataFrame, maxPivotDegree: Long = 8192L): DataFrame = {
    require(maxPivotDegree >= 2, s"maxPivotDegree must allow a wedge (got $maxPivotDegree)")
    val ed = edges.select("src", "dst").distinct().cut()
    val deg = ed.groupBy("src").agg(count(lit(1)).as("pivot_deg"))
    val keep = deg.filter(col("pivot_deg") <= maxPivotDegree).select("src")
    val ledger = deg.filter(col("pivot_deg") > maxPivotDegree).agg(
      count(lit(1)).as("n_pivots_capped"),
      coalesce(sum(expr("cast(pivot_deg as decimal(38,0)) * (pivot_deg - 1) div 2")
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("wedges_dropped_dec"))
    val edk = ed.join(keep, Seq("src"), "left_semi")
    val a = edk.as("a")
    val b = edk.as("b")
    val pairs = a.join(b, col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("d1"), col("b.dst").as("d2"))
      .agg(count(lit(1)).as("k"))
    val wedgeStats = pairs.agg(
      coalesce(sum(col("k").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("n_wedges_dec"),
      coalesce(sum(expr("cast(k as decimal(38,0)) * (k - 1) div 2").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("n_butterflies_dec"))
    val edgeStats = ed.agg(
      countDistinct(col("src")).as("n_src"),
      countDistinct(col("dst")).as("n_dst"),
      count(lit(1)).as("n_edges"))
    edgeStats.crossJoin(broadcast(wedgeStats)).crossJoin(broadcast(ledger))
      .select(col("n_src"), col("n_dst"), col("n_edges"),
        col("n_wedges_dec").cast("long").as("n_wedges"),
        col("n_butterflies_dec").cast("long").as("n_butterflies"),
        col("n_pivots_capped"),
        col("wedges_dropped_dec").cast("long").as("n_wedges_dropped"))
  }

  /** Hub-cap audit for the wedge-expansion operators ([[butterflies]],
    * [[neighborhoodJaccard]]): given the SAME edge frame an operator
    * expands (bipartite edges for butterflies; the symmetrized
    * undirected frame for neighborhoodJaccard — symmetrize before
    * calling), reports exactly what a `maxPivotDegree` cap refuses.
    * One bounded degree aggregation + a 1-row rollup — run it next to
    * any capped call whose result feeds a decision; a zero ledger row
    * certifies the capped result is exact.
    *
    * @return ONE row: (n_pivots, n_pivots_capped, max_pivot_deg,
    *         n_wedges_kept, n_wedges_dropped). */
  def wedgeCapLedger(edges: DataFrame, maxPivotDegree: Long): DataFrame =
    edges.select("src", "dst").distinct()
      .groupBy("src").agg(count(lit(1)).as("d"))
      .agg(
        count(lit(1)).as("n_pivots"),
        coalesce(sum(when(col("d") > maxPivotDegree, 1L).otherwise(0L)), lit(0L))
          .as("n_pivots_capped"),
        coalesce(max(col("d")), lit(0L)).as("max_pivot_deg"),
        coalesce(sum(when(col("d") <= maxPivotDegree,
          expr("cast(d as decimal(38,0)) * (d - 1) div 2"))
          .otherwise(lit(0).cast("decimal(38,0)"))), lit(0).cast("decimal(38,0)"))
          .cast("long").as("n_wedges_kept"),
        coalesce(sum(when(col("d") > maxPivotDegree,
          expr("cast(d as decimal(38,0)) * (d - 1) div 2"))
          .otherwise(lit(0).cast("decimal(38,0)"))), lit(0).cast("decimal(38,0)"))
          .cast("long").as("n_wedges_dropped"))

  /** CONNECTED COMPONENTS by min-label propagation WITH pointer
    * doubling — each round takes the min label over the closed
    * neighborhood, then compresses one pointer hop (`l ← label(l)`,
    * always defined: labels are node ids and monotonically
    * non-increasing), so label reach at least doubles per round and
    * `rounds = R` covers components of diameter ≈ 2^R. Deterministic
    * and exactly replayable: the component id IS the component's
    * minimum node id.
    *
    * Scale shape per round ([[hookAndJump]]): one co-partitioned
    * edge⋈label join, one min-aggregation, one label-sized self-join,
    * `localCheckpoint` lineage cut — K bounded shuffles total, zero
    * driver state. [[settled]] skips the rounds after the fixed point
    * (the oracle replays ALL R rounds — post-convergence rounds are
    * no-ops, so the results agree).
    *
    * @param edges (src, dst) — treated as UNDIRECTED (symmetrized
    *              internally).
    * @return (node, comp) for every node with ≥1 edge. */
  def components(edges: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1)
    val und = symmetrize(edges).distinct().cut()
    Lineage.iterate(selfLabels(und), rounds)(hookAndJump(und))(settled)
      .select(col("node"), col("l").as("comp"))
  }

  /** Round 0's frame of the connected-components kernel: every node of
    * the symmetric edge frame `und` labelled by itself, (node, l). */
  private[operators] def selfLabels(und: DataFrame): DataFrame =
    und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("l"))
      .cut()

  /** The connected-components kernel's one round, shared by
    * [[components]] and [[Dedup.resolveClusters]] (the q188, q239 and
    * q242 oracles replay it round for round: its body must not change).
    * Hook: each node takes the min label over its closed neighborhood in
    * `und`. Jump: it then takes its new label's own new label. Ids only
    * need an ordering, so string ids work as well as numeric ones. The
    * round frame is (node, was, l), `was` being the node's label before
    * the round, so [[settled]] can see which labels moved. */
  private[operators] def hookAndJump(und: DataFrame)(round: Lineage.Round): DataFrame = {
    val lbl = round.prev.select(col("node"), col("l"))
    // nbMin feeds BOTH sides of the pointer-hop self-join — cached so
    // the neighbor-min aggregation runs once per round, not once per side
    val nbMin = round.persist(und.join(lbl, und("src") === lbl("node"))
      .select(und("dst").as("node"), col("l"), lit(null).as("was"))
      .unionByName(lbl.select(col("node"), col("l"), col("l").as("was")))
      .groupBy("node").agg(min(col("l")).as("l"), max(col("was")).as("was")))
    // pointer hop l ← label(l): rename one side so the self-join
    // resolves unambiguously
    val parent = nbMin.select(col("node").as("pnode"), col("l").as("pl"))
    nbMin.join(parent, col("l") === col("pnode"))
      .select(col("node"), col("was"), col("pl").as("l"))
  }

  /** The kernel's stop rule: labels never rise, so a round that moved no
    * label is the fixed point, and every later round is a no-op. One
    * filtered `isEmpty` on the round's checkpoint, no shuffle. Round 0
    * moves a label whenever two distinct nodes share an edge, so its test
    * is skipped. */
  private[operators] def settled(round: Lineage.Round, next: DataFrame): Boolean =
    round.index > 0 && next.filter(col("l") =!= col("was")).isEmpty

  /** C155: MINIMUM SPANNING FOREST by distributed BORŮVKA — the
    * clustering backbone operator (single-linkage dendrograms, network
    * skeletonization, Karger-style sparsification all sit on an MSF):
    * per round, every current component selects its MINIMUM outgoing
    * edge under the STRICT total order (w, a, b) — the tie-break makes
    * weights effectively distinct, so the forest is UNIQUE and both
    * engines land on the identical edge set — then selected edges
    * contract via [[components]] (min-label + pointer doubling) and the
    * next round runs on the coarser partition.
    *
    * Correctness does NOT depend on full per-round contraction: the cut
    * property holds for ANY current super-node set, so edges selected
    * against a partially-contracted partition are still MSF edges (the
    * classic Borůvka generalization), an edge re-selected across rounds
    * dedups, and the driver-side "no crossing edges" check certifies
    * completion. `rounds` bounds the outer loop (components at least
    * halve per fully-contracted round ⇒ 2^rounds components covered);
    * an unconverged run returns the partial forest — both engines
    * replay the same schedule, and the q188 discipline (post-
    * convergence rounds are no-ops) keeps the oracle exact either way.
    *
    * Scale shape per round: one bounded per-component min-struct
    * aggregate over the crossing edges, the contraction, then the
    * crossing edges relabeled through it (a join per endpoint) — the
    * loop frame only shrinks. Nothing is ever quadratic.
    *
    * @param edges (src, dst, w) — undirected; parallel edges collapse
    *              to their min weight; self-loops dropped.
    * @return the forest's edges: (a, b, w), a < b canonical. */
  def minimumSpanningForest(edges: DataFrame, rounds: Int = 16): DataFrame = {
    require(rounds >= 1)
    val ecan = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
      .cut()
    // round 0's crossing edges: every edge, each endpoint its own component
    val cross0 = ecan.select(col("w"), col("a"), col("b"),
      col("a").as("lu"), col("b").as("lv")).cut()
    // every round's selection stays checkpointed: the forest union reads them
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    Lineage.iterate(cross0, if (cross0.isEmpty) 0 else rounds) { round =>
      val cross = round.prev
      val e = struct(col("w"), col("a"), col("b"), col("lu"), col("lv"))
      val sel = cross.select(col("lu").as("comp"), e.as("e"))
        .unionByName(cross.select(col("lv").as("comp"), e.as("e")))
        .groupBy("comp").agg(min(col("e")).as("e"))
        .select(col("e.w").as("w"), col("e.a").as("a"), col("e.b").as("b"),
          col("e.lu").as("lu"), col("e.lv").as("lv"))
        .distinct()
        .cut()
      picked += sel.select("a", "b", "w")
      // contract: relabel both endpoints of the still-crossing edges;
      // labels only merge, so an edge inside one component never crosses
      // again
      val comp = components(sel.select(col("lu").as("src"), col("lv").as("dst")))
      val cu = comp.select(col("node").as("nu"), col("comp").as("cu"))
      val cv = comp.select(col("node").as("nv"), col("comp").as("cv"))
      cross.join(cu, col("lu") === col("nu"), "left")
        .join(cv, col("lv") === col("nv"), "left")
        .select(col("w"), col("a"), col("b"),
          coalesce(col("cu"), col("lu")).as("lu"), coalesce(col("cv"), col("lv")).as("lv"))
        .filter(col("lu") =!= col("lv"))
    } { (_, next) => next.isEmpty }
    picked.reduceOption(_ unionByName _)
      .map(_.distinct().select("a", "b", "w"))
      .getOrElse(ecan.filter(lit(false)).select("a", "b", "w"))
  }

  /** C158: SINGLE-LINKAGE k-CLUSTERING via the MSF cut — the classic
    * dendrogram read-out [[minimumSpanningForest]] enables (single-
    * linkage agglomerative clustering ≡ Kruskal's merge order, so
    * cutting the `cuts` LARGEST forest edges under the same strict
    * (w, a, b) total order yields exactly the clustering a dendrogram
    * cut at height k produces — the textbook equivalence): clusters =
    * connected components of the forest minus its `cuts` heaviest
    * edges. A graph with c connected components yields c + cuts
    * clusters (each cut splits one tree).
    *
    * Scale shape: the forest is node-sized (n−c edges); the cut set is
    * a `cuts`-row TakeOrderedAndProject broadcast anti-joined away;
    * the final labeling is [[components]] on the node-sized remainder.
    *
    * @return (node, cluster) — cluster id = the min node id reachable
    *         in the cut forest. */
  def singleLinkage(edges: DataFrame, cuts: Int, rounds: Int = 16): DataFrame = {
    require(cuts >= 0)
    val msf = minimumSpanningForest(edges, rounds).cut()
    val kept =
      if (cuts == 0) msf
      else msf.join(
        broadcast(msf.orderBy(col("w").desc, col("a").desc, col("b").desc).limit(cuts)),
        Seq("a", "b", "w"), "left_anti")
    // a cut can isolate a node entirely (a leaf's only edge removed);
    // it is then its own singleton cluster — components() only labels
    // edge-connected nodes, so fill the gap from the forest's node set
    val nodes = msf.select(col("a").as("node"))
      .union(msf.select(col("b").as("node"))).distinct()
    val comp = components(kept.select(col("a").as("src"), col("b").as("dst")))
    nodes.join(comp, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("cluster"))
  }

  /** TRIANGLE count + global clustering coefficient — the classic graph
    * cohesion pair: triangles via the ORIENTED enumeration (every
    * undirected edge kept once as `a < b`, triangles found as
    * `ab ⋈ bc ⋈ ac` over the oriented frame, so each triangle is
    * counted exactly once and the quadratic wedge expansion runs over
    * oriented — roughly halved — adjacency), wedges as Σ C(deg, 2)
    * over true undirected degrees, and the global clustering
    * coefficient as the per-mille ratio 1000·3·triangles div wedges
    * (truncating integer division, exactly replayable; NULL when the
    * graph has no wedges).
    *
    * Scale shape: two co-partitioned self-joins for triangles (skew
    * bounded by max oriented degree — pre-orient by degree instead of
    * id when hubs dominate), one degree aggregation for wedges, 1-row
    * output. DECIMAL(38,0) wedge sums, same bound story as
    * [[butterflies]].
    *
    * @param edges (src, dst) — treated as UNDIRECTED; self-loops and
    *              duplicates dropped.
    * @return ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    *         gcc_pm). */
  def triangles(edges: DataFrame): DataFrame = {
    val ori = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct().cut()
    val ab = ori
    val bc = ori.select(col("a").as("b2"), col("b").as("c"))
    val ac = ori.select(col("a").as("a3"), col("b").as("c3"))
    val tri = ab.join(bc, col("b") === col("b2"))
      .join(ac, col("a") === col("a3") && col("c") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = ori.select(col("a").as("node"))
      .unionAll(ori.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("cast(d as decimal(38,0)) * (d - 1) div 2")
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("w_dec"))
    val edgeCount = ori.agg(count(lit(1)).as("n_edges"))
    edgeCount.crossJoin(broadcast(degStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"),
        col("w_dec").cast("long").as("n_wedges"), col("n_triangles"),
        when(col("w_dec") > 0,
          expr("cast(3 * n_triangles as decimal(38,0)) * 1000 div w_dec").cast("long"))
          .as("gcc_pm"))
  }

  /** Neighborhood JACCARD similarity join — "items that co-occur with
    * the same things": for every node pair with ≥1 common neighbor,
    * `J = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|` as an exact per-mille
    * (1000·k div (deg a + deg b − k)), kept when ≥ `minJPm`. The
    * graph-neighborhood face of the dedup family's set-similarity
    * joins (related-page / related-item discovery in curation).
    *
    * Scale shape: common-neighbor counts ride the same per-pivot wedge
    * expansion as [[butterflies]] (one self-join co-partitioned on the
    * pivot, Σ C(deg,2) rows); degrees join in bounded; the threshold
    * prunes before the output.
    *
    * HUB CAP (enforced — same contract as [[butterflies]], INCLUDING
    * the in-band ledger): wedge pivots with degree > `maxPivotDegree`
    * are excluded from the common-neighbor expansion via one
    * co-partitioned semi-join. Dropping a hub pivot UNDER-counts
    * `common` for pairs that co-occur through it while `deg_a`/`deg_b`
    * stay TRUE undirected degrees, so `j_pm` is a conservative lower
    * bound — hub-mediated co-occurrence carries ~zero similarity signal
    * anyway (everything co-occurs with a hub), which is exactly why
    * capped MOSS/ppjoin variants drop ubiquitous tokens. The refusal is
    * reported IN the output as the constant ledger columns
    * `n_pivots_capped` / `n_wedges_dropped` (= Σ C(deg,2) over capped
    * pivots) — a zero ledger certifies `common` and `j_pm` are exact;
    * a non-zero one is a loud, quantified lower-bound declaration, so
    * no caller can consume a capped result without seeing the cap
    * (the butterflies "no silent truncation" contract, r11 ADVICE).
    *
    * @param edges (src, dst) — treated as UNDIRECTED; deduplicated.
    * @param maxPivotDegree wedge pivots above this degree are skipped.
    * @return (a, b, common, deg_a, deg_b, j_pm, n_pivots_capped,
    *         n_wedges_dropped), a < b; the last two are constants. */
  def neighborhoodJaccard(edges: DataFrame, minJPm: Long,
                          maxPivotDegree: Long = 8192L): DataFrame = {
    require(maxPivotDegree >= 2, s"maxPivotDegree must allow a wedge (got $maxPivotDegree)")
    val und = symmetrize(edges)
      .filter(col("src") =!= col("dst"))
      .distinct().cut()
    // ONE degree frame drives the cap, the ledger, and the output degrees
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .persist()
    val keep = deg.filter(col("d") <= maxPivotDegree)
      .select(col("node").as("src"))
    val ledger = deg.agg(
      coalesce(sum(when(col("d") > maxPivotDegree, 1L).otherwise(0L)), lit(0L))
        .as("n_pivots_capped"),
      coalesce(sum(when(col("d") > maxPivotDegree,
          expr("cast(d as decimal(38,0)) * (d - 1) div 2"))
        .otherwise(lit(0).cast("decimal(38,0)"))), lit(0).cast("decimal(38,0)"))
        .as("wedges_dropped_dec"))
    val undk = und.join(keep, Seq("src"), "left_semi")
    // common neighbors: both a and b adjacent to pivot c → one wedge row
    val x = undk.select(col("src").as("c"), col("dst").as("a"))
    val y = undk.select(col("src").as("c2"), col("dst").as("b"))
    val common = x.join(y, col("c") === col("c2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    val degA = deg.select(col("node").as("a"), col("d").as("deg_a"))
    val degB = deg.select(col("node").as("b"), col("d").as("deg_b"))
    common.join(degA, "a").join(degB, "b")
      .withColumn("j_pm",
        expr("1000 * common div (deg_a + deg_b - common)"))
      .filter(col("j_pm") >= minJPm)
      .crossJoin(broadcast(ledger))
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        col("j_pm"), col("n_pivots_capped"),
        col("wedges_dropped_dec").cast("long").as("n_wedges_dropped"))
  }

  /** K-CORE — the maximal subgraph where every node keeps degree ≥ k,
    * by synchronous peeling: each round computes degrees, drops
    * under-k nodes, and removes their edges; the fixed point is the
    * k-core. `rounds` bounds the peeling (R rounds peel any graph
    * whose degeneracy ordering has ≤ R waves); an unchanged edge count
    * proves the fixed point (peeling is monotone), so converged graphs
    * skip the remaining rounds while the oracle's full-R replay
    * produces the identical frame.
    *
    * Scale shape per round: one degree aggregation + two
    * co-partitioned semi-joins + `localCheckpoint`; everything is
    * edge-frame-sized and shrinks monotonically.
    *
    * @param edges (src, dst) — treated as UNDIRECTED (symmetrized
    *              internally; degrees are undirected degrees).
    * @return (node, deg) — the k-core members with their in-core
    *         degree; empty when the k-core is empty. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 12): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val size = Lineage.once(_.count())
    val und = Lineage.iterate(symmetrize(edges).distinct().cut(), rounds) { round =>
      val und = round.prev
      val keep = und.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select("node")
      val keepDst = keep.select(col("node").as("node2"))
      und
        .join(keep, und("src") === keep("node"), "left_semi")
        .join(keepDst, col("dst") === keepDst("node2"), "left_semi")
    } { (round, next) =>
      // an emptied core, or a round that peeled nothing: the fixed point
      val left = size(next)
      left == 0L || left == size(round.prev)
    }
    und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Per-node LOCAL clustering coefficient — the node-level face of
    * [[triangles]]' global one: LCC(v) = triangles through v /
    * C(deg v, 2), per-mille. The node-quality signal the global
    * coefficient averages away: a mirror-site/community member sits in
    * a near-clique (LCC → 1000), a spam hub fans out to strangers
    * (high degree, LCC → 0) — exactly the per-node discrimination
    * crawl curation wants next to the k-core/k-truss cuts.
    *
    * Scale shape: the same oriented a<b<c enumeration as [[triangles]]
    * (two co-partitioned self-joins), then per-node triangle counts
    * from the three member projections and one degree aggregation —
    * all bounded-key groupBys; no new shuffle class.
    *
    * @param edges (src, dst) — treated as UNDIRECTED; deduplicated.
    * @param minDeg report only nodes with degree ≥ this (LCC of a
    *               degree-1 node is undefined — no wedge).
    * @return (node, deg, tri, lcc_pm). */
  def localClustering(edges: DataFrame, minDeg: Long = 2L): DataFrame = {
    val ori = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct().cut()
    val bc = ori.select(col("a").as("b2"), col("b").as("c"))
    val ac = ori.select(col("a").as("a3"), col("b").as("c3"))
    // the triangle enumeration feeds THREE member projections below —
    // lazy persist so the double self-join runs once, not three times
    val tris = ori.join(bc, col("b") === col("b2"))
      .join(ac, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
      .persist()
    val triPerNode = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b").as("node")))
      .unionAll(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    val deg = ori.select(col("a").as("node"))
      .unionAll(ori.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= minDeg)
      .join(triPerNode, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .select(col("node"), col("deg"), col("tri"),
        expr("cast(cast(tri as decimal(38,0)) * 2000 div (cast(deg as decimal(38,0)) * (deg - 1)) as long)")
          .as("lcc_pm"))
  }

  /** K-TRUSS — the EDGE-cohesion analog of [[kCore]] (Cohen 2008): the
    * maximal subgraph where every edge sits in ≥ k−2 triangles (its
    * "support"), by synchronous peeling — each round counts per-edge
    * support via the oriented triangle enumeration ([[triangles]]'
    * a<b<c shape) and drops under-supported edges. A triangle-free
    * edge has support 0 implicitly (it can't appear in the support
    * frame), so the survivors are exactly the support frame filtered
    * at the threshold. Trusses cut the spam/mirror noise cores keep: a
    * high-degree star survives k-core but has NO triangles, so the
    * truss drops it — the standard community-backbone extraction on
    * co-occurrence graphs.
    *
    * Peeling is deterministic and monotone, so ANY shared round budget
    * replays exactly: an unchanged edge count proves the fixed point
    * (remaining rounds are no-ops in both engines) and a budget-capped
    * run still equals the oracle's identical-R unroll round-for-round.
    *
    * Scale shape per round: the two co-partitioned self-joins of the
    * triangle enumeration (expansion bounded by max oriented degree —
    * pre-orient by degree when hubs dominate), one support aggregation
    * on the edge key, one semi-join, `localCheckpoint`; the frame
    * shrinks monotonically and there is no driver state beyond the
    * fixed-point counter.
    *
    * @param edges (src, dst) — treated as UNDIRECTED; self-loops and
    *              duplicates dropped.
    * @return (a, b) — the k-truss's edges, oriented a < b; empty when
    *         the truss is empty. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 3 && rounds >= 1)
    val e0 = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct().cut()
    val minSup = (k - 2).toLong
    val size = Lineage.once(_.count())
    Lineage.iterate(e0, rounds) { round =>
      val e = round.prev
      val bc = e.select(col("a").as("b2"), col("b").as("c"))
      val ac = e.select(col("a").as("a3"), col("b").as("c3"))
      // three support projections consume the enumeration — cached so
      // the double self-join runs once per round, not 3×
      val tris = round.persist(e.join(bc, col("b") === col("b2"))
        .join(ac, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c")))
      val keep = tris.select(col("a"), col("b"))
        .unionAll(tris.select(col("a"), col("c").as("b")))
        .unionAll(tris.select(col("b").as("a"), col("c").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("s"))
        .filter(col("s") >= minSup)
        .select("a", "b")
      e.join(keep, Seq("a", "b"), "left_semi")
    } { (round, next) =>
      // an emptied truss, or a round that peeled nothing: the fixed point
      val left = size(next)
      left == 0L || left == size(round.prev)
    }
  }

  /** C128: LABEL-PROPAGATION community detection (Raghavan et al. 2007,
    * the synchronous deterministic variant) — the COMMUNITY view the
    * cohesion suite lacks: components answer "connected at all?",
    * k-core/k-truss answer "how dense?", LPA answers "which CLUSTER" —
    * mirror-site groups, co-bought assortments, topical link
    * neighborhoods — without a target cluster count.
    *
    * Each round every node adopts the most frequent label in its CLOSED
    * neighborhood (neighbors + its own current label, one vote each),
    * ties to the SMALLEST label — a deterministic total order, so the
    * classic random-tie LPA nondeterminism is gone and the oracle
    * replays rounds bit-for-bit. Community id = the surviving label (a
    * node id). Synchronous updates can 2-cycle on bipartite structures;
    * bounded `rounds` makes that a defined, replayable outcome rather
    * than a livelock (the standard async fix trades determinism, the
    * wrong trade for a gated engine).
    *
    * Scale shape per round: one co-partitioned edge⋈label join, one
    * (node,label) count aggregation (rows per node ≤ distinct neighbor
    * labels), one per-node arg-max window (partitions = nodes — hub
    * counts are already aggregated), one co-partitioned change-count
    * join for the fixed-point skip, `localCheckpoint` lineage cut. K
    * bounded shuffles total, zero driver state beyond the per-round
    * changed scalar. Early-exit is sound for the oracle because a
    * fixed point of the deterministic update stays fixed — replaying
    * all R rounds is a no-op past convergence.
    *
    * @param edges (src, dst) — treated as UNDIRECTED (symmetrized).
    * @return (node, community) for every node with ≥1 edge. */
  def labelPropagation(edges: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1)
    import org.apache.spark.sql.expressions.Window
    val und = symmetrize(edges)
      .distinct().cut()
    val lbl0 = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .cut()
    val lbl = Lineage.iterate(lbl0, rounds) { round =>
      val lbl = round.prev
      val votes = und.join(lbl, und("src") === lbl("node"))
        .select(und("dst").as("node"), col("lab"))
        .unionByName(lbl)
      votes.groupBy("node", "lab").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("node").orderBy(col("c").desc, col("lab").asc)))
        .filter(col("rn") === 1).select("node", "lab")
    } { (round, next) =>
      next.join(round.prev.select(col("node"), col("lab").as("old")), "node")
        .filter(col("lab") =!= col("old")).count() == 0L
    }
    lbl.select(col("node"), col("lab").as("community"))
  }

  /** C157: LOUVAIN move phase (Blondel et al. 2008) — the
    * modularity-OPTIMIZING community pass next to [[labelPropagation]]
    * (label propagation follows majorities and can collapse to giants;
    * Louvain moves each node to the neighbor community with the best
    * MODULARITY GAIN, the objective [[modularity]] scores): per sweep,
    * every node i evaluates each neighbor community c (and staying)
    * with the standard remove-then-insert gain, exact-integer scaled
    * by 2m:
    *
    *   score(c) = 2m·k_{i,c} − k_i·(Σtot(c) − [c = cur]·k_i)
    *
    * and adopts the argmax (score DESC, community id ASC — the
    * deterministic tie). SYNCHRONIZED sweeps (all nodes decide against
    * the previous assignment — the distributed-Louvain variant), fixed
    * `sweeps` with an early stop when no label changes; a converged
    * sweep recomputes itself, so the oracle's full replay agrees.
    * Synchronized moves can oscillate on symmetric fixtures instead of
    * converging — the documented tradeoff of every parallel Louvain;
    * the fixed-sweep contract keeps both engines identical either way,
    * and [[modularity]] is the acceptance gate for the result.
    *
    * Scale shape per sweep: one co-partitioned edge⋈label join (k_ic),
    * two bounded aggregations (Σtot, degree), one per-node argmax
    * window (frame = that node's neighbor-community count ≤ degree),
    * lineage cut. Scores ride DECIMAL(38,0) (2m·k exceeds int64 at
    * web scale).
    *
    * @param edges (src, dst) — undirected, unweighted (the C129
    *              conventions; weighted Louvain = the same shapes with
    *              weighted counts).
    * @return (node, community) for every node with ≥ 1 edge. */
  def louvainMove(edges: DataFrame, sweeps: Int = 4): DataFrame = {
    require(sweeps >= 1)
    import org.apache.spark.sql.expressions.Window
    val und = symmetrize(edges)
      .filter(col("src") =!= col("dst"))
      .distinct().cut()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .cut()
    // 2m (each edge twice); coalesce guards the empty-graph NULL sum
    // (ADVICE r11 — components/MSF return empty frames, so does this)
    val m2 = deg.agg(coalesce(sum("d"), lit(0L))).head().getLong(0)
    if (m2 == 0L)
      return deg.select(col("node"), col("node").as("community"))
    val lab = Lineage.iterate(deg.select(col("node"), col("node").as("lab")).cut(), sweeps) { round =>
      val lab = round.prev
      val tot = lab.join(deg, "node")
        .groupBy(col("lab").as("c")).agg(sum("d").as("tot"))
      val kic = und
        .join(lab.select(col("node").as("__nd"), col("lab").as("c")),
          col("dst") === col("__nd"))
        .groupBy(col("src").as("node"), col("c")).agg(count(lit(1)).as("k"))
      // the stay option always exists even with no neighbor in cur
      val cand = kic
        .unionByName(lab.select(col("node"), col("lab").as("c"), lit(0L).as("k")))
        .groupBy("node", "c").agg(max("k").as("k"))
        .join(lab.select(col("node"), col("lab").as("cur")), "node")
        .join(deg, "node")
        .join(tot, "c")
        .withColumn("score", expr(
          s"CAST($m2 AS DECIMAL(38,0)) * k - " +
            "CAST(d AS DECIMAL(38,0)) * (tot - CASE WHEN c = cur THEN d ELSE 0 END)"))
      cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("node").orderBy(col("score").desc, col("c").asc)))
        .filter(col("rn") === 1).select(col("node"), col("c").as("lab"))
    } { (round, next) =>
      next.join(round.prev.select(col("node"), col("lab").as("__old")), "node")
        .filter(col("lab") =!= col("__old")).count() == 0L
    }
    lab.select(col("node"), col("lab").as("community"))
  }

  /** C129: MODULARITY of a partition (Newman–Girvan) — the quality
    * scalar for [[labelPropagation]]'s output (or any (node, community)
    * assignment): how much denser communities are than a degree-
    * preserving random rewiring. Q = Σ_c [e_c/m − (d_c/2m)²] computed
    * as the exact integer per-million
    * `1000000·Σ_c(4m·e_c − d_c²) div (4m²)` in DECIMAL(38,0) (m up to
    * ~10¹² edges keeps 4m² under 10²⁵ — wide headroom), truncation
    * toward zero on the single final division, so both engines replay
    * the value exactly. Range ≈ [−500000, 1000000).
    *
    * Scale shape: orient+dedup edges once, TWO co-partitioned
    * edge⋈partition joins (endpoint communities), one per-community
    * intra-edge count, one degree agg rolled to d_c, one 1-row final
    * aggregate with the broadcast m scalar. Nodes absent from
    * `partition` fail loudly via the inner join dropping their edges —
    * feed a total assignment.
    *
    * @param edges (src, dst) — treated as UNDIRECTED; self-loops and
    *              duplicates dropped.
    * @param partition (node, community) — total over the edge nodes.
    * @return ONE row: (n_communities, m_edges, q_ppm). */
  def modularity(edges: DataFrame, partition: DataFrame): DataFrame = {
    // the canonical frame is referenced THREE times below (tagged, deg,
    // m) — materialize it once, or the caller's edge build runs 3×
    val e = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct().cut()
    val pa = partition.select(col("node").as("a"), col("community").as("ca"))
    val pb = partition.select(col("node").as("b"), col("community").as("cb"))
    val tagged = e.join(pa, "a").join(pb, "b")
    val intra = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val dC = deg.join(partition, "node")
      .groupBy("community").agg(sum("d").cast("decimal(38,0)").as("d_c"))
    val m = e.agg(count(lit(1)).cast("decimal(38,0)").as("m"))
    dC.join(intra, Seq("community"), "left")
      .withColumn("e_c", coalesce(col("e_c").cast("decimal(38,0)"), lit(0).cast("decimal(38,0)")))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
        first(col("m")).cast("long").as("m_edges"),
        sum(expr("4 * m * e_c - d_c * d_c")).as("num"),
        first(col("m")).as("mm"))
      .withColumn("q_ppm",
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * num div (4 * mm * mm) AS BIGINT)"))
      .select("n_communities", "m_edges", "q_ppm")
  }
}
