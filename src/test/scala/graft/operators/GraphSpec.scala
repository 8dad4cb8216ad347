package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** C107-C109: the cohesion suite must match driver-side brute force on
  * random fixtures (butterfly enumeration, union-find components,
  * iterative peeling), hit its analytic shapes (bicliques, paths,
  * cliques), and converge inside the round budget with the early-exit
  * landing on the same fixed point as extra rounds. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------- butterflies

  /** Brute force: enumerate left-pivot wedges, count per dst pair. */
  private def bruteButterflies(edges: Seq[(Long, Long)]): (Long, Long) = {
    val ded = edges.distinct
    val bySrc = ded.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val wedges = bySrc.values.map(ds => ds.size.toLong * (ds.size - 1) / 2).sum
    val pairCounts = bySrc.values.flatMap(ds =>
      for (i <- ds.indices; j <- i + 1 until ds.size) yield (ds(i), ds(j)))
      .groupBy(identity).view.mapValues(_.size.toLong)
    val butterflies = pairCounts.values.map(k => k * (k - 1) / 2).sum
    (wedges, butterflies)
  }

  test("C107: butterflies match brute force on a random bipartite fixture") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, 100L + rnd.nextInt(12)))
    val (wedges, flies) = bruteButterflies(edges)
    val got = Graph.butterflies(edges.toDF("src", "dst"))
      .select("n_src", "n_dst", "n_edges", "n_wedges", "n_butterflies")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got._3 == edges.distinct.size.toLong, "dedup before counting")
    assert(got._4 == wedges && got._5 == flies, s"got $got, want ($wedges, $flies)")
  }

  test("C107: analytic shapes — complete bipartite K(a,b) has C(a,2)*C(b,2) butterflies; a star has none") {
    val k34 = for (l <- 1L to 3L; r <- 10L to 13L) yield (l, r)
    val gotK = Graph.butterflies(k34.toDF("src", "dst"))
      .select("n_wedges", "n_butterflies").as[(Long, Long)].head()
    // wedges: 3 lefts x C(4,2)=6; butterflies: C(4,2) pairs x C(3,2)=3
    assert(gotK == ((18L, 18L)), s"K(3,4): $gotK")
    val star = (1L to 5L).map(r => (0L, 10L + r))
    val gotS = Graph.butterflies(star.toDF("src", "dst"))
      .select("n_wedges", "n_butterflies").as[(Long, Long)].head()
    assert(gotS._1 == 10L && gotS._2 == 0L, s"star: $gotS")
  }

  test("C107: planted hub is excluded from the expansion and ledgered exactly") {
    // 3 normal pivots (degree 3) + one hub pivot of degree 20; cap at 5.
    val normal = for (s <- 1L to 3L; d <- 1L to 3L) yield (s, 100L + s * 10 + d)
    val hub = (1L to 20L).map(d => (99L, 100L + d))
    val edges = normal ++ hub
    val got = Graph.butterflies(edges.toDF("src", "dst"), maxPivotDegree = 5L)
      .select("n_src", "n_dst", "n_edges", "n_wedges", "n_butterflies",
        "n_pivots_capped", "n_wedges_dropped")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    // counts over the 3 kept pivots only; edge totals remain global
    val (wKept, fKept) = bruteButterflies(normal)
    assert(got._3 == edges.distinct.size.toLong)
    assert(got._4 == wKept && got._5 == fKept, s"kept counts: $got")
    assert(got._6 == 1L, "exactly the hub pivot is capped")
    assert(got._7 == 20L * 19 / 2, "dropped wedges = C(20,2)")
    // cap above every degree ⇒ exact counts and a ZERO ledger
    val full = Graph.butterflies(edges.toDF("src", "dst"))
      .select("n_wedges", "n_butterflies", "n_pivots_capped", "n_wedges_dropped")
      .as[(Long, Long, Long, Long)].head()
    val (wAll, fAll) = bruteButterflies(edges)
    assert(full == ((wAll, fAll, 0L, 0L)), s"default cap must be exact here: $full")
  }

  test("C107/C111: wedgeCapLedger quantifies exactly what a capped call refuses") {
    val normal = for (s <- 1L to 3L; d <- 1L to 3L) yield (s, 100L + s * 10 + d)
    val hub = (1L to 20L).map(d => (99L, 100L + d))
    val got = Graph.wedgeCapLedger((normal ++ hub).toDF("src", "dst"), maxPivotDegree = 5L)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((4L, 1L, 20L, 9L, 190L)),
      s"(n_pivots, capped, max_deg, wedges_kept, wedges_dropped): $got")
  }

  // --------------------------------------------------------- triangles

  test("C110: triangle count + gcc match brute force on a random fixture") {
    val rnd = new scala.util.Random(19)
    val edges = Seq.fill(220)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val tri = und.map { case (a, b) => (adj(a) & adj(b)).count(c => c > b).toLong }.sum
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val got = Graph.triangles(edges.toDF("src", "dst"))
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles", "gcc_pm")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got._1 == adj.size.toLong && got._2 == und.size.toLong)
    assert(got._3 == wedges && got._4 == tri, s"got $got, want ($wedges, $tri)")
    assert(got._5 == 3 * tri * 1000 / wedges)
  }

  test("C110: analytic shapes — K4 has 4 triangles and gcc 1000; a star has none and gcc 0") {
    val k4 = for (a <- 0L until 4L; b <- 0L until 4L if a < b) yield (a, b)
    val gotK = Graph.triangles(k4.toDF("src", "dst"))
      .select("n_triangles", "gcc_pm").as[(Long, Long)].head()
    assert(gotK == ((4L, 1000L)), s"K4: $gotK")
    val star = (1L to 6L).map(i => (0L, i))
    val gotS = Graph.triangles(star.toDF("src", "dst"))
      .select("n_triangles", "gcc_pm").as[(Long, Long)].head()
    assert(gotS == ((0L, 0L)), s"star: $gotS")
  }

  // ----------------------------------------------- neighborhood jaccard

  test("C111: neighborhood Jaccard matches brute force, threshold prunes") {
    val rnd = new scala.util.Random(37)
    val edges = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val adj = edges.flatMap(e => Seq(e, e.swap)).distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      a <- adj.keys; b <- adj.keys if a < b
      common = (adj(a) & adj(b)).size.toLong if common > 0
      jpm = 1000L * common / (adj(a).size + adj(b).size - common) if jpm >= 300
    } yield (a, b, common, adj(a).size.toLong, adj(b).size.toLong, jpm)).toSet
    val rows = Graph.neighborhoodJaccard(edges.toDF("src", "dst"), minJPm = 300)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    val got = rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    // no pivot exceeds the default cap here → the in-band ledger is zero
    assert(rows.forall(r => r._7 == 0L && r._8 == 0L), "zero ledger certifies exactness")
  }

  test("C111: hub cap bounds the wedge expansion; j_pm stays a lower bound with true degrees") {
    // two genuinely-similar nodes (shared low-degree neighbors) + a hub
    // adjacent to everything; capping the hub pivot must not destroy the
    // similar pair, and degrees must stay TRUE (hub edges included).
    val a = 1L; val b = 2L
    val shared = (10L to 13L).flatMap(c => Seq((c, a), (c, b))) // pivots 10-13, degree 2
    val hub = (1L to 9L).map(v => (99L, v))                     // hub pivot 99, degree 9
    val edges = shared ++ hub
    val capRows = Graph.neighborhoodJaccard(edges.toDF("src", "dst"), minJPm = 1,
        maxPivotDegree = 5L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    // the refusal is IN-BAND: one capped pivot (the hub, degree 9),
    // C(9,2) = 36 wedges refused — on every row
    assert(capRows.forall(r => r._7 == 1L && r._8 == 36L),
      s"in-band ledger: ${capRows.take(2).toSeq}")
    val got = capRows
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // pair (1,2): common = 4 via kept pivots (hub contribution dropped);
    // true degrees include the hub edge: deg = 4 shared + 1 hub = 5
    assert(got((a, b)) == ((4L, 5L, 5L, 1000L * 4 / (5 + 5 - 4))), s"got ${got.get((a, b))}")
    // hub-mediated-only pairs (e.g. 3,4 — only co-occur through the hub)
    // are refused, not fabricated
    assert(!got.contains((3L, 4L)), "hub-only pairs must be dropped under the cap")
    // with the cap above every degree the capped run equals the exact run
    val exact = Graph.neighborhoodJaccard(edges.toDF("src", "dst"), minJPm = 1)
      .select("a", "b", "common", "deg_a", "deg_b", "j_pm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val brute = {
      val adj = edges.flatMap(e => Seq(e, e.swap)).distinct.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      (for {
        x <- adj.keys; y <- adj.keys if x < y
        common = (adj(x) & adj(y)).size.toLong if common > 0
        jpm = 1000L * common / (adj(x).size + adj(y).size - common) if jpm >= 1
      } yield (x, y, common, adj(x).size.toLong, adj(y).size.toLong, jpm)).toSet
    }
    assert(exact == brute)
  }

  // ------------------------------------------------------------ C157 Louvain

  test("C157: Louvain separates planted cliques; modularity beats singletons; deterministic") {
    // two 6-cliques bridged by one edge — the canonical community fixture
    def clique(base: Long): Seq[(Long, Long)] =
      for (i <- 0L until 6L; j <- (i + 1) until 6L) yield (base + i, base + j)
    val edges = clique(0) ++ clique(100) ++ Seq((0L, 100L))
    val got = Graph.louvainMove(edges.toDF("src", "dst"), sweeps = 6)
      .as[(Long, Long)].collect().toMap
    val c1 = (0L until 6L).map(got)
    val c2 = (100L until 106L).map(got)
    assert(c1.distinct.length == 1, s"clique 1 must be one community: $c1")
    assert(c2.distinct.length == 1, s"clique 2 must be one community: $c2")
    assert(c1.head != c2.head, "the bridge must not merge the cliques")
    // the found partition beats singletons on the objective
    val qFound = Graph.modularity(edges.toDF("src", "dst"),
        got.toSeq.toDF("node", "community"))
      .select("q_ppm").as[Long].head()
    val qSingle = Graph.modularity(edges.toDF("src", "dst"),
        edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (n, n))
          .toDF("node", "community"))
      .select("q_ppm").as[Long].head()
    assert(qFound > qSingle && qFound > 300000L,
      s"louvain q=$qFound must beat singleton q=$qSingle")
    val again = Graph.louvainMove(edges.toDF("src", "dst"), sweeps = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == again)
  }

  // --------------------------------------------------------------- C155 MSF

  /** Brute Kruskal under the (w, a, b) strict total order — the unique
    * forest the distributed Borůvka must reproduce exactly. */
  private def bruteMsf(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val can = edges.map { case (u, v, w) => (math.min(u, v), math.max(u, v), w) }
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map { case ((a, b), es) => (a, b, es.map(_._3).min) }
      .toSeq
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    for ((a, b, w) <- can.sortBy(e => (e._3, e._1, e._2))) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; out += ((a, b, w)) }
    }
    out.toSet
  }

  test("C155: Boruvka equals brute Kruskal on a random weighted graph (with ties)") {
    val rnd = new scala.util.Random(41)
    // 60 nodes, ~180 edges, SMALL weight range so ties are plentiful —
    // the (w, a, b) total order must resolve them identically
    val edges = Seq.fill(180)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong,
      (1 + rnd.nextInt(5)).toLong)).filter(e => e._1 != e._2)
    val got = Graph.minimumSpanningForest(edges.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == bruteMsf(edges), s"got ${got.size} vs brute ${bruteMsf(edges).size}")
  }

  test("C155: disconnected graph yields a forest; parallel edges and self-loops collapse") {
    val edges = Seq(
      // component 1: triangle with a heavy edge (dropped)
      (1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 9L),
      // parallel edges: min weight wins
      (1L, 2L, 7L),
      // self loop: dropped
      (4L, 4L, 1L),
      // component 2: a pair
      (10L, 11L, 5L))
    val got = Graph.minimumSpanningForest(edges.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 2L), (10L, 11L, 5L)), s"$got")
  }

  test("C155: long-path worst case (chained selections, partial contraction) stays exact") {
    // increasing weights along a 300-node path: round-1 selections form
    // one 299-edge chain whose contraction EXCEEDS the inner pointer-
    // doubling reach — correctness must survive partial contraction
    val edges = (0L until 299L).map(i => (i, i + 1, 100L + i))
    val got = Graph.minimumSpanningForest(edges.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == edges.map(e => (e._1, e._2, e._3)).toSet,
      s"path MSF keeps every edge: got ${got.size} of 299")
  }

  // ----------------------------------------------------- C158 single-linkage

  test("C158: single-linkage clusters equal the brute MSF-cut on a random graph") {
    val rnd = new scala.util.Random(47)
    val edges = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
      (1 + rnd.nextInt(30)).toLong)).filter(e => e._1 != e._2)
    val cuts = 5
    // brute: Kruskal forest, drop its `cuts` largest under (w,a,b) DESC,
    // label components by min node id (the operator's label contract)
    val forest = bruteMsf(edges).toSeq
    val kept = forest.sortBy(e => (-e._3, -e._1, -e._2)).drop(cuts)
    val nodes = forest.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = kept.flatMap(e => Seq((e._1, e._2), (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def reach(s: Long): Set[Long] = {
      var seen = Set(s); var frontier = List(s)
      while (frontier.nonEmpty) {
        val nxt = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(seen)
        seen ++= nxt; frontier = nxt
      }
      seen
    }
    val want = nodes.map(n => n -> reach(n).min).toMap
    val got = Graph.singleLinkage(edges.toDF("src", "dst", "w"), cuts = cuts)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"${got.size} nodes; diffs: ${got.toSet.diff(want.toSet).take(5)}")
    // cluster count grows by exactly `cuts` over the uncut forest
    val base = Graph.singleLinkage(edges.toDF("src", "dst", "w"), cuts = 0)
      .as[(Long, Long)].collect().map(_._2).distinct.length
    assert(got.values.toSeq.distinct.length == base + cuts)
  }

  test("C158: a cut that isolates a leaf yields a singleton cluster, not a lost node") {
    // path 1-2-3 with the heaviest edge at the leaf end: cutting it
    // isolates node 3
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 9L))
    val got = Graph.singleLinkage(edges.toDF("src", "dst", "w"), cuts = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), s"$got")
  }

  // -------------------------------------------------------- components

  test("C108: components equal union-find on a random sparse fixture") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(60)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val want = UnionFind(edges)
    val got = Graph.components(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, "component labels must be the per-component min node id")
  }

  test("C108: a 120-node path converges inside 8 doubling rounds to one component") {
    val path = (0L until 119L).map(i => (i, i + 1))
    val got = Graph.components(path.toDF("src", "dst")).as[(Long, Long)].collect()
    assert(got.length == 120 && got.forall(_._2 == 0L),
      "pointer doubling must close a diameter-119 path in 8 rounds")
  }

  test("C108: early exit lands on the same labels as a larger round budget") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(40)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val a = Graph.components(edges.toDF("src", "dst"), rounds = 8)
      .as[(Long, Long)].collect().sorted.toSeq
    val b = Graph.components(edges.toDF("src", "dst"), rounds = 20)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  // ------------------------------------------------------------ k-core

  private def bruteKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    for ((a, b) <- edges.flatMap(e => Seq(e, e.swap)).distinct if a != b)
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, s) if s.size < k => n }.toSeq
      changed = drop.nonEmpty
      for (n <- drop) { for (m <- adj(n)) adj(m) -= n; adj -= n }
    }
    adj.map { case (n, s) => n -> s.size }.toMap
  }

  test("C109: k-core equals brute-force peeling on a random fixture") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    for (k <- Seq(2, 3, 5)) {
      val want = bruteKCore(edges, k)
      val got = Graph.kCore(edges.toDF("src", "dst"), k)
        .as[(Long, Long)].collect().toMap
      assert(got == want.map { case (n, d) => n -> d.toLong },
        s"k=$k: got ${got.size} core nodes, want ${want.size}")
    }
  }

  test("C109: a clique survives any k below its size; a tree has an empty 2-core") {
    val clique = for (a <- 0L until 6L; b <- 0L until 6L if a < b) yield (a, b)
    val gotC = Graph.kCore(clique.toDF("src", "dst"), 5).as[(Long, Long)].collect()
    assert(gotC.length == 6 && gotC.forall(_._2 == 5L))
    // a star is a tree: the 2-core must be empty
    val star = (1L to 8L).map(i => (0L, i))
    assert(Graph.kCore(star.toDF("src", "dst"), 2).isEmpty)
  }

  test("C113: assortativity matches a driver-side double replay on sf0.001") {
    val t = graft.queries.Tables(spark, sfDir)
    val edges = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s")).count()
      .select("c", "s").as[(Long, Long)].collect()
    val dc = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ds = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val xs = edges.map { case (c, s) => (dc(c), ds(s)) }
    val n = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum.toDouble, xs.map(_._2).sum.toDouble)
    val sxy = xs.map { case (x, y) => x * y }.sum.toDouble
    val sxx = xs.map { case (x, _) => x * x }.sum.toDouble
    val syy = xs.map { case (_, y) => y * y }.sum.toDouble
    val want = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val got = graft.queries.TrainingData.q193Assortativity(t)
      .as[(Long, Double)].head()
    assert(got._1 == xs.length.toLong)
    assert(math.abs(got._2 - want) < 1e-12, s"got ${got._2}, want $want")
    assert(got._2 >= -1.0 && got._2 <= 1.0)
  }

  test("C107-C111: the q187-q191 plans have no cartesian product") {
    val t = graft.queries.Tables(spark, sfDir)
    for (df <- Seq(graft.queries.TrainingData.q187Butterflies(t),
      graft.queries.TrainingData.q188Components(t),
      graft.queries.TrainingData.q189KCore(t),
      graft.queries.TrainingData.q190Triangles(t),
      graft.queries.TrainingData.q191NeighborhoodJaccard(t))) {
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
      assert(df.count() >= 1)
    }
  }

  // ----------------------------------------------------- local clustering

  test("C122: per-node LCC matches brute force; cliques score 1000, star centers 0") {
    val rnd = new scala.util.Random(37)
    val edges = Seq.fill(200)((rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      .filter(p => p._1 != p._2)
    val ded = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .filter(p => p._1 < p._2).distinct
    val adj = ded.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ref = adj.collect { case (v, ns) if ns.size >= 2 =>
      val tri = ns.toSeq.combinations(2).count(p => adj(p(0)).contains(p(1)))
      (v, (ns.size.toLong, tri.toLong,
        BigInt(tri) * 2000 / (BigInt(ns.size) * (ns.size - 1))))
    }.toMap
    val got = Graph.localClustering(edges.toDF("src", "dst"), minDeg = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, BigInt(r._4)))).toMap
    assert(got == ref)
    // analytic: a 4-clique member has LCC 1000; a star center 0
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = (1L to 5L).map(i => (100L, 100L + i))
    val shapes = Graph.localClustering((clique ++ star).toDF("src", "dst"), minDeg = 2)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert((1L to 4L).forall(v => shapes(v) == 1000L))
    assert(shapes(100L) == 0L)
    assert(!shapes.contains(101L)) // leaves: degree 1, no wedge
  }

  // ------------------------------------------------------------ k-truss

  /** Brute force: iterate support counting + filtering to fixed point. */
  private def bruteTruss(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 < p._2).toSet
    var changed = true
    while (changed) {
      val adj = e.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      val kept = e.filter { case (a, b) =>
        (adj.getOrElse(a, Set.empty[Long]) & adj.getOrElse(b, Set.empty[Long]))
          .size >= k - 2
      }
      changed = kept != e
      e = kept
    }
    e
  }

  test("C116: k-truss matches brute-force peeling on a random fixture") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(220)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    for (k <- Seq(3, 4, 5)) {
      val got = Graph.kTruss(edges.toDF("src", "dst"), k, rounds = 12)
        .as[(Long, Long)].collect().toSet
      assert(got == bruteTruss(edges, k), s"k=$k")
    }
  }

  test("C116: analytic shapes — a 4-clique survives the 4-truss, stars and lone triangles are peeled") {
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = (1L to 8L).map(i => (100L, 100L + i))
    val loneTriangle = Seq((200L, 201L), (201L, 202L), (200L, 202L))
    val df = (clique ++ star ++ loneTriangle).toDF("src", "dst")
    val got = Graph.kTruss(df, k = 4).as[(Long, Long)].collect().toSet
    assert(got == clique.toSet, s"got $got")
    // the lone triangle DOES survive the 3-truss (support 1 ≥ 1)
    val t3 = Graph.kTruss(df, k = 3).as[(Long, Long)].collect().toSet
    assert(t3 == (clique ++ loneTriangle).toSet)
    // chained peel: removing a clique edge's neighbor can cascade — a
    // 4-clique plus one pendant triangle on its edge peels back to the
    // clique (the pendant's two new edges have support 1)
    val pendant = Seq((1L, 50L), (2L, 50L))
    val t4 = Graph.kTruss((clique ++ pendant).toDF("src", "dst"), k = 4)
      .as[(Long, Long)].collect().toSet
    assert(t4 == clique.toSet)
  }

  test("C116: budget-capped run equals the same-budget unroll; early exit lands on the fixed point") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(150)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
    val df = edges.toDF("src", "dst")
    // generous budget = fixed point; the default budget must match it on
    // a graph this small (peel waves << 6)
    val fixed = Graph.kTruss(df, k = 4, rounds = 20).as[(Long, Long)].collect().toSet
    val capped = Graph.kTruss(df, k = 4).as[(Long, Long)].collect().toSet
    assert(capped == fixed)
    assert(fixed == bruteTruss(edges, 4))
  }

  // -------------------------------------------- C128: label propagation

  /** Driver-side replay of the exact synchronous update: closed
    * neighborhood, one vote per neighbor + self, count desc / label asc. */
  private def bruteLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = und.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lab = und.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val next = lab.keys.map { v =>
        val votes = (adj.getOrElse(v, Seq()).map(lab) :+ lab(v))
          .groupBy(identity).view.mapValues(_.size).toSeq
        val best = votes.minBy { case (l, c) => (-c, l) }._1
        v -> best
      }.toMap
      if (next == lab) return lab
      lab = next
    }
    lab
  }

  test("C128: labelPropagation matches the driver-side replay on a random graph") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(240)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == bruteLpa(edges, 6))
  }

  test("C128: two planted cliques joined by one bridge resolve to their min labels") {
    val cliqueA = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- i + 1 to 14L) yield (i, j)
    val edges = cliqueA ++ cliqueB ++ Seq((4L, 10L))
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert((0L to 3L).forall(got(_) == 0L), s"clique A labels: $got")
    assert((11L to 14L).forall(got(_) == 10L), s"clique B labels: $got")
    assert(got == bruteLpa(edges, 6))
  }

  test("C128: early exit lands on the same fixed point as extra rounds") {
    val clique = for (i <- 0L to 5L; j <- i + 1 to 5L) yield (i, j)
    val df = clique.toDF("src", "dst")
    val at6 = Graph.labelPropagation(df, rounds = 6).as[(Long, Long)].collect().toSet
    val at20 = Graph.labelPropagation(df, rounds = 20).as[(Long, Long)].collect().toSet
    assert(at6 == at20)
    assert(at6.forall(_._2 == 0L), "a clique is one community under its min id")
  }

  // ---------------------------------------------- C129: modularity

  /** Driver-side exact integer modularity with BigInt truncating
    * division (toward zero — the Spark `div` / DuckDB HUGEINT `//`
    * contract). */
  private def bruteModularity(edges: Seq[(Long, Long)], part: Map[Long, Long]): (Long, Long, Long) = {
    val e = edges.map { case (a, b) => (a min b, a max b) }.filter(p => p._1 != p._2).distinct
    val m = BigInt(e.size)
    val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view.mapValues(_.size).toMap
    val comms = part.values.toSet.toSeq
    val num = comms.map { c =>
      val ec = BigInt(e.count(p => part(p._1) == c && part(p._2) == c))
      val dc = BigInt(deg.collect { case (n, d) if part(n) == c => d }.sum)
      4 * m * ec - dc * dc
    }.sum
    val q = (BigInt(1000000) * num) / (4 * m * m) // BigInt / truncates toward zero
    (comms.size.toLong, m.toLong, q.toLong)
  }

  test("C129: modularity matches the BigInt reference; two cliques score high, singleton negative") {
    val cliqueA = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- i + 1 to 14L) yield (i, j)
    val edges = cliqueA ++ cliqueB ++ Seq((4L, 10L))
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val twoComms = nodes.map(n => n -> (if (n < 10) 0L else 10L)).toMap
    val single = nodes.map(n => n -> n).toMap
    val gotTwo = Graph.modularity(edges.toDF("src", "dst"),
        twoComms.toSeq.toDF("node", "community"))
      .as[(Long, Long, Long)].head()
    val gotSingle = Graph.modularity(edges.toDF("src", "dst"),
        single.toSeq.toDF("node", "community"))
      .as[(Long, Long, Long)].head()
    assert(gotTwo == bruteModularity(edges, twoComms), s"two-community: $gotTwo")
    assert(gotSingle == bruteModularity(edges, single), s"singleton: $gotSingle")
    assert(gotTwo._3 > 400000L, s"planted cliques must score high: $gotTwo")
    assert(gotSingle._3 < 0L, "singleton modularity is negative")
  }

  test("C129: modularity matches the reference on a random graph with an LPA partition") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val lpa = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    val got = Graph.modularity(edges.toDF("src", "dst"), lpa.toSeq.toDF("node", "community"))
      .as[(Long, Long, Long)].head()
    assert(got == bruteModularity(edges, lpa))
  }
}
