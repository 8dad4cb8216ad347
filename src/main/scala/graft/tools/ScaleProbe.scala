package graft.tools

import graft.GraftSession
import graft.operators.{BloomJoin, Dedup, Sampling, TextAnalysis}
import graft.queries.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Dev tool: asymptotic probes for the scale-sensitive operators — run each
 * at 1x / 4x / 16x the sf dir's data (id-shifted unions, so dedup-style
 * inputs keep realistic collision structure) and print runtime growth.
 * Evidence for the SURVEY §5 claims: near-linear growth = the operator's
 * cost is scan/output-bound, not pair-quadratic.
 *
 * Usage: runMain graft.tools.ScaleProbe [sfDir]
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = GraftSession.local(32, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val t = Tables(spark, sfDir)

    def amplify(df: DataFrame, idCol: String, k: Int): DataFrame = {
      val n = 10_000_000L
      (0 until k).map(i => df.withColumn(idCol, col(idCol) + lit(i * n)))
        .reduce(_ unionByName _)
    }

    // optional comma-separated label filter (substring match)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSeq.filter(_.nonEmpty))
    def run(label: String, k: Int)(f: => Long): Unit =
      if (only.forall(_.exists(label.contains))) {
        val t0 = System.nanoTime()
        val rows = f
        println(f"[probe] $label%-22s ${k}%2dx  ${(System.nanoTime() - t0) / 1e9}%8.3f s  ($rows rows)")
      }

    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      run("contamination", k) {
        val ev = docs.filter(col("doc_id") % 50 === 0)
        Dedup.contamination(ev, docs.filter(col("doc_id") % 50 =!= 0), n = 8).count()
      }
      run("repetition", k)(TextAnalysis.repetitionProfile(docs, n = 3).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
      run("bloom_semijoin", k) {
        val audience = t.customer.filter(col("c_mktsegment") === "BUILDING")
        BloomJoin.bloomSemiJoin(orders, audience, "o_custkey", "c_custkey").count()
      }
      run("reservoir", k)(
        Sampling.reservoirPerStratum(orders, "o_orderstatus", "o_orderkey", k = 100).count())
    }
    for (k <- Seq(1, 4, 16)) {
      // dup-saturated worst case: every amplification copy is a near-dup
      // of the original, so clusters grow k-wide and pairs ~k^2-fold —
      // the probe shows the ITERATION count stays flat (diameter-bound)
      val docs = amplify(t.documents, "doc_id", k)
      run("cluster_resolve", k) {
        Dedup.resolveClusters(
          Dedup.minhashPairsPortable(docs, bucketCap = 1000)).count()
      }
      run("incremental_probe", k) {
        val newDocs = docs.filter(col("doc_id") % 10 === 0)
        val (b, s) = Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 0))
        Dedup.incrementalNearDup(newDocs, b, s).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val emb = amplify(t.embeddings, "vec_id", k)
      run("pq_encode+topk", k) {
        graft.operators.Similarity.pqTopK(emb, t.embeddings.filter(col("vec_id") < 10), k = 10).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      val counted = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      run("chunking", k)(graft.operators.Chunking.chunkByTokens(docs, 64, 48).count())
      run("packing", k)(
        graft.operators.Chunking.packContextWindows(counted, 2048L, 4096L).count())
      run("rarity", k)(TextAnalysis.rarityScore(docs).count())
      run("canonical_dedup", k)(TextAnalysis.canonicalDedup(docs).count())
      run("domain_cap", k)(Sampling.capPerGroup(docs, "source", "doc_id", 20).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // amplification duplicates every doc k-fold → every line becomes
      // cross-doc boilerplate at k>1: the WORST case for the rebuild side
      run("line_dedup", k)(
        Dedup.lineDedup(graft.operators.Chunking.tokenLines(docs, 8), minDocs = 2).count())
      // dup-saturated worst case for edit distance too: every copy is an
      // exact (distance-0) match of its original inside the same band
      run("edit_neardup", k)(Dedup.editDistancePairs(docs, maxDist = 16).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // pair space grows with corpus volume but the output (top-50) is
      // constant: expect scan-bound growth
      run("bpe_pairs", k)(TextAnalysis.bpePairCounts(docs, topK = 50).count())
      // amplification multiplies doc COUNT but not the distinct-shingle
      // sets per source: the overlap matrix should be ~flat after the
      // distinct collapses (scan-bound)
      run("source_overlap", k)(Dedup.sourceOverlap(docs, n = 8).count())
      run("dataset_card", k)(TextAnalysis.datasetCard(docs).count())
      run("importance", k)(
        TextAnalysis.importanceWeights(docs, col("lang") === "en").count())
    }
    for (k <- Seq(1, 4, 16)) {
      val emb = amplify(t.embeddings, "vec_id", k)
      // assignment is scan-speed; the update shuffle is nlist x dims
      // partial sums regardless of k — expect linear scan cost
      run("kmeans_step", k)(graft.operators.Similarity.kmeansStep(emb, nlist = 16).count())
      run("embedding_profile", k)(
        graft.operators.Similarity.embeddingProfile(emb).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      val counted = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      run("shard_layout", k)(graft.operators.Chunking.shardLayout(counted, 2000L).count())
      // dup-saturated: every amplification copy duplicates every suffix,
      // so spans saturate — rounds stay log2(maxDocLen), cost ~N·logL
      run("suffix_spans", k)(graft.operators.Suffix.dupSpanProfile(docs).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // container encode+parse is per-row byte arithmetic inside codegen —
      // expect pure scan-speed growth
      run("media_meta", k) {
        val m = graft.operators.Multimodal.encodedAudioTable(docs)
        m.select(graft.operators.Multimodal.decodeAudioMeta(col("media")).as("a"))
          .filter(col("a.sample_rate") > 0).count()
      }
      // REAL pixel decode (inflate + unfilter) in the batched feature
      // stage: per-row cost is width*height, independent of corpus size
      run("pixel_decode", k) {
        graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.pixelMediaTable(docs)
            .withColumn("kind", lit("image"))
            .withColumn("width", lit(24)).withColumn("height", lit(16))
            .withColumn("duration_ms", lit(0L))).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // amplification multiplies corpus volume but NOT the vocabulary:
      // after the one wordFreq scan, all 6 merge iterations run on the
      // constant-size vocab frame — expect scan-bound growth, flat loop
      run("bpe_train", k)(
        graft.operators.Bpe.train(docs, merges = 6).symbols.count())
      // domain frame is constant-size too: the solve is flat, the only
      // k-growth is the corpus token-count scan
      run("waterfill", k)(
        Sampling.budgetWaterfill(docs,
          capFactor = lit(1) + length(col("domain")) % 3).count())
      // schedule adds one corpus-frame window pass — expect linear
      run("mix_schedule", k)(
        Sampling.mixtureSchedule(docs,
          capFactor = lit(1) + length(col("domain")) % 3).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // CDC: window hashes scan-bound; the only corpus-wide shuffle is the
      // chunk-hash occurrence count — expect near-linear
      run("cdc_chunking", k)(
        graft.operators.Chunking.cdcChunkProfile(docs, w = 4, divisor = 8).count())
      // containment: candidates are GROUP-bounded by contract; per-copy
      // sources keep groups disjoint so growth measures group count ×
      // within-group cost (the operator's actual scale story), not the
      // dup-saturated k² worst case cluster_star already probes
      val relabeled = (0 until k).map(i =>
        t.documents.withColumn("doc_id", col("doc_id") + lit(i * 10_000_000L))
          .withColumn("source", concat(col("source"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      run("containment", k)(
        Dedup.containmentPairs(relabeled, groupCol = "source", ngram = 3,
          thresholdPct = 90).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val emb = amplify(t.embeddings, "vec_id", k)
      // labels keep their identity across copies: label sizes grow k-fold,
      // the two-level rank must stay near-linear (no one-task label funnel)
      run("proto_prune", k)(
        graft.operators.Similarity.prototypicalityPrune(emb, prunePct = 10).count())
    }
    // (equi-depth's two-level rank rides the same template shard_layout
    // already probes — no separate probe needed)
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
      val open = orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("valid_from", lit("1992-01-01").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
      val snap = orders.filter(col("o_orderkey") % 97 =!= 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      run("scd2_apply", k)(
        graft.operators.Scd.applyScd2(open, snap, Seq("o_orderkey"),
          lit("1997-07-01").cast("timestamp")).count())
    }
    for (k <- Seq(1, 4, 16)) {
      // amplify USERS (sessions stay per-user-shaped); boundary volume
      // grows k-fold, the sweep's per-day windows and the bucket-offset
      // frame stay day-count-sized — expect near-linear
      val ev = amplify(t.events, "user_id", k)
      run("sweep_concurrency", k) {
        val s = graft.queries.Events.sessionIntervalsFrom(ev)
        val bounds = s.select(col("user_id"), col("session_seq"),
            col("start_us").as("t_us"), lit(1L).as("delta"))
          .unionByName(s.select(col("user_id"), col("session_seq"),
            (col("end_us") + 1).as("t_us"), lit(-1L).as("delta")))
        graft.operators.Sweep.runningSum(bounds, expr("t_us div 86400000000L"),
          Seq("t_us", "delta", "user_id", "session_seq"), "delta").count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // amplification duplicates shingle SETS, so the reference frame is
      // ~constant after distinct and the anti join is hash-partitioned —
      // expect scan-bound growth
      run("ngram_novelty", k)(
        TextAnalysis.ngramNovelty(docs, isRef = col("doc_id") % 2 === 0).count())
      // term-count agg dominates; everything after rides the
      // distinct-frequency frame — expect scan-bound growth
      run("zipf_profile", k) {
        val terms = docs.select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        terms.groupBy("c").agg(count(lit(1))).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val emb = amplify(t.embeddings, "vec_id", k)
      // the d^2 moment agg is the whole cost and it map-side combines;
      // the 8 power rounds ride the constant d^2 frame — expect linear
      run("anisotropy", k)(graft.operators.Similarity.anisotropy(emb).count())
      // correction adds ONE more scan with a codegen'd per-row loop on
      // top of the shared moment work — expect the same linear shape
      run("isotropy_correct", k)(
        graft.operators.Similarity.removeTopDirection(emb).count())
    }
    {
      // pagerank: copies are DISJOINT subgraphs (node ids shift), so edge
      // and node volume grow k-fold while rounds stay 6; each round is one
      // co-partitioned join + bounded agg — expect near-linear
      val e0 = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .agg(count(lit(1)).as("w"))
      val ed0 = e0.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"), col("w"))
        .unionByName(e0.select((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst"), col("w")))
      // shift derived from the REAL max node id so copies stay disjoint
      // at any scale factor (a fixed 10M would collide past SF ~34)
      val shift = ed0.agg(max(col("src"))).head().getLong(0) + 1
      for (k <- Seq(1, 4, 16)) {
        val ed = (0 until k).map(i => ed0.select(
            (col("src") + lit(i * shift)).as("src"),
            (col("dst") + lit(i * shift)).as("dst"), col("w")))
          .reduce(_ unionByName _)
        run("pagerank", k)(graft.operators.Rank.pageRank(ed).count())
      }
      for (k <- Seq(1, 4, 16)) {
        // dangling variant: one-directional edges, every supplier a pure
        // sink — adds per round one semi-join aggregate over the
        // (amplified) dangling set plus a 1-row broadcast; expect the
        // same near-linear growth as the symmetrized walk
        val edd = (0 until k).map(i => e0.select(
            (col("c") * 2 + lit(i * shift)).as("src"),
            (col("s") * 2 + 1 + lit(i * shift)).as("dst"), col("w")))
          .reduce(_ unionByName _)
        run("pagerank_dangling", k)(graft.operators.Rank.pageRank(edd).count())
      }
    }
    {
      val e0 = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .agg(count(lit(1)).as("w"))
      val base = e0.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"), col("w"))
      val shift = base.agg(greatest(max(col("src")), max(col("dst"))))
        .head().getLong(0) + 1
      def amp(k: Int) = (0 until k).map(i => base.select(
          (col("src") + lit(i * shift)).as("src"),
          (col("dst") + lit(i * shift)).as("dst"), col("w")))
        .reduce(_ unionByName _)
      for (k <- Seq(1, 4, 16)) {
        // two join+agg passes and two 1-row maxima per round — expect the
        // pagerank growth shape
        run("hits", k)(graft.operators.Rank.hits(amp(k)).count())
      }
      for (k <- Seq(1, 4, 16)) {
        val ed = amp(k)
        val seeds = ed.select(col("src").as("node")).distinct().orderBy("node").limit(10)
        run("ppr", k)(graft.operators.Rank.personalizedPageRank(ed, seeds).count())
        // frontier BFS: rounds bounded by maxHops; per-round cost tracks
        // the frontier, not the corpus — expect sublinear
        run("seed_distance", k)(
          graft.operators.Rank.seedDistance(ed, seeds, maxHops = 4).count())
      }
      for (k <- Seq(1, 4, 16)) {
        val ed = amp(k).select("src", "dst")
        // pivot-wedge expansion is bounded by pivot degree — amplified
        // copies are DISJOINT id-shifted subgraphs, so wedge volume and
        // runtime should both grow ~k (scan-bound), never k^2
        run("butterflies", k)(
          graft.operators.Graph.butterflies(ed).count())
        run("triangles", k)(
          graft.operators.Graph.triangles(ed).count())
        // label rounds are diameter-bound: disjoint copies leave the
        // diameter unchanged, so the ROUND count stays flat and runtime
        // tracks the per-round scans
        run("components", k)(
          graft.operators.Graph.components(ed).count())
        run("kcore", k)(
          graft.operators.Graph.kCore(ed, k = 3).count())
        run("nbr_jaccard", k)(
          graft.operators.Graph.neighborhoodJaccard(ed, minJPm = 200).count())
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // one corpus scan to the (slice × value) counts; windows ride the
      // value-domain grid — expect scan-bound growth, constant output
      run("ks_drift", k)(
        graft.operators.Drift.ksDrift(docs, col("source"), col("n_chars")).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
      // per-row codegen'd interleave + one broadcast max + a files-sized
      // aggregate: expect scan-bound growth
      run("zorder_layout", k) {
        val base = orders.select(
          (col("o_custkey") % 65536).cast("long").as("ck"),
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
            .cast("long").as("dd"))
        graft.operators.Layout.fileStats(
          graft.operators.Layout.assignFiles(base,
            graft.operators.Layout.zOrderKey(Seq(col("ck"), col("dd"))), 64),
          Seq("ck", "dd")).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // canonicalization is per-row regexp work in the scan; the dedup is
      // one groupBy on the canonical key — expect scan-bound growth
      val url = concat(lit("HTTPS://EX"), expr("cast(doc_id % 701 as string)"),
        lit(".COM:443/page/"), expr("cast(doc_id % 5003 as string)"),
        lit("/?utm_source=feed&id="), expr("cast(doc_id % 13 as string)"), lit("#f"))
      run("url_dedup", k)(graft.operators.Urls.urlDedup(docs, url).count())
    }
    for (k <- Seq(1, 4, 16)) {
      // amplify USERS: touches and conversions both grow k-fold but every
      // window frame stays one user's/one conversion's touches — the
      // union+window as-of pass and the path ranking are both linear
      val ev = amplify(t.events, "user_id", k)
      run("attribution", k) {
        val e2 = ev.withColumn("ts_us", expr("ts div 1000L"))
        val touches = e2.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"),
            col("event_type").as("channel"), col("ts_us"))
        val conv = e2.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts_us")
          .agg(max(col("event_id")).as("conv_id"), lit(100L).as("value_cents"))
          .select(col("user_id"), col("ts_us").as("conv_ts"),
            col("conv_id"), col("value_cents"))
        graft.operators.Attribution.positionBased(touches, conv,
          lookbackUs = 7L * 86400000000L).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      // amplify USERS: raw event volume grows k-fold but the (type, day)
      // daily frame is constant-size — both the interpolation windows and
      // the regression ride it, so only the first agg should grow
      val ev = amplify(t.events, "user_id", k)
      val daily = ev.select(col("event_type"),
          expr("ts div 86400000000000").as("day"), col("value"))
        .groupBy("event_type", "day")
        .agg(sum(col("value")).as("y"))
      run("daily_frame_ops", k) {
        // stand-in for interp_fill + trend_regression: the corpus-sized
        // work is this one partial-aggregated scan; the windows/power
        // sums both queries add ride the constant (type, day) frame
        daily.groupBy("event_type")
          .agg(count(lit(1)), sum(col("y") * col("day")), sum(col("day") * col("day")))
          .count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val cust = amplify(t.customer, "c_custkey", k)
      // one corpus scan to (class × value) counts; the dense grid and its
      // ECDF windows are QI-cardinality × value-domain sized (constant
      // under amplification) — expect scan-bound growth, constant output
      run("t_closeness", k) {
        val base = cust.select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
        graft.operators.Privacy.tCloseness(base,
          Seq("c_nationkey", "c_mktsegment"), col("bal_band")).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
      // series-amplified: each copy becomes its OWN monitored series, so
      // the (series × day) walk frame grows k-fold while per-series
      // partitions stay horizon-sized — expect near-linear, never a
      // one-task funnel (no global window anywhere)
      val pts = orders.select(
          concat(col("o_orderpriority"), lit("#"),
            (col("o_orderkey") / lit(10_000_000L)).cast("long")).as("series"),
          col("o_orderdate").as("t"))
        .groupBy("series", "t").agg(count(lit(1)).as("x"))
      run("cusum", k)(
        graft.operators.Changepoint.cusum(pts, col("series"), col("t"), col("x")).count())
    }
    {
      // disjoint id-shifted copies of the co-purchase graph (the
      // cohesion-suite convention): peel ROUNDS are structure-bound and
      // stay flat; per-round triangle enumeration is the growing term
      val p = t.lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
        .distinct()
      val e0 = p.as("a").join(p.as("b"),
          col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).as("w")).filter(col("w") >= 2).select("src", "dst")
      val shift = e0.agg(greatest(max(col("src")), max(col("dst")))).head().getLong(0) + 1
      for (k <- Seq(1, 4, 16)) {
        val ed = (0 until k).map(i => e0.select(
            (col("src") + lit(i * shift)).as("src"),
            (col("dst") + lit(i * shift)).as("dst")))
          .reduce(_ unionByName _)
        run("k_truss", k)(graft.operators.Graph.kTruss(ed, k = 3).count())
        run("local_clustering", k)(
          graft.operators.Graph.localClustering(ed, minDeg = 3).count())
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
      // the daily frame is horizon-sized: amplification grows the VALUES
      // (counts per day), not the frame — expect flat after the one scan
      run("seasonal", k) {
        val daily = orders.groupBy(col("o_orderdate").as("d"))
          .agg(count(lit(1)).as("x"))
        graft.operators.Seasonal.decompose(daily, col("d"), col("x"),
          (datediff(col("d"), lit("1992-01-01").cast("date")) % 7).cast("long"), 7).count()
      }
      // benford: one scan to a 9×slices frame — scan-bound
      run("benford", k)(
        graft.operators.Audits.benford(
          orders.select(col("o_orderpriority"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c")),
          col("o_orderpriority"), col("c")).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val cust = amplify(t.customer, "c_custkey", k)
      // blocked pairs: copies land in the SAME blocks (nation × band), so
      // block sizes grow k-fold and pair volume ~k² — the probe shows the
      // operator tracks its OUTPUT (the honest asymptote for a
      // pair-producer; real ingests re-block finer, and blockCap bounds
      // the worst case)
      run("linkage", k)(
        graft.operators.Linkage.scorePairs(cust, col("c_custkey"),
          Seq(col("c_nationkey"), floor(col("c_acctbal") / lit(1000.0)).cast("long")),
          Seq((col("c_mktsegment"), 25L, -12L),
            (expr("substring(c_name, length(c_name), 1)"), 20L, -10L)),
          upper = 40L, lower = 10L).count())
      // gini: one row per unit, per-slice windows — near-linear
      run("gini", k)(
        graft.operators.Audits.gini(
          cust.select(col("c_mktsegment"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("m")),
          col("c_mktsegment"), col("m")).count())
    }
    // ---- r10 session 2: retrieval / sketch / community / audit additions
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // exact prefix-filtered Jaccard join: amplified copies are EXACT
      // duplicates of each other, so true pair volume grows ~k² — the
      // probe shows runtime tracking the OUTPUT (the honest asymptote
      // for an exact pair-producer; the prefix filter's job is the
      // CANDIDATE volume, which the equality gate pins = brute force)
      run("exact_jaccard", k)(
        graft.operators.Dedup.exactJaccardJoin(docs, minJPm = 900L).count())
      // BM25: query-vocab IN prefilter rides the scan; scan-bound
      run("bm25", k)(
        graft.operators.Search.bm25TopK(docs, Seq(
          1 -> "spark join agg", 2 -> "slow scan table"), k = 10).count())
      // entropy/KL: (slice × vocab) count frame, scan-bound
      run("entropy_kl", k)(
        graft.operators.Audits.entropyKl(
          docs.select(col("source"), explode(split(col("text"), " ")).as("tok")),
          col("source"), col("tok")).count())
      // KMV: distinct → salted two-phase bottom-k; sketch rows constant
      run("kmv_sketch", k) {
        val sh = docs.select(col("source"), split(col("text"), " ").as("__ws"))
          .filter(size(col("__ws")) >= 3)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(__ws) - 3), i -> concat_ws(' ', slice(__ws, i + 1, 3)))"))
            .as("shingle"))
        val sk = graft.operators.Sketches.kmvSketches(sh, "source", "shingle", k = 256)
        graft.operators.Sketches.kmvPairs(sk, k = 256).count()
      }
    }
    {
      val emb = t.embeddings
      for (k <- Seq(1, 4, 16)) {
        val ed = (0 until k).map(i => emb.select(
            (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
          .reduce(_ unionByName _)
        // JL: map-side literal dot products + one co-partitioned pair join
        run("jl_distortion", k)(
          graft.operators.Similarity.jlDistortion(ed, r = 16, dims = 64).count())
        // MMR: candidate cut is corpus-scan-bound; rounds are m·k bounded
        run("mmr", k)(
          graft.operators.Similarity.mmrRerank(ed,
            emb.filter(col("vec_id").isin(1L, 2L)), m = 12, k = 5).count())
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      run("phrase_search", k)(
        graft.operators.Search.phraseSearch(docs, "table scan").count())
      run("rrf_hybrid", k) {
        val bm = graft.operators.Search.bm25TopK(docs, Seq(
            1 -> "spark join agg", 2 -> "slow scan table"), k = 20)
          .select("query_id", "doc_id", "rank")
        graft.operators.Search.rrfFuse(Seq(bm, bm), k = 10).count()
      }
      run("best_snippet", k)(
        graft.operators.Search.bestSnippet(docs, Seq(
          1 -> "spark join agg", 2 -> "slow scan table"), w = 8, k = 3).count())
      run("prf_expansion", k)(
        graft.operators.Search.prfExpandedBm25(docs, Seq(
          1 -> "spark join agg", 2 -> "slow scan table"), f = 5, e = 3).count())
      // winnowing: gram explode + per-doc range window + fp-equality join;
      // amplified copies are exact dups, so pair output grows ~k²
      run("winnowing", k)(
        graft.operators.Dedup.winnowingPairs(docs, minShared = 3L).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val li = amplify(t.lineitem, "l_orderkey", k)
      run("assoc_rules", k)(
        graft.operators.Associations.pairRules(
          li.select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
          "basket", "item", minSupport = 3L).count())
    }
    {
      val emb = t.embeddings
      for (k <- Seq(1, 4, 16)) {
        val ed = (0 until k).map(i => emb.select(
            (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
          .reduce(_ unionByName _)
        run("k_center", k)(
          graft.operators.Similarity.kCenterSelect(ed, k = 6).count())
      }
    }
    {
      // weighted SSSP on disjoint co-purchase copies with inverse-count costs
      val p = t.lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
        .distinct()
      val ew = p.as("a").join(p.as("b"),
          col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
        .withColumn("w", expr("1000 div cnt")).select("src", "dst", "w")
      val shift = ew.agg(greatest(max(col("src")), max(col("dst")))).head().getLong(0) + 1
      for (k <- Seq(1, 4, 16)) {
        val ed = (0 until k).map(i => ew.select(
            (col("src") + lit(i * shift)).as("src"),
            (col("dst") + lit(i * shift)).as("dst"), col("w")))
          .reduce(_ unionByName _)
        val und = ed.unionByName(ed.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        val seeds = und.select(col("src").as("node")).distinct().orderBy("node").limit(3)
        run("weighted_cost", k)(
          graft.operators.Rank.weightedSeedCost(und, seeds, rounds = 8).count())
      }
    }
    {
      // disjoint id-shifted co-purchase copies (cohesion-suite convention)
      val p = t.lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
        .distinct()
      val e0 = p.as("a").join(p.as("b"),
          col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).as("w")).filter(col("w") >= 2).select("src", "dst")
      val shift = e0.agg(greatest(max(col("src")), max(col("dst")))).head().getLong(0) + 1
      for (k <- Seq(1, 4, 16)) {
        val ed = (0 until k).map(i => e0.select(
            (col("src") + lit(i * shift)).as("src"),
            (col("dst") + lit(i * shift)).as("dst")))
          .reduce(_ unionByName _)
        run("label_prop", k)(
          graft.operators.Graph.labelPropagation(ed, rounds = 6).count())
        run("modularity", k) {
          val lpa = graft.operators.Graph.labelPropagation(ed, rounds = 6)
          graft.operators.Graph.modularity(ed, lpa).count()
        }
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      run("chi_square", k)(
        graft.operators.Dependence.chiSquare(docs, col("lang"), col("source")).count())
      run("pareto_front", k) {
        val scored = docs
          .withColumn("__nt", size(split(col("text"), " ")).cast("long"))
          .withColumn("__nd", size(array_distinct(split(col("text"), " "))).cast("long"))
          .withColumn("div_pm", expr("1000 * __nd div __nt"))
        Sampling.paretoFront(scored, col("n_chars"), col("div_pm")).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val ev = amplify(t.events, "event_id", k)
      val DayNs = 86400L * 1000L * 1000L * 1000L
      run("ewma", k) {
        // corpus grows 16x but the (series × day) frame is fixed — the
        // walk cost must stay flat while the pre-aggregation scan scales
        val daily = ev.groupBy(col("event_type"),
            expr(s"ts div ${DayNs}L").as("day"))
          .agg(count(lit(1)).as("v"))
        graft.operators.Smoothing.ewma(daily, col("event_type"),
          col("day"), col("v")).count()
      }
      run("lead_lag", k) {
        def daily(et: String, out: String) = ev
          .filter(col("event_type") === et)
          .groupBy(expr(s"ts div ${DayNs}L").as("t"))
          .agg(count(lit(1)).as(out))
        graft.operators.Smoothing.leadLagCorr(
          daily("click", "x"), daily("purchase", "y"), maxLag = 7).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
        .withColumn("o_custkey", col("o_custkey") + expr("(o_orderkey div 10000000L) * 10000000L"))
      run("rfm", k)(
        graft.operators.Rfm.rfmScores(orders, "o_custkey",
          col("o_orderdate").cast("date"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      run("bootstrap_ci", k)(
        graft.operators.Bootstrap.bootstrapCi(docs, col("doc_id"),
          col("n_chars"), replicates = 48).count())
      run("hrw_reshard", k)(
        graft.operators.Sharding.reshardAudit(docs, col("doc_id"), n = 8, m = 9).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val ev = amplify(t.events, "event_id", k)
        .withColumn("user_id", col("user_id") + expr("(event_id div 10000000L) * 10000000L"))
        .withColumn("ts_us", expr("ts div 1000L"))
      run("time_decay", k) {
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type").as("channel"), col("ts_us"))
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts_us")
          .agg(max(col("event_id")).as("conv_id"), lit(100L).as("value_cents"))
          .select(col("user_id"), col("ts_us").as("conv_ts"), col("conv_id"), col("value_cents"))
        graft.operators.Attribution.timeDecay(touches, conv,
          lookbackUs = 7L * 86400000000L, halflifeUs = 86400000000L).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val orders = amplify(t.orders, "o_orderkey", k)
        .withColumn("o_custkey", col("o_custkey") + expr("(o_orderkey div 10000000L) * 10000000L"))
      run("survival", k) {
        val per = orders.groupBy(col("o_custkey").as("cust"))
          .agg(min(col("o_orderdate").cast("date")).as("first_d"),
            max(col("o_orderdate").cast("date")).as("last_d"))
        val ref = per.agg(max(col("last_d")).as("ref_d"))
        val subj = per.crossJoin(broadcast(ref))
          .withColumn("event", datediff(col("ref_d"), col("last_d")) > 60)
          .withColumn("duration",
            when(col("event"), datediff(col("last_d"), col("first_d")))
              .otherwise(datediff(col("ref_d"), col("first_d"))))
        graft.operators.Survival.kaplanMeier(subj, col("duration"), col("event")).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val emb = amplify(t.embeddings, "vec_id", k)
      run("roc_auc", k)(
        graft.operators.Evaluation.rocAuc(
          emb.select((col("label") === 0).as("y"),
            (element_at(col("embedding"), 1).cast("double") * 1000000)
              .cast("long").as("score")),
          col("y"), col("score")).count())
    }
    for (k <- Seq(1, 4, 16)) {
      // disjoint user copies so sessions multiply instead of densifying
      val ev = amplify(t.events, "event_id", k)
        .withColumn("user_id", col("user_id") + expr("(event_id div 10000000L) * 10000000L"))
      run("seq_rules", k) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val sess = ev
          .withColumn("new_s", when(coalesce(col("ts") - lag(col("ts"), 1).over(w),
            lit(Long.MaxValue)) > 1800L * 1000 * 1000 * 1000, 1L).otherwise(0L))
          .withColumn("seq", sum(col("new_s")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .select(concat(col("user_id").cast("string"), lit(":"),
            col("seq").cast("string")).as("session"), col("event_type"), col("ts"))
        graft.operators.Associations.sequenceRules(sess, "session",
          "event_type", "ts", minSupport = 3L).count()
      }
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // PSI collapses to the bin frame in one scan → scan-bound
      run("psi", k)(
        graft.operators.Drift.psi(docs, col("lang") === "en",
          col("n_chars"), bins = 10).count())
      // co-occurrence lift: per-row pair expansion + two partial-agg
      // counts; amplified copies repeat the same pairs, so the pair
      // frame stays vocab²-bounded while the scan grows k-fold →
      // near-linear growth is the claim
      run("cooc_lift", k)(
        TextAnalysis.cooccurrenceLift(docs, window = 5, minPair = 5L,
          topK = 30).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val docs = amplify(t.documents, "doc_id", k)
      // TextRank: pair kernel scan grows k-fold; the co-occurrence graph
      // and the PageRank iterations stay vocab-bounded → near-linear.
      // ADVICE r11: probe the FULL operator (pair kernel + PageRank
      // sweeps), not just the pair kernel cooc_lift already covers.
      run("textrank", k)(
        TextAnalysis.textRankKeywords(docs, window = 3, minCount = 2L,
          iters = 6, topK = 30).count())
      // Dirichlet QL: postings prefilter rides the scan; candidates and
      // the per-candidate fan-out grow with matching docs → scan-bound
      run("dirichlet_ql", k)(
        graft.operators.Search.dirichletQlTopK(docs,
          Seq(1 -> "spark join agg", 2 -> "slow scan table"), k = 10).count())
    }
    for (k <- Seq(1, 4, 16)) {
      // disjoint user copies: journeys multiply, the transition frame
      // stays channel-enum-bounded, the solve is constant driver work
      val ev = amplify(t.events, "event_id", k)
        .withColumn("user_id", col("user_id") + expr("(event_id div 10000000L) * 10000000L"))
      run("markov_attrib", k)(
        graft.operators.Attribution.markovRemoval(ev, "user_id", "event_type",
          "ts", "event_id", "purchase").count())
    }
    for (k <- Seq(1, 4, 16)) {
      // id-shifted copies make k disjoint replicas of the co-purchase
      // graph: MSF/Louvain rounds stay flat (diameter unchanged), work
      // per round grows linearly with the edge frame
      val li = amplify(t.lineitem, "l_orderkey", k)
        // shift parts with their copy so replicas are DISJOINT graphs
        // (unshifted parts would densify one graph instead)
        .withColumn("l_partkey",
          col("l_partkey") + expr("(l_orderkey div 10000000L) * 10000000L"))
      val p = li.select(col("l_orderkey").as("o"), col("l_partkey").as("pk")).distinct()
      val ew = p.as("a").join(p.as("b"),
          col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).as("cw")).filter(col("cw") >= 2)
      run("msf", k)(
        graft.operators.Graph.minimumSpanningForest(
          ew.select(col("src"), col("dst"), (-col("cw")).as("w"))).count())
      run("louvain", k)(
        graft.operators.Graph.louvainMove(ew.select("src", "dst"), sweeps = 4).count())
    }
    for (k <- Seq(1, 4, 16)) {
      val emb = amplify(t.embeddings, "vec_id", k)
      run("mutual_info", k) {
        val stacked = emb
          .select(col("label"), posexplode(slice(col("embedding"), 1, 8)))
          .select((col("pos") + 1).cast("long").as("feature"),
            when(col("col") >= lit(0.0f), 1).otherwise(0).as("x"),
            col("label").as("y"))
        graft.operators.Dependence.mutualInfo(stacked,
          col("feature"), col("x"), col("y")).count()
      }
    }
    spark.stop()
  }
}
