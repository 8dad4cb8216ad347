package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** §2C dedup family on planted fixtures: near-dups must be found, unrelated
  * docs must not pair. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  // 40-word base; nearA/nearB differ from base by one word (≈0.93 trigram
  // jaccard); "other" shares no vocabulary.
  private val base = (1 to 40).map(i => s"w$i").mkString(" ")
  private val nearA = ((1 to 20).map(i => s"w$i") ++ Seq("CHANGED") ++ (22 to 40).map(i => s"w$i")).mkString(" ")
  private val other = (1 to 40).map(i => s"x$i").mkString(" ")
  private lazy val docs = Seq(
    (0L, base), (1L, nearA), (2L, other), (3L, base) // 3 is an exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val d = Dedup.exact(docs).orderBy("canonical_id")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(d == Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("minhash LSH finds near-dups and exact dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "exact dup pair")
    assert(pairs.contains((0L, 1L)), "near dup pair")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
  }

  test("minhash jaccard estimate is verified exact, not approximate") {
    val j = Dedup.minhashPairs(docs, threshold = 0.1)
      .filter(col("doc_a") === 0 && col("doc_b") === 3)
      .select("jaccard").as[Double].head()
    assert(j == 1.0, "identical docs have exact jaccard 1.0")
  }

  test("simhash pairs near-dups within hamming 3 and skips unrelated") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L)))
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 == 0L, "identical ⇒ distance 0")
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngram jaccard within group matches hand-computed similarity") {
    val grouped = docs.withColumn("source", lit("g1"))
    val pairs = Dedup.ngramJaccardPairs(grouped, "source", threshold = 0.3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 3L)) == 1.0)
    // one word changed in 40 ⇒ 3 of 38 distinct trigrams replaced:
    // |A∩B| = 35, |A∪B| = 41
    assert(math.abs(pairs((0L, 1L)) - 35.0 / 41.0) < 1e-12)
    assert(!pairs.contains((0L, 2L)))
  }

  test("mega-buckets are dropped by the skew guard") {
    // 60 identical docs form one bucket of 60 > cap=50 ⇒ no pairs emitted
    val many = (0L until 60L).map(i => (i, base)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(many, threshold = 0.5, bucketCap = 50)
    assert(pairs.count() == 0)
  }
  test("contamination: a copied eval doc is fully contaminated, a fresh one is clean") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "completely different training text about spark catalyst and codegen loops")
    ).toDF("doc_id", "text")
    val ev = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // verbatim copy
      (2L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm")                              // disjoint
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(ev, corpus, n = 8)
      .select("eval_id", "n_shingles", "n_hit_shingles", "contaminated", "contamination_ratio")
      .as[(Long, Long, Long, Boolean, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._4 && got(1L)._5 == 1.0, s"verbatim copy must be 100% contaminated: ${got(1L)}")
    assert(!got(2L)._4 && got(2L)._3 == 0L, s"disjoint doc must be clean: ${got(2L)}")
    assert(got(1L)._2 == got(1L)._3, "every shingle of the copy must hit")
  }

  test("resolveClusters: transitive chains collapse to min-id components") {
    // chain 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    // pair {10,11}, and an untouched doc 99 (absent from output)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L),
      s"got $got")
  }

  test("incrementalNearDup == full self-dedup restricted to new-vs-corpus pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val (idxBands, idxSets) = Dedup.bandIndex(corpus)
    val got = Dedup.incrementalNearDup(newDocs, idxBands, idxSets)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet

    // reference: the full-corpus portable self-dedup, keeping only pairs
    // that cross the new/old boundary. Bucket-cap semantics differ
    // slightly (self-dedup caps the WHOLE bucket, incremental caps the
    // index side), which changes nothing until a bucket exceeds the cap —
    // none does on this corpus, so the pair sets must be equal.
    val full = Dedup.minhashPairsPortable(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val crossPairs = full.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }
    assert(got == crossPairs, s"got=${got.toSeq.sorted} want=${crossPairs.toSeq.sorted}")
  }

  test("duplicated spans: copied docs are fully covered, unique docs are at zero") {
    // base and its exact copy (doc 3) share every 8-gram; "other" shares none
    val out = Dedup.duplicatedSpans(docs, n = 8)
      .select("doc_id", "n_ngrams", "n_dup_ngrams", "dup_coverage")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._4 == 1.0, "exact-dup doc is 100% duplicated spans")
    assert(out(3L)._4 == 1.0)
    assert(out(2L)._4 == 0.0, "disjoint-vocabulary doc has zero coverage")
    // nearA shares all 8-grams except those crossing the changed word:
    // covered positions exist but coverage is strictly partial
    assert(out(1L)._4 > 0.0 && out(1L)._4 < 1.0, s"partial coverage, got ${out(1L)}")
    assert(out(0L)._2 == 40 - 8 + 1, "multiplicity-preserving position count")
  }

  test("edit-distance pairs: exact for the ≤ maxDist contract, across length bands") {
    // b differs from a by 3 single-char edits; c is a, shortened by 17 chars
    // (beyond maxDist=16); d sits in a DIFFERENT length band than a but
    // within distance (adjacent-band join must catch it)
    val a = "a" * 64
    val fixture = Seq(
      (1L, a),
      (2L, "b" * 3 + a.drop(3)),      // dist 3, same band
      (3L, a.drop(17)),               // dist 17 > 16: excluded
      (4L, a.drop(15))                // dist 15, len 49 → band 3 vs band 4 for len 64
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(fixture, maxDist = 16)
      .select("doc_a", "doc_b", "edit_dist").as[(Long, Long, Long)].collect().toSet
    // ground truth by driver-side DP over all pairs
    def lev(x: String, y: String): Int = {
      val dp = Array.tabulate(x.length + 1)(i => i)
      for (j <- 1 to y.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to x.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(x.length)
    }
    val rows = fixture.as[(Long, String)].collect()
    val expected = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      d = lev(ta, tb) if d <= 16
    } yield (ia, ib, d.toLong)).toSet
    assert(got == expected, s"got $got expected $expected")
    assert(expected.exists(p => p._1 == 1L && p._2 == 4L), "cross-band pair present in fixture")
  }

  test("resolveClusters equals a driver-side union-find on the corpus") {
    val pairs = Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$sfDir/documents.parquet"), groupCol = "source", threshold = 0.3)
    val want = UnionFind(pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq)
    val got = Dedup.resolveClusters(pairs).as[(Long, Long)].collect().toMap
    assert(want.nonEmpty && got == want,
      "cluster_id must be the min doc id of the doc's component")
  }

  test("resolveClusters closes an ordered 64-node chain within 8 rounds") {
    // path 0-1-…-63, diameter 63: the pointer hop doubles a label's reach
    // per round, so 7 rounds close it where plain propagation needs 64
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.resolveClusters(chain, maxIter = 8).as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 0L), "one component rooted at the min id")
  }

  test("resolveClusters fails loudly on a shuffled-id 64-node chain it cannot close in 8 rounds") {
    // the same path with its ids shuffled: labels no longer fall in path
    // order, so the budget runs out; the clusters are never half-returned
    val ids = new scala.util.Random(15).shuffle((0L until 64L).toVector)
    val chain = ids.zip(ids.tail).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](Dedup.resolveClusters(chain, maxIter = 8))
    assert(e.getMessage.contains("did not converge in 8 rounds"))
    val got = Dedup.resolveClusters(chain, maxIter = 64).as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 0L), "a large enough budget closes it")
  }

  test("resolveClusters equals union-find on random string-id pairs with self-pairs") {
    val rnd = new scala.util.Random(41)
    val pairs = Seq.fill(90)((s"d${rnd.nextInt(120)}", s"d${rnd.nextInt(120)}")) ++
      Seq(("d7", "d7"), ("solo", "solo"))
    assert(pairs.count { case (a, b) => a == b } >= 2)
    val got = Dedup.resolveClusters(pairs.toDF("doc_a", "doc_b")).as[(String, String)]
      .collect().toMap
    assert(got == UnionFind(pairs), "string ids cluster under their own ordering")
    assert(got("solo") == "solo", "a self-pair alone is its own cluster")
  }

  test("edit-distance band cap bounds degenerate constant-length bands by default") {
    // 12 docs, ALL the same length → one band; distances pairwise ≤ 2.
    // With bandCap below the band population the band is dropped whole;
    // with the (default) cap above it, the full exact pair set comes back.
    val boiler = (1L to 12L).map(i => (i, f"log line number $i%02d")).toDF("doc_id", "text")
    val capped = Dedup.editDistancePairs(boiler, maxDist = 4, bandCap = 8)
    assert(capped.count() == 0, "an over-cap band must not produce quadratic candidates")
    val full = Dedup.editDistancePairs(boiler, maxDist = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(full == (for { a <- 1L to 12L; b <- 1L to 12L if a < b } yield (a, b)).toSet,
      "default cap (10k) leaves normal corpora complete")
    // truncation is observable, never silent: the audit frame names the
    // dropped band with its population and length range
    val dropped = Dedup.editDistanceDroppedBands(boiler, maxDist = 4, bandCap = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(dropped.length == 1 && dropped.head._2 == 12L,
      s"audit must report the one over-cap band with all 12 docs, got ${dropped.toSeq}")
    val (band, _, lo, hi) = dropped.head
    assert(lo == band * 4 && hi == lo + 3, "length range covers the band")
    assert(Dedup.editDistanceDroppedBands(boiler, maxDist = 4).isEmpty,
      "default cap drops nothing here — audit frame empty ⇔ pair set exact")
  }

  test("band index survives a parquet write/read roundtrip (the persisted-index path)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val (idxBands, idxSets) = Dedup.bandIndex(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex").toString
    idxBands.write.mode("overwrite").parquet(s"$dir/bands")
    idxSets.write.mode("overwrite").parquet(s"$dir/sets")
    val live = Dedup.incrementalNearDup(newDocs, idxBands, idxSets)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val reloaded = Dedup.incrementalNearDup(newDocs,
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"))
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(reloaded == live)
  }

  test("line dedup drops cross-doc boilerplate, rebuilds docs in order") {
    // "FOOTER legal text" appears in docs 0,1,2 (boilerplate); each doc also
    // has unique lines; doc 3 is ONLY boilerplate and must come back empty.
    val lines = Seq(
      (0L, 0L, "alpha beta"), (0L, 1L, "FOOTER legal text"), (0L, 2L, "gamma delta"),
      (1L, 0L, "FOOTER legal text"), (1L, 1L, "unique one"),
      (2L, 0L, "unique two"), (2L, 1L, "FOOTER legal text"),
      (3L, 0L, "FOOTER legal text"),
      // a line repeated INSIDE one doc only is NOT boilerplate (df counts docs)
      (4L, 0L, "solo repeat"), (4L, 1L, "solo repeat")
    ).toDF("doc_id", "line_idx", "line")
    val out = Dedup.lineDedup(lines, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 3L, 2L, "alpha beta gamma delta"),
      (1L, 2L, 1L, "unique one"),
      (2L, 2L, 1L, "unique two"),
      (3L, 1L, 0L, null),
      (4L, 2L, 2L, "solo repeat solo repeat")))
  }

  test("domain boilerplate strips by per-domain ratio, not corpus count") {
    // "promo" is in 2/4 of domain A's docs (50% — strips at ratioPct=50) and
    // in 1/2 of domain B's (50% but via a DIFFERENT doc set); "footer" is in
    // 4/4 of A. A line shared across domains only counts within each.
    val lines = Seq(
      (0L, 0L, "footer"), (0L, 1L, "keep zero"),
      (1L, 0L, "footer"), (1L, 1L, "promo"),
      (2L, 0L, "footer"), (2L, 1L, "promo"),
      (3L, 0L, "footer"),
      (10L, 0L, "promo"), (10L, 1L, "keep ten"),
      (11L, 0L, "keep eleven")
    ).toDF("doc_id", "line_idx", "line")
    val domains = Seq(0L -> "A", 1L -> "A", 2L -> "A", 3L -> "A",
      10L -> "B", 11L -> "B").toDF("doc_id", "source")
    val out = Dedup.domainBoilerplate(lines, domains, ratioPct = 50, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 1L, "keep zero"),
      (1L, 2L, 0L, null), // footer 100%, promo 50% of A — both stripped
      (2L, 2L, 0L, null),
      (3L, 1L, 0L, null),
      // B: "promo" is in only ONE of B's docs — under minDocs, survives
      (10L, 2L, 2L, "promo keep ten"),
      (11L, 1L, 1L, "keep eleven")))
  }

  test("domain boilerplate: minDocs floor protects two-doc domains at low ratio") {
    val lines = Seq(
      (0L, 0L, "shared"), (0L, 1L, "only zero"),
      (1L, 0L, "shared"),
      (2L, 0L, "lonely")
    ).toDF("doc_id", "line_idx", "line")
    val domains = Seq(0L -> "X", 1L -> "X", 2L -> "Y").toDF("doc_id", "source")
    // ratioPct=1: "shared" (2/2 of X) strips; "lonely" (1/1 of Y = 100%!) is
    // saved only by the minDocs floor — the regression this spec pins.
    val out = Dedup.domainBoilerplate(lines, domains, ratioPct = 1, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((0L, 1L, "only zero"), (1L, 0L, null), (2L, 1L, "lonely")))
  }

  test("canonical-by-quality keeps the best-scored cluster member, ties to min id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 10L), (2L, 99L), (3L, 50L), (7L, 42L), (8L, 42L))
      .toDF("doc_id", "score")
    val kept = Dedup.canonicalByQuality(clusters, quality)
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 7L),
      "cluster 1 keeps its best copy (doc 2); the tie in cluster 7 breaks to min id")
    val all = Dedup.canonicalByQuality(clusters, quality).count()
    assert(all == 5L, "one row per clustered doc, kept flag marks the canonical")
  }

  test("within-doc line dedup keeps first occurrence, preserves order, stays per-doc") {
    val lines = Seq(
      (0L, 0L, "aa"), (0L, 1L, "bb"), (0L, 2L, "aa"), (0L, 3L, "cc"),
      (1L, 0L, "xx"), (1L, 1L, "xx"), (1L, 2L, "xx"),
      // the same line in ANOTHER doc is untouched (dedup is per document)
      (2L, 0L, "aa")
    ).toDF("doc_id", "line_idx", "line")
    val out = Dedup.dedupLinesWithinDoc(lines)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 4L, 3L, "aa bb cc"),
      (1L, 3L, 1L, "xx"),
      (2L, 1L, 1L, "aa")))
  }

  test("tokenLines segments match hand-sliced windows") {
    val docs = Seq((7L, "a b c d e"), (8L, "x y")).toDF("doc_id", "text")
    val segs = Chunking.tokenLines(docs, width = 2)
      .orderBy("doc_id", "line_idx")
      .select("doc_id", "line_idx", "line").as[(Long, Long, String)].collect().toSeq
    assert(segs == Seq((7L, 0L, "a b"), (7L, 1L, "c d"), (7L, 2L, "e"), (8L, 0L, "x y")))
  }

  test("minhashAccuracy: identical docs estimate 1.0 exactly; near-dups stay consistent") {
    val base = "a b c d e f g h i j"
    val docs = Seq(
      (1L, base), (2L, base),                      // identical pair
      (3L, "a b c d e f g h i k")                  // one shingle differs
    ).toDF("doc_id", "text")
    val out = Dedup.minhashAccuracy(docs)
      .select("doc_a", "doc_b", "n_agree", "est_jaccard", "exact_jaccard", "abs_err")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap

    val ident = out((1L, 2L))
    assert(ident._3 == 64L && ident._4 == 1.0 && ident._5 == 1.0 && ident._6 == 0.0)
    // the perturbed pairs: 7 of 8 shingles shared, union 9 → exact 7/9;
    // the estimate is whatever the 64 fixed permutations say (here they
    // all agree — the single differing shingle is never the min), and
    // abs_err must be their exact difference
    out.filterNot(_._1 == ((1L, 2L))).values.foreach {
      case (_, _, nAgree, est, exact, err) =>
        assert(exact == 7.0 / 9)
        assert(est == nAgree.toDouble / 64)
        assert(math.abs(err - math.abs(est - exact)) < 1e-15)
    }
  }

  test("sourceOverlap: shared text overlaps, disjoint sources are absent") {
    val nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9" // 9 tokens -> two 8-gram shingles
    val docs = Seq(
      (1L, nine, "A"),
      (2L, nine, "B"),                       // same 2 shingles as A
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8", "B"),  // +1 shingle only in B
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8", "C")   // disjoint
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs, n = 8, groupCol = "source")
      .select("src_a", "src_b", "n_a", "n_b", "n_common", "jaccard", "containment")
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(("A", "B", 2L, 3L, 2L, 2.0 / 3, 1.0)))
  }

  test("span removal: redundant occurrences cut, canonical copy survives") {
    val span = "a b c d e f g h" // exactly n = 8 tokens
    val docs = Seq(
      (1L, s"$span x y"),         // canonical occurrence at pos 0
      (2L, s"p q $span r"),       // redundant occurrence at pos 2
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // all unique: untouched
      (4L, "s t u"),              // short-doc whole-text dup, canonical
      (5L, "s t u")               // ... and its redundant copy
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, n = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, String)].collect().toSeq

    // canonical keeps every token; the duplicate loses exactly the span
    assert(out(0) == (1L, 10L, 10L, 1.0, s"$span x y"))
    assert(out(1) == (2L, 11L, 3L, 3.0 / 11, "p q r"))
    assert(out(2)._5 == "u1 u2 u3 u4 u5 u6 u7 u8 u9")
    // short docs hash whole-text: doc 4 canonical, doc 5 fully removed
    assert(out(3) == (4L, 3L, 3L, 1.0, "s t u"))
    assert(out(4)._2 == 3L && out(4)._3 == 0L && out(4)._5 == null)
  }

  test("span removal: overlapping duplicated spans cut greedily, order preserved") {
    // doc 11 repeats doc 10's opening 9 tokens: two overlapping 8-gram
    // starts (pos 0 and pos 1) are both redundant in doc 11 — coverage
    // merges them into one 9-token cut
    val nine = "k1 k2 k3 k4 k5 k6 k7 k8 k9"
    val docs = Seq(
      (10L, s"$nine tail10"),
      (11L, s"$nine tail11")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, n = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    assert(out(0) == (10L, 10L, 10L, 1.0, s"$nine tail10"))
    assert(out(1) == (11L, 10L, 1L, 0.1, "tail11"))
  }

  test("removeContaminatedSpans cuts eval spans surgically; clean docs untouched") {
    val bench = (1 to 8).map(i => s"b$i").mkString(" ")    // one 8-gram eval phrase
    val evalDocs = Seq((100L, bench), (101L, "tiny eval")).toDF("doc_id", "text")
    val head = (1 to 10).map(i => s"c$i").mkString(" ")
    val tail = (11 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$head $bench $tail"),  // contaminated middle: cut, rest survives
      (2L, (30 to 45).map(i => s"d$i").mkString(" ")), // fully clean
      (3L, "tiny eval")             // short doc == eval doc: whole-text shingle, all cut
    ).toDF("doc_id", "text")
    val got = Dedup.removeContaminatedSpans(docs, evalDocs, n = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    assert(got(0)._1 == 1L && got(0)._2 == 28L && got(0)._3 == 20L)
    assert(got(0)._5 == s"$head $tail", "the eval span must vanish, clean text must survive")
    assert(got(1) == ((2L, 16L, 16L, 1.0, (30 to 45).map(i => s"d$i").mkString(" "))))
    assert(got(2)._1 == 3L && got(2)._3 == 0L && got(2)._5 == null,
      "a doc that IS an eval doc is cut entirely")
  }

  test("containmentPairs flags an excerpt symmetric Jaccard misses; names the contained side") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")       // 58 distinct 3-shingles
    val excerpt = (10 to 21).map(i => s"w$i").mkString(" ")   // 10 shingles, all inside
    val docs = Seq(
      (1L, "s", long),
      (2L, "s", excerpt),
      (3L, "s", (100 to 160).map(i => s"x$i").mkString(" ")), // disjoint
      (4L, "t", excerpt)                                      // other group: no pair
    ).toDF("doc_id", "source", "text")
    val got = Dedup.containmentPairs(docs, groupCol = "source", ngram = 3,
      thresholdPct = 90)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "containment_fp", "contained_id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 10L, 58L, 10L, 1000000L, 2L)), s"got $got")
    // motivation check: the symmetric operator does NOT flag this pair at
    // the same strength (jaccard = 10/58 ≈ 0.17)
    val sym = Dedup.ngramJaccardPairs(docs, groupCol = "source", ngram = 3,
      threshold = 0.3)
    assert(sym.filter(col("doc_a") === 1 && col("doc_b") === 2).count() == 0)
  }

  test("containmentPairs: equal sizes name the larger id as contained; below-threshold dropped") {
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "s", a), (2L, "s", a),                              // identical: 100%
      (3L, "s", (1 to 10).map(i => s"w$i").mkString(" ") + " " +
        (50 to 59).map(i => s"z$i").mkString(" "))             // half overlap: below 90%
    ).toDF("doc_id", "source", "text")
    val got = Dedup.containmentPairs(docs, groupCol = "source", ngram = 3,
      thresholdPct = 90)
      .select("doc_a", "doc_b", "contained_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L)), s"got $got")
  }

  test("C92: dedup savings accounts for every doc, zero savings on singletons") {
    val t = graft.queries.Tables(spark, sfDir)
    val rows = graft.queries.TrainingData.q174DedupSavings(t)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val nDocs = t.documents.count()
    assert(rows.map(_._3).sum == nDocs, "every document lands in exactly one bucket")
    rows.foreach { case (sz, nc, nd, rem, saved, pm) =>
      assert(nd == sz * nc, s"size-$sz bucket doc count")
      assert(rem == (sz - 1) * nc, s"size-$sz removable count")
      if (sz == 1) assert(saved == 0 && pm == 0, "singletons save nothing")
      else assert(saved > 0, s"size-$sz clusters must save tokens")
    }
  }

  test("C91: LSH tuning puts the S-curve inflection near the target threshold") {
    val all = Dedup.tuneLsh(numPerm = 64, threshold = 0.7)
    assert(all.size == 7) // the divisor splits of 64
    val best = all.head
    assert(math.abs(best.inflection - 0.7) < 0.25,
      s"winner ${best.bands}x${best.rowsPerBand} inflects at ${best.inflection}")
    // the canonical default 16x4 (inflection 0.5) must NOT win at t=0.7
    assert(!(best.bands == 16 && best.rowsPerBand == 4))
    // the curve separates: collisions far above t beat far below it
    def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, best.rowsPerBand), best.bands)
    assert(p(0.9) > 0.95 && p(0.3) < 0.2,
      s"winner curve p(0.9)=${p(0.9)} p(0.3)=${p(0.3)}")
    // a higher threshold must pick at least as many rows per band
    val strict = Dedup.tuneLsh(64, 0.9).head
    val loose = Dedup.tuneLsh(64, 0.4).head
    assert(strict.rowsPerBand >= best.rowsPerBand &&
      best.rowsPerBand >= loose.rowsPerBand,
      s"rows must grow with the threshold: ${loose.rowsPerBand} <= " +
        s"${best.rowsPerBand} <= ${strict.rowsPerBand}")
  }

  // C140: winnowing — the coverage guarantee and the density bound.

  test("C140: any shared substring of length >= k+w-1 yields a shared fingerprint") {
    val k = 8; val w = 16
    val shared = "The quick brown fox jumps over the lazy dog today" // 50 chars > k+w-1
    val rnd = new scala.util.Random(61)
    def noise(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val rows = Seq(
      (1L, noise(40) + shared + noise(40)),
      (2L, noise(60) + shared),
      (3L, shared + noise(55)),
      (4L, noise(120))) // no shared block
    val got = Dedup.winnowingPairs(rows.toDF("doc_id", "text"), k = k, w = w, minShared = 1L)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)),
      s"guarantee violated: $got")
    assert(!got.contains((1L, 4L)) && !got.contains((2L, 4L)) && !got.contains((3L, 4L)),
      s"random noise must not share fingerprints at chance level k=8: $got")
  }

  test("C140: identical documents share every fingerprint; density ~2/(w+1)") {
    val text = ("spark shuffles the partitions while the optimizer prunes columns " * 4).trim
    val rows = Seq((1L, text), (2L, text))
    val got = Dedup.winnowingPairs(rows.toDF("doc_id", "text"), minShared = 1L)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 1)
    val shared = got.head._3
    val nGrams = text.length - 7
    // density: selected distinct values ≤ selected positions ~ 2n/(w+1),
    // and at least n/w windows exist so at least a handful are selected
    assert(shared >= nGrams / 16 / 2, s"too few fingerprints: $shared of $nGrams grams")
    assert(shared <= 2 * nGrams / 17 + 8, s"density bound broken: $shared of $nGrams grams")
  }

  test("C140: over-frequent fingerprints are dropped (MOSS rule) — boilerplate stops pairing, rare content still pairs") {
    // every doc carries the same boilerplate header; only docs 1 and 2
    // also share rare content. With maxDocFreq below the corpus size the
    // boilerplate fingerprints (df = 12) are dropped, so only (1,2)
    // survives; with the cap at the corpus size everything pairs.
    val boiler = "This file is licensed under the Apache License Version 2 " * 2
    val rare = "zebra quantum xylophone meanders through vivid harbors nightly"
    val rnd = new scala.util.Random(67)
    def noise(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val rows = (1L to 12L).map { i =>
      (i, boiler + (if (i <= 2) rare else noise(62)))
    }
    val capped = Dedup.winnowingPairs(rows.toDF("doc_id", "text"), minShared = 1L,
        maxDocFreq = 8L)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(capped == Set((1L, 2L)), s"boilerplate must not pair under the cap: $capped")
    val uncapped = Dedup.winnowingPairs(rows.toDF("doc_id", "text"), minShared = 1L,
        maxDocFreq = 12L)
      .as[(Long, Long, Long)].collect()
    assert(uncapped.length == 12 * 11 / 2, "cap at corpus size keeps every boilerplate pair")
    // the ledger prices exactly what the cap refused: boilerplate fps
    // have df 12 > 8 → dropped wedge rows = C(12,2) each
    val fps = Dedup.winnowFingerprints(rows.toDF("doc_id", "text"))
    val led = graft.operators.Graph.wedgeCapLedger(
        fps.select(col("fp").as("src"), col("id").as("dst")), maxPivotDegree = 8L)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(led._2 >= 1L && led._3 == 12L && led._5 >= 66L,
      s"(n_fp, capped, max_df, kept, dropped): $led")
  }

  test("C140: too-short documents produce nothing instead of failing") {
    val rows = Seq((1L, "tiny"), (2L, "a b"), (3L, "x" * 30), (4L, "x" * 30))
    val got = Dedup.winnowingPairs(rows.toDF("doc_id", "text"), minShared = 1L)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((3L, 4L)), s"$got")
  }

  // C125: exact prefix-filtered Jaccard join — equality with brute force
  // is the contract (no false negatives from the prefix filter, no false
  // positives from candidate generation).
  private def bruteJaccard(docs: org.apache.spark.sql.DataFrame, minJPm: Long) = {
    val sh = docs.select(col("doc_id").as("id"), split(col("text"), " ").as("__ws"))
      .filter(size(col("__ws")) >= 3)
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(__ws) - 3), i -> concat_ws(' ', slice(__ws, i + 1, 3)))")).as("s"))
      .distinct()
    val sz = sh.groupBy("id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sz.select(col("id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("j_pm", expr("1000 * common div (n_a + n_b - common)"))
      .filter(col("j_pm") >= minJPm)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "j_pm")
  }

  test("C125: exactJaccardJoin equals brute force on the planted fixture") {
    val got = Dedup.exactJaccardJoin(docs, minJPm = 500L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val want = bruteJaccard(docs, 500L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    assert(got.exists(r => r._1 == 0L && r._2 == 3L && r._6 == 1000L), "exact dup at 1000‰")
    assert(!got.exists(r => r._1 == 2L || r._2 == 2L), "unrelated doc must not pair")
  }

  test("C125: threshold-boundary pairs survive the prefix filter exactly") {
    // J exactly at/above/below τ=500‰: A∩B = 3 of 4+5 shingles → 3/6 = 500‰
    // (kept); 2 of 4+5 → 2/7 = 285‰ (dropped). Token sets built so shingle
    // overlap is controlled: share a 5-token run (3 shingles).
    val run = "a b c d e" // 3 shingles
    val fx = Seq(
      (10L, s"$run x1"),       // 4 shingles: run + "d e x1"... see assertion below
      (11L, s"$run y1 y2"),    // 5 shingles
      (12L, "p q r s t u v")   // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.exactJaccardJoin(fx, minJPm = 500L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val want = bruteJaccard(fx, 500L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    // and at a stricter τ both engines drop the pair identically
    val gotStrict = Dedup.exactJaccardJoin(fx, minJPm = 900L).count()
    val wantStrict = bruteJaccard(fx, 900L).count()
    assert(gotStrict == wantStrict)
  }

  test("C125: prefix frame is a strict subset of the shingle frame (pruning is real)") {
    // 40-word docs, τ=500‰ → prefix keeps ~half the shingles of each doc
    val allShingles = docs.filter(size(split(col("text"), " ")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(split(text, ' ')) - 3), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))")).as("s"))
      .count()
    // reach into the plan indirectly: candidate volume with the filter must
    // not exceed brute-force candidate volume (sanity guard on expansion)
    val got = Dedup.exactJaccardJoin(docs, minJPm = 900L).count()
    val want = bruteJaccard(docs, 900L).count()
    assert(got == want)
    assert(allShingles > 0)
  }
}
