package graft.operators

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps._
import graft.functions.TextFunctions.ngramHashes

/**
 * §2C dedup family — exact, MinHash+LSH, SimHash, n-gram Jaccard.
 *
 * Scale design (100 TB): every candidate-generation step is a key-equality
 * join on a hash bucket (shuffle on (band, signature)), never an all-pairs
 * comparison; mega-buckets (degenerate shingle sets, boilerplate docs) are
 * dropped by `bucketCap` before the join so one hot key cannot OOM an
 * executor. Exact similarity is computed only on surviving candidates.
 *
 * Performance: signatures are computed by EXPLODE → hash-once →
 * codegen'd hash-aggregate (numPerm `min` / 64 `sum` buffers), not by
 * per-row higher-order-function lambdas — HOFs (`transform`/`aggregate`)
 * are interpreted in Spark and re-hashing every shingle string numPerm
 * times made signatures ~50× slower. Each shingle/token string is hashed
 * to 64 bits exactly once; permutations re-hash the cheap long. Map-side
 * partial aggregation compresses the shuffle to |docs|×numPerm longs.
 */
object Dedup {

  /** C1: exact dedup — group by full-content hash, keep the smallest id as
    * canonical. One shuffle on the content hash; at 100 TB the hash is
    * computed map-side so only (hash, id) pairs move. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** C2: MinHash + LSH near-duplicate pairs.
    *
    * shingle-hash array (codegen'd NgramHashes) → PER-ROW MinHash
    * signature ([[graft.functions.MinHashSignature]]: numPerm mins in one
    * scan-speed loop — the r2 shape exploded every shingle and shuffled
    * them into numPerm min-aggregates, dragging `collect_set(h)` shingle
    * sets through the shuffle) → `bands` band-hashes → explode (4
    * rows/doc, not |shingles| rows/doc) → self-join per (band, hash)
    * bucket → exact-Jaccard verify ≥ threshold over the hashed shingle
    * sets, which never leave their source rows until the candidate join.
    * Band-hash values are bit-identical to the aggregate form they
    * replaced (same seed-42 xxhash64 chain), so results are unchanged. */
  def minhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   ngram: Int = 3, numPerm: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, bucketCap: Int = 100): DataFrame = {
    val rowsPerBand = numPerm / bands
    val sig = docs.select(col(idCol).as("id"),
        array_distinct(ngramHashes(tokens(col(textCol)), ngram)).as("hs"))
      .withColumn("sig",
        graft.functions.SignatureFunctions.minhashSignature(col("hs"), numPerm))

    val bandCols = (0 until bands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand).map(p => col("sig")(p))
      xxhash64(slice :+ lit(b): _*)
    }
    val exploded = sig.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
    val pairs = lshBucketPairs(exploded, "band_idx", "band_hash", bucketCap)

    val sets = sig.select(col("id"), col("hs"))
    pairs.join(sets.select(col("id").as("doc_a"), col("hs").as("sh_a")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("hs").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs from an exploded (id, bucketIdx, bucketHash) frame:
    * skew-guarded bucket self-join, each unordered pair emitted once.
    * Bucket sizes come from a window count (one shuffle, single pass over
    * `exploded`) rather than a self-join-with-aggregate; the follow-up
    * self-join reuses that (idx, hash) partitioning. */
  private[operators] def lshBucketPairs(exploded: DataFrame, idxCol: String, hashCol: String,
                                        bucketCap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idxCol, hashCol)
    val sized = exploded
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n").between(2, bucketCap))
      .drop("bucket_n")
    val a = sized.select(col(idxCol).as("i"), col(hashCol).as("h"), col("id").as("doc_a"))
    val b = sized.select(col(idxCol).as("i"), col(hashCol).as("h"), col("id").as("doc_b"))
    a.join(b, Seq("i", "h")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** 64-bit SimHash per document (frequency-weighted bit votes over the
    * token multiset): ONE per-row codegen'd loop
    * ([[graft.functions.SimHash64]], same seed-42 per-token hash) — the
    * r2 shape exploded every token and shuffled them into 64 vote
    * aggregates; the signature is a pure per-document function, so it now
    * computes at scan speed with zero shuffle. */
  def simhashSignatures(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.SignatureFunctions.simhash64(tokens(col(textCol))).as("simhash"))

  /** C3: SimHash near-duplicate pairs — 4 bands of 16 bits generate
    * candidates (a near-dup within `maxDist` bit flips must agree on at
    * least one band when maxDist < 4); verify by Hamming distance. */
  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   maxDist: Int = 3, bucketCap: Int = 1000): DataFrame = {
    val sigs = simhashSignatures(docs, textCol, idCol)
    val bandCols = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val exploded = sigs.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
    val pairs = lshBucketPairs(exploded, "band_idx", "band_hash", bucketCap)
    val sa = sigs.select(col("id").as("doc_a"), col("simhash").as("sim_a"))
    val sb = sigs.select(col("id").as("doc_b"), col("simhash").as("sim_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  // --- portable (cross-engine-verifiable) MinHash ----------------------

  /** splitmix64 finalizer — deterministic driver-side constants. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-permutation (multiplier, addend): positive 31-bit, odd multiplier
    * — with a 31-bit base hash the affine form stays under 2^62, so the
    * arithmetic is overflow-free on BOTH engines (Spark 4 ANSI mode throws
    * on long overflow; DuckDB BIGINT has no wraparound). Shared with the
    * DuckDB oracle so both engines compute identical signatures. */
  private[graft] def permConstants(numPerm: Int): Seq[(Long, Long)] =
    (0 until numPerm).map(p =>
      ((mix(p.toLong) & 0x7FFFFFFFL) | 1L, mix(p.toLong + 1000L) & 0x7FFFFFFFL))

  /** C2 (portable twin): the SAME MinHash+LSH algorithm with every hash
    * chosen for cross-engine reproducibility, so DuckDB can replay the
    * ENTIRE pipeline — shingling, signatures, banding, bucket join, exact
    * verify — and the oracle checks the algorithm end-to-end (q31 keeps
    * the fast XXH64/NgramHashes kernel, rows-only):
    *  - shingle strings via a window lead (codegen'd, no HOF);
    *  - base hash = low 31 bits of md5's top 60 bits (portable, unlike
    *    xxhash64; 31 bits keeps every product overflow-free below);
    *  - permutation p: h*C_p + D_p with 31-bit constants — stays < 2^62,
    *    identical plain integer arithmetic on both engines;
    *  - band key = the 4 min values joined as a string (no re-hash). */
  def minhashPairsPortable(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                           numPerm: Int = 64, bands: Int = 16,
                           threshold: Double = 0.7, bucketCap: Int = 100): DataFrame = {
    val sig = portableSignatures(docs, textCol, idCol, numPerm)
    val exploded = portableBands(sig, numPerm, bands)
    val pairs = lshBucketPairs(exploded, "band_idx", "band_key", bucketCap)

    val sets = sig.select(col("id"), col("hs"))
    pairs.join(sets.select(col("id").as("doc_a"), col("hs").as("sh_a")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("hs").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (id, hs, ms): distinct portable shingle hashes + affine MinHash
    * signature, both per-row codegen'd kernels (value-identical to the
    * explode → window → distinct → md5 → min-aggregate pipeline they
    * replaced; the DuckDB oracle replay is untouched). The <n-token
    * fallback hashes the RAW text, exactly like the r2 shape. */
  private[operators] def portableSignatures(docs: DataFrame, textCol: String, idCol: String,
                                            numPerm: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    docs.select(col(idCol).as("id"),
        when(size(toks) < 3,
            array(conv(substring(md5(col(textCol)), 1, 15), 16, 10).cast("long")
              .bitwiseAND(lit(0x7FFFFFFFL))))
          .otherwise(graft.functions.SignatureFunctions.portableShingleHashes(toks, 3))
          .as("hs"))
      .withColumn("ms",
        graft.functions.SignatureFunctions.affineMinHash(col("hs"), permConstants(numPerm)))
  }

  /** (id, band_idx, band_key): LSH band keys off a signature frame. */
  private[operators] def portableBands(sig: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    val bandCols = (0 until bands).map { b =>
      concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand).map(p => col("ms")(p)): _*)
    }
    sig.select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_key")))
  }

  /** C27: INCREMENTAL near-dup — the operational form at 100 TB. A full
    * corpus self-dedup is a one-time batch; day-to-day ingestion must
    * dedupe a NEW slice against everything already accepted WITHOUT
    * re-scanning the corpus. The corpus's band keys and shingle sets are
    * computed once and PERSISTED ([[bandIndex]] — at scale, parquet
    * bucketed by band_key); ingesting then signs only the new docs,
    * equi-joins their bands against the index (skew-capped on the index
    * side), and exact-Jaccard-verifies the candidates. Cost per ingest:
    * sign(new) + bucket join — independent of corpus scan cost. */
  def incrementalNearDup(newDocs: DataFrame, indexBands: DataFrame, indexSets: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         numPerm: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7, bucketCap: Int = 100): DataFrame = {
    val sig = portableSignatures(newDocs, textCol, idCol, numPerm)
    val newBands = portableBands(sig, numPerm, bands)
    // skew guard on the INDEX side: a band bucket holding > bucketCap
    // corpus docs is a degenerate shingle pattern, not a dup cluster.
    // (At scale, precompute this per-bucket count INTO the persisted
    // index so the probe pays no window pass over it.)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_key")
    val capped = indexBands.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= bucketCap).drop("__n")
    val cand = newBands
      .join(capped.select(col("id").as("corpus_id"), col("band_idx"), col("band_key")),
            Seq("band_idx", "band_key"))
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id").as("new_id"), col("corpus_id")).distinct()
    cand
      .join(sig.select(col("id").as("new_id"), col("hs").as("sh_new")), "new_id")
      .join(indexSets.select(col("id").as("corpus_id"), col("hs").as("sh_old")), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        jaccard(col("sh_new"), col("sh_old")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Build the persistable band index for [[incrementalNearDup]]:
    * (bands frame (id, band_idx, band_key), sets frame (id, hs)). */
  def bandIndex(corpus: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                numPerm: Int = 64, bands: Int = 16): (DataFrame, DataFrame) = {
    val sig = portableSignatures(corpus, textCol, idCol, numPerm)
    (portableBands(sig, numPerm, bands), sig.select(col("id"), col("hs")))
  }

  /** Portable 31-bit token hash: low 31 bits of md5's top 60 (any engine
    * can recompute it; all downstream arithmetic stays overflow-free). */
  private[graft] def portableHash31(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long").bitwiseAND(lit(0x7FFFFFFFL))

  /** C3 (portable twin): SimHash over a 32-bit signature with the portable
    * token hash — DuckDB replays votes → sign bits → 8-bit bands → bucket
    * join → Hamming verify (`xor` + `bit_count` exist in both engines).
    * Same explode → codegen'd sum-aggregate shape as the fast simhash. */
  def simhashPairsPortable(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                           maxDist: Int = 3, bucketCap: Int = 1000): DataFrame = {
    // One per-row codegen'd loop (value-identical to the r2
    // dictionary-join + 32 vote aggregates): the signature never shuffles.
    val sigs = docs.select(col(idCol).as("id"),
      graft.functions.SignatureFunctions.portableSimhash32(tokens(col(textCol))).as("simhash"))
    val bandCols = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 8).bitwiseAND(lit(0xFFL)))
    val exploded = sigs.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
    val pairs = lshBucketPairs(exploded, "band_idx", "band_hash", bucketCap)
    val sa = sigs.select(col("id").as("doc_a"), col("simhash").as("sim_a"))
    val sb = sigs.select(col("id").as("doc_b"), col("simhash").as("sim_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** C26: near-dup CLUSTER resolution — connected components over
    * candidate pairs, the dedup endgame: pair lists say who matches whom,
    * but keeping one canonical doc per duplicate GROUP needs the
    * transitive closure (a~b, b~c → one cluster {a,b,c}, keep min id).
    *
    * Runs the one connected-components kernel ([[Graph.hookAndJump]]
    * under [[Graph.settled]], the round [[Graph.components]] runs) to its
    * fixed point: each round is a neighbor-min join and aggregate plus a
    * pointer hop, so a label's reach at least doubles per round and a
    * chain of n ids in order closes in about log2(n) rounds. Ids need only
    * an ordering (strings work). `localCheckpoint` truncates lineage each
    * round, and the driver reads one `isEmpty` per round; labels never
    * collect. A pair set that needs more than `maxIter` rounds fails
    * loudly rather than returning partial clusters.
    * Output: (doc_id, cluster_id = min doc id in the component) for every
    * doc that appears in some pair. */
  def resolveClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
                      maxIter: Int = 20): DataFrame = {
    // symmetrized in ONE pass: the pair generators feeding this
    // (ngramJaccardPairs' inverted-index self-join behind q74/q174) are
    // the expensive half of the whole query
    val und = Graph.symmetrize(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
      .distinct().cut()
    val failure = s"cluster resolution did not converge in $maxIter rounds"
    Lineage.converge(Graph.selfLabels(und), maxIter, failure)(Graph.hookAndJump(und))(Graph.settled)
      .select(col("node").as("doc_id"), col("l").as("cluster_id"))
  }

  /** C24: eval-set CONTAMINATION check — for each eval document, how many
    * of its distinct n-gram shingles appear ANYWHERE in the training
    * corpus (the standard pre-release benchmark-leakage test for training
    * data). Cross-corpus by construction: eval shingles semi-join the
    * corpus's distinct shingle-hash set, so the shuffle carries (id, hash)
    * pairs only — never documents — and the corpus side dedupes before
    * the join. 8-gram default mirrors common decontamination practice.
    * Hashes are the portable md5 kernel, so the q70 oracle replays the
    * entire check exactly. */
  def contamination(evalDocs: DataFrame, corpus: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.SignatureFunctions.portableShingleHashes
    def shingles(df: DataFrame, as: String): DataFrame = df.select(
      col(idCol).as(as),
      explode(portableShingleHashes(split(col(textCol), " "), n)).as("h"))
    val corpusH = shingles(corpus, "c_id").select("h").distinct()
    val hits = shingles(evalDocs, "eval_id")
      .join(corpusH, Seq("h"), "left_semi")
      .groupBy("eval_id").agg(count(lit(1)).as("n_hit_shingles"))
    evalDocs
      .select(col(idCol).as("eval_id"),
        size(portableShingleHashes(split(col(textCol), " "), n)).cast("long").as("n_shingles"))
      .join(hits, Seq("eval_id"), "left_outer")
      .na.fill(0L, Seq("n_hit_shingles"))
      .withColumn("contaminated", col("n_hit_shingles") > 0)
      .withColumn("contamination_ratio",
        col("n_hit_shingles").cast("double") / col("n_shingles"))
  }

  /** C80: SURGICAL decontamination — the REMOVAL action on C24's report
    * (modern pipelines cut the matching SPANS instead of dropping whole
    * documents — dropping loses the doc's clean 99%, keeping it leaks the
    * benchmark): every training-corpus position whose n-token shingle
    * appears ANYWHERE in the eval set starts a contaminated span; a token
    * is removed iff some contaminated start within the previous n−1
    * positions of its document covers it; documents rebuild from the
    * survivors (the C63 coverage-window machinery pointed at an external
    * reference set instead of the corpus's own duplicates).
    *
    * Scale: eval shingle hashes collapse to a DISTINCT hash set (eval
    * sets are corpus-tiny — AQE broadcasts the semi join); contaminated
    * starts are output-proportional; coverage is the per-document window;
    * rebuild is the line-dedup family's output-proportional reassembly.
    *
    * Output: (doc_id, n_tokens, n_kept, kept_ratio, clean_text). */
  def removeContaminatedSpans(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
                              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.SignatureFunctions.{allShingleHashes, portableShingleHashes}
    val evalH = evalDocs.select(
        explode(portableShingleHashes(split(col(textCol), " "), n)).as("h"))
      .distinct()
    val toks = docs.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .withColumn("hs", allShingleHashes(col("t"), n))
    val starts = toks.select(col("id"), posexplode(col("hs")).as(Seq("pos", "h")))
      .join(evalH, Seq("h"), "left_semi")
      .select(col("id"), col("pos"), lit(1).as("is_start"))
    val tokens = toks.select(col("id"), posexplode(col("t")).as(Seq("idx", "line")))
    val wCov = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("idx").cast("long"))
      .rangeBetween(-(n - 1).toLong, 0L)
    val flagged = tokens
      .join(starts.withColumnRenamed("pos", "idx"), Seq("id", "idx"), "left_outer")
      .withColumn("covered", max(coalesce(col("is_start"), lit(0))).over(wCov))
    val kept = flagged.filter(col("covered") === 0).select("id", "idx", "line")
    rebuildDocs(tokens, kept, idCol)
      .withColumnRenamed("n_lines", "n_tokens")
  }

  /** C54: MinHash ESTIMATOR accuracy evaluation — the index-quality gate
    * for the dedup stack, as ANN recall (C40) is for the vector stack:
    * for every LSH candidate pair, the signature-agreement estimate
    * (matching positions / numPerm — the statistic MinHash dedup
    * thresholds on at scale, where shingle sets are too big to carry)
    * next to the EXACT Jaccard and the absolute error. Run on a sample
    * before trusting a numPerm/bands configuration on the full corpus.
    *
    * Positionwise agreement is a FLAT 64-term codegen'd sum — numPerm is
    * a compile-time constant, so the comparison unrolls into per-row
    * `element_at` arithmetic: one row per candidate pair, no generator,
    * no re-aggregation (an explode+groupBy formulation fanned every pair
    * 64x AND let CollapseProject re-inline the set-Jaccard into the
    * exploded projection — 8x this operator's bench time). Everything is
    * ONE projection, so codegen's subexpression elimination computes the
    * agreement sum and the Jaccard once each. */
  def minhashAccuracy(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      numPerm: Int = 64, bands: Int = 16, bucketCap: Int = 100): DataFrame = {
    val sig = portableSignatures(docs, textCol, idCol, numPerm)
    val pairs = lshBucketPairs(portableBands(sig, numPerm, bands),
      "band_idx", "band_key", bucketCap)
    val agree = (1 to numPerm).map(p =>
      (element_at(col("ms_a"), p) === element_at(col("ms_b"), p)).cast("long"))
      .reduce(_ + _)
    val est = agree.cast("double") / numPerm
    val exact = graft.operators.TextOps.jaccard(col("sh_a"), col("sh_b"))
    pairs
      .join(sig.select(col("id").as("doc_a"), col("hs").as("sh_a"), col("ms").as("ms_a")), "doc_a")
      .join(sig.select(col("id").as("doc_b"), col("hs").as("sh_b"), col("ms").as("ms_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"),
        est.as("est_jaccard"), exact.as("exact_jaccard"),
        abs(est - exact).as("abs_err"))
  }

  /** C52: cross-SOURCE overlap matrix — the dataset-curation question
    * "how much of slice A is already in slice B" (e.g. a web crawl vs a
    * curated set), answered with distinct-shingle set arithmetic per
    * source pair: common shingles, Jaccard, and containment
    * (common / min-side — the directional "is one inside the other"
    * signal Jaccard hides when sizes differ). Pairs with zero common
    * shingles are omitted (the join is the sparsity filter).
    *
    * Scale (100 TB): text reduces to distinct (source, shingle-hash)
    * pairs at scan speed (the portable per-row kernel); the self-join on
    * the hash fans out per shingle by the number of SOURCES sharing it —
    * bounded by the (small, bounded) source count, never by document
    * multiplicity, because the distinct collapses first. Everything
    * shuffled is (source, hash). */
  def sourceOverlap(docs: DataFrame, n: Int = 8, groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    import graft.functions.SignatureFunctions.portableShingleHashes
    val sh = docs.select(col(groupCol).as("g"),
        explode(portableShingleHashes(split(col(textCol), " "), n)).as("h"))
      .distinct()
    val sizes = sh.groupBy("g").agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("g").as("src_a"), col("h"))
      .join(sh.select(col("g").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("g").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("g").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"),
        (col("n_common").cast("double") / least(col("n_a"), col("n_b"))).as("containment"))
  }

  /** C37: EDIT-DISTANCE near-dup pairs — the character-level verify for
    * pairs n-gram methods blur (small in-place edits keep Levenshtein tiny
    * while shredding shingle sets). This operator is EXACT, not heuristic:
    * levenshtein(a, b) ≥ |len(a) − len(b)|, so every pair within `maxDist`
    * lives in the same or adjacent length band when the band width is ≥
    * maxDist — the banded equi-join is a complete candidate set, and the
    * bounded-threshold Levenshtein kernel (Spark's built-in third
    * argument: the DP row aborts once the running minimum exceeds the
    * bound) verifies candidates in O(maxDist · len) instead of O(len²).
    *
    * Scale (100 TB): candidates shuffle on (band) with ids + text of
    * band-sized groups only; degenerate bands (a corpus spammed with
    * equal-length boilerplate — constant-width log lines are the classic
    * case) would go quadratic, so the same skew guard the MinHash bucket
    * join applies is ON BY DEFAULT here: a length band holding more than
    * `bandCap` docs is dropped whole before the join (recall loss only
    * inside pathological bands — raise or pass Int.MaxValue to opt out,
    * the exactness contract then holds corpus-wide). Truncation is NEVER
    * silent: run [[editDistanceDroppedBands]] with the same arguments to
    * get the exact bands/doc counts the cap excluded — a pipeline that
    * caps should gate on that audit frame being empty (or log it), the
    * way the expectations gate consumes its violation counts. Emitted
    * pairs carry the exact distance. */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 16,
                        idCol: String = "doc_id", textCol: String = "text",
                        bandCap: Int = 10000): DataFrame = {
    import graft.functions.TextFunctions.{charHistogram, l1Distance}
    val w = maxDist // band width ≥ maxDist ⇒ |Δlen| ≤ maxDist spans ≤ 1 band boundary
    // 28-bin char histogram computed ONCE per doc at scan time: the
    // Levenshtein lower bound lev >= ceil(L1/2) (one edit moves at most
    // two bins by one) kills the overwhelming majority of band-candidate
    // pairs on a 28-int comparison instead of the O(maxDist·len) DP —
    // measured 25 s → ~2 s for q88 at sf0.1. Complete: a lower bound
    // never discards a true pair, so results are bit-identical and the
    // one-phase oracle replay is unchanged.
    val banded = docs.select(col(idCol).as("id"), col(textCol).as("txt"),
      floor(length(col(textCol)) / w).as("band"),
      charHistogram(col(textCol)).as("hist"))
    // skew guard: band population via a window on the SAME key the join
    // shuffles on (one exchange, reused); oversized bands exit the plan
    val bw = org.apache.spark.sql.expressions.Window.partitionBy("band")
    val t = banded.withColumn("__n", count(lit(1)).over(bw))
      .filter(col("__n") <= bandCap).drop("__n")
    val a = t.select(col("band"), col("id").as("doc_a"), col("txt").as("ta"),
      col("hist").as("ha"))
    val bSide = t.select(col("band"), col("id").as("doc_b"), col("txt").as("tb"),
      col("hist").as("hb"))
    // same band + next band: with doc_a < doc_b on the same band and the
    // one-directional (band, band+1) join, each unordered pair appears once
    val sameBand = a.join(bSide, Seq("band")).filter(col("doc_a") < col("doc_b"))
    val nextBand = a.withColumn("band", col("band") + 1).join(bSide, Seq("band"))
    sameBand.unionByName(nextBand)
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .filter(l1Distance(col("ha"), col("hb")) <= 2L * maxDist)
      // adjacent-band pairs arrive in band order, not id order — normalize
      // so every unordered pair is emitted exactly once as (min, max)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist").between(0, maxDist))
  }

  /** Audit companion of [[editDistancePairs]]: the length bands its
    * `bandCap` skew guard would DROP, one row per excluded band with its
    * population and length range — so capped recall loss is observable,
    * never inferred from silence. Empty ⇔ the pair set is exact. */
  def editDistanceDroppedBands(docs: DataFrame, maxDist: Int = 16,
                               textCol: String = "text",
                               bandCap: Int = 10000): DataFrame =
    docs.select(floor(length(col(textCol)) / maxDist).as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > bandCap)
      .select(col("band"), col("n_docs"),
        (col("band") * maxDist).as("min_len"),
        ((col("band") + 1) * maxDist - 1).as("max_len"))

  /** C47: QUALITY-aware canonical selection — the dedup endgame done
    * right: within each near-dup cluster keep the copy a QUALITY signal
    * ranks best (highest score, doc id breaking ties), not an arbitrary
    * min-id — dedup should discard the truncated/boilerplated copies and
    * keep the clean one. `clusters` is [[resolveClusters]] output
    * (doc_id, cluster_id); `quality` maps doc_id → an integral score
    * (integer so ranking is exact cross-engine).
    *
    * Scale: one equi-join on doc_id + one window partitioned by
    * cluster_id (partition size = cluster size, the same bound cluster
    * resolution already assumes). */
  def canonicalByQuality(clusters: DataFrame, quality: DataFrame,
                         idCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(scoreCol).desc, col(idCol).asc)
    clusters.join(quality.select(col(idCol), col(scoreCol)), idCol)
      .withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("cluster_id"), col(scoreCol),
        (col("__rn") === 1).as("kept"))
  }

  /** C36: DUPLICATED-SPAN coverage — the span-level signal behind exact
    * substring dedup: an n-gram that occurs in MORE THAN ONE document is a
    * duplicated span, and a document's dup coverage is the fraction of its
    * n-gram positions covered by such spans (boilerplate headers, license
    * blocks, and templated text light up here long before whole-document
    * dedup fires). Positions are multiplicity-preserving — a doc that
    * repeats a cross-doc span 10 times has 10 covered positions.
    *
    * Scale (100 TB): one explode; the only shuffles carry (hash) and
    * (id, hash) pairs — document text never leaves its scan partition.
    * Doc-frequency is a distinct-count per hash (map-side partial), and
    * the per-doc roll-up is a semi join against the duplicated-hash set
    * (Zipf-small relative to the corpus). Portable md5 hashes, so the
    * oracle replays every count exactly. */
  def duplicatedSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.SignatureFunctions.portableShingleHashes
    val ex = docs.select(col(idCol).as("id"),
      explode(portableShingleHashes(split(col(textCol), " "), n)).as("h"))
    val dupHashes = ex.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs).select("h")
    val tot = ex.groupBy("id").agg(count(lit(1)).as("n_ngrams"))
    val dup = ex.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_ngrams"))
    tot.join(dup, Seq("id"), "left_outer")
      .na.fill(0L, Seq("n_dup_ngrams"))
      .select(col("id").as(idCol), col("n_ngrams"), col("n_dup_ngrams"),
        (col("n_dup_ngrams").cast("double") / col("n_ngrams")).as("dup_coverage"))
  }

  /** C63: exact duplicated-SPAN REMOVAL — the action completing C36/C62's
    * profiles (the ExactSubstr recipe of suffix-array corpus dedup: a
    * token span that recurs anywhere in the corpus is cut from every
    * occurrence EXCEPT one canonical copy; the published treatment keeps
    * one occurrence per duplicate, Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better").
    *
    * Contract (deterministic, engine-replayable):
    *  - a START is a position whose n-token shingle (portable 31-bit
    *    hash, [[graft.functions.SignatureFunctions.allShingleHashes]] —
    *    short docs hash their whole text) occurs >1 time in the corpus;
    *  - the CANONICAL start of each shingle group is its minimal
    *    (doc_id, pos); every other occurrence is REDUNDANT;
    *  - a token is REMOVED iff some redundant start within the previous
    *    n-1 positions of ITS document covers it; the document is rebuilt
    *    from surviving tokens in order.
    *  Overlapping spans cut greedily — a canonical copy overlapped by a
    *  DIFFERENT redundant span can still lose tokens; that's inherent to
    *  greedy span removal and identical in any replaying engine.
    *
    * Scale design: the only corpus-wide shuffle is the shingle-hash
    * groupBy (map-side partial min/count); redundant starts are
    * Zipf-small (duplicated boilerplate), so the start flag join
    * broadcasts under AQE. Coverage is a per-document window over token
    * positions (rangeBetween −(n−1)..0 — partition size = one document),
    * and reassembly is the same output-proportional sort_array rebuild
    * as the line-dedup family. No pairwise construct anywhere: cost is
    * O(tokens) + O(redundant starts).
    *
    * Output: (doc_id, n_tokens, n_kept, kept_ratio, clean_text);
    * clean_text is NULL when every token was covered. */
  def removeDuplicateSpans(docs: DataFrame, n: Int = 8,
                           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.SignatureFunctions.allShingleHashes
    val toks = docs.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .withColumn("hs", allShingleHashes(col("t"), n))
    val starts = toks.select(col("id"), posexplode(col("hs")).as(Seq("pos", "h")))
    // composite (doc, pos) key makes min() the lexicographic canonical;
    // positions are < 1e9 by construction (a single document's tokens)
    val ck = col("id") * lit(1000000000L) + col("pos")
    val canon = starts.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(ck).as("ck"))
      .filter(col("cnt") >= 2).select("h", "ck")
    val redundant = starts.join(canon, "h")
      .filter(ck =!= col("ck")).select(col("id"), col("pos"), lit(1).as("is_start"))
    val tokens = toks.select(col("id"), posexplode(col("t")).as(Seq("idx", "line")))
    val wCov = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("idx").cast("long"))
      .rangeBetween(-(n - 1).toLong, 0L)
    val flagged = tokens
      .join(redundant.withColumnRenamed("pos", "idx"), Seq("id", "idx"), "left_outer")
      .withColumn("covered", max(coalesce(col("is_start"), lit(0))).over(wCov))
    val kept = flagged.filter(col("covered") === 0).select("id", "idx", "line")
    rebuildDocs(tokens, kept, idCol)
      .withColumnRenamed("n_lines", "n_tokens")
  }

  /** C39: cross-document LINE dedup (boilerplate removal, the CCNet /
    * RefinedWeb preprocessing shape): a line whose text occurs in >=
    * `minDocs` DISTINCT documents is boilerplate (headers, footers,
    * license blocks, nav chrome); every occurrence is dropped and each
    * document is rebuilt from its surviving lines in original order.
    *
    * Input is an already-segmented (id, idx, line) frame — line splitting
    * is corpus policy (`split(text, '\n')`, sentence breaks, fixed token
    * windows), not this operator's concern.
    *
    * Scale design: the boilerplate decision shuffles only (line-hash, id)
    * pairs (distinct, then a count >= minDocs filter); line TEXT stays in
    * its scan rows until the anti-join prune, and the only wide shuffle of
    * text is the final groupBy(id) reassembly — output-proportional, the
    * cost of writing the cleaned corpus at all. The dup-hash side of the
    * anti join holds only lines seen in >= minDocs documents (Zipf-small:
    * boilerplate is by definition a tiny distinct set) — AQE broadcasts
    * it. Reassembly sorts each doc's surviving (idx, line) structs with
    * `sort_array` and projects the `line` field (GetArrayStructFields —
    * codegen'd, not an interpreted lambda).
    *
    * Output: (id, n_lines, n_kept, kept_ratio, clean_text); `clean_text`
    * is NULL when every line was boilerplate. */
  def lineDedup(lines: DataFrame, minDocs: Int = 2, idCol: String = "doc_id",
                idxCol: String = "line_idx", lineCol: String = "line"): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would delete every line")
    val ex = lines.select(col(idCol).as("id"), col(idxCol).cast("long").as("idx"),
        col(lineCol).as("line"))
      .withColumn("h", md5(col("line")))
    val dupHashes = ex.select("h", "id").distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs).select("h")
    val kept = ex.join(dupHashes, Seq("h"), "left_anti")
    rebuildDocs(ex, kept, idCol)
  }

  /** C42: WITHIN-document line dedup — the intra-doc counterpart of
    * [[lineDedup]] (real pipelines run both: cross-doc boilerplate
    * removal AND dropping lines a single document repeats — navigation
    * chrome, spammy keyword stuffing, copy-paste artifacts). Keeps the
    * FIRST occurrence of each distinct line per document, preserves
    * order, reports the repeat fraction.
    *
    * Scale: one window over (id, line-hash) — per-partition cardinality
    * is one document's copies of one line, bounded by document size; no
    * cross-document shuffle at all except the per-doc rebuild. */
  def dedupLinesWithinDoc(lines: DataFrame, idCol: String = "doc_id",
                          idxCol: String = "line_idx", lineCol: String = "line"): DataFrame = {
    val ex = lines.select(col(idCol).as("id"), col(idxCol).cast("long").as("idx"),
        col(lineCol).as("line"))
      .withColumn("h", md5(col("line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "h").orderBy(col("idx").asc)
    val kept = ex.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    rebuildDocs(ex, kept, idCol)
  }

  /** C67: per-DOMAIN boilerplate line removal — the RELATIVE-threshold
    * member of the line-dedup family (RefinedWeb / Dolma preprocessing:
    * a line occurring in >= `ratioPct`% of the documents of ITS OWN
    * domain is site chrome — nav bars, footers, cookie banners — and is
    * stripped from every document of that domain). Differs from
    * [[lineDedup]] (C39) on both axes that matter in production: the
    * decision is per-GROUP (a phrase ubiquitous on one site but rare
    * elsewhere is removed only there), and the threshold is a FRACTION
    * of the group's size, not an absolute count — so it auto-scales from
    * 10-doc domains to 10M-doc domains. `minDocs` floors the rule for
    * tiny domains (2 docs ⇒ any shared line is 100%).
    *
    * `domains` is one (id, domain) row per document — the corpus'
    * dimension frame, aggregated to per-domain totals (one tiny frame,
    * broadcast by AQE).
    *
    * Scale design: identical shuffle shape to [[lineDedup]] — the
    * boilerplate decision moves only (domain, line-hash, id) distinct
    * triples; the verdict frame holds only lines over the threshold
    * (Zipf-small) and broadcasts into the anti join; the single wide
    * shuffle of line TEXT is the output-proportional reassembly. */
  def domainBoilerplate(lines: DataFrame, domains: DataFrame, ratioPct: Int = 50,
                        minDocs: Int = 2, idCol: String = "doc_id",
                        idxCol: String = "line_idx", lineCol: String = "line",
                        domainCol: String = "source"): DataFrame = {
    require(ratioPct > 0 && ratioPct <= 100, "ratioPct is a percentage of the domain's docs")
    require(minDocs >= 2, "minDocs < 2 would let a unique line delete itself")
    val dom = domains.select(col(idCol).as("id"), col(domainCol).as("g"))
    val ex = lines.select(col(idCol).as("id"), col(idxCol).cast("long").as("idx"),
        col(lineCol).as("line"))
      .withColumn("h", md5(col("line")))
      .join(dom, Seq("id"))
    val gTotals = dom.groupBy("g").agg(count(lit(1)).as("gdocs"))
    val boiler = ex.select("g", "h", "id").distinct()
      .groupBy("g", "h").agg(count(lit(1)).as("ndocs"))
      .join(gTotals, Seq("g"))
      .filter(col("ndocs") >= minDocs &&
        col("ndocs") * 100 >= col("gdocs") * ratioPct)
      .select("g", "h")
    val kept = ex.join(boiler, Seq("g", "h"), "left_anti")
    rebuildDocs(ex.select("id", "idx", "line"), kept, idCol)
  }

  /** Shared doc-rebuild tail for the line-dedup family: total lines vs
    * surviving lines, order-preserving reassembly (sort_array over
    * (idx, line) structs + GetArrayStructFields — codegen'd, no lambda),
    * NULL clean_text when nothing survives. */
  private def rebuildDocs(all: DataFrame, kept: DataFrame, idAs: String): DataFrame = {
    val tot = all.groupBy("id").agg(count(lit(1)).as("n_lines"))
    val reb = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        sort_array(collect_list(struct(col("idx"), col("line")))).getField("line"))
        .as("clean_text"))
    tot.join(reb, Seq("id"), "left_outer")
      .select(col("id").as(idAs), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_lines")).as("kept_ratio"),
        col("clean_text"))
  }

  /** C4: exact n-gram Jaccard pairs within a candidate group (here: same
    * `source`). Computed as an inverted-index join — explode shingles,
    * self-join on (group, shingle-hash), count common shingles per pair,
    * then |A∩B| / (|A|+|B|−|A∩B|). Fully codegen'd joins + aggregates;
    * pairs sharing zero shingles never materialize (they cannot pass any
    * threshold > 0). At 100 TB candidate generation is LSH (minhashPairs);
    * this is the exact kernel for grouped corpora. */
  def ngramJaccardPairs(docs: DataFrame, groupCol: String, textCol: String = "text",
                        idCol: String = "doc_id", ngram: Int = 3,
                        threshold: Double = 0.3): DataFrame = {
    require(threshold > 0, "threshold must be > 0: zero-overlap pairs are never materialized")
    // LAZY persist: the exploded shingle frame feeds THREE consumers
    // (per-doc sizes + both sides of the inverted-index self-join) —
    // without the cache each branch re-runs tokenize + n-gram hashing
    // over the whole corpus (the q205/q220 lesson, same fix; q174's
    // r11-flagged regression was dominated by exactly this re-evaluation)
    val ex = docs.select(col(groupCol).as("g"), col(idCol).as("id"),
      explode(array_distinct(ngramHashes(tokens(col(textCol)), ngram))).as("h"))
      .persist()
    val sizes = ex.groupBy("g", "id").agg(count(lit(1)).as("n"))
    val a = ex.select(col("g"), col("h"), col("id").as("doc_a"))
    val b = ex.select(col("g"), col("h"), col("id").as("doc_b"))
    a.join(b, Seq("g", "h")).filter(col("doc_a") < col("doc_b"))
      .groupBy("g", "doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("g"), col("id").as("doc_a"), col("n").as("n_a")), Seq("g", "doc_a"))
      .join(sizes.select(col("g"), col("id").as("doc_b"), col("n").as("n_b")), Seq("g", "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** C75: CONTAINMENT pairs — the ASYMMETRIC member of the near-dup
    * family (Broder's containment coefficient C(A,B) = |A∩B| / |A|): a
    * short document living almost entirely INSIDE a longer one (wire
    * story inside an aggregator page, quoted excerpt, chapter inside a
    * collection) scores low symmetric Jaccard — the union is dominated
    * by the long side — and [[ngramJaccardPairs]] never flags it. Here a
    * pair is emitted when the SMALLER side's shingle set is ≥
    * `thresholdPct`% covered by the intersection, and the contained doc
    * is named: the smaller side (larger id on equal sizes — so the kept
    * canonical is min-(size, id), this module's usual tie-break).
    *
    * Threshold compare is exact integer arithmetic
    * (`common·100 ≥ pct·min(n_a,n_b)`) and the emitted containment is
    * ×10^6 fixed-point — engine-replayable bit-for-bit.
    *
    * Scale: identical inverted-index shape to [[ngramJaccardPairs]] —
    * distinct portable shingles explode once, pairs materialize only for
    * docs sharing ≥1 shingle within their group, id-only join rows until
    * the final size join. Zero-overlap pairs never exist; the group
    * bound (same `groupCol`) is the candidate cap, exactly as C4. */
  def containmentPairs(docs: DataFrame, groupCol: String, textCol: String = "text",
                       idCol: String = "doc_id", ngram: Int = 3,
                       thresholdPct: Int = 90): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      "thresholdPct must be in (0, 100]: zero-overlap pairs are never materialized")
    import graft.functions.SignatureFunctions.portableShingleHashes
    // LAZY persist: same 3-consumer shape as ngramJaccardPairs above
    val ex = docs.select(col(groupCol).as("g"), col(idCol).as("id"),
      explode(portableShingleHashes(TextOps.tokens(col(textCol)), ngram)).as("h"))
      .persist()
    val sizes = ex.groupBy("g", "id").agg(count(lit(1)).as("n"))
    val a = ex.select(col("g"), col("h"), col("id").as("doc_a"))
    val b = ex.select(col("g"), col("h"), col("id").as("doc_b"))
    a.join(b, Seq("g", "h")).filter(col("doc_a") < col("doc_b"))
      .groupBy("g", "doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("g"), col("id").as("doc_a"), col("n").as("n_a")), Seq("g", "doc_a"))
      .join(sizes.select(col("g"), col("id").as("doc_b"), col("n").as("n_b")), Seq("g", "doc_b"))
      .filter(col("common") * 100 >= least(col("n_a"), col("n_b")) * thresholdPct)
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"),
        expr("common * 1000000 div least(n_a, n_b)").as("containment_fp"),
        when(col("n_a") < col("n_b"), col("doc_a"))
          .when(col("n_b") < col("n_a"), col("doc_b"))
          .otherwise(col("doc_b")).as("contained_id"))
  }

  /** C91: LSH parameter AUTO-TUNING — pick (bands, rowsPerBand) for a
    * target Jaccard threshold instead of hand-guessing 16×4. The standard
    * S-curve analysis (Mining of Massive Datasets §3.4): under b bands of
    * r rows a pair of similarity s collides with P(s) = 1 − (1 − sʳ)ᵇ,
    * the curve's inflection sits near (1/b)^(1/r), and the best split of
    * a fixed signature budget minimizes the sum of the false-positive
    * area below the threshold (∫₀ᵗ P) and the false-negative area above
    * it (∫ₜ¹ (1−P)) — candidate pairs cost verify work, misses cost
    * recall, and the integrals ARE those expected costs for a uniform
    * similarity mix; callers with a known pair-similarity profile can
    * weight the two (`fpWeight`).
    *
    * Driver-side arithmetic over the ≤ numPerm divisor splits (Simpson
    * integration on a fixed grid — deterministic across platforms: plain
    * IEEE +/×, no transcendentals). Returns every evaluated split with
    * its curve numbers so the choice is auditable, best first. */
  final case class LshChoice(bands: Int, rowsPerBand: Int, inflection: Double,
                             fpArea: Double, fnArea: Double, cost: Double)

  def tuneLsh(numPerm: Int, threshold: Double, fpWeight: Double = 1.0): Seq[LshChoice] = {
    require(numPerm > 0 && threshold > 0 && threshold < 1 && fpWeight > 0)
    def collideP(s: Double, b: Int, r: Int): Double = {
      var sr = 1.0; var i = 0
      while (i < r) { sr *= s; i += 1 }
      1.0 - math.pow(1.0 - sr, b)
    }
    def simpson(lo: Double, hi: Double, f: Double => Double): Double = {
      val n = 256 // even; fixed grid keeps the choice platform-deterministic
      val h = (hi - lo) / n
      var acc = f(lo) + f(hi)
      var i = 1
      while (i < n) { acc += f(lo + i * h) * (if (i % 2 == 1) 4.0 else 2.0); i += 1 }
      acc * h / 3.0
    }
    val splits = (1 to numPerm).filter(numPerm % _ == 0)
    splits.map { r =>
      val b = numPerm / r
      val fp = simpson(0.0, threshold, s => collideP(s, b, r))
      val fn = simpson(threshold, 1.0, s => 1.0 - collideP(s, b, r))
      LshChoice(b, r, math.pow(1.0 / b, 1.0 / r), fp, fn, fpWeight * fp + fn)
    }.sortBy(c => (c.cost, c.rowsPerBand))
  }

  /** C125: EXACT set-similarity self-join with PREFIX FILTERING — the
    * exact-threshold complement of the MinHash family (C2 trades recall
    * for speed; this is the AllPairs/PPJoin shape of Bayardo et al. 2007
    * / Chaudhuri et al. 2006: EVERY pair with Jaccard ≥ τ, NO false
    * negatives, still never all-pairs). Sets are distinct `n`-token
    * shingle strings; similarity is the exact per-mille
    * `1000·|A∩B| div (|A|+|B|−|A∩B|)`.
    *
    * The filter: J(A,B) ≥ τ forces `|A∩B| ≥ ceil(τ·|A|)` and
    * `≥ ceil(τ·|B|)` (since |A∩B| ≤ min side). Order every set by GLOBAL
    * shingle frequency (rarest first, ties by value — a total order both
    * engines replay); with per-set required overlap α(n) = ceil(τ·n), any
    * qualifying pair must collide inside the first `n − α(n) + 1`
    * shingles of BOTH sets, so candidates are generated by an equi-join
    * on PREFIX shingles only. The length filter
    * `1000·min(|A|,|B|) ≥ τ_pm·max(|A|,|B|)` prunes further before
    * verification.
    *
    * Scale shape: shingle → global count (one agg; frequency join is
    * broadcastable when the vocab is, shuffle otherwise) → per-doc
    * rank window (partitioned by doc — no global sort; the "global"
    * order is the raw `(count, shingle)` key, never a dense rank) →
    * prefix equi-join on the RAREST shingles (candidate volume is
    * Σ C(prefix-freq, 2), tiny under rare-first ordering — the whole
    * point of the technique) → verify only candidates via one
    * co-partitioned intersection count. At 100 TB every step is a
    * key-equality shuffle; nothing is quadratic in the corpus.
    *
    * SKEW AUDIT (r10): the candidate join CAN still go quadratic on a
    * degenerate corpus where even the rarest prefix shingles are hot
    * (near-identical boilerplate documents). Unlike [[winnowingPairs]]
    * this operator's CONTRACT is the complete, exactly-thresholded pair
    * set — a frequency cap would silently break the no-false-negative
    * guarantee — so the right move at scale is to AUDIT before running:
    * [[graft.operators.Graph.wedgeCapLedger]] over the prefix frame
    * (`prefix.select(s as src, id as dst)`) prices the candidate volume
    * (`n_wedges_kept` at cap ∞ = exact candidate-pair count); a corpus
    * that prices quadratic should be exact-deduped (C1/C30) first —
    * boilerplate clones are what make it quadratic AND what C1 removes.
    *
    * @param minJPm Jaccard threshold in per-mille (e.g. 500 = 0.5).
    * @return (doc_a, doc_b, common, n_a, n_b, j_pm), doc_a < doc_b,
    *         j_pm ≥ minJPm — exactly the brute-force answer. */
  /** C140: WINNOWING fingerprints + shared-fingerprint pairs (Schleimer,
    * Wilkerson & Aiken SIGMOD 2003 — the MOSS algorithm): the
    * GUARANTEED-coverage local fingerprinting the single rolling hash
    * (C11) and fixed-stride shingles lack — selecting the minimum hash
    * in every window of `w` consecutive character-`k`-gram hashes
    * (ties to the RIGHTMOST position, the paper's rule) guarantees any
    * shared substring of length ≥ `k + w − 1` yields at least one
    * SHARED fingerprint, while keeping density ~2/(w+1). The
    * plagiarism/excerpt detector at character granularity.
    *
    * Determinism contract: unsigned xxhash64 gram hashes in
    * DECIMAL(38,0); the (hash, rightmost-pos) argmin is packed into one
    * decimal key `hu·2²⁰ + (2²⁰−1−pos)` so a plain MIN over a RANGE
    * frame selects it (documents are capped at 2²⁰ grams — beyond that,
    * split first; the require below enforces it implicitly through pos
    * arithmetic). Both engines replay the pipeline value-for-value.
    *
    * Scale shape: one gram explode (prefilterable by doc length), one
    * per-doc RANGE-frame window min (partitions = documents), distinct
    * selected fingerprints (~2N/w rows — the winnowing density bound),
    * then a fingerprint-equality self-join for pairs — bucketed by
    * hash value, never all-pairs.
    *
    * @return (doc_a, doc_b, shared) — documents sharing ≥ `minShared`
    *         selected fingerprints, doc_a < doc_b. */
  /** The selected winnowing fingerprints themselves — distinct values
    * per document (the persistable index rows D34's streaming ingest
    * appends and probes). */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 16,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 2 && w >= 2)
    val U64 = "18446744073709551616"
    val grams = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(length(col("text")) >= k + w - 1)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))"))
        .as(Seq("pos", "g")))
    val hashed = grams.select(col("id"), col("pos").cast("long").as("pos"),
      when(xxhash64(col("g")) < 0,
          xxhash64(col("g")).cast("decimal(38,0)") + expr(s"CAST($U64 AS DECIMAL(38,0))"))
        .otherwise(xxhash64(col("g")).cast("decimal(38,0)")).as("hu"))
    import org.apache.spark.sql.expressions.Window
    val keyed = hashed.withColumn("key",
      expr("hu * 1048576 + (1048575 - pos)"))
    keyed
      .withColumn("__max_pos", max("pos").over(Window.partitionBy("id")))
      .withColumn("sel", min("key").over(
        Window.partitionBy("id").orderBy(col("pos")).rangeBetween(0, w - 1)))
      .filter(col("pos") <= col("__max_pos") - (w - 1)) // full windows only
      // shared counts DISTINCT fingerprint values (one value may be
      // selected at several positions within a document)
      .select(col("id"), expr("sel div 1048576").as("fp"))
      .distinct()
  }

  /** Pair join over the selected fingerprints, with MOSS's own
    * OVER-FREQUENT-FINGERPRINT rule ENFORCED (r10 scale audit): a
    * fingerprint shared by df documents expands into C(df,2) pair rows,
    * so one ubiquitous 8-gram — boilerplate, license headers — makes
    * its hash bucket quadratic in the corpus (measured at sf0.1: the
    * top 720 of 3447 fingerprints carried 17.6M of 17.9M pair rows).
    * Fingerprints with document frequency > `maxDocFreq` are dropped
    * BEFORE the self-join — the SIGMOD'03 paper's own rule for MOSS
    * ("too common to be interesting"), which also makes the survivors
    * the discriminative excerpts: `shared` then counts fingerprints
    * rare enough to indicate real copying, not boilerplate. The
    * winnowing coverage guarantee consequently holds for substrings
    * whose fingerprints appear in ≤ `maxDocFreq` documents; quantify
    * exactly what the cap refused with
    * [[graft.operators.Graph.wedgeCapLedger]] over
    * `fingerprints.select(fp as src, id as dst)` — a zero ledger
    * certifies the uncapped answer. */
  def winnowingPairs(docs: DataFrame, k: Int = 8, w: Int = 16, minShared: Long = 3L,
                     textCol: String = "text", idCol: String = "doc_id",
                     maxDocFreq: Long = 200L): DataFrame = {
    require(minShared >= 1 && maxDocFreq >= 2)
    // LAZY persist: the fingerprint frame (gram explode + per-doc window
    // min — the dominant cost, ~7 s of a 22 s sf0.1 run) is referenced
    // THREE times below (the df aggregate + both self-join sides), and
    // Spark materializes each branch separately without it (measured 3×
    // the fingerprint job in one q220 execution). ~2N/w rows of (id, fp)
    // — KBs per thousand docs. Nothing unpersists it: the session's
    // CacheManager keeps the entry until `unpersist` (the ContextCleaner
    // does not reclaim it), and a later call with the same plan reads it.
    val byFp = winnowFingerprints(docs, k, w, textCol, idCol).persist()
    val keep = byFp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("fp")
    val kept = byFp.join(keep, Seq("fp"), "left_semi")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  def exactJaccardJoin(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                       n: Int = 3, minJPm: Long = 500L): DataFrame = {
    require(n >= 1 && minJPm >= 1 && minJPm <= 1000)
    import org.apache.spark.sql.expressions.Window
    val ws = split(col(textCol), " ")
    val shingleExpr = expr(
      s"transform(sequence(0, size(__ws) - $n), i -> concat_ws(' ', slice(__ws, i + 1, $n)))")
    // LAZY persist: the distinct shingle frame is referenced FOUR times
    // (corpus frequencies, the ranked prefix, both verify-join sides) —
    // without the cache each branch re-runs the explode + distinct
    // shuffle (the q220 lesson, same fix)
    val sh = docs.select(col(idCol).as("id"), ws.as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("id"), explode(shingleExpr).as("s"))
      .distinct()
      .persist()
    val freq = sh.groupBy("s").agg(count(lit(1)).as("cf"))
    val w = Window.partitionBy("id")
    val ranked = sh.join(freq, "s")
      .select(col("id"), col("s"),
        row_number().over(w.orderBy(col("cf").asc, col("s").asc)).as("p"),
        count(lit(1)).over(w).as("sz"))
    val prefix = ranked
      .filter(expr(s"p <= sz - (($minJPm * sz + 999) div 1000) + 1"))
      .select(col("id"), col("s"), col("sz"))
      .cut()
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          lit(1000) * least(col("a.sz"), col("b.sz")) >=
            lit(minJPm) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.sz").as("n_a"), col("b.sz").as("n_b"))
      .distinct()
    val common = cand
      .join(sh.select(col("id").as("doc_a"), col("s")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("common"))
    common
      .withColumn("j_pm", expr("1000 * common div (n_a + n_b - common)"))
      .filter(col("j_pm") >= minJPm)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "j_pm")
  }
}
