package graft.operators

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dotProduct, l2Norm}

/**
 * §2C similarity / ANN family over an `Array[Float]` embedding column.
 *
 * All vector math runs through the native codegen'd [[graft.functions.DotProduct]]
 * expression (see its scaladoc for why the composable
 * `aggregate(zip_with(...))` form is interpreted and unusable in the pair
 * hot loop). Norms are computed ONCE per vector row and carried as scalar
 * columns through the joins, so each candidate pair costs exactly one
 * dot-product loop plus one divide.
 *
 * LSH bucket bits use sign(v·plane), and sign is invariant under L2
 * normalization — so the bucket path reads the RAW float array straight
 * off the parquet scan: no normalization, no array rewrites, pure
 * codegen. Hyperplanes are deterministic driver-side constants
 * (splitmix64) shipped as array literals.
 *
 * Scale design (100 TB): the bucket frames carry only (id, table, bucket)
 * — vectors are NEVER multiplied by the number of LSH tables; candidate
 * pairs are generated as id-only bucket-equality joins, deduplicated, and
 * only then joined back to vectors for scoring. Queries are broadcast
 * (small side by construction); brute force is embarrassingly parallel
 * over corpus partitions with a per-query top-k window reduction.
 */
object Similarity {

  /** Element-wise double view of a float-array column. (Composable HOF
    * helpers below are for ad-hoc use; operators use the native kernel.) */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** (idAs, vAs, nAs): raw vector + L2 norm in one codegen'd projection. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vAs), l2Norm(col(vecCol)).as(nAs))

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * splitmix64 finalizer over the (table, plane, dim) coordinates —
    * reproducible across runs and executors, no RNG state to ship.
    * `private[graft]` so the DuckDB oracle generator can embed the SAME
    * constants as SQL literals and replay the bucket math exactly. */
  private[graft] def hyperplane(table: Int, plane: Int, d: Int): Double = {
    var z = table.toLong * 0x9E3779B97F4A7C15L + plane.toLong * 0xBF58476D1CE4E5B9L +
      d.toLong * 0x94D049BB133111EBL + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** Bucket id for one LSH table: sign bit of the raw vector's projection
    * onto each of `planes` literal hyperplanes — codegen'd dot products. */
  private def bucketCol(v: Column, table: Int, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val plane = typedlit((0 until dims).map(d => hyperplane(table, p, d)))
      when(dotProduct(v, plane) > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (idAs, tbl, bucket) — one row per LSH table, id-only (no vectors). */
  private def buckets(df: DataFrame, idCol: String, vecCol: String, idAs: String,
                      tables: Int, planes: Int, dims: Int): DataFrame =
    df.select(col(idCol).as(idAs),
      posexplode(array((0 until tables).map(t => bucketCol(col(vecCol), t, planes, dims)): _*))
        .as(Seq("tbl", "bucket")))

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** C5: brute-force cosine top-k — the exact ANN baseline. `queries` must
    * be small (it is broadcast); ranking is windowed per query_id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    topK(scored, k)
  }

  /** C6: LSH-bucketed ANN — `tables` independent 2^planes-bucket tables;
    * a query only scores corpus vectors sharing a bucket in some table.
    * Smaller `planes` → higher recall & bigger buckets; tune per corpus. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 4, planes: Int = 6, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = buckets(corpus, idCol, vecCol, "neighbor_id", tables, planes, dims)
      .join(broadcast(buckets(queries, idCol, vecCol, "query_id", tables, planes, dims)),
            Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct() // same pair can collide in several tables
    val scored = cand
      .join(broadcast(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")), "query_id")
      .join(withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    topK(scored, k)
  }

  /** C18 support: deterministic IVF centroids — the `nlist` corpus vectors
    * whose (portable-md5(id), id) rank smallest, collected driver-side
    * (nlist × dims doubles: index metadata, not data). Random-sample
    * seeding is the standard no-training IVF baseline; the portable hash
    * makes the choice replayable by the DuckDB oracle. Returns
    * (cellId, vector, L2 norm) with the norm computed by the SAME
    * ascending-index fold both engines use, so the embedded literals are
    * bit-identical to what the oracle recomputes. */
  private[graft] def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                                  nlist: Int): Seq[(Int, Seq[Double], Double)] = {
    val seed = corpus
      .select(col(idCol), col(vecCol),
        Dedup.portableHash31(col(idCol).cast("string")).as("__h"))
      .orderBy(col("__h"), col(idCol))
      .limit(nlist)
      .select(col(vecCol))
      .collect()
    seed.zipWithIndex.map { case (r, i) =>
      val vec = r.getSeq[Float](0).map(_.toDouble)
      val nrm = math.sqrt(vec.foldLeft(0.0)((a, x) => a + x * x))
      (i, vec, nrm)
    }.toSeq
  }

  /** C18: IVF (inverted-file) ANN — the coarse-quantization scale path.
    * Cell assignment is PER-ROW codegen'd math (nlist dot products against
    * centroid literals + an argmax fold, the langId pattern): the corpus
    * is never joined, exploded, or windowed to find its cell — at 100 TB
    * assignment runs at scan speed and the (id, cell) index is what you'd
    * persist bucketed-by-cell. Queries probe their `nprobe` nearest cells
    * and score ONLY vectors in those cells; a corpus vector lives in
    * exactly one cell, so candidates are naturally duplicate-free. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    // centroid matrix rides as ONE constant reference object inside two
    // native expressions (argmax cell / all-cell scores) — composing
    // nlist per-cell literal dot products put tens of thousands of
    // Literal nodes in the plan and planning dwarfed the data work.
    // Values are bit-identical to the composed form (same ascending
    // fold, same strict-> first-max tie-break the oracle replays).
    val mat = cents.map(_._2.toArray).toArray
    val nrms = cents.map(_._3).toArray
    val assign = corpus.select(col(idCol).as("neighbor_id"),
      graft.functions.VectorFunctions.bestCentroid(col(vecCol), mat, nrms).as("cell"))
    val qScores = queries.select(col(idCol).as("query_id"),
      posexplode(graft.functions.VectorFunctions.centroidScores(col(vecCol), mat, nrms))
        .as(Seq("cell", "cscore")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cscore").desc, col("cell").asc)
    val probes = qScores.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nprobe).select("query_id", "cell")
    val cand = broadcast(probes).join(assign, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val scored = cand
      .join(broadcast(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")), "query_id")
      .join(withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    topK(scored, k)
  }

  /** C23: brute-force cosine top-k over INT8-QUANTIZED vectors — the
    * memory-bound scale path: int8 cuts the embedding store 4x and the
    * integer dot products are exact in double arithmetic, so the whole
    * scoring pipeline (quantize → dot → cosine) is bit-reproducible by
    * the q69 DuckDB oracle (no float-summation ordering concerns at all).
    * Per-vector scales cancel out of the quantized cosine, so only the
    * byte arrays travel through the join. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.quantizeI8
    def withQ(df: DataFrame, idAs: String, qAs: String, nAs: String): DataFrame =
      df.select(col(idCol).as(idAs), quantizeI8(col(vecCol)).as(qAs))
        .withColumn(nAs, sqrt(dotProduct(col(qAs), col(qAs))))
    val q = withQ(queries, "query_id", "qv", "qn")
    val c = withQ(corpus, "neighbor_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    topK(scored, k)
  }

  /** C28: PRODUCT-QUANTIZED ANN (the compressed-domain scale path beyond
    * int8): vectors split into `m` subspaces, each encoded as the id of
    * its nearest subspace centroid — a 64-dim float vector becomes m
    * small ints (here 8 × 4 bits of code space), and scoring never
    * touches the original corpus vectors: the classic ADC scheme
    * precomputes, PER QUERY, the dot of each query subvector with every
    * subspace centroid (an m × ksub table, built in-plan by
    * [[graft.functions.CentroidScores]] over vector slices), and a
    * candidate's approximate dot is m table lookups + adds — pure
    * codegen'd `element_at` arithmetic on the (id, codes...) index.
    *
    * Codebooks are seeded deterministically (same portable-hash ranking
    * as IVF — the standard no-training baseline in this sandbox; k-means
    * refinement would drop in without changing any shape), assignment is
    * the projection quantizer (normalized dot, reusing the verified
    * [[graft.functions.BestCentroid]] kernel per slice), and every number
    * — codes, tables, left-fold score sums — is exact double arithmetic
    * the q76 DuckDB oracle replays bit-for-bit. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, dims: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    import graft.functions.VectorFunctions.{bestCentroid, centroidScores}
    // seed vectors (full-dim) exactly like IVF, then slice per subspace
    val seeds = ivfCentroids(corpus, idCol, vecCol, ksub)
    val mats: Seq[Array[Array[Double]]] = (0 until m).map(mm =>
      seeds.map(_._2.slice(mm * sub, (mm + 1) * sub).toArray).toArray)
    val norms: Seq[Array[Double]] = mats.map(_.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))))
    val ones: Array[Double] = Array.fill(ksub)(1.0)

    val codes = corpus.select(col(idCol).as("neighbor_id") +: (0 until m).map(mm =>
      bestCentroid(slice(col(vecCol), mm * sub + 1, sub), mats(mm), norms(mm)).as(s"c$mm")): _*)
    val qtabs = queries.select(col(idCol).as("query_id") +: (0 until m).map(mm =>
      centroidScores(slice(col(vecCol), mm * sub + 1, sub), mats(mm), ones).as(s"t$mm")): _*)

    val approx = (0 until m).map(mm => element_at(col(s"t$mm"), col(s"c$mm") + 1))
      .reduce(_ + _) // left fold: t0 + t1 + ... — mirrored by the oracle
    val scored = codes.join(broadcast(qtabs), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), approx.as("approx_dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("approx_dot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** C57: CONTRASTIVE pair mining — assemble (anchor, positive, hard-ish
    * negative) training pairs from the corpus itself: the positive is the
    * anchor's nearest same-cell neighbor (exact cosine inside the shared
    * IVF cell — the index build is reused, the SemDeDup/C35 argument),
    * negatives are `kNeg` deterministic hash-sampled vectors from OTHER
    * cells (uniform, reproducible — the rank-hash reservoir machinery,
    * so no RNG state and the DuckDB oracle replays the draw).
    *
    * Scale: anchors are a SAMPLE (broadcast); positive search is bounded
    * by cell size; the negative draw ranks (anchor × corpus) by a stable
    * hash through the two-phase salted reservoir — no stratum funnels
    * through one task, and only (anchor, id, hash) triples shuffle. */
  def contrastivePairs(corpus: DataFrame, anchors: DataFrame, kNeg: Int = 5,
                       nlist: Int = 16,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.bestCentroid
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    val mat = cents.map(_._2.toArray).toArray
    val nrms = cents.map(_._3).toArray
    val assign = corpus.select(col(idCol).as("other_id"),
      bestCentroid(col(vecCol), mat, nrms).as("cell"))
    val aAssign = anchors.select(col(idCol).as("query_id"),
      bestCentroid(col(vecCol), mat, nrms).as("acell"))
    def score(pairs: DataFrame): DataFrame = pairs
      .join(broadcast(withNorm(anchors, idCol, vecCol, "query_id", "qv", "qn")), "query_id")
      .join(withNorm(corpus, idCol, vecCol, "other_id", "cv", "cn"), "other_id")
      .select(col("query_id"), col("other_id"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_sim").desc, col("other_id").asc)
    val positives = score(
        broadcast(aAssign).join(assign, col("acell") === col("cell"))
          .filter(col("query_id") =!= col("other_id")).select("query_id", "other_id"))
      .withColumn("rk", row_number().over(wp)).filter(col("rk") === 1)
      .select(col("query_id"), lit("positive").as("pair_type"),
        col("other_id"), col("cos_sim"))
    val negCand = broadcast(aAssign).join(assign, col("acell") =!= col("cell"))
      .select(col("query_id"), col("other_id"),
        concat_ws(":", col("query_id"), col("other_id")).as("__ck"))
    val negatives = score(
        Sampling.reservoirPerStratum(negCand, "query_id", "__ck", kNeg)
          .select("query_id", "other_id"))
      .select(col("query_id"), lit("negative").as("pair_type"),
        col("other_id"), col("cos_sim"))
    positives.unionByName(negatives)
  }

  /** C58: IVF cell-BALANCE profile — the index-shape audit next to C40's
    * recall gate: per cell, member count and share, plus the global
    * balance factor (max cell / ideal cell — 1.0 is perfectly balanced;
    * a high factor means probe cost is dominated by mega-cells and nlist
    * or the training needs revisiting). Assignment is the shared per-row
    * kernel; the profile is one bounded-key aggregate + a 1-row
    * broadcast (the q104 skew-profile pattern on the cell axis). */
  def ivfCellProfile(corpus: DataFrame, nlist: Int = 16,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    val mat = cents.map(_._2.toArray).toArray
    val nrms = cents.map(_._3).toArray
    val cells = corpus
      .select(graft.functions.VectorFunctions.bestCentroid(col(vecCol), mat, nrms).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("total"), max(col("n")).as("max_n"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n"), col("total"),
        (col("n").cast("double") / col("total")).as("share"),
        (col("max_n").cast("double") * nlist / col("total")).as("balance_factor"))
  }

  /** C53: embedding-column HEALTH profile — the vector-store audit run
    * before building any index on 10^12 embeddings: per group, the
    * vector count, dimensionality range (ragged arrays break every
    * kernel downstream), zero-norm count (undefined cosine), and L2-norm
    * min/max/mean. Per-row math only (the codegen'd norm kernel) + one
    * map-side-partial aggregate; min/max doubles are comparison-safe
    * cross-engine, and the MEAN norm sums fixed-point longs (the C49
    * trick) so it is partition-order-proof and oracle-exact. */
  def embeddingProfile(corpus: DataFrame, groupCol: String = "label",
                       vecCol: String = "embedding",
                       scale: Long = 1000000L): DataFrame =
    corpus
      .select(col(groupCol), size(col(vecCol)).cast("long").as("d"),
        l2Norm(col(vecCol)).as("nrm"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_vectors"),
        min("d").as("dim_min"), max("d").as("dim_max"),
        count(when(col("nrm") === 0.0, 1)).as("n_zero_norm"),
        min("nrm").as("norm_min"), max("nrm").as("norm_max"),
        sum(round(col("nrm") * scale).cast("long")).as("norm_sum_scaled"))
      .withColumn("norm_avg",
        col("norm_sum_scaled").cast("double") / scale / col("n_vectors"))

  /** C49: one distributed k-means refinement step (Lloyd iteration) —
    * the training loop behind every IVF/PQ index and SemDeDup clustering
    * here (their seeded centroids are the no-training baseline; this is
    * the "k-means refinement would drop in" path made real). Assignment
    * is the same per-row codegen'd [[graft.functions.BestCentroid]]
    * argmax the IVF index uses (scan speed, no join/window over the
    * corpus); the update step emits one row per (cell, dimension) with
    * the member count and new centroid coordinate.
    *
    * Cross-engine determinism: float sums are partition-order dependent,
    * so the update sums FIXED-POINT values — `round(x * 1e6)` as longs —
    * which are exact and associative; the mean divides two exactly-known
    * numbers once at read-out. Bit-equal under any partitioning, and the
    * DuckDB oracle replays seed → assign → round → sum → divide exactly.
    *
    * Scale (100 TB): the explode fans each vector into `dims` rows, but
    * partial aggregation collapses them map-side — the shuffle carries
    * ~nlist × dims × partitions partial sums, independent of corpus
    * size. Chain calls for more iterations; each is one scan. */
  def kmeansStep(corpus: DataFrame, nlist: Int = 16, scale: Long = 1000000L,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    kmeansStepFrom(corpus, cents.map(_._2.toArray).toArray,
      cents.map(_._3).toArray, scale, vecCol)
  }

  /** One Lloyd step against GIVEN centroids — the body [[kmeansStep]] and
    * [[kmeansTrain]] share. */
  private def kmeansStepFrom(corpus: DataFrame, mat: Array[Array[Double]],
                             nrms: Array[Double], scale: Long,
                             vecCol: String): DataFrame =
    corpus
      .select(graft.functions.VectorFunctions.bestCentroid(col(vecCol), mat, nrms).as("cell"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("cell"), col("dim"),
        round(col("v").cast("double") * scale).cast("long").as("sv"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n_members"), sum(col("sv")).as("sum_scaled"))
      .withColumn("mean",
        col("sum_scaled").cast("double") / scale / col("n_members"))

  /** C49 (training loop): iterate Lloyd steps to an actual trained
    * codebook — the refinement every IVF/PQ/SemDeDup consumer here can
    * drop in for its seeded centroids. Each iteration is ONE corpus scan
    * (assignment at codegen speed + the fixed-point update); the centroid
    * matrix rides the driver between iterations — nlist × dims doubles,
    * index METADATA, the same object the kernels already embed. Cells
    * that lose all members (or would go degenerate-zero) keep their
    * previous centroid, so the argmax kernel's positive-norm contract
    * holds throughout. Returns the trained matrix plus the per-iteration
    * max-coordinate movement (the convergence curve a caller thresholds). */
  def kmeansTrain(corpus: DataFrame, nlist: Int = 16, iters: Int = 5,
                  scale: Long = 1000000L, idCol: String = "vec_id",
                  vecCol: String = "embedding"): (Array[Array[Double]], Seq[Double]) = {
    val seed = ivfCentroids(corpus, idCol, vecCol, nlist)
    var mat = seed.map(_._2.toArray).toArray
    var nrms = seed.map(_._3).toArray
    val moves = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until iters) {
      val upd = kmeansStepFrom(corpus, mat, nrms, scale, vecCol)
        .select(col("cell"), col("dim"), col("mean")).collect()
      val next = mat.map(_.clone())
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      for (c <- next.indices) {
        val n2 = math.sqrt(next(c).foldLeft(0.0)((s, x) => s + x * x))
        if (n2 == 0.0) next(c) = mat(c).clone() // degenerate cell: keep previous
      }
      moves += mat.indices.map(c =>
        mat(c).indices.map(d => math.abs(mat(c)(d) - next(c)(d))).max).max
      mat = next
      nrms = mat.map(c => math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x)))
    }
    (mat, moves.toSeq)
  }

  /** C74: PROTOTYPICALITY pruning (the SSL-prototypes data-pruning metric,
    * Sorscher et al. 2022, "Beyond neural scaling laws": when data is
    * abundant, the most PROTOTYPICAL examples — nearest their class
    * prototype — are the least informative and are pruned first): per
    * label, the prototype is the fixed-point-exact mean vector (the
    * [[kmeansStep]] update arithmetic — `round(x·10^6)` longs summed
    * associatively, one divide at read-out, bit-equal under any
    * partitioning); every vector scores cosine(v, prototype) through the
    * codegen'd [[graft.functions.DotProduct]] loop, and the top
    * `prunePct`% most prototypical rows per label are flagged.
    *
    * Ranking is the TWO-LEVEL distributed form (rank = bucket offset +
    * local rank, buckets = 512 cosine sub-intervals): equal sims share a
    * bucket and break ties by id locally, rows in different buckets are
    * sim-ordered by construction — exactly equal to the one global
    * per-label window, without funnelling a 100 TB label through one
    * task. Zero-norm vectors (and degenerate all-zero prototypes) score
    * 0 by contract instead of NaN, so ordering is total on both engines.
    *
    * Scale: prototype = one corpus scan with map-side partial sums
    * (labels × dims rows shuffle); scoring joins the label-sized
    * prototype frame broadcast; the rank windows partition by
    * (label, bucket) and the offset frame is labels × ≤513 rows.
    *
    * Output: (vec_id, label, proto_sim, rank, n_label, pruned). */
  def prototypicalityPrune(corpus: DataFrame, prunePct: Int = 10,
                           labelCol: String = "label", idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           scale: Long = 1000000L): DataFrame = {
    require(prunePct >= 0 && prunePct <= 100, "prunePct must be in [0, 100]")
    import org.apache.spark.sql.expressions.Window
    val sums = corpus
      .select(col(labelCol).as("lbl"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("lbl"), col("dim"),
        round(col("v").cast("double") * scale).cast("long").as("sv"))
      .groupBy("lbl", "dim")
      .agg(count(lit(1)).as("n"), sum(col("sv")).as("s"))
      .withColumn("c", col("s").cast("double") / scale / col("n"))
    val cent = sums.groupBy("lbl")
      .agg(max(col("n")).as("n_label"),
        sort_array(collect_list(struct(col("dim"), col("c")))).getField("c").as("ce"))
      .withColumn("cnrm", l2Norm(col("ce")))
    val scored = corpus
      .select(col(idCol).as("id"), col(labelCol).as("lbl"), col(vecCol).as("ve"),
        l2Norm(col(vecCol)).as("nrm"))
      .join(broadcast(cent), "lbl")
      .withColumn("proto_sim",
        when(col("nrm") === 0.0 || col("cnrm") === 0.0, lit(0.0))
          .otherwise(dotProduct(col("ve"), col("ce")) / (col("nrm") * col("cnrm"))))
      .withColumn("bkt", floor((lit(1.0) + col("proto_sim")) * 256).cast("long"))
    val wLocal = Window.partitionBy("lbl", "bkt")
      .orderBy(col("proto_sim").desc, col("id").asc)
    val wBuckets = Window.partitionBy("lbl").orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored.groupBy("lbl", "bkt").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wBuckets), lit(0L)))
      .select("lbl", "bkt", "off")
    scored.withColumn("lrk", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("lbl", "bkt"))
      .withColumn("rank", col("off") + col("lrk"))
      .select(col("id").as(idCol), col("lbl").as(labelCol), col("proto_sim"),
        col("rank"), col("n_label"),
        (col("rank") <= expr(s"n_label * $prunePct div 100")).as("pruned"))
  }

  /** C81: embedding DRIFT monitor — when the embedding model (or the
    * upstream data) shifts between two ingest slices, every ANN index,
    * SemDeDup threshold and classifier trained on the old geometry
    * silently degrades; this is the audit that catches it before the
    * re-index bill: per label, the fixed-point-exact prototype of the
    * OLD slice vs the NEW slice (the [[kmeansStep]] mean arithmetic),
    * their norms, and the cosine between the two prototypes — a
    * prototype cosine well under 1 is the re-embedding signal.
    * One-sided labels report their side's count and a 0 cosine by
    * contract (never NaN/null — ordering and alerting stay total).
    *
    * Scale: one corpus scan to (label, slice, dim) partial sums; the
    * prototype frame is labels×2 rows; everything after is per-row
    * arithmetic on that tiny frame. */
  def embeddingDrift(corpus: DataFrame, isNew: Column, labelCol: String = "label",
                     vecCol: String = "embedding",
                     scale: Long = 1000000L): DataFrame = {
    val sums = corpus.select(col(labelCol).as("lbl"), isNew.as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("lbl"), col("grp"), col("dim"),
        round(col("v").cast("double") * scale).cast("long").as("sv"))
      .groupBy("lbl", "grp", "dim")
      .agg(count(lit(1)).as("n"), sum(col("sv")).as("s"))
      .withColumn("c", col("s").cast("double") / scale / col("n"))
    val protos = sums.groupBy("lbl", "grp")
      .agg(max(col("n")).as("n_vecs"),
        sort_array(collect_list(struct(col("dim"), col("c")))).getField("c").as("ce"))
    val prev = protos.filter(!col("grp"))
      .select(col("lbl"), col("n_vecs").as("n_old"), col("ce").as("co"))
    val curr = protos.filter(col("grp"))
      .select(col("lbl"), col("n_vecs").as("n_new"), col("ce").as("cn"))
    prev.join(curr, Seq("lbl"), "full_outer")
      .select(col("lbl").as(labelCol),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        l2Norm(col("co")).as("norm_old"), l2Norm(col("cn")).as("norm_new"),
        when(col("co").isNull || col("cn").isNull ||
             l2Norm(col("co")) === 0.0 || l2Norm(col("cn")) === 0.0, lit(0.0))
          .otherwise(dotProduct(col("co"), col("cn")) /
            (l2Norm(col("co")) * l2Norm(col("cn")))).as("proto_cos"))
  }

  /** C35: SEMANTIC dedup (the SemDeDup recipe: cluster the embedding
    * space, prune near-identical pairs only WITHIN a cluster): every
    * vector is assigned to its nearest seeded centroid by the same
    * codegen'd [[graft.functions.BestCentroid]] argmax the IVF index uses
    * (per-row scan-speed math — the corpus is never joined or windowed to
    * find its cell), candidate pairs are id-only equi-joins on the cell
    * key, and a doc is DROPPED when some same-cell neighbor with a
    * smaller id scores cosine ≥ tau (min-id canonical, the same
    * tie-break every dedup operator here uses).
    *
    * Scale (100 TB): pairwise work is confined to cells — nlist is chosen
    * ~sqrt(N) in practice so expected cell size stays bounded; the cell
    * join carries ids only, vectors join back once per surviving
    * candidate. Cluster assignment is exactly the IVF index build, so a
    * real deployment computes it once and shares it between ANN serving
    * and dedup. Output: one row per vector — (id, cell, kept). */
  def semanticDedup(corpus: DataFrame, tau: Double, nlist: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist)
    val mat = cents.map(_._2.toArray).toArray
    val nrms = cents.map(_._3).toArray
    val assign = corpus.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.bestCentroid(col(vecCol), mat, nrms).as("cell"))
    val cand = assign.select(col("cell"), col("id").as("doc_a"))
      .join(assign.select(col("cell"), col("id").as("doc_b")), Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val dropped = cand
      .join(withNorm(corpus, idCol, vecCol, "doc_a", "va", "na"), "doc_a")
      .join(withNorm(corpus, idCol, vecCol, "doc_b", "vb", "nb"), "doc_b")
      .filter(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
      .select(col("doc_b").as("id")).distinct()
    assign.join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("cell"),
        not(coalesce(col("__drop"), lit(false))).as("kept"))
  }

  /** C7: embedding near-dup pairs — corpus self-join through LSH buckets,
    * cosine-verified at `threshold`. Same bucket-join scale story as C6. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   tables: Int = 4, planes: Int = 6, dims: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bk = buckets(corpus, idCol, vecCol, "id", tables, planes, dims)
    val cand = bk.select(col("tbl"), col("bucket"), col("id").as("doc_a"))
      .join(bk.select(col("tbl"), col("bucket"), col("id").as("doc_b")), Seq("tbl", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(withNorm(corpus, idCol, vecCol, "doc_a", "va", "na"), "doc_a")
      .join(withNorm(corpus, idCol, vecCol, "doc_b", "vb", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** C40: recall@k EVALUATION of an approximate ANN result against exact
    * ground truth — the index-quality gate every ANN deploy needs (how
    * much does LSH/IVF/PQ lose vs brute force?). Inputs are two top-k
    * frames shaped like this module's outputs: (query_id, neighbor_id,
    * rank). Per query: n_hit = |truth ∩ approx|, recall = n_hit/n_truth
    * (n_truth, not k: a query can have < k legal neighbors).
    *
    * Scale: in practice ground truth is computed over a SAMPLED query
    * set (brute force over all queries is the thing ANN avoids), so both
    * inputs are |queries|·k rows — tiny next to the corpus; the semi
    * join + two aggregates shuffle only (query_id, neighbor_id) pairs. */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val tr = truth.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val ap = approx.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val hit = tr.join(ap, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    tr.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hit, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth")).as("recall"))
  }

  /** C86: embedding ANISOTROPY audit — how much of the cloud's energy sits
    * in ONE direction. Contextual-embedding spaces are notoriously
    * anisotropic (a dominant common direction inflates every cosine and
    * blunts SemDeDup/ANN thresholds); the standing fix is to measure and
    * project it out. This measures it, all in EXACT integer fixed-point so
    * the DuckDB oracle replays bit-for-bit:
    *
    *  - milli-scaled components `sv = round(x·1000)` → the uncentered
    *    second-moment matrix M[i,j] = Σ sv_i·sv_j (ONE corpus scan; the
    *    O(n·d²) work is the mathematics, not the plan — and it runs as a
    *    per-partition tight-loop accumulator emitting ONE d²-array per
    *    partition, the one place here where mapPartitions beats any
    *    declarative form: the row-generator alternative materializes d²
    *    shuffle rows per input row, ~100× the arithmetic's true cost);
    *  - `iters` integer power-iteration rounds from the all-ones start,
    *    renormalizing to max-abs 10⁴ each round. Exact while
    *    u = Σ_j m·v_j fits int64 — u ≤ d·N·10¹⁰ for unit-norm milli-scaled
    *    embeddings, so N ≲ 9.2e18/(d·10¹⁰) (~1.4e7 vectors at d=64); past
    *    that BOTH engines raise (DECIMAL(38,0)→long ANSI cast here,
    *    HUGEINT→BIGINT cast in the oracle) rather than wrap. The u·10⁴
    *    renorm intermediate is wide (BigInt / HUGEINT), so it never
    *    overflows for any u in int64. Corpora beyond the bound should
    *    subsample or drop the embedding scale to 10² before this audit;
    *  - the eigenvalue estimate is the power method's scaling factor
    *    λ ≈ max|Mv| / max|v|, and the headline number is
    *    top_share_pm = 1000·λ / trace(M) — the per-mille share of total
    *    second-moment energy in the dominant direction (≈ d/1000ths ⇒
    *    isotropic; → 1000 ⇒ everything on one axis). After k rounds λ is
    *    a LOWER bound on the true dominant eigenvalue, tight iff the
    *    spectrum has a gap — on a genuinely anisotropic corpus (the case
    *    worth alerting on) a handful of rounds converge; on a flat
    *    spectrum the bound stays near trace/d, which reads (correctly)
    *    as "no dominant direction".
    *
    * Everything after the scan rides d²-row frames and broadcast
    * scalars. Output: one row per dim — (dim, v_fx ∈ [−10⁴,10⁴],
    * lambda_fx, trace_fx, top_share_pm). */
  def anisotropy(emb: DataFrame, vecCol: String = "embedding",
                 iters: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (m, v, lambda) = momentAndDirection(emb, vecCol, iters)
    val trace = m.filter(col("i") === col("j"))
      .agg(sum(col("m")).as("t")).head().getLong(0)
    v.zipWithIndex.toSeq
      .map { case (vf, i) => (i.toLong, vf, lambda, trace, lambda * 1000L / trace) }
      .toDF("dim", "v_fx", "lambda_fx", "trace_fx", "top_share_pm")
      .orderBy("dim")
  }

  /** Shared power-method core for C86/C88: the checkpointed d²-row
    * second-moment frame plus the fixed-point dominant direction after
    * `iters` integer rounds. Returns (moment frame (i, j, m), direction
    * v ∈ [−10⁴, 10⁴]ᵈ, λ estimate). See [[anisotropy]] for the scaling
    * and exactness contract. */
  private def momentAndDirection(emb: DataFrame, vecCol: String,
                                 iters: Int): (DataFrame, Array[Long], Long) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sv = emb.select(
      expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 1000) as long))").as("sv"))
    val partials = sv.as[Array[Long]].mapPartitions { rows =>
      var acc: Array[Long] = null
      var d = 0
      rows.foreach { v =>
        if (acc == null) { d = v.length; acc = new Array[Long](d * d) }
        var i = 0
        while (i < d) {
          val a = v(i); val base = i * d; var j = 0
          while (j < d) { acc(base + j) += a * v(j); j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty else Iterator.single((d, acc))
    }.toDF("d", "mm")
    // the d²-row moment frame is the ONLY corpus-derived thing the rounds
    // touch — checkpoint it once so 8 rounds + trace don't re-run the scan
    val m = partials
      .select(col("d"), posexplode(col("mm")).as(Seq("idx", "mv")))
      .select(expr("idx div d").cast("int").as("i"),
        expr("idx % d").cast("int").as("j"), col("mv"))
      .groupBy("i", "j").agg(sum(col("mv")).as("m"))
      .cut()
    // the iteration vector is d longs — bounded driver state (the kmeans
    // centroid convention); each round is one tiny aggregation over m.
    // Long/BigInt division in Scala truncates toward zero — same as SQL div.
    //
    // Overflow contract (mirrors the DuckDB oracle exactly): with
    // unit-norm milli-scaled embeddings (|sv_i| ≤ 10³), m_ij ≤ N·10⁶ and
    // u_i = Σ_j m_ij·v_j ≤ d·N·10¹⁰ — exact while u fits int64, i.e.
    // N ≲ 9.2e18/(d·10¹⁰) (~1.4e7 vectors at d=64). The m·v product is
    // summed as DECIMAL(38,0) and the cast back to long RAISES past that
    // bound (ANSI overflow), matching the oracle's HUGEINT-sum +
    // CAST(... AS BIGINT), so both engines fail loudly at the same
    // boundary instead of wrapping. The renormalization itself is exact
    // for ALL u in int64: the u·10⁴ intermediate is taken in BigInt
    // (oracle: HUGEINT), never in long.
    val d = m.agg(max(col("i"))).head().getInt(0) + 1
    var v = Array.fill(d)(10000L)
    var lambda = 0L
    for (_ <- 1 to iters) {
      val vlit = typedlit(v.toSeq)
      val u = m.groupBy("i")
        .agg(sum(col("m").cast("decimal(38,0)") * element_at(vlit, col("j") + 1))
          .cast("long").as("u"))
        .orderBy("i").select("u").as[Long].collect()
      val mx = u.map(math.abs).max
      lambda = mx / 10000L
      v = u.map(x => (BigInt(x) * 10000 / mx).toLong)
    }
    (m, v, lambda)
  }

  /** C88: ISOTROPY correction — all-but-the-top (Mu & Viswanath 2018),
    * the ACTION on [[anisotropy]]'s audit: project the measured dominant
    * direction out of every embedding, `x' = x − (x·v̂)v̂`, so the common
    * direction stops inflating every cosine before SemDeDup/ANN
    * thresholding. Entirely exact integer fixed-point, so the DuckDB
    * oracle replays it bit-for-bit: milli-scaled components, the power
    * method's [−10⁴,10⁴] direction, per-component integer projection
    * `sv_i − (dot·v_i) div vn2` (truncating division on both engines).
    *
    * The per-vector audit frame this returns proves the removal: `dot_fx`
    * (the component along v), `removed_fx = dot² div vn2` (energy the
    * projection takes out), `removed_pm` (its per-mille share of the
    * row's energy — the per-row face of the corpus-level top_share_pm),
    * and `res_dot_fx` — the residual's remaining dot with v, which
    * integer truncation bounds by Σ|v_i| ≤ d·10⁴ per row (≈0 relative to
    * dot's 10⁸ scale; EXACTLY 0 in real arithmetic).
    *
    * Scale: one corpus scan for the moment matrix (shared with the
    * audit), then ONE more scan with a codegen'd per-row loop
    * ([[graft.functions.TopDirectionStats]]) — the direction rides as a
    * broadcast-sized constant, never a join. */
  def removeTopDirection(emb: DataFrame, idCol: String = "vec_id",
                         vecCol: String = "embedding", iters: Int = 8): DataFrame = {
    val (_, v, _) = momentAndDirection(emb, vecCol, iters)
    val vn2 = v.map(x => x * x).sum
    val sv = expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 1000) as long))")
    emb
      .select(col(idCol),
        graft.functions.VectorFunctions.topDirectionStats(sv, v, vn2).as("s"))
      .select(col(idCol), col("s.dot").as("dot_fx"), col("s.energy").as("energy_fx"),
        expr(s"cast(cast(s.dot as decimal(38,0)) * s.dot div ${vn2}L as long)")
          .as("removed_fx"),
        col("s.res_dot").as("res_dot_fx"))
      .select(col(idCol), col("dot_fx"), col("energy_fx"), col("removed_fx"),
        when(col("energy_fx") === 0L, lit(null).cast("long"))
          .otherwise(expr("removed_fx * 1000 div energy_fx")).as("removed_pm"),
        col("res_dot_fx"))
      .orderBy(idCol)
  }

  /** C133: MAXIMAL-MARGINAL-RELEVANCE diversified re-ranking (Carbonell
    * & Goldstein 1998) — the anti-redundancy pass after ANY similarity
    * retrieval (C5/C6/C18 feed it): plain top-k returns five copies of
    * the same near-duplicate; MMR selects greedily by
    * `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, so each pick is relevant
    * AND far from what is already selected — the retrieval-side twin of
    * the dedup family's "don't train on five copies".
    *
    * Determinism contract: similarities are floored to integer ppm
    * (IEEE doubles are bit-identical across engines under the fixed
    * fold order, so the floor is too), the greedy argmax breaks ties
    * (score desc, doc_id asc), and the per-round score is
    * `(λ_pm·simq − (1000−λ_pm)·pen) div 1000` with truncation toward
    * zero — every round replays bit-for-bit.
    *
    * Scale shape: one brute/ANN candidate pass (m per query), ONE
    * candidate-pair similarity frame (≤ m² rows per query, computed
    * once), then k bounded rounds of co-partitioned anti-join +
    * penalty max + per-query argmax over ≤ m rows — never corpus-wide
    * after the candidate cut; driver state is the loop counter only.
    *
    * @return (query_id, mmr_rank, doc_id, mmr_ppm) — k rows per query,
    *         mmr_ppm the score at selection time. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, m: Int = 12, k: Int = 5,
                lambdaPm: Long = 700L, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(m >= k && k >= 1 && lambdaPm >= 0 && lambdaPm <= 1000)
    import org.apache.spark.sql.expressions.Window
    val cand = bruteForceTopK(corpus, queries, m, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(1000000.0) * col("cos_sim")).as("simq_ppm"))
      .cut()
    val vecs = withNorm(corpus, idCol, vecCol, "vid", "vv", "vn")
    val pairs = cand.select(col("query_id"), col("neighbor_id").as("da"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("db")), Seq("query_id"))
      .filter(col("da") =!= col("db"))
      .join(vecs.select(col("vid").as("da"), col("vv").as("va"), col("vn").as("na")), "da")
      .join(vecs.select(col("vid").as("db"), col("vv").as("vb"), col("vn").as("nb")), "db")
      .select(col("query_id"), col("da"), col("db"),
        floor(lit(1000000.0) * dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("simc_ppm"))
      .cut()
    // each query's best-scored candidate, as its pick of rank `rank`
    def pick(scored: DataFrame, rank: Long): DataFrame =
      scored.withColumn("__rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("mmr_ppm").desc, col("neighbor_id").asc)))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          lit(rank).as("mmr_rank"), col("mmr_ppm"))
    // rank 1 has nothing selected to penalize against: pure relevance
    val first = pick(cand.withColumn("mmr_ppm", expr(s"($lambdaPm * simq_ppm) div 1000")), 1L)
      .cut()
    val sel = Lineage.iterate(first, k - 1) { round =>
      val sel = round.prev
      val pen = pairs
        .join(sel.select(col("query_id"), col("doc_id").as("db")), Seq("query_id", "db"))
        .groupBy(col("query_id"), col("da").as("neighbor_id"))
        .agg(max("simc_ppm").as("pen_ppm"))
      val scored = cand.join(sel.select(col("query_id"), col("doc_id").as("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(pen, Seq("query_id", "neighbor_id"))
        .withColumn("mmr_ppm",
          expr(s"($lambdaPm * simq_ppm - ${1000 - lambdaPm} * pen_ppm) div 1000"))
      sel.unionByName(pick(scored, round.index + 2L))
    }()
    sel.select("query_id", "mmr_rank", "doc_id", "mmr_ppm")
  }

  /** C138: greedy K-CENTER coreset selection (Gonzalez 1985 farthest-
    * point traversal — the 2-approximation to metric k-center) — the
    * COVERAGE-driven data selector next to C74's prototypicality
    * pruning and C133's MMR: pick k points so every corpus vector is
    * close to SOME pick ("label these k, they span the space"), by
    * repeatedly taking the point farthest from everything selected.
    * The emitted radius sequence is the classic diagnostic: radius at
    * pick r bounds the optimal r-center covering radius within 2×, and
    * where it plateaus is the corpus's intrinsic diversity budget.
    *
    * Determinism contract: cosine distance floored to integer ppm
    * (`1000000 − ⌊10⁶·cos⌋` — bit-identical IEEE folds), seed = the
    * smallest id, argmax ties (distance desc, id asc); every round
    * replays exactly.
    *
    * Scale shape per round: ONE map over the corpus frame (running-min
    * distance against the new pick's broadcast 1-row vector — no
    * corpus×selected join, the running min carries the history), one
    * global top-1 (sort-limit TakeOrdered, no single-task window),
    * checkpoint lineage cut. k bounded rounds; driver holds only the
    * current pick row.
    *
    * @return (rank 1-based, vec_id, radius_ppm) — radius_ppm is the
    *         pick's distance to the previously-selected set at
    *         selection time (0 for the seed by convention);
    *         non-increasing after rank 2. */
  def kCenterSelect(corpus: DataFrame, k: Int = 6,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = withNorm(corpus, idCol, vecCol, "id", "v", "nrm").cut()
    val seedRow = base.orderBy(col("id").asc).limit(1)
      .select("id", "v", "nrm").head()
    val picks = Seq.newBuilder[(Long, Long, Long)]
    picks += ((1L, seedRow.getLong(0), 0L))
    // the pick rides as a DOUBLE literal array (the C6 hyperplane
    // convention), so the kernel's float×double accumulation matches the
    // oracle's cast-to-double folds bit-for-bit
    def distTo(pick: Row): Column = {
      val p = typedlit(pick.getSeq[Float](1).map(_.toDouble))
      (lit(1000000L) - floor(lit(1000000.0) *
        dotProduct(col("v"), p) / (col("nrm") * lit(pick.getDouble(2)))))
    }
    val dmin0 = base.withColumn("dmin", distTo(seedRow))
      .filter(col("id") =!= seedRow.getLong(0))
      .cut()
    Lineage.iterate(dmin0, if (k > 1 && !dmin0.isEmpty) k - 1 else 0) { round =>
      val dmin = round.prev
      val far = dmin.orderBy(col("dmin").desc, col("id").asc).limit(1)
        .select("id", "v", "nrm", "dmin").head()
      picks += ((round.index + 2L, far.getLong(0), far.getLong(3)))
      dmin.filter(col("id") =!= far.getLong(0))
        .withColumn("dmin", least(col("dmin"), distTo(far)))
    } { (_, next) => next.isEmpty }
    picks.result().toDF("rank", "vec_id", "radius_ppm")
  }

  /** C130: Johnson–Lindenstrauss RANDOM-PROJECTION reduction — the
    * dimensionality lever in front of the whole ANN family (Achlioptas
    * 2003's database-friendly ±1 form): project d-dim embeddings to r
    * dims through a deterministic sign matrix `s(j,·) ∈ {±1}^d` (the
    * splitmix64 hyperplane stream, table id 101+, so the matrix is a
    * pure function shipped as literals — the C6 discipline), scaled by
    * 1/√r. Each output coordinate is ONE native codegen'd dot product
    * against a literal array — r scans-free column expressions, no
    * shuffle at all; at 100 TB this is the map-side step that shrinks
    * vector bytes 4× (r=16, d=64) before any index build.
    *
    * Pick r a perfect square at call sites that need cross-engine hash
    * equality: √r is then exact binary and the oracle's literal
    * reproduces it bit-for-bit. */
  def jlProject(corpus: DataFrame, r: Int = 16, dims: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(r >= 1 && dims >= 1)
    val sqrtR = math.sqrt(r.toDouble)
    val proj = array((0 until r).map { j =>
      val signs = typedlit((0 until dims).map(d =>
        if (hyperplane(101, j, d) >= 0) 1.0 else -1.0))
      dotProduct(col(vecCol), signs) / lit(sqrtR)
    }: _*)
    corpus.select(col(idCol).as("vec_id"), proj.as("proj"))
  }

  /** C130: JL DISTORTION audit — the lemma, measured: for a
    * deterministic sample of vector pairs (consecutive ids — no RNG
    * state), the squared-distance ratio `1000·‖ya−yb‖² / ‖xa−xb‖²`
    * (floored per-mille; NULL for a zero original distance). E[ratio] =
    * 1000 with spread ~√(2/r); the audit is what says whether r is big
    * enough for THIS corpus before the ANN index is built on the
    * projected vectors. All double math in fixed fold order (cast to
    * double first, subtract, square, left-fold) so both engines produce
    * the identical IEEE bits.
    *
    * @return (id_a, id_b, d2_orig, d2_proj, ratio_pm), one row per
    *         (even id, even id + 1) pair present in the corpus. */
  def jlDistortion(corpus: DataFrame, r: Int = 16, dims: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withP = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ve"))
      .join(jlProject(corpus, r, dims, idCol, vecCol), "vec_id")
    val a = withP.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id_a"), col("ve").as("va"), col("proj").as("pa"))
    val b = withP.filter(col("vec_id") % 2 === 1)
      .select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
        col("ve").as("vb"), col("proj").as("pb"))
    def d2(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => (u - v) * (u - v)), lit(0.0), _ + _)
    a.join(b, "id_a")
      .withColumn("d2_orig", d2(col("va"), col("vb")))
      .withColumn("d2_proj", d2(col("pa"), col("pb")))
      .withColumn("ratio_pm", when(col("d2_orig") > 0,
        floor(lit(1000.0) * col("d2_proj") / col("d2_orig"))))
      .select("id_a", "id_b", "d2_orig", "d2_proj", "ratio_pm")
  }
}
