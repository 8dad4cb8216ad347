package graft.queries

/** DuckDB oracle SQL for the SQL-expressible §2C entries (C1, C4, C5, C8,
  * C9, C10). Only engine-portable ops, mirroring the Spark operators'
  * exact arithmetic: list lambdas reproduce shingle sets and language
  * scores; cosine mirrors DotProduct's sequential left-to-right
  * double-precision fold (list_reduce is also a sequential left fold), so
  * doubles match bit-for-bit with no rounding on either side. */
object TrainingOracle {

  /** dot(a, b) in DuckDB with Spark-identical fold order. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y)"

  /** Portable n-gram shingle hashes of a token list — the SQL form of the
    * PortableShingleHashes kernel: out-of-range 1-based indexes yield NULL,
    * concat_ws skips NULLs (and so does the kernel's md5Hash31Shingle), so
    * shorter-than-n docs hash one shingle over all tokens on both engines. */
  private def shingleHashSql(toks: String, n: Int): String = {
    val terms = (0 until n).map(j => s"$toks[i+$j]").mkString(", ")
    s"list_transform(range(1, greatest(len($toks) - ${n - 1}, 1) + 1), " +
      s"i -> CAST(CONCAT('0x', substring(md5(concat_ws(' ', $terms)), 1, 15)) AS BIGINT) & 2147483647)"
  }

  /** The LSH hyperplanes as a DuckDB VALUES table (tbl, bitval, pv):
    * the SAME splitmix64 constants Similarity.bucketCol ships as Spark
    * array literals, so the oracle replays bucket math bit-for-bit.
    * Scala's Double.toString is the shortest round-tripping decimal and
    * DuckDB parses with correct rounding, so each literal is the exact
    * IEEE double the Spark plan uses. */
  private def planesSql(tables: Int, planes: Int, dims: Int): String =
    (for { t <- 0 until tables; p <- 0 until planes } yield {
      val vec = (0 until dims).map(d => graft.operators.Similarity.hyperplane(t, p, d))
        .mkString("[", ", ", "]")
      s"($t, ${1L << p}, $vec)"
    }).mkString("(VALUES\n      ", ",\n      ", ") AS t(tbl, bitval, pv)")

  /** Shared prologue for the LSH oracles: double-cast vectors, norms, and
    * per-(vec, table) bucket ids — the exact replay of Similarity.buckets. */
  private def lshPrologue(tables: Int = 4, planes: Int = 6, dims: Int = 64): String =
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), nv AS (
       |  SELECT vec_id, ve, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v
       |), pl AS (
       |  SELECT * FROM ${planesSql(tables, planes, dims)}
       |), bk AS (
       |  SELECT v.vec_id, pl.tbl,
       |         CAST(SUM(CASE WHEN ${dotSql("v.ve", "pl.pv")} > 0 THEN pl.bitval ELSE 0 END) AS BIGINT) AS bucket
       |  FROM v CROSS JOIN pl
       |  GROUP BY v.vec_id, pl.tbl
       |)""".stripMargin

  /** Full DuckDB replay of q35 (LSH ANN): buckets → candidate pairs →
    * cosine scoring → per-query top-k, mirroring Similarity.lshTopK. */
  private def annLshSql: String =
    s"""WITH ${lshPrologue()},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         ${dotSql("q.ve", "c.ve")} / (q.nrm * c.nrm) AS cos_sim
       |  FROM cand
       |  JOIN nv q ON q.vec_id = cand.query_id
       |  JOIN nv c ON c.vec_id = cand.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Full DuckDB replay of q62 (IVF ANN): seeded centroids (same portable
    * md5 ranking), per-vector argmax cell (score DESC, cell ASC — the
    * fold's first-match tie-break), nprobe probing, exact cosine inside
    * probed cells, top-k. DuckDB recomputes the centroids from the table;
    * Spark ships them as literals — same fold order, same bits. */
  private def annIvfSql(nlist: Int = 16, nprobe: Int = 4): String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), nv AS (
       |  SELECT vec_id, ve, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS cell, ve AS ce, sqrt(${dotSql("ve", "ve")}) AS cnrm
       |  FROM seeded WHERE rn <= $nlist
       |), ascore AS (
       |  SELECT v.vec_id, cent.cell, ${dotSql("v.ve", "cent.ce")} / cent.cnrm AS s
       |  FROM v CROSS JOIN cent
       |), assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore) WHERE rk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore WHERE vec_id < 10) WHERE rk <= $nprobe
       |), cand AS (
       |  SELECT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE a.neighbor_id <> p.query_id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         ${dotSql("q.ve", "c.ve")} / (q.nrm * c.nrm) AS cos_sim
       |  FROM cand
       |  JOIN nv q ON q.vec_id = cand.query_id
       |  JOIN nv c ON c.vec_id = cand.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** q107: one Lloyd step — the q62 seed/assign prologue, then the
    * fixed-point update: round(x*scale) longs sum exactly in any order,
    * so the grouped sums and the derived means are bit-equal to Spark's.
    * unnest + generate_subscripts expand in lockstep (verified), giving
    * the 0-based dim posexplode produces. */
  private def kmeansStepSql(nlist: Int = 16, scale: Long = 1000000L): String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS cell, ve AS ce, sqrt(${dotSql("ve", "ve")}) AS cnrm
       |  FROM seeded WHERE rn <= $nlist
       |), ascore AS (
       |  SELECT v.vec_id, cent.cell, ${dotSql("v.ve", "cent.ce")} / cent.cnrm AS s
       |  FROM v CROSS JOIN cent
       |), assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore) WHERE rk = 1
       |), ex AS (
       |  SELECT a.cell, generate_subscripts(v.ve, 1) - 1 AS dim,
       |         CAST(round(unnest(v.ve) * $scale) AS BIGINT) AS sv
       |  FROM assign a JOIN v ON v.vec_id = a.vec_id
       |)
       |SELECT cell, dim, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  CAST(SUM(sv) AS BIGINT) AS sum_scaled,
       |  CAST(SUM(sv) AS DOUBLE) / $scale / COUNT(*) AS mean
       |FROM ex GROUP BY cell, dim
       |ORDER BY cell, dim""".stripMargin

  /** q123: curation capstone — the full five-stage chain replayed: exact
    * dedup, the recursive near-dup closure ON THE SURVIVORS, the funnel
    * conditions, and the rarity/budget prefix scan, each stage feeding
    * the next. */
  private def curationReportSql: String =
    s"""WITH RECURSIVE s2 AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1
       |), sh AS (
       |  SELECT source AS g, doc_id, $shingles3 AS s FROM s2
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), clusters AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |  FROM reach GROUP BY src
       |), s3 AS (
       |  SELECT * FROM s2 WHERE doc_id NOT IN
       |    (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
       |), s4 AS (
       |  SELECT * FROM s3
       |  WHERE lang IN ('en','es','de','fr') AND n_chars >= 100 AND n_chars <= 500
       |    AND len(string_split(text, ' ')) >= 20
       |    AND CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |          / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
       |), toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM s4
       |), v AS (
       |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
       |), r AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(1000000000 // cnt) AS BIGINT) AS rarity_sum
       |  FROM toks JOIN v USING (tok) GROUP BY doc_id
       |), pr AS (
       |  SELECT doc_id, rarity_sum // n_tokens AS rarity_avg, n_tokens FROM r
       |), pw AS (
       |  SELECT doc_id,
       |         CAST(SUM(n_tokens) OVER (ORDER BY rarity_avg DESC, doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS pe
       |  FROM pr
       |), s5 AS (SELECT doc_id FROM pw WHERE pe < 10000)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS name,
       |         CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
       |  UNION ALL SELECT 1, 'exact_dedup', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
       |  UNION ALL SELECT 2, 'near_dup_canonical', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
       |  UNION ALL SELECT 3, 'quality_funnel', CAST((SELECT COUNT(*) FROM s4) AS BIGINT)
       |  UNION ALL SELECT 4, 'budget_select', CAST((SELECT COUNT(*) FROM s5) AS BIGINT))
       |ORDER BY stage""".stripMargin

  /** q122: cell profile — the q62 seed/assign prologue, then counts,
    * shares, and the global balance factor. */
  private def cellProfileSql(nlist: Int = 16): String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS cell, ve AS ce, sqrt(${dotSql("ve", "ve")}) AS cnrm
       |  FROM seeded WHERE rn <= $nlist
       |), ascore AS (
       |  SELECT v.vec_id, cent.cell, ${dotSql("v.ve", "cent.ce")} / cent.cnrm AS s
       |  FROM v CROSS JOIN cent
       |), assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore) WHERE rk = 1
       |), cells AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM assign GROUP BY cell
       |), t AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(MAX(n) AS BIGINT) AS max_n FROM cells
       |)
       |SELECT cell, n, total,
       |  CAST(n AS DOUBLE) / total AS share,
       |  CAST(max_n AS DOUBLE) * $nlist / total AS balance_factor
       |FROM cells, t ORDER BY cell""".stripMargin

  /** q119: contrastive pairs — the q62 seed/assign prologue, positive =
    * same-cell cosine argmax, negatives = rank-hash draw over other-cell
    * pairs (hash asc, then the composite key string asc — exactly the
    * reservoir's tie-break). */
  private def contrastivePairsSql(nlist: Int = 16, kNeg: Int = 5): String = {
    val ck = "CONCAT(CAST(a.vec_id AS VARCHAR), ':', CAST(c.vec_id AS VARCHAR))"
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), nv AS (
       |  SELECT vec_id, ve, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS cell, ve AS ce, sqrt(${dotSql("ve", "ve")}) AS cnrm
       |  FROM seeded WHERE rn <= $nlist
       |), ascore AS (
       |  SELECT v.vec_id, cent.cell, ${dotSql("v.ve", "cent.ce")} / cent.cnrm AS s
       |  FROM v CROSS JOIN cent
       |), assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore) WHERE rk = 1
       |), pos AS (
       |  SELECT query_id, 'positive' AS pair_type, other_id, cos_sim FROM (
       |    SELECT a.vec_id AS query_id, c.vec_id AS other_id,
       |           ${dotSql("qn.ve", "cn.ve")} / (qn.nrm * cn.nrm) AS cos_sim,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${dotSql("qn.ve", "cn.ve")} / (qn.nrm * cn.nrm) DESC,
       |                      c.vec_id ASC) AS rk
       |    FROM assign a
       |    JOIN assign c ON c.cell = a.cell AND c.vec_id <> a.vec_id
       |    JOIN nv qn ON qn.vec_id = a.vec_id
       |    JOIN nv cn ON cn.vec_id = c.vec_id
       |    WHERE a.vec_id < 10)
       |  WHERE rk = 1
       |), negids AS (
       |  SELECT query_id, other_id FROM (
       |    SELECT a.vec_id AS query_id, c.vec_id AS other_id,
       |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |             CAST(CONCAT('0x', substring(md5($ck), 1, 15)) AS BIGINT) ASC,
       |             $ck ASC) AS rk
       |    FROM assign a JOIN assign c ON c.cell <> a.cell
       |    WHERE a.vec_id < 10)
       |  WHERE rk <= $kNeg
       |), neg AS (
       |  SELECT p.query_id, 'negative' AS pair_type, p.other_id,
       |         ${dotSql("qn.ve", "cn.ve")} / (qn.nrm * cn.nrm) AS cos_sim
       |  FROM negids p
       |  JOIN nv qn ON qn.vec_id = p.query_id
       |  JOIN nv cn ON cn.vec_id = p.other_id
       |)
       |SELECT * FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
       |ORDER BY query_id, pair_type, other_id""".stripMargin
  }

  /** q96: recall@k — replays BOTH the brute-force ground truth (the q34
    * pipeline) and the IVF approximation (the q62 pipeline) from the same
    * shared CTE prologue, then the per-query overlap arithmetic. */
  private def annRecallSql(nlist: Int = 16, nprobe: Int = 4, k: Int = 10): String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), nv AS (
       |  SELECT vec_id, ve, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v
       |), tscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("q.ve", "c.ve")} / (q.nrm * c.nrm) AS cos_sim
       |  FROM nv q, nv c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |    FROM tscored) WHERE rank <= $k
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS cell, ve AS ce, sqrt(${dotSql("ve", "ve")}) AS cnrm
       |  FROM seeded WHERE rn <= $nlist
       |), ascore AS (
       |  SELECT v.vec_id, cent.cell, ${dotSql("v.ve", "cent.ce")} / cent.cnrm AS s
       |  FROM v CROSS JOIN cent
       |), assign AS (
       |  SELECT vec_id AS neighbor_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore) WHERE rk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore WHERE vec_id < 10) WHERE rk <= $nprobe
       |), cand AS (
       |  SELECT p.query_id, a.neighbor_id
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE a.neighbor_id <> p.query_id
       |), ascored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         ${dotSql("q.ve", "c.ve")} / (q.nrm * c.nrm) AS cos_sim
       |  FROM cand
       |  JOIN nv q ON q.vec_id = cand.query_id
       |  JOIN nv c ON c.vec_id = cand.neighbor_id
       |), approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |    FROM ascored) WHERE rank <= $k
       |), hits AS (
       |  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |  FROM truth t JOIN approx a
       |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |  GROUP BY t.query_id
       |), tc AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth GROUP BY query_id
       |)
       |SELECT tc.query_id, tc.n_truth, COALESCE(h.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / tc.n_truth AS recall
       |FROM tc LEFT JOIN hits h ON tc.query_id = h.query_id
       |ORDER BY tc.query_id""".stripMargin

  /** Full DuckDB replay of q76 (PQ ANN): same seeded codebooks (the IVF
    * md5 ranking, sliced per subspace), projection-quantizer assignment
    * (normalized dot, score DESC / centroid ASC tie-break = BestCentroid's
    * strict-> first-max), per-query raw-dot tables, and the ascending-
    * subspace left-fold score sum (list_reduce over mi-ordered parts —
    * plain SUM would be order-nondeterministic in floating point). */
  private def pqAnnSql(m: Int = 8, ksub: Int = 16, dims: Int = 64): String = {
    val sub = dims / m
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS ck, ve AS ce FROM seeded WHERE rn <= $ksub
       |), sub AS (
       |  SELECT unnest(range(0, $m)) AS mi
       |), parts AS (
       |  -- dot of every vector's mi-th slice with every centroid's mi-th
       |  -- slice, plus the centroid slice norm for the assignment metric
       |  SELECT v.vec_id, s.mi, cent.ck,
       |         ${dotSql(s"list_slice(v.ve, s.mi * $sub + 1, (s.mi + 1) * $sub)",
                          s"list_slice(cent.ce, s.mi * $sub + 1, (s.mi + 1) * $sub)")} AS d,
       |         sqrt(${dotSql(s"list_slice(cent.ce, s.mi * $sub + 1, (s.mi + 1) * $sub)",
                               s"list_slice(cent.ce, s.mi * $sub + 1, (s.mi + 1) * $sub)")}) AS cn
       |  FROM v CROSS JOIN sub s CROSS JOIN cent
       |), codes AS (
       |  SELECT vec_id AS neighbor_id, mi, ck AS code FROM (
       |    SELECT vec_id, mi, ck,
       |           row_number() OVER (PARTITION BY vec_id, mi
       |                              ORDER BY d / cn DESC, ck ASC) AS rk
       |    FROM parts) WHERE rk = 1
       |), scored AS (
       |  -- ADC: query-side raw dots looked up at the candidate's codes,
       |  -- summed in ascending-mi fold order (mirrors the Spark + chain)
       |  SELECT q.vec_id AS query_id, c.neighbor_id,
       |         list_reduce(list(q.d ORDER BY q.mi), (x, y) -> x + y) AS approx_dot
       |  FROM parts q
       |  JOIN codes c ON c.mi = q.mi AND c.code = q.ck
       |  WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id
       |  GROUP BY q.vec_id, c.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, approx_dot,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY approx_dot DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, approx_dot, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Full DuckDB replay of q86 (semantic dedup): same seeded centroids and
    * argmax assignment as the q62 IVF oracle, within-cell pairs at cosine
    * ≥ tau, a vector is kept unless a smaller-id same-cell neighbor
    * matches it. */
  private def semanticDedupSql(nlist: Int = 16, tau: Double = 0.35): String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
       |), nv AS (
       |  SELECT vec_id, ve, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v
       |), seeded AS (
       |  SELECT vec_id, ve,
       |         row_number() OVER (ORDER BY
       |           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |             & 2147483647, vec_id) AS rn
       |  FROM v
       |), cent AS (
       |  SELECT rn - 1 AS cell, ve AS ce, sqrt(${dotSql("ve", "ve")}) AS cnrm
       |  FROM seeded WHERE rn <= $nlist
       |), ascore AS (
       |  SELECT v.vec_id, cent.cell, ${dotSql("v.ve", "cent.ce")} / cent.cnrm AS s
       |  FROM v CROSS JOIN cent
       |), assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
       |    FROM ascore) WHERE rk = 1
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN nv x ON x.vec_id = a.vec_id
       |  JOIN nv y ON y.vec_id = b.vec_id
       |  WHERE ${dotSql("x.ve", "y.ve")} / (x.nrm * y.nrm) >= $tau
       |)
       |SELECT a.vec_id, a.cell, d.vec_id IS NULL AS kept
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Full DuckDB replay of q36 (embedding near-dup): bucket self-join →
    * cosine verify at 0.4, mirroring Similarity.nearDupPairs. */
  private def embedNeardupSql: String =
    s"""WITH ${lshPrologue()},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id
       |)
       |SELECT * FROM (
       |  SELECT cand.doc_a, cand.doc_b,
       |         ${dotSql("x.ve", "y.ve")} / (x.nrm * y.nrm) AS cos_sim
       |  FROM cand
       |  JOIN nv x ON x.vec_id = cand.doc_a
       |  JOIN nv y ON y.vec_id = cand.doc_b
       |)
       |WHERE cos_sim >= 0.4 ORDER BY doc_a, doc_b""".stripMargin

  /** Word 3-gram distinct shingle set of `text` (tokens = split on ' '),
    * with the shorter-than-n whole-text fallback. */
  private val shingles3 =
    """CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
      |     ELSE list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |            i -> concat_ws(' ', string_split(text, ' ')[i],
      |                                string_split(text, ' ')[i+1],
      |                                string_split(text, ' ')[i+2]))) END""".stripMargin

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "was", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en", "que", "por"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "他", "这", "不", "人"))

  private val langs = stopwords.keys.toSeq.sorted

  private def scoreSql(l: String): String = {
    val set = stopwords(l).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS BIGINT) AS score_$l"
  }

  /** Full DuckDB replay of the portable MinHash+LSH pipeline (q52) —
    * constants shared with Dedup.permConstants; all arithmetic stays
    * below 2^62 (31-bit hash × 31-bit constants) so plain BIGINT math is
    * identical on both engines, no overflow anywhere. */
  private def minhashPortableSql: String = {
    val numPerm = 64
    val bands = 16
    val rowsPerBand = numPerm / bands
    val consts = graft.operators.Dedup.permConstants(numPerm)
    val minCols = consts.zipWithIndex.map { case ((c, d), p) =>
      s"min(h * $c + $d) AS m$p"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand).map(p => s"m$p").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, concat_ws(',', $key) AS band_key FROM mins"
    }.mkString("\n  UNION ALL ")
    s"""WITH tk AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |), sh0 AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
       |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END AS ss
       |  FROM tk
       |), shx AS (
       |  SELECT doc_id, unnest(ss) AS s FROM sh0
       |), hs AS (
       |  -- DISTINCT on (doc, h): a 31-bit collision inside one doc must
       |  -- count once, matching Spark's collect_set semantics
       |  SELECT DISTINCT doc_id,
       |         CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT) & 2147483647 AS h
       |  FROM shx
       |), mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), sized AS (
       |  SELECT band_idx, band_key FROM bands
       |  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 100
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN sized s USING (band_idx, band_key)
       |  JOIN bands b USING (band_idx, band_key)
       |  WHERE a.doc_id < b.doc_id
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id
       |), common AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
       |  FROM pairs p
       |  JOIN hs x ON x.doc_id = p.doc_a
       |  JOIN hs y ON y.doc_id = p.doc_b AND y.h = x.h
       |  GROUP BY p.doc_a, p.doc_b
       |)
       |SELECT c.doc_a, c.doc_b,
       |       CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c) AS jaccard
       |FROM common c
       |JOIN sizes na ON na.doc_id = c.doc_a
       |JOIN sizes nb ON nb.doc_id = c.doc_b
       |WHERE CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c) >= 0.7
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q115: the q52 signature/band/pair prologue, then per pair the
    * position-agreement count over the 64 min columns and the exact
    * set Jaccard — est, exact, |err| replayed bit-for-bit. */
  private def minhashAccuracySql: String = {
    val numPerm = 64
    val bands = 16
    val rowsPerBand = numPerm / bands
    val consts = graft.operators.Dedup.permConstants(numPerm)
    val minCols = consts.zipWithIndex.map { case ((c, d), p) =>
      s"min(h * $c + $d) AS m$p"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand).map(p => s"m$p").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, concat_ws(',', $key) AS band_key FROM mins"
    }.mkString("\n  UNION ALL ")
    val agreeSum = (0 until numPerm)
      .map(p => s"CASE WHEN x.m$p = y.m$p THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |), sh0 AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
       |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END AS ss
       |  FROM tk
       |), shx AS (
       |  SELECT doc_id, unnest(ss) AS s FROM sh0
       |), hs AS (
       |  SELECT DISTINCT doc_id,
       |         CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT) & 2147483647 AS h
       |  FROM shx
       |), mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), sized AS (
       |  SELECT band_idx, band_key FROM bands
       |  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 100
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN sized s USING (band_idx, band_key)
       |  JOIN bands b USING (band_idx, band_key)
       |  WHERE a.doc_id < b.doc_id
       |), agree AS (
       |  SELECT p.doc_a, p.doc_b, CAST($agreeSum AS BIGINT) AS n_agree
       |  FROM pairs p
       |  JOIN mins x ON x.doc_id = p.doc_a
       |  JOIN mins y ON y.doc_id = p.doc_b
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id
       |), common AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
       |  FROM pairs p
       |  JOIN hs x ON x.doc_id = p.doc_a
       |  JOIN hs y ON y.doc_id = p.doc_b AND y.h = x.h
       |  GROUP BY p.doc_a, p.doc_b
       |)
       |SELECT a.doc_a, a.doc_b, a.n_agree,
       |  CAST(a.n_agree AS DOUBLE) / $numPerm AS est_jaccard,
       |  CAST(COALESCE(c.c, 0) AS DOUBLE) / (na.n + nb.n - COALESCE(c.c, 0)) AS exact_jaccard,
       |  abs(CAST(a.n_agree AS DOUBLE) / $numPerm -
       |      CAST(COALESCE(c.c, 0) AS DOUBLE) / (na.n + nb.n - COALESCE(c.c, 0))) AS abs_err
       |FROM agree a
       |LEFT JOIN common c ON c.doc_a = a.doc_a AND c.doc_b = a.doc_b
       |JOIN sizes na ON na.doc_id = a.doc_a
       |JOIN sizes nb ON nb.doc_id = a.doc_b
       |ORDER BY a.doc_a, a.doc_b""".stripMargin
  }

  /** DuckDB replay of the INCREMENTAL near-dup probe (q75): same portable
    * signature CTEs as q52, split into new slice vs indexed corpus; the
    * bucket cap applies to the INDEX side only (the probe side supplies
    * the other bucket member). */
  private def incrementalNeardupSql: String = {
    val numPerm = 64
    val bands = 16
    val rowsPerBand = numPerm / bands
    val consts = graft.operators.Dedup.permConstants(numPerm)
    val minCols = consts.zipWithIndex.map { case ((c, d), p) =>
      s"min(h * $c + $d) AS m$p"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand).map(p => s"m$p").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, concat_ws(',', $key) AS band_key FROM mins"
    }.mkString("\n  UNION ALL ")
    s"""WITH tk AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |), sh0 AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
       |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END AS ss
       |  FROM tk
       |), shx AS (
       |  SELECT doc_id, unnest(ss) AS s FROM sh0
       |), hs AS (
       |  SELECT DISTINCT doc_id,
       |         CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT) & 2147483647 AS h
       |  FROM shx
       |), mins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), newb AS (
       |  SELECT * FROM bands WHERE doc_id % 10 = 0
       |), oldb AS (
       |  SELECT * FROM bands WHERE doc_id % 10 <> 0
       |), capped AS (
       |  SELECT band_idx, band_key FROM oldb
       |  GROUP BY 1, 2 HAVING COUNT(*) <= 100
       |), cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS corpus_id
       |  FROM newb n
       |  JOIN oldb o USING (band_idx, band_key)
       |  JOIN capped c USING (band_idx, band_key)
       |  WHERE n.doc_id <> o.doc_id
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id
       |), common AS (
       |  SELECT p.new_id, p.corpus_id, COUNT(*) AS c
       |  FROM cand p
       |  JOIN hs x ON x.doc_id = p.new_id
       |  JOIN hs y ON y.doc_id = p.corpus_id AND y.h = x.h
       |  GROUP BY p.new_id, p.corpus_id
       |)
       |SELECT c.new_id, c.corpus_id,
       |       CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c) AS jaccard
       |FROM common c
       |JOIN sizes na ON na.doc_id = c.new_id
       |JOIN sizes nb ON nb.doc_id = c.corpus_id
       |WHERE CAST(c.c AS DOUBLE) / (na.n + nb.n - c.c) >= 0.7
       |ORDER BY new_id, corpus_id""".stripMargin
  }

  /** DuckDB replay of the portable SimHash pipeline (q53). */
  private def simhashPortableSql: String = {
    val voteCols = (0 until 32).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(",\n    ")
    val sigExpr = (0 until 32).map(i =>
      s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, (s >> ${b * 8}) & 255 AS band_key FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH tokh AS (
       |  SELECT doc_id,
       |         CAST(CONCAT('0x', substring(md5(unnest(string_split(text, ' '))), 1, 15)) AS BIGINT)
       |           & 2147483647 AS h
       |  FROM documents
       |), votes AS (
       |  SELECT doc_id,
       |    $voteCols
       |  FROM tokh GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, $sigExpr AS s FROM votes
       |), bands AS (
       |  $bandSelects
       |), sized AS (
       |  SELECT band_idx, band_key FROM bands
       |  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 100
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN sized z USING (band_idx, band_key)
       |  JOIN bands b USING (band_idx, band_key)
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT p.doc_a, p.doc_b,
       |       CAST(bit_count(xor(sa.s, sb.s)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN sig sa ON sa.doc_id = p.doc_a
       |JOIN sig sb ON sb.doc_id = p.doc_b
       |WHERE bit_count(xor(sa.s, sb.s)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Quality score exactly as q38's oracle (and TextAnalysis) spell it. */
  private val qualityScoreSql =
    """least(1.0, (length(text) - length(replace(text, ' ', '')) + 1) / 100.0) * 0.5
      |  + least(1.0, (CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / (length(text) - length(replace(text, ' ', '')) + 1)) / 8) * 0.3
      |  + least(1.0, (CAST((length(text) - length(replace(text, 'the', ''))) / 3
      |      + (length(text) - length(replace(text, ' a ', ''))) / 3 AS DOUBLE)
      |      / (length(text) - length(replace(text, ' ', '')) + 1)) * 5) * 0.2""".stripMargin

  /** The composed q55 pipeline from the individually-proven fragments. */
  private def trainingPipelineSql: String = {
    val scores = langs.map(scoreSql).mkString(",\n    ")
    val caseLang =
      s"CASE ${langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")} ELSE 'und' END"
    s"""WITH canon AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
       |), kept AS (
       |  SELECT d.doc_id, d.text FROM documents d JOIN canon USING (doc_id)
       |), lang0 AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM kept
       |), lang AS (
       |  SELECT doc_id, $caseLang AS pred_lang
       |  FROM (SELECT *, greatest(${langs.map(l => s"score_$l").mkString(", ")}) AS best FROM lang0)
       |), feats AS (
       |  SELECT doc_id,
       |    $qualityScoreSql AS q,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws
       |  FROM kept
       |), spl AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |          CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
       |        FROM kept)
       |)
       |SELECT s.split, l.pred_lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN f.q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
       |  CAST(SUM(f.ws) AS BIGINT) AS total_tokens
       |FROM lang l
       |JOIN feats f USING (doc_id)
       |JOIN spl s USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- exact XXH64 replay: oracles for the PRODUCTION xxhash paths ----

  /** DuckDB scalar macros implementing Spark's `xxhash64` — standard
    * XXH64 with seed 42 over the string's UTF-8 bytes — in 64-bit modular
    * arithmetic on HUGEINT (mul via 32-bit limb split, xor through signed
    * BIGINT, rotations as divide/multiply by powers of two; byte access
    * via `hex(encode(s))`). Validated value-for-value against Spark's
    * xxhash64 on empty/short/8B/31B/32B/100B inputs. Prepended as a
    * CREATE-MACRO statement batch to the oracles below (the gate's single
    * `execute` call runs multi-statement SQL). */
  private val xxMacros: String = List(
    "CREATE OR REPLACE MACRO xx_mod(a) AS a % 18446744073709551616::HUGEINT",
    "CREATE OR REPLACE MACRO xx_u(b) AS CASE WHEN b < 0 THEN b::HUGEINT + 18446744073709551616::HUGEINT ELSE b::HUGEINT END",
    "CREATE OR REPLACE MACRO xx_s(h) AS CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE h::BIGINT END",
    "CREATE OR REPLACE MACRO xx_mul(a, b) AS xx_mod(((((a // 4294967296) * (b % 4294967296) + (a % 4294967296) * (b // 4294967296)) % 4294967296) * 4294967296) + (a % 4294967296) * (b % 4294967296))",
    "CREATE OR REPLACE MACRO xx_add(a, b) AS xx_mod(a + b)",
    "CREATE OR REPLACE MACRO xx_xor(a, b) AS xx_u(xor(xx_s(a), xx_s(b)))",
    "CREATE OR REPLACE MACRO xx_rotl(x, pl, pr) AS (x % pr) * pl + (x // pr)",
    "CREATE OR REPLACE MACRO xx_round(acc, x) AS xx_mul(xx_rotl(xx_add(acc, xx_mul(x, 14029467366897019727::HUGEINT)), 2147483648::HUGEINT, 8589934592::HUGEINT), 11400714785074694791::HUGEINT)",
    "CREATE OR REPLACE MACRO xx_mergeacc(acc, v) AS xx_add(xx_mul(xx_xor(acc, xx_round(0::HUGEINT, v)), 11400714785074694791::HUGEINT), 9650029242287828579::HUGEINT)",
    "CREATE OR REPLACE MACRO xx_byte(hh, i) AS ((strpos('0123456789ABCDEF', substr(hh, 2*i+1, 1)) - 1) * 16 + (strpos('0123456789ABCDEF', substr(hh, 2*i+2, 1)) - 1))::HUGEINT",
    "CREATE OR REPLACE MACRO xx_read8(hh, i) AS xx_byte(hh, i) + xx_byte(hh, i+1) * 256::HUGEINT + xx_byte(hh, i+2) * 65536::HUGEINT + xx_byte(hh, i+3) * 16777216::HUGEINT + xx_byte(hh, i+4) * 4294967296::HUGEINT + xx_byte(hh, i+5) * 1099511627776::HUGEINT + xx_byte(hh, i+6) * 281474976710656::HUGEINT + xx_byte(hh, i+7) * 72057594037927936::HUGEINT",
    "CREATE OR REPLACE MACRO xx_read4(hh, i) AS xx_byte(hh, i) + xx_byte(hh, i+1) * 256::HUGEINT + xx_byte(hh, i+2) * 65536::HUGEINT + xx_byte(hh, i+3) * 16777216::HUGEINT",
    """CREATE OR REPLACE MACRO xx_stripes(hh, n, seed) AS list_reduce(
      |  list_prepend(
      |    {'v1': xx_mod(seed::HUGEINT + 11400714785074694791::HUGEINT + 14029467366897019727::HUGEINT),
      |     'v2': xx_mod(seed::HUGEINT + 14029467366897019727::HUGEINT),
      |     'v3': seed::HUGEINT,
      |     'v4': xx_mod(seed::HUGEINT + 18446744073709551616::HUGEINT - 11400714785074694791::HUGEINT)},
      |    list_transform(range(0, n // 32), i ->
      |      {'v1': xx_read8(hh, 32*i), 'v2': xx_read8(hh, 32*i+8),
      |       'v3': xx_read8(hh, 32*i+16), 'v4': xx_read8(hh, 32*i+24)})),
      |  (a, x) -> {'v1': xx_round(a.v1, x.v1), 'v2': xx_round(a.v2, x.v2),
      |             'v3': xx_round(a.v3, x.v3), 'v4': xx_round(a.v4, x.v4)})""".stripMargin,
    """CREATE OR REPLACE MACRO xx_tail8(acc, hh, n) AS list_reduce(
      |  list_prepend(acc, list_transform(range(0, (n % 32) // 8), j -> xx_read8(hh, (n // 32) * 32 + 8*j))),
      |  (a, k) -> xx_add(xx_mul(xx_rotl(xx_xor(a, xx_round(0::HUGEINT, k)), 134217728::HUGEINT, 137438953472::HUGEINT), 11400714785074694791::HUGEINT), 9650029242287828579::HUGEINT))""".stripMargin,
    """CREATE OR REPLACE MACRO xx_tail4(acc, hh, n) AS CASE WHEN n % 8 >= 4
      |  THEN xx_add(xx_mul(xx_rotl(xx_xor(acc, xx_mul(xx_read4(hh, n - (n % 8)), 11400714785074694791::HUGEINT)), 8388608::HUGEINT, 2199023255552::HUGEINT), 14029467366897019727::HUGEINT), 1609587929392839161::HUGEINT)
      |  ELSE acc END""".stripMargin,
    """CREATE OR REPLACE MACRO xx_tailb(acc, hh, n) AS list_reduce(
      |  list_prepend(acc, list_transform(range(0, n % 4), j -> xx_byte(hh, n - (n % 4) + j))),
      |  (a, b) -> xx_mul(xx_rotl(xx_xor(a, xx_mul(b, 2870177450012600261::HUGEINT)), 2048::HUGEINT, 9007199254740992::HUGEINT), 11400714785074694791::HUGEINT))""".stripMargin
  ).mkString(";\n") + ";\n"

  /** DuckDB replay of [[graft.operators.Search.log2q10Sql]]'s fixed-point
    * binary log (10 fractional bits): bit-length exponent, 2^20-scaled
    * mantissa, ten exact integer squaring steps. Staged as MATERIALIZED
    * CTE levels (the xxTokenHashChain discipline) rather than a
    * `list_reduce` lambda macro: DuckDB 1.0.0 evaluates struct-state
    * lambdas over table vectors NONDETERMINISTICALLY (the same query
    * flip-flops between two answers run-to-run — measured on this very
    * pipeline; scalar-constant calls are stable), while plain staged
    * integer columns are deterministic. Validated value-for-value
    * against the Spark expression and an independent Scala replay in
    * `SearchSpec`.
    *
    * Expects a CTE `src` exposing (`key`, x BIGINT, x ≥ 1); emits stage
    * CTEs ending in `lg(key, l2)` with l2 = 1024·log2(x) fixed-point. */
  private def l2Stages(src: String, key: String): String = {
    val sb = new StringBuilder
    sb ++= s"lg_g AS MATERIALIZED (SELECT $key, x, length(bin(x)) - 1 AS e FROM $src),\n"
    sb ++= s"lg_h0 AS MATERIALIZED (SELECT $key, CASE WHEN e >= 20 THEN x // (1::BIGINT << (e - 20)) " +
      s"ELSE x * (1::BIGINT << (20 - e)) END AS m0, e::BIGINT * 1024 AS a0 FROM lg_g),\n"
    for (i <- 1 to 10) {
      val p = i - 1
      val w = 1L << (10 - i) // 512, 256, …, 1
      sb ++= s"lg_h$i AS MATERIALIZED (SELECT $key, " +
        s"CASE WHEN m$p * m$p // 1048576 >= 2097152 THEN m$p * m$p // 2097152 ELSE m$p * m$p // 1048576 END AS m$i, " +
        s"a$p + CASE WHEN m$p * m$p // 1048576 >= 2097152 THEN $w ELSE 0 END AS a$i FROM lg_h$p),\n"
    }
    sb ++= s"lg AS (SELECT $key, a10 AS l2 FROM lg_h10)"
    sb.toString
  }

  /** C155/C158 shared replay: the co-purchase graph + the full 16-round
    * Borůvka schedule (per round: crossing-edge label join, per-
    * component min edge under the (w,a,b,lu,lv) order, 8 inner
    * min-label + pointer-hop contraction rounds, relabel). Emits CTEs
    * p/ew/ecan/lab0/… ending in `msf(a, b, w)`; converged rounds are
    * no-ops on both engines, so the replay stays exact. */
  private def copurchaseMsfChain: String = {
    val sb = new StringBuilder
    for (r <- 1 to 16) {
      val pl = s"lab${r - 1}"
      sb ++= s"""cr$r AS MATERIALIZED (
         |  SELECT e.w, e.a, e.b, la.l AS lu, lb.l AS lv
         |  FROM ecan e JOIN $pl la ON la.node = e.a JOIN $pl lb ON lb.node = e.b
         |  WHERE la.l <> lb.l),
         |cnd$r AS (
         |  SELECT comp, w, a, b, lu, lv,
         |    ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b, lu, lv) AS rn
         |  FROM (SELECT lu AS comp, w, a, b, lu, lv FROM cr$r
         |        UNION ALL SELECT lv, w, a, b, lu, lv FROM cr$r)),
         |sel$r AS MATERIALIZED (SELECT DISTINCT w, a, b, lu, lv FROM cnd$r WHERE rn = 1),
         |u$r AS MATERIALIZED (SELECT lu AS s, lv AS d FROM sel$r UNION SELECT lv, lu FROM sel$r),
         |k${r}_0 AS (SELECT DISTINCT s AS node, s AS l FROM u$r),
         |""".stripMargin
      for (j <- 1 to 8) {
        sb ++= s"""nm${r}_$j AS MATERIALIZED (
           |  SELECT t.node, MIN(t.l) AS l FROM (
           |    SELECT u.d AS node, k.l FROM u$r u JOIN k${r}_${j - 1} k ON k.node = u.s
           |    UNION ALL SELECT node, l FROM k${r}_${j - 1}) t
           |  GROUP BY t.node),
           |k${r}_$j AS MATERIALIZED (
           |  SELECT nm.node, p.l AS l FROM nm${r}_$j nm JOIN nm${r}_$j p ON p.node = nm.l),
           |""".stripMargin
      }
      sb ++= s"""lab$r AS MATERIALIZED (
         |  SELECT lab.node, COALESCE(k.l, lab.l) AS l
         |  FROM $pl lab LEFT JOIN k${r}_8 k ON k.node = lab.l),
         |""".stripMargin
    }
    val unions = (1 to 16).map(r => s"SELECT a, b, w FROM sel$r").mkString("\n    UNION ALL ")
    s"""p AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem),
       |ew AS MATERIALIZED (
       |  SELECT a.pk AS src, b.pk AS dst, -COUNT(*)::BIGINT AS w
       |  FROM p a JOIN p b ON a.o = b.o AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |ecan AS MATERIALIZED (
       |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MIN(w) AS w
       |  FROM ew WHERE src <> dst GROUP BY 1, 2),
       |lab0 AS MATERIALIZED (
       |  SELECT node, node AS l
       |  FROM (SELECT a AS node FROM ecan UNION SELECT b FROM ecan)),
       |${sb.toString}
       |msf AS (SELECT DISTINCT a, b, w FROM (
       |    $unions))""".stripMargin
  }

  /** Staged per-token XXH64 pipeline: expects a CTE `tok` exposing
    * (`carry` columns, tok); emits CTEs ending in `tokh(carry, hu)` with
    * hu = unsigned xxhash64(tok, seed 42) as HUGEINT in [0, 2^64).
    *
    * Every stage is one MATERIALIZED CTE column: DuckDB inlines plain CTE
    * chains textually, and the macro arguments fan out 2-6× per level, so
    * an un-staged composition explodes exponentially at bind time
    * (measured: minutes to bind vs seconds to run staged). */
  private def xxTokenHashChain(carry: String): String =
    s"""t0 AS MATERIALIZED (SELECT $carry, upper(hex(encode(tok))) AS hh, octet_length(encode(tok)) AS n FROM tok),
       |t1 AS MATERIALIZED (SELECT *, CASE WHEN n >= 32 THEN xx_stripes(hh, n, 42) ELSE NULL END AS st FROM t0),
       |t2 AS MATERIALIZED (SELECT *, CASE WHEN st IS NULL THEN NULL ELSE
       |         xx_add(xx_add(xx_rotl(st.v1, 2::HUGEINT, 9223372036854775808::HUGEINT),
       |                       xx_rotl(st.v2, 128::HUGEINT, 144115188075855872::HUGEINT)),
       |                xx_add(xx_rotl(st.v3, 4096::HUGEINT, 4503599627370496::HUGEINT),
       |                       xx_rotl(st.v4, 262144::HUGEINT, 70368744177664::HUGEINT))) END AS conv0 FROM t1),
       |t3 AS MATERIALIZED (SELECT *, CASE WHEN st IS NULL THEN NULL ELSE xx_mergeacc(conv0, st.v1) END AS conv1 FROM t2),
       |t4 AS MATERIALIZED (SELECT *, CASE WHEN st IS NULL THEN NULL ELSE xx_mergeacc(conv1, st.v2) END AS conv2 FROM t3),
       |t5 AS MATERIALIZED (SELECT *, CASE WHEN st IS NULL THEN NULL ELSE xx_mergeacc(conv2, st.v3) END AS conv3 FROM t4),
       |t6 AS MATERIALIZED (SELECT $carry, hh, n, CASE WHEN st IS NULL THEN xx_mod(42::HUGEINT + 2870177450012600261::HUGEINT)
       |                      ELSE xx_mergeacc(conv3, st.v4) END AS body FROM t5),
       |t7 AS MATERIALIZED (SELECT $carry, hh, n, xx_add(body, n::HUGEINT) AS acc FROM t6),
       |t8 AS MATERIALIZED (SELECT $carry, hh, n, xx_tail8(acc, hh, n) AS acc FROM t7),
       |t9 AS MATERIALIZED (SELECT $carry, hh, n, xx_tail4(acc, hh, n) AS acc FROM t8),
       |ta AS MATERIALIZED (SELECT $carry, xx_tailb(acc, hh, n) AS acc FROM t9),
       |tb AS MATERIALIZED (SELECT $carry, xx_mul(xx_xor(acc, acc // 8589934592::HUGEINT), 14029467366897019727::HUGEINT) AS acc FROM ta),
       |tc AS MATERIALIZED (SELECT $carry, xx_mul(xx_xor(acc, acc // 536870912::HUGEINT), 1609587929392839161::HUGEINT) AS acc FROM tb),
       |tokh AS MATERIALIZED (SELECT $carry, xx_xor(acc, acc // 4294967296::HUGEINT) AS hu FROM tc)""".stripMargin

  /** q32: FULL replay of the production SimHash path — per-token XXH64
    * (the macro chain above), ±1 bit votes over the token MULTISET,
    * sign-threshold signature, 4×16-bit bands, 2..1000 bucket self-join,
    * Hamming ≤ 3 verify. Deterministic end-to-end: the oracle pins the
    * exact pair set AND distances of the xxhash production path. */
  private def simhashXxSql: String = {
    // BigInt: bit 63's divisor is 2^63, which overflows a Long literal
    val voteCols = (0 until 64).map(i =>
      s"sum(CASE WHEN (hu // ${BigInt(1) << i}::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n    ")
    val sigSum = (0 until 64).map(i =>
      s"CASE WHEN v$i > 0 THEN ${BigInt(1) << i}::HUGEINT ELSE 0::HUGEINT END").mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, (su // ${1L << (16 * b)}::HUGEINT) % 65536 AS band_key FROM sigs")
      .mkString("\n  UNION ALL ")
    xxMacros +
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(toks) AS tok FROM tk),
       |${xxTokenHashChain("doc_id")},
       |votes AS (SELECT doc_id,
       |    $voteCols
       |  FROM tokh GROUP BY doc_id),
       |sigs AS MATERIALIZED (SELECT doc_id, $sigSum AS su FROM votes),
       |sigx AS MATERIALIZED (SELECT doc_id, xx_s(su) AS s FROM sigs),
       |bands AS MATERIALIZED (
       |  $bandSelects
       |), sized AS (
       |  SELECT band_idx, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 1000
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN sized z USING (band_idx, band_key)
       |  JOIN bands b USING (band_idx, band_key)
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT p.doc_a, p.doc_b, CAST(bit_count(xor(sa.s, sb.s)) AS BIGINT) AS hamming
       |FROM pairs p JOIN sigx sa ON sa.doc_id = p.doc_a JOIN sigx sb ON sb.doc_id = p.doc_b
       |WHERE bit_count(xor(sa.s, sb.s)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q40: FULL replay of the production rolling-hash fingerprint — each
    * token's XXH64 reduced mod M (sign-adjusted like HashUtil.xx64ModM),
    * then the order-sensitive fold acc = (acc*31 + h) mod M over the
    * document's token sequence (zipped-unnest ordinality keeps order;
    * all terms < 2^54, exact in BIGINT on both engines). */
  private def fingerprintXxSql: String = {
    val M = graft.functions.HashUtil.M
    xxMacros +
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(toks)+1)) AS ord, unnest(toks) AS tok FROM tk),
       |${xxTokenHashChain("doc_id, ord")},
       |hmod AS (SELECT doc_id, ord, ((xx_s(hu) % $M) + $M) % $M AS h FROM tokh)
       |SELECT doc_id,
       |       list_reduce(list_prepend(0::BIGINT, list(h ORDER BY ord)),
       |                   (a, x) -> (a * 31 + x) % $M) AS fingerprint
       |FROM hmod GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q31: the production MinHash+LSH path is gated against GROUND TRUTH —
    * the corpus-wide all-pairs exact-Jaccard set at the same 0.7
    * threshold (the q33 shingle replay, without the per-source grouping).
    * The production path exact-verifies its LSH candidates, so its output
    * equals this set exactly when LSH recall is complete — which it is on
    * the gate corpora (deterministic: same hashes, same corpus every
    * run), making the oracle a recall + verify-arithmetic proof, stronger
    * than replaying the LSH (a replay would also bless recall misses). */
  private def minhashTruthSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, $shingles3 AS s FROM documents
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin

  // C12: predicted round-trip of the image-container codecs — the same
  // geometry arithmetic the Spark plan feeds graft.functions.ImageFunctions.imageBytes,
  // plus a hex-wise SQL re-construction of the JPEG/JFIF and GIF89a byte
  // layouts (ISO 10918 marker segments / GIF logical-screen descriptor)
  // and of the PNG signature+IHDR prefix (RFC 2083; CRC-32 excluded —
  // not SQL-expressible), so the encoder's bytes and the parser's
  // recovered metadata are both value-gated.
  private val imageMetaSql: String =
    """WITH base AS (
      |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS kind,
      |         CAST(n_chars % 1900 + 1 AS INT) AS width,
      |         CAST(doc_id % 1060 + 1 AS INT) AS height,
      |         CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 2 + 1) * 8
      |                   WHEN doc_id % 3 = 1 THEN 8
      |                   ELSE doc_id % 8 + 1 END AS INT) AS depth,
      |         CAST(doc_id % 13 AS INT) AS pad
      |  FROM documents)
      |SELECT doc_id,
      |  CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
      |  width, height, depth,
      |  upper(CASE kind
      |    WHEN 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452'
      |      || lpad(to_hex(width), 8, '0') || lpad(to_hex(height), 8, '0')
      |      || lpad(to_hex(depth), 2, '0') || '06' || '000000'
      |    WHEN 1 THEN 'FFD8' || 'FFE0' || '0010' || '4A46494600' || '0102'
      |      || '00' || '0001' || '0001' || '0000'
      |      || 'FFFE' || lpad(to_hex(pad + 2), 4, '0') || repeat('78', pad)
      |      || 'FFC0' || '0011' || lpad(to_hex(depth), 2, '0')
      |      || lpad(to_hex(height), 4, '0') || lpad(to_hex(width), 4, '0')
      |      || '03' || '011100' || '021101' || '031101'
      |      || 'FFDA' || '000C' || '03' || '0100' || '0211' || '0311' || '003F00'
      |      || 'FFD9'
      |    ELSE '474946383961'
      |      || lpad(to_hex(width % 256), 2, '0') || lpad(to_hex(width // 256), 2, '0')
      |      || lpad(to_hex(height % 256), 2, '0') || lpad(to_hex(height // 256), 2, '0')
      |      || lpad(to_hex(((depth - 1) % 8) * 16 + ((depth - 1) % 8)), 2, '0')
      |      || '0000'
      |  END) AS media_hex
      |FROM base ORDER BY doc_id""".stripMargin

  // hex-building macros shared by the WAV/MP4 container oracles:
  // one byte, and little/big-endian 16/32-bit words (nesting depth 2 —
  // safely inside DuckDB's textual macro-inlining budget)
  private val endianMacros: String =
    """CREATE OR REPLACE MACRO h2(x) AS lpad(to_hex(CAST(x AS BIGINT) % 256), 2, '0');
      |CREATE OR REPLACE MACRO u16le(x) AS h2(x) || h2(x // 256);
      |CREATE OR REPLACE MACRO u32le(x) AS h2(x) || h2(x // 256) || h2(x // 65536) || h2(x // 16777216);
      |CREATE OR REPLACE MACRO u32be(x) AS h2(x // 16777216) || h2(x // 65536) || h2(x // 256) || h2(x);
      |""".stripMargin

  // C12 (audio): predicted WAV/RIFF round-trip — the same geometry
  // arithmetic the Spark plan feeds graft.functions.MediaFunctions.audioBytes, plus a
  // hex-wise SQL re-construction of the ENTIRE RIFF byte stream
  // (RIFF 1.0: LIST/INFO/ICMT comment chunk, canonical 16-byte `fmt `,
  // zeroed PCM `data`, word-alignment pads — no checksum anywhere, so
  // the byte gate is total).
  private val audioMetaSql: String = endianMacros +
    """WITH base AS (
      |  SELECT doc_id,
      |         CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INT) + 1] AS BIGINT) AS rate,
      |         doc_id % 2 + 1 AS ch,
      |         (doc_id % 3 + 1) * 8 AS bits,
      |         n_chars % 120 + 1 AS n,
      |         doc_id % 11 AS pad
      |  FROM documents),
      |geo AS (
      |  SELECT *, ch * (bits // 8) AS block,
      |         n * ch * (bits // 8) AS dsize,
      |         pad + pad % 2 AS p2
      |  FROM base)
      |SELECT doc_id, 'wav' AS format, CAST(rate AS INT) AS sample_rate,
      |  CAST(ch AS INT) AS channels, CAST(bits AS INT) AS bits,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
      |  upper('52494646' || u32le(56 + p2 + dsize + dsize % 2) || '57415645'
      |   || '4C495354' || u32le(12 + p2) || '494E464F'
      |   || '49434D54' || u32le(pad) || repeat('78', CAST(pad AS INT))
      |   || CASE WHEN pad % 2 = 1 THEN '00' ELSE '' END
      |   || '666D7420' || '10000000' || '0100' || u16le(ch) || u32le(rate)
      |   || u32le(rate * block) || u16le(block) || u16le(bits)
      |   || '64617461' || u32le(dsize) || repeat('00', CAST(dsize AS INT))
      |   || CASE WHEN dsize % 2 = 1 THEN '00' ELSE '' END) AS media_hex
      |FROM geo ORDER BY doc_id""".stripMargin

  // C12 (audio, AAC): predicted ADTS round-trip — every 7-byte header
  // field re-derived bit-arithmetically (profile AAC-LC, sfi, channel
  // config straddling the byte boundary, the 13-bit frame_length split
  // across three bytes, VBR fullness, rdb=1) and the whole multi-frame
  // stream re-built hex-wise: protection_absent means no CRC, so the
  // byte gate is total, like WAV/MP4.
  private val adtsMetaSql: String = endianMacros +
    """WITH base AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 9 + 3 AS BIGINT) AS sfi,
      |         CAST([48000,44100,32000,24000,22050,16000,12000,11025,8000][CAST(doc_id % 9 AS INT) + 1] AS BIGINT) AS rate,
      |         doc_id % 3 + 1 AS ch,
      |         n_chars % 9 + 1 AS frames,
      |         doc_id % 50 AS plen
      |  FROM documents),
      |geo AS (SELECT *, plen + 7 AS flen FROM base)
      |SELECT doc_id, 'aac-adts' AS format, CAST(rate AS INT) AS sample_rate,
      |  CAST(ch AS INT) AS channels, 2 AS profile,
      |  CAST(frames AS BIGINT) AS frames,
      |  CAST(frames * 1024 AS BIGINT) AS n_samples,
      |  CAST(frames * 1024 * 1000 // rate AS BIGINT) AS duration_ms,
      |  upper(repeat(
      |    'FFF1' || h2(64 + sfi * 4 + ch // 4) || h2((ch % 4) * 64 + flen // 2048)
      |    || h2((flen // 8) % 256) || h2((flen % 8) * 32 + 31) || 'FC'
      |    || repeat('AA', CAST(plen AS INT)), CAST(frames AS INT))) AS media_hex
      |FROM geo ORDER BY doc_id""".stripMargin

  // C12 (audio, Vorbis): predicted Ogg metadata — the generation
  // parameters re-derived arithmetically (two pages, identification
  // header channels/rate, EOS granule = total samples). The RFC 3533
  // page CRC keeps the byte stream itself out of SQL reach (unlike the
  // checksum-free ADTS/WAV/MP4 containers), so the gate is the parsed
  // metadata; MultimodalSpec pins the CRC bit-exactly.
  private val oggMetaSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |         doc_id % 2 + 1 AS ch,
      |         CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INT) + 1] AS BIGINT) AS rate,
      |         n_chars * 50 + 1 AS ts,
      |         doc_id % 100000 AS serial
      |  FROM documents)
      |SELECT doc_id, 'ogg-vorbis' AS format, CAST(rate AS INT) AS sample_rate,
      |  CAST(ch AS INT) AS channels, CAST(2 AS BIGINT) AS pages,
      |  CAST(ts AS BIGINT) AS total_samples, CAST(serial AS BIGINT) AS serial,
      |  CAST(ts * 1000 // rate AS BIGINT) AS duration_ms
      |FROM base ORDER BY doc_id""".stripMargin

  // C12 (audio, FLAC): the lossless-codec gate — the decoded stream's
  // metadata and ORDER-SENSITIVE integer sample stats computed from the
  // same closed-form sawtooth the Spark kernel synthesizes; the lateral
  // generate_series replays every sample, so a decode defect of any kind
  // (value, order, count) breaks sum/min/max/Σi·x exactly. roundtrip_ok
  // is pinned TRUE (the kernel's own decode==input check).
  private val flacRoundtripSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |         n_chars % 400 + 50 AS n,
      |         doc_id % 97 + 1 AS step,
      |         CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INT) + 1] AS INT) AS rate
      |  FROM documents),
      |samp AS (
      |  SELECT b.doc_id, b.n, b.rate, i.i,
      |         CAST((b.doc_id * 31 + i.i * b.step) % 4096 - 2048 AS BIGINT) AS x
      |  FROM base b, LATERAL (SELECT unnest(generate_series(0, b.n - 1)) AS i) i),
      |st AS (
      |  SELECT doc_id, MAX(n) AS n, MAX(rate) AS rate,
      |         CAST(SUM(x) AS BIGINT) AS sum_s,
      |         CAST(MIN(x) AS BIGINT) AS min_s,
      |         CAST(MAX(x) AS BIGINT) AS max_s,
      |         CAST(SUM(i * x) AS BIGINT) AS wsum_s
      |  FROM samp GROUP BY doc_id)
      |SELECT doc_id, 'flac' AS format, rate AS sample_rate, 1 AS channels,
      |  16 AS bits, CAST(n AS BIGINT) AS total_samples,
      |  sum_s, min_s, max_s, wsum_s, TRUE AS roundtrip_ok
      |FROM st ORDER BY doc_id""".stripMargin

  // C12 (video): predicted MP4/ISO-BMFF round-trip — ftyp (isom/mp42),
  // variable-length free box, moov/mvhd v0 (timescale, duration, unity
  // rate/volume/matrix, next_track_ID 2), all re-built hex-wise.
  private val videoMetaSql: String = endianMacros +
    """WITH base AS (
      |  SELECT doc_id,
      |         CAST([600,1000,24000,30000,90000][CAST(doc_id % 5 AS INT) + 1] AS BIGINT) AS ts,
      |         n_chars * (doc_id % 7 + 1) AS dur,
      |         doc_id % 17 AS pad
      |  FROM documents)
      |SELECT doc_id, 'mp4' AS format, 'isom' AS brand, CAST(ts AS INT) AS timescale,
      |  CAST(dur AS BIGINT) AS duration,
      |  CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
      |  upper('00000018' || '66747970' || '69736F6D' || '00000200' || '69736F6D' || '6D703432'
      |   || u32be(8 + pad) || '66726565' || repeat('00', CAST(pad AS INT))
      |   || u32be(116) || '6D6F6F76'
      |   || u32be(108) || '6D766864' || repeat('00', 12)
      |   || u32be(ts) || u32be(dur)
      |   || '00010000' || '01000000' || repeat('00', 8)
      |   || '00010000' || repeat('00', 12) || '00010000' || repeat('00', 12) || '40000000'
      |   || repeat('00', 24) || '00000002') AS media_hex
      |FROM base ORDER BY doc_id""".stripMargin

  // C65/C68 shared training replay: the classifier oracle verifies
  // TRAINING, not just scoring — all four full-batch LMS gradient steps
  // staged through MATERIALIZED CTEs (plain CTE/macro composition inlines
  // textually and explodes at bind time). DuckDB's `//` floors; the
  // engine's BigInt division truncates toward zero, hence the sign-split
  // CASE on every update. Ends at `sc` = per-doc (n_feats, score).
  private val classifierTrainCtes: String = {
    val iters = (1 to 4).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT fe.doc_id, CAST(SUM(w${i - 1}.wv) AS BIGINT) AS pred
         |  FROM fe JOIN w${i - 1} USING (b) GROUP BY fe.doc_id),
         |g$i AS MATERIALIZED (
         |  SELECT fe.b, SUM(base.ys - p$i.pred) AS g
         |  FROM fe JOIN base USING (doc_id) JOIN p$i USING (doc_id)
         |  GROUP BY fe.b),
         |w$i AS MATERIALIZED (
         |  SELECT w${i - 1}.b, CAST(w${i - 1}.wv + CASE WHEN COALESCE(g$i.g, 0) >= 0
         |      THEN COALESCE(g$i.g, 0) // (4 * n.n)
         |      ELSE -((-COALESCE(g$i.g, 0)) // (4 * n.n)) END AS BIGINT) AS wv
         |  FROM w${i - 1} LEFT JOIN g$i ON w${i - 1}.b = g$i.b CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS ys,
       |    string_split(text, ' ') AS toks
       |  FROM documents),
       |tf AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    CAST(CONCAT('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 16 AS b
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)),
       |fe AS MATERIALIZED (
       |  SELECT doc_id, b FROM tf
       |  UNION ALL SELECT doc_id, CAST(16 AS BIGINT) AS b FROM base),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
       |w0 AS (SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS wv FROM range(17)),
       |$iters,
       |sc AS (
       |  SELECT fe.doc_id, CAST(COUNT(*) - 1 AS BIGINT) AS n_feats,
       |         CAST(SUM(w4.wv) AS BIGINT) AS score
       |  FROM fe JOIN w4 USING (b) GROUP BY fe.doc_id)""".stripMargin
  }

  /** C69: the full BPE training replay — per iteration the pair count
    * (overlaps included, the q106 convention), the (count DESC, left ASC,
    * right ASC) argmax, and the greedy leftmost non-overlapping rewrite
    * via the run-parity window rule, stage-materialized exactly like the
    * engine's per-iteration localCheckpoint. */
  private def bpeTrainCtes(merges: Int): String = {
    val iters = (1 to merges).map { i =>
      val p = i - 1
      s"""w$i AS (SELECT word, wfreq, pos, sym,
         |  LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM f$p),
         |b$i AS MATERIALIZED (
         |  SELECT sym AS l, nxt AS r, CAST(SUM(wfreq) AS BIGINT) AS cnt
         |  FROM w$i WHERE nxt IS NOT NULL GROUP BY sym, nxt
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |x$i AS MATERIALIZED (
         |  SELECT *, COALESCE(m AND ((pos - run_start) % 2 = 0), FALSE) AS do_merge FROM (
         |    SELECT *, MIN(CASE WHEN m THEN pos END)
         |        OVER (PARTITION BY word, run_id) AS run_start FROM (
         |      SELECT *, SUM(rs) OVER (PARTITION BY word ORDER BY pos) AS run_id FROM (
         |        SELECT *, CASE WHEN m AND NOT COALESCE(
         |              LAG(m) OVER (PARTITION BY word ORDER BY pos), FALSE)
         |            THEN 1 ELSE 0 END AS rs FROM (
         |          SELECT word, wfreq, pos, sym, nxt,
         |            (sym = (SELECT l FROM b$i)
         |             AND COALESCE(nxt = (SELECT r FROM b$i), FALSE)) AS m
         |          FROM w$i))))),
         |f$i AS MATERIALIZED (
         |  SELECT word, wfreq,
         |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, sym FROM (
         |    SELECT word, wfreq, pos,
         |      CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym,
         |      COALESCE(LAG(do_merge) OVER (PARTITION BY word ORDER BY pos),
         |               FALSE) AS consumed
         |    FROM x$i) WHERE NOT consumed),
         |s$i AS (SELECT CAST($i AS INT) AS step,
         |  (SELECT l FROM b$i) AS "left", (SELECT r FROM b$i) AS "right",
         |  (SELECT cnt FROM b$i) AS pair_count,
         |  CAST(COALESCE((SELECT SUM(wfreq) FROM x$i WHERE do_merge), 0) AS BIGINT)
         |    AS merged_occurrences,
         |  CAST((SELECT SUM(wfreq) FROM f$i) AS BIGINT) AS corpus_tokens_after)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wfreq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) >= 1 GROUP BY word),
       |f0 AS MATERIALIZED (
       |  SELECT word, wfreq, CAST(u.i AS INT) AS pos,
       |         substr(word, CAST(u.i AS INT), 1) AS sym
       |  FROM wf, LATERAL unnest(range(1, length(word) + 1)) u(i)),
       |$iters""".stripMargin
  }

  private val bpeMerges = 6

  /** C64's full stupid-backoff replay through the per-doc `s` frame —
    * shared by the q134 read-out and the q157 tercile split. */
  private val lmScoreCtes: String =
    """WITH tk AS (
      |  SELECT doc_id, lang = 'en' AS t, string_split(text, ' ') AS toks
      |  FROM documents),
      |uni AS (
      |  SELECT w, COUNT(CASE WHEN t THEN 1 END) AS c
      |  FROM (SELECT t, unnest(toks) AS w FROM tk) GROUP BY w),
      |tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS total FROM tk WHERE t),
      |big AS (
      |  SELECT doc_id, t, z[1] AS w1, z[2] AS w2
      |  FROM (SELECT doc_id, t, unnest(list_zip(toks, toks[2:])) AS z FROM tk)
      |  WHERE z[2] IS NOT NULL),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
      |       FROM big WHERE t GROUP BY w1, w2),
      |db AS (SELECT DISTINCT w1, w2 FROM big),
      |scored AS (
      |  SELECT db.w1, db.w2,
      |    CASE WHEN COALESCE(bi.cb, 0) > 0
      |           THEN (CAST(1000000000 AS BIGINT) * bi.cb) // u1.c
      |         WHEN COALESCE(u2.c, 0) > 0
      |           THEN (CAST(4000000000 AS BIGINT) * u2.c) // (10 * tot.total)
      |         ELSE 0 END AS score
      |  FROM db LEFT JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2
      |    LEFT JOIN uni u1 ON db.w1 = u1.w
      |    LEFT JOIN uni u2 ON db.w2 = u2.w
      |    CROSS JOIN tot),
      |s AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(score) AS BIGINT) AS lm_sum
      |  FROM big JOIN scored ON big.w1 = scored.w1 AND big.w2 = scored.w2
      |  GROUP BY doc_id)""".stripMargin

  /** C70/C71 shared replay: the water-filling solve down to the final
    * per-domain `alloc(domain, n_tokens, cap, saturated, allocation)`. */
  private val waterfillCtes: String =
    """WITH dom AS MATERIALIZED (
      |  SELECT source AS domain,
      |         CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |dc AS (SELECT domain, n_tokens,
      |         n_tokens * (1 + (length(domain) % 3)) AS cap FROM dom),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
      |               CAST(COUNT(*) AS BIGINT) AS n_domains FROM dc),
      |rkd AS (
      |  SELECT dc.*, n_domains, t_tokens * 2 // 1 AS budget,
      |    ROW_NUMBER() OVER (ORDER BY cap ASC, domain ASC) AS rk,
      |    SUM(cap) OVER (ORDER BY cap ASC, domain ASC
      |                   ROWS UNBOUNDED PRECEDING) AS pcap
      |  FROM dc CROSS JOIN tot),
      |sd AS (SELECT *,
      |         cap * (n_domains - rk + 1) + (pcap - cap) < budget AS sat
      |       FROM rkd),
      |sa AS (SELECT COALESCE(MAX(CASE WHEN sat THEN rk END), 0) AS jstar,
      |              CAST(COALESCE(SUM(CASE WHEN sat THEN cap END), 0) AS BIGINT) AS satcap
      |       FROM sd),
      |fin AS (
      |  SELECT sd.*, sa.jstar, sa.satcap,
      |    n_domains - sa.jstar AS active_n,
      |    CASE WHEN n_domains - sa.jstar > 0
      |      THEN (budget - sa.satcap) // (n_domains - sa.jstar) ELSE 0 END AS level,
      |    CASE WHEN n_domains - sa.jstar > 0
      |      THEN (budget - sa.satcap) % (n_domains - sa.jstar) ELSE 0 END AS rem,
      |    rk <= sa.jstar AS saturated,
      |    ROW_NUMBER() OVER (PARTITION BY rk <= sa.jstar ORDER BY domain) AS rku
      |  FROM sd CROSS JOIN sa),
      |alloc AS MATERIALIZED (
      |  SELECT domain, n_tokens, cap, saturated,
      |    CAST(CASE WHEN saturated THEN cap
      |      ELSE level + CASE WHEN rku <= rem THEN 1 ELSE 0 END END AS BIGINT)
      |      AS allocation
      |  FROM fin)""".stripMargin

  val sql: Map[String, String] = Map(
    "q139_bpe_train" ->
      (bpeTrainCtes(bpeMerges) + "\n" +
        (1 to bpeMerges).map(i => s"SELECT * FROM s$i").mkString("\nUNION ALL\n") +
        "\nORDER BY step"),

    "q140_bpe_encode" ->
      s"""${bpeTrainCtes(bpeMerges)},
         |pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS word_tokens
         |       FROM f$bpeMerges GROUP BY word),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |       FROM documents)
         |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
         |  CAST(SUM(pw.word_tokens) AS BIGINT) AS n_tokens
         |FROM dw JOIN pw USING (word) WHERE length(dw.word) >= 1
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin,
    // C72: fertility-audit replay — shared training CTEs, the per-word
    // token frame, then the per-language integer fixed-point ratios.
    "q143_tokenizer_fertility" ->
      s"""${bpeTrainCtes(bpeMerges)},
         |pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS word_tokens
         |       FROM f$bpeMerges GROUP BY word),
         |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word
         |       FROM documents),
         |a AS (
         |  SELECT dw.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(COUNT(DISTINCT dw.word) AS BIGINT) AS n_vocab,
         |    CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
         |    CAST(SUM(pw.word_tokens) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN pw.word_tokens = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_unsplit
         |  FROM dw JOIN pw USING (word) WHERE length(dw.word) >= 1
         |  GROUP BY dw.lang)
         |SELECT lang, n_words, n_vocab, n_chars, n_tokens, n_unsplit,
         |  n_tokens * 1000000 // n_words AS fertility_fp,
         |  n_chars * 1000000 // n_tokens AS chars_per_token_fp,
         |  n_unsplit * 1000000 // n_words AS unsplit_rate_fp
         |FROM a ORDER BY lang""".stripMargin,

    // C70: water-filling replay — domain frame, (cap ASC, domain ASC)
    // rank, the prefix-monotone saturation test cap·(N−j+1)+P_{j−1} < B,
    // then the integer water level with the first-rem +1 remainder rule.
    "q141_budget_waterfill" ->
      s"""$waterfillCtes
         |SELECT domain, n_tokens, cap, saturated, allocation,
         |  CAST((allocation // n_tokens) * 1000000
         |       + (allocation % n_tokens) * 1000000 // n_tokens
         |       AS BIGINT) AS epochs_fp
         |FROM alloc ORDER BY domain""".stripMargin,

    // C71: schedule replay — the C70 allocation becomes per-doc copies:
    // full epochs + the rankHash-ordered partial-epoch prefix whose
    // preceding cumulative token count stays below the remainder.
    "q142_mixture_schedule" ->
      s"""$waterfillCtes,
         |pd AS (
         |  SELECT doc_id, source AS domain,
         |    CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |         AS BIGINT) AS rh
         |  FROM documents),
         |sched AS (
         |  SELECT pd.doc_id, pd.domain, pd.n_tokens,
         |    a.allocation // a.dom_tokens AS epochs_full,
         |    a.allocation % a.dom_tokens AS remt,
         |    COALESCE(SUM(pd.n_tokens) OVER (
         |      PARTITION BY pd.domain ORDER BY pd.rh ASC, pd.doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_toks
         |  FROM pd JOIN (SELECT domain, n_tokens AS dom_tokens, allocation
         |                FROM alloc) a USING (domain))
         |SELECT doc_id, domain, n_tokens, CAST(epochs_full AS BIGINT) AS epochs_full,
         |  prev_toks < remt AS partial,
         |  CAST(epochs_full + CASE WHEN prev_toks < remt THEN 1 ELSE 0 END
         |       AS BIGINT) AS n_copies
         |FROM sched ORDER BY doc_id""".stripMargin,

    "q130_image_meta"      -> imageMetaSql,
    "q131_audio_meta"      -> audioMetaSql,
    "q176_adts_meta"       -> adtsMetaSql,
    "q177_ogg_meta"        -> oggMetaSql,
    "q180_flac_roundtrip"  -> flacRoundtripSql,
    "q132_video_meta"      -> videoMetaSql,
    "q31_dedup_minhash"    -> minhashTruthSql,
    "q32_dedup_simhash"    -> simhashXxSql,
    "q40_fingerprint"      -> fingerprintXxSql,
    "q52_minhash_portable" -> minhashPortableSql,
    "q115_minhash_accuracy" -> minhashAccuracySql,
    "q75_incremental_neardup" -> incrementalNeardupSql,
    "q53_simhash_portable" -> simhashPortableSql,
    "q55_training_pipeline" -> trainingPipelineSql,
    "q35_ann_lsh"          -> annLshSql,
    "q36_embed_neardup"    -> embedNeardupSql,
    "q62_ann_ivf"          -> annIvfSql(),
    "q107_kmeans_step"     -> kmeansStepSql(),
    "q119_contrastive_pairs" -> contrastivePairsSql(),
    "q122_cell_profile"      -> cellProfileSql(),
    "q123_curation_report"   -> curationReportSql,
    "q96_ann_recall"       -> annRecallSql(),
    "q86_semantic_dedup"   -> semanticDedupSql(),

    // C81: drift replay — fixed-point prototypes per (label, slice),
    // strict-fold cosine between them, 0-by-contract on one-sided labels.
    "q156_embedding_drift" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, (vec_id % 2 = 1) AS grp,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |  FROM embeddings
         |), ex AS (
         |  SELECT label, grp, generate_subscripts(ve, 1) - 1 AS dim,
         |         CAST(round(unnest(ve) * 1000000) AS BIGINT) AS sv
         |  FROM v
         |), sums AS (
         |  SELECT label, grp, dim, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(sv) AS BIGINT) AS s
         |  FROM ex GROUP BY label, grp, dim
         |), pr AS (
         |  SELECT label, grp, MAX(n) AS n_vecs,
         |         list(CAST(s AS DOUBLE) / 1000000 / n ORDER BY dim) AS ce
         |  FROM sums GROUP BY label, grp
         |), o AS (SELECT label, n_vecs AS n_old, ce AS co FROM pr WHERE NOT grp),
         |w AS (SELECT label, n_vecs AS n_new, ce AS cn FROM pr WHERE grp)
         |SELECT label,
         |  COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
         |  sqrt(${dotSql("co", "co")}) AS norm_old,
         |  sqrt(${dotSql("cn", "cn")}) AS norm_new,
         |  CASE WHEN co IS NULL OR cn IS NULL
         |         OR sqrt(${dotSql("co", "co")}) = 0
         |         OR sqrt(${dotSql("cn", "cn")}) = 0 THEN 0.0
         |       ELSE ${dotSql("co", "cn")}
         |            / (sqrt(${dotSql("co", "co")}) * sqrt(${dotSql("cn", "cn")})) END
         |    AS proto_cos
         |FROM o FULL JOIN w USING (label)
         |ORDER BY label""".stripMargin,

    // C74: prototypicality replay — fixed-point prototype means per
    // label (the kmeans update arithmetic), strict-fold cosine, the one
    // global per-label window the engine's two-level rank equals.
    "q145_prototype_prune" ->
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |  FROM embeddings
         |), ex AS (
         |  SELECT label, generate_subscripts(ve, 1) - 1 AS dim,
         |         CAST(round(unnest(ve) * 1000000) AS BIGINT) AS sv
         |  FROM v
         |), sums AS (
         |  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(sv) AS BIGINT) AS s
         |  FROM ex GROUP BY label, dim
         |), cent AS (
         |  SELECT label, MAX(n) AS n_label,
         |         list(CAST(s AS DOUBLE) / 1000000 / n ORDER BY dim) AS ce
         |  FROM sums GROUP BY label
         |), cn AS (
         |  SELECT label, n_label, ce, sqrt(${dotSql("ce", "ce")}) AS cnrm FROM cent
         |), sc AS (
         |  SELECT v.vec_id, v.label, cn.n_label,
         |    CASE WHEN sqrt(${dotSql("v.ve", "v.ve")}) = 0 OR cn.cnrm = 0 THEN 0.0
         |         ELSE ${dotSql("v.ve", "cn.ce")}
         |              / (sqrt(${dotSql("v.ve", "v.ve")}) * cn.cnrm) END AS proto_sim
         |  FROM v JOIN cn USING (label)
         |), rk AS (
         |  SELECT vec_id, label, proto_sim, n_label,
         |    CAST(row_number() OVER (PARTITION BY label
         |      ORDER BY proto_sim DESC, vec_id ASC) AS BIGINT) AS "rank"
         |  FROM sc)
         |SELECT vec_id, label, proto_sim, "rank", n_label,
         |  "rank" <= n_label * 10 // 100 AS pruned
         |FROM rk ORDER BY vec_id""".stripMargin,
    "q76_pq_ann"           -> pqAnnSql(),

    // q64: the quantile-sketch build+merge accuracy contract (q63 pattern)
    // — booleans pinned TRUE, exact rank bounds recomputed by DuckDB.
    "q64_quantile_rollup" ->
      """SELECT o_orderstatus,
        |  TRUE AS p50_in_bounds,
        |  TRUE AS p90_in_bounds,
        |  quantile_cont(o_totalprice, 0.52) AS p50_hi,
        |  quantile_cont(o_totalprice, 0.92) AS p90_hi
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // q97: the CMS merge law + no-underestimate bound as booleans pinned
    // TRUE, next to exact token counts DuckDB recomputes itself.
    "q97_cms_merge" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS exact_n,
        |  TRUE AS merge_consistent,
        |  TRUE AS no_underestimate,
        |  TRUE AS estimate_exact
        |FROM toks GROUP BY lang, tok
        |ORDER BY lang, tok""".stripMargin,

    // q60: the HLL merge/accuracy properties as booleans the oracle pins
    // to TRUE, plus the exact distinct count DuckDB recomputes itself.
    // merge_consistent = topology independence of the union (year-split
    // vs custkey-bucket-split roll-ups estimate identically — exact at
    // every scale); both estimator read-outs are accuracy-bounded.
    "q60_hll_merge" ->
      """SELECT c.c_mktsegment,
        |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS exact_distinct,
        |  TRUE AS merge_consistent,
        |  TRUE AS within_tolerance,
        |  TRUE AS oneshot_within_tolerance
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q46: the production rollup's accuracy contract — exact distinct +
    // rollup fan-in recomputed by DuckDB, within-5% flag pinned TRUE.
    "q46_approx_distinct" ->
      """SELECT c.c_mktsegment,
        |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS exact_distinct,
        |  CAST(COUNT(DISTINCT year(o.o_orderdate)) AS BIGINT) AS n_years,
        |  TRUE AS within_tolerance
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q54_fingerprint_portable" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_transform(string_split(text, ' '),
        |      t -> CAST(CONCAT('0x', substring(md5(t), 1, 15)) AS BIGINT) & 2147483647),
        |    (a, b) -> (a * 31 + b) % 562949953421231) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q41_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "q42_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |    '\+[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssns,
        |  CAST(len(regexp_extract_all(text, '\+[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q43_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |                                    ORDER BY score DESC, term ASC) AS BIGINT) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, score, rk FROM ranked
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    "q33_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT source AS g, doc_id, $shingles3 AS s FROM documents
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,

    // C26: same pair set as q33, closure via recursive CTE (UNION dedupes,
    // so the recursion reaches a fixpoint), cluster id = min reachable id.
    // C60: the two-level prefix-scan shard layout must equal the
    // ONE-phase global-window form (same md5 shuffle key, same integer
    // prefix arithmetic) — the q68/q102 distributed-vs-global pattern.
    "q125_shard_layout" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS k
        |  FROM documents
        |), placed AS (
        |  SELECT doc_id, n_tokens,
        |         CAST((SUM(n_tokens) OVER (ORDER BY k, doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |           // 2000 AS BIGINT) AS shard_id,
        |         k
        |  FROM base
        |)
        |SELECT doc_id, n_tokens, shard_id,
        |       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id) AS BIGINT)
        |         AS pos_in_shard
        |FROM placed ORDER BY doc_id""".stripMargin,

    // C62: one-phase suffix-sort replay of the distributed prefix-doubling
    // path — materialize every token-hash suffix list, sort (DuckDB list
    // comparison IS lexicographic suffix order), take LCPs with both
    // sorted neighbors via the first-mismatch position, aggregate per doc.
    "q127_suffix_spans" ->
      """CREATE OR REPLACE MACRO sfx_lcp(a, b) AS
        |  CASE WHEN a IS NULL OR b IS NULL THEN 0
        |       WHEN list_position(list_transform(range(1, least(len(a), len(b)) + 1),
        |                                         x -> a[x] = b[x]), false) = 0
        |       THEN least(len(a), len(b))
        |       ELSE list_position(list_transform(range(1, least(len(a), len(b)) + 1),
        |                                         x -> a[x] = b[x]), false) - 1 END;
        |WITH toks AS MATERIALIZED (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ' '),
        |           t -> CAST(CONCAT('0x', substring(md5(t), 1, 15)) AS BIGINT) & 2147483647) AS hs
        |  FROM documents
        |), sfx AS MATERIALIZED (
        |  SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos, hs FROM toks
        |), suf AS MATERIALIZED (
        |  SELECT doc_id, pos, list_slice(hs, pos, len(hs)) AS s FROM sfx
        |), nbr AS MATERIALIZED (
        |  SELECT doc_id, pos, s,
        |         lag(s)  OVER (ORDER BY s, doc_id, pos) AS ps,
        |         lead(s) OVER (ORDER BY s, doc_id, pos) AS ns
        |  FROM suf
        |), dl AS (
        |  SELECT doc_id, greatest(sfx_lcp(s, ps), sfx_lcp(s, ns)) AS dup_len
        |  FROM nbr
        |)
        |SELECT d.doc_id,
        |       CAST(len(t.hs) AS BIGINT) AS n_tokens,
        |       CAST(max(d.dup_len) AS BIGINT) AS max_dup_span,
        |       CAST(SUM(CASE WHEN d.dup_len >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_positions
        |FROM dl d JOIN toks t USING (doc_id)
        |GROUP BY d.doc_id, len(t.hs) ORDER BY d.doc_id""".stripMargin,

    // C61: q74's recursive closure keyed into the q41 md5 split — every
    // doc, cluster-coalesced, split by cluster_id.
    "q126_leakage_split" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT source AS g, doc_id, $shingles3 AS s FROM documents
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), keyed AS (
         |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c USING (doc_id)
         |), b AS (
         |  SELECT doc_id, cluster_id,
         |         CAST(CONCAT('0x', substring(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
         |           AS bucket
         |  FROM keyed
         |)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "q74_dedup_clusters" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT source AS g, doc_id, $shingles3 AS s FROM documents
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |FROM reach GROUP BY src
         |ORDER BY doc_id""".stripMargin,

    // C92: q74's recursive closure + token counts → per-cluster-size
    // savings under the keep-the-min-id policy; singletons join in as
    // their own cluster. Exact integers + `//` per-mille.
    "q174_dedup_savings" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT source AS g, doc_id, $shingles3 AS s FROM documents
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), clusters AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), toks AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), docs AS (
         |  SELECT t.doc_id, t.n_tokens,
         |    COALESCE(c.cluster_id, t.doc_id) AS cluster_id
         |  FROM toks t LEFT JOIN clusters c ON t.doc_id = c.doc_id
         |), per_cluster AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz,
         |    CAST(SUM(n_tokens) AS BIGINT) AS tok,
         |    CAST(SUM(CASE WHEN doc_id = cluster_id THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tok
         |  FROM docs GROUP BY cluster_id
         |), total AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM toks)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs,
         |  CAST(SUM(sz - 1) AS BIGINT) AS n_removable,
         |  CAST(SUM(tok - kept_tok) AS BIGINT) AS tokens_saved,
         |  CAST(CAST(SUM(tok - kept_tok) AS BIGINT) * 1000 // tot AS BIGINT) AS savings_pm
         |FROM per_cluster, total
         |GROUP BY sz, tot
         |ORDER BY cluster_size""".stripMargin,

    // C47: q74's recursive closure + the q85 rarity score + per-cluster
    // argmax (score DESC, id ASC). Exact.
    "q103_canonical_quality" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT source AS g, doc_id, $shingles3 AS s FROM documents
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), clusters AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
         |), v2 AS (
         |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
         |), rar AS (
         |  SELECT doc_id,
         |    CAST(SUM(1000000000 // cnt) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS score
         |  FROM toks JOIN v2 USING (tok) GROUP BY doc_id
         |), ranked AS (
         |  SELECT c.doc_id, c.cluster_id, r.score,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY r.score DESC, c.doc_id ASC) AS rn
         |  FROM clusters c JOIN rar r USING (doc_id)
         |)
         |SELECT doc_id, cluster_id, score, rn = 1 AS kept
         |FROM ranked ORDER BY doc_id""".stripMargin,

    "q34_ann_brute" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
         |), n AS (
         |  SELECT vec_id, ve, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("q.ve", "c.ve")} / (q.nrm * c.nrm) AS cos_sim
         |  FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // C24: full replay of the contamination check — same shingle hashes,
    // same distinct-set semi join, same ratio arithmetic.
    "q70_contamination" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(${shingleHashSql("toks", 8)}) AS hs FROM tk
         |), ev AS (
         |  SELECT doc_id, hs FROM sh WHERE doc_id % 50 = 0
         |), corp AS (
         |  SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 50 <> 0
         |), evx AS (
         |  SELECT doc_id, unnest(hs) AS h FROM ev
         |), hits AS (
         |  SELECT evx.doc_id, COUNT(*) AS n_hit FROM evx JOIN corp USING (h)
         |  GROUP BY evx.doc_id
         |)
         |SELECT ev.doc_id AS eval_id,
         |  CAST(len(ev.hs) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit_shingles,
         |  COALESCE(h.n_hit, 0) > 0 AS contaminated,
         |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / len(ev.hs) AS contamination_ratio
         |FROM ev LEFT JOIN hits h ON ev.doc_id = h.doc_id
         |ORDER BY eval_id""".stripMargin,

    // C36: duplicated-span coverage — same portable 8-gram hashes as q70,
    // doc-frequency over distinct (doc, hash), positional counts with
    // multiplicity; every number is an integer or one final division.
    "q87_dup_spans" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, ${shingleHashSql("toks", 8)} AS hs FROM tk
         |), ex AS (
         |  SELECT doc_id, unnest(hs) AS h FROM sh
         |), dup AS (
         |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM ex)
         |  GROUP BY h HAVING COUNT(*) >= 2
         |), tot AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams FROM ex GROUP BY doc_id
         |), cov AS (
         |  SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_ngrams
         |  FROM ex JOIN dup USING (h) GROUP BY ex.doc_id
         |)
         |SELECT t.doc_id, t.n_ngrams,
         |  COALESCE(c.n_dup_ngrams, 0) AS n_dup_ngrams,
         |  CAST(COALESCE(c.n_dup_ngrams, 0) AS DOUBLE) / t.n_ngrams AS dup_coverage
         |FROM tot t LEFT JOIN cov c ON t.doc_id = c.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // C37: edit-distance near-dup — the one-phase spec the banded join
    // must equal: ALL pairs at |Δlen| ≤ 16 verified at levenshtein ≤ 16
    // (the length prefilter is implied by the distance bound, so this IS
    // the complete ≤ 16 pair set).
    "q88_edit_neardup" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 16
        |WHERE levenshtein(a.text, b.text) <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,

    // C38: inverted index — distinct (term, doc) pairs for df and the
    // numerically-ordered posting string; head terms (df > cap) carry
    // NULL postings on both engines.
    "q91_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), stats AS (
        |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
        |         CAST(COUNT(*) AS BIGINT) AS total_tf
        |  FROM toks GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 2
        |), pairs AS (
        |  SELECT DISTINCT term, doc_id FROM toks
        |), listed AS (
        |  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM pairs GROUP BY term
        |)
        |SELECT s.term, s.df, s.total_tf,
        |       CASE WHEN s.df <= 400 THEN l.postings END AS postings
        |FROM stats s LEFT JOIN listed l USING (term)
        |ORDER BY s.term""".stripMargin,

    // C25: repetition profile — multiplicity-preserving shingles, exact
    // per-(doc, hash) counts, same 1 - distinct/total arithmetic.
    "q71_repetition" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, ${shingleHashSql("toks", 3)} AS hs FROM tk
         |), ex AS (
         |  SELECT doc_id, unnest(hs) AS h FROM sh
         |), pc AS (
         |  SELECT doc_id, h, COUNT(*) AS c FROM ex GROUP BY doc_id, h
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_ngrams,
         |         CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
         |         CAST(MAX(c) AS BIGINT) AS max_repeat
         |  FROM pc GROUP BY doc_id
         |)
         |SELECT doc_id, total_ngrams, distinct_ngrams, max_repeat,
         |  1.0 - CAST(distinct_ngrams AS DOUBLE) / total_ngrams AS dup_ratio
         |FROM agg ORDER BY doc_id""".stripMargin,

    // C23: full replay of int8 quantization + integer-exact cosine — all
    // arithmetic (abs/max, floor, clamp, integer products summed in
    // doubles, IEEE sqrt and division) is deterministic cross-engine.
    "q69_quantized_ann" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
         |), a AS (
         |  SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS amax FROM v
         |), qz AS (
         |  SELECT vec_id,
         |         CASE WHEN amax > 0
         |              THEN list_transform(ve, x -> greatest(-127.0, least(127.0, floor(x * 127.0 / amax + 0.5))))
         |              ELSE list_transform(ve, x -> 0.0) END AS qv
         |  FROM a
         |), n AS (
         |  SELECT vec_id, qv, sqrt(${dotSql("qv", "qv")}) AS nrm FROM qz
         |), scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("q.qv", "c.qv")} / (q.nrm * c.nrm) AS cos_sim
         |  FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q37_lang_id" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${langs.map(scoreSql).mkString(",\n         ")}
         |  FROM documents
         |), g AS (
         |  SELECT *, greatest(${langs.map(l => s"score_$l").mkString(", ")}) AS best FROM s
         |)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  CASE ${langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")}
         |       ELSE 'und' END AS pred_lang
         |FROM g ORDER BY doc_id""".stripMargin,

    "q30_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY canonical_id""".stripMargin,

    "q38_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_word_len,
        |  CAST((length(text) - length(replace(text, 'the', ''))) / 3
        |     + (length(text) - length(replace(text, ' a ', ''))) / 3 AS DOUBLE)
        |    / (length(text) - length(replace(text, ' ', '')) + 1) AS stopword_ratio,
        |  least(1.0, (length(text) - length(replace(text, ' ', '')) + 1) / 100.0) * 0.5
        |  + least(1.0, (CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |      / (length(text) - length(replace(text, ' ', '')) + 1)) / 8) * 0.3
        |  + least(1.0, (CAST((length(text) - length(replace(text, 'the', ''))) / 3
        |      + (length(text) - length(replace(text, ' a ', ''))) / 3 AS DOUBLE)
        |      / (length(text) - length(replace(text, ' ', '')) + 1)) * 5) * 0.2 AS quality_score
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q39_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // C29: replay of the mixture resampler — integer weights keep the sum
    // exact; every double op mirrors the Spark formula order exactly.
    "q78_mixture_sample" ->
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 ELSE 1 END AS BIGINT) AS w
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM c
        |), d AS (
        |  SELECT source, n, CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE) AS ds FROM c, t
        |), m AS (
        |  SELECT MIN(CAST(n AS DOUBLE) / ds) AS cap FROM d
        |), f AS (
        |  SELECT source,
        |         CAST(floor(ds * cap / CAST(n AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS thr
        |  FROM d, m
        |), s AS (
        |  SELECT doc_id, source,
        |         CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
        |  FROM documents
        |)
        |SELECT s.doc_id, s.source FROM s
        |JOIN f ON s.source IS NOT DISTINCT FROM f.source
        |WHERE s.bk < f.thr ORDER BY s.doc_id""".stripMargin,

    // C56: q78's machinery with data-derived weights round(sqrt(n)),
    // flattening the skewed language axis.
    "q117_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT) AS w
        |  FROM documents GROUP BY lang
        |), t AS (
        |  SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM c
        |), d AS (
        |  SELECT lang, n, CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE) AS ds FROM c, t
        |), m AS (
        |  SELECT MIN(CAST(n AS DOUBLE) / ds) AS cap FROM d
        |), f AS (
        |  SELECT lang,
        |         CAST(floor(ds * cap / CAST(n AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS thr
        |  FROM d, m
        |), s AS (
        |  SELECT doc_id, lang,
        |         CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
        |  FROM documents
        |)
        |SELECT s.doc_id, s.lang FROM s
        |JOIN f ON s.lang IS NOT DISTINCT FROM f.lang
        |WHERE s.bk < f.thr ORDER BY s.doc_id""".stripMargin,

    // C20: under-capacity the frequent-items sketch is exact, so the full
    // rollup read-out must equal exact GROUP BY counts item for item —
    // this pins build, merge, and estimate end-to-end.
    "q65_topk_sketch" ->
      """SELECT o_custkey AS item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY o_custkey ORDER BY item""".stripMargin,

    // C21: replay the stable md5 bucket and per-stratum thresholds.
    "q67_stratified_sample" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CONCAT('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus FROM b
        |WHERE bk < CASE o_orderstatus WHEN 'F' THEN 1000 WHEN 'O' THEN 500
        |                              WHEN 'P' THEN 5000 ELSE 0 END
        |ORDER BY o_orderkey""".stripMargin,

    // C22: the ONE-phase ranking the two-phase salted selection must equal.
    "q68_reservoir_sample" ->
      """WITH h AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(CONCAT('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        |  FROM orders),
        |r AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY hh, o_orderkey) AS rn
        |  FROM h)
        |SELECT o_orderstatus, o_orderkey, CAST(rn AS BIGINT) AS sample_rank
        |FROM r WHERE rn <= 100
        |ORDER BY o_orderstatus, sample_rank""".stripMargin,

    // C66: priority sampling — one-phase replay of the salted two-phase
    // top-(k+1) (same equality argument as q68), then τ = the (k+1)-th
    // priority and ŵ = max(w, τ). The priority is ONE fixed-order IEEE
    // expression over exact integers — bit-identical cross-engine.
    "q135_priority_sample" ->
      """WITH d AS (
        |  SELECT lang, doc_id, CAST(n_chars + 1 AS BIGINT) AS weight,
        |    CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS u
        |  FROM documents),
        |q AS (
        |  SELECT lang, doc_id, weight,
        |    CAST(weight AS DOUBLE) / (CAST(u AS DOUBLE) / 1152921504606846976.0) AS q
        |  FROM d),
        |r AS (
        |  SELECT lang, doc_id, weight, q,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS BIGINT)
        |      AS sample_rank
        |  FROM q),
        |t AS (SELECT lang, q AS tau FROM r WHERE sample_rank = 6)
        |SELECT r.lang, r.doc_id, r.weight, r.sample_rank, t.tau,
        |  greatest(CAST(r.weight AS DOUBLE), COALESCE(t.tau, 0.0)) AS ht_weight
        |FROM r LEFT JOIN t ON r.lang = t.lang
        |WHERE r.sample_rank <= 5
        |ORDER BY r.lang, r.sample_rank""".stripMargin,

    // C34: domain cap — one-phase replay of the salted two-phase top-k
    // (they are exactly equal; same argument as q68).
    "q81_domain_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 20
        |ORDER BY doc_id""".stripMargin,

    // C30: canonical-form dedup — DuckDB rebuilds the same canonical text
    // (nfc_normalize == java.text.Normalizer NFC, both UAX #15).
    "q82_canonical_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS canonical_hash
        |  FROM documents)
        |SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY canonical_hash) AS canonical_id,
        |  COUNT(*) OVER (PARTITION BY canonical_hash) AS n_copies,
        |  canonical_hash
        |FROM c ORDER BY doc_id""".stripMargin,

    // C32: chunking — same closed-form chunk count, same slices, same md5.
    "q83_chunking" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |dd AS (
        |  SELECT doc_id, toks, n,
        |    CASE WHEN n <= 64 THEN 1
        |         ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END AS nc
        |  FROM d WHERE n > 0),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, (nc - 1) * 48, 48)) AS start
        |  FROM dd)
        |SELECT doc_id, start // 48 AS chunk_idx,
        |  LEAST(n - start, 64) AS n_tokens,
        |  md5(array_to_string(list_slice(toks, start + 1, LEAST(start + 64, n)), ' ')) AS chunk_hash
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // C39: line dedup — replay segmentation, cross-doc df, anti-join prune,
    // ordered reassembly. Exact: hashes, counts, and one int/int division.
    // C67: the plant (domain footer in every doc, unique contact line per
    // doc) plus the per-domain relative threshold: a (domain, line) pair
    // is boilerplate iff its distinct-doc count clears BOTH the minDocs
    // floor and ratioPct% of the domain's document total.
    "q137_domain_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |dd AS (
        |  SELECT doc_id, toks, n, CAST(ceil(n / 8.0) AS BIGINT) AS nc
        |  FROM d WHERE n > 0),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, (nc - 1) * 8, 8)) AS start
        |  FROM dd),
        |lines AS (
        |  SELECT doc_id, start // 8 AS line_idx,
        |    array_to_string(list_slice(toks, start + 1, LEAST(start + 8, n)), ' ') AS line
        |  FROM e
        |  UNION ALL
        |  SELECT doc_id, 1000000 AS line_idx, 'footer legal ' || source AS line FROM d
        |  UNION ALL
        |  SELECT doc_id, 1000001 AS line_idx, 'contact ' || CAST(doc_id AS VARCHAR) AS line FROM d),
        |ldom AS (
        |  SELECT l.doc_id, d2.source AS g, l.line_idx, l.line, md5(l.line) AS h
        |  FROM lines l JOIN (SELECT doc_id, source FROM documents) d2 USING (doc_id)),
        |gtot AS (SELECT source AS g, COUNT(*) AS gdocs FROM documents GROUP BY 1),
        |boiler AS (
        |  SELECT s.g, s.h
        |  FROM (SELECT g, h, COUNT(*) AS ndocs
        |        FROM (SELECT DISTINCT g, h, doc_id FROM ldom) GROUP BY g, h) s
        |  JOIN gtot USING (g)
        |  WHERE s.ndocs >= 2 AND s.ndocs * 100 >= gtot.gdocs * 50),
        |kept AS (
        |  SELECT ldom.* FROM ldom LEFT JOIN boiler
        |    ON ldom.g = boiler.g AND ldom.h = boiler.h
        |  WHERE boiler.h IS NULL),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM ldom GROUP BY doc_id),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         md5(string_agg(line, ' ' ORDER BY line_idx)) AS clean_hash
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  CAST(COALESCE(r.n_kept, 0) AS DOUBLE) / t.n_lines AS kept_ratio,
        |  r.clean_hash
        |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q93_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |dd AS (
        |  SELECT doc_id, toks, n, CAST(ceil(n / 8.0) AS BIGINT) AS nc
        |  FROM d WHERE n > 0),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, (nc - 1) * 8, 8)) AS start
        |  FROM dd),
        |lines AS (
        |  SELECT doc_id, start // 8 AS line_idx,
        |    array_to_string(list_slice(toks, start + 1, LEAST(start + 8, n)), ' ') AS line
        |  FROM e),
        |dup AS (
        |  SELECT h FROM (SELECT DISTINCT md5(line) AS h, doc_id FROM lines)
        |  GROUP BY h HAVING COUNT(*) >= 2),
        |kept AS (
        |  SELECT * FROM lines WHERE md5(line) NOT IN (SELECT h FROM dup)),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         md5(string_agg(line, ' ' ORDER BY line_idx)) AS clean_hash
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  CAST(COALESCE(r.n_kept, 0) AS DOUBLE) / t.n_lines AS kept_ratio,
        |  r.clean_hash
        |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // C63: span removal — the exact shingle hashes replayed, canonical =
    // min (doc,pos) composite, coverage via a 7-PRECEDING range window,
    // rebuild hashed. Mirrors Dedup.removeDuplicateSpans step for step.
    // C79: padding-audit replay — the same cap comparison chain, both
    // padding policies, integer fixed-point waste.
    "q153_padding_audit" ->
      """WITH l AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |b AS (
        |  SELECT n,
        |    CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
        |         WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
        |         WHEN n <= 512 THEN 512 ELSE 9223372036854775807 END AS cap0
        |  FROM l),
        |g AS (
        |  SELECT cap0, CAST(COUNT(*) AS BIGINT) AS n_seqs,
        |    CAST(SUM(n) AS BIGINT) AS sum_tokens, CAST(MAX(n) AS BIGINT) AS max_len
        |  FROM b GROUP BY cap0),
        |c AS (
        |  SELECT CASE WHEN cap0 = 9223372036854775807 THEN max_len ELSE cap0 END AS cap,
        |    n_seqs, sum_tokens, max_len,
        |    n_seqs * (CASE WHEN cap0 = 9223372036854775807 THEN max_len ELSE cap0 END)
        |      AS padded_static,
        |    n_seqs * max_len AS padded_dynamic
        |  FROM g)
        |SELECT cap, n_seqs, sum_tokens, max_len, padded_static, padded_dynamic,
        |  (padded_static - sum_tokens) * 1000000 // padded_static AS waste_static_fp,
        |  (padded_dynamic - sum_tokens) * 1000000 // padded_dynamic AS waste_dynamic_fp
        |FROM c ORDER BY cap""".stripMargin,

    // C78: code-switch replay — planted German block, the tokenLines
    // segment cut, per-segment C8 vote (same argmax + tie order), the
    // (cnt DESC, lang DESC) majority row and integer share.
    "q152_code_switch" -> {
      def segScore(l: String): String = {
        val set = stopwords(l).map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(string_split(line, ' '), t -> t IN ($set))) AS BIGINT) AS score_$l"
      }
      s"""WITH base AS (
         |  SELECT doc_id, CASE WHEN doc_id % 101 = 0
         |    THEN text || ' ${TrainingData.GermanBlock}' ELSE text END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
         |seg AS (
         |  SELECT doc_id,
         |    array_to_string(toks[i*20+1 : least((i+1)*20, len(toks))], ' ') AS line
         |  FROM (SELECT doc_id, toks,
         |          unnest(range(0, (len(toks) + 19) // 20)) AS i FROM tk)),
         |sc AS (
         |  SELECT doc_id, ${langs.map(segScore).mkString(",\n         |    ")}
         |  FROM seg),
         |pv AS (
         |  SELECT doc_id,
         |    CASE ${langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")}
         |         ELSE 'und' END AS seg_lang
         |  FROM (SELECT *, greatest(${langs.map(l => s"score_$l").mkString(", ")}) AS best
         |        FROM sc)),
         |cnts AS (
         |  SELECT doc_id, seg_lang, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM pv GROUP BY doc_id, seg_lang),
         |mj AS (
         |  SELECT doc_id, seg_lang AS majority_lang, cnt AS majority_cnt,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, seg_lang DESC) AS rk
         |  FROM cnts),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_segments,
         |    CAST(SUM(CASE WHEN seg_lang <> 'und' THEN cnt ELSE 0 END) AS BIGINT)
         |      AS n_lang_segments,
         |    CAST(COUNT(DISTINCT CASE WHEN seg_lang <> 'und' THEN seg_lang END)
         |      AS BIGINT) AS n_langs
         |  FROM cnts GROUP BY doc_id)
         |SELECT a.doc_id, a.n_segments, a.n_lang_segments, a.n_langs,
         |  m.majority_lang, m.majority_cnt,
         |  m.majority_cnt * 1000000 // a.n_segments AS majority_share_fp,
         |  a.n_langs >= 2 AS code_switched
         |FROM agg a JOIN mj m ON a.doc_id = m.doc_id AND m.rk = 1
         |ORDER BY a.doc_id""".stripMargin
    },

    // C77: calibration replay — the q38 score formula, one global
    // per-source window (the two-level form's equal), integer percentile.
    "q151_score_calibration" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    least(1.0, (length(text) - length(replace(text, ' ', '')) + 1) / 100.0) * 0.5
        |    + least(1.0, (CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / (length(text) - length(replace(text, ' ', '')) + 1)) / 8) * 0.3
        |    + least(1.0, (CAST((length(text) - length(replace(text, 'the', ''))) / 3
        |        + (length(text) - length(replace(text, ' a ', ''))) / 3 AS DOUBLE)
        |        / (length(text) - length(replace(text, ' ', '')) + 1)) * 5) * 0.2
        |      AS quality_score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, quality_score,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS "rank",
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_group
        |  FROM s)
        |SELECT doc_id, source, quality_score, "rank", n_group,
        |  (n_group - "rank") * 1000000 // greatest(n_group - 1, 1) AS pctile_fp,
        |  (n_group - "rank") * 1000000 // greatest(n_group - 1, 1) >= 700000
        |    AS keep_top
        |FROM r ORDER BY doc_id""".stripMargin,

    // C76: mojibake replay — identical planted literal, per-sequence
    // (len − len(removed)) // seqlen counts, the same-order replace chain.
    "q147_mojibake" -> {
      import graft.operators.TextAnalysis.MojibakeFixes
      val latin1 = MojibakeFixes.filter(_._1.length == 2)
      val punct = MojibakeFixes.filter(_._1.length == 3)
      def occ(seq: String) =
        s"(length(text) - length(replace(text, '$seq', ''))) // ${seq.length}"
      val nl = latin1.map(f => occ(f._1)).mkString(" + ")
      val np = punct.map(f => occ(f._1)).mkString(" + ")
      val rep = MojibakeFixes.foldLeft("text") {
        case (e, (bad, good)) => s"replace($e, '$bad', '$good')"
      }
      s"""WITH base AS (
         |  SELECT doc_id, CASE WHEN doc_id % 89 = 0
         |         THEN text || '${TrainingData.MangledSuffix}'
         |         ELSE text END AS text FROM documents),
         |m AS (
         |  SELECT doc_id, CAST($nl AS BIGINT) AS n_latin1_seq,
         |    CAST($np AS BIGINT) AS n_punct_seq,
         |    CAST(length(text) AS BIGINT) AS n_chars_before,
         |    $rep AS rep
         |  FROM base)
         |SELECT doc_id, n_latin1_seq, n_punct_seq, n_chars_before,
         |  CAST(length(rep) AS BIGINT) AS n_chars_after,
         |  md5(rep) AS repaired_hash,
         |  length(rep) < n_chars_before AS is_mojibake
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // C75: containment replay — planted half-length excerpts, distinct
    // portable shingles, inverted-index pair counts, the integer ≥90%
    // coverage test on the smaller side.
    "q146_containment" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, text FROM documents
         |), exc AS (
         |  SELECT doc_id + 1000000 AS doc_id, source,
         |    array_to_string(toks[1:greatest(len(toks) // 2, 1)], ' ') AS text
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
         |        FROM base WHERE doc_id % 97 = 0)
         |), corpus AS (
         |  SELECT * FROM base UNION ALL SELECT * FROM exc
         |), sh AS (
         |  SELECT doc_id, source AS g,
         |    list_distinct(${shingleHashSql("toks", 3)}) AS hs
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM corpus)
         |), ex AS (
         |  SELECT doc_id, g, unnest(hs) AS h FROM sh
         |), sz AS (
         |  SELECT doc_id, g, CAST(len(hs) AS BIGINT) AS n FROM sh
         |), p AS (
         |  SELECT a.g, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(COUNT(*) AS BIGINT) AS common
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3
         |), j AS (
         |  SELECT p.doc_a, p.doc_b, p.common, sa.n AS n_a, sb.n AS n_b
         |  FROM p JOIN sz sa ON sa.g = p.g AND sa.doc_id = p.doc_a
         |         JOIN sz sb ON sb.g = p.g AND sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, common, n_a, n_b,
         |  common * 1000000 // least(n_a, n_b) AS containment_fp,
         |  CASE WHEN n_a < n_b THEN doc_a
         |       WHEN n_b < n_a THEN doc_b ELSE doc_b END AS contained_id
         |FROM j WHERE common * 100 >= least(n_a, n_b) * 90
         |ORDER BY doc_a, doc_b""".stripMargin,

    // C73: CDC replay — window hashes, residue-class cuts after position
    // s+w−1, the strictly-before running cut count as chunk id, ordered
    // chunk-content md5, corpus-wide occurrence counts, fixed-point ratios.
    "q144_cdc_chunking" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, ${shingleHashSql("toks", 4)} AS hs FROM tk
         |), st AS (
         |  SELECT doc_id, p - 1 AS s, hs[p] AS h
         |  FROM (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS p, hs FROM sh)
         |), cuts AS (
         |  SELECT doc_id, s + 3 AS idx FROM st WHERE h % 8 = 7
         |), tok AS (
         |  SELECT doc_id, p - 1 AS idx, toks[p] AS tok
         |  FROM (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks FROM tk)
         |), fl AS (
         |  SELECT t.doc_id, t.idx, t.tok,
         |    CASE WHEN c.idx IS NOT NULL THEN 1 ELSE 0 END AS is_cut
         |  FROM tok t LEFT JOIN cuts c ON t.doc_id = c.doc_id AND t.idx = c.idx
         |), ck AS (
         |  SELECT doc_id, idx, tok,
         |    COALESCE(SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
         |  FROM fl
         |), chunks AS (
         |  SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS c_tokens,
         |         md5(string_agg(tok, ' ' ORDER BY idx)) AS ch
         |  FROM ck GROUP BY doc_id, chunk
         |), occ AS (
         |  SELECT ch, COUNT(*) AS occs FROM chunks GROUP BY ch
         |), d AS (
         |  SELECT c.doc_id, CAST(SUM(c.c_tokens) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |    CAST(SUM(CASE WHEN o.occs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_chunks,
         |    CAST(SUM(CASE WHEN o.occs >= 2 THEN c.c_tokens ELSE 0 END) AS BIGINT)
         |      AS dup_tokens
         |  FROM chunks c JOIN occ o USING (ch) GROUP BY c.doc_id)
         |SELECT doc_id, n_tokens, n_chunks, n_dup_chunks, dup_tokens,
         |  n_tokens * 1000000 // n_chunks AS avg_chunk_tokens_fp,
         |  dup_tokens * 1000000 // n_tokens AS dup_token_ratio_fp
         |FROM d ORDER BY doc_id""".stripMargin,

    // C80: surgical decontamination replay — eval-set shingle membership
    // drives the same coverage-window cut and rebuild as q133.
    "q154_decontaminate" ->
      s"""WITH ev AS (
         |  SELECT DISTINCT unnest(${shingleHashSql("toks", 8)}) AS h
         |  FROM (SELECT string_split(text, ' ') AS toks FROM documents
         |        WHERE doc_id % 50 = 0)
         |), tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE doc_id % 50 <> 0
         |), sh AS (
         |  SELECT doc_id, ${shingleHashSql("toks", 8)} AS hs FROM tk
         |), st AS (
         |  SELECT doc_id, p - 1 AS pos, hs[p] AS h
         |  FROM (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS p, hs FROM sh)
         |), red AS (
         |  SELECT st.doc_id, st.pos FROM st JOIN ev USING (h)
         |), tok AS (
         |  SELECT doc_id, p - 1 AS idx, toks[p] AS line
         |  FROM (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks FROM tk)
         |), fl AS (
         |  SELECT t.doc_id, t.idx, t.line,
         |    MAX(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY t.doc_id ORDER BY t.idx
         |            RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tok t LEFT JOIN red r ON t.doc_id = r.doc_id AND t.idx = r.pos
         |), tot AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id
         |), reb AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         md5(string_agg(line, ' ' ORDER BY idx)) AS clean_hash
         |  FROM fl WHERE covered = 0 GROUP BY doc_id
         |)
         |SELECT t.doc_id, t.n_tokens,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  CAST(COALESCE(r.n_kept, 0) AS DOUBLE) / t.n_tokens AS kept_ratio,
         |  r.clean_hash
         |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "q133_span_removal" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, ${shingleHashSql("toks", 8)} AS hs FROM tk
         |), sp AS (
         |  SELECT doc_id, unnest(range(1, len(hs) + 1)) AS p, hs FROM sh
         |), st AS (
         |  SELECT doc_id, p - 1 AS pos, hs[p] AS h FROM sp
         |), canon AS (
         |  SELECT h, min(doc_id * 1000000000 + pos) AS ck
         |  FROM st GROUP BY h HAVING COUNT(*) >= 2
         |), red AS (
         |  SELECT st.doc_id, st.pos
         |  FROM st JOIN canon USING (h)
         |  WHERE st.doc_id * 1000000000 + st.pos <> canon.ck
         |), tp AS (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks FROM tk
         |), tok AS (
         |  SELECT doc_id, p - 1 AS idx, toks[p] AS line FROM tp
         |), fl AS (
         |  SELECT t.doc_id, t.idx, t.line,
         |    MAX(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY t.doc_id ORDER BY t.idx
         |            RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tok t LEFT JOIN red r ON t.doc_id = r.doc_id AND t.idx = r.pos
         |), tot AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id
         |), reb AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         md5(string_agg(line, ' ' ORDER BY idx)) AS clean_hash
         |  FROM fl WHERE covered = 0 GROUP BY doc_id
         |)
         |SELECT t.doc_id, t.n_tokens,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  CAST(COALESCE(r.n_kept, 0) AS DOUBLE) / t.n_tokens AS kept_ratio,
         |  r.clean_hash
         |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // C45: OOV rate — head vocab (count DESC, term ASC), anti-join counts.
    "q101_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT tok AS term, COUNT(*) AS n FROM toks GROUP BY tok),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY n DESC, term ASC) AS rk FROM cnt)
        |  WHERE rk <= 20),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY doc_id),
        |oov AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_oov
        |  FROM toks WHERE tok NOT IN (SELECT term FROM vocab)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tokens, COALESCE(o.n_oov, 0) AS n_oov,
        |  CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / t.n_tokens AS oov_rate
        |FROM tot t LEFT JOIN oov o ON t.doc_id = o.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // C44: filter funnel — identical first-kill when-chain, kill counts,
    // cumulative funnel arithmetic over the 5-row stage table. Exact.
    "q100_filter_funnel" ->
      """WITH k AS (
        |  SELECT CASE
        |    WHEN NOT (lang IN ('en','es','de','fr')) THEN 'lang_keep'
        |    WHEN NOT (n_chars >= 100) THEN 'min_chars'
        |    WHEN NOT (n_chars <= 500) THEN 'max_chars'
        |    WHEN NOT (len(string_split(text, ' ')) >= 20) THEN 'min_tokens'
        |    WHEN NOT ((CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1))
        |              / len(string_split(text, ' ')) BETWEEN 3 AND 8) THEN 'avg_word_len'
        |    ELSE NULL END AS kill
        |  FROM documents),
        |kc AS (
        |  SELECT kill, CAST(COUNT(*) AS BIGINT) AS n_killed
        |  FROM k WHERE kill IS NOT NULL GROUP BY kill),
        |stages AS (
        |  SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), 'lang_keep'), (CAST(2 AS BIGINT), 'min_chars'),
        |    (CAST(3 AS BIGINT), 'max_chars'), (CAST(4 AS BIGINT), 'min_tokens'),
        |    (CAST(5 AS BIGINT), 'avg_word_len')) AS s(stage, filter)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
        |j AS (
        |  SELECT s.stage, s.filter, COALESCE(kc.n_killed, 0) AS n_killed
        |  FROM stages s LEFT JOIN kc ON s.filter = kc.kill)
        |SELECT stage, filter,
        |  CAST(total - SUM(n_killed) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + n_killed AS BIGINT) AS n_in,
        |  n_killed,
        |  CAST(total - SUM(n_killed) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_out
        |FROM j, tot
        |ORDER BY stage""".stripMargin,

    // C42: within-doc line dedup — same segmentation, planted replant of
    // line 0, first-occurrence window, ordered reassembly. Exact.
    "q98_line_dedup_intra" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |dd AS (
        |  SELECT doc_id, toks, n, CAST(ceil(n / 8.0) AS BIGINT) AS nc
        |  FROM d WHERE n > 0),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, (nc - 1) * 8, 8)) AS start
        |  FROM dd),
        |lines0 AS (
        |  SELECT doc_id, start // 8 AS line_idx,
        |    array_to_string(list_slice(toks, start + 1, LEAST(start + 8, n)), ' ') AS line
        |  FROM e),
        |lines AS (
        |  SELECT * FROM lines0
        |  UNION ALL
        |  SELECT doc_id, 1000000 AS line_idx, line FROM lines0 WHERE line_idx = 0),
        |kept AS (
        |  SELECT doc_id, line_idx, line FROM (
        |    SELECT doc_id, line_idx, line,
        |           row_number() OVER (PARTITION BY doc_id, md5(line)
        |                              ORDER BY line_idx) AS rn
        |    FROM lines) WHERE rn = 1),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         md5(string_agg(line, ' ' ORDER BY line_idx)) AS clean_hash
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  CAST(COALESCE(r.n_kept, 0) AS DOUBLE) / t.n_lines AS kept_ratio,
        |  r.clean_hash
        |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // C33: packing — ONE global running sum is the spec; graft's two-level
    // distributed scan must equal it exactly.
    "q84_packing" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS prefix
        |  FROM d)
        |SELECT doc_id, n_tokens,
        |  prefix // 2048 AS window_id,
        |  prefix % 2048 AS window_offset
        |FROM p ORDER BY doc_id""".stripMargin,

    // C31: rarity — integer quotients and sums only, so exact on any engine.
    "q85_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (
        |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        |s AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(1000000000 // cnt) AS BIGINT) AS rarity_sum
        |  FROM toks JOIN v USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, rarity_sum,
        |  rarity_sum // n_tokens AS rarity_avg
        |FROM s ORDER BY doc_id""".stripMargin,

    // C46: budget selection — the ONE global prefix window is the spec;
    // graft's bucketed two-level scan must equal it exactly.
    "q102_budget_select" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (
        |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        |s AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(1000000000 // cnt) AS BIGINT) AS rarity_sum
        |  FROM toks JOIN v USING (tok) GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id, rarity_sum // n_tokens AS rarity_avg, n_tokens FROM s),
        |p AS (
        |  SELECT doc_id, rarity_avg, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY rarity_avg DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS pe
        |  FROM r)
        |SELECT doc_id, rarity_avg, n_tokens FROM p
        |WHERE pe < 10000
        |ORDER BY doc_id""".stripMargin,

    // C55: coverage curve — same rank order (count DESC, term ASC), same
    // budget list, integer-exact sums.
    "q116_coverage_curve" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |v AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk FROM v),
        |ks AS (SELECT unnest([10, 100, 1000, 10000]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(SUM(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS BIGINT) AS covered_tokens,
        |  CAST(SUM(cnt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN rk <= k THEN 1 ELSE 0 END) AS BIGINT) AS vocab_used,
        |  CAST(SUM(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) AS coverage
        |FROM r CROSS JOIN ks
        |GROUP BY k ORDER BY k""".stripMargin,

    // C53: embedding profile — same per-row norm fold, fixed-point mean.
    "q114_embedding_profile" ->
      s"""WITH v AS (
         |  SELECT label, CAST(len(embedding) AS BIGINT) AS d,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
         |  FROM embeddings),
         |n AS (
         |  SELECT label, d, sqrt(${dotSql("ve", "ve")}) AS nrm FROM v)
         |SELECT label,
         |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  MIN(d) AS dim_min, MAX(d) AS dim_max,
         |  CAST(COUNT(CASE WHEN nrm = 0 THEN 1 END) AS BIGINT) AS n_zero_norm,
         |  MIN(nrm) AS norm_min, MAX(nrm) AS norm_max,
         |  CAST(SUM(CAST(round(nrm * 1000000) AS BIGINT)) AS BIGINT) AS norm_sum_scaled,
         |  CAST(SUM(CAST(round(nrm * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*)
         |    AS norm_avg
         |FROM n GROUP BY label ORDER BY label""".stripMargin,

    // C52: source-overlap matrix — distinct (source, shingle) sets, the
    // same portable md5 shingle kernel, pairwise set arithmetic.
    "q111_source_overlap" ->
      s"""WITH sh0 AS (
         |  SELECT source AS g, ${shingleHashSql("string_split(text, ' ')", 8)} AS ss
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT g, unnest(ss) AS h FROM sh0),
         |sizes AS (SELECT g, COUNT(*) AS n FROM sh GROUP BY g),
         |pairs AS (
         |  SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.g < b.g
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b,
         |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |  CAST(p.n_common AS BIGINT) AS n_common,
         |  CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard,
         |  CAST(p.n_common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
         |FROM pairs p
         |JOIN sizes sa ON sa.g = p.src_a
         |JOIN sizes sb ON sb.g = p.src_b
         |ORDER BY src_a, src_b""".stripMargin,

    // C51: dataset card — same (source, lang, md5) pre-aggregate, same
    // rollups, same deterministic dominant-language tie-break.
    "q110_dataset_card" ->
      """WITH base AS (
        |  SELECT source, lang, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt, md5(text) AS h
        |  FROM documents),
        |perdoc AS (
        |  SELECT source, lang, h, COUNT(*) AS n, SUM(nt) AS snt, SUM(n_chars) AS sch
        |  FROM base GROUP BY 1, 2, 3),
        |perlang AS (
        |  SELECT source, lang, SUM(n) AS nl, SUM(snt) AS snt, SUM(sch) AS sch,
        |         COUNT(*) AS nuh
        |  FROM perdoc GROUP BY 1, 2),
        |top AS (
        |  SELECT source, lang AS top_lang, nl AS top_nl,
        |         row_number() OVER (PARTITION BY source ORDER BY nl DESC, lang DESC) AS rk
        |  FROM perlang),
        |stats AS (
        |  SELECT source, CAST(SUM(nl) AS BIGINT) AS n_docs,
        |         CAST(SUM(snt) AS BIGINT) AS n_tokens,
        |         CAST(SUM(sch) AS BIGINT) AS n_chars,
        |         CAST(SUM(nuh) AS BIGINT) AS n_unique,
        |         CAST(COUNT(*) AS BIGINT) AS n_langs
        |  FROM perlang GROUP BY source)
        |SELECT s.source, n_docs, n_tokens, n_chars, n_unique,
        |  CAST(n_docs - n_unique AS DOUBLE) / n_docs AS dup_ratio,
        |  n_langs, t.top_lang, CAST(t.top_nl AS DOUBLE) / n_docs AS top_lang_share
        |FROM stats s JOIN top t ON s.source = t.source AND t.rk = 1
        |ORDER BY s.source""".stripMargin,

    // C50: importance weights — integer smoothed ratio, replayed exactly;
    // the target count is a conditional count in the same vocab pass.
    // C64: stupid-backoff LM — train counts on lang='en', every distinct
    // corpus bigram scored once with the same integer div arithmetic,
    // stream join + per-doc integer mean. Mirrors TextAnalysis.lmScore.
    "q134_lm_score" ->
      s"""$lmScoreCtes
         |SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(s.lm_sum, 0) AS lm_sum,
         |  CASE WHEN COALESCE(s.n_bigrams, 0) > 0
         |       THEN s.lm_sum // s.n_bigrams END AS lm_avg
         |FROM tk LEFT JOIN s USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin,

    // C82: the CCNet-style head/middle/tail split — the shared LM replay,
    // one global rank (null scores sink via the −1 sentinel), the
    // (rank−1)·3 div n tercile rule, per-bucket integer aggregates.
    "q157_lm_terciles" ->
      s"""$lmScoreCtes,
         |d AS (
         |  SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         |    COALESCE(s.n_bigrams, 0) AS n_bigrams,
         |    COALESCE(s.lm_sum, 0) AS lm_sum,
         |    COALESCE(CASE WHEN COALESCE(s.n_bigrams, 0) > 0
         |             THEN s.lm_sum // s.n_bigrams END, -1) AS k
         |  FROM tk LEFT JOIN s USING (doc_id)),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY k DESC, doc_id ASC)
         |                 AS BIGINT) AS rn,
         |         CAST(COUNT(*) OVER () AS BIGINT) AS n FROM d)
         |SELECT (rn - 1) * 3 // n AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(lm_sum) AS BIGINT) AS lm_sum,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
         |  MAX(CASE WHEN k >= 0 THEN k END) AS lm_avg_max,
         |  MIN(CASE WHEN k >= 0 THEN k END) AS lm_avg_min
         |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

    // C65: scoring read-out over the shared training replay (see
    // classifierTrainCtes above).
    "q136_quality_classifier" ->
      s"""$classifierTrainCtes
         |SELECT base.doc_id, base.ys = 1000000 AS label, sc.n_feats, sc.score,
         |  2 * sc.score > 1000000 AS predicted
         |FROM base JOIN sc USING (doc_id)
         |ORDER BY base.doc_id""".stripMargin,

    // C68: calibration rides the SAME training replay (the shared CTE
    // prefix), then sweeps 7 thresholds j·125000: per threshold the
    // confusion counts and floor-division fixed-point precision/recall/F1
    // (all operands non-negative, so DuckDB `//` == the engine's div).
    "q138_calibration" ->
      s"""$classifierTrainCtes,
         |lab AS MATERIALIZED (
         |  SELECT base.doc_id, base.ys = 1000000 AS label, sc.score
         |  FROM base JOIN sc USING (doc_id)),
         |thr AS (SELECT CAST(range AS INT) AS threshold_idx,
         |               CAST(range * 125000 AS BIGINT) AS threshold
         |        FROM range(1, 8)),
         |agg AS (
         |  SELECT t.threshold_idx, t.threshold,
         |    CAST(SUM(CASE WHEN l.score >= t.threshold AND l.label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN l.score >= t.threshold AND NOT l.label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN l.score < t.threshold AND l.label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN l.score < t.threshold AND NOT l.label THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM thr t CROSS JOIN lab l GROUP BY 1, 2)
         |SELECT threshold_idx, threshold, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0 THEN CAST(1000000 * tp // (tp + fp) AS BIGINT) END AS precision_fp,
         |  CASE WHEN tp + fn > 0 THEN CAST(1000000 * tp // (tp + fn) AS BIGINT) END AS recall_fp,
         |  CASE WHEN tp + fp > 0 AND tp + fn > 0
         |         AND (1000000 * tp // (tp + fp)) + (1000000 * tp // (tp + fn)) > 0
         |    THEN CAST(2 * (1000000 * tp // (tp + fp)) * (1000000 * tp // (tp + fn))
         |         // ((1000000 * tp // (tp + fp)) + (1000000 * tp // (tp + fn))) AS BIGINT)
         |  END AS f1_fp
         |FROM agg ORDER BY threshold_idx""".stripMargin,

    "q109_importance" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS t, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (
        |  SELECT tok, COUNT(*) AS nc, COUNT(CASE WHEN t THEN 1 END) AS nt
        |  FROM toks GROUP BY tok),
        |s AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM((1000000 * (nt + 1)) // (nc + 1)) AS BIGINT) AS weight_sum
        |  FROM toks JOIN v USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, weight_sum,
        |  weight_sum // n_tokens AS importance
        |FROM s ORDER BY doc_id""".stripMargin,

    // C48: adjacent-pair counts — list_zip pads the trailing element with
    // NULL (graft's slice form just omits it); split tokens are never
    // NULL, so the IS NOT NULL filter is exactly the trailing-pad drop.
    "q106_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS tk FROM documents),
        |z AS (
        |  SELECT unnest(list_zip(tk, tk[2:])) AS z FROM toks),
        |pairs AS (
        |  SELECT z[1] AS tok, z[2] AS next_tok FROM z WHERE z[2] IS NOT NULL)
        |SELECT tok, next_tok, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pairs GROUP BY tok, next_tok
        |ORDER BY n_pairs DESC, tok ASC, next_tok ASC
        |LIMIT 50""".stripMargin,

    // C87: n-gram novelty — same md5 shingle kernel as q71, per-doc
    // DISTINCT shingles, NOT EXISTS against the reference set.
    "q164_ngram_novelty" ->
      s"""WITH tk AS (
         |  SELECT doc_id, doc_id % 2 = 0 AS is_ref, string_split(text, ' ') AS toks
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id, is_ref, ${shingleHashSql("toks", 8)} AS hs FROM tk
         |), ex0 AS (
         |  SELECT doc_id, is_ref, unnest(hs) AS h FROM sh
         |), ex AS (
         |  SELECT DISTINCT doc_id, is_ref, h FROM ex0
         |), ref AS (SELECT DISTINCT h FROM ex WHERE is_ref),
         |cur AS (SELECT doc_id, h FROM ex WHERE NOT is_ref),
         |nov AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
         |  FROM cur WHERE NOT EXISTS (SELECT 1 FROM ref WHERE ref.h = cur.h)
         |  GROUP BY doc_id
         |), g AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM cur GROUP BY doc_id)
         |SELECT g.doc_id, g.n_grams,
         |  COALESCE(n.n_novel, 0) AS n_novel,
         |  COALESCE(n.n_novel, 0) * 1000 // g.n_grams AS novelty_pm
         |FROM g LEFT JOIN nov n ON g.doc_id = n.doc_id
         |ORDER BY g.doc_id""".stripMargin,

    // C86: anisotropy — milli-scaled second moments, eight power-iteration
    // rounds from all-ones, max-abs renormalization to 1e4, truncating
    // integer division throughout (DuckDB // and Spark div both truncate
    // toward zero, negatives included). Rounds generated, not hand-typed.
    // The m·v sum and the u·10⁴ renorm intermediate are HUGEINT (Spark:
    // DECIMAL(38,0) sum / BigInt renorm); the CAST back to BIGINT raises
    // at the same u ≥ 2⁶³ boundary where the Spark side's ANSI cast does.
    "q163_anisotropy" -> {
      val rounds = (1 to 8).map { k =>
        val pv = s"v${k - 1}"
        s"""u$k AS MATERIALIZED (SELECT m.i, CAST(SUM(CAST(m.m AS HUGEINT) * $pv.vj) AS BIGINT) AS u
           |       FROM m JOIN $pv ON m.j = $pv.j GROUP BY m.i),
           |x$k AS MATERIALIZED (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS mx FROM u$k),
           |v$k AS MATERIALIZED (SELECT i AS j, CAST(CAST(u AS HUGEINT) * 10000 // mx AS BIGINT) AS vj FROM u$k, x$k),""".stripMargin
      }.mkString("\n")
      s"""WITH v AS (
         |  SELECT list_transform(embedding,
         |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS sv
         |  FROM embeddings
         |), exi AS (
         |  SELECT sv, generate_subscripts(sv, 1) - 1 AS i, unnest(sv) AS a FROM v
         |), exij AS (
         |  SELECT i, a, generate_subscripts(sv, 1) - 1 AS j, unnest(sv) AS b FROM exi
         |), m AS MATERIALIZED (
         |  SELECT i, j, CAST(SUM(a * b) AS BIGINT) AS m
         |  FROM exij GROUP BY i, j
         |), v0 AS (SELECT DISTINCT i AS j, CAST(10000 AS BIGINT) AS vj FROM m),
         |$rounds
         |tr AS (SELECT CAST(SUM(m) AS BIGINT) AS trace_fx FROM m WHERE i = j)
         |SELECT v8.j AS dim, v8.vj AS v_fx,
         |  CAST(x8.mx // 10000 AS BIGINT) AS lambda_fx,
         |  tr.trace_fx,
         |  CAST((x8.mx // 10000) * 1000 // tr.trace_fx AS BIGINT) AS top_share_pm
         |FROM v8, x8, tr
         |ORDER BY dim""".stripMargin
    },

    // C90: URL canonicalization — the same plant and the same rule set in
    // DuckDB string/regexp primitives (RE2 and Java regex agree on the
    // char-class-only patterns; DuckDB regexp_replace needs the explicit
    // 'g' flag to match Spark's global default).
    "q171_url_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com:443/page/' ||
        |        CAST(doc_id % 49 AS VARCHAR) || '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR)
        |      WHEN 1 THEN 'HTTPS://EX' || CAST(doc_id % 7 AS VARCHAR) || '.COM/page/' ||
        |        CAST(doc_id % 49 AS VARCHAR) || '/?id=' || CAST(doc_id % 3 AS VARCHAR) || '#sec-2'
        |      WHEN 2 THEN 'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/page/' ||
        |        CAST(doc_id % 49 AS VARCHAR) || '?id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x&gclid=abc'
        |      ELSE 'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/page/' ||
        |        CAST(doc_id % 49 AS VARCHAR) || '?id=' || CAST(doc_id % 3 AS VARCHAR)
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS c0 FROM planted
        |), comp AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(c0, '^([A-Za-z]+)://', 1)) AS sch,
        |    lower(regexp_extract(c0, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(c0, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS rawpath,
        |    regexp_extract(c0, '[?]([^#]*)', 1) AS q0
        |  FROM parts
        |), norm AS (
        |  SELECT doc_id, url, sch,
        |    CASE WHEN sch = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN sch = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |    array_to_string(list_sort(string_split(
        |      regexp_replace(regexp_replace(q0, '(^|&)(utm_[a-z]+|gclid|fbclid)=[^&]*', '', 'g'),
        |                     '^&+', ''), '&')), '&') AS sq
        |  FROM comp
        |), canon AS (
        |  SELECT doc_id, url,
        |    sch || '://' || host || path ||
        |      CASE WHEN sq = '' THEN '' ELSE '?' || sq END AS canonical_url
        |  FROM norm
        |)
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
        |  MIN(doc_id) AS keep_doc_id
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin,

    // C89: PageRank — 6 damped rounds replayed CTE-for-CTE (materialized
    // so the chain evaluates once); per-edge truncating division and the
    // ((100−d)·scale + d·Σ) // 100 update mirror Spark's div exactly.
    // The operator's dangling-mass term is omitted here because the
    // symmetrized purchase graph has no danglings (every node is a src),
    // so D = 0 every round; RankSpec covers the dangling path exactly.
    "q170_pagerank" -> {
      val rounds = (1 to 6).map { k =>
        val pv = s"r${k - 1}"
        s"""r$k AS MATERIALIZED (
           |  SELECT n.node, CAST((15 * CAST(1000000000 AS BIGINT) + 85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT ed.dst AS node, CAST(SUM($pv.r * ed.w // ed.wt) AS BIGINT) AS s
           |    FROM ed JOIN $pv ON $pv.node = ed.src
           |    GROUP BY ed.dst) c ON n.node = c.node),""".stripMargin
      }.mkString("\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), e2 AS (
         |  SELECT 2 * c AS src, 2 * s + 1 AS dst, w FROM e
         |  UNION ALL
         |  SELECT 2 * s + 1 AS src, 2 * c AS dst, w FROM e
         |), ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM e2 GROUP BY src),
         |ed AS MATERIALIZED (
         |  SELECT e2.src, e2.dst, e2.w, ws.wt FROM e2 JOIN ws ON e2.src = ws.src
         |), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         |$rounds
         |fin AS (
         |  SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
         |    node // 2 AS id, r AS rank_fx
         |  FROM r6)
         |SELECT side, id, rank_fx FROM fin
         |ORDER BY rank_fx DESC, side, id LIMIT 100""".stripMargin
    },

    // C107: butterfly count — customer-pivot wedges (supplier pairs per
    // customer), k per pair, Σ C(k,2) in HUGEINT ≙ Spark's DECIMAL(38,0).
    // The hub cap (pivot degree > 8192 ⇒ excluded + ledgered) is
    // replayed, so the ledger columns are themselves oracle-gated.
    "q187_butterflies" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), deg AS MATERIALIZED (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS pivot_deg FROM e GROUP BY 1
        |), led AS (
        |  SELECT CAST(COUNT(*) FILTER (WHERE pivot_deg > 8192) AS BIGINT) AS n_pivots_capped,
        |         COALESCE(CAST(SUM(CAST(pivot_deg AS HUGEINT) * (pivot_deg - 1) // 2)
        |           FILTER (WHERE pivot_deg > 8192) AS BIGINT), 0) AS n_wedges_dropped
        |  FROM deg
        |), pairs AS MATERIALIZED (
        |  SELECT a.dst AS d1, b.dst AS d2, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
        |  JOIN deg ON deg.src = a.src AND deg.pivot_deg <= 8192
        |  GROUP BY 1, 2
        |), ws AS (
        |  SELECT COALESCE(CAST(SUM(CAST(k AS HUGEINT)) AS BIGINT), 0) AS n_wedges,
        |         COALESCE(CAST(SUM(CAST(k AS HUGEINT) * (k - 1) // 2) AS BIGINT), 0) AS n_butterflies
        |  FROM pairs
        |), es AS (
        |  SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_customers,
        |         CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_suppliers,
        |         CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM e)
        |SELECT es.n_customers, es.n_suppliers, es.n_edges, ws.n_wedges, ws.n_butterflies,
        |  led.n_pivots_capped, led.n_wedges_dropped
        |FROM es, ws, led""".stripMargin,

    // C108: connected components — 8 rounds of (closed-neighborhood min,
    // pointer hop) replayed round-for-round; post-convergence rounds are
    // no-ops, so Spark's early exit lands on the same labels.
    "q188_components" -> {
      val rounds = (1 to 8).map { k =>
        s"""m$k AS MATERIALIZED (
           |  SELECT node, MIN(l) AS l FROM (
           |    SELECT node, l FROM l${k - 1}
           |    UNION ALL
           |    SELECT und.dst AS node, p.l FROM und JOIN l${k - 1} p ON p.node = und.src
           |  ) GROUP BY node),
           |l$k AS MATERIALIZED (
           |  SELECT x.node, p.l FROM m$k x JOIN m$k p ON x.l = p.node),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM ew UNION SELECT dst, src FROM ew
         |), l0 AS (
         |  SELECT node, node AS l FROM (SELECT DISTINCT src AS node FROM und)
         |),
         |$rounds
         |sizes AS (SELECT l AS comp, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l8 GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_components FROM sizes)
         |SELECT comp, n_nodes, n_components FROM sizes, tot
         |ORDER BY n_nodes DESC, comp ASC LIMIT 10""".stripMargin
    },

    // C109: k-core (k=3) — 12 synchronous peel rounds replayed
    // round-for-round; peeling is monotone, so Spark's fixed-point early
    // exit and the full-R replay yield the identical core.
    "q189_kcore" -> {
      val rounds = (1 to 12).map { k =>
        s"""d$k AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e${k - 1} GROUP BY 1),
           |kp$k AS MATERIALIZED (SELECT node FROM d$k WHERE d >= 3),
           |e$k AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${k - 1} e
           |  JOIN kp$k a ON e.src = a.node JOIN kp$k b ON e.dst = b.node),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), e0 AS MATERIALIZED (
         |  SELECT src, dst FROM ew UNION SELECT dst, src FROM ew
         |),
         |$rounds
         |core AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e12 GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
         |       COALESCE(CAST(SUM(deg) AS BIGINT), 0) // 2 AS n_core_edges,
         |       COALESCE(MIN(deg), 0) AS min_deg,
         |       COALESCE(MAX(deg), 0) AS max_deg
         |FROM core""".stripMargin
    },

    // C110: triangles via the oriented a<b<c enumeration + wedges from
    // undirected degrees; gcc as truncating per-mille, NULL when no
    // wedges.
    "q190_triangles" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
        |), ew AS MATERIALIZED (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), ori AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM ew WHERE src <> dst
        |), tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM ori ab JOIN ori bc ON ab.b = bc.a
        |  JOIN ori ac ON ab.a = ac.a AND bc.b = ac.b
        |), deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT a AS node FROM ori UNION ALL SELECT b AS node FROM ori
        |  ) GROUP BY node
        |), ds AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         COALESCE(CAST(SUM(CAST(d AS HUGEINT) * (d - 1) // 2) AS HUGEINT), 0) AS w
        |  FROM deg
        |), es AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ori)
        |SELECT ds.n_nodes, es.n_edges, CAST(ds.w AS BIGINT) AS n_wedges,
        |  tri.n_triangles,
        |  CASE WHEN ds.w > 0
        |    THEN CAST(CAST(3 * tri.n_triangles AS HUGEINT) * 1000 // ds.w AS BIGINT)
        |  END AS gcc_pm
        |FROM ds, es, tri""".stripMargin,

    // C111: neighborhood Jaccard — common-neighbor wedge counts joined
    // with undirected degrees, exact per-mille, threshold + top-20. The
    // enforced hub cap (wedge pivots of degree > 8192 skipped) is
    // replayed, INCLUDING the in-band refusal ledger constants, so the
    // capped operator stays oracle-exact and the ledger is gated too.
    "q191_neighborhood_jaccard" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
        |), ew AS MATERIALIZED (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), und AS MATERIALIZED (
        |  SELECT src, dst FROM ew WHERE src <> dst
        |  UNION SELECT dst, src FROM ew WHERE src <> dst
        |), deg AS MATERIALIZED (
        |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1
        |), led AS (
        |  SELECT COALESCE(SUM(CASE WHEN d > 8192 THEN 1 ELSE 0 END), 0)::BIGINT
        |           AS n_pivots_capped,
        |         CAST(COALESCE(SUM(CASE WHEN d > 8192
        |           THEN d::HUGEINT * (d - 1) // 2 END), 0) AS BIGINT)
        |           AS n_wedges_dropped
        |  FROM deg
        |), com AS (
        |  SELECT x.dst AS a, y.dst AS b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
        |  JOIN deg pd ON pd.node = x.src AND pd.d <= 8192
        |  GROUP BY 1, 2
        |)
        |SELECT com.a, com.b, com.common, da.d AS deg_a, db.d AS deg_b,
        |  1000 * com.common // (da.d + db.d - com.common) AS j_pm,
        |  led.n_pivots_capped, led.n_wedges_dropped
        |FROM com JOIN deg da ON com.a = da.node JOIN deg db ON com.b = db.node, led
        |WHERE 1000 * com.common // (da.d + db.d - com.common) >= 200
        |ORDER BY j_pm DESC, a ASC, b ASC LIMIT 20""".stripMargin,

    // C112: l-diversity — distinct sensitive bands per QI class, per-l
    // histogram with per-mille row share.
    "q192_l_diversity" ->
      """WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS l,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM customer GROUP BY 1, 2
        |), buckets AS (
        |  SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n_rows) AS BIGINT) AS n_rows
        |  FROM classes GROUP BY l
        |), tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM classes)
        |SELECT l, n_classes, n_rows, 1000 * n_rows // n_total AS rows_pm
        |FROM buckets, tot ORDER BY l""".stripMargin,

    // C113: degree assortativity — exact integer power sums over edge
    // endpoint degrees, one final double formula (the q112 discipline).
    "q193_assortativity" ->
      """WITH e AS MATERIALIZED (
        |  SELECT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), dc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS x FROM e GROUP BY 1),
        |ds AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS y FROM e GROUP BY 1),
        |j AS (SELECT dc.x, ds.y FROM e JOIN dc ON e.c = dc.c JOIN ds ON e.s = ds.s),
        |sm AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM j)
        |SELECT n AS n_edges,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  AS assortativity
        |FROM sm""".stripMargin,

    // C116: k-truss — the support peel unrolled round-for-round (6
    // rounds, same budget as the Spark side; rounds past the fixed
    // point are no-ops in both engines, so any shared budget replays
    // exactly). Each round: oriented a<b<c triangle enumeration,
    // per-edge support from the three projections, filter at k−2 = 1.
    "q196_k_truss" -> {
      val rounds = (1 to 6).map { r =>
        s"""tr$r AS (
           |  SELECT ab.a AS a, ab.b AS b, bc.b AS c
           |  FROM e${r - 1} ab JOIN e${r - 1} bc ON ab.b = bc.a
           |  JOIN e${r - 1} ac ON ac.a = ab.a AND ac.b = bc.b
           |), sup$r AS (
           |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS s FROM (
           |    SELECT a, b FROM tr$r
           |    UNION ALL SELECT a, c AS b FROM tr$r
           |    UNION ALL SELECT b AS a, c AS b FROM tr$r
           |  ) GROUP BY 1, 2
           |), e$r AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e${r - 1} e
           |  JOIN sup$r s ON e.a = s.a AND e.b = s.b AND s.s >= 1
           |),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), e0 AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM ew
         |),
         |$rounds
         |deg AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM e6 UNION ALL SELECT b AS node FROM e6
         |  ) GROUP BY 1
         |)
         |SELECT COALESCE(CAST(SUM(deg) AS BIGINT), 0) // 2 AS n_truss_edges,
         |       CAST(COUNT(*) AS BIGINT) AS n_truss_nodes,
         |       COALESCE(MAX(deg), 0) AS max_deg
         |FROM deg""".stripMargin
    },

    // C117: seasonal anomalies — the ×7-scaled classical decomposition
    // replayed step-for-step: centered 7-day MA (interior rows only),
    // per-phase truncating mean of the detrended series, phase-mean
    // centering, |residual| top-10 with date tie-break. `//` and `div`
    // agree on negative operands (both truncate toward zero).
    "q197_seasonal_anomalies" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1
        |), w AS (
        |  SELECT d, x,
        |    CAST(date_diff('day', DATE '1992-01-01', d) % 7 AS BIGINT) AS phase,
        |    CAST(SUM(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend_num,
        |    COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n
        |  FROM daily
        |), detr AS (
        |  SELECT d, x, phase, trend_num, 7 * x - trend_num AS dd
        |  FROM w WHERE n = 7
        |), seas0 AS (
        |  SELECT phase, CAST(SUM(dd) AS BIGINT) AS s_num,
        |    CAST(COUNT(*) AS BIGINT) AS n_p
        |  FROM detr GROUP BY 1
        |), seas1 AS (SELECT phase, CAST(s_num // n_p AS BIGINT) AS s_raw FROM seas0),
        |seas AS (
        |  SELECT phase,
        |    s_raw - CAST((SELECT CAST(SUM(s_raw) AS BIGINT) FROM seas1) // 7 AS BIGINT) AS seasonal_fx
        |  FROM seas1
        |)
        |SELECT detr.d, x, detr.phase, trend_num, seasonal_fx,
        |  dd - seasonal_fx AS resid
        |FROM detr JOIN seas ON detr.phase = seas.phase
        |ORDER BY ABS(dd - seasonal_fx) DESC, detr.d
        |LIMIT 10""".stripMargin,

    // C118: record linkage — the blocked self-join replayed pair-for-
    // pair: identical block keys, null-safe field agreement (IS NOT
    // DISTINCT FROM ≙ <=>), identical integer weights and thresholds,
    // the same total (score DESC, id, id) order at the LIMIT boundary.
    "q198_record_linkage" ->
      """WITH recs AS (
        |  SELECT c_custkey AS id, c_nationkey AS b0,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS b1,
        |    c_mktsegment AS f0,
        |    SUBSTRING(c_name, LENGTH(c_name), 1) AS f1,
        |    SUBSTRING(c_name, LENGTH(c_name) - 1, 1) AS f2
        |  FROM customer
        |), sized AS (
        |  SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY b0, b1) AS bn FROM recs
        |  ) WHERE bn <= 10000
        |), pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    (CASE WHEN a.f0 IS NOT DISTINCT FROM b.f0 THEN 25 ELSE -12 END +
        |     CASE WHEN a.f1 IS NOT DISTINCT FROM b.f1 THEN 20 ELSE -10 END +
        |     CASE WHEN a.f2 IS NOT DISTINCT FROM b.f2 THEN 15 ELSE -8 END) AS score
        |  FROM sized a JOIN sized b ON a.b0 = b.b0 AND a.b1 = b.b1 AND a.id < b.id
        |)
        |SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 50 THEN 'match' ELSE 'possible' END AS linkage_class
        |FROM pairs WHERE score >= 20
        |ORDER BY score DESC, id_a, id_b LIMIT 200""".stripMargin,

    // C119: golden record — q198's match-grade pairs (score >= 50),
    // the q74 recursive closure for entity membership (label =
    // LEAST(self, min reachable)), then the survivorship pick replayed
    // with the identical (balance DESC, id ASC) window.
    "q199_golden_record" ->
      """WITH RECURSIVE recs AS (
        |  SELECT c_custkey AS id, c_nationkey AS b0,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS b1,
        |    c_mktsegment AS f0,
        |    SUBSTRING(c_name, LENGTH(c_name), 1) AS f1,
        |    SUBSTRING(c_name, LENGTH(c_name) - 1, 1) AS f2
        |  FROM customer
        |), sized AS (
        |  SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY b0, b1) AS bn FROM recs
        |  ) WHERE bn <= 10000
        |), pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sized a JOIN sized b ON a.b0 = b.b0 AND a.b1 = b.b1 AND a.id < b.id
        |  WHERE (CASE WHEN a.f0 IS NOT DISTINCT FROM b.f0 THEN 25 ELSE -12 END +
        |         CASE WHEN a.f1 IS NOT DISTINCT FROM b.f1 THEN 20 ELSE -10 END +
        |         CASE WHEN a.f2 IS NOT DISTINCT FROM b.f2 THEN 15 ELSE -8 END) >= 50
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), clusters AS (
        |  SELECT src AS c_custkey, LEAST(src, MIN(dst)) AS cluster_id
        |  FROM reach GROUP BY src
        |), ranked AS (
        |  SELECT cluster_id, cu.c_custkey, cu.c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id
        |      ORDER BY cu.c_acctbal DESC, cu.c_custkey ASC) AS rn
        |  FROM clusters JOIN customer cu USING (c_custkey)
        |)
        |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  MAX(CASE WHEN rn = 1 THEN c_custkey END) AS golden_custkey,
        |  MAX(CASE WHEN rn = 1 THEN c_acctbal END) AS golden_acctbal
        |FROM ranked GROUP BY cluster_id
        |ORDER BY n_members DESC, cluster_id ASC""".stripMargin,

    // C120: Benford audit — exact cents, integer-string first digit,
    // the same ⌊1000·log10(1+1/d)⌋ literal expectation vector, dense
    // slice×digit grid, per-mille TVD and the worst |gap| digit.
    "q200_benford" ->
      """WITH digits AS (
        |  SELECT o_orderpriority AS slice,
        |    CAST(SUBSTRING(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS d
        |  FROM (SELECT o_orderpriority,
        |          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |        FROM orders)
        |  WHERE v > 0
        |), counts AS (
        |  SELECT slice, d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM digits WHERE d BETWEEN 1 AND 9 GROUP BY 1, 2
        |), totals AS (SELECT slice, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
        |expect(d, exp_pm) AS (VALUES (1, 301), (2, 176), (3, 124), (4, 96),
        |  (5, 79), (6, 66), (7, 57), (8, 51), (9, 45)),
        |grid AS (
        |  SELECT t.slice, e.d, t.n,
        |    COALESCE(c.c, 0) * 1000 // t.n AS obs_pm,
        |    CAST(e.exp_pm AS BIGINT) AS exp_pm
        |  FROM expect e CROSS JOIN totals t
        |  LEFT JOIN counts c ON c.slice = t.slice AND c.d = e.d
        |), gaps AS (
        |  SELECT slice, d, n, obs_pm - exp_pm AS gap,
        |    ROW_NUMBER() OVER (PARTITION BY slice
        |      ORDER BY ABS(obs_pm - exp_pm) DESC, d ASC) AS rk
        |  FROM grid
        |)
        |SELECT slice, MAX(n) AS n_rows,
        |  CAST(SUM(ABS(gap)) AS BIGINT) // 2 AS tvd_pm,
        |  MAX(CASE WHEN rk = 1 THEN d END) AS worst_digit,
        |  MAX(CASE WHEN rk = 1 THEN gap END) AS worst_gap_pm
        |FROM gaps GROUP BY slice ORDER BY slice""".stripMargin,

    // C121: Gini — the ascending-rank formula with tie-invariant Σi·x
    // (equal masses commute inside the sum), cross-multiplied per-mille
    // truncating division in HUGEINT.
    "q201_gini" ->
      """WITH units AS (
        |  SELECT source AS slice,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        |  FROM documents
        |), ranked AS (
        |  SELECT slice, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY slice ORDER BY x ASC) AS BIGINT) AS i
        |  FROM units
        |), agg AS (
        |  SELECT slice, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(x) AS BIGINT) AS total,
        |    SUM(CAST(i AS HUGEINT) * x) AS six
        |  FROM ranked GROUP BY slice
        |)
        |SELECT slice, n_units, total,
        |  CASE WHEN total > 0 AND n_units > 1 THEN
        |    CAST((2000 * six - CAST(1000 AS HUGEINT) * (n_units + 1) * total)
        |      // (CAST(n_units AS HUGEINT) * total) AS BIGINT)
        |  ELSE 0 END AS gini_pm
        |FROM agg ORDER BY slice""".stripMargin,

    // C122: per-node local clustering — the oriented a<b<c triangle
    // enumeration, per-node counts from the three member projections,
    // undirected degrees, per-mille 2·tri div (deg·(deg−1)), the same
    // total top-20 order.
    "q202_local_clustering" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
        |), ew AS MATERIALIZED (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), e AS MATERIALIZED (SELECT src AS a, dst AS b FROM ew),
        |tr AS (
        |  SELECT ab.a, ab.b, bc.b AS c
        |  FROM e ab JOIN e bc ON ab.b = bc.a
        |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
        |), tpn AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT a AS node FROM tr
        |    UNION ALL SELECT b FROM tr
        |    UNION ALL SELECT c FROM tr
        |  ) GROUP BY 1
        |), deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e
        |  ) GROUP BY 1
        |)
        |SELECT deg.node, deg.deg, COALESCE(tpn.tri, 0) AS tri,
        |  CAST(CAST(COALESCE(tpn.tri, 0) AS HUGEINT) * 2000
        |    // (CAST(deg.deg AS HUGEINT) * (deg.deg - 1)) AS BIGINT) AS lcc_pm
        |FROM deg LEFT JOIN tpn ON deg.node = tpn.node
        |WHERE deg.deg >= 3
        |ORDER BY lcc_pm DESC, tri DESC, deg.node ASC LIMIT 20""".stripMargin,

    // C124: substring search — the oracle IS the full-scan contains the
    // accelerated form must exactly equal.
    "q203_substring_search" ->
      """SELECT doc_id FROM documents
        |WHERE contains(text, 'table scan')
        |ORDER BY doc_id""".stripMargin,

    // C114: t-closeness — the ordered-EMD closed form replayed
    // step-for-step: dense class×value grid, per-class and global
    // cumulated counts, term = |cum_c·n − cum_g·n_c|, per-mille HUGEINT
    // truncating division by n_c·n·(m−1).
    "q194_t_closeness" ->
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS v
        |  FROM customer
        |), counts AS (
        |  SELECT c_nationkey, c_mktsegment, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2, 3
        |), totals AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n_c
        |  FROM counts GROUP BY 1, 2
        |), grand AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_all,
        |    CAST(COUNT(DISTINCT v) AS BIGINT) AS m
        |  FROM counts
        |), vals AS (SELECT DISTINCT v FROM counts),
        |gcum AS (
        |  SELECT v, SUM(gv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
        |  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS gv FROM counts GROUP BY v)
        |), grid AS (
        |  SELECT t.c_nationkey, t.c_mktsegment, t.n_c, g.n_all, g.m, vals.v,
        |    COALESCE(c.c, 0) AS c
        |  FROM vals CROSS JOIN totals t CROSS JOIN grand g
        |  LEFT JOIN counts c ON c.c_nationkey = t.c_nationkey
        |    AND c.c_mktsegment = t.c_mktsegment AND c.v = vals.v
        |), cums AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        |  FROM grid
        |), terms AS (
        |  SELECT cums.c_nationkey, cums.c_mktsegment, n_c, n_all, m,
        |    ABS(cum_c * n_all - gcum.cum_g * n_c) AS term
        |  FROM cums JOIN gcum ON cums.v = gcum.v
        |)
        |SELECT c_nationkey, c_mktsegment, n_c AS n_rows,
        |  CASE WHEN m > 1 THEN CAST(SUM(CAST(term AS HUGEINT)) * 1000
        |    // (CAST(n_c AS HUGEINT) * n_all * (m - 1)) AS BIGINT)
        |  ELSE 0 END AS t_pm
        |FROM terms GROUP BY c_nationkey, c_mktsegment, n_c, n_all, m
        |ORDER BY t_pm DESC, c_nationkey, c_mktsegment""".stripMargin,

    // C115: per-priority CUSUM — the closed-form walk replayed
    // window-for-window: cum' = n·cumsum − rn·Σx, high = cum' − running
    // min (with the virtual 0 origin), low symmetric, earliest-peak
    // tie-break, per-mille HUGEINT truncating division by n·Σx.
    "q195_cusum" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS series, o_orderdate AS t,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1, 2
        |), s AS (
        |  SELECT series, t, x,
        |    CAST(COUNT(*) OVER (PARTITION BY series) AS BIGINT) AS n,
        |    CAST(SUM(x) OVER (PARTITION BY series) AS BIGINT) AS sx,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY series ORDER BY t) AS BIGINT) AS rn,
        |    CAST(SUM(x) OVER (PARTITION BY series ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM d
        |), k AS (
        |  SELECT *, n * cum - rn * sx AS cumk FROM s
        |), e AS (
        |  SELECT *,
        |    cumk - LEAST(CAST(0 AS BIGINT), MIN(cumk) OVER (PARTITION BY series
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_high,
        |    GREATEST(CAST(0 AS BIGINT), MAX(cumk) OVER (PARTITION BY series
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - cumk AS s_low
        |  FROM k
        |), o AS (
        |  SELECT *,
        |    MAX(CASE WHEN s_high = 0 THEN t END) OVER (PARTITION BY series
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h0,
        |    MAX(CASE WHEN s_low = 0 THEN t END) OVER (PARTITION BY series
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l0
        |  FROM e
        |), r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY series ORDER BY s_high DESC, t) AS rh,
        |    ROW_NUMBER() OVER (PARTITION BY series ORDER BY s_low DESC, t) AS rl
        |  FROM o
        |)
        |SELECT series, MAX(n) AS n_points, MAX(sx) AS total,
        |  MAX(CASE WHEN rh = 1 THEN CASE WHEN sx > 0
        |    THEN CAST(CAST(s_high AS HUGEINT) * 1000
        |      // (CAST(n AS HUGEINT) * sx) AS BIGINT) ELSE 0 END END) AS high_pm,
        |  MAX(CASE WHEN rh = 1 THEN h0 END) AS high_onset,
        |  MAX(CASE WHEN rh = 1 THEN t END) AS high_at,
        |  MAX(CASE WHEN rl = 1 THEN CASE WHEN sx > 0
        |    THEN CAST(CAST(s_low AS HUGEINT) * 1000
        |      // (CAST(n AS HUGEINT) * sx) AS BIGINT) ELSE 0 END END) AS low_pm,
        |  MAX(CASE WHEN rl = 1 THEN l0 END) AS low_onset,
        |  MAX(CASE WHEN rl = 1 THEN t END) AS low_at
        |FROM r WHERE rh = 1 OR rl = 1
        |GROUP BY series ORDER BY series""".stripMargin,

    // C99: per-source KS drift — the scaled-ECDF integer form replayed
    // window-for-window: dense slice×value grid, per-slice cumulated
    // counts, the global cumulated counts, D_num = |cs·n_rest −
    // c_rest·n_s| maximized with the (dnum DESC, v ASC) pick, per-mille
    // truncating division.
    "q179_ks_drift" ->
      """WITH counts AS (
        |  SELECT source AS slice, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2
        |), tot AS (SELECT slice, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY slice),
        |gt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM counts),
        |vals AS (SELECT DISTINCT v FROM counts),
        |grid AS (
        |  SELECT t.slice, vals.v, t.n_s, gt.n_all, COALESCE(c.c, 0) AS c
        |  FROM vals CROSS JOIN tot t CROSS JOIN gt
        |  LEFT JOIN counts c ON c.slice = t.slice AND c.v = vals.v
        |), gcum AS (
        |  SELECT v, CAST(SUM(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS call
        |  FROM (SELECT v, SUM(c) AS cv FROM counts GROUP BY v)
        |), d AS (
        |  SELECT g.slice, g.v, g.n_s, g.n_all - g.n_s AS n_rest,
        |    CAST(SUM(g.c) OVER (PARTITION BY g.slice ORDER BY g.v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
        |    gc.call
        |  FROM grid g JOIN gcum gc ON g.v = gc.v
        |), d2 AS (
        |  SELECT slice, v, n_s, n_rest, ABS(cs * n_rest - (call - cs) * n_s) AS dnum FROM d
        |), p AS (
        |  SELECT *, row_number() OVER (PARTITION BY slice ORDER BY dnum DESC, v ASC) AS rn FROM d2
        |)
        |SELECT slice, n_s AS n_slice, n_rest,
        |  CAST(CAST(dnum AS HUGEINT) * 1000 // (CAST(n_s AS HUGEINT) * n_rest) AS BIGINT) AS ks_pm,
        |  CAST(v AS BIGINT) AS ks_at_value
        |FROM p WHERE rn = 1 ORDER BY slice""".stripMargin,

    // C98: Z-order layout audit — bit-interleave, equal-width file
    // assignment over the broadcast max, per-file min/max footer stats and
    // conjunctive box-overlap pruning replayed integer-for-integer; the
    // Morton expression is generated (bit b of dim i → position 2b+i),
    // matching operators/Layout.zOrderKey's layout exactly.
    "q178_zorder_layout" -> {
      val zexpr = (0 until 16).flatMap(b => Seq(
        s"(((ck >> $b) & 1) << ${2 * b})",
        s"(((dd >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
      s"""WITH base AS (
         |  SELECT CAST(o_custkey % 65536 AS BIGINT) AS ck,
         |         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd
         |  FROM orders
         |), zb AS (SELECT ck, dd, CAST($zexpr AS BIGINT) AS zk FROM base),
         |zmx AS (SELECT MAX(zk) AS mx FROM zb),
         |zf AS (SELECT ck, dd, zk * 64 // (mx + 1) AS f FROM zb, zmx),
         |zs AS (SELECT f, MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd
         |       FROM zf GROUP BY f),
         |dmx AS (SELECT MAX(dd) AS mx FROM base),
         |dfx AS (SELECT ck, dd, dd * 64 // (mx + 1) AS f FROM base, dmx),
         |ds AS (SELECT f, MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd
         |       FROM dfx GROUP BY f),
         |pr AS (SELECT * FROM (VALUES
         |  ('ck_band', 100, 199, NULL, NULL),
         |  ('day_band', NULL, NULL, 365, 729),
         |  ('box', 100, 199, 365, 729)) AS v(probe, cklo, ckhi, ddlo, ddhi)),
         |tz AS (SELECT 'zorder' AS layout, probe,
         |  CAST(SUM(CASE WHEN (cklo IS NULL OR (mnc <= ckhi AND mxc >= cklo))
         |        AND (ddlo IS NULL OR (mnd <= ddhi AND mxd >= ddlo)) THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |  CAST(COUNT(*) AS BIGINT) AS files_total
         |  FROM zs, pr GROUP BY probe),
         |td AS (SELECT 'datesort' AS layout, probe,
         |  CAST(SUM(CASE WHEN (cklo IS NULL OR (mnc <= ckhi AND mxc >= cklo))
         |        AND (ddlo IS NULL OR (mnd <= ddhi AND mxd >= ddlo)) THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |  CAST(COUNT(*) AS BIGINT) AS files_total
         |  FROM ds, pr GROUP BY probe),
         |cnt AS (
         |  SELECT 'ck_band' AS probe, CAST(COUNT(*) AS BIGINT) AS rows_in_probe
         |  FROM base WHERE ck BETWEEN 100 AND 199
         |  UNION ALL
         |  SELECT 'day_band', CAST(COUNT(*) AS BIGINT) FROM base WHERE dd BETWEEN 365 AND 729
         |  UNION ALL
         |  SELECT 'box', CAST(COUNT(*) AS BIGINT) FROM base
         |  WHERE ck BETWEEN 100 AND 199 AND dd BETWEEN 365 AND 729)
         |SELECT layout, probe, files_touched, files_total, rows_in_probe
         |FROM (SELECT * FROM tz UNION ALL SELECT * FROM td) u
         |JOIN cnt USING (probe)
         |ORDER BY layout, probe""".stripMargin
    },

    // C103: seed distance — 4 BFS rounds replayed: each round unions the
    // settled frame with the frontier's expansions and re-minimizes
    // (expanding from ALL settled nodes rather than the frontier is
    // min-equivalent, so the oracle uses the simpler form); unreached
    // nodes report hops = -1.
    "q183_seed_distance" -> {
      val rounds = (1 to 4).map { k =>
        val pv = s"d${k - 1}"
        s"""d$k AS MATERIALIZED (
           |  SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
           |    SELECT node, d FROM $pv
           |    UNION ALL
           |    SELECT ed.dst AS node, $pv.d + 1 AS d
           |    FROM ed JOIN $pv ON ed.src = $pv.node
           |  ) GROUP BY node),""".stripMargin
      }.mkString("\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS s
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), ed AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT 2 * c AS src, 2 * s + 1 AS dst FROM e
         |    UNION ALL
         |    SELECT 2 * s + 1 AS src, 2 * c AS dst FROM e)
         |), seeds AS MATERIALIZED (
         |  SELECT 2 * o_custkey AS node FROM orders GROUP BY o_custkey
         |  ORDER BY COUNT(*) DESC, o_custkey ASC LIMIT 10
         |), nodes AS (SELECT DISTINCT src AS node FROM ed),
         |d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM seeds),
         |$rounds
         |fin AS (
         |  SELECT CASE WHEN n.node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
         |    COALESCE(d4.d, -1) AS hops
         |  FROM nodes n LEFT JOIN d4 ON n.node = d4.node)
         |SELECT side, hops, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM fin GROUP BY side, hops
         |ORDER BY side, hops""".stripMargin
    },

    // C102: HITS — 8 double-sided power rounds replayed CTE-for-CTE:
    // HUGEINT hub·w / auth·w sums (Spark: DECIMAL(38,0)), per-side MAX
    // renorm to 10⁴ with truncating division, zero scores for empty
    // sides, greatest() total order.
    "q182_hits" -> {
      val rounds = (1 to 8).map { k =>
        val ph = s"h${k - 1}"
        s"""a${k}s AS (SELECT ed.dst AS node, SUM(CAST($ph.h AS HUGEINT) * ed.w) AS s
           |       FROM ed JOIN $ph ON $ph.node = ed.src GROUP BY ed.dst),
           |a${k}j AS (SELECT n.node, COALESCE(a${k}s.s, 0) AS s
           |       FROM nodes n LEFT JOIN a${k}s ON n.node = a${k}s.node),
           |a${k}m AS (SELECT MAX(s) AS mx FROM a${k}j),
           |a$k AS MATERIALIZED (SELECT node,
           |       CASE WHEN mx > 0 THEN CAST(s * 10000 // mx AS BIGINT) ELSE 0 END AS a
           |       FROM a${k}j, a${k}m),
           |h${k}s AS (SELECT ed.src AS node, SUM(CAST(a$k.a AS HUGEINT) * ed.w) AS s
           |       FROM ed JOIN a$k ON a$k.node = ed.dst GROUP BY ed.src),
           |h${k}j AS (SELECT n.node, COALESCE(h${k}s.s, 0) AS s
           |       FROM nodes n LEFT JOIN h${k}s ON n.node = h${k}s.node),
           |h${k}m AS (SELECT MAX(s) AS mx FROM h${k}j),
           |h$k AS MATERIALIZED (SELECT node,
           |       CASE WHEN mx > 0 THEN CAST(s * 10000 // mx AS BIGINT) ELSE 0 END AS h
           |       FROM h${k}j, h${k}m),""".stripMargin
      }.mkString("\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), ed AS MATERIALIZED (
         |  SELECT 2 * c AS src, 2 * s + 1 AS dst, w FROM e
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS node FROM ed UNION SELECT DISTINCT dst FROM ed
         |), h0 AS (SELECT node, CAST(10000 AS BIGINT) AS h FROM nodes),
         |$rounds
         |fin AS (
         |  SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
         |    node // 2 AS id, h8.h AS hub_fx, a8.a AS auth_fx,
         |    GREATEST(h8.h, a8.a) AS score_fx
         |  FROM h8 JOIN a8 USING (node))
         |SELECT side, id, hub_fx, auth_fx, score_fx FROM fin
         |ORDER BY score_fx DESC, side, id LIMIT 100""".stripMargin
    },

    // C101: personalized PageRank — the q170 graph with the teleport on
    // the 10 highest-order-count customers (integer seed pick, custkey
    // tie-break). r0 = U div S on seeds; each round 85%·contrib plus the
    // seed teleport ((15·U div 100) div S); no danglings on the
    // symmetrized graph, so no dshare term. Divisions truncate in the
    // operator's exact order (U div 100 first, then div S).
    "q181_ppr" -> {
      val scale = 1000000000000L
      val rounds = (1 to 6).map { k =>
        val pv = s"r${k - 1}"
        s"""r$k AS MATERIALIZED (
           |  SELECT n.node, CAST(85 * COALESCE(c.s, 0) // 100 AS BIGINT)
           |      + CASE WHEN n.sd THEN (15 * CAST($scale AS BIGINT) // 100) // ns.s ELSE 0 END AS r
           |  FROM nodes n CROSS JOIN ns LEFT JOIN (
           |    SELECT ed.dst AS node, CAST(SUM($pv.r * ed.w // ed.wt) AS BIGINT) AS s
           |    FROM ed JOIN $pv ON $pv.node = ed.src
           |    GROUP BY ed.dst) c ON n.node = c.node),""".stripMargin
      }.mkString("\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), e2 AS (
         |  SELECT 2 * c AS src, 2 * s + 1 AS dst, w FROM e
         |  UNION ALL
         |  SELECT 2 * s + 1 AS src, 2 * c AS dst, w FROM e
         |), ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM e2 GROUP BY src),
         |ed AS MATERIALIZED (
         |  SELECT e2.src, e2.dst, e2.w, ws.wt FROM e2 JOIN ws ON e2.src = ws.src
         |), seeds AS MATERIALIZED (
         |  SELECT 2 * o_custkey AS node FROM orders GROUP BY o_custkey
         |  ORDER BY COUNT(*) DESC, o_custkey ASC LIMIT 10
         |), ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM seeds),
         |nodes AS MATERIALIZED (
         |  SELECT node, node IN (SELECT node FROM seeds) AS sd
         |  FROM (SELECT DISTINCT src AS node FROM e2)
         |), r0 AS (
         |  SELECT node, CASE WHEN sd THEN CAST($scale AS BIGINT) // ns.s ELSE 0 END AS r
         |  FROM nodes CROSS JOIN ns),
         |$rounds
         |fin AS (
         |  SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
         |    node // 2 AS id, r AS rank_fx
         |  FROM r6)
         |SELECT side, id, rank_fx FROM fin
         |ORDER BY rank_fx DESC, side, id LIMIT 100""".stripMargin
    },

    // C106: layout advisor — five candidate layouts (two sorts, three
    // Morton pairs) priced over the five-probe workload; each candidate
    // is an equal-width assignment over its own key domain, stats carry
    // ALL THREE dims, probes use the q178 NULL-guard form, and the
    // verdict is the workload sum.
    "q186_layout_advisor" -> {
      def z(a: String, b: String) = (0 until 16).flatMap(bit => Seq(
        s"((($a >> $bit) & 1) << ${2 * bit})",
        s"((($b >> $bit) & 1) << ${2 * bit + 1})")).mkString(" | ")
      val candidates = Seq(
        ("sort_ck", "ck"), ("sort_dd", "dd"),
        ("z_ck_dd", z("ck", "dd")), ("z_ck_pb", z("ck", "pb")),
        ("z_dd_pb", z("dd", "pb")))
      val priced = candidates.map { case (name, keyExpr) =>
        s"""SELECT '$name' AS candidate,
           |  CAST(SUM(ft) AS BIGINT) AS workload_files_touched,
           |  CAST(MAX(tot) AS BIGINT) AS files_total
           |FROM (
           |  SELECT pr.probe,
           |    SUM(CASE WHEN (cklo IS NULL OR (mnc <= ckhi AND mxc >= cklo))
           |         AND (ddlo IS NULL OR (mnd <= ddhi AND mxd >= ddlo))
           |         AND (pblo IS NULL OR (mnp <= pbhi AND mxp >= pblo)) THEN 1 ELSE 0 END) AS ft,
           |    COUNT(*) AS tot
           |  FROM (
           |    SELECT f, MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd,
           |           MIN(pb) AS mnp, MAX(pb) AS mxp
           |    FROM (SELECT ck, dd, pb, zk * 64 // (mxk + 1) AS f
           |          FROM (SELECT ck, dd, pb, CAST($keyExpr AS BIGINT) AS zk FROM base) kb,
           |               (SELECT MAX(CAST($keyExpr AS BIGINT)) AS mxk FROM base) km)
           |    GROUP BY f) s, pr
           |  GROUP BY pr.probe)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS (
         |  SELECT CAST(o_custkey % 65536 AS BIGINT) AS ck,
         |         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS pb
         |  FROM orders
         |), pr AS (SELECT * FROM (VALUES
         |  ('p1', 100, 199, NULL, NULL, NULL, NULL),
         |  ('p2', NULL, NULL, 365, 729, NULL, NULL),
         |  ('p3', 100, 199, 365, 729, NULL, NULL),
         |  ('p4', NULL, NULL, NULL, NULL, 100, 150),
         |  ('p5', 100, 199, NULL, NULL, 100, 150))
         |  AS v(probe, cklo, ckhi, ddlo, ddhi, pblo, pbhi))
         |SELECT candidate, workload_files_touched, files_total FROM (
         |$priced
         |) ORDER BY candidate""".stripMargin
    },

    // C105: layout decay — three file-stats frames (clustered history,
    // +time-ordered appends, full re-cluster) and the same NULL-guarded
    // overlap pricing as q178, replayed integer-for-integer.
    "q185_layout_decay" -> {
      val zexpr = (0 until 16).flatMap(b => Seq(
        s"(((ck >> $b) & 1) << ${2 * b})",
        s"(((dd >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
      s"""WITH base AS (
         |  SELECT CAST(o_custkey % 65536 AS BIGINT) AS ck,
         |         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd
         |  FROM orders
         |), hist AS (SELECT * FROM base WHERE dd < 1800),
         |fresh AS (SELECT * FROM base WHERE dd >= 1800),
         |hz AS (SELECT ck, dd, CAST($zexpr AS BIGINT) AS zk FROM hist),
         |hmx AS (SELECT MAX(zk) AS mx FROM hz),
         |hf AS (SELECT ck, dd, zk * 48 // (mx + 1) AS f FROM hz, hmx),
         |hs AS (SELECT f, MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd
         |       FROM hf GROUP BY f),
         |fs AS (SELECT 1000 + (dd - 1800) // 32 AS f,
         |       MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd
         |       FROM fresh GROUP BY 1),
         |ds AS (SELECT * FROM hs UNION ALL SELECT * FROM fs),
         |rz AS (SELECT ck, dd, CAST($zexpr AS BIGINT) AS zk FROM base),
         |rmx AS (SELECT MAX(zk) AS mx FROM rz),
         |rf AS (SELECT ck, dd, zk * 64 // (mx + 1) AS f FROM rz, rmx),
         |rs AS (SELECT f, MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd
         |       FROM rf GROUP BY f),
         |pr AS (SELECT * FROM (VALUES
         |  ('ck_band', 100, 199, NULL, NULL),
         |  ('box_hist', 100, 199, 365, 729),
         |  ('box_fresh', 100, 199, 1900, 2100)) AS v(probe, cklo, ckhi, ddlo, ddhi)),
         |priced AS (
         |  SELECT 'clustered' AS layout_state, probe,
         |    CAST(SUM(CASE WHEN (cklo IS NULL OR (mnc <= ckhi AND mxc >= cklo))
         |          AND (ddlo IS NULL OR (mnd <= ddhi AND mxd >= ddlo)) THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |    CAST(COUNT(*) AS BIGINT) AS files_total
         |  FROM hs, pr GROUP BY probe
         |  UNION ALL
         |  SELECT 'with_appends', probe,
         |    CAST(SUM(CASE WHEN (cklo IS NULL OR (mnc <= ckhi AND mxc >= cklo))
         |          AND (ddlo IS NULL OR (mnd <= ddhi AND mxd >= ddlo)) THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(COUNT(*) AS BIGINT)
         |  FROM ds, pr GROUP BY probe
         |  UNION ALL
         |  SELECT 'reclustered', probe,
         |    CAST(SUM(CASE WHEN (cklo IS NULL OR (mnc <= ckhi AND mxc >= cklo))
         |          AND (ddlo IS NULL OR (mnd <= ddhi AND mxd >= ddlo)) THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(COUNT(*) AS BIGINT)
         |  FROM rs, pr GROUP BY probe)
         |SELECT layout_state, probe, files_touched, files_total
         |FROM priced ORDER BY layout_state, probe""".stripMargin
    },

    // C104: compaction plan — the q178 z-stats frame plus the exclusive
    // prefix-sum group assignment (cum_prev div target) and per-group
    // envelope aggregation, replayed integer-for-integer.
    "q184_compaction_plan" -> {
      val zexpr = (0 until 16).flatMap(b => Seq(
        s"(((ck >> $b) & 1) << ${2 * b})",
        s"(((dd >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
      s"""WITH base AS (
         |  SELECT CAST(o_custkey % 65536 AS BIGINT) AS ck,
         |         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd
         |  FROM orders
         |), zb AS (SELECT ck, dd, CAST($zexpr AS BIGINT) AS zk FROM base),
         |zmx AS (SELECT MAX(zk) AS mx FROM zb),
         |zf AS (SELECT ck, dd, zk * 64 // (mx + 1) AS f FROM zb, zmx),
         |zs AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       MIN(ck) AS mnc, MAX(ck) AS mxc, MIN(dd) AS mnd, MAX(dd) AS mxd
         |       FROM zf GROUP BY f),
         |cum AS (SELECT *, COALESCE(SUM(n_rows) OVER (ORDER BY f
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
         |       FROM zs),
         |grp AS (SELECT *, CAST(cp // 2000 AS BIGINT) AS grp FROM cum)
         |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |  MIN(f) AS file_lo, MAX(f) AS file_hi,
         |  MIN(mnc) AS min_ck, MAX(mxc) AS max_ck,
         |  MIN(mnd) AS min_dd, MAX(mxd) AS max_dd
         |FROM grp GROUP BY grp
         |ORDER BY grp""".stripMargin
    },

    // C89 dangling path: the q170 replay plus the operator's dangling-mass
    // term — customer→supplier edges only, every supplier a pure sink.
    // Per round a scalar-subquery CTE computes D div N (the semi-join of
    // the previous rank frame with the dangling set, truncating division,
    // exactly the operator's 1-row broadcast) and the damped update adds
    // it inside the 85·(Σ + dshare) product, mirroring Spark op-for-op.
    "q175_pagerank_dangling" -> {
      val rounds = (1 to 6).map { k =>
        val pv = s"r${k - 1}"
        s"""d$k AS (SELECT CAST((SELECT COALESCE(SUM(r), 0) FROM $pv WHERE node IN (SELECT node FROM dang))
           |       // (SELECT n FROM nn) AS BIGINT) AS ds),
           |r$k AS MATERIALIZED (
           |  SELECT n.node, CAST((15 * CAST(1000000000 AS BIGINT) + 85 * (COALESCE(c.s, 0) + d$k.ds)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT ed.dst AS node, CAST(SUM($pv.r * ed.w // ed.wt) AS BIGINT) AS s
           |    FROM ed JOIN $pv ON $pv.node = ed.src
           |    GROUP BY ed.dst) c ON n.node = c.node, d$k),""".stripMargin
      }.mkString("\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), e2 AS (
         |  SELECT 2 * c AS src, 2 * s + 1 AS dst, w FROM e
         |), ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM e2 GROUP BY src),
         |ed AS MATERIALIZED (
         |  SELECT e2.src, e2.dst, e2.w, ws.wt FROM e2 JOIN ws ON e2.src = ws.src
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS node FROM e2 UNION SELECT DISTINCT dst FROM e2
         |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         |dang AS MATERIALIZED (
         |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e2)
         |), r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         |$rounds
         |fin AS (
         |  SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
         |    node // 2 AS id, r AS rank_fx
         |  FROM r6)
         |SELECT side, id, rank_fx FROM fin
         |ORDER BY rank_fx DESC, side, id LIMIT 100""".stripMargin
    },

    // C88: isotropy correction — the q163 power-method replay extended
    // with the per-vector projection audit: dot/energy per vec_id, the
    // HUGEINT-squared removed energy, per-mille share, and the truncated
    // residual dot. Every division truncates toward zero on both engines.
    "q169_isotropy_correct" -> {
      val rounds = (1 to 8).map { k =>
        val pv = s"v${k - 1}"
        s"""u$k AS MATERIALIZED (SELECT m.i, CAST(SUM(CAST(m.m AS HUGEINT) * $pv.vj) AS BIGINT) AS u
           |       FROM m JOIN $pv ON m.j = $pv.j GROUP BY m.i),
           |x$k AS MATERIALIZED (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS mx FROM u$k),
           |v$k AS MATERIALIZED (SELECT i AS j, CAST(CAST(u AS HUGEINT) * 10000 // mx AS BIGINT) AS vj FROM u$k, x$k),""".stripMargin
      }.mkString("\n")
      s"""WITH ve AS (
         |  SELECT vec_id, list_transform(embedding,
         |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS sv
         |  FROM embeddings
         |), exi AS MATERIALIZED (
         |  SELECT vec_id, sv, generate_subscripts(sv, 1) - 1 AS i, unnest(sv) AS a FROM ve
         |), exij AS (
         |  SELECT i, a, generate_subscripts(sv, 1) - 1 AS j, unnest(sv) AS b FROM exi
         |), m AS MATERIALIZED (
         |  SELECT i, j, CAST(SUM(a * b) AS BIGINT) AS m
         |  FROM exij GROUP BY i, j
         |), v0 AS (SELECT DISTINCT i AS j, CAST(10000 AS BIGINT) AS vj FROM m),
         |$rounds
         |vn AS MATERIALIZED (SELECT CAST(SUM(vj * vj) AS BIGINT) AS vn2 FROM v8),
         |dots AS MATERIALIZED (
         |  SELECT vec_id, CAST(SUM(a * v8.vj) AS BIGINT) AS dot,
         |         CAST(SUM(a * a) AS BIGINT) AS energy
         |  FROM exi JOIN v8 ON exi.i = v8.j GROUP BY vec_id
         |), res AS (
         |  SELECT exi.vec_id,
         |    CAST(SUM((a - (dot * v8.vj) // vn2) * v8.vj) AS BIGINT) AS res_dot
         |  FROM exi JOIN v8 ON exi.i = v8.j
         |       JOIN dots ON dots.vec_id = exi.vec_id, vn
         |  GROUP BY exi.vec_id
         |)
         |SELECT d.vec_id, d.dot AS dot_fx, d.energy AS energy_fx,
         |  CAST(CAST(d.dot AS HUGEINT) * d.dot // vn.vn2 AS BIGINT) AS removed_fx,
         |  CASE WHEN d.energy = 0 THEN NULL
         |       ELSE CAST(CAST(CAST(d.dot AS HUGEINT) * d.dot // vn.vn2 AS BIGINT)
         |                 * 1000 // d.energy AS BIGINT) END AS removed_pm,
         |  r.res_dot AS res_dot_fx
         |FROM dots d JOIN res r ON d.vec_id = r.vec_id, vn
         |ORDER BY d.vec_id""".stripMargin
    },

    // C84: k-anonymity audit — class sizes over the quasi-identifier
    // tuple, k-bucket histogram, integer per-mille row shares.
    "q160_k_anonymity" ->
      """WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM customer GROUP BY c_nationkey, c_mktsegment, bal_band
        |), buckets AS (
        |  SELECT CASE WHEN k = 1 THEN 'k=1'
        |              WHEN k < 5 THEN 'k=2-4'
        |              WHEN k < 10 THEN 'k=5-9'
        |              ELSE 'k>=10' END AS k_bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(k) AS BIGINT) AS n_rows
        |  FROM classes GROUP BY 1
        |), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM customer)
        |SELECT k_bucket, n_classes, n_rows, n_rows * 1000 // tot AS share_permille
        |FROM buckets, t
        |ORDER BY k_bucket""".stripMargin,

    // C125: exact set-similarity join — the oracle is the BRUTE-FORCE
    // all-pairs intersection join (no prefix filter): equality proves the
    // prefix-filter theorem loses no pair and invents none.
    "q205_exact_jaccard" ->
      """WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT DISTINCT id, array_to_string(ws[i:i+2], ' ') AS s
        |  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 3
        |), sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |com AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common, sa.n AS n_a, sb.n AS n_b,
        |  1000 * common // (sa.n + sb.n - common) AS j_pm
        |FROM com JOIN sz sa ON sa.id = doc_a JOIN sz sb ON sb.id = doc_b
        |WHERE 1000 * common // (sa.n + sb.n - common) >= 500
        |ORDER BY doc_a, doc_b""".stripMargin,

    // C126: BM25 ranked retrieval — full integer replay: fixed-point log2
    // idf via the staged l2 CTE chain (one tall frame carrying the per-term
    // denominators plus a '__N' sentinel row for the shared numerator),
    // per-mille tf saturation / length norm (HUGEINT for the dl*N
    // product), top-10 per query with doc_id ties.
    "q206_bm25" ->
      s"""WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
        |         unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |qt(query_id, term) AS (VALUES
        |  (1, 'spark'), (1, 'join'), (1, 'agg'),
        |  (2, 'slow'), (2, 'scan'), (2, 'table'),
        |  (3, 'hash'), (3, 'merge'), (3, 'sort'), (3, 'window'), (3, 'batch'),
        |  (4, 'vector'), (4, 'stream'), (4, 'quantum')),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM toks
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
        |st AS MATERIALIZED (
        |  SELECT COUNT(*)::BIGINT AS n_docs,
        |         SUM(len(string_split(text, ' ')))::BIGINT AS l_total
        |  FROM documents),
        |l2in AS (
        |  SELECT term, (2 * df + 1)::BIGINT AS x
        |  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1)
        |  UNION ALL SELECT '__N', (2 * n_docs + 2)::BIGINT FROM st),
        |${l2Stages("l2in", "term")},
        |idf AS (
        |  SELECT d.term, n.nl2 - d.l2 AS idf_q10
        |  FROM lg d, (SELECT l2 AS nl2 FROM lg WHERE term = '__N') n
        |  WHERE d.term <> '__N'),
        |sc AS (
        |  SELECT query_id, tf.doc_id,
        |    SUM(idf_q10 * (tf * 2200 * 1000000 // (tf * 1000000 +
        |      1200 * (1000 * 250 + 750 * (1000::HUGEINT * dl * n_docs // l_total)::BIGINT))))::BIGINT AS score_q10pm,
        |    COUNT(*)::BIGINT AS n_terms
        |  FROM tf JOIN qt USING (term) JOIN idf USING (term), st
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (
        |         PARTITION BY query_id ORDER BY score_q10pm DESC, doc_id)::BIGINT AS rank
        |       FROM sc)
        |SELECT query_id, rank, doc_id, score_q10pm, n_terms FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // C127: KMV bottom-k sketches + pairwise set-operation estimates —
    // full replay: unsigned xxhash via the macro chain, per-slice bottom-k
    // windows, merged-pair bottom-k, and the integer theta estimators.
    "q207_kmv_sketch" -> (xxMacros +
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
        |tok AS MATERIALIZED (
        |  SELECT DISTINCT source, array_to_string(ws[i:i+2], ' ') AS tok
        |  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 3),
        |${xxTokenHashChain("source")},
        |hs AS MATERIALIZED (SELECT DISTINCT source AS slice, hu FROM tokh),
        |rk AS (SELECT slice, hu, row_number() OVER (PARTITION BY slice ORDER BY hu) AS rk FROM hs),
        |keep AS MATERIALIZED (SELECT slice, hu FROM rk WHERE rk <= 256),
        |est AS MATERIALIZED (
        |  SELECT slice, CASE WHEN COUNT(*) < 256 THEN COUNT(*)::BIGINT
        |    ELSE ((255::HUGEINT * 18446744073709551616::HUGEINT) // MAX(hu))::BIGINT END AS est
        |  FROM keep GROUP BY 1),
        |pairs AS (SELECT a.slice AS sa, b.slice AS sb FROM est a JOIN est b ON a.slice < b.slice),
        |m AS (
        |  SELECT sa, sb, hu, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        |    SELECT p.sa, p.sb, k.hu, 1 AS in_a, 0 AS in_b FROM pairs p JOIN keep k ON k.slice = p.sa
        |    UNION ALL
        |    SELECT p.sa, p.sb, k.hu, 0, 1 FROM pairs p JOIN keep k ON k.slice = p.sb)
        |  GROUP BY 1, 2, 3),
        |mk AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY hu) AS rk FROM m)
        |  WHERE rk <= 256),
        |pa AS (SELECT sa, sb, COUNT(*)::BIGINT AS n_union, MAX(hu) AS h_max,
        |         SUM(in_a * in_b)::BIGINT AS matches FROM mk GROUP BY 1, 2),
        |fin AS (SELECT sa, sb, matches,
        |  CASE WHEN n_union < 256 THEN n_union
        |    ELSE ((255::HUGEINT * 18446744073709551616::HUGEINT) // h_max)::BIGINT END AS union_est,
        |  (1000000 * matches // n_union)::BIGINT AS jacc_ppm FROM pa)
        |SELECT f.sa, f.sb, ea.est AS est_a, eb.est AS est_b, f.union_est, f.matches,
        |  f.jacc_ppm, (f.jacc_ppm * f.union_est // 1000000)::BIGINT AS inter_est
        |FROM fin f JOIN est ea ON ea.slice = f.sa JOIN est eb ON eb.slice = f.sb
        |ORDER BY sa, sb""".stripMargin),

    // C128: label-propagation communities — 6 synchronous rounds replayed
    // round-for-round (closed-neighborhood vote, count-desc/label-asc
    // arg-max). Spark's fixed-point early exit agrees because the
    // deterministic update's fixed points stay fixed under replay.
    "q208_label_prop" -> {
      val rounds = (1 to 6).map { k =>
        s"""v$k AS (
           |  SELECT node, lab, COUNT(*) AS c FROM (
           |    SELECT node, lab FROM l${k - 1}
           |    UNION ALL
           |    SELECT und.dst AS node, p.lab FROM und JOIN l${k - 1} p ON p.node = und.src
           |  ) GROUP BY 1, 2),
           |l$k AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT node, lab, row_number() OVER (
           |      PARTITION BY node ORDER BY c DESC, lab ASC) AS rn FROM v$k)
           |  WHERE rn = 1),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM ew UNION SELECT dst, src FROM ew
         |), l0 AS (
         |  SELECT node, node AS lab FROM (SELECT DISTINCT src AS node FROM und)
         |),
         |$rounds
         |sizes AS (SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l6 GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities FROM sizes)
         |SELECT community, n_nodes, n_communities FROM sizes, tot
         |ORDER BY n_nodes DESC, community ASC LIMIT 15""".stripMargin
    },

    // C129: modularity of the LPA partition vs the singleton baseline —
    // replays the 6-round LPA unroll, then the exact integer Newman
    // formula with HUGEINT truncating division (toward zero, matching
    // Spark's `div`).
    // C157: Louvain move phase — 4 synchronized sweeps replayed (per
    // sweep: community totals, per-node neighbor-community counts, the
    // 2m-scaled remove-then-insert gain, argmax with (score DESC, c
    // ASC) ties), then the q209 modularity read-out of the final
    // partition and the 15 largest communities.
    "q241_louvain" -> {
      val sweeps = (1 to 4).map { s =>
        val pl = s"lab${s - 1}"
        s"""tot$s AS (SELECT l.lab AS c, SUM(d.d)::BIGINT AS tot
           |  FROM $pl l JOIN dg d ON d.node = l.node GROUP BY 1),
           |kic$s AS MATERIALIZED (
           |  SELECT u.src AS node, p.lab AS c, COUNT(*)::BIGINT AS k
           |  FROM und u JOIN $pl p ON p.node = u.dst GROUP BY 1, 2),
           |cnd$s AS (SELECT node, c, MAX(k) AS k FROM (
           |  SELECT node, c, k FROM kic$s
           |  UNION ALL SELECT node, lab AS c, 0::BIGINT FROM $pl) GROUP BY 1, 2),
           |sc$s AS (
           |  SELECT cnd.node, cnd.c,
           |    m2.m2::HUGEINT * cnd.k - dg.d::HUGEINT *
           |      (tot.tot - CASE WHEN cnd.c = l.lab THEN dg.d ELSE 0 END) AS score
           |  FROM cnd$s cnd JOIN $pl l ON l.node = cnd.node
           |  JOIN dg ON dg.node = cnd.node JOIN tot$s tot ON tot.c = cnd.c, m2),
           |lab$s AS MATERIALIZED (
           |  SELECT node, c AS lab FROM (
           |    SELECT node, c, ROW_NUMBER() OVER (
           |      PARTITION BY node ORDER BY score DESC, c ASC) AS rn FROM sc$s)
           |  WHERE rn = 1),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM ew UNION SELECT dst, src FROM ew
         |), dg AS MATERIALIZED (
         |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1
         |), m2 AS (SELECT SUM(d)::BIGINT AS m2 FROM dg),
         |lab0 AS (SELECT node, node AS lab FROM dg),
         |$sweeps
         |e AS MATERIALIZED (SELECT src AS a, dst AS b FROM ew),
         |m AS (SELECT COUNT(*)::HUGEINT AS m FROM e),
         |intra AS (
         |  SELECT pa.lab AS community, COUNT(*)::HUGEINT AS e_c
         |  FROM e JOIN lab4 pa ON pa.node = e.a JOIN lab4 pb ON pb.node = e.b
         |  WHERE pa.lab = pb.lab GROUP BY 1),
         |dc AS (
         |  SELECT l.lab AS community, SUM(dg.d)::HUGEINT AS d_c
         |  FROM lab4 l JOIN dg ON dg.node = l.node GROUP BY 1),
         |fin AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |    SUM(4 * m.m * COALESCE(i.e_c, 0::HUGEINT) - dc.d_c * dc.d_c) AS num
         |  FROM dc LEFT JOIN intra i ON i.community = dc.community, m),
         |qq AS (SELECT f.n_communities,
         |  ((1000000::HUGEINT * f.num) // (4 * m.m * m.m))::BIGINT AS q_ppm
         |  FROM fin f, m),
         |sz AS (SELECT lab AS community, COUNT(*)::BIGINT AS n_nodes
         |       FROM lab4 GROUP BY 1)
         |SELECT community, n_nodes, n_communities, q_ppm FROM sz, qq
         |ORDER BY n_nodes DESC, community ASC LIMIT 15""".stripMargin
    },

    "q209_modularity" -> {
      val rounds = (1 to 6).map { k =>
        s"""v$k AS (
           |  SELECT node, lab, COUNT(*) AS c FROM (
           |    SELECT node, lab FROM l${k - 1}
           |    UNION ALL
           |    SELECT und.dst AS node, p.lab FROM und JOIN l${k - 1} p ON p.node = und.src
           |  ) GROUP BY 1, 2),
           |l$k AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT node, lab, row_number() OVER (
           |      PARTITION BY node ORDER BY c DESC, lab ASC) AS rn FROM v$k)
           |  WHERE rn = 1),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM ew UNION SELECT dst, src FROM ew
         |), l0 AS (
         |  SELECT node, node AS lab FROM (SELECT DISTINCT src AS node FROM und)
         |),
         |$rounds
         |e AS MATERIALIZED (SELECT src AS a, dst AS b FROM ew),
         |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM
         |          (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |m AS (SELECT COUNT(*)::HUGEINT AS m FROM e),
         |parts(pname) AS (VALUES ('lpa'), ('singleton')),
         |asg AS (
         |  SELECT 'lpa' AS pname, node, lab AS community FROM l6
         |  UNION ALL SELECT 'singleton', node, node FROM l0),
         |intra AS (
         |  SELECT g.pname, pa.community, COUNT(*)::HUGEINT AS e_c
         |  FROM e JOIN asg pa ON pa.node = e.a JOIN asg pb ON pb.node = e.b
         |       AND pb.pname = pa.pname
         |  JOIN parts g ON g.pname = pa.pname
         |  WHERE pa.community = pb.community
         |  GROUP BY 1, 2),
         |dc AS (
         |  SELECT asg.pname, asg.community, SUM(d)::HUGEINT AS d_c
         |  FROM deg JOIN asg ON asg.node = deg.node GROUP BY 1, 2),
         |fin AS (
         |  SELECT dc.pname,
         |    CAST(COUNT(*) AS BIGINT) AS n_communities,
         |    SUM(4 * m.m * COALESCE(i.e_c, 0::HUGEINT) - dc.d_c * dc.d_c) AS num
         |  FROM dc LEFT JOIN intra i ON i.pname = dc.pname AND i.community = dc.community, m
         |  GROUP BY 1)
         |SELECT f.pname AS partition, f.n_communities, m.m::BIGINT AS m_edges,
         |  ((1000000::HUGEINT * f.num) // (4 * m.m * m.m))::BIGINT AS q_ppm
         |FROM fin f, m
         |ORDER BY partition""".stripMargin
    },

    // C130: JL projection + distortion — the ±1 sign matrix embedded as
    // literals (same splitmix64 stream as the Spark side), every fold in
    // fixed index order on doubles, √16 = 4.0 exact.
    "q210_jl_projection" -> {
      val dot = (vec: String, lst: String) =>
        s"list_reduce(list_transform(list_zip($vec, $lst::DOUBLE[]), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y)"
      val projExprs = (0 until 16).map { j =>
        val signs = (0 until 64).map(d =>
          if (graft.operators.Similarity.hyperplane(101, j, d) >= 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"${dot("ve", signs)} / 4.0"
      }.mkString("[\n    ", ",\n    ", "\n  ]")
      val d2 = (x: String, y: String) =>
        s"list_reduce(list_transform(list_zip($x, $y), s -> (struct_extract(s,1)-struct_extract(s,2))*(struct_extract(s,1)-struct_extract(s,2))), (u,v) -> u+v)"
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings
         |), vv AS MATERIALIZED (
         |  SELECT vec_id, ve, $projExprs AS p FROM v
         |), pr AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${d2("a.ve", "b.ve")} AS d2_orig,
         |    ${d2("a.p", "b.p")} AS d2_proj
         |  FROM vv a JOIN vv b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0)
         |SELECT id_a, id_b, d2_orig, d2_proj,
         |  CASE WHEN d2_orig > 0 THEN CAST(floor(1000 * d2_proj / d2_orig) AS BIGINT) END AS ratio_pm
         |FROM pr ORDER BY id_a""".stripMargin
    },

    // C131: per-slice entropy + KL vs corpus — all logs through the
    // staged fixed-point l2 chain over one tall frame (per-(slice,term)
    // counts, slice totals, corpus term counts, corpus total, slice
    // vocab sizes), then exact integer sums and truncating divisions.
    "q211_entropy_kl" ->
      s"""WITH toks AS (
         |  SELECT source AS slice, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS MATERIALIZED (
         |  SELECT slice, tok, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
         |ns AS MATERIALIZED (SELECT slice, SUM(c)::BIGINT AS n_s FROM c GROUP BY 1),
         |g AS MATERIALIZED (SELECT tok, SUM(c)::BIGINT AS g FROM c GROUP BY 1),
         |mt AS (SELECT SUM(g)::BIGINT AS m FROM g),
         |vs AS (SELECT slice, COUNT(*)::BIGINT AS v FROM c GROUP BY 1),
         |l2in AS (
         |  SELECT 'c' AS kind, slice, tok, c AS x FROM c
         |  UNION ALL SELECT 'ns', slice, '', n_s FROM ns
         |  UNION ALL SELECT 'g', '', tok, g FROM g
         |  UNION ALL SELECT 'm', '', '', m FROM mt
         |  UNION ALL SELECT 'v', slice, '', v FROM vs),
         |${l2Stages("l2in", "kind, slice, tok")},
         |terms AS (
         |  SELECT c.slice, c.c,
         |    lc.l2 AS l2c, lns.l2 AS l2ns, lgg.l2 AS l2g, lm.l2 AS l2m
         |  FROM c
         |  JOIN lg lc ON lc.kind = 'c' AND lc.slice = c.slice AND lc.tok = c.tok
         |  JOIN lg lns ON lns.kind = 'ns' AND lns.slice = c.slice
         |  JOIN lg lgg ON lgg.kind = 'g' AND lgg.tok = c.tok
         |  JOIN lg lm ON lm.kind = 'm'),
         |ag AS (
         |  SELECT slice,
         |    SUM(c * (l2ns - l2c))::HUGEINT AS sh,
         |    SUM(c * ((l2c - l2ns) - (l2g - l2m)))::HUGEINT AS sk,
         |    COUNT(*)::BIGINT AS n_distinct
         |  FROM terms GROUP BY 1)
         |SELECT ag.slice, ns.n_s AS n_tokens, ag.n_distinct,
         |  (sh // ns.n_s::HUGEINT)::BIGINT AS h_q10,
         |  CASE WHEN ag.n_distinct > 1
         |    THEN (1000 * (sh // ns.n_s::HUGEINT) // lv.l2::HUGEINT)::BIGINT END AS h_norm_pm,
         |  (sk // ns.n_s::HUGEINT)::BIGINT AS kl_q10
         |FROM ag JOIN ns ON ns.slice = ag.slice
         |JOIN lg lv ON lv.kind = 'v' AND lv.slice = ag.slice
         |ORDER BY ag.slice""".stripMargin,

    // C132: RRF hybrid — the full BM25 chain (k=20) + the brute-cosine
    // chain (k=20) fused with exact integer reciprocal-rank scores.
    "q212_rrf_hybrid" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |qt(query_id, term) AS (VALUES
         |  (1, 'spark'), (1, 'join'), (1, 'agg'),
         |  (2, 'slow'), (2, 'scan'), (2, 'table')),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM toks
         |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         |st AS MATERIALIZED (
         |  SELECT COUNT(*)::BIGINT AS n_docs,
         |         SUM(len(string_split(text, ' ')))::BIGINT AS l_total
         |  FROM documents),
         |l2in AS (
         |  SELECT term, (2 * df + 1)::BIGINT AS x
         |  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1)
         |  UNION ALL SELECT '__N', (2 * n_docs + 2)::BIGINT FROM st),
         |${l2Stages("l2in", "term")},
         |idf AS (
         |  SELECT d.term, n.nl2 - d.l2 AS idf_q10
         |  FROM lg d, (SELECT l2 AS nl2 FROM lg WHERE term = '__N') n
         |  WHERE d.term <> '__N'),
         |sc AS (
         |  SELECT query_id, tf.doc_id,
         |    SUM(idf_q10 * (tf * 2200 * 1000000 // (tf * 1000000 +
         |      1200 * (1000 * 250 + 750 * (1000::HUGEINT * dl * n_docs // l_total)::BIGINT))))::BIGINT AS s,
         |    COUNT(*) AS nt
         |  FROM tf JOIN qt USING (term) JOIN idf USING (term), st
         |  GROUP BY 1, 2),
         |bmrk AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY s DESC, doc_id)::BIGINT AS rank FROM sc)
         |  WHERE rank <= 20),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
         |nn AS (SELECT vec_id, ve, sqrt(list_reduce(list_transform(list_zip(ve, ve), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y)) AS nrm FROM v),
         |ascored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |    list_reduce(list_transform(list_zip(q.ve, c.ve), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y) / (q.nrm * c.nrm) AS cos_sim
         |  FROM nn q, nn c WHERE q.vec_id IN (1, 2) AND c.vec_id <> q.vec_id),
         |annrk AS (
         |  SELECT CAST(query_id AS INT) AS query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos_sim DESC, doc_id)::BIGINT AS rank
         |    FROM ascored)
         |  WHERE rank <= 20),
         |fused AS (
         |  SELECT query_id, doc_id,
         |    SUM(1000000 // (60 + rank))::BIGINT AS rrf_ppm,
         |    COUNT(*)::BIGINT AS n_sources
         |  FROM (SELECT * FROM bmrk UNION ALL SELECT * FROM annrk)
         |  GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, rrf_ppm, n_sources FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id)::BIGINT AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // C133: MMR re-ranking — candidate top-12 + pair sims once, then the
    // five greedy selection rounds unrolled (penalty max over selected,
    // truncating integer score, score-desc/doc-asc argmax).
    "q213_mmr_rerank" -> {
      val rounds = (2 to 5).map { r =>
        s"""pen$r AS (
           |  SELECT p.query_id, p.da AS neighbor_id, MAX(p.simc_ppm) AS pen
           |  FROM prs p JOIN selu${r - 1} s ON s.query_id = p.query_id AND s.doc_id = p.db
           |  GROUP BY 1, 2),
           |sc$r AS (
           |  SELECT c.query_id, c.neighbor_id,
           |    (700 * c.simq_ppm - 300 * pe.pen) // 1000 AS mmr
           |  FROM cand c JOIN pen$r pe
           |    ON pe.query_id = c.query_id AND pe.neighbor_id = c.neighbor_id
           |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} s
           |                    WHERE s.query_id = c.query_id AND s.doc_id = c.neighbor_id)),
           |s$r AS MATERIALIZED (
           |  SELECT query_id, neighbor_id AS doc_id, CAST($r AS BIGINT) AS mmr_rank, mmr FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rn FROM sc$r)
           |  WHERE rn = 1),
           |selu$r AS (SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM s$r),""".stripMargin
      }.mkString("\n")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
         |nn AS (SELECT vec_id, ve, sqrt(list_reduce(list_transform(list_zip(ve, ve), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y)) AS nrm FROM v),
         |cand AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, CAST(floor(1000000 * cos_sim) AS BIGINT) AS simq_ppm FROM (
         |    SELECT query_id, neighbor_id, cos_sim, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        list_reduce(list_transform(list_zip(q.ve, c.ve), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y) / (q.nrm * c.nrm) AS cos_sim
         |      FROM nn q, nn c WHERE q.vec_id IN (1, 2, 3) AND c.vec_id <> q.vec_id))
         |  WHERE rank <= 12),
         |prs AS MATERIALIZED (
         |  SELECT a.query_id, a.neighbor_id AS da, b.neighbor_id AS db,
         |    CAST(floor(1000000 * (
         |      list_reduce(list_transform(list_zip(va.ve, vb.ve), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y) / (va.nrm * vb.nrm))) AS BIGINT) AS simc_ppm
         |  FROM cand a JOIN cand b ON b.query_id = a.query_id AND b.neighbor_id <> a.neighbor_id
         |  JOIN nn va ON va.vec_id = a.neighbor_id
         |  JOIN nn vb ON vb.vec_id = b.neighbor_id),
         |sc1 AS (SELECT query_id, neighbor_id, (700 * simq_ppm) // 1000 AS mmr FROM cand),
         |s1 AS MATERIALIZED (
         |  SELECT query_id, neighbor_id AS doc_id, CAST(1 AS BIGINT) AS mmr_rank, mmr FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY mmr DESC, neighbor_id) AS rn FROM sc1)
         |  WHERE rn = 1),
         |selu1 AS (SELECT * FROM s1),
         |$rounds
         |fin AS (SELECT * FROM selu5)
         |SELECT query_id, mmr_rank, doc_id, mmr AS mmr_ppm FROM fin
         |ORDER BY query_id, mmr_rank""".stripMargin
    },

    // C134: phrase search — the oracle is the DIRECT sliding-window scan
    // over the token array (the accelerated path must equal it exactly).
    "q214_phrase_search" -> {
      val terms = Seq("table", "scan")
      val conds = terms.zipWithIndex.map { case (t, i) => s"ws[i + $i] = '$t'" }
        .mkString(" AND ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, COUNT(*)::BIGINT AS n_matches
         |  FROM w, unnest(range(1, len(ws) - ${terms.size - 2})) AS t(i)
         |  WHERE $conds GROUP BY 1)
         |SELECT doc_id, n_matches FROM m ORDER BY doc_id""".stripMargin
    },

    // C135: best-window snippet — BM25 chain (k=3), matched positions on
    // the top docs only, RANGE-frame window sums anchored at matches,
    // earliest-max argmax, token-slice snippet.
    "q215_best_snippet" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |qt(query_id, term) AS (VALUES
         |  (1, 'spark'), (1, 'join'), (1, 'agg'),
         |  (2, 'slow'), (2, 'scan'), (2, 'table')),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM toks
         |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         |st AS MATERIALIZED (
         |  SELECT COUNT(*)::BIGINT AS n_docs,
         |         SUM(len(string_split(text, ' ')))::BIGINT AS l_total
         |  FROM documents),
         |l2in AS (
         |  SELECT term, (2 * df + 1)::BIGINT AS x
         |  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1)
         |  UNION ALL SELECT '__N', (2 * n_docs + 2)::BIGINT FROM st),
         |${l2Stages("l2in", "term")},
         |idf AS MATERIALIZED (
         |  SELECT d.term, n.nl2 - d.l2 AS idf_q10
         |  FROM lg d, (SELECT l2 AS nl2 FROM lg WHERE term = '__N') n
         |  WHERE d.term <> '__N'),
         |sc AS (
         |  SELECT query_id, tf.doc_id,
         |    SUM(idf_q10 * (tf * 2200 * 1000000 // (tf * 1000000 +
         |      1200 * (1000 * 250 + 750 * (1000::HUGEINT * dl * n_docs // l_total)::BIGINT))))::BIGINT AS s
         |  FROM tf JOIN qt USING (term) JOIN idf USING (term), st
         |  GROUP BY 1, 2),
         |top AS MATERIALIZED (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY s DESC, doc_id)::BIGINT AS rank FROM sc)
         |  WHERE rank <= 3),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |      WHERE doc_id IN (SELECT doc_id FROM top)),
         |posn AS (
         |  SELECT doc_id, (i - 1)::BIGINT AS pos, ws[i] AS term
         |  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
         |  WHERE ws[i] IN (SELECT term FROM qt)),
         |matched AS (
         |  SELECT tp.query_id, tp.doc_id, tp.rank, p.pos, idf.idf_q10
         |  FROM posn p JOIN qt ON qt.term = p.term
         |  JOIN idf ON idf.term = p.term
         |  JOIN top tp ON tp.query_id = qt.query_id AND tp.doc_id = p.doc_id),
         |anch AS (
         |  SELECT *, SUM(idf_q10) OVER (
         |      PARTITION BY query_id, doc_id ORDER BY pos
         |      RANGE BETWEEN CURRENT ROW AND 7 FOLLOWING)::BIGINT AS snippet_q10
         |  FROM matched),
         |best AS (
         |  SELECT query_id, doc_id, rank, pos AS start_pos, snippet_q10 FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id, doc_id ORDER BY snippet_q10 DESC, pos) AS rn
         |    FROM anch)
         |  WHERE rn = 1)
         |SELECT b.query_id, b.rank, b.doc_id, b.start_pos, b.snippet_q10,
         |  array_to_string(w.ws[(b.start_pos + 1)::INT : (b.start_pos + 8)::INT], ' ') AS snippet
         |FROM best b JOIN w ON w.doc_id = b.doc_id
         |ORDER BY b.query_id, b.rank""".stripMargin,

    // C136: PRF expansion — full-vocabulary postings/idf (the corpus
    // vocabulary is small; values identical to the restricted frames),
    // pass-1 ranking, Σtf·idf mining with original-term exclusion,
    // weighted pass-2 with per-term floor before the sum.
    "q216_prf_expansion" -> {
      val tfs = "(tf * 2200 * 1000000 // (tf * 1000000 + " +
        "1200 * (1000 * 250 + 750 * (1000::HUGEINT * dl * n_docs // l_total)::BIGINT)))"
      s"""WITH toks AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tfa AS MATERIALIZED (
         |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2, 3),
         |st AS MATERIALIZED (
         |  SELECT COUNT(*)::BIGINT AS n_docs,
         |         SUM(len(string_split(text, ' ')))::BIGINT AS l_total
         |  FROM documents),
         |l2in AS (
         |  SELECT term, (2 * df + 1)::BIGINT AS x
         |  FROM (SELECT term, COUNT(*)::BIGINT AS df FROM tfa GROUP BY 1)
         |  UNION ALL SELECT '__N', (2 * n_docs + 2)::BIGINT FROM st),
         |${l2Stages("l2in", "term")},
         |idf AS MATERIALIZED (
         |  SELECT d.term, n.nl2 - d.l2 AS idf_q10
         |  FROM lg d, (SELECT l2 AS nl2 FROM lg WHERE term = '__N') n
         |  WHERE d.term <> '__N'),
         |qt(query_id, term) AS (VALUES
         |  (1, 'spark'), (1, 'join'), (1, 'agg'),
         |  (2, 'slow'), (2, 'scan'), (2, 'table')),
         |sc1 AS (
         |  SELECT query_id, tfa.doc_id,
         |    SUM(idf_q10 * $tfs)::BIGINT AS s
         |  FROM tfa JOIN qt USING (term) JOIN idf USING (term), st
         |  GROUP BY 1, 2),
         |topf AS MATERIALIZED (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank FROM sc1)
         |  WHERE rank <= 5),
         |expw AS (
         |  SELECT tp.query_id, t.term, SUM(t.tf * idf.idf_q10)::BIGINT AS wgt
         |  FROM tfa t JOIN topf tp ON tp.doc_id = t.doc_id
         |  JOIN idf ON idf.term = t.term
         |  WHERE NOT EXISTS (SELECT 1 FROM qt
         |                    WHERE qt.query_id = tp.query_id AND qt.term = t.term)
         |  GROUP BY 1, 2),
         |expn AS (
         |  SELECT query_id, term, 400::BIGINT AS w_pm FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY wgt DESC, term ASC) AS rn FROM expw)
         |  WHERE rn <= 3),
         |qtw AS (
         |  SELECT query_id, term, 1000::BIGINT AS w_pm FROM qt
         |  UNION ALL SELECT query_id, term, w_pm FROM expn),
         |sc2 AS (
         |  SELECT query_id, tfa.doc_id,
         |    SUM((w_pm * idf_q10 * $tfs) // 1000)::BIGINT AS score_q10pm,
         |    COUNT(*)::BIGINT AS n_terms
         |  FROM tfa JOIN qtw USING (term) JOIN idf USING (term), st
         |  GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, score_q10pm, n_terms FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_q10pm DESC, doc_id)::BIGINT AS rank
         |  FROM sc2)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // C137: weighted seed costs — 8 Bellman-Ford relaxation rounds
    // unrolled (post-convergence rounds are no-ops, matching the sound
    // early exit), then the cost-bucket histogram.
    "q217_weighted_cost" -> {
      val rounds = (1 to 8).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT node, MIN(cost) AS cost FROM (
           |    SELECT node, cost FROM d${k - 1}
           |    UNION ALL
           |    SELECT und.dst AS node, p.cost + und.w FROM und
           |    JOIN d${k - 1} p ON p.node = und.src
           |  ) GROUP BY node),""".stripMargin
      }.mkString("\n")
      s"""WITH pts AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
         |), ew AS MATERIALIZED (
         |  SELECT a.pk AS src, b.pk AS dst, 1000 // COUNT(*) AS w
         |  FROM pts a JOIN pts b ON a.o = b.o AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), und AS MATERIALIZED (
         |  SELECT src, dst, w FROM ew UNION SELECT dst, src, w FROM ew
         |), seeds AS (
         |  SELECT node FROM (SELECT DISTINCT src AS node FROM und)
         |  ORDER BY node LIMIT 3
         |), d0 AS (SELECT node, 0::BIGINT AS cost FROM seeds),
         |$rounds
         |fin AS (SELECT node, cost FROM d8)
         |SELECT cost // 100 AS cost_bucket, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  MIN(cost)::BIGINT AS min_cost
         |FROM fin GROUP BY 1 ORDER BY cost_bucket""".stripMargin
    },

    // C138: greedy k-center — the 5 post-seed farthest-point rounds
    // unrolled; each round one running-min update against the new pick
    // plus one (dmin desc, id asc) top-1.
    "q218_k_center" -> {
      val dot = "list_reduce(list_transform(list_zip(c.ve, p.ve), " +
        "s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y)"
      val rounds = (2 to 6).map { r =>
        val prev = if (r == 2) "dm1" else s"dm${r - 1}"
        s"""p$r AS MATERIALIZED (
           |  SELECT vec_id, ve, nrm, dmin FROM $prev
           |  ORDER BY dmin DESC, vec_id LIMIT 1),
           |dm$r AS MATERIALIZED (
           |  SELECT c.vec_id, c.ve, c.nrm,
           |    LEAST(c.dmin, 1000000 - CAST(floor(1000000 * ($dot) / (c.nrm * p.nrm)) AS BIGINT)) AS dmin
           |  FROM $prev c, p$r p WHERE c.vec_id <> p.vec_id),""".stripMargin
      }.mkString("\n")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
         |nn AS (SELECT vec_id, ve, sqrt(list_reduce(list_transform(list_zip(ve, ve), s -> struct_extract(s,1)*struct_extract(s,2)), (x,y) -> x+y)) AS nrm FROM v),
         |seed AS MATERIALIZED (SELECT vec_id, ve, nrm FROM nn ORDER BY vec_id LIMIT 1),
         |dm1 AS MATERIALIZED (
         |  SELECT c.vec_id, c.ve, c.nrm,
         |    1000000 - CAST(floor(1000000 * (${dot.replace("p.ve", "s.ve")}) / (c.nrm * s.nrm)) AS BIGINT) AS dmin
         |  FROM nn c, seed s WHERE c.vec_id <> s.vec_id),
         |$rounds
         |fin AS (
         |  SELECT 1::BIGINT AS rank, vec_id, 0::BIGINT AS radius_ppm FROM seed
         |  UNION ALL SELECT 2, vec_id, dmin FROM p2
         |  UNION ALL SELECT 3, vec_id, dmin FROM p3
         |  UNION ALL SELECT 4, vec_id, dmin FROM p4
         |  UNION ALL SELECT 5, vec_id, dmin FROM p5
         |  UNION ALL SELECT 6, vec_id, dmin FROM p6)
         |SELECT rank, vec_id, radius_ppm FROM fin ORDER BY rank""".stripMargin
    },

    // C139: association rules — apriori-pruned pair counts, both rule
    // directions, exact integer support/confidence/lift.
    "q219_association_rules" ->
      """WITH b0 AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |bsz AS MATERIALIZED (SELECT basket, COUNT(*)::BIGINT AS sz FROM b0 GROUP BY 1),
        |led AS (
        |  SELECT COALESCE(SUM(CASE WHEN sz > 1024 THEN 1 ELSE 0 END), 0)::BIGINT
        |           AS n_baskets_capped,
        |         CAST(COALESCE(SUM(CASE WHEN sz > 1024
        |           THEN sz::HUGEINT * (sz - 1) END), 0) AS BIGINT) AS n_pairs_dropped
        |  FROM bsz),
        |b AS MATERIALIZED (
        |  SELECT b0.* FROM b0 JOIN bsz USING (basket) WHERE bsz.sz <= 1024),
        |n AS (SELECT COUNT(DISTINCT basket)::BIGINT AS n_baskets FROM b),
        |ic AS MATERIALIZED (SELECT item, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1),
        |freq AS (SELECT item, cnt FROM ic WHERE cnt >= 3),
        |fb AS MATERIALIZED (
        |  SELECT b.basket, b.item FROM b JOIN freq USING (item)),
        |pairs AS MATERIALIZED (
        |  SELECT x.item AS ia, y.item AS ib, COUNT(*)::BIGINT AS pair_n
        |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |rules AS (
        |  SELECT ia AS antecedent, ib AS consequent, pair_n FROM pairs
        |  UNION ALL SELECT ib, ia, pair_n FROM pairs),
        |fin AS (
        |  SELECT r.antecedent, r.consequent, r.pair_n,
        |    fa.cnt AS ante_n, fc.cnt AS cons_n,
        |    1000000 * r.pair_n // n_baskets AS support_ppm,
        |    1000000 * r.pair_n // fa.cnt AS conf_ppm,
        |    (1000::HUGEINT * r.pair_n * n_baskets // (fa.cnt::HUGEINT * fc.cnt))::BIGINT AS lift_pm
        |  FROM rules r
        |  JOIN freq fa ON fa.item = r.antecedent
        |  JOIN freq fc ON fc.item = r.consequent, n)
        |SELECT antecedent, consequent, pair_n, ante_n, cons_n,
        |       support_ppm, conf_ppm, lift_pm,
        |       led.n_baskets_capped, led.n_pairs_dropped
        |FROM fin, led
        |ORDER BY lift_pm DESC, conf_ppm DESC, antecedent, consequent
        |LIMIT 20""".stripMargin,

    // C140: winnowing — char-8-gram xx hashes through the macro chain,
    // packed (hash, rightmost-pos) keys, RANGE-frame window mins over
    // full windows only, distinct selected values, then MOSS's
    // over-frequent rule (document frequency ≤ 200) before pair counts
    // — the enforced hub cap, replayed so the gate covers it.
    "q220_winnowing" -> (xxMacros +
      s"""WITH d AS (SELECT doc_id AS id, text FROM documents WHERE length(text) >= 23),
        |tok AS MATERIALIZED (
        |  SELECT id, (i - 1)::BIGINT AS pos, substring(text, i, 8) AS tok
        |  FROM d, unnest(range(1, length(text) - 6)) AS t(i)),
        |${xxTokenHashChain("id, pos")},
        |keyed AS MATERIALIZED (
        |  SELECT id, pos, hu * 1048576::HUGEINT + (1048575 - pos)::HUGEINT AS key FROM tokh),
        |mx AS (SELECT id, MAX(pos) AS max_pos FROM keyed GROUP BY 1),
        |wm AS (
        |  SELECT id, pos, MIN(key) OVER (
        |    PARTITION BY id ORDER BY pos
        |    RANGE BETWEEN CURRENT ROW AND 15 FOLLOWING) AS sel
        |  FROM keyed),
        |selfp AS MATERIALIZED (
        |  SELECT DISTINCT w.id, w.sel // 1048576::HUGEINT AS fp
        |  FROM wm w JOIN mx ON mx.id = w.id
        |  WHERE w.pos <= mx.max_pos - 15),
        |kept AS MATERIALIZED (
        |  SELECT s.id, s.fp FROM selfp s
        |  JOIN (SELECT fp FROM selfp GROUP BY 1 HAVING COUNT(*) <= 200) f USING (fp)),
        |pr AS (
        |  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*)::BIGINT AS shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT doc_a, doc_b, shared FROM pr
        |ORDER BY shared DESC, doc_a, doc_b LIMIT 30""".stripMargin),

    // C150: Poisson bootstrap — (doc × replicate) key strings through
    // the xx chain, weights from the shared quantized CDF thresholds,
    // exact ppm replicate means, single double se/ci read-outs.
    "q233_bootstrap_ci" -> (xxMacros + {
      val wSum = graft.operators.Bootstrap.poissonT
        .map(t => s"(CASE WHEN hu >= $t::HUGEINT THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH d AS (SELECT doc_id, n_chars::BIGINT AS x FROM documents),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, x, r.i AS r,
         |         doc_id::VARCHAR || ':' || r.i::VARCHAR AS tok
         |  FROM d, unnest(range(1, 49)) AS r(i)),
         |${xxTokenHashChain("doc_id, x, r")},
         |wt AS (SELECT doc_id, x, r, $wSum::BIGINT AS w FROM tokh),
         |reps AS (
         |  SELECT r, SUM(w)::BIGINT AS wsum,
         |         SUM(w::HUGEINT * x)::HUGEINT AS wxsum
         |  FROM wt GROUP BY 1),
         |-- wsum > 0 and the GREATEST(0, variance) clamp mirror the
         |-- operator's all-zero-replicate drop and NaN guard (ADVICE r10)
         |mr AS (SELECT r, (1000000 * wxsum // wsum::HUGEINT)::BIGINT AS mean_ppm
         |       FROM reps WHERE wsum > 0),
         |ful AS (SELECT COUNT(*)::BIGINT AS n_rows, SUM(x::HUGEINT) AS sx FROM d),
         |ag AS (
         |  SELECT COUNT(*)::BIGINT AS n_replicates,
         |         SUM(mean_ppm)::BIGINT AS sm,
         |         SUM(mean_ppm::HUGEINT * mean_ppm)::HUGEINT AS sm2
         |  FROM mr),
         |sd AS (
         |  SELECT n_replicates,
         |    sqrt(GREATEST(0.0, CAST(sm2 AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
         |        / CAST(n_replicates AS DOUBLE)) / (CAST(n_replicates AS DOUBLE) - 1.0))
         |    / 1000000.0 AS se_boot
         |  FROM ag)
         |SELECT n_rows,
         |  CAST(sx AS DOUBLE) / CAST(n_rows AS DOUBLE) AS mean_full,
         |  n_replicates, se_boot,
         |  CAST(sx AS DOUBLE) / CAST(n_rows AS DOUBLE) - 2.0 * se_boot AS ci_lo,
         |  CAST(sx AS DOUBLE) / CAST(n_rows AS DOUBLE) + 2.0 * se_boot AS ci_hi
         |FROM sd, ful""".stripMargin
    }),

    // C151: PSI — equi-width bins over the corpus extrema, Laplace +1
    // smoothed counts, exact ppm shares, the staged q10 binary log for
    // both per-bin log arguments (ref×curTotal vs cur×refTotal), integer
    // per-bin terms and total.
    "q234_psi" ->
      s"""WITH base AS (SELECT (lang = 'en') AS is_ref, n_chars::BIGINT AS v FROM documents),
         |ext AS (SELECT MIN(v)::BIGINT AS mn, MAX(v)::BIGINT AS mx FROM base),
         |binned AS MATERIALIZED (
         |  SELECT CAST(CAST(v - mn AS HUGEINT) * 10 // (CAST(mx AS HUGEINT) - mn + 1) AS BIGINT) AS bin,
         |         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS a,
         |         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END)::BIGINT AS c
         |  FROM base, ext GROUP BY 1),
         |spine AS (SELECT i.i::BIGINT AS bin, mn, mx FROM ext, unnest(range(0, 10)) AS i(i)),
         |filled AS MATERIALIZED (
         |  SELECT s.bin, s.mn, s.mx, COALESCE(a, 0)::BIGINT AS a, COALESCE(c, 0)::BIGINT AS c
         |  FROM spine s LEFT JOIN binned b ON s.bin = b.bin),
         |tot AS (SELECT SUM(a)::BIGINT AS ta, SUM(c)::BIGINT AS tc FROM filled),
         |sm AS MATERIALIZED (
         |  SELECT bin, mn, mx, a, c, a + 1 AS ap, c + 1 AS cp,
         |         ta + 10 AS tap, tc + 10 AS tcp,
         |         1000000 * (a + 1) // (ta + 10) AS ref_ppm,
         |         1000000 * (c + 1) // (tc + 10) AS cur_ppm
         |  FROM filled, tot),
         |l2in AS (
         |  SELECT 'r' AS kind, bin, ap * tcp AS x FROM sm
         |  UNION ALL SELECT 'c', bin, cp * tap FROM sm),
         |${l2Stages("l2in", "kind, bin")},
         |terms AS MATERIALIZED (
         |  SELECT sm.bin, sm.mn, sm.mx, sm.a, sm.c, sm.ref_ppm, sm.cur_ppm,
         |    (sm.ref_ppm - sm.cur_ppm) * (lr.l2 - lcur.l2) AS term_q10ppm
         |  FROM sm JOIN lg lr ON lr.kind = 'r' AND lr.bin = sm.bin
         |          JOIN lg lcur ON lcur.kind = 'c' AND lcur.bin = sm.bin),
         |pt AS (SELECT SUM(term_q10ppm)::BIGINT AS psi_q10ppm FROM terms)
         |SELECT bin,
         |  mn + CAST((bin * (CAST(mx AS HUGEINT) - mn + 1) + 9) // 10 AS BIGINT) AS lo,
         |  mn + CAST(((bin + 1) * (CAST(mx AS HUGEINT) - mn + 1) + 9) // 10 AS BIGINT) - 1 AS hi,
         |  a AS n_ref, c AS n_cur, ref_ppm, cur_ppm, term_q10ppm, psi_q10ppm
         |FROM terms, pt ORDER BY bin""".stripMargin,

    // C152: co-occurrence lift — per-doc (i, i+d) position pairs for
    // d = 1..5, unordered canonical pair counts with the >= 5 floor,
    // exact HUGEINT lift in ppm, top-30 (lift DESC, pair ASC).
    "q235_cooc_lift" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |un AS MATERIALIZED (
        |  SELECT t, COUNT(*)::BIGINT AS n_t
        |  FROM (SELECT unnest(tk) AS t FROM d) GROUP BY 1),
        |tt AS (SELECT SUM(n_t)::BIGINT AS tot_t FROM un),
        |pr AS MATERIALIZED (
        |  SELECT LEAST(x, y) AS tok_a, GREATEST(x, y) AS tok_b, COUNT(*)::BIGINT AS n_ab
        |  FROM (
        |    SELECT tk[i] AS x, tk[i + g] AS y
        |    FROM d, unnest(range(1, len(tk) + 1)) AS ii(i), unnest(range(1, 6)) AS gg(g)
        |    WHERE i + g <= len(tk))
        |  WHERE x <> y
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |tp AS (SELECT SUM(n_ab)::BIGINT AS tot_p FROM pr)
        |SELECT tok_a, tok_b, n_ab, a.n_t AS n_a, b.n_t AS n_b,
        |  CAST(1000000::HUGEINT * n_ab * tot_t * tot_t
        |       // (tot_p::HUGEINT * a.n_t * b.n_t) AS BIGINT) AS lift_ppm
        |FROM pr JOIN un a ON pr.tok_a = a.t JOIN un b ON pr.tok_b = b.t, tt, tp
        |ORDER BY lift_ppm DESC, tok_a, tok_b LIMIT 30""".stripMargin,

    // C155: MSF backbone — distributed Borůvka replayed schedule-for-
    // schedule: 16 outer rounds of (crossing-edge label join → per-
    // component min edge under the (w,a,b,lu,lv) order → 8 inner
    // min-label + pointer-hop contraction rounds → relabel); converged
    // rounds are no-ops on both engines, so the replay stays exact.
    "q239_msf_backbone" ->
      s"""WITH $copurchaseMsfChain
         |SELECT a AS part_a, b AS part_b, -w AS copurchases
         |FROM msf ORDER BY 1, 2""".stripMargin,

    // C158: single-linkage clusters — the q239 MSF chain, minus its 25
    // heaviest edges under the same (w DESC, a DESC, b DESC) order,
    // then the q188-style components replay over the remainder;
    // cut-isolated nodes become their own singleton clusters.
    "q242_single_linkage" -> {
      val inner = new StringBuilder
      for (j <- 1 to 8) {
        inner ++= s"""slnm$j AS MATERIALIZED (
           |  SELECT t.node, MIN(t.l) AS l FROM (
           |    SELECT u.d AS node, k.l FROM slu u JOIN slk${j - 1} k ON k.node = u.s
           |    UNION ALL SELECT node, l FROM slk${j - 1}) t
           |  GROUP BY t.node),
           |slk$j AS MATERIALIZED (
           |  SELECT nm.node, p.l AS l FROM slnm$j nm JOIN slnm$j p ON p.node = nm.l),
           |""".stripMargin
      }
      s"""WITH $copurchaseMsfChain,
         |cut AS MATERIALIZED (
         |  SELECT a, b, w FROM msf ORDER BY w DESC, a DESC, b DESC LIMIT 25),
         |kept AS MATERIALIZED (
         |  SELECT m.a, m.b FROM msf m
         |  WHERE NOT EXISTS (SELECT 1 FROM cut c WHERE c.a = m.a AND c.b = m.b)),
         |fnodes AS (SELECT a AS node FROM msf UNION SELECT b FROM msf),
         |slu AS MATERIALIZED (SELECT a AS s, b AS d FROM kept UNION SELECT b, a FROM kept),
         |slk0 AS (SELECT DISTINCT s AS node, s AS l FROM slu),
         |${inner.toString}
         |slcl AS MATERIALIZED (
         |  SELECT n.node, COALESCE(k.l, n.node) AS cluster
         |  FROM fnodes n LEFT JOIN slk8 k ON k.node = n.node),
         |sz AS (SELECT cluster, COUNT(*)::BIGINT AS n_nodes FROM slcl GROUP BY 1),
         |tot AS (SELECT COUNT(*)::BIGINT AS n_clusters FROM sz)
         |SELECT cluster, n_nodes, n_clusters FROM sz, tot
         |ORDER BY n_nodes DESC, cluster ASC LIMIT 15""".stripMargin
    },


    // C160: Jensen–Shannon per slice vs rest — intersection-frame
    // staged logs on the three integer arguments; disjoint-support
    // mass folds to exact ×1024 closed forms (l2 is translation-by-
    // 1024 under doubling); truncating HUGEINT divides mirror Spark.
    "q244_js_divergence" ->
      s"""WITH toks AS (
         |  SELECT source AS slice, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS MATERIALIZED (
         |  SELECT slice, tok, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
         |g AS MATERIALIZED (SELECT tok, SUM(c)::BIGINT AS g FROM c GROUP BY 1),
         |ns AS MATERIALIZED (SELECT slice, SUM(c)::BIGINT AS n1 FROM c GROUP BY 1),
         |mt AS (SELECT SUM(g)::BIGINT AS m FROM g),
         |f AS MATERIALIZED (
         |  SELECT c.slice, c.tok, c.c, g.g - c.c AS d, ns.n1, mt.m - ns.n1 AS n2
         |  FROM c JOIN g USING (tok) JOIN ns USING (slice), mt),
         |l2in AS (
         |  SELECT 'a' AS kind, slice, tok, 2 * c * n2 AS x FROM f WHERE d > 0
         |  UNION ALL SELECT 'b', slice, tok, c * n2 + d * n1 FROM f WHERE d > 0
         |  UNION ALL SELECT 'q', slice, tok, 2 * d * n1 FROM f WHERE d > 0),
         |${l2Stages("l2in", "kind, slice, tok")},
         |terms AS MATERIALIZED (
         |  SELECT f.slice, f.d,
         |    CASE WHEN f.d > 0 THEN f.c::HUGEINT * (la.l2 - lb.l2)
         |         ELSE f.c::HUGEINT * 1024 END AS p_term,
         |    CASE WHEN f.d > 0 THEN f.d::HUGEINT * (lq.l2 - lb.l2)
         |         ELSE 0::HUGEINT END AS q_term
         |  FROM f
         |  LEFT JOIN lg la ON la.kind = 'a' AND la.slice = f.slice AND la.tok = f.tok
         |  LEFT JOIN lg lb ON lb.kind = 'b' AND lb.slice = f.slice AND lb.tok = f.tok
         |  LEFT JOIN lg lq ON lq.kind = 'q' AND lq.slice = f.slice AND lq.tok = f.tok),
         |ag AS (
         |  SELECT slice, SUM(p_term)::HUGEINT AS sp, SUM(q_term)::HUGEINT AS sq,
         |         SUM(d)::BIGINT AS sd
         |  FROM terms GROUP BY 1)
         |SELECT ag.slice, ns.n1 AS n_slice, (mt.m - ns.n1)::BIGINT AS n_rest,
         |  CASE WHEN mt.m - ns.n1 > 0 THEN
         |    (sp // (2 * ns.n1::HUGEINT)
         |     + (sq + ((mt.m - ns.n1 - sd)::HUGEINT) * 1024)
         |       // (2 * (mt.m - ns.n1)::HUGEINT))::BIGINT
         |  END AS js_q10
         |FROM ag JOIN ns ON ns.slice = ag.slice, mt
         |ORDER BY ag.slice""".stripMargin,

    // C159: ROUGE-N — adjacent-doc pairs, clipped n-gram matches at
    // n = 1 and 2, per-source micro sums, exact ppm read-outs.
    "q243_rouge" -> {
      def ngrams(src: String, arr: String, n: Int, tag: String): String =
        s"""${tag}g$n AS MATERIALIZED (
           |  SELECT pid, g, COUNT(*)::BIGINT AS c FROM (
           |    SELECT pid, array_to_string(list_slice($arr, i, i + ${n - 1}), ' ') AS g
           |    FROM $src, unnest(range(1, len($arr) - ${n - 2})) AS ii(i)
           |    WHERE len($arr) >= $n)
           |  GROUP BY 1, 2)""".stripMargin
      def level(n: Int): String =
        s"""${ngrams("p", "ct", n, "c")},
           |${ngrams("p", "rt", n, "r")},
           |m$n AS (SELECT pid, SUM(LEAST(cg.c, rg.c))::BIGINT AS m
           |  FROM cg$n cg JOIN rg$n rg USING (pid, g) GROUP BY 1),
           |per$n AS (
           |  SELECT p.pid, p.source, COALESCE(m$n.m, 0) AS m,
           |    GREATEST(len(ct) - ${n - 1}, 0)::BIGINT AS ncand,
           |    GREATEST(len(rt) - ${n - 1}, 0)::BIGINT AS nref
           |  FROM p LEFT JOIN m$n ON m$n.pid = p.pid),
           |agg$n AS (
           |  SELECT source, ${n}::BIGINT AS n, COUNT(*)::BIGINT AS n_pairs,
           |    SUM(m)::BIGINT AS m_total, SUM(ncand)::BIGINT AS cand_total,
           |    SUM(nref)::BIGINT AS ref_total
           |  FROM per$n GROUP BY 1)""".stripMargin
      s"""WITH c AS (
         |  SELECT doc_id AS pid, source, string_split(text, ' ') AS ct
         |  FROM documents WHERE doc_id % 2 = 1),
         |r AS (
         |  SELECT doc_id + 1 AS pid, string_split(text, ' ') AS rt
         |  FROM documents WHERE doc_id % 2 = 0),
         |p AS MATERIALIZED (SELECT c.pid, c.source, c.ct, r.rt FROM c JOIN r USING (pid)),
         |${level(1)},
         |${level(2)},
         |u AS (SELECT * FROM agg1 UNION ALL SELECT * FROM agg2)
         |SELECT source, n, n_pairs, m_total, cand_total, ref_total,
         |  CASE WHEN cand_total > 0 THEN 1000000 * m_total // cand_total END AS p_ppm,
         |  CASE WHEN ref_total > 0 THEN 1000000 * m_total // ref_total END AS r_ppm,
         |  CASE WHEN cand_total + ref_total > 0
         |    THEN 2000000 * m_total // (cand_total + ref_total) END AS f1_ppm
         |FROM u ORDER BY source, n""".stripMargin
    },

    // C156: Dirichlet query likelihood — candidates from the postings,
    // full query-vocabulary fan-out (missing terms take the collection
    // prior), staged l2 on numerator and denominator, negative q10
    // scores, per-query top-10.
    "q240_dirichlet_ql" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |qt(query_id, term) AS (VALUES
         |  (1, 'spark'), (1, 'join'), (1, 'agg'),
         |  (2, 'slow'), (2, 'scan'), (2, 'table'),
         |  (3, 'hash'), (3, 'merge'), (3, 'sort'), (3, 'window'), (3, 'batch'),
         |  (4, 'vector'), (4, 'stream'), (4, 'quantum')),
         |st AS (SELECT SUM(len(string_split(text, ' ')))::BIGINT AS m FROM documents),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM toks
         |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         |g AS MATERIALIZED (SELECT term, SUM(tf)::BIGINT AS g FROM tf GROUP BY 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT qt.query_id, tf.doc_id, tf.dl FROM tf JOIN qt USING (term)),
         |ful AS MATERIALIZED (
         |  SELECT c.query_id, c.doc_id, c.dl, q.term, COALESCE(t.tf, 0) AS tf0, g.g, st.m
         |  FROM cand c JOIN qt q ON q.query_id = c.query_id
         |  LEFT JOIN tf t ON t.doc_id = c.doc_id AND t.term = q.term
         |  JOIN g ON g.term = q.term, st),
         |l2in AS (
         |  SELECT 'n' AS kind, query_id, doc_id, term, tf0 * m + 2000 * g AS x FROM ful
         |  UNION ALL
         |  SELECT DISTINCT 'd', query_id, doc_id, '', (dl + 2000) * m FROM ful),
         |${l2Stages("l2in", "kind, query_id, doc_id, term")},
         |terms AS MATERIALIZED (
         |  SELECT f.query_id, f.doc_id, f.tf0, ln.l2 - ld.l2 AS term_q10
         |  FROM ful f
         |  JOIN lg ln ON ln.kind = 'n' AND ln.query_id = f.query_id
         |    AND ln.doc_id = f.doc_id AND ln.term = f.term
         |  JOIN lg ld ON ld.kind = 'd' AND ld.query_id = f.query_id
         |    AND ld.doc_id = f.doc_id),
         |sc AS MATERIALIZED (
         |  SELECT query_id, doc_id, SUM(term_q10)::BIGINT AS score_q10,
         |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_match
         |  FROM terms GROUP BY 1, 2),
         |rk AS (
         |  SELECT query_id, doc_id, score_q10, n_match,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q10 DESC, doc_id ASC) AS rank
         |  FROM sc)
         |SELECT query_id, rank::BIGINT AS rank, doc_id, score_q10, n_match
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // C153: TextRank — the q235 position-pair kernel (window 3, count
    // >= 2) symmetrized into an undirected token graph, then the q170
    // integer PageRank replay round-for-round (symmetric graph: no
    // dangling mass by construction), top-30 (rank DESC, token ASC).
    "q238_textrank" -> {
      val rounds = (1 to 6).map { k =>
        val pv = s"r${k - 1}"
        s"""r$k AS MATERIALIZED (
           |  SELECT n.node, CAST((15 * CAST(1000000000 AS BIGINT) + 85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT ed.dst AS node, CAST(SUM($pv.r * ed.w // ed.wt) AS BIGINT) AS s
           |    FROM ed JOIN $pv ON $pv.node = ed.src
           |    GROUP BY ed.dst) c ON n.node = c.node),""".stripMargin
      }.mkString("\n")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |und AS MATERIALIZED (
         |  SELECT LEAST(x, y) AS a, GREATEST(x, y) AS b, COUNT(*)::BIGINT AS w
         |  FROM (
         |    SELECT tk[i] AS x, tk[i + g] AS y
         |    FROM d, unnest(range(1, len(tk) + 1)) AS ii(i), unnest(range(1, 4)) AS gg(g)
         |    WHERE i + g <= len(tk))
         |  WHERE x <> y
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e2 AS (
         |  SELECT a AS src, b AS dst, w FROM und
         |  UNION ALL SELECT b AS src, a AS dst, w FROM und),
         |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wt FROM e2 GROUP BY src),
         |ed AS MATERIALIZED (
         |  SELECT e2.src, e2.dst, e2.w, ws.wt FROM e2 JOIN ws ON e2.src = ws.src
         |), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         |$rounds
         |fin AS (SELECT node AS token, r AS rank_fx FROM r6)
         |SELECT token, rank_fx FROM fin
         |ORDER BY rank_fx DESC, token ASC LIMIT 30""".stripMargin
    },

    // C154: WOE/IV — Laplace-smoothed per-category positive/negative
    // counts, exact ppm shares, staged q10 logs for both arguments.
    "q237_woe_iv" ->
      s"""WITH cells AS MATERIALIZED (
         |  SELECT source AS category,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS g,
         |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS b
         |  FROM documents GROUP BY 1),
         |k AS (SELECT COUNT(*)::BIGINT AS n_cats, SUM(g)::BIGINT AS tg,
         |      SUM(b)::BIGINT AS tb FROM cells),
         |sm AS MATERIALIZED (
         |  SELECT category, g, b, g + 1 AS gp, b + 1 AS bp,
         |    tg + n_cats AS tgp, tb + n_cats AS tbp,
         |    1000000 * (g + 1) // (tg + n_cats) AS pos_ppm,
         |    1000000 * (b + 1) // (tb + n_cats) AS neg_ppm
         |  FROM cells, k),
         |l2in AS (SELECT 'g' AS kind, category, gp * tbp AS x FROM sm
         |  UNION ALL SELECT 'b', category, bp * tgp FROM sm),
         |${l2Stages("l2in", "kind, category")},
         |terms AS MATERIALIZED (
         |  SELECT sm.category, sm.g, sm.b, sm.pos_ppm, sm.neg_ppm,
         |    lgg.l2 - lgb.l2 AS woe_q10,
         |    (sm.pos_ppm - sm.neg_ppm) * (lgg.l2 - lgb.l2) AS iv_term_q10ppm
         |  FROM sm JOIN lg lgg ON lgg.kind = 'g' AND lgg.category = sm.category
         |          JOIN lg lgb ON lgb.kind = 'b' AND lgb.category = sm.category),
         |tot AS (SELECT SUM(iv_term_q10ppm)::BIGINT AS iv_q10ppm FROM terms)
         |SELECT category, g AS n_pos, b AS n_neg, pos_ppm, neg_ppm, woe_q10,
         |  iv_term_q10ppm, iv_q10ppm
         |FROM terms, tot ORDER BY category""".stripMargin,

    // C149: HRW reshard audit — the (doc × shard-id) key strings through
    // the xx macro chain, per-doc unsigned argmax (hu DESC, smallest id
    // ties) at n=8 and m=9, movement matrix with exact ppm shares.
    "q232_reshard_audit" -> (xxMacros +
      s"""WITH d AS (SELECT doc_id FROM documents),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, s.i AS sh,
         |         doc_id::VARCHAR || ':' || s.i::VARCHAR AS tok
         |  FROM d, unnest(range(0, 9)) AS s(i)),
         |${xxTokenHashChain("doc_id, sh")},
         |hrw_from AS (
         |  SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY hu DESC, sh ASC) AS rk
         |  FROM tokh WHERE sh < 8),
         |hrw_to AS (
         |  SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY hu DESC, sh ASC) AS rk
         |  FROM tokh),
         |asg AS MATERIALIZED (
         |  SELECT f.doc_id, f.sh::BIGINT AS shard_from, t.sh::BIGINT AS shard_to
         |  FROM hrw_from f JOIN hrw_to t ON t.doc_id = f.doc_id
         |  WHERE f.rk = 1 AND t.rk = 1),
         |tot AS (SELECT COUNT(*)::BIGINT AS nt FROM asg)
         |SELECT shard_from, shard_to, COUNT(*)::BIGINT AS n_keys,
         |  shard_from <> shard_to AS moved,
         |  (COUNT(*) * 1000000 // tot.nt)::BIGINT AS share_ppm
         |FROM asg, tot GROUP BY shard_from, shard_to, tot.nt
         |ORDER BY shard_from, shard_to""".stripMargin),

    // C147: exact ROC-AUC — distinct-score pos/neg counts, the
    // cumulative-negative window, the tie-aware U2 identity; trunc()
    // mirrors Spark's toward-zero double->long cast (DuckDB's bare
    // CAST rounds half-to-even).
    "q228_roc_auc" ->
      """WITH sc AS (
        |  SELECT (CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS pos,
        |         CAST(trunc(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS s
        |  FROM embeddings),
        |bys AS (
        |  SELECT s, SUM(pos)::BIGINT AS np, SUM(1 - pos)::BIGINT AS nn
        |  FROM sc GROUP BY 1),
        |cum AS (
        |  SELECT *, COALESCE(SUM(nn) OVER (ORDER BY s ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cumneg
        |  FROM bys)
        |SELECT SUM(np)::BIGINT AS n_pos, SUM(nn)::BIGINT AS n_neg,
        |  COUNT(*)::BIGINT AS n_scores,
        |  SUM(np::HUGEINT * (2 * cumneg + nn))::BIGINT AS u2,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    (1000000 * SUM(np::HUGEINT * (2 * cumneg + nn))
        |     // (2::HUGEINT * SUM(np) * SUM(nn)))::BIGINT END AS auc_ppm,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    (1000000 * SUM(np::HUGEINT * (2 * cumneg + nn))
        |     // (2::HUGEINT * SUM(np) * SUM(nn)))::BIGINT * 2 - 1000000 END AS gini_ppm
        |FROM cum""".stripMargin,

    // C141: chi-square contingency independence — dense margin×margin
    // grid, per-cell (o·N − r·c)²·10⁶ // (N·r·c) in HUGEINT (trunc ≡
    // Spark div on the non-negative terms), worst-cell pick, V² ppm.
    "q221_chi_square" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT lang::VARCHAR AS x, source::VARCHAR AS y, COUNT(*)::BIGINT AS o
        |  FROM documents GROUP BY 1, 2),
        |rm AS (SELECT x, SUM(o)::BIGINT AS r FROM cells GROUP BY 1),
        |cm AS (SELECT y, SUM(o)::BIGINT AS c FROM cells GROUP BY 1),
        |nt AS (SELECT SUM(o)::BIGINT AS n, COUNT(DISTINCT x)::BIGINT AS xl,
        |              COUNT(DISTINCT y)::BIGINT AS yl FROM cells),
        |grid AS MATERIALIZED (
        |  SELECT rm.x, cm.y, rm.r, cm.c, nt.n, nt.xl, nt.yl,
        |         COALESCE(cells.o, 0)::BIGINT AS o
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN cells ON cells.x = rm.x AND cells.y = cm.y, nt),
        |terms AS (
        |  SELECT *, ((o::HUGEINT * n - r::HUGEINT * c)
        |           * (o::HUGEINT * n - r::HUGEINT * c) * 1000000
        |           // (n::HUGEINT * r * c)) AS term_ppm
        |  FROM grid),
        |pick AS (
        |  SELECT *, row_number() OVER (ORDER BY term_ppm DESC, x, y) AS rk
        |  FROM terms)
        |SELECT MAX(n) AS n_rows, MAX(xl) AS x_levels, MAX(yl) AS y_levels,
        |  ((MAX(xl) - 1) * (MAX(yl) - 1))::BIGINT AS dof,
        |  SUM(term_ppm)::BIGINT AS chi2_ppm,
        |  CASE WHEN MAX(xl) > 1 AND MAX(yl) > 1 THEN
        |    (SUM(term_ppm) // (MAX(n)::HUGEINT * least(MAX(xl) - 1, MAX(yl) - 1)))::BIGINT
        |  END AS v2_ppm,
        |  MAX(CASE WHEN rk = 1 THEN x END) AS worst_x,
        |  MAX(CASE WHEN rk = 1 THEN y END) AS worst_y,
        |  MAX(CASE WHEN rk = 1 THEN term_ppm END)::BIGINT AS worst_term_ppm
        |FROM pick""".stripMargin,

    // C142: per-feature mutual information — the q211 staged-l2 recipe
    // over the stacked (feature, sign(dim), label) frame: cell/margin/
    // total counts through the fixed-point l2 chain, HUGEINT sums,
    // trunc-toward-zero divisions matching Spark div.
    "q222_mutual_info" ->
      s"""WITH st AS MATERIALIZED (
         |  SELECT g.i::BIGINT AS f,
         |         CASE WHEN embedding[g.i] >= 0 THEN '1' ELSE '0' END AS xc,
         |         label::VARCHAR AS yc
         |  FROM embeddings, unnest(range(1, 9)) AS g(i)),
         |cells AS MATERIALIZED (
         |  SELECT f, xc, yc, COUNT(*)::BIGINT AS o FROM st GROUP BY 1, 2, 3),
         |rm AS MATERIALIZED (SELECT f, xc, SUM(o)::BIGINT AS r FROM cells GROUP BY 1, 2),
         |cm AS MATERIALIZED (SELECT f, yc, SUM(o)::BIGINT AS c FROM cells GROUP BY 1, 2),
         |nt AS MATERIALIZED (SELECT f, SUM(o)::BIGINT AS n FROM cells GROUP BY 1),
         |l2in AS (
         |  SELECT 'o' AS kind, f, xc, yc, o AS x FROM cells
         |  UNION ALL SELECT 'r', f, xc, '', r FROM rm
         |  UNION ALL SELECT 'c', f, '', yc, c FROM cm
         |  UNION ALL SELECT 'n', f, '', '', n FROM nt),
         |${l2Stages("l2in", "kind, f, xc, yc")},
         |terms AS (
         |  SELECT cells.f, cells.o,
         |         lo.l2 AS l2o, lr.l2 AS l2r, lc.l2 AS l2c, ln.l2 AS l2n
         |  FROM cells
         |  JOIN lg lo ON lo.kind = 'o' AND lo.f = cells.f
         |            AND lo.xc = cells.xc AND lo.yc = cells.yc
         |  JOIN lg lr ON lr.kind = 'r' AND lr.f = cells.f AND lr.xc = cells.xc
         |  JOIN lg lc ON lc.kind = 'c' AND lc.f = cells.f AND lc.yc = cells.yc
         |  JOIN lg ln ON ln.kind = 'n' AND ln.f = cells.f),
         |ag AS (
         |  SELECT f, SUM(o * ((l2o + l2n) - (l2r + l2c)))::HUGEINT AS smi
         |  FROM terms GROUP BY 1),
         |xl AS (SELECT f, COUNT(*)::BIGINT AS x_levels FROM rm GROUP BY 1),
         |yl AS (SELECT f, COUNT(*)::BIGINT AS y_levels FROM cm GROUP BY 1),
         |hx AS (
         |  SELECT rm.f, SUM(r * (ln.l2 - lr.l2))::HUGEINT AS shx
         |  FROM rm
         |  JOIN lg lr ON lr.kind = 'r' AND lr.f = rm.f AND lr.xc = rm.xc
         |  JOIN lg ln ON ln.kind = 'n' AND ln.f = rm.f
         |  GROUP BY 1),
         |hy AS (
         |  SELECT cm.f, SUM(c * (ln.l2 - lc.l2))::HUGEINT AS shy
         |  FROM cm
         |  JOIN lg lc ON lc.kind = 'c' AND lc.f = cm.f AND lc.yc = cm.yc
         |  JOIN lg ln ON ln.kind = 'n' AND ln.f = cm.f
         |  GROUP BY 1)
         |SELECT ag.f AS feature, nt.n AS n_rows, xl.x_levels, yl.y_levels,
         |  (smi // nt.n::HUGEINT)::BIGINT AS mi_q10,
         |  (shx // nt.n::HUGEINT)::BIGINT AS hx_q10,
         |  (shy // nt.n::HUGEINT)::BIGINT AS hy_q10,
         |  CASE WHEN least(shx, shy) > 0
         |    THEN (1000 * smi // least(shx, shy))::BIGINT END AS nmi_pm
         |FROM ag JOIN nt ON nt.f = ag.f JOIN xl ON xl.f = ag.f
         |JOIN yl ON yl.f = ag.f JOIN hx ON hx.f = ag.f JOIN hy ON hy.f = ag.f
         |ORDER BY feature""".stripMargin,

    // C143: Pareto front — the brute-force domination test (a DIFFERENT
    // formulation than Spark's two-level distinct-x kernel: NOT EXISTS a
    // row weakly better on both axes and strictly on one).
    "q223_pareto_front" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, n_chars::BIGINT AS x,
        |    (1000 * len(list_distinct(string_split(text, ' ')))
        |     // len(string_split(text, ' ')))::BIGINT AS y
        |  FROM documents)
        |SELECT p.doc_id, p.x, p.y FROM d p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
        |ORDER BY p.doc_id""".stripMargin,

    // C85: Zipf rank-frequency profile — term counts, then the
    // distinct-frequency frame with closed-form global rank runs.
    "q161_zipf_profile" ->
      """WITH terms AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w
        |), by_count AS (
        |  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_terms, MIN(w) AS sample_term
        |  FROM terms GROUP BY c
        |), ranked AS (
        |  SELECT c, n_terms, sample_term,
        |    COALESCE(SUM(n_terms) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rank_lo
        |  FROM by_count)
        |SELECT c, n_terms, CAST(rank_lo AS BIGINT) AS rank_lo,
        |  CAST(rank_lo + n_terms - 1 AS BIGINT) AS rank_hi,
        |  CAST(c * rank_lo AS BIGINT) AS zipf_lo,
        |  CAST(c * (rank_lo + n_terms - 1) AS BIGINT) AS zipf_hi,
        |  sample_term
        |FROM ranked ORDER BY c DESC""".stripMargin
  )
}
