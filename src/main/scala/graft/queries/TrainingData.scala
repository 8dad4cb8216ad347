package graft.queries

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Chunking, Dedup, Sampling, Similarity, Sketches, TextAnalysis, TextOps}

/**
 * §2C — training-data pipeline queries over `documents` and `embeddings`.
 * Thin deterministic wrappers around the graft.operators library; every
 * result gets a total ORDER BY so dumps are stable for the harness.
 */
object TrainingData {

  /** The intended (clean) q147 suffix — exercises five MojibakeFixes
    * entries. */
  val CleanSuffix: String = " café naïve don’t “quote–x"

  /** The planted q147 suffix: [[CleanSuffix]] after its UTF-8 bytes were
    * mis-decoded as Windows-1252 — computed through the REAL charset pair
    * (not hand-typed), so the plant is the genuine double-encoding mangle.
    * Shared with the oracle builder so both engines plant the identical
    * literal. */
  val MangledSuffix: String = new String(
    CleanSuffix.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")

  /** The planted q152 block: 20 German stopword tokens — exactly one
    * `width=20` segment the C8 vote identifies as 'de'. */
  val GermanBlock: String =
    ("der die das und ist nicht mit ein zu den " * 2).trim

  /** C1: exact dedup by full-content hash. */
  def q30DedupExact(t: Tables): DataFrame =
    Dedup.exact(t.documents).orderBy("canonical_id")

  /** C2: MinHash+LSH near-dup pairs, exact-Jaccard-verified at 0.7. */
  def q31DedupMinhash(t: Tables): DataFrame =
    Dedup.minhashPairs(t.documents, threshold = 0.7).orderBy("doc_a", "doc_b")

  /** C3: SimHash near-dup pairs (Hamming ≤ 3 over 64 bits). */
  def q32DedupSimhash(t: Tables): DataFrame =
    Dedup.simhashPairs(t.documents, maxDist = 3).orderBy("doc_a", "doc_b")

  /** C4: exact 3-gram Jaccard pairs within each source group. */
  def q33NgramJaccard(t: Tables): DataFrame =
    Dedup.ngramJaccardPairs(t.documents, groupCol = "source", threshold = 0.3)
      .orderBy("doc_a", "doc_b")

  /** C39: cross-document line dedup (boilerplate removal). The corpus has
    * no newlines, so deterministic 8-token segments stand in for lines
    * (`Chunking.tokenLines` — with real text you'd posexplode
    * `split(text, '\n')`); a segment appearing in >= 2 distinct docs is
    * boilerplate and every document is rebuilt without it. */
  def q93LineDedup(t: Tables): DataFrame =
    Dedup.lineDedup(Chunking.tokenLines(t.documents, width = 8), minDocs = 2)
      .withColumn("clean_hash", md5(col("clean_text"))).drop("clean_text")
      .orderBy("doc_id")

  /** C42: WITHIN-document line dedup (first occurrence wins). The
    * synthetic corpus never repeats a segment inside a document (checked:
    * zero at widths 4/6/8), so the query re-plants each document's first
    * line at its end — the operator must drop exactly that replant and
    * rebuild the original text; with real corpora you run the operator
    * directly on the split lines. */
  def q98LineDedupIntra(t: Tables): DataFrame = {
    val lines = Chunking.tokenLines(t.documents, width = 8)
    val planted = lines.unionByName(
      lines.filter(col("line_idx") === 0).withColumn("line_idx", lit(1000000L)))
    Dedup.dedupLinesWithinDoc(planted)
      .withColumn("clean_hash", md5(col("clean_text"))).drop("clean_text")
      .orderBy("doc_id")
  }

  /** C67: per-DOMAIN boilerplate line removal (relative threshold). The
    * synthetic corpus has no real site chrome, so the query PLANTS it:
    * every document gains a domain-wide footer line (present in 100% of
    * its source's docs — must be stripped) and a per-doc contact line
    * (unique — must survive), and the operator has to return each
    * document to original-plus-contact form. Organic cross-doc dup
    * lines sit far below the 50% threshold, so the per-domain ratio
    * rule is what the oracle actually verifies. */
  def q137DomainBoilerplate(t: Tables): DataFrame = {
    val lines = Chunking.tokenLines(t.documents, width = 8)
    val planted = lines
      .unionByName(t.documents.select(col("doc_id"),
        lit(1000000L).as("line_idx"),
        concat(lit("footer legal "), col("source")).as("line")))
      .unionByName(t.documents.select(col("doc_id"),
        lit(1000001L).as("line_idx"),
        concat(lit("contact "), col("doc_id").cast("string")).as("line")))
    Dedup.domainBoilerplate(planted, t.documents.select("doc_id", "source"),
        ratioPct = 50, minDocs = 2)
      .withColumn("clean_hash", md5(col("clean_text"))).drop("clean_text")
      .orderBy("doc_id")
  }

  /** C73: content-defined chunking + chunk-level dedup profile — the
    * insertion-stable CDC cut (window-hash residue boundaries) with
    * corpus-wide duplicate-chunk accounting; w=4, expected chunk ≈ 8
    * tokens on this corpus's short documents. */
  def q144CdcChunking(t: Tables): DataFrame =
    Chunking.cdcChunkProfile(t.documents, w = 4, divisor = 8)
      .orderBy("doc_id")

  /** C63: exact duplicated-span REMOVAL (the ExactSubstr cut — the action
    * on C36/C62's profiles): every corpus-recurring 8-token span is cut
    * from all but its canonical first occurrence; documents rebuilt from
    * surviving tokens. clean_text hashes to clean_hash for compact
    * compare (the full text is the thing being proven). */
  def q133SpanRemoval(t: Tables): DataFrame =
    Dedup.removeDuplicateSpans(t.documents, n = 8)
      .withColumn("clean_hash", md5(col("clean_text"))).drop("clean_text")
      .orderBy("doc_id")

  /** C27: incremental near-dup — every 10th doc plays the "newly
    * ingested" slice, the rest are the already-indexed corpus; the new
    * slice probes the persisted band index without any corpus re-scan. */
  def q75IncrementalNeardup(t: Tables): DataFrame = {
    val newDocs = t.documents.filter(col("doc_id") % 10 === 0)
    val corpus = t.documents.filter(col("doc_id") % 10 =!= 0)
    val (idxBands, idxSets) = Dedup.bandIndex(corpus)
    Dedup.incrementalNearDup(newDocs, idxBands, idxSets)
      .orderBy("new_id", "corpus_id")
  }

  /** C29: domain-mixture resampling — up-weight two sources, downsample
    * the rest to the largest mixture reachable without upsampling; the
    * oracle replays counts → shares → cap → thresholds → membership. */
  def q78MixtureSample(t: Tables): DataFrame =
    Sampling.mixtureSample(t.documents, "source", "doc_id",
        Map("src0" -> 4, "src1" -> 2))
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** C34: domain frequency cap — at most 20 docs per source, kept set =
    * smallest-20 stable rank hashes (uniform, deterministic); the oracle
    * replays the ranking one-phase. */
  def q81DomainCap(t: Tables): DataFrame =
    Sampling.capPerGroup(t.documents, "source", "doc_id", cap = 20)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** C30: canonical-form dedup — NFC + casefold + whitespace-collapse
    * first, THEN hash; emits the full doc → canonical-doc mapping. */
  def q82CanonicalDedup(t: Tables): DataFrame =
    TextAnalysis.canonicalDedup(t.documents).orderBy("doc_id")

  /** C32: overlapping token-window chunking (window 64, stride 48) —
    * the retrieval/embedding-indexing shape; chunk text is carried as
    * its md5 so the dump stays narrow and the oracle compares content. */
  def q83Chunking(t: Tables): DataFrame =
    Chunking.chunkByTokens(t.documents, window = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  /** C33: pretraining sequence packing — concatenate docs in id order,
    * cut into 2048-token context windows; two-level distributed prefix
    * sum == the oracle's one global running sum. */
  def q84Packing(t: Tables): DataFrame =
    Chunking.packContextWindows(
        t.documents.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        budget = 2048L, blockSize = 64L)
      .orderBy("doc_id")

  /** C31: corpus-adaptive rarity score — integer-exact inverse-frequency
    * sum per doc; an LM-free "weird token soup" quality signal. */
  def q85Rarity(t: Tables): DataFrame =
    TextAnalysis.rarityScore(t.documents).orderBy("doc_id")

  /** C26: near-dup clusters — connected components over the q33 pair set,
    * canonical member = min doc id; the oracle recomputes the closure with
    * a recursive CTE. */
  def q74DedupClusters(t: Tables): DataFrame =
    Dedup.resolveClusters(
      Dedup.ngramJaccardPairs(t.documents, groupCol = "source", threshold = 0.3))
      .orderBy("doc_id")

  /** C92: dedup SAVINGS report — the cost-benefit summary that justifies
    * (or kills) a dedup pass before anyone runs it on 100 TB: compose
    * C26's cluster resolution with per-document token counts and report,
    * per cluster-size bucket, how many clusters/docs exist, how many docs
    * a keep-the-min-id policy removes, and the exact token savings; the
    * corpus-level per-mille savings rides a 1-row broadcast total.
    * Singletons (docs in no near-dup pair) are the size-1 row — kept
    * whole, zero savings, and the dominant mass on a clean corpus (the
    * report's point). Everything after the C26 resolution is one bounded
    * aggregation chain on the (doc, cluster) frame. */
  def q174DedupSavings(t: Tables): DataFrame = {
    val clustered = Dedup.resolveClusters(
      Dedup.ngramJaccardPairs(t.documents, groupCol = "source", threshold = 0.3))
    val toks = t.documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val docs = toks.join(clustered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val perCluster = docs.groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"), sum(col("n_tokens")).as("tok"),
        // keep-the-min-id policy: the kept doc IS the cluster id (C26's
        // label is the member minimum), so its tokens are min-id's
        sum(when(col("doc_id") === col("cluster_id"), col("n_tokens"))
          .otherwise(0L)).as("kept_tok"))
    val total = toks.agg(sum(col("n_tokens")).as("__total"))
    perCluster.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_removable"),
        sum(col("tok") - col("kept_tok")).as("tokens_saved"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_removable"), col("tokens_saved"),
        expr("tokens_saved * 1000 div __total").as("savings_pm"))
      .orderBy("cluster_size")
  }

  private def annQueries(t: Tables): DataFrame = t.embeddings.filter(col("vec_id") < 10)

  /** C5: brute-force cosine top-10 for the first 10 vectors as queries. */
  def q34AnnBrute(t: Tables): DataFrame =
    Similarity.bruteForceTopK(t.embeddings, annQueries(t), k = 10)
      .orderBy("query_id", "rank")

  /** C6: LSH-bucketed ANN, same queries — the 100 TB path. */
  def q35AnnLsh(t: Tables): DataFrame =
    Similarity.lshTopK(t.embeddings, annQueries(t), k = 10)
      .orderBy("query_id", "rank")

  /** C7: embedding near-dup pairs at cosine ≥ 0.4 (τ fits this corpus —
    * its max off-diagonal cosine is ~0.51). */
  def q36EmbedNeardup(t: Tables): DataFrame =
    Similarity.nearDupPairs(t.embeddings, threshold = 0.4).orderBy("doc_a", "doc_b")

  /** C18: IVF ANN — coarse-quantized cells (deterministic seeded
    * centroids), nprobe-cell probing, exact cosine inside probed cells. */
  def q62AnnIvf(t: Tables): DataFrame =
    Similarity.ivfTopK(t.embeddings, annQueries(t), k = 10, nlist = 16, nprobe = 4)
      .orderBy("query_id", "rank")

  /** C41: mergeable COUNT-MIN frequency sketches — per-(lang, source)
    * token-frequency grids rolled up per lang WITHOUT rescanning text,
    * vs a one-shot per-lang build. CMS counters are sums, so the merge
    * law is exact grid equality; with width 2048 over this vocabulary no
    * item collides on all depth rows, so estimates equal exact counts —
    * three booleans the oracle pins TRUE next to DuckDB's exact counts. */
  def q97CmsMerge(t: Tables): DataFrame = {
    import graft.functions.CountMinFunctions.countMinEstimate
    val toks = t.documents.select(col("lang"), col("source"),
      explode(TextOps.tokens(col("text"))).as("tok"))
    val rolled = Sketches.rollupFreq(
        Sketches.freqSketches(toks, Seq("lang", "source"), "tok"), Seq("lang"))
      .withColumnRenamed("cms", "cms_rollup")
    val oneShot = Sketches.freqSketches(toks, Seq("lang"), "tok")
      .withColumnRenamed("cms", "cms_oneshot")
    val exact = toks.groupBy("lang", "tok").agg(count(lit(1)).as("exact_n"))
    exact.join(broadcast(rolled), "lang").join(broadcast(oneShot), "lang")
      .select(col("lang"), col("tok"), col("exact_n"),
        (countMinEstimate(col("cms_rollup"), col("tok")) ===
          countMinEstimate(col("cms_oneshot"), col("tok"))).as("merge_consistent"),
        (countMinEstimate(col("cms_oneshot"), col("tok")) >= col("exact_n"))
          .as("no_underestimate"),
        (countMinEstimate(col("cms_oneshot"), col("tok")) === col("exact_n"))
          .as("estimate_exact"))
      .orderBy("lang", "tok")
  }

  /** C47: quality-aware canonical selection — q74's clusters re-resolved
    * so each cluster keeps its highest-rarity member (ties → min id),
    * not an arbitrary min-id canonical. */
  def q103CanonicalQuality(t: Tables): DataFrame = {
    val clusters = Dedup.resolveClusters(
      Dedup.ngramJaccardPairs(t.documents, groupCol = "source", threshold = 0.3))
    val quality = TextAnalysis.rarityScore(t.documents)
      .select(col("doc_id"), col("rarity_avg").as("score"))
    Dedup.canonicalByQuality(clusters, quality).orderBy("doc_id")
  }

  /** C46: token-budget selection — keep the rarest-vocabulary documents
    * (rarity_avg priority, doc_id ties) until a 10k-token budget; the
    * oracle replays the one-phase global prefix window the two-level
    * bucketed scan must equal exactly. */
  def q102BudgetSelect(t: Tables): DataFrame =
    Sampling.selectUntilBudget(
      TextAnalysis.rarityScore(t.documents)
        .select(col("doc_id"), col("rarity_avg"), col("n_tokens")),
      "rarity_avg", "n_tokens", "doc_id", budget = 10000L)
    .orderBy("doc_id")

  /** C45: OOV rate against the corpus's own 20-term head vocabulary
    * (deterministic: count DESC, term ASC) — the tokenizer-coverage
    * check. The head selection is a top-k LIMIT, which Spark plans as
    * TakeOrderedAndProject (per-partition heaps + a k-row driver merge)
    * — no global window at any scale, not even a vocab-sized one. */
  def q101OovRate(t: Tables): DataFrame = {
    val counts = t.documents.select(explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val vocab = counts.orderBy(col("n").desc, col("term").asc)
      .limit(20).select("term")
    TextAnalysis.oovRate(t.documents, vocab).orderBy("doc_id")
  }

  /** C44: quality-filter funnel — ordered corpus-cleaning rules with
    * first-kill attribution and per-stage in/killed/out counts (the
    * cleaning report a RefinedWeb-style pipeline publishes). Rules use
    * only per-row columns both engines compute identically. */
  def q100FilterFunnel(t: Tables): DataFrame = {
    val nT = size(TextOps.tokens(col("text")))
    val awl = (col("n_chars") - (nT - 1)).cast("double") / nT
    TextAnalysis.filterFunnel(t.documents, Seq(
      "lang_keep"    -> col("lang").isin("en", "es", "de", "fr"),
      "min_chars"    -> (col("n_chars") >= 100),
      "max_chars"    -> (col("n_chars") <= 500),
      "min_tokens"   -> (nT >= 20),
      "avg_word_len" -> awl.between(3.0, 8.0)))
  }

  /** C40: ANN recall evaluation — recall@10 of the IVF index (q62 params)
    * against the exact brute-force ground truth (q34), per query. The
    * oracle replays BOTH pipelines and the overlap arithmetic exactly. */
  def q96AnnRecall(t: Tables): DataFrame =
    Similarity.recallAtK(
      Similarity.bruteForceTopK(t.embeddings, annQueries(t), k = 10),
      Similarity.ivfTopK(t.embeddings, annQueries(t), k = 10, nlist = 16, nprobe = 4),
      k = 10)
    .orderBy("query_id")

  /** C28: product-quantized ANN — same query set, scored entirely in the
    * compressed (code) domain; the oracle replays codebooks, codes, query
    * tables, and lookup-sum scores exactly. */
  def q76PqAnn(t: Tables): DataFrame =
    Similarity.pqTopK(t.embeddings, annQueries(t), k = 10)
      .orderBy("query_id", "rank")

  /** C23: int8-quantized ANN — same query set as q34, scored on quantized
    * vectors; the oracle replays quantization and integer scoring exactly. */
  def q69QuantizedAnn(t: Tables): DataFrame =
    Similarity.quantizedTopK(t.embeddings, annQueries(t), k = 10)
      .orderBy("query_id", "rank")

  /** C35: semantic dedup (SemDeDup shape) — cluster the embedding space
    * into 16 cells (the IVF assignment), prune cosine ≥ 0.35 pairs within
    * a cell, keep the min id; the oracle replays centroids → assignment →
    * within-cell pairs → drop set exactly. */
  def q86SemanticDedup(t: Tables): DataFrame =
    Similarity.semanticDedup(t.embeddings, tau = 0.35, nlist = 16)
      .orderBy("vec_id")

  /** C24: eval-set contamination — every 50th document plays the "eval
    * set", the rest are the training corpus; the oracle replays the whole
    * shingle-overlap check exactly. */
  def q70Contamination(t: Tables): DataFrame = {
    val ev = t.documents.filter(col("doc_id") % 50 === 0)
    val corpus = t.documents.filter(col("doc_id") % 50 =!= 0)
    Dedup.contamination(ev, corpus, n = 8).orderBy("eval_id")
  }

  /** C80: surgical decontamination — q70's eval split drives span-level
    * REMOVAL from the training side: contaminated 8-gram spans cut, docs
    * rebuilt; clean_text hashes to clean_hash for compact compare. */
  def q154Decontaminate(t: Tables): DataFrame = {
    val ev = t.documents.filter(col("doc_id") % 50 === 0)
    val corpus = t.documents.filter(col("doc_id") % 50 =!= 0)
    Dedup.removeContaminatedSpans(corpus, ev, n = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"), col("kept_ratio"),
        md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** C36: duplicated-span coverage — which fraction of each doc's 8-gram
    * positions is covered by spans that occur in other documents too. */
  def q87DupSpans(t: Tables): DataFrame =
    Dedup.duplicatedSpans(t.documents, n = 8).orderBy("doc_id")

  /** C37: edit-distance near-dup pairs — complete (length-banded) pair set
    * at Levenshtein ≤ 16, bounded-threshold kernel verify. */
  def q88EditNeardup(t: Tables): DataFrame =
    Dedup.editDistancePairs(t.documents, maxDist = 16).orderBy("doc_a", "doc_b")

  /** C25: per-document repetition profile (Gopher-style quality signal). */
  def q71Repetition(t: Tables): DataFrame =
    TextAnalysis.repetitionProfile(t.documents, n = 3).orderBy("doc_id")

  /** C38: inverted-index build — term → df / total tf / sorted postings,
    * head terms (df > 400) pruned to NULL postings BEFORE the list build
    * (this corpus's ~31-word vocabulary makes most terms head terms, so
    * the cap path is genuinely exercised). */
  def q91InvertedIndex(t: Tables): DataFrame =
    TextAnalysis.invertedIndex(t.documents, minDf = 2, postingsCap = 400)
      .orderBy("term")

  /** C8: stopword-profile language ID. */
  def q37LangId(t: Tables): DataFrame =
    TextAnalysis.langId(t.documents).orderBy("doc_id")

  /** C9: quality scoring from portable string features. */
  def q38QualityScore(t: Tables): DataFrame = {
    val feats = TextAnalysis.qualityFeatures(col("text"))
    t.documents.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  /** C10: whitespace + BPE-ish token counts. */
  def q39TokenCount(t: Tables): DataFrame = {
    val counts = TextAnalysis.tokenCounts(col("text"))
    t.documents.select(col("doc_id") +: counts.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  /** C11: rolling-hash document fingerprint. */
  def q40Fingerprint(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** C13: deterministic 80/10/10 train/val/test split by doc_id hash. */
  def q41Split(t: Tables): DataFrame =
    Sampling.hashSplit(t.documents, "doc_id")
      .select("doc_id", "bucket", "split").orderBy("doc_id")

  /** C14: PII redaction (emails / SSNs / phones) with per-kind counts. */
  def q42PiiRedact(t: Tables): DataFrame = {
    val cols = TextAnalysis.piiRedact(col("text"))
    t.documents.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  /** C15: top-5 salient terms per document (log-free TF-IDF ranking). */
  def q43Tfidf(t: Tables): DataFrame =
    TextAnalysis.tfidfTopK(t.documents, k = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "rk")

  /** C2 portable twin: the full MinHash+LSH pipeline with cross-engine
    * hashes, so the DuckDB oracle replays shingling → signatures → bands
    * → bucket join → exact verify and checks the ALGORITHM end-to-end. */
  def q52MinhashPortable(t: Tables): DataFrame =
    Dedup.minhashPairsPortable(t.documents, threshold = 0.7).orderBy("doc_a", "doc_b")

  /** C3 portable twin: SimHash with cross-engine hashes — DuckDB replays
    * votes → signature → bands → bucket join → Hamming verify. Tight
    * maxDist/bucketCap: this corpus has a ~31-word vocabulary, so 32-bit
    * signatures are low-diversity and looser settings explode the pair
    * count (the cost of a pair-producing operator IS its output). */
  def q53SimhashPortable(t: Tables): DataFrame =
    Dedup.simhashPairsPortable(t.documents, maxDist = 2, bucketCap = 100)
      .orderBy("doc_a", "doc_b")

  /** C11 portable twin: rolling-hash fingerprint DuckDB reproduces via
    * list_reduce over the same md5-derived token hashes. */
  def q54FingerprintPortable(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), TextAnalysis.fingerprintPortable(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** C17: the composed training-data prep pipeline — exact dedup (keep
    * canonical), language ID, quality scoring, deterministic split — as
    * ONE declarative plan, grouped into per-(split, lang) corpus stats.
    * Every stage is an already-oracled operator, so the composition is
    * oracle-checked too; Catalyst fuses the stages (one scan, the
    * dedup aggregation, per-row scoring, one final aggregation). */
  def q55TrainingPipeline(t: Tables): DataFrame = {
    // Canonical-per-content-hash via window (NOT agg+self-join): the whole
    // pipeline is ONE scan → one hash-partition window → per-row scoring
    // → one final aggregation. The join formulation re-scans the corpus
    // per stage — at 100 TB that is 4 reads of the dataset instead of 1.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy("doc_id")
    val quality = TextAnalysis.qualityFeatures(col("text"))
      .collect { case ("quality_score", c) => c }.head
    val tokens = TextAnalysis.tokenCounts(col("text"))
      .collect { case ("ws_tokens", c) => c }.head
    t.documents
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(
        Sampling.splitCol(Sampling.pctBucket(col("doc_id"))).as("split"),
        TextAnalysis.predLang(col("text")).as("pred_lang"),
        quality.as("q"), tokens.as("ws"))
      .groupBy("split", "pred_lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_high_quality"),
           sum(col("ws")).as("total_tokens"))
      .orderBy("split", "pred_lang")
  }

  /** C16: mergeable HLL distinct — customers-with-orders per segment,
    * built as per-(segment, year) sketches ROLLED UP via sketch union
    * (the rescan-free path). HLL register layouts differ across engines,
    * so the gate-facing columns are the ACCURACY CONTRACT instead of the
    * raw estimate: the exact distinct count (which DuckDB recomputes) and
    * a within-5%-of-exact flag the oracle pins TRUE — well outside
    * lgK=12's ~1.6% RSE, so the flag only trips on a broken build/merge.
    * The estimate itself still drives the flag, and q60 additionally pins
    * the union merge law. n_years documents the rollup's fan-in. */
  def q46ApproxDistinct(t: Tables): DataFrame = {
    val joined = t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_custkey"), year(col("o_orderdate")).as("yr"))
    val perYear = Sketches.distinctSketches(joined, Seq("c_mktsegment", "yr"), "o_custkey")
    val rolled = Sketches.rollupEstimate(perYear, Seq("c_mktsegment"))
    val exact = joined.groupBy("c_mktsegment").agg(
      countDistinct(col("o_custkey")).as("exact_distinct"),
      countDistinct(col("yr")).as("n_years"))
    exact.join(rolled, "c_mktsegment")
      .select(col("c_mktsegment"), col("exact_distinct"), col("n_years"),
        (abs(col("approx_distinct") - col("exact_distinct")) /
          col("exact_distinct") <= 0.05).as("within_tolerance"))
      .orderBy("c_mktsegment")
  }

  /** C20: mergeable TOP-K FREQUENCY sketches (DataSketches frequent-items)
    * through the same build → persist-shape → merge rollup as q46/q64:
    * per-year sketches of order-placing customers combine into one, and
    * while the tracked-item budget exceeds the distinct-customer count the
    * sketch is EXACT — so the full estimate read-out must equal DuckDB's
    * exact GROUP BY counts, item for item. That pins build, merge, AND
    * estimate end-to-end (the q60 merge-law pattern, but value-exact). */
  def q65TopkSketch(t: Tables): DataFrame = {
    val perYear = Sketches.topKSketches(
      t.orders.select(year(col("o_orderdate")).as("yr"), col("o_custkey")),
      Seq("yr"), "o_custkey")
    Sketches.rollupTopK(perYear, Seq.empty, k = 100000)
      .select(col("item"), col("est_count").as("cnt"))
      .orderBy("item")
  }

  /** C21: deterministic stratified sample — per-status fractions over the
    * stable md5 bucket, exactly replayable by the DuckDB oracle. */
  def q67StratifiedSample(t: Tables): DataFrame =
    Sampling.stratifiedSample(t.orders, "o_orderstatus", "o_orderkey",
        Map("F" -> 0.10, "O" -> 0.05, "P" -> 0.50))
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  /** C22: deterministic fixed-size per-stratum sample (two-phase salted
    * top-k in Spark; the oracle replays the equivalent ONE-phase ranking,
    * proving the distributed selection exact). */
  def q68ReservoirSample(t: Tables): DataFrame =
    Sampling.reservoirPerStratum(t.orders, "o_orderstatus", "o_orderkey", k = 100)
      .select(col("o_orderstatus"), col("o_orderkey"), col("sample_rank"))
      .orderBy("o_orderstatus", "sample_rank")

  /** C66: PRIORITY sampling — weighted-without-replacement k-per-language
    * sample (priority w/u over the stable md5 uniform) plus the
    * Horvitz–Thompson threshold weights that make the sample unbiased for
    * weighted totals; weight = n_chars + 1 (never zero). The oracle
    * replays the ONE-phase ranking the two-phase salted selection must
    * equal, plus τ and ŵ = max(w, τ) exactly. */
  def q135PrioritySample(t: Tables): DataFrame =
    Sampling.prioritySample(
        t.documents.withColumn("w", col("n_chars").cast("long") + lit(1L)),
        "lang", "doc_id", "w", k = 5)
      .orderBy("lang", "sample_rank")

  /** C19: mergeable quantile sketches, oracled by their accuracy contract
    * (q63's pattern, through a BUILD → persist-shape → MERGE rollup):
    * per-(status, year) sketches union up to status, and the read-out
    * quantile must land inside the exact [q−2ε, q+2ε] rank bounds DuckDB
    * recomputes (2ε: one ε from the build, one from the merge). */
  def q64QuantileRollup(t: Tables): DataFrame = {
    val eps = 0.01
    val perYear = Sketches.quantileSketches(
      t.orders.select(col("o_orderstatus"), year(col("o_orderdate")).as("yr"),
                      col("o_totalprice")),
      Seq("o_orderstatus", "yr"), "o_totalprice", relativeError = eps)
    val rolled = Sketches.rollupQuantiles(perYear, Seq("o_orderstatus"), Seq(0.5, 0.9))
    val exact = t.orders.groupBy("o_orderstatus")
      .agg(expr(s"percentile(o_totalprice, array(${0.5 - 2 * eps}D, ${0.5 + 2 * eps}D, " +
                s"${0.9 - 2 * eps}D, ${0.9 + 2 * eps}D))").as("ep"))
    rolled.join(exact, "o_orderstatus")
      .select(col("o_orderstatus"),
        (col("p50") >= col("ep")(0) && col("p50") <= col("ep")(1)).as("p50_in_bounds"),
        (col("p90") >= col("ep")(2) && col("p90") <= col("ep")(3)).as("p90_in_bounds"),
        col("ep")(1).as("p50_hi"), col("ep")(3).as("p90_hi"))
      .orderBy("o_orderstatus")
  }

  /** C16 verification twin: DuckDB can't replay DataSketches HLL registers,
    * so q60 oracles the PROPERTIES q46 relies on instead — (a) the merge
    * law as grouping-TOPOLOGY independence: the same per-segment value
    * set partitioned two unrelated ways (by order year; by a custkey hash
    * bucket) must union up to segment with estimates within 2% of each
    * other. NO identity holds here once sketches leave sparse mode — a
    * DataSketches union whose inputs are all still coupon lists re-feeds
    * them and keeps the order-sensitive HIP estimator, while a union
    * touching a dense sketch falls back to the composite estimator, so
    * even two unions of the same value SET can read out through different
    * estimator paths (measured divergence ≤0.45% at sf0.1; bounded at 2%
    * ≈ a bit over lgK=12's 1.6% RSE). At toy scale everything stays in
    * exact coupon mode and all paths agree to the digit, which is what
    * made an equality gate look safe before sf0.1 exposed it. (b)
    * accuracy: both the rolled-up and the one-shot estimates land within
    * lgK=12's error envelope of the exact distinct count, which DuckDB
    * recomputes exactly. The checks fold into boolean columns the oracle
    * pins to TRUE, so a hash match IS the property proof. */
  def q60HllMerge(t: Tables): DataFrame = {
    val joined = t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_custkey"), year(col("o_orderdate")).as("yr"),
        pmod(xxhash64(col("o_custkey")), lit(16L)).as("bucket"))
    val rolled = Sketches
      .rollupEstimate(Sketches.distinctSketches(joined, Seq("c_mktsegment", "yr"), "o_custkey"),
                      Seq("c_mktsegment"))
      .withColumnRenamed("approx_distinct", "rollup_est")
    val rolled2 = Sketches
      .rollupEstimate(Sketches.distinctSketches(joined, Seq("c_mktsegment", "bucket"), "o_custkey"),
                      Seq("c_mktsegment"))
      .withColumnRenamed("approx_distinct", "rollup2_est")
    val oneShot = Sketches.oneShotEstimate(joined, Seq("c_mktsegment"), "o_custkey")
      .withColumnRenamed("approx_distinct", "oneshot_est")
    val exact = joined.groupBy("c_mktsegment")
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    exact.join(rolled, "c_mktsegment").join(rolled2, "c_mktsegment")
      .join(oneShot, "c_mktsegment")
      .select(col("c_mktsegment"), col("exact_distinct"),
        (abs(col("rollup_est") - col("rollup2_est")) /
          greatest(col("rollup_est"), col("rollup2_est")) <= 0.02).as("merge_consistent"),
        (abs(col("rollup_est") - col("exact_distinct")) / col("exact_distinct") <= 0.05)
          .as("within_tolerance"),
        (abs(col("oneshot_est") - col("exact_distinct")) / col("exact_distinct") <= 0.05)
          .as("oneshot_within_tolerance"))
      .orderBy("c_mktsegment")
  }

  /** C48: BPE merge-candidate scan — the top-50 most frequent adjacent
    * token pairs (the argmax of one byte-pair-encoding training
    * iteration), extracted per-row with codegen'd slice+zip (no window,
    * no shuffle of the token stream). */
  def q106BpePairs(t: Tables): DataFrame =
    TextAnalysis.bpePairCounts(t.documents, topK = 50)

  /** C49: one distributed k-means (Lloyd) refinement step over the
    * embedding corpus — per-row codegen'd cell assignment + fixed-point-
    * exact per-(cell, dim) centroid update; the oracle replays
    * seed → assign → round → sum → divide exactly. */
  def q107KmeansStep(t: Tables): DataFrame =
    Similarity.kmeansStep(t.embeddings, nlist = 16).orderBy("cell", "dim")

  /** C64: stupid-backoff bigram LM scoring — English documents play the
    * trusted reference domain; every document scored by how probable the
    * reference LM finds its bigrams, exact integer fixed-point. */
  def q134LmScore(t: Tables): DataFrame =
    TextAnalysis.lmScore(t.documents, isTrain = col("lang") === "en")
      .orderBy("doc_id")

  /** C82: the CCNet-style HEAD/MIDDLE/TAIL split — C64's LM scores cut
    * into global terciles (bucket 0 = head, the best-scoring third), the
    * standard perplexity-bucketed corpus partition: head trains as-is,
    * middle gets a second look, tail drops. The global rank is the
    * two-level Ranking template (score-interval buckets — no one-task
    * sort); scoreless docs (no bigrams) sink via a −1 sentinel key. */
  def q157LmTerciles(t: Tables): DataFrame = {
    val scored = TextAnalysis.lmScore(t.documents, isTrain = col("lang") === "en")
      .withColumn("__g", lit(0))
      .withColumn("__key", coalesce(col("lm_avg"), lit(-1L)))
    graft.operators.Ranking.groupRankDesc(scored, "__g", "__key", "doc_id",
        expr("__key div 2000000"))
      .select(expr("(rank - 1) * 3 div n_group").as("bucket"),
        col("n_tokens"), col("lm_sum"), col("n_bigrams"), col("__key"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("lm_sum")).as("lm_sum"),
        sum(col("n_bigrams")).as("n_bigrams"),
        max(when(col("__key") >= 0, col("__key"))).as("lm_avg_max"),
        min(when(col("__key") >= 0, col("__key"))).as("lm_avg_min"))
      .orderBy("bucket")
  }

  /** C65: model-based quality classifier — English plays the "high
    * quality" label; 16 hashed token buckets + bias, 4 full-batch LMS
    * gradient steps in exact integer fixed-point. The oracle replays the
    * ENTIRE training trajectory (every gradient, every weight) and the
    * final scores integer-for-integer. */
  def q136QualityClassifier(t: Tables): DataFrame =
    TextAnalysis.qualityClassifier(t.documents, isPositive = col("lang") === "en")
      .orderBy("doc_id")

  /** C68: calibration sweep over the C65 classifier's scores — 7
    * thresholds at j·scale/8; confusion counts and fixed-point
    * precision/recall/F1 per threshold, every integer replayed. */
  def q138Calibration(t: Tables): DataFrame =
    TextAnalysis.calibrationSweep(
        TextAnalysis.qualityClassifier(t.documents, isPositive = col("lang") === "en"),
        thresholds = (1 to 7).map(_ * 125000L), scale = 1000000L)
      .orderBy("threshold_idx")

  /** C50: DSIR-shape importance weights — English documents play the
    * target domain; integer-exact smoothed frequency ratios, averaged
    * per doc. */
  def q109Importance(t: Tables): DataFrame =
    TextAnalysis.importanceWeights(t.documents, isTarget = col("lang") === "en")
      .orderBy("doc_id")

  /** C51: dataset card — per-source volume, exact-dup rate, language mix;
    * single corpus scan (plan-asserted), hashes not text in the shuffle. */
  def q110DatasetCard(t: Tables): DataFrame =
    TextAnalysis.datasetCard(t.documents).orderBy("source")

  /** C52: cross-source shingle-overlap matrix — distinct 8-gram sets per
    * source, pairwise common/Jaccard/containment. */
  def q111SourceOverlap(t: Tables): DataFrame =
    Dedup.sourceOverlap(t.documents, n = 8).orderBy("src_a", "src_b")

  /** C79: padding-waste audit — length-bucketed batching efficiency under
    * static (pad-to-cap) vs dynamic (pad-to-longest) policies. */
  def q153PaddingAudit(t: Tables): DataFrame =
    Chunking.paddingAudit(
      t.documents.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")))
      .orderBy("cap")

  /** C78: code-switching detection — 20-token segments language-voted;
    * every 101st doc gains a planted 20-token German block so mixed-
    * language positives exist at every SF. */
  def q152CodeSwitch(t: Tables): DataFrame = {
    val base = t.documents.select(col("doc_id"),
      when(col("doc_id") % 101 === 0,
        concat(col("text"), lit(" " + TrainingData.GermanBlock)))
        .otherwise(col("text")).as("text"))
    TextAnalysis.codeSwitchProfile(base, width = 20).orderBy("doc_id")
  }

  /** C77: per-domain score calibration — the q38 quality score
    * rank-normalized within each source (two-level rank), one uniform
    * top-30% cut applied in calibrated percentile units. */
  def q151ScoreCalibration(t: Tables): DataFrame =
    TextAnalysis.scoreCalibration(t.documents, keepPct = 30)
      .orderBy("doc_id")

  /** C76: mojibake detection + repair — every 89th doc gains a planted
    * double-encoded suffix (UTF-8 read as Windows-1252), so the ftfy-style
    * confusable-table repair has guaranteed positives to prove; clean docs
    * must pass through untouched (hash of the original text). */
  def q147Mojibake(t: Tables): DataFrame = {
    val base = t.documents.select(col("doc_id"),
      when(col("doc_id") % 89 === 0,
        concat(col("text"), lit(TrainingData.MangledSuffix)))
        .otherwise(col("text")).as("text"))
    TextAnalysis.mojibakeProfile(base).orderBy("doc_id")
  }

  /** C75: containment pairs — asymmetric near-dup (excerpt-inside-a-page)
    * over the corpus PLUS planted half-length excerpts (every 97th doc),
    * so the ≥90% coverage rule has guaranteed positives to prove at
    * every SF; the contained side is named per the min-(size, id) rule. */
  def q146Containment(t: Tables): DataFrame = {
    val base = t.documents.select("doc_id", "source", "text")
    val toks = split(col("text"), " ")
    val half = greatest(floor(size(toks) / 2), lit(1)).cast("int")
    val excerpts = base.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        concat_ws(" ", slice(toks, lit(1), half)).as("text"))
    Dedup.containmentPairs(base.unionByName(excerpts), groupCol = "source",
      ngram = 3, thresholdPct = 90)
      .orderBy("doc_a", "doc_b")
  }

  /** C81: embedding drift — odd vec_ids play the "new ingest slice"; per
    * label the old-vs-new prototype cosine and norms. */
  def q156EmbeddingDrift(t: Tables): DataFrame =
    Similarity.embeddingDrift(t.embeddings, isNew = col("vec_id") % 2 === 1)
      .orderBy("label")

  /** C74: prototypicality pruning — per label, cosine to the fixed-point
    * exact mean prototype, two-level rank, top-10% most prototypical
    * flagged pruned (the SSL-prototypes abundant-data rule). */
  def q145PrototypePrune(t: Tables): DataFrame =
    Similarity.prototypicalityPrune(t.embeddings, prunePct = 10)
      .orderBy("vec_id")

  /** C53: embedding health profile per label — dims, zero norms, norm
    * stats with a fixed-point-exact mean. */
  def q114EmbeddingProfile(t: Tables): DataFrame =
    Similarity.embeddingProfile(t.embeddings).orderBy("label")

  /** C54: MinHash estimator accuracy — signature-agreement estimate vs
    * exact Jaccard per LSH candidate pair (the dedup-stack analog of the
    * q96 ANN recall gate). */
  def q115MinhashAccuracy(t: Tables): DataFrame =
    Dedup.minhashAccuracy(t.documents).orderBy("doc_a", "doc_b")

  /** C55: vocabulary coverage curve at budgets 10/100/1000/10000 — the
    * tokenizer-budget planning complement of q101's OOV rate. */
  def q116CoverageCurve(t: Tables): DataFrame =
    TextAnalysis.coverageCurve(t.documents)

  /** C59: the CURATION capstone — the full cleaning pipeline as ONE
    * report: raw → exact dedup (first doc per content hash) → near-dup
    * cluster canonicals (q74's closure on the survivors) → quality
    * funnel (q100's rules) → token-budget selection (q102's scan), with
    * the per-stage survivor counts a dataset release publishes. Each
    * stage consumes the previous stage's survivors, so the oracle
    * replays the whole chain end-to-end — the strongest composition
    * check in the catalog (five operator families in one plan). */
  def q123CurationReport(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = t.documents
    val s2 = raw.withColumn("__h", md5(col("text")))
      .withColumn("__rn", row_number().over(Window.partitionBy("__h").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__h", "__rn")
    val clusters = Dedup.resolveClusters(
      Dedup.ngramJaccardPairs(s2, groupCol = "source", threshold = 0.3))
    val s3 = s2.join(
      clusters.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id").as("__d")),
      col("doc_id") === col("__d"), "left_anti")
    val nT = size(TextOps.tokens(col("text")))
    val awl = (col("n_chars") - (nT - 1)).cast("double") / nT
    val s4 = s3.filter(col("lang").isin("en", "es", "de", "fr") &&
      col("n_chars") >= 100 && col("n_chars") <= 500 && nT >= 20 &&
      awl.between(3.0, 8.0))
    val s5 = Sampling.selectUntilBudget(
      TextAnalysis.rarityScore(s4).select(col("doc_id"), col("rarity_avg"), col("n_tokens")),
      "rarity_avg", "n_tokens", "doc_id", budget = 10000L)
    def stage(i: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i.toLong).as("stage"), lit(name).as("name"), col("n_docs"))
    stage(0, "raw", raw)
      .unionByName(stage(1, "exact_dedup", s2))
      .unionByName(stage(2, "near_dup_canonical", s3))
      .unionByName(stage(3, "quality_funnel", s4))
      .unionByName(stage(4, "budget_select", s5))
      .orderBy("stage")
  }

  /** C60: deterministic training-shard layout — the corpus in portable
    * pseudo-shuffled order packed into ~2000-token output shards; the
    * oracle replays the shuffle key, the token prefix, and every
    * (shard_id, pos_in_shard) assignment with one global window. */
  def q125ShardLayout(t: Tables): DataFrame =
    Chunking.shardLayout(
      t.documents.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      shardTokens = 2000L)
      .orderBy("doc_id")

  /** C61: leakage-safe split — the q41 hash split keyed by near-dup
    * cluster (q74's closure), so near-duplicates never straddle
    * train/test; singletons split exactly as q41 does. */
  def q126LeakageSplit(t: Tables): DataFrame = {
    val clusters = Dedup.resolveClusters(
      Dedup.ngramJaccardPairs(t.documents, groupCol = "source", threshold = 0.3))
    Sampling.leakageSafeSplit(t.documents.select("doc_id"), clusters)
      .select("doc_id", "cluster_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** C62: exact duplicated-span profile via distributed suffix ordering
    * (prefix doubling) — per doc, the longest token span recurring
    * anywhere in the corpus and the count of positions whose duplicated
    * span reaches 8 tokens. The oracle sorts actual suffix lists and
    * takes neighbor LCPs — same numbers, one-phase. */
  def q127SuffixSpans(t: Tables): DataFrame =
    graft.operators.Suffix.dupSpanProfile(t.documents, minSpan = 8).orderBy("doc_id")

  /** C58: IVF cell-balance profile — per-cell population and the global
    * balance factor of the 16-cell index every ANN query here probes. */
  def q122CellProfile(t: Tables): DataFrame =
    Similarity.ivfCellProfile(t.embeddings, nlist = 16).orderBy("cell")

  /** C57: contrastive pair mining — same anchors as the ANN queries;
    * positives from the shared IVF cell, 5 hash-drawn negatives each. */
  def q119ContrastivePairs(t: Tables): DataFrame =
    Similarity.contrastivePairs(t.embeddings, annQueries(t), kNeg = 5)
      .orderBy("query_id", "pair_type", "other_id")

  /** C56: temperature-flattened (T=2) mixture over LANGUAGE (the skewed
    * axis of this corpus — en dominates): weights derived in-plan as
    * round(sqrt(n_lang)), so the head language is downsampled and tail
    * languages keep their mass; same exact replay as q78. */
  def q117TemperatureMix(t: Tables): DataFrame =
    Sampling.temperatureMixture(t.documents, "lang", "doc_id")
      .select("doc_id", "lang").orderBy("doc_id")

  /** C12: REAL image-container decode — per doc, structurally-valid
    * PNG/JPEG/GIF bytes are assembled (deterministic geometry from
    * doc_id/n_chars; JPEG gets a doc-dependent variable-length COM
    * segment) and parsed BACK by the codegen'd marker-walking
    * [[graft.functions.ImageFunctions.imageMeta]]. The oracle predicts the recovered
    * metadata arithmetically and re-builds the JPEG/GIF bytes (and the
    * CRC-free PNG prefix) hex-wise in SQL, so both the encoder's byte
    * layout and the parser's walk are value-gated end to end. */
  def q130ImageMeta(t: Tables): DataFrame = {
    import graft.functions.ImageFunctions.{imageBytes, imageMeta}
    val kind = (col("doc_id") % 3).cast("int")
    val width = (col("n_chars") % 1900 + 1).cast("int")
    val height = (col("doc_id") % 1060 + 1).cast("int")
    val depth = when(kind === 0, (col("doc_id") % 2 + 1) * 8)
      .when(kind === 1, lit(8))
      .otherwise(col("doc_id") % 8 + 1).cast("int")
    val pad = (col("doc_id") % 13).cast("int")
    t.documents
      .select(col("doc_id"), kind.as("kind"),
        imageBytes(kind, width, height, depth, pad).as("media"))
      .select(col("doc_id"), imageMeta(col("media")).as("m"),
        // byte-level gate: whole container for the CRC-free formats, the
        // 29-byte pre-CRC prefix for PNG (CRC-32 is not SQL-expressible)
        upper(hex(when(col("kind") === 0, expr("substring(media, 1, 29)"))
          .otherwise(col("media")))).as("media_hex"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("m.depth").as("depth"), col("media_hex"))
      .orderBy("doc_id")
  }

  /** C12 (audio): REAL WAV/RIFF round-trip — per doc, a structurally
    * complete PCM container (variable-length LIST/INFO comment chunk
    * ahead of `fmt `, deterministic geometry from doc_id/n_chars) is
    * assembled and chunk-walked BACK by the codegen'd
    * [[graft.functions.MediaFunctions.audioMeta]]. RIFF carries no checksum, so the
    * oracle re-builds the ENTIRE byte stream hex-wise in SQL — encoder
    * layout and parser walk are value-gated end to end. */
  def q131AudioMeta(t: Tables): DataFrame = {
    import graft.functions.MediaFunctions.{audioBytes, audioMeta}
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
      (col("doc_id") % 5 + 1).cast("int"))
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val bits = ((col("doc_id") % 3 + 1) * 8).cast("int")
    val nSamples = (col("n_chars") % 120 + 1).cast("int")
    val pad = (col("doc_id") % 11).cast("int")
    t.documents
      .select(col("doc_id"),
        audioBytes(rate, channels, bits, nSamples, pad).as("media"))
      .select(col("doc_id"), audioMeta(col("media")).as("m"),
        upper(hex(col("media"))).as("media_hex"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").as("sample_rate"), col("m.channels").as("channels"),
        col("m.bits").as("bits"), col("m.n_samples").as("n_samples"),
        expr("m.n_samples * 1000 div m.sample_rate").as("duration_ms"),
        col("media_hex"))
      .orderBy("doc_id")
  }

  /** C12 (audio, AAC): REAL ADTS round-trip — per doc, a multi-frame AAC
    * ADTS stream (7-byte headers, protection_absent, AAC-LC, id-derived
    * sampling-frequency index/channel config/frame count/payload size) is
    * assembled and frame-walked BACK by the codegen'd
    * [[graft.functions.MediaFunctions.adtsMeta]]: syncwords, 13-bit frame lengths,
    * config consistency across frames, 1024 samples per raw_data_block.
    * protection_absent means no CRC anywhere, so the oracle re-builds the
    * ENTIRE stream hex-wise in SQL — the byte gate is total. The
    * raw_data_block payload itself stays opaque filler (the documented
    * AAC sample-decode boundary, operators/Multimodal header). */
  def q176AdtsMeta(t: Tables): DataFrame = {
    import graft.functions.MediaFunctions.{adtsBytes, adtsMeta}
    val sfi = (col("doc_id") % 9 + 3).cast("int") // indexes 3..11: 48000..8000 Hz
    val channels = (col("doc_id") % 3 + 1).cast("int")
    val frames = (col("n_chars") % 9 + 1).cast("int")
    val payloadLen = (col("doc_id") % 50).cast("int")
    t.documents
      .select(col("doc_id"), adtsBytes(sfi, channels, frames, payloadLen).as("media"))
      .select(col("doc_id"), adtsMeta(col("media")).as("m"),
        upper(hex(col("media"))).as("media_hex"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").as("sample_rate"), col("m.channels").as("channels"),
        col("m.profile").as("profile"), col("m.frames").as("frames"),
        col("m.n_samples").as("n_samples"),
        expr("m.n_samples * 1000 div m.sample_rate").as("duration_ms"),
        col("media_hex"))
      .orderBy("doc_id")
  }

  /** C12 (audio, Vorbis): REAL Ogg container round-trip — per doc, a
    * two-page Ogg stream (BOS page carrying the genuine 30-byte Vorbis
    * identification header, EOS page whose granule position is the PCM
    * sample total, real RFC 3533 page CRCs) is assembled and page-walked
    * BACK by the codegen'd [[graft.functions.MediaFunctions.oggMeta]], which verifies
    * every page's capture pattern, lacing-table sizing and checksum. The
    * CRC keeps the byte stream out of SQL reach (unlike ADTS/WAV/MP4), so
    * the oracle gates the PARSED metadata arithmetically and the spec
    * pins the CRC against RFC 3533 test vectors. Audio packets stay
    * opaque filler (the documented Vorbis sample-decode boundary). */
  def q177OggMeta(t: Tables): DataFrame = {
    import graft.functions.MediaFunctions.{oggMeta, oggVorbisBytes}
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
      (col("doc_id") % 5 + 1).cast("int"))
    val totalSamples = (col("n_chars") * 50 + 1).cast("long")
    val payloadLen = (col("doc_id") % 200 + 1).cast("int")
    val serial = (col("doc_id") % 100000).cast("int")
    t.documents
      .select(col("doc_id"),
        oggVorbisBytes(channels, rate, totalSamples, payloadLen, serial).as("media"))
      .select(col("doc_id"), oggMeta(col("media")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").as("sample_rate"), col("m.channels").as("channels"),
        col("m.pages").as("pages"), col("m.total_samples").as("total_samples"),
        col("m.serial").as("serial"),
        expr("m.total_samples * 1000 div m.sample_rate").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** C12 (audio, FLAC): REAL lossless compressed-audio codec exercised
    * end-to-end — per doc a deterministic sawtooth is encoded as genuine
    * FLAC (fixed predictors, Rice residuals, CRC-8/16, STREAMINFO MD5)
    * and decoded back by [[graft.functions.FlacCodecUtil]]; the oracle
    * computes the decoded stream's metadata and order-sensitive integer
    * sample statistics from the closed form, so any decode defect —
    * wrong samples, wrong order, wrong count — breaks the exact match.
    * The codec is lossless, which is what makes a compressed-audio
    * format SQL-gateable at all. */
  def q180FlacRoundtrip(t: Tables): DataFrame = {
    import graft.functions.MediaFunctions.flacProbe
    val n = (col("n_chars") % 400 + 50).cast("int")
    val step = (col("doc_id") % 97 + 1).cast("int")
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
      (col("doc_id") % 5 + 1).cast("int"))
    t.documents
      .select(col("doc_id"), flacProbe(col("doc_id"), n, step, rate).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.sample_rate").as("sample_rate"), col("m.channels").as("channels"),
        col("m.bits").as("bits"), col("m.total_samples").as("total_samples"),
        col("m.sum_s").as("sum_s"), col("m.min_s").as("min_s"),
        col("m.max_s").as("max_s"), col("m.wsum_s").as("wsum_s"),
        col("m.roundtrip_ok").as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** C12 (video): REAL MP4/ISO-BMFF round-trip — per doc, `ftyp` +
    * variable-length `free` + `moov`/`mvhd` bytes are assembled and
    * box-walked BACK by the codegen'd [[graft.functions.MediaFunctions.videoMeta]].
    * No checksum in ISO BMFF either: the oracle re-builds the entire
    * container hex-wise in SQL. */
  def q132VideoMeta(t: Tables): DataFrame = {
    import graft.functions.MediaFunctions.{videoBytes, videoMeta}
    val timescale = element_at(
      array(lit(600), lit(1000), lit(24000), lit(30000), lit(90000)),
      (col("doc_id") % 5 + 1).cast("int"))
    val duration = (col("n_chars") * (col("doc_id") % 7 + 1)).cast("long")
    val pad = (col("doc_id") % 17).cast("int")
    t.documents
      .select(col("doc_id"), videoBytes(timescale, duration, pad).as("media"))
      .select(col("doc_id"), videoMeta(col("media")).as("m"),
        upper(hex(col("media"))).as("media_hex"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.brand").as("brand"), col("m.timescale").as("timescale"),
        col("m.duration").as("duration"),
        expr("m.duration * 1000 div m.timescale").as("duration_ms"),
        col("media_hex"))
      .orderBy("doc_id")
  }

  /** C69 (train): full BPE tokenizer training — 6 iterated merges over the
    * Zipf-small word-frequency frame (ONE corpus scan total); output is the
    * learned merge trajectory with integer-exact pair counts, applied-
    * occurrence counts, and the shrinking corpus token total. The oracle
    * replays every iteration — pair count, argmax tie-break, greedy
    * leftmost rewrite — stage by stage. */
  def q139BpeTrain(t: Tables): DataFrame =
    Bpe.trajectory(t.spark, Bpe.train(t.documents, merges = 6)).orderBy("step")

  /** C69 (encode): the deploy half — per-document word/char/BPE-token
    * counts under the 6-merge model trained on the same corpus; one corpus
    * scan + a broadcast join of the vocab-sized token-count frame. */
  def q140BpeEncode(t: Tables): DataFrame =
    Bpe.encodeStats(t.documents, Bpe.train(t.documents, merges = 6))
      .orderBy("doc_id")

  /** C72: tokenizer fertility audit — per language, the deploy-quality
    * report of the q139-trained 6-merge model: fertility (BPE tokens per
    * word), chars-per-token compression, unsplit rate — all exact integer
    * fixed-point, so the oracle replays training AND the audit. */
  def q143TokenizerFertility(t: Tables): DataFrame =
    Bpe.fertilityAudit(t.documents, Bpe.train(t.documents, merges = 6))
      .orderBy("lang")

  /** C70: token-budget water-filling mixture planner — a 2×-corpus token
    * budget split equally across sources, except no source may exceed its
    * epoch cap (factor 1 + len(source)%3 plays the per-domain config);
    * capped sources saturate, their surplus redistributes. Closed-form
    * exact integer solve on the domain frame — see Sampling.budgetWaterfill. */
  def q141BudgetWaterfill(t: Tables): DataFrame =
    Sampling.budgetWaterfill(t.documents,
      capFactor = lit(1) + length(col("domain")) % 3)
      .orderBy("domain")

  /** C71: the EXECUTION of q141's plan — per-document repetition counts:
    * full epochs for everyone, plus the hash-ordered partial-epoch prefix
    * covering the remainder (C46's boundary rule, per domain). */
  def q142MixtureSchedule(t: Tables): DataFrame =
    Sampling.mixtureSchedule(t.documents,
      capFactor = lit(1) + length(col("domain")) % 3)
      .orderBy("doc_id")

  /** C87: cross-corpus n-gram novelty — even doc_ids play the reference
    * corpus, odd the current one (q156's split convention). */
  def q164NgramNovelty(t: Tables): DataFrame =
    TextAnalysis.ngramNovelty(t.documents, isRef = col("doc_id") % 2 === 0)

  /** C86: embedding anisotropy — the dominant-direction audit
    * (operators/Similarity.anisotropy): exact-integer power iteration
    * over the milli-scaled second-moment matrix; the oracle replays
    * every round, every renormalization, every truncating division. */
  def q163Anisotropy(t: Tables): DataFrame =
    graft.operators.Similarity.anisotropy(t.embeddings)

  /** C88: isotropy correction — all-but-the-top over q163's measured
    * direction (operators/Similarity.removeTopDirection): per-vector
    * integer projection audit (dot, energy, removed share, residual dot),
    * oracle-exact down to the truncating divisions. */
  def q169IsotropyCorrect(t: Tables): DataFrame =
    graft.operators.Similarity.removeTopDirection(t.embeddings)

  /** C90: URL canonicalization + URL-keyed dedup (operators/Urls) — the
    * documents get deterministic planted crawl URLs whose variants differ
    * exactly in what canonicalization must erase (default port + tracking
    * param / upper-cased host + trailing slash + fragment / appended
    * gclid+utm / already-clean), so the rule set is what the oracle
    * verifies: all four spellings of a page collapse onto ONE canonical
    * key while distinct pages stay apart. */
  def q171UrlDedup(t: Tables): DataFrame = {
    val h = expr("cast(doc_id % 7 as string)")
    val p = expr("cast(doc_id % 49 as string)")
    val k = expr("cast(doc_id % 3 as string)")
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://ex"), h, lit(".com:443/page/"), p,
          lit("?utm_source=feed&id="), k))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://EX"), h, lit(".COM/page/"), p,
          lit("/?id="), k, lit("#sec-2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://ex"), h, lit(".com/page/"), p,
          lit("?id="), k, lit("&utm_campaign=x&gclid=abc")))
      .otherwise(
        concat(lit("https://ex"), h, lit(".com/page/"), p, lit("?id="), k))
    graft.operators.Urls.urlDedup(t.documents, url)
  }

  /** The PURCHASE GRAPH all five graph queries (q170/q175/q181/q182/q183)
    * walk: ONE lineitem⋈orders aggregation to weighted customer→supplier
    * edges (weight = lineitem count; customers take even node ids,
    * suppliers odd so both sides share one id space). `symmetrized` adds
    * the reversed edges, giving every node out-edges — the variant the
    * undirected walks use. Shared so the suite has exactly one
    * definition of the graph — also the frame a real user would
    * materialize once per corpus snapshot and feed to every graph
    * analysis. */
  private def purchaseEdges(t: Tables, symmetrized: Boolean): DataFrame = {
    val e = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .agg(count(lit(1)).as("w"))
    val fwd = e.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"), col("w"))
    if (symmetrized)
      fwd.unionAll(e.select((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst"), col("w")))
    else fwd
  }

  /** The ten highest-order-volume customers as graph seeds (order count,
    * custkey tie-break — integer ordering so both engines pick identical
    * seeds); shared by q181 (PPR) and q183 (seed distance). */
  private def purchaseSeeds(t: Tables): DataFrame =
    t.orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_custkey").asc)
      .limit(10)
      .select((col("o_custkey") * 2).as("node"))

  /** C89: link-graph PAGERANK (operators/Rank) — the seed-quality
    * centrality signal, exercised on the real purchase bipartite graph
    * (customer↔supplier, weight = lineitem count; customers take even
    * node ids, suppliers odd; symmetrized so every node has out-edges).
    * Top-100 by fixed-point rank with a total (rank, side, id) order. */
  def q170PageRank(t: Tables): DataFrame = {
    graft.operators.Rank.pageRank(purchaseEdges(t, symmetrized = true))
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("side"),
        expr("node div 2").as("id"), col("r").as("rank_fx"))
      .orderBy(col("rank_fx").desc, col("side"), col("id"))
      .limit(100)
  }

  /** C89 (dangling path): PAGERANK over the one-directional purchase graph
    * — customer → supplier edges only, so EVERY supplier is a dangling
    * sink (no out-edges), the structure a real crawl/link graph is full
    * of. Exercises [[graft.operators.Rank.pageRank]]'s per-round
    * dangling-mass redistribution end-to-end against the DuckDB replay:
    * the suppliers' absorbed rank is recycled uniformly (D div N) instead
    * of leaking out of the walk. Same fixed-point arithmetic and the same
    * total (rank, side, id) output order as q170. */
  def q175PageRankDangling(t: Tables): DataFrame = {
    graft.operators.Rank.pageRank(purchaseEdges(t, symmetrized = false))
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("side"),
        expr("node div 2").as("id"), col("r").as("rank_fx"))
      .orderBy(col("rank_fx").desc, col("side"), col("id"))
      .limit(100)
  }

  /** C98: Z-ORDER layout audit ([[graft.operators.Layout]]) — cluster the
    * orders table by the bit-interleaved (custkey-bucket, order-day) Morton
    * key into 64 equal-width "files", keep per-file min/max footer stats,
    * and price three box probes (customer band / date band / both) against
    * the SAME probes on a single-dimension date-sorted layout. The report
    * a table-maintenance job publishes before rewriting 100 TB: how many
    * files each layout lets a scan skip. Everything integer-exact — the
    * oracle replays interleave, file assignment, stats and overlap
    * bit-for-bit. */
  def q178ZorderLayout(t: Tables): DataFrame = {
    import graft.operators.Layout
    val files = 64
    // epoch at min(o_orderdate) so dd is NON-NEGATIVE, per zOrderKey's
    // contract — a later epoch makes ~40% of days negative, and their
    // two's-complement low bits wrap to the top of the key domain,
    // silently splitting the date dimension (q184/q185/q186 share this
    // anchor; the oracle replays it)
    val base = t.orders.select(
      (col("o_custkey") % 65536).cast("long").as("ck"),
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
        .cast("long").as("dd"))
    val zstats = Layout.fileStats(
      Layout.assignFiles(base, Layout.zOrderKey(Seq(col("ck"), col("dd"))), files),
      Seq("ck", "dd"))
    val dstats = Layout.fileStats(
      Layout.assignFiles(base, col("dd"), files), Seq("ck", "dd"))
    val probes = Seq(
      ("ck_band", Seq(("ck", 100L, 199L))),
      ("day_band", Seq(("dd", 365L, 729L))),
      ("box", Seq(("ck", 100L, 199L), ("dd", 365L, 729L))))
    val touched = (for {
      (layout, stats) <- Seq(("zorder", zstats), ("datesort", dstats))
      (pname, p) <- probes
    } yield Layout.filesTouched(stats, p)
      .select(lit(layout).as("layout"), lit(pname).as("probe"),
        col("files_touched"), col("files_total")))
      .reduce(_ unionAll _)
    // probe selectivity context in ONE corpus scan (layout-independent)
    val counts = base.agg(
      sum(when(col("ck").between(100, 199), 1L).otherwise(0L)).as("ck_band"),
      sum(when(col("dd").between(365, 729), 1L).otherwise(0L)).as("day_band"),
      sum(when(col("ck").between(100, 199) && col("dd").between(365, 729), 1L)
        .otherwise(0L)).as("box"))
      .select(expr(
        "stack(3, 'ck_band', ck_band, 'day_band', day_band, 'box', box) AS (probe, rows_in_probe)"))
    touched.join(broadcast(counts), "probe")
      .select(col("layout"), col("probe"), col("files_touched"),
        col("files_total"), col("rows_in_probe"))
      .orderBy("layout", "probe")
  }

  /** C99: per-source KS drift audit ([[graft.operators.Drift.ksDrift]]) —
    * every source's document-length distribution against the rest of the
    * corpus, as the exact per-mille two-sample Kolmogorov–Smirnov
    * distance plus the length at which the ECDFs diverge most. The
    * distribution-shift gate a corpus-maintenance job runs per snapshot:
    * "which domain's profile moved" with no doubles and no RNG. */
  def q179KsDrift(t: Tables): DataFrame = {
    graft.operators.Drift.ksDrift(t.documents, col("source"), col("n_chars"))
      .select(col("slice"), col("n_slice").cast("long").as("n_slice"),
        col("n_rest").cast("long").as("n_rest"),
        col("ks_pm").cast("long").as("ks_pm"),
        col("ks_at_value").cast("long").as("ks_at_value"))
      .orderBy("slice")
  }

  /** C151: POPULATION STABILITY INDEX ([[graft.operators.Drift.psi]]) —
    * the binned drift scalar next to C99's KS: the English corpus as the
    * reference population, everything else as current, over the
    * document-length distribution in 10 equi-width bins. Laplace +1
    * smoothing, exact ppm shares, q10 fixed-point binary log — integer
    * end-to-end, per-bin terms plus the repeated total. */
  def q234Psi(t: Tables): DataFrame =
    graft.operators.Drift.psi(t.documents, col("lang") === "en",
        col("n_chars"), bins = 10)
      .orderBy("bin")

  /** C152: token CO-OCCURRENCE LIFT
    * ([[graft.operators.TextAnalysis.cooccurrenceLift]]) — collocation
    * mining over the corpus: the top unordered token pairs by exact
    * integer lift (PMI's argument — log-free ranking, the C143 trick)
    * within a 5-token window, floor of 5 co-occurrences. */
  def q235CoocLift(t: Tables): DataFrame =
    graft.operators.TextAnalysis.cooccurrenceLift(t.documents,
      window = 5, minPair = 5L, topK = 30)

  /** C155: MAXIMUM-SPANNING co-purchase BACKBONE
    * ([[graft.operators.Graph.minimumSpanningForest]] on negated
    * weights) — the strongest-links skeleton of the part co-purchase
    * graph (single-linkage clustering's dendrogram edges): distributed
    * Borůvka under the strict (w, a, b) total order, so the forest is
    * unique and both engines land on the identical edge set. */
  def q239MsfBackbone(t: Tables): DataFrame = {
    val e = copurchasePairCounts(t).withColumnRenamed("w", "cw")
      .filter(col("cw") >= 2)
    graft.operators.Graph.minimumSpanningForest(
        e.select(col("src"), col("dst"), (-col("cw")).as("w")))
      .select(col("a").as("part_a"), col("b").as("part_b"),
        (-col("w")).as("copurchases"))
      .orderBy("part_a", "part_b")
  }

  /** C158: SINGLE-LINKAGE k-clustering
    * ([[graft.operators.Graph.singleLinkage]]) — the dendrogram cut the
    * q239 forest enables: remove the 25 WEAKEST co-purchase backbone
    * links (the largest negated weights, the exact dendrogram-cut
    * equivalence) and read the clusters as components. Sizes of the 15
    * largest clusters plus the cluster count. */
  def q242SingleLinkage(t: Tables): DataFrame = {
    val e = copurchasePairCounts(t).withColumnRenamed("w", "cw")
      .filter(col("cw") >= 2)
    val cl = graft.operators.Graph.singleLinkage(
      e.select(col("src"), col("dst"), (-col("cw")).as("w")), cuts = 25)
    val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("n_nodes"))
    val total = sizes.agg(count(lit(1)).as("n_clusters"))
    sizes.crossJoin(broadcast(total))
      .orderBy(col("n_nodes").desc, col("cluster").asc)
      .limit(15)
      .select("cluster", "n_nodes", "n_clusters")
  }

  /** C159: ROUGE-N overlap scoring
    * ([[graft.operators.TextAnalysis.rougeN]]) — adjacent-doc pairs
    * (odd doc_id = candidate, its predecessor = reference) scored at
    * n = 1 and n = 2 with clipped matches, micro-averaged per source:
    * the evaluation primitive of generation pipelines as one query. */
  def q243Rouge(t: Tables): DataFrame = {
    val c = t.documents.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("pair_id"), col("source"), col("text").as("cand"))
    val r = t.documents.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1).as("pair_id"), col("text").as("ref"))
    val pairs = c.join(r, "pair_id")
    def micro(n: Int) =
      graft.operators.TextAnalysis.rougeN(pairs, n, "pair_id", "cand", "ref")
        .join(pairs.select(col("pair_id").as("id"), col("source")), "id")
        .groupBy("source").agg(
          count(lit(1)).as("n_pairs"),
          sum("n_match").as("m_total"),
          sum("n_cand").as("cand_total"),
          sum("n_ref").as("ref_total"))
        .select(col("source"), lit(n.toLong).as("n"), col("n_pairs"),
          col("m_total"), col("cand_total"), col("ref_total"),
          when(col("cand_total") > 0,
            expr("1000000 * m_total div cand_total")).as("p_ppm"),
          when(col("ref_total") > 0,
            expr("1000000 * m_total div ref_total")).as("r_ppm"),
          when(col("cand_total") + col("ref_total") > 0,
            expr("2000000 * m_total div (cand_total + ref_total)")).as("f1_ppm"))
    micro(1).unionByName(micro(2)).orderBy("source", "n")
  }

  /** C153: TEXTRANK keywords
    * ([[graft.operators.TextAnalysis.textRankKeywords]]) — graph-based
    * keyword extraction over the corpus: PageRank on the 3-token-window
    * co-occurrence graph (count ≥ 2 edges), exact integer fixed point,
    * top-30 tokens. */
  def q238TextRank(t: Tables): DataFrame =
    graft.operators.TextAnalysis.textRankKeywords(t.documents,
      window = 3, minCount = 2L, iters = 6, topK = 30)

  /** C154: WEIGHT-OF-EVIDENCE + INFORMATION VALUE
    * ([[graft.operators.Dependence.woeIv]]) — does the `source` feature
    * separate English from non-English documents? The credit-scoring
    * feature audit beside C151's PSI: per-category WOE in q10 bits,
    * the IV total in q10·ppm, Laplace-smoothed, integer end-to-end. */
  def q237WoeIv(t: Tables): DataFrame =
    graft.operators.Dependence.woeIv(t.documents,
        col("source"), col("lang") === "en")
      .orderBy("category")

  /** C101: PERSONALIZED PageRank ([[graft.operators.Rank
    * .personalizedPageRank]]) — the walk restarts at the ten
    * highest-volume customers (order count, custkey tie-break — integer
    * ordering so both engines pick identical seeds), ranking the
    * supplier/customer neighborhood those seeds actually reach: the
    * seed-expansion computation of topic-focused web curation, on the
    * symmetrized purchase graph. Exact fixed-point with 1-unit total
    * mass; top-100 with the total (rank, side, id) order. */
  def q181PersonalizedPagerank(t: Tables): DataFrame = {
    graft.operators.Rank.personalizedPageRank(
      purchaseEdges(t, symmetrized = true), purchaseSeeds(t))
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("side"),
        expr("node div 2").as("id"), col("r").as("rank_fx"))
      .orderBy(col("rank_fx").desc, col("side"), col("id"))
      .limit(100)
  }

  /** C102: HITS hubs & authorities ([[graft.operators.Rank.hits]]) on the
    * one-directional purchase graph — customers are pure hubs ("buys
    * broadly from important suppliers"), suppliers pure authorities
    * ("bought by important customers"): the Kleinberg duality read
    * directly off the bipartite structure, complementing PageRank's
    * single centrality. Exact integer power iteration (10⁴ renorm per
    * side per round); top-100 by score with a total order. */
  def q182Hits(t: Tables): DataFrame = {
    graft.operators.Rank.hits(purchaseEdges(t, symmetrized = false))
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("side"),
        expr("node div 2").as("id"), col("hub_fx"), col("auth_fx"),
        greatest(col("hub_fx"), col("auth_fx")).as("score_fx"))
      .orderBy(col("score_fx").desc, col("side"), col("id"))
      .limit(100)
  }

  /** C103: seed-distance DEPTH profile ([[graft.operators.Rank
    * .seedDistance]]) — hop count from the ten PPR seed customers across
    * the symmetrized purchase graph, reported as the per-(side, hops)
    * histogram plus the unreached remainder: the crawl-depth prior
    * ("how far from the trusted frontier") as a corpus-level audit. */
  def q183SeedDistance(t: Tables): DataFrame = {
    val ed = purchaseEdges(t, symmetrized = true)
    val seeds = purchaseSeeds(t)
    // includeUnreached derives the node set from seedDistance's OWN
    // checkpointed edge frame — the r9 shape's outer distinct re-ran the
    // whole lineitem⋈orders aggregation a second time
    graft.operators.Rank.seedDistance(ed, seeds, maxHops = 4,
        includeUnreached = true)
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier").as("side"),
        coalesce(col("d"), lit(-1L)).as("hops"))
      .groupBy("side", "hops").agg(count(lit(1)).as("n_nodes"))
      .orderBy("side", "hops")
  }

  /** C104: COMPACTION plan over the q178 Z-layout ([[graft.operators
    * .Layout.compactionPlan]]) — pack the 64-way clustered files into
    * ~2000-row rewrite groups in cluster-key order, so compaction heals
    * small files WITHOUT destroying z-locality; each group's predicted
    * post-rewrite min/max envelope ships with the plan. The second half
    * of the table-maintenance pair (cluster, then compact). */
  def q184CompactionPlan(t: Tables): DataFrame = {
    import graft.operators.Layout
    val base = t.orders.select(
      (col("o_custkey") % 65536).cast("long").as("ck"),
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
        .cast("long").as("dd"))
    val stats = Layout.fileStats(
      Layout.assignFiles(base, Layout.zOrderKey(Seq(col("ck"), col("dd"))), 64),
      Seq("ck", "dd"))
    Layout.compactionPlan(stats, targetRows = 2000, Seq("ck", "dd"))
  }

  /** C105: layout DECAY audit — the "when to re-OPTIMIZE" signal: the
    * historical half of orders is z-clustered (the last OPTIMIZE), the
    * recent half lands as time-ordered APPEND files (how ingestion
    * actually writes), and the same box probe is priced in three states —
    * clustered-only, with appends, and after re-clustering everything.
    * The decay (extra files touched per probe) is what a maintenance
    * scheduler thresholds on. Pure composition of the C98 pieces, exact. */
  def q185LayoutDecay(t: Tables): DataFrame = {
    import graft.operators.Layout
    val base = t.orders.select(
      (col("o_custkey") % 65536).cast("long").as("ck"),
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
        .cast("long").as("dd"))
    val split = 1800L // clustered history vs fresh appends
    val hist = base.filter(col("dd") < split)
    val fresh = base.filter(col("dd") >= split)
    val zkey = Layout.zOrderKey(Seq(col("ck"), col("dd")))
    val histStats = Layout.fileStats(Layout.assignFiles(hist, zkey, 48), Seq("ck", "dd"))
    // appends arrive time-ordered: small files cut by ingestion day window
    val freshStats = Layout.fileStats(
      fresh.withColumn("__file", expr("1000 + (dd - 1800) div 32")), Seq("ck", "dd"))
    val decayed = histStats.unionByName(freshStats)
    val reclustered = Layout.fileStats(Layout.assignFiles(base, zkey, 64), Seq("ck", "dd"))
    val probes = Seq(
      ("ck_band", Seq(("ck", 100L, 199L))),
      ("box_hist", Seq(("ck", 100L, 199L), ("dd", 365L, 729L))),
      ("box_fresh", Seq(("ck", 100L, 199L), ("dd", 1900L, 2100L))))
    (for {
      (state, stats) <- Seq(("clustered", histStats), ("with_appends", decayed),
        ("reclustered", reclustered))
      (pname, p) <- probes
    } yield Layout.filesTouched(stats, p)
      .select(lit(state).as("layout_state"), lit(pname).as("probe"),
        col("files_touched"), col("files_total")))
      .reduce(_ unionAll _)
      .orderBy("layout_state", "probe")
  }

  /** C106: layout ADVISOR — which clustering to rewrite with, decided
    * from the probe workload itself: price every candidate layout
    * (single-dim sorts and the 2-D Morton interleave, plus a
    * price-band dimension) against the workload's probes and report
    * total files touched per candidate — the evidence row a maintenance
    * job attaches to its OPTIMIZE proposal. Completes the suite:
    * audit (q178) → advisor (q186) → compaction plan (q184) → decay
    * re-trigger (q185). Exact composition of the C98 pieces via
    * [[graft.operators.Layout.advise]] — this gate prices candidates
    * on the FULL frame (k re-cluster passes, correct but 100×-hostile);
    * the production path is [[graft.operators.Layout.adviseSampled]],
    * whose verdict LayoutSpec proves equal on deterministic 1–10%
    * hash samples. */
  def q186LayoutAdvisor(t: Tables): DataFrame = {
    import graft.operators.Layout
    val base = t.orders.select(
      (col("o_custkey") % 65536).cast("long").as("ck"),
      datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
        .cast("long").as("dd"),
      // integer-cents band (the q95 recipe): exact on both engines
      expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 100000")
        .as("pb"))
    val dims = Seq("ck", "dd", "pb")
    val candidates: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("sort_ck" -> col("ck")),
      ("sort_dd" -> col("dd")),
      ("z_ck_dd" -> Layout.zOrderKey(Seq(col("ck"), col("dd")))),
      ("z_ck_pb" -> Layout.zOrderKey(Seq(col("ck"), col("pb")))),
      ("z_dd_pb" -> Layout.zOrderKey(Seq(col("dd"), col("pb")))))
    val workload = Seq(
      Seq(("ck", 100L, 199L)),
      Seq(("dd", 365L, 729L)),
      Seq(("ck", 100L, 199L), ("dd", 365L, 729L)),
      Seq(("pb", 100L, 150L)),
      Seq(("ck", 100L, 199L), ("pb", 100L, 150L)))
    Layout.advise(base, dims, candidates, workload, files = 64)
  }

  /** Co-purchase PAIR COUNTS — the one per-order pair expansion every
    * co-purchase query shape (q188/q189/q217/q239/q242/…) derives its
    * edges from: unordered part pairs appearing in the SAME order, with
    * how many orders repeat them. The expansion runs through the
    * ENFORCED group cap ([[graft.operators.Pairs.capGroups]], 1024):
    * order size is ≤ 7 lineitems in TPC-H at every SF (the refusal
    * ledger is provably zero here — `PairExpansionGateSpec` pins the
    * cap's behavior on planted mega-groups), but an unbounded
    * real-world order stream cannot quadratically blow up the join;
    * quantify any refusal with the [[graft.operators.Pairs.capGroups]]
    * ledger on the same frame. */
  private def copurchasePairCounts(t: Tables): DataFrame = {
    val p0 = t.lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
      .distinct()
    val (p, _) = graft.operators.Pairs.capGroups(p0, "o", 1024L)
    p.as("a").join(p.as("b"),
        col("a.o") === col("b.o") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** The PART CO-PURCHASE graph shared by q188/q189: parts appearing in
    * the SAME order, kept when the pairing repeats (`w ≥ minW`) — the
    * co-occurrence backbone corpus curation clusters on (co-cited pages,
    * co-bought items). [[copurchasePairCounts]]' capped expansion; the
    * repeat filter makes the result sparse. */
  private def copurchaseEdges(t: Tables, minW: Long): DataFrame =
    copurchasePairCounts(t).filter(col("w") >= minW).select("src", "dst")

  /** C107: BUTTERFLY count ([[graft.operators.Graph.butterflies]]) on the
    * full customer×supplier purchase graph — the bipartite cohesion
    * measure (2×2 bicliques): how much co-purchasing structure the graph
    * carries beyond star shapes. Pivoted on the CUSTOMER side (the
    * many-low-degree side — its Σ C(deg,2) wedge volume is orders of
    * magnitude below the supplier side's, the vertex-priority rule).
    * One-row exact integer summary, including the enforced hub-cap
    * ledger (capped pivots / dropped wedges — zero here certifies
    * exactness; the oracle mirrors the cap rule, so the ledger columns
    * are gated too, not decorative). */
  def q187Butterflies(t: Tables): DataFrame = {
    val e = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
    graft.operators.Graph.butterflies(e, maxPivotDegree = 8192L)
      .select(col("n_src").as("n_customers"), col("n_dst").as("n_suppliers"),
        col("n_edges"), col("n_wedges"), col("n_butterflies"),
        col("n_pivots_capped"), col("n_wedges_dropped"))
  }

  /** C108: CONNECTED COMPONENTS ([[graft.operators.Graph.components]])
    * over the repeat co-purchase part graph — co-occurrence cluster
    * discovery, the graph face of dedup clustering (mirror-site groups
    * in web curation). Min-label propagation with pointer doubling,
    * component id = min part key; top-10 components by size with the
    * total component count riding every row. */
  def q188Components(t: Tables): DataFrame = {
    val comp = graft.operators.Graph.components(copurchaseEdges(t, 2))
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
    val total = sizes.agg(count(lit(1)).as("n_components"))
    sizes.crossJoin(broadcast(total))
      .orderBy(col("n_nodes").desc, col("comp").asc)
      .limit(10)
      .select("comp", "n_nodes", "n_components")
  }

  /** C109: K-CORE ([[graft.operators.Graph.kCore]], k=3) of the repeat
    * co-purchase part graph — the dense interaction backbone (spam-farm
    * density in link graphs, consistently-co-bought assortments here):
    * every member keeps ≥3 in-core neighbors after peeling. One-row
    * summary; an empty core (as at sparse SFs) reports zeros — itself
    * the signal. */
  def q189KCore(t: Tables): DataFrame = {
    graft.operators.Graph.kCore(copurchaseEdges(t, 2), k = 3)
      .agg(
        count(lit(1)).as("n_core_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("sum_deg"),
        coalesce(min(col("deg")), lit(0L)).as("min_deg"),
        coalesce(max(col("deg")), lit(0L)).as("max_deg"))
      .select(col("n_core_nodes"), expr("sum_deg div 2").as("n_core_edges"),
        col("min_deg"), col("max_deg"))
  }

  /** C110: TRIANGLE count + global clustering coefficient
    * ([[graft.operators.Graph.triangles]]) of the repeat co-purchase
    * part graph — how much of the co-occurrence structure closes into
    * cliques vs stays star-shaped; the unipartite complement of q187's
    * bipartite butterflies. One-row exact integer summary. */
  def q190Triangles(t: Tables): DataFrame =
    graft.operators.Graph.triangles(copurchaseEdges(t, 2))

  /** C111: neighborhood JACCARD similarity join
    * ([[graft.operators.Graph.neighborhoodJaccard]]) — "parts bought
    * alongside the same parts": exact per-mille neighborhood overlap on
    * the repeat co-purchase backbone, threshold 200‰, top-20 with a
    * total (j_pm desc, a, b) order — the related-item discovery a
    * curation pipeline runs on co-occurrence graphs. */
  def q191NeighborhoodJaccard(t: Tables): DataFrame =
    graft.operators.Graph.neighborhoodJaccard(copurchaseEdges(t, 2), minJPm = 200)
      .orderBy(col("j_pm").desc, col("a").asc, col("b").asc)
      .limit(20)

  /** C112: L-DIVERSITY audit — the attribute-disclosure complement of
    * q160's k-anonymity: within each quasi-identifier class (nation ×
    * market segment), how many DISTINCT sensitive values (account-balance
    * band) appear; an l=1 class leaks its members' sensitive value to
    * anyone who can place them in the class, even when k is large. Per-l
    * histogram with each bucket's per-mille share of rows — two bounded
    * aggregations + a 1-row broadcast total, the q160 shape. */
  def q192LDiversity(t: Tables): DataFrame = {
    val classes = t.customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(countDistinct(col("bal_band")).as("l"), count(lit(1)).as("n_rows"))
    val buckets = classes.groupBy("l").agg(
      count(lit(1)).as("n_classes"),
      sum(col("n_rows")).as("n_rows"))
    val total = classes.agg(sum(col("n_rows")).as("n_total"))
    buckets.crossJoin(broadcast(total))
      .select(col("l"), col("n_classes"), col("n_rows"),
        expr("1000 * n_rows div n_total").as("rows_pm"))
      .orderBy("l")
  }

  /** C113: degree ASSORTATIVITY of the purchase bipartite graph — do
    * high-degree customers buy from high-degree suppliers? The classic
    * link-graph health scalar (disassortative graphs are hub-dominated —
    * exactly the shape crawl frontiers degrade into), as Pearson
    * correlation over the edge list's endpoint degrees: exact integer
    * power sums (the q112 discipline — degrees are bounded longs, the
    * sums never see a double), ONE final double formula so both engines
    * compute the identical IEEE result. */
  def q193Assortativity(t: Tables): DataFrame = {
    // referenced by dc, ds AND the join — materialize the purchase
    // aggregation once per run
    val ed = purchaseEdges(t, symmetrized = false).select("src", "dst")
      .cut()
    val dc = ed.groupBy("src").agg(count(lit(1)).as("x"))
    val ds = ed.groupBy("dst").agg(count(lit(1)).as("y"))
    ed.join(dc, "src").join(ds, "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_edges"),
        expr("""(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) /
               (sqrt(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) *
                sqrt(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))""")
          .as("assortativity"))
  }

  /** C84: k-anonymity audit — the re-identification-risk gate that belongs
    * next to C14's PII redaction: before any row leaves the warehouse,
    * group by the quasi-identifier tuple (nation, segment, account-balance
    * band), measure every equivalence class's size k, and report the
    * k-bucket histogram with each bucket's per-mille share of ROWS (the
    * k=1 bucket is the population a linkage attacker singles out). Two
    * bounded aggregations — class sizes then a ≤4-row bucket frame — plus
    * a 1-row broadcast total; nothing here is row-count-bounded. */
  def q160KAnonymity(t: Tables): DataFrame = {
    val classes = t.customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("k"))
    val buckets = classes
      .withColumn("k_bucket",
        when(col("k") === 1, "k=1")
          .when(col("k") < 5, "k=2-4")
          .when(col("k") < 10, "k=5-9")
          .otherwise("k>=10"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
    val total = t.customer.agg(count(lit(1)).as("__tot"))
    buckets.crossJoin(broadcast(total))
      .select(col("k_bucket"), col("n_classes"), col("n_rows"),
        expr("n_rows * 1000 div __tot").as("share_permille"))
      .orderBy("k_bucket")
  }

  /** C114: t-CLOSENESS audit (operators/Privacy) — the third leg of the
    * privacy trio over the SAME quasi-identifier design as q160/q192
    * (nation × segment classes, banded account balance as the ordered
    * sensitive attribute): per class, the per-mille ordered EMD between
    * the class's balance-band distribution and the corpus's — the
    * distributional leak k-anonymity and l-diversity both miss. Exact
    * integer arithmetic end-to-end (cumulated-count cross products,
    * DECIMAL(38,0) final division), so the oracle replays bit-for-bit.
    * Worst classes first. */
  def q194TCloseness(t: Tables): DataFrame = {
    val base = t.customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
    graft.operators.Privacy
      .tCloseness(base, Seq("c_nationkey", "c_mktsegment"), col("bal_band"))
      .orderBy(col("t_pm").desc, col("c_nationkey"), col("c_mktsegment"))
  }

  /** C115: CUSUM changepoint detection (operators/Changepoint) — WHEN
    * each order-priority lane's daily volume shifted: the time-localized
    * complement of the distribution drift tests (q179 KS says "moved",
    * CUSUM says "moved HERE"). Daily order counts per priority, the
    * mean-referenced cumulated walk in exact ×n integer scaling, peak
    * upward/downward excursions per-mille of total mass with the dates
    * attaining them. */
  def q195Cusum(t: Tables): DataFrame =
    graft.operators.Changepoint
      .cusum(t.orders.groupBy(col("o_orderpriority"), col("o_orderdate"))
          .agg(count(lit(1)).as("x")),
        col("o_orderpriority"), col("o_orderdate"), col("x"))
      .orderBy("series")

  /** C116: K-TRUSS backbone ([[graft.operators.Graph.kTruss]]) of the
    * repeat co-purchase part graph — the edge-cohesion completion of the
    * q187-q191 suite: q189's 3-core keeps every node with ≥3 neighbors
    * (stars included); the 3-truss keeps only edges sitting in a
    * triangle AFTER the peel cascades — the community backbone with
    * star/spam structure peeled off (on this sparse repeat-co-purchase
    * graph the cascade is sharp: 3445 → 181 edges at sf0.01; the
    * 4-truss is empty, so k=3 is the informative cut). One-row exact
    * integer summary like q189's. */
  def q196KTruss(t: Tables): DataFrame = {
    val truss = graft.operators.Graph.kTruss(copurchaseEdges(t, 2), k = 3)
    truss.select(col("a").as("node")).unionAll(truss.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(count(lit(1)).as("n_truss_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("sum_deg"),
        coalesce(max(col("deg")), lit(0L)).as("max_deg"))
      .select(expr("sum_deg div 2").as("n_truss_edges"),
        col("n_truss_nodes"), col("max_deg"))
  }

  /** C117: SEASONAL-DECOMPOSITION anomalies (operators/Seasonal) — the
    * periodic-series complement of q195's CUSUM: daily order volume
    * carries a day-of-week pattern, so raw deviations mislabel every
    * quiet Sunday; the classical additive decomposition removes the
    * centered-MA trend and the per-weekday seasonal index, and the ten
    * largest |residuals| are the days that were genuinely unusual.
    * Exact ×7-scaled integer arithmetic throughout; phase anchored at
    * 1992-01-01 so both engines share the weekday convention. */
  def q197SeasonalAnomalies(t: Tables): DataFrame = {
    val daily = t.orders.groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("x"))
    graft.operators.Seasonal.decompose(daily, col("d"), col("x"),
        (datediff(col("d"), lit("1992-01-01").cast("date")) % 7).cast("long"),
        period = 7)
      .orderBy(abs(col("resid")).desc, col("t").asc)
      .limit(10)
      .select(col("t").as("d"), col("x"), col("phase"), col("trend_num"),
        col("seasonal_fx"), col("resid"))
  }

  /** C118: RECORD-LINKAGE scoring (operators/Linkage) — identity
    * resolution over the customer table: block on (nation, balance
    * band), score candidate pairs by weighted agreement on segment and
    * two name-digit fields (the testdata customer schema carries no
    * phone/address columns — the digits stand in for the fuzzy fields
    * a real CRM feed has, with realistic 1-in-10 agreement odds),
    * classify at the Fellegi-Sunter thresholds. Top-200 under a total
    * (score, id, id) order so both engines cut the same boundary. */
  def q198RecordLinkage(t: Tables): DataFrame = {
    val fields = Seq(
      (col("c_mktsegment"), 25L, -12L),
      (expr("substring(c_name, length(c_name), 1)"), 20L, -10L),
      (expr("substring(c_name, length(c_name) - 1, 1)"), 15L, -8L))
    graft.operators.Linkage.scorePairs(t.customer, col("c_custkey"),
        Seq(col("c_nationkey"), floor(col("c_acctbal") / lit(1000.0)).cast("long")),
        fields, upper = 50L, lower = 20L)
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(200)
  }

  /** C119: GOLDEN-RECORD selection — the identity-resolution endgame
    * composing q198's linkage with C26's cluster closure: match-grade
    * pairs (score ≥ upper only) link records into entities via
    * connected components, and each entity keeps one golden record
    * (highest balance, min-id ties) — the survivorship step a reverse-
    * ETL "merge duplicate contacts" sync runs before any upsert. Per
    * entity: member count, the golden id, its balance. */
  def q199GoldenRecord(t: Tables): DataFrame = {
    val fields = Seq(
      (col("c_mktsegment"), 25L, -12L),
      (expr("substring(c_name, length(c_name), 1)"), 20L, -10L),
      (expr("substring(c_name, length(c_name) - 1, 1)"), 15L, -8L))
    val matches = graft.operators.Linkage.scorePairs(t.customer, col("c_custkey"),
        Seq(col("c_nationkey"), floor(col("c_acctbal") / lit(1000.0)).cast("long")),
        fields, upper = 50L, lower = 50L) // match-grade links only
    val clusters = Dedup.resolveClusters(matches, "id_a", "id_b")
      .select(col("doc_id").as("c_custkey"), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    clusters.join(t.customer, "c_custkey")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("c_custkey"))).as("golden_custkey"),
        max(when(col("rn") === 1, col("c_acctbal"))).as("golden_acctbal"))
      .orderBy(col("n_members").desc, col("cluster_id").asc)
  }

  /** C120: BENFORD's-law audit (operators/Audits) — the classic
    * first-digit fraud/data-quality screen on money columns, per
    * order-priority slice: naturally-grown magnitudes follow
    * log10(1+1/d); a capped, fabricated, or unit-mangled feed doesn't.
    * Money → exact cents (decimal), digit = integer string head,
    * per-mille TVD vs the shared literal expectation. */
  def q200Benford(t: Tables): DataFrame =
    graft.operators.Audits.benford(
        t.orders.select(col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents")),
        col("o_orderpriority"), col("cents"))
      .orderBy("slice")

  /** C121: GINI concentration (operators/Audits) — the dataset-card
    * concentration scalar next to the Zipf profile (C85 shows the
    * token distribution's SHAPE; Gini compresses "how much of this
    * source's mass sits in few domains" to one comparable per-mille
    * number). Units = documents (per-doc token mass); exact integer
    * sorted-rank formula. */
  def q201Gini(t: Tables): DataFrame = {
    val units = t.documents.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("mass"))
    graft.operators.Audits.gini(units, col("source"), col("mass"))
      .orderBy("slice")
  }

  /** C122: per-node LOCAL clustering coefficient
    * ([[graft.operators.Graph.localClustering]]) on the repeat
    * co-purchase part graph — the node-level discrimination q190's
    * global coefficient averages away: near-clique members (LCC→1000)
    * vs fan-out hubs (LCC→0). Top-20 by (lcc_pm, tri, node) among
    * nodes with ≥3 neighbors, total order. */
  def q202LocalClustering(t: Tables): DataFrame =
    graft.operators.Graph.localClustering(copurchaseEdges(t, 2), minDeg = 3)
      .orderBy(col("lcc_pm").desc, col("tri").desc, col("node").asc)
      .limit(20)

  /** C124: index-accelerated SUBSTRING search (operators/Search) —
    * "find every document containing THIS literal" via the pattern's
    * character-8-gram prefilter + exact verify; the result contract is
    * strict equality with the full-scan contains, which the oracle
    * pins directly. */
  def q203SubstringSearch(t: Tables): DataFrame =
    graft.operators.Search.substringSearch(t.documents,
        col("doc_id"), col("text"), "table scan")
      .orderBy("doc_id")

  /** C125: EXACT set-similarity self-join with prefix filtering
    * ([[graft.operators.Dedup.exactJaccardJoin]]) — the exact-threshold
    * complement of the MinHash near-dup family: EVERY document pair with
    * shingle-set Jaccard ≥ 0.5, no false negatives, generated from a
    * rare-first prefix equi-join instead of all-pairs. The oracle is the
    * BRUTE-FORCE join — the gate proves the filter theorem holds on real
    * data (prefix pruning loses nothing, adds nothing). */
  def q205ExactJaccard(t: Tables): DataFrame =
    graft.operators.Dedup.exactJaccardJoin(t.documents, minJPm = 500L)
      .orderBy("doc_a", "doc_b")

  /** C126: BM25 ranked retrieval ([[graft.operators.Search.bm25TopK]]) —
    * the scored companion to C124's exact lookup: top-10 documents per
    * query under exact-integer Okapi BM25 (q10 fixed-point log2 idf,
    * per-mille tf saturation/length norm — bit-stable across engines).
    * Four literal queries over the corpus vocabulary; one has an
    * out-of-vocabulary term (matches nothing, contributes nothing). */
  /** C156: DIRICHLET query-likelihood retrieval
    * ([[graft.operators.Search.dirichletQlTopK]]) — the language-
    * modeling ranking beside q206's BM25, same query set, μ = 2000:
    * candidates score on EVERY query term (missing terms take the
    * collection prior), exact negative q10-bit log-probabilities. */
  def q240DirichletQl(t: Tables): DataFrame =
    graft.operators.Search.dirichletQlTopK(t.documents, Seq(
        1 -> "spark join agg",
        2 -> "slow scan table",
        3 -> "hash merge sort window batch",
        4 -> "vector stream quantum"), k = 10)
      .orderBy("query_id", "rank")

  def q206Bm25(t: Tables): DataFrame =
    graft.operators.Search.bm25TopK(t.documents, Seq(
        1 -> "spark join agg",
        2 -> "slow scan table",
        3 -> "hash merge sort window batch",
        4 -> "vector stream quantum"), k = 10)
      .orderBy("query_id", "rank")

  /** C127: KMV bottom-k distinct sketches + pairwise set-operation
    * estimates ([[graft.operators.Sketches.kmvSketches]]/`kmvPairs`) —
    * per-source 3-shingle vocabulary sketches (k=256), then for every
    * source pair the union/Jaccard/intersection estimates read from the
    * sketches alone (the "how much does crawl A overlap crawl B"
    * audit HLL cannot answer). Exact integer end-to-end: the oracle
    * replays the unsigned-xxhash order, bottom-k cut, and estimator
    * divisions value-for-value. */
  def q207KmvSketch(t: Tables): DataFrame = {
    val sh = t.documents.select(col("source"), split(col("text"), " ").as("__ws"))
      .filter(size(col("__ws")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(__ws) - 3), i -> concat_ws(' ', slice(__ws, i + 1, 3)))"))
        .as("shingle"))
    val sk = graft.operators.Sketches.kmvSketches(sh, "source", "shingle", k = 256)
    graft.operators.Sketches.kmvPairs(sk, k = 256).orderBy("sa", "sb")
  }

  /** C128: label-propagation communities
    * ([[graft.operators.Graph.labelPropagation]], 6 deterministic
    * synchronous rounds, closed-neighborhood majority, min-label ties)
    * on the repeat co-purchase part graph — the community view next to
    * q188's components (connectivity) and q189/q196's density cuts:
    * which assortment CLUSTER each part belongs to. Top-15 communities
    * by (size, id) under a total order, with the community count. */
  def q208LabelProp(t: Tables): DataFrame = {
    val com = graft.operators.Graph.labelPropagation(copurchaseEdges(t, 2), rounds = 6)
    val sizes = com.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val total = sizes.agg(count(lit(1)).as("n_communities"))
    sizes.crossJoin(broadcast(total))
      .orderBy(col("n_nodes").desc, col("community").asc)
      .limit(15)
      .select("community", "n_nodes", "n_communities")
  }

  /** C150: hash-determinized Poisson-bootstrap CI
    * ([[graft.operators.Bootstrap.bootstrapCi]], R = 48) — the standard
    * error every dataset-card mean in this catalog lacked: mean doc
    * length ± bootstrap CI, weights from the fixed quantized Poisson(1)
    * CDF over unsigned xx so both engines land on identical
    * replicates. */
  def q233BootstrapCi(t: Tables): DataFrame =
    graft.operators.Bootstrap.bootstrapCi(t.documents,
      col("doc_id"), col("n_chars"), replicates = 48)

  /** C149: HRW reshard-movement audit
    * ([[graft.operators.Sharding.reshardAudit]]) — growing 8 → 9
    * shards under rendezvous hashing: the (from, to) movement matrix
    * proving only ~1/9 of keys move, all of them INTO the new shard
    * (mod-N would relocate ~8/9 of everything). Unsigned-xx argmax,
    * smallest-id ties, exact ppm shares. */
  def q232ReshardAudit(t: Tables): DataFrame =
    graft.operators.Sharding.reshardAudit(t.documents, col("doc_id"), n = 8, m = 9)
      .orderBy("shard_from", "shard_to")

  /** C147: exact tie-aware ROC-AUC ([[graft.operators.Evaluation.rocAuc]])
    * — the threshold-free ranking-quality scalar over the embedding
    * corpus: does dimension 1 (quantized to ppm, trunc-toward-zero both
    * engines) rank label-0 rows above the rest? Mann–Whitney U on the
    * distinct-score frame — no pair join, no per-row global rank. */
  def q228RocAuc(t: Tables): DataFrame =
    graft.operators.Evaluation.rocAuc(
      t.embeddings.select((col("label") === 0).as("y"),
        (element_at(col("embedding"), 1).cast("double") * 1000000)
          .cast("long").as("score")),
      col("y"), col("score"))

  /** C143: Pareto-front multi-objective selection
    * ([[graft.operators.Sampling.paretoFront]]) — the efficient
    * frontier over two genuinely conflicting document signals (length
    * vs lexical diversity: longer docs repeat more): the docs no other
    * doc beats on both axes, i.e. the set a curation policy trades
    * along. Exact integers (diversity in per-mille), two-level
    * distinct-x kernel, brute-force domination oracle. */
  def q223ParetoFront(t: Tables): DataFrame = {
    val scored = t.documents
      .withColumn("__nt", size(split(col("text"), " ")).cast("long"))
      .withColumn("__nd", size(array_distinct(split(col("text"), " "))).cast("long"))
      .withColumn("div_pm", expr("1000 * __nd div __nt"))
    graft.operators.Sampling.paretoFront(scored, col("n_chars"), col("div_pm"))
      .select(col("doc_id"), col("__x").as("x"), col("__y").as("y"))
      .orderBy("doc_id")
  }

  /** C142: per-feature mutual information vs the label
    * ([[graft.operators.Dependence.mutualInfo]]) — the leakage/feature-
    * relevance profile: for each of the first 8 embedding dimensions,
    * I(sign(dim); label) in exact q10 bits with min-entropy
    * normalization — "which dimensions carry label signal" before
    * anyone trains on a leaked column. One stacked pass, cell-frame
    * arithmetic. */
  def q222MutualInfo(t: Tables): DataFrame = {
    val stacked = t.embeddings
      .select(col("label"), posexplode(slice(col("embedding"), 1, 8)))
      .select((col("pos") + 1).cast("long").as("feature"),
        when(col("col") >= lit(0.0f), 1).otherwise(0).as("x"),
        col("label").as("y"))
    graft.operators.Dependence.mutualInfo(stacked,
        col("feature"), col("x"), col("y"))
      .orderBy("feature")
  }

  /** C141: chi-square contingency independence audit
    * ([[graft.operators.Dependence.chiSquare]]) — "is the language mix
    * independent of the source?" over the documents corpus: χ² and
    * Cramér's V² per-million in exact per-cell-truncating integers,
    * plus the worst (most dependence-carrying) lang×source cell. */
  def q221ChiSquare(t: Tables): DataFrame =
    graft.operators.Dependence.chiSquare(t.documents, col("lang"), col("source"))

  /** C140: winnowing fingerprints + shared-fingerprint pairs
    * ([[graft.operators.Dedup.winnowingPairs]], the MOSS algorithm) —
    * guaranteed-coverage local fingerprints: window-min character-gram
    * hashes (rightmost ties) so any shared substring ≥ k+w−1 chars
    * yields a shared fingerprint at ~2/(w+1) density; over-frequent
    * fingerprints (df > 200 — boilerplate) dropped before the pair
    * join per MOSS's own rule, mirrored in the oracle. Pairs sharing
    * ≥3 surviving fingerprints, total order. */
  def q220Winnowing(t: Tables): DataFrame =
    graft.operators.Dedup.winnowingPairs(t.documents, k = 8, w = 16, minShared = 3L)
      .orderBy(col("shared").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(30)

  /** C139: frequent-pair association rules
    * ([[graft.operators.Associations.pairRules]]) — market-basket
    * mining over order baskets: support/confidence/lift in exact
    * integers with apriori pruning before the pair join. Top-20 rules
    * by (lift, conf, antecedent, consequent) under a total order. */
  def q219AssociationRules(t: Tables): DataFrame = {
    val baskets = t.lineitem.select(col("l_orderkey").as("basket"),
      col("l_partkey").as("item"))
    graft.operators.Associations.pairRules(baskets, "basket", "item",
        minSupport = 3L, minConfPm = 0L)
      .orderBy(col("lift_pm").desc, col("conf_ppm").desc,
        col("antecedent").asc, col("consequent").asc)
      .limit(20)
  }

  /** C138: greedy k-center coreset selection
    * ([[graft.operators.Similarity.kCenterSelect]], Gonzalez
    * farthest-point traversal) — 6 coverage-driven picks over the
    * embedding corpus with the radius sequence (the 2-approximation
    * diagnostic of intrinsic corpus diversity). Exact ppm cosine
    * distances; every greedy round replays bit-for-bit. */
  def q218KCenter(t: Tables): DataFrame =
    graft.operators.Similarity.kCenterSelect(t.embeddings, k = 6)
      .orderBy("rank")

  /** C137: weighted shortest paths from seeds
    * ([[graft.operators.Rank.weightedSeedCost]], Bellman–Ford rounds) —
    * the cost-aware upgrade over q183's hop BFS on the co-purchase
    * graph: edge cost = 1000 div co-purchase count (strong ties are
    * cheap), seeds = the 3 smallest part ids, 8 relaxation rounds.
    * Cost-bucket histogram plus the per-bucket minimum as the
    * distribution fingerprint. */
  def q217WeightedCost(t: Tables): DataFrame = {
    val ew = copurchasePairCounts(t).withColumnRenamed("w", "cnt")
      .filter(col("cnt") >= 2)
      .withColumn("w", expr("1000 div cnt"))
    // symmetrize in ONE pass over the pair expansion (the union form
    // evaluated it once per branch) and materialize: the seed pick and
    // the operator both consume `und`
    val und = ew.select(explode(array(
        struct(col("src"), col("dst"), col("w")),
        struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"), col("__e.w").as("w"))
      .cut()
    val seeds = und.select(col("src").as("node")).distinct()
      .orderBy("node").limit(3)
    graft.operators.Rank.weightedSeedCost(und, seeds, rounds = 8)
      .groupBy(expr("cost div 100").as("cost_bucket"))
      .agg(count(lit(1)).as("n_nodes"), min("cost").as("min_cost"))
      .orderBy("cost_bucket")
  }

  /** C136: pseudo-relevance-feedback expanded BM25
    * ([[graft.operators.Search.prfExpandedBm25]]) — BM25 once, mine the
    * 3 highest Σtf·idf terms from each query's top-5 docs (originals
    * excluded), re-score with the weighted expanded query (1000‰ /
    * 400‰). Exact integers end-to-end; the oracle replays both passes
    * and the mining. */
  def q216PrfExpansion(t: Tables): DataFrame =
    graft.operators.Search.prfExpandedBm25(t.documents, Seq(
        1 -> "spark join agg", 2 -> "slow scan table"),
        f = 5, e = 3, lambdaPm = 400L, k = 10)
      .orderBy("query_id", "rank")

  /** C135: best-window SNIPPET extraction
    * ([[graft.operators.Search.bestSnippet]]) — for each query's BM25
    * top-3, the 8-token window maximizing summed matched-term idf
    * (ties earliest); exact q10 integers pick the identical window and
    * snippet string in both engines. */
  def q215BestSnippet(t: Tables): DataFrame =
    graft.operators.Search.bestSnippet(t.documents, Seq(
        1 -> "spark join agg", 2 -> "slow scan table"), w = 8, k = 3)
      .orderBy("query_id", "rank")

  /** C134: exact PHRASE search
    * ([[graft.operators.Search.phraseSearch]]) — tokens adjacent and in
    * order via the positional-index anchor aggregation; the contract is
    * strict equality with the direct sliding-window scan, which the
    * oracle IS. */
  def q214PhraseSearch(t: Tables): DataFrame =
    graft.operators.Search.phraseSearch(t.documents, "table scan")
      .orderBy("doc_id")

  /** C133: MMR diversified re-ranking
    * ([[graft.operators.Similarity.mmrRerank]]) — the anti-redundancy
    * pass after similarity retrieval: greedy
    * λ·sim(q,d) − (1−λ)·max-sim-to-selected over brute top-12
    * candidates, k=5 picks per query, every round exact integer ppm
    * both engines replay. */
  def q213MmrRerank(t: Tables): DataFrame =
    graft.operators.Similarity.mmrRerank(t.embeddings,
        t.embeddings.filter(col("vec_id").isin(1L, 2L, 3L)), m = 12, k = 5)
      .orderBy("query_id", "mmr_rank")

  /** C132: RRF hybrid retrieval ([[graft.operators.Search.rrfFuse]]) —
    * the standard lexical+vector combiner: BM25 top-20 (text queries)
    * fused with embedding brute-cosine top-20 (the corresponding query
    * vectors, vec_id = doc_id by the testdata contract) through exact
    * integer reciprocal-rank scores — no cross-system score
    * calibration, only ranks. Top-10 per query. */
  def q212RrfHybrid(t: Tables): DataFrame = {
    val bm = graft.operators.Search.bm25TopK(t.documents,
        Seq(1 -> "spark join agg", 2 -> "slow scan table"), k = 20)
      .select("query_id", "doc_id", "rank")
    val ann = graft.operators.Similarity.bruteForceTopK(
        t.embeddings, t.embeddings.filter(col("vec_id").isin(1L, 2L)), k = 20)
      .select(col("query_id").cast("int").as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Search.rrfFuse(Seq(bm, ann), k = 10)
      .orderBy("query_id", "rank")
  }

  /** C131: per-source unigram entropy + KL-vs-corpus
    * ([[graft.operators.Audits.entropyKl]]) — the information-theoretic
    * dataset-card pair next to Zipf/Gini/Benford: vocabulary DIVERSITY
    * per source (exact q10 bits via the fixed-point binary log) and
    * DISTANCE from the corpus mixture (per-term KL, quantization-exact
    * integers both engines replay). */
  def q211EntropyKl(t: Tables): DataFrame = {
    val toks = t.documents.select(col("source"),
      explode(split(col("text"), " ")).as("tok"))
    graft.operators.Audits.entropyKl(toks, col("source"), col("tok"))
      .orderBy("slice")
  }

  /** C160: per-source JENSEN–SHANNON divergence vs the rest
    * ([[graft.operators.Audits.jsDivergence]]) — the symmetric bounded
    * companion of q211's KL over the same unigram slicing: which
    * source's vocabulary distribution sits farthest from everything
    * else, in exact q10 bits (1024 = disjoint supports). */
  def q244JsDivergence(t: Tables): DataFrame = {
    val toks = t.documents.select(col("source"),
      explode(split(col("text"), " ")).as("tok"))
    graft.operators.Audits.jsDivergence(toks, col("source"), col("tok"))
      .orderBy("slice")
  }

  /** C130: Johnson–Lindenstrauss projection + distortion audit
    * ([[graft.operators.Similarity.jlProject]]/`jlDistortion`) — 64-dim
    * embeddings down to r=16 through the deterministic ±1 sign matrix,
    * then the measured lemma: per consecutive-id pair, the floored
    * per-mille squared-distance ratio. √16 = 4 is exact binary and all
    * folds are fixed-order doubles, so both engines produce identical
    * IEEE bits. */
  def q210JlProjection(t: Tables): DataFrame =
    graft.operators.Similarity.jlDistortion(t.embeddings, r = 16, dims = 64)
      .orderBy("id_a")

  /** C129: MODULARITY audit ([[graft.operators.Graph.modularity]]) of
    * the q208 LPA partition on the repeat co-purchase graph, against
    * the SINGLETON baseline (every node its own community — always
    * negative, −Σd² div 4m²): the quality scalar that says whether the
    * detected communities beat a degree-preserving random rewiring,
    * and by how much. Exact integer ppm, truncation toward zero. */
  /** C157: LOUVAIN move phase ([[graft.operators.Graph.louvainMove]],
    * 4 synchronized sweeps) on the q208 co-purchase graph, judged by
    * the same modularity scalar the LPA partition reports (q209):
    * community sizes for the 15 largest plus the q_ppm the partition
    * achieves — the "did optimization beat majority-following" row. */
  def q241Louvain(t: Tables): DataFrame = {
    // consumed by BOTH louvainMove and modularity — materialize the
    // expensive pair expansion once per run (the q209 discipline)
    val edges = copurchaseEdges(t, 2).cut()
    val com = graft.operators.Graph.louvainMove(edges, sweeps = 4)
    val q = graft.operators.Graph.modularity(edges, com)
      .select(col("n_communities"), col("q_ppm"))
    val sizes = com.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    sizes.crossJoin(broadcast(q))
      .orderBy(col("n_nodes").desc, col("community").asc)
      .limit(15)
      .select("community", "n_nodes", "n_communities", "q_ppm")
  }

  def q209Modularity(t: Tables): DataFrame = {
    // consumed by FOUR sub-computations (lpa, the node frame, modularity
    // ×2) — materialize the expensive pair expansion once per run
    val edges = copurchaseEdges(t, 2).cut()
    val lpa = graft.operators.Graph.labelPropagation(edges, rounds = 6)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val singleton = nodes.select(col("node"), col("node").as("community"))
    graft.operators.Graph.modularity(edges, lpa)
      .withColumn("partition", lit("lpa"))
      .unionByName(graft.operators.Graph.modularity(edges, singleton)
        .withColumn("partition", lit("singleton")))
      .select("partition", "n_communities", "m_edges", "q_ppm")
      .orderBy("partition")
  }

  /** C85: rank-frequency (Zipf) corpus profile — the dataset-card lens on
    * the raw token distribution (C51 counts tokens; this shows their
    * SHAPE). One term-count aggregation, then everything happens on the
    * DISTINCT-FREQUENCY frame (O(max count) rows — tiny at any corpus
    * size): terms with equal count occupy a closed-form global rank run
    * [rank_lo, rank_hi] (cumulated term counts over the descending
    * frequency order), so the Zipf law's freq×rank ≈ const check needs no
    * per-term rank at all — no giant-tie window, no one-task sort. */
  def q161ZipfProfile(t: Tables): DataFrame = {
    val terms = t.documents
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val byCount = terms.groupBy("c")
      .agg(count(lit(1)).as("n_terms"), min(col("w")).as("sample_term"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("c").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byCount
      .withColumn("rank_lo", coalesce(sum(col("n_terms")).over(wDesc), lit(0L)) + 1)
      .withColumn("rank_hi", col("rank_lo") + col("n_terms") - 1)
      .select(col("c"), col("n_terms"), col("rank_lo"), col("rank_hi"),
        (col("c") * col("rank_lo")).as("zipf_lo"),
        (col("c") * col("rank_hi")).as("zipf_hi"),
        col("sample_term"))
      .orderBy(col("c").desc)
  }
}
