package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * C139: frequent-pair ASSOCIATION RULES — classic market-basket mining
 * (Agrawal & Srikant 1994's support/confidence frame plus lift), the
 * directional upgrade over the co-occurrence EDGES the graph suite
 * consumes: an edge says "bought together", a rule says "x ⇒ y with
 * this confidence, lifting y's base rate this much" — the form a
 * recommendation or curation policy actually reads.
 *
 * Everything exact integer: support in ppm of baskets, confidence in
 * ppm of the antecedent's baskets, lift in per-mille as
 * `1000·pair·N div (ante·cons)` with the triple product in
 * DECIMAL(38,0) (pair·N alone can pass int64 at warehouse scale).
 *
 * Scale shape: baskets dedup to (basket, item); the APRIORI property
 * prunes items below min support BEFORE the pair join (the only
 * quadratic-risk step, and its expansion is bounded by the pruned
 * per-basket degree); pair counts shuffle on the item pair; the rule
 * expansion is pair-frame-sized. Never all-pairs over items that
 * cannot reach min support.
 *
 * GROUP CAP (enforced — [[Pairs.capGroups]], the B54/butterflies
 * contract): apriori pruning bounds the expansion by the FREQUENT
 * per-group degree, which a mega-basket of popular items defeats —
 * so baskets/sessions with more than `maxBasketSize`/`maxSessionSize`
 * distinct items are refused whole (a transaction that large is noise,
 * not affinity signal) and the exact refusal rides the output as the
 * constant ledger columns (`n_baskets_capped`/`n_sessions_capped`,
 * `n_pairs_dropped` = Σ s·(s−1) directed candidates). A zero ledger
 * certifies exact counts.
 */
object Associations {

  /** Frequent-pair rules at `minSupport` basket count and `minConfPm`
    * confidence, both directions of every surviving pair.
    * @param baskets (basket, item) rows; duplicates ignored.
    * @return (antecedent, consequent, pair_n, ante_n, cons_n,
    *         support_ppm, conf_ppm, lift_pm, n_baskets_capped,
    *         n_pairs_dropped). */
  def pairRules(baskets: DataFrame, basketCol: String, itemCol: String,
                minSupport: Long = 2L, minConfPm: Long = 0L,
                maxBasketSize: Long = 1024L): DataFrame = {
    require(minSupport >= 1 && minConfPm >= 0 && minConfPm <= 1000000)
    val b0 = baskets.select(col(basketCol).as("basket"), col(itemCol).as("item")).distinct()
      .persist() // size frame + semi-join below
    val (kept, ledger) = Pairs.capGroups(b0, "basket", maxBasketSize)
    val b = kept.persist() // three references: N, item counts, pair join
    val n = b.agg(countDistinct("basket").as("n_baskets"))
    val itemCnt = b.groupBy("item").agg(count(lit(1)).as("cnt"))
    // apriori: a pair cannot reach minSupport unless both items do
    val frequent = itemCnt.filter(col("cnt") >= minSupport)
    val fb = b.join(frequent.select("item"), Seq("item"), "left_semi")
    val pairs = fb.as("x").join(fb.as("y"),
        col("x.basket") === col("y.basket") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("ia"), col("y.item").as("ib"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSupport)
    // both rule directions in ONE pass over the pair expansion (the
    // union form evaluated the basket self-join once per branch)
    val rules = pairs.select(explode(array(
        struct(col("ia").as("antecedent"), col("ib").as("consequent"), col("pair_n")),
        struct(col("ib").as("antecedent"), col("ia").as("consequent"), col("pair_n")))).as("__r"))
      .select(col("__r.antecedent").as("antecedent"),
        col("__r.consequent").as("consequent"), col("__r.pair_n").as("pair_n"))
    rules
      .join(frequent.select(col("item").as("antecedent"), col("cnt").as("ante_n")), "antecedent")
      .join(frequent.select(col("item").as("consequent"), col("cnt").as("cons_n")), "consequent")
      .crossJoin(broadcast(n))
      .withColumn("support_ppm", expr("1000000 * pair_n div n_baskets"))
      .withColumn("conf_ppm", expr("1000000 * pair_n div ante_n"))
      .withColumn("lift_pm", expr(
        "CAST(CAST(1000 AS DECIMAL(38,0)) * pair_n * n_baskets div " +
          "(CAST(ante_n AS DECIMAL(38,0)) * cons_n) AS BIGINT)"))
      .filter(col("conf_ppm") >= minConfPm)
      .crossJoin(broadcast(ledger))
      .select(col("antecedent"), col("consequent"), col("pair_n"),
        col("ante_n"), col("cons_n"), col("support_ppm"), col("conf_ppm"),
        col("lift_pm"), col("n_groups_capped").as("n_baskets_capped"),
        col("pairs_dropped_dec").cast("long").as("n_pairs_dropped"))
  }

  /** C146: SEQUENTIAL association rules — the TEMPORAL upgrade over
    * [[pairRules]] (a basket rule says "together"; a sequence rule says
    * "a, THEN b" — the form funnel design and next-action models read):
    * within each session, the ordered pair a→b holds iff SOME occurrence
    * of a strictly precedes SOME occurrence of b (min_ts(a) < max_ts(b)
    * — one min/max aggregate per (session, item), never an event-pair
    * join), counted once per session. Direction matters: a→b and b→a
    * are different rules with different counts.
    *
    * Exact integers, same vocabulary as [[pairRules]]: support ppm of
    * sessions, confidence ppm of the antecedent's sessions, lift
    * per-mille with the triple product in DECIMAL(38,0).
    *
    * Scale shape: one scan → the (session, item, min_ts, max_ts) frame;
    * APRIORI pruning before the within-session pair join (bounded by
    * the pruned per-session distinct-item degree); pair counts shuffle
    * on the ordered item pair.
    *
    * @param events (session, item, ts) rows — ts integer.
    * @return (antecedent, consequent, pair_n, ante_n, cons_n,
    *         support_ppm, conf_ppm, lift_pm, n_sessions_capped,
    *         n_pairs_dropped). */
  def sequenceRules(events: DataFrame, sessionCol: String, itemCol: String,
                    tsCol: String, minSupport: Long = 2L,
                    maxSessionSize: Long = 1024L): DataFrame = {
    require(minSupport >= 1)
    // evaluated ONCE: the (session, item) frame is referenced four times
    // (total, item counts, both join sides) and its upstream is the
    // caller's sessionize window over the raw event stream — without the
    // cut, every reference re-runs that window (measured 2.7x over
    // linear at 16x corpus in the scale probe). LAZY persist, not an
    // eager localCheckpoint (ADVICE r10): building the plan must not
    // launch a job if the result is never acted on, and a persisted
    // lineage survives executor loss — unlike Rank.scala's iterative
    // chains, there is no growing-lineage problem here that would justify
    // truncation. Nothing unpersists it: the session's CacheManager keeps
    // the entry until `unpersist` (the ContextCleaner does not reclaim
    // it), and a later call with the same plan reads it.
    val si0 = events.select(col(sessionCol).as("session"), col(itemCol).as("item"),
        col(tsCol).cast("long").as("ts"))
      .groupBy("session", "item")
      .agg(min("ts").as("t_min"), max("ts").as("t_max"))
      .persist()
    val (kept, ledger) = Pairs.capGroups(si0, "session", maxSessionSize)
    val si = kept.persist() // four references below
    val n = si.agg(countDistinct("session").as("n_sessions"))
    val itemCnt = si.groupBy("item").agg(count(lit(1)).as("cnt"))
    val frequent = itemCnt.filter(col("cnt") >= minSupport)
    val fs = si.join(frequent.select("item"), Seq("item"), "left_semi")
    val pairs = fs.as("a").join(fs.as("b"),
        col("a.session") === col("b.session") &&
          col("a.item") =!= col("b.item") &&
          col("a.t_min") < col("b.t_max"))
      .groupBy(col("a.item").as("antecedent"), col("b.item").as("consequent"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSupport)
    pairs
      .join(frequent.select(col("item").as("antecedent"), col("cnt").as("ante_n")), "antecedent")
      .join(frequent.select(col("item").as("consequent"), col("cnt").as("cons_n")), "consequent")
      .crossJoin(broadcast(n))
      .withColumn("support_ppm", expr("1000000 * pair_n div n_sessions"))
      .withColumn("conf_ppm", expr("1000000 * pair_n div ante_n"))
      .withColumn("lift_pm", expr(
        "CAST(CAST(1000 AS DECIMAL(38,0)) * pair_n * n_sessions div " +
          "(CAST(ante_n AS DECIMAL(38,0)) * cons_n) AS BIGINT)"))
      .crossJoin(broadcast(ledger))
      .select(col("antecedent"), col("consequent"), col("pair_n"),
        col("ante_n"), col("cons_n"), col("support_ppm"), col("conf_ppm"),
        col("lift_pm"), col("n_groups_capped").as("n_sessions_capped"),
        col("pairs_dropped_dec").cast("long").as("n_pairs_dropped"))
  }
}
