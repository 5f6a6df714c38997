package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skip-gram co-occurrence counting — the (center, context) pair tensor
  * word2vec/GloVe-style embedding training consumes, and the raw input
  * to any association statistic (PMI's counts, [[FeatureSelect]]'s
  * cells) over token neighborhoods.
  *
  * Scale shape — the join is NEVER keyed by document alone: a doc-keyed
  * self-join fans out L² pairs for an L-token document (the long-doc
  * quadratic trap). Instead each token emits `window` PROBES at
  * positions pos+1..pos+window, and probes equi-join tokens on exact
  * (doc, pos) — fan-out is a hard 2·window per token regardless of
  * document length. Each matched (left, right) pair yields both
  * directions row-local (no second join); the count aggregate is
  * map-side combinable with state bounded by the distinct-pair
  * vocabulary. Top-k is TakeOrderedAndProject.
  *
  * Determinism: counts are exact BIGINTs; the top-k boundary orders by
  * (count DESC, center, context) so ties cut identically everywhere.
  */
object Cooccur {

  /** Directional co-occurrence counts within ±`window` token positions.
    *
    * @param docs    corpus
    * @param idCol   document id column name
    * @param textCol text column name (house whitespace tokenization)
    * @param window  max |position difference| (≥ 1)
    * @param minCount pairs below this count are dropped (the vocabulary
    *                 floor every embedding trainer applies)
    * @param topK    pairs kept, by (cnt DESC, center, context)
    * @return (center, context, cnt)
    */
  /** Co-engagement pair counts over a bipartite (actor, item) table —
    * "which items share audiences": for each unordered item pair, how
    * many DISTINCT actors touched both. The item-item similarity input
    * for source-correlation analysis and co-click-style curation.
    *
    * Scale discipline — the hub problem: a per-actor self-join fans out
    * d² pairs for a degree-d actor, and power-law actors (crawlers,
    * bots) dominate the stage. So actors are DEGREE-CAPPED first: the
    * distinct (actor, item) projection is aggregated to per-actor item
    * counts (one combinable pass), actors above `maxDegree` are DROPPED
    * (standard co-occurrence practice — a hub's co-engagement signal is
    * noise anyway; the drop is explicit, not sampled), and only then do
    * surviving actors self-join, bounding fan-out at maxDegree² per
    * actor. Output is each pair once (a < b) with its distinct-actor
    * count.
    *
    * @return (item_a, item_b, n_actors)
    */
  def coEngagementPairs(df: DataFrame, actorCol: String, itemCol: String,
                        maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, "need maxDegree >= 2 to form any pair")
    val ai = df.select(col(actorCol).as("__actor"), col(itemCol).as("__item"))
      .distinct()
    val ok = ai.groupBy("__actor")
      .agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxDegree)
      .select("__actor")
    // Baskets are collected only for CAPPED actors, so per-group
    // aggregation state is <= maxDegree items (collect before the cap
    // would hold a hub's whole history). Pairs then explode MAP-SIDE
    // from each small basket — the engagement table is never self-
    // joined, so it is not shuffled twice; the one remaining
    // aggregation shuffle is the pair stream itself, which is the
    // operator's output-bound cost.
    ai.join(ok, "__actor")
      .groupBy("__actor")
      .agg(collect_list(col("__item")).as("__items"))
      .select(explode(col("__items")).as("__a"), col("__items"))
      .select(col("__a"), explode(col("__items")).as("__b"))
      .filter(col("__a") < col("__b"))
      .groupBy(col("__a").as("item_a"), col("__b").as("item_b"))
      .agg(count(lit(1)).as("n_actors"))
  }

  /** LINK-PREDICTION scores over the actor–item bipartite graph: for
    * item pairs sharing ≥ 1 actor, the four classic predictors —
    * common neighbours (CN), RESOURCE-ALLOCATION index (Σ 1/deg(z) over
    * shared actors z — Zhou et al. 2009, the strongest of the simple
    * local scores), neighbour Jaccard, and preferential attachment
    * (deg·deg). "Parts that share low-degree orders probably belong
    * together" — the candidate ranker for recommendations and
    * record-linkage alike.
    *
    * Exactness: RA's reciprocals use the fixed-point MRR discipline —
    * each shared actor contributes `10⁹ DIV deg(actor)` to an exact
    * BIGINT sum (no float accumulation); CN/PA/Jaccard are BIGINTs with
    * one division. Degrees are TRUE degrees over the full engagement
    * table; only pair GENERATION is degree-capped ([[coEngagementPairs]]'
    * hub guard — an uncapped hub generates deg² candidates, and its
    * pairs carry negligible RA mass by construction).
    *
    * @return top-`topK` by (ra_fp DESC, item_a, item_b): (item_a,
    *         item_b, cn, ra_fp, deg_a, deg_b, jaccard, pa). NOTE: `cn`
    *         counts shared actors over the DEGREE-CAPPED actor set (the
    *         RA hub guard above) while deg_a/deg_b are uncapped true
    *         degrees, so `jaccard` = cn/(deg_a+deg_b−cn) inherits the
    *         cap and UNDERSTATES exact Jaccard for pairs whose shared
    *         actors are hubs — by design (hub co-engagement carries
    *         negligible evidence); compute from uncapped baskets if
    *         exact set Jaccard is required.
    */
  def linkPredictionScores(df: DataFrame, actorCol: String, itemCol: String,
                           maxDegree: Int, topK: Int): DataFrame = {
    require(maxDegree >= 2, "need maxDegree >= 2 to form any pair")
    require(topK > 0)
    // three consumers (both degree tables + the capped baskets) — track
    // the distinct engagement table so the dedup shuffle runs once
    val ai = CacheScope.track(
      df.select(col(actorCol).as("__actor"), col(itemCol).as("__item"))
        .distinct())
    val actorDeg = ai.groupBy("__actor").agg(count(lit(1)).as("__adeg"))
    val itemDeg = ai.groupBy("__item").agg(count(lit(1)).as("__ideg"))
    val capped = ai.join(actorDeg, "__actor")
      .filter(col("__adeg") <= maxDegree)
      .groupBy("__actor", "__adeg")
      .agg(collect_list(col("__item")).as("__items"))
    val pairs = capped
      .select(col("__adeg"), explode(col("__items")).as("__a"),
        col("__items"))
      .select(col("__adeg"), col("__a"), explode(col("__items")).as("__b"))
      .filter(col("__a") < col("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000000 DIV __adeg")).as("ra_fp"))
    pairs
      .join(itemDeg.select(col("__item").as("__a"),
        col("__ideg").as("deg_a")), "__a")
      .join(itemDeg.select(col("__item").as("__b"),
        col("__ideg").as("deg_b")), "__b")
      .select(col("__a").as("item_a"), col("__b").as("item_b"), col("cn"),
        col("ra_fp"), col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
          .as("jaccard"),
        (col("deg_a") * col("deg_b")).as("pa"))
      .orderBy(desc("ra_fp"), col("item_a"), col("item_b"))
      .limit(topK)
  }

  def skipgramPairs(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, minCount: Long, topK: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(topK > 0, "topK must be positive")
    val toks = docs
      .select(col(idCol).as("__d"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p", "__w")))
    val probes = toks.select(col("__d"), col("__w").as("__lw"),
      explode(sequence(col("__p") + 1, col("__p") + window)).as("__p"))
    val pairs = probes.join(toks, Seq("__d", "__p"))
      .select(col("__lw"), col("__w").as("__rw"))
    val directional = pairs.select(col("__lw").as("center"), col("__rw").as("context"))
      .unionAll(pairs.select(col("__rw").as("center"), col("__lw").as("context")))
    directional.groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(desc("cnt"), col("center"), col("context"))
      .limit(topK)
  }

  /** Collocation mining over ADJACENT bigrams by exact rational LIFT —
    * the word2vec phrase-detection score (Mikolov et al. 2013, "New York"
    * → "New_York") without its floats: for an ordered adjacent pair
    * (a, b),
    *
    *   lift = (c_ab − discount) · n / (c_a · c_b)
    *
    * with every factor an exact BIGINT (n = corpus token count), so the
    * numerator/denominator columns hash-gate and the double is one
    * division. `discount` is the standard rare-pair penalty (δ
    * occurrences subtracted before scoring); lift > 1 ⇔ the pair
    * co-occurs more than independence predicts — PMI's argument, no log
    * needed for RANKING since log is monotone.
    *
    * Scale shape: the bigram join probes (doc, pos+1) — exact-position
    * equi-join, fan-out 1 per token, never a doc-keyed self-join; both
    * count tables are map-side-combinable histograms; the unigram join
    * back is keyed by token (vocab-bounded, hot stopword keys fan out
    * 1:1). Overflow: c_ab·n ≤ n² needs n < ~3e9 tokens per partition-
    * able corpus slice; score per source/shard beyond that.
    *
    * @return top-`topK` by (lift DESC, w1, w2):
    *         (w1, w2, c_ab, c_a, c_b, n, lift_num, lift_den, lift)
    */
  def bigramLift(docs: DataFrame, idCol: String, textCol: String,
                 discount: Long, minCount: Long, topK: Int): DataFrame = {
    require(discount >= 0 && minCount > discount,
      "need minCount > discount >= 0 (scores must stay positive)")
    require(topK > 0)
    val toks = docs
      .select(col(idCol).as("__d"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p", "__w")))
    val pairs = toks
      .select(col("__d"), (col("__p") + 1).as("__p"), col("__w").as("__a"))
      .join(toks, Seq("__d", "__p"))
      .select(col("__a"), col("__w").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uni = toks.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val n = toks.agg(count(lit(1)).as("n"))
    pairs
      .join(uni.select(col("__w").as("__a"), col("__c").as("c_a")), "__a")
      .join(uni.select(col("__w").as("__b"), col("__c").as("c_b")), "__b")
      .crossJoin(broadcast(n))
      .withColumn("lift_num", (col("c_ab") - discount) * col("n"))
      .withColumn("lift_den", col("c_a") * col("c_b"))
      .withColumn("lift",
        col("lift_num").cast("double") / col("lift_den").cast("double"))
      .select(col("__a").as("w1"), col("__b").as("w2"), col("c_ab"),
        col("c_a"), col("c_b"), col("n"), col("lift_num"), col("lift_den"),
        col("lift"))
      .orderBy(desc("lift"), col("w1"), col("w2"))
      .limit(topK)
  }

  /** ASSOCIATION RULES over token baskets (Apriori's level-2 output):
    * each document is a basket of its DISTINCT tokens; for frequent
    * token pairs, emit support, both directed confidences, and lift —
    * "docs containing A also contain B" with the numbers attached. The
    * SET-cooccurrence complement to [[bigramLift]]'s adjacency scores:
    * a pair can associate strongly while never touching.
    *
    * Scale discipline — the two Apriori prunes, applied where they keep
    * the plan sub-quadratic:
    *   - level-1: tokens below `minDf` baskets leave before any pair
    *     forms (the frequent-item prune; basket width after the prune is
    *     the fan-out bound — set minDf so the surviving vocabulary is
    *     small, it IS the contract);
    *   - level-2: pair counts below `minPair` drop before the metric
    *     arithmetic.
    * Counts are BIGINT; support/confidence/lift are one division each
    * from exact integers; ties order by (a, b) so top-k is
    * engine-stable.
    *
    * @return top-`topK` rows by lift: (a, b, n_docs, c_a, c_b, c_ab,
    *         support, conf_a_b, conf_b_a, lift) with a < b
    */
  def assocRules(docs: DataFrame, idCol: String, textCol: String,
                 minDf: Long, minPair: Long, topK: Int): DataFrame = {
    require(minDf >= 1 && minPair >= 1 && topK > 0, "degenerate config")
    val items = docs
      .select(col(idCol).as("__d"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol))))
          .as("__t"))
    val freq = items.groupBy("__t").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
    val basket = items.join(broadcast(freq), "__t")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val a = basket.select(col("__d"), col("__t").as("a"),
      col("__df").as("c_a"))
    val b = basket.select(col("__d"), col("__t").as("b"),
      col("__df").as("c_b"))
    a.join(b, "__d").filter(col("a") < col("b"))
      .groupBy("a", "b", "c_a", "c_b")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPair)
      .crossJoin(broadcast(nDocs))
      .select(col("a"), col("b"), col("n_docs"), col("c_a"), col("c_b"),
        col("c_ab"),
        (col("c_ab").cast("double") / col("n_docs").cast("double"))
          .as("support"),
        (col("c_ab").cast("double") / col("c_a").cast("double"))
          .as("conf_a_b"),
        (col("c_ab").cast("double") / col("c_b").cast("double"))
          .as("conf_b_a"),
        ((col("c_ab") * col("n_docs")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(desc("lift"), col("a"), col("b"))
      .limit(topK)
  }
}
